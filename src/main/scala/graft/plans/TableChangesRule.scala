package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{SourcePaths, VtAddress}
import graft.vt.{CommitGraph, VersionedTable}

/** Delta's CDF SQL surface as a registered TABLE-VALUED FUNCTION:
  *
  * {{{
  *   SELECT * FROM table_changes('[branch@]path', startVersion[, endVersion])
  * }}}
  *
  * resolves into [[VersionedTable.tableChanges]]'s plan (per-commit row
  * deltas with `_change_type` / `_commit_version` / `_commit_timestamp`,
  * both version bounds inclusive; `endVersion` defaults to the branch
  * head). Registered by [[graft.functions.GraftExtensions]] via
  * `injectTableFunction` — the same analyzer door Spark's built-in `range`
  * TVF uses, so name resolution, error positions, and aliasing behave like
  * any other FROM-clause function. Sessions without the extension call the
  * engine door directly.
  *
  * Arguments must be literals (a version read from a column would make the
  * scanned interval data-dependent — no sound plan exists); anything else
  * refuses with the expected shape in the message.
  */
object TableChanges {

  private def str(e: Expression): Option[String] = e match {
    case Literal(s: UTF8String, StringType) => Some(s.toString)
    case _ => None
  }

  private def lng(e: Expression): Option[Long] = e match {
    case Literal(v: Int, IntegerType) => Some(v.toLong)
    case Literal(v: Long, LongType) => Some(v)
    case _ => None
  }

  /** The `Seq[Expression] => LogicalPlan` builder handed to
    * `injectTableFunction`. Runs on the ACTIVE session at analysis time —
    * the metadata walk is O(interval) commit reads; the returned plan is
    * the engine's analyzed CDF frame.
    *
    * Bound arguments follow Delta's typing rule: an INTEGER literal is a
    * commit version; a STRING literal is a TIMESTAMP (epoch millis, ISO
    * instant, or session-zone date-time — the reader-option shapes). A
    * start timestamp resolves to the first version at-or-after it, an end
    * timestamp to the newest at-or-before it (Delta's
    * startingTimestamp/endingTimestamp semantics). */
  def plan(args: Seq[Expression]): LogicalPlan = {
    def usage = "table_changes('[branch@]path', start[, end]) with literal " +
      "arguments — integers are versions, strings are timestamps"
    val (addr, startE, endE) = args match {
      case Seq(a, s) => (str(a), s, None)
      case Seq(a, s, e) => (str(a), s, Some(e))
      case _ => throw new IllegalArgumentException(
        s"table_changes takes 2 or 3 arguments — $usage")
    }
    val (branch, path) = VtAddress.split(addr.getOrElse(
      throw new IllegalArgumentException(s"table_changes: first argument " +
        s"must be a string literal table path — $usage")))
    val spark = SparkSession.active
    val local = SourcePaths.local(path)
    // ONE SQL surface over both table kinds: a path that is not a
    // versioned-table root but carries a `_delta_log` serves the FOREIGN
    // Delta change feed through the log replayer (same Delta column
    // contract). Native markers win — a vt table with an exported log
    // stays on the native feed.
    locally {
      val root = java.nio.file.Paths.get(local)
      if (!CommitGraph.isTableRoot(root) &&
          java.nio.file.Files.isDirectory(root.resolve("_delta_log"))) {
        require(branch == "main",
          "foreign Delta tables have no branches — drop the 'branch@' prefix")
        return foreignDeltaPlan(spark, local, startE, endE, usage)
      }
    }
    val vt = VersionedTable.open(local)
    // r20: a string bound that names an EXISTING TAG resolves to the tagged
    // commit's version (matching the RESTORE TO TAG verb) — tags are
    // explicit user-created names, so they take precedence over the
    // timestamp reading; anything else parses as a timestamp as before.
    lazy val tagNames = vt.tags.map(_._1).toSet
    def bound(e: Expression, isStart: Boolean): Long =
      lng(e).orElse(str(e).map { ts =>
        if (tagNames.contains(ts)) {
          // tags pin commits branch-agnostically — a tag on ANOTHER branch
          // must not silently misread as a version number on this one
          val tagged = vt.tagCommit(ts)
          require(vt.lineage(branch).exists(_.id == tagged.id),
            s"table_changes: tag '$ts' pins commit ${tagged.id}, which is " +
              s"not on branch '$branch' — address the tag's own branch")
          tagged.version
        } else {
          val millis = SourcePaths.parseTimestamp(spark, ts)
          if (isStart) vt.firstVersionAtOrAfter(branch, millis)
          else vt.versionAtOrBefore(branch, millis)
        }
      }).getOrElse(throw new IllegalArgumentException(
        s"table_changes: ${if (isStart) "start" else "end"} must be an " +
          s"integer (version), tag name, or timestamp string literal — $usage"))
    val s0 = bound(startE, isStart = true)
    val e0 = endE match {
      case None => vt.head(branch).map(_.version).getOrElse(
        throw new IllegalArgumentException(s"no such branch: $branch"))
      case Some(e) => bound(e, isStart = false)
    }
    vt.tableChanges(spark, branch, s0, e0).queryExecution.analyzed
  }

  /** `table_changes` over a FOREIGN `_delta_log`: version bounds route to
    * [[graft.vt.DeltaLogReader.changes]] (cdc actions win, add/remove
    * commits derive — the reader's documented contract), timestamp bounds
    * to [[graft.vt.DeltaLogReader.changesByTimestamp]] (Delta's
    * startingTimestamp/endingTimestamp rules over the log's adjusted
    * clock). Bounds must agree in kind — the two resolution clocks differ
    * (commit-log millis vs the log's strictly-increasing adjusted
    * sequence), so a mixed pair has no one sound reading. */
  private def foreignDeltaPlan(spark: SparkSession, local: String,
                               startE: Expression, endE: Option[Expression],
                               usage: String): LogicalPlan = {
    import graft.vt.DeltaLogReader
    (lng(startE), str(startE)) match {
      case (Some(s), _) =>
        val e = endE match {
          case None => DeltaLogReader.latestVersion(local)
          case Some(x) => lng(x).getOrElse(throw new IllegalArgumentException(
            "table_changes on a Delta table: bounds must agree in kind " +
              s"(both versions or both timestamps) — $usage"))
        }
        DeltaLogReader.changes(spark, local, s, e).queryExecution.analyzed
      case (None, Some(ts)) =>
        val from = SourcePaths.parseTimestamp(spark, ts)
        val to = endE match {
          case None => System.currentTimeMillis()
          case Some(x) => str(x).map(SourcePaths.parseTimestamp(spark, _))
            .getOrElse(throw new IllegalArgumentException(
              "table_changes on a Delta table: bounds must agree in kind " +
                s"(both versions or both timestamps) — $usage"))
        }
        DeltaLogReader.changesByTimestamp(spark, local, from, to)
          .queryExecution.analyzed
      case _ => throw new IllegalArgumentException(
        s"table_changes: start must be an integer (version) or string " +
          s"(timestamp) literal — $usage")
    }
  }
}

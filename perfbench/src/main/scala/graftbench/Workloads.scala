package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{Registry, Tables}
import graft.vt.{Commit, LocalFsMetaStore, MergeClause, Repo, S3SimMetaStore, VersionedTable}

/** One workload: how its lake is staged, what one round does, and what is
  * read back after the rounds for the independent checks. Every round issues
  * the same fixed list of operations. */
trait Workload {
  def stage(root: Path): Unit
  def round(i: Int): Unit
  def finish(out: Path): Unit
}

object Workload {
  def apply(name: String, b: Bench): Workload = name match {
    case "vdt_jobs" => new VdtJobs(b)
    case "row_dml" => new RowDml(b)
    case "lake_history" => new LakeHistory(b)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** The reference's four batch jobs over the raw zone. Each round writes the
  * four results to the `jobs` branch of a repo, commits once, merges into
  * `main` and vacuums, so the lake returns to the same shape every round. */
final class VdtJobs(b: Bench) extends Workload {
  private val jobs = Seq("q_vdt1", "q_vdt2", "q_vdt3", "q_vdt4")
  private val raw = b.inputs.toString
  private var repo: Repo = _

  def stage(root: Path): Unit = {
    val store = new CountingStore(LocalFsMetaStore, b.tracer)
    b.store = Some(store)
    repo = Repo.create(root.resolve("repo").toString, store)
    Seq("customer", "orders", "lineitem").foreach(t =>
      repo.stageWrite(Tables.t(b.spark, raw, t), "main", t))
    repo.commit("main", "raw zone")
    repo.createBranch("jobs", "main")
  }

  def round(i: Int): Unit = {
    jobs.foreach { q =>
      b.op(s"ops.$q")(repo.stageWrite(Registry.byName(q).impl(b.spark, raw), "jobs", q))
    }
    b.op("vt.commit")(repo.commit("jobs", s"round $i results"))
    b.op("vt.merge")(repo.merge("jobs", "main"))
    b.op("vt.vacuum")(repo.vacuum(retainLast = 1))
  }

  def finish(out: Path): Unit = {
    val oracle = b.obs.putObject("oracle_sql")
    jobs.foreach { q =>
      oracle.put(q, Registry.byName(q).oracle.get)
      repo.readTable(b.spark, "main", q).coalesce(1).write.parquet(out.resolve(q).toString)
    }
  }
}

/** Seeded row-level DML on a fresh branch of a fixed base table each round,
  * followed by reads of the result; the previous round's branch is dropped
  * and vacuumed so the lake keeps one shape. */
final class RowDml(b: Bench) extends Workload {
  private val p = b.param("row_dml")
  private val key = Seq("l_orderkey", "l_linenumber")
  private var vt: VersionedTable = _
  private val rounds = b.obs.putArray("rounds")

  private def input(name: String): DataFrame = Tables.t(b.spark, b.inputs.toString, name)

  def stage(root: Path): Unit = {
    val store = new CountingStore(LocalFsMetaStore, b.tracer)
    b.store = Some(store)
    vt = VersionedTable.create(root.resolve("table").toString, store)
    vt.write(input("base").repartitionByRange(p.get("files").asInt, col("l_orderkey")),
      "main", "base", statsCols = Seq("l_orderkey", "l_key"))
  }

  private val sums = Seq("count(*) AS n", "CAST(coalesce(sum(l_quantity), 0) AS BIGINT) AS qty",
    "coalesce(sum(CAST(round(l_extendedprice * 100) AS BIGINT)), 0) AS cents",
    "coalesce(sum(l_orderkey), 0) AS okeys")

  private def record(o: ObjectNode, name: String, r: Option[org.apache.spark.sql.Row]): Unit =
    r.foreach { row =>
      val n = o.putObject(name)
      Seq("n", "qty", "cents", "okeys").zipWithIndex.foreach { case (k, j) => n.put(k, row.getLong(j)) }
    }

  def round(i: Int): Unit = {
    val br = s"r$i"
    val o = rounds.addObject()
    o.put("round", i)
    b.op("vt.branch") {
      vt.createBranch(br, "main")
      if (i > 0) vt.deleteBranch(s"r${i - 1}")
    }
    val cdc = b.op("vt.upsert")(vt.applyCdc(b.spark, input("cdc_upserts"), Some(input("cdc_deletes")), key, br))
    b.op("vt.merge_into") {
      val src = input("merge_src")
      vt.mergeInto(b.spark, src, "t.l_key = s.l_key",
        matched = Seq(MergeClause.update(Map("l_quantity" -> "s.l_quantity", "l_discount" -> "s.l_discount"))),
        notMatched = Seq(MergeClause.insert(src.columns.map(c => c -> s"s.$c").toMap)),
        branch = br)
    }
    b.op("vt.delete")(vt.delete(b.spark, p.get("delete_where").asText, br))
    b.op("vt.delete_dv")(vt.deleteWithVectors(b.spark, p.get("dv_where").asText, br))
    b.op("vt.update")(vt.update(b.spark, p.get("update_where").asText,
      p.get("update_set").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap, br))
    val (lo, hi) = (p.get("band").get(0).asDouble, p.get("band").get(1).asDouble)
    record(o, "band", b.op("vt.read_where") {
      val h = vt.head(br).get
      b.aggRead(vt.readWhere(b.spark, br, "l_orderkey", lo, hi), h.files.size, sums: _*)
    })
    record(o, "mor", b.op("vt.read_mor") {
      val h = vt.head(br).get
      b.aggRead(vt.read(b.spark, br), h.files.size, sums: _*)
    })
    b.op("vt.count_rows")(vt.countRows(b.spark, br)).foreach(o.put("count_rows", _))
    // time travel back to the version the upsert committed
    cdc.foreach(c => o.put("upsert_version", c.version))
    val old = b.op("vt.resolve")(vt.resolveRead(br, versionAsOf = cdc.map(_.version)))
    record(o, "after_upsert", old.flatMap(c =>
      b.op("vt.read_version")(b.aggRead(vt.readCommit(b.spark, c), c.files.size, sums: _*))))
    b.op("vt.diff")(vt.diffFiles(br, "main")).foreach { d =>
      val added = d.collect { case (f, "added") => f }
      o.put("diff_added", added.size)
      o.put("diff_added_preexisting",
        added.count(f => b.filesAtRoundStart(vt.root.resolve(f).toString)))
      o.put("diff_removed", d.count(_._2 == "removed"))
    }
    b.op("vt.history")(vt.history(b.spark, br).count()).foreach(o.put("history", _))
    b.op("vt.vacuum")(vt.vacuum(retainLast = 1))
  }

  def finish(out: Path): Unit = ()
}

/** A table on the S3 simulator with a long history of small appends. Each
  * round works on a branch cut from `main`: tiny appends, time travel at
  * seeded versions and timestamps with point reads, branch/tag/diff/merge/
  * history, then both round branches are dropped and vacuumed. */
final class LakeHistory(b: Bench) extends Workload {
  private val p = b.param("lake_history")
  private val commits = p.get("commits").asInt
  private val filesPerCommit = p.get("files_per_commit").asInt
  private val rowsPerCommit = p.get("rows_per_commit").asLong
  private val appends = p.get("appends_per_round").asInt
  private val ttReads = p.get("tt_reads").asInt
  private val roundRows = p.get("round_rows").asLong
  private var vt: VersionedTable = _
  private val rounds = b.obs.putArray("rounds")

  /** Rows `[start, start + n)`; the same expressions define them in the checks. */
  private def rows(start: Long, n: Long, files: Int): DataFrame =
    b.spark.range(start, start + n, 1, files).selectExpr("id", "CAST(id % 16 AS INT) AS grp",
      "(id * 7) % 1000 AS val", "concat('p', CAST(id % 97 AS STRING)) AS payload")

  private def append(br: String, start: Long, n: Long, files: Int): Commit =
    vt.write(rows(start, n, files), br, s"append $start", mode = "append", statsCols = Seq("id"))

  /** First id of round `i`'s `k`-th append: far above the staged history. */
  private def roundStart(i: Int, k: Int): Long = (1L << 40) + i.toLong * 1000000L + k * roundRows

  def stage(root: Path): Unit = {
    val store = new CountingStore(new S3SimMetaStore(root.resolve("bucket")), b.tracer)
    b.store = Some(store)
    vt = VersionedTable.create(root.resolve("table").toString, store)
    val ts = b.obs.putArray("commit_ts")
    (0 until commits).foreach { j =>
      ts.add(append("main", j * rowsPerCommit, rowsPerCommit, filesPerCommit).ts)
    }
  }

  private def newFiles(c: Option[Commit], parent: Option[Commit]): Seq[String] =
    c.map(_.files.toSet -- parent.map(_.files).getOrElse(Vector.empty)).getOrElse(Set.empty).toSeq.sorted

  private def putList(o: ObjectNode, name: String, xs: Seq[String]): Unit = {
    val a = o.putArray(name); xs.foreach(a.add)
  }

  def round(i: Int): Unit = {
    val rng = new java.util.Random(b.seed * 1000003L + i)
    val (wb, mb, tag) = (s"w$i", s"m$i", s"t$i")
    val o = rounds.addObject()
    o.put("round", i)
    val tsOf = b.obs.get("commit_ts")
    b.op("vt.branch")(vt.createBranch(wb, "main"))
    (0 until appends).foreach(k => b.op("vt.write")(append(wb, roundStart(i, k), roundRows, 1)))
    val reads = o.putArray("reads")
    (0 until 2 * ttReads).foreach { k =>
      val byTs = k >= ttReads
      val v = rng.nextInt(commits)
      val n = reads.addObject()
      n.put("asked", v); n.put("by_ts", byTs)
      val c = b.op("vt.resolve") {
        if (byTs) vt.resolveRead("main", timestampAsOf = Some(tsOf.get(v).asLong))
        else vt.resolveRead("main", versionAsOf = Some(v.toLong))
      }
      c.foreach { c =>
        n.put("version", c.version)
        b.op("vt.read_version")(b.aggRead(vt.readCommit(b.spark, c), c.files.size,
          "count(*)", "coalesce(sum(id), 0)")).foreach { r =>
          n.put("n", r.getLong(0)); n.put("sum_id", r.getLong(1))
        }
      }
      val point = (rng.nextDouble() * (v + 1) * rowsPerCommit).toLong
      n.put("point", point)
      b.op("vt.read_where") {
        val h = vt.head("main").get
        b.aggRead(vt.readWhere(b.spark, "main", "id", point.toDouble, point.toDouble),
          h.files.size, "count(*)", "coalesce(sum(id), 0)")
      }.foreach { r => n.put("point_n", r.getLong(0)); n.put("point_sum", r.getLong(1)) }
    }
    b.op("vt.branch") { vt.createBranch(mb, wb); vt.createTag(tag, wb) }
    val mbParent = vt.head(mb)
    val mbC = b.op("vt.write")(append(mb, roundStart(i, appends), roundRows, 1))
    val wbParent = vt.head(wb)
    val wbC = b.op("vt.write")(append(wb, roundStart(i, appends + 1), roundRows, 1))
    putList(o, "mb_new", newFiles(mbC, mbParent))
    putList(o, "wb_new", newFiles(wbC, wbParent))
    b.op("vt.diff")(vt.diffFiles(mb, wb)).foreach { d =>
      putList(o, "diff_added", d.collect { case (f, "added") => f })
      putList(o, "diff_removed", d.collect { case (f, "removed") => f })
    }
    b.op("vt.merge")(vt.merge(mb, wb))
    b.op("vt.count_rows")(vt.countRows(b.spark, wb)).foreach(o.put("merged_rows", _))
    b.op("vt.history")(vt.history(b.spark, wb).count()).foreach(o.put("history", _))
    b.op("vt.vacuum") {
      vt.deleteTag(tag); vt.deleteBranch(mb); vt.deleteBranch(wb)
      vt.vacuum(retainLast = commits + 1000)
    }
  }

  /** After the last vacuum: every version of `main` resolves to files that
    * all exist and whose logged row counts add up; a seeded sample of
    * versions is also read back in full. */
  def finish(out: Path): Unit = {
    val vs = b.obs.putArray("versions")
    val rng = new java.util.Random(b.seed)
    val full = Set.fill(3)(rng.nextInt(commits)) + (commits - 1)
    (0 until commits).foreach { v =>
      val c = vt.resolveRead("main", versionAsOf = Some(v.toLong))
      val n = vs.addObject()
      n.put("version", c.version)
      n.put("files_missing", c.files.count(f => !Files.exists(vt.root.resolve(f))))
      n.put("logged_rows", c.files.map(f => c.rowCounts.getOrElse(f, -1L)).sum)
      if (full(v)) n.put("rows_read", vt.readCommit(b.spark, c).count())
    }
  }
}

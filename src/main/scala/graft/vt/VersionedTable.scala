package graft.vt

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

/** A branch/version-addressed table over immutable parquet files + a commit log.
  *
  * Refs, lineage, time travel, publish, tags, protection and vacuum retention
  * come from the [[CommitGraph]] it shares with [[Repo]] (which also owns the
  * control-plane layout); data files live under `data/<commit-dir>/`. This
  * class builds the table's commit records — per-file stats, row counts,
  * sizes, blooms, hooks, OCC rebase — and holds the DML, reads, CDC and
  * maintenance.
  *
  * Re-expresses the reference's versioning surface natively (no Delta/lakeFS
  * jars offline — SURVEY.md §2.11):
  *  - Delta write v0 / overwrite v1 / `versionAsOf` / vacuum → `jobs/vdt4.py:39-85`
  *  - lakeFS branch / commit / diff / merge / revert / reset → `README.md:62-147`
  *
  * Scale design: reads resolve a commit (two tiny metadata reads) and then go
  * through the stock `DataFrameReader`, so Catalyst still sees a plain parquet
  * relation — predicate pushdown, column pruning, vectorized reads and
  * split-parallelism all survive (SURVEY.md §4). Writes create a fresh
  * directory per commit (no in-place mutation), so concurrent readers of older
  * versions are never disturbed; commit/ref publication is an atomic put.
  *
  * Concurrency: writers within one JVM are serialized per table instance
  * (`synchronized`); ACROSS processes every ref-advancing write — commit,
  * 3-way merge, AND fast-forward merge — first claims its (branch, version)
  * slot with an atomic put-if-absent ([[CommitLog.claimVersionSlot]] — Delta's
  * optimistic-concurrency contract), so two racing writers produce a linear
  * history plus one clean `ConcurrentModificationException` to retry, never
  * a silent fork or a lost ref advance.
  *
  * Storage: ALL control-plane metadata (refs, commit JSON, version slots,
  * staged markers) goes through the pluggable [[MetaStore]] — the crash-safety
  * guarantees above are stated in its object-store terms (put-if-absent +
  * atomic full-object put), so they transfer to S3-class stores, which have
  * no atomic rename. The data plane (immutable parquet under `data/`) stays
  * on the Spark-visible filesystem.
  */

/** One WHEN clause of a generalized MERGE ([[VersionedTable.mergeInto]]):
  * `kind` is `update` / `delete` (matched, not-matched-by-source) or
  * `insert` (not-matched); `condition` the optional AND predicate (SQL text
  * over the merge's aliases); `assignments` maps target columns to SQL
  * right-hand sides (update/insert — a delete clause takes none). */
final case class MergeClause(kind: String, condition: Option[String] = None,
                             assignments: Map[String, String] = Map.empty)

object MergeClause {
  def update(assignments: Map[String, String], condition: Option[String] = None): MergeClause =
    MergeClause("update", condition, assignments)
  def delete(condition: Option[String] = None): MergeClause =
    MergeClause("delete", condition)
  def insert(assignments: Map[String, String], condition: Option[String] = None): MergeClause =
    MergeClause("insert", condition, assignments)
}

final class VersionedTable private (val root: Path, val store: MetaStore)
    extends CommitGraph {

  // ---- writes ------------------------------------------------------------

  /** Write `df` as a new version on `branch` (v0 if the branch is new).
    *
    * `mode="overwrite"` replaces the snapshot (Delta overwrite semantics,
    * `jobs/vdt4.py:39-40,76-77`); `mode="append"` unions the parent's file
    * list with the new files — an O(metadata) append, no data rewrite.
    *
    * Append schema handling mirrors Delta: a divergent schema is REJECTED by
    * default (readCommit pins one schema over all files, so it would
    * silently null/drop columns), and accepted with `mergeSchema=true` as
    * ADDITIVE evolution — the commit schema becomes parent fields plus the
    * appended frame's new fields; parquet's by-name resolution then nulls a
    * file's missing columns on read, exactly Delta's mergeSchema contract.
    * A same-name/different-type collision is always an error.
    *
    * Overwrite schema handling also mirrors Delta: replacing the snapshot
    * with a DIFFERENT schema (names+types; nullability-insensitive) is
    * rejected unless `overwriteSchema=true` — the guard that turns an
    * accidental schema clobber into a loud error (Delta's
    * `overwriteSchema` option, which the reference's vdt4 overwrite relies
    * on). Old versions keep their own pinned schema either way, so time
    * travel across an intentional schema change still replays exactly.
    *
    * `check` is an optional Delta-style CHECK constraint (a boolean SQL
    * expression): the write REJECTS the whole batch if any row evaluates it
    * to false (NULL passes, per the SQL standard). The validation is one
    * filter + limit(1) scan — it short-circuits on the first violation and
    * pushes down like any filter, so its cost is bounded by the first bad
    * row's position, not the batch size. */
  def write(df: DataFrame, branch: String = "main", message: String = "",
            mode: String = "overwrite", statsCols: Seq[String] = Nil,
            mergeSchema: Boolean = false, check: Option[String] = None,
            overwriteSchema: Boolean = false,
            bloomCols: Seq[String] = Nil,
            dataChange: Boolean = true): Commit = synchronized {
    guardWritable(branch)
    // bloom-indexed columns must be STRING or INTEGRAL — the two hash
    // domains the probe can reproduce exactly (UTF-8 bytes; the cast-to-
    // long twin — long ids are as common a point-lookup key as uuids).
    // Fractional/decimal/timestamp keys have no exact probe image and
    // refuse loudly rather than skipping wrong.
    locally {
      val bad = bloomCols.filter(c => !df.schema.fieldNames.contains(c) ||
        !VersionedTable.bloomSupported(df.schema(c).dataType))
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"bloomCols must name STRING or integral (byte/short/int/long) columns " +
          s"of the written DataFrame, got: " + bad.mkString(", "))
    }
    // validate BEFORE any data file lands: a typo'd stats column must fail
    // with a nameable error and zero orphan parquet on disk (a failure
    // inside collectFileStats would be after writeDataFiles)
    locally {
      val missing = statsCols.filterNot(df.schema.fieldNames.contains)
      if (missing.nonEmpty) throw new IllegalArgumentException(
        s"statsCols name columns absent from the written DataFrame: " +
          s"${missing.mkString(", ")} (schema: ${df.schema.fieldNames.mkString(", ")})")
      // only types with a well-defined stats domain may carry skipping stats:
      // numerics and timestamps compare as doubles (timestamps in epoch
      // SECONDS — the cast-to-double domain, which StatsWindows normalizes
      // literals into), strings as unsigned UTF-8 bytes. Anything else
      // (date, binary, struct, …) would record stats no prune path can
      // soundly compare against — refuse loudly instead of skipping wrong.
      val badType = statsCols.filter { c =>
        val dt = df.schema(c).dataType
        !(dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
          dt == org.apache.spark.sql.types.StringType ||
          dt == org.apache.spark.sql.types.TimestampType)
      }
      if (badType.nonEmpty) throw new IllegalArgumentException(
        s"statsCols must be numeric, string, or timestamp columns; " +
          badType.map(c => s"$c: ${df.schema(c).dataType.simpleString}").mkString(", ") +
          " has no sound stats domain")
    }
    check.foreach { c =>
      val bad = df.where(org.apache.spark.sql.functions.expr(s"NOT ($c)")).limit(1).collect()
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"CHECK constraint violated on $branch: ($c) is false for row ${bad.head}; " +
          "no version was written")
    }
    val parent = head(branch)
    val schema: StructType = parent match {
      case Some(p) if mode == "append" =>
        val parentSchema = DataType.fromJson(p.schemaJson).asInstanceOf[StructType]
        // all schema comparisons are NULLABILITY-INSENSITIVE (nullNormalized):
        // a compacted/overwritten snapshot read back from parquet reports
        // every field nullable, and appending a stricter (non-null) frame
        // into it is always safe — byte-exact json equality would reject it
        val byName = parentSchema.fields
          .map(f => f.name -> VersionedTable.nullNormalized(f.dataType)).toMap
        val clash = df.schema.fields.filter(f =>
          byName.get(f.name).exists(_ != VersionedTable.nullNormalized(f.dataType)))
        if (clash.nonEmpty) throw new IllegalArgumentException(
          s"append type collision on $branch for ${clash.map(_.name).mkString(", ")}: " +
            "a column cannot change type on append")
        def shape(s: StructType) =
          s.fields.map(f => (f.name, VersionedTable.nullNormalized(f.dataType))).toSeq
        if (!mergeSchema && shape(df.schema) != shape(parentSchema))
          throw new IllegalArgumentException(
            s"append schema mismatch on $branch: table has ${parentSchema.simpleString} but " +
              s"the appended DataFrame has ${df.schema.simpleString}; pass mergeSchema=true " +
              "for additive evolution or use mode=overwrite")
        // merged-in NEW columns are forced NULLABLE (Delta's mergeSchema
        // rule): pre-existing rows have no value for them, and a
        // non-nullable declaration would let Catalyst constant-fold
        // `new_col IS NOT NULL` to true over rows that read back null.
        // Symmetrically, a PARENT column the appended frame OMITS goes
        // nullable too — the new file's rows read null for it.
        val appended = df.schema.fieldNames.toSet
        val mapActive = mappingActive(p, parentSchema)
        StructType(parentSchema.fields
          .map(f => if (appended.contains(f.name)) f else f.copy(nullable = true)) ++
          df.schema.fields.filterNot(f => byName.contains(f.name))
            .map { f =>
              val g = f.copy(nullable = true)
              // fresh physical name under active mapping: see addColumns
              if (mapActive)
                VersionedTable.withPhysical(g, VersionedTable.freshPhysical(g.name))
              else g
            })
      case Some(p) if mode == "overwrite" && !overwriteSchema =>
        val parentSchema = DataType.fromJson(p.schemaJson).asInstanceOf[StructType]
        // normalization covers NESTED nullability (ArrayType.containsNull,
        // inner StructField.nullable, MapType.valueContainsNull) that a parquet
        // round-trip may relax — only name+logical-type changes should trip this
        if (df.schema.fields.map(f => (f.name, VersionedTable.nullNormalized(f.dataType))).toSeq !=
            parentSchema.fields.map(f => (f.name, VersionedTable.nullNormalized(f.dataType))).toSeq)
          throw new IllegalArgumentException(
            s"overwrite schema mismatch on $branch: table has ${parentSchema.simpleString} " +
              s"but the new snapshot has ${df.schema.simpleString}; pass overwriteSchema=true " +
              "to replace the schema intentionally (Delta overwriteSchema semantics)")
        df.schema
      case _ => df.schema
    }
    // a schema-REPLACING overwrite must not leave a CHECK constraint
    // silently dead: if a recorded predicate no longer analyzes against the
    // new schema (its column was dropped/renamed away), refuse the write —
    // Delta likewise refuses to drop a constrained column. Same-schema
    // writes skip the probe (the predicate analyzed when it was added).
    if (overwriteSchema && mode == "overwrite")
      parent.map(VersionedTable.checkConstraints).getOrElse(Map.empty).foreach {
        case (cname, csql) =>
          try df.sparkSession.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
            .select(org.apache.spark.sql.functions.expr(csql)).queryExecution.analyzed
          catch {
            case e: org.apache.spark.sql.AnalysisException =>
              throw new IllegalArgumentException(
                s"overwriteSchema would orphan CHECK constraint $cname ($csql): " +
                  s"it no longer analyzes against the new schema (${e.getMessage.linesIterator.next()}); " +
                  "DROP CONSTRAINT first", e)
          }
      }
    val newFiles = writeDataFiles(guardChecks(df, parent), branch,
      parent.map(_.version + 1).getOrElse(0L), mapTo = Some(schema))
    val (newStats, newStrStats, newNullStats) =
      if (statsCols.isEmpty)
        (Map.empty[String, Map[String, (Double, Double)]],
          Map.empty[String, Map[String, (String, String)]],
          Map.empty[String, Map[String, Long]])
      else collectFileStats(df.sparkSession, newFiles, statsCols, schema)
    // bloom columns are STICKY (Delta's bloom index is a table property):
    // unless this write names its own, the parent's bloom column set is
    // recomputed for the new files — so appends, compaction and z-order
    // keep the index alive without re-specifying it. Columns the new
    // schema dropped (or retyped away from a hashable type) silently fall
    // out.
    val effBloomCols = (if (bloomCols.nonEmpty) bloomCols
                        else parent.map(bloomColsOf).getOrElse(Nil))
      .filter(c => df.schema.fieldNames.contains(c) &&
        VersionedTable.bloomSupported(df.schema(c).dataType))
    val newBlooms = collectFileBlooms(df.sparkSession, newFiles, effBloomCols, schema)
    val sidecar = writeBloomSidecar(branch, parent.map(_.version + 1).getOrElse(0L), newBlooms)
    // append keeps the parent's index (sidecars + any legacy inline
    // entries) live alongside the new files' sidecar; overwrite replaces
    // the snapshot, so only the fresh sidecar carries
    def attempt(base: Option[Commit]): Commit = {
      val app = mode == "append"
      publish(branch, base, message, schema,
        (if (app) base.map(_.files).getOrElse(Vector.empty) else Vector.empty) ++ newFiles,
        (if (app) base.map(_.stats).getOrElse(Map.empty)
         else Map.empty[String, Map[String, (Double, Double)]]) ++ newStats,
        strStats = (if (app) base.map(_.strStats).getOrElse(Map.empty)
                    else Map.empty[String, Map[String, (String, String)]]) ++ newStrStats,
        nullStats = (if (app) base.map(_.nullStats).getOrElse(Map.empty)
                     else Map.empty[String, Map[String, Long]]) ++ newNullStats,
        // append keeps the old files, so their deletion vectors stay live;
        // overwrite replaces the snapshot, so none carry
        dvs = if (app) base.map(_.dvs).getOrElse(Map.empty) else Map.empty,
        bloomStats = if (app) base.map(_.bloomStats).getOrElse(Map.empty)
                     else Map.empty[String, Map[String, String]],
        bloomCols = effBloomCols,
        bloomFiles = (if (app) base.map(_.bloomFiles).getOrElse(Vector.empty)
                      else Vector.empty) ++ sidecar,
        dataChange = dataChange)
    }
    try attempt(parent)
    catch {
      // OCC REBASE for blind appends (r20, Delta's WriteSerializable rule:
      // a transaction that only ADDS files never logically conflicts with
      // another committed change — appends commute with appends, DML and
      // layout commits). Losing the version-slot CAS therefore re-reads the
      // new head and re-publishes the SAME already-written data files on
      // top of it — metadata-only, the data job never re-runs — so a
      // 1000-writer concurrent ingest serializes instead of failing 999
      // writers. The rebase REFUSES (rethrowing the conflict) whenever the
      // winner moved anything this append's validation depended on: the
      // schema (our shape/type checks ran against the old one), the table
      // properties (a concurrently ADDED CHECK constraint has not validated
      // our rows), or the sticky bloom column set (our sidecar indexes the
      // old columns). Overwrites and DML never rebase here — an overwrite
      // that lost the race would silently drop the winner's rows.
      case e: java.util.ConcurrentModificationException
          if mode == "append" && parent.nonEmpty =>
        var base = parent
        var out: Option[Commit] = None
        var lost = 0
        while (out.isEmpty) {
          lost += 1
          if (lost > VersionedTable.MaxAppendRebase) throw e
          guardWritable(branch) // protection rules may have changed mid-race
          val nh = head(branch)
          val safe = nh.exists(h => base.exists(b =>
            h.version > b.version &&
              h.schemaJson == b.schemaJson && h.props == b.props &&
              bloomColsOf(h).sorted == bloomColsOf(b).sorted))
          if (!safe) throw e
          base = nh
          try out = Some(attempt(base))
          catch { case _: java.util.ConcurrentModificationException => () }
        }
        out.get
    }
  }

  /** Per-file min/max stats for `cols`, computed in ONE Spark job over the
    * just-written files (grouped by input_file_name) — the commit-log
    * equivalent of Delta's data-skipping stats. At 100 TB you would read
    * parquet footers instead of rescanning; one extra columnar scan of the
    * fresh files keeps this dependency-free and exact.
    *
    * STRING columns keep their min/max as strings (second map), compared at
    * prune time as unsigned UTF-8 bytes — the SAME ordering Spark's min/max
    * computed them under (see [[readWhereString]]) — Delta records string
    * stats too; a time/tenant-keyed lake skips on them constantly. Other
    * columns are cast to double as before. */
  /** `input_file_name()` yields a percent-encoded URI (`file:///…%20…`):
    * decode it before relativizing against `root`, or a table root containing
    * a URI-escaped character (space, `#`, …) matches NO commit-log entry and
    * the caller's file partition silently classifies everything untouched. */
  private def inputFileToRel(raw: String): String = {
    val p =
      try java.nio.file.Paths.get(new java.net.URI(raw).getPath)
      catch { case _: Exception => java.nio.file.Paths.get(raw.stripPrefix("file:")) }
    root.relativize(p).toString
  }

  private def collectFileStats(spark: SparkSession, files: Vector[String],
                               cols: Seq[String], schema: StructType)
      : (Map[String, Map[String, (Double, Double)]],
         Map[String, Map[String, (String, String)]],
         Map[String, Map[String, Long]]) =
    footerFileStats(files, cols, schema)
      .getOrElse(collectFileStatsJob(spark, files, cols, schema))

  /** Footer fast path for [[collectFileStats]] (r21, guide §1/§6): the
    * min/max/nullCount the Spark job re-reads every data page to compute
    * are ALREADY in each new file's parquet footer — written by the write
    * job itself moments earlier. Reading footers is O(files) driver-local
    * metadata I/O (cached, shared with [[VersionedTable.footerRowCount]]),
    * which removes one full read-back Spark job from EVERY stats-carrying
    * commit (write / COW rewrite / compaction / ANALYZE).
    *
    * Exactness: every bound equals the Spark job's value — footer min/max
    * are exact extrema of the same rows, and `long→double` / `float→double`
    * casts are monotone, so min/max commute with them. Returns None (caller
    * falls back to the job) for any shape whose equality is not PROVEN:
    * decimals, INT96 timestamps, or a chunk with non-null values but
    * dropped stats (NaN doubles, over-long binary) — so behavior in those
    * corners is byte-identical to before. A column absent from a file's
    * own schema (file predates ADD COLUMNS) mirrors the job's read-as-null:
    * all-null counts, no min/max entry. */
  private def footerFileStats(files: Vector[String], cols: Seq[String],
                              schema: StructType)
      : Option[(Map[String, Map[String, (Double, Double)]],
                Map[String, Map[String, (String, String)]],
                Map[String, Map[String, Long]])] = try {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.spark.sql.types._
    if (cols.exists(c => schema(c).dataType.isInstanceOf[DecimalType])) return None
    val num = scala.collection.mutable.Map.empty[String, Map[String, (Double, Double)]]
    val str = scala.collection.mutable.Map.empty[String, Map[String, (String, String)]]
    val nulls = scala.collection.mutable.Map.empty[String, Map[String, Long]]
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def leUtf8(a: Array[Byte], b: Array[Byte]): Boolean = { // unsigned lexicographic
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i) & 0xff; val y = b(i) & 0xff
        if (x != y) return x < y
        i += 1
      }
      a.length <= b.length
    }
    VersionedTable.prefetchFooters(files.map(root.resolve(_)))
    for (f <- files) {
      val meta = VersionedTable.footerMeta(root.resolve(f)).getOrElse(return None)
      val blocks = meta.getBlocks
      val fileRows = {
        var s = 0L; blocks.forEach(b => s += b.getRowCount); s
      }
      if (fileRows > 0) {
        val fNum = Map.newBuilder[String, (Double, Double)]
        val fStr = Map.newBuilder[String, (String, String)]
        val fNul = Map.newBuilder[String, Long]
        for (c <- cols) {
          val phys = VersionedTable.physName(schema, c)
          val dt = schema(c).dataType
          var nullCount = 0L
          var dMin = Double.MaxValue; var dMax = Double.MinValue
          var sMin: Array[Byte] = null; var sMax: Array[Byte] = null
          var any = false
          val it = blocks.iterator()
          while (it.hasNext) {
            val b = it.next()
            val chunk = {
              var found: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData = null
              val cit = b.getColumns.iterator()
              while (cit.hasNext && found == null) {
                val cc = cit.next()
                if (cc.getPath.size() == 1 && cc.getPath.toDotString == phys) found = cc
              }
              found
            }
            if (chunk == null) nullCount += b.getRowCount // pre-ADD COLUMNS file: reads as null
            else {
              val st = chunk.getStatistics
              if (st == null || !st.isNumNullsSet) return None
              nullCount += st.getNumNulls
              val nonNull = chunk.getValueCount - st.getNumNulls
              if (nonNull > 0) {
                if (!st.hasNonNullValue) return None // dropped stats (NaN / oversize binary)
                any = true
                dt match {
                  case StringType =>
                    val mn = st.getMinBytes; val mx = st.getMaxBytes
                    if (sMin == null || leUtf8(mn, sMin)) sMin = mn
                    if (sMax == null || leUtf8(sMax, mx)) sMax = mx
                  case TimestampType =>
                    val lt = chunk.getPrimitiveType.getLogicalTypeAnnotation
                    val unit = lt match {
                      case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                        t.getUnit
                      case _ => return None // INT96 or unexpected physical layout
                    }
                    val div = unit match {
                      case org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS => 1e6
                      case org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MILLIS => 1e3
                      case _ => return None
                    }
                    val mn = st.genericGetMin.asInstanceOf[java.lang.Long].toDouble / div
                    val mx = st.genericGetMax.asInstanceOf[java.lang.Long].toDouble / div
                    if (mn < dMin) dMin = mn
                    if (mx > dMax) dMax = mx
                  case _: NumericType =>
                    val (mn, mx) = chunk.getPrimitiveType.getPrimitiveTypeName match {
                      case PrimitiveTypeName.INT32 =>
                        (st.genericGetMin.asInstanceOf[java.lang.Integer].toDouble,
                          st.genericGetMax.asInstanceOf[java.lang.Integer].toDouble)
                      case PrimitiveTypeName.INT64 =>
                        (st.genericGetMin.asInstanceOf[java.lang.Long].toDouble,
                          st.genericGetMax.asInstanceOf[java.lang.Long].toDouble)
                      case PrimitiveTypeName.FLOAT =>
                        (st.genericGetMin.asInstanceOf[java.lang.Float].toDouble,
                          st.genericGetMax.asInstanceOf[java.lang.Float].toDouble)
                      case PrimitiveTypeName.DOUBLE =>
                        (st.genericGetMin.asInstanceOf[java.lang.Double].doubleValue(),
                          st.genericGetMax.asInstanceOf[java.lang.Double].doubleValue())
                      case _ => return None
                    }
                    if (mn.isNaN || mx.isNaN) return None // Spark orders NaN greatest; don't mirror here
                    if (mn < dMin) dMin = mn
                    if (mx > dMax) dMax = mx
                  case _ => return None
                }
              }
            }
          }
          fNul += c -> nullCount
          if (any) dt match {
            case StringType =>
              fStr += c -> (VersionedTable.statsLower(new String(sMin, utf8)),
                VersionedTable.statsUpper(new String(sMax, utf8)))
            case _ => fNum += c -> (dMin, dMax)
          }
        }
        num(f) = fNum.result(); str(f) = fStr.result(); nulls(f) = fNul.result()
      }
    }
    // files with zero rows are absent from every map, and an inner map may
    // be empty — exactly the shapes the Spark job's groupBy produces
    Some((num.toMap, str.toMap, nulls.toMap))
  } catch { case scala.util.control.NonFatal(_) => None }

  private def collectFileStatsJob(spark: SparkSession, files: Vector[String],
                                  cols: Seq[String], schema: StructType)
      : (Map[String, Map[String, (Double, Double)]],
         Map[String, Map[String, (String, String)]],
         Map[String, Map[String, Long]]) = {
    import org.apache.spark.sql.functions.{col, input_file_name, lit, max, min, sum, when}
    val isStr = cols.map(c =>
      c -> (schema(c).dataType == org.apache.spark.sql.types.StringType)).toMap
    // column mapping (r20): files store PHYSICAL names — aggregate over the
    // physical twin, emit maps keyed by the LOGICAL names the log uses. The
    // explicit schema also makes files that PREDATE a metadata-only ADD
    // COLUMNS read the missing column as NULL (omitted entry, conservative)
    // instead of failing on whichever footer Spark sampled for inference.
    def pc(c: String) = col(VersionedTable.physName(schema, c))
    val paths = files.map(f => root.resolve(f).toString)
    // layout per file row: [__file, (min,max) x cols, nullCount x cols]
    val aggs = cols.flatMap(c =>
      if (isStr(c)) Seq(min(pc(c)).as(s"__min_$c"), max(pc(c)).as(s"__max_$c"))
      else Seq(min(pc(c).cast("double")).as(s"__min_$c"),
        max(pc(c).cast("double")).as(s"__max_$c"))) ++
      cols.map(c => sum(when(pc(c).isNull, 1L).otherwise(0L)).as(s"__nc_$c"))
    val rows = spark.read.schema(VersionedTable.physicalSchema(schema)).parquet(paths: _*)
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map(r => inputFileToRel(r.getString(0)) -> r)
    // All-null (or non-castable) stats columns yield null min/max: omit
    // that column's entry — conservative "no stats, never skip".
    def defined(r: Row, i: Int) = !r.isNullAt(1 + 2 * i) && !r.isNullAt(2 + 2 * i)
    val num = rows.map { case (rel, r) =>
      rel -> cols.zipWithIndex.collect {
        case (c, i) if !isStr(c) && defined(r, i) =>
          c -> (r.getDouble(1 + 2 * i), r.getDouble(2 + 2 * i))
      }.toMap
    }.toMap
    val str = rows.map { case (rel, r) =>
      rel -> cols.zipWithIndex.collect {
        case (c, i) if isStr(c) && defined(r, i) =>
          // long values truncate to sound bounds — the commit log must stay
          // metadata-sized even when the stats column is document text
          c -> (VersionedTable.statsLower(r.getString(1 + 2 * i)),
            VersionedTable.statsUpper(r.getString(2 + 2 * i)))
      }.toMap
    }.toMap
    val ncBase = 1 + 2 * cols.size
    val nulls = rows.map { case (rel, r) =>
      rel -> cols.zipWithIndex.collect {
        case (c, i) if !r.isNullAt(ncBase + i) => c -> r.getLong(ncBase + i)
      }.toMap
    }.toMap
    (num, str, nulls)
  }

  /** Per-file BLOOM bitsets for `cols`, aggregated EXECUTOR-side (r19):
    * each row's k bit positions per column are computed by the codegen'd
    * `xxhash64` expression, partially deduped map-side (`collect_set` per
    * (file, column) — ≤ 16384 ints per group per input partition cross
    * the shuffle, never row-proportional), and each group's positions
    * fold into its ~2 KB bitset INSIDE the task. The driver receives ONE
    * bitset row per file × column — the same O(files) contract as
    * [[collectFileStats]] — where the r18 shape collected every (file,
    * column, position) triple (~4 orders of magnitude more; a 10k-file
    * write could OOM the driver).
    *
    * STRING columns hash their UTF-8 bytes; INTEGRAL columns hash their
    * cast-to-long twin, so byte/short/int/long key columns share one
    * probe image ([[VersionedTable.bloomPositionsLong]]). NULL values
    * contribute the seed-only position — harmless, since an equality
    * probe value is never NULL. */
  private def collectFileBlooms(spark: SparkSession, files: Vector[String],
                                cols: Seq[String], schema: StructType)
      : Vector[(String, String, Array[Byte])] = {
    import org.apache.spark.sql.functions.{array, col, input_file_name, lit, pmod, xxhash64}
    if (cols.isEmpty || files.isEmpty) return Vector.empty
    val m = VersionedTable.BloomMBits
    // sidecars are immutable and shared across commits, so their entries
    // key on the column's PHYSICAL name (stable across renames);
    // [[bloomLookup]] translates each probe's logical name once.
    // r21 (guide §2.3): each row's k positions fold DIRECTLY into the
    // ~2 KB bitset via the BloomBitsAgg typed aggregate — one buffer per
    // (file, column) per map partition crosses the shuffle, where the
    // previous shape exploded k rows per input row and collect_set-deduped
    // them first. Bitset contents are identical (same positions set).
    def hashable(c: String) =
      if (schema(c).dataType == org.apache.spark.sql.types.StringType)
        col(VersionedTable.physName(schema, c))
      else col(VersionedTable.physName(schema, c)).cast("long")
    def positions(c: String) =
      array((0 until VersionedTable.BloomKHashes).map(i =>
        pmod(xxhash64(lit(i), hashable(c)), lit(m.toLong)).cast("int")): _*)
    val aggs = cols.map(c =>
      graft.functions.BloomBitsAgg.bloomBits(positions(c), m).as(s"__bits_$c"))
    val rows = spark.read.schema(VersionedTable.physicalSchema(schema))
      .parquet(files.map(f => root.resolve(f).toString): _*)
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    rows.toVector.flatMap { r =>
      val rel = inputFileToRel(r.getString(0))
      cols.zipWithIndex.map { case (c, i) =>
        (rel, VersionedTable.physName(schema, c), r.getAs[Array[Byte]](1 + i))
      }
    }
  }

  /** Persist one write batch's bloom entries as a sidecar `.bloom` file
    * under the commit's data namespace ([[BloomIndex]]); returns its
    * root-relative path (empty for an empty batch). Lives under `data/`
    * so the existing vacuum sweep/retention machinery manages it like any
    * data-plane artifact. */
  private def writeBloomSidecar(branch: String, version: Long,
                                entries: Seq[(String, String, Array[Byte])])
      : Vector[String] =
    if (entries.isEmpty) Vector.empty
    else {
      val rel = s"$branch-v$version-bloomidx-${java.util.UUID.randomUUID.toString.take(8)}"
      val dir = dataDir.resolve(rel)
      Files.createDirectories(dir)
      val p = dir.resolve("index.bloom")
      BloomIndex.write(p, entries)
      Vector(root.relativize(p).toString)
    }

  /** The bloom column set a commit tracks — what COW rewrites and sticky
    * writes recompute for their new files. Explicit field first (r19),
    * unioned with the legacy inline index's columns. */
  private def bloomColsOf(c: Commit): Seq[String] =
    (c.bloomCols ++ c.bloomStats.valuesIterator.flatMap(_.keys)).distinct

  /** COW carry rule for the bloom index, shared by delete/update/merge/
    * applyCdc: the parent's sidecars stay referenced (untouched files keep
    * their entries; rewritten files' old entries go dead-but-harmless),
    * legacy inline entries carry for untouched files only, and the
    * rewritten files get a FRESH sidecar over the parent's sticky column
    * set. Returns (bloomCols, bloomFiles, legacy inline carry) for
    * [[publish]]. */
  private def cowBloom(spark: SparkSession, parent: Commit, branch: String,
                       untouchedSet: Set[String], newFiles: Vector[String],
                       schema: StructType)
      : (Seq[String], Vector[String], Map[String, Map[String, String]]) = {
    val cols = bloomColsOf(parent).filter(c => schema.fieldNames.contains(c) &&
      VersionedTable.bloomSupported(schema(c).dataType))
    val sidecar = writeBloomSidecar(branch, parent.version + 1,
      collectFileBlooms(spark, newFiles, cols, schema))
    (cols, parent.bloomFiles ++ sidecar,
      parent.bloomStats.view.filterKeys(untouchedSet).toMap)
  }

  /** Lazy bloom probe surface of a commit: `(relFile, col) → bitset`,
    * merging the r19 sidecars with any legacy inline entries. Nothing is
    * read until the FIRST probe (scans without point predicates never pay
    * for the index); sidecar parses are memoized process-wide
    * ([[BloomIndex.cached]]). Driver footprint per loaded commit is
    * O(files × bloomCols × 2 KB) — the bounded metadata contract; a
    * missing/corrupt sidecar degrades to "no bloom, never skip" rather
    * than failing the scan. */
  private[graft] def bloomLookup(c: Commit): (String, String) => Option[Array[Byte]] = {
    if (c.bloomFiles.isEmpty && c.bloomStats.isEmpty) (_, _) => None
    else {
      lazy val side: Map[(String, String), Array[Byte]] =
        c.bloomFiles.flatMap { f =>
          try BloomIndex.cached(root.resolve(f))
          catch { case scala.util.control.NonFatal(_) => Map.empty }
        }.toMap
      // probes arrive with the query's LOGICAL column name; sidecars (and
      // legacy inline entries) key on the stable PHYSICAL name
      lazy val schema = DataType.fromJson(c.schemaJson).asInstanceOf[StructType]
      (file, colName) => {
        val pn = VersionedTable.physName(schema, colName)
        side.get((file, pn)).orElse(
          c.bloomStats.get(file).flatMap(_.get(pn))
            .map(java.util.Base64.getDecoder.decode(_)))
      }
    }
  }

  /** Delta-style MERGE (upsert): source rows REPLACE current rows sharing
    * their key (WHEN MATCHED UPDATE ALL) and are INSERTED otherwise, as a
    * NEW version — old versions still time-travel. Schemas must match (same
    * enforcement rationale as append).
    *
    * File-granular retire-or-rewrite ([[applyCdc]] has the mechanics): key
    * range stats prune the files that provably hold no source key, one
    * semi-join finds the rows each remaining file loses, and a file whose
    * dead rows stay at or below 1/20 of its row count (Delta OPTIMIZE's
    * deleted-rows purge ratio) keeps its entry and takes a deletion vector;
    * only files past that are rewritten. The upserted rows always land as
    * new files.
    *
    * The source must be key-unique: Delta's MERGE errors when multiple source
    * rows match one target row, and silently keeping every duplicate would
    * violate the REPLACE contract above — so a duplicated key fails fast
    * here. The check is one aggregation on the key columns short-circuited
    * by `limit(1)`: a bounded extra job, metadata-scale next to the write. */
  def upsert(spark: SparkSession, source: DataFrame, keyCols: Seq[String],
             branch: String = "main", message: String = ""): Commit =
    applyCdc(spark, source, None, keyCols, branch,
      if (message.isEmpty) s"upsert on (${keyCols.mkString(", ")})" else message)

  /** Apply a KEYED CDC batch as ONE commit — the general form of [[upsert]]
    * (which is `applyCdc` with no deletes): rows in `upserts` REPLACE any
    * row sharing their key, keys in `deleteKeys` (a DataFrame carrying at
    * least the key columns) are REMOVED, and a key present in both is a
    * replace (the upsert wins — the net effect of a CDC batch's
    * delete-preimage + insert-postimage pair). This is what a CDC consumer
    * needs to land one source version ATOMICALLY: a split delete-commit +
    * upsert-commit pair would leave a torn intermediate version on a crash
    * between them and break batch-id idempotency
    * ([[graft.streaming.ChangeFeed.tailFromDelta]] relies on the one-commit
    * shape).
    *
    * Scale shape: the affected keys' range per numeric, timestamp or string
    * key column prunes files by the scans' own stats test ([[keyBounds]]);
    * one semi-join of the remaining files against the affected keys finds
    * the live rows it replaces or removes, and the same pass builds each
    * touched file's new descriptor ([[retireHits]]); then
    * [[retireOrRewrite]] applies the 1/20 rule — a file with few dead
    * rows keeps its stats and bloom bits and its lost rows join its
    * deletion vector, a file past the rule is rewritten with its kept rows
    * (one anti-join), and every untouched file carries as it was. 1/20 is
    * the deleted-rows ratio at which Delta's OPTIMIZE purges a file's
    * vectors, and it caps the read amplification of a hot file. */
  def applyCdc(spark: SparkSession, upserts: DataFrame,
               deleteKeys: Option[DataFrame], keyCols: Seq[String],
               branch: String = "main", message: String = ""): Commit = synchronized {
    guardWritable(branch)
    require(keyCols.nonEmpty, "applyCdc needs at least one key column")
    import org.apache.spark.sql.functions.{col, count, lit}
    val dup = upserts.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n")).where(col("__n") > 1)
      .limit(1).collect()
    if (dup.nonEmpty) throw new IllegalArgumentException(
      s"upsert source is not unique on (${keyCols.mkString(", ")}): e.g. key " +
        s"${dup.head.toSeq.init.mkString("(", ", ", ")")} appears ${dup.head.getLong(keyCols.size)} " +
        "times — source rows REPLACE rows sharing their key, so duplicates are ambiguous " +
        "(Delta MERGE raises the same error); de-duplicate the source first")
    val parent = headOrThrow(branch)
    val schema = DataType.fromJson(parent.schemaJson).asInstanceOf[StructType]
    // name+type equality (nullability-insensitive, including NESTED nullability:
    // reading parquet back relaxes nullable flags, which must not block an upsert)
    require(schema.fields.map(f => (f.name, VersionedTable.nullNormalized(f.dataType))).toSeq ==
        upserts.schema.fields.map(f => (f.name, VersionedTable.nullNormalized(f.dataType))).toSeq,
      s"upsert schema mismatch on $branch: table has ${schema.simpleString} " +
        s"but the source has ${upserts.schema.simpleString}")
    deleteKeys.foreach(d => require(keyCols.forall(d.columns.contains),
      s"deleteKeys must carry the key columns (${keyCols.mkString(", ")}), " +
        s"got (${d.columns.mkString(", ")})"))
    val delKeys = deleteKeys.map(_.select(keyCols.map(col): _*))
    // An empty batch is a pure no-op: nothing matches, nothing inserts,
    // nothing deletes, so the current head IS the result — no rewrite, no
    // version churn (the same early-return shape as merge's already-equal
    // case). The incremental-pipeline cycle with no updates costs one
    // limit(1) probe per side.
    val noUpserts = upserts.isEmpty
    if (noUpserts && delKeys.forall(_.isEmpty)) return parent
    val affected = delKeys.foldLeft(upserts.select(keyCols.map(col): _*))(_ unionByName _)
    val candidates = graft.sources.VtPruning.pruneExprs(parent, parent.files,
      keyBounds(schema, affected, keyCols.map(k => k -> k)), bloomLookup(parent))
    // the live rows an affected key replaces or removes
    val hits = if (candidates.isEmpty) None
      else Some(scanWithPos(spark, parent.copy(files = candidates))
        .join(affected.distinct(), keyCols, "left_semi"))
    retireOrRewrite(spark, parent, branch,
      if (message.isEmpty) s"applyCdc on (${keyCols.mkString(", ")})" else message,
      schema, retireHits(spark, parent, candidates, hits, Some(affected), retireAll = false),
      (rewrite, _) => {
        val kept = if (rewrite.isEmpty) None
          else Some(readCommit(spark, parent.copy(files = rewrite))
            .join(affected.distinct(), keyCols, "left_anti"))
        // CHECK constraints guard only the INCOMING side: kept rows come
        // from the already-validated snapshot and re-land unchanged
        val fresh = if (noUpserts) None else Some(guardChecks(upserts, Some(parent)))
        (kept ++ fresh).reduceOption(_ unionByName _)
          .map(sizedByInput(_, parent, rewrite, Some(upserts)))
      })
  }

  /** The key range of `frame` as conjuncts on the target's key columns
    * (`keys` pairs a target column with its `frame` column): numeric and
    * timestamp keys bound `cast(k AS DOUBLE)`, the stats' own domain, string
    * keys bound `k`; other types prune nothing. One bounded aggregate. */
  private def keyBounds(schema: StructType, frame: DataFrame, keys: Seq[(String, String)])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, GreaterThanOrEqual, LessThanOrEqual, Literal}
    import org.apache.spark.sql.functions.{col, max, min}
    import org.apache.spark.sql.types.{DoubleType, NumericType, StringType, TimestampType}
    val bounded = keys.flatMap { case (tc, sc) =>
      val k = AttributeReference(tc, schema(tc).dataType)()
      k.dataType match {
        case _: NumericType | TimestampType => Some(Cast(k, DoubleType) -> col(sc).cast(DoubleType))
        case StringType => Some(k -> col(sc))
        case _ => None
      }
    }
    if (bounded.isEmpty) return Nil
    val aggs = bounded.flatMap { case (_, v) => Seq(min(v), max(v)) }
    val r = frame.agg(aggs.head, aggs.tail: _*).collect().head
    bounded.zipWithIndex.flatMap {
      case ((k, _), i) if !r.isNullAt(2 * i) && !r.isNullAt(2 * i + 1) =>
        Seq(GreaterThanOrEqual(k, Literal(r.get(2 * i))),
          LessThanOrEqual(k, Literal(r.get(2 * i + 1))))
      case _ => Nil
    }
  }

  /** `tc IN (…)` over `frame`'s distinct non-null `sc` values, when at most
    * [[VersionedTable.MaxMergeBloomProbes]] and each lies exactly in the
    * key's bloom hash domain (else a cast-mismatched join could match values
    * the probe misses). One bounded `distinct().limit(cap + 1)` job. */
  private def keyList(schema: StructType, frame: DataFrame, tc: String, sc: String)
      : Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, In, Literal}
    import org.apache.spark.sql.types.{LongType, StringType}
    val cap = VersionedTable.MaxMergeBloomProbes
    val vals = frame.select(org.apache.spark.sql.functions.col(sc)).distinct()
      .limit(cap + 1).collect()
    val isStr = schema(tc).dataType == StringType
    val keys = vals.filterNot(_.isNullAt(0)).map(_.get(0)).map {
      case s: String if isStr => Some(Literal(s))
      case n @ (_: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
                _: java.lang.Long) if !isStr => Some(Literal(n.asInstanceOf[Number].longValue))
      case _ => None
    }
    val k = AttributeReference(tc, schema(tc).dataType)()
    if (vals.length > cap || keys.isEmpty || keys.exists(_.isEmpty)) None
    else Some(In(if (isStr || k.dataType == LongType) k else Cast(k, LongType), keys.flatten.toSeq))
  }

  /** Generalized `MERGE INTO` (the full Delta/Spark statement, where
    * [[upsert]] is the classic two-clause special case): target rows join
    * `source` on the `on` predicate, then
    *
    *  - `matched` clauses (UPDATE SET / DELETE, each with an optional AND
    *    condition) apply to target rows with a matching source row — FIRST
    *    applicable clause wins, a row no clause applies to is kept as-is;
    *  - `notMatched` clauses (INSERT, optional condition) apply to source
    *    rows matching no target row — unassigned columns insert as typed
    *    NULL (Delta's rule);
    *  - `notMatchedBySource` clauses (UPDATE / DELETE, optional condition)
    *    apply to target rows with no source match.
    *
    * Expressions (`on`, clause conditions, assignment right-hand sides) are
    * SQL text over `targetAlias`/`sourceAlias`-qualified columns, evaluated
    * on the joined row; a NULL condition applies nothing (three-valued
    * logic, same as [[delete]]'s keep rule). Assignment targets must be
    * existing columns and cast to the column's type — the merge never
    * drifts the schema UNLESS `schemaEvolution` is set (Delta's `MERGE
    * WITH SCHEMA EVOLUTION`): then source-only columns append to the
    * target schema as nullable fields, assignments may fill them, and
    * every row/file without a value reads null — old versions keep their
    * own pinned schema, so time travel across the widening still replays
    * exactly. A target row matched by MULTIPLE source rows where
    * more than one joined copy has an applicable clause fails fast
    * (Delta's cardinality error): which copy should win is ambiguous.
    *
    * File-granular retire-or-rewrite, all as ONE commit: equi-key
    * conjuncts of `on` (`t.k = s.k`) prune candidate files through the
    * commit-log stats exactly like [[upsert]] — numeric and timestamp keys
    * against the double-domain stats, STRING keys (doc_id/uuid, the common
    * LLM-corpus merge shape) against the truncation-sound strStats under
    * unsigned-UTF-8 order; an exact detection pass finds the rows some
    * clause APPLIES to and builds each touched file's new descriptor
    * ([[retireHits]]). [[retireOrRewrite]] then decides per
    * touched file: while its dead rows stay at or below 1/20 of its row
    * count (Delta OPTIMIZE's deleted-rows purge ratio, which also caps a
    * hot file's read amplification) the file keeps its entry, stats and
    * bloom bits, its updated and deleted rows are retired by a deletion
    * vector and the update images land in new files; past 1/20 it is
    * rewritten (kept rows carried, updates applied, deletes dropped).
    * Inserts land in the new files, and every untouched file keeps its
    * entry, stats and deletion vectors. A
    * `notMatchedBySource` clause must examine every target row, so its
    * detection scans the whole snapshot (still file-exact about what it
    * touches) — the same cost Delta pays for that clause. Matching is over LIVE rows (deletion
    * vectors subtracted) and the rewrite materializes survivors, so MOR
    * and COW history compose. */
  def mergeInto(spark: SparkSession, source: DataFrame, on: String,
                matched: Seq[MergeClause] = Nil,
                notMatched: Seq[MergeClause] = Nil,
                notMatchedBySource: Seq[MergeClause] = Nil,
                targetAlias: String = "t", sourceAlias: String = "s",
                branch: String = "main", message: String = "",
                schemaEvolution: Boolean = false): Commit = synchronized {
    guardWritable(branch)
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, when}
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "mergeInto needs at least one WHEN clause")
    require(targetAlias != sourceAlias,
      s"target and source aliases must differ, both are '$targetAlias'")
    matched.foreach(c => require(c.kind == "update" || c.kind == "delete",
      s"WHEN MATCHED supports update/delete, got '${c.kind}'"))
    notMatched.foreach(c => require(c.kind == "insert",
      s"WHEN NOT MATCHED supports insert only, got '${c.kind}'"))
    notMatchedBySource.foreach(c => require(c.kind == "update" || c.kind == "delete",
      s"WHEN NOT MATCHED BY SOURCE supports update/delete, got '${c.kind}'"))
    val parent = headOrThrow(branch)
    val schema = DataType.fromJson(parent.schemaJson).asInstanceOf[StructType]
    // WITH SCHEMA EVOLUTION (Delta's rule): source-only columns APPEND to
    // the target schema as NULLABLE fields — assignments may target them,
    // kept/by-source rows and untouched files read them back as null (a
    // parquet file lacking a requested column yields nulls, the same
    // mechanism mergeSchema appends rely on). Same-name columns keep the
    // TARGET type; assignment right-hand sides cast to it as ever.
    // source-vs-target column matching is CASE-INSENSITIVE (Spark's default
    // resolver, Delta's evolution rule): a source column differing only in
    // case must NOT append a duplicate field — the merged files would then
    // carry both and every later read fails parquet's duplicate-field check
    val outSchema: StructType =
      if (!schemaEvolution) schema
      else StructType(schema.fields ++
        source.schema.fields
          .filterNot(f => schema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
          .map(_.copy(nullable = true)))
    (matched ++ notMatched ++ notMatchedBySource).foreach { c =>
      val unknown = c.assignments.keySet.diff(outSchema.fieldNames.toSet)
      require(unknown.isEmpty,
        s"merge ${c.kind} assigns unknown column(s): ${unknown.mkString(", ")}" +
          (if (schemaEvolution) ""
           else " — source-only columns need schemaEvolution=true (MERGE WITH SCHEMA EVOLUTION)"))
      require(c.kind != "delete" || c.assignments.isEmpty,
        "a DELETE clause takes no assignments")
    }
    // every internal planning column is reserved, in BOTH schemas: a user
    // column named __graft_applied/__graft_ins would be silently replaced by
    // the clause-routing withColumn and corrupt which clause fires
    Seq(VersionedTable.FkCol, VersionedTable.PosCol, "__graft_src",
        "__graft_applied", "__graft_ins", "__graft_mn", "__graft_rn").foreach { r =>
      require(!source.columns.contains(r), s"source may not carry reserved column $r")
      require(!schema.fieldNames.contains(r), s"target may not carry reserved column $r")
    }
    // mergeInto evaluates the source in up to four independent jobs (equi-key
    // range agg, matched detection, rewrite join, insert anti-join); a
    // non-deterministic source (rand(), sample, a re-read mutable input)
    // could apply clauses inconsistently between detection and rewrite.
    // Delta materializes such sources for exactly this reason — pin it once.
    val source0 =
      if (source.queryExecution.analyzed.exists(_.expressions.exists(e => !e.deterministic)))
        source.localCheckpoint()
      else source

    val srcMark = "__graft_src"
    val src = source0.alias(sourceAlias)
    val onExpr = expr(on)
    def tgtScan(c: Commit) = scanWithPos(spark, c).alias(targetAlias)
    // NULL clause condition applies nothing (SQL three-valued logic)
    def condCol(c: MergeClause): org.apache.spark.sql.Column =
      coalesce(expr(c.condition.getOrElse("true")), lit(false))
    def anyCond(cs: Seq[MergeClause]) = cs.map(condCol).reduce(_ || _)
    // first-applicable-clause index; `offset` keeps the matched and
    // by-source chains in disjoint index spaces of one column
    def chain(cs: Seq[MergeClause], offset: Int): org.apache.spark.sql.Column =
      cs.zipWithIndex.foldRight(lit(null).cast("int")) { case ((c, i), rest) =>
        when(condCol(c), lit(offset + i)).otherwise(rest)
      }

    // ---- candidate pruning: numeric equi-key conjuncts of `on` ----------
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, EqualTo => CEq, Expression => CExpr}
    def conjuncts(e: CExpr): Seq[CExpr] = e match {
      case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val equiKeys: Seq[(String, String)] = // (target col, source col)
      conjuncts(spark.sessionState.sqlParser.parseExpression(on)).collect {
        case CEq(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
          (a.nameParts, b.nameParts) match {
            case (Seq(ta, tc), Seq(sa, sc)) if ta == targetAlias && sa == sourceAlias => Some((tc, sc))
            case (Seq(sa, sc), Seq(ta, tc)) if ta == targetAlias && sa == sourceAlias => Some((tc, sc))
            case _ => None
          }
      }.flatten.filter { case (tc, _) => schema.fieldNames.contains(tc) }
    // the source's key range prunes through the scans' own test: numeric
    // and timestamp keys against the double-domain stats, STRING keys — the
    // common LLM-corpus shape, doc_id/uuid — against strStats under
    // unsigned-UTF-8 order. One bounded agg computes every range.
    val bloom = bloomLookup(parent)
    val byRange = graft.sources.VtPruning.pruneExprs(parent, parent.files,
      keyBounds(schema, source0, equiKeys), bloom)
    // BLOOM probe (r19): a FEW distinct keys on a bloom-indexed equi-key
    // (the point-upsert shape, where scattered uuid/long ids defeat ranges)
    // probe each surviving candidate as an IN-list; false positives only
    // ever KEEP files.
    val candidates = equiKeys.filter { case (tc, _) =>
      bloomColsOf(parent).contains(tc) && VersionedTable.bloomSupported(schema(tc).dataType)
    }.foldLeft(byRange) { case (files, (tc, sc)) =>
      if (files.isEmpty) files
      else graft.sources.VtPruning.pruneExprs(parent, files,
        keyList(schema, source0, tc, sc).toSeq, bloom)
    }

    // ---- exact detection: the rows some clause APPLIES to, per file -----
    // One pass builds each touched file's descriptor and carries Delta's
    // cardinality check: for src-present rows "some matched clause
    // applies" ⟺ anyCond(matched), so a position the pass meets twice is a
    // target row two source copies modify.
    val matchedHits: Option[DataFrame] =
      if (matched.isEmpty || candidates.isEmpty) None
      else Some(tgtScan(parent.copy(files = candidates)).join(src, onExpr, "inner")
        .where(anyCond(matched))
        .select(col(VersionedTable.FkCol), col(VersionedTable.PosCol)))
    val bySourceHits: Option[DataFrame] =
      if (notMatchedBySource.isEmpty || parent.files.isEmpty) None
      else Some(tgtScan(parent).join(src, onExpr, "left_anti")
        .where(anyCond(notMatchedBySource))
        .select(col(VersionedTable.FkCol), col(VersionedTable.PosCol)))
    // matched and by-source rows are disjoint, so one vector holds both
    val hits = (matchedHits ++ bySourceHits).reduceOption(_ unionByName _)
    val retired = retireHits(spark, parent,
      if (bySourceHits.isDefined) parent.files else candidates, hits, Some(source0),
      retireAll = false)
    if (retired.multiHit) {
      dropDvs(retired.dvs.values)
      throw new IllegalArgumentException(
        "mergeInto: multiple source rows match and attempt to modify the " +
          "same target row — de-duplicate the source or tighten the ON / " +
          "clause conditions (Delta MERGE raises the same error)")
    }
    // clauses touch nothing: no-op, no churn
    if (retired.touched.isEmpty && notMatched.isEmpty) return parent

    // ---- the rewrite + insert plan, one write ----------------------------
    // (r22, guide §2.4/§1.2): formerly a UNION of filtered branches — kept
    // rows, an applied-ids dedup, and one branch per UPDATE clause — which
    // re-executed the same target×source join (and every scan under it)
    // once per branch, 3-4 times for the benched merges. One select with a
    // per-column CASE over the applied-clause index routes every row in a
    // SINGLE execution of the join (the shape Delta's writeAllChanges uses).
    // Rows of a rewritten file emit when kept or updated; rows of a file
    // whose deletion vector grows emit only as update images, since its
    // kept rows stay where they are.
    //
    // Kept-exactly-once: a target row with SEVERAL source copies where none
    // applies must still be written once. When the last WHEN MATCHED clause
    // is unconditional, every matched copy applies — plural applying copies
    // already threw in the cardinality check above — so copies cannot be
    // plural and no dedup is needed (the common shape, and both benched
    // merges). Otherwise one window keyed by (file, pos) picks a single
    // representative: min(applied) over the group is null iff NO copy
    // applies (kept, emit row_number 1), and the applying copy — unique by
    // the cardinality check — emits regardless.
    def tcolOrNull(f: org.apache.spark.sql.types.StructField): org.apache.spark.sql.Column =
      if (schema.fieldNames.contains(f.name)) col(s"$targetAlias.`${f.name}`")
      else lit(null).cast(f.dataType) // evolved column: null until assigned
    val updateIdxs: Seq[Int] =
      matched.zipWithIndex.collect { case (c, i) if c.kind == "update" => i } ++
        notMatchedBySource.zipWithIndex.collect { case (c, i) if c.kind == "update" => 1000 + i }
    val updateClauses: Seq[(MergeClause, Int)] =
      (matched.zipWithIndex.map { case (c, i) => (c, i) } ++
        notMatchedBySource.zipWithIndex.map { case (c, i) => (c, 1000 + i) })
        .filter(_._1.kind == "update")
    def isUpdate(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (updateIdxs.isEmpty) lit(false) else c.isin(updateIdxs: _*)
    def rewritePart(rewrite: Vector[String], retire: Vector[String]): Option[DataFrame] =
      if (rewrite.isEmpty && (retire.isEmpty || updateIdxs.isEmpty)) None
      else {
        // every target row with the index of the clause that applies to
        // it (null: none applies, the row is kept)
        val j = tgtScan(parent.copy(files = rewrite ++ retire))
          .join(source0.withColumn(srcMark, lit(true)).alias(sourceAlias), onExpr, "left_outer")
          .withColumn("__graft_applied",
            when(col(srcMark).isNotNull, chain(matched, 0))
              .otherwise(chain(notMatchedBySource, 1000)))
        val needDedup = !(matched.nonEmpty && matched.last.condition.isEmpty)
        val (picked, emit) =
          if (!needDedup)
            (j, col("__graft_applied").isNull || isUpdate(col("__graft_applied")))
          else {
            import org.apache.spark.sql.expressions.Window
            import org.apache.spark.sql.functions.{min => wmin, row_number}
            val w = Window.partitionBy(col(VersionedTable.FkCol), col(VersionedTable.PosCol))
            (j.withColumn("__graft_mn", wmin(col("__graft_applied")).over(w))
              .withColumn("__graft_rn", row_number().over(
                w.orderBy(col("__graft_applied").asc_nulls_last))),
              (col("__graft_mn").isNull && col("__graft_rn") === 1) ||
                isUpdate(col("__graft_applied")))
          }
        val routed =
          if (retire.isEmpty) emit
          else when(col(VersionedTable.FkCol).isin(retire.map(VersionedTable.fileKey): _*),
            isUpdate(col("__graft_applied"))).otherwise(emit)
        Some(picked.where(routed).select(outSchema.fields.toIndexedSeq.map { f =>
          updateClauses.foldRight(tcolOrNull(f)) { case ((c, idx), rest) =>
            c.assignments.get(f.name) match {
              case Some(rhs) =>
                when(col("__graft_applied") === idx, expr(rhs).cast(f.dataType))
                  .otherwise(rest)
              case None => rest // unassigned: target value (or evolved null)
            }
          }.as(f.name)
        }: _*)) // delete clauses: their rows simply never reach the output
      }
    val insertPart: Option[DataFrame] =
      if (notMatched.isEmpty) None
      else {
        val unmatched = // anti over candidates is exact: non-candidates hold no match
          if (candidates.isEmpty) src
          else src.join(tgtScan(parent.copy(files = candidates)), onExpr, "left_anti")
        val withIns = unmatched.withColumn("__graft_ins", chain(notMatched, 0))
          .where(col("__graft_ins").isNotNull)
        Some(withIns.select(outSchema.fields.toIndexedSeq.map { f =>
          notMatched.zipWithIndex
            .foldRight(lit(null).cast(f.dataType): org.apache.spark.sql.Column) {
              case ((c, i), rest) =>
                c.assignments.get(f.name) match {
                  case Some(rhs) =>
                    when(col("__graft_ins") === i, expr(rhs).cast(f.dataType))
                      .otherwise(rest)
                  case None => rest // Delta INSERT rule: unassigned → typed null
                }
            }.as(f.name)
        }: _*))
      }
    retireOrRewrite(spark, parent, branch,
      if (message.isEmpty) s"merge into on ($on)" else message, outSchema, retired,
      // UPDATE/INSERT clauses can mint constraint-violating values — the
      // fused guard aborts the write before any commit publishes
      (rewrite, retire) => (rewritePart(rewrite, retire) ++ insertPart)
        .reduceOption(_ unionByName _).map(df => sizedByInput(guardChecks(df, Some(parent)),
          parent, rewrite ++ retire, Some(source0))),
      // an insert-only merge with zero inserts is a no-op, decided from the
      // landed footers (r21) instead of an isEmpty probe of the anti-join
      noOpIfNothingLands = true)
  }

  /** The files of `parent` that could hold a row matching a row-level
    * statement's predicate — the scans' own selection
    * ([[graft.sources.VtPruning.select]]: stats windows, null counts and
    * bloom probes of the predicate as the optimizer leaves it). A point
    * delete on a key-clustered petabyte table probes a handful of files'
    * worth of metadata, not a million parquet footers. */
  private def selectFiles(spark: SparkSession, parent: Commit,
                          pred: org.apache.spark.sql.Column): Vector[String] =
    graft.sources.VtPruning.select(spark, parent, pred, bloomLookup(parent))

  /** Merge-on-read DELETE (Delta deletion vectors / Iceberg v3 position
    * deletes): instead of rewriting every touched file ([[delete]]'s
    * copy-on-write), add the matched ROW POSITIONS to each touched file's
    * deletion vector and publish a commit with the SAME file list — each
    * touched file's entry is re-stated with the union descriptor (a drop
    * plus a fresh entry), O(matched rows) bytes written, zero data
    * rewritten. This is the point-delete shape a petabyte table needs:
    * deleting 3 rows clustered in a 1 GB file costs a few hundred bytes of
    * inline vector, where copy-on-write rewrites the gigabyte. One pass
    * finds the rows and builds the descriptors ([[retireHits]]): up to
    * [[DeletionVectors.InlineDvMax]] positions ride inline in the entry,
    * larger vectors land as `data/deletion_vector_<uuid>.bin` written by
    * the task. Readers drop deleted positions per file ([[scanWithPos]],
    * the native MOR scan); [[compact]] materializes them away. Semantics
    * match [[delete]]: NULL predicate keeps the row, a no-match delete
    * returns the unchanged head, stats pruning bounds the find-matches
    * scan, and rows already deleted are never re-recorded (the scan applies
    * existing vectors first). */
  def deleteWithVectors(spark: SparkSession, where: String, branch: String = "main",
                        message: String = ""): Commit = synchronized {
    guardWritable(branch)
    import org.apache.spark.sql.functions.expr
    val pred = expr(where)
    val parent = headOrThrow(branch)
    if (parent.files.isEmpty) return parent
    val candidates = selectFiles(spark, parent, pred)
    if (candidates.isEmpty) return parent
    val retired = retireHits(spark, parent, candidates,
      Some(scanWithPos(spark, parent.copy(files = candidates)).where(pred)), None,
      retireAll = true)
    if (retired.dvs.isEmpty) return parent // the delete matched nothing
    publish(branch, Some(parent),
      if (message.isEmpty) s"delete (merge-on-read) where ($where)" else message,
      DataType.fromJson(parent.schemaJson).asInstanceOf[StructType], parent.files,
      parent.stats, strStats = parent.strStats, nullStats = parent.nullStats,
      dvs = parent.dvs ++ retired.dvs,
      // blooms carry verbatim: a deleted row's bits become false positives,
      // which only KEEP files — skipping stays sound
      bloomStats = parent.bloomStats,
      bloomCols = parent.bloomCols, bloomFiles = parent.bloomFiles)
  }

  /** Delta `DELETE FROM … WHERE`: remove the rows where `where` evaluates
    * TRUE, as a NEW version — old versions still time-travel; rows where the
    * predicate is NULL are KEPT (SQL/Delta semantics: DELETE removes only
    * confirmed matches). Returns the new commit, or the unchanged head when
    * nothing matched (no version churn, like the empty-source upsert).
    *
    * COPY-ON-WRITE, file-granular (Delta DELETE's find-touched-files scan):
    * one predicate-pushed scan over the snapshot lists the files that
    * actually CONTAIN a matching row — parquet row-group stats make
    * non-matching files a footer-level probe, and the driver receives a
    * bounded O(#files) list, never rows. Only those files are rewritten with
    * their kept rows; every other file (and its data-skipping stats entry)
    * is carried untouched, so a point delete on a petabyte key-clustered
    * table rewrites a handful of files. The kept rows of all touched files
    * go out as one write sized by the bytes it reads ([[sizedByInput]]): one
    * new file per `spark.sql.files.maxPartitionBytes`, not one per touched
    * file; a touched file that keeps no row leaves no file behind
    * ([[dropEmpty]]). The file-granular [[changes]] /
    * [[changesFeed]] diff over the interval then scans only
    * rewritten+replacement files and reports the removed rows as
    * `change_type = delete`. */
  def delete(spark: SparkSession, where: String, branch: String = "main",
             message: String = ""): Commit = synchronized {
    guardWritable(branch)
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val pred = expr(where)
    val parent = headOrThrow(branch)
    if (parent.files.isEmpty) return parent
    val candidates = selectFiles(spark, parent, pred)
    if (candidates.isEmpty) return parent // stats alone prove nothing matches
    // find touched files via the provenance scan's file-key column, not
    // input_file_name(): on a DV-bearing snapshot the live-row scan is a
    // multi-source join where input_file_name() throws, and only live rows
    // (DVs applied) should drive the rewrite set
    val touchedKeys = retiredPerFile(
      scanWithPos(spark, parent.copy(files = candidates)).where(pred)).keySet
    if (touchedKeys.isEmpty) return parent // delete matched nothing
    val (touched, untouched) =
      parent.files.partition(f => touchedKeys(VersionedTable.fileKey(f)))
    val schema = DataType.fromJson(parent.schemaJson).asInstanceOf[StructType]
    val kept = readCommit(spark, parent.copy(files = touched))
      .where(not(coalesce(pred, lit(false)))) // NULL predicate keeps the row
    commitDml(spark, parent, branch, if (message.isEmpty) s"delete where ($where)" else message,
      schema, untouched, dropEmpty(writeDataFiles(sizedByInput(kept, parent, touched, None),
        branch, parent.version + 1, mapTo = Some(schema))))
  }

  /** Row-level UPDATE (Delta `UPDATE t SET c = e WHERE p`): commit-log
    * stats prune the candidate files as for [[delete]], one scan finds the
    * matching rows and builds each touched file's new descriptor
    * ([[retireHits]]), and [[retireOrRewrite]] decides per touched
    * file. A file whose dead rows stay at or below 1/20 of its row count
    * (Delta OPTIMIZE's deleted-rows purge ratio, which also caps a hot
    * file's read amplification) keeps its entry, stats and bloom bits: its
    * matching rows are retired by a deletion vector and their updated
    * images land in a new file. A file past 1/20 is rewritten whole,
    * non-matching rows carried byte-identical. Updated values are cast to the column's existing type,
    * so the schema never drifts, and untouched files keep their entries AND
    * their per-file stats. A NULL predicate leaves the row unchanged
    * (three-valued WHERE, same as [[delete]]'s keep rule). Updates surface
    * in CDC ([[changes]] / [[changesFeed]]) as a delete of the before-image
    * plus an insert of the after-image, restricted to the touched files.
    *
    * `set` maps existing column names to SQL expressions evaluated against
    * the pre-update row (standard UPDATE semantics: all right-hand sides see
    * the OLD values, so `SET a = b, b = a` swaps). Unknown columns are
    * rejected rather than added — additive evolution stays an explicit
    * [[append]]-with-mergeSchema decision. */
  def update(spark: SparkSession, where: String, set: Map[String, String],
             branch: String = "main", message: String = ""): Commit = synchronized {
    guardWritable(branch)
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, when}
    require(set.nonEmpty, "update needs at least one SET column")
    val pred = expr(where)
    val parent = headOrThrow(branch)
    val schema = DataType.fromJson(parent.schemaJson).asInstanceOf[StructType]
    val unknown = set.keySet.diff(schema.fieldNames.toSet)
    require(unknown.isEmpty, s"update SET names unknown column(s): ${unknown.mkString(", ")}")
    if (parent.files.isEmpty) return parent
    val candidates = selectFiles(spark, parent, pred)
    if (candidates.isEmpty) return parent // stats alone prove nothing matches
    // same DV-safe detection as delete (see comment there)
    val hits = scanWithPos(spark, parent.copy(files = candidates)).where(pred)
    val retired = retireHits(spark, parent, candidates, Some(hits), None, retireAll = false)
    if (retired.touched.isEmpty) return parent // update matched nothing
    // All SET right-hand sides evaluate against the OLD row: build every
    // new column from the original scan in one select (no sequential
    // withColumn, which would let later assignments see earlier ones).
    val hit = coalesce(pred, lit(false)) // NULL predicate -> row unchanged
    def assign(rows: DataFrame): DataFrame = rows.select(
      schema.fields.toIndexedSeq.map { f =>
        set.get(f.name) match {
          case Some(rhs) => when(hit, expr(rhs).cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }: _*)
    retireOrRewrite(spark, parent, branch,
      if (message.isEmpty) s"update set (${set.keys.toSeq.sorted.mkString(", ")}) where ($where)"
      else message,
      schema, retired,
      // a rewritten file lands whole, a retiring one only its updated
      // rows; SET can mint violating values — fuse the constraint guard in
      (rewrite, retire) => Seq(rewrite -> lit(true), retire -> hit).collect {
        case (files, keep) if files.nonEmpty =>
          assign(readCommit(spark, parent.copy(files = files)).where(keep))
      }.reduceOption(_ unionByName _)
        .map(df => sizedByInput(guardChecks(df, Some(parent)), parent, rewrite ++ retire, None)))
  }

  /** Live rows `hits` (carrying the [[scanWithPos]] tag columns) counted
    * per file key: the files a copy-on-write [[delete]] touches. The driver
    * receives O(touched files) rows. */
  private def retiredPerFile(hits: DataFrame): Map[String, Long] =
    hits.groupBy(VersionedTable.FkCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** What a row-level DML statement's detection pass retired: `touched`
    * holds the keys of the files with a live row the statement replaces or
    * deletes. `dvs` holds, for each touched file that keeps its entry, its
    * new descriptor — the union of its vector and those rows; a touched
    * file without one is rewritten. `multiHit` is set when one position was
    * hit more than once (several source rows applying to one target row of
    * a MERGE). */
  private case class Retired(touched: Set[String],
                             dvs: Map[String, DeletionVectors.DvDescriptor],
                             multiHit: Boolean)

  /** Remove the `.bin` files of descriptors a statement built but will not
    * publish. */
  private def dropDvs(dvs: Iterable[DeletionVectors.DvDescriptor]): Unit =
    dvs.foreach(d => DeletionVectors.relativeFile(d).foreach(f => LakeFiles.delete(root.resolve(f))))

  /** The detection pass `hits` of a row-level DML statement (carrying the
    * [[scanWithPos]] tag columns) over the parent's `scanned` files, run
    * ONCE: its positions are grouped by file key and sorted, and each task
    * decides per touched file what Delta's remove-plus-add of the same path
    * needs. With `retireAll` (the vector delete) every touched file keeps
    * its entry; otherwise a file keeps it while its dead rows after the
    * statement — its descriptor's cardinality plus this statement's rows —
    * stay at or below 1/[[VersionedTable.DvDeadRowsDivisor]] of its logged
    * row count, and the statement is deterministic (the vector and the new
    * row images come from separate evaluations, so a rand() condition
    * would retire other rows than it replaces: it rewrites, which
    * evaluates each row once). For a kept file the task streams the union
    * of its existing positions and the new ones through
    * [[DeletionVectors.RoaringBuilder]] and inlines the bitmap up to
    * [[DeletionVectors.InlineDvMax]] positions, else writes it as
    * `data/deletion_vector_<uuid>.bin`; the driver collects only
    * `(file, descriptor)`. */
  private def retireHits(spark: SparkSession, parent: Commit, scanned: Vector[String],
                         hits: Option[DataFrame], source: Option[DataFrame],
                         retireAll: Boolean): Retired = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val h = hits.getOrElse(return Retired(Set.empty, Map.empty, multiHit = false))
    val deterministic = !h.queryExecution.analyzed.exists(_.expressions.exists(!_.deterministic))
    // per scanned file key: (file, its descriptor, logged rows or -1)
    val byKey: Map[String, (String, Option[DeletionVectors.DvDescriptor], Long)] =
      scanned.map(f => VersionedTable.fileKey(f) ->
        (f, parent.dvs.get(f), parent.rowCounts.getOrElse(f, -1L))).toMap
    val pairs = h.select(col(VersionedTable.FkCol), col(VersionedTable.PosCol).cast("long"))
    // a DML verb's pass over under one maxPartitionBytes groups in one task
    // without an exchange, as its write does; the vector delete, which
    // has no write to size, keeps its scan's parallelism
    val grouped =
      if (!retireAll && inputSlices(spark, parent, scanned, source).contains(1)) pairs.coalesce(1)
      else pairs.repartition(col(VersionedTable.FkCol))
    val rootStr = root.toString
    val divisor = VersionedTable.DvDeadRowsDivisor
    val rows = grouped.sortWithinPartitions(VersionedTable.FkCol, VersionedTable.PosCol)
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(String, Boolean, String, String, Option[Int], Int, Long)]
        var fk: String = null
        val fresh = new scala.collection.mutable.ArrayBuilder.ofLong
        var multi = false
        var last = -1L
        def flush(): Unit = if (fk != null) {
          val ps = fresh.result()
          fresh.clear()
          val (_, old, logged) = byKey(fk)
          val dead = old.map(_.cardinality).getOrElse(0L)
          if (retireAll || (deterministic && logged >= 0 &&
              divisor * (dead + ps.length) <= logged)) {
            val olds = old.map(DeletionVectors.positions(rootStr, _)).getOrElse(Array.emptyLongArray)
            val b = new DeletionVectors.RoaringBuilder
            var i = 0
            var j = 0
            while (i < olds.length || j < ps.length) {
              if (j >= ps.length || (i < olds.length && olds(i) <= ps(j))) { b.add(olds(i)); i += 1 }
              else { b.add(ps(j)); j += 1 }
            }
            val d =
              if (b.cardinality <= DeletionVectors.InlineDvMax)
                DeletionVectors.inlineBytes(b.result(), b.cardinality)
              else DeletionVectors.writeDvBytes(java.nio.file.Paths.get(rootStr),
                b.result(), b.cardinality, "data")
            out += ((fk, multi, d.storageType, d.pathOrInlineDv, d.offset, d.sizeInBytes,
              d.cardinality))
          } else out += ((fk, multi, null, null, None, 0, 0L))
          multi = false
          last = -1L
        }
        it.foreach { r =>
          val k = r.getString(0)
          val p = r.getLong(1)
          if (k != fk) { flush(); fk = k }
          if (p == last) multi = true else { fresh += p; last = p }
        }
        flush()
        out.iterator
      }.collect()
    Retired(rows.map(_._1).toSet,
      rows.collect { case r if r._3 != null =>
        byKey(r._1)._1 -> DeletionVectors.DvDescriptor(r._3, r._4, r._5, r._6, r._7)
      }.toMap,
      rows.exists(_._2))
  }

  /** The one commit path of [[applyCdc]] (so [[upsert]]), [[mergeInto]] and
    * [[update]]: retire a touched file's changed rows with its deletion
    * vector, or rewrite the file.
    *
    * A touched file that [[retireHits]] gave a new descriptor keeps its
    * stats and bloom bits and is re-stated with that descriptor — a drop
    * plus a fresh manifest entry. Every other touched file is rewritten.
    * `rows(rewrite, retire)` is everything the statement lands: the kept
    * rows of the rewritten files plus every new row image, sized by the
    * verb to one partition per `spark.sql.files.maxPartitionBytes` of what
    * it reads ([[sizedByInput]]); it goes out in one write, whose files
    * that hold no row are deleted ([[dropEmpty]]), and one commit
    * publishes the carried files and the new ones. A rewritten file's
    * vector leaves the commit with its entry. With `noOpIfNothingLands` a
    * statement that retires nothing and lands no row returns the unchanged
    * head. */
  private def retireOrRewrite(spark: SparkSession, parent: Commit, branch: String,
      message: String, schema: StructType, retired: Retired,
      rows: (Vector[String], Vector[String]) => Option[DataFrame],
      noOpIfNothingLands: Boolean = false): Commit = {
    val (retire, rewrite) = parent.files
      .filter(f => retired.touched(VersionedTable.fileKey(f)))
      .partition(retired.dvs.contains)
    val version = parent.version + 1
    val newFiles = try rows(rewrite, retire).map(df => dropEmpty(writeDataFiles(df, branch,
        version, mapTo = Some(DataType.fromJson(parent.schemaJson).asInstanceOf[StructType]))))
        .getOrElse(Vector.empty)
      catch { case e: Throwable => dropDvs(retired.dvs.values); throw e }
    if (noOpIfNothingLands && retired.touched.isEmpty && newFiles.isEmpty) return parent
    commitDml(spark, parent, branch, message, schema,
      parent.files.filterNot(rewrite.toSet), newFiles, retired.dvs)
  }

  /** `written`, a DML statement's new data files, less every file that
    * holds no row — a delete that empties each file it touches still lands
    * one schema-only file. Those are deleted, with their directory when
    * nothing else landed, before any commit publishes them: a 0-row entry
    * carries no stats, so every later scan would open it. */
  private def dropEmpty(written: Vector[String]): Vector[String] = {
    val (empty, landed) =
      written.partition(f => VersionedTable.footerRowCount(root.resolve(f)).contains(0L))
    empty.foreach(f => LakeFiles.delete(root.resolve(f)))
    if (landed.isEmpty) written.headOption.foreach(f =>
      graft.Tables.deleteRecursively(root.resolve(f).getParent))
    landed
  }

  /** Publish a row-level DML result: `carried` parent files keep their
    * stats and bloom bits, `newFiles` get fresh stats over the parent's
    * tracked column set (so skip-reads keep working) and a bloom sidecar,
    * and `dvNew` replaces the descriptors of the files it names. */
  private def commitDml(spark: SparkSession, parent: Commit, branch: String,
                        message: String, schema: StructType, carried: Vector[String],
                        newFiles: Vector[String],
                        dvNew: Map[String, DeletionVectors.DvDescriptor] = Map.empty): Commit = {
    val statCols = (parent.stats.values.flatMap(_.keys) ++
      parent.strStats.values.flatMap(_.keys)).toSeq.distinct
    val (newStats, newStrStats, newNullStats) =
      if (statCols.isEmpty || newFiles.isEmpty) // a pure delete may land no file
        (Map.empty[String, Map[String, (Double, Double)]],
          Map.empty[String, Map[String, (String, String)]],
          Map.empty[String, Map[String, Long]])
      else collectFileStats(spark, newFiles, statCols, schema)
    val carriedSet = carried.toSet // O(1) lookups: stat carry is O(F), not O(F^2)
    val (bCols, bFiles, bLegacy) = cowBloom(spark, parent, branch, carriedSet, newFiles, schema)
    publish(branch, Some(parent), message, schema, carried ++ newFiles,
      parent.stats.view.filterKeys(carriedSet).toMap ++ newStats,
      strStats = parent.strStats.view.filterKeys(carriedSet).toMap ++ newStrStats,
      nullStats = parent.nullStats.view.filterKeys(carriedSet).toMap ++ newNullStats,
      dvs = parent.dvs ++ dvNew,
      bloomStats = bLegacy, bloomCols = bCols, bloomFiles = bFiles)
  }

  /** Publish an EMPTY v0 snapshot carrying only a schema — SQL
    * `CREATE TABLE`'s registration commit
    * ([[graft.sources.VtCatalog.createTable]]): the table then EXISTS for
    * every later load (schema pinned, zero files, COUNT(*) = 0 from
    * metadata), and a CTAS's data lands as v1 through the ordinary append
    * path. O(metadata); goes through the same version-slot CAS as any
    * commit, so two racing CREATEs produce one winner and one clean
    * conflict. */
  private[graft] def createEmpty(branch: String, schema: StructType,
                                 message: String,
                                 props: Map[String, String] = Map.empty): Commit =
    synchronized {
      guardWritable(branch)
      require(head(branch).isEmpty,
        s"branch $branch already has commits — CREATE TABLE needs a fresh table")
      publish(branch, None, message, schema, Vector.empty, props = Some(props))
    }

  /** Delta `ALTER TABLE … ADD COLUMNS`: a METADATA-ONLY schema-evolution
    * commit. The new version keeps the parent's files, stats, deletion
    * vectors and bloom index byte-for-byte — only the schema grows, so on
    * a 100 TB table this is one commit-record write, zero data I/O. Every
    * pre-evolution file simply lacks the new columns in its footer, and
    * the parquet readers (DSv1 [[readCommit]] and the native DSv2 scans
    * alike) fill them with NULL — which is why each added column MUST be
    * nullable: existing rows have no value for it, and a non-nullable
    * declaration would let Catalyst constant-fold `c IS NOT NULL` to true
    * over rows that read back null (the same rule [[write]] applies to
    * mergeSchema'd columns). Name collisions are checked
    * CASE-INSENSITIVELY, matching Spark's default resolution — a table
    * with both `Note` and `note` would be unreadable by SQL. Stats/bloom
    * pruning stays sound for free: the new columns have no stats entries,
    * and every prune path conservatively keeps files with missing stats. */
  def addColumns(branch: String, newCols: Seq[StructField],
                 message: String = ""): Commit = synchronized {
    guardWritable(branch)
    require(newCols.nonEmpty, "ADD COLUMNS needs at least one column")
    val parent = headOrThrow(branch)
    val schema = DataType.fromJson(parent.schemaJson).asInstanceOf[StructType]
    newCols.foldLeft(schema.fieldNames.map(_.toLowerCase).toSet) { (seen, f) =>
      require(!seen.contains(f.name.toLowerCase),
        s"column ${f.name} already exists on $branch (names are case-insensitive)")
      require(f.nullable,
        s"added column ${f.name} must be nullable: existing rows read NULL for it")
      seen + f.name.toLowerCase
    }
    // once column mapping is active, a NEW column needs a collision-proof
    // fresh physical name: reusing a previously DROPPED column's name would
    // resurrect its bytes from the old files
    val added =
      if (mappingActive(parent, schema))
        newCols.map(f => VersionedTable.withPhysical(f, VersionedTable.freshPhysical(f.name)))
      else newCols
    val evolved = StructType(schema.fields ++ added)
    publish(branch, Some(parent),
      if (message.nonEmpty) message
      else s"ALTER TABLE ADD COLUMNS (${newCols.map(_.name).mkString(", ")})",
      evolved, parent.files, parent.stats, strStats = parent.strStats,
      dvs = parent.dvs, nullStats = parent.nullStats,
      bloomStats = parent.bloomStats, bloomCols = bloomColsOf(parent),
      bloomFiles = parent.bloomFiles, dataChange = false)
  }

  /** Column mapping activity test: the sticky props flag (set by the first
    * rename/drop — it outlives a later rename-back) or any field already
    * carrying a physical name. */
  private def mappingActive(parent: Commit, schema: StructType): Boolean =
    parent.props.get(VersionedTable.ColMapProp).contains("name") ||
      VersionedTable.hasColumnMapping(schema)

  /** Refuse a schema change that would orphan a CHECK constraint: each
    * recorded predicate must still analyze against the candidate schema
    * (Delta likewise refuses renaming/dropping constrained columns). */
  private def probeConstraints(spark: SparkSession, parent: Commit,
                               candidate: StructType, what: String): Unit =
    VersionedTable.checkConstraints(parent).foreach { case (cname, csql) =>
      try spark.createDataFrame(new java.util.ArrayList[Row](), candidate)
        .select(org.apache.spark.sql.functions.expr(csql)).queryExecution.analyzed
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"$what would orphan CHECK constraint $cname ($csql) — " +
              "DROP CONSTRAINT first", e)
      }
    }

  /** `ALTER TABLE RENAME COLUMN` as a METADATA-ONLY commit (r20 — Delta's
    * name-mode column mapping): ZERO files rewritten. The field keeps its
    * PHYSICAL parquet name (recorded in StructField metadata,
    * [[VersionedTable.PhysKey]]) and only the LOGICAL name queries see
    * changes; reads re-alias positionally ([[readCommit]]), the
    * logical-keyed per-file stats maps and the sticky bloom column set are
    * re-keyed in the same commit (pure metadata — at 10⁶ files this is one
    * manifest rewrite, no data I/O), and bloom sidecars — immutable and
    * shared — stay valid because they key on the physical name. Old
    * versions time-travel with their own pinned schema. A CHECK constraint
    * referencing the old name refuses the rename. */
  def renameColumn(spark: SparkSession, branch: String, from: String,
                   to: String, message: String = ""): Commit = synchronized {
    guardWritable(branch)
    val parent = headOrThrow(branch)
    val schema = DataType.fromJson(parent.schemaJson).asInstanceOf[StructType]
    require(schema.fieldNames.contains(from),
      s"RENAME COLUMN: no such column $from on $branch")
    require(from != to, "RENAME COLUMN: old and new names are identical")
    require(!schema.fieldNames.exists(n => n != from && n.equalsIgnoreCase(to)),
      s"RENAME COLUMN: column $to already exists on $branch (names are " +
        "case-insensitive)")
    val renamed = StructType(schema.fields.map(f =>
      if (f.name == from)
        VersionedTable.withPhysical(f, VersionedTable.physicalName(f)).copy(name = to)
      else f))
    probeConstraints(spark, parent, renamed, s"RENAME COLUMN $from TO $to")
    def rekey[V](m: Map[String, Map[String, V]]): Map[String, Map[String, V]] =
      m.view.mapValues(_.map { case (k, v) =>
        (if (k == from) to else k) -> v }).toMap
    publish(branch, Some(parent),
      if (message.nonEmpty) message else s"ALTER TABLE RENAME COLUMN $from TO $to",
      renamed, parent.files,
      rekey(parent.stats), strStats = rekey(parent.strStats),
      nullStats = rekey(parent.nullStats),
      dvs = parent.dvs, bloomStats = parent.bloomStats,
      bloomCols = bloomColsOf(parent).map(c => if (c == from) to else c),
      bloomFiles = parent.bloomFiles, dataChange = false,
      props = Some(parent.props + (VersionedTable.ColMapProp -> "name")))
  }

  /** `ALTER TABLE DROP COLUMN` as a METADATA-ONLY commit (r20): the field
    * leaves the logical schema; old files keep the bytes and every
    * explicit-schema read simply never requests them. The dropped column's
    * logical-keyed stats are PURGED in the same commit so a later re-added
    * column of the same name can never inherit them — and, with mapping
    * now active, that re-add gets a FRESH physical name
    * ([[VersionedTable.freshPhysical]]), so the old bytes are unreachable
    * by construction. Constraints referencing the column refuse the drop;
    * old versions still time-travel with the column present. */
  /** Dry-run validation of a RENAME/DROP COLUMN sequence against the branch
    * head — the SAME checks [[renameColumn]]/[[dropColumn]] apply (name
    * existence, case-insensitive collisions, last-column, constraint
    * probes), replayed over a simulated schema WITHOUT publishing anything.
    * A multi-change ALTER runs this first so a failure mid-list can never
    * leave the table partially altered (the ADD COLUMNS path is one commit
    * and never had the problem). Left = rename(from, to);
    * Right = drop(name, ifExists). */
  def validateColumnOps(spark: SparkSession, branch: String,
                        ops: Seq[Either[(String, String), (String, Boolean)]]): Unit = synchronized {
    guardWritable(branch)
    val parent = headOrThrow(branch)
    var schema = DataType.fromJson(parent.schemaJson).asInstanceOf[StructType]
    ops.foreach {
      case Left((from, to)) =>
        require(schema.fieldNames.contains(from),
          s"RENAME COLUMN: no such column $from on $branch")
        require(from != to, "RENAME COLUMN: old and new names are identical")
        require(!schema.fieldNames.exists(n => n != from && n.equalsIgnoreCase(to)),
          s"RENAME COLUMN: column $to already exists on $branch (names are " +
            "case-insensitive)")
        schema = StructType(schema.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f))
        probeConstraints(spark, parent, schema, s"RENAME COLUMN $from TO $to")
      case Right((name, ifExists)) =>
        if (!(ifExists && !schema.fieldNames.contains(name))) {
          require(schema.fieldNames.contains(name),
            s"DROP COLUMN: no such column $name on $branch")
          require(schema.fields.length > 1,
            s"DROP COLUMN: cannot drop the last column of $branch")
          schema = StructType(schema.fields.filterNot(_.name == name))
          probeConstraints(spark, parent, schema, s"DROP COLUMN $name")
        }
    }
  }

  def dropColumn(spark: SparkSession, branch: String, name: String,
                 message: String = ""): Commit = synchronized {
    guardWritable(branch)
    val parent = headOrThrow(branch)
    val schema = DataType.fromJson(parent.schemaJson).asInstanceOf[StructType]
    require(schema.fieldNames.contains(name),
      s"DROP COLUMN: no such column $name on $branch")
    require(schema.fields.length > 1,
      s"DROP COLUMN: cannot drop the last column of $branch")
    val remaining = StructType(schema.fields.filterNot(_.name == name))
    probeConstraints(spark, parent, remaining, s"DROP COLUMN $name")
    def purge[V](m: Map[String, Map[String, V]]): Map[String, Map[String, V]] =
      m.view.mapValues(_ - name).toMap.filter(_._2.nonEmpty)
    publish(branch, Some(parent),
      if (message.nonEmpty) message else s"ALTER TABLE DROP COLUMN $name",
      remaining, parent.files,
      purge(parent.stats), strStats = purge(parent.strStats),
      nullStats = purge(parent.nullStats),
      dvs = parent.dvs, bloomStats = parent.bloomStats,
      bloomCols = bloomColsOf(parent).filterNot(_ == name),
      bloomFiles = parent.bloomFiles, dataChange = false,
      props = Some(parent.props + (VersionedTable.ColMapProp -> "name")))
  }

  /** `ANALYZE`-shape stats BACKFILL (Delta recomputes stats the same way):
    * collect per-file min/max/null-count stats for `cols` over the files
    * that MISS them and publish as a METADATA-ONLY commit — same files,
    * same rows, `dataChange=false` (streams see silence). One scan of the
    * un-statted files buys skip-reads and metadata MIN/MAX forever — the
    * adoption path for a table that was ingested without `statsCols`
    * (re-writing a 100 TB table to get pruning would be absurd). Files
    * already covered for every requested column are NOT re-read; pass
    * `recompute = true` to force a full rebuild of the requested columns.
    * Validation matches [[write]]'s statsCols rules (named columns must
    * exist and have a sound stats domain). A snapshot already fully
    * covered publishes nothing and returns the head unchanged. */
  def computeStats(spark: SparkSession, cols: Seq[String],
                   branch: String = "main", recompute: Boolean = false,
                   message: String = ""): Commit = synchronized {
    guardWritable(branch)
    require(cols.nonEmpty, "computeStats needs at least one column")
    val parent = headOrThrow(branch)
    val schema = DataType.fromJson(parent.schemaJson).asInstanceOf[StructType]
    val missing = cols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"computeStats names columns absent from the table: ${missing.mkString(", ")}")
    val badType = cols.filter { c =>
      val dt = schema(c).dataType
      !(dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        dt == org.apache.spark.sql.types.StringType ||
        dt == org.apache.spark.sql.types.TimestampType)
    }
    require(badType.isEmpty,
      s"computeStats needs numeric, string, or timestamp columns; " +
        badType.map(c => s"$c: ${schema(c).dataType.simpleString}").mkString(", ") +
        " has no sound stats domain")
    def covered(f: String): Boolean = cols.forall { c =>
      parent.stats.get(f).exists(_.contains(c)) ||
        parent.strStats.get(f).exists(_.contains(c))
    }
    val targets = if (recompute) parent.files else parent.files.filterNot(covered)
    if (targets.isEmpty) return parent
    val (num, str, nulls) = collectFileStats(spark, targets, cols, schema)
    def merge[V](old: Map[String, Map[String, V]],
                 fresh: Map[String, Map[String, V]]): Map[String, Map[String, V]] =
      (old.keySet ++ fresh.keySet).map { f =>
        f -> (old.getOrElse(f, Map.empty) ++ fresh.getOrElse(f, Map.empty))
      }.toMap
    publish(branch, Some(parent),
      if (message.nonEmpty) message
      else s"ANALYZE: stats for (${cols.mkString(", ")}) over ${targets.size} file(s)",
      schema, parent.files,
      merge(parent.stats, num), strStats = merge(parent.strStats, str),
      nullStats = merge(parent.nullStats, nulls),
      dvs = parent.dvs, bloomStats = parent.bloomStats,
      bloomCols = bloomColsOf(parent), bloomFiles = parent.bloomFiles,
      dataChange = false)
  }

  /** [[computeStats]]' BLOOM-INDEX sibling: build the per-file bloom
    * sidecar for `cols` over the CURRENT snapshot and make the column set
    * STICKY (later writes, compaction and COW rewrites keep it fresh, the
    * same rule as write(bloomCols=…)) — the point-lookup adoption path for
    * an already-ingested corpus keyed by uuid/doc_id. Metadata-only:
    * files and rows unchanged, one sidecar written, `dataChange=false`. */
  def computeBloomIndex(spark: SparkSession, cols: Seq[String],
                        branch: String = "main",
                        message: String = ""): Commit = synchronized {
    guardWritable(branch)
    require(cols.nonEmpty, "computeBloomIndex needs at least one column")
    val parent = headOrThrow(branch)
    val schema = DataType.fromJson(parent.schemaJson).asInstanceOf[StructType]
    val bad = cols.filter(c => !schema.fieldNames.contains(c) ||
      !VersionedTable.bloomSupported(schema(c).dataType))
    require(bad.isEmpty,
      s"computeBloomIndex needs STRING or integral columns of the table, got: " +
        bad.mkString(", "))
    val sidecar = writeBloomSidecar(branch, parent.version + 1,
      collectFileBlooms(spark, parent.files, cols, schema))
    publish(branch, Some(parent),
      if (message.nonEmpty) message
      else s"ANALYZE: bloom index on (${cols.mkString(", ")})",
      schema, parent.files, parent.stats, strStats = parent.strStats,
      nullStats = parent.nullStats, dvs = parent.dvs,
      bloomStats = parent.bloomStats,
      bloomCols = (bloomColsOf(parent) ++ cols).distinct,
      bloomFiles = parent.bloomFiles ++ sidecar,
      dataChange = false)
  }

  /** `ALTER TABLE … SET/UNSET TBLPROPERTIES`: a metadata-only commit
    * adjusting [[Commit.props]]. The `constraint.check.` namespace is
    * reserved — a CHECK constraint smuggled in as a raw property would skip
    * the existing-data validation ADD CONSTRAINT performs, so those keys
    * refuse loudly in both directions. UNSET of a missing key is a no-op
    * within the statement (Delta's behavior), but a statement that changes
    * NOTHING still publishes (idempotent audit trail beats a surprising
    * silent no-op here — the commit is one metadata record). */
  def setTableProperties(branch: String, set: Map[String, String],
                         unset: Seq[String] = Nil,
                         message: String = ""): Commit = synchronized {
    guardWritable(branch)
    val reserved = (set.keys ++ unset).filter(
      _.startsWith(VersionedTable.CheckConstraintPrefix))
    require(reserved.isEmpty,
      s"properties in the ${VersionedTable.CheckConstraintPrefix}* namespace " +
        s"are managed by ADD/DROP CONSTRAINT (existing-data validation), got: " +
        reserved.mkString(", "))
    val parent = headOrThrow(branch)
    publish(branch, Some(parent),
      if (message.nonEmpty) message
      else s"ALTER TABLE SET TBLPROPERTIES (${(set.keys ++ unset).mkString(", ")})",
      DataType.fromJson(parent.schemaJson).asInstanceOf[StructType],
      parent.files, parent.stats, strStats = parent.strStats,
      dvs = parent.dvs, nullStats = parent.nullStats,
      bloomStats = parent.bloomStats, bloomCols = bloomColsOf(parent),
      bloomFiles = parent.bloomFiles, dataChange = false,
      props = Some(parent.props -- unset ++ set))
  }

  // ---- CHECK constraints (Delta `ALTER TABLE … ADD CONSTRAINT`) ----------

  /** The branch head's CHECK constraints: name → predicate SQL. */
  def checkConstraints(branch: String = "main"): Map[String, String] =
    head(branch).map(VersionedTable.checkConstraints).getOrElse(Map.empty)

  /** Delta `ALTER TABLE … ADD CONSTRAINT <name> CHECK (<predicate>)`: a
    * METADATA-ONLY commit that records the predicate in [[Commit.props]]
    * (`constraint.check.<name>`) AFTER validating that every EXISTING row
    * satisfies it — Delta refuses to add a constraint the current snapshot
    * already violates, and so do we (one pushed-down `NOT(p)` scan,
    * short-circuiting on the first violation via `limit(1)`; an empty
    * table validates for free). From this commit on, every row-adding
    * write path enforces the predicate INSIDE its own write job
    * ([[guardChecks]] — zero extra passes on the happy path). NULL
    * satisfies a CHECK, per the SQL standard. Names are case-insensitive
    * and stored lowercase (Delta does the same). */
  def addCheckConstraint(spark: SparkSession, branch: String, name: String,
                         predicateSql: String, message: String = ""): Commit =
    synchronized {
      guardWritable(branch)
      require(name.matches("""[A-Za-z_][A-Za-z0-9_]*"""),
        s"constraint name must be an identifier, got '$name'")
      val key = name.toLowerCase
      val parent = headOrThrow(branch)
      require(!parent.props.contains(VersionedTable.CheckConstraintPrefix + key),
        s"constraint $key already exists on $branch: " +
          s"(${parent.props(VersionedTable.CheckConstraintPrefix + key)}); " +
          "DROP CONSTRAINT first to replace it")
      val schema = DataType.fromJson(parent.schemaJson).asInstanceOf[StructType]
      VersionedTable.validateCheckPredicate(spark, schema, predicateSql)
      if (parent.files.nonEmpty) {
        import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
        val bad = readCommit(spark, parent)
          .where(not(coalesce(expr(predicateSql), lit(true)))).limit(1).collect()
        if (bad.nonEmpty) throw new IllegalArgumentException(
          s"cannot add CHECK constraint $key ($predicateSql) on $branch: " +
            s"existing row violates it: ${bad.head}")
      }
      publish(branch, Some(parent),
        if (message.nonEmpty) message
        else s"ALTER TABLE ADD CONSTRAINT $key CHECK ($predicateSql)",
        schema, parent.files, parent.stats, strStats = parent.strStats,
        dvs = parent.dvs, nullStats = parent.nullStats,
        bloomStats = parent.bloomStats, bloomCols = bloomColsOf(parent),
        bloomFiles = parent.bloomFiles, dataChange = false,
        props = Some(parent.props +
          (VersionedTable.CheckConstraintPrefix + key -> predicateSql)))
    }

  /** Delta `ALTER TABLE … DROP CONSTRAINT [IF EXISTS] <name>`: a
    * metadata-only commit removing the predicate; unknown names refuse
    * loudly unless `ifExists`. */
  def dropCheckConstraint(branch: String, name: String,
                          ifExists: Boolean = false,
                          message: String = ""): Commit = synchronized {
    guardWritable(branch)
    val key = name.toLowerCase
    val parent = headOrThrow(branch)
    val propKey = VersionedTable.CheckConstraintPrefix + key
    if (!parent.props.contains(propKey)) {
      if (ifExists) return parent
      throw new IllegalArgumentException(
        s"no such constraint on $branch: $key (have: " +
          s"${VersionedTable.checkConstraints(parent).keys.toSeq.sorted.mkString(", ")})")
    }
    publish(branch, Some(parent),
      if (message.nonEmpty) message else s"ALTER TABLE DROP CONSTRAINT $key",
      DataType.fromJson(parent.schemaJson).asInstanceOf[StructType],
      parent.files, parent.stats, strStats = parent.strStats,
      dvs = parent.dvs, nullStats = parent.nullStats,
      bloomStats = parent.bloomStats, bloomCols = bloomColsOf(parent),
      bloomFiles = parent.bloomFiles, dataChange = false,
      props = Some(parent.props - propKey))
  }

  /** ONE pass over `frame` for ALL constraints: the first row failing any
    * predicate, with the violated constraint's (name, sql). Shared by the
    * read-back enforcement sites (streaming epochs; merge / cherry-pick
    * incoming files) — k separate limit(1) jobs would re-read the same
    * files k times. */
  private def firstCheckViolation(frame: DataFrame, rowCols: Seq[String],
                                  checks: Seq[(String, String)])
      : Option[(String, String, Row)] = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, not, struct}
    if (checks.isEmpty) return None
    val flags = checks.zipWithIndex.map { case ((_, csql), i) =>
      not(coalesce(expr(csql), lit(true))).as(s"__bad_$i")
    }
    frame
      .select(struct(rowCols.toIndexedSeq.map(col): _*).as("__row") +: flags: _*)
      .where(flags.indices.map(i => col(s"__bad_$i")).reduce(_ || _))
      .limit(1).collect()
      .headOption.map { r =>
        val i = flags.indices.find(i => r.getBoolean(1 + i)).getOrElse(0)
        (checks(i)._1, checks(i)._2, r.getStruct(0))
      }
  }

  /** Enforce `checks` over the LIVE rows of `files` (merged `dvs`
    * applied — a violating row both sides agreed to MOR-delete is not
    * incoming data). Used by the version-graph ops that import rows a
    * branch's own write-time guard never saw (merge, cherry-pick); needs a
    * session, taken from the active/default one — version-graph ops keep
    * their sessionless signatures and only demand a session when there is
    * actually something to validate. */
  private def enforceChecksOnFiles(files: Vector[String],
                                   dvs: Map[String, DeletionVectors.DvDescriptor],
                                   schemaJson: String,
                                   checks: Map[String, String],
                                   context: String): Unit = {
    if (files.isEmpty || checks.isEmpty) return
    val spark = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .getOrElse(throw new IllegalStateException(
        s"$context must validate CHECK constraints " +
          s"(${checks.keys.toSeq.sorted.mkString(", ")}) over the incoming " +
          "files, which needs an active SparkSession"))
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val snap = Commit("VALIDATE", None, -1L, files, schemaJson, "", 0L,
      dvs = dvs)
    firstCheckViolation(readCommit(spark, snap),
      schema.fieldNames.toIndexedSeq, checks.toSeq.sortBy(_._1)).foreach {
      case (name, sql, row) => throw new IllegalStateException(
        s"$context: CHECK constraint $name ($sql) violated by incoming row $row " +
          "— the rows were written on a branch that did not carry the " +
          "constraint; fix them there (or DROP CONSTRAINT) and retry")
    }
  }

  /** CHECK-constraint enforcement, FUSED into the write job (Delta's
    * `CheckInvariant` shape): each constraint becomes one codegen'd filter
    * `coalesce(p, true) OR raise_error(…)` over the outgoing rows — the
    * happy path costs a predicate eval per row inside the job that was
    * writing the rows anyway (no second scan of the batch), and the first
    * violating row aborts the job with a nameable error BEFORE any commit
    * publishes. An aborted job may leave orphan part-files under `data/`;
    * those are unreferenced by any commit and the next vacuum sweeps them —
    * the same contract as a lost version-slot race. Columns the batch
    * omits (mergeSchema appends) evaluate as NULL, which satisfies a CHECK
    * per the SQL standard — exactly what their rows read back as. */
  private def guardChecks(df: DataFrame, parent: Option[Commit]): DataFrame = {
    val checks = parent.map(VersionedTable.checkConstraints).getOrElse(Map.empty)
    if (checks.isEmpty) df
    else {
      import org.apache.spark.sql.functions._
      val schema = DataType.fromJson(parent.get.schemaJson).asInstanceOf[StructType]
      val missing = schema.fields.filter(f => !df.columns.contains(f.name))
      val widened = missing.foldLeft(df)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))
      val guarded = checks.toSeq.sortBy(_._1).foldLeft(widened) {
        case (d, (name, sql)) =>
          // the trailing disjunct is a PLAN BARRIER, never evaluated (the
          // raise_error before it either throws or is short-circuited
          // away): a DECLARED-non-deterministic false that pins the filter
          // at the top of the plan — a deterministic guard would be pushed
          // below a join/filter inside the incoming frame and raise on
          // rows the query was about to DISCARD. The guard must judge
          // exactly the rows that land. (`rand() < -1` would not survive:
          // Spark 4's OptimizeRand folds it away — see
          // [[graft.functions.NondeterministicFalse]].)
          d.where(coalesce(expr(sql), lit(true)) ||
            raise_error(concat(
              lit(s"CHECK constraint $name ($sql) violated by row "),
              to_json(struct(df.columns.map(col).toIndexedSeq: _*)))).cast("boolean") ||
            org.apache.spark.sql.graftbridge.ColumnBridge.column(
              graft.functions.NondeterministicFalse()))
      }
      guarded.select(df.columns.map(col).toIndexedSeq: _*)
    }
  }

  /** One micro-batch epoch of the DSv2 STREAMING sink
    * ([[graft.sources.VtStreamingWrite]]): publish data files the epoch's
    * TASKS already wrote straight into the table root — no DataFrame
    * detour, no driver row traffic — as ONE commit. `overwrite` = Complete
    * output mode (the epoch's rows replace the snapshot); append keeps the
    * parent's files, stats, DVs and bloom index live, recomputing the
    * sticky bloom columns for the new files (the same rule as
    * [[write]]). The schema must match the table's append contract —
    * nullability-insensitive, same names and types — because streamed
    * epochs are homogeneous and Spark already resolved the query against
    * the table schema; a drift here would be a bug, so it throws. */
  private[graft] def commitStreamEpoch(spark: SparkSession, branch: String,
                                       newFiles: Vector[String], schema: StructType,
                                       message: String,
                                       overwrite: Boolean = false,
                                       txn: Option[(String, Long)] = None): Commit =
    synchronized {
      guardWritable(branch)
      val parent = head(branch)
      val tblSchema = parent match {
        case Some(p) if !overwrite =>
          val ps = DataType.fromJson(p.schemaJson).asInstanceOf[StructType]
          def shape(s: StructType) =
            s.fields.map(f => (f.name, VersionedTable.nullNormalized(f.dataType))).toSeq
          require(shape(schema) == shape(ps),
            s"streamed epoch schema ${schema.simpleString} does not match table " +
              s"schema ${ps.simpleString} on $branch")
          ps
        case _ => schema
      }
      // CHECK constraints: the epoch's rows are already on disk (task-written,
      // unreferenced), so enforcement is a read-back of JUST the epoch's new
      // files — O(micro-batch), short-circuiting on the first violation; a
      // refusal leaves only vacuum-sweepable orphans, and the sink surfaces
      // the error to the streaming query before any commit publishes
      locally {
        val checks = parent.map(VersionedTable.checkConstraints)
          .getOrElse(Map.empty).toSeq.sortBy(_._1)
        if (checks.nonEmpty && newFiles.nonEmpty) {
          // ONE pass over the epoch's files for ALL constraints (this runs
          // on every micro-batch — k separate limit(1) jobs would re-read
          // the same files k times)
          val epoch = spark.read.schema(tblSchema)
            .parquet(newFiles.map(f => root.resolve(f).toString): _*)
          firstCheckViolation(epoch, tblSchema.fieldNames.toIndexedSeq, checks)
            .foreach { case (cname, csql, row) =>
              throw new IllegalArgumentException(
                s"CHECK constraint $cname ($csql) violated by streamed epoch " +
                  s"row $row; the epoch was not committed")
            }
        }
      }
      val cols = parent.map(bloomColsOf).getOrElse(Nil).filter(c =>
        tblSchema.fieldNames.contains(c) &&
          VersionedTable.bloomSupported(tblSchema(c).dataType))
      val sidecar = writeBloomSidecar(branch, parent.map(_.version + 1).getOrElse(0L),
        collectFileBlooms(spark, newFiles, cols, tblSchema))
      if (overwrite)
        publish(branch, parent, message, tblSchema, newFiles,
          bloomCols = cols, bloomFiles = sidecar, txn = txn)
      else
        publish(branch, parent, message, tblSchema,
          parent.map(_.files).getOrElse(Vector.empty) ++ newFiles,
          parent.map(_.stats).getOrElse(Map.empty),
          strStats = parent.map(_.strStats).getOrElse(Map.empty),
          nullStats = parent.map(_.nullStats).getOrElse(Map.empty),
          dvs = parent.map(_.dvs).getOrElse(Map.empty),
          bloomStats = parent.map(_.bloomStats).getOrElse(Map.empty),
          bloomCols = cols,
          bloomFiles = parent.map(_.bloomFiles).getOrElse(Vector.empty) ++ sidecar,
          txn = txn)
    }

  /** Newest transaction version `appId` has committed on `branch`, if any
    * (Delta's `txn` lookup): the per-WRITER idempotence watermark —
    * head-first metadata walk to the first commit stamped by this appId,
    * O(commits since that writer's last epoch) reads, no data touched. */
  def lastTxnVersion(branch: String, appId: String): Option[Long] =
    Iterator.iterate(head(branch))(_.flatMap(_.parent).map(loadCommit))
      .takeWhile(_.isDefined).map(_.get)
      .collectFirst { case c if c.txnAppId.contains(appId) => c.txnVersion }
      .flatten

  /** Atomic CTAS/RTAS support ([[graft.sources.VtCatalog]]'s
    * StagingTableCatalog face): write the query's rows as data files
    * UNDER THE TABLE ROOT without publishing any commit. Until
    * [[commitStagedSnapshot]] lands, the files are unreferenced — no
    * reader can see them, and an abort (or a crash) leaves only orphans
    * vacuum reclaims. Unlike the lakeFS-style [[stage]] ref, nothing is
    * recorded on disk but the files themselves, so concurrent staged
    * writes to the same branch cannot clobber each other's state. */
  private[graft] def writeStagedFiles(df: DataFrame, branch: String): Vector[String] =
    // RTAS onto a constrained table enforces the CURRENT head's constraints
    // (the staged snapshot replaces it as one commit; fresh CTAS has none)
    writeDataFiles(guardChecks(df, head(branch)), branch + "-staging",
      head(branch).map(_.version + 1).getOrElse(0L))

  /** Publish a staged snapshot as ONE commit — the atomic half of
    * CTAS/RTAS. The parent is re-read under the lock, so the commit
    * targets whatever head exists NOW and the slot CAS serializes against
    * concurrent writers: a raced atomic CTAS (`mustCreate`) loses cleanly
    * to a concurrent first commit instead of forking v0. The snapshot
    * REPLACES the branch contents (REPLACE TABLE semantics — overwrite
    * schema and all); the parent's sticky bloom column set carries, with
    * the index rebuilt for the new files (same rule as
    * [[write]](mode=overwrite)). */
  private[graft] def commitStagedSnapshot(spark: SparkSession, branch: String,
                                          files: Vector[String], schema: StructType,
                                          message: String,
                                          mustCreate: Boolean = false,
                                          mustReplace: Boolean = false,
                                          extraProps: Map[String, String] = Map.empty)
      : Commit =
    synchronized {
      guardWritable(branch)
      val parent = head(branch)
      if (mustCreate) require(parent.isEmpty,
        s"table already exists on $branch — a concurrent writer created it first")
      if (mustReplace) require(parent.nonEmpty,
        s"REPLACE TABLE: no such table/branch to replace: $branch")
      // RTAS replaces the schema: a CHECK predicate that no longer analyzes
      // against it would go silently dead — refuse, like write(overwriteSchema)
      parent.map(VersionedTable.checkConstraints).getOrElse(Map.empty).foreach {
        case (cname, csql) =>
          try spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
            .select(org.apache.spark.sql.functions.expr(csql)).queryExecution.analyzed
          catch {
            case e: org.apache.spark.sql.AnalysisException =>
              throw new IllegalArgumentException(
                s"REPLACE TABLE would orphan CHECK constraint $cname ($csql) — " +
                  "DROP CONSTRAINT first", e)
          }
      }
      val cols = parent.map(bloomColsOf).getOrElse(Nil).filter(c =>
        schema.fieldNames.contains(c) &&
          VersionedTable.bloomSupported(schema(c).dataType))
      val sidecar = writeBloomSidecar(branch, parent.map(_.version + 1).getOrElse(0L),
        collectFileBlooms(spark, files, cols, schema))
      // REPLACE resets FREE-FORM properties to the statement's declared set
      // (Spark/Delta REPLACE semantics: undeclared properties drop) — but
      // the RESERVED namespaces survive: CHECK constraints stay enforced
      // unless dropped explicitly (the safer reading of RTAS; their
      // predicates were compatibility-probed above), and the engine's own
      // graft.* markers (column-mapping activity) keep their guarantees
      val reserved = parent.map(_.props).getOrElse(Map.empty).view.filterKeys(k =>
        k.startsWith(VersionedTable.CheckConstraintPrefix) ||
          k.startsWith("graft.")).toMap
      publish(branch, parent, message, schema, files,
        bloomCols = cols, bloomFiles = sidecar,
        props = Some(reserved ++ extraProps))
    }

  /** Stage a snapshot on `branch` without committing (lakeFS staging area,
    * `README.md:85-127`). Promote with [[commitStaged]]; discard with [[reset]]. */
  def stage(df: DataFrame, branch: String = "main"): Unit = synchronized {
    guardWritable(branch)
    val parent = head(branch)
    val files = writeDataFiles(guardChecks(df, parent), branch + "-staged",
      parent.map(_.version + 1).getOrElse(0L))
    val staged = Commit("STAGED", parent.map(_.id),
      parent.map(_.version + 1).getOrElse(0L), files, df.schema.json, "", System.currentTimeMillis())
    store.put(stagedRef(branch), CommitLog.toJson(staged))
  }

  def hasStaged(branch: String): Boolean = store.exists(stagedRef(branch))

  /** lakeFS `commit`: promote the staged snapshot to a real commit (V3). */
  def commitStaged(branch: String, message: String): Commit = synchronized {
    guardWritable(branch)
    val stagedPath = stagedRef(branch)
    require(store.exists(stagedPath), s"nothing staged on $branch")
    val staged = CommitLog.fromJson(store.read(stagedPath))
    val c = publish(branch, head(branch), message,
      DataType.fromJson(staged.schemaJson).asInstanceOf[StructType], staged.files)
    store.delete(stagedPath)
    c
  }

  /** lakeFS `reset`: drop staged changes and their orphaned data files (V7). */
  def reset(branch: String): Unit = synchronized {
    val stagedPath = stagedRef(branch)
    if (store.exists(stagedPath)) {
      val staged = CommitLog.fromJson(store.read(stagedPath))
      staged.files.foreach(f => LakeFiles.delete(root.resolve(f)))
      store.delete(stagedPath)
    }
  }

  /** `df`, a row-level DML statement's output, coalesced (no shuffle) to
    * one partition per `spark.sql.files.maxPartitionBytes` of what it
    * reads: the parent's logged sizes of the `files` whose rows it reads
    * plus Catalyst's size estimate of the statement's `source`. Without
    * this a write lands one file per scan split (Spark's open cost puts
    * each small file in its own split) or per shuffle partition, and every
    * file costs a PUT, a manifest entry and a footer read per later scan.
    * Coalescing never raises the partition count; an unknown size (a
    * file without a logged size, a source estimated at the default size)
    * leaves the frame as it is. Apply it before any
    * `sortWithinPartitions`, which a later coalesce would break. */
  private def sizedByInput(df: DataFrame, parent: Commit, files: Vector[String],
                           source: Option[DataFrame]): DataFrame =
    inputSlices(df.sparkSession, parent, files, source).fold(df)(df.coalesce)

  /** The partition count [[sizedByInput]] coalesces to; None when a size is
    * unknown. */
  private def inputSlices(spark: SparkSession, parent: Commit, files: Vector[String],
                          source: Option[DataFrame]): Option[Int] = {
    val conf = spark.sessionState.conf
    val fileBytes = files.map(parent.fileSizes.get)
    val sourceBytes = source.map(_.queryExecution.optimizedPlan.stats.sizeInBytes)
    if (fileBytes.contains(None) || sourceBytes.exists(_ >= conf.defaultSizeInBytes)) None
    else {
      val bytes = BigInt(fileBytes.flatten.sum) + sourceBytes.getOrElse(BigInt(0))
      val per = BigInt(conf.filesMaxPartitionBytes)
      Some(((bytes + per - 1) / per).max(1).min(Int.MaxValue).toInt)
    }
  }

  private def writeDataFiles(df: DataFrame, branch: String, version: Long,
                             mapTo: Option[StructType] = None): Vector[String] = {
    val rel = s"$branch-v$version-${java.util.UUID.randomUUID.toString.take(8)}"
    val out = dataDir.resolve(rel)
    // column mapping (r20): parquet always stores PHYSICAL names — rename
    // the logical frame positionally per the table schema's mapping
    val body = mapTo.map(VersionedTable.toPhysical(df, _)).getOrElse(df)
    LakeFiles.write(body, out, root)
  }

  private def publish(branch: String, parent: Option[Commit], message: String,
                      schema: StructType, files: Vector[String],
                      stats: Map[String, Map[String, (Double, Double)]] = Map.empty,
                      mergeParent: Option[String] = None,
                      strStats: Map[String, Map[String, (String, String)]] = Map.empty,
                      dvs: Map[String, DeletionVectors.DvDescriptor] = Map.empty,
                      nullStats: Map[String, Map[String, Long]] = Map.empty,
                      bloomStats: Map[String, Map[String, String]] = Map.empty,
                      bloomCols: Seq[String] = Nil,
                      bloomFiles: Vector[String] = Vector.empty,
                      dataChange: Boolean = true,
                      txn: Option[(String, Long)] = None,
                      // table properties: None = carry the first parent's
                      // map (constraints et al. are sticky by default);
                      // Some(...) = this commit SETS the map (metadata ops,
                      // and revert/restore restoring an old state's props)
                      props: Option[Map[String, String]] = None,
                      // extra rowCounts/fileSizes inheritance (SHALLOW CLONE
                      // seeds the source's logged metadata so a 10^6-file
                      // clone never reads a footer or stats a file)
                      seedRowCounts: Map[String, Long] = Map.empty,
                      seedFileSizes: Map[String, Long] = Map.empty): Commit = {
    val version = parent.map(_.version + 1).getOrElse(0L)
    val mergeParentCommit = mergeParent.map(loadCommit)
    // Per-file row counts (Delta numRecords): inherited from either parent's
    // map when the file carries over; ONE local footer read per genuinely new
    // file. Keeping them in the log is what makes COUNT(*) metadata-only at
    // object-store scale — the alternative re-reads a footer per file per
    // count. A failed footer read just omits the entry (countRows falls back
    // to a scan); it never fails the publish.
    val inheritedCounts = seedRowCounts ++
      parent.map(_.rowCounts).getOrElse(Map.empty) ++
      mergeParentCommit.map(_.rowCounts).getOrElse(Map.empty)
    VersionedTable.prefetchFooters(
      files.filterNot(inheritedCounts.contains).map(root.resolve(_)))
    val rowCounts = files.flatMap { f =>
      inheritedCounts.get(f).orElse(VersionedTable.footerRowCount(root.resolve(f)))
        .map(f -> _)
    }.toMap
    // per-file byte sizes, same inheritance rule: one local stat per NEW
    // file at publish time buys stat-free scan planning forever after
    val inheritedSizes = seedFileSizes ++
      parent.map(_.fileSizes).getOrElse(Map.empty) ++
      mergeParentCommit.map(_.fileSizes).getOrElse(Map.empty)
    val fileSizes = files.flatMap { f =>
      inheritedSizes.get(f).orElse {
        val p = root.resolve(f)
        try if (Files.exists(p)) Some(Files.size(p)) else None
        catch { case _: java.io.IOException => None }
      }.map(f -> _)
    }.toMap
    // one descriptor per LIVE file; an inline one past the inline cap (a
    // legacy conversion or a merge's union) moves to a `.bin` file here,
    // once, so every recorded vector obeys the cap
    val fileSet = files.toSet
    val liveDvs = dvs.collect {
      case (f, d) if fileSet(f) =>
        f -> (if (d.storageType != "i" || d.cardinality <= DeletionVectors.InlineDvMax) d
              else DeletionVectors.writeDvBytes(root,
                DeletionVectors.z85Decode(d.pathOrInlineDv, d.sizeInBytes), d.cardinality, "data"))
    }
    // r20: per-file metadata moves to immutable shared MANIFEST files; the
    // commit record carries only their paths, so an append's record is
    // O(its new files) — not O(table) — and unchanged segments are reused
    // by reference across commits (Iceberg's manifest sharing).
    val (manifestRefs, orderedFiles) = buildManifests(branch, version,
      parent.map(_.manifests).getOrElse(Vector.empty) ++
        mergeParentCommit.map(_.manifests).getOrElse(Vector.empty), files,
      f => ManifestEntry(f, fileSizes.get(f), rowCounts.get(f),
        stats.getOrElse(f, Map.empty), strStats.getOrElse(f, Map.empty),
        nullStats.getOrElse(f, Map.empty), liveDvs.get(f)))
    val c = Commit(newCommitId(branch, version), parent.map(_.id), version, orderedFiles,
      schema.json, message, System.currentTimeMillis(), stats, mergeParent, strStats,
      liveDvs, Vector.empty, rowCounts, nullStats, fileSizes, bloomStats, bloomCols, bloomFiles,
      dataChange,
      txn.map(_._1), txn.map(_._2),
      props = props.getOrElse(parent.map(_.props).getOrElse(Map.empty)),
      manifests = manifestRefs)
    // pre-commit hooks (lakeFS Actions) see the full candidate and may throw;
    // running BEFORE the slot claim means an abort leaves no claimed slot to
    // sweep — only orphan data files the next vacuum reclaims.
    runPreCommitHooks(branch, c)
    publishCommit(branch, c)
  }

  // ---- reads -------------------------------------------------------------

  def read(spark: SparkSession, branch: String = "main"): DataFrame =
    readCommit(spark, headOrThrow(branch))

  /** Data-skipping read: prune the snapshot's file list with the commit's
    * per-file [min,max] stats for `column` before Spark ever lists them, then
    * apply the residual filter. Files without stats are conservatively kept.
    * This is the lakehouse file-skipping contract: at 100 TB the win is not
    * reading (or even listing) the 99% of files whose range can't match. */
  def readWhere(spark: SparkSession, branch: String, column: String,
                lower: Double, upper: Double): DataFrame = {
    import org.apache.spark.sql.functions.col
    val c = headOrThrow(branch)
    readCommit(spark, c.copy(files = VersionedTable.keptIn(c, column, Left(List((lower, upper))))))
      .where(col(column).cast("double").between(lower, upper))
  }

  /** String-column data-skipping read: same contract as [[readWhere]], with
    * the per-file [min,max] compared as UNSIGNED UTF-8 BYTES — the exact
    * ordering Spark's min/max produced the stats under (UTF8String binary
    * comparison). Java String `<`/`>` (UTF-16 code units) disagrees with it
    * for supplementary-plane code points mixed with U+E000–U+FFFF, and a
    * prune under the wrong order silently drops matching rows, so the
    * byte-wise compare is load-bearing, not cosmetic. Files without string
    * stats for `column` are conservatively kept; the residual filter stays
    * exact (and is evaluated by Spark under the same binary ordering). */
  def readWhereString(spark: SparkSession, branch: String, column: String,
                      lower: String, upper: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val c = headOrThrow(branch)
    readCommit(spark, c.copy(files = VersionedTable.keptIn(c, column, Right(List((lower, upper))))))
      .where(col(column).between(lower, upper))
  }

  /** Delta `versionAsOf` time travel (`jobs/vdt4.py:80-81`, S6/V8) — O(1)
    * metadata reads at any history depth via [[resolveVersion]]. */
  def readVersion(spark: SparkSession, branch: String, version: Long): DataFrame =
    readCommit(spark, resolveVersion(branch, version))

  /** Delta `timestampAsOf` time travel: the newest commit at or before
    * `tsMillis` — "the table as it was at 9am". Walks from the head with an
    * early stop (first-parent timestamps are nondecreasing: every publish
    * stamps after its parent), so the cost is O(commits since `tsMillis`),
    * not O(history) — and once the walk reaches checkpoint coverage it
    * finishes from the in-memory index (1 more read). A timestamp before the
    * first commit is an error, matching Delta's behavior. */
  def readAsOfTimestamp(spark: SparkSession, branch: String, tsMillis: Long): DataFrame =
    readCommit(spark, commitAtTimestamp(branch, tsMillis))

  /** Newest version at or before `tsMillis` — Delta's CDF
    * `endingTimestamp` rule (errors when the timestamp precedes the first
    * commit, like Delta). */
  private[graft] def versionAtOrBefore(branch: String, tsMillis: Long): Long =
    commitAtTimestamp(branch, tsMillis).version

  /** First version at or after `tsMillis` — Delta's CDF
    * `startingTimestamp` rule: a timestamp after the branch's newest
    * commit refuses (there is nothing to stream from it), one before the
    * first commit resolves to version 0. O(commits since tsMillis) like
    * [[commitAtTimestamp]] (checkpoint-accelerated). */
  private[graft] def firstVersionAtOrAfter(branch: String, tsMillis: Long): Long = {
    val h = headOrThrow(branch)
    require(h.ts >= tsMillis,
      s"timestamp $tsMillis is after the newest commit on $branch (${h.ts})")
    // first ≥ ts  ==  (newest ≤ ts−1).version + 1; no commit ≤ ts−1 → v0
    try commitAtTimestamp(branch, tsMillis - 1).version + 1
    catch { case _: IllegalArgumentException => 0L }
  }

  /** Resolve the commit a read addresses — branch head, `versionAsOf`, or
    * `timestampAsOf` (mutually exclusive) — the shared entry point for the
    * read methods above and the `format("vt")` batch relation
    * ([[graft.sources.VtDataSource]]). */
  def resolveRead(branch: String, versionAsOf: Option[Long] = None,
                  timestampAsOf: Option[Long] = None): Commit = {
    require(versionAsOf.isEmpty || timestampAsOf.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    (versionAsOf, timestampAsOf) match {
      case (Some(v), _) => resolveVersion(branch, v)
      case (_, Some(ts)) => commitAtTimestamp(branch, ts)
      case _ => headOrThrow(branch)
    }
  }

  /** The rows of a commit of this table: the one snapshot replay
    * ([[VersionedTable.replay]]) with this table's bloom index. */
  def readCommit(spark: SparkSession, c: Commit): DataFrame =
    VersionedTable.replay(spark, root, c, bloomLookup)

  /** Metadata-only `SELECT COUNT(*)` (Delta answers it from `numRecords` in
    * the log; so does this): when every file has a logged row count, the
    * answer is Σ `rowCounts` − Σ deletion-vector cardinality over the
    * commit record — ZERO file reads and no Spark job, deletion vectors or
    * not, the shape a 10⁶-file table needs (a scan-based count costs a
    * footer GET per file at minimum). Each file carries one descriptor
    * whose cardinality counts its distinct deleted positions, so the
    * subtrahend is exact. Files missing a logged count (pre-rowCounts
    * history) fall back to one real scan-based count. */
  def countRows(spark: SparkSession, branch: String = "main"): Long = {
    val c = headOrThrow(branch)
    VersionedTable.liveRowCount(c).getOrElse(readCommit(spark, c).count())
  }

  /** Metadata-only `SELECT MIN(col), MAX(col)` from the commit log's
    * per-file stats — ZERO file reads, not even footers (Spark's own
    * parquet aggregate pushdown still costs one footer GET per file; at a
    * million files this is the difference between a driver-side fold and
    * a million GETs for the everyday "how fresh is this table?" query).
    * Answers `None` — caller falls back to a scan — whenever the answer
    * cannot be PROVEN from metadata: the snapshot carries deletion
    * vectors (a deletion may have removed the extreme row), or any file
    * lacks stats for the column without being provably all-null
    * (nullCount == rowCount files contribute nothing to min/max, exactly
    * SQL's null-ignoring semantics, so they are safely skipped). Numeric
    * stats live in the double domain (the same domain the skipping stats
    * use), so the answer is exact wherever the column's values are —
    * i.e. for every numeric type except int64 values beyond 2⁵³. */
  def minMaxFromStats(c: Commit, column: String): Option[(Double, Double)] =
    minMaxFrom(c, column, c.stats)(math.min, math.max)

  /** String twin of [[minMaxFromStats]] — the stats were computed under
    * Spark's own binary-UTF-8 string ordering, which is also what SQL
    * MIN/MAX use, so the metadata answer is exact. */
  def minMaxStringFromStats(c: Commit, column: String): Option[(String, String)] =
    minMaxFrom(c, column, c.strStats)(
      (a, b) => if (VersionedTable.utf8Cmp(a, b) <= 0) a else b,
      (a, b) => if (VersionedTable.utf8Cmp(a, b) >= 0) a else b)
      .filterNot { case (mn, mx) =>
        // a stat at the truncation limit may be a truncated BOUND, not the
        // value itself — refuse; the caller's scan fallback stays exact
        VersionedTable.overLimit(mn) || VersionedTable.overLimit(mx)
      }

  def minMaxFromStats(branch: String, column: String): Option[(Double, Double)] =
    minMaxFromStats(headOrThrow(branch), column)

  /** [[minMaxFromStats]] under DELETION VECTORS, one end at a time (r20):
    * a deletion can only REMOVE rows, so the live MIN can only move up and
    * the live MAX only down — and the end stays EXACTLY the stats answer
    * whenever some file ACHIEVING it (a) has ZERO deleted rows, so its
    * extremal value provably survives, and (b) records the exact value
    * rather than a truncation bound. Per-file bounds stay sound for the
    * NON-achieving files in the right direction (statsLower ≤ true min),
    * so only the witness file needs exactness. `dvFree` answers per
    * root-relative file path from the bounded per-file-key cardinality
    * aggregate. Same all-files-known refusal contract as the DV-free
    * twins; no witness → None → the caller's scan fallback stays exact. */
  private[graft] def minMaxNumFromStatsDv(c: Commit, column: String,
      takeMax: Boolean, dvFree: String => Boolean): Option[Double] =
    endFromStatsDv(c, column, takeMax, dvFree, c.stats)(
      Ordering.Double.TotalOrdering, _ => true)

  /** String twin of [[minMaxNumFromStatsDv]] — adds the truncated-bound
    * refusal ([[VersionedTable.overLimit]]) on the witness value. */
  private[graft] def minMaxStringFromStatsDv(c: Commit, column: String,
      takeMax: Boolean, dvFree: String => Boolean): Option[String] =
    endFromStatsDv(c, column, takeMax, dvFree, c.strStats)(
      (a: String, b: String) => VersionedTable.utf8Cmp(a, b),
      s => !VersionedTable.overLimit(s))

  private def endFromStatsDv[T](c: Commit, column: String, takeMax: Boolean,
      dvFree: String => Boolean, statsOf: Map[String, Map[String, (T, T)]])(
      ord: Ordering[T], exact: T => Boolean): Option[T] = {
    if (c.files.isEmpty) return None
    // per file: Some(Some(f, end)) contributes, Some(None) provably
    // all-null (contributes nothing), None = unknown → no metadata answer
    val per: Vector[Option[Option[(String, T)]]] = c.files.map { f =>
      statsOf.get(f).flatMap(_.get(column)) match {
        case Some((mn, mx)) => Some(Some(f -> (if (takeMax) mx else mn)))
        case None =>
          val allNull = for {
            nc <- c.nullStats.get(f).flatMap(_.get(column))
            rows <- c.rowCounts.get(f)
          } yield nc == rows
          if (allNull.contains(true)) Some(None) else None
      }
    }
    if (per.exists(_.isEmpty)) return None
    val ends = per.flatten.flatten
    if (ends.isEmpty) return None // every row null — let the scan say NULL
    val best = if (takeMax) ends.iterator.map(_._2).max(ord)
               else ends.iterator.map(_._2).min(ord)
    val witnessed = ends.exists { case (f, v) =>
      ord.equiv(v, best) && exact(v) && dvFree(f) }
    if (witnessed) Some(best) else None
  }

  private def minMaxFrom[T](c: Commit, column: String,
                            statsOf: Map[String, Map[String, (T, T)]])
                           (lo: (T, T) => T, hi: (T, T) => T): Option[(T, T)] = {
    if (c.dvs.nonEmpty || c.files.isEmpty) None
    else {
      // per file: Some(Some(mm)) contributes, Some(None) provably all-null
      // (contributes nothing), None = unknown → no metadata answer
      val per: Vector[Option[Option[(T, T)]]] = c.files.map { f =>
        statsOf.get(f).flatMap(_.get(column)) match {
          case Some(mm) => Some(Some(mm))
          case None =>
            val allNull = for {
              nc <- c.nullStats.get(f).flatMap(_.get(column))
              rows <- c.rowCounts.get(f)
            } yield nc == rows
            if (allNull.contains(true)) Some(None) else None
        }
      }
      if (per.exists(_.isEmpty)) None
      else {
        val mms = per.flatten.flatten
        if (mms.isEmpty) None // every row null: SQL answer is NULL — scan says so
        else Some((mms.map(_._1).reduce(lo), mms.map(_._2).reduce(hi)))
      }
    }
  }

  /** Sorted deleted positions of an optional descriptor of this table. */
  private def dvPositions(d: Option[DeletionVectors.DvDescriptor]): Array[Long] =
    d.fold(Array.emptyLongArray)(DeletionVectors.positions(root.toString, _))

  /** The live rows of `c` tagged with their provenance — `__graft_fk` (file
    * key: last two path segments) and `__graft_pos` (0-based physical row
    * index from `_metadata.row_index`, stable because data files are
    * immutable) — with `c`'s deletion vectors already subtracted
    * ([[VersionedTable.replayTagged]]). The building block of the
    * merge-on-read path: [[readCommit]] drops the tag columns; row-level
    * DML keeps them to record new deletions. */
  private def scanWithPos(spark: SparkSession, c: Commit): DataFrame =
    VersionedTable.replayTagged(spark, root, c, bloomLookup)

  // ---- branch plumbing (lakeFS README.md:105-147) ------------------------

  /** lakeFS `branch delete`: drop the head pointer (and any staged snapshot
    * with its uncommitted files). Commits stay on disk — another branch may
    * still reach them, and an unreachable commit's data files are reclaimed
    * by the next vacuum, never here (deletion must not be able to corrupt a
    * surviving branch). The last branch cannot be deleted: a repo with no
    * refs would be unreadable. */
  def deleteBranch(name: String): Unit = synchronized {
    guardWritable(name)
    require(branches.contains(name), s"no such branch: $name")
    require(branches.size > 1, s"cannot delete the last branch: $name")
    reset(name) // staged files are uncommitted: safe to reclaim now
    // change-feed cursors are per-branch offsets: a recreated namesake with a
    // shorter history must not inherit them (consumers would silently skip
    // every commit up to the dead branch's offset)
    val cursorsBranchDir = root.resolve("cursors").resolve(VersionedTable.b64(name))
    store.list(cursorsBranchDir).foreach { consumerDir =>
      store.list(consumerDir).foreach(store.delete)
      store.delete(consumerDir)
    }
    store.delete(cursorsBranchDir)
    // the index entry stays: a remove racing a namesake createBranch could
    // strip the NEW branch's entry; branches() filters the dead name
    dropBranch(name)
  }

  // ---- hooks (lakeFS Actions: pre-commit / pre-merge) ---------------------

  private val preCommitHooks =
    new scala.collection.mutable.LinkedHashMap[String, (String, Commit) => Unit]
  private val preMergeHooks =
    new scala.collection.mutable.LinkedHashMap[String, (String, String) => Unit]

  /** lakeFS Actions, pre-commit flavor: `f(branch, candidate)` runs for EVERY
    * commit this handle is about to publish — writes, upserts, deletes,
    * updates, reverts, cherry-picks, and merge commits alike — BEFORE the
    * version slot is claimed. A throwing hook aborts the operation with the
    * table untouched (the candidate's already-written data files are orphans
    * the next vacuum reclaims — the same crash-equivalence the slot protocol
    * already guarantees). The candidate Commit carries files/schema/stats, so
    * hooks can veto on schema drift, file-count explosions, missing stats, or
    * message conventions. Hooks run in registration order and are
    * driver-process-scoped (lakeFS keeps Actions in repo config; a persisted
    * hook would need arbitrary code in the metadata store — a non-goal). */
  def addPreCommitHook(name: String)(f: (String, Commit) => Unit): Unit =
    synchronized { preCommitHooks.update(name, f) }

  def removePreCommitHook(name: String): Boolean =
    synchronized { preCommitHooks.remove(name).isDefined }

  /** Pre-merge flavor: `f(from, into)` runs at [[merge]] entry, before any
    * merge-base computation; throwing vetoes the merge. */
  def addPreMergeHook(name: String)(f: (String, String) => Unit): Unit =
    synchronized { preMergeHooks.update(name, f) }

  def removePreMergeHook(name: String): Boolean =
    synchronized { preMergeHooks.remove(name).isDefined }

  private def runPreCommitHooks(branch: String, candidate: Commit): Unit =
    preCommitHooks.foreach { case (n, f) =>
      try f(branch, candidate) catch {
        case e: Throwable => throw new IllegalStateException(
          s"pre-commit hook '$n' rejected commit on $branch: ${e.getMessage}", e)
      }
    }

  private def runPreMergeHooks(from: String, into: String): Unit =
    preMergeHooks.foreach { case (n, f) =>
      try f(from, into) catch {
        case e: Throwable => throw new IllegalStateException(
          s"pre-merge hook '$n' rejected merge $from -> $into: ${e.getMessage}", e)
      }
    }

  /** Read the table exactly as the tagged commit captured it. */
  def readTag(spark: SparkSession, name: String): DataFrame =
    readCommit(spark, tagCommit(name))

  /** Delta `RESTORE TABLE ... TO VERSION AS OF <tag>`: publish the tagged
    * state as a NEW commit on `branch` — same O(metadata) mechanics as
    * [[revert]] (no data movement, history intact, the restore is itself
    * revertable), but addressed by release name instead of version number,
    * and able to restore a state from ANOTHER branch's lineage (tags are
    * branch-agnostic pins). */
  def restoreTag(name: String, branch: String = "main", message: String = ""): Commit =
    synchronized {
      guardWritable(branch)
      // a typo'd branch must fail, not be silently born from the tag
      val h = headOrThrow(branch)
      val target = tagCommit(name)
      publishState(branch, h, if (message.isEmpty) s"restore tag $name" else message, target)
    }

  /** Delta `CREATE TABLE … SHALLOW CLONE src [VERSION AS OF n]`: THIS table's
    * first commit references the source snapshot's files BY ABSOLUTE PATH —
    * a metadata-only operation (one commit record; zero data copied, zero
    * footers read — the source's logged rowCounts/fileSizes/stats seed the
    * clone's). Every reader path resolves commit entries via
    * `root.resolve(f)`, which passes absolute paths through untouched, so
    * scans, stats pruning, DV subtraction (file KEYS are the last two path
    * segments — unchanged by absolutization) and metadata COUNT all work
    * unchanged on the clone.
    *
    * Divergence is natural copy-on-write: appends add local files next to
    * the external references; a COW rewrite (delete/update/merge/compact)
    * replaces the touched external files with LOCAL rewrites — the clone
    * "localizes" exactly what it changes, like Delta's. The clone's vacuum
    * can never delete source data (the sweep walks only the clone's own
    * `data/` directory). Table properties — CHECK constraints included —
    * clone with the snapshot.
    *
    * Shared-fate caveat (Delta documents the same): `VACUUM` on the SOURCE
    * reclaims files by ITS OWN retention rules and does not know about
    * clones — keep a tag/branch pinning the cloned version on the source,
    * or vacuum the source with enough retention. The bloom sidecar index is
    * NOT carried (its entries key source-relative names); the clone's first
    * own write rebuilds blooms for its new files if `bloomCols` is set. */
  def shallowCloneFrom(src: VersionedTable, srcBranch: String = "main",
                       versionAsOf: Option[Long] = None,
                       branch: String = "main", message: String = ""): Commit =
    synchronized {
      guardWritable(branch)
      require(head(branch).isEmpty,
        s"SHALLOW CLONE target branch $branch already has commits")
      require(src.root.toAbsolutePath != root.toAbsolutePath,
        "SHALLOW CLONE of a table into itself")
      val target = versionAsOf match {
        case Some(v) => src.resolveVersion(srcBranch, v)
        case None => src.headOrThrow(srcBranch)
      }
      def abs(f: String) = src.root.resolve(f).toString
      def absKeys[V](m: Map[String, V]): Map[String, V] =
        m.map { case (k, v) => abs(k) -> v }
      publish(branch, None,
        if (message.nonEmpty) message
        else s"SHALLOW CLONE of ${src.root}@$srcBranch v${target.version}",
        DataType.fromJson(target.schemaJson).asInstanceOf[StructType],
        target.files.map(abs),
        absKeys(target.stats), strStats = absKeys(target.strStats),
        nullStats = absKeys(target.nullStats),
        // a vector file stays the source's: address it absolutely
        dvs = absKeys(target.dvs).map { case (f, d) =>
          f -> DeletionVectors.dvFile(src.root, d).fold(d)(p =>
            d.copy(storageType = "p", pathOrInlineDv = p.toAbsolutePath.toString))
        },
        props = Some(target.props),
        seedRowCounts = absKeys(target.rowCounts),
        seedFileSizes = absKeys(target.fileSizes))
    }

  /** [[shallowCloneFrom]] for a FOREIGN DELTA source: import a stock Delta
    * table (any `_delta_log` this repo's reader replays — delta-spark
    * exports included) as a zero-copy versioned table. The clone's v0
    * references the Delta snapshot's parquet by absolute path; numeric
    * stats / null counts / row counts / sizes convert straight from the
    * add actions' stats JSON (no file I/O at all — the whole import is a
    * log replay plus one commit write), so skip-reads and metadata
    * COUNT(*) work on the import immediately. From there the table is
    * fully native: branches, constraints, MERGE, time travel forward.
    *
    * Refused shapes — each would silently corrupt reads, so they error
    * loudly toward the COPYING path
    * ([[graft.streaming.ChangeFeed.replicateFromDelta]]): PARTITIONED
    * sources (partition values live in the log, not the parquet — a direct
    * scan would drop those columns), sources with live DELETION VECTORS
    * (the clone does not carry them yet; the copy imports them), and COLUMN-MAPPED
    * tables (the parquet carries physical names). String stats are not
    * imported: delta-spark truncates them, and vt's metadata MIN/MAX
    * treats `strStats` as exact (pruning simply stays conservative). */
  def shallowCloneFromDelta(spark: SparkSession, deltaRoot: String,
                            versionAsOf: Option[Long] = None,
                            branch: String = "main",
                            message: String = ""): Commit = synchronized {
    guardWritable(branch)
    require(head(branch).isEmpty,
      s"SHALLOW CLONE target branch $branch already has commits")
    val snap = DeltaLogReader.snapshot(deltaRoot, versionAsOf, Some(spark))
    require(snap.partitionColumns.isEmpty,
      s"cannot shallow-clone a PARTITIONED Delta table (partition values " +
        "live in the log, not the parquet files) — import it with " +
        "replicateFromDelta instead")
    require(snap.files.forall(_.dv.isEmpty),
      "cannot shallow-clone a Delta table with live deletion vectors " +
        "(the shallow clone does not carry live vectors yet) — import it " +
        "with replicateFromDelta, which imports them")
    require(snap.configuration.getOrElse("delta.columnMapping.mode", "none") == "none",
      "cannot shallow-clone a column-mapped Delta table (parquet files " +
        "carry physical column names) — import it with replicateFromDelta instead")
    val droot = java.nio.file.Paths.get(deltaRoot).toAbsolutePath.normalize
    require(droot != root.toAbsolutePath, "SHALLOW CLONE of a table into itself")
    def abs(p: String) = droot.resolve(p).toString
    // numeric stats only: delta-spark's string stats may be truncated
    // envelopes, and the clone's metadata MIN/MAX answers strStats exactly
    val imported = DeltaLogReader.asCommit(snap)
    def byAbs[V](m: Map[String, V]): Map[String, V] = m.map { case (f, v) => abs(f) -> v }
    // the source's own CHECK constraints (`delta.constraints.<name>` in the
    // metaData configuration — Delta predicates are Spark SQL) import into
    // the clone's constraint namespace: the source enforced them over the
    // cloned snapshot already, so no validation scan is needed — only the
    // predicate's ANALYZABILITY against the schema is checked, loudly (an
    // unparseable constraint must not silently become unenforced). Other
    // configuration keys (appendOnly, retention dials, …) are Delta-engine
    // dials with no meaning here and are NOT imported.
    val importedChecks = snap.configuration.collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        val name = k.stripPrefix("delta.constraints.").toLowerCase
        VersionedTable.validateCheckPredicate(spark, snap.schema, v)
        VersionedTable.CheckConstraintPrefix + name -> v
    }
    publish(branch, None,
      if (message.nonEmpty) message
      else s"SHALLOW CLONE of Delta table $deltaRoot v${snap.version}",
      snap.schema, snap.files.map(f => abs(f.path)),
      byAbs(imported.stats), nullStats = byAbs(imported.nullStats),
      props = Some(importedChecks),
      seedRowCounts = byAbs(imported.rowCounts),
      seedFileSizes = byAbs(imported.fileSizes))
  }

  /** V5 `merge from into`: fast-forward when `into` hasn't moved since the
    * branch point; when both branches moved but their changes since the merge
    * base are PURE DISJOINT APPENDS (each side only added files), a true
    * 3-way merge commit unions them — the lakeFS rule that `lakectl merge`
    * succeeds iff no object changed on both sides (reference
    * README.md:141-147), tightened one notch: a side that REMOVED base files
    * (overwrite / compact / revert) conflicts with ANY change on the other
    * side. Object-wise lakeFS would merge that case too, but the row-level
    * outcome — an overwrite snapshot silently interleaved with the other
    * side's appended rows — is ambiguous enough that we refuse it loudly;
    * redo the overwrite on the merged head instead. Likewise two sides
    * that both changed the deletion vector of one base file conflict when
    * either side also added files, since that is how a merge-on-read
    * upsert, MERGE or UPDATE replaces a row; two descriptor-only changes
    * of one file compose, and the merged entry carries the union.
    *
    * The merge commit records the source head as [[Commit.mergeParent]], so
    * the merge base ADVANCES: keep committing appends on `from` and merging —
    * each later merge sees only the new commits as divergence. */
  def merge(from: String, into: String): Commit = synchronized {
    runPreMergeHooks(from, into) // lakeFS Actions: a throwing hook vetoes
    mergeHeads(from, into) { (base, src, dst) =>
      val baseFiles = base.files.toSet
      val srcAdded = src.files.toSet -- baseFiles
      val srcRemoved = baseFiles -- src.files.toSet
      val dstAdded = dst.files.toSet -- baseFiles
      val dstRemoved = baseFiles -- dst.files.toSet
      val overlap = (srcAdded ++ srcRemoved) intersect (dstAdded ++ dstRemoved)
      if (overlap.nonEmpty) throw new IllegalStateException(
        s"merge conflict: ${overlap.size} paths changed on both $from and $into " +
          s"since the merge base (e.g. ${overlap.toSeq.sorted.take(3).mkString(", ")})")
      // merge-on-read deletes count as changes against a rewriting side:
      // an overwrite replaced the very objects the other side's deletion
      // vectors point into, so silently unioning them would drop the delete
      // intent (append + MOR-delete still merge cleanly below — DV union)
      val srcDv = VersionedTable.dvChanged(base, src)
      val dstDv = VersionedTable.dvChanged(base, dst)
      if (srcRemoved.nonEmpty && (dstAdded.nonEmpty || dstRemoved.nonEmpty || dstDv.nonEmpty))
        throw new IllegalStateException(
          s"merge conflict: $from replaced base files (overwrite/compact/revert) while " +
            s"$into also changed — merging would silently combine an overwrite snapshot " +
            "with the other side's rows; redo the rewrite on the merged head instead")
      if (dstRemoved.nonEmpty && (srcAdded.nonEmpty || srcDv.nonEmpty))
        throw new IllegalStateException(
          s"merge conflict: $into replaced base files (overwrite/compact/revert) while " +
            s"$from appended — merging would silently graft $from's rows onto the rewritten " +
            "snapshot; redo the append on the merged head instead")
      // a side that grew the deletion vector of a base file AND added files
      // may have replaced those rows (upsert, MERGE or UPDATE on the retire
      // side, or a vector delete plus an append); if the other side grew
      // the same file's vector too, the union could keep two images of one
      // row. File-granular, as copy-on-write was (both sides rewrote that
      // file): refuse. Sides that only delete by vector still compose — a
      // row deleted twice is deleted once.
      val both = srcDv intersect dstDv
      if (both.nonEmpty && (srcAdded.nonEmpty || dstAdded.nonEmpty))
        throw new IllegalStateException(
          s"merge conflict: $from and $into both retired rows of ${both.size} base " +
            s"file(s) by deletion vector since the merge base, and rows were added " +
            s"as well (e.g. ${both.toSeq.sorted.take(3).mkString(", ")}) — merging " +
            "could keep two versions of one row; redo one side's change on the merged head")
      if (src.schemaJson != dst.schemaJson) throw new IllegalStateException(
        s"merge conflict: $from and $into disagree on the table schema")
      // TABLE-PROPERTIES 3-way merge (constraints included), git's per-key
      // rule: a key changed on ONE side since the base carries; changed
      // DIFFERENTLY on both sides conflicts loudly — silently keeping one
      // side would drop a constraint (or a governance tag) nobody deleted.
      val mergedProps: Map[String, String] =
        (base.props.keySet ++ src.props.keySet ++ dst.props.keySet).flatMap { k =>
          (base.props.get(k), src.props.get(k), dst.props.get(k)) match {
            case (_, s, d) if s == d => s.map(k -> _) // agree (both set same / both absent)
            case (b, s, d) if s == b => d.map(k -> _) // only dst changed
            case (b, s, d) if d == b => s.map(k -> _) // only src changed
            case _ => throw new IllegalStateException(
              s"merge conflict: table property '$k' changed differently on " +
                s"$from and $into since the merge base — resolve it with " +
                "SET/UNSET TBLPROPERTIES (or DROP CONSTRAINT) on one side")
          }
        }.toMap
      val merged = (dst.files.filterNot(srcRemoved.contains) ++
        src.files.filter(srcAdded.contains)).distinct.sorted.toVector
      // deletion vectors: each side's own files keep theirs; a base file
      // takes the side that changed its vector, or the union when both did
      val mergedDvs = dst.dvs ++ src.dvs.view.filterKeys(f => !baseFiles(f) || srcDv(f)) ++
        both.map(f => f -> DeletionVectors.inlineDescriptor(
          (dvPositions(src.dvs.get(f)) ++ dvPositions(dst.dvs.get(f))).toSeq))
      // CHECK constraints judge the rows each side IMPORTS (a branch's own
      // writes were fused-guarded when they landed, but a branch that never
      // carried the constraint enforced nothing): constraints the TARGET
      // carries validate the source's added files; constraints NEWLY
      // arriving from the source validate the target's own post-base files
      // (the source's ADD already validated its snapshot, base included).
      // Bounded by the merge delta, short-circuits on the first violation,
      // and MOR-deleted rows don't count (merged DVs applied).
      locally {
        val inMerged = VersionedTable.checkConstraints _
        val mergedChecks = mergedProps.collect {
          case (k, v) if k.startsWith(VersionedTable.CheckConstraintPrefix) =>
            k.stripPrefix(VersionedTable.CheckConstraintPrefix) -> v
        }
        val dstChecks = inMerged(dst).filter { case (n, v) =>
          mergedChecks.get(n).contains(v) }
        val srcNewChecks = mergedChecks.filter { case (n, v) =>
          !inMerged(dst).get(n).contains(v) }
        enforceChecksOnFiles(src.files.filter(srcAdded.contains), mergedDvs,
          dst.schemaJson, dstChecks, s"merge $from into $into")
        enforceChecksOnFiles(dst.files.filter(dstAdded.contains), mergedDvs,
          dst.schemaJson, srcNewChecks, s"merge $from into $into")
      }
      publish(into, Some(dst), s"merge $from into $into",
        DataType.fromJson(dst.schemaJson).asInstanceOf[StructType], merged,
        dst.stats ++ src.stats, mergeParent = Some(src.id),
        strStats = dst.strStats ++ src.strStats,
        nullStats = dst.nullStats ++ src.nullStats,
        // concurrent merge-on-read deletes compose — the merged snapshot
        // subtracts BOTH sides' deleted positions
        dvs = mergedDvs,
        bloomStats = dst.bloomStats ++ src.bloomStats,
        bloomCols = (dst.bloomCols ++ src.bloomCols).distinct,
        bloomFiles = (dst.bloomFiles ++ src.bloomFiles).distinct.sorted,
        props = Some(mergedProps))
    }
  }

  /** V6 `revert`: append a NEW commit whose snapshot equals `toVersion` —
    * history is never rewritten (lakeFS `README.md:132`). */
  def revert(branch: String, toVersion: Long, message: String = ""): Commit = synchronized {
    guardWritable(branch)
    val target = resolveVersion(branch, toVersion)
    publishState(branch, headOrThrow(branch),
      if (message.isEmpty) s"revert to v$toVersion" else message, target)
  }

  /** Publish `target`'s STATE as a new commit over `parent` — revert,
    * restore and the raced-write repair. Table properties (constraints)
    * come back with it, Delta's RESTORE semantics: the restored data was
    * validated under the restored constraint set, not the current one. */
  private def publishState(branch: String, parent: Commit, message: String,
                           target: Commit): Commit =
    publish(branch, Some(parent), message,
      DataType.fromJson(target.schemaJson).asInstanceOf[StructType], target.files,
      target.stats, strStats = target.strStats, nullStats = target.nullStats,
      dvs = target.dvs, bloomStats = target.bloomStats,
      bloomCols = target.bloomCols, bloomFiles = target.bloomFiles,
      props = Some(target.props))

  /** Delta `RESTORE TABLE … TO TIMESTAMP AS OF`: [[revert]] addressed by
    * wall clock — the restored state is the newest commit at or before
    * `tsMillis` (same resolution as [[readAsOfTimestamp]], checkpoint-
    * accelerated), published as a NEW commit so history stays. */
  def restoreToTimestamp(tsMillis: Long, branch: String = "main",
                         message: String = ""): Commit = synchronized {
    val target = commitAtTimestamp(branch, tsMillis)
    revert(branch, target.version,
      if (message.nonEmpty) message
      else s"RESTORE TO TIMESTAMP AS OF $tsMillis (v${target.version})")
  }

  /** [[revert]] with the parent PINNED to `raced` — the raced-first-write
    * repair ([[graft.sources.VtDataSource]]). A plain `revert` re-reads the
    * branch head internally, so a third writer landing between the caller's
    * head check and that read would become the revert's parent and be
    * silently reverted out of head. Pinning the parent makes the repair
    * target exactly slot `raced.version + 1`: a third writer's claim of
    * that slot fails this publish's CAS
    * ([[java.util.ConcurrentModificationException]]) and the repair is
    * SKIPPED — it can only ever undo `raced` itself, never a later commit.
    * The restored snapshot is `raced`'s own parent (the concurrent winner
    * the mode contract says should own the table). */
  private[graft] def revertRaced(branch: String, raced: Commit,
                                 message: String): Commit = synchronized {
    guardWritable(branch)
    val target = loadCommit(raced.parent.getOrElse(throw new IllegalStateException(
      s"revertRaced needs a raced commit with a parent, got root ${raced.id}")))
    publishState(branch, raced, message, target) // restores the winner's state
  }

  /** lakeFS `cherry-pick` (lakectl's single-commit transplant): apply the
    * CHANGE one commit introduced — its file delta versus its own parent —
    * onto `into`'s head as a NEW commit, with no merge parent (git's
    * cherry-pick shape: the transplanted change does not link histories).
    * Object-granular and O(metadata):
    *
    *   added   = picked.files − parent.files
    *   removed = parent.files − picked.files
    *
    * The pick CONFLICTS loudly when the target no longer carries a removed
    * file (that object already changed or vanished on `into` — the
    * changed-on-both-sides rule) or already carries an added file, and when
    * the two heads disagree on the table schema (grafting files under a
    * diverged schema would silently null/drop columns — same rule as
    * [[merge]]). A root commit's delta is its full snapshot. An empty delta
    * (e.g. picking a revert that landed on its own parent state) is a no-op
    * returning the unchanged head. */
  def cherryPick(fromBranch: String, version: Long, into: String): Commit = synchronized {
    guardWritable(into)
    val picked = resolveVersion(fromBranch, version)
    val pickedParent = picked.parent.map(loadCommit)
    val parentFiles = pickedParent.map(_.files.toSet).getOrElse(Set.empty)
    val added = picked.files.filterNot(parentFiles.contains)
    val removed = parentFiles -- picked.files.toSet
    // a merge-on-read delete's whole delta is the positions it added to
    // surviving files' vectors
    val dvDelta: Map[String, Array[Long]] = pickedParent.toSeq.flatMap { pp =>
      VersionedTable.dvChanged(pp, picked).map { f =>
        val before = dvPositions(pp.dvs.get(f)).toSet
        f -> dvPositions(picked.dvs.get(f)).filterNot(before)
      }
    }.toMap
    val dst = headOrThrow(into)
    if (added.isEmpty && removed.isEmpty && dvDelta.isEmpty) return dst
    val dstFiles = dst.files.toSet
    val missing = removed.filterNot(dstFiles.contains)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"cherry-pick conflict: ${missing.size} file(s) removed by $fromBranch@v$version " +
        s"no longer exist on $into (e.g. ${missing.toSeq.sorted.take(3).mkString(", ")})")
    val dup = added.filter(dstFiles.contains)
    if (dup.nonEmpty) throw new IllegalStateException(
      s"cherry-pick conflict: ${dup.size} file(s) added by $fromBranch@v$version " +
        s"already present on $into (e.g. ${dup.sorted.take(3).mkString(", ")})")
    if (picked.schemaJson != dst.schemaJson) throw new IllegalStateException(
      s"cherry-pick conflict: $fromBranch@v$version and $into disagree on the table schema")
    // the transplanted files were written under the SOURCE branch's
    // constraint set — the target's CHECK constraints must judge them
    // (bounded by the pick's delta; DV-deleted rows don't count)
    val files = (dst.files.filterNot(removed.contains) ++ added).distinct.sorted.toVector
    val dvs = dst.dvs ++ picked.dvs.view.filterKeys(added.toSet) ++
      dvDelta.collect { case (f, ps) if dst.files.contains(f) && ps.nonEmpty =>
        f -> DeletionVectors.inlineDescriptor((dvPositions(dst.dvs.get(f)) ++ ps).toSeq)
      }
    enforceChecksOnFiles(added, dvs, dst.schemaJson, VersionedTable.checkConstraints(dst),
      s"cherry-pick $fromBranch@v$version into $into")
    publish(into, Some(dst),
      s"cherry-pick $fromBranch@v$version (${picked.id.take(8)}): ${picked.message}",
      DataType.fromJson(dst.schemaJson).asInstanceOf[StructType], files,
      dst.stats.view.filterKeys(files.contains).toMap ++
        picked.stats.view.filterKeys(added.contains).toMap,
      strStats = dst.strStats.view.filterKeys(files.contains).toMap ++
        picked.strStats.view.filterKeys(added.contains).toMap,
      nullStats = dst.nullStats.view.filterKeys(files.contains).toMap ++
        picked.nullStats.view.filterKeys(added.contains).toMap,
      dvs = dvs,
      bloomStats = dst.bloomStats.view.filterKeys(files.contains).toMap ++
        picked.bloomStats.view.filterKeys(added.contains).toMap,
      bloomCols = (dst.bloomCols ++ picked.bloomCols).distinct,
      // picked sidecars carry whole; entries for files the pick did not
      // transplant are dead-but-harmless (lookups key on live file names)
      bloomFiles = (dst.bloomFiles ++ picked.bloomFiles).distinct.sorted)
  }

  // ---- vacuum (jobs/vdt4.py:84-85, V9) -----------------------------------

  /** Delete data files unreferenced by any retained commit. A commit is
    * retained iff it is among the newest `retainLast` versions of some
    * branch's lineage (plus every staged snapshot). Returns #files deleted.
    *
    * `dryRun = true` (Delta's `VACUUM ... DRY RUN`): report the count that
    * WOULD be deleted and mutate NOTHING. The stale-slot sweep runs in PLAN
    * mode — a pure read that reports the ref repairs a real sweep would
    * perform — and retention is priced against those VIRTUAL post-sweep
    * heads, so the dry-run count matches the subsequent real vacuum even in
    * a crashed-writer state (r12 advice: the old dry run skipped the sweep
    * and could over- or under-count around an orphan replay).
    *
    * Safety invariant (property-tested): a file referenced by any retained
    * version is never deleted — vacuum can only break time travel to versions
    * older than the retention horizon, exactly like Delta's `vacuum()`.
    *
    * Eventually-consistent listings (S3-class stores, [[S3SimMetaStore]]
    * with `listDelayMs` > 0) cannot corrupt retention: branch enumeration
    * goes through the single-key [[branchIndex]] in union with the listing,
    * so a branch created a millisecond ago is priced into retention even
    * while its ref lags out of LIST (MetaStoreSpec pins exactly this:
    * branch → overwrite past it → vacuum under an EC store → the branch's
    * exclusive files survive). Slot sweeps are likewise safe — an unlisted
    * young slot is merely repaired a cycle later.
    */
  def vacuum(retainLast: Int = 1, staleSlotMs: Long = VersionedTable.DefaultStaleSlotMs,
             dryRun: Boolean = false): Int = synchronized {
    vacuumLast(retainLast, staleSlotMs, dryRun)
  }

  /** Time-based retention, Delta's `vacuum()` dial (`jobs/vdt4.py:84-85`
    * defaults to 168h): a commit is retained iff it is younger than
    * `retainHours` — or is a branch head, which is always kept so the table
    * stays readable. `nowMs` is injectable for deterministic tests.
    * `dryRun` COUNTS the reclaimable files without deleting (Delta's
    * `VACUUM … DRY RUN`, same plan-then-act shape as [[vacuum]]'s dial —
    * planned-but-unacted ref repairs substitute for the real sweep's). */
  def vacuumRetainHours(retainHours: Double,
                        nowMs: Long = System.currentTimeMillis(),
                        staleSlotMs: Long = VersionedTable.DefaultStaleSlotMs,
                        dryRun: Boolean = false): Int = synchronized {
    vacuumHours(retainHours, nowMs, staleSlotMs, dryRun)
  }

  protected def stagedFiles: Seq[String] =
    branches.filter(hasStaged).flatMap(b => CommitLog.fromJson(store.read(stagedRef(b))).files)

  /** CDC between two versions of a branch: row-level changes as a DataFrame
    * of (change_type, row-columns).
    *
    * Fast path: when the interval is APPEND-ONLY (every `fromVersion` file is
    * still in `toVersion`'s snapshot — the common case for ingest branches),
    * the inserts are EXACTLY the rows of the added files, so the plan scans
    * only the delta files and touches neither snapshot. At 100 TB this is
    * the difference between reading the day's increment and diffing two
    * petabyte snapshots. Detected from commit metadata alone (file-list
    * subset check), so the decision costs no I/O.
    *
    * General path (overwrites/upserts/reverts in the interval): exceptAll
    * both ways — but FILE-GRANULAR, not snapshot-granular. Files are
    * immutable, so every file common to both snapshots contributes the same
    * bag of rows to each side and cancels out of the bag difference exactly:
    *   bag(to) ∖ bag(from) = bag(added files) ∖ bag(removed files).
    * The plan therefore scans only the SYMMETRIC DIFFERENCE of the two file
    * lists (decided from commit metadata, zero I/O). For a copy-on-write
    * upsert that rewrote 1% of a petabyte table, that is a diff over ~2% of
    * the files instead of two full snapshots. Rows that were merely COPIED
    * into a rewritten file (same values, new file) appear in both restricted
    * bags and cancel, so the output is still exactly the row-level delta. */
  def changes(spark: SparkSession, branch: String, fromVersion: Long,
              toVersion: Long): DataFrame =
    changesBetween(spark, resolveVersion(branch, fromVersion),
      resolveVersion(branch, toVersion))

  /** [[changes]] over already-resolved commits — what [[changesFeed]] calls
    * so an N-interval feed resolves the lineage ONCE (O(history) metadata
    * reads total), not twice per interval. */
  private def changesBetween(spark: SparkSession, from: Commit, to: Commit): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val appendOnly = VersionedTable.appendOnly(from, to) && from.schemaJson == to.schemaJson
    if (appendOnly) {
      val added = to.files.filterNot(from.files.toSet)
      readCommit(spark, to.copy(files = added))
        .withColumn("change_type", lit("insert"))
    } else {
      // The interval may contain a mergeSchema append, so the two snapshots
      // can disagree on columns; align both sides to the union schema with
      // null-filled missing columns before the bag diff (append forbids
      // same-name/different-type, so a name appears with one type only).
      // Without this the exceptAll below throws AnalysisException at runtime.
      val fromSchema = DataType.fromJson(from.schemaJson).asInstanceOf[StructType]
      val toSchema = DataType.fromJson(to.schemaJson).asInstanceOf[StructType]
      val allFields = toSchema.fields ++
        fromSchema.fields.filterNot(f => toSchema.fieldNames.contains(f.name))
      def align(df: DataFrame): DataFrame = df.select(allFields.toIndexedSeq.map { f =>
        import org.apache.spark.sql.functions.col
        if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
      // file-granular restriction: common immutable files cancel, diff only
      // the symmetric difference (removed files on the before side, added on
      // the after side) — PLUS any common file whose deletion vectors changed
      // in the interval: its row set differs even though the file bytes are
      // identical, so it must enter both sides (a merge-on-read delete stays
      // file-granular in CDC: only the DV-touched files are scanned, found by
      // reading the interval's small DV delta, never the corpus)
      val toSet = to.files.toSet
      val fromSet = from.files.toSet
      val dvTouched = VersionedTable.dvChanged(from, to) // reverts drop DVs too
      // PURE-DV step (r21, guide §2.3/§2.4): same file set, same schema, only
      // deletion vectors moved — a MOR delete (or its revert). The bag diff
      // below shuffles EVERY row of the touched files through two exceptAll
      // aggregations; but the change set is, by construction, exactly the
      // rows at the symmetric position difference of the two descriptors.
      // Read the touched files once with `_metadata.row_index` and inner-
      // broadcast-join the O(changed rows) position delta, decoded from the
      // descriptors on the driver — zero shuffle of data rows. Values are
      // bag-identical to the exceptAll form (positions are unique per file,
      // so each changed position contributes exactly its row once — even
      // when equal-valued rows exist elsewhere). Bounded: the position delta
      // is broadcast, so fall back to the bag diff when the touched
      // descriptors' cardinalities exceed the cap (a 100 TB mega-delete
      // keeps the shuffle path).
      val pureDvCap = 2000000L
      def card(c2: Commit, f: String) = c2.dvs.get(f).map(_.cardinality).getOrElse(0L)
      if (fromSet == toSet && from.schemaJson == to.schemaJson && dvTouched.nonEmpty &&
          dvTouched.iterator.map(f => card(from, f) + card(to, f)).sum <= pureDvCap) {
        import org.apache.spark.sql.functions.{broadcast, col}
        import spark.implicits._
        val delta = dvTouched.toSeq.flatMap { f =>
          val (was, now) = (dvPositions(from.dvs.get(f)).toSet, dvPositions(to.dvs.get(f)).toSet)
          val fk = VersionedTable.fileKey(f)
          (now -- was).toSeq.map(p => (fk, p, "delete")) ++ // newly deleted positions
            (was -- now).toSeq.map(p => (fk, p, "insert"))  // un-deleted (revert)
        }.toDF(VersionedTable.FkCol, VersionedTable.PosCol, "change_type")
        // only the touched files, raw (NO DV subtraction)
        val rows = scanWithPos(spark, to.copy(files = to.files.filter(dvTouched), dvs = Map.empty))
        def attach(kind: String) =
          align(rows.join(broadcast(delta.where(col("change_type") === kind).drop("change_type")),
            Seq(VersionedTable.FkCol, VersionedTable.PosCol))
            .drop(VersionedTable.FkCol, VersionedTable.PosCol))
            .withColumn("change_type", lit(kind))
        return attach("insert").unionByName(attach("delete"))
      }
      val before = align(readCommit(spark,
        from.copy(files = from.files.filter(f => !toSet(f) || dvTouched(f)))))
      val after = align(readCommit(spark,
        to.copy(files = to.files.filter(f => !fromSet(f) || dvTouched(f)))))
      after.exceptAll(before).withColumn("change_type", lit("insert"))
        .unionByName(before.exceptAll(after).withColumn("change_type", lit("delete")))
    }
  }

  /** Delta-CDF-style change feed (`table_changes` shape): the per-commit
    * deltas of the interval `(fromVersion, toVersion]`, each row tagged with
    * the commit version that produced it — what a downstream incremental
    * consumer replays commit-by-commit instead of as one squashed diff
    * (upsert-then-delete sequences stay visible; the squashed [[changes]]
    * would cancel them). Each per-commit interval takes the same fast paths
    * as [[changes]]: append-only commits scan only their delta files,
    * rewrites diff only the symmetric file difference.
    *
    * Scale shape (r12 advice): metadata is O(interval span) reads — one
    * bounded walk via [[commitRange]], never a full-lineage replay — and the
    * PLAN is O(#rewrite-commits + #schema-changes) nodes, not O(V): maximal
    * runs of append-only same-schema commits collapse into ONE parquet scan
    * over their delta files, with each row's `version` assigned by a
    * broadcast join of file→version (files are immutable and belong to
    * exactly the commit that added them). A year of streaming ingest
    * (thousands of append commits) replays as a single scan. */
  def changesFeed(spark: SparkSession, branch: String, fromVersion: Long,
                  toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, concat_ws, input_file_name, lit, slice, split}
    require(toVersion > fromVersion,
      s"changesFeed needs an ascending interval, got ($fromVersion, $toVersion]")
    val range = commitRange(branch, fromVersion, toVersion)
    val steps = range.zip(range.tail) // (v-1 commit, v commit) per feed version
    final case class Run(schemaJson: String, pairs: List[(String, Long)])
    val segments = scala.collection.mutable.ListBuffer.empty[Either[Run, (Commit, Commit)]]
    steps.foreach { case (from, to) =>
      val appendOnly = VersionedTable.appendOnly(from, to) && from.schemaJson == to.schemaJson
      if (appendOnly) {
        val added = to.files.filterNot(from.files.toSet).map(_ -> to.version).toList
        segments.lastOption match {
          case Some(Left(run)) if run.schemaJson == to.schemaJson =>
            segments.update(segments.size - 1, Left(Run(run.schemaJson, run.pairs ++ added)))
          case _ => segments += Left(Run(to.schemaJson, added))
        }
      } else segments += Right((from, to))
    }
    // Version assignment key: the last two path segments (uuid'd commit dir +
    // part file) — unique per file, scheme-independent (input_file_name
    // returns a URI; the relative path in the commit log does not).
    def fileKey(rel: String): String = VersionedTable.fileKey(rel)
    val frames = segments.toList.flatMap {
      case Left(run) if run.pairs.isEmpty => None // steps that appended nothing
      case Left(run) =>
        import spark.implicits._
        val schema = DataType.fromJson(run.schemaJson).asInstanceOf[StructType]
        val versionByFile = run.pairs.map { case (f, v) => (fileKey(f), v) }
          .toDF("__fk", "version")
        Some(spark.read.schema(schema)
          .parquet(run.pairs.map { case (f, _) => root.resolve(f).toString }: _*)
          .withColumn("__fk", concat_ws("/", slice(split(input_file_name(), "/"), -2, 2)))
          .join(broadcast(versionByFile), "__fk")
          .drop("__fk")
          .withColumn("change_type", lit("insert")))
      case Right((from, to)) =>
        Some(changesBetween(spark, from, to).withColumn("version", lit(to.version)))
    }
    if (frames.isEmpty) {
      val schema = DataType.fromJson(range.last.schemaJson).asInstanceOf[StructType]
        .add("change_type", org.apache.spark.sql.types.StringType)
        .add("version", org.apache.spark.sql.types.LongType, nullable = false)
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    } else frames.reduce(_.unionByName(_))
  }

  /** Delta's `table_changes(tbl, start, end)` surface over [[changesFeed]]:
    * the per-commit row deltas of versions `[startVersion, endVersion]`
    * (both INCLUSIVE, Delta's contract), each row tagged with Delta's CDF
    * metadata columns — `_change_type`, `_commit_version`,
    * `_commit_timestamp`. `startVersion = 0` includes the root commit's
    * rows as inserts (a feed interval is exclusive below, so v0 is the
    * snapshot itself). Same scale shape as the feed: append-only runs
    * collapse to one delta-file scan, rewrites diff only symmetric file
    * differences, and the timestamp attaches via ONE broadcast of the
    * interval's O(span) version→ts metadata — never a per-row lineage
    * walk. SQL-text form: `SELECT … FROM table_changes('[branch@]path',
    * s [, e])` via [[graft.plans.TableChangesRule]] (extensions
    * sessions); this method is the extensions-free door. */
  def tableChanges(spark: SparkSession, branch: String, startVersion: Long,
                   endVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit, timestamp_millis}
    import spark.implicits._
    require(startVersion >= 0,
      s"table_changes: startVersion must be >= 0, got $startVersion")
    require(endVersion >= startVersion,
      s"table_changes: need startVersion <= endVersion, got [$startVersion, $endVersion]")
    // the feed plumbing tags rows with unprefixed `change_type`/`version`
    // columns ([[changesFeed]]'s documented output) and this method joins
    // on `__ts_ms` — a DATA column with one of those names would be
    // silently clobbered and then dropped from the output. Refuse loudly
    // (Delta likewise reserves its CDF column names).
    locally {
      val schema = DataType.fromJson(
        resolveVersion(branch, endVersion).schemaJson).asInstanceOf[StructType]
      val clash = schema.fieldNames.filter(
        Set("change_type", "version", "__ts_ms").contains)
      require(clash.isEmpty,
        s"table_changes: column name(s) ${clash.mkString(", ")} collide with " +
          "the change-feed metadata columns — rename the column(s) to read " +
          "this table's changes")
    }
    val feed =
      if (startVersion == 0) {
        val c0 = resolveVersion(branch, 0L)
        val v0 = readCommit(spark, c0)
          .withColumn("change_type", lit("insert"))
          .withColumn("version", lit(0L))
        if (endVersion == 0) v0
        else v0.unionByName(changesFeed(spark, branch, 0L, endVersion),
          allowMissingColumns = true) // mergeSchema evolution inside the interval
      } else changesFeed(spark, branch, startVersion - 1, endVersion)
    // version → commit millis for the interval: [max(start-1,0), end] is
    // already the metadata the feed walked; one tiny broadcast frame
    val tsByVersion = commitRange(branch, math.max(startVersion - 1, 0L), endVersion)
      .filter(_.version >= startVersion || startVersion == 0)
      .map(c => (c.version, c.ts)).toDF("version", "__ts_ms")
    val rowCols = feed.columns.filterNot(Set("change_type", "version")).toIndexedSeq
    feed.join(broadcast(tsByVersion), Seq("version"), "left")
      .select(rowCols.map(col) ++ Seq(
        col("change_type").as("_change_type"),
        col("version").as("_commit_version"),
        timestamp_millis(col("__ts_ms")).as("_commit_timestamp")): _*)
  }

  /** Commit history of a branch, newest first: (version, message, ts, n_files). */
  def history(spark: SparkSession, branch: String): DataFrame = {
    import spark.implicits._
    lineage(branch).map(c => (c.version, c.message, c.ts, c.files.size))
      .toDF("version", "message", "ts", "n_files")
  }

  /** Small-file compaction: rewrite the head snapshot into `numFiles` files
    * as a NEW version (history intact — old versions still time-travel, and
    * vacuum reclaims the small files once they fall off the retention
    * horizon). The at-scale answer to streaming/append write amplification. */
  /** Run a LAYOUT-ONLY commit (compaction, z-order) with Delta OPTIMIZE's
    * concurrency rule: losing the version-slot race to a concurrent writer is
    * not an error, because a layout rewrite commutes with any committed
    * change — the right response is to re-read the NEW head (picking up the
    * winner's rows) and rewrite again. Bounded retries: maintenance must
    * never starve out real writers, so after `maxRetries` losses the caller
    * gets the plain conflict. `attempt` MUST re-read the head each call —
    * that is the rebase. */
  private def retryLayoutCommit(maxRetries: Int)(attempt: () => Commit): Commit = {
    var lost = 0
    while (true) {
      try return attempt()
      catch {
        case e: java.util.ConcurrentModificationException =>
          lost += 1
          if (lost > maxRetries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def compact(spark: SparkSession, branch: String = "main", numFiles: Int = 1,
              statsCols: Seq[String] = Nil, maxRetries: Int = 3): Commit =
    retryLayoutCommit(maxRetries) { () =>
      write(read(spark, branch).repartition(numFiles), branch,
        s"compact to $numFiles files", statsCols = statsCols, dataChange = false)
    }

  /** Delta `OPTIMIZE ZORDER BY (a, b, …)`: rewrite the head snapshot
    * sorted by the Morton interleave of 1..n numeric columns
    * ([[graft.ops.Scale.zValueN]]) as a NEW version with fresh per-file
    * stats on EVERY clustered column — each file then covers a small
    * hyper-rectangle of the clustered space, so [[readWhere]] range
    * probes on ANY of them prune files. Rows are untouched (layout-only
    * commit, history intact); the normalization bounds come from one
    * bounded driver action. */
  def compactZorder(spark: SparkSession, branch: String, cols: Seq[String],
                    numFiles: Int, maxRetries: Int): Commit =
    retryLayoutCommit(maxRetries) { () =>
      write(graft.ops.Scale.zorderLayout(read(spark, branch), cols, numFiles),
        branch, s"optimize zorder by (${cols.mkString(", ")})", statsCols = cols,
        dataChange = false)
    }

  def compactZorder(spark: SparkSession, branch: String, colA: String,
                    colB: String, numFiles: Int = 8, maxRetries: Int = 3): Commit =
    compactZorder(spark, branch, Seq(colA, colB), numFiles, maxRetries)

  /** Delta `OPTIMIZE … WHERE` (r19): SELECTIVE compaction — only the files
    * whose commit-log stats windows intersect `where` (the same
    * [[selectFiles]] test delete/update prune with) are rewritten,
    * coalesced into `numFiles` (z-ordered when `zorderCols` is set); every
    * other file carries with its IDENTITY, stats, and bloom entries
    * untouched. On a petabyte table this compacts yesterday's hot
    * partition's small files without touching the cold 99%, and the
    * file-granular CDC diff over the interval cancels exactly (rows are
    * unchanged). Touched files are read with their deletion vectors
    * APPLIED, so the rewrite also materializes away the region's DVs;
    * untouched files keep theirs. A predicate whose stats provably match
    * no file (or a stats-free table where nothing can be excluded — then
    * everything rewrites, like bare OPTIMIZE) behaves accordingly;
    * matching zero files is a no-op returning the unchanged head. Retries
    * through the same lost-race-rebase rule as [[compact]]. */
  def compactWhere(spark: SparkSession, branch: String, where: String,
                   numFiles: Int = 1, zorderCols: Seq[String] = Nil,
                   maxRetries: Int = 3): Commit = {
    val pred = org.apache.spark.sql.functions.expr(where)
    retryLayoutCommit(maxRetries) { () =>
      guardWritable(branch)
      val parent = headOrThrow(branch)
      val touchedSet = selectFiles(spark, parent, pred).toSet
      if (touchedSet.isEmpty) parent
      else synchronized {
        val (touched, untouched) = parent.files.partition(touchedSet.contains)
        val schema = DataType.fromJson(parent.schemaJson).asInstanceOf[StructType]
        val rows = readCommit(spark, parent.copy(files = touched))
        val layout =
          if (zorderCols.nonEmpty) graft.ops.Scale.zorderLayout(rows, zorderCols, numFiles)
          else rows.repartition(numFiles)
        val newFiles = writeDataFiles(layout, branch, parent.version + 1,
          mapTo = Some(schema))
        val statCols = (parent.stats.values.flatMap(_.keys) ++
          parent.strStats.values.flatMap(_.keys) ++ zorderCols).toSeq.distinct
          .filter(schema.fieldNames.contains)
        val (newStats, newStrStats, newNullStats) =
          if (statCols.isEmpty || newFiles.isEmpty)
            (Map.empty[String, Map[String, (Double, Double)]],
              Map.empty[String, Map[String, (String, String)]],
              Map.empty[String, Map[String, Long]])
          else collectFileStats(spark, newFiles, statCols, schema)
        val untouchedSet = untouched.toSet
        val (bCols, bFiles, bLegacy) = cowBloom(spark, parent, branch, untouchedSet, newFiles, schema)
        publish(branch, Some(parent),
          s"optimize where ($where)" +
            (if (zorderCols.nonEmpty) s" zorder by (${zorderCols.mkString(", ")})" else ""),
          schema, untouched ++ newFiles,
          parent.stats.view.filterKeys(untouchedSet).toMap ++ newStats,
          strStats = parent.strStats.view.filterKeys(untouchedSet).toMap ++ newStrStats,
          nullStats = parent.nullStats.view.filterKeys(untouchedSet).toMap ++ newNullStats,
          // untouched files keep their deletion vectors; the touched
          // region's were applied during the rewrite and leave with its
          // entries
          dvs = parent.dvs,
          bloomStats = bLegacy, bloomCols = bCols, bloomFiles = bFiles,
          dataChange = false)
      }
    }
  }

  /** V10 upload/rm analog: raw object ops under the table root (staging dir). */
  /** Export `branch`'s lineage as a Delta `_delta_log` INSIDE the table root
    * — zero-copy protocol interop ([[DeltaLogWriter]]): the add actions
    * reference this table's existing parquet, so after the export the root
    * doubles as a Delta table readable at every version through
    * [[DeltaLogReader]] (or stock delta-spark — protocol v1, upgraded in
    * place to v3 `deletionVectors` at the first version whose native MOR
    * delete vectors are exported as Delta DV descriptors). Incremental and
    * idempotent. Returns the newest exported version. */
  def exportDeltaLog(branch: String = "main", changeDataFeed: Boolean = false,
                     checkpointInterval: Option[Int] = None): Long =
    DeltaLogWriter.exportDeltaLog(this, branch, changeDataFeed, checkpointInterval)

  /** Reclaim export artifacts (DV bins, cdc parquet, tmp dirs) no exported
    * version references — the export-side companion of [[vacuum]], with the
    * same stale-horizon discipline. See [[DeltaLogWriter.vacuumExport]]. */
  def vacuumDeltaExport(spark: SparkSession,
                        olderThanMs: Long = VersionedTable.DefaultStaleSlotMs): Int =
    DeltaLogWriter.vacuumExport(spark, root.toString, olderThanMs)

  def putObject(rel: String, content: String): Unit =
    store.put(root.resolve(rel), content)
  def getObject(rel: String): String = store.read(root.resolve(rel))
  def rmObject(rel: String): Boolean = store.delete(root.resolve(rel))
}

object VersionedTable {
  /** [[Commit.props]] key namespace for CHECK constraints — the same keying
    * shape as Delta's `delta.constraints.<name>` configuration entries. */
  private[graft] val CheckConstraintPrefix = "constraint.check."

  /** A commit's CHECK constraints: lowercase name → predicate SQL. */
  def checkConstraints(c: Commit): Map[String, String] =
    c.props.collect {
      case (k, v) if k.startsWith(CheckConstraintPrefix) =>
        k.stripPrefix(CheckConstraintPrefix) -> v
    }

  /** Static admission rules for a CHECK predicate, against a SCHEMA alone
    * (no table needed — CREATE TABLE pre-flights its inline constraints
    * with this BEFORE publishing anything, so a rejected predicate leaves
    * no half-created table). The predicate must analyze, be boolean, and
    * be ROW-LOCAL + DETERMINISTIC (Delta's rule): an aggregate/window
    * would analyze but wedge every later WRITE (no aggregates in a
    * filter), a non-deterministic one would make "which rows pass" depend
    * on the run, and a subquery's answer drifts with other tables. */
  private[graft] def validateCheckPredicate(spark: org.apache.spark.sql.SparkSession,
                                            schema: org.apache.spark.sql.types.StructType,
                                            predicateSql: String): Unit = {
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val probe = empty.select(org.apache.spark.sql.functions.expr(predicateSql).as("p"))
    require(probe.schema.head.dataType == org.apache.spark.sql.types.BooleanType,
      s"CHECK predicate must be boolean, got ${probe.schema.head.dataType.simpleString}: " +
        predicateSql)
    val cond = empty
      .where(org.apache.spark.sql.functions.expr(predicateSql)) // throws on aggregates
      .queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.getOrElse(throw new IllegalStateException(
        s"CHECK probe lost its Filter node for: $predicateSql"))
    require(cond.deterministic,
      s"CHECK predicate must be deterministic (no rand()/uuid()/…): $predicateSql")
    require(cond.collectFirst {
      case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression => s
    }.isEmpty,
      s"CHECK predicate must not contain a subquery " +
        s"(its answer would drift with other tables): $predicateSql")
  }

  /** Physical row count from a parquet FOOTER — no data pages touched. Used
    * once per new file at publish time to stock the commit log's
    * [[Commit.rowCounts]]; None (unreadable/corrupt footer) just omits the
    * entry rather than failing the commit. */
  /** One shared Hadoop Configuration for local footer reads: constructing a
    * fresh one per file re-parses core-default.xml out of the hadoop jar
    * (~50 ms of driver time PER NEW FILE at publish — jstack-confirmed as
    * the dominant commit-path driver cost before r21). Immutable use only. */
  private[vt] lazy val footerConf = new org.apache.hadoop.conf.Configuration()

  /** Files of `a` still live in `b` whose deletion vector differs between
    * the two — the vector half of "what changed" for merge, cherry-pick,
    * change feeds, streaming and the Delta export. Descriptors are values
    * (a changed vector is a fresh descriptor), so this is O(files)
    * metadata, never a position read. */
  private[graft] def dvChanged(a: Commit, b: Commit): Set[String] =
    if (a.dvs.isEmpty && b.dvs.isEmpty) Set.empty
    else {
      val live = b.files.toSet
      a.files.iterator.filter(f => live(f) && a.dvs.get(f) != b.dvs.get(f)).toSet
    }

  /** Row filter of [[VersionedTable.replayTagged]]: a row is live unless
    * its file's descriptor marks its position. Keys are whatever identifies
    * a file in the scan — the native file key, or a foreign file's decoded
    * absolute path. Each task deserializes its own copy and decodes a
    * file's positions once, on its first row. */
  private[vt] final class LiveMask(root: String,
                                   byKey: Map[String, DeletionVectors.DvDescriptor])
      extends Serializable {
    @transient private lazy val decoded = new java.util.HashMap[String, Array[Long]]()
    def live(fk: String, pos: Long): Boolean = byKey.get(fk) match {
      case None => true
      case Some(d) =>
        val ps = decoded.computeIfAbsent(fk, _ => DeletionVectors.positions(root, d))
        java.util.Arrays.binarySearch(ps, pos) < 0
    }
    // a foreign replay's rows name their file by the URI string Spark
    // reads (`_metadata.file_path`): decode it once per file, not per row
    @transient private var lastUri: String = _
    @transient private var lastKey: String = _
    def liveAtUri(uri: String, pos: Long): Boolean = {
      if (uri != lastUri) { lastKey = new java.net.URI(uri).getPath; lastUri = uri }
      live(lastKey, pos)
    }
  }

  /** `b` only added files to `a`: every file of `a` survives with its
    * deletion vector unchanged (an added file may carry its own). */
  private[graft] def appendOnly(a: Commit, b: Commit): Boolean =
    a.files.toSet.subsetOf(b.files.toSet) && dvChanged(a, b).isEmpty

  /** The files of `c` whose stats can hold a row of `column` inside the
    * one window — the `readWhere` prune, through the one survival test
    * ([[graft.sources.VtPruning]]) both table kinds share. */
  private[graft] def keptIn(c: Commit, column: String,
      window: Either[List[(Double, Double)], List[(String, String)]]): Vector[String] =
    graft.sources.VtPruning.prune(c, c.files, List(column -> window), Nil, Nil,
      graft.sources.VtPruning.NoBloom)

  /** The snapshot's live row count from metadata alone — Σ `rowCounts` −
    * Σ deletion-vector cardinality — or None when a file lacks a logged
    * count. Serves `countRows` and the SQL `COUNT(*)` answer alike. */
  private[graft] def liveRowCount(c: Commit): Option[Long] =
    if (!c.files.forall(c.rowCounts.contains)) None
    else Some(c.files.iterator.map(f =>
      c.rowCounts(f) - c.dvs.get(f).map(_.cardinality).getOrElse(0L)).sum)

  /** Footer metadata cache, keyed by (path, size, mtime) — data files are
    * immutable once written (UUID'd directory names), but a few artifacts
    * (cdc files) reuse deterministic names across re-exports, so the key
    * carries the stat fingerprint. Failures are NOT cached. Shared by
    * publish's rowCounts and the footer stats fast path, so one commit
    * reads each new file's footer at most once. */
  private val footerMetaCache =
    new BoundedCache[(String, Long, Long),
      org.apache.parquet.hadoop.metadata.ParquetMetadata](4096)

  private[vt] def footerMeta(p: Path)
      : Option[org.apache.parquet.hadoop.metadata.ParquetMetadata] =
    try Some(footerMetaCache.get((p.toString, Files.size(p),
      Files.getLastModifiedTime(p).toMillis)) {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), footerConf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter finally r.close()
    }) catch { case scala.util.control.NonFatal(_) => None }

  /** Warm [[footerMetaCache]] for many files in PARALLEL: footer reads are
    * independent driver-local metadata I/O (~5-10 ms each) and every
    * consumer loop pays them serially — a 32-file commit spent ~0.25 s of
    * publish wall in the rowCounts loop alone. The cache's
    * load-outside-the-lock design makes concurrent loads of different keys
    * safe; failures are swallowed here and re-surface as None in the
    * serial consumer. */
  private[vt] def prefetchFooters(paths: Seq[Path]): Unit =
    if (paths.sizeIs > 2) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, paths.size))
      try paths.foreach(p => pool.execute(() => { footerMeta(p); () }))
      finally {
        pool.shutdown()
        pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
        ()
      }
    }

  private[vt] def footerRowCount(p: Path): Option[Long] =
    footerMeta(p).map { m =>
      var s = 0L; m.getBlocks.forEach(b => s += b.getRowCount); s
    }

  /** Exact [min, max] of a primitive-numeric top-level column from one
    * parquet file's FOOTER (r21, guide §6) — driver-local cached metadata,
    * zero data pages. Outer None = not provable from the footer
    * (dropped/NaN stats, decimal/non-primitive physical type);
    * Some((present, range)): `present` says whether ANY block carries the
    * column (false = the file predates an ADD COLUMNS — it reads as
    * all-null for the column, which is real information for min/max
    * aggregation but must NOT be conflated with "the column exists
    * nowhere", e.g. a computed column over a file-backed frame);
    * `range` is Some((lo, hi)) when the file holds non-null values.
    * Callers that only need APPROXIMATE bounds (bucket balancing) fall
    * back to a sketch pass on outer None, and on present=false across
    * every input file. */
  private[graft] def footerDoubleRange(p: Path, colName: String)
      : Option[(Boolean, Option[(Double, Double)])] = try {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    footerMeta(p).flatMap { m =>
      var lo = Double.MaxValue
      var hi = -Double.MaxValue
      var any = false
      var found = false
      val it = m.getBlocks.iterator()
      while (it.hasNext) {
        val b = it.next()
        val cit = b.getColumns.iterator()
        while (cit.hasNext) {
          val cc = cit.next()
          if (cc.getPath.size() == 1 && cc.getPath.toDotString == colName) {
            found = true
            val st = cc.getStatistics
            if (st == null || !st.isNumNullsSet) return None
            if (cc.getValueCount - st.getNumNulls > 0) {
              if (!st.hasNonNullValue) return None
              // decimals store UNSCALED ints — not the logical value domain
              if (cc.getPrimitiveType.getLogicalTypeAnnotation
                  .isInstanceOf[org.apache.parquet.schema.LogicalTypeAnnotation.DecimalLogicalTypeAnnotation])
                return None
              val (mn, mx) = cc.getPrimitiveType.getPrimitiveTypeName match {
                case PrimitiveTypeName.INT32 =>
                  (st.genericGetMin.asInstanceOf[java.lang.Integer].toDouble,
                    st.genericGetMax.asInstanceOf[java.lang.Integer].toDouble)
                case PrimitiveTypeName.INT64 =>
                  (st.genericGetMin.asInstanceOf[java.lang.Long].toDouble,
                    st.genericGetMax.asInstanceOf[java.lang.Long].toDouble)
                case PrimitiveTypeName.FLOAT =>
                  (st.genericGetMin.asInstanceOf[java.lang.Float].toDouble,
                    st.genericGetMax.asInstanceOf[java.lang.Float].toDouble)
                case PrimitiveTypeName.DOUBLE =>
                  (st.genericGetMin.asInstanceOf[java.lang.Double].doubleValue(),
                    st.genericGetMax.asInstanceOf[java.lang.Double].doubleValue())
                case _ => return None
              }
              if (mn.isNaN || mx.isNaN) return None
              any = true
              if (mn < lo) lo = mn
              if (mx > hi) hi = mx
            }
          }
        }
        // a file without the column reads as all-null for it (pre-ADD
        // COLUMNS history): provably contributes nothing to min/max —
        // reported via present=false so the caller can tell it apart from
        // "present but all-null"
      }
      Some((found, if (any) Some((lo, hi)) else None))
    }
  } catch { case scala.util.control.NonFatal(_) => None }

  /** URL-safe base64 (no padding) — lets any protection pattern or branch
    * name serve as a metadata-store object name (also used by
    * [[graft.streaming.ChangeFeed]]'s per-branch cursor directories). */
  private[graft] def b64(s: String): String =
    java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Branch-protection glob: `*` = any run of characters, `?` = exactly one;
    * everything else matches literally. Branch names never contain `/`, so no
    * path-segment subtleties exist. */
  private[vt] def globMatches(pattern: String, name: String): Boolean = {
    val sb = new StringBuilder("^")
    pattern.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append(".")
      case c => sb.append(java.util.regex.Pattern.quote(c.toString))
    }
    sb.append("$").toString.r.findFirstIn(name).isDefined
  }

  /** Recursively force every nullable flag true (Spark's `DataType.asNullable`
    * is package-private) so schema comparisons ignore nullability at any
    * nesting depth; field metadata is also dropped — only name+logical type
    * should participate in equality. */
  private[graft] def nullNormalized(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => org.apache.spark.sql.types.StructField(
        f.name, nullNormalized(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullNormalized(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullNormalized(m.keyType), nullNormalized(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Age before an unpublished version slot counts as a crashed writer's
    * leftover and becomes vacuum-reclaimable (1 h — far beyond any single
    * commit's claim→publish window, which is one parquet write). */
  val DefaultStaleSlotMs: Long = 3600L * 1000

  /** Checkpoint cadence: every N commits a branch writes a version→commit
    * index (Delta writes parquet checkpoints every 10 commits for the same
    * reason — snapshot resolution must not replay the log). */
  val CheckpointInterval: Long = 10L

  /** Manifest-list cap (r20): when a commit would reference more manifests
    * than this, publish compacts them into one — so `open()` resolves a
    * snapshot in a bounded number of (cached) manifest reads no matter how
    * many commits the table accretes, and the compaction's O(files) rewrite
    * amortizes to O(files/MaxManifests) per commit (Iceberg's
    * rewrite-manifests cadence). */
  val MaxManifests: Int = 32

  /** Bounded lost-CAS rebases for a blind append (r20 OCC): enough that a
    * realistic concurrent-ingest burst serializes, small enough that a
    * stuck slot (crashed claimer) surfaces as a conflict quickly. */
  val MaxAppendRebase: Int = 5

  // ---- COLUMN MAPPING (r20: RENAME/DROP COLUMN as metadata-only commits) --
  //
  // Delta's name-mode column mapping, carried in the one place the engine
  // already versions per commit: StructField METADATA inside `schemaJson`.
  // A field whose metadata holds [[PhysKey]] reads and writes its data under
  // that PHYSICAL parquet column name; the field's `name` is the LOGICAL name
  // queries see. Physical names never change once assigned — a RENAME swaps
  // only the logical name (metadata-only commit, zero files rewritten), a
  // DROP removes the field (old files keep the bytes; explicit-schema reads
  // skip them). Because the mapping is NAME-only (types and positions are
  // untouched), the whole read-side translation is positional: read parquet
  // with the physical-named twin of the schema, then re-alias to logical.
  //
  // Commit-log key domains under mapping:
  //  - stats / strStats / nullStats / bloomCols: LOGICAL names as of their
  //    commit (a rename commit re-keys them — pure metadata), so every
  //    pruning and metadata-aggregate path keeps working untranslated;
  //  - bloom SIDECARS (immutable, shared across commits): PHYSICAL names —
  //    [[VersionedTable.bloomLookup]] translates the probe once;
  //  - parquet files: PHYSICAL names, uniformly (pre-mapping files ARE
  //    physical — logical == physical until the first rename/drop).

  /** StructField metadata key holding a column's physical parquet name. */
  val PhysKey = "graft.physicalName"

  /** Table-property flag marking column mapping ACTIVE: once a rename/drop
    * has happened, later ADDed columns need FRESH physical names — reusing
    * a dropped column's name would resurrect its bytes from old files. */
  val ColMapProp = "graft.columnMapping"

  /** Delta's physical-name key (PROTOCOL.md "Column Mapping"), which a
    * foreign Delta replay's schema carries ([[DeltaLogReader.asCommit]]). */
  private val DeltaPhysKey = "delta.columnMapping.physicalName"

  /** A column's physical parquet name: the native [[PhysKey]], else Delta's
    * physical name, else the logical name. */
  def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysKey)) f.metadata.getString(PhysKey)
    else if (f.metadata.contains(DeltaPhysKey)) f.metadata.getString(DeltaPhysKey)
    else f.name

  /** Logical column name → physical parquet name (identity when unmapped,
    * and for pseudo-columns not in the schema). */
  def physName(schema: StructType, col: String): String =
    schema.fields.find(_.name == col).map(physicalName).getOrElse(col)

  private def physicalField(f: StructField): StructField =
    f.copy(name = physicalName(f), dataType = physicalType(f.dataType))

  /** A type as parquet stores it: struct field names swapped to physical at
    * every depth (nested renames are a positional struct cast away). */
  def physicalType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(physicalField))
    case a: ArrayType => a.copy(elementType = physicalType(a.elementType))
    case m: MapType =>
      m.copy(keyType = physicalType(m.keyType), valueType = physicalType(m.valueType))
    case other => other
  }

  /** The schema as parquet stores it (see [[physicalType]]). */
  def physicalSchema(schema: StructType): StructType =
    StructType(schema.fields.map(physicalField))

  /** Some column, at any depth, is stored under another name. */
  def hasColumnMapping(schema: StructType): Boolean = physicalSchema(schema) != schema

  /** Attach a physical name to a field's metadata. */
  def withPhysical(f: StructField, phys: String): StructField =
    f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putString(PhysKey, phys).build())

  /** A fresh collision-proof physical name for a column ADDED while mapping
    * is active (Delta generates `col-<uuid>` for the same reason). */
  def freshPhysical(logical: String): String =
    s"${logical}_${java.util.UUID.randomUUID.toString.take(8)}"

  private def quoted(name: String): String = "`" + name.replace("`", "``") + "`"

  /** Rename a DataFrame's columns to their physical twins per `schema`
    * (identity when unmapped). Positional: only names change. */
  def toPhysical(df: org.apache.spark.sql.DataFrame,
                 schema: StructType): org.apache.spark.sql.DataFrame =
    if (!hasColumnMapping(schema)) df
    else schema.fields.filter(f => physicalType(f.dataType) != f.dataType)
      .foldLeft(df.toDF(df.schema.fieldNames.map(n => physName(schema, n)).toIndexedSeq: _*)) {
        (d, f) => d.withColumn(physicalName(f),
          d.col(quoted(physicalName(f))).cast(physicalType(f.dataType)))
      }

  /** The commit with its pruning metadata re-keyed into PHYSICAL column
    * name space (identity when unmapped): stats/strStats/nullStats maps,
    * bloomCols, and schemaJson itself (so [[VersionedTable.bloomLookup]]'s
    * logical→physical translation becomes the identity). Partition columns
    * keep their logical names: their values come from the log, not the
    * files. REQUIRED by any scan whose pushed filters carry physical
    * attribute names (the replay's physical-schema'd relation and the DSv2
    * delegate): the raw commit keys stats by LOGICAL names, and after a
    * name-reusing rename chain (RENAME a TO c; RENAME b TO a) a physical
    * name can COLLIDE with an unrelated logical name — the lookup would
    * consult the wrong column's stats and wrongly prune files (silent row
    * loss), not merely fail to prune. */
  private[graft] def physicalStatsCommit(c: Commit, schema: StructType): Commit =
    if (!hasColumnMapping(schema)) c
    else {
      val part = c.partitionColumns.toSet
      val physOf: Map[String, String] = schema.fields.collect {
        case f if !part(f.name) => f.name -> physicalName(f) }.toMap
      def rekey[V](m: Map[String, Map[String, V]]): Map[String, Map[String, V]] =
        m.view.mapValues(_.map { case (k, v) => physOf.getOrElse(k, k) -> v }).toMap
      c.copy(
        schemaJson = StructType(schema.fields.map(f =>
          if (part(f.name)) f else physicalField(f))).json,
        stats = rekey(c.stats), strStats = rekey(c.strStats),
        nullStats = rekey(c.nullStats),
        bloomCols = c.bloomCols.map(cn => physOf.getOrElse(cn, cn)))
    }

  /** How a snapshot's files store its columns — the one answer the replay
    * ([[replay]]) and the DSv2 scan builder read. Partition columns (a
    * Delta replay's) come from the log, typed by the file index. Data
    * columns are read under their physical names at every depth (native or
    * Delta name mapping) and re-aliased positionally, or — Delta id mode —
    * under their logical names stamped with parquet field ids, on the
    * field-id session ([[DeltaLogReader.fieldIdSession]]). */
  private[graft] final class ReadLayout(val commit: Commit) {
    val schema: StructType = DataType.fromJson(commit.schemaJson).asInstanceOf[StructType]
    val partFields: Seq[StructField] = commit.partitionColumns.map(schema(_))
    val dataSchema: StructType =
      StructType(schema.fields.filterNot(f => commit.partitionColumns.contains(f.name)))
    // a native commit maps by name ([[PhysKey]]) wherever it maps at all
    private val mode =
      if (!commit.fromDeltaLog) "name"
      else commit.props.getOrElse("delta.columnMapping.mode", "none")
    require(Set("none", "name", "id")(mode),
      s"delta.columnMapping.mode=$mode is not implemented by this replayer " +
        "(supported: none, name, id)")
    val byFieldId: Boolean = mode == "id"
    /** Data columns the files name differently, at any depth. */
    val renamed: Boolean = mode == "name" && hasColumnMapping(dataSchema)
    val fileSchema: StructType =
      if (byFieldId) DeltaLogReader.fieldIdSchema(dataSchema)
      else if (renamed) physicalSchema(dataSchema)
      else dataSchema
    /** The commit keyed the way the file schema names columns. */
    def fileCommit: Commit = if (renamed) physicalStatsCommit(commit, schema) else commit
    def session(spark: SparkSession): SparkSession =
      if (byFieldId) DeltaLogReader.fieldIdSession(spark) else spark
  }

  /** The one snapshot replay — native commits and foreign Delta replays
    * ([[DeltaLogReader.asCommit]]) alike: a LISTING-FREE scan over the
    * commit's pinned file list, a HadoopFsRelation over the commit-log
    * backed [[graft.sources.VtFileIndex]] (file statuses from the recorded
    * sizes, stats and `bloomOf` file skipping folded into planning,
    * partition values from the log), read in the [[ReadLayout]] and
    * re-aliased to the logical schema. Deletion vectors drop each row whose
    * position its file's descriptor marks ([[replayTagged]]). The pinned
    * schema keeps replays of old versions immune to later schema
    * evolution. */
  private[graft] def replay(spark: SparkSession, root: Path, c: Commit,
                            bloomOf: Commit => (String, String) => Option[Array[Byte]])
      : DataFrame =
    if (c.files.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](),
        DataType.fromJson(c.schemaJson).asInstanceOf[StructType])
    else if (!c.files.exists(c.dvs.contains)) replayed(spark, root, c, bloomOf, tag = false)
    else replayTagged(spark, root, c, bloomOf).drop(FkCol, PosCol)

  /** [[replay]] with each row tagged by [[FkCol]] and [[PosCol]] — its
    * file and 0-based position (`_metadata.row_index`) — and the commit's
    * deletion vectors subtracted: one filter drops a row whose position its
    * file's descriptor marks, each task decoding only the descriptors of
    * the files it reads. A native file is keyed by its last two path
    * segments ([[fileKey]]); a Delta add, which may nest under partition
    * directories, by the absolute path in the form `_metadata.file_path`
    * decodes to (Hadoop-normalized: no `//`, `.` or `..` segments). */
  private[graft] def replayTagged(spark: SparkSession, root: Path, c: Commit,
                                  bloomOf: Commit => (String, String) => Option[Array[Byte]])
      : DataFrame = {
    import org.apache.spark.sql.functions.{col, udf}
    val tagged = replayed(spark, root, c, bloomOf, tag = true)
    val byKey = c.files.flatMap(f => c.dvs.get(f).map(d =>
      (if (c.fromDeltaLog) graft.sources.VtFileIndex.pathOf(root, f).toUri.getPath
       else fileKey(f)) -> d)).toMap
    if (byKey.isEmpty) tagged
    else {
      val mask = new LiveMask(root.toString, byKey)
      val live =
        if (c.fromDeltaLog) udf((fp: String, pos: Long) => mask.liveAtUri(fp, pos))
        else udf((fk: String, pos: Long) => mask.live(fk, pos))
      tagged.where(live(col(FkCol), col(PosCol)))
    }
  }

  private def replayed(spark: SparkSession, root: Path, c: Commit,
                       bloomOf: Commit => (String, String) => Option[Array[Byte]],
                       tag: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col, concat_ws, slice, split}
    val layout = new ReadLayout(c)
    val session = layout.session(spark)
    val fc = layout.fileCommit
    val index = new graft.sources.VtFileIndex(session, root, fc, bloomOf(fc))
    val raw = org.apache.spark.sql.graft.SessionShim.ofRelation(session,
      org.apache.spark.sql.execution.datasources.HadoopFsRelation(index,
        index.partitionSchema, layout.fileSchema, None,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        Map.empty[String, String])(
        session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]))
    // metadata columns resolve only on the scan relation: tag before aliasing
    val tags = if (tag) Seq(FkCol, PosCol) else Nil
    val withTags =
      if (!tag) raw
      else raw.withColumn(FkCol,
          if (c.fromDeltaLog) col("_metadata.file_path")
          else concat_ws("/", slice(split(col("_metadata.file_path"), "/"), -2, 2)))
        .withColumn(PosCol, col("_metadata.row_index"))
    val named =
      if (!layout.renamed) withTags
      else layout.dataSchema.fields.filter(f => physicalType(f.dataType) != f.dataType)
        .foldLeft(withTags.toDF((layout.dataSchema.fieldNames ++
          layout.partFields.map(_.name) ++ tags).toIndexedSeq: _*)) {
          (d, f) => d.withColumn(f.name, d.col(quoted(f.name)).cast(f.dataType))
        }
    // the relation appends partition columns; restore the schema's order
    if (layout.partFields.isEmpty) named
    else named.select((layout.schema.fieldNames ++ tags).toIndexedSeq.map(n => col(quoted(n))): _*)
  }

  /** Slot filename "<branch>-v<version>"; greedy branch group so hyphenated
    * branch names (even ones ending in "-vN") parse to the right (branch,
    * version) split — the version is always the TRAILING digits. */

  /** Internal provenance-tag column names of the merge-on-read scan —
    * underscored to stay clear of user schemas. */
  private[vt] val FkCol = "__graft_fk"
  private[vt] val PosCol = "__graft_pos"

  /** File identity key: the last two path segments (uuid'd commit dir + part
    * file) — unique per file, scheme/root-independent, the same key the
    * scan-side `concat_ws("/", slice(split(file_path, "/"), -2, 2))`
    * computes. Used by change feeds and deletion vectors. */
  private[graft] def fileKey(rel: String): String = rel.split('/').takeRight(2).mkString("/")

  // ---- per-file bloom filter index (Delta's bloom filter index) ----------
  // Point-lookup skipping for scattered high-cardinality STRING keys
  // (uuid/doc_id), where min/max windows prune nothing. Geometry matches
  // ops/Scale's bloom recipe (16384 bits / 3 hashes ≈ 2% FPR at ~1500 keys
  // per file); hashing is Spark's own xxhash64 so the write-side expression
  // `pmod(xxhash64(lit(i), col), m)` and the driver-side probe below are
  // bit-identical by construction (xxhash64 CHAINS: the int literal's hash
  // becomes the seed for the column value).
  private[graft] val BloomMBits = 16384
  private[graft] val BloomKHashes = 3

  /** MERGE sources with at most this many DISTINCT keys per equi-key
    * column get bloom-probed against candidate files ([[mergeInto]]) —
    * the point-upsert shape; bigger sources rely on range pruning. */
  private[graft] val MaxMergeBloomProbes = 1024

  /** Row-level DML retires a touched file's changed rows with a deletion
    * vector while the file's dead rows stay at or below 1/20 of its rows,
    * and rewrites the file past that (`VersionedTable.retireOrRewrite`).
    * 1/20 is the deleted-rows ratio at which Delta's OPTIMIZE purges a
    * file's deletion vectors; it also bounds the read amplification of a
    * hot file, which repeated upserts push back to a rewrite that
    * materializes its old vectors. A constant, not a knob. */
  private[graft] val DvDeadRowsDivisor = 20

  /** Column types a bloom index can hash with an exactly reproducible
    * probe image: strings (UTF-8 bytes) and integrals (the cast-to-long
    * twin — byte/short/int/long share one image). */
  private[graft] def bloomSupported(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt == org.apache.spark.sql.types.StringType ||
      dt == org.apache.spark.sql.types.ByteType ||
      dt == org.apache.spark.sql.types.ShortType ||
      dt == org.apache.spark.sql.types.IntegerType ||
      dt == org.apache.spark.sql.types.LongType

  private def bloomSeed(i: Int): Long = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    XxHash64Function.hash(i, org.apache.spark.sql.types.IntegerType, 42L)
  }

  /** The k bit positions of a STRING probe value — the driver-side twin of
    * the write-side `xxhash64(lit(i), col)` expression. */
  private[graft] def bloomPositions(value: String): Array[Int] = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    Array.tabulate(BloomKHashes) { i =>
      val h = XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(value),
        org.apache.spark.sql.types.StringType, bloomSeed(i))
      java.lang.Math.floorMod(h, BloomMBits.toLong).toInt
    }
  }

  /** The k bit positions of an INTEGRAL probe value — the driver-side twin
    * of the write-side `xxhash64(lit(i), col.cast("long"))` expression
    * (one long image for byte/short/int/long key columns). */
  private[graft] def bloomPositionsLong(value: Long): Array[Int] = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    Array.tabulate(BloomKHashes) { i =>
      val h = XxHash64Function.hash(value, org.apache.spark.sql.types.LongType,
        bloomSeed(i))
      java.lang.Math.floorMod(h, BloomMBits.toLong).toInt
    }
  }

  private def bitsHave(bits: Array[Byte], ps: Array[Int]): Boolean =
    ps.forall(p => (bits(p >> 3) & (1 << (p & 7))) != 0)

  /** Membership probe against a bloom bitset: false means PROVABLY absent
    * (prune the file); true means "maybe" (keep). */
  private[graft] def bloomMightContain(bits: Array[Byte], value: String): Boolean =
    bitsHave(bits, bloomPositions(value))

  private[graft] def bloomMightContainLong(bits: Array[Byte], value: Long): Boolean =
    bitsHave(bits, bloomPositionsLong(value))

  /** Unsigned UTF-8 byte comparison — the ordering Spark's string min/max
    * stats are computed under (UTF8String binary compare). */
  private[graft] def utf8Cmp(a: String, b: String): Int = java.util.Arrays.compareUnsigned(
    a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
    b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** String stats are TRUNCATED to this many code points in the commit log
    * (Delta truncates at 32): a stats column over document-length text must
    * not stream whole documents into per-file metadata — at object-store
    * scale the log itself becomes the bottleneck. Truncated bounds stay
    * SOUND for pruning (min → prefix, a valid lower bound; max → the
    * prefix's successor padded maximal, a valid upper bound) and
    * [[VersionedTable.minMaxStringFromStats]] refuses to answer from any
    * stat at the limit, so exact MIN/MAX falls back to the scan. */
  private[graft] val StatsStringMaxLen = 64

  /** The smallest string greater than every `p`-prefixed string: last
    * non-maximal code point incremented (surrogate gap D800–DFFF skipped —
    * not scalar values), maximal tail dropped; None when no finite
    * successor exists (empty / all-U+10FFFF). UTF-8 byte order is
    * code-point monotone, so the bound is exact under [[utf8Cmp]]. */
  private[graft] def prefixSuccessor(p: String): Option[String] = {
    val cps = p.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0 && cps(i) == 0x10FFFF) i -= 1
    if (i < 0) None
    else {
      val next = if (cps(i) + 1 == 0xD800) 0xE000 else cps(i) + 1
      Some(new String(cps, 0, i) + new String(Character.toChars(next)))
    }
  }

  private def cpPrefix(s: String, n: Int): String =
    s.substring(0, s.offsetByCodePoints(0, n))
  private[vt] def overLimit(s: String): Boolean =
    s.codePointCount(0, s.length) >= StatsStringMaxLen

  /** Commit-log form of a string MIN stat: the value itself when short, its
    * [[StatsStringMaxLen]]-code-point prefix otherwise (a prefix is ≤ the
    * original bytewise — still a sound lower bound). */
  private[graft] def statsLower(s: String): String =
    if (s.codePointCount(0, s.length) <= StatsStringMaxLen) s
    else cpPrefix(s, StatsStringMaxLen)

  /** Commit-log form of a string MAX stat: the value itself when short;
    * otherwise the truncation prefix's successor — greater than EVERY
    * string carrying that prefix, so a sound upper bound — padded with
    * U+10FFFF back to the limit so a truncated max is always recognizable
    * (≥ limit code points) by the metadata-MIN/MAX refusal check. The
    * pathological no-successor prefix keeps the full value (correct, just
    * unbounded — it cannot occur for real text). */
  private[graft] def statsUpper(s: String): String =
    if (s.codePointCount(0, s.length) <= StatsStringMaxLen) s
    else prefixSuccessor(cpPrefix(s, StatsStringMaxLen)) match {
      case Some(succ) =>
        val pad = StatsStringMaxLen - succ.codePointCount(0, succ.length)
        succ + (new String(Character.toChars(0x10FFFF)) * math.max(0, pad))
      case None => s
    }

  /** V1 `repo create`: initialize an empty table root. `store` carries the
    * control-plane metadata (default: local filesystem); the data plane under
    * `data/` is always the Spark-visible filesystem. */
  def create(root: String, store: MetaStore = LocalFsMetaStore): VersionedTable = {
    val p = Paths.get(root)
    CommitGraph.initTable(p, store)
    new VersionedTable(p, store)
  }

  def open(root: String, store: MetaStore = LocalFsMetaStore): VersionedTable = {
    val p = Paths.get(root)
    require(CommitGraph.isTableRoot(p, store), s"not a versioned table root: $root")
    new VersionedTable(p, store)
  }

  /** V1 `repo delete`. */
  def delete(root: String): Unit = graft.Tables.deleteRecursively(Paths.get(root))
}

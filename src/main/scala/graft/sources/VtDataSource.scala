package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitionDirectory, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, Filter, PrunedFilteredScan, RelationProvider, StreamSinkProvider, TableScan}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{DataType, StructType}

import graft.vt.{Commit, DeltaLogReader, VersionedTable}
import graft.vt.DeltaLogReader.DeltaSnapshot

/** The one per-file survival test of a snapshot's stats against a set of
  * [[StatsWindows]], for native commits and foreign Delta replays alike
  * (a Delta add's stats JSON and partition values arrive as the same
  * [[Commit]] maps, [[graft.vt.DeltaLogReader.asCommit]]). Numeric windows
  * test the double stats, string windows the UTF-8-byte-ordered string
  * stats; every window is a comparison, never true of NULL, so a file
  * whose null count equals its row count fails any window on that column.
  * Files without stats for a bounded column are conservatively kept. */
private[graft] object VtPruning {

  /** "No bloom index" lookup — the default for callers without a table
    * handle; probes then never prune (conservative). */
  val NoBloom: (String, String) => Option[Array[Byte]] = (_, _) => None

  def bloomOf(vt: Option[VersionedTable], c: Commit): (String, String) => Option[Array[Byte]] =
    vt.fold(NoBloom)(_.bloomLookup(c))

  def survives(commit: Commit, rel: String,
               bounds: List[StatsWindows.Window],
               nulls: List[(String, Boolean)],
               probes: List[StatsWindows.Probe] = Nil,
               bloom: (String, String) => Option[Array[Byte]] = NoBloom): Boolean = {
    val nullCount = (c: String) => commit.nullStats.get(rel).flatMap(_.get(c))
    val rows = commit.rowCounts.get(rel)
    bounds.forall {
      case (colName, _) if rows.isDefined && nullCount(colName) == rows => false
      case (colName, Left(ranges)) =>
        commit.stats.get(rel).flatMap(_.get(colName)) match {
          case Some((mn, mx)) => StatsWindows.numSurvives(mn, mx, ranges)
          case None => true
        }
      case (colName, Right(ranges)) =>
        commit.strStats.get(rel).flatMap(_.get(colName)) match {
          case Some((mn, mx)) =>
            StatsWindows.strSurvives(mn, mx, ranges)(VersionedTable.utf8Cmp)
          case None => true
        }
    } && probes.forall { case (colName, group) =>
      // BLOOM probe (Delta's bloom filter index): an equality / IN conjunct
      // pins the column to point value(s) — the scattered-uuid/long-id
      // lookup shape min/max can't prune — and the file survives only if
      // SOME probed value might be present in its bloom ([[VersionedTable
      // .bloomLookup]]: r19 sidecars, lazily loaded, plus legacy inline
      // bitsets). No bloom for the column keeps the file; false positives
      // only ever KEEP files.
      bloom(rel, colName) match {
        case Some(bits) => group match {
          case Left(longs) => longs.exists(VersionedTable.bloomMightContainLong(bits, _))
          case Right(strs) => strs.exists(VersionedTable.bloomMightContain(bits, _))
        }
        case None => true
      }
    } && nulls.forall { case (colName, wantNull) =>
      if (wantNull) !nullCount(colName).contains(0L) // IS NULL: skip zero-null files
      else (nullCount(colName), rows) match {
        case (Some(n), Some(r)) => n < r // IS NOT NULL: skip all-null files
        case _ => true
      }
    }
  }

  /** `files` (of `commit`) that survive the windows and probes. */
  def prune(commit: Commit, files: Vector[String], bounds: List[StatsWindows.Window],
            nulls: List[(String, Boolean)], probes: List[StatsWindows.Probe],
            bloom: (String, String) => Option[Array[Byte]]): Vector[String] =
    if (bounds.isEmpty && nulls.isEmpty && probes.isEmpty) files
    else files.filter(survives(commit, _, bounds, nulls, probes, bloom))

  /** `files` pruned by a scan's catalyst data filters. */
  def pruneExprs(commit: Commit, files: Vector[String], filters: Seq[Expression],
                 bloom: (String, String) => Option[Array[Byte]]): Vector[String] =
    prune(commit, files, filters.flatMap(StatsWindows.windows).toList,
      filters.flatMap(StatsWindows.nullWindows).toList,
      filters.flatMap(StatsWindows.pointProbes).toList, bloom)

  /** The commit's file list pruned by a `PrunedFilteredScan`'s pushed
    * conjuncts (exposed for spec-level evidence too). */
  def prunedFiles(commit: Commit, filters: Seq[Filter],
                  bloom: (String, String) => Option[Array[Byte]] = NoBloom)
      : Vector[String] = {
    val (bounds, nulls) = StatsWindows.fromFilters(filters)
    prune(commit, commit.files, bounds, nulls,
      filters.flatMap(StatsWindows.filterPointProbes).toList, bloom)
  }
}

/** Commit-log-backed [[PartitioningAwareFileIndex]]: the snapshot's
  * immutable file list, with the commit's per-file min/max stats applied
  * to the scan's data filters so files whose range cannot match are
  * pruned DURING QUERY PLANNING — `spark.read.format("vt").load().where(
  * $"k" between (a, b))` skips them without any listing, exactly Delta's
  * data-skipping integration (TahoeFileIndex). Extending the
  * partitioning-aware base (trivially, with an empty partition spec)
  * makes the same index serve BOTH front ends: the DSv1
  * `HadoopFsRelation` of `format("vt")` and the DSv2 `ParquetScan` behind
  * the `vt` and `dlite` catalogs, over native commits and unpartitioned
  * foreign Delta replays alike ([[VtPruning]] is the one survival test;
  * `format("delta-lite")` plans through [[DeltaFileIndex]]). At 100 TB this
  * is the difference between touching 1% of a million files and paying a
  * footer read on every one. */
final class VtFileIndex(spark: SparkSession, root: java.nio.file.Path, commit: Commit,
                        bloom: (String, String) => Option[Array[Byte]])
    extends PartitioningAwareFileIndex(spark, Map.empty, None) {

  def this(spark: SparkSession, vt: VersionedTable, commit: Commit) =
    this(spark, vt.root, commit, vt.bloomLookup(commit))

  private val rootPath = new HPath(root.toUri)

  /** One FileStatus per file, from the COMMIT LOG'S recorded byte sizes
    * (publish stats each new file once, a Delta add records its size); only
    * files without a recorded size pay a real getFileStatus — stat-free scan
    * planning. */
  private lazy val statuses: Vector[(String, FileStatus)] = {
    lazy val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    commit.files.map { f =>
      val p = VtFileIndex.pathOf(root, f)
      val status = commit.fileSizes.get(f) match {
        case Some(size) => new FileStatus(size, false, 1, 0L, 0L, p)
        case None => fs.getFileStatus(p)
      }
      f -> status
    }
  }

  override def rootPaths: Seq[HPath] = Seq(rootPath)

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec

  override def partitionSchema: StructType = StructType(Nil)

  // materialized ONCE (the commit is immutable): PartitioningAwareFileIndex
  // internals consult these repeatedly during DSv2 planning
  private lazy val leafMap: scala.collection.mutable.LinkedHashMap[HPath, FileStatus] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[HPath, FileStatus]
    statuses.foreach { case (_, st) => m += (st.getPath -> st) }
    m
  }
  private lazy val leafDirs: Map[HPath, Array[FileStatus]] =
    statuses.map(_._2).groupBy(_.getPath.getParent)
      .view.mapValues(_.toArray).toMap

  override protected def leafFiles: scala.collection.mutable.LinkedHashMap[HPath, FileStatus] =
    leafMap

  override protected def leafDirToChildrenFiles: Map[HPath, Array[FileStatus]] =
    leafDirs

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = VtPruning.pruneExprs(commit, commit.files, dataFilters, bloom).toSet
    Seq(PartitionDirectory(InternalRow.empty,
      statuses.collect { case (rel, st) if kept(rel) => st }.toArray))
  }

  override def inputFiles: Array[String] =
    commit.files.map(f => if (f.contains("://")) f else root.resolve(f).toString).toArray

  override def refresh(): Unit = () // a commit is immutable

  override def sizeInBytes: Long = statuses.map(_._2.getLen).sum
}

object VtFileIndex {
  /** A snapshot file as a Hadoop path: root-relative (or absolute) local
    * paths resolve against the root; a Delta add's full URI stays as is. */
  def pathOf(root: java.nio.file.Path, f: String): HPath =
    if (f.contains("://")) new HPath(java.net.URI.create(f))
    else new HPath(root.resolve(f).toUri)
}

/** Fallback relation for the snapshot shapes a bare file scan cannot
  * express — deletion vectors without a native batch, column-mapped
  * schemas the scans cannot address, renamed foreign schemas without
  * parquet field ids, exotic partition types: it delegates to the
  * snapshot's own replay ([[VersionedTable.readCommit]] or
  * [[graft.vt.DeltaLogReader.readPinnedSnapshot]]), which handles all of
  * them. It is a [[PrunedFilteredScan]]: pushed filters (a) prune the
  * snapshot's file list through the one survival test ([[VtPruning]]) —
  * a point-read of a DV-carrying 100 TB snapshot touches one file, not
  * all of them — and (b) are re-expressed as Column predicates on the
  * replayed DataFrame, below the deletion-vector filter, where parquet
  * pushdown and footer skipping see them (a filter never resurrects a
  * deleted row, so filtering before the position subtraction is exact).
  * Untranslatable conjuncts are reported via `unhandledFilters` and Spark
  * re-applies them above the scan. */
final class ReplayRelation(ctx: SQLContext, commit: Commit,
                           bloom: (String, String) => Option[Array[Byte]],
                           replay: Commit => DataFrame)
    extends BaseRelation with PrunedFilteredScan {
  override def sqlContext: SQLContext = ctx
  override val schema: StructType =
    DataType.fromJson(commit.schemaJson).asInstanceOf[StructType]

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    FilterColumns.unhandled(filters)

  /** The pruned, filtered, projected inner plan — package-visible so specs
    * can assert the file-skipping evidence (`scanPlan(...).inputFiles`). */
  private[graft] def scanPlan(requiredColumns: Array[String],
                                filters: Array[Filter]): DataFrame = {
    val pruned = commit.copy(files = VtPruning.prunedFiles(commit, filters.toSeq, bloom))
    val df = FilterColumns.applyAll(replay(pruned), filters)
    if (requiredColumns.isEmpty) df
    else df.select(requiredColumns.head, requiredColumns.tail: _*)
  }

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] =
    scanPlan(requiredColumns, filters).rdd
}

object ReplayRelation {
  /** A native commit, replayed by [[VersionedTable.readCommit]]. */
  def native(ctx: SQLContext, vt: VersionedTable, commit: Commit): ReplayRelation =
    new ReplayRelation(ctx, commit, vt.bloomLookup(commit),
      vt.readCommit(ctx.sparkSession, _))

  /** A foreign Delta snapshot, replayed by
    * [[graft.vt.DeltaLogReader.readPinnedSnapshot]] over the kept adds. */
  def foreign(ctx: SQLContext, tableRoot: String, snap: DeltaSnapshot): ReplayRelation =
    new ReplayRelation(ctx, DeltaLogReader.asCommit(snap), VtPruning.NoBloom, kept => {
      val keep = kept.files.toSet
      DeltaLogReader.readPinnedSnapshot(ctx.sparkSession, tableRoot,
        snap.copy(files = snap.files.filter(f => keep(f.path))))
    })
}

/** DSv2 → DSv1 bridge over a [[ReplayRelation]]: the snapshot shapes the
  * native batch builders cannot serve (column-mapped native commits with
  * deletion vectors; foreign snapshots with directory partitions or
  * renamed schemas) plan through a [[V1Scan]], pruned by the same
  * survival test, pushed filters below any DV subtraction, untranslatable
  * conjuncts re-applied by Spark. */
final class ReplayV1ScanBuilder(full: StructType, label: String,
                                relation: SQLContext => ReplayRelation)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = full

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // all residual: the relation re-applies what it can, Spark the rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val names = requiredSchema.fieldNames.toSet
    val kept = full.fields.filter(f => names.contains(f.name))
    // an empty projection (e.g. COUNT(*)) still needs one column to scan
    required = if (kept.isEmpty) StructType(full.fields.take(1))
               else StructType(kept)
  }

  override def build(): Scan = new V1Scan {
    override def readSchema(): StructType = required
    override def toV1TableScan[T <: BaseRelation with TableScan](context: SQLContext): T = {
      val rel = relation(context)
      val cols = required.fieldNames
      val filters = pushed
      (new BaseRelation with TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = required
        override def buildScan(): RDD[Row] = rel.scanPlan(cols, filters).rdd
      }).asInstanceOf[T]
    }
    override def description(): String = s"ReplayV1Scan $label"
  }
}

/** `format("vt")`: the versioned table as a first-class Spark data source —
  * batch READ (`spark.read.format("vt").option("path", root).load()`) with
  * `branch` / `versionAsOf` / `timestampAsOf` options, and streaming WRITE
  * (`writeStream.format("vt")`, see [[VtSink]]).
  *
  * The batch read serves a genuine `HadoopFsRelation` over the commit's
  * pinned schema and [[VtFileIndex]]: parquet pushdown, column pruning,
  * vectorization and whole-stage codegen all intact, PLUS commit-log
  * stats pruning folded into scan planning. Snapshots carrying deletion
  * vectors fall back to [[ReplayRelation]] (correct merge-on-read, pruned
  * columns, pushed filters, stats file-skipping) rather than silently
  * resurrecting deleted rows. */
final class VtDataSource extends RelationProvider with CreatableRelationProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "vt"

  private def openTable(parameters: Map[String, String])
      : (String, VersionedTable, String) = {
    val path = SourcePaths.required(parameters, "format(\"vt\")",
      "versioned table root")
    (path, VersionedTable.open(path), parameters.getOrElse("branch", "main"))
  }

  /** The `statsCols` option ("a,b,c"): columns whose per-file min/max/
    * null-count stats the commit will record — what powers planning-time
    * file skipping ([[VtFileIndex]]) and metadata-only MIN/MAX on
    * format-written tables. */
  private def statsColsOf(parameters: Map[String, String]): Seq[String] =
    parameters.get("statsCols").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  /** The `bloomCols` option ("a,b"): STRING columns whose per-file bloom
    * bitsets the commit records — point-lookup file skipping for scattered
    * high-cardinality keys (Delta's bloom filter index); sticky across
    * later writes like a Delta table property. */
  private def bloomColsOf(parameters: Map[String, String]): Seq[String] =
    parameters.get("bloomCols").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  /** Batch WRITE — `df.write.format("vt").mode(...).save()`: one commit
    * per save. SaveMode maps onto commit semantics: Append/Overwrite are
    * the two native write modes; ErrorIfExists commits only a FIRST
    * version (refusing if the branch already has one — the closest
    * analog of "path already exists"); Ignore no-ops on a non-empty
    * branch. Options: `message`, `statsCols` (see [[statsColsOf]]),
    * `mergeSchema` / `overwriteSchema` (Delta's schema-evolution dials,
    * mapped onto the commit-level equivalents). Returns the relation at
    * the new head. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.DataFrame): BaseRelation = {
    val (path, vt, branch) = openTable(parameters)
    val message = parameters.getOrElse("message", s"format(\"vt\") $mode save")
    val statsCols = statsColsOf(parameters)
    val mergeSchema = parameters.get("mergeSchema").exists(_.toBoolean)
    val overwriteSchema = parameters.get("overwriteSchema").exists(_.toBoolean)
    val hasHead = vt.head(branch).isDefined
    def write(writeMode: String) =
      vt.write(data, branch, message, mode = writeMode, statsCols = statsCols,
        mergeSchema = mergeSchema, overwriteSchema = overwriteSchema,
        bloomCols = bloomColsOf(parameters))
    // the hasHead pre-checks race against concurrent writers (each save
    // opens its own table handle); the version-slot CAS serializes the
    // COMMITS, so the post-checks below can detect a lost race from the
    // landed version and restore the mode's contract — see
    // [[VtDataSource.ensureFirstVersion]] / [[VtDataSource.undoRacedFirstWrite]]
    mode match {
      case SaveMode.Append => write("append")
      case SaveMode.Overwrite => write("overwrite")
      case SaveMode.ErrorIfExists =>
        if (hasHead) throw new IllegalArgumentException(
          s"branch $branch of $path already has commits (SaveMode.ErrorIfExists)")
        else VtDataSource.ensureFirstVersion(vt, path, branch, write("overwrite"))
      case SaveMode.Ignore =>
        if (!hasHead) { VtDataSource.undoRacedFirstWrite(vt, branch, write("overwrite")); () }
    }
    createRelation(sqlContext, parameters)
  }

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val (path, vt, branch) = openTable(parameters)
    val commit = vt.resolveRead(branch,
      versionAsOf = parameters.get("versionAsOf").map(_.toLong),
      timestampAsOf = parameters.get("timestampAsOf")
        .map(SourcePaths.parseTimestamp(sqlContext.sparkSession, _)))
    val schema = DataType.fromJson(commit.schemaJson).asInstanceOf[StructType]
    // DV snapshots need merge-on-read; column-mapped snapshots (r20
    // RENAME/DROP) need the physical→logical re-aliasing readCommit does —
    // both are exactly what the replay relation serves (pruned, filter-pushed)
    if (commit.dvs.nonEmpty || VersionedTable.hasColumnMapping(schema))
      ReplayRelation.native(sqlContext, vt, commit)
    else {
      val spark = sqlContext.sparkSession
      HadoopFsRelation(new VtFileIndex(spark, vt, commit), StructType(Nil),
        schema, None, new ParquetFileFormat, Map.empty[String, String])(spark)
    }
  }

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"format(\"vt\") supports Append output mode only, got $outputMode — " +
        "Update/Complete need a keyed apply (VersionedTable.applyCdc), not a " +
        "blind append")
    require(partitionColumns.isEmpty,
      "format(\"vt\") does not support partitionBy — versioned tables " +
        "organize data by commit, not by directory partition")
    val (_, vt, branch) = openTable(parameters)
    new VtSink(vt, branch, statsColsOf(parameters))
  }
}

object VtDataSource {
  /** SaveMode.ErrorIfExists post-check: the CAS-serialized commit reveals
    * a lost race — our save was supposed to create the table's FIRST
    * version, but a concurrent writer's commit claimed v0 first. The
    * overwrite cannot be un-published (commits are immutable), so head is
    * AUTO-REVERTED to the winner's version (the same repair the Ignore
    * path does — a NEW commit, the race stays in the audit trail) and the
    * contract violation then surfaced LOUDLY: the table needs no operator
    * action, the caller just learns its exclusive-create lost. */
  private[graft] def ensureFirstVersion(vt: VersionedTable, path: String,
                                          branch: String, c: Commit): Commit =
    if (c.version == 0L) c
    else {
      val repaired = undoIfStillHead(vt, branch, c,
        s"undo raced SaveMode.ErrorIfExists write v${c.version}")
      throw new IllegalStateException(
        s"concurrent writer raced SaveMode.ErrorIfExists on branch $branch of " +
          s"$path: this save landed as v${c.version}, not the table's first " +
          s"version — " + (if (repaired)
            s"head has been reverted to the concurrent writer's " +
              s"v${c.version - 1} (the raced snapshot stays readable as " +
              s"v${c.version} for audit)"
          else
            s"a later writer already advanced the branch past v${c.version}, " +
              "so head was left untouched; revert manually if the raced " +
              "snapshot's rows must be expunged"))
    }

  /** SaveMode.Ignore post-check: Ignore means "a concurrent first writer
    * wins" — if our write raced in ABOVE someone else's commit, restore
    * their table with a revert (a NEW commit, so the race stays in the
    * audit trail; no history is rewritten). */
  private[graft] def undoRacedFirstWrite(vt: VersionedTable, branch: String,
                                           c: Commit): Unit =
    if (c.version != 0L) {
      undoIfStillHead(vt, branch, c, s"undo raced SaveMode.Ignore write v${c.version}")
      ()
    }

  /** The raced-first-write repair, guarded: revert to `c.version - 1` ONLY
    * while `c` is still the branch head — a THIRD writer may have already
    * committed above the raced write, and a blind revert would silently
    * drop their rows from head. The head re-check narrows the window, and
    * the repair itself publishes with its parent PINNED to `c`
    * ([[VersionedTable.revertRaced]]), targeting exactly slot
    * `c.version + 1`: a third writer landing inside the remaining window
    * claims that slot first, the repair's CAS fails, and the repair is
    * skipped — it can only ever undo `c`, never a later commit. Returns
    * whether the repair commit was published. */
  private[graft] def undoIfStillHead(vt: VersionedTable, branch: String, c: Commit,
                                     message: String): Boolean =
    vt.head(branch).exists(_.id == c.id) && {
      try { vt.revertRaced(branch, c, message); true }
      catch { case _: java.util.ConcurrentModificationException => false }
    }
}

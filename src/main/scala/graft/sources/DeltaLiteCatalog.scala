package graft.sources

import java.util

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.catalyst.ProjectingInternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.graft.{CatalystFilterPushdown, Dsv2Shim}
import org.apache.spark.sql.sources.{BaseRelation, Filter, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.vt.{DeletionVectors, DeltaLogReader}
import graft.vt.DeltaLogReader.DeltaSnapshot

/** READ-ONLY DSv2 catalog over FOREIGN Delta tables (r19) — the scale
  * front end `format("delta-lite")`'s DSv1 relation cannot provide:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.dlite", classOf[DeltaLiteCatalog].getName)
  *   spark.sql("SELECT * FROM dlite.`/path/to/delta` VERSION AS OF 3")
  *   SELECT … FROM dlite.`fact` f JOIN dim d ON f.k = d.k WHERE d.grp = 'x'
  * }}}
  *
  * The win over the DSv1 path is `SupportsRuntimeV2Filtering`
  * ([[DeltaDfScan]]): a broadcast star-join's key values re-prune the
  * snapshot's FILE LIST at execution time against each add action's
  * per-file `stats` JSON — Delta's dynamic file pruning, which DSv1 can
  * only apply to directory-partition columns. On a 100 TB foreign fact
  * table, the dimension filter decides which files are read at all. Plus
  * the time-travel SYNTAX (`VERSION/TIMESTAMP AS OF`) the relation
  * options could only spell as reader options.
  *
  * Snapshot shapes the native batch cannot serve — deletion vectors,
  * directory-partitioned layouts, renamed column-mapped schemas — fall
  * back to a [[V1Scan]] over the same [[DeltaLiteMorRelation]] the DSv1
  * provider uses (correct, stats-pruned, filter-pushed; no runtime
  * skipping). DDL is refused: the table belongs to its writer. */
final class DeltaLiteCatalog extends TableCatalog {

  private var catalogName: String = "dlite"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String = {
    require(ident.namespace().isEmpty,
      s"$catalogName catalog identifiers are single backquoted Delta roots, " +
        s"got ${ident.namespace().mkString(".")}.${ident.name()}")
    SourcePaths.local(ident.name())
  }

  private def load(ident: Identifier, version: Option[Long]): Table = {
    val path = pathOf(ident)
    // only a path with NO `_delta_log` directory at all maps to "no such
    // table"; a log that EXISTS but fails to list or replay (truncated
    // JSON, permissions, IO) must surface its own error — masking
    // corruption as table-not-found sends the user hunting a typo. A bare
    // existence check (no listing) also keeps the healthy path at ONE log
    // listing, inside snapshot().
    if (version.isEmpty && !java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(path).resolve("_delta_log")))
      throw new NoSuchTableException(ident)
    val snap = DeltaLogReader.snapshot(path, version, Some(SparkSession.active))
    new DeltaLiteTable(SparkSession.active, path, snap,
      s"$catalogName.`${ident.name()}`" + version.map(v => s" v$v").getOrElse(""))
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** SQL `VERSION AS OF n`. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(version.toLongOption.getOrElse(
      throw new IllegalArgumentException(
        s"VERSION AS OF must be a Delta version number, got '$version'"))))

  /** SQL `TIMESTAMP AS OF ts` — Spark hands MICROseconds since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val path = pathOf(ident)
    load(ident, Some(DeltaLogReader.versionAtTimestamp(path,
      Math.floorDiv(timestamp, 1000L))))
  }

  override def tableExists(ident: Identifier): Boolean =
    try { DeltaLogReader.latestVersion(pathOf(ident)) >= 0L }
    catch { case _: Exception => false }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty // path-addressed: there is no enumerable namespace

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      s"$catalogName is a read-only view of foreign Delta tables; write " +
        "through their owning engine (or export a vt table with exportDeltaLog)")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(s"$catalogName is read-only")

  override def dropTable(ident: Identifier): Boolean = false

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(s"$catalogName is read-only")
}

/** One version-pinned foreign Delta snapshot served through DSv2. */
final class DeltaLiteTable(spark: SparkSession, tableRoot: String,
                           snap: DeltaSnapshot, ident: String)
    extends Table with SupportsRead {

  override def name(): String = ident
  override def schema(): StructType = snap.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  /** Native when a bare file scan binds correctly: column mapping off (or
    * never renamed), no deletion vectors, no directory partitions (their
    * values live in paths, not files — the fallback replays them
    * correctly). Everything else → the proven [[DeltaLiteMorRelation]]
    * behind a [[V1Scan]]. */
  private def flatUnrenamed: Boolean = {
    val mode = snap.configuration.getOrElse("delta.columnMapping.mode", "none")
    snap.partitionColumns.isEmpty &&
      (mode == "none" || DeltaLite.unrenamed(snap.schema))
  }
  private def nativeRoutable: Boolean =
    snap.files.forall(_.dv.isEmpty) && flatUnrenamed

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (nativeRoutable)
      new DeltaDfScanBuilder(spark, tableRoot, snap)
    else if (flatUnrenamed)
      // DV-bearing flat snapshots (r20): native merge-on-read batch with
      // per-task roaring-DV subtraction AND runtime file skipping — the
      // broadcast star join into an exported DV table re-prunes files at
      // execution, which the V1 fallback could never do
      new DeltaMorScanBuilder(spark, tableRoot, snap)
    else
      new DeltaLiteV1ScanBuilder(spark, tableRoot, snap)
}

/** [[org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex]]
  * over a PARTITION-FREE foreign Delta snapshot (the only shape the
  * native DSv2 route serves): the snapshot's live file list from the
  * log's own size/mtime (zero filesystem stats), with add-action stats
  * pruning applied to the scan's data filters in `listFiles` — the DSv2
  * twin of [[DeltaFileIndex]], shaped like [[VtFileIndex]] because
  * `ParquetScanBuilder` requires the partitioning-aware base. */
private[sources] final class DeltaFlatFileIndex(spark: SparkSession,
                                                root: java.nio.file.Path,
                                                snap: DeltaSnapshot)
    extends org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex(
      spark, Map.empty, None) {

  private val tester = new DeltaStatsTester(snap.schema, snap.partitionColumns)
  private val rootPath = new HPath(root.toUri)

  private lazy val statuses: Vector[(DeltaLogReader.FileEntry, org.apache.hadoop.fs.FileStatus)] = {
    lazy val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    snap.files.map { f =>
      val p = new HPath(root.resolve(f.path).toUri)
      val status =
        if (f.size >= 0L) new org.apache.hadoop.fs.FileStatus(f.size, false, 1, 0L, f.modTime, p)
        else fs.getFileStatus(p)
      f -> status
    }
  }

  override def rootPaths: Seq[HPath] = Seq(rootPath)
  override def partitionSpec(): org.apache.spark.sql.execution.datasources.PartitionSpec =
    org.apache.spark.sql.execution.datasources.PartitionSpec.emptySpec
  override def partitionSchema: StructType = StructType(Nil)

  private lazy val leafMap = {
    val m = scala.collection.mutable.LinkedHashMap
      .empty[HPath, org.apache.hadoop.fs.FileStatus]
    statuses.foreach { case (_, st) => m += (st.getPath -> st) }
    m
  }
  private lazy val leafDirs: Map[HPath, Array[org.apache.hadoop.fs.FileStatus]] =
    statuses.map(_._2).groupBy(_.getPath.getParent)
      .view.mapValues(_.toArray).toMap

  override protected def leafFiles: scala.collection.mutable.LinkedHashMap[HPath, org.apache.hadoop.fs.FileStatus] =
    leafMap
  override protected def leafDirToChildrenFiles: Map[HPath, Array[org.apache.hadoop.fs.FileStatus]] =
    leafDirs

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[org.apache.spark.sql.execution.datasources.PartitionDirectory] = {
    val bounds = dataFilters.flatMap(StatsWindows.windows).toList
    val nulls = dataFilters.flatMap(StatsWindows.nullWindows).toList
    val kept = statuses.filter { case (fe, _) =>
      tester.fileSurvives(fe, bounds, nulls)
    }
    Seq(org.apache.spark.sql.execution.datasources.PartitionDirectory(
      InternalRow.empty, kept.map(_._2).toArray))
  }

  override def inputFiles: Array[String] =
    snap.files.map(f => root.resolve(f.path).toString).toArray
  override def refresh(): Unit = () // a pinned snapshot is immutable
  override def sizeInBytes: Long = statuses.map(_._2.getLen).sum
}

/** Native DSv2 scan builder over a foreign Delta snapshot — Spark's own
  * [[ParquetScanBuilder]] over [[DeltaFileIndex]] (catalyst pushdown,
  * stats pruning in `listFiles`, column pruning, vectorization), with the
  * PARTITIONS planned by [[DeltaDfScan]] so runtime filters can re-prune
  * the file list. The vt twin is [[VtMetaScanBuilder]]/[[VtDfScan]]. */
final class DeltaDfScanBuilder(spark: SparkSession, tableRoot: String,
                               snap: DeltaSnapshot)
    extends ScanBuilder with CatalystFilterPushdown
    with SupportsPushDownRequiredColumns {

  private val root = java.nio.file.Paths.get(tableRoot).toAbsolutePath.normalize
  private val delegate =
    ParquetScanBuilder(spark, new DeltaFlatFileIndex(spark, root, snap),
      snap.schema, snap.schema, CaseInsensitiveStringMap.empty())
  private var dataFilters: Seq[Expression] = Nil

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    dataFilters = dataFilters ++ filters
    delegate.pushFilters(filters)
  }
  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    delegate.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit =
    delegate.pruneColumns(requiredSchema)

  override def build(): Scan =
    new DeltaDfScan(spark, root, snap, dataFilters, delegate.build())
}

/** The native batch: static stats pruning from the scan's own filters,
  * size-balanced split packing, log-sourced [[Statistics]] for AQE, and —
  * the reason this class exists — `SupportsRuntimeV2Filtering`: a
  * broadcast join's key values arrive at execution time and re-prune the
  * file list through each add action's `stats` JSON (dynamic file
  * pruning over a FOREIGN Delta table, no Delta jar). Conservative by
  * construction: stats-less files and untranslatable predicates prune
  * nothing, and Spark re-applies the join itself — a miss only costs. */
final class DeltaDfScan(spark: SparkSession, root: java.nio.file.Path,
                        snap: DeltaSnapshot, dataFilters: Seq[Expression],
                        parquet: ParquetScan)
    extends Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  private val tester = new DeltaStatsTester(snap.schema, snap.partitionColumns)

  private val staticFiles: Vector[DeltaLogReader.FileEntry] = {
    val bounds = dataFilters.flatMap(StatsWindows.windows).toList
    val nulls = dataFilters.flatMap(StatsWindows.nullWindows).toList
    if (bounds.isEmpty && nulls.isEmpty) snap.files
    else snap.files.filter(f => tester.fileSurvives(f, bounds, nulls))
  }

  @volatile private var shrunk: Vector[DeltaLogReader.FileEntry] = null
  private def liveFiles: Vector[DeltaLogReader.FileEntry] = {
    val s = shrunk
    if (s == null) staticFiles else s
  }

  /** Exposed for specs: how many files the scan will actually plan. */
  private[graft] def plannedFileCount: Int = liveFiles.size

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // every readable column may carry per-file stats in the add actions;
    // a column that turns out stats-less simply prunes nothing
    readSchema().fieldNames.map(Dsv2Shim.columnRef)

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val v1 = predicates.flatMap(Dsv2Shim.toV1(_).toSeq)
    val (bounds, nulls) = StatsWindows.fromFilters(v1.toSeq)
    if (bounds.nonEmpty || nulls.nonEmpty)
      shrunk = liveFiles.filter(f => tester.fileSurvives(f, bounds, nulls))
  }

  override def readSchema(): StructType = parquet.readSchema()
  override def toBatch: Batch = this
  override def description(): String =
    s"DeltaDfScan v${snap.version} files=${liveFiles.size}/${snap.files.size}"

  private def sizeOf(f: DeltaLogReader.FileEntry): Long =
    if (f.size >= 0L) f.size
    else java.nio.file.Files.size(root.resolve(f.path))
  private def totalBytes: Long = liveFiles.iterator.map(sizeOf).sum

  override def planInputPartitions(): Array[InputPartition] = {
    val maxSplit = math.max(1L, FilePartition.maxSplitBytes(spark, totalBytes))
    val splits = liveFiles
      .flatMap(f => VtSplits.ofPath(root.resolve(f.path), sizeOf(f), maxSplit))
      .sortBy(-_.length)
    FilePartition.getFilePartitions(spark, splits, maxSplit).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    parquet.createReaderFactory()

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(totalBytes)
    override def numRows(): java.util.OptionalLong = {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val counts = liveFiles.map(_.stats.map(s => mapper.readTree(s).path("numRecords")))
      if (counts.forall(_.exists(_.isNumber)))
        java.util.OptionalLong.of(counts.iterator.map(_.get.asLong()).sum)
      else java.util.OptionalLong.empty()
    }
  }
}

/** NATIVE DSv2 scan builder for DV-CARRYING flat foreign snapshots (r20 —
  * replaces their `V1Scan` fallback): catalyst filters prune the add list
  * through the log's per-file stats AND reach the parquet readers; the
  * Scan is a real [[Batch]] whose readers subtract each file's roaring
  * deletion vector BY TASK — the driver ships only the tiny DV
  * DESCRIPTORS (path/inline + cardinality, straight from the add
  * actions), never positions. Every pushed conjunct is also returned as
  * residual, so correctness never depends on the translation. The vt twin
  * is [[VtMorScanBuilder]]. */
final class DeltaMorScanBuilder(spark: SparkSession, tableRoot: String,
                                snap: DeltaSnapshot)
    extends ScanBuilder with CatalystFilterPushdown
    with SupportsPushDownRequiredColumns {

  private val root = java.nio.file.Paths.get(tableRoot).toAbsolutePath.normalize
  private val rowIdx = Dsv2Shim.rowIndexField
  private val dataWithIdx = StructType(snap.schema.fields :+ rowIdx)
  private val delegate =
    ParquetScanBuilder(spark, new DeltaFlatFileIndex(spark, root, snap),
      dataWithIdx, dataWithIdx, CaseInsensitiveStringMap.empty())
  private var dataFilters: Seq[Expression] = Nil
  private var required: StructType = snap.schema

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    dataFilters = filters
    delegate.pushFilters(filters) // translated conjuncts reach the readers
    filters // ALL residual: Spark re-applies them above the DV subtraction
  }
  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    delegate.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // normalize to table order — rows come back in dataSchema order
    val names = requiredSchema.fieldNames.toSet
    required = StructType(snap.schema.fields.filter(f => names.contains(f.name)))
  }

  override def build(): Scan = {
    delegate.pruneColumns(StructType(required.fields :+ rowIdx))
    val tester = new DeltaStatsTester(snap.schema, snap.partitionColumns)
    val bounds = dataFilters.flatMap(StatsWindows.windows).toList
    val nulls = dataFilters.flatMap(StatsWindows.nullWindows).toList
    val pruned =
      if (bounds.isEmpty && nulls.isEmpty) snap.files
      else snap.files.filter(f => tester.fileSurvives(f, bounds, nulls))
    new DeltaMorScan(spark, root, snap, pruned, required,
      delegate.build().asInstanceOf[ParquetScan])
  }
}

/** One single-file split + its file's DV DESCRIPTOR (None when the file
  * is deletion-free) — a foreign Delta add action's or a native manifest
  * entry's, the same struct — and the root a relative descriptor resolves
  * against. The positions are decoded by the task itself from the roaring
  * bitmap, never shipped from the driver. */
private[sources] final case class DeltaMorInputPartition(
    files: FilePartition, rootDir: String,
    dv: Option[DeletionVectors.DvDescriptor]) extends InputPartition {
  override def preferredLocations(): Array[String] = files.preferredLocations()
}

/** The native foreign-Delta merge-on-read batch: stats-pruned and
  * runtime-skippable file list ([[SupportsRuntimeV2Filtering]] — dynamic
  * file pruning over a DV-carrying foreign table), per-file splits, and
  * readers that drop deleted positions with one binary search per row
  * against the task-decoded roaring bitmap. Columnar passthrough when no
  * live file carries deletions. */
final class DeltaMorScan(spark: SparkSession, root: java.nio.file.Path,
                         snap: DeltaSnapshot,
                         pruned: Vector[DeltaLogReader.FileEntry],
                         outSchema: StructType, parquet: ParquetScan)
    extends Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  private val tester = new DeltaStatsTester(snap.schema, snap.partitionColumns)

  @volatile private var shrunk: Vector[DeltaLogReader.FileEntry] = null
  private def liveFiles: Vector[DeltaLogReader.FileEntry] = {
    val s = shrunk
    if (s == null) pruned else s
  }

  /** Exposed for specs: how many files the scan will actually plan. */
  private[graft] def plannedFileCount: Int = liveFiles.size

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    readSchema().fieldNames.map(Dsv2Shim.columnRef)

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val v1 = predicates.flatMap(Dsv2Shim.toV1(_).toSeq)
    val (bounds, nulls) = StatsWindows.fromFilters(v1.toSeq)
    if (bounds.nonEmpty || nulls.nonEmpty)
      shrunk = liveFiles.filter(f => tester.fileSurvives(f, bounds, nulls))
  }

  override def readSchema(): StructType = outSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"DeltaMorScan v${snap.version} files=${liveFiles.size}/${snap.files.size} " +
      s"dv=${snap.files.count(_.dv.isDefined)}"

  private def sizeOf(f: DeltaLogReader.FileEntry): Long =
    if (f.size >= 0L) f.size
    else java.nio.file.Files.size(root.resolve(f.path))
  private def totalBytes: Long = liveFiles.iterator.map(sizeOf).sum

  override def planInputPartitions(): Array[InputPartition] = {
    val maxSplit = math.max(1L, FilePartition.maxSplitBytes(spark, totalBytes))
    val parts = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    liveFiles.foreach { f =>
      // splits of ONE file per partition: row indexes are file-absolute,
      // so every split filters against the same decoded position set
      VtSplits.ofPath(root.resolve(f.path), sizeOf(f), maxSplit).foreach { pf =>
        parts += DeltaMorInputPartition(FilePartition(parts.length, Array(pf)),
          root.toString, f.dv)
      }
    }
    parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // Spark refuses mixed row/columnar partitions: columnar only when NO
    // live file carries deletions (runtime skipping may have dropped them)
    new DeltaMorReaderFactory(parquet.createReaderFactory(), outSchema,
      allColumnar = liveFiles.forall(_.dv.isEmpty))

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(totalBytes)
    override def numRows(): java.util.OptionalLong = {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val counts = liveFiles.map(_.stats.map(s => mapper.readTree(s).path("numRecords")))
      if (counts.forall(_.exists(_.isNumber)))
        java.util.OptionalLong.of(counts.iterator.map(_.get.asLong()).sum -
          liveFiles.iterator.flatMap(_.dv).map(_.cardinality).sum)
      else java.util.OptionalLong.empty()
    }
  }
}

/** Wraps the parquet readers: emit only rows whose file-absolute index
  * (the generated last column) is not in the task-decoded deletion set;
  * columnar passthrough when the whole scan is deletion-free. Serves the
  * foreign-Delta scan, the native MOR scan ([[VtMorScan]]) and the native
  * micro-batch stream alike. */
private[sources] final class DeltaMorReaderFactory(
    delegate: PartitionReaderFactory, outSchema: StructType,
    allColumnar: Boolean) extends PartitionReaderFactory {
  private val n = outSchema.length

  override def supportColumnarReads(partition: InputPartition): Boolean =
    allColumnar && delegate.supportColumnarReads(
      partition.asInstanceOf[DeltaMorInputPartition].files)

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val mp = partition.asInstanceOf[DeltaMorInputPartition]
    require(mp.dv.isEmpty, "columnar MOR read planned for a partition with deletions")
    val inner = delegate.createColumnarReader(mp.files)
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      override def next(): Boolean = inner.next()
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
        val b = inner.get()
        new org.apache.spark.sql.vectorized.ColumnarBatch(
          Array.tabulate(n)(b.column), b.numRows())
      }
      override def close(): Unit = inner.close()
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val mp = partition.asInstanceOf[DeltaMorInputPartition]
    val inner = delegate.createReader(mp.files)
    val proj = ProjectingInternalRow(outSchema, (0 until n).toIndexedSeq)
    new PartitionReader[InternalRow] {
      // decoded lazily INSIDE the task; deletion-free files skip it
      private lazy val deleted: Array[Long] =
        mp.dv.map(DeletionVectors.positions(mp.rootDir, _))
          .getOrElse(Array.emptyLongArray)
      override def next(): Boolean = {
        while (inner.next()) {
          val r = inner.get()
          if (deleted.length == 0 ||
              java.util.Arrays.binarySearch(deleted, r.getLong(n)) < 0) {
            proj.project(r)
            return true
          }
        }
        false
      }
      override def get(): InternalRow = proj
      override def close(): Unit = inner.close()
    }
  }
}

/** The proven DSv1 fallback behind a [[V1Scan]]: snapshot shapes the
  * native batch cannot serve (deletion vectors, directory partitions,
  * renamed mapped schemas) delegate to [[DeltaLiteMorRelation]] — pruned
  * by the same stats/partitionValues, pushed filters below the DV
  * subtraction, untranslatable conjuncts re-applied by Spark. */
final class DeltaLiteV1ScanBuilder(spark: SparkSession, tableRoot: String,
                                   snap: DeltaSnapshot)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = snap.schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // all residual: the relation re-applies what it can, Spark the rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val names = requiredSchema.fieldNames.toSet
    val kept = snap.schema.fields.filter(f => names.contains(f.name))
    // an empty projection (e.g. COUNT(*)) still needs one column to scan
    required = if (kept.isEmpty) StructType(snap.schema.fields.take(1))
               else StructType(kept)
  }

  override def build(): Scan = new V1Scan {
    override def readSchema(): StructType = required
    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T = {
      val rel = new DeltaLiteMorRelation(context, tableRoot,
        Some(snap.version), preResolved = Some(snap))
      val cols = required.fieldNames
      val filters = pushed
      (new BaseRelation with TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = required
        override def buildScan(): RDD[Row] = rel.scanPlan(cols, filters).rdd
      }).asInstanceOf[T]
    }
    override def description(): String =
      s"DeltaLiteV1Scan v${snap.version} (fallback relation)"
  }
}

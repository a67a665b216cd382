package graft.sources

import java.util.OptionalLong

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, LocalScan, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.graft.{CatalystFilterPushdown, Dsv2Shim}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, MapType, ShortType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.vt.{Commit, DeletionVectors, VersionedTable}

/** The one DSv2 scan builder, for every snapshot shape — native commits
  * and foreign Delta replays ([[graft.vt.DeltaLogReader.asCommit]]), with
  * or without deletion vectors, column mapping or directory partitions:
  * Spark's own [[ParquetScanBuilder]] over the commit-pinned
  * [[VtFileIndex]] (full catalyst filter pushdown → commit-log stats
  * pruning AND footer skipping, column pruning, vectorization), read in
  * the snapshot's [[VersionedTable.ReadLayout]], PLUS metadata-only
  * aggregate pushdown: an UNFILTERED, UNGROUPED `COUNT(*)` / `COUNT(col)`
  * / `MIN(col)` / `MAX(col)` whose answer is PROVABLE from the commit
  * log's per-file row counts / null counts / min-max stats short-circuits
  * to a [[LocalScan]] — ZERO file reads, not even footers (Spark's own
  * parquet aggregate pushdown still pays one footer GET per file; at 10⁶
  * files the driver-side fold is the only sane shape for "how big / how
  * fresh is this table?"). Anything not provable — a filter, a group-by,
  * a stats-less file, a string stat at the truncation limit, an int64
  * beyond 2⁵³ — falls through to the normal scan, exactly the refusal
  * contract of [[VersionedTable.minMaxFromStats]]. A snapshot with
  * deletion vectors reads the generated row index too and plans the
  * merge-on-read batch ([[VtMorScan]]); the rest plan [[VtDfScan]]. A
  * foreign Delta replay comes without a table handle (`vt = None`): the
  * same pruned, runtime-filtered scan, but no metadata answers, bloom
  * probes or stream.
  *
  * Every pushed conjunct is also returned as residual: the delegate's
  * residual drops partition-only conjuncts (a `FileScanBuilder` trusts
  * `listFiles` to enforce them, but the batches plan their own files from
  * conservative stats windows) and, under column mapping, names physical
  * columns Spark cannot re-resolve. */
final class VtMetaScanBuilder(spark: SparkSession, root: java.nio.file.Path,
                              commit: Commit, vt: Option[VersionedTable],
                              branch: String = "main",
                              options: CaseInsensitiveStringMap =
                                CaseInsensitiveStringMap.empty())
    extends ScanBuilder with CatalystFilterPushdown
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  // ---- COLUMN MAPPING: the delegate operates in the files' name space —
  // the layout's file schema over a commit whose stats maps are keyed the
  // same way (and whose schemaJson IS that schema, so bloomLookup's
  // translation is the identity — immune to rename swaps) — while Spark,
  // the metadata aggregates and the runtime-filter path stay LOGICAL. Rows
  // are positional, so only NAMES translate: filters rewrite their
  // attribute names on the way into the delegate, pruning renames its
  // requested fields at every depth (id mode: re-stamps their field ids,
  // which Spark's pruned schema does not carry), and the scans map the
  // pruned read schema back.
  private val layout = new VersionedTable.ReadLayout(commit)
  private val fileCommit = layout.fileCommit
  private val session = layout.session(spark)
  private val index =
    new VtFileIndex(session, root, fileCommit, VtPruning.bloomOf(vt, fileCommit))
  private val rowIdx = Dsv2Shim.rowIndexField
  private val withRowIndex = commit.dvs.nonEmpty
  private val fileSchema =
    if (withRowIndex) StructType(layout.fileSchema.fields :+ rowIdx) else layout.fileSchema
  private val delegate = ParquetScanBuilder(session, index,
    StructType(fileSchema.fields ++ index.partitionSchema.fields), fileSchema, options)
  /** No translation, no vectors, no partitions: the delegate's own
    * footer-level aggregate scan binds as it is. */
  private val plain = !layout.renamed && !layout.byFieldId && !withRowIndex &&
    index.partitionSchema.isEmpty

  private def toPhys(e: Expression): Expression = e.transform {
    case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
        if layout.dataSchema.fieldNames.contains(a.name) =>
      a.withName(VersionedTable.physicalName(layout.dataSchema(a.name)))
  }
  private def translate(s: StructType, from: StructType, to: StructType): StructType =
    if (layout.fileSchema == layout.dataSchema) s
    else VtMetaScanBuilder.rename(s, from, to).asInstanceOf[StructType]

  private var required: StructType =
    StructType(layout.fileSchema.fields ++ index.partitionSchema.fields)
  private var dataFilters: Seq[Expression] = Nil
  private var delegateAggPushed = false
  private var meta: Option[(StructType, InternalRow)] = None

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    dataFilters = dataFilters ++ filters
    delegate.pushFilters(if (layout.renamed) filters.map(toPhys) else filters)
    filters
  }
  override def pushedFilters: Array[Predicate] = delegate.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = translate(requiredSchema, layout.dataSchema, layout.fileSchema)

  // Spark asks for complete pushdown BEFORE pushing: the metadata answer is
  // a pure function of the aggregation, so both calls compute it
  private def metaAnswer(agg: Aggregation): Option[(StructType, InternalRow)] =
    vt.filter(_ => dataFilters.isEmpty)
      .flatMap(VtExact.metaAnswer(_, commit, layout.schema, agg))

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    meta = metaAnswer(aggregation)
    meta.isDefined || (plain && {
      delegateAggPushed = delegate.pushAggregation(aggregation)
      delegateAggPushed })
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    metaAnswer(aggregation).isDefined ||
      (plain && delegate.supportCompletePushDown(aggregation))

  override def build(): Scan = meta match {
    case Some((schema, row)) => new VtMetaAggScan(schema, row, commit)
    // a footer-level aggregate scan owns its own whole-file partition plan
    // — serve it untouched; everything else gets a native batch (runtime
    // file skipping, commit-log statistics) around the delegate's readers
    case None if delegateAggPushed => delegate.build()
    case None =>
      delegate.pruneColumns(
        if (withRowIndex) StructType(required.fields :+ rowIdx) else required)
      val parquet = delegate.build()
      val out = translate(parquet.readSchema(), layout.fileSchema, layout.dataSchema)
      if (!withRowIndex)
        new VtDfScan(spark, root, commit, vt, dataFilters, parquet, index, out, branch, options)
      else
        new VtMorScan(spark, root, commit, vt, dataFilters, parquet, index,
          StructType(out.fields.filterNot(_.name == rowIdx.name)), branch, options)
  }
}

object VtMetaScanBuilder {
  /** `s` (a pruned subset of `from`, nested fields included) with every
    * field named as in `to` and carrying its metadata (the parquet field
    * id an id-mapped read binds by), the same type under other names —
    * fields `from` does not hold (partition columns, the row index) stay
    * as is. */
  private def rename(s: DataType, from: DataType, to: DataType): DataType = (s, from, to) match {
    case (st: StructType, f: StructType, t: StructType) =>
      StructType(st.fields.map { sf =>
        val i = f.fieldNames.indexOf(sf.name)
        if (i < 0) sf
        else sf.copy(name = t(i).name, metadata = t(i).metadata,
          dataType = rename(sf.dataType, f(i).dataType, t(i).dataType))
      })
    case (a: ArrayType, f: ArrayType, t: ArrayType) =>
      a.copy(elementType = rename(a.elementType, f.elementType, t.elementType))
    case (m: MapType, f: MapType, t: MapType) =>
      m.copy(keyType = rename(m.keyType, f.keyType, t.keyType),
        valueType = rename(m.valueType, f.valueType, t.valueType))
    case _ => s
  }
}

/** The provable-from-metadata aggregate answer of the scan builder, with
  * its exactness helpers: resolve an aggregate's
  * single-column reference against the table schema, and convert a
  * double-domain stat to the column type only where exactness is
  * PROVABLE. */
private[sources] object VtExact {

  /** An UNFILTERED, UNGROUPED `COUNT(*)` / `COUNT(col)` / `MIN(col)` /
    * `MAX(col)` answered from the commit log alone — all or nothing, so
    * the query runs one scan either way:
    *  - `COUNT(*)`: Σ rowCounts − Σ deletion-vector cardinality
    *    ([[VersionedTable.liveRowCount]], the answer `countRows` gives);
    *  - `COUNT(col)`: Σ (rowCounts − null counts), refused under deletion
    *    vectors (a deleted row's null-ness is unknown without reading it);
    *  - `MIN` / `MAX`: the per-file stats, refusing truncated string bounds
    *    and int64 beyond 2⁵³; under deletion vectors an end stays exact
    *    whenever some file ACHIEVING it has none
    *    ([[VersionedTable.minMaxNumFromStatsDv]]). */
  def metaAnswer(vt: VersionedTable, commit: Commit, schema: StructType,
                 agg: Aggregation): Option[(StructType, InternalRow)] = {
    if (agg.groupByExpressions.nonEmpty) return None
    val dvFree = (f: String) => !commit.dvs.contains(f)
    def nonNullRows(col: String): Option[Long] =
      if (commit.dvs.isEmpty && commit.files.forall(f => commit.rowCounts.contains(f) &&
            commit.nullStats.get(f).exists(_.contains(col))))
        Some(commit.files.iterator.map(f => commit.rowCounts(f) - commit.nullStats(f)(col)).sum)
      else None
    def minMaxOf(fld: StructField, takeMax: Boolean): Option[Any] = fld.dataType match {
      case StringType if commit.dvs.isEmpty =>
        vt.minMaxStringFromStats(commit, fld.name) // refuses truncated bounds
          .map(mm => UTF8String.fromString(if (takeMax) mm._2 else mm._1))
      case StringType =>
        vt.minMaxStringFromStatsDv(commit, fld.name, takeMax, dvFree).map(UTF8String.fromString)
      case dt if commit.dvs.isEmpty =>
        vt.minMaxFromStats(commit, fld.name)
          .flatMap(mm => exactNum(if (takeMax) mm._2 else mm._1, dt))
      case dt =>
        vt.minMaxNumFromStatsDv(commit, fld.name, takeMax, dvFree).flatMap(exactNum(_, dt))
    }
    val answered: Array[Option[(StructField, Any)]] = agg.aggregateExpressions.map {
      case _: CountStar =>
        VersionedTable.liveRowCount(commit)
          .map(t => (StructField("count(*)", LongType, nullable = false), t))
      case c: Count if !c.isDistinct =>
        columnOf(schema, c.column).flatMap(f => nonNullRows(f.name)
          .map(n => (StructField(s"count(${f.name})", LongType, nullable = false), n)))
      case m: Min =>
        columnOf(schema, m.column).flatMap(f => minMaxOf(f, takeMax = false)
          .map(v => (StructField(s"min(${f.name})", f.dataType, nullable = true), v)))
      case m: Max =>
        columnOf(schema, m.column).flatMap(f => minMaxOf(f, takeMax = true)
          .map(v => (StructField(s"max(${f.name})", f.dataType, nullable = true), v)))
      case _ => None
    }
    if (answered.isEmpty || answered.exists(_.isEmpty)) None
    else Some((StructType(answered.map(_.get._1)),
      new GenericInternalRow(answered.map(_.get._2))))
  }

  def columnOf(schema: StructType,
               e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[StructField] = e match {
    case r: NamedReference if r.fieldNames.length == 1 =>
      schema.fields.find(_.name == r.fieldNames()(0))
    case _ => None
  }

  /** Double-domain stat → EXACT catalyst value of the column's type, or
    * None where exactness is not provable (int64 beyond 2⁵³, any type the
    * stats writer does not cover exactly). */
  def exactNum(d: Double, dt: DataType): Option[Any] = dt match {
    case DoubleType => Some(d)
    case FloatType => Some(d.toFloat)
    case IntegerType => Some(d.toInt)
    case ShortType => Some(d.toShort)
    case ByteType => Some(d.toByte)
    // STRICT bound: ±2^53 itself can be the rounded image of true long
    // 2^53±1 (ties-to-even), so exactness is only provable strictly inside
    case LongType if math.abs(d) < 9007199254740992.0 => Some(d.toLong) // |d| < 2^53
    case _ => None
  }
}

/** The metadata answer as a [[LocalScan]]: Spark plans it as a local
  * one-row relation — the query never launches a scan stage at all. */
final class VtMetaAggScan(schema: StructType, row: InternalRow, commit: Commit)
    extends LocalScan {
  override def rows: Array[InternalRow] = Array(row)
  override def readSchema(): StructType = schema
  override def description(): String =
    s"VtMetaAggScan v${commit.version} (commit-log metadata, zero file reads)"
}

/** Machinery shared by the batch scans ([[VtDfScan]], [[VtMorScan]]) over
  * native commits and foreign Delta replays: the LIVE file list
  * (statically stats-pruned, shrunk further by runtime filters), the
  * join-driven dynamic-file-skipping contract, memoized per-file sizes,
  * the per-file split planner, and the commit-log row statistics — one
  * implementation, so a fix to the pruning or packing rules can never
  * diverge between scan shapes or table kinds. */
private[sources] trait VtRuntimePrunedScan
    extends Scan with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  protected def spark: SparkSession
  protected def root: java.nio.file.Path
  protected def commit: Commit
  /** The table handle, where one exists (bloom probes, streams). */
  protected def vt: Option[VersionedTable]
  protected def branch: String
  protected def options: CaseInsensitiveStringMap
  /** The planning-time stats-pruned file list. */
  protected def staticFiles: Vector[String]
  /** The index the delegate reads through (typed partition values). */
  protected def index: VtFileIndex
  /** The delegate's scan, whose partition columns each split carries. */
  protected def parquet: ParquetScan

  protected final lazy val bloom = VtPruning.bloomOf(vt, commit)

  // seeded on first read (never during trait init, where a subclass
  // constructor val behind staticFiles might not be assigned yet)
  @volatile private var shrunk: Vector[String] = null
  protected final def liveFiles: Vector[String] = {
    val s = shrunk
    if (s == null) staticFiles else s
  }

  /** Exposed for specs: how many files the scan will actually plan. */
  private[graft] final def plannedFileCount: Int = liveFiles.size

  // ---- join-driven DYNAMIC FILE SKIPPING (SupportsRuntimeV2Filtering) ----
  // Spark's dynamic-pruning rule hands the broadcast build side's join-key
  // values (an IN predicate) at execution time; testing them against the
  // same commit-log stats windows drops whole files BEFORE any partition
  // is planned — Delta's dynamic file pruning, driven by per-file stats
  // instead of directory partitions. Conservative by construction: an
  // untranslatable predicate or a stats-less file prunes nothing, and
  // Spark re-applies the join itself, so this is only ever a skip.
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val covered = (commit.stats.valuesIterator.flatMap(_.keys) ++
      commit.strStats.valuesIterator.flatMap(_.keys) ++
      // bloom-indexed columns skip on runtime point keys too (r19): a
      // broadcast star-join's IN list over a scattered uuid/long-id key
      // prunes whole files through the sidecar blooms
      commit.bloomCols.iterator ++
      commit.bloomStats.valuesIterator.flatMap(_.keys)).toSet
    readSchema().fieldNames.filter(covered).map(Dsv2Shim.columnRef)
  }

  override def filter(predicates: Array[Predicate]): Unit = {
    val v1 = predicates.flatMap(Dsv2Shim.toV1(_).toSeq).toSeq
    val (bounds, nulls) = StatsWindows.fromFilters(v1)
    shrunk = VtPruning.prune(commit, liveFiles, bounds, nulls,
      v1.flatMap(StatsWindows.filterPointProbes).toList, bloom)
  }

  /** Per-file byte sizes, memoized over the static list — the commit log
    * carries them, so only files without a recorded size pay a real stat
    * call (and exactly once, not per planning round). */
  protected final lazy val sizeOf: Map[String, Long] = staticFiles.map { f =>
    f -> commit.fileSizes.getOrElse(f, java.nio.file.Files.size(root.resolve(f)))
  }.toMap
  protected final def totalBytes: Long = liveFiles.iterator.map(sizeOf).sum

  private lazy val readPartOrdinals: Seq[Int] =
    parquet.readPartitionSchema.fieldNames.toSeq.map(index.partitionSchema.fieldIndex)

  /** One [[PartitionedFile]] per ≤ `maxSplit` chunk of `rel`, carrying the
    * file's typed values of the partition columns the scan reads — the one
    * per-file split planner of the batch scans and the micro-batch stream.
    * Row indexes (where requested) are file-absolute, so chunking is always
    * safe. */
  protected final def splitsOf(rel: String, maxSplit: Long): Seq[PartitionedFile] = {
    val size = sizeOf(rel)
    val path = SparkPath.fromPath(VtFileIndex.pathOf(root, rel))
    val row = index.partitionRow(rel)
    val values = if (readPartOrdinals.isEmpty) InternalRow.empty
      else InternalRow.fromSeq(readPartOrdinals.map(i =>
        row.get(i, index.partitionSchema(i).dataType)))
    (0L until size by maxSplit).map(start =>
      PartitionedFile(values, path, start, math.min(maxSplit, size - start), Array.empty,
        commit.modTimes.getOrElse(rel, 0L), size, Map.empty))
  }

  /** Live-row count from the commit log, when every live file logged one. */
  protected final def rowCountStat: OptionalLong =
    if (liveFiles.forall(commit.rowCounts.contains))
      OptionalLong.of(liveFiles.iterator.map(commit.rowCounts).sum)
    else OptionalLong.empty()

  /** The stream over this scan's snapshot, where the table handle exists
    * (`spark.readStream.table(...)`, [[VtMicroBatchStream]]); this scan's
    * pruned readSchema pins the stream's column set. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new VtMicroBatchStream(spark, vt.getOrElse(throw new UnsupportedOperationException(
      s"${description()}: a foreign Delta snapshot serves batch reads only")),
      branch, commit, readSchema(), options)
}

/** NATIVE batch for DV-FREE snapshots (r18): the delegate [[ParquetScan]]
  * supplies the reader factory — Spark's own vectorized parquet readers,
  * pushed filters, columnar batches, whole-stage codegen — while the
  * PARTITIONS are planned here from the commit log: static stats pruning
  * (the same windows `VtFileIndex.listFiles` applies), size-balanced
  * split packing via `FilePartition.getFilePartitions`, commit-log
  * [[Statistics]] for AQE, and — the reason this class exists —
  * `SupportsRuntimeV2Filtering` ([[VtRuntimePrunedScan]]): a broadcast
  * join's key values re-prune the FILE LIST at execution time through
  * the per-file stats (dynamic file pruning). Spark's own `FileScan`
  * runtime-filters only PARTITION columns; per-file stats cover those
  * (a Delta replay's partition values are `(v, v)` stats) and every
  * other column alike. `outSchema` is the delegate's read schema under
  * logical names: Spark binds the batch's columns POSITIONALLY. */
final class VtDfScan(protected val spark: SparkSession, protected val root: java.nio.file.Path,
                     protected val commit: Commit, protected val vt: Option[VersionedTable],
                     dataFilters: Seq[Expression], protected val parquet: ParquetScan,
                     protected val index: VtFileIndex, outSchema: StructType,
                     protected val branch: String,
                     protected val options: CaseInsensitiveStringMap)
    extends Batch with SupportsReportStatistics with VtRuntimePrunedScan {

  // dataFilters and the commit are both LOGICAL-keyed here — the builder
  // keeps this scan's pruning inputs in the query's own name space
  protected lazy val staticFiles: Vector[String] =
    VtPruning.pruneExprs(commit, commit.files, dataFilters, bloom)

  override def readSchema(): StructType = outSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"VtDfScan v${commit.version} files=${liveFiles.size}/${commit.files.size} " +
      s"PushedFilters: [${parquet.pushedFilters.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    val maxSplit = math.max(1L, FilePartition.maxSplitBytes(spark, totalBytes))
    val splits = liveFiles.flatMap(splitsOf(_, maxSplit))
      .sortBy(-_.length) // largest first: better bin packing (FileScan's rule)
    FilePartition.getFilePartitions(spark, splits, maxSplit).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    parquet.createReaderFactory()

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.of(totalBytes)
    override def numRows(): OptionalLong = rowCountStat
  }
}

/** Merge-on-read as a NATIVE DSv2 batch: per-file-split input partitions
  * over the stats-pruned file list; the reader factory wraps Spark's own
  * parquet readers — vectorized, filter-pushed, with the FILE-ABSOLUTE
  * row index generated by the reserved [[Dsv2Shim.rowIndexField]]
  * mechanism (correct under row-group skipping, the exact machinery
  * `_metadata.row_index` uses) — and drops rows whose position is
  * deleted with one binary search per row. No `RDD[Row]` materialization,
  * columnar batches intact under the row interface, and AQE gets real
  * [[Statistics]] from the commit log.
  *
  * DV loading is PER-TASK: each partition carries its file's descriptor
  * from the commit record, and a reader whose file carries deletions
  * decodes ITS OWN positions executor-side ([[DeletionVectors.positions]],
  * the loader the foreign-Delta scan uses too). The driver never
  * materializes the deletion set: a 100 TB table with 1% deletions is
  * tens of GB of positions. At 100 TB: a point read touches one file
  * split, the DV subtraction costs log(deletions-in-that-file) per row,
  * and DV bytes move only to the tasks that need them. A micro-batch
  * whose files carry vectors plans through this scan too. */
final class VtMorScan(protected val spark: SparkSession, protected val root: java.nio.file.Path,
                      protected val commit: Commit, protected val vt: Option[VersionedTable],
                      dataFilters: Seq[Expression], protected val parquet: ParquetScan,
                      protected val index: VtFileIndex, outSchema: StructType,
                      protected val branch: String,
                      protected val options: CaseInsensitiveStringMap)
    extends Batch with SupportsReportStatistics with VtRuntimePrunedScan {

  protected lazy val staticFiles: Vector[String] =
    VtPruning.pruneExprs(commit, commit.files, dataFilters, bloom)

  override def readSchema(): StructType = outSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"VtMorScan v${commit.version} files=${liveFiles.size}/${commit.files.size} " +
      s"dv=${commit.dvs.size}"

  override def planInputPartitions(): Array[InputPartition] = {
    val maxSplit = math.max(1L, FilePartition.maxSplitBytes(spark, totalBytes))
    val parts = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    liveFiles.foreach { rel =>
      // splits of ONE file per partition: row indexes are file-absolute,
      // so each split filters against the same per-file position set
      splitsOf(rel, maxSplit).foreach { pf =>
        parts += MorInputPartition(FilePartition(parts.length, Array(pf)),
          root.toString, commit.dvs.get(rel))
      }
    }
    parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // Spark refuses mixed row/columnar partitions, so columnar is a
    // whole-scan decision: only when NO live file carries deletions
    new MorReaderFactory(parquet.createReaderFactory(), outSchema,
      parquet.readSchema().fieldIndex(Dsv2Shim.rowIndexField.name),
      allColumnar = !liveFiles.exists(commit.dvs.contains))

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.of(totalBytes)
    override def numRows(): OptionalLong = {
      val base = rowCountStat
      if (!base.isPresent) base
      else OptionalLong.of(base.getAsLong - liveFiles.iterator.map(f =>
        commit.dvs.get(f).map(_.cardinality).getOrElse(0L)).sum)
    }
  }
}

/** One single-file split + its file's DV DESCRIPTOR (None when the file
  * is deletion-free) — a foreign Delta add action's or a native manifest
  * entry's, the same struct — and the root a relative descriptor resolves
  * against. The positions are decoded by the task itself from the roaring
  * bitmap, never shipped from the driver. */
private[sources] final case class MorInputPartition(
    files: FilePartition, rootDir: String,
    dv: Option[DeletionVectors.DvDescriptor]) extends InputPartition {
  override def preferredLocations(): Array[String] = files.preferredLocations()
}

/** Wraps the parquet readers: emit only rows whose file-absolute index
  * (the generated column at `rowIdx`, after the data columns and before
  * any partition columns) is not in the task-decoded deletion set;
  * columnar passthrough when the whole scan is deletion-free. Serves
  * [[VtMorScan]] over native and foreign snapshots alike. */
private[sources] final class MorReaderFactory(
    delegate: PartitionReaderFactory, outSchema: StructType, rowIdx: Int,
    allColumnar: Boolean) extends PartitionReaderFactory {
  private val columns: IndexedSeq[Int] = (0 to outSchema.length).filter(_ != rowIdx)

  override def supportColumnarReads(partition: InputPartition): Boolean =
    allColumnar && delegate.supportColumnarReads(
      partition.asInstanceOf[MorInputPartition].files)

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val mp = partition.asInstanceOf[MorInputPartition]
    require(mp.dv.isEmpty, "columnar MOR read planned for a partition with deletions")
    val inner = delegate.createColumnarReader(mp.files)
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      override def next(): Boolean = inner.next()
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
        val b = inner.get()
        new org.apache.spark.sql.vectorized.ColumnarBatch(
          columns.map(b.column).toArray, b.numRows())
      }
      override def close(): Unit = inner.close()
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val mp = partition.asInstanceOf[MorInputPartition]
    val inner = delegate.createReader(mp.files)
    val proj = ProjectingInternalRow(outSchema, columns)
    new PartitionReader[InternalRow] {
      // decoded lazily INSIDE the task; deletion-free files skip it
      private lazy val deleted: Array[Long] =
        mp.dv.map(DeletionVectors.positions(mp.rootDir, _))
          .getOrElse(Array.emptyLongArray)
      override def next(): Boolean = {
        while (inner.next()) {
          val r = inner.get()
          if (deleted.length == 0 ||
              java.util.Arrays.binarySearch(deleted, r.getLong(rowIdx)) < 0) {
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

package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.SessionShim
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.vt.DeltaLogReader
import graft.vt.DeltaLogReader.DeltaSnapshot

/** [[FileIndex]] over a foreign Delta snapshot, partitioned or not (an
  * unpartitioned one is one empty partition group): the log's live file
  * set with both pruning layers folded into scan planning — partition
  * pruning from each add action's `partitionValues`, evaluated EXACTLY
  * against the scan's partition filters, and data skipping from the
  * per-file stats through the one survival test ([[VtPruning]] over
  * [[DeltaLogReader.asCommit]]). This is delta-spark's TahoeFileIndex role
  * re-expressed on [[DeltaLogReader]]'s snapshot: `format("delta-lite")`
  * plans the same pruned parquet scan a Delta-jar reader would, with
  * pushdown, vectorization and whole-stage codegen intact. */
final class DeltaFileIndex(spark: SparkSession, root: java.nio.file.Path,
                           snap: DeltaSnapshot) extends FileIndex {

  private lazy val commit = DeltaLogReader.asCommit(snap)
  // metaData.partitionColumns may carry either name form in a mapped
  // table (the tolerance DeltaLogReader.readSnapshot applies): resolve
  // each against logical OR physical field names
  private val partFields: Array[StructField] =
    snap.partitionColumns.map { n =>
      snap.schema.fields.find(f => f.name == n || DeltaLogReader.physName(f) == n)
        .getOrElse(throw new IllegalArgumentException(
          s"partition column '$n' not found in the snapshot schema"))
    }.toArray

  override val partitionSchema: StructType = StructType(partFields)

  /** One FileStatus per live file, built from the LOG'S OWN size/mtime
    * (every protocol-conformant add action records them) — ZERO driver
    * filesystem calls on the common path; only a malformed add without a
    * size pays a real getFileStatus. At a million files this is the
    * difference between reading one snapshot and issuing a million stat
    * RPCs, the same reason delta-spark's own file index trusts the log. */
  private lazy val statuses: Vector[(DeltaLogReader.FileEntry, FileStatus)] = {
    lazy val fs =
      new HPath(root.toUri).getFileSystem(spark.sparkContext.hadoopConfiguration)
    snap.files.map { f =>
      val p = VtFileIndex.pathOf(root, f.path)
      val status =
        if (f.size >= 0L) new FileStatus(f.size, false, 1, 0L, f.modTime, p)
        else fs.getFileStatus(p)
      f -> status
    }
  }

  override def rootPaths: Seq[HPath] = Seq(new HPath(root.toUri))

  /** Typed catalyst value of a partition-value string (the supported-type
    * gate lives in [[DeltaLite.partTypesSupported]]). */
  private def partValue(f: StructField, raw: String): Any =
    if (raw == null || raw.isEmpty) null
    else f.dataType match {
      case ByteType => raw.toByte
      case ShortType => raw.toShort
      case IntegerType => raw.toInt
      case LongType => raw.toLong
      case FloatType => raw.toFloat
      case DoubleType => raw.toDouble
      case BooleanType => raw.toBoolean
      case StringType => UTF8String.fromString(raw)
      case DateType => java.time.LocalDate.parse(raw).toEpochDay.toInt
      case other => throw new IllegalStateException(
        s"unsupported partition type $other reached DeltaFileIndex")
    }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = VtPruning.pruneExprs(commit, commit.files, dataFilters, VtPruning.NoBloom).toSet
    val groups = statuses.groupBy(_._1.partitionValues).toSeq.map { case (pv, group) =>
      val row = InternalRow.fromSeq(partFields.toSeq.map(f =>
        partValue(f, pv.get(DeltaLogReader.physName(f)).orElse(pv.get(f.name)).orNull)))
      (row, group)
    }
    // Partition pruning is EXACT evaluation, never a conservative window:
    // FileSourceStrategy REMOVES partition-only filters from the post-scan
    // filter set and trusts listFiles to enforce them (the contract
    // PartitioningAwareFileIndex.prunePartitions and Delta's TahoeFileIndex
    // honor) — a kept-but-non-matching group here would return WRONG ROWS,
    // so every partition filter shape (!=, IN, OR, IS NULL, ...) is bound
    // to the partition row and evaluated for real.
    val pruned =
      if (partitionFilters.isEmpty) groups
      else {
        import org.apache.spark.sql.catalyst.expressions.{And => CatAnd, AttributeReference, BoundReference, Predicate => CatPredicate}
        val bound = partitionFilters.reduce(CatAnd(_, _)).transform {
          case a: AttributeReference =>
            val idx = partFields.indexWhere(_.name == a.name)
            require(idx >= 0,
              s"partition filter references non-partition column '${a.name}'")
            BoundReference(idx, partFields(idx).dataType, nullable = true)
        }
        val pred = CatPredicate.createInterpreted(bound)
        pred.initialize(0)
        groups.filter { case (row, _) => pred.eval(row) }
      }
    pruned.map { case (row, group) =>
      PartitionDirectory(row, group.collect { case (f, st) if kept(f.path) => st }.toArray)
    }
  }

  override def inputFiles: Array[String] =
    snap.files.map(f => root.resolve(f.path).toString).toArray

  override def refresh(): Unit = () // a pinned snapshot is immutable

  override def sizeInBytes: Long = statuses.map(_._2.getLen).sum
}

/** `spark.read.format("delta-lite")`: batch reads of a STOCK Delta table
  * without the Delta jar, planned through Spark's native file-scan
  * machinery with the log's partition values and per-file stats pruning
  * folded in ([[DeltaFileIndex]]). Options: `path` (required),
  * `versionAsOf`, `timestampAsOf` (epoch millis, ISO instant, or a
  * session-zone date/date-time — [[SourcePaths.parseTimestamp]];
  * mutually exclusive with `versionAsOf`).
  *
  * Column-mapped tables stay NATIVE wherever the files allow it: id mode
  * binds columns by parquet field id inside Spark's own vectorized
  * reader; name mode binds by field id too when the data files carry ids
  * (what delta-spark writes — probed from ONE footer, the oldest file,
  * the likeliest to predate a mapping upgrade), or scans plainly when no
  * column was ever renamed (physicalName == logical name throughout).
  * The field-id conf is scoped to the RELATION'S cloned session
  * ([[SessionShim.withConf]]) — the user's session is never mutated.
  * Snapshots with deletion vectors, renamed name-mode schemas without
  * file field ids, or partition types beyond the primitive set fall back
  * to [[ReplayRelation]] (correct, pruned, filter-pushed).
  *
  * Note: as with Spark's own partitioned reads, partition columns
  * surface AFTER the data columns in the relation's schema. */
final class DeltaLite extends RelationProvider with DataSourceRegister {

  override def shortName(): String = "delta-lite"

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val path = SourcePaths.required(parameters, "delta-lite", "Delta table root")
    val vAsOf = parameters.get("versionAsOf").map(_.toLong)
    val tAsOf = parameters.get("timestampAsOf")
      .map(SourcePaths.parseTimestamp(sqlContext.sparkSession, _))
    require(vAsOf.isEmpty || tAsOf.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    val version = vAsOf.orElse(tAsOf.map(DeltaLogReader.versionAtTimestamp(path, _)))
    val spark = sqlContext.sparkSession
    val snap = DeltaLogReader.snapshot(path, version, Some(spark))
    val mode = snap.configuration.getOrElse("delta.columnMapping.mode", "none")
    val hasDv = snap.files.exists(_.dv.isDefined)
    val root = java.nio.file.Paths.get(path).toAbsolutePath.normalize
    def fallback = ReplayRelation.foreign(sqlContext, path, snap)
    if (hasDv || !DeltaLite.partTypesSupported(snap)) fallback
    else {
      val dataFields = snap.schema.fields
        .filterNot(f => snap.partitionColumns.contains(f.name) ||
          snap.partitionColumns.contains(DeltaLogReader.physName(f)))
      // (schema option, needs field-id resolution) per mapping mode; None =
      // this snapshot cannot be served natively
      val routed: Option[(StructType, Boolean)] = mode match {
        case "none" => Some((StructType(dataFields), false))
        case _ if DeltaLite.unrenamed(StructType(dataFields)) =>
          // mapping enabled but no column ever renamed (the upgrade
          // default): physical == logical, a plain scan binds correctly
          Some((StructType(dataFields), false))
        case "id" =>
          Some((DeltaLogReader.fieldIdSchema(StructType(dataFields)), true))
        case "name" =>
          // renamed name-mode columns can still bind NATIVELY when the
          // data files carry parquet field ids (delta-spark's do): reuse
          // the id-mode machinery; fall back only when ids are genuinely
          // absent (probed from the oldest file's footer — a mixed table
          // whose old files lack ids fails loudly in the reader rather
          // than returning wrong columns)
          scala.util.Try(DeltaLogReader.fieldIdSchema(StructType(dataFields)))
            .toOption
            .filter(_ => DeltaLite.oldestFileHasFieldIds(spark, root, snap))
            .map(s => (s, true))
        case _ => None
      }
      routed match {
        case None => fallback
        case Some((dataSchema, needsIds)) =>
          // field-id resolution is read at scan planning from the
          // RELATION's session — scope it to a clone, never the user's
          val relSession =
            if (needsIds) SessionShim.withConf(spark,
              "spark.sql.parquet.fieldId.read.enabled" -> "true")
            else spark
          val index = new DeltaFileIndex(relSession, root, snap)
          HadoopFsRelation(index, index.partitionSchema, dataSchema, None,
            new ParquetFileFormat, Map.empty[String, String])(relSession)
      }
    }
  }
}

object DeltaLite {
  private val SupportedPartTypes: Set[DataType] = Set(ByteType, ShortType,
    IntegerType, LongType, FloatType, DoubleType, BooleanType, StringType,
    DateType)
  private[sources] def partTypesSupported(snap: DeltaSnapshot): Boolean =
    snap.partitionColumns.forall(n =>
      snap.schema.fields
        .find(f => f.name == n || DeltaLogReader.physName(f) == n)
        .exists(f => SupportedPartTypes.contains(f.dataType)))

  /** True when NO field (nested included) was ever renamed — physical
    * name equals logical name throughout, so the parquet files' column
    * names ARE the logical names and a plain scan binds correctly. The
    * walk recurses through EVERY container shape (array-of-array,
    * map-value structs, …): a renamed struct field reachable only under
    * nested containers wrongly routed native would silently read NULL
    * where the fallback serves real data. */
  private[sources] def unrenamed(st: StructType): Boolean = {
    def walk(dt: DataType): Boolean = dt match {
      case s: StructType =>
        s.fields.forall(f => DeltaLogReader.physName(f) == f.name && walk(f.dataType))
      case a: ArrayType => walk(a.elementType)
      case m: MapType => walk(m.keyType) && walk(m.valueType)
      case _ => true
    }
    walk(st)
  }

  /** ONE footer probe, of the OLDEST live file (minimum add-action
    * modificationTime, path as tiebreaker — add order is not preserved
    * through a checkpoint bootstrap, and the oldest file is the
    * likeliest to predate a column-mapping upgrade and so to lack ids):
    * true iff every top-level parquet field carries a field id. Driver
    * cost is a single footer read per relation creation, independent of
    * table size. Any probe I/O failure answers FALSE — the fallback
    * relation can serve what a failed native routing would crash on. */
  private[sources] def oldestFileHasFieldIds(spark: SparkSession,
                                             root: java.nio.file.Path,
                                             snap: DeltaSnapshot): Boolean =
    snap.files.nonEmpty && scala.util.Try {
      val fe = snap.files.minBy(f => (f.modTime, f.path))
      val p = new HPath(root.resolve(fe.path).toUri)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        p, spark.sparkContext.hadoopConfiguration)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val fields = reader.getFooter.getFileMetaData.getSchema.getFields
        !fields.isEmpty && fields.stream().allMatch(t => t.getId != null)
      } finally reader.close()
    }.getOrElse(false)
}

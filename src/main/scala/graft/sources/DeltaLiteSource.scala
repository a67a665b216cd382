package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider}

import graft.vt.{DeltaLogReader, VersionedTable}
import graft.vt.DeltaLogReader.DeltaSnapshot

/** `spark.read.format("delta-lite")`: batch reads of a STOCK Delta table
  * without the Delta jar, planned through Spark's native file-scan
  * machinery over the one commit-log index ([[VtFileIndex]] on the
  * snapshot's [[DeltaLogReader.asCommit]]): the log's partition values,
  * evaluated exactly, per-file stats pruning and the adds' logged sizes
  * and modification times. Options: `path` (required), `versionAsOf`,
  * `timestampAsOf` (epoch millis, ISO instant, or a session-zone
  * date/date-time — [[SourcePaths.parseTimestamp]]; mutually exclusive
  * with `versionAsOf`).
  *
  * Column-mapped tables stay NATIVE wherever the files allow it: id mode
  * binds columns by parquet field id inside Spark's own vectorized
  * reader; name mode binds by field id too when the data files carry ids
  * (what delta-spark writes — probed from ONE footer, the oldest file,
  * the likeliest to predate a mapping upgrade), or scans plainly when no
  * column was ever renamed (physicalName == logical name throughout).
  * The field-id conf is scoped to the RELATION'S cloned session
  * ([[DeltaLogReader.fieldIdSession]]) — the user's session is never
  * mutated.
  * Snapshots with deletion vectors, or renamed name-mode schemas without
  * file field ids, need what a DSv1 relation cannot do (subtract vectors,
  * re-alias columns) and are served by [[ReplayRelation]] (correct,
  * pruned, filter-pushed); the `dlite` catalog serves every shape natively.
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
    val commit = DeltaLogReader.asCommit(snap)
    val layout = new VersionedTable.ReadLayout(commit)
    val root = java.nio.file.Paths.get(path).toAbsolutePath.normalize
    // renamed name-mode columns can still bind NATIVELY when the data
    // files carry parquet field ids (delta-spark's do): reuse the id-mode
    // machinery; fall back only when ids are genuinely absent (probed from
    // the oldest file's footer — a mixed table whose old files lack ids
    // fails loudly in the reader rather than returning wrong columns)
    val idSchema =
      if (!layout.renamed) None
      else scala.util.Try(DeltaLogReader.fieldIdSchema(layout.dataSchema)).toOption
        .filter(_ => DeltaLite.oldestFileHasFieldIds(spark, root, snap))
    if (commit.dvs.nonEmpty || (layout.renamed && idSchema.isEmpty))
      new ReplayRelation(sqlContext, root, commit, None)
    else {
      // field-id resolution is read at scan planning from the RELATION's
      // session, a clone — never the user's
      val relSession =
        if (idSchema.isEmpty) layout.session(spark) else DeltaLogReader.fieldIdSession(spark)
      val index = new VtFileIndex(relSession, root, commit, VtPruning.NoBloom)
      HadoopFsRelation(index, index.partitionSchema, idSchema.getOrElse(layout.fileSchema),
        None, new ParquetFileFormat, Map.empty[String, String])(relSession)
    }
  }
}

object DeltaLite {
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

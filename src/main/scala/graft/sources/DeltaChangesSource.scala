package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.StreamingShim
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructType, TimestampType}

import graft.vt.DeltaLogReader

/** Structured Streaming over a FOREIGN Delta table's change data feed —
  * `spark.readStream.format("delta-cdf").option("path", root).load()`
  * without the Delta jar: offsets are Delta commit versions, and each
  * micro-batch is the distributed [[DeltaLogReader.changes]] scan of its
  * version interval (cdc files when present, derived inserts/deletes
  * otherwise — the same rules as the batch feed). This is the streaming
  * form of the daily lakeFS→warehouse mirroring flow: compose with
  * `writeStream.format("vt")` (appends) or a keyed foreachBatch apply for
  * an engine-driven standing tail of a stock Delta table.
  *
  * `startingVersion` follows delta-spark's convention — INCLUSIVE:
  * `"earliest"` (default) serves version 0's initial load as inserts,
  * `"latest"` serves only commits after stream start, a number serves
  * that version onward. `maxVersionsPerBatch` bounds one micro-batch's
  * interval. Restart-safe exactly like [[VtChangeFeedSource]]: replayed
  * `getBatch` and `commit()` acks fast-forward the floor, so offsets
  * never regress below the checkpoint.
  *
  * The stream's schema is pinned at start (latest snapshot schema + the
  * three CDF columns). An interval predating a schema evolution is
  * null-padded to the pinned schema — the rule delta-spark's own batch
  * CDF applies when serving old-version changes. */
final class DeltaChangesSource(spark: SparkSession, tableRoot: String,
                               startFloor: Long, maxVersionsPerBatch: Int)
    extends Source {

  require(maxVersionsPerBatch >= 1,
    s"maxVersionsPerBatch must be >= 1, got $maxVersionsPerBatch")

  override val schema: StructType = DeltaChanges.feedSchema(spark, tableRoot)

  // floor / rate-limit / restart-rebase discipline shared with
  // VtChangeFeedSource — see [[OffsetFloor]]
  private val offsets = new OffsetFloor(startFloor)

  override def getOffset: Option[Offset] =
    offsets.nextEnd(DeltaLogReader.latestVersion(tableRoot), maxVersionsPerBatch)
      .filter(_ >= 0).map(VersionOffset(_))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    start.foreach(s => offsets.sync(s.json.toLong))
    val from = start.map(_.json.toLong).getOrElse(offsets.floor)
    val to = end.json.toLong
    offsets.sync(to)
    val batch =
      if (to <= from)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else {
        val feed = DeltaLogReader.changes(spark, tableRoot, from + 1, to)
        // null-pad columns an old interval's schema lacked; keep the pinned order
        feed.select(schema.fields.map { f =>
          if (feed.columns.contains(f.name)) col(f.name).cast(f.dataType)
          else lit(null).cast(f.dataType).as(f.name)
        }.toIndexedSeq: _*)
      }
    StreamingShim.asStreaming(spark, batch)
  }

  override def commit(end: Offset): Unit = offsets.sync(end.json.toLong)

  override def stop(): Unit = ()

  override def toString: String = s"DeltaChangesSource($tableRoot)"
}

/** `format("delta-cdf")` provider. Options: `path` (required, Delta table
  * root), `startingVersion` (`earliest` | `latest` | version, INCLUSIVE —
  * Delta's convention), `maxVersionsPerBatch`. */
final class DeltaChanges extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "delta-cdf"

  private def path(params: Map[String, String]): String =
    SourcePaths.required(params, "delta-cdf", "Delta table root")

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "delta-cdf derives its schema from the Delta log; a user-specified " +
        "schema is not supported")
    (shortName(), DeltaChanges.feedSchema(sqlContext.sparkSession, path(parameters)))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val root = path(parameters)
    val floor = parameters.getOrElse("startingVersion", "earliest") match {
      case "earliest" => -1L // inclusive of version 0's initial load
      case "latest" => DeltaLogReader.latestVersion(root)
      case v => v.toLongOption.map(_ - 1).getOrElse(throw new IllegalArgumentException(
        s"bad startingVersion '$v': expected earliest, latest, or a version number"))
    }
    val maxV = parameters.get("maxVersionsPerBatch").map(_.toInt)
      .getOrElse(Int.MaxValue)
    new DeltaChangesSource(sqlContext.sparkSession, root, floor, maxV)
  }
}

object DeltaChanges {
  // stream start calls this twice back-to-back (sourceSchema, then the
  // Source's schema val) — cache per (root, head version), so one log
  // replay serves both instead of two checkpoint bootstraps. BOUNDED (LRU,
  // 64 entries): a long-lived session tailing many tables must not grow
  // this per-JVM map without limit; an evicted root just pays one extra
  // replay on its next stream start.
  private[sources] val SchemaCacheCap = 64
  private val schemaCache =
    new graft.vt.BoundedCache[(String, Long), StructType](SchemaCacheCap)

  /** Pinned feed columns: the LATEST snapshot schema plus Delta's three
    * CDF columns, in that order. */
  private[sources] def feedSchema(spark: SparkSession, tableRoot: String): StructType =
    schemaCache.get((tableRoot, DeltaLogReader.latestVersion(tableRoot)))(
      DeltaLogReader.snapshot(tableRoot, None, Some(spark)).schema
        .add("_change_type", StringType)
        .add("_commit_version", LongType)
        .add("_commit_timestamp", TimestampType))
}

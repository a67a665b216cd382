package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.graft.Dsv2Shim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

import graft.vt.VersionedTable

/** One task's output file (table-root-relative) and its row count; rowless
  * tasks report `rel = null` and are dropped at commit. */
private[graft] final case class VtEpochFileMessage(rel: String, rows: Long)
    extends WriterCommitMessage

/** `df.writeStream.toTable("vt.\`path\`")` — a NATIVE DSv2 streaming sink
  * ([[graft.sources.VtCatalog]]): each epoch's TASKS write their rows as
  * parquet straight into the table's data directory (Spark's own
  * [[ParquetWriteSupport]] row codec behind a parquet-hadoop writer — the
  * byte-identical file format every other commit produces), each task
  * reports only `(file, rowCount)`, and the driver publishes the epoch as
  * ONE commit. No rows ever visit the driver and no DataFrame round-trip
  * happens (the DSv1 `format("vt")` sink re-executes the batch through
  * `df.write.parquet`; here the write IS the query's own tasks) — the
  * shape a 1000-executor ingest needs.
  *
  * Exactly-once is Delta's `txn` contract, PER WRITER: each epoch commit
  * is stamped `(queryId, epochId)` ([[VersionedTable.lastTxnVersion]]),
  * so a replayed epoch after a crash finds its own query's watermark
  * already at-or-past it and publishes nothing — its re-written files are
  * unreferenced orphans vacuum reclaims — while TWO different streaming
  * queries appending to one branch can never swallow each other's epochs
  * (the DSv1 sink's bare message watermark would). Until the single
  * commit lands, NO reader can see any of the epoch's files — a crash
  * mid-epoch leaves the table at the previous batch boundary.
  *
  * Output modes: Append publishes append commits; Complete (the
  * WriteBuilder's `truncate()`) publishes OVERWRITE commits — the epoch's
  * full result replaces the snapshot, which is exactly Complete's
  * contract. Update is refused by the capability set. */
private[graft] final class VtStreamingWrite(spark: SparkSession,
                                              vt: VersionedTable, branch: String,
                                              schema: StructType, ident: String,
                                              overwrite: Boolean,
                                              queryId: String)
    extends StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = {
    // the conf ships the schema + the writer dials ParquetWriteSupport and
    // its schema converter read from it (legacy format / timestamp type /
    // field ids / variant annotation — ParquetFileFormat.prepareWrite sets
    // the same four), resolved from THIS session so streamed files match
    // what every batch write produces
    val conf = spark.sessionState.newHadoopConf()
    val sql = spark.sessionState.conf
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sql.getConf(SQLConf.PARQUET_WRITE_LEGACY_FORMAT).toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sql.getConf(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE).toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sql.getConf(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED).toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sql.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    ParquetWriteSupport.setSchema(schema, conf)
    VtEpochWriterFactory(vt.root.toString, branch,
      Dsv2Shim.serializableConf(conf))
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // replayed epoch after a crash: THIS query's txn watermark already
    // covers it — the re-written files stay unreferenced (vacuum sweeps
    // them), and nothing is double-committed. Keyed by queryId, so another
    // query's interleaved epochs are invisible to the check.
    if (vt.lastTxnVersion(branch, queryId).exists(_ >= epochId)) return
    val files = messages.collect {
      case VtEpochFileMessage(rel, _) if rel != null => rel
    }.toVector.sorted
    // Complete mode must publish even an EMPTY epoch (the result set may
    // have genuinely shrunk to nothing); Append skips rowless epochs like
    // the DSv1 sink does
    if (files.nonEmpty || overwrite)
      locally {
        // message deliberately does NOT match the DSv1 sink's
        // "stream batch N" watermark regex: a DSv1 ingest sharing this
        // branch must not mistake another engine's epoch number for its
        // own and skip real batches — DSv2 idempotence rides on the txn
        // mark alone
        val _ = vt.commitStreamEpoch(spark, branch, files, schema,
          s"stream epoch $epochId (query $queryId)", overwrite = overwrite,
          txn = Some((queryId, epochId)))
      }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case VtEpochFileMessage(rel, _) if rel != null =>
        graft.vt.LakeFiles.delete(java.nio.file.Paths.get(vt.root.toString).resolve(rel))
      case _ => ()
    }

  override def toString: String = s"VtStreamingWrite($ident)"
}

/** Serializable per-task writer factory: opens a parquet writer LAZILY on
  * the first row (rowless tasks produce no file at all), under
  * `data/<branch>-stream-e<epoch>/` — the epoch's directory is
  * deterministic, the FILE name is task-unique, so a replayed epoch never
  * collides and the (dir, file) pair keeps the engine-wide fileKey
  * contract (last two path segments) unique. */
private[sources] final case class VtEpochWriterFactory(root: String, branch: String,
                                                       confWrapper: AnyRef)
    extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val rel = s"data/$branch-stream-e$epochId/" +
        f"part-$partitionId%05d-$taskId-${java.util.UUID.randomUUID.toString.take(8)}" +
        s"${graft.vt.LakeFiles.Codec.getExtension}.parquet"
      private var rows = 0L
      private var writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = _

      override def write(record: InternalRow): Unit = {
        if (writer == null) {
          val conf = new org.apache.hadoop.conf.Configuration(Dsv2Shim.confOf(confWrapper))
          graft.vt.LakeFiles.LocalFsOptions.foreach { case (k, v) => conf.set(k, v) }
          writer = new VtRowParquetBuilder(
            new HPath(java.nio.file.Paths.get(root).resolve(rel).toUri))
            .withConf(conf)
            .withCompressionCodec(graft.vt.LakeFiles.Codec)
            .build()
        }
        writer.write(record)
        rows += 1
      }

      override def commit(): WriterCommitMessage = {
        if (writer != null) writer.close()
        VtEpochFileMessage(if (rows > 0) rel else null, rows)
      }

      override def abort(): Unit = {
        if (writer != null) writer.close()
        graft.vt.LakeFiles.delete(java.nio.file.Paths.get(root).resolve(rel))
      }

      override def close(): Unit = ()
    }
}

/** parquet-hadoop builder bound to Spark's own [[ParquetWriteSupport]]
  * (which reads the schema and writer dials from the shipped conf) — the
  * streamed files are byte-format-identical to batch-written ones. */
private[sources] final class VtRowParquetBuilder(path: HPath)
    extends org.apache.parquet.hadoop.ParquetWriter.Builder[InternalRow, VtRowParquetBuilder](path) {
  override def getWriteSupport(conf: org.apache.hadoop.conf.Configuration)
      : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
    new ParquetWriteSupport
  override def self(): VtRowParquetBuilder = this
}

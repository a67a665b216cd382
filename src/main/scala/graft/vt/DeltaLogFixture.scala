package graft.vt

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.DataFrame

/** Authors MINIMAL protocol-conformant `_delta_log` tables so
  * [[DeltaLogReader]] has real Delta commit logs to replay (the offline
  * build has no Delta jar to write them — delta-io PROTOCOL.md is the
  * specification being followed). Used by the `q_vt_delta_log` oracle row
  * and DeltaLogSpec; data files are genuine Spark parquet, commit files are
  * newline-delimited single-action JSON exactly as delta-spark 2.x emits. */
object DeltaLogFixture {

  private val mapper = new ObjectMapper()

  private def line(kind: String)(fill: ObjectNode => Unit): String = {
    val rootNode = mapper.createObjectNode()
    fill(rootNode.putObject(kind))
    mapper.writeValueAsString(rootNode)
  }

  def protocolLine(minReader: Int = 1, minWriter: Int = 2): String =
    line("protocol") { p =>
      p.put("minReaderVersion", minReader); p.put("minWriterVersion", minWriter); ()
    }

  /** Protocol v3/v7 with explicit feature lists — the shape delta-spark
    * writes for tables using deletion vectors. */
  def protocolV3Line(readerFeatures: Seq[String],
                     writerFeatures: Seq[String] = Nil): String =
    line("protocol") { p =>
      p.put("minReaderVersion", 3); p.put("minWriterVersion", 7)
      val rf = p.putArray("readerFeatures"); readerFeatures.foreach(rf.add)
      val wf = p.putArray("writerFeatures")
      (writerFeatures ++ readerFeatures).distinct.foreach(wf.add)
      ()
    }

  /** `add` carrying a deletionVector descriptor (protocol v3 DV tables). */
  def addLineWithDv(path: String, sizeBytes: Long,
                    dv: DeletionVectors.DvDescriptor): String =
    addLine(path, sizeBytes, dv = Some(dv))

  /** Does this type contain a nested struct anywhere — the shapes the
    * mapped EXPORT refuses (field-id assignment below top level is not
    * implemented)? Plain arrays/maps of primitives are fine. */
  def nested(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    dt match {
      case _: StructType => true
      case a: ArrayType => nested(a.elementType)
      case m: MapType => nested(m.keyType) || nested(m.valueType)
      case _ => false
    }
  }

  def metaDataLine(schemaJson: String, partitionColumns: Seq[String],
                   configuration: Map[String, String] = Map.empty): String =
    line("metaData") { m =>
      m.put("id", java.util.UUID.randomUUID().toString)
      m.putObject("format").put("provider", "parquet").putObject("options")
      m.put("schemaString", schemaJson)
      val pc = m.putArray("partitionColumns")
      partitionColumns.foreach(pc.add)
      val cfg = m.putObject("configuration")
      configuration.foreach { case (k, v) => cfg.put(k, v) }
      m.put("createdTime", 0L)
      ()
    }

  /** `schema` with name-mode column-mapping metadata added to every field
    * (physical name looked up by field name — nested struct fields
    * included — defaulting to the logical name) plus sequential field ids:
    * the schemaString shape delta-spark writes when
    * `delta.columnMapping.mode=name`. */
  def columnMappedSchema(schema: org.apache.spark.sql.types.StructType,
                         phys: Map[String, String],
                         ids: Map[String, Long] = Map.empty)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{ArrayType, MetadataBuilder, StructField, StructType}
    var nextId = 0L
    def walk(st: StructType): StructType = StructType(st.fields.map { f =>
      nextId += 1
      val meta = new MetadataBuilder().withMetadata(f.metadata)
        .putString("delta.columnMapping.physicalName", phys.getOrElse(f.name, f.name))
        .putLong("delta.columnMapping.id", ids.getOrElse(f.name, nextId))
        .build()
      val dt = f.dataType match {
        case s: StructType => walk(s)
        case a: ArrayType => a.elementType match {
          case s: StructType => a.copy(elementType = walk(s))
          case _ => a
        }
        case other => other
      }
      StructField(f.name, dt, f.nullable, meta)
    })
    walk(schema)
  }

  /** Rename `df`'s columns to their physical names AND stamp each with a
    * parquet field id, so the written data file carries field ids
    * (`spark.sql.parquet.fieldId.write.enabled` is on by default in
    * Spark 3.3+) — the on-disk file shape of an id-mode column-mapped
    * table. */
  def physicalWithIds(df: DataFrame, phys: Map[String, String],
                      ids: Map[String, Long]): DataFrame =
    df.select(df.columns.map { c =>
      val meta = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", ids(c)).build()
      org.apache.spark.sql.functions.col(c).as(phys.getOrElse(c, c), meta)
    }.toIndexedSeq: _*)

  /** The one `add`-action serializer — fixtures use the defaults,
    * [[DeltaLogWriter]] passes real mtime/stats/DV so the writer and the
    * round-trip fixtures can never drift on the action's encoding. */
  def addLine(path: String, sizeBytes: Long,
              partitionValues: Map[String, String] = Map.empty,
              mtime: Long = 0L,
              stats: Option[String] = None,
              dv: Option[DeletionVectors.DvDescriptor] = None,
              dataChange: Boolean = true): String =
    line("add") { a =>
      a.put("path", path)
      val pv = a.putObject("partitionValues")
      partitionValues.foreach { case (k, v) => pv.put(k, v) }
      a.put("size", sizeBytes)
      a.put("modificationTime", mtime)
      a.put("dataChange", dataChange)
      stats.foreach(s => a.put("stats", s))
      dv.foreach { d =>
        val n = a.putObject("deletionVector")
        n.put("storageType", d.storageType)
        n.put("pathOrInlineDv", d.pathOrInlineDv)
        d.offset.foreach(o => n.put("offset", o))
        n.put("sizeInBytes", d.sizeInBytes)
        n.put("cardinality", d.cardinality)
      }
      ()
    }

  /** `cdc` action (PROTOCOL.md "Add CDC File"): a change-data file under
    * `_change_data/` carrying the commit's row-level changes with their
    * `_change_type`; `dataChange` is false by definition (CDC files restate
    * changes, they are not part of the table snapshot). */
  def cdcLine(path: String, sizeBytes: Long,
              partitionValues: Map[String, String] = Map.empty): String =
    line("cdc") { c =>
      c.put("path", path)
      val pv = c.putObject("partitionValues")
      partitionValues.foreach { case (k, v) => pv.put(k, v) }
      c.put("size", sizeBytes)
      c.put("dataChange", false)
      ()
    }

  /** `remove`; `partitionValues` present only when given (Some(Map.empty)
    * writes the extended-metadata empty object, None omits the field — the
    * pre-extended-metadata writer shape change feeds must refuse on
    * partitioned tables). */
  def removeLine(path: String,
                 partitionValues: Option[Map[String, String]] = None,
                 dataChange: Boolean = true): String =
    line("remove") { r =>
      r.put("path", path); r.put("deletionTimestamp", 0L); r.put("dataChange", dataChange)
      partitionValues.foreach { m =>
        val pv = r.putObject("partitionValues")
        m.foreach { case (k, v) => pv.put(k, v) }
      }
      ()
    }

  def commitInfoLine(timestampMs: Long, operation: String = "WRITE"): String =
    line("commitInfo") { c =>
      c.put("timestamp", timestampMs); c.put("operation", operation); ()
    }

  /** `txn` action (PROTOCOL.md Transaction Identifiers): the idempotent
    * streaming writer's (appId, version) mark — stock delta-spark's
    * `txnVersion`/`txnAppId` dedup reads exactly this. */
  def txnLine(appId: String, version: Long): String =
    line("txn") { t =>
      t.put("appId", appId); t.put("version", version); ()
    }

  /** `sidecar` action (PROTOCOL.md V2 checkpoints): references a parquet
    * file under `_delta_log/_sidecars/` carrying the checkpoint's file
    * actions. */
  def sidecarLine(path: String, sizeBytes: Long): String =
    line("sidecar") { s =>
      s.put("path", path); s.put("sizeInBytes", sizeBytes)
      s.put("modificationTime", 0L)
      ()
    }

  /** `checkpointMetadata` action — mandatory in every V2 checkpoint
    * manifest; its `version` must equal the manifest filename's. */
  def checkpointMetadataLine(version: Long): String =
    line("checkpointMetadata") { c => c.put("version", version); () }

  /** Write a V2 checkpoint JSON manifest
    * (`<v %020d>.checkpoint.<uuid>.json`) from action lines. */
  def writeV2CheckpointJson(tableRoot: Path, version: Long, uuid: String,
                            actions: Seq[String]): Unit = {
    val logDir = tableRoot.resolve("_delta_log")
    Files.createDirectories(logDir)
    Files.write(logDir.resolve(f"$version%020d.checkpoint.$uuid.json"),
      actions.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    ()
  }

  /** `df` as exactly one parquet file at `dest`, in the session's default
    * codec (fixtures author stock-Delta files, not lake files). */
  private def oneFileParquet(df: DataFrame, tmpDir: Path, dest: Path): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(tmpDir.toString)
    val st = Files.list(tmpDir)
    val part =
      try st.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally st.close()
    Files.createDirectories(dest.getParent)
    Files.move(part, dest, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    graft.Tables.deleteRecursively(tmpDir)
  }

  /** V2-checkpoint SIDECAR parquet under `_delta_log/_sidecars/<name>
    * .parquet`: `add` rows (path, size, partitionValues, optional stats
    * JSON) plus optional `remove` tombstone rows (which a reader must
    * ignore — they are vacuum bookkeeping, not live files). Returns the
    * manifest-relative sidecar path for [[sidecarLine]]. */
  def writeSidecarFile(spark: org.apache.spark.sql.SparkSession,
                       tableRoot: Path, name: String,
                       adds: Seq[(String, Long, Map[String, String])],
                       removeTombstones: Seq[String] = Nil,
                       statsByPath: Map[String, String] = Map.empty): String = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType, valueContainsNull = true)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("stats", StringType)))),
      StructField("remove", StructType(Seq(
        StructField("path", StringType),
        StructField("deletionTimestamp", LongType),
        StructField("dataChange", BooleanType))))))
    val rows =
      adds.map { case (p, sz, pv) =>
        Row(Row(p, pv, sz, 0L, false, statsByPath.get(p).orNull), null)
      } ++ removeTombstones.map(p => Row(null, Row(p, 0L, false)))
    val dest = tableRoot.resolve("_delta_log").resolve("_sidecars")
      .resolve(s"$name.parquet")
    oneFileParquet(spark.createDataFrame(rows.asJava, schema),
      tableRoot.resolve(s"_tmp_sidecar_$name"), dest)
    s"$name.parquet"
  }

  /** V2 checkpoint PARQUET manifest (`<v %020d>.checkpoint.<uuid>
    * .parquet`): checkpointMetadata + protocol + metaData rows, `sidecar`
    * references, and optional INLINE add rows (legal alongside sidecars).
    * `cmVersion` defaults to the filename version; override it to author
    * the mismatch fixture a reader must refuse. */
  def writeV2CheckpointParquet(spark: org.apache.spark.sql.SparkSession,
                               tableRoot: Path, version: Long, uuid: String,
                               schemaJson: String,
                               partitionColumns: Seq[String],
                               configuration: Map[String, String],
                               sidecars: Seq[String],
                               inlineAdds: Seq[(String, Long, Map[String, String])] = Nil,
                               readerFeatures: Seq[String] = Seq("v2Checkpoint"),
                               writerFeatures: Seq[String] = Seq("v2Checkpoint"),
                               cmVersion: Option[Long] = None): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType)))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", MapType(StringType, StringType))))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType)),
        StructField("createdTime", LongType)))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType)))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType, valueContainsNull = true)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("stats", StringType))))))
    val rows: Seq[Row] =
      Seq(
        Row(Row(cmVersion.getOrElse(version)), null, null, null, null),
        Row(null, Row(3, 7, (readerFeatures :+ "v2Checkpoint").distinct,
          (writerFeatures ++ readerFeatures :+ "v2Checkpoint").distinct), null, null, null),
        Row(null, null, Row(java.util.UUID.randomUUID().toString,
          Row("parquet", Map.empty[String, String]), schemaJson,
          partitionColumns, configuration, 0L), null, null)) ++
        sidecars.map(s => Row(null, null, null, Row(s, 0L, 0L), null)) ++
        inlineAdds.map { case (p, sz, pv) =>
          Row(null, null, null, null, Row(p, pv, sz, 0L, false, null))
        }
    oneFileParquet(spark.createDataFrame(rows.asJava, schema),
      tableRoot.resolve(s"_tmp_v2cp_$version"),
      tableRoot.resolve("_delta_log")
        .resolve(f"$version%020d.checkpoint.$uuid.parquet"))
  }

  /** Write commit `version`'s JSON file (`%020d.json`). */
  def writeCommit(tableRoot: Path, version: Long, actions: Seq[String]): Unit = {
    val logDir = tableRoot.resolve("_delta_log")
    Files.createDirectories(logDir)
    Files.write(logDir.resolve(f"$version%020d.json"),
      actions.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    ()
  }

  /** Materialize `df` as ONE parquet data file named `<name>.parquet`
    * directly under `tableRoot`; returns (relative path, size) for its
    * `add` action. */
  def writeDataFile(tableRoot: Path, df: DataFrame, name: String): (String, Long) = {
    val dest = tableRoot.resolve(s"$name.parquet")
    oneFileParquet(df, tableRoot.resolve(s"_tmp_$name"), dest)
    (s"$name.parquet", Files.size(dest))
  }
}

package graft.vt

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, NumericType, StringType, StructType}

/** READ-ONLY replayer for the open Delta Lake transaction-log format — lets
  * this engine open the reference's actual output tables (`jobs/vdt4.py:39-45`
  * writes Delta; `README.md:260` pins delta-spark 2.1.0) without any Delta
  * jar on the classpath. The protocol is public
  * (github.com/delta-io/delta/blob/master/PROTOCOL.md): a table is a
  * directory of parquet data files plus `_delta_log/<version %020d>.json`
  * commit files, each a sequence of newline-delimited single-action JSON
  * objects. Replaying actions `0..v` in order yields version `v`'s snapshot:
  *
  *  - `metaData` — table schema (`schemaString`, the same StructType JSON
  *    Spark serializes) + `partitionColumns`; the newest one wins (schema
  *    evolution via overwrite, exactly `jobs/vdt4.py:76-77`'s
  *    `overwriteSchema` path).
  *  - `add` — a data file joins the snapshot (path percent-encoded relative
  *    to the table root, plus `partitionValues` for Hive-style partition
  *    columns, which are NOT stored in the file).
  *  - `remove` — a data file leaves the snapshot (delete/overwrite/compact).
  *  - `protocol` — reader/writer feature gate: v1 always; v2 column
  *    mapping (both `name` and `id` modes); v3 when every declared
  *    readerFeature is implemented (`deletionVectors` — an
  *    `add.deletionVector` marks MOR-deleted row positions, decoded by
  *    [[DeletionVectors]] and filtered out at read — and `columnMapping`).
  *    Unknown v3 features are refused LOUDLY rather than silently misread.
  *  - `commitInfo` / `txn` / `cdc` — no effect on the file snapshot.
  *
  * CHECKPOINTS (`<v %020d>.checkpoint.parquet` + `_last_checkpoint`) are
  * supported as a replay bootstrap: the snapshot starts from the newest
  * checkpoint ≤ the requested version and replays only the JSON suffix —
  * exactly delta-spark's Snapshot construction. This matters beyond speed:
  * delta-spark's log cleanup (`delta.logRetentionDuration`, default 30 days)
  * DELETES aged JSON commits, keeping only checkpoints, so a long-lived
  * table's early versions exist ONLY through a checkpoint; without this
  * bootstrap such tables would be unreadable. A version reproducible
  * neither by contiguous JSON from 0 nor by checkpoint + JSON suffix is
  * refused loudly. Scale: the JSON walk is O(suffix × actions) driver-side
  * METADATA; the checkpoint read is one columnar parquet scan collecting
  * O(files) rows — the same cost delta-spark's own Snapshot pays. Data
  * files are handed to the stock vectorized parquet reader, so
  * pushdown/pruning/codegen are intact. Partitioned tables read each
  * partition-value group with the file schema and inject the partition
  * columns as literals cast to the declared types — Delta's own
  * reconstitution rule.
  */
object DeltaLogReader {

  private val mapper = new ObjectMapper()
  private val CommitRe = """^(\d{20})\.json$""".r
  private val CheckpointRe = """^(\d{20})\.checkpoint\.parquet$""".r
  // multi-part classic checkpoint: <v>.checkpoint.<part>.<ofN>.parquet —
  // what delta-spark writes for large logs (spark.databricks.delta
  // .checkpoint.partSize); a part group is usable only when complete
  private val MultipartRe = """^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$""".r
  // V2 checkpoint manifest (PROTOCOL.md "V2 Spec" / the `v2Checkpoint`
  // reader feature): <v>.checkpoint.<uuid>.{parquet|json} — the manifest
  // carries checkpointMetadata/protocol/metaData (and may inline adds);
  // file actions live in `sidecar`-referenced parquet files under
  // `_delta_log/_sidecars/`. The single uuid segment cannot collide with
  // the multi-part form (whose middle is two DOT-separated numeric
  // segments; the uuid charset excludes dots).
  private val V2ManifestRe = """^(\d{20})\.checkpoint\.([0-9a-zA-Z-]+)\.(parquet|json)$""".r

  /** Checkpoint forms the reader can bootstrap from. */
  private sealed trait CpForm
  private case object CpClassic extends CpForm
  private case object CpV2Parquet extends CpForm
  private case object CpV2Json extends CpForm

  /** One live data file of a snapshot: decoded table-root-relative path,
    * partition values, (protocol v3 `deletionVectors`) the optional
    * deletion-vector descriptor marking its MOR-deleted row positions, and
    * the add action's opaque per-file `stats` JSON (numRecords / minValues /
    * maxValues / nullCount — carried so checkpoints never drop skipping
    * stats; this reader's scans skip via parquet footers regardless). */
  final case class FileEntry(path: String, partitionValues: Map[String, String],
                             dv: Option[DeletionVectors.DvDescriptor],
                             stats: Option[String] = None,
                             size: Long = -1L, modTime: Long = 0L,
                             /** The add action's path string VERBATIM (still
                               * percent-encoded): a remove re-emitted for this
                               * file must carry the exact original string —
                               * delta-spark's replay compares escaped forms
                               * without decoding, so a re-encoded remove of an
                               * unusually-escaped foreign add would not cancel
                               * it and the file's rows would resurrect. */
                             rawPath: Option[String] = None)

  /** The log's newest `protocol` action, carried verbatim so a checkpoint
    * of the snapshot preserves the table's declared feature gates instead
    * of recomputing (and possibly weakening) them. */
  final case class ProtocolInfo(minReader: Int, minWriter: Int,
                                readerFeatures: Option[Seq[String]],
                                writerFeatures: Option[Seq[String]])

  /** One replayed snapshot: live data files in add-order, plus the winning
    * schema, partition columns, table configuration (the
    * `metaData.configuration` map — carries `delta.columnMapping.mode` for
    * column-mapped tables), and the newest protocol action. */
  final case class DeltaSnapshot(version: Long, schema: StructType,
                                 partitionColumns: Seq[String],
                                 files: Vector[FileEntry],
                                 configuration: Map[String, String] = Map.empty,
                                 protocol: Option[ProtocolInfo] = None)

  /** Newest version present in `_delta_log` — JSON commit or checkpoint,
    * whichever is newer (−1 when the dir has neither). */
  def latestVersion(tableRoot: String): Long = {
    val root = Paths.get(tableRoot)
    (commitFiles(root).map(_._1) ++ checkpointFiles(root).map(_._1))
      .maxOption.getOrElse(-1L)
  }

  /** Delta's `timestampAsOf`: the newest version whose commit timestamp is
    * ≤ `tsMillis`. Raw timestamps come from `commitInfo.timestamp` when
    * present (what delta-spark writes), else the commit file's own
    * modification time (Delta's documented fallback) — and, exactly like
    * delta-spark's `DeltaHistoryManager`, they are ADJUSTED to a strictly
    * increasing sequence (`max(raw, prev + 1 ms)`) before the comparison:
    * multi-writer clocks skew, and resolving against raw timestamps would
    * pick a version delta itself would not. The adjusted sequence is
    * monotonic, so stamping STOPS at the first commit past `tsMillis` —
    * a deep log is never read beyond the answer. Throws when `tsMillis`
    * predates the first commit — an empty read would silently hide a
    * typo'd clock — and, exactly like delta-spark's `DeltaHistoryManager`,
    * when it lands AFTER the last commit's adjusted timestamp: a lenient
    * "latest" answer there would silently mask a wrong (future) clock
    * value. */
  def versionAtTimestamp(tableRoot: String, tsMillis: Long): Long = {
    val root = Paths.get(tableRoot).toAbsolutePath.normalize
    val commits = commitFiles(root)
    require(commits.nonEmpty, s"not a Delta table (no _delta_log commits): $tableRoot")
    var adjusted = Long.MinValue
    var answer = -1L
    val it = commits.iterator
    var done = false
    while (it.hasNext && !done) {
      val (v, p) = it.next()
      val raw = commitTimestamp(p)
      adjusted = if (adjusted == Long.MinValue) raw else math.max(raw, adjusted + 1)
      if (adjusted <= tsMillis) answer = v
      else done = true // monotonic: no later commit can qualify
    }
    require(answer >= 0,
      s"timestamp $tsMillis predates the first commit of $tableRoot")
    require(done || tsMillis == adjusted,
      s"timestamp $tsMillis is after the latest commit of $tableRoot " +
        s"(adjusted ts $adjusted) — delta-spark's timestampAsOf refuses a " +
        "future timestamp rather than silently answering with the latest version")
    answer
  }

  /** First `commitInfo.timestamp` in the commit file (delta-spark writes
    * commitInfo as the leading action, so this normally reads one line),
    * else the file's mtime. */
  private def commitTimestamp(commitPath: Path): Long = {
    val reader = Files.newBufferedReader(commitPath, StandardCharsets.UTF_8)
    try {
      var line = reader.readLine()
      while (line != null) {
        if (line.trim.nonEmpty) {
          val a = mapper.readTree(line)
          if (a.has("commitInfo") && a.get("commitInfo").has("timestamp"))
            return a.get("commitInfo").get("timestamp").asLong()
        }
        line = reader.readLine()
      }
      Files.getLastModifiedTime(commitPath).toMillis
    } finally reader.close()
  }

  private def logEntries(root: Path, re: scala.util.matching.Regex): Vector[(Long, Path)] = {
    val logDir = root.resolve("_delta_log")
    if (!Files.isDirectory(logDir)) return Vector.empty
    val st = Files.list(logDir)
    val all =
      try st.iterator().asScala.toVector finally st.close()
    all.flatMap { p =>
      p.getFileName.toString match {
        case re(d) => Some(d.toLong -> p)
        case _ => None
      }
    }.sortBy(_._1)
  }

  private def commitFiles(root: Path): Vector[(Long, Path)] = logEntries(root, CommitRe)

  /** Usable checkpoints by version: single-file checkpoints, COMPLETE
    * multi-part groups (part files in order — a missing part disqualifies
    * the whole group; bootstrapping from a partial checkpoint would
    * silently drop live files), and V2 manifests (parquet or json; their
    * sidecar completeness is only checkable by READING the manifest, so a
    * torn V2 checkpoint is refused loudly at bootstrap instead — sidecars
    * are written before their manifest, so a dangling reference is
    * corruption, not an in-progress write). Within a version, classic
    * forms sort AFTER v2 so `lastOption` selection prefers the cheaper
    * sidecar-free bootstrap when a table carries both (delta-spark's
    * transition shape). */
  private def checkpointFiles(root: Path): Vector[(Long, CpForm, Vector[Path])] = {
    val logDir = root.resolve("_delta_log")
    if (!Files.isDirectory(logDir)) return Vector.empty
    val st = Files.list(logDir)
    val all = try st.iterator().asScala.toVector finally st.close()
    val singles = all.flatMap { p =>
      p.getFileName.toString match {
        case CheckpointRe(d) => Some((d.toLong, CpClassic: CpForm, Vector(p)))
        case _ => None
      }
    }
    val parts = all.flatMap { p =>
      p.getFileName.toString match {
        case MultipartRe(d, i, n) => Some((d.toLong, i.toInt, n.toInt, p))
        case _ => None
      }
    }
    val groups = parts.groupBy(x => (x._1, x._3)).collect {
      case ((v, n), ps) if ps.map(_._2).toSet == (1 to n).toSet =>
        (v, CpClassic: CpForm, ps.sortBy(_._2).map(_._4))
    }.toVector
    val v2 = all.flatMap { p =>
      p.getFileName.toString match {
        case V2ManifestRe(d, _, ext) =>
          val form: CpForm = if (ext == "parquet") CpV2Parquet else CpV2Json
          Some((d.toLong, form, Vector(p)))
        case _ => None
      }
    }
    def rank(f: CpForm): Int = f match {
      case CpV2Json => 0; case CpV2Parquet => 1; case CpClassic => 2
    }
    (singles ++ groups ++ v2).sortBy { case (v, f, _) => (v, rank(f)) }
  }

  /** Mutable replay state shared by the JSON walk and the checkpoint
    * bootstrap; `live` is insertion-ordered so the scan's file order is
    * deterministic. */
  private final class ReplayState {
    var schemaJson: String = null
    var partCols: Seq[String] = Nil
    var config: Map[String, String] = Map.empty
    var protocol: Option[ProtocolInfo] = None
    val live = scala.collection.mutable.LinkedHashMap
      .empty[String, (Map[String, String], Option[DeletionVectors.DvDescriptor], Option[String], Long, Long, String)]
  }

  /** Reader features this replayer implements beyond protocol v1. */
  private val SupportedReaderFeatures =
    Set("deletionVectors", "columnMapping", "v2Checkpoint")

  /** Protocol gate: v1 unconditionally; v2 (column mapping, implied — no
    * feature list exists at v2) now that name-mode mapping is implemented;
    * v3 when every DECLARED reader feature is implemented (the feature-list
    * contract of reader v3 — a v3 protocol without a readerFeatures list is
    * malformed and refused, never guessed at). */
  private def checkProtocol(minReader: Int,
                            readerFeatures: Option[Set[String]]): Unit =
    if (minReader == 3) readerFeatures match {
      case None => throw new IllegalArgumentException(
        "Delta protocol minReaderVersion=3 without a readerFeatures list is " +
          "malformed — refusing rather than guessing which features are required")
      case Some(fs) =>
        val unsupported = fs -- SupportedReaderFeatures
        require(unsupported.isEmpty,
          s"Delta readerFeatures ${unsupported.mkString(", ")} are not implemented " +
            s"by this replayer (supported: ${SupportedReaderFeatures.mkString(", ")})")
    } else require(minReader <= 2,
      s"Delta protocol minReaderVersion=$minReader is newer than this replayer " +
        "understands")

  private def dvDescriptor(add: JsonNode): Option[DeletionVectors.DvDescriptor] =
    Option(add.get("deletionVector")).map { d =>
      DeletionVectors.DvDescriptor(
        d.get("storageType").asText(),
        d.get("pathOrInlineDv").asText(),
        if (d.has("offset")) Some(d.get("offset").asInt()) else None,
        d.get("sizeInBytes").asInt(),
        d.get("cardinality").asLong())
    }

  /** Parse + gate a `protocol` action node into `state` (shared by the
    * JSON commit walk and the V2 json-manifest bootstrap). */
  private def parseProtocolNode(p: JsonNode, state: ReplayState): Unit = {
    def feats(key: String): Option[Seq[String]] =
      if (p.has(key)) Some(p.get(key).elements().asScala.map(_.asText()).toSeq)
      else None
    checkProtocol(p.path("minReaderVersion").asInt(1),
      feats("readerFeatures").map(_.toSet))
    state.protocol = Some(ProtocolInfo(p.path("minReaderVersion").asInt(1),
      p.path("minWriterVersion").asInt(2),
      feats("readerFeatures"), feats("writerFeatures")))
  }

  private def parseMetaDataNode(md: JsonNode, state: ReplayState): Unit = {
    state.schemaJson = md.get("schemaString").asText()
    state.partCols = md.path("partitionColumns").elements().asScala.map(_.asText()).toSeq
    state.config = md.path("configuration").properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
  }

  private def parseAddNode(add: JsonNode)
      : (String, (Map[String, String], Option[DeletionVectors.DvDescriptor], Option[String], Long, Long, String)) =
    decodePath(add.get("path").asText()) ->
      ((partitionValues(add), dvDescriptor(add),
        Option(add.get("stats")).map(_.asText()),
        add.path("size").asLong(-1L), add.path("modificationTime").asLong(0L),
        add.get("path").asText()))

  /** Apply one commit's actions. A commit is atomic, so its adds/removes are
    * RECONCILED, not replayed in line order: a commit that re-adds a path it
    * also removes (delta-spark's shape for a DV update: `remove` the old
    * add + `add` the same path with the new deletionVector) must leave the
    * file LIVE with the new metadata, regardless of which line came first. */
  private def applyCommit(state: ReplayState, commitPath: Path): Unit = {
    val adds = Vector.newBuilder[(String, (Map[String, String], Option[DeletionVectors.DvDescriptor], Option[String], Long, Long, String))]
    val removes = Vector.newBuilder[String]
    for (line <- Files.readAllLines(commitPath).asScala if line.trim.nonEmpty) {
      val action = mapper.readTree(line)
      if (action.has("protocol")) parseProtocolNode(action.get("protocol"), state)
      if (action.has("metaData")) parseMetaDataNode(action.get("metaData"), state)
      if (action.has("add")) adds += parseAddNode(action.get("add"))
      if (action.has("remove"))
        removes += decodePath(action.get("remove").get("path").asText())
    }
    removes.result().foreach(state.live.remove)
    adds.result().foreach { case (p, v) => state.live.put(p, v) }
  }

  private def hasNested(df: DataFrame, col: String, field: String): Boolean =
    df.schema(col).dataType.asInstanceOf[StructType].fieldNames.contains(field)

  /** Gate + carry the `protocol` column of a checkpoint/manifest scan. */
  private def readProtocolColumn(df: DataFrame, state: ReplayState): Unit =
    if (df.columns.contains("protocol")) {
      val hasRf = hasNested(df, "protocol", "readerFeatures")
      val hasWf = hasNested(df, "protocol", "writerFeatures")
      val fields = Seq("protocol.minReaderVersion", "protocol.minWriterVersion") ++
        (if (hasRf) Seq("protocol.readerFeatures") else Nil) ++
        (if (hasWf) Seq("protocol.writerFeatures") else Nil)
      val wfIdx = if (hasRf) 3 else 2
      df.select(fields.head, fields.tail: _*)
        .where("minReaderVersion IS NOT NULL").collect().foreach { r =>
          val rf = if (hasRf && !r.isNullAt(2)) Some(r.getSeq[String](2)) else None
          val wf = if (hasWf && !r.isNullAt(wfIdx)) Some(r.getSeq[String](wfIdx)) else None
          checkProtocol(r.getInt(0), rf.map(_.toSet))
          state.protocol = Some(ProtocolInfo(r.getInt(0),
            if (r.isNullAt(1)) 2 else r.getInt(1), rf, wf))
        }
    }

  /** The winning `metaData` row of a checkpoint/manifest scan. */
  private def readMetaDataColumn(df: DataFrame, cpPath: Path,
                                 state: ReplayState): Unit = {
    require(df.columns.contains("metaData"),
      s"checkpoint $cpPath has no metaData column")
    val hasConfig = hasNested(df, "metaData", "configuration")
    val mdSel =
      if (hasConfig)
        df.select("metaData.schemaString", "metaData.partitionColumns",
          "metaData.configuration")
      else df.select("metaData.schemaString", "metaData.partitionColumns")
    val md = mdSel.where("schemaString IS NOT NULL").collect()
    require(md.nonEmpty, s"checkpoint $cpPath has no metaData row")
    state.schemaJson = md.last.getString(0)
    state.partCols =
      if (md.last.isNullAt(1)) Nil else md.last.getSeq[String](1).toList
    state.config =
      if (hasConfig && !md.last.isNullAt(2))
        md.last.getJavaMap[String, String](2).asScala.toMap
      else Map.empty
  }

  /** Live-file `add` rows of a checkpoint/sidecar scan into `state.live`
    * (path-sorted for a deterministic scan order; `remove` rows are vacuum
    * tombstones, never live files, and are ignored). */
  private def readAddColumn(df: DataFrame, state: ReplayState): Unit =
    if (df.columns.contains("add")) {
      val hasDv = hasNested(df, "add", "deletionVector")
      val hasStats = hasNested(df, "add", "stats")
      val hasSize = hasNested(df, "add", "size")
      val hasMtime = hasNested(df, "add", "modificationTime")
      val fields = Seq("add.path", "add.partitionValues") ++
        (if (hasDv) Seq("add.deletionVector") else Nil) ++
        (if (hasStats) Seq("add.stats") else Nil) ++
        (if (hasSize) Seq("add.size") else Nil) ++
        (if (hasMtime) Seq("add.modificationTime") else Nil)
      val statsIdx = if (hasDv) 3 else 2
      val sizeIdx = statsIdx + (if (hasStats) 1 else 0)
      val mtimeIdx = sizeIdx + (if (hasSize) 1 else 0)
      df.select(fields.head, fields.tail: _*)
        .where("path IS NOT NULL").collect().sortBy(_.getString(0))
        .foreach { r =>
          val pv =
            if (r.isNullAt(1)) Map.empty[String, String]
            else r.getJavaMap[String, String](1).asScala.toMap
          val dv =
            if (hasDv && !r.isNullAt(2)) {
              val d = r.getStruct(2)
              Some(DeletionVectors.DvDescriptor(d.getString(0), d.getString(1),
                if (d.isNullAt(2)) None else Some(d.getInt(2)),
                d.getInt(3), d.getLong(4)))
            } else None
          val stats =
            if (hasStats && !r.isNullAt(statsIdx)) Some(r.getString(statsIdx))
            else None
          val size =
            if (hasSize && !r.isNullAt(sizeIdx)) r.getLong(sizeIdx) else -1L
          val mtime =
            if (hasMtime && !r.isNullAt(mtimeIdx)) r.getLong(mtimeIdx) else 0L
          state.live.put(decodePath(r.getString(0)),
            (pv, dv, stats, size, mtime, r.getString(0)))
        }
    }

  /** Resolve + read a V2 manifest's sidecar parquet files into `state`.
    * Relative sidecar paths live under `_delta_log/_sidecars/` (the spec's
    * layout); a referenced sidecar that does not exist is CORRUPTION —
    * sidecars are written before their manifest — so the bootstrap refuses
    * loudly instead of silently dropping the live files it carried. */
  private def readSidecars(spark: SparkSession, manifest: Path,
                           rels: Vector[String], state: ReplayState): Unit = {
    if (rels.isEmpty) return
    val dir = manifest.getParent.resolve("_sidecars")
    val paths = rels.map { r =>
      val decoded = decodePath(r)
      if (decoded.startsWith("/")) Paths.get(decoded) else dir.resolve(decoded)
    }
    val missing = paths.filterNot(Files.exists(_))
    require(missing.isEmpty,
      s"v2 checkpoint $manifest references missing sidecar file(s) " +
        s"${missing.mkString(", ")} — the checkpoint is torn/corrupt; refusing " +
        "to bootstrap from it (live files would be silently dropped)")
    readAddColumn(spark.read.parquet(paths.map(_.toString): _*), state)
  }

  /** Bootstrap replay state from a checkpoint: protocol gate, the winning
    * metaData, and the complete live file set (checkpoints carry the full
    * state at their version). Classic form: one columnar scan over the
    * single file or complete part group — O(files) metadata rows, the cost
    * delta-spark's own Snapshot pays. V2 form (`v2Checkpoint` reader
    * feature): the manifest (parquet or json) carries
    * checkpointMetadata/protocol/metaData and may inline adds; the bulk of
    * the file actions live in sidecar parquet files, scanned as one
    * multi-file columnar read. The manifest's `checkpointMetadata.version`
    * must equal the filename version — a mismatch means a mis-named or
    * torn checkpoint and is refused. */
  private def bootstrapFromCheckpoint(spark: SparkSession, version: Long,
                                      form: CpForm,
                                      cpParts: Vector[Path]): ReplayState = {
    val state = new ReplayState
    form match {
      case CpClassic =>
        val df = spark.read.parquet(cpParts.map(_.toString): _*)
        readProtocolColumn(df, state)
        readMetaDataColumn(df, cpParts.head, state)
        readAddColumn(df, state)
      case CpV2Parquet =>
        val manifest = cpParts.head
        val df = spark.read.parquet(manifest.toString)
        require(df.columns.contains("checkpointMetadata"),
          s"v2 checkpoint $manifest has no checkpointMetadata action")
        val cm = df.select("checkpointMetadata.version")
          .where("version IS NOT NULL").collect().map(_.getLong(0))
        require(cm.nonEmpty && cm.forall(_ == version),
          s"v2 checkpoint $manifest: checkpointMetadata.version " +
            s"${cm.mkString(",")} does not match filename version $version")
        readProtocolColumn(df, state)
        readMetaDataColumn(df, manifest, state)
        readAddColumn(df, state) // inline adds are legal alongside sidecars
        val sidecars =
          if (df.columns.contains("sidecar"))
            df.select("sidecar.path").where("path IS NOT NULL")
              .collect().map(_.getString(0)).toVector
          else Vector.empty
        readSidecars(spark, manifest, sidecars, state)
      case CpV2Json =>
        val manifest = cpParts.head
        var cmSeen = false
        val sidecars = Vector.newBuilder[String]
        for (line <- Files.readAllLines(manifest).asScala if line.trim.nonEmpty) {
          val action = mapper.readTree(line)
          if (action.has("checkpointMetadata")) {
            val v = action.get("checkpointMetadata").path("version").asLong(-1L)
            require(v == version,
              s"v2 checkpoint $manifest: checkpointMetadata.version $v does " +
                s"not match filename version $version")
            cmSeen = true
          }
          if (action.has("protocol")) parseProtocolNode(action.get("protocol"), state)
          if (action.has("metaData")) parseMetaDataNode(action.get("metaData"), state)
          if (action.has("add")) {
            val (p, v) = parseAddNode(action.get("add"))
            state.live.put(p, v)
          }
          if (action.has("sidecar"))
            sidecars += action.get("sidecar").get("path").asText()
          // `remove` rows are vacuum tombstones — ignored, exactly as in
          // the parquet forms
        }
        require(cmSeen, s"v2 checkpoint $manifest has no checkpointMetadata action")
        require(state.schemaJson != null,
          s"v2 checkpoint $manifest has no metaData action")
        readSidecars(spark, manifest, sidecars.result(), state)
    }
    state
  }

  /** Replay the log up to `versionAsOf` (inclusive; default: latest),
    * bootstrapping from the newest usable checkpoint when one covers the
    * request (required when pre-checkpoint JSON was pruned by log retention;
    * checkpoint reads need the `spark` session — the JSON-only path does
    * not). */
  def snapshot(tableRoot: String, versionAsOf: Option[Long] = None,
               spark: Option[SparkSession] = None): DeltaSnapshot = {
    val root = Paths.get(tableRoot).toAbsolutePath.normalize
    val commits = commitFiles(root)
    val cps = checkpointFiles(root)
    require(commits.nonEmpty || cps.nonEmpty,
      s"not a Delta table (no _delta_log commits): $tableRoot")
    val newest = (commits.map(_._1) ++ cps.map(_._1)).max
    val upTo = versionAsOf.getOrElse(newest)
    require(upTo >= 0 && upTo <= newest,
      s"versionAsOf $upTo out of range [0, $newest] for $tableRoot")
    val haveJson = commits.map(_._1).toSet
    def jsonContiguous(from: Long): Boolean = (from to upTo).forall(haveJson)
    // newest checkpoint ≤ upTo whose JSON suffix to upTo is complete; only
    // usable when a session is available to read the parquet
    val usableCp = cps.filter { case (cv, _, _) => cv <= upTo && jsonContiguous(cv + 1) }
      .lastOption.filter(_ => spark.isDefined)
    val state = usableCp match {
      case Some((cv, form, cpPath)) =>
        val s = bootstrapFromCheckpoint(spark.get, cv, form, cpPath)
        commits.filter { case (v, _) => v > cv && v <= upTo }
          .foreach { case (_, p) => applyCommit(s, p) }
        s
      case None =>
        require(jsonContiguous(0),
          s"_delta_log cannot reproduce version $upTo: JSON commits 0..$upTo have " +
            s"gaps (log retention pruned them?) and no readable checkpoint ≤ $upTo " +
            "covers the request" +
            (if (cps.nonEmpty && spark.isEmpty)
              " — checkpoint bootstrap needs the SparkSession overload" else ""))
        val s = new ReplayState
        commits.takeWhile(_._1 <= upTo).foreach { case (_, p) => applyCommit(s, p) }
        s
    }
    require(state.schemaJson != null,
      s"no metaData action in versions 0..$upTo of $tableRoot")
    DeltaSnapshot(upTo, DataType.fromJson(state.schemaJson).asInstanceOf[StructType],
      state.partCols,
      state.live.toVector.map { case (p, (pv, dv, st, sz, mt, raw)) =>
        FileEntry(p, pv, dv, st, sz, mt, rawPath = Some(raw)) },
      state.config, state.protocol)
  }

  /** Delta paths are percent-encoded URIs relative to the table root. */
  private def decodePath(p: String): String =
    if (p.contains("://")) p else new java.net.URI(p).getPath

  /** The snapshot in the shape the native scans read — a [[Commit]] whose
    * `files` are the adds' decoded paths (root-relative, or absolute),
    * `fileSizes` their sizes, `rowCounts` their `numRecords`, `dvs` their
    * vectors, and whose `stats` / `strStats` / `nullStats` come from each
    * add's stats JSON, parsed once here and keyed by LOGICAL column name
    * (stats keys are physical in column-mapped tables). Numeric columns
    * keep numeric bounds and string columns textual ones (delta-spark may
    * truncate those, which only widens the envelope). A partition value is
    * its file's `(v, v)` stat — numeric when the column is not a string
    * and the value parses, textual otherwise — with null count 0, and a
    * null partition value is a null count equal to the file's rows, so
    * partition values prune through the same survival test as stats. */
  private[graft] def asCommit(snap: DeltaSnapshot): Commit = {
    val partSet = snap.partitionColumns.toSet
    val num = Map.newBuilder[String, Map[String, (Double, Double)]]
    val str = Map.newBuilder[String, Map[String, (String, String)]]
    val nul = Map.newBuilder[String, Map[String, Long]]
    val rowCounts = Map.newBuilder[String, Long]
    snap.files.foreach { fe =>
      val st = fe.stats.map(mapper.readTree).getOrElse(mapper.createObjectNode())
      val rows = Some(st.path("numRecords")).filter(_.isNumber).map(_.asLong())
      rows.foreach(rowCounts += fe.path -> _)
      val fn = Map.newBuilder[String, (Double, Double)]
      val fs = Map.newBuilder[String, (String, String)]
      val fnul = Map.newBuilder[String, Long]
      snap.schema.fields.foreach { f =>
        val part = if (partSet(f.name) || partSet(physName(f)))
          fe.partitionValues.get(physName(f)).orElse(fe.partitionValues.get(f.name))
        else None
        part match {
          case Some(v) if v == null || v.isEmpty => rows.foreach(fnul += f.name -> _)
          case Some(v) =>
            fnul += f.name -> 0L
            v.toDoubleOption.filter(_ => f.dataType != StringType) match {
              case Some(d) => fn += f.name -> (d, d)
              case None => fs += f.name -> (v, v)
            }
          case None =>
            def quad(q: String): JsonNode = {
              val byPhys = st.path(q).path(physName(f))
              if (byPhys.isMissingNode) st.path(q).path(f.name) else byPhys
            }
            val (mn, mx, nc) = (quad("minValues"), quad("maxValues"), quad("nullCount"))
            f.dataType match {
              case _: NumericType if mn.isNumber && mx.isNumber =>
                fn += f.name -> (mn.asDouble(), mx.asDouble())
              case StringType if mn.isTextual && mx.isTextual =>
                fs += f.name -> (mn.asText(), mx.asText())
              case _ =>
            }
            if (nc.isNumber) fnul += f.name -> nc.asLong()
        }
      }
      Seq(fn.result()).filter(_.nonEmpty).foreach(num += fe.path -> _)
      Seq(fs.result()).filter(_.nonEmpty).foreach(str += fe.path -> _)
      Seq(fnul.result()).filter(_.nonEmpty).foreach(nul += fe.path -> _)
    }
    Commit(s"delta-v${snap.version}", None, snap.version, snap.files.map(_.path),
      snap.schema.json, "", 0L, stats = num.result(), strStats = str.result(),
      nullStats = nul.result(), rowCounts = rowCounts.result(),
      dvs = snap.files.flatMap(f => f.dv.map(f.path -> _)).toMap,
      fileSizes = snap.files.collect { case f if f.size >= 0L => f.path -> f.size }.toMap)
  }

  // ---- column mapping (PROTOCOL.md §Column Mapping, name + id modes) -----
  //
  // A column-mapped table's parquet files carry PHYSICAL column names
  // (`delta.columnMapping.physicalName` in each schema field's metadata,
  // e.g. "col-7f3a…"); the logical names users see exist only in the log.
  // Name mode matches file columns by physical name — so the read path
  // scans with the physical schema and renames back to logical afterwards
  // (nested struct fields rename via a positional cast, Catalyst's own
  // rule for struct casts). Id mode (what modern delta-spark and every
  // Iceberg-compat table writes) matches by PARQUET FIELD ID instead:
  // the read schema keeps the LOGICAL names but stamps each field with
  // `parquet.field.id` = `delta.columnMapping.id`, and Spark's own
  // field-id resolution (`spark.sql.parquet.fieldId.read.enabled`) binds
  // columns id-to-id inside the vectorized reader — scale-native, no
  // per-file footer inspection on the driver. `add.partitionValues` keys
  // are physical names in mapped tables of either mode (the spec's rule);
  // lookups try physical then logical so unmapped tables are unaffected.

  private val PhysNameKey = "delta.columnMapping.physicalName"
  private val ColIdKey = "delta.columnMapping.id"
  /** Spark's own parquet field-id metadata key (ParquetUtils.FIELD_ID_METADATA_KEY). */
  private val ParquetFieldIdKey = "parquet.field.id"

  private[graft] def physName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysNameKey)) f.metadata.getString(PhysNameKey) else f.name

  /** Id-mode read schema: logical names, each field stamped with its
    * `parquet.field.id` so Spark's reader matches by id. A mapped field
    * without an id is refused loudly — guessing by name here is exactly the
    * wrong-column hazard id mode exists to prevent. */
  private[graft] def fieldIdSchema(st: StructType): StructType =
    StructType(st.fields.map { f =>
      require(f.metadata.contains(ColIdKey),
        s"delta.columnMapping.mode=id but field '${f.name}' carries no " +
          s"$ColIdKey — refusing to fall back to name matching")
      val meta = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putLong(ParquetFieldIdKey, f.metadata.getLong(ColIdKey))
        .build()
      // recurse through EVERY container shape — a struct reachable only
      // under a map value (or nested arrays) still needs its ids stamped,
      // else Spark silently falls back to by-name matching against the
      // files' physical names for exactly those fields
      def walk(dt: DataType): DataType = dt match {
        case s: StructType => fieldIdSchema(s)
        case a: org.apache.spark.sql.types.ArrayType =>
          a.copy(elementType = walk(a.elementType))
        case m: org.apache.spark.sql.types.MapType =>
          m.copy(keyType = walk(m.keyType), valueType = walk(m.valueType))
        case other => other
      }
      org.apache.spark.sql.types.StructField(f.name, walk(f.dataType), f.nullable, meta)
    })

  private def physType(dt: DataType): DataType = dt match {
    case st: StructType =>
      StructType(st.fields.map(f =>
        org.apache.spark.sql.types.StructField(physName(f), physType(f.dataType), f.nullable)))
    case at: org.apache.spark.sql.types.ArrayType =>
      at.copy(elementType = physType(at.elementType))
    case mt: org.apache.spark.sql.types.MapType =>
      mt.copy(keyType = physType(mt.keyType), valueType = physType(mt.valueType))
    case other => other
  }

  private def partitionValues(add: JsonNode): Map[String, String] = {
    val pv = add.path("partitionValues")
    pv.properties().asScala.map(e =>
      e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())).toMap
  }

  /** Delta CHANGE DATA FEED read — `table_changes(from, to)` (both ends
    * inclusive) without the Delta jar. Per version: explicit `cdc` actions
    * win when present (their `_change_data` parquet restates the commit's
    * row-level changes with `_change_type`); otherwise the feed derives —
    * a pure-add commit reads its added files as inserts (v0's initial load
    * included), a pure-remove commit reads the removed files as deletes,
    * and a MIXED commit without cdc actions is refused loudly (a CDF-enabled
    * Delta writer always emits cdc for those; so does our
    * [[DeltaLogWriter.exportDeltaLog]] with `changeDataFeed = true`).
    * `dataChange=false` adds/removes (compaction restatements) contribute
    * nothing, Delta's own rule. Output columns: the table schema plus
    * `_change_type`, `_commit_version`, `_commit_timestamp`.
    *
    * PARTITIONED tables are supported: each action carries its
    * `partitionValues`, so every partition-value group of a version's
    * change files is read with the file schema and the partition columns
    * are reconstituted as typed literals — the same rule [[read]] applies
    * to snapshots (a `remove` without partitionValues on a partitioned
    * table — a pre-extended-metadata writer — is refused loudly rather
    * than null-filled). COLUMN-MAPPED feeds are supported in both name
    * mode (scan physical, rename to logical) and id mode (field-id bind).
    * Commit JSON is read for the REQUESTED range only — the prefix state
    * (schema/config as of `fromVersion - 1`) comes from [[snapshot]], i.e.
    * checkpoint bootstrap + JSON suffix — so the walk is O(range) and a
    * table whose pre-checkpoint JSON was pruned by log retention still
    * serves feeds over its retained range. */
  def changes(spark: SparkSession, tableRoot: String,
              fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion >= 0 && toVersion >= fromVersion,
      s"need 0 <= from <= to, got ($fromVersion, $toVersion)")
    val root = Paths.get(tableRoot).toAbsolutePath.normalize
    val have = commitFiles(root).toMap
    (fromVersion to toVersion).foreach(v => require(have.contains(v),
      s"_delta_log has no commit JSON for version $v — a change feed over " +
        "pruned history is unreproducible"))
    // prefix state (schema/partitioning/config as of fromVersion-1) comes
    // from the SNAPSHOT machinery — checkpoint bootstrap + JSON suffix —
    // so the walk here is O(range), not O(history), and a table whose
    // pre-checkpoint JSON was pruned by log retention still serves feeds
    // over its retained range
    var schemaJson: String = null
    var partCols: Seq[String] = Nil
    var config = Map.empty[String, String]
    if (fromVersion > 0) {
      val pre = snapshot(tableRoot, Some(fromVersion - 1), Some(spark))
      schemaJson = pre.schema.json
      partCols = pre.partitionColumns
      config = pre.configuration
    }
    val outs = Vector.newBuilder[DataFrame]
    for (v <- fromVersion to toVersion) {
      val commitPath = have(v)
      // (path, hasDv, partitionValues or None-when-absent)
      val adds = Vector.newBuilder[(String, Boolean, Map[String, String])]
      val removes = Vector.newBuilder[(String, Option[Map[String, String]])]
      val cdcs = Vector.newBuilder[(String, Map[String, String])]
      for (line <- Files.readAllLines(commitPath).asScala if line.trim.nonEmpty) {
        val action = mapper.readTree(line)
        if (action.has("protocol")) {
          val p = action.get("protocol")
          checkProtocol(p.path("minReaderVersion").asInt(1),
            if (p.has("readerFeatures"))
              Some(p.get("readerFeatures").elements().asScala.map(_.asText()).toSet)
            else None)
        }
        if (action.has("metaData")) {
          val md = action.get("metaData")
          schemaJson = md.get("schemaString").asText()
          partCols = md.path("partitionColumns").elements().asScala.map(_.asText()).toSeq
          config = md.path("configuration").properties().asScala
            .map(e => e.getKey -> e.getValue.asText()).toMap
        }
        if (action.has("add") && action.get("add").path("dataChange").asBoolean(true)) {
          val add = action.get("add")
          adds += ((decodePath(add.get("path").asText()),
            add.has("deletionVector"), partitionValues(add)))
        }
        if (action.has("remove") && action.get("remove").path("dataChange").asBoolean(true)) {
          val rm = action.get("remove")
          removes += ((decodePath(rm.get("path").asText()),
            if (rm.has("partitionValues")) Some(partitionValues(rm)) else None))
        }
        if (action.has("cdc")) {
          val cdc = action.get("cdc")
          cdcs += ((decodePath(cdc.get("path").asText()), partitionValues(cdc)))
        }
      }
      require(schemaJson != null, s"no metaData action in versions 0..$v")
      val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
      val mode = config.getOrElse("delta.columnMapping.mode", "none")
      require(mode == "none" || mode == "name" || mode == "id",
        s"delta.columnMapping.mode=$mode is not implemented by this replayer")
      val mapped = mode == "name"
      val idMapped = mode == "id"
      // same session-scoping rule as readSnapshot: id-mode scans plan
      // against a cloned session with the field-id conf on, never by
      // mutating the caller's session
      val scanSession =
        if (idMapped) org.apache.spark.sql.graft.SessionShim.withConf(spark,
          "spark.sql.parquet.fieldId.read.enabled" -> "true")
        else spark
      val partSet = partCols.toSet
      def isPart(f: org.apache.spark.sql.types.StructField): Boolean =
        partSet(f.name) || partSet(physName(f))
      val dataFields = schema.fields.filterNot(isPart)
      val partFields = schema.fields.filter(isPart)
      val ts = commitTimestamp(commitPath)
      def abs(rel: String) = root.resolve(rel).toString
      def tag(df: DataFrame) = df
        .withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp", (lit(ts) / 1000.0).cast("timestamp"))
      // partition columns live in the log, not the files: read each
      // partition-value group with the file schema (+ _change_type for cdc
      // files) and reconstitute the partition columns as typed literals —
      // Delta's own rule, identical to readSnapshot's. Column-mapped feeds
      // read data columns under physical names (name mode: scan physical,
      // rename back; id mode: field-id bind under logical names — the
      // `_change_type` column itself is never mapped and matches by name,
      // which mixed field-id resolution supports). Unpartitioned tables
      // collapse to one group and keep the single multi-file scan.
      def scanGrouped(files: Vector[(String, Map[String, String])],
                      withChangeType: Boolean): DataFrame = {
        val base0 =
          if (mapped) StructType(dataFields.map(f => org.apache.spark.sql.types
            .StructField(physName(f), physType(f.dataType), f.nullable)))
          else if (idMapped) fieldIdSchema(StructType(dataFields))
          else StructType(dataFields)
        val fileSchema =
          if (withChangeType)
            base0.add("_change_type", org.apache.spark.sql.types.StringType)
          else base0
        def renameToLogical(df: DataFrame): DataFrame =
          if (!mapped) df
          else df.select((dataFields.map(f =>
            col(s"`${physName(f)}`").cast(f.dataType).as(f.name)) ++
            (if (withChangeType) Seq(col("_change_type")) else Nil)).toIndexedSeq: _*)
        files.groupBy(_._2).toSeq.map { case (pv, group) =>
          val base = renameToLogical(scanSession.read.schema(fileSchema)
            .parquet(group.map(g => abs(g._1)): _*))
          partFields.foldLeft(base) { (d, f) =>
            val raw = pv.get(physName(f)).orElse(pv.get(f.name)).orNull
            val value = if (raw == null || raw.isEmpty) lit(null) else lit(raw)
            d.withColumn(f.name, value.cast(f.dataType))
          }
        }.reduce(_ unionByName _)
          .select((schema.fieldNames.map(col) ++
            (if (withChangeType) Seq(col("_change_type")) else Nil)).toIndexedSeq: _*)
      }
      val (a, r, c) = (adds.result(), removes.result(), cdcs.result())
      if (c.nonEmpty)
        outs += tag(scanGrouped(c, withChangeType = true))
      else if (r.isEmpty && a.nonEmpty) {
        require(a.forall(!_._2), s"version $v adds deletion-vector files " +
          "without cdc actions — its row-level changes are not derivable")
        outs += tag(scanGrouped(a.map(x => (x._1, x._3)), withChangeType = false)
          .withColumn("_change_type", lit("insert")))
      } else if (a.isEmpty && r.nonEmpty) {
        require(partCols.isEmpty || r.forall(_._2.isDefined),
          s"version $v removes files without partitionValues on a " +
            "partitioned table — its delete rows cannot be reconstituted " +
            "(pre-extended-file-metadata writer)")
        outs += tag(scanGrouped(r.map(x => (x._1, x._2.getOrElse(Map.empty))),
            withChangeType = false)
          .withColumn("_change_type", lit("delete")))
      } else if (a.nonEmpty && r.nonEmpty)
        throw new IllegalArgumentException(
          s"version $v mixes adds and removes without cdc actions — not " +
            "readable as a change feed (export with changeDataFeed=true)")
      // else: metadata-only commit, contributes no changes
    }
    val frames = outs.result()
    if (frames.isEmpty) {
      // a range of metadata-only commits is a legal, EMPTY feed (a
      // replicator polling version-by-version must be able to step over
      // them) — not an error
      require(schemaJson != null, s"no metaData action in versions 0..$toVersion")
      val s = DataType.fromJson(schemaJson).asInstanceOf[StructType]
        .add("_change_type", org.apache.spark.sql.types.StringType)
        .add("_commit_version", org.apache.spark.sql.types.LongType)
        .add("_commit_timestamp", org.apache.spark.sql.types.TimestampType)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    }
    // a range spanning an overwriteSchema commit mixes column sets: align
    // by name and null-fill the columns a version's schema lacked — the
    // rows ARE the feed's truth, and delta-spark's CDF likewise serves
    // old-version changes null-padded to the latest schema
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Delta's `option("timestampAsOf", ts)` without the Delta jar. */
  def readAsOfTimestamp(spark: SparkSession, tableRoot: String,
                        tsMillis: Long): DataFrame =
    read(spark, tableRoot, Some(versionAtTimestamp(tableRoot, tsMillis)))

  /** Open the table at `versionAsOf` as a DataFrame — Delta's
    * `option("versionAsOf", v)` without the Delta jar.
    *
    * Partition columns live in the log, not the files: each partition-value
    * group is read with the file schema and the partition columns are
    * reconstituted as cast literals (null for the empty-string-null
    * convention) — Delta's own rule. Files carrying a DELETION VECTOR are
    * read per-file with the parquet `_metadata.row_index` column and their
    * MOR-deleted positions filtered out (small DVs as a codegen'd NOT-IN
    * literal, large ones as a broadcast anti-join). DV-free tables keep the
    * single multi-file vectorized
    * scan (pushdown/pruning intact). */
  def read(spark: SparkSession, tableRoot: String,
           versionAsOf: Option[Long] = None): DataFrame = {
    val snap = graft.Tables.timed(s"delta replay: snapshot $tableRoot") {
      snapshot(tableRoot, versionAsOf, Some(spark))
    }
    graft.Tables.timed(s"delta replay: build scan (${snap.files.size} files)") {
      readSnapshot(spark, tableRoot, snap)
    }
  }

  /** DATA-SKIPPING read over a Delta table: prune the snapshot's file list
    * with each add action's `stats` JSON ([min,max] on `column`, plus the
    * all-null nullCount==numRecords case) BEFORE Spark ever lists the files,
    * then apply the residual filter exactly — the same contract as
    * [[VersionedTable.readWhere]], driven by Delta's own stats vocabulary.
    * Files without stats for `column` are conservatively kept. In
    * column-mapped tables stats keys are PHYSICAL names; both name forms
    * are consulted. At 100 TB the win is not reading (or listing) the files
    * whose range can't match — this is what the exported stats buy a
    * consumer, demonstrated on our own reader. */
  def readWhere(spark: SparkSession, tableRoot: String, column: String,
                lower: Double, upper: Double,
                versionAsOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(tableRoot, versionAsOf, Some(spark))
    // the residual filter casts to double; on a non-numeric column that cast
    // yields null and silently drops EVERY row — require the declared type
    // to be numeric up front, the same typed-stats discipline statsJson
    // applies on the write side
    val declared = snap.schema.fields.find(_.name == column).map(_.dataType)
    require(declared.isDefined, s"no such column '$column' in ${snap.schema.fieldNames.mkString(", ")}")
    require(declared.get.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"readWhere needs a numeric column; '$column' is ${declared.get.simpleString} " +
        "— a double cast on it would yield null and silently drop every row")
    readKept(spark, tableRoot, snap, column, Left(List((lower, upper))))
      .where(col(column).cast("double").between(lower, upper))
  }

  /** String twin of [[readWhere]]: prune the snapshot's files with the
    * exported TEXTUAL min/max stats (binary UTF-8 order — Spark's own
    * string ordering) before Spark lists them, then apply the residual
    * BETWEEN exactly. Foreign tables with delta-spark's truncated string
    * stats stay conservative: truncation only ever widens the [min, max]
    * envelope (the max is padded upward), so a kept file may be a false
    * positive, never a false negative. */
  def readWhereString(spark: SparkSession, tableRoot: String, column: String,
                      lower: String, upper: String,
                      versionAsOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(tableRoot, versionAsOf, Some(spark))
    val declared = snap.schema.fields.find(_.name == column).map(_.dataType)
    require(declared.isDefined,
      s"no such column '$column' in ${snap.schema.fieldNames.mkString(", ")}")
    require(declared.get == org.apache.spark.sql.types.StringType,
      s"readWhereString needs a string column; '$column' is ${declared.get.simpleString}")
    readKept(spark, tableRoot, snap, column, Right(List((lower, upper))))
      .where(col(column).between(lower, upper))
  }

  /** The snapshot's replay over the adds whose stats (or partition value)
    * can hold a row of `column` inside the window. */
  private def readKept(spark: SparkSession, tableRoot: String, snap: DeltaSnapshot,
      column: String, window: Either[List[(Double, Double)], List[(String, String)]])
      : DataFrame = {
    val keep = VersionedTable.keptIn(asCommit(snap), column, window).toSet
    readSnapshot(spark, tableRoot, snap.copy(files = snap.files.filter(f => keep(f.path))))
  }

  /** Delta CDF's `startingTimestamp` / `endingTimestamp` resolution: the
    * feed over [first version at-or-after `fromTs`, newest version at-or-
    * before `toTs`], timestamps adjusted to the same strictly-increasing
    * sequence as [[versionAtTimestamp]]. Throws when the window contains no
    * version (delta-spark refuses an empty timestamp range too). */
  def changesByTimestamp(spark: SparkSession, tableRoot: String,
                         fromTs: Long, toTs: Long): DataFrame = {
    require(fromTs <= toTs, s"need fromTs <= toTs, got ($fromTs, $toTs)")
    val root = Paths.get(tableRoot).toAbsolutePath.normalize
    val commits = commitFiles(root)
    require(commits.nonEmpty, s"not a Delta table (no _delta_log commits): $tableRoot")
    var adjusted = Long.MinValue
    var from = -1L
    var to = -1L
    commits.foreach { case (v, p) =>
      val raw = commitTimestamp(p)
      adjusted = if (adjusted == Long.MinValue) raw else math.max(raw, adjusted + 1)
      if (adjusted >= fromTs && from < 0) from = v
      if (adjusted <= toTs) to = v
    }
    require(from >= 0 && to >= from,
      s"no commit falls inside [$fromTs, $toTs] for $tableRoot")
    changes(spark, tableRoot, from, to)
  }

  /** Replay a PINNED snapshot (possibly with a pruned file subset — the
    * fallback relation's skipping path) into a DataFrame. Package-visible
    * so [[graft.sources.ReplayRelation]] can serve a stats-pruned file list
    * through the same machinery. */
  private[graft] def readPinnedSnapshot(spark: SparkSession, tableRoot: String,
                                        snap: DeltaSnapshot): DataFrame =
    readSnapshot(spark, tableRoot, snap)

  private def readSnapshot(spark: SparkSession, tableRoot: String,
                           snap: DeltaSnapshot): DataFrame = {
    val root = Paths.get(tableRoot).toAbsolutePath.normalize
    def abs(p: String): String =
      if (p.startsWith("/") || p.contains("://")) p else root.resolve(p).toString
    if (snap.files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        snap.schema)
    val mode = snap.configuration.getOrElse("delta.columnMapping.mode", "none")
    require(mode == "none" || mode == "name" || mode == "id",
      s"delta.columnMapping.mode=$mode is not implemented by this replayer " +
        "(supported: none, name, id)")
    val mapped = mode == "name"
    val idMapped = mode == "id"
    // field-id resolution happens inside Spark's parquet reader; the conf is
    // read at scan planning from the DataFrame's OWN session — so id-mode
    // scans are built against a cloned session with the flag on
    // (SessionShim.withConf), never by mutating the caller's session (which
    // would leak one table's requirement onto every later parquet scan)
    val scanSession =
      if (idMapped) org.apache.spark.sql.graft.SessionShim.withConf(spark,
        "spark.sql.parquet.fieldId.read.enabled" -> "true")
      else spark
    // partition columns may be listed under either name form; resolve
    // against the schema's fields so both conventions read correctly
    val partSet = snap.partitionColumns.toSet
    def isPart(f: org.apache.spark.sql.types.StructField): Boolean =
      partSet(f.name) || partSet(physName(f))
    val dataFields = snap.schema.fields.filterNot(isPart)
    val partFields = snap.schema.fields.filter(isPart)
    val fileSchema =
      if (mapped)
        StructType(dataFields.map(f => org.apache.spark.sql.types
          .StructField(physName(f), physType(f.dataType), f.nullable)))
      else if (idMapped) fieldIdSchema(StructType(dataFields))
      else StructType(dataFields)
    // id mode needs no rename: the read schema already carries the logical
    // names and the reader binds columns by field id underneath them
    def renameToLogical(df: DataFrame): DataFrame =
      if (!mapped) df
      else df.select(dataFields.map(f =>
        col(s"`${physName(f)}`").cast(f.dataType).as(f.name)): _*)
    def withPartCols(df: DataFrame, pv: Map[String, String]): DataFrame =
      partFields.foldLeft(df) { (d, f) =>
        val raw = pv.get(physName(f)).orElse(pv.get(f.name)).orNull
        val v = if (raw == null || raw.isEmpty) lit(null) else lit(raw)
        d.withColumn(f.name, v.cast(f.dataType))
      }
    // deletion vectors: the files that carry one are scanned apart, under
    // one filter that drops a row whose position its file's descriptor
    // marks — keyed by the absolute file path in the form Spark's
    // `_metadata.file_path` decodes to (Hadoop-normalized: no `//`, `.`
    // or `..` segments), so same-named files in different directories
    // never share a vector — each task decoding only the vectors of the
    // files it reads ([[VersionedTable.LiveMask]], the filter native
    // merge-on-read uses); the other files scan plain
    def key(p: String): String = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val dvs = snap.files.flatMap(f => f.dv.map(key(abs(f.path)) -> _)).toMap
    val mask = new VersionedTable.LiveMask(root.toString, dvs)
    val live = org.apache.spark.sql.functions.udf((fp: String, pos: Long) =>
      mask.liveAtUri(fp, pos))
    def scan(group: Vector[FileEntry]): DataFrame = {
      def read(fs: Vector[FileEntry]) =
        scanSession.read.schema(fileSchema).parquet(fs.map(f => abs(f.path)): _*)
      val (withDv, plain) = group.partition(_.dv.isDefined)
      val masked = if (withDv.isEmpty) None
        else Some(read(withDv).where(live(col("_metadata.file_path"), col("_metadata.row_index"))))
      renameToLogical((masked.toSeq ++ Option.when(plain.nonEmpty)(read(plain)))
        .reduce(_ unionByName _))
    }
    if (partFields.isEmpty) scan(snap.files)
    else snap.files.groupBy(_.partitionValues).toSeq
      .map { case (pv, group) => withPartCols(scan(group), pv) }
      .reduce(_ unionByName _)
      .select(snap.schema.fieldNames.map(col): _*)
  }
}

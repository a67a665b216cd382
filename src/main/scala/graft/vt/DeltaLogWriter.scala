package graft.vt

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Delta Lake transaction-log EXPORT — the write half of the protocol interop
  * whose read half is [[DeltaLogReader]] (public spec:
  * github.com/delta-io/delta/blob/master/PROTOCOL.md; the reference's jobs
  * write exactly this format through delta-spark, `jobs/vdt4.py:39-45,76-77`).
  *
  * [[exportDeltaLog]] materializes a branch's commit lineage as
  * `_delta_log/<version %020d>.json` INSIDE the versioned table root —
  * zero-copy: the `add` actions reference the table's existing immutable
  * parquet under `data/` by percent-encoded relative path, so the root
  * becomes simultaneously a graft versioned table and a protocol-conformant
  * Delta table, with no data rewritten or duplicated. Per exported version:
  *
  *  - v0 carries `protocol` (minReader/minWriter = 1/2 — nothing beyond base
  *    features is emitted) and `metaData` (the commit's Spark schema JSON,
  *    which IS Delta's `schemaString` dialect);
  *  - a new `metaData` is re-emitted at any version whose schema differs
  *    from its parent's — Delta's `overwriteSchema` evolution, the exact
  *    shape the reference produces at `jobs/vdt4.py:76-77`;
  *  - `add`/`remove` are the file-set DIFF against the parent snapshot
  *    (appends emit only adds; overwrites remove every parent file), each
  *    `add` carrying the real on-disk size and mtime;
  *  - `commitInfo` carries the graft commit's own timestamp and message, so
  *    `timestampAsOf` resolves identically through both engines.
  *
  * The export is INCREMENTAL and idempotent: versions whose commit JSON
  * already exists are skipped (commits are immutable, so re-emission would
  * be byte-identical modulo nothing — skipping is exact), and only the new
  * suffix of the lineage is written on re-export after further commits —
  * O(new versions), the same cost profile as delta-spark's own log appends.
  *
  * MERGE-ON-READ deletion vectors (`Commit.dvs`) are already Delta's OWN
  * DV vocabulary: each native file's descriptor is copied onto its `add`
  * action as `deletionVector` — inline (Z85) for small vectors, a
  * `data/deletion_vector_<uuid>.bin` file above the threshold, exactly
  * delta-spark's own split. The first DV-carrying
  * version emits a `protocol` UPGRADE action (minReader 3 +
  * `readerFeatures: [deletionVectors]`), so DV-free lineages stay maximally
  * readable at protocol v1 and the upgrade point is a deterministic
  * function of the lineage (incremental re-exports agree). A version that
  * only CHANGES a file's DV exports as Delta's remove-and-re-add of that
  * path with the new descriptor.
  *
  * Scale: the export writes O(versions) small JSON objects and reads no
  * data (sizes/mtimes are per-file stat calls; descriptors come from the
  * commit record).
  */
object DeltaLogWriter {

  /** Export `branch`'s lineage as a Delta log inside the table root; returns
    * the newest exported version. See object doc for semantics. */
  /** With `changeDataFeed = true` the export also speaks Delta's CHANGE
    * DATA FEED vocabulary: `delta.enableChangeDataFeed=true` rides the
    * metaData configuration, the protocol declares writer CDF support, and
    * every exported version that is not a pure append additionally writes
    * its row-level changes (from the native [[VersionedTable.changesFeed]])
    * as a `_change_data/` parquet referenced by a `cdc` action — the file a
    * stock delta-spark `table_changes()` reads for delete/update commits.
    * Pure appends emit no cdc file (readers derive inserts from the adds,
    * Delta's own rule). Cost: O(changed rows) extra I/O per non-append
    * version, zero for append-only lineages. */
  /** `checkpointInterval = Some(n)` additionally writes a classic
    * checkpoint at every n-th exported version missing one (delta-spark
    * writes one every 10 commits by default) — so a long exported lineage
    * stays bootstrap-fast and its old JSON becomes prunable without a
    * separate [[writeCheckpoint]] pass. Needs an active SparkSession. */
  def exportDeltaLog(vt: VersionedTable, branch: String = "main",
                     changeDataFeed: Boolean = false,
                     checkpointInterval: Option[Int] = None): Long = {
    require(checkpointInterval.forall(_ >= 1),
      s"checkpointInterval must be >= 1, got $checkpointInterval")
    val commits = vt.lineage(branch).reverse // oldest-first: v0..vN
    require(commits.nonEmpty, s"branch '$branch' has no commits to export")
    require(commits.head.version == 0 &&
      commits.zipWithIndex.forall { case (c, i) => c.version == i },
      s"lineage versions are not contiguous from 0: ${commits.map(_.version)}")
    // COLUMN-MAPPED lineages (r20 RENAME/DROP COLUMN) export as stock
    // NAME-MODE logs: from the first mapped version on, every field's
    // schemaString metadata carries delta.columnMapping.physicalName/.id
    // and the configuration sets mode=name + maxColumnId — the engine's
    // data files already store PHYSICAL column names, which is exactly the
    // binding name mode specifies, so stock delta-spark (and the engine's
    // own delta-lite reader) bind correctly with zero file rewrites.
    // Field ids are assigned by FIRST APPEARANCE of a physical name over
    // the lineage — stable across renames, never reused after a drop.
    def schemaOf(c: Commit): org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.DataType.fromJson(c.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    val firstMappedVersion: Option[Long] =
      commits.find(c => VersionedTable.hasColumnMapping(schemaOf(c))).map(_.version)
    if (firstMappedVersion.isDefined) {
      require(!changeDataFeed,
        "export to _delta_log: CDF export of a column-mapped lineage is not " +
          "supported (cdc files would need the physical-name convention) — " +
          "export without changeDataFeed, or consume table_changes directly")
      commits.foreach { c =>
        require(!schemaOf(c).fields.exists(f => DeltaLogFixture.nested(f.dataType)),
          s"export to _delta_log: version ${c.version} mixes column mapping " +
            "with nested struct/array/map columns — field-id assignment for " +
            "nested fields is not implemented")
      }
    }
    // physical name → stable field id, first-appearance order
    val fieldIdOf: Map[String, Long] = {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      commits.foreach(c => schemaOf(c).fields.foreach { f =>
        val pn = VersionedTable.physicalName(f)
        if (!m.contains(pn)) m += (pn -> (m.size + 1L))
      })
      m.toMap
    }
    // deterministic protocol-upgrade point: the first DV-carrying version
    val firstDvVersion = commits.find(_.dvs.nonEmpty).map(_.version)
    val logDir = vt.root.resolve("_delta_log")
    Files.createDirectories(logDir)
    // CDF enablement is stamped into v0's protocol/metaData, which an
    // idempotent re-export never rewrites — so flipping the flag between
    // exports would silently produce a NON-CONFORMANT log (cdc files in a
    // table whose metaData never enabled CDF, or a CDF-enabled table whose
    // non-append commit lacks its cdc file: the state delta-spark assumes
    // cannot exist). Refuse loudly instead.
    val v0 = logDir.resolve(f"${0L}%020d.json")
    val exportedCdf: Option[Boolean] =
      if (Files.exists(v0))
        Some(Files.readAllLines(v0).asScala.exists(
          _.contains("\"delta.enableChangeDataFeed\":\"true\"")))
      else if (DeltaLogReader.latestVersion(vt.root.toString) >= 0)
        // v0's JSON may have been pruned after a checkpoint — the flag then
        // lives in the checkpointed metaData configuration; skipping the
        // check here would rewrite the pruned versions' JSON under the
        // OPPOSITE setting while the retained checkpoint still carries the
        // original, the exact mixed state this guard refuses
        Some(DeltaLogReader
          .snapshot(vt.root.toString, None, Some(SparkSession.active))
          .configuration.get("delta.enableChangeDataFeed").contains("true"))
      else None
    exportedCdf.foreach(ex => require(ex == changeDataFeed,
      s"this _delta_log was exported with changeDataFeed=$ex; re-exporting " +
        s"with changeDataFeed=$changeDataFeed would produce a non-conformant " +
        "log — keep the original setting (or remove _delta_log and re-export " +
        "from scratch)"))
    var prev: Option[Commit] = None
    for (c <- commits) {
      val target = logDir.resolve(f"${c.version}%020d.json")
      if (!Files.exists(target)) {
        val parentFiles = prev.map(_.files.toSet).getOrElse(Set.empty)
        val adds = c.files.filterNot(parentFiles)
        // a surviving file whose DV changed re-enters the log as
        // remove + add-with-new-descriptor (Delta's MOR-delete shape)
        val dvChanged = prev.fold(Set.empty[String])(VersionedTable.dvChanged(_, c))
        val dvChangedFiles = c.files.filter(dvChanged)
        val removes =
          prev.map(_.files.filterNot(c.files.toSet)).getOrElse(Vector.empty) ++ dvChangedFiles
        val schemaChanged = prev.forall(_.schemaJson != c.schemaJson)
        // table properties export as metaData CONFIGURATION: CHECK
        // constraints translate to Delta's `delta.constraints.<name>` keys
        // (stock delta-spark then ENFORCES them on its own writes — the
        // reverse of shallowCloneFromDelta's import), free-form props pass
        // verbatim. A props-only change (ADD/DROP CONSTRAINT, SET/UNSET
        // TBLPROPERTIES) re-emits metaData exactly like a schema change —
        // without it the constraint would silently not exist downstream.
        val propsChanged = prev.forall(_.props != c.props)
        def exportedConfig: Map[String, String] =
          c.props.map {
            case (k, v) if k.startsWith(VersionedTable.CheckConstraintPrefix) =>
              ("delta.constraints." +
                k.stripPrefix(VersionedTable.CheckConstraintPrefix)) -> v
            case kv => kv
          } ++ (if (changeDataFeed) Map("delta.enableChangeDataFeed" -> "true")
                else Map.empty)
        val actions = Vector.newBuilder[String]
        // a streaming epoch's txn mark exports as Delta's transaction
        // identifier — stock delta-spark idempotent writers/readers see the
        // same (appId, version) watermark our own replay dedup uses
        for (a <- c.txnAppId; v <- c.txnVersion)
          actions += DeltaLogFixture.txnLine(a, v)
        actions += DeltaLogFixture.commitInfoLine(c.ts,
          if (prev.isEmpty) "WRITE"
          else if (!c.dataChange && removes.nonEmpty) "OPTIMIZE"
          else if (dvChangedFiles.nonEmpty) "DELETE"
          else if (removes.isEmpty) "APPEND" else "OVERWRITE")
        val mapActive = firstMappedVersion.exists(_ <= c.version)
        val dvActive = firstDvVersion.exists(_ <= c.version)
        if (prev.isEmpty && !firstDvVersion.contains(0L) &&
            !firstMappedVersion.contains(0L))
          actions += DeltaLogFixture.protocolLine(
            minWriter = if (changeDataFeed) 4 else 2)
        // protocol upgrades accumulate: a v3/v7 line must list EVERY active
        // reader feature, so a mapping that joins a DV table (or vice
        // versa) re-declares both
        if (firstDvVersion.contains(c.version) ||
            firstMappedVersion.contains(c.version)) {
          if (dvActive)
            actions += DeltaLogFixture.protocolV3Line(
              Seq("deletionVectors") ++
                (if (mapActive) Seq("columnMapping") else Nil),
              if (changeDataFeed) Seq("changeDataFeed") else Nil)
          else // mapping only: the classic reader-2 / writer-5 declaration
            actions += DeltaLogFixture.protocolLine(minReader = 2, minWriter = 5)
        }
        if (schemaChanged || propsChanged) {
          val (schemaJson, mapCfg) =
            if (!mapActive) (c.schemaJson, Map.empty[String, String])
            else {
              val st = schemaOf(c)
              val phys = st.fields.map(f =>
                f.name -> VersionedTable.physicalName(f)).toMap
              val ids = st.fields.map(f =>
                f.name -> fieldIdOf(VersionedTable.physicalName(f))).toMap
              (DeltaLogFixture.columnMappedSchema(st, phys, ids).json,
                Map("delta.columnMapping.mode" -> "name",
                  "delta.columnMapping.maxColumnId" ->
                    fieldIdOf.values.max.toString))
            }
          actions += DeltaLogFixture.metaDataLine(schemaJson, Nil,
            exportedConfig ++ mapCfg)
        }
        // ROW-PRESERVING rewrites (compact / Z-order: the file set changes,
        // the row bag does not) export Delta's way: adds and removes marked
        // dataChange=false, no cdc file — a CDF reader then skips the
        // version instead of refusing a mixed add/remove commit or deriving
        // phantom inserts. Since r19b the commit log CARRIES the flag
        // (layout commits publish dataChange=false), so the export reads it
        // directly — for every export kind, not just CDF ones. Pre-flag
        // history (conservatively dataChange=true) keeps the exact probe:
        // the version's own change feed being empty proves the restatement
        // (one cached pass answers both the probe and the cdc write).
        var restatement = prev.nonEmpty && removes.nonEmpty && !c.dataChange
        if (changeDataFeed && prev.nonEmpty && removes.nonEmpty && !restatement) {
          val spark = SparkSession.active
          val feed = graft.Tables.timed(s"export v${c.version}: changesFeed plan") {
            vt.changesFeed(spark, branch, c.version - 1, c.version)
              .drop("version").withColumnRenamed("change_type", "_change_type")
          }
          // ONE pass (r21): write the cdc parquet directly and read emptiness
          // off the landed files' footer row counts — an empty feed writes a
          // single schema-only part file (verified), which is deleted again.
          // The previous persist + isEmpty + write sequence paid an extra
          // probe job and cached the feed's rows for no other consumer.
          val written = graft.Tables.timed(s"export v${c.version}: writeCdcFiles") {
            writeCdcFiles(vt.root, feed, c.version)
          }
          val rows = written.map { case (rel, _) =>
            VersionedTable.footerRowCount(vt.root.resolve(rel)).getOrElse(1L)
          }.sum
          if (rows == 0L) {
            written.foreach { case (rel, _) =>
              Files.deleteIfExists(vt.root.resolve(rel)); ()
            }
            restatement = true
          } else written.foreach { case (rel, size) =>
            actions += DeltaLogFixture.cdcLine(encodePath(rel), size)
          }
        }
        removes.foreach(r => actions += DeltaLogFixture.removeLine(encodePath(r),
          dataChange = !restatement))
        (adds ++ dvChangedFiles).foreach { rel =>
          val p = vt.root.resolve(rel)
          actions += DeltaLogFixture.addLine(encodePath(rel), Files.size(p),
            mtime = Files.getLastModifiedTime(p).toMillis,
            stats = statsJson(c, rel), dv = c.dvs.get(rel),
            dataChange = !restatement)
        }
        writeAtomically(target, actions.result().mkString("", "\n", "\n"))
      }
      prev = Some(c)
    }
    checkpointInterval.foreach { n =>
      // always reproducible: the loop above just (re)materialized every
      // missing commit JSON from the native lineage, pruned history included
      commits.map(_.version).filter(v => v > 0 && v % n == 0).foreach { v =>
        if (!Files.exists(logDir.resolve(f"$v%020d.checkpoint.parquet")))
          writeCheckpoint(SparkSession.active, vt.root.toString, v)
      }
    }
    commits.last.version
  }

  /** Materialize one commit's change data as `_change_data/cdc-<v>-<i>
    * .parquet` files — one file PER PARTITION of the feed, written by the
    * feed's own tasks (no `coalesce(1)`: a 100 TB table's large delete must
    * not serialize its CDF through one core and one file — delta-spark
    * likewise writes many cdc files per commit, and the reader treats a
    * commit's `cdc` actions as a set). Idempotent per version: the commit
    * JSON referencing the files is written once, and a re-export overwrites
    * the same deterministic names. Returns (relative path, size) per file. */
  private def writeCdcFiles(root: Path, df: org.apache.spark.sql.DataFrame,
                            version: Long): Seq[(String, Long)] = {
    val dir = root.resolve("_change_data")
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".cdc_tmp_$version")
    val out = LakeFiles.write(df, tmp, tmp).zipWithIndex.map { case (part, i) =>
      val rel = f"_change_data/cdc-$version%020d-$i%05d.parquet"
      val dest = root.resolve(rel)
      Files.move(tmp.resolve(part), dest, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      rel -> Files.size(dest)
    }
    graft.Tables.deleteRecursively(tmp)
    out
  }

  /** Delta `add` paths are percent-encoded URIs relative to the table root
    * (PROTOCOL.md "Add File"): encode each segment, keep the separators. */
  private[vt] def encodePath(rel: String): String =
    new java.net.URI(null, null, rel, null).toASCIIString

  /** Delta `add.stats` JSON for one exported file (PROTOCOL.md "Per-file
    * Statistics"): `numRecords` from the commit's rowCounts plus the
    * minValues/maxValues/nullCount quadrants the native log already tracks
    * for `statsCols` — so a stock delta-spark session DATA-SKIPS over our
    * exported tables exactly as it would over its own. Values render TYPED
    * per the commit schema (integral columns as JSON integers, floating as
    * doubles, strings as strings); columns of any other type are omitted —
    * an untyped guess delta-spark mis-parses becomes WRONG skipping, and
    * partial per-column stats are explicitly legal. Returns None when the
    * commit has no row count for the file (stats without numRecords are
    * useless to Delta's skipper). Zero extra I/O: everything here was
    * already in the commit JSON. */
  private def statsJson(c: Commit, rel: String): Option[String] =
    c.rowCounts.get(rel).map { n =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val o = mapper.createObjectNode()
      o.put("numRecords", n)
      val types = DataType.fromJson(c.schemaJson).asInstanceOf[StructType]
        .fields.map(f => f.name -> f.dataType).toMap
      val minV = o.putObject("minValues")
      val maxV = o.putObject("maxValues")
      def putNum(t: com.fasterxml.jackson.databind.node.ObjectNode,
                 colName: String, v: Double): Unit = types.get(colName) match {
        case Some(ByteType | ShortType | IntegerType | LongType) =>
          t.put(colName, v.toLong); ()
        case Some(FloatType | DoubleType) => t.put(colName, v); ()
        case _ => () // date/timestamp/decimal stats would need their own rendering
      }
      c.stats.getOrElse(rel, Map.empty).foreach { case (colName, (mn, mx)) =>
        putNum(minV, colName, mn); putNum(maxV, colName, mx)
      }
      c.strStats.getOrElse(rel, Map.empty).foreach { case (colName, (mn, mx)) =>
        if (types.get(colName).contains(StringType)) {
          minV.put(colName, mn); maxV.put(colName, mx); ()
        }
      }
      val nulls = o.putObject("nullCount")
      c.nullStats.getOrElse(rel, Map.empty).foreach { case (colName, cnt) =>
        nulls.put(colName, cnt); ()
      }
      mapper.writeValueAsString(o)
    }

  /** Commit JSONs must appear complete or not at all (the same atomicity the
    * metadata plane gets from [[MetaStore.put]]): tmp + atomic rename within
    * `_delta_log`. A crashed export leaves no torn JSON for a reader to
    * half-replay; re-running the export completes the suffix. */
  private def writeAtomically(target: Path, content: String): Unit = {
    val tmp = Files.createTempFile(target.getParent, "." + target.getFileName, ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  // ---- export-artifact garbage collection --------------------------------

  /** Reclaim export artifacts NO exported version references: a kill -9
    * mid-export (ChaosSpec's scenario) can leave `deletion_vector_*.bin`
    * files and `_change_data` parquet whose commit JSON never landed, plus
    * orphaned tmp directories — each harmless alone, an unbounded leak on a
    * table exported for years. Referenced = every `cdc` path and `u`-flavor
    * DV descriptor across all PRESENT commit JSONs plus every checkpoint
    * (pruned-JSON tables keep their live DV references through the
    * checkpoint — classic, multi-part, AND v2 manifests with their
    * sidecars, exactly like [[DeltaLogReader]]'s bootstrap; a pruned-JSON
    * table bootstrapping through a v2 checkpoint keeps its DV bins). Only
    * files older than `olderThanMs` are swept — a racing in-flight export
    * writes its artifacts moments before its JSON (and sidecars before
    * their manifest), the same stale-horizon discipline
    * [[VersionedTable.vacuum]] applies to claim slots. Sweeps only paths
    * this writer's layout owns (top-level DV bins, parquet under
    * `_change_data`, unreferenced `_sidecars` parquet, and `.cdc_tmp_` /
    * `.checkpoint_tmp_` dirs). Returns the number of artifacts removed. */
  def vacuumExport(spark: SparkSession, tableRoot: String,
                   olderThanMs: Long = 3600000L): Int = {
    val root = java.nio.file.Paths.get(tableRoot).toAbsolutePath.normalize
    val logDir = root.resolve("_delta_log")
    if (!Files.isDirectory(logDir)) return 0
    def ls(dir: Path): Vector[Path] =
      if (!Files.isDirectory(dir)) Vector.empty
      else {
        val st = Files.list(dir)
        try st.iterator().asScala.toVector finally st.close()
      }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def decode(p: String): String =
      if (p.contains("://")) p else new java.net.URI(p).getPath
    val referenced = scala.collection.mutable.Set.empty[Path]
    def referenceDv(storageType: String, enc: String): Unit =
      if (storageType == "u")
        DeletionVectors.dvFile(root,
          DeletionVectors.DvDescriptor("u", enc, None, 0, 0L))
          .foreach(p => referenced += p.toAbsolutePath.normalize)
    val logFiles = ls(logDir)
    logFiles.filter(_.getFileName.toString.matches("""\d{20}\.json""")).foreach { j =>
      Files.readAllLines(j).asScala.filter(_.trim.nonEmpty).foreach { line =>
        val action = mapper.readTree(line)
        if (action.has("cdc"))
          referenced += root.resolve(decode(action.get("cdc").get("path").asText()))
            .toAbsolutePath.normalize
        if (action.has("add") && action.get("add").has("deletionVector")) {
          val d = action.get("add").get("deletionVector")
          referenceDv(d.get("storageType").asText(), d.get("pathOrInlineDv").asText())
        }
      }
    }
    val sidecarDir = logDir.resolve("_sidecars")
    val referencedSidecars = scala.collection.mutable.Set.empty[Path]
    def referenceSidecar(rel: String): Unit = {
      val decoded = decode(rel)
      val p = if (decoded.startsWith("/")) java.nio.file.Paths.get(decoded)
        else sidecarDir.resolve(decoded)
      referencedSidecars += p.toAbsolutePath.normalize
    }
    def collectDvRefs(df: org.apache.spark.sql.DataFrame): Unit = {
      val hasDv = df.columns.contains("add") &&
        df.schema("add").dataType.asInstanceOf[StructType]
          .fieldNames.contains("deletionVector")
      if (hasDv)
        df.select("add.deletionVector.storageType", "add.deletionVector.pathOrInlineDv")
          .where("storageType IS NOT NULL").collect()
          .foreach(r => referenceDv(r.getString(0), r.getString(1)))
    }
    logFiles.filter(_.getFileName.toString.matches(
        """\d{20}\.checkpoint(\.\d{10}\.\d{10})?\.parquet""")).foreach { cp =>
      collectDvRefs(spark.read.parquet(cp.toString))
    }
    // V2 (sidecar) checkpoints: the manifest (parquet or json) pins its
    // sidecars, and the sidecars' adds may pin u-flavor DV bins — a
    // pruned-JSON table bootstraps ONLY through them, so skipping this walk
    // would sweep live DV files (silent row resurrection on the next read)
    logFiles.filter(_.getFileName.toString.matches(
        """\d{20}\.checkpoint\.[0-9a-zA-Z-]+\.parquet""")).foreach { cp =>
      val df = spark.read.parquet(cp.toString)
      collectDvRefs(df)
      if (df.columns.contains("sidecar"))
        df.select("sidecar.path").where("path IS NOT NULL").collect()
          .foreach(r => referenceSidecar(r.getString(0)))
    }
    logFiles.filter(_.getFileName.toString.matches(
        """\d{20}\.checkpoint\.[0-9a-zA-Z-]+\.json""")).foreach { cp =>
      Files.readAllLines(cp).asScala.filter(_.trim.nonEmpty).foreach { line =>
        val action = mapper.readTree(line)
        if (action.has("sidecar"))
          referenceSidecar(action.get("sidecar").get("path").asText())
        if (action.has("add") && action.get("add").has("deletionVector")) {
          val d = action.get("add").get("deletionVector")
          referenceDv(d.get("storageType").asText(), d.get("pathOrInlineDv").asText())
        }
      }
    }
    ls(sidecarDir).filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(p => collectDvRefs(spark.read.parquet(p.toString)))
    val horizon = System.currentTimeMillis() - olderThanMs
    def stale(p: Path): Boolean =
      Files.getLastModifiedTime(p).toMillis < horizon
    var removed = 0
    def sweepFile(p: Path): Unit =
      if (!referenced(p.toAbsolutePath.normalize) && stale(p)) {
        Files.deleteIfExists(p); removed += 1
      }
    ls(root).filter(_.getFileName.toString.matches("""deletion_vector_.*\.bin"""))
      .foreach(sweepFile)
    val changeDir = root.resolve("_change_data")
    ls(changeDir).foreach { p =>
      val name = p.getFileName.toString
      if (name.endsWith(".parquet")) sweepFile(p)
      else if (name.startsWith(".cdc_tmp_") && stale(p)) {
        graft.Tables.deleteRecursively(p); removed += 1
      }
    }
    // sidecars no live manifest references (a deleted or torn-and-retried
    // v2 checkpoint's leavings) age out like any other export artifact;
    // referenced ones are log state and stay
    ls(sidecarDir).filter(_.getFileName.toString.endsWith(".parquet")).foreach { p =>
      if (!referencedSidecars(p.toAbsolutePath.normalize) && stale(p)) {
        Files.deleteIfExists(p); removed += 1
      }
    }
    ls(logDir).filter(p => p.getFileName.toString.startsWith(".checkpoint_tmp_"))
      .foreach(p => if (stale(p)) { graft.Tables.deleteRecursively(p); removed += 1 })
    removed
  }

  // ---- checkpoints --------------------------------------------------------

  /** Write `rows` as exactly ONE parquet file at `dest` (write to a tmp
    * dir, move the single part into place) — the shared primitive of the
    * classic and V2 checkpoint writers. */
  private def writeSingleParquet(spark: SparkSession, rows: Seq[Row],
                                 schema: StructType, tmpDir: Path,
                                 dest: Path): Unit = {
    val df = spark.createDataFrame(rows.asJava, schema)
    val part = LakeFiles.write(df.coalesce(1), tmpDir, tmpDir).head
    Files.createDirectories(dest.getParent)
    Files.move(tmpDir.resolve(part), dest, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    graft.Tables.deleteRecursively(tmpDir)
  }

  /** Classic single-file checkpoint schema (PROTOCOL.md "Checkpoints"): one
    * nullable struct column per action kind; each checkpoint row carries
    * exactly one non-null action. Minimal field set our reader and
    * delta-spark's reconstitution both require. */
  private[vt] val checkpointSchema: StructType = StructType(Seq(
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType, valueContainsNull = true)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("deletionVector", StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", IntegerType),
        StructField("sizeInBytes", IntegerType),
        StructField("cardinality", LongType))))))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))),
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType)))))))

  /** Write the checkpoint for `version` — classic single-file
    * `<v %020d>.checkpoint.parquet`, or with `partSize` the multi-part form
    * `<v>.checkpoint.<part %010d>.<ofN %010d>.parquet` (delta-spark's
    * `checkpoint.partSize` behavior: at most `partSize` actions per part, so
    * a multi-million-file snapshot never funnels through one output file) —
    * plus the `_last_checkpoint` pointer, replaying the JSON log to that
    * version first. After this, JSON commits ≤ `version` may be pruned (log
    * retention): [[DeltaLogReader]] bootstraps from the newest usable
    * checkpoint (part groups only when complete) and replays only the JSON
    * suffix, exactly delta-spark's Snapshot construction. `add.dataChange`
    * is false per the protocol (checkpoint rows reconstitute state, they
    * are not changes); deletion-vector descriptors are CARRIED (dropping
    * one would resurrect deleted rows the moment the pre-checkpoint JSON is
    * pruned); configuration is CARRIED (dropping delta.columnMapping.mode
    * would make a mapped table's physical columns read as its logical
    * ones).
    *
    * The checkpoint's protocol row is the LOG'S OWN newest protocol action,
    * carried verbatim — recomputing it from snapshot shape alone can only
    * weaken the gate (e.g. a `delta.enableChangeDataFeed=true` table whose
    * files happen to carry no DV would checkpoint as writer v2, letting a
    * stock writer commit without cdc files once the pre-checkpoint JSON is
    * pruned — silently corrupting the feed the config promises). Logs
    * without any protocol action (legal pre-checkpoint states never produce
    * one, but be safe) fall back to a recomputation that DOES account for
    * CDF alongside DV/column-mapping. */
  def writeCheckpoint(spark: SparkSession, tableRoot: String, version: Long,
                      partSize: Option[Int] = None): Unit = {
    require(partSize.forall(_ >= 1), s"partSize must be >= 1, got $partSize")
    val root = java.nio.file.Paths.get(tableRoot).toAbsolutePath.normalize
    val logDir = root.resolve("_delta_log")
    val snap = DeltaLogReader.snapshot(tableRoot, Some(version), Some(spark))
    val protoRow = snap.protocol match {
      case Some(p) => Row(p.minReader, p.minWriter,
        p.readerFeatures.orNull, p.writerFeatures.orNull)
      case None =>
        val anyDv = snap.files.exists(_.dv.isDefined)
        val mapped =
          snap.configuration.getOrElse("delta.columnMapping.mode", "none") != "none"
        val cdf =
          snap.configuration.get("delta.enableChangeDataFeed").contains("true")
        if (anyDv) {
          val rf = Seq("deletionVectors") ++ (if (mapped) Seq("columnMapping") else Nil)
          val wf = rf ++ (if (cdf) Seq("changeDataFeed") else Nil)
          Row(3, 7, rf, wf)
        }
        else if (mapped) Row(2, 5, null, null) // writer v5 ⊇ v4's CDF support
        else if (cdf) Row(1, 4, null, null)
        else Row(1, 2, null, null)
    }
    val rows: Seq[Row] =
      Row(null, null, protoRow) +:
        Row(null, Row(java.util.UUID.randomUUID().toString,
          Row("parquet", Map.empty[String, String]), snap.schema.json,
          snap.partitionColumns, snap.configuration, 0L), null) +:
        snap.files.map { f =>
          val p = root.resolve(f.path)
          val (size, mtime) =
            if (f.size >= 0L) (f.size, f.modTime)
            else if (Files.exists(p)) (Files.size(p), Files.getLastModifiedTime(p).toMillis)
            else (0L, 0L)
          val dvRow = f.dv.map(d => Row(d.storageType, d.pathOrInlineDv,
            d.offset.map(Int.box).orNull, d.sizeInBytes, d.cardinality)).orNull
          Row(Row(DeltaLogWriter.encodePath(f.path), f.partitionValues, size, mtime,
            false, f.stats.orNull, dvRow), null, null)
        }
    def writeOne(slice: Seq[Row], dest: Path): Unit =
      writeSingleParquet(spark, slice, checkpointSchema,
        logDir.resolve(s".checkpoint_tmp_$version"), dest)
    partSize match {
      case None =>
        writeOne(rows, logDir.resolve(f"$version%020d.checkpoint.parquet"))
        writeAtomically(logDir.resolve("_last_checkpoint"),
          s"""{"version":$version,"size":${rows.size}}""")
      case Some(ps) =>
        val groups = rows.grouped(ps).toVector
        val n = groups.size
        groups.zipWithIndex.foreach { case (g, i) =>
          // parts are 1-based; the reader requires the complete 1..N group
          writeOne(g, logDir.resolve(
            f"$version%020d.checkpoint.${i + 1}%010d.$n%010d.parquet"))
        }
        writeAtomically(logDir.resolve("_last_checkpoint"),
          s"""{"version":$version,"size":${rows.size},"parts":$n}""")
    }
  }

  /** V2 checkpoint manifest columns (PROTOCOL.md "V2 Spec"): the classic
    * action structs plus `checkpointMetadata` and `sidecar`. */
  private val v2ManifestSchema: StructType = StructType(Seq(
    StructField("checkpointMetadata", StructType(Seq(
      StructField("version", LongType)))),
    checkpointSchema("protocol"),
    checkpointSchema("metaData"),
    StructField("sidecar", StructType(Seq(
      StructField("path", StringType),
      StructField("sizeInBytes", LongType),
      StructField("modificationTime", LongType))))))

  private val sidecarSchema: StructType = StructType(Seq(checkpointSchema("add")))

  /** Write a V2 (sidecar) checkpoint for `version` — the shape modern
    * delta-spark writes under the `v2Checkpoint` table feature, and the
    * scale shape for very large snapshots: file actions land in
    * `_delta_log/_sidecars/<uuid>.parquet` files of at most
    * `sidecarPartSize` adds each, and the tiny
    * `<v>.checkpoint.<uuid>.parquet` manifest carries only
    * checkpointMetadata / protocol / metaData / sidecar references, so no
    * single output file grows with the snapshot. Sidecars are written
    * BEFORE the manifest (a dangling reference is therefore corruption —
    * the refusal [[DeltaLogReader]] enforces).
    *
    * The checkpoint's protocol row is the log's own newest protocol
    * action UPGRADED to reader v3 / writer v7 with `v2Checkpoint` in both
    * feature lists — the protocol's own rule: a table whose checkpoint is
    * V2 must gate readers on understanding V2 checkpoints, since after
    * JSON pruning the manifest is the only bootstrap. */
  def writeCheckpointV2(spark: SparkSession, tableRoot: String, version: Long,
                        sidecarPartSize: Int = 100000): Unit = {
    require(sidecarPartSize >= 1, s"sidecarPartSize must be >= 1, got $sidecarPartSize")
    val root = java.nio.file.Paths.get(tableRoot).toAbsolutePath.normalize
    val logDir = root.resolve("_delta_log")
    val snap = DeltaLogReader.snapshot(tableRoot, Some(version), Some(spark))
    val (baseRf, baseWf) = snap.protocol match {
      case Some(p) => (p.readerFeatures.getOrElse(
        if (p.minReader >= 2) Seq("columnMapping") else Nil),
        p.writerFeatures.getOrElse(Nil))
      case None => (Nil, Nil)
    }
    val rf = (baseRf :+ "v2Checkpoint").distinct
    val wf = (baseWf ++ rf).distinct
    val addRows: Seq[Row] = snap.files.map { f =>
      val p = root.resolve(f.path)
      // the snapshot's add actions carry size/mtime — stat only a
      // malformed entry that lacks them
      val (size, mtime) =
        if (f.size >= 0L) (f.size, f.modTime)
        else if (Files.exists(p)) (Files.size(p), Files.getLastModifiedTime(p).toMillis)
        else (0L, 0L)
      val dvRow = f.dv.map(d => Row(d.storageType, d.pathOrInlineDv,
        d.offset.map(Int.box).orNull, d.sizeInBytes, d.cardinality)).orNull
      Row(Row(DeltaLogWriter.encodePath(f.path), f.partitionValues, size, mtime,
        false, f.stats.orNull, dvRow))
    }
    def writeOne(slice: Seq[Row], schema: StructType, dest: Path): Unit =
      writeSingleParquet(spark, slice, schema,
        logDir.resolve(s".checkpoint_tmp_v2_$version"), dest)
    val sidecarDir = logDir.resolve("_sidecars")
    val sidecarNames = addRows.grouped(sidecarPartSize).toVector.map { g =>
      val name = s"${java.util.UUID.randomUUID()}.parquet"
      writeOne(g, sidecarSchema, sidecarDir.resolve(name))
      name
    }
    val manifestRows: Seq[Row] =
      Seq(
        Row(Row(version), null, null, null),
        Row(null, Row(3, 7, rf, wf), null, null),
        Row(null, null, Row(java.util.UUID.randomUUID().toString,
          Row("parquet", Map.empty[String, String]), snap.schema.json,
          snap.partitionColumns, snap.configuration, 0L), null)) ++
        sidecarNames.map { n =>
          val p = sidecarDir.resolve(n)
          Row(null, null, null,
            Row(n, Files.size(p), Files.getLastModifiedTime(p).toMillis))
        }
    writeOne(manifestRows, v2ManifestSchema,
      logDir.resolve(f"$version%020d.checkpoint.${java.util.UUID.randomUUID()}.parquet"))
    writeAtomically(logDir.resolve("_last_checkpoint"),
      s"""{"version":$version,"size":${addRows.size + 3}}""")
  }
}

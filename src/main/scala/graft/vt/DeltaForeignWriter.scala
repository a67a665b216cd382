package graft.vt

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, Metadata, MetadataBuilder, StructField, StructType}

/** Writes onto a PRE-EXISTING foreign Delta table (r20 — the last interop
  * direction: [[DeltaLogReader]] reads stock logs, [[DeltaLogWriter]]
  * exports the engine's own tables as stock logs; this object APPENDS to /
  * OVERWRITES a table some other Delta writer owns, the way the reference
  * jobs write through delta-spark).
  *
  * Contract per the public PROTOCOL.md:
  *  - one commit = one `<version %020d>.json`, claimed ATOMICALLY with a
  *    create-if-absent write (the LogStore mutual-exclusion rule on a
  *    filesystem with atomic create). Losing the race retries with a fresh
  *    snapshot — blind appends never logically conflict (Delta's
  *    WriteSerializable rule, the same one the engine's own OCC rebase
  *    implements); an overwrite retry recomputes its removes from the new
  *    head so the winner's files are the ones removed.
  *  - the incoming frame is validated against the CURRENT metaData: same
  *    column set with same (nullability-normalized) types, NOT NULL columns
  *    verified, and every `delta.constraints.*` CHECK predicate enforced —
  *    all in ONE short-circuit probe scan before any file lands.
  *  - column-mapped tables (name OR id mode) are written correctly: data
  *    files carry the PHYSICAL column names, and each column also carries
  *    its `parquet.field.id` (from `delta.columnMapping.id`) so id-mode
  *    readers bind by field id exactly as over delta-spark's own files.
  *  - `add` actions carry real sizes, mtimes and `numRecords` stats;
  *    `commitInfo` carries the operation. CDF-enabled tables take appends
  *    without a cdc file (readers derive inserts from adds — Delta's rule);
  *    OVERWRITE of a CDF table is refused (it would need a cdc file this
  *    writer does not produce).
  *
  * Refusals (loud, never silent corruption): directory-partitioned tables
  * (partition values + layout not produced), schemas carrying generated /
  * identity / invariant column metadata (semantics this writer cannot
  * honor), protocols demanding writer features beyond
  * {appendOnly, invariants, checkConstraints, changeDataFeed,
  * columnMapping, deletionVectors} — and `delta.appendOnly` tables refuse
  * OVERWRITE while accepting appends, which is the point of the flag. */
object DeltaForeignWriter {

  private val SupportedWriterFeatures = Set(
    "appendOnly", "invariants", "checkConstraints", "changeDataFeed",
    "columnMapping", "deletionVectors")

  /** Blind APPEND: `df`'s rows join the table as one new Delta version;
    * returns the committed version number. */
  def append(spark: SparkSession, tableRoot: String, df: DataFrame,
             maxRetries: Int = 5): Long =
    commit(spark, tableRoot, df, overwrite = false, maxRetries)

  /** INSERT OVERWRITE: the snapshot's files are removed and `df`'s rows
    * become the table, as one new Delta version. */
  def overwrite(spark: SparkSession, tableRoot: String, df: DataFrame,
                maxRetries: Int = 5): Long =
    commit(spark, tableRoot, df, overwrite = true, maxRetries)

  private def commit(spark: SparkSession, tableRoot: String, df: DataFrame,
                     overwrite: Boolean, maxRetries: Int): Long = {
    val root = Paths.get(tableRoot).toAbsolutePath.normalize
    require(Files.isDirectory(root.resolve("_delta_log")),
      s"$tableRoot is not a Delta table (no _delta_log) — this writer only " +
        "appends to PRE-EXISTING foreign tables; create native tables with " +
        "VersionedTable/CREATE TABLE instead")
    var snap = DeltaLogReader.snapshot(tableRoot, None, Some(spark))
    validate(snap, df, overwrite)
    // data files land ONCE; a lost commit race re-publishes the same files
    // (they are invisible until a JSON references them)
    val files = writeDataFiles(spark, root, snap, df)
    var lost = 0
    while (true) {
      // claim SNAPSHOT version + 1, never latestVersion + 1: a commit that
      // landed between our snapshot read and this claim must force the
      // FileAlreadyExists path below (fresh snapshot, revalidation, removes
      // recomputed) — claiming past it would silently build on unseen
      // changes (resurrect an intervening append under an overwrite, skip a
      // concurrently added constraint). The LogStore OCC contract.
      val version = snap.version + 1L
      val actions = Vector.newBuilder[String]
      actions += DeltaLogFixture.commitInfoLine(System.currentTimeMillis(),
        if (overwrite) "WRITE" else "APPEND")
      if (overwrite)
        snap.files.foreach(f =>
          // each remove carries the add's ORIGINAL (still-encoded) path
          // string: stock replay compares escaped forms without decoding,
          // so a re-encoding of an unusually-escaped foreign add would not
          // cancel it and the overwritten rows would resurrect. The encoder
          // is only the fallback for entries with no recorded raw form.
          actions += DeltaLogFixture.removeLine(
            f.rawPath.getOrElse(DeltaLogWriter.encodePath(f.path))))
      files.foreach { case (rel, size, rows) =>
        actions += DeltaLogFixture.addLine(DeltaLogWriter.encodePath(rel), size,
          mtime = System.currentTimeMillis(),
          stats = rows.map(n => s"""{"numRecords":$n}"""))
      }
      val target = root.resolve("_delta_log").resolve(f"$version%020d.json")
      try {
        // LogStore contract: readers listing _delta_log must never see a
        // partial commit. CREATE_NEW+WRITE exposes the window between file
        // creation and write completion (a line-complete prefix would parse
        // and silently drop trailing actions); write the bytes to a tmp file
        // and publish with an atomic hard link — createLink throws
        // FileAlreadyExistsException on the OCC-loss path, same as before
        // (mirrors LocalFsMetaStore.putIfAbsent).
        val tmp = Files.createTempFile(root.resolve("_delta_log"),
          s".commit_tmp_$version-", ".json")
        try {
          Files.write(tmp,
            (actions.result().mkString("\n") + "\n")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8),
            StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
          Files.createLink(target, tmp)
        } finally {
          Files.deleteIfExists(tmp); ()
        }
        return version
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          lost += 1
          if (lost > maxRetries) throw new java.util.ConcurrentModificationException(
            s"concurrent Delta writers kept claiming versions of $tableRoot " +
              s"($maxRetries retries) — retry the write")
          // rebase: the winner may have evolved the table — revalidate
          // against the NEW snapshot (and recompute overwrite removes)
          snap = DeltaLogReader.snapshot(tableRoot, None, Some(spark))
          validate(snap, df, overwrite)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def validate(snap: DeltaLogReader.DeltaSnapshot, df: DataFrame,
                       overwrite: Boolean): Unit = {
    require(snap.partitionColumns.isEmpty,
      "foreign writes to directory-partitioned Delta tables are not " +
        s"supported (partitions: ${snap.partitionColumns.mkString(", ")})")
    // protocol gate: refuse writer features whose semantics this writer
    // cannot honor; legacy minWriter versions imply feature sets detectable
    // from the schema metadata probes below
    snap.protocol.foreach { p =>
      val declared = p.writerFeatures.getOrElse(Nil).toSet
      val unknown = declared -- SupportedWriterFeatures
      require(unknown.isEmpty,
        s"foreign Delta table requires writer features this writer does not " +
          s"implement: ${unknown.mkString(", ")}")
    }
    snap.schema.fields.foreach { f =>
      Seq("delta.generationExpression", "delta.invariants",
        "delta.identity.start").foreach { k =>
        require(!f.metadata.contains(k),
          s"column ${f.name} carries $k — generated/identity/invariant " +
            "columns are not supported by the foreign writer")
      }
    }
    if (overwrite) {
      require(!snap.configuration.get("delta.appendOnly").contains("true"),
        "delta.appendOnly=true: the table refuses OVERWRITE (appends are fine)")
      require(!snap.configuration.get("delta.enableChangeDataFeed").contains("true"),
        "OVERWRITE of a CDF-enabled foreign table would need a cdc file this " +
          "writer does not produce — append, or disable CDF")
    }
    // same column set, same (nullability-normalized) types — order-free,
    // the written frame is re-projected into table order
    val byName = snap.schema.fields
      .map(f => f.name -> VersionedTable.nullNormalized(f.dataType)).toMap
    val dfByName = df.schema.fields
      .map(f => f.name -> VersionedTable.nullNormalized(f.dataType)).toMap
    require(byName.keySet == dfByName.keySet,
      s"schema mismatch: table has ${snap.schema.fieldNames.sorted.mkString(", ")} " +
        s"but the frame has ${df.schema.fieldNames.sorted.mkString(", ")}")
    val clash = byName.collect { case (n, dt) if dfByName(n) != dt => n }
    require(clash.isEmpty,
      s"type mismatch on ${clash.mkString(", ")}: a column cannot change type")
    // ONE short-circuit probe enforces NOT NULL + every CHECK constraint.
    // ASSUMPTION (documented): the probe evaluates `df` once and
    // writeDataFiles re-evaluates it to produce the parquet — a
    // NON-DETERMINISTIC frame (rand(), sampling, a re-read mutable input)
    // could pass here yet materialize violating rows, where delta-spark
    // enforces invariants per-row inside its write. Callers passing such
    // frames must pin them first (localCheckpoint), as mergeInto does for
    // its source.
    import org.apache.spark.sql.functions.{col, expr, lit, not, coalesce}
    val notNull = snap.schema.fields.filterNot(_.nullable)
      .map(f => col(f.name).isNull)
    val checks = snap.configuration.collect {
      case (k, sql) if k.startsWith("delta.constraints.") =>
        not(coalesce(expr(sql), lit(true))) // NULL passes, per the standard
    }
    val bad = (notNull ++ checks).reduceOption(_ || _)
      .map(p => df.where(p).limit(1).collect()).getOrElse(Array.empty)
    require(bad.isEmpty,
      s"the frame violates the table's NOT NULL / CHECK constraints: " +
        s"first bad row ${bad.headOption.getOrElse("")}")
  }

  /** Write `df` as parquet under the foreign root with the table's PHYSICAL
    * column names and parquet field ids (column-mapped tables) — the file
    * shape delta-spark itself produces; returns (relative path, size,
    * numRecords) per file. */
  private def writeDataFiles(spark: SparkSession, root: Path,
                             snap: DeltaLogReader.DeltaSnapshot,
                             df: DataFrame): Vector[(String, Long, Option[Long])] = {
    import org.apache.spark.sql.functions.col
    val mapped =
      snap.configuration.getOrElse("delta.columnMapping.mode", "none") != "none"
    val projected = df.select(snap.schema.fields.toIndexedSeq.map { f =>
      val out = col(f.name).cast(f.dataType)
      if (!mapped) out.as(f.name)
      else {
        // physical name + parquet.field.id so BOTH binding modes read back
        val mb = new MetadataBuilder()
        if (f.metadata.contains("delta.columnMapping.id"))
          mb.putLong("parquet.field.id", f.metadata.getLong("delta.columnMapping.id"))
        out.as(VersionedTable.physicalName(f), mb.build())
      }
    }: _*)
    val rel = s"graft-${java.util.UUID.randomUUID.toString.take(12)}"
    LakeFiles.write(projected, root.resolve(rel), root).map { f =>
      val p = root.resolve(f)
      (f, Files.size(p), VersionedTable.footerRowCount(p))
    }
  }

}

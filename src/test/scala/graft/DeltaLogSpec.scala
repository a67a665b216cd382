package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.vt.{DeltaLogFixture => F, DeltaLogReader, DeltaLogWriter, VersionedTable}

/** The read-only `_delta_log` replayer against hand-authored
  * protocol-conformant fixtures: version replay through add/remove,
  * partition-column reconstitution, schema evolution via a newer metaData,
  * and the loud refusals (reader features beyond v1, log gaps). */
class DeltaLogSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(name: String) = {
    val p = Paths.get(Tables.scratch(s"delta_$name"))
    Files.createDirectories(p)
    p
  }

  test("replay add/remove across versions; versionAsOf and latest agree with the action stream") {
    val root = freshRoot("basic")
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val (fa, sa) = F.writeDataFile(root, df.where($"k" <= 2), "part-a")
    val (fb, sb) = F.writeDataFile(root, df.where($"k" === 3), "part-b")
    F.writeCommit(root, 0, Seq(F.protocolLine(), F.metaDataLine(df.schema.json, Nil),
      F.addLine(fa, sa)))
    F.writeCommit(root, 1, Seq(F.addLine(fb, sb)))
    F.writeCommit(root, 2, Seq(F.removeLine(fa)))
    assert(DeltaLogReader.latestVersion(root.toString) === 2)
    def ks(v: Option[Long]) =
      DeltaLogReader.read(spark, root.toString, v).select("k").as[Int].collect().sorted
    assert(ks(Some(0)) === Array(1, 2))
    assert(ks(Some(1)) === Array(1, 2, 3))
    assert(ks(Some(2)) === Array(3))
    assert(ks(None) === Array(3), "default must be the newest version")
    // a version past the head or below 0 is refused
    assertThrows[IllegalArgumentException](DeltaLogReader.read(spark, root.toString, Some(3)))
  }

  test("partition columns are reconstituted from partitionValues, typed per the schema") {
    val root = freshRoot("partitioned")
    val full = Seq((1, 10L, "x"), (2, 20L, "x"), (3, 30L, "y")).toDF("k", "amt", "part")
    // files carry only (k, amt); `part` exists in the log alone
    val (fx, sx) = F.writeDataFile(root, full.where($"part" === "x").drop("part"), "px")
    val (fy, sy) = F.writeDataFile(root, full.where($"part" === "y").drop("part"), "py")
    F.writeCommit(root, 0, Seq(F.protocolLine(),
      F.metaDataLine(full.schema.json, Seq("part")),
      F.addLine(fx, sx, Map("part" -> "x")), F.addLine(fy, sy, Map("part" -> "y"))))
    val got = DeltaLogReader.read(spark, root.toString, None)
    assert(got.columns.toSeq === Seq("k", "amt", "part"), "declared column order")
    assert(got.schema("part").dataType.typeName === "string")
    assert(got.as[(Int, Long, String)].collect().sortBy(_._1) ===
      Array((1, 10L, "x"), (2, 20L, "x"), (3, 30L, "y")))
    // integer-typed partition column round-trips through the string encoding
    val root2 = freshRoot("part_int")
    val full2 = Seq((1, 7), (2, 7), (3, 8)).toDF("k", "bucket")
    val (f7, s7) = F.writeDataFile(root2, full2.where($"bucket" === 7).drop("bucket"), "b7")
    F.writeCommit(root2, 0, Seq(F.protocolLine(),
      F.metaDataLine(full2.schema.json, Seq("bucket")),
      F.addLine(f7, s7, Map("bucket" -> "7"))))
    val got2 = DeltaLogReader.read(spark, root2.toString, None)
    assert(got2.schema("bucket").dataType.typeName === "integer")
    assert(got2.select("bucket").as[Int].collect().toSet === Set(7))
  }

  test("schema evolution: the newest metaData wins, old versions replay with their own schema") {
    val root = freshRoot("evolve")
    val v0df = Seq((1, "a")).toDF("k", "v")
    val v1df = Seq((2, "b", 9.5)).toDF("k", "v", "score")
    val (f0, s0) = F.writeDataFile(root, v0df, "gen0")
    val (f1, s1) = F.writeDataFile(root, v1df, "gen1")
    F.writeCommit(root, 0, Seq(F.protocolLine(), F.metaDataLine(v0df.schema.json, Nil),
      F.addLine(f0, s0)))
    // overwrite with a widened schema: new metaData + remove old + add new
    F.writeCommit(root, 1, Seq(F.metaDataLine(v1df.schema.json, Nil),
      F.removeLine(f0), F.addLine(f1, s1)))
    assert(DeltaLogReader.read(spark, root.toString, Some(0)).columns.toSeq === Seq("k", "v"))
    assert(DeltaLogReader.read(spark, root.toString, Some(1)).columns.toSeq ===
      Seq("k", "v", "score"))
    assert(DeltaLogReader.read(spark, root.toString, Some(1))
      .select("score").as[Double].collect() === Array(9.5))
  }

  test("timestampAsOf resolves the newest commit at or before the clock (commitInfo, mtime fallback)") {
    val root = freshRoot("ts_travel")
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val (fa, sa) = F.writeDataFile(root, df.where($"k" === 1), "a")
    val (fb, sb) = F.writeDataFile(root, df.where($"k" === 2), "b")
    F.writeCommit(root, 0, Seq(F.commitInfoLine(1000L), F.protocolLine(),
      F.metaDataLine(df.schema.json, Nil), F.addLine(fa, sa)))
    F.writeCommit(root, 1, Seq(F.commitInfoLine(5000L), F.addLine(fb, sb)))
    assert(DeltaLogReader.versionAtTimestamp(root.toString, 1000L) === 0)
    assert(DeltaLogReader.versionAtTimestamp(root.toString, 4999L) === 0)
    assert(DeltaLogReader.versionAtTimestamp(root.toString, 5000L) === 1)
    // after the last commit: refused like delta-spark's DeltaHistoryManager
    // (a lenient "latest" would silently mask a future clock value)
    assertThrows[IllegalArgumentException](
      DeltaLogReader.versionAtTimestamp(root.toString, 5001L))
    assert(DeltaLogReader.readAsOfTimestamp(spark, root.toString, 4999L)
      .select("k").as[Int].collect() === Array(1))
    assert(DeltaLogReader.readAsOfTimestamp(spark, root.toString, 5000L)
      .select("k").as[Int].collect().sorted === Array(1, 2))
    // before the first commit: loud error, never an empty read
    assertThrows[IllegalArgumentException](
      DeltaLogReader.versionAtTimestamp(root.toString, 999L))
    // NON-MONOTONIC raw timestamps (skewed multi-writer clocks): adjusted
    // to strictly increasing exactly like delta-spark's history manager —
    // raw [1000, 5000, 3000] reads as [1000, 5000, 5001]
    val rootNm = freshRoot("ts_nonmono")
    val (fn, sn) = F.writeDataFile(rootNm, df, "n")
    F.writeCommit(rootNm, 0, Seq(F.commitInfoLine(1000L), F.protocolLine(),
      F.metaDataLine(df.schema.json, Nil), F.addLine(fn, sn)))
    F.writeCommit(rootNm, 1, Seq(F.commitInfoLine(5000L)))
    F.writeCommit(rootNm, 2, Seq(F.commitInfoLine(3000L))) // clock went backwards
    assert(DeltaLogReader.versionAtTimestamp(rootNm.toString, 3500L) === 0,
      "raw-timestamp comparison would wrongly pick v2 here")
    assert(DeltaLogReader.versionAtTimestamp(rootNm.toString, 5000L) === 1,
      "v2's adjusted timestamp is 5001, not its raw 3000")
    assert(DeltaLogReader.versionAtTimestamp(rootNm.toString, 5001L) === 2)

    // a log with NO commitInfo falls back to the commit file's mtime
    val root2 = freshRoot("ts_mtime")
    val (fc, sc) = F.writeDataFile(root2, df, "c")
    F.writeCommit(root2, 0, Seq(F.protocolLine(), F.metaDataLine(df.schema.json, Nil),
      F.addLine(fc, sc)))
    val mtime = java.nio.file.Files.getLastModifiedTime(
      root2.resolve("_delta_log").resolve(f"${0L}%020d.json")).toMillis
    assert(DeltaLogReader.versionAtTimestamp(root2.toString, mtime) === 0)
    assertThrows[IllegalArgumentException](
      DeltaLogReader.versionAtTimestamp(root2.toString, mtime - 1))
  }

  // ---- the writer: exportDeltaLog action-level conformance ----------------

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Parse an exported commit JSON into its action lines. */
  private def actions(root: java.nio.file.Path, v: Long) =
    Files.readAllLines(root.resolve("_delta_log").resolve(f"$v%020d.json"))
      .asScala.filter(_.trim.nonEmpty).map(mapper.readTree).toVector

  private def exportedTable(name: String): VersionedTable = {
    val vt = VersionedTable.create(Tables.scratch(s"delta_export_$name"))
    val v0 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val v1 = Seq((3L, "c")).toDF("k", "v")
    val v2 = Seq((1L, "a", 1.5), (9L, "z", 9.5)).toDF("k", "v", "score")
    vt.write(v0, "main", "v0")
    vt.write(v1, "main", "v1 append", mode = "append")
    vt.write(v2, "main", "v2 overwrite, evolved schema", overwriteSchema = true)
    vt.exportDeltaLog("main")
    vt
  }

  test("exportDeltaLog: protocol at v0, metaData only on schema change, add/remove = file diff") {
    val vt = exportedTable("conform")
    val commits = vt.lineage("main").reverse // v0, v1, v2
    val a0 = actions(vt.root, 0)
    // commitInfo leads (delta-spark's layout) and carries the commit's own ts
    assert(a0.head.has("commitInfo") &&
      a0.head.get("commitInfo").get("timestamp").asLong() === commits(0).ts)
    assert(a0.exists(a => a.has("protocol") &&
      a.get("protocol").get("minReaderVersion").asInt() === 1))
    val md0 = a0.filter(_.has("metaData"))
    assert(md0.size === 1 &&
      md0.head.get("metaData").get("schemaString").asText() === commits(0).schemaJson)
    val adds0 = a0.filter(_.has("add")).map(_.get("add").get("path").asText())
    assert(adds0.sorted === commits(0).files.sorted, "v0 adds are exactly the v0 snapshot")
    assert(!a0.exists(_.has("remove")), "an initial write removes nothing")
    assert(adds0.forall(p => !p.startsWith("/") && !p.contains("://")),
      "add paths must be table-root-relative")
    // every add carries the real on-disk size
    a0.filter(_.has("add")).foreach { a =>
      val rel = a.get("add").get("path").asText()
      assert(a.get("add").get("size").asLong() === Files.size(vt.root.resolve(rel)))
    }
    // v1: append → adds only, NO metaData (schema unchanged)
    val a1 = actions(vt.root, 1)
    assert(!a1.exists(_.has("metaData")), "unchanged schema must not re-emit metaData")
    assert(!a1.exists(_.has("remove")))
    assert(a1.filter(_.has("add")).map(_.get("add").get("path").asText()).sorted ===
      (commits(1).files.toSet -- commits(0).files.toSet).toVector.sorted)
    // v2: overwrite with evolved schema → removes of ALL prior files, new
    // adds, and a re-emitted metaData carrying the new schema
    val a2 = actions(vt.root, 2)
    val md2 = a2.filter(_.has("metaData"))
    assert(md2.size === 1 &&
      md2.head.get("metaData").get("schemaString").asText() === commits(2).schemaJson)
    assert(a2.filter(_.has("remove")).map(_.get("remove").get("path").asText()).sorted ===
      commits(1).files.sorted)
    assert(a2.filter(_.has("add")).map(_.get("add").get("path").asText()).sorted ===
      commits(2).files.sorted)
  }

  test("exportDeltaLog round-trips through our own reader at every version") {
    val vt = exportedTable("roundtrip")
    (0L to 2L).foreach { v =>
      val viaDelta = DeltaLogReader.read(spark, vt.root.toString, Some(v))
        .collect().map(_.toString).sorted
      val direct = vt.readVersion(spark, "main", v).collect().map(_.toString).sorted
      assert(viaDelta === direct, s"version $v replay mismatch")
    }
    assert(DeltaLogReader.latestVersion(vt.root.toString) === 2)
  }

  test("exportDeltaLog is incremental and idempotent") {
    val vt = exportedTable("idem")
    val log = vt.root.resolve("_delta_log")
    val before = Files.list(log).iterator().asScala
      .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p)).toMap
    vt.exportDeltaLog("main") // re-export: nothing rewritten
    val after = Files.list(log).iterator().asScala
      .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p)).toMap
    assert(after === before, "existing commit JSONs must not be rewritten")
    vt.write(Seq((7L, "g", 0.5)).toDF("k", "v", "score"), "main", "v3 append",
      mode = "append")
    assert(vt.exportDeltaLog("main") === 3)
    assert(Files.exists(log.resolve(f"${3L}%020d.json")), "new suffix exported")
    assert(DeltaLogReader.read(spark, vt.root.toString, Some(3L)).count() === 3)
  }

  test("exportDeltaLog maps native MOR delete vectors onto Delta DV descriptors") {
    val vt = VersionedTable.create(Tables.scratch("delta_export_dv"))
    vt.write(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")
      .repartitionByRange(2, col("k")), "main", "v0", statsCols = Seq("k"))
    vt.deleteWithVectors(spark, "k = 1 OR k = 3", "main")
    assert(vt.exportDeltaLog("main") === 1)
    // v1's JSON carries the protocol UPGRADE (v3 + deletionVectors) and the
    // DV-bearing re-add of the touched file(s); v0 stays plain protocol v1
    val a0 = actions(vt.root, 0)
    assert(a0.exists(a => a.has("protocol") &&
      a.get("protocol").get("minReaderVersion").asInt() === 1))
    val a1 = actions(vt.root, 1)
    val p1 = a1.filter(_.has("protocol"))
    assert(p1.size === 1 && p1.head.get("protocol").get("minReaderVersion").asInt() === 3)
    assert(p1.head.get("protocol").get("readerFeatures").elements().asScala
      .map(_.asText()).toSet === Set("deletionVectors"))
    val dvAdds = a1.filter(a => a.has("add") && a.get("add").has("deletionVector"))
    assert(dvAdds.nonEmpty, "the MOR delete must surface as DV-bearing adds")
    assert(dvAdds.forall(a =>
      a.get("add").get("deletionVector").get("cardinality").asLong() >= 1))
    // each DV-changed file is remove+re-added — reconciliation keeps it live
    val removed = a1.filter(_.has("remove")).map(_.get("remove").get("path").asText()).toSet
    assert(dvAdds.map(_.get("add").get("path").asText()).toSet === removed)
    // round-trip: our reader replays both versions identically to the native read
    (0L to 1L).foreach { v =>
      assert(DeltaLogReader.read(spark, vt.root.toString, Some(v))
        .collect().map(_.toString).sorted ===
        vt.readVersion(spark, "main", v).collect().map(_.toString).sorted,
        s"DV version $v replay mismatch")
    }
    assert(DeltaLogReader.read(spark, vt.root.toString, Some(1L))
      .select("k").as[Long].collect().sorted === Array(2L, 4L))
    // a SECOND MOR delete changes the same files' DVs again: the export's
    // dv-diff emits new descriptors and the replay tracks them
    vt.deleteWithVectors(spark, "k = 2", "main")
    assert(vt.exportDeltaLog("main") === 2)
    assert(DeltaLogReader.read(spark, vt.root.toString, Some(2L))
      .select("k").as[Long].collect().sorted === Array(4L))
  }

  test("exportDeltaLog emits typed per-file stats; checkpoints carry them through pruning") {
    val vt = VersionedTable.create(Tables.scratch("delta_export_stats"))
    val data = Seq((1L, "apple", 0.5), (2L, "pear", 1.5), (3L, "fig", 2.5),
      (10L, "kiwi", 9.5), (20L, "lime", 19.5)).toDF("k", "name", "score")
    vt.write(data.repartitionByRange(2, col("k")), "main", "v0",
      statsCols = Seq("k", "name", "score"))
    vt.exportDeltaLog("main")
    val statAdds = actions(vt.root, 0).filter(_.has("add"))
    assert(statAdds.nonEmpty && statAdds.forall(_.get("add").has("stats")),
      "every add of a stats-tracked write must carry stats JSON")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val parsed = statAdds.map { a =>
      a.get("add").get("path").asText() ->
        mapper.readTree(a.get("add").get("stats").asText())
    }.toMap
    // numRecords across files sums to the table; per-column quadrants are
    // TYPED: k integral (no decimal point), score double, name JSON string
    assert(parsed.values.map(_.get("numRecords").asLong()).sum === 5L)
    val global = parsed.values.toSeq
    assert(global.map(_.get("minValues").get("k").asLong()).min === 1L)
    assert(global.map(_.get("maxValues").get("k").asLong()).max === 20L)
    assert(global.forall(s => s.get("minValues").get("k").isIntegralNumber),
      "a bigint column's stats must render as JSON integers, not 1.0")
    assert(global.map(_.get("maxValues").get("score").asDouble()).max === 19.5)
    assert(global.forall(s => s.get("minValues").get("name").isTextual))
    assert(global.map(_.get("minValues").get("name").asText()).min === "apple")
    assert(global.forall(s => s.get("nullCount").get("k").asLong() === 0L))
    // checkpoint + prune the JSON: the stats must survive the bootstrap
    DeltaLogWriter.writeCheckpoint(spark, vt.root.toString, 0L)
    Files.delete(vt.root.resolve("_delta_log").resolve(f"${0L}%020d.json"))
    val snap = DeltaLogReader.snapshot(vt.root.toString, None, Some(spark))
    assert(snap.files.nonEmpty && snap.files.forall(_.stats.isDefined),
      "checkpoint bootstrap must not drop per-file stats")
    snap.files.foreach { f =>
      assert(mapper.readTree(f.stats.get) === parsed(f.path),
        s"stats for ${f.path} changed through the checkpoint")
    }
  }

  test("change data feed: cdc actions conform, appends derive, mixed-without-cdc refuses") {
    def lineage(name: String, cdf: Boolean) = {
      val vt = VersionedTable.create(Tables.scratch(name))
      vt.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "main", "v0")
      vt.write(Seq((3L, "c")).toDF("k", "v"), "main", "v1 append", mode = "append")
      vt.upsert(spark, Seq((2L, "B"), (4L, "d")).toDF("k", "v"), keyCols = Seq("k"))
      vt.exportDeltaLog("main", changeDataFeed = cdf)
      vt
    }
    val vt = lineage("delta_cdf", cdf = true)
    // v0: protocol declares writer CDF support; metaData carries the flag
    val a0 = actions(vt.root, 0)
    assert(a0.exists(a => a.has("protocol") &&
      a.get("protocol").get("minWriterVersion").asInt() >= 4))
    assert(a0.exists(a => a.has("metaData") &&
      a.get("metaData").get("configuration")
        .get("delta.enableChangeDataFeed").asText() === "true"))
    assert(!a0.exists(_.has("cdc")), "an initial load derives; no cdc file")
    assert(!actions(vt.root, 1).exists(_.has("cdc")), "pure append: no cdc file")
    // v2 (upsert = removes + adds): cdc actions present, conformant shape
    // (one per feed partition — a commit's cdc actions are a set)
    val c2 = actions(vt.root, 2).filter(_.has("cdc")).map(_.get("cdc"))
    assert(c2.nonEmpty)
    c2.foreach { c =>
      assert(c.get("path").asText().startsWith("_change_data/"))
      assert(!c.get("dataChange").asBoolean(true))
      assert(Files.exists(vt.root.resolve(c.get("path").asText())))
    }
    // table_changes(0, 2): derived inserts for v0/v1, the cdc file for v2
    val feed = DeltaLogReader.changes(spark, vt.root.toString, 0, 2)
      .select("_commit_version", "_change_type", "k", "v")
      .as[(Long, String, Long, String)].collect().toSet
    assert(feed === Set((0L, "insert", 1L, "a"), (0L, "insert", 2L, "b"),
      (1L, "insert", 3L, "c"),
      (2L, "delete", 2L, "b"), (2L, "insert", 2L, "B"), (2L, "insert", 4L, "d")))
    // a sub-range skips earlier versions' rows but still tracks schema
    assert(DeltaLogReader.changes(spark, vt.root.toString, 2, 2)
      .count() === 3)
    // _commit_timestamp rides along as a timestamp column
    assert(feedSchemaHasTimestamp(vt))
    // without CDF the upsert version has no cdc actions: refused loudly
    val plain = lineage("delta_nocdf", cdf = false)
    val e = intercept[IllegalArgumentException](
      DeltaLogReader.changes(spark, plain.root.toString, 0, 2))
    assert(e.getMessage.contains("cdc"), e.getMessage)
    // but the append-only prefix still derives
    assert(DeltaLogReader.changes(spark, plain.root.toString, 0, 1).count() === 3)
    // flipping the CDF flag on re-export would yield a non-conformant log
    // (idempotence never rewrites v0's protocol/metaData): refused loudly
    val e2 = intercept[IllegalArgumentException](
      plain.exportDeltaLog("main", changeDataFeed = true))
    assert(e2.getMessage.contains("changeDataFeed"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      vt.exportDeltaLog("main", changeDataFeed = false))
    assert(e3.getMessage.contains("changeDataFeed"), e3.getMessage)
  }

  private def feedSchemaHasTimestamp(vt: VersionedTable): Boolean =
    DeltaLogReader.changes(spark, vt.root.toString, 0, 0)
      .schema("_commit_timestamp").dataType.typeName === "timestamp"

  test("change feed across an overwriteSchema commit null-fills the old versions' missing columns") {
    val vt = VersionedTable.create(Tables.scratch("delta_cdf_evolve"))
    vt.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "main", "v0")
    vt.write(Seq((1L, "a", 0.5), (2L, "b", 1.5), (3L, "c", 2.5)).toDF("k", "v", "score"),
      "main", "v1 overwrite, evolved schema", overwriteSchema = true)
    vt.exportDeltaLog("main", changeDataFeed = true)
    val feed = DeltaLogReader.changes(spark, vt.root.toString, 0, 1)
    assert(feed.columns.contains("score"))
    val v0rows = feed.where($"_commit_version" === 0)
      .select("k", "score").collect()
    assert(v0rows.length === 2 && v0rows.forall(_.isNullAt(1)),
      "pre-evolution versions must null-fill the new column, not crash")
    assert(feed.where($"_commit_version" === 1 && $"_change_type" === "insert")
      .count() === 3)
  }

  test("change feed over a PARTITIONED table reconstitutes partition columns per action") {
    val root = freshRoot("cdf_part")
    val full = Seq((1, "x"), (2, "x"), (3, "y")).toDF("k", "part")
    // files carry only k; `part` exists in the log alone
    val (fx, sx) = F.writeDataFile(root, full.where($"part" === "x").drop("part"), "px")
    val (fy, sy) = F.writeDataFile(root, full.where($"part" === "y").drop("part"), "py")
    F.writeCommit(root, 0, Seq(F.protocolLine(),
      F.metaDataLine(full.schema.json, Seq("part")),
      F.addLine(fx, sx, Map("part" -> "x")), F.addLine(fy, sy, Map("part" -> "y"))))
    // v1: drop partition x — the remove carries its partitionValues
    F.writeCommit(root, 1, Seq(F.removeLine(fx, Some(Map("part" -> "x")))))
    // v2: a cdc file scoped to partition y (content excludes the partition
    // column, exactly delta-spark's layout)
    val (fc, sc) = F.writeDataFile(root,
      Seq((3, "delete"), (4, "insert")).toDF("k", "_change_type"), "cdc2")
    F.writeCommit(root, 2, Seq(F.cdcLine(fc, sc, Map("part" -> "y"))))
    val feed = DeltaLogReader.changes(spark, root.toString, 0, 2)
      .select("_commit_version", "_change_type", "k", "part")
      .as[(Long, String, Int, String)].collect().toSet
    assert(feed === Set(
      (0L, "insert", 1, "x"), (0L, "insert", 2, "x"), (0L, "insert", 3, "y"),
      (1L, "delete", 1, "x"), (1L, "delete", 2, "x"),
      (2L, "delete", 3, "y"), (2L, "insert", 4, "y")))
    // a remove WITHOUT partitionValues on a partitioned table cannot
    // reconstitute its delete rows: refused loudly, never null-filled
    val root2 = freshRoot("cdf_part_noext")
    val (fz, sz) = F.writeDataFile(root2, full.where($"part" === "x").drop("part"), "pz")
    F.writeCommit(root2, 0, Seq(F.protocolLine(),
      F.metaDataLine(full.schema.json, Seq("part")), F.addLine(fz, sz, Map("part" -> "x"))))
    F.writeCommit(root2, 1, Seq(F.removeLine(fz)))
    val e = intercept[IllegalArgumentException](
      DeltaLogReader.changes(spark, root2.toString, 1, 1))
    assert(e.getMessage.contains("partitionValues"), e.getMessage)
  }

  test("change feed over COLUMN-MAPPED tables: name mode renames, id mode binds by field id") {
    // name mode: files carry physical names; the cdc file's data columns are
    // physical too, _change_type is never mapped
    val root = freshRoot("cdf_cmap_name")
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val phys = Map("k" -> "col-k", "v" -> "col-v")
    def physical(d: org.apache.spark.sql.DataFrame) =
      d.select(d.columns.map(c => col(c).as(phys.getOrElse(c, c))): _*)
    val (fa, sa) = F.writeDataFile(root, physical(df), "pa")
    F.writeCommit(root, 0, Seq(F.protocolLine(minReader = 2, minWriter = 5),
      F.metaDataLine(F.columnMappedSchema(df.schema, phys).json, Nil,
        Map("delta.columnMapping.mode" -> "name")),
      F.addLine(fa, sa)))
    val (fu, su) = F.writeDataFile(root, physical(Seq((1, "A"), (2, "b")).toDF("k", "v")), "pa2")
    val (fc, sc) = F.writeDataFile(root,
      physical(Seq((1, "a"), (1, "A")).toDF("k", "v"))
        .withColumn("_change_type",
          when(col("`col-v`") === "a", "update_preimage").otherwise("update_postimage")),
      "cdc1")
    F.writeCommit(root, 1, Seq(F.removeLine(fa), F.addLine(fu, su), F.cdcLine(fc, sc)))
    val feed = DeltaLogReader.changes(spark, root.toString, 0, 1)
      .select("_commit_version", "_change_type", "k", "v")
      .as[(Long, String, Int, String)].collect().toSet
    assert(feed === Set((0L, "insert", 1, "a"), (0L, "insert", 2, "b"),
      (1L, "update_preimage", 1, "a"), (1L, "update_postimage", 1, "A")),
      "logical names must surface through a name-mapped feed")
    // id mode: same shape, ids drive the bind
    val root2 = freshRoot("cdf_cmap_id")
    val ids = Map("k" -> 1L, "v" -> 2L)
    val fileDf = F.physicalWithIds(df, phys, ids)
    val (fb, sb) = F.writeDataFile(root2, fileDf, "pb")
    F.writeCommit(root2, 0, Seq(F.protocolLine(minReader = 2, minWriter = 5),
      F.metaDataLine(F.columnMappedSchema(df.schema, phys, ids).json, Nil,
        Map("delta.columnMapping.mode" -> "id")),
      F.addLine(fb, sb)))
    val flagBefore = spark.conf.get("spark.sql.parquet.fieldId.read.enabled")
    val idFeed = DeltaLogReader.changes(spark, root2.toString, 0, 0)
      .select("_change_type", "k", "v").as[(String, Int, String)].collect().toSet
    assert(idFeed === Set(("insert", 1, "a"), ("insert", 2, "b")))
    assert(spark.conf.get("spark.sql.parquet.fieldId.read.enabled") === flagBefore,
      "the CDF path must scope field-id resolution to a cloned session, " +
        "never mutate the caller's (r17 review finding)")
  }

  test("readWhere/readWhereString prune by partitionValues on partition columns") {
    val root = freshRoot("skip_partcol")
    val full = Seq((1L, 7), (2L, 7), (3L, 8), (4L, 9)).toDF("k", "bucket")
    val groups = Seq(7, 8, 9).map { b =>
      val (f, s) = F.writeDataFile(root, full.where($"bucket" === b).drop("bucket"), s"b$b")
      F.addLine(f, s, Map("bucket" -> b.toString))
    }
    F.writeCommit(root, 0, Seq(F.protocolLine(),
      F.metaDataLine(full.schema.json, Seq("bucket"))) ++ groups)
    val pruned = DeltaLogReader.readWhere(spark, root.toString, "bucket", 8, 9)
    assert(pruned.inputFiles.length === 2,
      "partition pruning must drop the bucket=7 file before listing")
    assert(pruned.select("k").as[Long].collect().sorted === Array(3L, 4L))
    // string partition column
    val root2 = freshRoot("skip_partcol_str")
    val full2 = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "part")
    val groups2 = Seq("x", "y", "z").map { p =>
      val (f, s) = F.writeDataFile(root2, full2.where($"part" === p).drop("part"), s"p$p")
      F.addLine(f, s, Map("part" -> p))
    }
    F.writeCommit(root2, 0, Seq(F.protocolLine(),
      F.metaDataLine(full2.schema.json, Seq("part"))) ++ groups2)
    val prunedStr = DeltaLogReader.readWhereString(spark, root2.toString, "part", "y", "z")
    assert(prunedStr.inputFiles.length === 2)
    assert(prunedStr.select("k").as[Long].collect().sorted === Array(2L, 3L))
  }

  test("V2 parquet checkpoint: sidecar bootstrap, inline adds, tombstones ignored, JSON suffix applied") {
    val root = freshRoot("v2cp_parquet")
    val df = Seq((1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")).toDF("k", "v")
    def file(k: Int, name: String) = F.writeDataFile(root, df.where($"k" === k), name)
    val (fa, sa) = file(1, "pa"); val (fb, sb) = file(2, "pb")
    val (fc, sc) = file(3, "pc"); val (fd, sd) = file(4, "pd")
    // sidecar 1 carries add(a) plus a remove TOMBSTONE of a long-gone file
    // (vacuum bookkeeping a reader must ignore); sidecar 2 carries add(b)
    val s1 = F.writeSidecarFile(spark, root, "sc-one",
      adds = Seq((fa, sa, Map.empty[String, String])),
      removeTombstones = Seq("gone-long-ago.parquet"))
    val s2 = F.writeSidecarFile(spark, root, "sc-two",
      adds = Seq((fb, sb, Map.empty[String, String])))
    F.writeV2CheckpointParquet(spark, root, 1, "11111111-2222-3333-4444-555555555555",
      df.schema.json, Nil, Map.empty, sidecars = Seq(s1, s2),
      inlineAdds = Seq((fc, sc, Map.empty[String, String])))
    // the pre-checkpoint JSON is fully pruned: versions 0..1 exist ONLY
    // through the v2 checkpoint (+ its protocol row declares v2Checkpoint,
    // which the reader-feature gate must accept)
    assert(DeltaLogReader.latestVersion(root.toString) === 1,
      "a v2 checkpoint must count toward the newest version")
    val atCp = DeltaLogReader.read(spark, root.toString, Some(1))
      .select("k").as[Int].collect().sorted
    assert(atCp === Array(1, 2, 3),
      "sidecar adds (both files) + inline add must all be live; the remove " +
        "tombstone must contribute nothing")
    // JSON suffix on top of the v2 bootstrap
    F.writeCommit(root, 2, Seq(F.addLine(fd, sd), F.removeLine(fa)))
    val atHead = DeltaLogReader.read(spark, root.toString, None)
      .select("k").as[Int].collect().sorted
    assert(atHead === Array(2, 3, 4))
  }

  test("V2 json manifest bootstraps; torn/misnamed v2 checkpoints are refused loudly") {
    val root = freshRoot("v2cp_json")
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val (fa, sa) = F.writeDataFile(root, df.where($"k" === 1), "pa")
    val (fb, sb) = F.writeDataFile(root, df.where($"k" === 2), "pb")
    val sc1 = F.writeSidecarFile(spark, root, "sc-json",
      adds = Seq((fb, sb, Map.empty[String, String])))
    F.writeV2CheckpointJson(root, 0, "aaaabbbb-0000-1111-2222-333344445555", Seq(
      F.checkpointMetadataLine(0),
      F.protocolV3Line(Seq("v2Checkpoint")),
      F.metaDataLine(df.schema.json, Nil),
      F.addLine(fa, sa),
      F.sidecarLine(sc1, 0L)))
    val ks = DeltaLogReader.read(spark, root.toString, Some(0))
      .select("k").as[Int].collect().sorted
    assert(ks === Array(1, 2), "inline add + sidecar add through a json manifest")

    // checkpointMetadata.version != filename version → refused
    val root2 = freshRoot("v2cp_badver")
    F.writeV2CheckpointJson(root2, 0, "aaaabbbb-0000-1111-2222-333344445555", Seq(
      F.checkpointMetadataLine(7),
      F.protocolV3Line(Seq("v2Checkpoint")),
      F.metaDataLine(df.schema.json, Nil)))
    val e1 = intercept[IllegalArgumentException](
      DeltaLogReader.read(spark, root2.toString, Some(0)))
    assert(e1.getMessage.contains("checkpointMetadata.version"), e1.getMessage)

    // a manifest without checkpointMetadata at all → refused
    val root3 = freshRoot("v2cp_nocm")
    F.writeV2CheckpointJson(root3, 0, "aaaabbbb-0000-1111-2222-333344445555", Seq(
      F.protocolV3Line(Seq("v2Checkpoint")),
      F.metaDataLine(df.schema.json, Nil)))
    val e2 = intercept[IllegalArgumentException](
      DeltaLogReader.read(spark, root3.toString, Some(0)))
    assert(e2.getMessage.contains("checkpointMetadata"), e2.getMessage)

    // a manifest referencing a missing sidecar is torn → refused, named
    val root4 = freshRoot("v2cp_torn")
    F.writeV2CheckpointJson(root4, 0, "aaaabbbb-0000-1111-2222-333344445555", Seq(
      F.checkpointMetadataLine(0),
      F.metaDataLine(df.schema.json, Nil),
      F.sidecarLine("never-written.parquet", 0L)))
    val e3 = intercept[IllegalArgumentException](
      DeltaLogReader.read(spark, root4.toString, Some(0)))
    assert(e3.getMessage.contains("never-written.parquet"), e3.getMessage)
  }

  test("classic and v2 checkpoints at the same version: the cheaper classic form wins") {
    // author BOTH at v0 — the v2 one torn (missing sidecar), so the read
    // only succeeds if selection preferred the classic single-file form
    val root = freshRoot("v2cp_pref")
    val df = Seq((1, "a")).toDF("k", "v")
    val (fa, sa) = F.writeDataFile(root, df, "pa")
    F.writeCommit(root, 0, Seq(F.protocolLine(),
      F.metaDataLine(df.schema.json, Nil), F.addLine(fa, sa)))
    DeltaLogWriter.writeCheckpoint(spark, root.toString, 0)
    F.writeV2CheckpointJson(root, 0, "aaaabbbb-0000-1111-2222-333344445555", Seq(
      F.checkpointMetadataLine(0),
      F.metaDataLine(df.schema.json, Nil),
      F.sidecarLine("never-written.parquet", 0L)))
    Files.delete(root.resolve("_delta_log").resolve(f"${0L}%020d.json"))
    val ks = DeltaLogReader.read(spark, root.toString, Some(0))
      .select("k").as[Int].collect()
    assert(ks === Array(1))
  }

  test("writeCheckpointV2 round-trips through our own reader after JSON pruning") {
    val root = freshRoot("v2cp_write")
    val vt = VersionedTable.create(root.toString)
    val df = (1L to 40L).map(i => (i, s"r$i")).toDF("k", "v")
    vt.write(df.where($"k" <= 20).repartition(4), "main", "v0")
    vt.write(df.where($"k" > 20).repartition(4), "main", "v1", mode = "append")
    vt.exportDeltaLog("main")
    // small sidecarPartSize forces MULTIPLE sidecars
    DeltaLogWriter.writeCheckpointV2(spark, root.toString, 1, sidecarPartSize = 3)
    val log = root.resolve("_delta_log")
    val sidecars = {
      val st = Files.list(log.resolve("_sidecars"))
      try st.iterator().asScala.toVector finally st.close()
    }
    assert(sidecars.size === 3, s"8 adds / partSize 3 -> 3 sidecars, got $sidecars")
    // prune ALL commit JSON: the v2 checkpoint is the only bootstrap left
    Files.delete(log.resolve(f"${0L}%020d.json"))
    Files.delete(log.resolve(f"${1L}%020d.json"))
    val got = DeltaLogReader.read(spark, root.toString, None)
      .select("k").as[Long].collect().sorted
    assert(got === (1L to 40L).toArray)
    // the checkpoint's protocol row gates on v2Checkpoint
    val snap = DeltaLogReader.snapshot(root.toString, None, Some(spark))
    assert(snap.protocol.exists(_.readerFeatures.exists(_.contains("v2Checkpoint"))),
      s"protocol must require the v2Checkpoint reader feature, got ${snap.protocol}")
    // a JSON suffix on top still applies
    vt.write(df.where($"k" === 1L).withColumn("k", lit(100L)), "main", "v2",
      mode = "append")
    vt.exportDeltaLog("main")
    assert(DeltaLogReader.read(spark, root.toString, None).count() === 41L)
  }

  test("replicateFromDelta: idempotent catch-up, metadata-only versions stepped over, deletes refused") {
    import graft.streaming.ChangeFeed
    val root = freshRoot("repl_src")
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val (fa, sa) = F.writeDataFile(root, df, "a")
    F.writeCommit(root, 0, Seq(F.protocolLine(), F.metaDataLine(df.schema.json, Nil),
      F.addLine(fa, sa)))
    val target = VersionedTable.create(Tables.scratch("repl_tgt"))
    assert(ChangeFeed.replicateFromDelta(spark, root.toString, target) === 1)
    assert(target.read(spark, "main").count() === 2)
    // re-run with nothing new: no-op (position from the target's watermark)
    assert(ChangeFeed.replicateFromDelta(spark, root.toString, target) === 0)
    assert(target.head("main").get.version === 0)
    // v1 metadata-only, v2 a real append: catch-up ships one batch and the
    // target's history mirrors the source's version boundaries
    F.writeCommit(root, 1, Seq(F.metaDataLine(df.schema.json, Nil)))
    val (fb, sb) = F.writeDataFile(root, Seq((3L, "c")).toDF("k", "v"), "b")
    F.writeCommit(root, 2, Seq(F.addLine(fb, sb)))
    assert(ChangeFeed.replicateFromDelta(spark, root.toString, target) === 1)
    assert(target.read(spark, "main").select("k").as[Long].collect().sorted ===
      Array(1L, 2L, 3L))
    // a delete commit is not log-shippable: refused loudly, target untouched
    F.writeCommit(root, 3, Seq(F.removeLine(fb)))
    val e = intercept[IllegalStateException](
      ChangeFeed.replicateFromDelta(spark, root.toString, target))
    assert(e.getMessage.contains("non-insert"), e.getMessage)
    assert(target.read(spark, "main").count() === 3, "refusal must not mutate the target")
  }

  test("multi-part checkpoints bootstrap; incomplete part groups are ignored") {
    // delta-spark splits large checkpoints into <v>.checkpoint.<i>.<n>.parquet
    // parts; actions land in arbitrary parts. Split a real checkpoint in two
    // (protocol+metaData in part 1, the adds in part 2), prune everything
    // else, and the reader must reconstruct the snapshot from the group.
    val vt = VersionedTable.create(Tables.scratch("delta_mp"))
    vt.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .repartitionByRange(3, col("k")), "main", "v0")
    vt.exportDeltaLog("main")
    DeltaLogWriter.writeCheckpoint(spark, vt.root.toString, 0L)
    val log = vt.root.resolve("_delta_log")
    val single = log.resolve(f"${0L}%020d.checkpoint.parquet")
    val cp = spark.read.parquet(single.toString)
    val rows = cp.collect()
    assert(rows.length >= 3, "fixture needs protocol+metaData+adds rows")
    def writePart(rs: Seq[org.apache.spark.sql.Row], i: Int, n: Int): Unit = {
      val tmp = log.resolve(s".mp_tmp_$i")
      spark.createDataFrame(rs.asJava, cp.schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = {
        val st = Files.list(tmp)
        try st.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
        finally st.close()
      }
      Files.move(part, log.resolve(f"${0L}%020d.checkpoint.$i%010d.$n%010d.parquet"))
      Tables.deleteRecursively(tmp)
    }
    writePart(rows.take(2).toSeq, 1, 2)
    writePart(rows.drop(2).toSeq, 2, 2)
    Files.delete(single)
    Files.delete(log.resolve(f"${0L}%020d.json"))
    assert(DeltaLogReader.read(spark, vt.root.toString, None)
      .select("k").as[Long].collect().sorted === Array(1L, 2L, 3L))
    // a group missing a part must be IGNORED, never half-read: with part 2
    // gone there is no usable checkpoint left at all, and the fully pruned
    // log refuses loudly instead of reconstructing a half-snapshot
    Files.delete(log.resolve(f"${0L}%020d.checkpoint.${2}%010d.${2}%010d.parquet"))
    val e = intercept[IllegalArgumentException](
      DeltaLogReader.read(spark, vt.root.toString, None))
    assert(e.getMessage.contains("no _delta_log commits"), e.getMessage)
  }

  test("exportDeltaLog checkpointInterval: periodic checkpoints make old JSON prunable") {
    val vt = VersionedTable.create(Tables.scratch("delta_cp_interval"))
    vt.write(Seq((0L, "r0")).toDF("k", "v"), "main", "v0")
    (1L to 12L).foreach(i =>
      vt.write(Seq((i, s"r$i")).toDF("k", "v"), "main", s"v$i", mode = "append"))
    vt.exportDeltaLog("main", checkpointInterval = Some(5))
    val log = vt.root.resolve("_delta_log")
    Seq(5L, 10L).foreach(v => assert(
      Files.exists(log.resolve(f"$v%020d.checkpoint.parquet")),
      s"expected a checkpoint at v$v"))
    assert(!Files.exists(log.resolve(f"${12L}%020d.checkpoint.parquet")),
      "no checkpoint off the interval")
    // idempotent: a re-export neither rewrites JSON nor re-checkpoints
    val mtime = Files.getLastModifiedTime(log.resolve(f"${10L}%020d.checkpoint.parquet"))
    vt.exportDeltaLog("main", checkpointInterval = Some(5))
    assert(Files.getLastModifiedTime(
      log.resolve(f"${10L}%020d.checkpoint.parquet")) === mtime)
    // prune everything the newest checkpoint covers: still fully readable
    (0L to 10L).foreach(v => Files.delete(log.resolve(f"$v%020d.json")))
    assert(DeltaLogReader.read(spark, vt.root.toString, None)
      .count() === 13L)
    assert(DeltaLogReader.read(spark, vt.root.toString, Some(10L)).count() === 11L)
    // an interval re-export over the pruned lineage re-materializes the
    // missing JSON from the native commit log (immutable commits make the
    // rewrite byte-consistent), so every eligible checkpoint — including
    // one whose file was lost — is writable again, and new ones land
    Files.delete(log.resolve(f"${5L}%020d.checkpoint.parquet"))
    (13L to 15L).foreach(i =>
      vt.write(Seq((i, s"r$i")).toDF("k", "v"), "main", s"v$i", mode = "append"))
    vt.exportDeltaLog("main", checkpointInterval = Some(5))
    Seq(5L, 15L).foreach(v => assert(
      Files.exists(log.resolve(f"$v%020d.checkpoint.parquet")),
      s"expected a (re)created checkpoint at v$v"))
    assert(Files.exists(log.resolve(f"${3L}%020d.json")),
      "pruned commit JSON re-materializes from the native lineage")
    assert(DeltaLogReader.read(spark, vt.root.toString, None).count() === 16L)
    assert(DeltaLogReader.read(spark, vt.root.toString, Some(7L)).count() === 8L)
  }

  test("writeCheckpoint partSize: complete multi-part group, bootstrapped after full pruning") {
    val vt = VersionedTable.create(Tables.scratch("delta_mp_write"))
    vt.write((1L to 60L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(6, col("k")), "main", "v0")
    vt.exportDeltaLog("main")
    DeltaLogWriter.writeCheckpoint(spark, vt.root.toString, 0L, partSize = Some(3))
    val log = vt.root.resolve("_delta_log")
    // 2 protocol/metaData rows + 6 adds = 8 rows → 3 parts of ≤3
    val parts = {
      val st = Files.list(log)
      try st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("""\d{20}\.checkpoint\.\d{10}\.\d{10}\.parquet""")).toVector.sorted
      finally st.close()
    }
    assert(parts.size === 3, s"expected 3 parts, got $parts")
    assert(parts.forall(_.endsWith(f".${3}%010d.parquet")), "every part names the group size")
    val lastCp = new String(Files.readAllBytes(log.resolve("_last_checkpoint")))
    assert(lastCp.contains("\"parts\":3"), lastCp)
    Files.delete(log.resolve(f"${0L}%020d.json"))
    assert(DeltaLogReader.read(spark, vt.root.toString, None)
      .select("k").as[Long].collect().sorted === (1L to 60L).toArray)
    // an incomplete group must be refused, never half-read
    Files.delete(log.resolve(parts(1)))
    val e = intercept[IllegalArgumentException](
      DeltaLogReader.read(spark, vt.root.toString, None))
    assert(e.getMessage.contains("no _delta_log commits"), e.getMessage)
  }

  test("checkpoint protocol is the log's own newest protocol action — CDF gate survives pruning") {
    val vt = VersionedTable.create(Tables.scratch("delta_cp_proto"))
    vt.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "main", "v0")
    vt.upsert(spark, Seq((2L, "B")).toDF("k", "v"), keyCols = Seq("k"))
    vt.exportDeltaLog("main", changeDataFeed = true)
    DeltaLogWriter.writeCheckpoint(spark, vt.root.toString, 1L)
    val log = vt.root.resolve("_delta_log")
    (0L to 1L).foreach(v => Files.delete(log.resolve(f"$v%020d.json")))
    val snap = DeltaLogReader.snapshot(vt.root.toString, None, Some(spark))
    assert(snap.configuration.get("delta.enableChangeDataFeed").contains("true"))
    val p = snap.protocol.getOrElse(fail("checkpoint must carry a protocol row"))
    assert(p.minWriter >= 4 || p.writerFeatures.exists(_.contains("changeDataFeed")),
      s"CDF-enabled table checkpointed with a protocol ($p) that no longer gates " +
        "CDF writers — a stock writer could commit without cdc files")
    // and the same through a DV lineage: the v7 writerFeatures keep changeDataFeed
    val vt2 = VersionedTable.create(Tables.scratch("delta_cp_proto_dv"))
    vt2.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), "main", "v0")
    vt2.deleteWithVectors(spark, "k = 2", "main")
    vt2.exportDeltaLog("main", changeDataFeed = true)
    DeltaLogWriter.writeCheckpoint(spark, vt2.root.toString, 1L)
    val log2 = vt2.root.resolve("_delta_log")
    (0L to 1L).foreach(v => Files.delete(log2.resolve(f"$v%020d.json")))
    val p2 = DeltaLogReader.snapshot(vt2.root.toString, None, Some(spark))
      .protocol.getOrElse(fail("checkpoint must carry a protocol row"))
    assert(p2.minReader === 3 &&
      p2.readerFeatures.exists(_.contains("deletionVectors")) &&
      p2.writerFeatures.exists(_.contains("changeDataFeed")), s"got $p2")
  }

  test("compaction exports as dataChange=false: CDF readers skip it, snapshots still track it") {
    import graft.streaming.ChangeFeed
    val vt = VersionedTable.create(Tables.scratch("delta_compact_cdf"))
    vt.write((1L to 50L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(4, col("k")), "main", "v0")
    vt.write(Seq((51L, "v51")).toDF("k", "v"), "main", "v1 append", mode = "append")
    vt.compact(spark, "main", numFiles = 2) // v2: rows identical, files rewritten
    vt.upsert(spark, Seq((1L, "V1")).toDF("k", "v"), keyCols = Seq("k")) // v3
    vt.exportDeltaLog("main", changeDataFeed = true)
    // v2's actions: adds+removes all dataChange=false, no cdc file
    val a2 = actions(vt.root, 2)
    val addRm2 = a2.filter(a => a.has("add") || a.has("remove"))
    assert(addRm2.nonEmpty && addRm2.forall { a =>
      val n = if (a.has("add")) a.get("add") else a.get("remove")
      !n.get("dataChange").asBoolean(true)
    }, "a row-preserving rewrite must export with dataChange=false")
    assert(!a2.exists(_.has("cdc")), "a restatement has no change data")
    // the real change versions keep dataChange=true + cdc where due
    assert(actions(vt.root, 3).exists(_.has("cdc")))
    // CDF read: the compaction contributes NOTHING; the upsert's changes and
    // the appends all survive
    val feed = DeltaLogReader.changes(spark, vt.root.toString, 0, 3)
    assert(feed.where($"_commit_version" === 2).count() === 0,
      "phantom inserts from a compaction would poison every CDF consumer")
    assert(feed.where($"_commit_version" === 3 && $"_change_type" === "insert")
      .select("v").as[String].collect() === Array("V1"))
    assert(feed.where($"_change_type" === "insert").count() === 52L) // 50 + 1 + upsert
    // snapshot reads still see the compacted file set at v2 and beyond
    assert(DeltaLogReader.read(spark, vt.root.toString, Some(2L)).count() === 51L)
    assert(DeltaLogReader.read(spark, vt.root.toString, Some(2L)).inputFiles.length === 2)
    // a tail over the lineage steps over the restatement and lands the rest
    val target = VersionedTable.create(Tables.scratch("delta_compact_tgt"))
    assert(ChangeFeed.tailFromDelta(spark, vt.root.toString, target,
      keyCols = Seq("k")) === 3, "v0, v1, v3 ship; the compaction is a no-op")
    assert(target.read(spark, "main").where($"k" === 1).select("v")
      .as[String].collect() === Array("V1"))
    assert(target.read(spark, "main").count() === 51L)
    // r19b: the commit log carries dataChange itself, so the restatement is
    // visible to NON-CDF exports too (a stock delta streaming reader then
    // skips the compaction instead of erroring on its removes) — and the
    // commitInfo names the operation OPTIMIZE
    val vtN = VersionedTable.create(Tables.scratch("delta_compact_nocdf"))
    vtN.write((1L to 20L).toDF("k").repartition(4), "main", "v0")
    vtN.compact(spark, "main", numFiles = 1)
    vtN.exportDeltaLog("main")
    val n1 = actions(vtN.root, 1).filter(a => a.has("add") || a.has("remove"))
    assert(n1.nonEmpty && n1.forall { a =>
      val n = if (a.has("add")) a.get("add") else a.get("remove")
      !n.get("dataChange").asBoolean(true)
    }, "non-CDF export must mark the flagged layout commit dataChange=false")
    assert(actions(vtN.root, 1).exists(a => a.has("commitInfo") &&
      a.get("commitInfo").get("operation").asText() == "OPTIMIZE"))
  }

  test("streaming epoch txn marks export as Delta transaction identifiers") {
    val vt = VersionedTable.create(Tables.scratch("delta_txn_export"))
    vt.write((1L to 10L).toDF("k"), "main", "v0")
    // a (no-op) streaming epoch commit stamped (appId, version)
    vt.commitStreamEpoch(spark, "main", Vector.empty,
      vt.read(spark, "main").schema, "stream batch 5", txn = Some(("qZ", 5L)))
    vt.exportDeltaLog("main")
    val a1 = actions(vt.root, 1)
    assert(a1.exists(a => a.has("txn") &&
      a.get("txn").get("appId").asText() == "qZ" &&
      a.get("txn").get("version").asLong() == 5L),
      "the epoch's txn mark must export as PROTOCOL.md's txn action")
    // the replayer steps over the txn action and the snapshot is intact
    assert(DeltaLogReader.read(spark, vt.root.toString, None).count() === 10L)
  }

  test("CDF export writes one cdc file per feed partition — no coalesce(1) funnel") {
    val vt = VersionedTable.create(Tables.scratch("delta_cdf_multi"))
    vt.write((1L to 400L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(4, col("k")), "main", "v0")
    vt.upsert(spark, (1L to 400L).map(k => (k, s"V$k")).toDF("k", "v"),
      keyCols = Seq("k"))
    // at test size AQE (correctly) coalesces the tiny feed to one partition;
    // disable coalescing so the writer's partition-per-file path is visible
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val saved = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      vt.exportDeltaLog("main", changeDataFeed = true)
    } finally spark.conf.set(coalesceKey, saved)
    val cdcs = actions(vt.root, 1).filter(_.has("cdc"))
      .map(_.get("cdc").get("path").asText())
    assert(cdcs.size >= 2,
      s"a multi-partition change set must emit multiple cdc files, got $cdcs")
    cdcs.foreach(p => assert(Files.exists(vt.root.resolve(p)), s"missing $p"))
    // the multi-file feed restates the native CDC losslessly
    val got = DeltaLogReader.changes(spark, vt.root.toString, 1, 1)
      .select("_change_type", "k", "v").as[(String, Long, String)].collect().sorted
    val want = vt.changesFeed(spark, "main", 0, 1)
      .select("change_type", "k", "v").as[(String, Long, String)].collect().sorted
    assert(got === want)
  }

  test("large MOR delete exports DVs distributively: u-flavor files, multi-task build") {
    val vt = VersionedTable.create(Tables.scratch("delta_dv_dist"))
    vt.write((1L to 20000L).map(k => (k, k % 7)).toDF("k", "m")
      .repartitionByRange(4, col("k")), "main", "v0")
    // ~17k MOR-deleted positions, >InlineDvMax in every one of the 4 files;
    // the delete builds the descriptors, the export copies them
    val taskCounts = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        taskCounts.add(s.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    try vt.deleteWithVectors(spark, "m != 0", "main")
    finally {
      // the listener bus is async; give it a moment to drain before detaching
      val deadline = System.currentTimeMillis() + 20000
      while (!taskCounts.asScala.exists(_ >= 2) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(taskCounts.asScala.exists(_ >= 2),
      "the DV descriptor build must run as a multi-task (distributed) stage — " +
        "a single-task build means positions funneled through one slot")
    vt.exportDeltaLog("main")
    val dvAdds = actions(vt.root, 1)
      .filter(a => a.has("add") && a.get("add").has("deletionVector"))
    assert(dvAdds.size === 4, "every file was MOR-touched")
    assert(dvAdds.forall(_.get("add").get("deletionVector")
        .get("storageType").asText() === "u"),
      "above-threshold DVs must be on-disk files (written in the task), not inline")
    assert(dvAdds.map(_.get("add").get("deletionVector").get("cardinality").asLong()).sum
      === (1L to 20000L).count(_ % 7 != 0).toLong)
    // replay equality with the native MOR read — positions round-trip exactly
    assert(DeltaLogReader.read(spark, vt.root.toString, Some(1L))
      .select("k").as[Long].collect().sorted ===
      vt.readVersion(spark, "main", 1).select("k").as[Long].collect().sorted)
  }

  test("vacuumExport keeps DV bins pinned by V2 checkpoints and sweeps orphan sidecars") {
    val vt = VersionedTable.create(Tables.scratch("delta_export_vacuum_v2"))
    vt.write((1L to 8000L).map(k => (k, k % 3)).toDF("k", "m")
      .repartitionByRange(2, col("k")), "main", "v0")
    vt.deleteWithVectors(spark, "m = 0", "main") // .bin DVs in the live snapshot
    vt.exportDeltaLog("main")
    DeltaLogWriter.writeCheckpointV2(spark, vt.root.toString, 1, sidecarPartSize = 1)
    val log = vt.root.resolve("_delta_log")
    // prune ALL commit JSON: the v2 checkpoint + sidecars are now the only
    // thing standing between the DV bins and the sweep
    Files.delete(log.resolve(f"${0L}%020d.json"))
    Files.delete(log.resolve(f"${1L}%020d.json"))
    // the export copies the table's own descriptors: their bins live in data/
    def dvBins = {
      val st = Files.list(vt.root.resolve("data"))
      try st.iterator().asScala.map(p => vt.root.relativize(p).toString)
        .filter(_.matches("""data/deletion_vector_.*\.bin""")).toVector
      finally st.close()
    }
    val liveBins = dvBins
    assert(liveBins.nonEmpty, "fixture needs file-based DVs")
    val sidecarDir = log.resolve("_sidecars")
    val liveSidecars = {
      val st = Files.list(sidecarDir)
      try st.iterator().asScala.map(_.getFileName.toString).toVector finally st.close()
    }
    // plant an orphan sidecar no manifest references
    val orphan = sidecarDir.resolve("99999999-dead-beef-0000-000000000000.parquet")
    Files.copy(sidecarDir.resolve(liveSidecars.head), orphan)
    val past = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * graft.vt.VersionedTable.DefaultStaleSlotMs)
    Files.setLastModifiedTime(orphan, past)
    liveBins.foreach(b => Files.setLastModifiedTime(vt.root.resolve(b), past))
    liveSidecars.foreach(s => Files.setLastModifiedTime(sidecarDir.resolve(s), past))
    assert(vt.vacuumDeltaExport(spark) === 1, "exactly the orphan sidecar goes")
    assert(!Files.exists(orphan))
    assert(dvBins.toSet === liveBins.toSet,
      "DV bins pinned only through the v2 checkpoint must survive the sweep")
    // and the pruned table still replays in full through the v2 bootstrap
    assert(DeltaLogReader.read(spark, vt.root.toString, None).count() ===
      (1L to 8000L).count(_ % 3 != 0).toLong)
  }

  test("vacuumExport reclaims unreferenced DV/cdc artifacts, keeps referenced ones, honors the age horizon") {
    import graft.vt.DeletionVectors
    val vt = VersionedTable.create(Tables.scratch("delta_export_vacuum"))
    vt.write((1L to 8000L).map(k => (k, k % 3)).toDF("k", "m")
      .repartitionByRange(2, col("k")), "main", "v0")
    // >InlineDvMax deleted positions per file, so the DVs land as .bin files
    vt.deleteWithVectors(spark, "m = 0", "main")
    vt.upsert(spark, Seq((1L, 9L)).toDF("k", "m"), keyCols = Seq("k"))
    vt.exportDeltaLog("main", changeDataFeed = true)
    // the export copies the table's own descriptors: their bins live in data/
    def dvBins = {
      val st = Files.list(vt.root.resolve("data"))
      try st.iterator().asScala.map(p => vt.root.relativize(p).toString)
        .filter(_.matches("""data/deletion_vector_.*\.bin""")).toVector
      finally st.close()
    }
    def cdcFiles = {
      val st = Files.list(vt.root.resolve("_change_data"))
      try st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toVector
      finally st.close()
    }
    val (liveBins, liveCdcs) = (dvBins, cdcFiles)
    assert(liveBins.nonEmpty && liveCdcs.nonEmpty, "fixture needs live artifacts")
    // plant orphans: a crashed export's top-level DV bin, cdc parquet, and
    // tmp dirs
    val orphanBin = DeletionVectors.dvFile(vt.root,
      DeletionVectors.writeDvFile(vt.root, Seq(1L, 2L, 3L))).get
    val orphanCdc = vt.root.resolve("_change_data").resolve(
      f"cdc-${99L}%020d-${0}%05d.parquet")
    Files.copy(vt.root.resolve("_change_data").resolve(liveCdcs.head), orphanCdc)
    val tmpDirs = Seq(vt.root.resolve("_change_data").resolve(".cdc_tmp_99"),
      vt.root.resolve("_delta_log").resolve(".checkpoint_tmp_99"))
    tmpDirs.foreach(Files.createDirectories(_))
    // too young: the in-flight-export horizon protects everything
    assert(vt.vacuumDeltaExport(spark) === 0)
    assert(Files.exists(orphanBin) && Files.exists(orphanCdc))
    // aged past the horizon: exactly the orphans go
    val past = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * graft.vt.VersionedTable.DefaultStaleSlotMs)
    (Seq(orphanBin, orphanCdc) ++ tmpDirs).foreach(Files.setLastModifiedTime(_, past))
    // age the LIVE artifacts too — reference, not age, must protect them
    liveBins.foreach(b => Files.setLastModifiedTime(vt.root.resolve(b), past))
    liveCdcs.foreach(c =>
      Files.setLastModifiedTime(vt.root.resolve("_change_data").resolve(c), past))
    assert(vt.vacuumDeltaExport(spark) === 4)
    assert(!Files.exists(orphanBin) && !Files.exists(orphanCdc))
    tmpDirs.foreach(d => assert(!Files.exists(d)))
    assert(dvBins.toSet === liveBins.toSet, "referenced DV bins must survive")
    assert(cdcFiles.toSet === liveCdcs.toSet, "referenced cdc files must survive")
    // the exported table still replays in full after the sweep
    assert(DeltaLogReader.read(spark, vt.root.toString, Some(1L)).count() ===
      (1L to 8000L).count(_ % 3 != 0).toLong)
    assert(DeltaLogReader.changes(spark, vt.root.toString, 2, 2).count() >= 1)
    // log retention: checkpoint the head and prune ALL commit JSON. The v2
    // upsert's one key lives in the first file, which (a third of its rows
    // dead) was rewritten; the second file holds no upserted key and was
    // carried with its vector. So the first file's DV bin and the cdc files
    // become genuinely unreferenced history — the export sweep reclaims the
    // cdc files, the table's own vacuum the bin (the table owns it), the bin
    // the checkpointed snapshot still references stays, and that snapshot
    // still reads in full (delta-spark's VACUUM retires aged _change_data
    // the same way)
    assert(liveBins.size === 2, "one DV bin per file")
    DeltaLogWriter.writeCheckpoint(spark, vt.root.toString, 2L)
    (0L to 2L).foreach(v =>
      Files.delete(vt.root.resolve("_delta_log").resolve(f"$v%020d.json")))
    assert(vt.vacuumDeltaExport(spark) === liveCdcs.size)
    vt.vacuum(retainLast = 1)
    assert(dvBins.size === 1 && liveBins.contains(dvBins.head) && cdcFiles.isEmpty)
    assert(DeltaLogReader.read(spark, vt.root.toString, None).count() ===
      (1L to 8000L).count(_ % 3 != 0).toLong)
  }

  test("RoaringBuilder streams to byte-identical output vs the batch serializer") {
    import graft.vt.DeletionVectors
    // spans array containers, a bitmap container, a high-key boundary, and
    // consecutive duplicates (multiple dv files restating a position)
    val positions: Seq[Long] =
      (0L until 6000L) ++ Seq(70000L, 70002L) ++
        ((1L << 33) to ((1L << 33) + 300L)) ++ Seq((1L << 34) + 9L)
    val batch = DeletionVectors.serialize(positions)
    val b = new DeletionVectors.RoaringBuilder
    positions.flatMap(p => Seq(p, p)).foreach(b.add) // duplicate every value
    assert(b.result() === batch)
    assert(b.cardinality === positions.distinct.size.toLong)
    assert(DeletionVectors.deserialize(batch) === positions.distinct.sorted.toVector)
    // out-of-order input is refused loudly, never silently misordered
    val b2 = new DeletionVectors.RoaringBuilder
    b2.add(10L)
    assertThrows[IllegalArgumentException](b2.add(5L))
    assertThrows[IllegalArgumentException]((new DeletionVectors.RoaringBuilder).add(-1L))
  }

  test("readWhere prunes files by exported stats before Spark lists them") {
    val vt = VersionedTable.create(Tables.scratch("delta_skip"))
    val data = (1L to 40L).map(k => (k, s"n$k")).toDF("k", "v")
    vt.write(data.repartitionByRange(4, col("k")), "main", "v0",
      statsCols = Seq("k"))
    vt.exportDeltaLog("main")
    val full = DeltaLogReader.read(spark, vt.root.toString, None)
    assert(full.inputFiles.length === 4, "fixture precondition: 4 data files")
    // a range inside one file's [min,max] must scan exactly that file
    val narrow = DeltaLogReader.readWhere(spark, vt.root.toString, "k", 12, 15)
    assert(narrow.inputFiles.length === 1,
      s"stats pruning should keep 1 of 4 files, kept ${narrow.inputFiles.length}")
    assert(narrow.select("k").as[Long].collect().sorted === (12L to 15L).toArray)
    // a range spanning file boundaries keeps only the touched files and
    // the residual filter stays exact
    val wide = DeltaLogReader.readWhere(spark, vt.root.toString, "k", 15, 25)
    assert(wide.inputFiles.length === 2,
      s"expected 2 of 4 files for a two-file span, kept ${wide.inputFiles.length}")
    assert(wide.select("k").as[Long].collect().sorted === (15L to 25L).toArray)
    // an impossible range reads nothing but keeps the schema
    val none = DeltaLogReader.readWhere(spark, vt.root.toString, "k", 900, 999)
    assert(none.inputFiles.isEmpty && none.count() === 0)
    assert(none.columns.toSeq === Seq("k", "v"))
    // a non-numeric column is refused loudly (a double cast on it would
    // null out and silently drop every row), as is a typo'd column name
    val e = intercept[IllegalArgumentException](
      DeltaLogReader.readWhere(spark, vt.root.toString, "v", 1, 2))
    assert(e.getMessage.contains("numeric"), e.getMessage)
    assertThrows[IllegalArgumentException](
      DeltaLogReader.readWhere(spark, vt.root.toString, "nope", 1, 2))
  }

  test("readWhereString prunes files by exported textual stats; type guard is loud") {
    val vt = VersionedTable.create(Tables.scratch("delta_skip_str"))
    val data = ('a' to 'z').zipWithIndex.map { case (c, i) => (i.toLong, s"${c}name") }
      .toDF("k", "name")
    vt.write(data.repartitionByRange(4, col("name")), "main", "v0",
      statsCols = Seq("name"))
    vt.exportDeltaLog("main")
    assert(DeltaLogReader.read(spark, vt.root.toString, None).inputFiles.length === 4)
    val narrow = DeltaLogReader.readWhereString(
      spark, vt.root.toString, "name", "ha", "kz")
    assert(narrow.inputFiles.length < 4, "textual stats should prune files")
    assert(narrow.select("name").as[String].collect().sorted ===
      Array("hname", "iname", "jname", "kname"))
    assertThrows[IllegalArgumentException](
      DeltaLogReader.readWhereString(spark, vt.root.toString, "k", "a", "b"))
  }

  test("changesByTimestamp resolves the CDF window like startingTimestamp/endingTimestamp") {
    val vt = VersionedTable.create(Tables.scratch("delta_cdf_ts"))
    val c0 = vt.write(Seq((1L, "a")).toDF("k", "v"), "main", "v0")
    while (System.currentTimeMillis() <= c0.ts) Thread.sleep(1)
    val c1 = vt.write(Seq((2L, "b")).toDF("k", "v"), "main", "v1", mode = "append")
    while (System.currentTimeMillis() <= c1.ts) Thread.sleep(1)
    val c2 = vt.write(Seq((3L, "c")).toDF("k", "v"), "main", "v2", mode = "append")
    vt.exportDeltaLog("main")
    def vs(from: Long, to: Long): Seq[Long] =
      DeltaLogReader.changesByTimestamp(spark, vt.root.toString, from, to)
        .select("_commit_version").distinct().as[Long].collect().sorted.toSeq
    assert(vs(c0.ts, c2.ts) === Seq(0L, 1L, 2L))
    assert(vs(c1.ts, c2.ts) === Seq(1L, 2L))
    // a from-timestamp strictly between commits rounds FORWARD (the next
    // version), an end-timestamp rounds BACKWARD — delta's CDF rule
    assert(vs(c0.ts + 1, c2.ts - 1) === Seq(1L))
    assertThrows[IllegalArgumentException](
      DeltaLogReader.changesByTimestamp(spark, vt.root.toString,
        c2.ts + 100000, c2.ts + 200000))
  }

  // ---- checkpoints --------------------------------------------------------

  test("checkpoint bootstrap: versions resolve after pre-checkpoint JSON is pruned") {
    val vt = exportedTable("ckpt")
    DeltaLogWriter.writeCheckpoint(spark, vt.root.toString, 1L)
    val log = vt.root.resolve("_delta_log")
    assert(Files.exists(log.resolve(f"${1L}%020d.checkpoint.parquet")))
    val lc = mapper.readTree(new String(Files.readAllBytes(log.resolve("_last_checkpoint"))))
    assert(lc.get("version").asLong() === 1L)
    // delta-spark's log retention: aged JSON commits are deleted, the
    // checkpoint alone carries the early state
    Files.delete(log.resolve(f"${0L}%020d.json"))
    Files.delete(log.resolve(f"${1L}%020d.json"))
    // v1 = pure checkpoint state; v2 = checkpoint + JSON suffix
    assert(DeltaLogReader.read(spark, vt.root.toString, Some(1L))
      .select("k").as[Long].collect().sorted === Array(1L, 2L, 3L))
    assert(DeltaLogReader.read(spark, vt.root.toString, Some(2L))
      .select("k").as[Long].collect().sorted === Array(1L, 9L))
    assert(DeltaLogReader.read(spark, vt.root.toString, None).columns.contains("score"),
      "schema must come from the JSON suffix's newer metaData")
    // v0 predates the checkpoint and its JSON is gone: loud refusal
    val e = intercept[IllegalArgumentException](
      DeltaLogReader.read(spark, vt.root.toString, Some(0L)))
    assert(e.getMessage.contains("checkpoint"))
    // the spark-free snapshot overload cannot read a checkpoint: loud, not wrong
    val e2 = intercept[IllegalArgumentException](
      DeltaLogReader.snapshot(vt.root.toString, Some(1L)))
    assert(e2.getMessage.contains("SparkSession"))
  }

  test("checkpoint at the head: a fully pruned JSON log still reads latest") {
    val vt = exportedTable("ckpt_head")
    DeltaLogWriter.writeCheckpoint(spark, vt.root.toString, 2L)
    val log = vt.root.resolve("_delta_log")
    (0L to 2L).foreach(v => Files.delete(log.resolve(f"$v%020d.json")))
    assert(DeltaLogReader.latestVersion(vt.root.toString) === 2)
    val got = DeltaLogReader.read(spark, vt.root.toString, None)
    assert(got.columns.toSeq === Seq("k", "v", "score"))
    assert(got.select("k").as[Long].collect().sorted === Array(1L, 9L))
  }

  // ---- deletion vectors (protocol v3 readerFeature) -----------------------

  test("Roaring/Z85 codec: byte-level pin, round-trips across container kinds, run containers") {
    import graft.vt.DeletionVectors
    // byte-level pin vs an independently hand-computed serialization of
    // {1, 3} (magic 1681511377 LE · 1 bitmap · key 0 · no-run cookie 12346 ·
    // 1 container · key 0 card-1=1 · offset 16 · values 1,3) — guards
    // against a symmetric writer/reader bug that a pure round-trip hides
    val pinned = "d1d339640100000000000000000000003a30000001000000000001001000000001000300"
    assert(DeletionVectors.serialize(Seq(1L, 3L)).map("%02x".format(_)).mkString === pinned)
    // round-trips: array container, bitmap container (>4096 values in one
    // 2^16 chunk), multi-chunk, and >2^32 positions (second high-32 key)
    val cases = Seq[Seq[Long]](
      Seq(1L, 3L),
      (0L until 5000L).map(_ * 2),                   // bitmap container
      Seq(5L, 70000L, 130000L),                      // three 16-bit chunks
      Seq(7L, (1L << 32) + 9L, (1L << 33) + 1L))     // three high keys
    cases.foreach { ps =>
      val got = DeletionVectors.deserialize(DeletionVectors.serialize(ps))
      assert(got === ps.distinct.sorted.toVector, s"round-trip failed for $ps")
    }
    // run-container layout (delta-spark compacts dense DVs to runs): cookie
    // 12347, 1 container flagged as run, run [2, +3] → {2,3,4,5}
    val runBytes = Array[Int](
      0xd1, 0xd3, 0x39, 0x64, 1, 0, 0, 0, 0, 0, 0, 0, // magic + 1 bitmap
      0, 0, 0, 0, // high key 0
      0x3b, 0x30, 0x00, 0x00, // cookie 12347, (count-1)=0 in upper 16
      0x01, // run-flag bitset: container 0 is a run
      0x00, 0x00, 0x03, 0x00, // key 0, card-1 = 3
      0x01, 0x00, 0x02, 0x00, 0x03, 0x00 // 1 run: start 2, len-1 3
    ).map(_.toByte)
    assert(DeletionVectors.deserialize(runBytes) === Vector(2L, 3L, 4L, 5L))
    // Z85 known vector (ZeroMQ spec test case)
    assert(DeletionVectors.z85Encode(
      Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b).map(_.toByte)) === "HelloWorld")
    assert(DeletionVectors.z85Decode("HelloWorld", 8) ===
      Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b).map(_.toByte))
  }

  test("inline deletion vector: MOR-deleted positions filtered; add/remove in one commit reconcile") {
    import graft.vt.DeletionVectors
    val root = freshRoot("dv_inline")
    val df = Seq((0, "r0"), (1, "r1"), (2, "r2"), (3, "r3"), (4, "r4")).toDF("k", "v")
    val (fa, sa) = F.writeDataFile(root, df.orderBy("k").coalesce(1), "data")
    F.writeCommit(root, 0, Seq(F.protocolV3Line(Seq("deletionVectors")),
      F.metaDataLine(df.schema.json, Nil), F.addLine(fa, sa)))
    // v1 = delete rows at positions 1 and 3 merge-on-read: delta-spark emits
    // add (same path, new DV) + remove (old add) in ONE commit — order
    // within the commit must not matter (actions reconcile atomically),
    // so the fixture deliberately puts the add FIRST
    val dv = DeletionVectors.inlineDescriptor(Seq(1L, 3L))
    F.writeCommit(root, 1, Seq(F.addLineWithDv(fa, sa, dv), F.removeLine(fa)))
    assert(DeltaLogReader.read(spark, root.toString, Some(0L))
      .select("k").as[Int].collect().sorted === Array(0, 1, 2, 3, 4))
    assert(DeltaLogReader.read(spark, root.toString, Some(1L))
      .select("k").as[Int].collect().sorted === Array(0, 2, 4),
      "DV positions 1 and 3 must be filtered out at v1")
    assert(DeltaLogReader.read(spark, root.toString, Some(1L))
      .select("v").as[String].collect().sorted === Array("r0", "r2", "r4"))
  }

  test("DV replay: adds in different subdirs sharing a last-two-segment key stay per-file") {
    import graft.vt.DeletionVectors
    val root = freshRoot("dv_key_collision")
    Files.createDirectories(root.resolve("x/a"))
    Files.createDirectories(root.resolve("y/a"))
    val dfx = Seq((0, "x0"), (1, "x1"), (2, "x2"), (3, "x3"), (4, "x4")).toDF("k", "v")
    val dfy = Seq((0, "y0"), (1, "y1"), (2, "y2"), (3, "y3"), (4, "y4")).toDF("k", "v")
    // both paths end in a/part-0.parquet — the grouped-scan key would
    // collide, letting one file's DV delete the other's rows
    val (fa, sa) = F.writeDataFile(root, dfx.orderBy("k").coalesce(1), "x/a/part-0")
    val (fb, sb) = F.writeDataFile(root, dfy.orderBy("k").coalesce(1), "y/a/part-0")
    val dva = DeletionVectors.inlineDescriptor(Seq(0L))       // drops x0
    val dvb = DeletionVectors.inlineDescriptor(Seq(3L, 4L))   // drops y3, y4
    F.writeCommit(root, 0, Seq(F.protocolV3Line(Seq("deletionVectors")),
      F.metaDataLine(dfx.schema.json, Nil),
      F.addLineWithDv(fa, sa, dva), F.addLineWithDv(fb, sb, dvb)))
    assert(DeltaLogReader.read(spark, root.toString, None)
      .select("v").as[String].collect().sorted ===
      Array("x1", "x2", "x3", "x4", "y0", "y1", "y2"),
      "each file must be filtered by ITS OWN deletion vector only")
  }

  test("DV replay: partitioned adds with colliding keys and odd file names read row-exact") {
    import graft.vt.DeletionVectors
    val root = freshRoot("dv_part_odd")
    Seq("a=1/b=2", "a=2/b=2", "a=1/b=3", "a=2/b=3").foreach(d =>
      Files.createDirectories(root.resolve(d)))
    def file(rel: String, ks: Seq[Long]) =
      F.writeDataFile(root, ks.toDF("k").orderBy("k").coalesce(1), rel)._2
    // a=1/b=2/part-0 and a=2/b=2/part-0 share their last two path segments;
    // the third file's name carries a space and a '%' (percent-encoded in
    // the add path, as the protocol requires)
    val s1 = file("a=1/b=2/part-0", Seq(10L, 11L, 12L, 13L))
    val s2 = file("a=2/b=2/part-0", Seq(20L, 21L, 22L, 23L))
    val s3 = file("a=1/b=3/part 1%", Seq(30L, 31L, 32L, 33L))
    // the fourth add path carries a `./` segment, which Spark's file path
    // does not: the vector must still find its file
    val s4 = file("a=2/b=3/part-0", Seq(40L, 41L, 42L))
    def add(path: String, size: Long, a: Int, b: Int, deleted: Long*) =
      F.addLine(path, size, Map("a" -> a.toString, "b" -> b.toString),
        dv = Some(DeletionVectors.inlineDescriptor(deleted)))
    val schema = Seq((0L, 0, 0)).toDF("k", "a", "b").schema
    F.writeCommit(root, 0, Seq(F.protocolV3Line(Seq("deletionVectors")),
      F.metaDataLine(schema.json, Seq("a", "b")),
      add("a=1/b=2/part-0.parquet", s1, 1, 2, 0L),
      add("a=2/b=2/part-0.parquet", s2, 2, 2, 3L),
      add("a=1/b=3/part%201%25.parquet", s3, 1, 3, 1L, 2L),
      add("./a=2/b=3/part-0.parquet", s4, 2, 3, 0L, 2L)))
    val want = Seq((11L, 1, 2), (12L, 1, 2), (13L, 1, 2), (20L, 2, 2), (21L, 2, 2),
      (22L, 2, 2), (30L, 1, 3), (33L, 1, 3), (41L, 2, 3))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "a", "b").as[(Long, Int, Int)].collect().toSeq.sorted
    assert(rows(DeltaLogReader.read(spark, root.toString)) === want,
      "each file must lose exactly the positions of ITS OWN vector")
    assert(rows(spark.read.format("delta-lite").option("path", root.toString).load()
      .where($"a" === 1)) === want.filter(_._2 == 1))
    assert(rows(spark.read.format("delta-lite").option("path", root.toString).load()
      .where($"b" === 3)) === want.filter(_._3 == 3))
  }

  test("file-based (u) deletion vector: uuid path resolution, CRC verified, corruption loud") {
    import graft.vt.DeletionVectors
    val root = freshRoot("dv_file")
    val df = Seq((0, "a"), (1, "b"), (2, "c"), (3, "d")).toDF("k", "v")
    val (fa, sa) = F.writeDataFile(root, df.orderBy("k").coalesce(1), "data")
    val dv = DeletionVectors.writeDvFile(root, Seq(0L, 2L))
    assert(dv.storageType === "u" && dv.cardinality === 2L)
    F.writeCommit(root, 0, Seq(F.protocolV3Line(Seq("deletionVectors")),
      F.metaDataLine(df.schema.json, Nil), F.addLineWithDv(fa, sa, dv)))
    assert(DeltaLogReader.read(spark, root.toString, None)
      .select("k").as[Int].collect().sorted === Array(1, 3))
    // flip one payload byte in the DV file: the CRC check must refuse
    // rather than silently resurrect (or over-delete) rows
    val dvFile = Files.list(root).iterator().asScala
      .find(_.getFileName.toString.startsWith("deletion_vector_")).get
    val bytes = Files.readAllBytes(dvFile)
    bytes(7) = (bytes(7) ^ 0x1).toByte // inside the serialized bitmap
    Files.write(dvFile, bytes)
    // the vector is decoded by the task that reads its file, so Spark
    // reports the refusal as the cause of the failed job
    val e = intercept[org.apache.spark.SparkException](
      DeltaLogReader.read(spark, root.toString, None).collect())
    val refusal = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case iae: IllegalArgumentException => iae }
    assert(refusal.exists(_.getMessage.contains("checksum")), s"no checksum refusal in $e")
  }

  test("reader-feature gate: deletionVectors accepted, unknown v3 features refused") {
    val root = freshRoot("dv_gate")
    val df = Seq((1, "a")).toDF("k", "v")
    val (fa, sa) = F.writeDataFile(root, df, "a")
    F.writeCommit(root, 0, Seq(
      F.protocolV3Line(Seq("deletionVectors", "typeWidening")),
      F.metaDataLine(df.schema.json, Nil), F.addLine(fa, sa)))
    val e = intercept[IllegalArgumentException](
      DeltaLogReader.read(spark, root.toString, None))
    assert(e.getMessage.contains("typeWidening"), e.getMessage)
    // deletion vectors survive a checkpoint: descriptors are carried in the
    // checkpoint rows (dropping one would resurrect deleted rows the moment
    // the pre-checkpoint JSON is pruned), and the checkpoint's protocol row
    // declares readerFeatures so the bootstrap's gate still applies
    val root2 = freshRoot("dv_ckpt")
    val dfb = Seq((0, "a"), (1, "b"), (2, "c")).toDF("k", "v")
    val (fb, sb) = F.writeDataFile(root2, dfb.orderBy("k").coalesce(1), "b")
    val dv = graft.vt.DeletionVectors.inlineDescriptor(Seq(1L))
    F.writeCommit(root2, 0, Seq(F.protocolV3Line(Seq("deletionVectors")),
      F.metaDataLine(dfb.schema.json, Nil), F.addLineWithDv(fb, sb, dv)))
    DeltaLogWriter.writeCheckpoint(spark, root2.toString, 0L)
    Files.delete(root2.resolve("_delta_log").resolve(f"${0L}%020d.json"))
    assert(DeltaLogReader.read(spark, root2.toString, None)
      .select("k").as[Int].collect().sorted === Array(0, 2),
      "the checkpointed DV must still filter position 1 after JSON pruning")
  }

  test("reader features beyond protocol v1 and log gaps are refused loudly") {
    val root = freshRoot("refuse")
    val df = Seq((1, "a")).toDF("k", "v")
    val (fa, sa) = F.writeDataFile(root, df, "a")
    F.writeCommit(root, 0, Seq(F.protocolLine(minReader = 3, minWriter = 7),
      F.metaDataLine(df.schema.json, Nil), F.addLine(fa, sa)))
    val e = intercept[IllegalArgumentException](
      DeltaLogReader.read(spark, root.toString, None))
    assert(e.getMessage.contains("minReaderVersion"))
    // gap: versions 0 and 2 present, 1 missing
    val root2 = freshRoot("gap")
    val (fb, sb) = F.writeDataFile(root2, df, "b")
    F.writeCommit(root2, 0, Seq(F.protocolLine(), F.metaDataLine(df.schema.json, Nil),
      F.addLine(fb, sb)))
    F.writeCommit(root2, 2, Seq(F.removeLine(fb)))
    val e2 = intercept[IllegalArgumentException](
      DeltaLogReader.read(spark, root2.toString, Some(2)))
    assert(e2.getMessage.contains("gaps"))
    // percent-encoded path in the log resolves to the on-disk file
    val root3 = freshRoot("encoded")
    val (fc, sc) = F.writeDataFile(root3, df, "with space")
    assert(fc === "with space.parquet")
    F.writeCommit(root3, 0, Seq(F.protocolLine(), F.metaDataLine(df.schema.json, Nil),
      F.addLine("with%20space.parquet", sc)))
    assert(DeltaLogReader.read(spark, root3.toString, None).count() === 1)
  }

  private val CmapConfig = Map(
    "delta.columnMapping.mode" -> "name", "delta.columnMapping.maxColumnId" -> "9")

  test("column mapping (name mode): physical file columns read back under logical names") {
    val root = freshRoot("cmap")
    // parquet carries ONLY physical names; logical names live in the log
    val physDf = Seq((1, "a"), (2, "b"), (3, "c")).toDF("col-k9f2", "col-v7a1")
    val (fa, sa) = F.writeDataFile(root, physDf.where($"`col-k9f2`" <= 2), "pa")
    val (fb, sb) = F.writeDataFile(root, physDf.where($"`col-k9f2`" === 3), "pb")
    val logical = Seq((1, "a")).toDF("k", "v").schema
    val mappedSchema = F.columnMappedSchema(logical,
      Map("k" -> "col-k9f2", "v" -> "col-v7a1"))
    F.writeCommit(root, 0, Seq(F.protocolLine(minReader = 2, minWriter = 5),
      F.metaDataLine(mappedSchema.json, Nil, CmapConfig), F.addLine(fa, sa)))
    F.writeCommit(root, 1, Seq(F.addLine(fb, sb)))
    val got = DeltaLogReader.read(spark, root.toString, None)
    assert(got.columns.toSeq === Seq("k", "v"), "logical names, not physical")
    assert(got.select("k", "v").as[(Int, String)].collect().sortBy(_._1) ===
      Array((1, "a"), (2, "b"), (3, "c")))
    assert(DeltaLogReader.read(spark, root.toString, Some(0))
      .select("k").as[Int].collect().sorted === Array(1, 2))
    // filters against logical names still reach the scan
    assert(got.where($"k" === 2).select("v").as[String].collect() === Array("b"))
  }

  test("column mapping: physical partitionValues keys and nested struct renames") {
    val root = freshRoot("cmap_part")
    // files carry the physical data column; `part` exists in the log alone,
    // its partitionValues key is the PHYSICAL name (the spec's rule)
    val physDf = Seq(17, 23).toDF("col-amt")
    val (fx, sx) = F.writeDataFile(root, physDf.where($"`col-amt`" === 17), "px")
    val (fy, sy) = F.writeDataFile(root, physDf.where($"`col-amt`" === 23), "py")
    val logical = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("amt",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("part",
        org.apache.spark.sql.types.StringType)))
    val mappedSchema = F.columnMappedSchema(logical,
      Map("amt" -> "col-amt", "part" -> "col-part"))
    F.writeCommit(root, 0, Seq(F.protocolLine(minReader = 2, minWriter = 5),
      F.metaDataLine(mappedSchema.json, Seq("part"), CmapConfig),
      F.addLine(fx, sx, Map("col-part" -> "x")),
      F.addLine(fy, sy, Map("col-part" -> "y"))))
    val got = DeltaLogReader.read(spark, root.toString, None)
    assert(got.columns.toSeq === Seq("amt", "part"))
    assert(got.as[(Int, String)].collect().sortBy(_._1) ===
      Array((17, "x"), (23, "y")))

    // nested struct fields rename too (positional cast)
    val root2 = freshRoot("cmap_nested")
    val physNested = Seq((1, (10, "x")), (2, (20, "y")))
      .toDF("col-k", "col-s")
      .select($"`col-k`", $"`col-s`".cast("struct<`col-a`:int,`col-b`:string>"))
    val (fn, sn) = F.writeDataFile(root2, physNested, "pn")
    val inner = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("b",
        org.apache.spark.sql.types.StringType)))
    val logical2 = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("s", inner)))
    val mapped2 = F.columnMappedSchema(logical2,
      Map("k" -> "col-k", "s" -> "col-s", "a" -> "col-a", "b" -> "col-b"))
    F.writeCommit(root2, 0, Seq(F.protocolLine(minReader = 2, minWriter = 5),
      F.metaDataLine(mapped2.json, Nil, CmapConfig), F.addLine(fn, sn)))
    val got2 = DeltaLogReader.read(spark, root2.toString, None)
    assert(got2.schema("s").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq === Seq("a", "b"), "nested fields renamed to logical")
    assert(got2.select($"k", $"s.a", $"s.b").as[(Int, Int, String)]
      .collect().sortBy(_._1) === Array((1, 10, "x"), (2, 20, "y")))
  }

  test("column mapping (id mode): parquet field ids drive the read, names do not") {
    // the TRAP: the file's physical column NAMES are swapped relative to
    // what the log's physicalName metadata claims, while the field IDS are
    // authoritative. Matching by (physical) name would bind logical `x` to
    // file column "col-a" (a string); matching by id binds it to id 1 =
    // file column "col-b" (the int 7). Only an id-driven read survives.
    val root = freshRoot("cmap_id")
    val df = Seq((7, "seven")).toDF("x", "y")
    val fileDf = F.physicalWithIds(df,
      phys = Map("x" -> "col-b", "y" -> "col-a"),
      ids = Map("x" -> 1L, "y" -> 2L))
    val (fa, sa) = F.writeDataFile(root, fileDf, "pa")
    val mappedSchema = F.columnMappedSchema(df.schema,
      Map("x" -> "col-a", "y" -> "col-b"), // stale names; ids are the truth
      Map("x" -> 1L, "y" -> 2L))
    F.writeCommit(root, 0, Seq(F.protocolLine(minReader = 2, minWriter = 5),
      F.metaDataLine(mappedSchema.json, Nil,
        Map("delta.columnMapping.mode" -> "id",
          "delta.columnMapping.maxColumnId" -> "2")),
      F.addLine(fa, sa)))
    val got = DeltaLogReader.read(spark, root.toString, None)
    assert(got.columns.toSeq === Seq("x", "y"))
    assert(got.as[(Int, String)].collect() === Array((7, "seven")),
      "id mode must bind columns by parquet field id, not by physical name")
    // a mapped field WITHOUT an id is refused loudly — falling back to name
    // matching is exactly the wrong-column hazard above
    val root2 = freshRoot("cmap_id_missing")
    val (fm, sm) = F.writeDataFile(root2, fileDf, "pm")
    val noIds = org.apache.spark.sql.types.StructType(df.schema.fields.map { f =>
      val meta = new org.apache.spark.sql.types.MetadataBuilder()
        .putString("delta.columnMapping.physicalName", "col-" + f.name).build()
      f.copy(metadata = meta)
    })
    F.writeCommit(root2, 0, Seq(F.protocolLine(minReader = 2, minWriter = 5),
      F.metaDataLine(noIds.json, Nil, Map("delta.columnMapping.mode" -> "id")),
      F.addLine(fm, sm)))
    val e = intercept[IllegalArgumentException](
      DeltaLogReader.read(spark, root2.toString, None))
    assert(e.getMessage.contains("delta.columnMapping.id"), e.getMessage)
  }

  test("column mapping (id mode): NESTED struct fields bind by field id too") {
    import org.apache.spark.sql.types._
    val root = freshRoot("cmap_id_nested")
    val df = Seq((1, (10L, "ten")), (2, (20L, "twenty"))).toDF("k", "s")
    // file: physical names everywhere, nested ids 3 (s.amt) and 4 (s.label)
    val fileDf = df.select(
      col("k").as("col-k", new MetadataBuilder().putLong("parquet.field.id", 1L).build()),
      struct(
        col("s._1").as("col-amt", new MetadataBuilder().putLong("parquet.field.id", 3L).build()),
        col("s._2").as("col-lbl", new MetadataBuilder().putLong("parquet.field.id", 4L).build())
      ).as("col-s", new MetadataBuilder().putLong("parquet.field.id", 2L).build()))
    val (fa, sa) = F.writeDataFile(root, fileDf, "pn")
    def field(name: String, dt: DataType, phys: String, id: Long) =
      StructField(name, dt, nullable = true, new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", phys)
        .putLong("delta.columnMapping.id", id).build())
    val logical = StructType(Seq(
      field("k", IntegerType, "col-k", 1L),
      field("s", StructType(Seq(
        field("amt", LongType, "col-amt", 3L),
        field("label", StringType, "col-lbl", 4L))), "col-s", 2L)))
    F.writeCommit(root, 0, Seq(F.protocolLine(minReader = 2, minWriter = 5),
      F.metaDataLine(logical.json, Nil,
        Map("delta.columnMapping.mode" -> "id",
          "delta.columnMapping.maxColumnId" -> "4")),
      F.addLine(fa, sa)))
    val got = DeltaLogReader.read(spark, root.toString, None)
    assert(got.columns.toSeq === Seq("k", "s"))
    assert(got.selectExpr("k", "s.amt", "s.label").as[(Int, Long, String)]
      .collect().sortBy(_._1) === Array((1, 10L, "ten"), (2, 20L, "twenty")))
  }

  test("column mapping: config survives a checkpoint") {
    val physDf = Seq((1, "a")).toDF("col-k", "col-v")
    val mappedSchema = F.columnMappedSchema(Seq((1, "a")).toDF("k", "v").schema,
      Map("k" -> "col-k", "v" -> "col-v"))
    // checkpoint a name-mode table, prune its JSON: the bootstrap must carry
    // the configuration — otherwise physical columns would surface as-is
    val root2 = freshRoot("cmap_ckpt")
    val (fb, sb) = F.writeDataFile(root2, physDf, "pb")
    F.writeCommit(root2, 0, Seq(F.protocolLine(minReader = 2, minWriter = 5),
      F.metaDataLine(mappedSchema.json, Nil, CmapConfig), F.addLine(fb, sb)))
    DeltaLogWriter.writeCheckpoint(spark, root2.toString, 0L)
    Files.delete(root2.resolve("_delta_log").resolve(f"${0L}%020d.json"))
    val got = DeltaLogReader.read(spark, root2.toString, None)
    assert(got.columns.toSeq === Seq("k", "v"),
      "checkpoint bootstrap must preserve delta.columnMapping.mode")
    assert(got.as[(Int, String)].collect() === Array((1, "a")))
  }
}

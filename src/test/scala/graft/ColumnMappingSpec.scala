package graft

import org.apache.spark.sql.functions._

import graft.vt.VersionedTable

/** r20 column mapping: RENAME/DROP COLUMN as metadata-only commits (Delta's
  * name mode re-expressed through StructField metadata in the commit-pinned
  * schema). Zero files rewritten; reads re-alias positionally; stats/bloom
  * skipping survives; dropped bytes are unreachable by construction. */
class ColumnMappingSpec extends SparkSpec {
  import spark.implicits._

  test("RENAME COLUMN: metadata-only, reads/time-travel/stats/appends/DML all follow") {
    val vt = VersionedTable.create(Tables.scratch("cmap_rename"))
    def part(lo: Int) = (lo until lo + 50).map(i => (i.toLong, s"u$i"))
      .toDF("id", "owner").coalesce(1)
    vt.write(part(0), "main", "v0", statsCols = Seq("id", "owner"))
    vt.write(part(100), "main", "v1", mode = "append", statsCols = Seq("id", "owner"))
    val before = vt.head("main").get

    val c = vt.renameColumn(spark, "main", "id", "doc_id")
    // metadata-only: same files, zero rewrites, dataChange=false
    assert(c.files === before.files && !c.dataChange)
    // reads see the new logical name with the same values
    val head = vt.read(spark, "main")
    assert(head.columns.toSeq === Seq("doc_id", "owner"))
    assert(head.agg(sum($"doc_id")).head.getLong(0) ===
      ((0L until 50L) ++ (100L until 150L)).sum)
    // old version still speaks the OLD name (pinned schema)
    assert(vt.readVersion(spark, "main", 1).columns.toSeq === Seq("id", "owner"))
    // stats were re-keyed: pruning on the NEW name still skips files
    assert(vt.readWhere(spark, "main", "doc_id", 100.0, 110.0).inputFiles.length === 1)
    // filters on the new name push through the aliasing into the scan
    assert(head.where($"doc_id" === 120L).select($"owner").as[String].head() === "u120")

    // appends keep working: logical frame in, physical bytes out
    vt.write(Seq((500L, "u500")).toDF("doc_id", "owner").coalesce(1), "main",
      "a", mode = "append", statsCols = Seq("doc_id"))
    assert(vt.read(spark, "main").count() === 101)
    assert(vt.readWhere(spark, "main", "doc_id", 499.0, 501.0).inputFiles.length === 1)
    // COW DML against the new name
    vt.delete(spark, "doc_id >= 100 AND doc_id < 150")
    assert(vt.read(spark, "main").count() === 51)
    vt.update(spark, "doc_id = 500", Map("owner" -> "'renamed'"))
    assert(vt.read(spark, "main").where($"doc_id" === 500)
      .select($"owner").as[String].head() === "renamed")
    // metadata COUNT still resolves from the log
    assert(vt.countRows(spark) === 51)
  }

  test("RENAME COLUMN: bloom sidecars survive (physical keys), probes on the new name prune") {
    val vt = VersionedTable.create(Tables.scratch("cmap_bloom"))
    def part(r: Int) = (0 until 40).map(i => ((i * 3 + r) * 1000001L, i.toLong))
      .toDF("id", "v").coalesce(1)
    vt.write(part(0), "main", "v0", bloomCols = Seq("id"))
    vt.write(part(1), "main", "v1", mode = "append", bloomCols = Seq("id"))
    vt.write(part(2), "main", "v2", mode = "append", bloomCols = Seq("id"))
    vt.renameColumn(spark, "main", "id", "key")
    assert(vt.head("main").get.bloomCols === Seq("key"))
    // a point probe on the renamed column still skips to one file
    val probed = vt.read(spark, "main").where($"key" === 3000003L)
    val rel = graft.sources.ReplayRelation.native(
      spark.sqlContext, vt, vt.head("main").get)
    val plan = rel.scanPlan(Array("key", "v"),
      Array(org.apache.spark.sql.sources.EqualTo("key", 3000003L)))
    assert(plan.inputFiles.length === 1, "bloom probe must prune through the rename")
    assert(probed.count() === 1)
  }

  test("DROP COLUMN: bytes unreachable, re-added name reads NULL, old versions intact") {
    val vt = VersionedTable.create(Tables.scratch("cmap_drop"))
    vt.write((1 to 20).map(i => (i.toLong, s"secret$i", i * 2))
      .toDF("k", "payload", "v").coalesce(1), "main", "v0",
      statsCols = Seq("k", "payload"))
    val c = vt.dropColumn(spark, "main", "payload")
    assert(c.files === vt.lineage("main").last.files && !c.dataChange)
    val head = vt.read(spark, "main")
    assert(head.columns.toSeq === Seq("k", "v"))
    // time travel still sees the dropped column
    assert(vt.readVersion(spark, "main", 0).select("payload").count() === 20)
    // the dropped column's stats were purged
    assert(!vt.head("main").get.strStats.values.exists(_.contains("payload")))
    // re-adding the NAME yields a fresh column: old bytes must NOT resurrect
    vt.addColumns("main", Seq(org.apache.spark.sql.types.StructField("payload",
      org.apache.spark.sql.types.StringType, nullable = true)))
    val readded = vt.read(spark, "main")
    assert(readded.where($"payload".isNotNull).count() === 0,
      "re-added column must read NULL, never the dropped bytes")
    // and writes to the re-added column land under its fresh physical name
    vt.write(Seq((99L, 0, "new")).toDF("k", "v", "payload").coalesce(1),
      "main", "a", mode = "append")
    assert(vt.read(spark, "main").where($"payload" === "new").count() === 1)
    assert(vt.read(spark, "main").where($"payload".isNotNull).count() === 1)
  }

  test("rename+drop compose; constraints refuse; last column protected") {
    val vt = VersionedTable.create(Tables.scratch("cmap_guard"))
    vt.write(Seq((1L, "a", 2.0)).toDF("x", "y", "z").coalesce(1), "main", "v0")
    vt.addCheckConstraint(spark, "main", "pos_x", "x > 0")
    val e1 = intercept[IllegalArgumentException](
      vt.renameColumn(spark, "main", "x", "xx"))
    assert(e1.getMessage.contains("pos_x"))
    val e2 = intercept[IllegalArgumentException](
      vt.dropColumn(spark, "main", "x"))
    assert(e2.getMessage.contains("pos_x"))
    // unconstrained columns move freely; chain of renames keeps one physical
    vt.renameColumn(spark, "main", "y", "y1")
    vt.renameColumn(spark, "main", "y1", "y2")
    val f = org.apache.spark.sql.types.DataType.fromJson(
      vt.head("main").get.schemaJson).asInstanceOf[org.apache.spark.sql.types.StructType]("y2")
    assert(VersionedTable.physicalName(f) === "y")
    assert(vt.read(spark, "main").select($"y2").as[String].head() === "a")
    vt.dropColumn(spark, "main", "z")
    vt.dropColumn(spark, "main", "y2")
    assertThrows[IllegalArgumentException](vt.dropColumn(spark, "main", "x"))
    assertThrows[IllegalArgumentException](
      vt.renameColumn(spark, "main", "nope", "x2"))
    // the constraint still enforces through the mapped writes
    intercept[Exception] {
      vt.write(Seq(-5L).toDF("x").coalesce(1), "main", "bad", mode = "append")
    }
  }

  test("SQL surface: ALTER TABLE RENAME/DROP COLUMN; SELECT serves the V1 fallback; DML works") {
    val vt = VersionedTable.create(Tables.scratch("cmap_sql"))
    vt.write((1 to 60).map(i => (i.toLong, s"o$i", i % 5))
      .toDF("id", "owner", "grp").repartition(3), "main", "v0",
      statsCols = Seq("id"))
    spark.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val t = s"vt.`${vt.root}`"
    spark.sql(s"ALTER TABLE $t RENAME COLUMN id TO doc_id")
    assert(spark.table(t).columns.toSeq === Seq("doc_id", "owner", "grp"))
    assert(spark.sql(s"SELECT sum(doc_id) FROM $t").head.getLong(0) ===
      (1L to 60L).sum)
    spark.sql(s"ALTER TABLE $t DROP COLUMN grp")
    assert(spark.table(t).columns.toSeq === Seq("doc_id", "owner"))
    // filters on the renamed column still resolve (and the relation prunes
    // through the re-keyed stats inside scanPlan)
    assert(spark.sql(s"SELECT owner FROM $t WHERE doc_id = 7").head.getString(0) === "o7")
    // DSv2 DML flows through the mapped write paths
    spark.sql(s"INSERT INTO $t VALUES (1000, 'new')")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) === 61L)
    spark.sql(s"DELETE FROM $t WHERE doc_id <= 10")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) === 51L)
    graft.sources.VtSqlDml.exec(spark, s"UPDATE $t SET owner = 'x' WHERE doc_id = 1000")
    assert(spark.sql(s"SELECT owner FROM $t WHERE doc_id = 1000").head.getString(0) === "x")
    // time travel through SQL still speaks each version's own names
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF 0").columns.toSeq ===
      Seq("id", "owner", "grp"))
    // DROP COLUMN IF EXISTS tolerates absence; plain DROP refuses
    spark.sql(s"ALTER TABLE $t DROP COLUMN IF EXISTS nope")
    intercept[Exception](spark.sql(s"ALTER TABLE $t DROP COLUMN nope"))
    // format("vt") V1 relation serves the mapped snapshot too
    val v1 = spark.read.format("vt").option("path", vt.root.toString).load()
    assert(v1.columns.toSeq === Seq("doc_id", "owner"))
    assert(v1.where($"doc_id" === 1000L).count() === 1)
  }

  test("streaming read refuses a mapped snapshot loudly; CDF export of a mapped lineage refuses") {
    val vt = VersionedTable.create(Tables.scratch("cmap_refusals"))
    vt.write((1 to 10).map(i => (i.toLong, s"r$i")).toDF("k", "v").coalesce(1),
      "main", "v0")
    vt.renameColumn(spark, "main", "k", "kk")
    val e = intercept[Exception] {
      spark.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
      val q = spark.readStream.table(s"vt.`${vt.root}`").writeStream
        .format("memory").queryName("cmap_stream").start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(e.getMessage.contains("column-mapped") ||
      Option(e.getCause).exists(_.getMessage.contains("column-mapped")))
    // CDF export of a mapped lineage refuses; the PLAIN export now works
    // (see the round-trip test below)
    val e2 = intercept[IllegalArgumentException](
      vt.exportDeltaLog("main", changeDataFeed = true))
    assert(e2.getMessage.contains("column-mapped"))
  }

  test("r20b: mapped lineages EXPORT as stock name-mode Delta logs; delta-lite reads them back") {
    val vt = VersionedTable.create(Tables.scratch("cmap_export"))
    def part(lo: Int) = (lo until lo + 40).map(i => (i.toLong, s"u$i"))
      .toDF("id", "owner").coalesce(1)
    vt.write(part(0), "main", "v0", statsCols = Seq("id"))
    vt.renameColumn(spark, "main", "id", "doc_id")
    // post-rename append writes PHYSICAL names — the exported add actions
    // reference those files, and name mode binds them by physicalName
    vt.write(part(100).toDF("doc_id", "owner"), "main", "v2", mode = "append",
      statsCols = Seq("doc_id"))
    val latest = vt.exportDeltaLog("main")
    assert(latest === 2L)
    // the engine's own stock-Delta reader round-trips the mapped log:
    // logical names out, correct values, version-pinned schemas
    val back = spark.read.format("delta-lite")
      .option("path", vt.root.toString).load()
    assert(back.columns.toSeq === Seq("doc_id", "owner"))
    assert(back.count() === 80)
    assert(back.agg(sum($"doc_id")).head.getLong(0) ===
      ((0L until 40L) ++ (100L until 140L)).sum)
    assert(back.where($"doc_id" === 120L).select($"owner").as[String].head() === "u120")
    // time travel to the PRE-mapping version speaks the old name
    val v0 = spark.read.format("delta-lite").option("path", vt.root.toString)
      .option("versionAsOf", "0").load()
    assert(v0.columns.toSeq === Seq("id", "owner") && v0.count() === 40)
    // the dlite CATALOG serves it too (renamed name-mode → V1 fallback)
    spark.conf.set("spark.sql.catalog.dlite",
      classOf[graft.sources.DeltaLiteCatalog].getName)
    assert(spark.sql(s"SELECT count(*) AS c FROM dlite.`${vt.root}`")
      .head.getLong(0) === 80L)
    // a DROP exports too: the field leaves the schemaString, old files'
    // extra physical column is simply never requested
    vt.dropColumn(spark, "main", "owner")
    vt.write(Seq(500L).toDF("doc_id").coalesce(1), "main", "v4", mode = "append")
    assert(vt.exportDeltaLog("main") === 4L)
    val dropped = spark.read.format("delta-lite")
      .option("path", vt.root.toString).load()
    assert(dropped.columns.toSeq === Seq("doc_id") && dropped.count() === 81)
    // DV + mapping compose: the protocol re-declares both reader features
    vt.deleteWithVectors(spark, "doc_id < 10", "main")
    assert(vt.exportDeltaLog("main") === 5L)
    val withDv = spark.read.format("delta-lite")
      .option("path", vt.root.toString).load()
    assert(withDv.count() === 71, "exported DVs must apply under the mapped schema")
    val proto = java.nio.file.Files.readAllLines(
      vt.root.resolve("_delta_log").resolve(f"${5L}%020d.json")).toString
    assert(proto.contains("deletionVectors") && proto.contains("columnMapping"),
      "the v3 protocol upgrade must list EVERY active reader feature")
  }

  test("r20: mapped DV-free snapshots serve the NATIVE DSv2 batch — metadata aggs (ghost-proof), stats pruning, runtime join skipping") {
    val vt = VersionedTable.create(Tables.scratch("cmap_native"))
    // range-clustered: file i covers ~[i*100, i*100+99]
    vt.write(spark.range(0, 400).toDF("id")
      .withColumn("s", concat(lit("v"), col("id").cast("string")))
      .repartitionByRange(4, col("id")), "main", "v0", statsCols = Seq("id", "s"))
    vt.renameColumn(spark, "main", "id", "doc_id")
    spark.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val t = s"vt.`${vt.root}`"
    // metadata aggregates on the RENAMED column answer with ZERO file
    // reads (logical-keyed stats + the re-key in the rename commit)
    val head = vt.head("main").get
    val tmp = vt.root.resolve("ghost_native")
    java.nio.file.Files.createDirectories(tmp)
    head.files.foreach { f =>
      java.nio.file.Files.move(vt.root.resolve(f), tmp.resolve(f.replace('/', '_')))
    }
    try {
      val q = spark.sql(
        s"SELECT count(*) AS c, min(doc_id) AS mn, max(doc_id) AS mx FROM $t")
      assert(q.collect().toSeq.map(_.toSeq) === Seq(Seq(400L, 0L, 399L)))
      assert(q.queryExecution.executedPlan.toString.contains("LocalTableScan"),
        "mapped metadata aggregates must stay zero-read")
    } finally head.files.foreach { f =>
      java.nio.file.Files.move(tmp.resolve(f.replace('/', '_')), vt.root.resolve(f))
    }
    // static stats pruning through the renamed name reaches the scan plan
    val filtered = spark.sql(s"SELECT s FROM $t WHERE doc_id BETWEEN 150 AND 160")
    assert(filtered.count() === 11)
    val fScan = filtered.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get.scan
    assert(fScan.asInstanceOf[graft.sources.VtDfScan].plannedFileCount === 1,
      s"stats pruning must survive the rename: ${fScan.description()}")
    // runtime file skipping: a broadcast join's keys re-prune the mapped
    // file list at execution (the scan must be the native VtDfScan)
    val dimPath = Tables.scratch("cmap_native_dim")
    Seq((120L, "x"), (130L, "x")).toDF("dk", "grp")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("cmap_dim")
    // GHOST every file except the [100,199] range file: only the runtime
    // join-key re-prune (no static predicate on doc_id) lets this succeed
    val keep = head.files.find(f => head.stats(f)("doc_id")._1 <= 120.0 &&
      head.stats(f)("doc_id")._2 >= 130.0).get
    val ghosts2 = head.files.filterNot(_ == keep).map { f =>
      val g = tmp.resolve(f.replace('/', '_') + ".rt")
      java.nio.file.Files.move(vt.root.resolve(f), g); (f, g)
    }
    try {
      val j = spark.sql(
        s"""SELECT sum(f.doc_id) AS s FROM $t f JOIN cmap_dim d ON f.doc_id = d.dk
           |WHERE d.grp = 'x'""".stripMargin)
      assert(j.head.getLong(0) === 250L,
        "runtime join-key skipping must prune the ghosted mapped files")
      val finalPlan = j.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val scanExec = finalPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get
      assert(scanExec.runtimeFilters.nonEmpty, "the join must inject a runtime filter")
      assert(scanExec.scan.isInstanceOf[graft.sources.VtDfScan],
        s"mapped DV-free snapshots must take the native batch, got ${scanExec.scan}")
    } finally ghosts2.foreach { case (f, g) =>
      java.nio.file.Files.move(g, vt.root.resolve(f)) }
  }

  test("multi-change ALTER is atomic: a failing change publishes nothing (r21)") {
    val vt = VersionedTable.create(Tables.scratch("cmap_atomic"))
    vt.write((1 to 10).map(i => (i.toLong, s"o$i", i % 3)).toDF("a", "b", "c")
      .coalesce(1), "main", "v0")
    spark.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val cat = spark.sessionState.catalogManager.catalog("vt")
      .asInstanceOf[graft.sources.VtCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array.empty, vt.root.toString)
    import org.apache.spark.sql.connector.catalog.TableChange
    // first rename is fine on its own; the second collides with column c —
    // the whole ALTER must refuse with ZERO commits published
    val before = vt.head("main").get.version
    val e = intercept[IllegalArgumentException](cat.alterTable(ident,
      TableChange.renameColumn(Array("a"), "a2"),
      TableChange.renameColumn(Array("b"), "c")))
    assert(e.getMessage.contains("already exists"))
    assert(vt.head("main").get.version === before, "partial ALTER published")
    assert(vt.read(spark, "main").columns.toSeq === Seq("a", "b", "c"))
    // the sequence-aware validator: rename a→b is legal once b was dropped
    cat.alterTable(ident,
      TableChange.deleteColumn(Array("b"), false),
      TableChange.renameColumn(Array("a"), "b"))
    assert(vt.read(spark, "main").columns.toSeq === Seq("b", "c"))
  }

  test("name-reusing rename chain: stats pruning consults the RIGHT column") {
    // RENAME a TO c; RENAME b TO a — now PHYSICAL 'a' (the column logically
    // named c) collides with LOGICAL 'a' (the column physically named b).
    // The scan pushes filters under PHYSICAL names; pruning keyed by
    // logical names would consult the unrelated column's stats and can
    // wrongly DROP files holding matching rows (silent row loss). The
    // index must see stats re-keyed physical (VersionedTable
    // .physicalStatsCommit).
    val vt = VersionedTable.create(Tables.scratch("cmap_swap"))
    def part(aLo: Long, bLo: Long) = (0 until 50)
      .map(i => (aLo + i, bLo + i)).toDF("a", "b").coalesce(1)
    vt.write(part(0L, 1000L), "main", "v0", statsCols = Seq("a", "b"))
    vt.write(part(100L, 5000L), "main", "v1", mode = "append",
      statsCols = Seq("a", "b"))
    vt.renameColumn(spark, "main", "a", "c")
    vt.renameColumn(spark, "main", "b", "a")
    val head = vt.read(spark, "main")
    assert(head.columns.toSeq === Seq("c", "a"))
    def scannedFiles(q: org.apache.spark.sql.DataFrame): Long = {
      q.collect()
      q.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.get.metrics("numFiles").value
    }
    // filter on logical c (physical 'a'): the WRONG stats (logical a = old
    // b, ranges 1000.. / 5000..) would prune BOTH files for [100, 150)
    val hit = head.where($"c" >= 100L && $"c" < 150L)
    assert(hit.count() === 50, "swap-rename: rows must survive stats pruning")
    assert(scannedFiles(hit) === 1, "and the correct stats still prune")
    // filter on logical a (physical 'b') prunes via old-b's stats
    val hit2 = head.where($"a" >= 5000L)
    assert(hit2.count() === 50)
    assert(scannedFiles(hit2) === 1)
    // point value present only in v0's file
    assert(head.where($"c" === 7L).select($"a").as[Long].head() === 1007L)
  }

  test("MOR deletion vectors compose with a rename (positions are name-agnostic)") {
    val vt = VersionedTable.create(Tables.scratch("cmap_dv"))
    vt.write((1 to 30).map(i => (i.toLong, s"r$i")).toDF("k", "v")
      .coalesce(1), "main", "v0")
    vt.deleteWithVectors(spark, "k <= 10", "main")
    vt.renameColumn(spark, "main", "k", "key")
    val head = vt.read(spark, "main")
    assert(head.count() === 20)
    assert(head.agg(min($"key")).head.getLong(0) === 11L)
    // DML through the MOR + mapped read path
    vt.deleteWithVectors(spark, "key > 25", "main")
    assert(vt.read(spark, "main").count() === 15)
    assert(vt.countRows(spark) === 15)
  }
}

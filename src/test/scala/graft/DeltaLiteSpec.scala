package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.vt.{DeltaLogFixture => F, DeletionVectors}

/** `spark.read.format("delta-lite")`: foreign-Delta batch reads through
  * the native file-scan machinery — stats skipping and partition pruning
  * at planning time, MOR/column-mapped fallbacks staying exact. */
class DeltaLiteSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(name: String) = {
    val p = Paths.get(Tables.scratch(s"dlite_$name"))
    Files.createDirectories(p)
    p
  }

  private def readDl(path: String, opts: (String, String)*): DataFrame =
    opts.foldLeft(spark.read.format("delta-lite").option("path", path))(
      (r, kv) => r.option(kv._1, kv._2)).load()

  private def scannedFiles(q: DataFrame): Long = {
    q.collect()
    val scan = q.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec — not the native file-scan relation"))
    scan.metrics("numFiles").value
  }

  private def stats(n: Long, mins: Map[String, Any], maxs: Map[String, Any],
                    nulls: Map[String, Long] = Map.empty): String = {
    def js(m: Map[String, Any]) = m.map {
      case (k, v: String) => s""""$k":"$v""""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}")
    s"""{"numRecords":$n,"minValues":${js(mins)},"maxValues":${js(maxs)},""" +
      s""""nullCount":${js(nulls)}}"""
  }

  test("delta-lite prunes files from add-action stats at planning time; pushdown intact") {
    val root = freshRoot("skip")
    val df = (1L to 30L).map(i => (i, f"w$i%02d")).toDF("k", "w")
    def slice(lo: Long, hi: Long, name: String) = {
      val (f, s) = F.writeDataFile(root, df.where($"k".between(lo, hi)), name)
      F.addLine(f, s, stats = Some(stats(hi - lo + 1,
        Map("k" -> lo, "w" -> f"w$lo%02d"), Map("k" -> hi, "w" -> f"w$hi%02d"))))
    }
    F.writeCommit(root, 0, Seq(F.protocolLine(),
      F.metaDataLine(df.schema.json, Nil),
      slice(1, 10, "pa"), slice(11, 20, "pb"), slice(21, 30, "pc")))
    val q1 = readDl(root.toString).where($"k" >= 12 && $"k" <= 18)
    assert(q1.select("k").as[Long].collect().sorted === (12L to 18L).toArray)
    assert(scannedFiles(q1) === 1, "numeric stats must prune at planning time")
    val q2 = readDl(root.toString).where($"w" >= "w21" && $"w" <= "w30")
    assert(q2.select("k").as[Long].collect().sorted === (21L to 30L).toArray)
    assert(scannedFiles(q2) === 1, "string stats must prune at planning time")
    assert(q1.queryExecution.executedPlan.toString.contains("PushedFilters: ["),
      "parquet pushdown must survive the custom FileIndex")
    // unbounded predicates prune nothing but stay correct
    assert(readDl(root.toString).where(length($"w") === 3).count() === 30L)
  }

  test("delta-lite prunes files from nullCount stats (IS NULL / IS NOT NULL)") {
    val root = freshRoot("nulls")
    val allNull = (1L to 10L).map(i => (i, null: String)).toDF("k", "w")
    val noNull = (11L to 20L).map(i => (i, s"w$i")).toDF("k", "w")
    val (fa, sa) = F.writeDataFile(root, allNull, "pa")
    val (fb, sb) = F.writeDataFile(root, noNull, "pb")
    F.writeCommit(root, 0, Seq(F.protocolLine(),
      F.metaDataLine(allNull.schema.json, Nil),
      F.addLine(fa, sa, stats = Some(stats(10,
        Map("k" -> 1L), Map("k" -> 10L), nulls = Map("w" -> 10L, "k" -> 0L)))),
      F.addLine(fb, sb, stats = Some(stats(10,
        Map("k" -> 11L), Map("k" -> 20L), nulls = Map("w" -> 0L, "k" -> 0L))))))
    val qNotNull = readDl(root.toString).where($"w".isNotNull)
    assert(qNotNull.select("k").as[Long].collect().sorted === (11L to 20L).toArray)
    assert(scannedFiles(qNotNull) === 1, "the all-null file must be skipped")
    val qNull = readDl(root.toString).where($"w".isNull)
    assert(qNull.select("k").as[Long].collect().sorted === (1L to 10L).toArray)
    assert(scannedFiles(qNull) === 1, "the zero-null file must be skipped")
  }

  test("delta-lite reconstitutes partition columns and prunes partitions at planning time") {
    val root = freshRoot("part")
    val df = (1L to 30L).map(i => (i, (i % 3).toInt)).toDF("k", "bucket")
    def group(b: Int) = {
      val (f, s) = F.writeDataFile(root,
        df.where($"bucket" === b).drop("bucket"), s"b$b")
      F.addLine(f, s, Map("bucket" -> b.toString))
    }
    F.writeCommit(root, 0, Seq(F.protocolLine(),
      F.metaDataLine(df.schema.json, Seq("bucket")),
      group(0), group(1), group(2)))
    val full = readDl(root.toString)
    // partition columns surface (after the data columns) with real values
    assert(full.select("k", "bucket").as[(Long, Int)].collect().toSet
      === df.as[(Long, Int)].collect().toSet)
    val q = readDl(root.toString).where($"bucket" === 1)
    assert(q.select("k").as[Long].collect().sorted
      === (1L to 30L).filter(_ % 3 == 1).toArray)
    assert(scannedFiles(q) === 1, "partitionValues must prune groups at planning time")
    // partition filters are EXACT evaluation, not conservative windows:
    // Spark strips partition-only filters from the post-scan set, so a
    // shape the window extractor cannot express (!=, IN, OR) must still
    // filter correctly — a conservative keep here would RETURN wrong rows
    val qNe = readDl(root.toString).where($"bucket" =!= 1)
    assert(qNe.select("k").as[Long].collect().sorted
      === (1L to 30L).filter(_ % 3 != 1).toArray,
      "bucket != 1 must exclude the bucket=1 partition exactly")
    val qIn = readDl(root.toString).where($"bucket".isin(0, 2))
    assert(qIn.select("k").as[Long].collect().sorted
      === (1L to 30L).filter(i => i % 3 == 0 || i % 3 == 2).toArray)
    val qOr = readDl(root.toString).where($"bucket" === 0 || $"bucket" === 2)
    assert(qOr.select("k").as[Long].collect().sorted
      === (1L to 30L).filter(i => i % 3 != 1).toArray)
    assert(scannedFiles(qIn) === 2, "IN must also PRUNE, not just stay correct")
  }

  test("DeltaFileIndex trusts the log's size/mtime: planning issues NO filesystem stats") {
    import graft.vt.DeltaLogReader
    val root = freshRoot("nostat")
    val schema = Seq((1L, "a")).toDF("k", "v").schema
    // the add action references a file that does NOT exist on disk: planning
    // (listFiles / sizeInBytes) must succeed purely from the log's metadata —
    // a getFileStatus here would throw FileNotFoundException
    F.writeCommit(root, 0, Seq(F.protocolLine(), F.metaDataLine(schema.json, Nil),
      F.addLine("ghost.parquet", 1234L, mtime = 99L)))
    val snap = DeltaLogReader.snapshot(root.toString, None, Some(spark))
    assert(snap.files.head.size === 1234L && snap.files.head.modTime === 99L,
      "snapshot must carry the add action's size and modificationTime")
    val idx = new graft.sources.DeltaFileIndex(spark,
      root.toAbsolutePath.normalize, snap)
    val dirs = idx.listFiles(Nil, Nil)
    assert(dirs.map(_.files.map(_.getLen).sum).sum === 1234L)
    assert(idx.sizeInBytes === 1234L)
    // the dlite catalog's scans plan through the native index over the
    // replay: the same log-only planning
    val vtIdx = new graft.sources.VtFileIndex(spark, root.toAbsolutePath.normalize,
      DeltaLogReader.asCommit(snap), graft.sources.VtPruning.NoBloom)
    assert(vtIdx.listFiles(Nil, Nil).map(_.files.map(_.getLen).sum).sum === 1234L)
    assert(vtIdx.sizeInBytes === 1234L)
  }

  test("delta-lite serves id-mode column-mapped tables NATIVELY: field ids bind, stats prune") {
    val root = freshRoot("cmap_id")
    val df = (1L to 20L).map(i => (i, s"v$i")).toDF("k", "v")
    val phys = Map("k" -> "col-aaaa", "v" -> "col-bbbb")
    val ids = Map("k" -> 1L, "v" -> 2L)
    def slice(lo: Long, hi: Long, name: String) = {
      val (f, s) = F.writeDataFile(root,
        F.physicalWithIds(df.where($"k".between(lo, hi)), phys, ids), name)
      F.addLine(f, s, stats = Some(stats(hi - lo + 1,
        Map("col-aaaa" -> lo), Map("col-aaaa" -> hi)))) // stats keys: PHYSICAL
    }
    F.writeCommit(root, 0, Seq(F.protocolLine(minReader = 2, minWriter = 5),
      F.metaDataLine(F.columnMappedSchema(df.schema, phys, ids).json, Nil,
        Map("delta.columnMapping.mode" -> "id")),
      slice(1, 10, "pa"), slice(11, 20, "pb")))
    val full = readDl(root.toString)
    assert(full.select("k", "v").as[(Long, String)].collect().toSet
      === df.as[(Long, String)].collect().toSet,
      "logical names must surface although the files carry physical names")
    val q = readDl(root.toString).where($"k" >= 11)
    assert(q.select("k").as[Long].collect().sorted === (11L to 20L).toArray)
    assert(scannedFiles(q) === 1,
      "physical-keyed stats must prune against logical-named predicates")
    // name-mode tables take the exact fallback instead
    val root2 = freshRoot("cmap_name")
    val (fa, sa) = F.writeDataFile(root2,
      df.select($"k".as("col-aaaa"), $"v".as("col-bbbb")), "pa")
    F.writeCommit(root2, 0, Seq(F.protocolLine(minReader = 2, minWriter = 5),
      F.metaDataLine(F.columnMappedSchema(df.schema, phys).json, Nil,
        Map("delta.columnMapping.mode" -> "name")),
      F.addLine(fa, sa)))
    val nameRead = readDl(root2.toString)
    assert(nameRead.select("k").as[Long].collect().sorted === (1L to 20L).toArray)
    assert(nameRead.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.isEmpty, "name mode needs the renaming fallback, not a bare scan")
  }

  test("DV fallback is a PrunedFilteredScan: exported stats prune files under filters") {
    import org.apache.spark.sql.{sources => fs}
    import graft.vt.VersionedTable
    val vt = VersionedTable.create(Tables.scratch("dlite_mor_push"))
    def part(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, s"r$i")).toDF("k", "v").coalesce(1)
    vt.write(part(1, 10), "main", "A", statsCols = Seq("k"))
    vt.write(part(11, 20), "main", "B", mode = "append", statsCols = Seq("k"))
    vt.write(part(21, 30), "main", "C", mode = "append", statsCols = Seq("k"))
    vt.deleteWithVectors(spark, "k % 10 = 5", "main")
    vt.exportDeltaLog("main")
    // E2E through format("delta-lite"): deletions respected under filters
    val q = readDl(vt.root.toString).where($"k".between(12, 18))
    assert(q.select("k").as[Long].collect().sorted === Array(12L, 13, 14, 16, 17, 18))
    // evidence: the pushed window prunes the snapshot's files before any scan
    val rel = graft.sources.ReplayRelation.foreign(spark.sqlContext,
      vt.root.toString, graft.vt.DeltaLogReader.snapshot(vt.root.toString, None, Some(spark)))
    val plan = rel.scanPlan(Array("k"),
      Array(fs.GreaterThanOrEqual("k", 12L), fs.LessThanOrEqual("k", 18L)))
    assert(plan.inputFiles.length === 1,
      "two of three DV-carrying files must be pruned by exported stats")
    assert(plan.select("k").as[Long].collect().sorted === Array(12L, 13, 14, 16, 17, 18))
    assert(rel.unhandledFilters(Array(fs.LessThan("k", 9L))).isEmpty,
      "translated conjuncts are handled (and fully enforced) by the relation")
  }

  test("name fallback prunes partitions from pushed filters (partitionValues windows)") {
    import org.apache.spark.sql.{sources => fs}
    val root = freshRoot("fb_part")
    val df = (1L to 30L).map(i => (i, (i % 3).toInt)).toDF("k", "bucket")
    val phys = Map("k" -> "col-kkkk", "bucket" -> "col-pppp")
    def group(b: Int) = {
      val (f, s) = F.writeDataFile(root,
        df.where($"bucket" === b).select($"k".as("col-kkkk")), s"b$b")
      F.addLine(f, s, Map("col-pppp" -> b.toString))
    }
    F.writeCommit(root, 0, Seq(F.protocolLine(minReader = 2, minWriter = 5),
      F.metaDataLine(F.columnMappedSchema(df.schema, phys).json, Seq("col-pppp"),
        Map("delta.columnMapping.mode" -> "name")),
      group(0), group(1), group(2)))
    // renamed name-mode files without field ids: the fallback serves it
    val read = readDl(root.toString)
    assert(read.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.isEmpty, "renamed name mode without file ids needs the fallback")
    assert(read.where($"bucket" === 1).select("k").as[Long].collect().sorted
      === (1L to 30L).filter(_ % 3 == 1).toArray)
    // pushed partition-column filters prune whole partitionValues groups
    val rel = graft.sources.ReplayRelation.foreign(spark.sqlContext,
      root.toString, graft.vt.DeltaLogReader.snapshot(root.toString, None, Some(spark)))
    assert(rel.scanPlan(Array("k"), Array(fs.EqualTo("bucket", 1)))
      .inputFiles.length === 1)
    assert(rel.scanPlan(Array("k"), Array(fs.In("bucket", Array(0, 2))))
      .inputFiles.length === 2)
    // conservative contract: un-window-able shapes prune nothing, stay exact
    assert(readDl(root.toString).where($"bucket" =!= 1)
      .select("k").as[Long].collect().sorted
      === (1L to 30L).filter(_ % 3 != 1).toArray)
  }

  test("RENAMED name-mode tables serve natively when files carry field ids; session conf untouched") {
    val flag = "spark.sql.parquet.fieldId.read.enabled"
    val before = spark.conf.get(flag)
    val root = freshRoot("cmap_name_native")
    val df = (1L to 20L).map(i => (i, s"v$i")).toDF("k", "v")
    val phys = Map("k" -> "col-aaaa", "v" -> "col-bbbb")
    val ids = Map("k" -> 1L, "v" -> 2L)
    def slice(lo: Long, hi: Long, name: String) = {
      val (f, s) = F.writeDataFile(root,
        F.physicalWithIds(df.where($"k".between(lo, hi)), phys, ids), name)
      F.addLine(f, s, stats = Some(stats(hi - lo + 1,
        Map("col-aaaa" -> lo), Map("col-aaaa" -> hi))))
    }
    F.writeCommit(root, 0, Seq(F.protocolLine(minReader = 2, minWriter = 5),
      F.metaDataLine(F.columnMappedSchema(df.schema, phys, ids).json, Nil,
        Map("delta.columnMapping.mode" -> "name")),
      slice(1, 10, "pa"), slice(11, 20, "pb")))
    val full = readDl(root.toString)
    assert(full.select("k", "v").as[(Long, String)].collect().toSet
      === df.as[(Long, String)].collect().toSet,
      "field ids must bind physical file columns to logical names")
    val q = readDl(root.toString).where($"k" >= 11)
    assert(q.select("k").as[Long].collect().sorted === (11L to 20L).toArray)
    assert(scannedFiles(q) === 1,
      "the NATIVE scan path must serve renamed name mode when ids exist")
    assert(spark.conf.get(flag) === before,
      "field-id resolution must be scoped to the relation's cloned session, " +
        "never set on the user's session")
  }

  test("UNRENAMED name-mode tables (physical == logical) serve natively without ids") {
    val root = freshRoot("cmap_name_plain")
    val df = (1L to 12L).map(i => (i, s"v$i")).toDF("k", "v")
    val (fa, sa) = F.writeDataFile(root, df, "pa")
    F.writeCommit(root, 0, Seq(F.protocolLine(minReader = 2, minWriter = 5),
      F.metaDataLine(F.columnMappedSchema(df.schema, Map.empty).json, Nil,
        Map("delta.columnMapping.mode" -> "name")),
      F.addLine(fa, sa)))
    val read = readDl(root.toString)
    assert(read.select("k").as[Long].collect().sorted === (1L to 12L).toArray)
    assert(read.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.nonEmpty, "an upgrade-without-rename table is a plain scan in disguise")
  }

  test("delta-lite versionAsOf + DV fallback stays exact (no resurrection, no native scan)") {
    val root = freshRoot("dv")
    val df = (1L to 8L).map(i => (i, s"r$i")).toDF("k", "v")
    val (fa, sa) = F.writeDataFile(root, df, "pa")
    F.writeCommit(root, 0, Seq(F.protocolLine(), F.metaDataLine(df.schema.json, Nil),
      F.addLine(fa, sa), F.commitInfoLine(1000L)))
    // v1 MOR-deletes k in {7, 8} via an inline deletion vector
    val dv = DeletionVectors.inlineDescriptor(Seq(6L, 7L)) // 0-based row positions
    F.writeCommit(root, 1, Seq(F.removeLine(fa), F.addLineWithDv(fa, sa, dv),
      F.commitInfoLine(2000L)))
    assert(readDl(root.toString, "versionAsOf" -> "0")
      .select("k").as[Long].collect().sorted === (1L to 8L).toArray)
    // timestampAsOf resolves through the commitInfo timestamps: between
    // the commits lands on v0, at v1's stamp on the head
    assert(readDl(root.toString, "timestampAsOf" -> "1500")
      .select("k").as[Long].collect().sorted === (1L to 8L).toArray)
    assert(readDl(root.toString, "timestampAsOf" -> "2000")
      .select("k").as[Long].collect().sorted === (1L to 6L).toArray)
    // datetime-string form of the option (ISO instant; Delta accepts both)
    assert(readDl(root.toString,
        "timestampAsOf" -> "1970-01-01T00:00:01.500Z")
      .select("k").as[Long].collect().sorted === (1L to 8L).toArray)
    // versionAsOf + timestampAsOf together are refused
    val eBoth = intercept[IllegalArgumentException](
      readDl(root.toString, "versionAsOf" -> "0", "timestampAsOf" -> "1"))
    assert(eBoth.getMessage.contains("mutually exclusive"))
    val head = readDl(root.toString)
    assert(head.select("k").as[Long].collect().sorted === (1L to 6L).toArray,
      "DV-deleted rows must not resurrect through delta-lite")
    assert(head.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.isEmpty, "DV snapshots must take the delegating fallback, not a bare scan")
  }

  test("r19 dlite catalog: runtime join keys skip foreign-Delta files ghost-proof; time travel + fallbacks exact") {
    import graft.vt.VersionedTable
    // an EXPORTED vt table is a stock Delta table with per-file stats —
    // the foreign fact-table shape the runtime filter exists for
    val vt = VersionedTable.create(Tables.scratch("dlite_cat_rt"))
    def part(lo: Long, hi: Long) = spark.range(lo, hi + 1)
      .select(col("id").as("k"), (col("id") % 7).as("v")).coalesce(1)
    vt.write(part(1, 100), "main", "A", statsCols = Seq("k"))
    vt.write(part(101, 200), "main", "B", mode = "append", statsCols = Seq("k"))
    vt.write(part(201, 300), "main", "C", mode = "append", statsCols = Seq("k"))
    vt.exportDeltaLog("main")
    spark.conf.set("spark.sql.catalog.dlite",
      classOf[graft.sources.DeltaLiteCatalog].getName)
    val t = s"dlite.`${vt.root}`"
    // dim MUST be parquet-backed: the DPP rule skips LocalRelation builds
    val dimPath = Tables.scratch("dlite_cat_dim")
    Seq((120L, "x"), (130L, "x"), (140L, "y")).toDF("dk", "grp")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("dlite_dim")
    // ghost file C: only the RUNTIME join-key filter could prune it (the
    // query has no static predicate on k) — success proves the skip
    val head = vt.head("main").get
    val cFile = head.files.find(f => head.stats(f)("k")._1 >= 201.0).get
    val tmp = vt.root.resolve("dlite_ghost.parquet")
    Files.move(vt.root.resolve(cFile), tmp)
    try {
      val q = spark.sql(
        s"""SELECT sum(f.k) AS s FROM $t f JOIN dlite_dim d ON f.k = d.dk
           |WHERE d.grp = 'x'""".stripMargin)
      assert(q.as[Long].head() === 250L)
      val finalPlan = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val scanExec = finalPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get
      assert(scanExec.runtimeFilters.nonEmpty, "the join must inject a runtime filter")
      assert(scanExec.scan.isInstanceOf[graft.sources.VtDfScan],
        s"native foreign-Delta reads take VtDfScan, got ${scanExec.scan}")
    } finally Files.move(tmp, vt.root.resolve(cFile))
    // SQL time travel through the catalog
    assert(spark.sql(s"SELECT count(*) AS c FROM $t VERSION AS OF 0")
      .as[Long].head() === 100L)
    // static pushdown still prunes via the exported stats (scan-level pin)
    val qs = spark.sql(s"SELECT count(*) AS c FROM $t WHERE k >= 201")
    assert(qs.as[Long].head() === 100L)
    // a DV-carrying export falls back to the V1 relation — correct, no
    // resurrection — and an out-of-range version errors loudly
    vt.deleteWithVectors(spark, "k % 2 = 0", "main")
    vt.exportDeltaLog("main")
    assert(spark.sql(s"SELECT count(*) AS c FROM $t").as[Long].head() === 150L)
    assert(spark.sql(s"SELECT sum(k) AS s FROM $t WHERE k <= 10").as[Long].head()
      === Seq(1L, 3L, 5L, 7L, 9L).sum)
    intercept[Exception](
      spark.sql(s"SELECT count(*) AS c FROM $t VERSION AS OF 99").collect())
  }

  test("r20 dlite catalog: DV-carrying exports serve the NATIVE MOR batch — runtime join-key skipping, per-task roaring subtraction (ghost-proof)") {
    import graft.vt.VersionedTable
    val vt = VersionedTable.create(Tables.scratch("dlite_cat_mor_rt"))
    def part(lo: Long, hi: Long) = spark.range(lo, hi + 1)
      .select(col("id").as("k"), (col("id") % 7).as("v")).coalesce(1)
    vt.write(part(1, 100), "main", "A", statsCols = Seq("k"))
    vt.write(part(101, 200), "main", "B", mode = "append", statsCols = Seq("k"))
    vt.write(part(201, 300), "main", "C", mode = "append", statsCols = Seq("k"))
    // MOR delete touches files A and B only; C stays deletion-free
    vt.deleteWithVectors(spark, "k % 2 = 0 AND k <= 200", "main")
    vt.exportDeltaLog("main")
    spark.conf.set("spark.sql.catalog.dlite",
      classOf[graft.sources.DeltaLiteCatalog].getName)
    val t = s"dlite.`${vt.root}`"
    // whole-table count through the native MOR batch: 300 − 100 evens
    assert(spark.sql(s"SELECT count(*) AS c FROM $t").as[Long].head() === 200L)
    val dimPath = Tables.scratch("dlite_cat_mor_dim")
    // 120 is DELETED (even ≤ 200): the join must not resurrect it
    Seq((120L, "x"), (121L, "x"), (141L, "y")).toDF("dk", "grp")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("dlite_mor_dim")
    // ghost files A and C: only the RUNTIME join-key filter can prune them
    // (no static predicate on k) — success proves the DV-bearing batch
    // re-prunes its file list at execution like the clean batch does
    val head = vt.head("main").get
    val ghosts = head.files.filter(f =>
      head.stats(f)("k")._2 <= 100.0 || head.stats(f)("k")._1 >= 201.0)
    assert(ghosts.size === 2)
    val moved = ghosts.map { f =>
      val tmp = vt.root.resolve(f.replace('/', '_') + ".ghost")
      Files.move(vt.root.resolve(f), tmp); (f, tmp)
    }
    try {
      val q = spark.sql(
        s"""SELECT sum(f.k) AS s FROM $t f JOIN dlite_mor_dim d ON f.k = d.dk
           |WHERE d.grp = 'x'""".stripMargin)
      assert(q.as[Long].head() === 121L,
        "the deleted key 120 must not resurrect; the live 121 must survive")
      val finalPlan = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val scanExec = finalPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get
      assert(scanExec.runtimeFilters.nonEmpty, "the join must inject a runtime filter")
      assert(scanExec.scan.isInstanceOf[graft.sources.VtMorScan],
        s"DV-carrying flat exports must take the native MOR batch, got ${scanExec.scan}")
    } finally moved.foreach { case (f, tmp) => Files.move(tmp, vt.root.resolve(f)) }
    // static pushdown into the clean region: stats prune to file C, whose
    // deletion-free readers keep the columnar passthrough
    assert(spark.sql(s"SELECT count(*) AS c FROM $t WHERE k >= 201")
      .as[Long].head() === 100L)
    assert(spark.sql(s"SELECT sum(k) AS s FROM $t WHERE k <= 10").as[Long].head()
      === Seq(1L, 3L, 5L, 7L, 9L).sum)
  }
}


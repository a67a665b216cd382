package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.vt.{Commit, CommitLog, DeletionVectors, DeltaLogReader, MergeClause, VersionedTable}

/** Per-file deletion-vector descriptors on manifest entries: the live row
  * count is metadata (no Spark job), a long retiring history keeps one
  * descriptor per live file and vacuum reclaims the `.bin` files only dead
  * entries named, and a table written in the legacy shape (table-level
  * `(fk, pos)` part-files listed as `dvFiles`) reads, counts, time-travels,
  * exports and takes new retiring statements correctly. */
class DvDescriptorSpec extends SparkSpec {
  import spark.implicits._

  private def rows(lo: Long, hi: Long): DataFrame =
    (lo to hi).map(i => (i, (i % 11).toInt)).toDF("k", "n")

  private def snap(df: DataFrame): Seq[(Long, Int)] =
    df.select("k", "n").as[(Long, Int)].collect().toSeq.sorted

  /** `files` files of equal key blocks over keys 1..`n`. */
  private def table(name: String, n: Long, files: Int): VersionedTable = {
    val vt = VersionedTable.create(Tables.scratch(s"dvd_$name"))
    val block = n / files
    vt.write(rows(1, n).repartitionByRange(files, (($"k" - 1) / block).cast("int")),
      "main", "v0", statsCols = Seq("k"))
    vt
  }

  /** Spark jobs started while `op` runs: a sentinel job after it marks the
    * end, so the asynchronous listener bus has delivered every earlier
    * start by the time the sentinel's arrives. */
  private def jobsDuring[T](op: => T): (T, Int) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = op
      spark.sparkContext.setJobDescription("dvd-sentinel")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 20000
      while (!seen.asScala.exists(_ == "dvd-sentinel") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      (out, seen.asScala.takeWhile(_ != "dvd-sentinel").size)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def bins(vt: VersionedTable): Set[String] = {
    val st = Files.walk(vt.root.resolve("data"))
    try st.iterator().asScala.map(p => vt.root.relativize(p).toString)
      .filter(_.matches(""".*deletion_vector_.*\.bin""")).toSet
    finally st.close()
  }

  private def named(cs: Seq[Commit]): Set[String] =
    cs.flatMap(_.allFiles.filter(_.endsWith(".bin"))).toSet

  test("countRows runs zero Spark jobs and SQL COUNT(*) reads no file on a branch holding vectors") {
    val vt = table("count_jobs", 1000, 4)
    vt.createBranch("dev", "main")
    vt.deleteWithVectors(spark, "k % 50 = 3", "dev")
    vt.upsert(spark, rows(1, 1000).where($"k".isin(10L, 260L, 700L)).withColumn("n", lit(99))
      .unionByName(rows(2001, 2002)), Seq("k"), "dev")
    val head = vt.head("dev").get
    assert(head.dvs.nonEmpty && head.dvs.keySet.subsetOf(head.files.toSet))
    val scanned = vt.read(spark, "dev").count()
    assert(scanned === 1000L - 20L + 2L)
    val (api, apiJobs) = jobsDuring(vt.countRows(spark, "dev"))
    assert(api === scanned && apiJobs === 0, s"countRows ran $apiJobs job(s)")
    spark.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val q = spark.sql(s"SELECT count(*) FROM vt.`dev@${vt.root}`")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("Exchange") &&
      !plan.contains("BatchScan"), s"COUNT(*) must be answered from metadata: $plan")
    // the answer is one local row; on a plain session Spark's alias
    // projection over it is the only job (no file read, no shuffle) ...
    val (plain, plainJobs) = jobsDuring(q.as[Long].head())
    assert(plain === scanned && plainJobs <= 1, s"SQL COUNT(*) ran $plainJobs job(s)")
    // ... and on a GraftExtensions session that projection plans as a
    // local relation too, so the statement runs no job at all
    val shared = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val ext = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]").config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      ext.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
      val eq = ext.sql(s"SELECT count(*) FROM vt.`dev@${vt.root}`")
      assert(eq.queryExecution.executedPlan.toString.contains("LocalTableScan"))
      val (sql, sqlJobs) = jobsDuring(eq.as[Long].head())
      assert(sql === scanned && sqlJobs === 0, s"SQL COUNT(*) ran $sqlJobs job(s)")
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(shared)
      org.apache.spark.sql.SparkSession.setActiveSession(shared)
    }
  }

  test("50 retiring statements and a compaction: descriptors stay per live file, vacuum reclaims dead .bin") {
    val vt = table("history", 24000, 4)
    var model: Map[Long, Int] = rows(1, 24000).as[(Long, Int)].collect().toMap
    val models = scala.collection.mutable.ArrayBuffer(model)
    val rnd = new scala.util.Random(20261019L)
    var next = 30000L
    (1 to 50).foreach { i =>
      def keys(k: Int) = Seq.fill(k)(1L + rnd.nextInt(24000)).distinct.filter(model.contains)
      val before = vt.head("main").get.version
      rnd.nextInt(5) match {
        case 0 => // vector delete of a range: large ones land as .bin
          val lo = 6000L * rnd.nextInt(4) + 1 + rnd.nextInt(3000)
          val hi = lo + (if (rnd.nextBoolean()) 40 else 2600)
          val m = if (hi - lo > 100) 2 else 3
          vt.deleteWithVectors(spark, s"k BETWEEN $lo AND $hi AND k % $m = 0")
          model = model.filterNot { case (k, _) => k >= lo && k <= hi && k % m == 0 }
        case 1 => // upsert a few rows and add new ones
          val ks = keys(6)
          val fresh = Seq(next, next + 1); next += 2
          vt.upsert(spark, (ks.map(k => (k, 100 + i)) ++ fresh.map(k => (k, i))).toDF("k", "n"),
            Seq("k"))
          model = model ++ ks.map(_ -> (100 + i)) ++ fresh.map(_ -> i)
        case 2 => // update a few rows
          val ks = keys(5)
          if (ks.nonEmpty) {
            vt.update(spark, s"k IN (${ks.mkString(", ")})", Map("n" -> "n + 1000"))
            model = model ++ ks.map(k => k -> (model(k) + 1000))
          }
        case 3 => // merge: update and delete matched rows
          val ks = keys(6)
          if (ks.nonEmpty) {
            vt.mergeInto(spark, ks.map(k => (k, k % 2 == 0)).toDF("k", "del"), "t.k = s.k",
              matched = Seq(MergeClause.delete(Some("s.del")),
                MergeClause.update(Map("n" -> "-1"))))
            model = model.flatMap { case (k, n) =>
              if (!ks.contains(k)) Some(k -> n) else if (k % 2 == 0) None else Some(k -> -1)
            }
          }
        case _ => // copy-on-write delete of one row: rewrites its file
          val ks = keys(1)
          if (ks.nonEmpty) {
            vt.delete(spark, s"k = ${ks.head}")
            model = model - ks.head
          }
      }
      if (vt.head("main").get.version > before) models += model
    }
    val lineage = vt.lineage("main").reverse
    assert(lineage.map(_.version) === models.indices.map(_.toLong))
    lineage.zip(models).foreach { case (c, m) =>
      assert(c.dvs.keySet.subsetOf(c.files.toSet), s"v${c.version}: a descriptor outside files")
      val want = m.toSeq.sorted
      assert(snap(vt.readVersion(spark, "main", c.version)) === want, s"read v${c.version}")
      assert(VersionedTable.liveRowCount(c) === Some(want.size.toLong), s"count v${c.version}")
    }
    assert(snap(vt.read(spark, "main")) === model.toSeq.sorted)
    assert(vt.countRows(spark, "main") === model.size.toLong)
    // every .bin on disk is named by some commit, and some only by dead entries
    val everNamed = named(lineage)
    val headNamed = named(Seq(lineage.last))
    assert(everNamed.nonEmpty && bins(vt) === everNamed)
    assert((everNamed -- headNamed).nonEmpty, "no vector file was ever retired")
    vt.vacuum(retainLast = 1)
    assert(bins(vt) === headNamed, "vacuum must reclaim exactly the dead entries' .bin files")
    assert(snap(vt.read(spark, "main")) === model.toSeq.sorted)
    val cc = vt.compact(spark, "main", numFiles = 2)
    assert(cc.dvs.isEmpty && vt.countRows(spark, "main") === model.size.toLong)
    vt.vacuum(retainLast = 1)
    assert(bins(vt).isEmpty, s"compaction left vector files: ${bins(vt)}")
    assert(snap(vt.read(spark, "main")) === model.toSeq.sorted)
  }

  /** Rewrite `vt`'s head as the legacy shape: a v1 that shares v0's
    * manifests and lists one table-level `(fk, pos)` part-file deleting
    * the rows of `gone`, as writers before per-file descriptors did. */
  private def legacyDelete(vt: VersionedTable, gone: Long => Boolean): Commit = {
    val c0 = vt.head("main").get
    val pairs = c0.files.flatMap { f =>
      spark.read.parquet(vt.root.resolve(f).toString)
        .select($"k", $"_metadata.row_index").as[(Long, Long)].collect()
        .collect { case (k, pos) if gone(k) => (VersionedTable.fileKey(f), pos) }
    }
    val dir = vt.root.resolve("data").resolve("main-v1-dv-legacy0")
    pairs.toDF("fk", "pos").coalesce(1).write.parquet(dir.toString)
    val part = Files.list(dir).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val c1 = c0.copy(id = "main-v1-legacy00", parent = Some(c0.id), version = 1,
      message = "delete (merge-on-read), legacy layout", ts = c0.ts + 1,
      legacyDvFiles = Vector(vt.root.relativize(part).toString))
    CommitLog.claimVersionSlot(vt.root.resolve("locks"), "main", 1, store = vt.store)
    vt.store.put(vt.root.resolve("commits").resolve(c1.id + ".json"), CommitLog.toJson(c1))
    vt.store.put(vt.root.resolve("refs").resolve("main"), c1.id)
    vt.loadCommit(c1.id)
  }

  test("a legacy table with dvFiles reads, counts, exports and takes a retiring upsert") {
    // 4 files of 7,500 rows; the legacy vector deletes 1,100 rows of the
    // third file (past the inline cap) and 5 + 1 rows of the first two
    val vt = table("legacy", 30000, 4)
    val gone = (k: Long) => (k > 15000 && k <= 17200 && k % 2 == 0) || Set(3L, 5L, 7L, 9L, 11L, 7600L)(k)
    val c1 = legacyDelete(vt, gone)
    assert(c1.legacyDvFiles.size === 1 && c1.dvs.size === 3)
    assert(c1.dvs.values.map(_.cardinality).toSeq.sorted === Seq(1L, 5L, 1100L))
    val v0 = rows(1, 30000).as[(Long, Int)].collect().toSeq.sorted
    val v1 = v0.filterNot(r => gone(r._1))
    assert(snap(vt.read(spark, "main")) === v1)
    assert(vt.countRows(spark, "main") === v1.size.toLong)
    assert(snap(vt.readVersion(spark, "main", 0)) === v0)
    assert(snap(vt.readVersion(spark, "main", 1)) === v1)
    vt.exportDeltaLog("main")
    Seq(0L -> v0, 1L -> v1).foreach { case (v, want) =>
      assert(snap(DeltaLogReader.read(spark, vt.root.toString, Some(v))) === want, s"export v$v")
    }
    // a retiring upsert on top: 3 more dead rows of the first file stay
    // under 1/20, so it keeps its entry with the union descriptor
    val src = Seq((13L, -1), (15L, -1), (17L, -1), (40000L, 7)).toDF("k", "n")
    val c2 = vt.upsert(spark, src, Seq("k"))
    val v2 = (v1.filterNot(r => Set(13L, 15L, 17L)(r._1)) ++
      Seq((13L, -1), (15L, -1), (17L, -1), (40000L, 7))).sorted
    assert(c1.files.forall(c2.files.contains), "every base file keeps its entry")
    assert(c2.dvs.values.map(_.cardinality).toSeq.sorted === Seq(1L, 8L, 1100L))
    assert(c2.dvs.values.exists(d => d.storageType == "u" && d.cardinality == 1100L),
      "a converted vector past the inline cap is recorded as a .bin file")
    assert(!vt.getObject(s"commits/${c2.id}.json").contains("dvFiles"),
      "the new head must list no dvFiles")
    assert(vt.head("main").get.legacyDvFiles.isEmpty)
    assert(snap(vt.read(spark, "main")) === v2 && vt.countRows(spark, "main") === v2.size.toLong)
    assert(snap(vt.readVersion(spark, "main", 1)) === v1)
    vt.exportDeltaLog("main")
    assert(snap(DeltaLogReader.read(spark, vt.root.toString, Some(2L))) === v2)
    // the legacy part-file stays while v1 is retained, and goes after
    val part = c1.legacyDvFiles.head
    vt.vacuum(retainLast = 2)
    assert(Files.exists(vt.root.resolve(part)) && snap(vt.readVersion(spark, "main", 1)) === v1)
    vt.vacuum(retainLast = 1)
    assert(!Files.exists(vt.root.resolve(part)))
    assert(snap(vt.read(spark, "main")) === v2)
  }

  test("manifest format 3 round-trips inline and file descriptors; formats 1 and 2 stay readable") {
    val dir = java.nio.file.Paths.get(Tables.scratch("dvd_codec"))
    Files.createDirectories(dir)
    val inline = DeletionVectors.inlineDescriptor(Seq(0L, 3L, 70000L, 5000000000L))
    val file = DeletionVectors.DvDescriptor("u", "data" + "0" * 20, Some(1), 4242, 2000L)
    val entries = Vector(
      graft.vt.ManifestEntry("data/a.parquet", Some(1L), Some(9L), Map("k" -> (1.0, 2.0)),
        Map.empty, Map.empty, Some(inline)),
      graft.vt.ManifestEntry("data/b.parquet", Some(2L), Some(8L), Map.empty, Map.empty,
        Map("k" -> 1L), Some(file)),
      graft.vt.ManifestEntry("data/c.parquet", None, None, Map.empty, Map.empty, Map.empty))
    val p = dir.resolve("v3.manifest")
    graft.vt.Manifest.write(p, entries, Seq("data/gone.parquet"))
    assert(java.nio.ByteBuffer.wrap(Files.readAllBytes(p), 4, 4).getInt === 3)
    assert(graft.vt.Manifest.read(p) === graft.vt.ManifestFile(entries, Vector("data/gone.parquet")))
    assert(DeletionVectors.readPositions(dir, graft.vt.Manifest.read(p).entries.head.dv.get) ===
      Vector(0L, 3L, 70000L, 5000000000L))
    // the version 1 and 2 layouts: the uncompressed body, drops only in 2
    def legacy(version: Int, es: Seq[graft.vt.ManifestEntry], drops: Seq[String]): Path = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      def str(s: String): Unit = { val b = s.getBytes("UTF-8"); out.writeInt(b.length); out.write(b) }
      out.writeInt(0x474d4654); out.writeInt(version); out.writeInt(es.size)
      es.foreach { e =>
        str(e.file); out.writeLong(e.size.getOrElse(-1L)); out.writeLong(e.rows.getOrElse(-1L))
        out.writeInt(e.stats.size)
        e.stats.foreach { case (c, (mn, mx)) =>
          str(c); out.writeLong(java.lang.Double.doubleToRawLongBits(mn))
          out.writeLong(java.lang.Double.doubleToRawLongBits(mx))
        }
        out.writeInt(0)
        out.writeInt(e.nulls.size)
        e.nulls.foreach { case (c, n) => str(c); out.writeLong(n) }
      }
      if (version == 2) { out.writeInt(drops.size); drops.foreach(str) }
      out.flush()
      val f = dir.resolve(s"v$version.manifest")
      Files.write(f, bos.toByteArray)
      f
    }
    val plain = entries.map(_.copy(dv = None))
    assert(graft.vt.Manifest.read(legacy(1, plain, Nil)) === graft.vt.ManifestFile(plain, Vector.empty))
    assert(graft.vt.Manifest.read(legacy(2, plain, Seq("data/x.parquet"))) ===
      graft.vt.ManifestFile(plain, Vector("data/x.parquet")))
  }
}

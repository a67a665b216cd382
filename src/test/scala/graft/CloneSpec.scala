package graft

import org.apache.spark.sql.functions._

import graft.vt.VersionedTable

/** SHALLOW CLONE (Delta parity, zero-copy): the clone's first commit
  * references the source snapshot's files by absolute path — one metadata
  * write, no data movement, no footer reads — and diverges copy-on-write.
  */
class CloneSpec extends SparkSpec {
  import spark.implicits._

  private def df(lo: Int, hi: Int) =
    (lo to hi).map(i => (i.toLong, s"row$i")).toDF("k", "v")

  test("shallow clone is zero-copy metadata: external refs, seeded counts/sizes/stats") {
    val src = VersionedTable.create(Tables.scratch("clone_src"))
    src.write(df(1, 10).coalesce(1), "main", "v0", statsCols = Seq("k"))
    src.write(df(11, 20).coalesce(1), "main", "v1", mode = "append", statsCols = Seq("k"))
    val dst = VersionedTable.create(Tables.scratch("clone_dst"))
    val c = dst.shallowCloneFrom(src)
    // every referenced file is absolute, lives under the SOURCE root, and
    // the clone's own data dir holds nothing
    assert(c.files.nonEmpty)
    assert(c.files.forall(f => java.nio.file.Paths.get(f).isAbsolute &&
      f.startsWith(src.root.toString)))
    val dataDir = dst.root.resolve("data")
    // r20: the clone's own commit-metadata MANIFEST lives under data/
    // (vacuum-managed like any sidecar) — but no PARQUET may be copied
    assert(!java.nio.file.Files.exists(dataDir) ||
      java.nio.file.Files.walk(dataDir).filter(java.nio.file.Files.isRegularFile(_))
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .count() === 0L, "a SHALLOW clone must copy no data files")
    // rows identical to the source snapshot
    assert(dst.read(spark, "main").as[(Long, String)].collect().sorted
      === src.read(spark, "main").as[(Long, String)].collect().sorted)
    // rowCounts/fileSizes seeded from the source log — metadata COUNT works
    // without reading a single footer (every file has a logged count)
    assert(c.files.forall(c.rowCounts.contains), "cloned rowCounts must seed")
    assert(c.files.forall(c.fileSizes.contains), "cloned fileSizes must seed")
    assert(dst.countRows(spark, "main") === 20L)
    // stats pruning carried: a band read scans ONE of the two files
    val band = dst.readWhere(spark, "main", "k", 12, 18)
    assert(band.as[(Long, String)].collect().map(_._1).sorted === (12L to 18L).toArray)
    assert(band.inputFiles.length === 1, "cloned stats must still prune files")
    // VERSION AS OF on the clone source
    val dst0 = VersionedTable.create(Tables.scratch("clone_dst0"))
    dst0.shallowCloneFrom(src, versionAsOf = Some(0L))
    assert(dst0.read(spark, "main").count() === 10L)
  }

  test("clone diverges copy-on-write; clone vacuum never touches source data") {
    val src = VersionedTable.create(Tables.scratch("clone_div_src"))
    src.write(df(1, 10).coalesce(1), "main", "A", statsCols = Seq("k"))
    src.write(df(11, 20).coalesce(1), "main", "B", mode = "append", statsCols = Seq("k"))
    val dst = VersionedTable.create(Tables.scratch("clone_div_dst"))
    dst.shallowCloneFrom(src)
    val srcHead = src.head("main").get
    // append on the clone: local file next to the external refs
    dst.write(df(21, 25), "main", "clone-append", mode = "append")
    assert(dst.read(spark, "main").count() === 25L)
    assert(src.read(spark, "main").count() === 20L, "the source must not see clone writes")
    assert(src.head("main").get.id === srcHead.id)
    // COW delete on the clone localizes ONLY the touched file; the other
    // external ref stays shared
    dst.delete(spark, "k = 5", "main")
    val after = dst.head("main").get
    val external = after.files.filter(_.startsWith(src.root.toString))
    val local = after.files.filterNot(_.startsWith(src.root.toString))
    assert(external.nonEmpty, "untouched source files stay externally referenced")
    assert(local.nonEmpty, "the rewritten + appended files are local")
    assert(dst.read(spark, "main").count() === 24L)
    assert(src.read(spark, "main").count() === 20L)
    // vacuum on the clone sweeps only ITS OWN data dir: every source file
    // survives, and the source still reads
    dst.vacuum(retainLast = 1)
    assert(srcHead.files.forall(f => java.nio.file.Files.exists(src.root.resolve(f))),
      "clone vacuum must never delete source data")
    assert(src.read(spark, "main").count() === 20L)
  }

  test("clone carries table properties (CHECK constraints) and deletion vectors") {
    val src = VersionedTable.create(Tables.scratch("clone_dv_src"))
    src.write(df(1, 10), "main", "v0")
    src.addCheckConstraint(spark, "main", "k_positive", "k > 0")
    src.deleteWithVectors(spark, "k = 4", "main") // MOR delete: DV, no rewrite
    val dst = VersionedTable.create(Tables.scratch("clone_dv_dst"))
    val c = dst.shallowCloneFrom(src)
    // the MOR state clones: absolute file and DV refs, subtraction intact
    assert(c.dvs.nonEmpty && c.dvs.keys.forall(_.startsWith(src.root.toString)) &&
      c.dvs.values.forall(_.storageType != "u"))
    assert(dst.read(spark, "main").as[(Long, String)].collect().map(_._1).sorted
      === (1L to 10L).filterNot(_ == 4L).toArray)
    assert(dst.countRows(spark, "main") === 9L)
    // the constraint rode the props: a violating append on the CLONE refuses
    assert(dst.checkConstraints("main") === Map("k_positive" -> "k > 0"))
    intercept[Exception] {
      dst.write(Seq((-1L, "bad")).toDF("k", "v"), "main", "bad", mode = "append")
    }
  }

  test("shallow clone of a FOREIGN DELTA table: zero-copy import with stats/counts") {
    spark.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    spark.conf.set("spark.sql.catalog.dlite",
      classOf[graft.sources.DeltaLiteCatalog].getName)
    // build a real _delta_log: a vt table exported becomes a stock Delta table
    val delta = VersionedTable.create(Tables.scratch("clone_delta_src"))
    delta.write(df(1, 10).coalesce(1), "main", "A", statsCols = Seq("k"))
    delta.write(df(11, 20).coalesce(1), "main", "B", mode = "append",
      statsCols = Seq("k"))
    delta.exportDeltaLog("main")
    val dstRoot = Tables.scratch("clone_delta_dst")
    val out = graft.sources.VtUtilitySql.exec(spark,
      s"CREATE TABLE vt.`$dstRoot` SHALLOW CLONE dlite.`${delta.root}`").collect()
    assert(out.head.getLong(0) === 1L) // source delta version
    val dst = VersionedTable.open(dstRoot)
    val c = dst.head("main").get
    // zero-copy: absolute refs into the delta dir, nothing local
    assert(c.files.nonEmpty &&
      c.files.forall(f => f.startsWith(delta.root.toString)))
    assert(dst.read(spark, "main").as[(Long, String)].collect().sorted
      === (1 to 20).map(i => (i.toLong, s"row$i")).sorted)
    // numeric stats imported from the add actions: band read prunes to 1 file
    val band = dst.readWhere(spark, "main", "k", 12, 18)
    assert(band.as[(Long, String)].collect().map(_._1).sorted === (12L to 18L).toArray)
    assert(band.inputFiles.length === 1,
      "imported Delta stats must prune files on the clone")
    // row counts imported: metadata-only COUNT, no footer reads needed
    assert(c.files.forall(c.rowCounts.contains))
    assert(dst.countRows(spark, "main") === 20L)
    // the import is a normal vt table from here: branch + diverge
    dst.createBranch("exp", "main")
    dst.write(df(21, 22), "exp", "diverge", mode = "append")
    assert(dst.read(spark, "exp").count() === 22L)
    assert(dst.read(spark, "main").count() === 20L)
    // a PARTITIONED delta source refuses loudly toward the copying path
    // (its parquet files do not contain the partition columns)
    import graft.vt.DeltaLogFixture
    val partRoot = java.nio.file.Paths.get(Tables.scratch("clone_delta_part"))
    java.nio.file.Files.createDirectories(partRoot.resolve("_delta_log"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p",
        org.apache.spark.sql.types.StringType)))
    java.nio.file.Files.writeString(
      partRoot.resolve("_delta_log/00000000000000000000.json"),
      DeltaLogFixture.protocolLine() + "\n" +
        DeltaLogFixture.metaDataLine(schema.json, Seq("p")) + "\n" +
        DeltaLogFixture.addLine("p=a/part-0.parquet", 10L,
          partitionValues = Map("p" -> "a")) + "\n")
    val e = intercept[IllegalArgumentException] {
      VersionedTable.create(Tables.scratch("clone_delta_dst2"))
        .shallowCloneFromDelta(spark, partRoot.toString)
    }
    assert(e.getMessage.toLowerCase.contains("partitioned"))
  }

  test("clone of a clone: absolute refs resolve transitively, all three diverge independently") {
    val a = VersionedTable.create(Tables.scratch("clone_chain_a"))
    a.write(df(1, 6).coalesce(1), "main", "v0", statsCols = Seq("k"))
    val b = VersionedTable.create(Tables.scratch("clone_chain_b"))
    b.shallowCloneFrom(a)
    b.write(df(7, 8), "main", "b append", mode = "append")
    val c = VersionedTable.create(Tables.scratch("clone_chain_c"))
    c.shallowCloneFrom(b) // refs into A (via B's externals) AND into B (its local append)
    val cHead = c.head("main").get
    assert(cHead.files.exists(_.startsWith(a.root.toString)),
      "grand-source refs stay absolute into the ORIGINAL table")
    assert(cHead.files.exists(_.startsWith(b.root.toString)))
    assert(c.read(spark, "main").count() === 8L)
    c.write(df(9, 9), "main", "c append", mode = "append")
    assert((a.read(spark, "main").count(),
      b.read(spark, "main").count(),
      c.read(spark, "main").count()) === ((6L, 8L, 9L)))
    // metadata COUNT stays log-only down the chain
    assert(c.countRows(spark, "main") === 9L)
  }

  test("table_changes spans the clone boundary: v0 = the cloned snapshot as inserts") {
    val src = VersionedTable.create(Tables.scratch("clone_cdf_src"))
    src.write(df(1, 4), "main", "v0")
    val dst = VersionedTable.create(Tables.scratch("clone_cdf_dst"))
    dst.shallowCloneFrom(src)
    dst.write(df(5, 6), "main", "diverge", mode = "append")
    val feed = dst.tableChanges(spark, "main", 0, 1)
      .select($"k", $"_change_type", $"_commit_version")
      .as[(Long, String, Long)].collect().sorted
    assert(feed.forall(_._2 == "insert"))
    assert(feed.filter(_._3 == 0L).map(_._1).sorted === (1L to 4L).toArray,
      "the clone's v0 (external refs) feeds as the snapshot's inserts")
    assert(feed.filter(_._3 == 1L).map(_._1).sorted === Array(5L, 6L))
  }

  test("CHECK constraints round-trip the Delta log: export → configuration → import") {
    val src = VersionedTable.create(Tables.scratch("clone_ck_rt_src"))
    src.write(df(1, 6), "main", "v0")
    src.addCheckConstraint(spark, "main", "k_pos", "k > 0")
    src.setTableProperties("main", Map("team" -> "ml"))
    src.exportDeltaLog("main")
    // the exported metaData carries Delta's constraint keys + free props
    val snap = graft.vt.DeltaLogReader.snapshot(src.root.toString, None, Some(spark))
    assert(snap.configuration.get("delta.constraints.k_pos").contains("k > 0"))
    assert(snap.configuration.get("team").contains("ml"))
    // importing the export brings the constraint back, ENFORCED
    val dst = VersionedTable.create(Tables.scratch("clone_ck_rt_dst"))
    dst.shallowCloneFromDelta(spark, src.root.toString)
    assert(dst.checkConstraints("main") === Map("k_pos" -> "k > 0"))
    intercept[Exception] {
      dst.write(Seq((-1L, "bad")).toDF("k", "v"), "main", "bad", mode = "append")
    }
    dst.write(Seq((9L, "ok")).toDF("k", "v"), "main", "ok", mode = "append")
    assert(dst.read(spark, "main").count() === 7L)
    // a CDF export containing the constraint's metaData-ONLY version streams
    // it as silence: the feed over (constraint add v1, append v2) carries
    // exactly v2's inserts
    val cdf = VersionedTable.create(Tables.scratch("clone_ck_rt_cdf"))
    cdf.write(df(1, 3), "main", "v0")
    cdf.addCheckConstraint(spark, "main", "k_pos", "k > 0") // v1: metaData only
    cdf.write(df(4, 5), "main", "v2", mode = "append")
    cdf.exportDeltaLog("main", changeDataFeed = true)
    val feed = graft.vt.DeltaLogReader.changes(spark, cdf.root.toString, 1, 2)
      .select($"k", $"_commit_version").as[(Long, Long)].collect().sorted
    assert(feed === Array((4L, 2L), (5L, 2L)),
      s"the constraint version must feed as silence, got ${feed.mkString(",")}")
  }

  test("SQL: CREATE TABLE … SHALLOW CLONE … [VERSION AS OF n] via the utility parser") {
    spark.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val srcRoot = Tables.scratch("clone_sql_src")
    val src = VersionedTable.create(srcRoot)
    src.write(df(1, 6), "main", "v0")
    src.write(df(7, 9), "main", "v1", mode = "append")
    val dstRoot = Tables.scratch("clone_sql_dst")
    val out = graft.sources.VtUtilitySql.exec(spark,
      s"CREATE TABLE vt.`$dstRoot` SHALLOW CLONE vt.`$srcRoot`").collect()
    assert(out.head.getLong(0) === 1L) // source_version
    assert(spark.sql(s"SELECT count(*) FROM vt.`$dstRoot`").as[Long].head() === 9L)
    // pinned-version clone of v0
    val dst0Root = Tables.scratch("clone_sql_dst0")
    graft.sources.VtUtilitySql.exec(spark,
      s"CREATE TABLE vt.`$dst0Root` SHALLOW CLONE vt.`$srcRoot` VERSION AS OF 0").collect()
    assert(spark.sql(s"SELECT count(*) FROM vt.`$dst0Root`").as[Long].head() === 6L)
    // cloning onto an existing table refuses; cloning a table into itself refuses
    intercept[Exception] {
      graft.sources.VtUtilitySql.exec(spark,
        s"CREATE TABLE vt.`$dstRoot` SHALLOW CLONE vt.`$srcRoot`").collect()
    }
    intercept[Exception] {
      VersionedTable.open(srcRoot).shallowCloneFrom(VersionedTable.open(srcRoot))
    }
  }
}

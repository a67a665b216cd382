package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{sources => fs}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.sources.{VtDfScan, VtPruning}
import graft.vt.{Commit, DeltaLogFixture => F, DeltaLogReader, VersionedTable}

/** One scan stack for both table kinds: a native commit and the Delta
  * replay of its export prune to the same files under every window shape,
  * a foreign table's partition values prune through the same survival
  * test, and the runtime-skipping join plans the same scan over both. */
class ScanStackSpec extends SparkSpec {
  import spark.implicits._

  /** Four range-clustered files: k numeric, s string, n nullable (all
    * null in the first file, never null in the third). */
  private def seeded(name: String): VersionedTable = {
    val vt = VersionedTable.create(Tables.scratch(name))
    (0 until 4).foreach { i =>
      val rows = (1 to 25).map { j =>
        val k = i * 25L + j
        (k, s"${"abcd" (i)}$j", if (i == 0 || (i != 2 && j % 5 == 0)) None else Some(k))
      }
      vt.write(rows.toDF("k", "s", "n").coalesce(1), "main", s"part $i",
        mode = if (i == 0) "overwrite" else "append", statsCols = Seq("k", "s", "n"))
    }
    vt
  }

  private def replayOf(root: String): Commit =
    DeltaLogReader.asCommit(DeltaLogReader.snapshot(root, None, Some(spark)))

  test("a native commit and its Delta replay keep the same files under every window") {
    val vt = seeded("stack_windows")
    vt.exportDeltaLog("main")
    val native = vt.head("main").get
    val replay = replayOf(vt.root.toString)
    assert(replay.files.toSet === native.files.toSet)
    val windows: Seq[(String, Seq[fs.Filter], Int)] = Seq(
      ("range", Seq(fs.GreaterThanOrEqual("k", 30L), fs.LessThan("k", 60L)), 2),
      ("string range", Seq(fs.GreaterThan("s", "b"), fs.LessThanOrEqual("s", "c9")), 2),
      ("IS NULL", Seq(fs.IsNull("n")), 3),
      ("IS NOT NULL", Seq(fs.IsNotNull("n")), 3),
      ("IN", Seq(fs.In("k", Array(5L, 80L))), 2),
      ("window on an all-null column", Seq(fs.LessThan("n", 30L)), 1))
    windows.foreach { case (what, filters, kept) =>
      val onNative = VtPruning.prunedFiles(native, filters).toSet
      assert(onNative.size === kept, s"$what keeps $kept of 4 native files")
      assert(VtPruning.prunedFiles(replay, filters).toSet === onNative,
        s"$what must keep the same files on the native commit and its Delta replay")
    }
  }

  test("foreign partition values prune through the same survival test, nulls included") {
    val root = Paths.get(Tables.scratch("stack_parts"))
    Files.createDirectories(root)
    def add(bucket: Option[Int], name: String) = {
      val (f, size) = F.writeDataFile(root, Seq(1L, 2L).toDF("k"), name)
      F.addLine(f, size, Map("bucket" -> bucket.map(_.toString).orNull),
        stats = Some("""{"numRecords":2,"minValues":{"k":1},"maxValues":{"k":2},"nullCount":{"k":0}}"""))
    }
    val schema = Seq((0L, 0)).toDF("k", "bucket").schema
    F.writeCommit(root, 0, Seq(F.protocolLine(), F.metaDataLine(schema.json, Seq("bucket")),
      add(Some(0), "b0"), add(Some(1), "b1"), add(Some(2), "b2"), add(None, "bnull")))
    val replay = replayOf(root.toString)
    def kept(filters: fs.Filter*): Set[String] =
      VtPruning.prunedFiles(replay, filters).toSet
    assert(kept(fs.EqualTo("bucket", 1)) === Set("b1.parquet"))
    assert(kept(fs.In("bucket", Array(0, 2))) === Set("b0.parquet", "b2.parquet"))
    assert(kept(fs.GreaterThanOrEqual("bucket", 1)) === Set("b1.parquet", "b2.parquet"),
      "a null partition value fails every window")
    assert(kept(fs.IsNull("bucket")) === Set("bnull.parquet"))
    assert(kept(fs.IsNotNull("bucket")) === Set("b0.parquet", "b1.parquet", "b2.parquet"))
    // and the replay reads them row-exact
    assert(DeltaLogReader.read(spark, root.toString).where($"bucket".isNull).count() === 2L)
  }

  test("the ghost-proof runtime-skipping join plans the same scan through vt. and dlite.") {
    val vt = VersionedTable.create(Tables.scratch("stack_rt"))
    def part(lo: Long, hi: Long) = (lo to hi).map(i => (i, i * 10L)).toDF("k", "v").coalesce(1)
    vt.write(part(1, 100), "main", "A", statsCols = Seq("k"))
    vt.write(part(101, 200), "main", "B", mode = "append", statsCols = Seq("k"))
    vt.write(part(201, 300), "main", "C", mode = "append", statsCols = Seq("k"))
    vt.exportDeltaLog("main")
    spark.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    spark.conf.set("spark.sql.catalog.dlite", classOf[graft.sources.DeltaLiteCatalog].getName)
    val dimPath = Tables.scratch("stack_rt_dim")
    Seq((120L, "x"), (130L, "x"), (240L, "y")).toDF("dk", "grp")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("stack_dim")
    // ghost files A and C: only the runtime join-key filter can prune them
    val head = vt.head("main").get
    val ghosts = head.files.filterNot(f => head.stats(f)("k")._1 == 101.0)
    val moved = ghosts.map { f =>
      val tmp = vt.root.resolve(f.replace('/', '_') + ".ghost")
      Files.move(vt.root.resolve(f), tmp); (f, tmp)
    }
    try {
      val plans = Seq("vt", "dlite").map { cat =>
        val q = spark.sql(
          s"""SELECT sum(f.v) AS s FROM $cat.`${vt.root}` f JOIN stack_dim d ON f.k = d.dk
             |WHERE d.grp = 'x'""".stripMargin)
        // collect q itself: its executed plan holds the runtime-filtered scan
        assert(q.collect().map(_.getLong(0)).toSeq === Seq(2500L), s"$cat join")
        val scanExec = new AdaptiveSparkPlanHelper {}
          .collect(q.queryExecution.executedPlan) { case b: BatchScanExec => b }.head
        assert(scanExec.runtimeFilters.nonEmpty, s"$cat: the join must inject a runtime filter")
        (scanExec.scan.getClass, scanExec.scan.asInstanceOf[VtDfScan].plannedFileCount)
      }
      assert(plans === Seq((classOf[VtDfScan], 1), (classOf[VtDfScan], 1)))
    } finally moved.foreach { case (f, tmp) => Files.move(tmp, vt.root.resolve(f)) }
  }
}

package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{sources => fs}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col

import graft.sources.{VtDfScan, VtMorScan, VtPruning}
import graft.vt.{Commit, DeltaLogFixture => F, DeltaLogReader, VersionedTable}

/** One scan stack for both table kinds: a native commit and the Delta
  * replay of its export prune to the same files under every window shape,
  * a foreign table's partition values prune through the same survival
  * test, and the runtime-skipping join plans the same scan over both and
  * over every snapshot shape — partitioned, renamed, DV-carrying. */
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
    // ghost files A and C: only the runtime join-key filter can prune them
    val head = vt.head("main").get
    val ghosts = head.files.filterNot(f => head.stats(f)("k")._1 == 101.0)
    val plans = Seq("vt", "dlite").map { cat =>
      val (rows, scan, planned) =
        ghostJoin(s"$cat.`${vt.root}`", "k", "sum(f.v) AS s", vt.root, ghosts)
      assert(rows.map(_.getLong(0)) === Seq(2500L), s"$cat join")
      (scan, planned)
    }
    assert(plans === Seq((classOf[VtDfScan], 1), (classOf[VtDfScan], 1)))
  }

  /** A foreign Delta fixture of three files, k in [1, 100], [101, 200] and
    * [201, 300] with v = 10k and `k` stats, one per partition value
    * `bucket` 0, 1, 2; `mapped` stores k and v under renamed physical
    * names (name mode, no parquet field ids). Returns the root and the
    * files of buckets 0 and 2. */
  private def foreignFixture(name: String, mapped: Boolean)
      : (java.nio.file.Path, Seq[String]) = {
    val root = Paths.get(Tables.scratch(name))
    Files.createDirectories(root)
    val phys = if (mapped) Map("k" -> "col-k", "v" -> "col-v") else Map.empty[String, String]
    def file(b: Int) = {
      val df = (b * 100L + 1 to b * 100L + 100).map(i => (i, i * 10L)).toDF("k", "v")
      val (f, size) = F.writeDataFile(root,
        df.select(df.columns.map(c => col(c).as(phys.getOrElse(c, c))).toIndexedSeq: _*), s"b$b")
      val pk = phys.getOrElse("k", "k")
      (f, F.addLine(f, size, Map("bucket" -> b.toString), stats = Some(
        s"""{"numRecords":100,"minValues":{"$pk":${b * 100 + 1}},""" +
          s""""maxValues":{"$pk":${b * 100 + 100}},"nullCount":{"$pk":0}}""")))
    }
    val files = (0 to 2).map(file)
    val schema = Seq((0L, 0L, 0)).toDF("k", "v", "bucket").schema
    F.writeCommit(root, 0, Seq(F.protocolLine(minReader = 2, minWriter = 5),
      F.metaDataLine((if (mapped) F.columnMappedSchema(schema, phys) else schema).json,
        Seq("bucket"), if (mapped) Map("delta.columnMapping.mode" -> "name") else Map.empty)) ++
      files.map(_._2))
    (root, Seq(files(0)._1, files(2)._1))
  }

  /** The runtime-skipping join of `table` against a dimension selecting
    * keys 120 and 130, with `ghosts` (root-relative) moved away so only
    * the runtime join-key filter can prune them: the join's rows and the
    * scan it planned, with that scan's planned file count. */
  private def ghostJoin(table: String, key: String, select: String,
                        root: java.nio.file.Path, ghosts: Seq[String])
      : (Seq[org.apache.spark.sql.Row], Class[_], Int) = {
    spark.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    spark.conf.set("spark.sql.catalog.dlite", classOf[graft.sources.DeltaLiteCatalog].getName)
    val dimPath = Tables.scratch("stack_rt_dim")
    Seq((120L, "x"), (130L, "x"), (240L, "y")).toDF("dk", "grp")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("stack_dim")
    val moved = ghosts.map { f =>
      val tmp = root.resolve(f.replace('/', '_') + ".ghost")
      Files.move(root.resolve(f), tmp); (f, tmp)
    }
    try {
      val q = spark.sql(
        s"""SELECT $select FROM $table f JOIN stack_dim d ON f.$key = d.dk
           |WHERE d.grp = 'x'""".stripMargin)
      val rows = q.collect().toSeq
      val scanExec = new AdaptiveSparkPlanHelper {}
        .collect(q.queryExecution.executedPlan) { case b: BatchScanExec => b }.head
      assert(scanExec.runtimeFilters.nonEmpty, s"$table: the join must inject a runtime filter")
      val planned = scanExec.scan match {
        case s: VtDfScan => s.plannedFileCount
        case s: VtMorScan => s.plannedFileCount
        case other => fail(s"$table planned $other, not the runtime-filtering batch")
      }
      (rows, scanExec.scan.getClass, planned)
    } finally moved.foreach { case (f, tmp) => Files.move(tmp, root.resolve(f)) }
  }

  test("ghost-proof runtime skipping: a partitioned foreign snapshot through dlite.") {
    val (root, ghosts) = foreignFixture("stack_rt_parts", mapped = false)
    val (rows, scan, planned) = ghostJoin(s"dlite.`$root`", "k",
      "sum(f.v) AS s, min(f.bucket) AS b", root, ghosts)
    assert(rows.map(r => (r.getLong(0), r.getInt(1))) === Seq((2500L, 1)))
    assert((scan, planned) === (classOf[VtDfScan], 1))
  }

  test("ghost-proof runtime skipping: a renamed name-mode snapshot without field ids through dlite.") {
    val (root, ghosts) = foreignFixture("stack_rt_renamed", mapped = true)
    val (rows, scan, planned) = ghostJoin(s"dlite.`$root`", "k",
      "sum(f.v) AS s, min(f.bucket) AS b", root, ghosts)
    assert(rows.map(r => (r.getLong(0), r.getInt(1))) === Seq((2500L, 1)))
    assert((scan, planned) === (classOf[VtDfScan], 1))
  }

  test("ghost-proof runtime skipping: a DV-carrying native table after renameColumn through vt.") {
    val vt = VersionedTable.create(Tables.scratch("stack_rt_mor"))
    def part(lo: Long, hi: Long) = (lo to hi).map(i => (i, i * 10L)).toDF("k", "v").coalesce(1)
    vt.write(part(1, 100), "main", "A", statsCols = Seq("k"))
    vt.write(part(101, 200), "main", "B", mode = "append", statsCols = Seq("k"))
    vt.write(part(201, 300), "main", "C", mode = "append", statsCols = Seq("k"))
    vt.deleteWithVectors(spark, "k = 120", "main")
    vt.renameColumn(spark, "main", "k", "key")
    val head = vt.head("main").get
    assert(head.dvs.nonEmpty)
    val ghosts = head.files.filterNot(f => head.stats(f)("key")._1 == 101.0)
    val (rows, scan, planned) = ghostJoin(s"vt.`${vt.root}`", "key", "sum(f.v) AS s",
      vt.root, ghosts)
    assert(rows.map(_.getLong(0)) === Seq(1300L), "the deleted k = 120 must stay deleted")
    assert((scan, planned) === (classOf[VtMorScan], 1))
  }

  test("partition filters are row-exact over a foreign snapshot through dlite. and delta-lite, null partition included") {
    val root = Paths.get(Tables.scratch("stack_part_exact"))
    Files.createDirectories(root)
    def add(bucket: Option[Int], lo: Long, name: String) = {
      val (f, size) = F.writeDataFile(root, (lo until lo + 3).toDF("k"), name)
      F.addLine(f, size, Map("bucket" -> bucket.map(_.toString).orNull), stats = Some(
        s"""{"numRecords":3,"minValues":{"k":$lo},"maxValues":{"k":${lo + 2}},"nullCount":{"k":0}}"""))
    }
    val schema = Seq((0L, 0)).toDF("k", "bucket").schema
    F.writeCommit(root, 0, Seq(F.protocolLine(), F.metaDataLine(schema.json, Seq("bucket")),
      add(Some(0), 1, "b0"), add(Some(1), 4, "b1"), add(Some(2), 7, "b2"),
      add(None, 10, "bnull")))
    spark.conf.set("spark.sql.catalog.dlite", classOf[graft.sources.DeltaLiteCatalog].getName)
    // the bucket column is declared non-null, yet holds the null partition
    def ks(where: String): Seq[Long] = {
      val q = spark.sql(s"SELECT k FROM dlite.`$root` WHERE $where")
      val got = q.as[Long].collect().sorted.toSeq
      assert(new AdaptiveSparkPlanHelper {}.collect(q.queryExecution.executedPlan) {
        case b: BatchScanExec => b.scan }.exists(_.isInstanceOf[VtDfScan]), where)
      assert(spark.read.format("delta-lite").option("path", root.toString).load()
        .where(where).select("k").as[Long].collect().sorted.toSeq === got, s"delta-lite: $where")
      got
    }
    assert(ks("bucket <> 1") === (1L to 3L) ++ (7L to 9L))
    assert(ks("bucket IS NULL") === (10L to 12L))
    assert(ks("bucket IN (0, 2)") === (1L to 3L) ++ (7L to 9L))
    assert(ks("bucket = 1 OR k > 5") === (4L to 12L))
  }
}

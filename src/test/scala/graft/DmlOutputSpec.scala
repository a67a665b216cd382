package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.vt.{Commit, MergeClause, VersionedTable}

/** Row-level DML lands its output sized by the bytes it reads: one data
  * file per `spark.sql.files.maxPartitionBytes` of the touched files'
  * logged sizes plus the source's size estimate, not one per scan split or
  * shuffle partition, and never a file that holds no row.
  *
  * The table holds 1,000 rows in four files of 250 keys each; every
  * statement below changes more than 1/20 of the rows of each file it
  * touches, so it rewrites them. */
class DmlOutputSpec extends SparkSpec {
  import spark.implicits._

  private val MaxPartitionBytes = "spark.sql.files.maxPartitionBytes"

  private def rows(lo: Long, hi: Long): DataFrame =
    (lo to hi).map(i => (i, f"key$i%05d", (i % 7).toInt)).toDF("k", "s", "n")

  private def table(name: String): VersionedTable = {
    val vt = VersionedTable.create(Tables.scratch(s"dml_out_$name"))
    vt.write(rows(1, 1000).repartitionByRange(4, (($"k" - 1) / 250).cast("int")),
      "main", "v0", statsCols = Seq("k", "s"))
    assert(vt.head("main").get.files.size === 4)
    vt
  }

  private def snap(df: DataFrame): Seq[(Long, String, Int)] =
    df.select("k", "s", "n").as[(Long, String, Int)].collect().toSeq.sorted

  /** The files `c` adds to its parent's list. */
  private def added(vt: VersionedTable, c: Commit): Vector[String] =
    c.files.filterNot(vt.loadCommit(c.parent.get).files.toSet)

  /** 40 updates across the first two files, 10 inserts. */
  private val mergeSource: DataFrame =
    rows(231, 270).withColumn("n", lit(100)).unionByName(rows(5001, 5010))

  /** A string-keyed MERGE of [[mergeSource]]. */
  private def merge(vt: VersionedTable, branch: String): Commit =
    vt.mergeInto(spark, mergeSource, "t.s = s.s",
      matched = Seq(MergeClause.update(Map("n" -> "s.n"))),
      notMatched = Seq(MergeClause.insert(Map("k" -> "s.k", "s" -> "s.s", "n" -> "s.n"))),
      branch = branch)

  test("each row-level statement on a small table adds exactly one data file") {
    val vt = table("one")
    val m = merge(vt, "main")
    val u = vt.applyCdc(spark, rows(731, 745).withColumn("n", lit(200))
      .unionByName(rows(6001, 6005)), None, Seq("k"))
    val up = vt.update(spark, "k >= 700 AND k <= 800", Map("n" -> "n + 1000"))
    val d = vt.delete(spark, "(k >= 100 AND k < 130) OR (k >= 900 AND k < 930)")
    Seq(m -> 2, u -> 1, up -> 2, d -> 2).foreach { case (c, touched) =>
      val parent = vt.loadCommit(c.parent.get)
      assert(c.dvs === parent.dvs, s"${c.message} must rewrite, not retire")
      assert(parent.files.count(f => !c.files.contains(f)) === touched,
        s"${c.message} must rewrite $touched file(s)")
      assert(added(vt, c).size === 1, s"${c.message} added ${added(vt, c)}")
    }
    val want = Seq(rows(1, 1000), rows(5001, 5010), rows(6001, 6005))
      .flatMap(_.as[(Long, String, Int)].collect())
      .map { case (k, s, n) =>
        val merged = if (k >= 231 && k <= 270) 100 else n
        val upserted = if (k >= 731 && k <= 745) 200 else merged
        (k, s, if (k >= 700 && k <= 800) upserted + 1000 else upserted)
      }
      .filterNot { case (k, _, _) => (k >= 100 && k < 130) || (k >= 900 && k < 930) }
      .toSeq.sorted
    assert(snap(vt.read(spark, "main")) === want)
    assert(vt.countRows(spark, "main") === want.size.toLong)
  }

  test("a statement reading more than maxPartitionBytes lands one file per maxPartitionBytes") {
    val vt = table("split")
    val parent = vt.head("main").get
    val before = snap(vt.read(spark, "main"))
    vt.createBranch("probe", "main")
    val probe = merge(vt, "probe")
    assert(added(vt, probe).size === 1)
    val rewritten = parent.files.filterNot(probe.files.toSet)
    assert(rewritten.size === 2 && probe.dvs === parent.dvs)
    // the statement's input: the rewritten files plus the source estimate
    val bytes = rewritten.map(parent.fileSizes).sum +
      mergeSource.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    val per = bytes / 3 + 1
    val bound = (bytes + per - 1) / per
    assert(bound === 3L)
    val old = spark.conf.getOption(MaxPartitionBytes)
    spark.conf.set(MaxPartitionBytes, per.toString)
    val c = try merge(vt, "main")
      finally old.fold(spark.conf.unset(MaxPartitionBytes))(spark.conf.set(MaxPartitionBytes, _))
    val landed = added(vt, c)
    assert(landed.size > 1 && landed.size <= bound, s"landed $landed for $bytes bytes")
    assert(landed.forall(f => c.rowCounts(f) > 0))
    assert(snap(vt.read(spark, "main")) === snap(vt.read(spark, "probe")))
    assert(vt.countRows(spark, "main") === vt.countRows(spark, "probe"))
    assert(snap(vt.readVersion(spark, "main", parent.version)) === before)
    assert(snap(vt.readVersion(spark, "main", c.version)) === snap(vt.read(spark, "probe")))
  }

  test("a delete that empties a touched file lands no file for it and no 0-row entry") {
    val vt = table("empty")
    val parent = vt.head("main").get
    val first = parent.files.filter(f => parent.stats(f)("k")._2 <= 250.0)
    assert(first.size === 1)
    val whole = vt.delete(spark, "k <= 250")
    assert(whole.files === parent.files.filterNot(first.toSet), "the emptied file is dropped")
    assert(whole.rowCounts.values.forall(_ > 0), s"0-row entry: ${whole.rowCounts}")
    val dirs = Files.list(vt.root.resolve("data"))
    try {
      val left = dirs.iterator().asScala
        .filter(d => Files.isDirectory(d) && d.getFileName.toString.startsWith("main-v1-"))
        .flatMap(d => Files.list(d).iterator().asScala).toVector
      assert(left.isEmpty, s"the delete left a commit directory behind: $left")
    }
    finally dirs.close()
    assert(vt.readWhere(spark, "main", "k", 300.0, 310.0).inputFiles.length === 1)
    // one touched file emptied, one kept: one file, every row of it live
    val mixed = vt.delete(spark, "k <= 510")
    assert(added(vt, mixed).size === 1)
    assert(mixed.rowCounts.values.forall(_ > 0) && mixed.rowCounts(added(vt, mixed).head) === 240L)
    assert(snap(vt.read(spark, "main")).map(_._1) === (511L to 1000L))
    assert(vt.countRows(spark, "main") === 490L)
    assert(vt.readVersion(spark, "main", 0).count() === 1000L)
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.vt.{Commit, DeltaLogReader, MergeClause, VersionedTable}

/** Row-level DML (upsert/applyCdc, mergeInto, update) retires a touched
  * file's changed rows with a deletion vector while its dead rows stay at
  * or below 1/20 of its rows, and rewrites the file past that.
  *
  * Each statement runs on two copies of one 1,000-row table: four files of
  * exactly 250 rows, where the statements below change at most 12 rows of
  * a file and so retire them, and 100 files of 10 rows, where any touched
  * file crosses 1/20 and is rewritten. Every read of the two
  * copies must agree: snapshot, `countRows`, SQL `COUNT(*)`, time travel,
  * the change feeds and (for the retiring copy) its Delta export. */
class RetireOrRewriteSpec extends SparkSpec {
  import spark.implicits._

  private def rows(lo: Long, hi: Long): DataFrame =
    (lo to hi).map(i => (i, s"v$i", (i % 7).toInt)).toDF("k", "v", "n")

  /** 1,000 rows in `files` files of equal key blocks. */
  private def table(name: String, files: Int): VersionedTable = {
    val vt = VersionedTable.create(Tables.scratch(s"ror_$name"))
    val block = (1000 / files).toLong
    vt.write(rows(1, 1000).repartitionByRange(files, (($"k" - 1) / block).cast("int")),
      "main", "v0", statsCols = Seq("k", "v"), bloomCols = Seq("k"))
    vt
  }

  private def snap(df: DataFrame): Seq[(Long, String, Int)] =
    df.select("k", "v", "n").as[(Long, String, Int)].collect().toSeq.sorted

  private def cdc(df: DataFrame): Seq[(String, Long, String, Int)] =
    df.select("change_type", "k", "v", "n").as[(String, Long, String, Int)]
      .collect().toSeq.sorted

  private def sqlCount(vt: VersionedTable): Long = {
    spark.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    spark.sql(s"SELECT count(*) FROM vt.`${vt.root}`").as[Long].head()
  }

  /** Run `stmt` on a retiring and a rewriting copy and check that they
    * agree; returns the retiring copy. */
  private def bothSides(name: String)(stmt: VersionedTable => Commit): VersionedTable = {
    val dv = table(s"${name}_dv", 4)
    val cow = table(s"${name}_cow", 100)
    val (d0, c0) = (dv.head("main").get, cow.head("main").get)
    assert(d0.files.forall(f => d0.rowCounts(f) == 250L))
    val d1 = stmt(dv)
    val c1 = stmt(cow)
    // retiring side: every base file keeps its stats and bloom bits; each
    // touched base file carries one descriptor counting its retired rows
    assert(d0.files.forall(d1.files.contains), s"a base file was rewritten: ${d1.files}")
    d0.files.foreach { f =>
      assert(d1.stats(f) === d0.stats(f) && d1.strStats(f) === d0.strStats(f))
      assert(d1.rowCounts(f) === 250L)
    }
    assert(d0.bloomFiles.forall(d1.bloomFiles.contains), "bloom sidecars carry")
    assert(d1.dvs.nonEmpty && d1.dvs.keySet.subsetOf(d0.files.toSet),
      s"one descriptor per touched base file: ${d1.dvs.keys}")
    assert(d1.dvs.valuesIterator.map(_.cardinality).sum ===
      1000L - dv.readCommit(spark, d1.copy(files = d0.files)).count())
    // rewriting side: no vector, touched files replaced
    assert(c1.dvs === c0.dvs)
    assert(!c0.files.forall(c1.files.contains), "the rewriting copy rewrote nothing")
    // reads agree
    val want = snap(cow.read(spark, "main"))
    assert(snap(dv.read(spark, "main")) === want)
    assert(dv.countRows(spark, "main") === want.size.toLong)
    assert(cow.countRows(spark, "main") === want.size.toLong)
    assert(sqlCount(dv) === want.size.toLong && sqlCount(cow) === want.size.toLong)
    Seq(0L, 1L).foreach(v => assert(snap(dv.readVersion(spark, "main", v)) ===
      snap(cow.readVersion(spark, "main", v)), s"time travel to v$v"))
    // change feeds report the same inserted and deleted rows
    assert(cdc(dv.changes(spark, "main", 0, 1)) === cdc(cow.changes(spark, "main", 0, 1)))
    assert(cdc(dv.changesFeed(spark, "main", 0, 1)) ===
      cdc(cow.changesFeed(spark, "main", 0, 1)))
    assert(cdc(dv.changes(spark, "main", 0, 1)).nonEmpty)
    // the Delta export replays both versions
    dv.exportDeltaLog("main")
    Seq(0L, 1L).foreach(v => assert(
      snap(DeltaLogReader.read(spark, dv.root.toString, Some(v))) ===
        snap(dv.readVersion(spark, "main", v)), s"Delta export v$v"))
    // compaction materializes the vectors
    val cc = dv.compact(spark, "main", numFiles = 2)
    assert(cc.dvs.isEmpty && snap(dv.read(spark, "main")) === want)
    assert(dv.countRows(spark, "main") === want.size.toLong)
    dv
  }

  // keys 3 per 250-row file, plus rows past the table
  private val spread = Seq(10L, 120L, 240L, 260L, 400L, 499L, 510L, 700L, 750L, 777L, 901L, 999L)

  test("upsert retires replaced rows with one deletion vector; reads equal the rewrite") {
    bothSides("upsert") { vt =>
      val src = rows(1, 1000).where($"k".isin(spread: _*))
        .withColumn("v", concat($"v", lit("-new")))
        .unionByName(rows(1001, 1010))
      vt.upsert(spark, src, Seq("k"))
    }
  }

  test("applyCdc with delete keys retires both; an unchanged upsert row cancels in CDC") {
    bothSides("cdc") { vt =>
      val up = rows(1, 1000).where($"k".isin(10L, 260L, 510L, 760L))
        .withColumn("n", $"n" + 100)
        .unionByName(rows(1, 1000).where($"k" === 777L)) // same values: no change
      val del = Seq(20L, 270L, 520L, 770L, 990L, 5000L).toDF("k")
      vt.applyCdc(spark, up, Some(del), Seq("k"))
    }
  }

  test("mergeInto retires updated, deleted and by-source rows; inserts land new") {
    bothSides("merge") { vt =>
      val src = spread.map(k => (k, if (k % 2 == 0) "u" else "d")).toDF("k", "op")
        .unionByName(Seq((2001L, "i"), (2002L, "i")).toDF("k", "op"))
      vt.mergeInto(spark, src, "t.k = s.k",
        matched = Seq(
          MergeClause.delete(Some("s.op = 'd'")),
          MergeClause.update(Map("v" -> "concat(t.v, '-m')", "n" -> "t.n + 10"))),
        notMatched = Seq(MergeClause.insert(Map("k" -> "s.k", "v" -> "s.op", "n" -> "0"))),
        notMatchedBySource = Seq(
          MergeClause.update(Map("n" -> "-1"), Some("t.k % 200 = 50")),
          MergeClause.delete(Some("t.k % 200 = 150"))))
    }
  }

  test("update retires matched rows and lands their images in one new file") {
    bothSides("update") { vt =>
      vt.update(spark, "k % 100 = 7", Map("v" -> "concat(v, '!')", "n" -> "n + 100"))
    }
  }

  test("dead rows past 1/20 of a file, old vectors included, turn the next statement into a rewrite") {
    val vt = table("threshold_dv", 4)
    val cow = table("threshold_cow", 100)
    val c0 = vt.head("main").get
    def first(t: VersionedTable) = t.update(spark, "k <= 10", Map("n" -> "n + 1"))
    // 10 dead of 250: retired
    val c1 = first(vt)
    first(cow)
    assert(c0.files.forall(c1.files.contains) && c1.dvs.values.map(_.cardinality).toSeq === Seq(10L))
    // 3 more rows of the same file: 13 dead > 250 / 20, so it is rewritten
    // (its old vector materialized); the other three files stay put
    def second(t: VersionedTable) =
      t.upsert(spark, rows(1, 1000).where($"k".isin(11L, 12L, 13L))
        .withColumn("v", lit("x")), Seq("k"))
    val c2 = second(vt)
    second(cow)
    val firstFile = c0.files.find(f => c0.stats(f)("k")._1 == 1.0).get
    assert(!c2.files.contains(firstFile), "the hot file must be rewritten")
    assert(c0.files.filterNot(_ == firstFile).forall(c2.files.contains))
    assert(c2.dvs === c1.dvs - firstFile,
      "a rewrite adds no vector, and the rewritten file's leaves with its entry")
    assert(snap(vt.read(spark, "main")) === snap(cow.read(spark, "main")))
    assert(vt.countRows(spark, "main") === 1000L)
    assert(snap(vt.readVersion(spark, "main", 1)) === snap(cow.readVersion(spark, "main", 1)))
    assert(cdc(vt.changes(spark, "main", 1, 2)) === cdc(cow.changes(spark, "main", 1, 2)))
  }

  test("a branch that retired rows merges by the rules of a vector delete plus an append") {
    def changed(keys: Seq[Long]) =
      rows(1, 1000).where($"k".isin(keys: _*)).withColumn("v", lit("new"))
    // the same change, made by upsert and by a vector delete plus an append
    def viaUpsert(t: VersionedTable, b: String, keys: Seq[Long]) =
      t.upsert(spark, changed(keys), Seq("k"), b)
    def viaVectors(t: VersionedTable, b: String, keys: Seq[Long]) = {
      t.deleteWithVectors(spark, s"k IN (${keys.mkString(", ")})", b)
      t.write(changed(keys), b, "append", mode = "append")
    }
    val outcomes = Seq(viaUpsert _, viaVectors _).zipWithIndex.map { case (change, i) =>
      val vt = table(s"branch_merge_$i", 4)
      // main appends: the merge unions both sides
      vt.createBranch("b", "main")
      change(vt, "b", Seq(10L, 260L, 510L))
      vt.write(rows(2001, 2003), "main", "main append", mode = "append")
      vt.merge("b", "main")
      val merged = snap(vt.read(spark, "main"))
      val count = vt.countRows(spark, "main")
      // main rewrites a base file (copy-on-write delete): the merge conflicts
      vt.createBranch("c", "main")
      change(vt, "c", Seq(20L, 270L, 520L))
      vt.delete(spark, "k = 300", "main")
      val conflict = intercept[IllegalStateException](vt.merge("c", "main"))
      assert(conflict.getMessage.contains("merge conflict"))
      (merged, count)
    }
    assert(outcomes(0) === outcomes(1))
    assert(outcomes(0)._2 === 1003L)
    assert(outcomes(0)._1.filter(r => Set(10L, 260L, 510L)(r._1)).forall(_._2 == "new"))
  }

  test("two branches that change rows of one base file conflict on merge, retiring or rewriting") {
    def changed(keys: Seq[Long], v: String) =
      rows(1, 1000).where($"k".isin(keys: _*)).withColumn("v", lit(v))
    Seq(4, 100).foreach { files =>
      val vt = table(s"same_file_$files", files)
      def conflicts(from: String): Unit = {
        val e = intercept[IllegalStateException](vt.merge(from, "main"))
        assert(e.getMessage.contains("merge conflict"), s"$files files: ${e.getMessage}")
      }
      Seq("a", "b", "c", "d", "e").foreach(vt.createBranch(_, "main"))
      // both branches upsert key 10: a union would keep two rows for it
      vt.upsert(spark, changed(Seq(10L), "a"), Seq("k"), "a")
      vt.upsert(spark, changed(Seq(10L), "b"), Seq("k"), "b")
      vt.merge("a", "main") // fast-forward
      conflicts("b")
      // different keys of one file: file-granular, as copy-on-write is
      vt.update(spark, "k = 3", Map("v" -> "'c'"), "c")
      vt.mergeInto(spark, Seq(4L).toDF("k"), "t.k = s.k",
        matched = Seq(MergeClause.update(Map("v" -> "'d'"))), branch = "d")
      conflicts("c")
      conflicts("d")
      // a vector delete plus an append is judged the same way
      vt.deleteWithVectors(spark, "k = 5", "e")
      vt.write(changed(Seq(5L), "e"), "e", "append", mode = "append")
      conflicts("e")
      assert(snap(vt.read(spark, "main")).filter(_._1 <= 10L).map(_._2) ===
        (1L to 10L).map(k => if (k == 10L) "a" else s"v$k"))
      assert(vt.countRows(spark, "main") === 1000L)
      if (files == 4) {
        // two vector deletes of one file still compose
        vt.createBranch("f", "main")
        vt.deleteWithVectors(spark, "k = 6", "f")
        vt.deleteWithVectors(spark, "k IN (6, 7)", "main")
        vt.merge("f", "main")
        assert(vt.countRows(spark, "main") === 998L)
        // upserts of different base files still merge
        Seq("g", "h").foreach(vt.createBranch(_, "main"))
        vt.upsert(spark, changed(Seq(260L), "g"), Seq("k"), "g")
        vt.upsert(spark, changed(Seq(510L), "h"), Seq("k"), "h")
        vt.merge("g", "main")
        vt.merge("h", "main")
        val got = snap(vt.read(spark, "main")).map(r => r._1 -> r._2).toMap
        assert(got.size === 998 && got(260L) === "g" && got(510L) === "h" && got(10L) === "a")
        assert(vt.countRows(spark, "main") === 998L)
      }
    }
  }

  test("a CHECK violation in retiring upsert, merge and update images still refuses") {
    val vt = table("check", 4)
    vt.addCheckConstraint(spark, "main", "n_nonneg", "n >= 0")
    val h = vt.head("main").get
    val bad = rows(1, 1000).where($"k".isin(10L, 260L)).withColumn("n", lit(-1))
    intercept[Exception](vt.upsert(spark, bad, Seq("k")))
    intercept[Exception](vt.mergeInto(spark, Seq(10L).toDF("k"), "t.k = s.k",
      matched = Seq(MergeClause.update(Map("n" -> "-5")))))
    intercept[Exception](vt.update(spark, "k = 10", Map("n" -> "-2")))
    assert(vt.head("main").get.id === h.id, "a refused statement commits nothing")
    assert(vt.countRows(spark, "main") === 1000L)
    // a valid statement on the same rows still retires them
    val ok = vt.upsert(spark, bad.withColumn("n", lit(3)), Seq("k"))
    assert(ok.dvs.size === 2 && ok.dvs.values.forall(_.cardinality == 1L) &&
      h.files.forall(ok.files.contains))
  }

  test("a non-deterministic statement rewrites the files it touches instead of retiring rows") {
    val vt = table("nondet", 4)
    val c0 = vt.head("main").get
    // rand() < 2 always holds, but is evaluated anew by every pass
    val c1 = vt.update(spark, "k = 10 AND rand() < 2", Map("n" -> "n + 1"))
    assert(c1.dvs.isEmpty && c0.files.count(c1.files.contains) === 3)
    val c2 = vt.mergeInto(spark, Seq(260L).toDF("k"), "t.k = s.k",
      matched = Seq(MergeClause.update(Map("n" -> "t.n + 1"), Some("rand() < 2"))))
    assert(c2.dvs.isEmpty && c0.files.count(c2.files.contains) === 2)
    assert(vt.read(spark, "main").where($"k".isin(10L, 260L)).select("n").as[Int]
      .collect().sorted === Array(10 % 7 + 1, 260 % 7 + 1).sorted)
    // the same statements without rand() retire
    assert(vt.update(spark, "k = 510", Map("n" -> "n + 1")).dvs.size === 1)
  }

  test("string-keyed upsert prunes files by strStats: a moved-away disjoint file is carried") {
    val vt = VersionedTable.create(Tables.scratch("ror_str_ghost"))
    def part(lo: Int, hi: Int) =
      (lo to hi).map(i => (f"id-$i%04d", i.toLong)).toDF("k", "v").coalesce(1)
    vt.write(part(1, 10), "main", "A", statsCols = Seq("k"))
    vt.write(part(11, 20), "main", "B", mode = "append", statsCols = Seq("k"))
    vt.write(part(21, 30), "main", "C", mode = "append", statsCols = Seq("k"))
    val before = vt.head("main").get
    // file A (id-0001..id-0010) is disjoint from the source keys: move it
    // away, so the upsert can only succeed if it never opens it
    val aFile = before.files.find(f =>
      VersionedTable.utf8Cmp(before.strStats(f)("k")._2, "id-0011") < 0).get
    val ghost = vt.root.resolve("ghost_tmp.parquet")
    java.nio.file.Files.move(vt.root.resolve(aFile), ghost)
    val c = try vt.upsert(spark, Seq(("id-0012", 1200L), ("id-0025", 2500L), ("id-0099", 9900L))
        .toDF("k", "v"), Seq("k"))
      finally java.nio.file.Files.move(ghost, vt.root.resolve(aFile))
    assert(c.files.contains(aFile), "the pruned file is carried")
    assert(c.strStats(aFile) === before.strStats(aFile))
    val got = vt.read(spark, "main").as[(String, Long)].collect().toMap
    assert(got.size === 31)
    assert(got("id-0001") === 1L && got("id-0012") === 1200L && got("id-0025") === 2500L &&
      got("id-0099") === 9900L)
  }
}

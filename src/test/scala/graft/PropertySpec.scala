package graft

import java.nio.file.Files

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.vt.VersionedTable

/** Property-based invariants (SURVEY.md §5.4):
  *  - the W1/W2 argmax window pattern equals a sort-then-head reference impl;
  *  - a versioned read@vN is stable under ANY sequence of later writes;
  *  - vacuum never deletes a file referenced by a retained version;
  *  - revert∘commit is an identity on the file list.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic ScalaCheck sampling (no scalatestplus bridge offline):
    * draw `n` values from `g` under fixed seeds. */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1L to n.toLong).flatMap(i => g.apply(Gen.Parameters.default, Seed(i)))

  private val smallRows: Gen[List[(Int, Int, Int)]] = Gen.listOfN(40,
    for {
      g <- Gen.choose(0, 4); v <- Gen.choose(0, 9); k <- Gen.choose(0, 99)
    } yield (g, v, k))

  test("property: window argmax equals sort-then-head per group") {
    samples(smallRows, 10).foreach { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF("g", "v", "k")
        val w = Window.partitionBy("g").orderBy(col("v").desc, col("k").asc)
        val viaWindow = df.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1).select("g", "v", "k")
          .as[(Int, Int, Int)].collect().toSet
        val expected = rows.groupBy(_._1).values
          .map(_.minBy { case (_, v, k) => (-v, k) }).toSet
        assert(viaWindow === expected)
      }
    }
  }

  private val writeSeqs: Gen[List[List[Int]]] =
    Gen.listOfN(4, Gen.listOfN(3, Gen.choose(0, 100)))

  test("property: exact-duplicate groups cluster exactly, lowest id canonical") {
    // sha star edges make exact-dup grouping DETERMINISTIC (independent of
    // MinHash banding probabilism): docs sharing a text MUST land in one
    // cluster whose id is the group minimum, and distinct texts must not
    // merge unless genuinely near-dup (texts here are pairwise unrelated).
    val texts = Vector(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      "one two three four five six seven eight nine ten eleven twelve",
      "red orange yellow green blue indigo violet ultraviolet infrared",
      "spark catalyst tungsten shuffle partition broadcast executor driver")
    val assignment: Gen[List[Int]] = Gen.listOfN(24, Gen.choose(0, texts.size - 1))
    samples(assignment, 5).foreach { groups =>
      val docs = groups.zipWithIndex
        .map { case (g, i) => (i.toLong + 1, texts(g)) }.toDF("doc_id", "text")
      val verdict = graft.ext.DedupCluster.dedupVerdict(docs)
        .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
      val expected = groups.zipWithIndex
        .groupMap(_._1)(p => p._2.toLong + 1)
        .flatMap { case (_, ids) => ids.map(_ -> ids.min) }
      assert(verdict === expected)
    }
  }

  test("property: read@v0 is stable under any sequence of later writes") {
    samples(writeSeqs, 5).foreach { snapshots =>
      if (snapshots.nonEmpty) {
        val vt = VersionedTable.create(Tables.scratch("prop_stable"))
        val first = snapshots.head
        vt.write(first.toDF("x"), "main", "v0")
        snapshots.tail.zipWithIndex.foreach { case (snap, i) =>
          vt.write(snap.toDF("x"), "main", s"v${i + 1}")
        }
        val v0 = vt.readVersion(spark, "main", 0).as[Int].collect().sorted.toList
        assert(v0 === first.sorted)
      }
    }
  }

  test("property: vacuum(retain=k) keeps the newest k versions fully readable") {
    samples(Gen.zip(Gen.choose(1, 3), Gen.choose(3, 5)), 5).foreach { case (retain, nVersions) =>
      val vt = VersionedTable.create(Tables.scratch("prop_vacuum"))
      val snaps = (0 until nVersions).map(i => List(i, i * 10)).toList
      snaps.zipWithIndex.foreach { case (s0, i) => vt.write(s0.toDF("x"), "main", s"v$i") }
      vt.vacuum(retainLast = retain)
      val lineage = vt.lineage("main")
      lineage.take(retain).foreach { c =>
        c.files.foreach(f => assert(Files.exists(vt.root.resolve(f)),
          s"retained v${c.version} lost file $f"))
        val expected = snaps(c.version.toInt).sorted
        assert(vt.readCommit(spark, c).as[Int].collect().sorted.toList === expected)
      }
    }
  }

  test("property: revert to vN restores exactly vN's file list") {
    samples(Gen.choose(2, 4), 3).foreach { n =>
      val vt = VersionedTable.create(Tables.scratch("prop_revert"))
      (0 until n).foreach(i => vt.write(List(i).toDF("x"), "main", s"v$i"))
      val target = vt.lineage("main").find(_.version == 0L).get
      val c = vt.revert("main", 0)
      assert(c.files === target.files)
      assert(c.version === n.toLong)
      assert(vt.read(spark, "main").as[Int].collect().toList === List(0))
    }
  }

  test("property: bloom filter never produces a false negative") {
    val keysGen: Gen[List[Long]] = Gen.listOfN(200, Gen.choose(0L, Long.MaxValue))
    samples(keysGen, 5).foreach { keys =>
      val build = keys.distinct.toDF("k")
      val bits = ops.Scale.bloomBits(build, "k")
      // every build key must pass the membership test — zero false negatives
      val passed = build.where(ops.Scale.bloomMightContain("k", bits)).count()
      assert(passed === keys.distinct.size.toLong,
        s"bloom dropped ${keys.distinct.size - passed} of its own keys")
    }
  }

  test("property: merged appends equal the union of both branches' appends") {
    // for ANY pair of disjoint append sequences on two branches, the merged
    // snapshot reads as base ∪ src-appends ∪ dst-appends — the row-level
    // contract behind the lakeFS object-level merge rule
    val seqGen: Gen[(List[Int], List[Int])] = for {
      a <- Gen.listOfN(3, Gen.choose(100, 999))
      b <- Gen.listOfN(2, Gen.choose(1000, 1999))
    } yield (a, b)
    samples(seqGen, 4).foreach { case (devRows, mainRows) =>
      val vt = VersionedTable.create(Tables.scratch("prop_merge"))
      vt.write(List(1).toDF("x"), "main", "base")
      vt.createBranch("dev", "main")
      devRows.foreach(v => vt.write(List(v).toDF("x"), "dev", s"d$v", mode = "append"))
      mainRows.foreach(v => vt.write(List(v).toDF("x"), "main", s"m$v", mode = "append"))
      vt.merge("dev", "main")
      val got = vt.read(spark, "main").as[Int].collect().sorted.toList
      assert(got === (1 :: devRows ::: mainRows).sorted)
    }
  }

  test("property: bucketed scalable rank equals rank() on random tied data, both directions") {
    val gen: Gen[List[(Int, Int)]] = Gen.listOfN(60,
      for { v <- Gen.choose(0, 7); id <- Gen.choose(0, 999) } yield (v, id))
    samples(gen, 8).foreach { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF("v", "id").withColumn("v", col("v").cast("double"))
        for (desc <- Seq(false, true)) {
          val fast = ops.Scale.globalRankScalable(df, "v", desc, "rnk", buckets = 4)
            .select("v", "rnk").distinct()
            .as[(Double, Long)].collect().toSet
          val w = Window.orderBy(if (desc) col("v").desc else col("v").asc)
          val slow = df.withColumn("rnk", rank().over(w).cast("long"))
            .select("v", "rnk").distinct()
            .as[(Double, Long)].collect().toSet
          assert(fast === slow, s"desc=$desc rows=$rows")
        }
      }
    }
  }

  test("property: bounded two-pass quantiles equal the sorted nearest-rank rule on random tied data") {
    val gen: Gen[List[Int]] = Gen.listOfN(50, Gen.choose(0, 9)) // heavy ties
    samples(gen, 6).foreach { xs =>
      val df = xs.map(_.toDouble).toDF("v")
      val ps = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
      val got = graft.ops.MLlite.exactQuantilesScalable(df, "v", ps, buckets = 4)
      val sorted = xs.map(_.toDouble).sorted
      val want = graft.ops.MLlite.exactQuantileRanks(xs.size.toLong, ps)
        .map(r => sorted(r.toInt - 1))
      assert(got === want, s"xs=$xs")
    }
  }

  test("property: each change-feed delta replays snapshot v-1 into snapshot v (bag semantics) on random histories") {
    // The CDC contract: for EVERY consecutive version pair of any history —
    // appends, overwrites and COW upserts mixed — bag(v) = bag(v-1) +
    // inserts − deletes. Checked as multisets so duplicate rows count.
    val opGen: Gen[List[Int]] = Gen.listOfN(4, Gen.choose(0, 2))
    val rowsGen: Gen[List[(Int, Int)]] = Gen.listOfN(6,
      for { k <- Gen.choose(0, 9); v <- Gen.choose(0, 99) } yield (k, v))
    samples(Gen.zip(opGen, Gen.listOfN(5, rowsGen)), 5).zipWithIndex.foreach {
      case ((opsSeq, rowSets), si) =>
        val vt = VersionedTable.create(Tables.scratch(s"prop_feed_$si"))
        vt.write(rowSets.head.toDF("k", "v"), "main", "v0", statsCols = Seq("k"))
        opsSeq.zip(rowSets.tail).foreach { case (op, rows) =>
          op match {
            case 0 => vt.write(rows.toDF("k", "v"), "main", "append", mode = "append")
            case 1 => vt.write(rows.toDF("k", "v"), "main", "overwrite")
            case 2 => // key-unique source for the COW upsert
              val uniq = rows.groupBy(_._1).values.map(_.head).toList
              vt.upsert(spark, uniq.toDF("k", "v"), keyCols = Seq("k"))
          }
        }
        val headV = vt.head("main").get.version
        def bag(df: org.apache.spark.sql.DataFrame): Map[(Int, Int), Int] =
          df.select("k", "v").as[(Int, Int)].collect()
            .groupBy(identity).view.mapValues(_.length).toMap
        val feed = vt.changesFeed(spark, "main", 0, headV)
          .select("version", "change_type", "k", "v")
          .as[(Long, String, Int, Int)].collect()
        (1L to headV).foreach { ver =>
          val prev = bag(vt.readVersion(spark, "main", ver - 1))
          val ins = feed.collect { case (`ver`, "insert", k, v) => (k, v) }
            .groupBy(identity).view.mapValues(_.length).toMap
          val del = feed.collect { case (`ver`, "delete", k, v) => (k, v) }
            .groupBy(identity).view.mapValues(_.length).toMap
          val replayed = (prev.keySet ++ ins.keySet).map { r =>
            r -> (prev.getOrElse(r, 0) + ins.getOrElse(r, 0) - del.getOrElse(r, 0))
          }.filter(_._2 > 0).toMap
          assert(replayed === bag(vt.readVersion(spark, "main", ver)),
            s"case $si ops=$opsSeq version $ver: delta replay diverged")
        }
    }
  }

  test("property: copy-on-write upsert equals the naive full-rewrite merge on random keyed data") {
    // The stats-based file pruning is an OPTIMIZATION: for any table layout
    // and any source key set, the COW result must be row-identical to the
    // definitionally-correct (keep = table ∖ source-keys) ∪ source — and the
    // CDC over the interval must be exactly the value-level delta. Sized so
    // both sides of the retire-or-rewrite rule run: four files of ~80 rows,
    // scattered source keys (about one per file: retired by a deletion
    // vector) plus a dense band of 12 keys (several rows of one file, past
    // 1/20: rewritten).
    val tableGen: Gen[List[(Int, Int)]] = Gen.listOfN(400,
      for { k <- Gen.choose(0, 799); v <- Gen.choose(0, 9) } yield (k, v))
    val srcGen: Gen[List[(Int, Int)]] = for {
      scattered <- Gen.listOfN(8,
        for { k <- Gen.choose(0, 899); v <- Gen.choose(10, 19) } yield (k, v))
      lo <- Gen.choose(0, 780)
      band <- Gen.listOfN(12, Gen.choose(10, 19))
    } yield scattered ++ band.zipWithIndex.map { case (v, i) => (lo + i, v) }
    var (retired, rewritten) = (0, 0)
    samples(Gen.zip(tableGen, srcGen), 6).zipWithIndex.foreach {
      case ((tableRows0, srcRows0), i) =>
        // one row per key (upsert targets are key-unique relations)
        val tableRows = tableRows0.groupBy(_._1).values.map(_.head).toList
        val srcRows = srcRows0.groupBy(_._1).values.map(_.head).toList
        if (tableRows.nonEmpty && srcRows.nonEmpty) {
          val vt = VersionedTable.create(Tables.scratch(s"prop_cow_$i"))
          val c0 = vt.write(tableRows.toDF("k", "v").repartitionByRange(4, col("k")),
            "main", "v0", statsCols = Seq("k"))
          val c1 = vt.upsert(spark, srcRows.toDF("k", "v"), keyCols = Seq("k"))
          if (c1.dvs.nonEmpty) retired += 1
          if (!c0.files.forall(c1.files.contains)) rewritten += 1
          val got = vt.read(spark, "main").as[(Int, Int)].collect().toSet
          val srcKeys = srcRows.map(_._1).toSet
          val expected = tableRows.filterNot(r => srcKeys(r._1)).toSet ++ srcRows
          assert(got === expected, s"case $i: table=$tableRows src=$srcRows")
          // CDC over the COW interval = exact value-level delta
          val cdc = vt.changes(spark, "main", 0, 1)
            .select("change_type", "k", "v").as[(String, Int, Int)].collect()
          val inserts = cdc.collect { case ("insert", k, v) => (k, v) }.toSet
          val deletes = cdc.collect { case ("delete", k, v) => (k, v) }.toSet
          assert(inserts === (expected -- tableRows.toSet), s"case $i inserts")
          assert(deletes === (tableRows.toSet -- expected), s"case $i deletes")
          assert(vt.countRows(spark, "main") === expected.size.toLong, s"case $i count")
        }
    }
    assert(retired > 0 && rewritten > 0, s"retired in $retired cases, rewrote in $rewritten")
  }

  test("property: generalized mergeInto equals the naive per-row clause evaluation on random data") {
    // Equi-key candidate pruning, applicability-exact touched-file
    // detection, the kept-row anti-join, and the insert anti-join are all
    // OPTIMIZATIONS: for any layout, any (possibly key-duplicated) target,
    // any key-unique source, and any clause thresholds, the merge result
    // must be multiset-identical to evaluating the clause chain per row.
    import graft.vt.MergeClause
    val tableGen: Gen[List[(Int, Int)]] = Gen.listOfN(30,
      for { k <- Gen.choose(0, 49); v <- Gen.choose(0, 29) } yield (k, v))
    val srcGen: Gen[List[(Int, Int)]] = Gen.listOfN(10,
      for { k <- Gen.choose(0, 59); nv <- Gen.choose(0, 29) } yield (k, nv))
    val thresholdsGen: Gen[(Int, Int, Int, Int)] =
      for { d0 <- Gen.choose(0, 30); d1 <- Gen.choose(0, 30)
            b0 <- Gen.choose(0, 30); b1 <- Gen.choose(0, 30) } yield (d0, d1, b0, b1)
    samples(Gen.zip(tableGen, srcGen, thresholdsGen), 6).zipWithIndex.foreach {
      case ((tableRows, srcRows0, (d0, d1, b0, b1)), i) =>
        val srcRows = srcRows0.groupBy(_._1).values.map(_.head).toList // key-unique
        if (tableRows.nonEmpty && srcRows.nonEmpty) {
          val vt = VersionedTable.create(Tables.scratch(s"prop_merge_$i"))
          vt.write(tableRows.toDF("k", "v").repartitionByRange(4, col("k")),
            "main", "v0", statsCols = Seq("k"))
          vt.mergeInto(spark, srcRows.toDF("k", "nv"), "t.k = s.k",
            matched = Seq(
              MergeClause.delete(Some(s"s.nv < $d0")),
              MergeClause.update(Map("v" -> "s.nv + 1000"), Some(s"s.nv >= $d1")),
              MergeClause.update(Map("v" -> "s.nv"))),
            notMatched = Seq(
              MergeClause.insert(Map("k" -> "s.k", "v" -> "s.nv"), Some("s.nv % 2 = 0"))),
            notMatchedBySource = Seq(
              MergeClause.update(Map("v" -> "t.v + 1"), Some(s"t.v < $b0")),
              MergeClause.delete(Some(s"t.v >= $b1"))))
          val src = srcRows.toMap
          val tKeys = tableRows.map(_._1).toSet
          val expectedRows: List[(Int, Int)] = tableRows.flatMap { case (k, v) =>
            src.get(k) match {
              case Some(nv) => // matched chain, first applicable wins
                if (nv < d0) Nil
                else if (nv >= d1) List((k, nv + 1000))
                else List((k, nv))
              case None => // by-source chain
                if (v < b0) List((k, v + 1))
                else if (v >= b1) Nil
                else List((k, v))
            }
          } ++ srcRows.collect { // insert chain
            case (k, nv) if !tKeys(k) && nv % 2 == 0 => (k, nv)
          }
          def bag(rs: Seq[(Int, Int)]) = rs.groupBy(identity).view.mapValues(_.length).toMap
          val got = vt.read(spark, "main").as[(Int, Int)].collect().toSeq
          assert(bag(got) === bag(expectedRows),
            s"case $i: table=$tableRows src=$srcRows thresholds=($d0,$d1,$b0,$b1)")
          // content equality is the contract here; no-op churn-freedom is
          // pinned in VersionedTableSpec with a constructed no-op case
        }
    }
  }

  test("property: STRING-keyed mergeInto equals naive evaluation — utf8 stats pruning sound under supplementary-plane keys and truncated stats") {
    // r18 extends merge candidate pruning to string equi-keys (strStats
    // windows): for any layout and any source key set the result must be
    // multiset-identical to per-row clause evaluation. The key styles are
    // adversarial for the pruning order: plain ascii; a supplementary-plane
    // prefix (U+1F600, 4-byte UTF-8 — sorts ABOVE fullwidth forms in UTF-8
    // but BELOW them in Java's UTF-16 compareTo, so a compareTo-ordered
    // prune would drop matching files); a fullwidth-z prefix (3-byte); and
    // a 70-char shared prefix that forces stats TRUNCATION, whose bounds
    // must stay conservative.
    import graft.vt.MergeClause
    val pfx = "p" * 70
    val emoji = new String(Character.toChars(0x1F600))
    val keyGen: Gen[String] = for {
      style <- Gen.choose(0, 3); n <- Gen.choose(0, 49)
    } yield style match {
      case 0 => f"doc-$n%04d"
      case 1 => f"$emoji$n%04d"
      case 2 => f"ｚ$n%04d"
      case _ => f"$pfx$n%04d"
    }
    val tableGen: Gen[List[(String, Int)]] = Gen.listOfN(30,
      for { k <- keyGen; v <- Gen.choose(0, 29) } yield (k, v))
    val srcGen: Gen[List[(String, Int)]] = Gen.listOfN(10,
      for { k <- keyGen; nv <- Gen.choose(0, 29) } yield (k, nv))
    samples(Gen.zip(tableGen, srcGen, Gen.choose(0, 30)), 6).zipWithIndex.foreach {
      case ((tableRows, srcRows0, d0), i) =>
        val srcRows = srcRows0.groupBy(_._1).values.map(_.head).toList // key-unique
        if (tableRows.nonEmpty && srcRows.nonEmpty) {
          val vt = VersionedTable.create(Tables.scratch(s"prop_merge_str_$i"))
          vt.write(tableRows.toDF("k", "v").repartitionByRange(4, col("k")),
            "main", "v0", statsCols = Seq("k"))
          vt.mergeInto(spark, srcRows.toDF("k", "nv"), "t.k = s.k",
            matched = Seq(
              MergeClause.delete(Some(s"s.nv < $d0")),
              MergeClause.update(Map("v" -> "s.nv"))),
            notMatched = Seq(MergeClause.insert(Map("k" -> "s.k", "v" -> "s.nv"))))
          val src = srcRows.toMap
          val tKeys = tableRows.map(_._1).toSet
          val expected = tableRows.flatMap { case (k, v) =>
            src.get(k) match {
              case Some(nv) => if (nv < d0) Nil else List((k, nv))
              case None => List((k, v))
            }
          } ++ srcRows.collect { case (k, nv) if !tKeys(k) => (k, nv) }
          def bag(rs: Seq[(String, Int)]) = rs.groupBy(identity).view.mapValues(_.length).toMap
          val got = vt.read(spark, "main").as[(String, Int)].collect().toSeq
          assert(bag(got) === bag(expected),
            s"case $i d0=$d0 table=$tableRows src=$srcRows")
        }
    }
  }

  test("property: bloom-indexed lookups never miss an existing key (driver/executor hash identity, unicode keys)") {
    // The bloom probe is computed DRIVER-side (XxHash64Function) against
    // bits built EXECUTOR-side (the xxhash64 expression): any divergence —
    // seeds, chaining, UTF-8 encoding, supplementary-plane code points —
    // would silently prune a file holding the key. Zero false negatives
    // over random keys IS the identity proof; false positives only cost.
    val pfx = "q" * 70
    val emoji = new String(Character.toChars(0x1F643))
    val keyGen: Gen[String] = for {
      style <- Gen.choose(0, 3); n <- Gen.choose(0, 99)
    } yield style match {
      case 0 => f"doc-$n%04d"
      case 1 => f"$emoji$n%04d"
      case 2 => f"ｋ$n%04d"
      case _ => f"$pfx$n%04d"
    }
    val rowsGen: Gen[List[(String, Int)]] = Gen.listOfN(40,
      for { k <- keyGen; v <- Gen.choose(0, 999) } yield (k, v))
    samples(rowsGen, 5).zipWithIndex.foreach { case (rows, i) =>
      if (rows.nonEmpty) {
        val vt = VersionedTable.create(Tables.scratch(s"prop_bloom_$i"))
        vt.write(rows.toDF("k", "v").repartition(3), "main", "v0",
          bloomCols = Seq("k"))
        val table = spark.read.format("vt").option("path", vt.root.toString).load()
        def bag(rs: Seq[(String, Int)]) = rs.groupBy(identity).view.mapValues(_.length).toMap
        // every present key: the pruned read returns exactly its rows
        rows.map(_._1).distinct.foreach { k =>
          val got = table.where(col("k") === k).as[(String, Int)].collect().toSeq
          assert(bag(got) === bag(rows.filter(_._1 == k)), s"case $i key $k")
        }
        // a mixed IN list (present + provably absent) equals the naive filter
        val probe = rows.map(_._1).distinct.take(3) ++ Seq("absent-1", s"$emoji-absent")
        val gotIn = table.where(col("k").isin(probe: _*)).as[(String, Int)].collect().toSeq
        assert(bag(gotIn) === bag(rows.filter(r => probe.contains(r._1))), s"case $i IN")
      }
    }
  }

  test("property: LONG-keyed bloom lookups never miss an existing key (cast-to-long image, extreme magnitudes)") {
    // r19: integral bloomCols hash the cast-to-long twin executor-side
    // (`xxhash64(lit(i), col.cast("long"))`); the driver probe
    // ([[graft.vt.VersionedTable.bloomPositionsLong]]) must be bit-identical
    // for EVERY long, including negatives and |v| near Long range — a
    // divergence silently prunes a file holding the key.
    val keyGen: Gen[Long] = Gen.oneOf(
      Gen.choose(-1000L, 1000L),
      Gen.choose(Long.MinValue, Long.MaxValue),
      Gen.oneOf(0L, -1L, Long.MinValue, Long.MaxValue,
        9007199254740992L, 9007199254740993L, -9007199254740993L))
    val rowsGen: Gen[List[(Long, Int)]] = Gen.listOfN(40,
      for { k <- keyGen; v <- Gen.choose(0, 999) } yield (k, v))
    samples(rowsGen, 4).zipWithIndex.foreach { case (rows, i) =>
      if (rows.nonEmpty) {
        val vt = VersionedTable.create(Tables.scratch(s"prop_bloom_long_$i"))
        vt.write(rows.toDF("k", "v").repartition(3), "main", "v0",
          bloomCols = Seq("k"))
        val table = spark.read.format("vt").option("path", vt.root.toString).load()
        def bag(rs: Seq[(Long, Int)]) = rs.groupBy(identity).view.mapValues(_.length).toMap
        rows.map(_._1).distinct.foreach { k =>
          val got = table.where(col("k") === k).as[(Long, Int)].collect().toSeq
          assert(bag(got) === bag(rows.filter(_._1 == k)), s"case $i key $k")
        }
        // a mixed IN list (present + probably-absent) equals the naive filter
        val probe = rows.map(_._1).distinct.take(3) ++ Seq(1234567891011L, -42L)
        val gotIn = table.where(col("k").isin(probe: _*)).as[(Long, Int)].collect().toSeq
        assert(bag(gotIn) === bag(rows.filter(r => probe.contains(r._1))), s"case $i IN")
      }
    }
  }

  test("property: OPTIMIZE WHERE is layout-only — rows invariant for random predicates, DV regions materialized exactly") {
    // r19: selective compaction must NEVER change table contents, for any
    // layout, predicate, and deletion-vector state — the candidate
    // selection and the untouched-file carry are pure optimizations. The
    // MOR leg also pins that compacting a region with live DVs applies
    // them exactly once (no resurrection, no double-subtraction).
    val tableGen: Gen[List[(Int, Int)]] = Gen.listOfN(40,
      for { k <- Gen.choose(0, 60); v <- Gen.choose(0, 9) } yield (k, v))
    val predGen: Gen[String] = Gen.oneOf(
      Gen.choose(0, 60).map(a => s"k >= $a"),
      Gen.choose(0, 60).map(a => s"k = $a"),
      Gen.const("v < 5"),   // no stats on v: everything is a candidate
      Gen.const("k >= 100")) // matches nothing: must be a no-op
    // the shapes a DML predicate only prunes by once resolved and optimized
    val resolvedShapes: Seq[Gen[String]] = Seq(
      Gen.zip(Gen.choose(0, 60), Gen.choose(0, 60))
        .map { case (a, b) => s"k BETWEEN ${a min b} AND ${a max b}" },
      Gen.listOfN(3, Gen.choose(0, 60)).map(ks => s"k IN (${ks.mkString(", ")})"),
      Gen.const("k IS NULL"))
    (samples(Gen.zip(tableGen, predGen), 5) ++
      resolvedShapes.flatMap(g => samples(Gen.zip(tableGen, g), 1))).zipWithIndex.foreach {
      case ((rows, pred), i) =>
        if (rows.nonEmpty) {
          val vt = VersionedTable.create(Tables.scratch(s"prop_optwhere_$i"))
          vt.write(rows.toDF("k", "v").repartition(4), "main", "v0",
            statsCols = Seq("k"))
          // a MOR delete makes some region DV-carrying
          vt.deleteWithVectors(spark, "v = 0", "main")
          val want = rows.filter(_._2 != 0).groupBy(identity)
            .view.mapValues(_.length).toMap
          def got = vt.read(spark, "main").as[(Int, Int)].collect().toSeq
            .groupBy(identity).view.mapValues(_.length).toMap
          assert(got === want, s"case $i precondition")
          val before = vt.head("main").get
          val after = vt.compactWhere(spark, "main", pred, numFiles = 2)
          assert(got === want, s"case $i pred '$pred' changed rows")
          if (after.version != before.version) {
            // layout-only: the file-granular CDC over the interval cancels
            assert(vt.changes(spark, "main", before.version, after.version)
              .count() === 0L, s"case $i pred '$pred' CDC must be empty")
            // candidates were read with DVs applied: no touched file's DV
            // entry can resurrect (re-read through a fresh handle)
            assert(VersionedTable.open(vt.root.toString).read(spark, "main")
              .as[(Int, Int)].collect().length === rows.count(_._2 != 0),
              s"case $i reopen row count")
          }
        }
    }
  }

  test("property: copy-on-write UPDATE equals the naive full-table rewrite on random data") {
    // The stats pruning + touched-file restriction are OPTIMIZATIONS: for any
    // layout, range predicate, and SET expressions, update's result must be
    // row-identical to mapping the predicate over EVERY row (with the
    // old-row-RHS rule), and the CDC must be the exact value-level delta.
    val tableGen: Gen[List[(Int, Int)]] = Gen.listOfN(30,
      for { k <- Gen.choose(0, 49); v <- Gen.choose(0, 9) } yield (k, v))
    val rangeGen: Gen[(Int, Int)] = // an [lo, hi] key range, sometimes empty
      for { a <- Gen.choose(0, 55); b <- Gen.choose(0, 55) } yield (a min b, a max b)
    // each predicate with the rows it matches
    val predGen: Gen[(String, Int => Boolean)] = rangeGen.map { case (lo, hi) =>
      (s"k >= $lo AND k <= $hi", (k: Int) => k >= lo && k <= hi) }
    val resolvedShapes: Seq[Gen[(String, Int => Boolean)]] = Seq(
      rangeGen.map { case (lo, hi) =>
        (s"k BETWEEN $lo AND $hi", (k: Int) => k >= lo && k <= hi) },
      Gen.listOfN(3, Gen.choose(0, 55)).map(ks =>
        (s"k IN (${ks.mkString(", ")})", (k: Int) => ks.contains(k))),
      Gen.const(("k IS NULL", (_: Int) => false)))
    (samples(Gen.zip(tableGen, predGen), 6) ++
      resolvedShapes.flatMap(g => samples(Gen.zip(tableGen, g), 1))).zipWithIndex.foreach {
      case ((tableRows, (pred, matches)), i) =>
        if (tableRows.nonEmpty) {
          val vt = VersionedTable.create(Tables.scratch(s"prop_upd_$i"))
          vt.write(tableRows.toDF("k", "v").repartitionByRange(4, col("k")),
            "main", "v0", statsCols = Seq("k"))
          // SET v = v + 100, k = v: both RHS must see the OLD row
          vt.update(spark, pred, Map("v" -> "v + 100", "k" -> "v"))
          val got = vt.read(spark, "main").as[(Int, Int)].collect()
            .groupBy(identity).view.mapValues(_.length).toMap
          val expectedRows = tableRows.map { case (k, v) =>
            if (matches(k)) (v, v + 100) else (k, v)
          }
          val expected = expectedRows.groupBy(identity).view.mapValues(_.length).toMap
          assert(got === expected, s"case $i: table=$tableRows pred=$pred")
          // no-match predicates must not even have created a version
          val headV = vt.head("main").get.version
          if (!tableRows.exists { case (k, _) => matches(k) })
            assert(headV === 0, s"case $i: no-op update must not commit")
          else {
            assert(headV === 1)
            // CDC = exact value-level delta as bags
            val cdc = vt.changes(spark, "main", 0, 1)
              .select("change_type", "k", "v").as[(String, Int, Int)].collect()
            def bag(rs: Seq[(Int, Int)]) =
              rs.groupBy(identity).view.mapValues(_.length).toMap
            val before = bag(tableRows)
            val after = expected
            val ins = bag(cdc.collect { case ("insert", k, v) => (k, v) }.toSeq)
            val del = bag(cdc.collect { case ("delete", k, v) => (k, v) }.toSeq)
            val replayed = (before.keySet ++ ins.keySet).map { r =>
              r -> (before.getOrElse(r, 0) + ins.getOrElse(r, 0) - del.getOrElse(r, 0))
            }.filter(_._2 > 0).toMap
            assert(replayed === after, s"case $i: CDC replay diverged")
          }
        }
    }
  }

  // op 0 = clean write; op 1 = crash between slot claim and commit write;
  // op 2 = crash between commit write and ref advance; op 3 = fast-forward
  // merge (slot-serialized since r12 — a zombie writer based on the
  // pre-merge head must LOSE the CAS, never overwrite the advanced ref);
  // op 4 = crash between the FF's slot claim and its ref write. After
  // every crash the branch is WEDGED (the claimed slot blocks the next
  // writer); an aged-slot vacuum must always un-wedge it, never fork or
  // lose history. Store-parametric (r14): the same property runs on the
  // POSIX store and on the rename-free S3-semantics object store.
  private def crashPointProperty(tag: String,
                                 storeFor: String => graft.vt.MetaStore): Unit = {
    val opsGen: Gen[List[Int]] = Gen.listOfN(7, Gen.choose(0, 4))
    val pastMs = System.currentTimeMillis() - 2 * VersionedTable.DefaultStaleSlotMs
    samples(opsGen, 4).zipWithIndex.foreach { case (opsSeq, si) =>
      val rootStr = Tables.scratch(s"prop_cas$tag$si")
      val store = storeFor(rootStr)
      val vt = VersionedTable.create(rootStr, store)
      val refPath = vt.root.resolve("refs").resolve("main")
      def slot(n: Long) = vt.root.resolve("locks").resolve(s"main-v$n")
      var expectedRows = List(0)
      vt.write(List(0).toDF("x"), "main", "v0")
      opsSeq.zipWithIndex.foreach { case (op, i) =>
        val v = 100 * si + i + 1
        op match {
          case 0 => // clean write
            vt.write(List(v).toDF("x"), "main", s"ok$v", mode = "append")
            expectedRows ::= v
          case 1 => // crash before the commit json: slot claimed, nothing published
            val next = vt.head("main").get.version + 1
            graft.vt.CommitLog.claimVersionSlot(vt.root.resolve("locks"), "main", next,
              store = store)
            intercept[java.util.ConcurrentModificationException] {
              vt.write(List(-1).toDF("x"), "main", "blocked", mode = "append")
            }
            StoreOps.backdate(store, slot(next), pastMs)
            vt.vacuum(retainLast = 1000) // reclaims the empty slot
            vt.write(List(v).toDF("x"), "main", s"retry$v", mode = "append")
            expectedRows ::= v
          case 2 => // crash before the ref advance: commit published, ref stale
            val before = store.read(refPath).trim
            val orphan = vt.write(List(v).toDF("x"), "main", s"lost$v", mode = "append")
            store.put(refPath, before)
            intercept[java.util.ConcurrentModificationException] {
              vt.write(List(-1).toDF("x"), "main", "blocked", mode = "append")
            }
            StoreOps.backdate(store, slot(orphan.version), pastMs)
            vt.vacuum(retainLast = 1000) // replays the lost ref advance
            assert(vt.head("main").map(_.id) === Some(orphan.id))
            expectedRows ::= v
          case 3 => // clean fast-forward merge: slot-serialized ref advance
            val b = s"dev${si}_$i"
            vt.createBranch(b, "main")
            vt.write(List(v).toDF("x"), b, s"side$v", mode = "append")
            val merged = vt.merge(b, "main") // FF: claims main-v<merged.version>
            assert(vt.head("main").map(_.id) === Some(merged.id))
            // the closed race: a zombie writer still holding the PRE-merge
            // head targets exactly the slot the FF claimed — it must lose
            // the CAS instead of silently overwriting the merged ref
            intercept[java.util.ConcurrentModificationException] {
              graft.vt.CommitLog.claimVersionSlot(
                vt.root.resolve("locks"), "main", merged.version, store = store)
            }
            // an aged-slot vacuum must KEEP a completed FF's slot (it is the
            // CAS record for that version), not reclaim it
            StoreOps.backdate(store, slot(merged.version), pastMs)
            vt.vacuum(retainLast = 1000)
            assert(store.exists(slot(merged.version)),
              "completed-FF slot was reclaimed")
            assert(vt.head("main").map(_.id) === Some(merged.id))
            vt.deleteBranch(b)
            expectedRows ::= v
          case 4 => // crash between the FF merge's slot claim and its ref write
            val b = s"dev${si}_$i"
            vt.createBranch(b, "main")
            val side = vt.write(List(v).toDF("x"), b, s"side$v", mode = "append")
            val next = vt.head("main").get.version + 1
            graft.vt.CommitLog.claimVersionSlot(
              vt.root.resolve("locks"), "main", next, content = "ff:" + side.id,
              store = store)
            // wedged: both a plain write and the merge retry lose the CAS
            intercept[java.util.ConcurrentModificationException] {
              vt.merge(b, "main")
            }
            assert(vt.head("main").map(_.version) === Some(next - 1)) // no ref advance
            StoreOps.backdate(store, slot(next), pastMs)
            vt.vacuum(retainLast = 1000) // reclaims the crashed FF's slot (head never descended)
            val merged = vt.merge(b, "main") // retry lands
            assert(merged.id === side.id)
            assert(vt.head("main").map(_.id) === Some(side.id))
            vt.deleteBranch(b)
            expectedRows ::= v
        }
        // invariants after every step: versions 0..head gap-free and
        // monotonic; every published version's CAS slot still exists
        val lin = vt.lineage("main") // head-first
        assert(lin.map(_.version) === (lin.head.version to 0L by -1).toList,
          s"gap or non-monotonic versions: ${lin.map(_.version)}")
        lin.foreach(c => assert(store.exists(slot(c.version)),
          s"published slot main-v${c.version} was reclaimed"))
      }
      assert(vt.read(spark, "main").as[Int].collect().sorted.toList ===
        expectedRows.sorted, s"ops=$opsSeq")
    }
  }

  test("property: writers with random crash points — versions stay gap-free, published slots survive, the branch always recovers") {
    crashPointProperty("_", _ => graft.vt.LocalFsMetaStore)
  }

  test("property: the same crash-point walk holds on the rename-free S3-semantics store") {
    crashPointProperty("_s3_", graft.vt.S3SimMetaStore.forTable)
  }

  test("property: the catalog stream's offset walk emits every live file exactly once, any history × any trigger dials") {
    // random history: appends before the pin, then appends / layout
    // compactions / metadata-only evolutions after it; random
    // maxFilesPerTrigger (snapshot chunking) and maxVersionsPerTrigger
    // (tail clamp). Invariant: walking latestOffset/planInputPartitions to
    // the fixpoint emits EXACTLY the pinned snapshot's files plus the
    // files post-pin dataChange commits added — each split once, layout
    // commits as silence, regardless of chunk boundaries.
    sealed trait Op
    case object App extends Op; case object Layout extends Op; case object Evolve extends Op
    val scenario = for {
      pre <- Gen.choose(0, 2)
      post <- Gen.listOfN(4, Gen.oneOf[Op](App, App, Layout, Evolve))
      mf <- Gen.option(Gen.choose(1L, 3L))
      mv <- Gen.option(Gen.choose(1L, 2L))
    } yield (pre, post, mf, mv)
    var ctr = 0
    samples(scenario, 6).zipWithIndex.foreach { case ((pre, post, mf, mv), i) =>
      val vt = VersionedTable.create(Tables.scratch(s"prop_stream_$i"))
      var next = 100
      def appendRows(): Unit = {
        vt.write((next to next + 4).toDF("k").repartition(2), "main",
          s"append $next", mode = "append", mergeSchema = true)
        next += 5
      }
      appendRows() // v0
      (1 to pre).foreach(_ => appendRows())
      val pinned = vt.head("main").get
      def norm(s: String): String =
        try new java.net.URI(s).getPath catch { case _: Exception => s.stripPrefix("file:") }
      // drive the stream's offset walk directly (no engine), INTERLEAVED
      // with the post-pin operations — each drain() runs latestOffset /
      // planInputPartitions to the fixpoint like triggers would
      val opts = new java.util.HashMap[String, String]()
      mf.foreach(v => opts.put("maxFilesPerTrigger", v.toString))
      mv.foreach(v => opts.put("maxVersionsPerTrigger", v.toString))
      val stream = new graft.sources.VtMicroBatchStream(spark, vt, "main",
        pinned,
        org.apache.spark.sql.types.DataType.fromJson(pinned.schemaJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType],
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts))
      val seen = scala.collection.mutable.ListBuffer.empty[(String, Long)]
      var off = stream.initialOffset()
      def drain(): Unit = {
        var guard = 0
        var done = false
        while (!done && guard < 50) {
          guard += 1
          val nxt = stream.latestOffset(off,
            org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
          if (nxt == off) done = true
          else {
            stream.planInputPartitions(off, nxt).foreach { p =>
              // a deletion-free batch plans bare file partitions, a batch
              // with vectors wraps each one with its file's descriptor
              val fp = Iterator(p).concat(p.asInstanceOf[Product].productIterator).collectFirst {
                case f: org.apache.spark.sql.execution.datasources.FilePartition => f
              }.get
              fp.files.foreach(pf => seen += ((norm(pf.filePath.toString), pf.start)))
            }
            off = nxt
          }
        }
        assert(guard < 50, s"offset walk did not converge: pre=$pre post=$post mf=$mf mv=$mv")
      }
      drain() // the (possibly chunked) snapshot of `pinned`
      post.foreach { op =>
        op match {
          case App => appendRows()
          case Layout => vt.compact(spark, "main", numFiles = 1)
          case Evolve =>
            ctr += 1
            vt.addColumns("main", Seq(org.apache.spark.sql.types.StructField(
              s"c$ctr", org.apache.spark.sql.types.StringType)))
        }
        drain()
      }
      // expected: pinned snapshot files + post-pin dataChange additions
      val lineage = vt.lineage("main").reverse // oldest first
      val after = lineage.dropWhile(_.version <= pinned.version)
      val expected = (pinned.files ++ after.zip(lineage.dropWhile(
          _.version < pinned.version)).collect {
        case (c, p) if c.dataChange => c.files.filterNot(p.files.toSet)
      }.flatten).map(f => vt.root.resolve(f).toString).toSet
      assert(seen.size === seen.distinct.size,
        s"a split was emitted twice: pre=$pre post=$post mf=$mf mv=$mv")
      assert(seen.map(_._1).toSet === expected,
        s"emitted files != snapshot+appends: pre=$pre post=$post mf=$mf mv=$mv")
    }
  }

  /** CHECK-constraint guard equivalence (r19c): for random batches and
    * random predicates from a small grammar, an append under a constraint
    * behaves EXACTLY like pre-screening the batch — it succeeds iff no row
    * violates (NULL passes), commits exactly the batch's rows on success,
    * and publishes nothing on refusal. Pins the fused
    * raise_error-filter enforcement (plan barrier included: the batch runs
    * through a join-bearing frame) against the naive definition. */
  test("property: constraint guard ≡ pre-screened append on random batches + predicates") {
    val preds: Seq[(String, (Option[Int], Option[Int]) => Boolean)] = Seq(
      ("a > 0", (a, _) => a.forall(_ > 0)),
      ("a + b < 150", (a, b) =>
        (for (x <- a; y <- b) yield x + y < 150).getOrElse(true)),
      ("b % 2 = 0", (_, b) => b.forall(_ % 2 == 0)),
      ("a <= b OR a > 90", (a, b) =>
        (for (x <- a; y <- b) yield x <= y || x > 90).getOrElse(true)))
    val batches: Gen[List[(Option[Int], Option[Int])]] = Gen.listOfN(12,
      for {
        a <- Gen.option(Gen.choose(-20, 100))
        b <- Gen.option(Gen.choose(-20, 100))
      } yield (a, b))
    var checked = 0
    samples(Gen.zip(Gen.choose(0, preds.size - 1), batches), 25).foreach {
      case (pi, rows) if rows.nonEmpty =>
        val (sql, naive) = preds(pi)
        val vt = graft.vt.VersionedTable.create(
          Tables.scratch(s"prop_guard_${pi}_$checked"))
        checked += 1
        // the seed row satisfies every grammar predicate, so ADD validates
        vt.write(Seq((1, 2)).toDF("a", "b"), "main", "seed")
        vt.addCheckConstraint(spark, "main", "p", sql)
        val df = rows.map { case (a, b) =>
          (a.map(Integer.valueOf).orNull, b.map(Integer.valueOf).orNull)
        }.toDF("a", "b").select(col("a").cast("int"), col("b").cast("int"))
          // route through a join so the plan-barrier path is exercised
          .join(Seq(Tuple1(1)).toDF("one"), lit(true), "cross")
          .select(col("a"), col("b"))
        val before = vt.head("main").get
        val ok = rows.forall { case (a, b) => naive(a, b) }
        if (ok) {
          vt.write(df, "main", "batch", mode = "append")
          assert(vt.read(spark, "main").count() === 1L + rows.size)
        } else {
          intercept[Exception] { vt.write(df, "main", "batch", mode = "append") }
          assert(vt.head("main").get.id === before.id,
            s"refused batch must publish nothing (pred=$sql rows=$rows)")
        }
      case _ => ()
    }
    assert(checked >= 15, s"property exercised too few cases: $checked")
  }

  /** 3-way table-properties merge (r19c): per key, against the naive rule —
    * sides agreeing carry their value; exactly one side changing carries
    * its change (set, update, or delete); both changing differently
    * conflicts. Exercised through REAL branch merges over random
    * (base, src-edit, dst-edit) prop states. */
  test("property: props 3-way merge ≡ per-key naive rule on random edits") {
    val keys = Seq("p1", "p2", "p3")
    // 0 = leave, 1 = set "a", 2 = set "b", 3 = delete
    val edits: Gen[(List[Int], List[Int], List[Int])] = for {
      base <- Gen.listOfN(keys.size, Gen.choose(0, 2)) // 0=absent,1="a",2="b"
      s <- Gen.listOfN(keys.size, Gen.choose(0, 3))
      d <- Gen.listOfN(keys.size, Gen.choose(0, 3))
    } yield (base, s, d)
    def v(i: Int): Option[String] = i match {
      case 1 => Some("a"); case 2 => Some("b"); case _ => None
    }
    var n = 0
    samples(edits, 30).foreach { case (baseV, sEdit, dEdit) =>
      val vt = graft.vt.VersionedTable.create(Tables.scratch(s"prop_props_$n"))
      n += 1
      vt.write(Seq((1, 2)).toDF("a", "b"), "main", "seed")
      val base = keys.zip(baseV).flatMap { case (k, i) => v(i).map(k -> _) }.toMap
      if (base.nonEmpty) vt.setTableProperties("main", base)
      vt.createBranch("side", "main")
      def apply(branch: String, edit: List[Int]): Map[String, Option[String]] =
        keys.zip(edit).map { case (k, e) =>
          e match {
            case 1 => vt.setTableProperties(branch, Map(k -> "x")); k -> Some("x")
            case 2 => vt.setTableProperties(branch, Map(k -> "y")); k -> Some("y")
            case 3 => vt.setTableProperties(branch, Map.empty, unset = Seq(k))
              k -> None
            case _ => k -> base.get(k)
          }
        }.toMap
      val sState = apply("side", sEdit)
      val dState = apply("main", dEdit)
      // the naive per-key verdict
      val expect: Either[String, Map[String, String]] = {
        val out = Map.newBuilder[String, String]
        var conflict: Option[String] = None
        keys.foreach { k =>
          (base.get(k), sState(k), dState(k)) match {
            case (_, s, d) if s == d => s.foreach(out += k -> _)
            case (b, s, d) if s == b => d.foreach(out += k -> _)
            case (b, s, d) if d == b => s.foreach(out += k -> _)
            case _ => conflict = conflict.orElse(Some(k))
          }
        }
        conflict.toLeft(out.result())
      }
      expect match {
        case Right(props) =>
          vt.merge("side", "main")
          assert(vt.head("main").get.props === props,
            s"base=$base src=$sState dst=$dState")
        case Left(k) =>
          val e = intercept[IllegalStateException] { vt.merge("side", "main") }
          assert(e.getMessage.contains("property"),
            s"expected props conflict on $k, got: ${e.getMessage}")
      }
    }
    assert(n >= 25)
  }

  test("property: every version of a random DML history resolves to the entries its publish saw") {
    // Random append / copy-on-write delete / update / upsert / vector delete /
    // compact / revert / merge histories over a table of small files, so
    // commits keep, drop and re-state manifest entries in every mix. Each
    // version's loadCommit must equal the file → entry map tracked beside
    // it (a revert: its target's map), its rows the tracked row model.
    def entries(c: graft.vt.Commit) = c.files.map(f => f -> (c.fileSizes.get(f),
      c.rowCounts.get(f), c.stats.getOrElse(f, Map.empty), c.strStats.getOrElse(f, Map.empty),
      c.nullStats.getOrElse(f, Map.empty))).toMap
    var sawDrops = false
    samples(Gen.listOfN(10, Gen.choose(0, 7)), 3).zipWithIndex.foreach { case (ops, i) =>
      val vt = VersionedTable.create(Tables.scratch(s"prop_drops_$i"))
      val rnd = new scala.util.Random(i)
      def batch(kv: (Long, Long)*) = kv.toDF("k", "v").coalesce(1)
      var rows: Map[Long, Long] = (0L until 60L).map(_ -> 0L).toMap
      val c0 = vt.write(spark.range(0, 60, 1, 6).select($"id".as("k"), lit(0L).as("v")),
        "main", "v0", statsCols = Seq("k"))
      // version → (files in order, file → entry, rows)
      val model = scala.collection.mutable.Map(0L -> (c0.files, entries(c0), rows))
      var fresh = 1000L
      def key() = { fresh += 1; fresh }
      ops.zipWithIndex.foreach { case (op, step) =>
        val lo = rnd.nextInt(60).toLong
        val some = rows.keys.toVector.sorted
        val prev = vt.head("main").get.files.toSet
        val c = op match {
          case 1 if some.nonEmpty =>
            rows = rows.filterNot { case (k, _) => k >= lo && k < lo + 3 }
            vt.delete(spark, s"k >= $lo AND k < ${lo + 3}")
          case 2 if some.nonEmpty =>
            rows = rows.map { case (k, v) => k -> (if (k >= lo && k < lo + 4) v + 1 else v) }
            vt.update(spark, s"k >= $lo AND k < ${lo + 4}", Map("v" -> "v + 1"))
          case 3 =>
            val src = (rnd.shuffle(some).take(3) :+ key()).map(_ -> 7L)
            rows ++= src
            vt.upsert(spark, batch(src: _*), Seq("k"))
          case 4 if some.nonEmpty =>
            val k = some(rnd.nextInt(some.size))
            rows -= k
            vt.deleteWithVectors(spark, s"k = $k")
          case 5 => vt.compact(spark, "main", numFiles = 2, statsCols = Seq("k"))
          case 6 if vt.head("main").get.version > 0 =>
            val v = rnd.nextInt(vt.head("main").get.version.toInt).toLong
            rows = model(v)._3
            val c = vt.revert("main", v)
            assert(entries(vt.loadCommit(c.id)) === model(v)._2, s"case $i: revert to v$v")
            c
          case 7 =>
            vt.createBranch(s"b$step", "main")
            val (kb, km) = (key(), key())
            vt.write(batch(kb -> 2L), s"b$step", "on b", mode = "append", statsCols = Seq("k"))
            val cm = vt.write(batch(km -> 3L), "main", "on main", mode = "append",
              statsCols = Seq("k"))
            rows += km -> 3L
            model(cm.version) = (cm.files, entries(cm), rows)
            rows += kb -> 2L
            vt.merge(s"b$step", "main")
          case _ =>
            val k = key()
            rows += k -> 1L
            vt.write(batch(k -> 1L), "main", "append", mode = "append", statsCols = Seq("k"))
        }
        assert(vt.head("main").get.id === c.id, s"case $i step $step: op $op")
        // row-level DML never publishes a file that holds no row
        if (op >= 1 && op <= 3) assert(c.files.filterNot(prev).forall(f =>
          c.rowCounts.get(f).exists(_ > 0)), s"case $i step $step: op $op added a 0-row entry")
        model(c.version) = (c.files, entries(c), rows)
        assert(vt.read(spark, "main").as[(Long, Long)].collect().toMap === rows,
          s"case $i step $step: op $op")
      }
      vt.lineage("main").foreach { c =>
        val r = vt.loadCommit(c.id)
        assert(r.files === model(c.version)._1, s"case $i: v${c.version} files")
        assert(entries(r) === model(c.version)._2, s"case $i: v${c.version} entries")
        sawDrops ||= c.manifests.exists(m => graft.vt.Manifest.read(vt.root.resolve(m)).drops.nonEmpty)
      }
      assert(vt.countRows(spark, "main") === rows.size.toLong)
    }
    assert(sawDrops, "no history recorded a drop")
  }
}

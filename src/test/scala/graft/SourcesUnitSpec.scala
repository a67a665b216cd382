package graft.sources

import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, In, InSet, Literal}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Unit contracts of the data-source plumbing: the offset floor's
  * fresh-vs-restart semantics and the predicate→window extractor's
  * conservative shapes — pinned without a SparkSession. */
class SourcesUnitSpec extends AnyFunSuite {

  test("OffsetFloor: fresh stream serves only past the option floor, rate-limited") {
    val f = new OffsetFloor(5)
    assert(f.nextEnd(head = 5, maxPerBatch = 10).isEmpty, "nothing past the floor")
    assert(f.nextEnd(head = 9, maxPerBatch = 10) === Some(9))
    assert(f.nextEnd(head = 100, maxPerBatch = 2) === Some(7), "rate limit caps")
    f.sync(7) // engine processed (5, 7]
    assert(f.nextEnd(head = 100, maxPerBatch = 2) === Some(9))
  }

  test("OffsetFloor: the engine's first checkpointed signal rebases a too-high floor") {
    // option said latest=7 (fresh-stream floor), but the checkpoint says
    // the stream had processed to 5 — the restart must serve (5, head]
    val f = new OffsetFloor(7)
    f.sync(5) // restart commit ack
    assert(f.floor === 5)
    assert(f.nextEnd(head = 7, maxPerBatch = Int.MaxValue) === Some(7),
      "versions 6..7 must be served after the rebase")
    // later signals only advance; a caught-up source keeps returning the
    // unchanged newest offset (the engine's own committed-equality check
    // is what decides "no new data"), never regressing below it
    f.sync(7)
    assert(f.floor === 5)
    assert(f.nextEnd(head = 7, maxPerBatch = Int.MaxValue) === Some(7))
  }

  test("StatsWindows: recognized shapes produce inclusive windows; others prune nothing") {
    val k = AttributeReference("k", IntegerType)()
    val s = AttributeReference("s", StringType)()
    assert(StatsWindows.windows(k > Literal(5)) ===
      List("k" -> Left(List((5.0, Double.PositiveInfinity)))))
    assert(StatsWindows.windows(Literal(5) > k) === // 5 > k  ⇔  k < 5
      List("k" -> Left(List((Double.NegativeInfinity, 5.0)))))
    assert(StatsWindows.windows((k >= Literal(2)) && (k <= Literal(9))) ===
      List("k" -> Left(List((2.0, Double.PositiveInfinity))),
        "k" -> Left(List((Double.NegativeInfinity, 9.0)))))
    val sw = StatsWindows.windows(s === Literal("abc"))
    assert(sw === List("s" -> Right(List(("abc", "abc")))))
    // OR / != / IsNull are NOT window-expressible: must return Nil (the
    // conservative contract — data filters are re-applied above the scan)
    assert(StatsWindows.windows((k > Literal(5)) || (k < Literal(2))) === Nil)
    assert(StatsWindows.windows(org.apache.spark.sql.catalyst.expressions
      .Not(k === Literal(5))) === Nil)
    // null demands go through the dedicated extractor instead
    assert(StatsWindows.nullWindows(k.isNull) === List("k" -> true))
    assert(StatsWindows.nullWindows(k.isNotNull && s.isNull) ===
      List("k" -> false, "s" -> true))
    assert(StatsWindows.nullWindows(k > Literal(5)) === Nil)
  }

  test("StatsWindows: non-value-faithful float upcasts never window or probe (r19 soundness fix)") {
    val l = AttributeReference("l", LongType)()
    val i = AttributeReference("i", IntegerType)()
    // float(2^30+1) == 2^30f while the stats image is the exact double
    // 2^30+1: a point window from the unwrapped cast would wrongly prune
    // the file holding the matching row — the unwrap must refuse
    val f = Literal(1073741824f) // 2^30 as a float
    assert(StatsWindows.windows(Cast(l, org.apache.spark.sql.types.FloatType) === f) === Nil)
    assert(StatsWindows.windows(Cast(i, org.apache.spark.sql.types.FloatType) === f) === Nil)
    assert(StatsWindows.pointProbes(Cast(l, org.apache.spark.sql.types.FloatType) === f) === Nil)
    // value-faithful upcasts still unwrap: long→double shares the stats'
    // rounding, int→long/int→double are exact
    assert(StatsWindows.windows(Cast(l, DoubleType) === Literal(5.0)) ===
      List("l" -> Left(List((5.0, 5.0)))))
    assert(StatsWindows.windows(Cast(i, LongType) === Literal(7L)) ===
      List("i" -> Left(List((7.0, 7.0)))))
  }

  test("StatsWindows: point probes carry exact typed images; inexact values refuse (r19 bloom probes)") {
    val l = AttributeReference("l", LongType)()
    val s = AttributeReference("s", StringType)()
    assert(StatsWindows.pointProbes(l === Literal(42L)) ===
      List("l" -> Left(List(42L))))
    assert(StatsWindows.pointProbes(Cast(l, DoubleType) === Literal(42.0)) ===
      List("l" -> Left(List(42L))))
    // a whole double AT 2^53: multiple longs share that rounded image —
    // probing one preimage would wrongly prune the others; refuse
    assert(StatsWindows.pointProbes(
      Cast(l, DoubleType) === Literal(9007199254740992.0)) === Nil)
    assert(StatsWindows.pointProbes(Cast(l, DoubleType) === Literal(42.5)) === Nil)
    assert(StatsWindows.pointProbes(s === Literal("abc")) ===
      List("s" -> Right(List("abc"))))
    assert(StatsWindows.pointProbes(In(l, Seq(Literal(1L), Literal(2L)))) ===
      List("l" -> Left(List(1L, 2L))))
    // a partially-recognized IN list probes nothing
    assert(StatsWindows.pointProbes(InSet(l, Set[Any](1L, UTF8String.fromString("x")))) === Nil)
    // ranges are not points
    assert(StatsWindows.pointProbes(l > Literal(5L)) === Nil)
    // external-filter front end: boxed numbers and strings
    import org.apache.spark.sql.{sources => fsrc}
    assert(StatsWindows.filterPointProbes(fsrc.EqualTo("l", java.lang.Long.valueOf(7L))) ===
      List("l" -> Left(List(7L))))
    assert(StatsWindows.filterPointProbes(fsrc.In("s", Array[Any]("a", "b"))) ===
      List("s" -> Right(List("a", "b"))))
    assert(StatsWindows.filterPointProbes(fsrc.EqualTo("l",
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))) === Nil)
  }

  test("StatsWindows: IN lists become unions of point windows (both In and InSet forms)") {
    val k = AttributeReference("k", IntegerType)()
    val s = AttributeReference("s", StringType)()
    assert(StatsWindows.windows(In(k, Seq(Literal(2), Literal(7), Literal(40)))) ===
      List("k" -> Left(List((2.0, 2.0), (7.0, 7.0), (40.0, 40.0)))))
    // a file [10, 20] intersects NO point window → skippable, where the old
    // single-envelope [2, 40] would have kept it
    val Left(ranges) = StatsWindows.windows(
      In(k, Seq(Literal(2), Literal(7), Literal(40)))).head._2
    assert(!StatsWindows.numSurvives(10.0, 20.0, ranges))
    assert(StatsWindows.numSurvives(30.0, 50.0, ranges))
    // InSet (the post-optimizer form past the conversion threshold) —
    // values are Catalyst-internal (UTF8String for strings)
    assert(StatsWindows.windows(InSet(s,
      Set(UTF8String.fromString("a"), UTF8String.fromString("c")))) ===
      List("s" -> Right(List(("a", "a"), ("c", "c")))))
    // null entries never match — ignored; an all-null list prunes nothing
    assert(StatsWindows.windows(In(k, Seq(Literal(2), Literal(null, IntegerType)))) ===
      List("k" -> Left(List((2.0, 2.0)))))
    assert(StatsWindows.windows(In(k, Seq(Literal(null, IntegerType)))) === Nil)
    // a MIXED-type list must prune nothing (partially recognized values
    // could wrongly drop a file holding only the unrecognized ones)
    assert(StatsWindows.windows(InSet(k,
      Set[Any](2, UTF8String.fromString("x")))) === Nil)
  }

  test("StatsWindows: startsWith becomes the prefix-successor window [p, succ(p)]") {
    import org.apache.spark.sql.catalyst.expressions.StartsWith
    val s = AttributeReference("s", StringType)()
    def sw(p: String) = StatsWindows.windows(StartsWith(s, Literal(p)))
    assert(sw("NA") === List("s" -> Right(List(("NA", "NB")))))
    // the window keeps every match and skips a disjoint file
    val Right(r) = sw("NA").head._2
    assert(StatsWindows.strSurvives("NACHO", "NAZZZ", r)(graft.vt.VersionedTable.utf8Cmp))
    assert(!StatsWindows.strSurvives("MA", "MZ", r)(graft.vt.VersionedTable.utf8Cmp))
    assert(!StatsWindows.strSurvives("NC", "NZ", r)(graft.vt.VersionedTable.utf8Cmp))
    // hi end is inclusive-conservative: a file whose min IS the successor
    // survives (holds no match, but pruning must stay sound)
    assert(StatsWindows.strSurvives("NB", "NZ", r)(graft.vt.VersionedTable.utf8Cmp))
    // successor skips the surrogate gap (U+D7FF + 1 -> U+E000)
    assert(sw("a\uD7FF") === List("s" -> Right(List(("a\uD7FF", "a\uE000")))))
    // a maximal last code point drops and bumps the previous one
    val maxCp = new String(Character.toChars(0x10FFFF))
    assert(sw(s"ab$maxCp") === List("s" -> Right(List((s"ab$maxCp", "ac")))))
    // no finite successor (empty / all-maximal prefix) -> no window
    assert(sw("") === Nil)
    assert(sw(maxCp * 3) === Nil)
    // the sources.Filter front end mirrors it
    assert(StatsWindows.fromFilters(Seq(
      org.apache.spark.sql.sources.StringStartsWith("s", "NA")))._1 ===
      List("s" -> Right(List(("NA", "NB")))))
  }

  test("StatsWindows: order-preserving numeric upcasts around the column unwrap") {
    val k = AttributeReference("k", IntegerType)()
    val s = AttributeReference("s", StringType)()
    // cast(int k as bigint) > 5L — the shape Catalyst makes of `k > 5L`
    assert(StatsWindows.windows(Cast(k, LongType) > Literal(5L)) ===
      List("k" -> Left(List((5.0, Double.PositiveInfinity)))))
    assert(StatsWindows.windows(Cast(k, DoubleType) === Literal(5.5)) ===
      List("k" -> Left(List((5.5, 5.5)))))
    assert(StatsWindows.windows(In(Cast(k, LongType), Seq(Literal(2L), Literal(9L)))) ===
      List("k" -> Left(List((2.0, 2.0), (9.0, 9.0)))))
    // NON-numeric casts do not unwrap (string→int is not stats-exact)
    assert(StatsWindows.windows(Cast(s, IntegerType) > Literal(5)) === Nil)
    // NARROWING numeric casts do not unwrap either: CAST(dbl AS INT) = 5
    // matches dbl=5.5 after truncation, outside the [5,5] window — an
    // unwrap here would prune files holding matching rows (review finding)
    val dbl = AttributeReference("d", DoubleType)()
    assert(StatsWindows.windows(Cast(dbl, IntegerType) === Literal(5)) === Nil)
    assert(StatsWindows.windows(Cast(AttributeReference("l", LongType)(),
      IntegerType) > Literal(5)) === Nil)
  }

  test("StatsWindows: NaN comparisons never window (would prune files holding NaN matches)") {
    val d = AttributeReference("d", DoubleType)()
    // Spark's NaN = NaN is TRUE, but against double stats `mx >= NaN` is
    // false for every file — a NaN window would prune ALL files including
    // ones holding matching NaN rows. No window = conservative = exact.
    assert(StatsWindows.windows(d === Literal(Double.NaN)) === Nil)
    // an IN list containing NaN must prune NOTHING (not just drop the NaN
    // point): NaN rows can match, and NaN-holding files may carry NaN max
    // stats that fail every finite point window
    assert(StatsWindows.windows(In(d, Seq(Literal(1.0), Literal(Double.NaN)))) === Nil)
    assert(StatsWindows.fromFilters(Seq(
      org.apache.spark.sql.sources.EqualTo("d", Double.NaN)))._1 === Nil)
  }

  test("VersionedTable.hasColumnMapping walks every container depth") {
    import org.apache.spark.sql.types._
    def field(name: String, phys: String, dt: DataType) =
      StructField(name, dt, nullable = true,
        new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", phys).build())
    // renamed struct field buried under array<array<struct>>: mapped
    val deep = StructType(Seq(StructField("a",
      ArrayType(ArrayType(StructType(Seq(field("x", "col-x", IntegerType))))))))
    assert(graft.vt.VersionedTable.hasColumnMapping(deep),
      "a rename under nested containers is a column mapping")
    // same shape, physical == logical: not mapped
    val same = StructType(Seq(StructField("a",
      ArrayType(ArrayType(StructType(Seq(field("x", "x", IntegerType))))))))
    assert(!graft.vt.VersionedTable.hasColumnMapping(same))
    // map-value struct rename
    val mapped = StructType(Seq(StructField("m",
      MapType(StringType, StructType(Seq(field("y", "col-y", IntegerType)))))))
    assert(graft.vt.VersionedTable.hasColumnMapping(mapped))
  }

  test("StatsWindows.fromFilters: the sources.Filter front end mirrors the catalyst one") {
    import org.apache.spark.sql.{sources => f}
    val (wins, nulls) = StatsWindows.fromFilters(Seq(
      f.GreaterThan("k", 5), f.In("s", Array("a", "c")),
      f.IsNotNull("k"), f.And(f.LessThanOrEqual("k", 9), f.IsNull("v"))))
    assert(wins === List(
      "k" -> Left(List((5.0, Double.PositiveInfinity))),
      "s" -> Right(List(("a", "a"), ("c", "c"))),
      "k" -> Left(List((Double.NegativeInfinity, 9.0)))))
    assert(nulls === List("k" -> false, "v" -> true))
    // unrecognized / unsafe shapes prune nothing
    assert(StatsWindows.fromFilters(Seq(
      f.Or(f.EqualTo("k", 1), f.EqualTo("k", 2)),
      f.EqualNullSafe("k", null),
      f.In("k", Array[Any](1, "x"))))._1 === Nil)
  }

  test("BoundedCache: hard cap with LRU eviction; recently-used roots survive") {
    val c = new graft.vt.BoundedCache[String, Int](3)
    var loads = 0
    def get(k: String): Int = c.get(k) { loads += 1; k.drop(1).toInt }
    (1 to 3).foreach(i => get(s"r$i"))
    assert(loads === 3)
    get("r1") // refresh r1's recency: r2 is now the eldest
    assert(loads === 3, "a cached key is served without a load")
    get("r4")
    assert(loads === 4)
    // r1, r3, r4 are still held (hits refresh but evict nothing) ...
    Seq("r1", "r3", "r4").foreach(get)
    assert(loads === 4, "the recently-used keys survive the insert past the cap")
    // ... and the least-recently-USED r2 was evicted: it loads again
    assert(get("r2") === 2 && loads === 5, "the cap is hard — inserting past it evicts")
    // the schema cache is an instance of this with a per-JVM cap
    assert(graft.sources.DeltaChanges.SchemaCacheCap === 64)
  }

  test("property: stats pruning never drops a file containing a matching row") {
    import org.apache.spark.sql.{sources => f}
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.vt.Commit

    def samples[A](g: Gen[A], n: Int): Seq[A] =
      (1L to n.toLong).flatMap(i => g.apply(Gen.Parameters.default, Seed(i)))

    case class R(k: Option[Long], s: Option[String])
    val rowGen = for {
      k <- Gen.option(Gen.choose(-5L, 5L))
      s <- Gen.option(Gen.oneOf("a", "b", "c", "dd", "e"))
    } yield R(k, s)
    val filesGen: Gen[List[List[R]]] = Gen.choose(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 6).flatMap(m => Gen.listOfN(m, rowGen))))
    val valGen = Gen.choose(-6L, 6L)
    val strGen = Gen.oneOf("a", "b", "c", "dd", "e", "")
    val leafGen: Gen[f.Filter] = Gen.oneOf[f.Filter](
      valGen.map(v => f.EqualTo("k", v)),
      valGen.map(v => f.GreaterThan("k", v)),
      valGen.map(v => f.GreaterThanOrEqual("k", v)),
      valGen.map(v => f.LessThan("k", v)),
      valGen.map(v => f.LessThanOrEqual("k", v)),
      Gen.nonEmptyListOf(valGen).map(vs => f.In("k", vs.toArray[Any])),
      Gen.const(f.IsNull("k")), Gen.const(f.IsNotNull("k")),
      strGen.map(v => f.EqualTo("s", v)),
      strGen.map(v => f.GreaterThan("s", v)),
      strGen.map(v => f.LessThanOrEqual("s", v)),
      Gen.nonEmptyListOf(strGen).map(vs => f.In("s", vs.toArray[Any])),
      strGen.map(v => f.StringStartsWith("s", v)),
      Gen.const(f.IsNull("s")), Gen.const(f.IsNotNull("s")))
    val conjGen: Gen[List[f.Filter]] = for {
      n <- Gen.choose(1, 3)
      leaves <- Gen.listOfN(n, leafGen)
      nest <- Gen.oneOf(true, false)
    } yield if (nest && leaves.size >= 2)
      f.And(leaves(0), leaves(1)) :: leaves.drop(2) else leaves

    // truth of one conjunct for one row, SQL semantics (null fails every
    // comparison; test strings are ASCII, so natural order == UTF-8 order)
    def holds(r: R, flt: f.Filter): Boolean = flt match {
      case f.EqualTo("k", v) => r.k.contains(v)
      case f.EqualTo("s", v) => r.s.contains(v)
      case f.GreaterThan("k", v: Long) => r.k.exists(_ > v)
      case f.GreaterThan("s", v: String) => r.s.exists(_ > v)
      case f.GreaterThanOrEqual("k", v: Long) => r.k.exists(_ >= v)
      case f.LessThan("k", v: Long) => r.k.exists(_ < v)
      case f.LessThanOrEqual("k", v: Long) => r.k.exists(_ <= v)
      case f.LessThanOrEqual("s", v: String) => r.s.exists(_ <= v)
      case f.In("k", vs) => r.k.exists(x => vs.contains(x))
      case f.In("s", vs) => r.s.exists(x => vs.contains(x))
      case f.IsNull(a) => if (a == "k") r.k.isEmpty else r.s.isEmpty
      case f.IsNotNull(a) => if (a == "k") r.k.isDefined else r.s.isDefined
      case f.StringStartsWith("s", v) => r.s.exists(_.startsWith(v))
      case f.And(l, rr) => holds(r, l) && holds(r, rr)
      case other => fail(s"generator produced unhandled shape $other")
    }

    // commit metadata exactly as the write path records it: min/max over
    // non-nulls (entry omitted when all-null), nullCount, rowCount
    def commitOf(files: List[List[R]]): (Commit, Vector[String]) = {
      val names = files.indices.map(i => s"data/f$i.parquet").toVector
      def numStats(rows: List[R]) = {
        val ks = rows.flatMap(_.k).map(_.toDouble)
        if (ks.isEmpty) Map.empty[String, (Double, Double)]
        else Map("k" -> (ks.min, ks.max))
      }
      def strStats(rows: List[R]) = {
        val ss = rows.flatMap(_.s)
        if (ss.isEmpty) Map.empty[String, (String, String)]
        else Map("s" -> (ss.min, ss.max))
      }
      val c = Commit("t", None, 0L, names, "{}", "", 0L,
        stats = names.zip(files).map { case (n, rs) => n -> numStats(rs) }.toMap,
        strStats = names.zip(files).map { case (n, rs) => n -> strStats(rs) }.toMap,
        nullStats = names.zip(files).map { case (n, rs) =>
          n -> Map("k" -> rs.count(_.k.isEmpty).toLong,
            "s" -> rs.count(_.s.isEmpty).toLong)
        }.toMap,
        rowCounts = names.zip(files).map { case (n, rs) => n -> rs.size.toLong }.toMap)
      (c, names)
    }

    val cases = samples(Gen.zip(filesGen, conjGen), 400)
    assert(cases.size > 300, "generator must actually produce cases")
    cases.foreach { case (files, conj) =>
      val (c, names) = commitOf(files)
      val kept = VtPruning.prunedFiles(c, conj).toSet
      files.zip(names).foreach { case (rows, name) =>
        val hasMatch = rows.exists(r => conj.forall(holds(r, _)))
        if (hasMatch)
          assert(kept.contains(name),
            s"file $name with rows $rows has a row matching ${conj.mkString(" AND ")} " +
              s"but was pruned — stats pruning dropped a matching row")
      }
    }
  }

  test("property: catalyst-path pruning never drops a file containing a matching row") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, BoundReference, EqualTo => CEq, Expression, GreaterThan => CGt, GreaterThanOrEqual => CGe, IsNotNull => CNotNull, IsNull => CIsNull, LessThan => CLt, LessThanOrEqual => CLe}
    import org.apache.spark.sql.types.{DoubleType => DDouble, LongType => DLong}
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.vt.Commit

    def samples[A](g: Gen[A], n: Int): Seq[A] =
      (1L to n.toLong).flatMap(i => g.apply(Gen.Parameters.default, Seed(i)))

    case class R(k: Option[Long], s: Option[String])
    val rowGen = for {
      k <- Gen.option(Gen.choose(-5L, 5L))
      s <- Gen.option(Gen.oneOf("a", "b", "c", "dd", "e"))
    } yield R(k, s)
    val filesGen: Gen[List[List[R]]] = Gen.choose(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 6).flatMap(m => Gen.listOfN(m, rowGen))))

    val k = AttributeReference("k", DLong)()
    val s = AttributeReference("s", StringType)()
    def litL(v: Long) = Literal(v, DLong)
    val valGen = Gen.choose(-6L, 6L)
    val strGen = Gen.oneOf("a", "b", "c", "dd", "e", "")
    val leafGen: Gen[Expression] = Gen.oneOf[Expression](
      valGen.map(v => CEq(k, litL(v))),
      valGen.map(v => CGt(k, litL(v))),
      valGen.map(v => CGt(litL(v), k)), // literal-left orientation
      valGen.map(v => CGe(k, litL(v))),
      valGen.map(v => CLt(k, litL(v))),
      valGen.map(v => CLe(litL(v), k)),
      Gen.nonEmptyListOf(valGen).map(vs => In(k, vs.map(litL))),
      Gen.nonEmptyListOf(valGen).map(vs => InSet(k, vs.toSet.map((x: Long) => x: Any))),
      // upcast-wrapped column — the shape Catalyst makes of `k > 2.5`
      valGen.map(v => CGt(Cast(k, DDouble), Literal(v.toDouble + 0.5))),
      valGen.map(v => CEq(Cast(k, DDouble), Literal(v.toDouble))),
      Gen.nonEmptyListOf(valGen).map(vs =>
        In(Cast(k, DDouble), vs.map(v => Literal(v.toDouble)))),
      strGen.map(v => CEq(s, Literal(v))),
      strGen.map(v => CGt(s, Literal(v))),
      strGen.map(v => CLe(s, Literal(v))),
      strGen.map(v => org.apache.spark.sql.catalyst.expressions.StartsWith(s, Literal(v))),
      Gen.const(CIsNull(k)), Gen.const(CNotNull(k)),
      Gen.const(CIsNull(s)), Gen.const(CNotNull(s)))
    val conjGen: Gen[List[Expression]] = for {
      n <- Gen.choose(1, 3)
      leaves <- Gen.listOfN(n, leafGen)
      nest <- Gen.oneOf(true, false)
    } yield if (nest && leaves.size >= 2)
      CAnd(leaves(0), leaves(1)) :: leaves.drop(2) else leaves

    // truth by SPARK ITSELF: bind and interpret the very expression the
    // FileIndex receives (null result = filter rejects, SQL semantics)
    def holds(r: R, e: Expression): Boolean = {
      val bound = e.transform {
        case a: AttributeReference =>
          BoundReference(if (a.name == "k") 0 else 1, a.dataType, nullable = true)
      }
      val row = InternalRow.fromSeq(Seq(
        r.k.map(Long.box).orNull,
        r.s.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull))
      val v = bound.eval(row)
      v != null && v.asInstanceOf[Boolean]
    }

    def commitOf(files: List[List[R]]): (Commit, Vector[String]) = {
      val names = files.indices.map(i => s"data/f$i.parquet").toVector
      val c = Commit("t", None, 0L, names, "{}", "", 0L,
        stats = names.zip(files).map { case (n, rs) =>
          val ks = rs.flatMap(_.k).map(_.toDouble)
          n -> (if (ks.isEmpty) Map.empty[String, (Double, Double)]
                else Map("k" -> (ks.min, ks.max)))
        }.toMap,
        strStats = names.zip(files).map { case (n, rs) =>
          val ss = rs.flatMap(_.s)
          n -> (if (ss.isEmpty) Map.empty[String, (String, String)]
                else Map("s" -> (ss.min, ss.max)))
        }.toMap,
        nullStats = names.zip(files).map { case (n, rs) =>
          n -> Map("k" -> rs.count(_.k.isEmpty).toLong,
            "s" -> rs.count(_.s.isEmpty).toLong)
        }.toMap,
        rowCounts = names.zip(files).map { case (n, rs) => n -> rs.size.toLong }.toMap)
      (c, names)
    }

    val cases = samples(Gen.zip(filesGen, conjGen), 400)
    assert(cases.size > 300, "generator must actually produce cases")
    cases.foreach { case (files, conj) =>
      val (c, names) = commitOf(files)
      val bounds = conj.flatMap(StatsWindows.windows)
      val nulls = conj.flatMap(StatsWindows.nullWindows)
      files.zip(names).foreach { case (rows, name) =>
        val hasMatch = rows.exists(r => conj.forall(holds(r, _)))
        if (hasMatch)
          assert(VtPruning.survives(c, name, bounds, nulls),
            s"file $name with rows $rows has a row matching " +
              s"${conj.mkString(" AND ")} but the catalyst windows pruned it")
      }
    }
  }

  test("FilterColumns: translated conjuncts are exactly the handled set") {
    import org.apache.spark.sql.{sources => f}
    val translatable: Array[f.Filter] = Array(
      f.EqualTo("k", 5), f.In("k", Array(1, 2)), f.IsNull("v"),
      f.Or(f.GreaterThan("k", 7), f.StringStartsWith("v", "a")),
      f.Not(f.LessThan("k", 0)))
    assert(FilterColumns.unhandled(translatable) === Array.empty[f.Filter])
    translatable.foreach(flt => assert(FilterColumns.translate(flt).isDefined))
    // an untranslatable leaf poisons its whole conjunct — honest fallback.
    // Collated comparisons are the real untranslatable family: a plain
    // Column comparison would apply the WRONG (binary) collation.
    val exotic: f.Filter = f.Or(f.EqualTo("k", 1),
      f.CollatedEqualTo("v", "a", org.apache.spark.sql.types.StringType))
    assert(FilterColumns.translate(exotic).isEmpty)
    assert(FilterColumns.unhandled(Array(exotic, f.EqualTo("k", 1))) === Array(exotic))
  }

  test("VtStreamOffset: json round-trips every shape, checkpoint-stable") {
    val shapes = Seq(
      VtStreamOffset(-1L),                      // snapshot pending
      VtStreamOffset(7L),                       // tailing / snapshot done
      VtStreamOffset(0L, tail = true),          // startingVersion=1 base
      VtStreamOffset(-1L, tail = true),         // startingVersion=0 base
      VtStreamOffset(4L, snapPos = 128L),       // mid-chunked-snapshot
      VtStreamOffset(4L, tail = true, snapPos = 2L))
    shapes.foreach { o =>
      assert(VtStreamOffset.parse(o.json) === o, s"round-trip of ${o.json}")
    }
    // the engine hands back SerializedOffset json — field order must not
    // matter, absent flags default off
    assert(VtStreamOffset.parse("""{"version":3}""") === VtStreamOffset(3L))
    assert(VtStreamOffset.parse("""{"tail":true,"version":-1}""")
      === VtStreamOffset(-1L, tail = true))
    assert(VtStreamOffset.parse("""{"snapPos":9,"version":2}""")
      === VtStreamOffset(2L, snapPos = 9L))
    intercept[IllegalArgumentException](VtStreamOffset.parse("""{"x":1}"""))
  }
}

package graft.sources

import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.{sources => f}
import org.apache.spark.sql.types.{DataType, NumericType, StringType}

/** Path-option normalization shared by every provider: the SQL catalog
  * hands `OPTIONS (path '…')` back as a `file:` URI, the DataFrame API as
  * a bare filesystem path — both must address the same table. */
private[graft] object SourcePaths {
  def local(raw: String): String =
    if (raw.startsWith("file:")) java.nio.file.Paths.get(java.net.URI.create(raw)).toString
    else raw

  /** The mandatory, normalized `path` option — one error message shape
    * across every provider. */
  def required(params: Map[String, String], format: String, what: String): String =
    local(params.getOrElse("path", throw new IllegalArgumentException(
      s"$format needs option 'path' (the $what)")))

  /** A reader-option timestamp (`timestampAsOf`) → epoch millis. Accepts
    * what Delta's reader option accepts: raw epoch millis (all digits),
    * an ISO instant with zone (`2026-08-14T12:00:00Z`), or a local
    * date / date-time (`2026-08-14` / `2026-08-14 12:00:00[.SSS]`)
    * interpreted in the SESSION time zone (`spark.sql.session.timeZone`
    * — Delta's rule; never the JVM default, which differs per executor
    * host). */
  def parseTimestamp(spark: org.apache.spark.sql.SparkSession, raw: String): Long = {
    val t = raw.trim
    t.toLongOption.getOrElse {
      try java.time.Instant.parse(t).toEpochMilli
      catch {
        case _: java.time.format.DateTimeParseException =>
          val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
          val ldt =
            if (t.length <= 10) java.time.LocalDate.parse(t).atStartOfDay()
            else java.time.LocalDateTime.parse(t.replace(' ', 'T'))
          ldt.atZone(zone).toInstant.toEpochMilli
      }
    }
  }
}

/** Shared predicate→window extraction for file-skipping scan planning
  * ([[VtFileIndex]], [[DeltaFileIndex]], the batch scans' runtime filters
  * and the [[ReplayRelation]] fallback): turns filter conjuncts into
  * per-column DISJUNCTIONS of [lower, upper] ranges a file's min/max
  * stats can be tested against —
  * a plain comparison yields one range, `IN (…)` one POINT range per
  * value (the union-of-point-windows semantics, exact where a single
  * min..max envelope would keep every file straddling the list's hull).
  * Two front ends share the vocabulary: catalyst `Expression`s (what a
  * `FileIndex` receives) and `org.apache.spark.sql.sources.Filter`s
  * (what a `PrunedFilteredScan` receives). Only shapes whose stats
  * semantics are EXACT are recognized — anything else prunes nothing
  * (conservative), strict bounds relax to inclusive, and an
  * order-preserving numeric upcast Catalyst wrapped around the column
  * (`cast(int_col as bigint) > 5L`) is unwrapped (stats compare as
  * doubles, so the widened literal is as exact as the original): stats
  * pruning may KEEP extra files, never drop a matching one. NEVER use
  * these windows for PARTITION filters of a partitioned relation: Spark
  * strips partition-only filters from the post-scan filter set, so
  * partition pruning must evaluate the filter exactly
  * ([[DeltaFileIndex.listFiles]]), not conservatively. (The fallback
  * relation MAY window partition columns — there the pushed filters are
  * re-applied as ordinary row predicates, so conservative is safe.) */
private[sources] object StatsWindows {

  /** Disjunction of inclusive ranges: a file survives iff ANY range
    * intersects its [min, max]. `Left` = numeric (compared as doubles),
    * `Right` = string (compared as unsigned UTF-8 bytes downstream). */
  type NumRanges = List[(Double, Double)]
  type StrRanges = List[(String, String)]
  type Window = (String, Either[NumRanges, StrRanges])

  // open-ended string windows: "" is the true minimum; the max sentinel is
  // a run of U+10FFFF, above any realistic stats value
  val MinString = ""
  val MaxString: String = new String(Character.toChars(0x10FFFF)) * 8

  /** Does a file with numeric stats [mn, mx] survive the disjunction? */
  def numSurvives(mn: Double, mx: Double, ranges: NumRanges): Boolean =
    ranges.exists { case (lo, hi) => mx >= lo && mn <= hi }

  /** String twin — `cmp` is the UTF-8-byte comparator the stats were
    * ordered under ([[graft.vt.VersionedTable.utf8Cmp]]). */
  def strSurvives(mn: String, mx: String, ranges: StrRanges)
                 (cmp: (String, String) => Int): Boolean =
    ranges.exists { case (lo, hi) => cmp(mx, lo) >= 0 && cmp(mn, hi) <= 0 }

  /** The column itself, or an order-preserving numeric UPcast of it —
    * Catalyst wraps the attribute side in a `Cast` whenever the literal's
    * type is wider (`int_col > 5L`, `int_col = 5.5`). Only
    * `Cast.canUpCast` shapes unwrap: an upcast is monotone (x ≤ y ⇒
    * cast(x) ≤ cast(y)), so the widened literal's window is exact against
    * the double stats. A user-written NARROWING cast (`CAST(dbl AS INT)`)
    * must NOT unwrap — truncation is not order-preserving (dbl=5.5
    * matches `=5` after the cast but lies outside the [5,5] window), and
    * unwrapping it would prune files holding matching rows. */
  private object BoundAttr {
    def unapply(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference => Some(a)
      case Cast(a: AttributeReference, dt, _, _)
          if a.dataType.isInstanceOf[NumericType] && dt.isInstanceOf[NumericType] &&
            Cast.canUpCast(a.dataType, dt) &&
            // int/long → FLOAT is Spark-"upcast" but NOT value-faithful:
            // float(2^30+1) == 2^30f, yet the file's stats image is the
            // exact double 2^30+1, so a point window (2^30, 2^30) would
            // wrongly PRUNE the file holding the matching row. Every other
            // upcast's comparison domain embeds exactly in the double
            // stats domain (incl. long→double: the stats ARE double
            // images, so both sides round identically). Refusing the
            // unwrap only loses pruning — conservative, never wrong.
            !(dt == org.apache.spark.sql.types.FloatType &&
              (a.dataType == org.apache.spark.sql.types.IntegerType ||
                a.dataType == org.apache.spark.sql.types.LongType)) =>
        Some(a)
      case _ => None
    }
  }

  /** Null-presence demands extracted from the scan's conjuncts:
    * `(column, true)` = the filter needs NULL rows (`IS NULL`),
    * `(column, false)` = it needs NON-null rows (`IS NOT NULL`, which
    * Catalyst inserts under almost every comparison). Files whose
    * nullCount/rowCount stats prove the demand unsatisfiable are
    * skippable; unknown stats keep the file (conservative — these are
    * DATA filters, re-applied above the scan). */
  def nullWindows(e: Expression): List[(String, Boolean)] = e match {
    case And(l, r) => nullWindows(l) ++ nullWindows(r)
    case org.apache.spark.sql.catalyst.expressions.IsNull(a: AttributeReference) =>
      List(a.name -> true)
    case org.apache.spark.sql.catalyst.expressions.IsNotNull(a: AttributeReference) =>
      List(a.name -> false)
    case _ => Nil
  }

  // catalyst literal → window value (None = unrecognized, prune nothing).
  // NaN never windows: `mx >= NaN` is false for every file, so a NaN
  // equality window would prune ALL files — while Spark's own semantics
  // make `col = NaN` TRUE for NaN rows. No window = conservative = exact.
  // TYPE-AWARE: a TimestampType literal carries MICROseconds internally,
  // but the stats writer records timestamp min/max in the cast-to-double
  // domain — epoch SECONDS ([[graft.vt.VersionedTable]]'s
  // collectFileStats) — so the literal must be normalized or the window
  // compares micros against seconds and wrongly prunes every file holding
  // matching rows. DateType (days) and TimestampNTZType have no stats
  // domain at all (the writer refuses them): no window, prune nothing.
  private def litNum(dt: DataType, value: Any): Option[Double] = (value match {
    case null => None
    case l: java.lang.Long if dt == org.apache.spark.sql.types.TimestampType =>
      Some(l.toDouble / 1e6) // micros → the stats' epoch-seconds domain
    case _ if dt == org.apache.spark.sql.types.DateType ||
        dt == org.apache.spark.sql.types.TimestampNTZType ||
        dt == org.apache.spark.sql.types.TimestampType => None
    case n: Number => Some(n.doubleValue())
    case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
    case _ => None
  }).filterNot(_.isNaN)
  private def litStr(value: Any): Option[String] = value match {
    case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
    case _ => None
  }

  /** One comparison window: `lo`/`hi` say which side(s) the literal
    * bounds; the open side stretches to the sentinel. */
  private def cmpWindow(name: String, dt: DataType, value: Any,
                        lo: Boolean, hi: Boolean,
                        num: (DataType, Any) => Option[Double],
                        str: Any => Option[String]): List[Window] =
    (if (dt == StringType)
       str(value).map(v => name -> Right(List((
         if (lo) v else MinString, if (hi) v else MaxString))))
     else
       num(dt, value).map(v => name -> Left(List((
         if (lo) v else Double.NegativeInfinity,
         if (hi) v else Double.PositiveInfinity))))).toList

  /** `startsWith(col, p)` window: every match lies in [p, successor(p)]
    * ([[graft.vt.VersionedTable.prefixSuccessor]] — the same bound the
    * stats writer truncates long maxima with) — the hi end is
    * inclusive-conservative (a file whose min IS the successor survives;
    * it just holds no match). An empty / all-maximal prefix has no finite
    * successor: no window, pruning nothing. */
  private def prefixWindow(name: String, p: String): List[Window] =
    graft.vt.VersionedTable.prefixSuccessor(p)
      .map(succ => name -> Right(List((p, succ)))).toList

  /** `IN`-list window: one point range per NON-null value (null list
    * entries can never match — `a IN (…, NULL)` is never true for the
    * null entry). Exact only when EVERY non-null value converts to one
    * side (all-numeric or all-string); a partially-recognized list must
    * prune nothing, else a file holding only the unrecognized values
    * would be wrongly dropped. */
  private def inWindow(name: String, dt: DataType, values: Seq[Any],
                       num: (DataType, Any) => Option[Double],
                       str: Any => Option[String]): List[Window] = {
    val nonNull = values.filter(_ != null)
    if (nonNull.isEmpty) Nil
    else {
      val nums = nonNull.map(num(dt, _))
      val strs = nonNull.map(str)
      if (nums.forall(_.isDefined))
        List(name -> Left(nums.map(_.get).map(v => (v, v)).toList))
      else if (strs.forall(_.isDefined))
        List(name -> Right(strs.map(_.get).map(v => (v, v)).toList))
      else Nil
    }
  }

  def windows(e: Expression): List[Window] = {
    def w(a: AttributeReference, l: Literal, lo: Boolean, hi: Boolean) =
      cmpWindow(a.name, l.dataType, l.value, lo, hi, litNum, litStr)
    e match {
      case And(l, r) => windows(l) ++ windows(r)
      case EqualTo(BoundAttr(a), l: Literal) => w(a, l, lo = true, hi = true)
      case EqualTo(l: Literal, BoundAttr(a)) => w(a, l, lo = true, hi = true)
      case EqualNullSafe(BoundAttr(a), l: Literal) => w(a, l, lo = true, hi = true)
      case GreaterThan(BoundAttr(a), l: Literal) => w(a, l, lo = true, hi = false)
      case GreaterThanOrEqual(BoundAttr(a), l: Literal) => w(a, l, lo = true, hi = false)
      case LessThan(BoundAttr(a), l: Literal) => w(a, l, lo = false, hi = true)
      case LessThanOrEqual(BoundAttr(a), l: Literal) => w(a, l, lo = false, hi = true)
      case GreaterThan(l: Literal, BoundAttr(a)) => w(a, l, lo = false, hi = true)
      case GreaterThanOrEqual(l: Literal, BoundAttr(a)) => w(a, l, lo = false, hi = true)
      case LessThan(l: Literal, BoundAttr(a)) => w(a, l, lo = true, hi = false)
      case LessThanOrEqual(l: Literal, BoundAttr(a)) => w(a, l, lo = true, hi = false)
      // IN — as written (a list of literals) and as optimized (InSet once the
      // list crosses spark.sql.optimizer.inSetConversionThreshold)
      case In(BoundAttr(a), vs) if vs.forall(_.isInstanceOf[Literal]) =>
        inWindow(a.name, a.dataType, vs.map(_.asInstanceOf[Literal].value), litNum, litStr)
      case InSet(BoundAttr(a), vs) =>
        // InSet values are raw internal objects with no per-value type — the
        // ATTRIBUTE's type decides the domain (micros-normalize timestamps)
        inWindow(a.name, a.dataType, vs.toSeq, litNum, litStr)
      case org.apache.spark.sql.catalyst.expressions.StartsWith(
          a: AttributeReference, l: Literal) if l.dataType == StringType =>
        litStr(l.value).toList.flatMap(p => prefixWindow(a.name, p))
      case _ => Nil
    }
  }

  // ---- the sources.Filter front end (PrunedFilteredScan relations) -------
  //
  // Filter values are EXTERNAL Scala types (String, not UTF8String), hence
  // the separate converters. Top-level filters arrive as implicit conjuncts;
  // sources.And recurses, everything unrecognized prunes nothing.

  private def extNum(dt: DataType, value: Any): Option[Double] = (value match {
    case null => None
    // external timestamp values (java.sql.Timestamp / Instant) → the stats'
    // epoch-seconds domain, same normalization as litNum's micros case
    case t: java.sql.Timestamp =>
      val i = t.toInstant; Some(i.getEpochSecond.toDouble + i.getNano / 1e9)
    case i: java.time.Instant => Some(i.getEpochSecond.toDouble + i.getNano / 1e9)
    case _: java.sql.Date | _: java.time.LocalDate | _: java.time.LocalDateTime =>
      None // no stats domain exists for dates / NTZ timestamps
    case n: Number => Some(n.doubleValue())
    case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
    case _ => None
  }).filterNot(_.isNaN) // same NaN rule as litNum
  private def extStr(value: Any): Option[String] = value match {
    case s: String => Some(s)
    case _ => None
  }
  private def extDt(value: Any): DataType =
    if (value.isInstanceOf[String]) StringType
    else org.apache.spark.sql.types.DoubleType // only the string-ness matters

  def filterWindows(flt: f.Filter): List[Window] = flt match {
    case f.And(l, r) => filterWindows(l) ++ filterWindows(r)
    case f.EqualTo(a, v) => cmpWindow(a, extDt(v), v, lo = true, hi = true, extNum, extStr)
    case f.EqualNullSafe(a, v) if v != null =>
      cmpWindow(a, extDt(v), v, lo = true, hi = true, extNum, extStr)
    case f.GreaterThan(a, v) => cmpWindow(a, extDt(v), v, lo = true, hi = false, extNum, extStr)
    case f.GreaterThanOrEqual(a, v) => cmpWindow(a, extDt(v), v, lo = true, hi = false, extNum, extStr)
    case f.LessThan(a, v) => cmpWindow(a, extDt(v), v, lo = false, hi = true, extNum, extStr)
    case f.LessThanOrEqual(a, v) => cmpWindow(a, extDt(v), v, lo = false, hi = true, extNum, extStr)
    case f.In(a, vs) => inWindow(a, org.apache.spark.sql.types.DoubleType,
      vs.toSeq, extNum, extStr) // extNum types off the VALUE, dt is unused
    case f.StringStartsWith(a, v) => prefixWindow(a, v)
    case _ => Nil
  }

  def filterNullWindows(flt: f.Filter): List[(String, Boolean)] = flt match {
    case f.And(l, r) => filterNullWindows(l) ++ filterNullWindows(r)
    case f.IsNull(a) => List(a -> true)
    case f.IsNotNull(a) => List(a -> false)
    case _ => Nil
  }

  /** Both extractions over a `PrunedFilteredScan`'s conjunct array. */
  def fromFilters(filters: Seq[f.Filter]): (List[Window], List[(String, Boolean)]) =
    (filters.flatMap(filterWindows).toList,
      filters.flatMap(filterNullWindows).toList)

  // ---- bloom point probes (r19) ------------------------------------------

  /** One conjunct's POINT probe group for the bloom index: the column and
    * the exact probe value(s) it is pinned to — `Left` = the cast-to-long
    * integral image, `Right` = strings. A file survives a group iff SOME
    * value might be in its bloom (disjunction within a group — an IN
    * list; conjunction across groups). Shapes/values without an EXACT
    * probe image yield no probe: fractional doubles, whole doubles at or
    * beyond 2^53 (multiple longs share that rounded image — probing one
    * preimage would wrongly prune the others), timestamps/dates,
    * partially-recognized IN lists. No probe = conservative = keep. */
  type Probe = (String, Either[List[Long], List[String]])

  private def probeLong(dt: DataType, value: Any): Option[Long] = value match {
    case null => None
    case _ if dt == org.apache.spark.sql.types.TimestampType ||
        dt == org.apache.spark.sql.types.DateType ||
        dt == org.apache.spark.sql.types.TimestampNTZType => None
    case b: java.lang.Byte => Some(b.toLong)
    case s: java.lang.Short => Some(s.toLong)
    case i: java.lang.Integer => Some(i.toLong)
    case l: java.lang.Long => Some(l.longValue)
    case d: java.lang.Double
        if d.doubleValue == Math.rint(d.doubleValue) &&
          math.abs(d.doubleValue) < 9007199254740992.0 => // strictly < 2^53
      Some(d.doubleValue.toLong)
    case _ => None
  }

  private def probeGroup(name: String, dt: DataType, values: Seq[Any],
                         str: Any => Option[String]): List[Probe] = {
    val nonNull = values.filter(_ != null)
    if (nonNull.isEmpty) Nil
    else {
      val longs = nonNull.map(probeLong(dt, _))
      val strs = nonNull.map(str)
      if (longs.forall(_.isDefined)) List(name -> Left(longs.map(_.get).toList))
      else if (strs.forall(_.isDefined)) List(name -> Right(strs.map(_.get).toList))
      else Nil
    }
  }

  /** Catalyst front end (FileIndex / DSv2 data filters). */
  def pointProbes(e: Expression): List[Probe] = e match {
    case And(l, r) => pointProbes(l) ++ pointProbes(r)
    case EqualTo(BoundAttr(a), l: Literal) => probeGroup(a.name, l.dataType, Seq(l.value), litStr)
    case EqualTo(l: Literal, BoundAttr(a)) => probeGroup(a.name, l.dataType, Seq(l.value), litStr)
    case EqualNullSafe(BoundAttr(a), l: Literal) =>
      probeGroup(a.name, l.dataType, Seq(l.value), litStr)
    case In(BoundAttr(a), vs) if vs.forall(_.isInstanceOf[Literal]) =>
      probeGroup(a.name, a.dataType, vs.map(_.asInstanceOf[Literal].value), litStr)
    case InSet(BoundAttr(a), vs) => probeGroup(a.name, a.dataType, vs.toSeq, litStr)
    case _ => Nil
  }

  /** `sources.Filter` front end (PrunedFilteredScan relations) — external
    * value types (String, boxed numbers). */
  def filterPointProbes(flt: f.Filter): List[Probe] = flt match {
    case f.And(l, r) => filterPointProbes(l) ++ filterPointProbes(r)
    case f.EqualTo(a, v) => probeGroup(a, extDt(v), Seq(v), extStr)
    case f.EqualNullSafe(a, v) if v != null => probeGroup(a, extDt(v), Seq(v), extStr)
    case f.In(a, vs) => probeGroup(a, org.apache.spark.sql.types.DoubleType, vs.toSeq, extStr)
    case _ => Nil
  }
}

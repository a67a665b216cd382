package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.{sources => f}

/** `sources.Filter` → `Column` translation for the DSv1 fallback relation
  * ([[ReplayRelation]], over either table kind's replay): the inverse of
  * Spark's own `DataSourceStrategy.translateFilter`, so a pushed filter can
  * be applied to the INNER DataFrame the relation delegates to — putting
  * the predicate into the replay's scan, below the deletion-vector row
  * filter, where parquet pushdown and footer skipping see it. Semantics are exact by construction (each case maps to
  * the very Catalyst expression the filter was translated FROM), so a
  * translated filter may be declared handled; anything untranslatable is
  * reported back through `unhandledFilters` and Spark re-applies it above
  * the scan. Attribute names reach `col` verbatim — dotted names address
  * nested fields, exactly as they did in the originating plan. */
private[sources] object FilterColumns {

  def translate(flt: f.Filter): Option[Column] = flt match {
    case f.EqualTo(a, v) => Some(col(a) === lit(v))
    case f.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case f.GreaterThan(a, v) => Some(col(a) > lit(v))
    case f.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case f.LessThan(a, v) => Some(col(a) < lit(v))
    case f.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case f.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case f.IsNull(a) => Some(col(a).isNull)
    case f.IsNotNull(a) => Some(col(a).isNotNull)
    case f.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case f.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case f.StringContains(a, v) => Some(col(a).contains(v))
    case f.And(l, r) => for (lc <- translate(l); rc <- translate(r)) yield lc && rc
    case f.Or(l, r) => for (lc <- translate(l); rc <- translate(r)) yield lc || rc
    case f.Not(c) => translate(c).map(not)
    case _: f.AlwaysTrue => Some(lit(true))
    case _: f.AlwaysFalse => Some(lit(false))
    case _ => None
  }

  /** The honest `unhandledFilters` answer: exactly the conjuncts
    * `translate` cannot express (those ARE re-applied by Spark). */
  def unhandled(filters: Array[f.Filter]): Array[f.Filter] =
    filters.filter(flt => translate(flt).isEmpty)

  /** Apply every translatable conjunct to `df` (the untranslatable rest is
    * Spark's to re-apply — see [[unhandled]]). */
  def applyAll(df: org.apache.spark.sql.DataFrame,
               filters: Array[f.Filter]): org.apache.spark.sql.DataFrame =
    filters.flatMap(translate).foldLeft(df)(_.filter(_))
}

/** `sources.Filter` → ANSI SQL text, for handing a pushed predicate to an
  * engine entry point that takes a WHERE string ([[graft.vt.VersionedTable
  * .delete]] behind SQL `DELETE FROM` — see [[VtTable]]'s `SupportsDelete`).
  * Rendering is exact: attributes re-quote with backticks (dotted names
  * address nested fields, split like `col` does), values render through
  * catalyst's own `Literal.sql` (strings escaped, dates/timestamps as typed
  * literals), and every composite maps to the operator the filter was
  * translated FROM. Anything unrepresentable returns None — the caller must
  * then refuse the operation rather than approximate it. */
private[sources] object FilterSql {

  private def attr(a: String): String =
    a.split('.').map(p => "`" + p.replace("`", "``") + "`").mkString(".")

  private def value(v: Any): Option[String] = v match {
    case null => Some("NULL")
    case _ => scala.util.Try(
      org.apache.spark.sql.catalyst.expressions.Literal(v).sql).toOption
  }

  def render(flt: f.Filter): Option[String] = flt match {
    case f.EqualTo(a, v) => value(v).map(s => s"${attr(a)} = $s")
    case f.EqualNullSafe(a, v) => value(v).map(s => s"${attr(a)} <=> $s")
    case f.GreaterThan(a, v) => value(v).map(s => s"${attr(a)} > $s")
    case f.GreaterThanOrEqual(a, v) => value(v).map(s => s"${attr(a)} >= $s")
    case f.LessThan(a, v) => value(v).map(s => s"${attr(a)} < $s")
    case f.LessThanOrEqual(a, v) => value(v).map(s => s"${attr(a)} <= $s")
    case f.In(a, vs) =>
      val rendered = vs.toIndexedSeq.map(value)
      if (vs.isEmpty || rendered.exists(_.isEmpty)) None
      else Some(s"${attr(a)} IN (${rendered.flatten.mkString(", ")})")
    case f.IsNull(a) => Some(s"${attr(a)} IS NULL")
    case f.IsNotNull(a) => Some(s"${attr(a)} IS NOT NULL")
    case f.StringStartsWith(a, v) =>
      value(v).map(s => s"startswith(${attr(a)}, $s)")
    case f.StringEndsWith(a, v) =>
      value(v).map(s => s"endswith(${attr(a)}, $s)")
    case f.StringContains(a, v) =>
      value(v).map(s => s"contains(${attr(a)}, $s)")
    case f.And(l, r) => for (ls <- render(l); rs <- render(r)) yield s"(($ls) AND ($rs))"
    case f.Or(l, r) => for (ls <- render(l); rs <- render(r)) yield s"(($ls) OR ($rs))"
    case f.Not(c) => render(c).map(s => s"(NOT ($s))")
    case _: f.AlwaysTrue => Some("true")
    case _: f.AlwaysFalse => Some("false")
    case _ => None
  }
}

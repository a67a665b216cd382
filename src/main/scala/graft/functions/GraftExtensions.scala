package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers graft's native expressions
  * with the function registry, so SQL text can call them —
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions)...
  *   // or: spark.sql.extensions=graft.functions.GraftExtensions
  *   spark.sql("SELECT float_vec_dot(a, b) FROM vecs")
  * }}}
  * The Column API (`FloatVecDot.fdot`) works without this — registration only
  * adds the SQL-text surface, which is why no query in Registry depends on it
  * (the driver may build sessions without extensions).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("float_vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "float_vec_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "float_vec_dot(a, b) takes exactly 2 arguments")
        FloatVecDot(children.head, children(1))
      }))
    // Optimizer rule: bounded levenshtein predicates gain a free
    // length-difference prefilter and switch to the banded threshold DP.
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinPrefilter)
    // Planner strategy: a metadata-answered aggregate's alias projection
    // over its one-row local scan plans as a local relation — no Spark job.
    ext.injectPlannerStrategy(_ => graft.plans.LocalScanProject)
    // Delta's CDF table-valued function, registered through the analyzer's
    // own TVF door (same registry as the built-in `range`):
    // SELECT … FROM table_changes('[branch@]path', start[, end]).
    ext.injectTableFunction((
      new FunctionIdentifier("table_changes"),
      new ExpressionInfo(graft.plans.TableChanges.getClass.getName, "table_changes"),
      (args: Seq[Expression]) => graft.plans.TableChanges.plan(args)))
    // Parser wrapper: UPDATE / MERGE INTO / DELETE FROM statements on
    // vt-catalog tables execute through the engine's row-level ops
    // (graft.sources.VtSqlDml) — the rest of SQL passes through untouched.
    ext.injectParser((session, delegate) =>
      new graft.sources.GraftSqlParser(session, delegate))
  }
}

package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.connector.read.LocalScan
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Planner strategy: a `Project` of (aliased) attributes over a DSv2
  * [[LocalScan]] plans as ONE local relation holding the projected rows.
  * V2 complete aggregate pushdown answers a metadata aggregate
  * (`SELECT count(*)` from the commit log) as a one-row `LocalScan`, and
  * wraps it in an alias `Project`; planned as usual, that project runs as
  * a whole-stage-codegen Spark job over the one row. Evaluated here on the
  * driver instead, the answer costs no job at all.
  *
  * Registered by [[graft.functions.GraftExtensions]]. */
object LocalScanProject extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(list, rel @ DataSourceV2ScanRelation(_, scan: LocalScan, _, _, _))
        if list.forall(attribute) =>
      val project = UnsafeProjection.create(list, rel.output)
      LocalTableScanExec(list.map(_.toAttribute),
        scan.rows().toIndexedSeq.map(project(_).copy()), None) :: Nil
    case _ => Nil
  }

  private def attribute(e: Expression): Boolean = e match {
    case _: Attribute => true
    case Alias(child, _) => attribute(child)
    case _ => false
  }
}

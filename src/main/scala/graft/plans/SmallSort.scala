package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf

/** Plans a global sort over a small input as one sorted partition:
  * `SortExec(order, global = false, CoalesceExec(1, child))`. The output has
  * the same total order as the range sort, without its sampling job, its
  * range exchange and, over a scan, the second read of the input the
  * sampling job makes.
  *
  * "Small" is `spark.sql.files.openCostInBytes`: Spark's own size below
  * which a file is not worth a separate task, so the gate adds no knob and
  * reads the same on any core count. Larger or unknown sizes (a checkpoint
  * scan) keep the range sort. Under AQE the planner re-runs this strategy
  * with a materialized stage's runtime statistics, so a sort above an
  * aggregate or a join whose static estimate is large still becomes one
  * partition once the stage below it has produced a few rows.
  *
  * `orderBy(..).limit(n)` is unaffected: the planner matches the limit
  * first and plans it as `TakeOrderedAndProject`. Installed by
  * [[Graft.install]]. */
object SmallSort extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _)
        if child.stats.sizeInBytes <= SQLConf.get.filesOpenCostInBytes =>
      SortExec(order, global = false, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }
}

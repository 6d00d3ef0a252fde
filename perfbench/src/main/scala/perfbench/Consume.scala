package perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, QueryExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

/** The timed action, and the check that it computes the whole output. */
object Consume {

  /** Compute every row and column of `df` and discard them: the `noop`
    * writer runs the full plan, whereas `count()` lets the optimizer
    * prune every column the count does not need. Returns the row count,
    * observed on the way through. */
  def apply(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  /** Every node of an executed plan, looking through adaptive execution
    * and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  /** Run `action` and return the query execution it ran last. */
  def lastExecution(spark: SparkSession)(action: => Any): QueryExecution = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      action
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      seen.toArray(Array.empty[QueryExecution]).last
    } finally spark.listenerManager.unregister(l)
  }

  /** The output columns of `df` that the action run as `action` never
    * produced: a column counts as computed when some node of the
    * action's executed plan outputs the attribute. Empty means the
    * action computed the whole output. */
  def missingColumns(df: DataFrame, action: QueryExecution): Seq[String] = {
    val produced = nodes(action.executedPlan).flatMap(_.output.map(_.exprId)).toSet
    df.queryExecution.analyzed.output.filterNot(a => produced(a.exprId)).map(_.name)
  }
}

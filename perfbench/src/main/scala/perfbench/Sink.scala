package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The timed call. Spark's `noop` writer consumes every row and every
  * output column, so Catalyst may not prune any of the query's work;
  * `count()` would let it drop whole windows and aggregates. */
object Sink {
  def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Canonical forms of every aggregate and window expression in a plan,
    * with multiplicity. */
  def heavyExpressions(plan: LogicalPlan): Map[Expression, Int] = {
    val found = Seq.newBuilder[Expression]
    plan.foreach(_.expressions.foreach(_.foreach {
      case e: AggregateExpression => found += e.canonicalized
      case e: WindowExpression => found += e.canonicalized
      case _ =>
    }))
    found.result().groupBy(identity).map { case (e, es) => e -> es.size }
  }

  /** The aggregate and window expressions of `query` that the plans
    * `executed` by one call lost; empty when they keep all of them. */
  def missing(query: LogicalPlan, executed: Seq[LogicalPlan]): Seq[Expression] = {
    val kept = executed.map(heavyExpressions).flatten.groupMapReduce(_._1)(_._2)(_ + _)
    heavyExpressions(query).toSeq.collect {
      case (e, n) if kept.getOrElse(e, 0) < n => e
    }
  }
}

package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** `SparkSessionExtensions` hook: makes every graft codec/vector
  * function available in any session built with
  * `.withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.functions.GraftExtensions`) — no
  * imperative register() call needed — and injects the engine's
  * planner rules:
  *  - [[graft.plans.NanosRangeRewrite]] (optimizer): turns epoch-nanos
  *    time-range predicates over TIMESTAMP_NTZ sources back into
  *    pushdown-able scan ranges;
  *  - [[graft.plans.CoalesceBucketedScans]] (post-planner, adaptive
  *    plans only): scans an N-bucket file table as k bucket groups,
  *    k sized to the session's shuffle parallelism.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExpressions.builders.foreach { case (name, b) =>
      e.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.GraftExpressions", name), b))
    }
    e.injectOptimizerRule(_ => graft.plans.NanosRangeRewrite)
    e.injectQueryPostPlannerStrategyRule(_ => graft.plans.CoalesceBucketedScans)
  }
}

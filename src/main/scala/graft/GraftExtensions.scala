package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** SparkSessionExtensions hook: the as-of join planning rules, the
  * cartesian guard, and every native function of
  * [[graft.functions.NativeFunctions]]'s table, so any session built
  * with `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) resolves them in SQL — the
  * deployment-grade registration path for a shared cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    // analysis-phase guardrail (opt-in via spark.graft.guard.noCartesian)
    e.injectCheckRule(graft.plans.CartesianGuard.rule)
    // native as-of join (logical AsOfJoin → merge-scan AsOfJoinExec),
    // plus the pushdown/pruning rules the opaque custom node needs
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.AsOfJoinRules.PushFilterThroughAsOfJoin)
    e.injectOptimizerRule(_ => graft.plans.AsOfJoinRules.PruneAsOfJoinRight)
    graft.functions.NativeFunctions.table.foreach { f =>
      e.injectFunction((FunctionIdentifier(f.name), f.info, f.builder))
    }
  }
}

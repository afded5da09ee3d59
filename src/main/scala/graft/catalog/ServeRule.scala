package graft.catalog

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** A graft serving rule: a kill switch, the node rewrites in [[serve]], and
  * a decline on error. With `switchKey` set to `false` the plan passes
  * through and [[serve]] never runs. A [[serve]] that throws on a node
  * leaves that node as it was and logs a warning naming `label` — a rule
  * can decline, never break a query. */
abstract class ServeRule(switchKey: String, label: String)
    extends Rule[LogicalPlan] {

  /** The node rewrites; a node outside its domain is left as it is. */
  protected def serve: PartialFunction[LogicalPlan, LogicalPlan]

  /** Traversal order: bottom-up unless a subclass needs the outer node
    * matched before its children. */
  protected def topDown: Boolean = false

  final override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(switchKey, "true").toBoolean) return plan
    val pf = serve
    val guarded: PartialFunction[LogicalPlan, LogicalPlan] = {
      case p if pf.isDefinedAt(p) =>
        try pf(p)
        catch { case e: Exception =>
          logWarning(s"$label declined on error: $e"); p
        }
    }
    if (topDown) plan.transformDown(guarded) else plan.transformUp(guarded)
  }
}

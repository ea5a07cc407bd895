package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Root-level `Sort(Project(child))` → `Project(Sort(child))` when the
  * sort keys are pass-through child attributes and the projection only
  * WIDENS the row (optimization round 20, guide §2.3/§2.5).
  *
  * Why: a global sort plans as a range exchange whose partitioner runs a
  * SAMPLING pass over its child — so an expensive projection under a
  * trailing `ORDER BY` (the KQL `extend …heavy… | project … | order by
  * id` shape: crypto hashes, geo ops, codecs) is evaluated TWICE, and
  * both evaluations run at the parallelism of the narrow input scan
  * (often one task for a one-row-group parquet file). With the
  * projection above the sort it is evaluated once, after the exchange,
  * at shuffle parallelism — and the exchange moves the narrow source
  * columns instead of the widened row.
  *
  * Safety:
  *  - fires only on the plan ROOT (below a Limit, Spark's
  *    TakeOrderedAndProject already fuses project+sort better);
  *  - only when every sort reference is a pass-through child attribute
  *    (an aliased sort key would leave the Sort unresolvable below);
  *  - only when every projection expression is deterministic (identical
  *    per-row values on either side of the sort);
  *  - only when the projection widens the row by declared type sizes
  *    (a NARROWING projection — e.g. hashing a wide column down to a
  *    digest — is better left below the exchange, which then carries
  *    fewer bytes);
  *  - row multiset and key ordering are unchanged; tie order within
  *    equal keys is unspecified in both shapes.
  */
object DeferProjectPastSort extends Rule[LogicalPlan] {

  private def isPassThrough(e: NamedExpression): Boolean = e match {
    case _: Attribute => true
    case Alias(_: Attribute, _) => true
    case _ => false
  }

  private def width(attrs: Iterable[Attribute]): Long =
    attrs.map(_.dataType.defaultSize.toLong).sum

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    case s: Sort if s.global =>
      s.child match {
        case p: Project
            if p.projectList.exists(!isPassThrough(_)) &&
              p.projectList.forall(_.deterministic) &&
              s.references.subsetOf(p.child.outputSet) &&
              // sampled+shuffled bytes after the move (pruned child
              // output) must not exceed what the current shape carries
              width(AttributeSet(p.references ++ s.references)) <
                width(p.output) =>
          Project(p.projectList, s.withNewChildren(Seq(p.child)))
        case _ => plan
      }
    case _ => plan
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case s: Sort => rewrite(s)
    // A write-terminated plan (every bench execution: the noop sink's V2
    // OverwriteByExpression; any AppendData / V1 DataWritingCommand) keeps
    // the command at the ROOT with the trailing Sort as its query child —
    // without this arm the rule was inert in exactly the measured path
    // (ADVICE r20). The rewrite preserves the query subtree's output
    // attributes (same projectList on top), so the command's resolved
    // column mapping is untouched.
    case c: Command => c.mapChildren(rewrite)
    case _ => plan
  }
}

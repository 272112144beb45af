package graft

import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Window}
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** The plan-shape lint of the registry (docs/SCALE.md). Two shapes in a
  * key's optimized logical plan stop it from scaling with the data:
  *   - a `Window` with no partition key moves its whole input into one
  *     task;
  *   - a join with no equi key (a cross or theta join) pairs every row
  *     of one side with every row of the other.
  * Each is an offender only when Catalyst cannot bound its input: the
  * window's child, or both sides of the join, have no `maxRows` (a
  * scalar aggregate, a `limit` or a literal range all have one). An
  * offender passes only when its key declares an allowance for that
  * shape, with the bound the plan does not show.
  *
  * A persisted frame (a session artifact) is read through the plan it
  * was cached from, optimized by the active session, so an artifact's
  * build is linted in every key that reads it. A checkpointed frame
  * keeps no plan, so the lint stops at its `LogicalRDD`. */
object PlanLint {
  sealed abstract class Shape(val name: String)
  case object GlobalWindow extends Shape("global window over an unbounded frame")
  case object UnboundedJoin extends Shape("non-equi join of two unbounded sides")

  final case class Offender(shape: Shape, node: LogicalPlan)

  def offenders(plan: LogicalPlan): Seq[Offender] = plan.flatMap {
    case w: Window if w.partitionSpec.isEmpty && w.child.maxRows.isEmpty =>
      Seq(Offender(GlobalWindow, w))
    case j: Join if ExtractEquiJoinKeys.unapply(j).isEmpty &&
        j.left.maxRows.isEmpty && j.right.maxRows.isEmpty =>
      Seq(Offender(UnboundedJoin, j))
    case m: InMemoryRelation =>
      offenders(SparkSession.active.sessionState.optimizer
        .execute(m.cacheBuilder.logicalPlan))
    case _ => Nil
  }

  /** The lint's findings for one key's plan, empty when it passes: each
    * offender its declaration does not allow, and each allowance for a
    * shape the plan no longer has. */
  def check(q: Query, plan: LogicalPlan): Seq[String] = {
    val found = offenders(plan)
    val unallowed = found.filterNot(o => q.allowances.contains(o.shape))
      .map { o =>
        val tree = o.node.treeString.linesIterator.take(12).mkString("\n  ")
        s"${q.key}: ${o.shape.name}, no allowance declared:\n  $tree"
      }
    val stale = q.allowances.keys.filterNot(s => found.exists(_.shape == s))
      .map(s => s"${q.key}: stale allowance for ${s.name} " +
        s"(${q.allowances(s)}): the plan has none")
    unallowed ++ stale
  }
}

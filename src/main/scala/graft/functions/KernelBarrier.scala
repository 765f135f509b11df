package graft.functions

import org.apache.spark.sql.{DataFrame, graftbridge}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** A logical node the optimizer does not push a filter through, so a
  * kernel computed below it runs once per row.
  *
  * The pushdown rule it stops: Catalyst's predicate pushdown rewrites a
  * deterministic `Filter` that reads a projected kernel's output onto the
  * kernel itself (the alias substituted) and moves it below the `Project`,
  * and on through a `Repartition`, `Generate` or `Sort` into the scan
  * (`PushPredicateThroughNonJoin.canPushThrough` lists the node types it
  * passes, and this one is not among them). The kernel then runs twice on
  * every row: once in the pushed filter, in the scan's stage (one task
  * over a single-split file), and again in the projection. A filter above
  * the barrier stays there and reads the computed column. So does a
  * filter on a plain column: one that should reach the scan goes below
  * the barrier by hand.
  *
  * The node has no expressions and the child's output. Column pruning
  * still narrows the child (`ColumnPruning` inserts a `Project` under any
  * unary node whose parent needs fewer columns), and planning drops it:
  * [[KernelBarrier.Planner]] plans it as its child, so no physical
  * operator and no stage boundary is added, in batch, adaptive and
  * streaming plans alike.
  */
case class KernelBarrier(child: LogicalPlan) extends UnaryNode {
  override def output = child.output
  override def maxRows = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): KernelBarrier = copy(child = c)
}

object KernelBarrier {

  /** `df` under a barrier. Installs [[Planner]] in `df`'s session first,
    * once per session. */
  def over(df: DataFrame): DataFrame = {
    val em = df.sparkSession.experimental
    em.synchronized {
      if (!em.extraStrategies.contains(Planner)) em.extraStrategies = Planner +: em.extraStrategies
    }
    graftbridge.ofRows(df.sparkSession, KernelBarrier(df.queryExecution.analyzed))
  }

  private object Planner extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case KernelBarrier(child) => planLater(child) :: Nil
      case _ => Nil
    }
  }
}

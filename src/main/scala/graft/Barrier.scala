package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Optimizer barrier: a logical no-op the optimizer cannot see through.
  * Predicates stay above it (no pushdown rule knows the node), projects
  * do not collapse across it, and column pruning cannot narrow its child
  * because `keep` is a constructor field — the node's own references are
  * its whole input, so `ColumnPruning`'s generic unary case finds nothing
  * to drop. The planner replaces it by its child ([[Barrier.Planning]]),
  * so no trace of it reaches the physical plan.
  *
  * Its job is exchange reuse at corpus scale: every consumer of a
  * barriered subtree plans the child exactly as written, so the copies
  * stay canonically equal and Spark's runtime exchange reuse runs the
  * shared corpus pass once, however differently the consumers prune or
  * filter above it. */
case class Barrier(keep: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = keep
  override protected def withNewChildInternal(newChild: LogicalPlan): Barrier =
    copy(child = newChild)
}

object Barrier {

  /** `df` behind a barrier: the declared reuse anchor for a subtree that
    * several branches of one query consume. Installs the planning
    * strategy on `df`'s session first, so no session can plan a barrier
    * without it. */
  def of(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    ensure(spark)
    val plan = df.queryExecution.analyzed
    GraftSqlBridge.ofRows(spark, Barrier(plan.output, plan))
  }

  /** Plans a barrier as its child. */
  object Planning extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case Barrier(_, child) => planLater(child) :: Nil
      case _ => Nil
    }
  }

  /** Idempotent: a session already carrying the strategy — installed by
    * an earlier call or injected by [[GraftExtensions]] — is left as is. */
  private def ensure(spark: SparkSession): Unit = {
    val experimental = spark.experimental
    experimental.synchronized {
      if (!spark.sessionState.planner.strategies.contains(Planning))
        experimental.extraStrategies = Planning +: experimental.extraStrategies
    }
  }
}

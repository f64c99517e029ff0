package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._

/** Minimal bridge into the `private[sql]` Column↔Expression converters —
  * the standard pattern public Spark extension libraries use to wrap a
  * custom Catalyst `Expression` as a `Column` without registering it in a
  * session's function registry (which would break callers that build their
  * own SparkSession), plus two plan-level helpers that need the
  * `private[sql]` Dataset-from-plan constructor. Nothing else from the
  * private surface is exposed.
  */
object GraftSql {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eager `localCheckpoint` that replaces the carried plan statistics
    * with the checkpoint's MEASURED materialized size.
    *
    * Why this exists: `Dataset.localCheckpoint` copies the origin plan's
    * estimated `sizeInBytes` into the new `LogicalRDD` (so broadcast
    * decisions survive checkpointing), and Catalyst's size-only estimator
    * upper-bounds every outer/inner join by the PRODUCT of its children's
    * sizes. An iterative fold that merges (outer-joins) its state and
    * re-checkpoints per round therefore multiplies already-multiplied
    * estimates: the carried BigInt's DIGIT COUNT grows geometrically per
    * round (measured ×4/round in the ingest fold — 41 million bits by
    * round 9), and every subsequent planning pass grinds through
    * multi-megabyte BigInteger multiplications, dominating wall-clock.
    * Replacing the estimate with the real block-manager size of the
    * just-materialized checkpoint breaks the chain AND gives the planner
    * truthful input — small state tables become statically
    * broadcast-eligible instead of looking astronomically large.
    *
    * Fallback (storage info not yet visible, e.g. zero-partition frames):
    * the carried estimate capped at Long.MaxValue, which still bounds the
    * digit growth.
    */
  def localCheckpointMeasuredStats(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    ck.queryExecution.analyzed match {
      case lr: execution.LogicalRDD =>
        val session = df.sparkSession.asInstanceOf[classic.SparkSession]
        val measured = session.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id)
          .map(i => BigInt(i.memSize + i.diskSize))
          .filter(_ > 0)
        val size = measured.getOrElse {
          val carried = lr.stats.sizeInBytes
          if (carried > Long.MaxValue) BigInt(Long.MaxValue) else carried
        }
        val stats = catalyst.plans.logical.Statistics(sizeInBytes = size.max(1))
        classic.Dataset.ofRows(session,
          lr.copy()(session, Some(stats), Some(lr.constraints)))
      case _ => ck
    }
  }

  /** Whether `df` provably holds no row, decided WITHOUT running a shuffle.
    * A sub-plan with no exchange answers by its partition count: a
    * zero-partition RDD (an empty-state placeholder, an empty ChangeSet)
    * cannot hold a row, and asking costs no job. Under adaptive execution,
    * asking a frame WITH an exchange for its partitions runs that
    * exchange's shuffle as a job of its own, so above an exchange the walk
    * asks the operator's inputs instead, through operators that emit
    * nothing from empty inputs. Anything else answers "maybe rows".
    */
  def provablyNoRows(df: DataFrame): Boolean = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    def noRows(p: LogicalPlan): Boolean = {
      val sub = classic.Dataset.ofRows(session, p)
      val physical = sub.queryExecution.executedPlan match {
        case a: execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
        case other => other
      }
      if (!physical.exists(_.isInstanceOf[execution.exchange.Exchange]))
        sub.rdd.getNumPartitions == 0
      else p match {
        case u @ (_: RepartitionOperation | _: Project | _: Filter | _: Sort |
            _: Distinct | _: Deduplicate | _: SubqueryAlias) => noRows(u.children.head)
        case a: Aggregate if a.groupingExpressions.nonEmpty => noRows(a.child)
        case u: Union => u.children.forall(noRows)
        case j: Join => j.joinType match {
          case Inner | Cross | LeftSemi => noRows(j.left) || noRows(j.right)
          case LeftOuter | LeftAnti => noRows(j.left)
          case RightOuter => noRows(j.right)
          case _ => noRows(j.left) && noRows(j.right) // full outer
        }
        case _ => false
      }
    }
    noRows(df.queryExecution.analyzed)
  }
}

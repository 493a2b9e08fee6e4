package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge for the graft engine's native
  * expressions. Spark 4 scopes ExpressionUtils private[sql], so extension
  * libraries expose it through a shim in this package (the conventional
  * pattern for custom-expression libraries).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** `ExpectsInputTypes.inputTypes` contract for graft's long-array kernels
  * (InterSize). `AbstractDataType` is `private[sql]` in Spark 4, so an
  * extension expression can't name it in an override outside this package —
  * the trait carries the override here and the expression just mixes it in.
  * Gets analysis-time rejection of wrong input types (DATATYPE_MISMATCH)
  * plus the standard implicit coercions (e.g. array<int> → array<bigint>). */
trait GraftExpectsLongArrayInputs
    extends org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes: Seq[types.AbstractDataType] =
    Seq(types.ArrayType(types.LongType), types.ArrayType(types.LongType))
}

/** Same contract for the float-array kernels (CosineSim). */
trait GraftExpectsFloatArrayInputs
    extends org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes: Seq[types.AbstractDataType] =
    Seq(types.ArrayType(types.FloatType), types.ArrayType(types.FloatType))
}

/** Same contract for the string kernels (PolyHash): misuse fails analysis
  * with DATATYPE_MISMATCH instead of a ClassCastException inside codegen. */
trait GraftExpectsStringInput
    extends org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes: Seq[types.AbstractDataType] =
    Seq(types.StringType)
}

/** Block-level access to a `localCheckpoint()`ed Dataset's storage.
  * localCheckpoint materializes into block-manager storage OUTSIDE the SQL
  * cache manager — `Dataset.unpersist` frees nothing, and the async
  * ContextCleaner only reclaims the blocks after the driver GCs the RDD
  * object. The checkpointed RDD sits behind the plan's `LogicalRDD` leaf
  * (package-scoped in Spark 4), so the explicit-release path
  * (graft.Checkpoints) reaches it through this shim. */
/** Listener-bus flush before reading listener-fed metrics. Task-metric
  * listener events are delivered async; a reader that takes counters right
  * after an action returns can miss the tail of its own tasks. `waitUntilEmpty` is
  * `private[spark]` (Spark uses it for exactly this in its own tests), so
  * the bench's off-the-clock metric attribution reaches it through here. */
object GraftListenerBridge {
  def flush(sc: org.apache.spark.SparkContext, timeoutMs: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}

/** Broadcast-block residency gauge. Dead broadcast relations (one per
  * broadcast join) stay resident in the block manager until a DRIVER GC
  * clears the weak refs the ContextCleaner waits on — invisible to the
  * public getPersistentRDDs/getRDDStorageInfo gauges, which is how the r12
  * cross-pass bench degradation hid. `SparkContext.env` and `BlockManager`
  * are private[spark]; this package (org.apache.spark.sql) sits inside
  * that scope, the same shim pattern as the bridges above. */
object GraftBlockBridge {
  def broadcastBlockCount(sc: org.apache.spark.SparkContext): Int =
    sc.env.blockManager.getMatchingBlockIds(_.isBroadcast).size
}

object GraftRddBridge {
  /** The materialized RDD behind a localCheckpoint'd Dataset; None for any
    * other plan shape. ROOT-only match, deliberately: a derived frame
    * (checkpoint.filter(...)) or a join of two checkpoints would make "which
    * checkpoint?" ambiguous, and releasing an upstream SHARED checkpoint
    * through a derived handle would free blocks another consumer still
    * needs — callers must hold the checkpoint root itself. */
  def checkpointedRdd(df: Dataset[_]): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** Every checkpoint-backed leaf a plan scans, by RDD id — read-only
    * introspection (no release), so DERIVED plans are fine here. PlanSpec
    * uses it to prove runtime slot sharing: two queries whose plans both
    * scan the staged table's RDD id consumed ONE materialization. */
  def scannedRddIds(df: Dataset[_]): Seq[Int] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
}

/** Plan-shape introspection that treats CACHE SCANS AS LEAVES.
  *
  * Why: a physical plan's printed string inlines every InMemoryRelation's
  * cached BUILD plan, so shape assertions that slice the text around
  * "InMemoryRelation" markers mis-assign whole subtrees — the r16 q199
  * test's first-marker split put the threshold/broadcast build side into
  * the "lineage" segment, silently exempting it from the negative
  * assertions (advice r17). Walking the node TREE instead is exact:
  * `InMemoryTableScanExec` is a leaf of the executed tree (the cached
  * plan hangs off the relation, not the node's children), so the walk
  * yields the serving operators only — all of them, in any subtree. */
object GraftPlanBridge {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

  /** One line (the node's own simpleString header) per SERVING-tree node:
    * descends through AdaptiveSparkPlanExec wrappers, children, and
    * subqueries, never into cached-relation build plans. */
  def servingNodeLines(df: Dataset[_]): Seq[String] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val self = p match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      self +: (self.children ++ self.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
      .map(_.toString.linesIterator.next())
  }

  /** Identity of each cached relation a plan scans (the shared
    * CachedRDDBuilder's identity): two plans reporting the same id
    * consumed ONE staged materialization — runtime sharing, not just
    * shared code. */
  def scannedCacheIds(df: Dataset[_]): Seq[Int] =
    df.queryExecution.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        System.identityHashCode(r.cacheBuilder)
    }
}

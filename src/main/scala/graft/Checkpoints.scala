package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftRddBridge}

/** Explicit lifecycle for localCheckpoint intermediates.
  *
  * Why this exists: `Dataset.localCheckpoint` truncates lineage by
  * materializing into block-manager storage that is NOT a CacheManager
  * entry — `Dataset.unpersist` is a no-op on it, and the ContextCleaner
  * only reclaims the blocks asynchronously after the driver GCs the RDD
  * handle. In a long multi-query session (the engine's production shape:
  * many queries, one SparkSession) those blocks accumulate until storage
  * eviction starts thrashing the live caches — measured in the round-6
  * bench as the q35 pair build degrading 3.9s → 67.3s across passes of the
  * SAME session while its plan stayed constant, with every
  * localCheckpoint-using query (q61/q81/q96) co-degrading. The fix is
  * deterministic release, not driver-GC luck.
  *
  * Usage contract:
  *  - Query-scoped intermediates (one invocation's scratch: totalRank's
  *    frozen-pid table, q76/q96/q103's multi-consumer stage tables) go
  *    through [[localCheckpoint]], which registers the backing RDD; the
  *    session driver calls [[releaseScoped]] once the query's action has
  *    consumed the result ([[Harness.pass]]: before each next query, off
  *    the clock).
  *  - Loop rounds that supersede each other (label propagation, BPE merge
  *    passes) release the dead round inline via [[release]] — blocks from
  *    round k-1 die as soon as round k is materialized, so a 64-round
  *    propagation holds at most two rounds of blocks at any instant.
  *  - Cross-query STAGED tables (the cluster-label table shared by
  *    q81/q94/q99) are owned by a [[Staged]] slot: plain
  *    `.localCheckpoint()`, freed by the slot's [[release]] when it is
  *    rebuilt or when the session driver calls [[Staged.releaseAll]], NOT
  *    by releaseScoped — a bulk scoped release between queries must never
  *    invalidate a table a later query will read (the lineage is
  *    truncated; lost blocks cannot recompute).
  */
object Checkpoints {
  // WEAK references: the registry must never be the thing keeping a
  // checkpoint alive. A session that drops its DataFrames without calling
  // releaseScoped falls back to the old (slow but safe) path — the RDD
  // handle is GC'd, the weak ref clears, and the ContextCleaner reclaims
  // the blocks asynchronously. A strong registry would pin those blocks
  // forever in exactly the long-session scenario this object exists to fix.
  private val scoped = scala.collection.mutable.ArrayBuffer
    .empty[java.lang.ref.WeakReference[RDD[_]]]

  /** localCheckpoint + register the backing blocks for [[releaseScoped]]. */
  def localCheckpoint(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint()
    synchronized {
      scoped.filterInPlace(_.get != null) // purge GC-cleared entries so a
      // session that never sweeps keeps the registry bounded
      GraftRddBridge.checkpointedRdd(out)
        .foreach(r => scoped += new java.lang.ref.WeakReference[RDD[_]](r))
    }
    out
  }

  /** Adopt an ALREADY-MATERIALIZED plain checkpoint into the query-scoped
    * registry. For builds that only learn a checkpoint's lifecycle after
    * materializing it (the cooccur pair build: its bucket table is
    * slot-OWNED when the size gate stages the pair table over it, but
    * query-scoped when the gate streams) — the checkpoint is created
    * plain, and handed to the between-queries sweep only on the streamed
    * arm. No-op for non-checkpoint-rooted frames. */
  def registerScoped(df: DataFrame): Unit = synchronized {
    scoped.filterInPlace(_.get != null)
    GraftRddBridge.checkpointedRdd(df)
      .foreach(r => scoped += new java.lang.ref.WeakReference[RDD[_]](r))
  }

  /** Free one checkpoint's blocks now (a superseded loop round, or a staged
    * table at the end of its cross-query scope). The DataFrame is unusable
    * afterwards — lineage was truncated, lost blocks cannot recompute. */
  def release(df: DataFrame): Unit =
    GraftRddBridge.checkpointedRdd(df).foreach { r =>
      // unpersist on a stopped context (test teardown) is a harmless no-op
      try r.unpersist(blocking = false) catch { case _: Throwable => () }
      synchronized {
        scoped.filterInPlace { w =>
          val ref = w.get; ref != null && (ref ne r)
        }
      }
    }

  /** Free every registered query-scoped checkpoint. Call only at a point
    * where no in-flight plan can still read them. Weak refs already
    * cleared by GC are skipped — the ContextCleaner owns those blocks. */
  def releaseScoped(): Unit = synchronized {
    scoped.foreach { w =>
      val r = w.get
      if (r != null)
        try r.unpersist(blocking = false) catch { case _: Throwable => () }
    }
    scoped.clear()
  }

  /** Telemetry: registered-but-unreleased scoped checkpoints still alive. */
  def scopedCount: Int = synchronized(scoped.count(_.get != null))
}

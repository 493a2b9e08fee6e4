package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One staged shared intermediate: a table built once per (session, dir)
  * and read by several queries — the shingle/pair/label/window/bigram
  * tables of the dedup family, the BM25 score table, the ANN top-k tables,
  * the cooccur pair spectrum, the aHash class table, the tumbling drain.
  * In a real pipeline each is written once and every consumer reads it;
  * here the slot holds it for the session and [[Staged.releaseAll]] frees
  * it at run or pass boundaries (Bench, Verify, the harness mains).
  *
  * One live entry per slot, keyed by (session identity, dir, variant):
  * switching fixture dirs (Bench warms at sf0.001, times at sf0.1) frees
  * the stale entry instead of pinning it for the session lifetime. The
  * laws, pinned once for every slot by StagedSpec:
  *  - a hit returns the staged value and never rebuilds;
  *  - a miss clears the slot and frees the previous value BEFORE
  *    building, so a build that throws (cluster_labels_build's
  *    convergence `require`) leaves the slot empty and the next call
  *    rebuilds — never a stale entry pointing at released blocks, which
  *    for a localCheckpoint table could not recompute;
  *  - the build is timed under `name` (exclusive of nested slot builds)
  *    and stored only if it returns.
  *
  * `free` matches the value's storage kind: `unpersist` for a cached
  * table, [[Checkpoints.release]] for a plain localCheckpoint (unpersist
  * frees nothing there), a no-op for driver-held memory-sink rows. */
final class Staged[A] private (val name: String, free: A => Unit) {
  private var slot: Option[(SparkSession, String, String, A)] = None

  /** The value staged for (s, d, variant), built by `build` on a miss. */
  def apply(s: SparkSession, d: String, variant: String = "")(build: => A): A =
    Staged.synchronized {
      peek(s, d, variant).getOrElse {
        release()
        val v = Staged.timed(name)(build)
        slot = Some((s, d, variant, v))
        v
      }
    }

  /** The staged value for (s, d, variant), without building. */
  def peek(s: SparkSession, d: String, variant: String = ""): Option[A] =
    Staged.synchronized {
      slot.collect { case (ss, dd, vv, v)
        if (ss eq s) && dd == d && vv == variant => v }
    }

  /** Empty the slot, then free what it held. */
  def release(): Unit = Staged.synchronized {
    val prev = slot
    slot = None
    prev.foreach(e => free(e._4))
  }

  /** Release and leave the registry — for slots that are not module
    * singletons (test fixtures), so [[Staged.names]] lists only live ones. */
  private[graft] def close(): Unit = {
    release()
    Staged.slots.synchronized(Staged.slots.remove(name))
  }
}

/** The slot registry, the build-stage timer and the one lock every slot
  * hit, build and release takes. A build may read other slots (pairs →
  * classes → exploded → arrays); all of it runs on the calling thread
  * under this lock, so there is no lock order to keep. */
object Staged {
  private val slots = scala.collection.mutable.LinkedHashMap[String, Staged[_]]()

  /** A new slot, registered for [[releaseAll]]. Names are the `stage:`
    * row names Bench reports, so a duplicate is rejected. */
  def apply[A](name: String, free: A => Unit): Staged[A] = {
    val st = new Staged[A](name, free)
    slots.synchronized {
      require(!slots.contains(name), s"duplicate staged slot name: $name")
      slots(name) = st
    }
    st
  }

  /** A slot holding a persist()ed table. */
  def cached(name: String): Staged[DataFrame] =
    Staged[DataFrame](name, _.unpersist(blocking = false))

  /** A slot holding a plain (unregistered) localCheckpoint table: a bulk
    * [[Checkpoints.releaseScoped]] between queries must never invalidate
    * it, so the slot releases its blocks itself. */
  def checkpointed(name: String): Staged[DataFrame] =
    Staged[DataFrame](name, Checkpoints.release)

  /** persist() and materialize now: the consumers run as concurrent AQE
    * stages, and a cold cache would be recomputed once per racing stage
    * (at scale this is the explicit "stage the table" step). */
  def persistNow(df: DataFrame): DataFrame = {
    val p = df.persist()
    p.count()
    p
  }

  /** Names of the registered slots, in registration order. */
  def names: Seq[String] = slots.synchronized(slots.keys.toList)

  /** Free every registered slot (end of run / pass boundary). Per-slot
    * isolation: each slot frees a DIFFERENT table, so one throwing free
    * (a stopped SparkContext during teardown) must not leak the others'
    * storage and start the next bench pass cache-warm. */
  def releaseAll(): Unit = {
    val all = slots.synchronized(slots.values.toList)
    all.foreach { st =>
      try st.release()
      catch { case t: Throwable =>
        System.err.println(s"graft: staged release of ${st.name} failed (continuing): $t")
      }
    }
  }

  // Wall time of each shared-intermediate BUILD (cache-miss branch only),
  // keyed by stage name. q35/q36/q81 share these caches, which makes their
  // per-query bench numbers attribution-opaque: the first consumer pays the
  // build, the rest time near-zero. Bench writes this map into
  // BENCH_DETAIL.json ("stages") so a regression is traceable to
  // build-vs-consume. EVERY build is recorded (Bench runs two passes, so
  // each stage typically shows [pass1, pass2] — last-wins hid a 6× pass-2
  // degradation in round 5).
  private val stageTimes =
    scala.collection.mutable.LinkedHashMap[String, List[Double]]()
  def stageTimings: Map[String, List[Double]] = synchronized { stageTimes.toMap }
  // Names recorded via timed (BUILD wall times), as opposed to the
  // recordStat audit entries (*_gc_ms, *_spill_mb, round counts, …) that
  // share stageTimes. Bench diffs buildStageTotals around each query to
  // report builds as first-class rows SUBTRACTED from the triggering query
  // — without this split, per-query trend lines swing 20× whenever suite
  // name order moves which query triggers a shared build (r10: q35 6.15 s →
  // 0.29 s with no code change when q135 started sorting first).
  private val buildStageNames = scala.collection.mutable.LinkedHashSet[String]()
  /** name → cumulative build seconds so far (builds only, no stat rows). */
  def buildStageTotals: Map[String, Double] = synchronized {
    buildStageNames.iterator
      .map(n => n -> stageTimes.getOrElse(n, Nil).sum).toMap
  }
  // Cumulative task-metric deltas per build stage — the Snap twin of
  // buildStageTotals, so Bench can move a triggered build's GC/spill onto
  // its stage: row the same way it moves the wall time (otherwise a
  // 0.3 s consume-only query row carries the build's hundreds of MB of
  // spill in query_metrics — the attribution confusion the stage rows
  // exist to remove, reproduced in the metrics record).
  private val stageMetricSums =
    scala.collection.mutable.LinkedHashMap[String, MetricsTap.Snap]()
  def buildMetricTotals: Map[String, MetricsTap.Snap] = synchronized {
    stageMetricSums.toMap
  }
  // Build timers nest (pairs → exploded → arrays, all under this lock,
  // same thread), so each stage records its EXCLUSIVE time — child build
  // time is subtracted via the frame stack — and the BENCH_DETAIL
  // "stages" entries sum without overlap.
  /** Auxiliary per-build stat (round counts/durations) into the same map.
    * A `diag_` prefix marks time already inside a build's exclusive total,
    * excluded from the stages-sum-without-overlap invariant. */
  private[graft] def recordStat(name: String, v: Double): Unit = synchronized {
    stageTimes(name) = stageTimes.getOrElse(name, Nil) :+ v
  }

  private val frameChildNs = scala.collection.mutable.Stack[Long]()
  private val heapProbe = sys.env.contains("SPARK_GRAFT_HEAPPROBE")
  private def timed[T](name: String)(f: => T): T = synchronized {
    // Bench runs also attribute WHY per stage (GC vs spill — see MetricsTap
    // scaladoc): deltas are INCLUSIVE of nested builds (no exclusive-time
    // subtraction as for wall time — a child's spill is still this build's
    // spill for diagnosis), and the snapshot's bus flush sits outside no
    // timer here because stage wall time is measured around the whole build
    // anyway — the flush cost (ms) is noise against a multi-second build.
    val m0 = if (MetricsTap.enabled) Some(MetricsTap.snapshot()) else None
    val t0 = System.nanoTime()
    frameChildNs.push(0L)
    var popped = false // own-frame pop happened: the catch must not pop again
    try {
      val r = f
      val elapsed = System.nanoTime() - t0
      val childNs = frameChildNs.pop()
      popped = true
      if (frameChildNs.nonEmpty)
        frameChildNs.push(frameChildNs.pop() + elapsed)
      stageTimes(name) =
        stageTimes.getOrElse(name, Nil) :+ (elapsed - childNs) / 1e9
      buildStageNames += name
      m0.foreach { before =>
        // the snapshot's bus flush (bounded 10 s) runs after THIS stage's
        // elapsed is taken, but inside any enclosing stage's timed region —
        // credit it to the parent's child-time so a pathological bus stall
        // can't masquerade as parent stage time, and record it for audit
        val f0 = System.nanoTime()
        val d = MetricsTap.snapshot() - before
        val flushNs = System.nanoTime() - f0
        if (frameChildNs.nonEmpty)
          frameChildNs.push(frameChildNs.pop() + flushNs)
        recordStat(s"${name}_gc_ms", d.gcMs.toDouble)
        recordStat(s"${name}_spill_mb",
          (d.spillMemBytes + d.spillDiskBytes).toDouble / (1 << 20))
        recordStat(s"${name}_flush_ms", flushNs / 1e6)
        val prev = stageMetricSums.getOrElse(name, MetricsTap.Snap(0L, 0L, 0L))
        stageMetricSums(name) = MetricsTap.Snap(
          prev.gcMs + d.gcMs, prev.spillMemBytes + d.spillMemBytes,
          prev.spillDiskBytes + d.spillDiskBytes)
        // Diagnosis-only live-set probe (SPARK_GRAFT_HEAPPROBE=1): full GC +
        // used-heap right after the build, off the stage clock (elapsed is
        // already taken) and credited to the enclosing frame like the flush.
        // NOT enabled on graded runs — the forced GC costs ~0.3 s inside the
        // triggering query's timed region. Exists to localize cross-pass
        // build degradation (r12: jaccard_pairs_build 3.5→28.9 s with
        // bounded storage counts) to live-heap growth vs something else.
        if (heapProbe) {
          val g0 = System.nanoTime()
          System.gc()
          val rt = Runtime.getRuntime
          val gNs = System.nanoTime() - g0
          if (frameChildNs.nonEmpty)
            frameChildNs.push(frameChildNs.pop() + gNs)
          recordStat(s"${name}_live_heap_mb",
            (rt.totalMemory() - rt.freeMemory()).toDouble / (1 << 20))
        }
      }
      r
    } catch { // pop the frame on failure too, or the orphan entry corrupts
      // later attributions — but ONLY our own frame: an exception thrown
      // after the success-path pop (the metrics flush can throw on a bus
      // stall) must not steal the parent's frame or pop an empty stack
      case t: Throwable => if (!popped) frameChildNs.pop(); throw t
    }
  }
}

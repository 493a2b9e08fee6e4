package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.GraftListenerBridge

/** Per-key task-metric totals for bench attribution.
  *
  * Why: BENCH_DETAIL's stage/query wall times say WHAT got slow, never WHY —
  * when round 7's `jaccard_pairs_build` spiked 3.3s → 12s in one driver run,
  * nothing recorded could separate a GC pause from shuffle spill from a slow
  * host, so the spike was unattributable after the fact. This tap folds every
  * finished task's `jvmGCTime` / `memoryBytesSpilled` / `diskBytesSpilled`
  * and a task count into the [[Snap]] of the key that launched its job, and
  * the bench writes them next to the wall times, so the next spike carries
  * its own diagnosis: GC-heavy → heap pressure, spill > 0 → partitions
  * outgrew execution memory, both flat → look at the host, not the plan.
  *
  * The key is the local property [[KeyProp]], set by [[withKey]] on the
  * thread that runs a query ([[Harness.pass]]) or a staged build
  * (`stage:<slot>`, [[Staged]]). A job carries its thread's local properties
  * and child threads inherit them (streaming drains, AQE stages,
  * broadcasts), so each task is counted once, under the innermost key:
  * nested builds are exclusive by construction, and the per-key rows sum
  * without overlap. Jobs launched under no key are not counted. */
object MetricsTap {
  val KeyProp = "graft.metrics.key"

  final case class Snap(gcMs: Long, spillMemBytes: Long, spillDiskBytes: Long,
      tasks: Long) {
    def +(o: Snap): Snap =
      Snap(gcMs + o.gcMs, spillMemBytes + o.spillMemBytes,
        spillDiskBytes + o.spillDiskBytes, tasks + o.tasks)
    // raw byte counts: integer MiB division truncated sub-MiB spill to 0 —
    // the exact "spill > 0" red flag this tap exists to surface, invisible
    // for small-fixture runs
    def json: String =
      s"""{"gc_ms":$gcMs,"spill_mem_bytes":$spillMemBytes,"spill_disk_bytes":$spillDiskBytes,"tasks":$tasks}"""
  }
  object Snap { val zero: Snap = Snap(0L, 0L, 0L, 0L) }

  // both maps are written on the listener-bus thread, read by take()
  private val stageKey = mutable.Map[Int, String]()
  private val byKey = mutable.Map[String, Snap]()
  @volatile private var installedOn: SparkContext = null

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(KeyProp))).foreach { k =>
        MetricsTap.synchronized(e.stageIds.foreach(stageKey(_) = k))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = MetricsTap.synchronized {
      for (k <- stageKey.get(e.stageId); m <- Option(e.taskMetrics))
        byKey(k) = byKey.getOrElse(k, Snap.zero) +
          Snap(m.jvmGCTime, m.memoryBytesSpilled, m.diskBytesSpilled, 1L)
    }
  }

  /** Idempotent per-context install. Of the mains only the bench installs,
    * so queries elsewhere never pay the listener: without it [[withKey]]
    * only sets a local property. */
  def install(sc: SparkContext): Unit = synchronized {
    if (installedOn ne sc) {
      sc.addSparkListener(listener)
      installedOn = sc
    }
  }

  /** Runs `body` with its jobs keyed `key`, then restores the previous key. */
  def withKey[T](sc: SparkContext, key: String)(body: => T): T = {
    val prev = sc.getLocalProperty(KeyProp)
    sc.setLocalProperty(KeyProp, key)
    try body finally sc.setLocalProperty(KeyProp, prev)
  }

  /** Flush the listener bus, then return and clear the per-key totals (and
    * the stage → key map). Call OUTSIDE any timed region and with no job
    * running — the flush waits on every queued event, so a region's own
    * task tail is included, and a stage forgotten here while its job still
    * runs loses its remaining tasks. */
  def take(): Map[String, Snap] = {
    val sc = installedOn
    if (sc != null) GraftListenerBridge.flush(sc)
    synchronized {
      val r = byKey.toMap
      byKey.clear()
      stageKey.clear()
      r
    }
  }

  /** (stage → key entries, key totals) held now — for the take() law. */
  private[graft] def held: (Int, Int) = synchronized((stageKey.size, byKey.size))
}

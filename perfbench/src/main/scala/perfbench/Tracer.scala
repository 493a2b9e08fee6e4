package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One node of the traced run's span tree. Times are epoch milliseconds. */
final case class Span(id: String, parent: String, kind: String, name: String,
    startMs: Long, endMs: Long, attrs: Map[String, Double] = Map.empty)

/** Collector for a traced run, built only on Spark's public listener APIs.
  *
  * Jobs carry the benchmark's op id in the local property [[Tracer.OpKey]],
  * so jobs, their stages and their tasks are attributed to the op that ran
  * them exactly. Catalyst phases arrive through the [[QueryExecutionListener]]
  * and SQL executions through the listener bus; both are attributed to the op
  * whose wall-clock interval holds them. Block updates keep a live view of
  * block-manager storage. All callbacks run on listener-bus threads, so every
  * mutation holds this object's lock.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val counters = mutable.Map[String, mutable.Map[String, Double]]()
  private val stageOp = mutable.Map[Int, (String, Int)]() // stage -> (op, job)
  private val jobStart = mutable.Map[Int, (String, Long)]()
  private val jobSpans = mutable.ArrayBuffer[Span]()
  private val stageSpans = mutable.ArrayBuffer[Span]()
  private val sqlStarts = mutable.ArrayBuffer[(Long, Long)]() // (execution id, time)
  private val sqlPhases = mutable.ArrayBuffer[(Long, Map[String, (Long, Long)], Int)]()
  private val blocks = mutable.Map[String, Long]() // live block -> bytes
  private val endedJobs = mutable.Set[Int]()

  private def add(op: String, key: String, v: Double): Unit =
    counters.getOrElseUpdate(op, mutable.Map()).updateWith(key)(o => Some(o.getOrElse(0.0) + v))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).foreach { op =>
      jobStart(e.jobId) = (op, e.time)
      e.stageIds.foreach(s => stageOp(s) = (op, e.jobId))
      add(op, "scheduler.jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    endedJobs += e.jobId
    jobStart.remove(e.jobId).foreach { case (op, t0) =>
      jobSpans += Span(s"job:${e.jobId}", op, "job", s"job ${e.jobId}", t0, e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageOp.get(i.stageId).foreach { case (op, job) =>
      add(op, "scheduler.stages", 1)
      stageSpans += Span(s"stage:${i.stageId}.${i.attemptNumber()}", s"job:$job", "stage",
        i.name, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        Map("tasks" -> i.numTasks.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for ((op, _) <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      add(op, "scheduler.tasks", 1)
      add(op, "executor.run_s", m.executorRunTime / 1e3)
      add(op, "executor.cpu_s", m.executorCpuTime / 1e9)
      add(op, "executor.gc_s", m.jvmGCTime / 1e3)
      add(op, "io.input_rows", m.inputMetrics.recordsRead.toDouble)
      add(op, "io.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add(op, "io.output_rows", m.outputMetrics.recordsWritten.toDouble)
      add(op, "io.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      add(op, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(op, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(op, "shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      add(op, "shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized(sqlStarts += ((s.executionId, s.time)))
    case _ =>
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    val key = s"${b.blockManagerId.executorId}/${b.blockId.name}"
    if (b.storageLevel.isValid) blocks(key) = b.memSize + b.diskSize else blocks.remove(key)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> ((p.startTimeMs, p.endTimeMs)) }
    val scans = inMemoryScans(qe)
    synchronized(sqlPhases += ((qe.id, phases, scans)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)

  /** True once the listener bus has delivered the end of job `jobId`. */
  def jobEnded(jobId: Int): Boolean = synchronized(endedJobs.contains(jobId))

  /** Live block-manager storage: (MB, broadcast blocks). */
  def storage: (Double, Int) = synchronized {
    (blocks.values.sum / 1048576.0, blocks.keys.count(_.contains("/broadcast_")))
  }

  /** Counters and spans of the ops in `ops` (id -> (start, end) epoch ms).
    * SQL executions and Catalyst phases go to the op whose interval holds
    * their start; `scheduler.driver_self_s` is op wall time minus the union
    * of the op's job spans. */
  def collect(ops: Seq[(String, Long, Long)]): (Map[String, Double], Seq[Span]) = synchronized {
    def opAt(t: Long): Option[String] = ops.find { case (_, a, b) => t >= a && t <= b }.map(_._1)
    val ids = ops.map(_._1).toSet
    val total = mutable.Map[String, Double]()
    def put(k: String, v: Double): Unit = total.updateWith(k)(o => Some(o.getOrElse(0.0) + v))
    for (op <- ids; c <- counters.get(op); (k, v) <- c) put(k, v)
    val spans = mutable.ArrayBuffer[Span]()
    for ((_, t) <- sqlStarts; _ <- opAt(t)) put("catalyst.sql_execs", 1)
    // a query execution that reported its phases: a span under its op, with
    // one child per Catalyst phase
    for ((id, phases, scans) <- sqlPhases; start = phases.values.map(_._1).minOption.getOrElse(0L);
         op <- opAt(start)) {
      put("staged.inmem_scans", scans)
      spans += Span(s"qe:$id", op, "sql", s"query execution $id", start,
        phases.values.map(_._2).max, Map("inmem_scans" -> scans.toDouble))
      for ((name, (a, b)) <- phases) {
        put(s"catalyst.${name}_s", (b - a) / 1e3)
        spans += Span(s"qe:$id:$name", s"qe:$id", "catalyst", name, a, b)
      }
    }
    val jobs = jobSpans.filter(j => ids(j.parent))
    for ((op, a, b) <- ops) {
      val mine = jobs.filter(_.parent == op).map(j => (j.startMs max a, j.endMs min b))
        .filter { case (x, y) => y > x }.sortBy(_._1)
      var covered = 0L; var reach = a
      for ((x, y) <- mine) { if (y > reach) { covered += y - (x max reach); reach = y } }
      put("scheduler.driver_self_s", ((b - a) - covered) / 1e3)
    }
    val jobIds = jobs.map(_.id).toSet
    (total.toMap, jobs.toSeq ++ stageSpans.filter(s => jobIds(s.parent)) ++ spans)
  }
}

object Tracer {
  val OpKey = "perfbench.op"

  private val planHelper = new AdaptiveSparkPlanHelper {}

  /** InMemoryTableScanExec nodes in the executed plan, subqueries and
    * adaptive query stages included. */
  def inMemoryScans(qe: QueryExecution): Int =
    try planHelper.collectWithSubqueries(qe.executedPlan) { case s: InMemoryTableScanExec => s }.size
    catch { case _: Exception => 0 }
}

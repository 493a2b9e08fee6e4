package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler._

/** Ad-hoc scale diagnostics (test scope; run with `Test/runMain
  * graft.ScaleProbeMain <dir>`): decomposes the co-occurrence family's
  * cost at a staged fixture — direct enumeration vs staged-slot build vs
  * each serving tail — with per-stage task metrics, so plan changes are
  * attributed to measured stages instead of end-to-end walls. */
object ScaleProbeMain {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/tmp/graft_sf1x")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val wall = (i.completionTime.getOrElse(0L) -
          i.submissionTime.getOrElse(0L)) / 1000.0
        stages.add(f"STAGE id=${i.stageId} tasks=${i.numTasks} " +
          f"wall=$wall%.1f cpuSum=${i.taskMetrics.executorRunTime / 1000.0}%.1f " +
          f"gc=${i.taskMetrics.jvmGCTime / 1000.0}%.1f " +
          f"shufW=${i.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e9}%.2fG")
      }
    })
    def time[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROBE $tag wall=${(System.nanoTime() - t0) / 1e9}%.1f"); r
    }
    def dump(tag: String): Unit = {
      println(s"---- $tag ----"); stages.forEach(println); stages.clear()
    }

    time("warm_sf01") {
      SparkEntry.queries("q96_salted_cooccur")(spark, "/root/testdata/sf0.1").count()
    }
    Staged.releaseAll(); Checkpoints.releaseScoped()
    stages.clear()

    val direct = time("direct_no_persist") {
      graft.queries.Events.cooccurPairCounts(spark, d, bound = 0L)
        .filter(col("shared_buckets") >= 5).count()
    }
    println(s"PROBE direct rows=$direct"); dump("direct stages")
    Checkpoints.releaseScoped()

    time("slot_build") { graft.queries.Events.cooccurPairCounts(spark, d) }
    dump("slot build stages")

    time("q96_tail") {
      SparkEntry.queries("q96_salted_cooccur")(spark, d).count()
    }
    dump("q96 tail stages")

    time("q199_tail") {
      SparkEntry.queries("q199_cooccur_topk")(spark, d).count()
    }
    dump("q199 tail stages")

    Staged.releaseAll(); Checkpoints.releaseScoped()
    spark.stop()
  }
}

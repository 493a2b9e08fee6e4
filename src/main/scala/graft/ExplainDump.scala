package graft

import org.apache.spark.sql.execution.ExplainMode

/** Per-query `.explain("formatted")` dumps for the optimization-round
  * evidence trail (plans/r<N>/<query>_{before,after}.txt).
  *
  * Usage: sbt 'runMain graft.ExplainDump <sfDir> <outDir> <suffix> <q1,q2,..>'
  *
  * Each query is EXECUTED first (collect) so the printed AdaptiveSparkPlan is
  * the AQE-final one — Exchange counts, join strategies and AQEShuffleRead
  * nodes as they actually ran, not the pre-execution initial plan.
  * The session is Bench's ([[Harness.session]]), so the dumped plans are
  * the shapes the bench times.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    // explicit arity guard (ADVICE r17): destructuring args.take(3) threw a
    // cryptic MatchError (and args(3) an AIOOBE) on a short invocation
    require(args.length >= 4,
      "usage: ExplainDump <sfDir> <outDir> <suffix> <q1,q2,..>")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val names = Harness.select(args(3))
    val spark = Harness.session(Harness.envCpus)
    new java.io.File(outDir).mkdirs()
    Harness.pass(spark, names) { name =>
      val df = SparkEntry.registry(name).run(spark, sfDir)
      df.collect() // finalize AQE
      val s = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/$name$suffix.txt"), s)
      println(s"[explain] wrote $outDir/$name$suffix.txt")
    }
    Harness.close(spark)
  }
}

package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare (tools/hashcheck.py).
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [q1,q2,..]; the optional
  * third argument dumps only those exact registry names (a local
  * iteration aid; with two args every registered query is dumped). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val names = args.drop(2).headOption.map(Harness.select)
      .getOrElse(SparkEntry.queries.keys.toSeq).sorted
    val spark = Harness.session(Harness.envCpus)
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries
    Harness.pass(spark, names) { name =>
      try queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Round-1 post-mortem: the driver's correctness report keyed every query
    // as "<name>.parquet" and flagged all of them no_oracle — its lookup uses
    // the output DIRECTORY name, suffix included. Emit both keys so either
    // lookup convention ("q01_x" or "q01_x.parquet") resolves.
    val json = SparkEntry.oracleSql
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${Harness.jsonStr(k)}: ${Harness.jsonStr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Harness.close(spark)
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** The one session and driver protocol every registry harness runs under
  * (Bench, Verify, ExplainDump, PlanDump, SuiteScale, the test session).
  * Two harnesses that time, dump or explain the same query must run the
  * same plan, so the session settings live here once:
  *  - `local[cpus]` with `cpus` shuffle partitions;
  *  - UTC: the NTZ→TIMESTAMP cast in `Tables.normalizeEventsTs` reads
  *    differently under a non-UTC host zone;
  *  - no UI, and `maxMetadataStringLength=200` (display only: longer scan
  *    metadata in printed plans).
  *
  * [[pass]] is the between-query hygiene every multi-query run needs (the
  * round-6 and round-12 session-storage leak fixes). */
object Harness {

  /** Smallest fixture: the untimed warm-up scale. */
  val WarmDir = "/root/testdata/sf0.001"

  /** `SPARK_GRAFT_CPUS`, default 32 (the grading host's thread count). */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.maxMetadataStringLength", "200")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Registry names from a comma-separated list of exact names. An unknown
    * name fails: a typo must not silently shrink the run (a bench subset
    * would read as a huge speedup). */
  def select(spec: String): Seq[String] = {
    val names = spec.split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq
    require(names.nonEmpty, s"no query names in '$spec'")
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"not in the registry: ${unknown.mkString(",")}")
    names
  }

  /** Runs `each` over `names` in order under the between-query hygiene:
    *  - at pass start every staged slot is cold and the scoped checkpoints
    *    are freed, then a driver GC lets the ContextCleaner reclaim blocks
    *    whose last reference was weak (the registry never pins — see
    *    Checkpoints);
    *  - before each query the previous query's scoped checkpoints are
    *    freed, so a timed region measures the query, not the session's
    *    garbage;
    *  - every 24 queries a full GC, then `onGcTick`. Dead broadcast and
    *    checkpoint blocks stay resident in the block manager until a driver
    *    full GC clears their weak refs, and a large heap running short
    *    queries almost never full-GCs on its own: without the tick,
    *    residency grew for a whole pass and jaccard_pairs_build degraded
    *    3.5 → 8.6 → 28.9 s while live heap and RDD storage stayed bounded
    *    (r12); with it the same build measured flat (r13). This is the
    *    between-queries twin of `spark.cleaner.periodicGC.interval`
    *    (default 30 min, never inside a pass); a long-lived production
    *    session sets that conf instead.
    *
    * Each `each(name)` runs under the metrics key `name`, so its tasks are
    * counted on that row (see [[MetricsTap]]). */
  def pass[A](spark: SparkSession, names: Seq[String],
      onGcTick: () => Unit = () => ())(each: String => A): Seq[A] = {
    Staged.releaseAll()
    Checkpoints.releaseScoped()
    System.gc()
    var sinceGc = 0
    names.map { name =>
      Checkpoints.releaseScoped()
      sinceGc += 1
      if (sinceGc >= 24) { sinceGc = 0; System.gc(); onGcTick() }
      MetricsTap.withKey(spark.sparkContext, name)(each(name))
    }
  }

  /** Untimed warm-up: every query shape runs once at `dir`, so whole-stage
    * codegen and the JIT warm off the clock (generated code depends on the
    * schema, not the path, so it carries over to the timed runs; about
    * half of a cold one-shot run is this compilation). */
  def warm(spark: SparkSession, names: Seq[String], dir: String): Unit = {
    val qs = SparkEntry.queries
    names.foreach { n =>
      try qs(n)(spark, dir).count() catch { case _: Throwable => () }
    }
  }

  /** Free every staged slot and scoped checkpoint, then stop the session. */
  def close(spark: SparkSession): Unit = {
    Staged.releaseAll()
    Checkpoints.releaseScoped()
    spark.stop()
  }

  /** `s` as a JSON string literal: quote, backslash and every control
    * character escaped — env paths, the oracle SQL text and exception
    * messages carry them, and one raw tab or quote makes the whole record
    * unparseable. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

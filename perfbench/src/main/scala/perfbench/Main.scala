package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Checkpoints, SparkEntry}
import graft.queries.TextOps

/** Closed-loop benchmark runner: one JVM, one `local[4]` session, one client
  * that issues the next op only after the previous one returned.
  *
  * An invocation sets up [[SetupRounds]] times (session creation plus one
  * warm-up run whose outputs are digest-checked), then measures complete runs
  * of the workload's op list until `--seconds` have passed. Every run starts
  * with the staged slots and scoped checkpoints released, so each run pays
  * its own staged builds. The last stdout line is the JSON result.
  *
  * Usage: `Main --workload <queries|etl> --seed <n> --seconds <s>
  * --trace <0|1> --data <dir> --work <dir> [--expected <file>] [--record <file>]`,
  * or `Main --prepare --data <dir>` to write the fixture tables.
  */
object Main {
  val EtlLeads = 30000
  /** The query workload's ops. A full pass over the registry costs 60-150 s
    * on 4 cores, and the JIT keeps speeding a pass up for a dozen passes, so
    * a run that can afford warm-up and several measured passes times a
    * fixed cross-section: three ops dominated by the fixed per-query floor
    * (Relational aggregation, an Events window, an EtlOps merge) and the two
    * readers of the staged BM25 score table (q169, q177). */
  val QueryOps = Seq("q01_pricing_summary", "q27_tumbling_window", "q48_upsert_merge",
    "q169_bm25_topk", "q177_hybrid_rrf")
  /** Readers of one staged table keep this relative order in every run, so
    * the same op pays the build whatever order the seed picks. */
  val SharedSlotReaders = Seq("q169_bm25_topk", "q177_hybrid_rrf")
  val SetupRounds = 4
  val Cores = 4

  final case class Op(id: String, name: String, wall: Double, construct: Double, action: Double,
      rows: Long, ok: Boolean, builds: Int, buildS: Double, startMs: Long, endMs: Long)

  final case class Run(ops: Seq[Op], traced: Boolean, layers: Map[String, Double],
      spans: Seq[Span]) {
    def wall: Double = ops.map(_.wall).sum
    def builds: Int = ops.map(_.builds).sum
  }

  /** A workload: its op names and how one op runs. */
  trait Workload {
    def names: Seq[String]
    /** Run op `name` of run `run`; returns (construct s, action s, rows, ok). */
    def exec(spark: SparkSession, name: String, run: Int, checked: Boolean): (Double, Double, Long, Boolean)
    /** Extra per-op layers for traced runs (ETL stage self times). */
    def layers(spark: SparkSession, name: String, run: Int): Seq[(String, Double, Long, Long)] = Nil
  }

  // ---- args --------------------------------------------------------------

  private def parse(argv: Array[String]): Map[String, String] = {
    val m = mutable.Map[String, String]()
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (k == "prepare") { m(k) = "1"; i += 1 }
      else { require(i + 1 < argv.length, s"missing value for ${argv(i)}"); m(k) = argv(i + 1); i += 2 }
    }
    m.toMap
  }

  def session(work: Path): SparkSession = SparkSession.builder()
    .master(s"local[$Cores]").appName("perfbench")
    .config("spark.sql.shuffle.partitions", Cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
    .getOrCreate()

  // ---- output checks -----------------------------------------------------

  /** Canonical form for hashing: doubles rounded to 6 places so a last-bit
    * difference in a float sum does not read as a wrong answer; maps as
    * sorted entry arrays. */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(e, _) => transform(c, x => canon(x, e))
    case StructType(fs) => struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(k, v, _) => canon(array_sort(map_entries(c)),
      ArrayType(StructType(Seq(StructField("key", k), StructField("value", v)))))
    case _ => c
  }

  /** Order-independent content digest: (row count, sum of row hashes). */
  def digest(df: DataFrame): (Long, String) = {
    val row = struct(df.schema.fields.toIndexedSeq.map(f => canon(df(s"`${f.name}`"), f.dataType)): _*)
    val r = df.agg(count(lit(1)), sum(xxhash64(row).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally w.close()
    }

  // ---- workloads ---------------------------------------------------------

  final class Queries(val names: Seq[String], dir: String,
      expected: Map[String, (Long, String)], record: mutable.Map[String, (Long, String)])
      extends Workload {
    private val registry = SparkEntry.queries

    def exec(spark: SparkSession, name: String, run: Int, checked: Boolean) = {
      val t0 = System.nanoTime()
      val df = registry(name)(spark, dir)
      val t1 = System.nanoTime()
      if (checked) {
        val d = digest(df)
        val t2 = System.nanoTime()
        record(name) = d
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9, d._1, expected.get(name).contains(d))
      } else {
        val n = df.count()
        val t2 = System.nanoTime()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9, n, expected.get(name).exists(_._1 == n))
      }
    }
  }

  /** The lead ETL product path: one `Main.runBulk` over `leads` ids per op,
    * each into a fresh sink directory deleted afterwards. Checked runs use
    * the fixed range starting at 1 and compare a digest of the CSV; timed
    * runs take their range from the seed. */
  final class Etl(seed: Long, leads: Int, work: Path,
      expected: Map[String, (Long, String)], record: mutable.Map[String, (Long, String)])
      extends Workload {
    val names = Seq(s"bulk_$leads")
    private def start(run: Int): Long =
      if (run < 0) 1L else 1000000L * (1 + math.floorMod(seed, 1000L)) + run.toLong * leads

    def exec(spark: SparkSession, name: String, run: Int, checked: Boolean) = {
      val base = Files.createTempDirectory(work, "etl-")
      val out = base.resolve("leads").toString
      try {
        val s = start(run)
        val t0 = System.nanoTime()
        val r = graft.app.Main.runBulk(spark, s, s + leads - 1, out)
        val t1 = System.nanoTime()
        val ok = r.status == "success" && r.recordsProcessed == leads
        val checkedOk = !checked || {
          val d = digest(spark.read.option("header", "true").csv(out).drop("fecha_extraccion"))
          record(name) = d
          expected.get(name).contains(d)
        }
        (0.0, (t1 - t0) / 1e9, r.recordsProcessed, ok && checkedOk)
      } finally deleteTree(base)
    }

    /** Stage self times: the calls of `Main.runPipeline` in its order, each
      * prefix materialized through the noop sink; a stage's time is its
      * prefix time minus the previous prefix time. */
    override def layers(spark: SparkSession, name: String, run: Int) = {
      import graft.etl.{FetchStage, GraftConfig, LeadPipeline}
      val base = Files.createTempDirectory(work, "etl-stages-")
      val out = base.resolve("leads").toString
      try {
        val s = start(run)
        val cfg = GraftConfig.load()
        val spans = mutable.ArrayBuffer[(String, Double, Long, Long)]()
        def timed(stage: String, prefix: Double)(f: => Unit): Double = {
          val a = System.currentTimeMillis(); val t0 = System.nanoTime()
          f
          val t = (System.nanoTime() - t0) / 1e9
          spans += ((stage, t - prefix, a, System.currentTimeMillis()))
          t
        }
        def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
        val pages = FetchStage.fetchPages(LeadPipeline.collect(spark, s, s + leads - 1),
          attempts = cfg.retryAttempts, delayMs = cfg.retryDelayMs)
        val fetch = timed("etl.fetch_s", 0)(noop(pages))
        val extracted = LeadPipeline.extract(pages)
        val extract = timed("etl.extract_s", fetch)(noop(extracted))
        val cleaned = LeadPipeline.clean(extracted)
        val clean = timed("etl.clean_s", extract)(noop(cleaned))
        val leadsDf = LeadPipeline.dedup(cleaned, "url")
        val dedup = timed("etl.dedup_s", clean)(noop(leadsDf))
        timed("etl.load_csv_s", dedup)(LeadPipeline.loadCsv(leadsDf, out))
        var n = 0L
        timed("etl.reread_s", 0) { n = spark.read.option("header", "true").csv(out).count() }
        val t = System.currentTimeMillis()
        timed("etl.audit_s", 0)(LeadPipeline.logRun(spark, out + "_audit", t, t, n, "success", None))
        spans.toSeq
      } finally deleteTree(base)
    }
  }

  // ---- one run of the op list --------------------------------------------

  private def buildCounts: (Int, Double) = {
    val names = TextOps.buildStageTotals.keySet
    val t = TextOps.stageTimings
    (names.toSeq.map(n => t.getOrElse(n, Nil).size).sum, TextOps.buildStageTotals.values.sum)
  }

  private var flushes = 0

  /** Wait until the listener bus has delivered every event posted so far:
    * run one tiny job and wait for the tracer to see it end. */
  private def flush(spark: SparkSession, tracer: Tracer): Unit = {
    val sc = spark.sparkContext
    flushes += 1
    val group = s"perfbench-flush-$flushes"
    sc.setJobGroup(group, "flush")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val ids = sc.statusTracker.getJobIdsForGroup(group)
    val deadline = System.nanoTime() + 30e9.toLong
    while (!ids.forall(tracer.jobEnded) && System.nanoTime() < deadline) Thread.sleep(2)
  }

  def runOnce(spark: SparkSession, w: Workload, order: Seq[String], run: Int,
      checked: Boolean, traced: Boolean): Run = {
    TextOps.releaseShingles()
    Checkpoints.releaseScoped()
    val sc = spark.sparkContext
    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach { t => sc.addSparkListener(t); spark.listenerManager.register(t) }
    val session = mutable.Map[String, Double]().withDefaultValue(0.0)
    val extra = mutable.ArrayBuffer[Span]()
    val layerSums = mutable.Map[String, Double]().withDefaultValue(0.0)
    val ops = order.map { name =>
      val id = s"r$run.$name"
      sc.setLocalProperty(Tracer.OpKey, id)
      val (b0, bs0) = buildCounts
      val a = System.currentTimeMillis()
      val (construct, action, rows, ok) =
        try w.exec(spark, name, run, checked)
        catch { case e: Exception =>
          System.err.println(s"perfbench: op $name failed: $e"); (0.0, 0.0, -1L, false) }
      val z = System.currentTimeMillis()
      val (b1, bs1) = buildCounts
      val op = Op(id, name, construct + action, construct, action, rows, ok, b1 - b0, bs1 - bs0, a, z)
      System.err.println(f"perfbench: op $id%-40s ${op.wall}%8.3f s rows=$rows ok=$ok builds=${op.builds}")
      tracer.foreach { t =>
        val (mb, bc) = t.storage
        for ((k, v) <- Seq("session.rdds" -> sc.getPersistentRDDs.size.toDouble,
          "session.scoped_ckpts" -> Checkpoints.scopedCount.toDouble,
          "session.bc_blocks" -> bc.toDouble, "session.storage_mb" -> mb))
          session(k) = session(k) max v
        val c = a + (construct * 1000).toLong
        extra += Span(id, "", "op", name, a, z, Map("rows" -> rows.toDouble, "ok" -> (if (ok) 1 else 0)))
        extra += Span(s"$id:construct", id, "construct", name, a, c)
        extra += Span(s"$id:action", id, "action", name, c, z)
        if (op.builds > 0)
          extra += Span(s"$id:builds", id, "staged", "staged builds", a, z,
            Map("builds" -> op.builds.toDouble, "build_s" -> op.buildS))
        sc.setLocalProperty(Tracer.OpKey, s"$id.layers")
        for ((k, v, s0, s1) <- w.layers(spark, name, run)) {
          layerSums(k) += v
          extra += Span(s"$id:$k", id, "etl_stage", k, s0, s1)
        }
      }
      sc.setLocalProperty(Tracer.OpKey, null)
      Checkpoints.releaseScoped()
      op
    }
    tracer match {
      case None => Run(ops, traced = false, Map.empty, Nil)
      case Some(t) =>
        flush(spark, t)
        sc.removeSparkListener(t)
        spark.listenerManager.unregister(t)
        val (counters, spans) = t.collect(ops.map(o => (o.id, o.startMs, o.endMs)))
        val wall = ops.map(_.wall).sum
        val builds = ops.map(_.builds).sum.toDouble
        val layers = counters ++ session ++ layerSums ++ Map(
          "registry.construct_s" -> ops.map(_.construct).sum,
          "registry.action_s" -> ops.map(_.action).sum,
          "staged.builds" -> builds,
          "staged.build_s" -> ops.map(_.buildS).sum,
          "staged.reads_per_build" ->
            (if (builds > 0) counters.getOrElse("staged.inmem_scans", 0.0) / builds else 0.0),
          "executor.busy_frac" -> counters.getOrElse("executor.run_s", 0.0) / (wall * Cores))
        Run(ops, traced = true, layers, extra.toSeq ++ spans)
    }
  }

  // ---- metrics -----------------------------------------------------------

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  val PerLayer: Seq[(String, String)] = Seq(
    "registry.construct_s" -> "s", "registry.action_s" -> "s",
    "catalyst.sql_execs" -> "count", "catalyst.analysis_s" -> "s",
    "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count", "scheduler.tasks" -> "count",
    "scheduler.driver_self_s" -> "s",
    "executor.run_s" -> "s", "executor.cpu_s" -> "s", "executor.gc_s" -> "s",
    "executor.busy_frac" -> "ratio",
    "io.input_rows" -> "count", "io.input_bytes" -> "bytes",
    "io.output_rows" -> "count", "io.output_bytes" -> "bytes",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.records" -> "count", "shuffle.spill_bytes" -> "bytes",
    "staged.builds" -> "count", "staged.build_s" -> "s", "staged.inmem_scans" -> "count",
    "staged.reads_per_build" -> "ratio",
    "session.rdds" -> "count", "session.bc_blocks" -> "count",
    "session.scoped_ckpts" -> "count", "session.storage_mb" -> "MB",
    "etl.fetch_s" -> "s", "etl.extract_s" -> "s", "etl.clean_s" -> "s", "etl.dedup_s" -> "s",
    "etl.load_csv_s" -> "s", "etl.reread_s" -> "s", "etl.audit_s" -> "s",
    "trace.overhead" -> "ratio")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  private def loadExpected(p: Option[Path]): Map[String, (Long, String)] =
    p.filter(Files.exists(_)).map(f => Files.readAllLines(f).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t")).collect {
        case Array(n, rows, d) => n -> ((rows.toLong, d))
      }.toMap).getOrElse(Map.empty)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val data = Paths.get(a("data")).toAbsolutePath
    if (a.contains("prepare")) {
      val work = data.resolveSibling("prepare-work")
      val spark = session(work)
      try Gen.write(spark, data) finally { spark.stop(); deleteTree(work) }
      return
    }
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val expected = loadExpected(a.get("expected").map(Paths.get(_)))
    val record = mutable.LinkedHashMap[String, (Long, String)]()
    val dir = data.toString
    val w: Workload = workload match {
      case "queries" => new Queries(QueryOps, dir, expected, record)
      case "etl" => new Etl(seed, EtlLeads, work, expected, record)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rng = new scala.util.Random(seed)
    def order(): Seq[String] = {
      val shuffled = rng.shuffle(w.names)
      val readers = SharedSlotReaders.filter(shuffled.contains).iterator
      shuffled.map(n => if (SharedSlotReaders.contains(n)) readers.next() else n)
    }

    // set-up: session + one checked warm-up run, several times
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    var attempted = 0
    var failed = 0
    for (k <- 0 until SetupRounds) {
      val s0 = if (k == 0) jvmStart else System.currentTimeMillis()
      spark = session(work)
      spark.sparkContext.setLogLevel("ERROR")
      System.err.println(f"perfbench: session $k ready after ${(System.currentTimeMillis() - s0) / 1e3}%.2f s")
      val warm = runOnce(spark, w, order(), -1 - k, checked = k == 0, traced = false)
      setups += (System.currentTimeMillis() - s0) / 1e3
      attempted += warm.ops.size
      failed += warm.ops.count(!_.ok)
      warm.ops.filterNot(_.ok).foreach(o => System.err.println(s"perfbench: check failed: ${o.name}"))
      if (k < SetupRounds - 1) {
        TextOps.releaseShingles()
        Checkpoints.releaseScoped()
        spark.stop()
      }
    }
    a.get("record").foreach { f =>
      Files.write(Paths.get(f), record.map { case (n, (r, d)) => s"$n\t$r\t$d" }.asJava)
    }

    // measured runs; a traced invocation alternates traced and untraced runs
    val runs = mutable.ArrayBuffer[Run]()
    val t0 = System.nanoTime()
    def more: Boolean = (System.nanoTime() - t0) / 1e9 < seconds || runs.isEmpty ||
      (trace && (runs.forall(_.traced) || runs.forall(!_.traced)))
    while (more) {
      val r = runOnce(spark, w, order(), runs.size, checked = false, traced = trace && runs.size % 2 == 0)
      runs += r
      attempted += r.ops.size
      failed += r.ops.count(!_.ok)
    }
    Checkpoints.releaseScoped()
    TextOps.releaseShingles()
    // a second collection after the context cleaner has run frees what the
    // first one only unlinked
    System.gc()
    Thread.sleep(500)
    System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    spark.stop()

    // a run whose staged-build count differs from the usual one is invalid
    val usualBuilds = runs.groupBy(_.builds).maxBy(_._2.size)._1
    val valid = runs.filter(_.builds == usualBuilds).toSeq
    val invalid = runs.size - valid.size
    val plain = Some(valid.filterNot(_.traced)).filter(_.nonEmpty).getOrElse(valid)
    val ops = plain.flatMap(_.ops)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", median(setups.toSeq), "s"),
        ("run_s", median(plain.map(_.wall)), "s"),
        ("op_p50_s", median(plain.map(r => median(r.ops.map(_.wall)))), "s"),
        ("op_tail_s", median(plain.map(_.ops.map(_.wall).max)), "s"),
        ("rows_per_s", median(plain.map(r => r.ops.map(_.rows.max(0L)).sum / r.wall)), "rows/s"),
        ("heap_live_mb", heapMb, "MB"))
      else {
        val traced = valid.filter(_.traced)
        val overhead = median(traced.map(_.wall)) / median(valid.filterNot(_.traced).map(_.wall))
        PerLayer.map { case (k, unit) =>
          (k, if (k == "trace.overhead") overhead else median(traced.map(_.layers.getOrElse(k, 0.0))), unit)
        }
      }

    if (trace) {
      val f = work.resolve(s"trace-$workload-seed$seed.jsonl")
      val lines = valid.filter(_.traced).flatMap(_.spans).map { s =>
        s"""{"id":${jstr(s.id)},"parent":${jstr(s.parent)},"kind":${jstr(s.kind)},""" +
          s""""name":${jstr(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs},"attrs":{""" +
          s.attrs.map { case (k, v) => s"${jstr(k)}:${num(v)}" }.mkString(",") + "}}"
      }
      Files.write(f, lines.asJava)
      System.err.println(s"perfbench: ${lines.size} spans written to ${f.getFileName}")
    }
    System.err.println(f"perfbench: workload=$workload runs=${runs.size} invalid=$invalid " +
      f"ops/run=${w.names.size} op samples=${ops.size} " +
      f"setups=${setups.map(x => f"$x%.2f").mkString(",")}")
    val ms = metrics.map { case (k, v, u) => s"${jstr(k)}:{\"value\":${num(v)},\"unit\":${jstr(u)}}" }
    println(s"""{"correct":${failed == 0 && valid.nonEmpty},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}}}""")
  }
}

package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.LeadPipeline

/** CLI mirroring the reference's three entry points (SURVEY §3,
  * src/main.py:300-325): `bulk --start-id A --end-id B`, `sequential`
  * (discovery feed), `manual <html-file-or-dir>` — each returning the E4
  * status envelope. The live-site fetch is replaced by deterministic
  * synthetic pages (bulk/sequential) or local HTML files (manual), so every
  * mode runs offline and reproducibly.
  */
object Main {

  /** E4 run-status envelope (src/main.py:107,130,133). */
  final case class RunResult(status: String, message: String, recordsProcessed: Long)

  /** S3 fetch through the runnable stage ([[graft.etl.FetchStage]]): the
    * sandbox default client generates the same deterministic page a live
    * client would fetch, so every mode runs offline and reproducibly while
    * exercising the real per-partition fetch/retry/drop plumbing. */
  private def syntheticPages(worklist: DataFrame): DataFrame = {
    // E2 retry knobs from the env-backed config layer (the reference's
    // retry_on_error max_attempts/delay, .env RETRY_ATTEMPTS /
    // RETRY_DELAY_MS) — previously rendered by GraftConfig but wired
    // nowhere, so live fetches retried with zero backoff (review r14)
    val cfg = graft.etl.GraftConfig.load()
    graft.etl.FetchStage.fetchPages(worklist,
      attempts = cfg.retryAttempts, delayMs = cfg.retryDelayMs)
  }

  /** E4+K5 contract shared by every mode and stage runner: the body's
    * RunResult — or the error envelope from a thrown exception — is ALWAYS
    * paired with a scraping_log audit row at `<out>_audit`, error paths
    * included. This matches the reference's log_scraping_session being
    * called from success AND except branches alike
    * (manual_scraper.py:297-313, main.py:107-133 status semantics:
    * success / warning / error). */
  private def audited(spark: SparkSession, out: String)(body: => RunResult): RunResult = {
    val startedAt = System.currentTimeMillis()
    val result = try body catch {
      case e: Exception => RunResult("error", s"ETL falló: ${e.getMessage}", 0L)
    }
    // K5 audit row (scraping_log): every run leaves a record, failed or not
    LeadPipeline.logRun(spark, out + "_audit", startedAt, System.currentTimeMillis(),
      result.recordsProcessed, result.status,
      if (result.status == "error") Some(result.message) else None)
    result
  }

  /** `pages` is by-name: a failing page-source CONSTRUCTION (bad glob, bad
    * schema) must surface as an audited error run, not an unlogged crash.
    * `extract` matches the pages' markup: synthetic by default, the real
    * detail markup in manual mode. */
  private def runPipeline(spark: SparkSession, pages: => DataFrame, out: String,
      extract: DataFrame => DataFrame = LeadPipeline.extract): RunResult =
    audited(spark, out) {
      val leads = LeadPipeline.dedup(
        LeadPipeline.clean(extract(pages)), "url")
      LeadPipeline.loadCsv(leads, out)
      // count what the sink holds: exact regardless of plan shape (observe()
      // through a global sort overcounts — the range-partitioner's sampling
      // pass re-executes the metrics node; see EtlSpec E4 for the exact form)
      val n = spark.read.option("header", "true").csv(out).count()
      RunResult(if (n > 0) "success" else "warning",
        if (n > 0) s"ETL completado: $n registros" else "sin registros", n)
    }

  /** Bulk mode: id-range worklist → pages → extract/clean/dedup → CSV. */
  def runBulk(spark: SparkSession, startId: Long, endId: Long, out: String): RunResult =
    runPipeline(spark, syntheticPages(LeadPipeline.collect(spark, startId, endId)), out)

  /** Sequential mode: discovery (reference-structure result cards →
    * worklist, first-wins dedup, anti-join resume) → pages → pipeline.
    * `processed` models the sink-derived resume state (S9/J1). Both inputs
    * are by-name so a failing SOURCE (bad glob, bad resume CSV) resolves to
    * an audited error run like every other mode, not an unlogged crash. */
  def runSequential(spark: SparkSession, cardsHtml: => DataFrame,
      processed: => DataFrame, out: String): RunResult =
    runPipeline(spark, {
      val cards = cardsHtml
        .select(posexplode(graft.functions.ReferenceHtml.resultCards(
          col("html"), "https://www.guiacores.com.ar/")).as(Seq("seq", "c")))
        .select(col("seq"), col("c.id_negocio"), col("c.url"))
        .filter(col("id_negocio").isNotNull) // id-less cards silently skipped
      val worklist = graft.operators.Operators
        .dedupFirstWins(cards, Seq("id_negocio"), Seq(col("seq")))
        .join(processed, Seq("id_negocio"), "left_anti")
      syntheticPages(worklist.select("id_negocio", "url"))
    }, out)

  /** Sequential mode with the reference UI's progress callback
    * (streamlit_app.py:68-82 `update_progress(current, total, message)`;
    * sequential_collector.py:125-131,231,465-479): discovery is a PAGED
    * stream — each "Ver Más" load is one card page — and after every load
    * the collector reports the cumulative UNIQUE id count against the
    * total-matches banner scraped from the results page (F14,
    * `_extract_total_matches`, sequential_collector.py:606-623).
    *
    * Spark-first shape: the page directory streams through the file source
    * with `maxFilesPerTrigger=1` (one micro-batch per load, modification-
    * time order = load order), cards explode per page, and a stateful
    * streaming `dropDuplicates` means each batch emits only NEWLY seen ids
    * — so the cumulative count is a running sum of batch sizes, O(new) per
    * load, never a re-scan of everything collected (the reference recounts
    * its driver dict per load; a distributed recount would be quadratic in
    * loads). Dedup state holds one row per unique id: exactly the worklist
    * being built, the same bounded metadata the downstream fetch holds
    * anyway — not all-pages state. Callback messages mirror the
    * reference's: `Iniciando recolección. Total estimado: N` once, then
    * `Recolectados N URLs de aprox. T` per load.
    *
    * The collected worklist then resumes through the J1 anti-join and runs
    * the standard pipeline — same semantics as [[runSequential]], plus
    * in-flight progress. */
  def runSequentialPaged(spark: SparkSession, cardsDir: String,
      processed: => DataFrame, out: String,
      progress: (Long, Option[Long], String) => Unit = (_, _, _) => ()): RunResult =
    runPipeline(spark, {
      // per-run scratch keyed by the sink path: cleared up front so a
      // re-run (or a crashed previous run) never unions stale worklist rows
      // into this run's discovery
      val staging = out + "_worklist"
      graft.streaming.StreamOps.deleteTree(java.nio.file.Paths.get(staging))
      // each page contributes its card rows PLUS one per-page sentinel row
      // (null card) so the total-matches banner reaches foreachBatch even
      // when every card on the banner-bearing page is a dup or id-less —
      // without the sentinel, `tm` only rides rows that survive the
      // stateful dedup, and a banner appearing on an all-overlap page
      // ("Ver Más" re-lists) would be lost for the whole run
      val pageSentinel = array(struct(
        lit(null).cast("long").as("id_negocio"),
        lit(null).cast("string").as("url")))
      val cards = spark.readStream
        .option("wholetext", "true").option("maxFilesPerTrigger", "1")
        .text(cardsDir)
        .select(
          graft.functions.ReferenceHtml.totalMatches(col("value")).as("tm"),
          input_file_name().as("src"),
          explode(concat(graft.functions.ReferenceHtml.resultCards(
            col("value"), "https://www.guiacores.com.ar/"), pageSentinel)).as("c"))
        .select(col("tm"), col("src"), col("c.id_negocio"), col("c.url"))
        .filter(col("id_negocio").isNotNull || col("url").isNull) // id-less real cards drop; sentinels stay
        // stateful: batch N emits only never-seen ids; sentinel keys are
        // per-file, so exactly one survives per page regardless of overlap
        .withColumn("dedup_key", coalesce(
          col("id_negocio").cast("string"), concat(lit("page:"), col("src"))))
        .dropDuplicates("dedup_key")
      // foreachBatch is AT-LEAST-ONCE: a task failure mid-write replays the
      // batch with the SAME batchId. Idempotency contract here: each batch
      // writes to its own batch=<id> subdirectory in OVERWRITE mode (a
      // replay replaces its partial output instead of appending duplicate
      // worklist rows), and the progress counter is a per-batchId map whose
      // values are SUMMED (a replay overwrites its entry instead of
      // double-counting). Both stay O(new) per load — no re-scan of
      // everything collected — and the map is one long per load, bounded
      // driver metadata.
      val freshByBatch = scala.collection.mutable.LinkedHashMap[Long, Long]()
      def cum: Long = freshByBatch.values.sum
      var total: Option[Long] = None
      graft.streaming.StreamOps.withFixtureDrainEnv(spark) { ck =>
        val w = cards.writeStream
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
            val rows = batch.persist()
            try {
              val found = rows.filter(col("id_negocio").isNotNull)
              val fresh = found.count() // only ids never seen before this load
              if (total.isEmpty) {
                total = Option(rows.agg(max(col("tm"))).head().get(0))
                  .map(_.asInstanceOf[Long])
                // announce the estimate as soon as SOME page supplies the
                // banner (the reference reads it from the first load; a
                // malformed first page must not suppress it forever).
                // current = cum, not 0: when the banner first appears on a
                // later page, earlier loads already reported collected rows
                // and a progress bar driven by `current` must stay monotone
                total.foreach(t =>
                  progress(cum, total, s"Iniciando recolección. Total estimado: $t"))
              }
              freshByBatch(batchId) = fresh
              // a batch can be sentinel-only (all cards dup/id-less): skip
              // the write so staging never holds a part-less parquet subdir
              // that a later read can't infer a schema from
              if (fresh > 0)
                found.select(col("id_negocio"), col("url"))
                  .write.mode("overwrite").parquet(s"$staging/batch=$batchId")
              progress(cum, total, s"Recolectados $cum URLs" +
                total.map(t => s" de aprox. $t").getOrElse(""))
            } finally rows.unpersist()
            ()
          }
        ck.foreach(p => w.option("checkpointLocation", p.toString))
        val q = w.start()
        q.awaitTermination()
      }
      // zero discovered ids (empty cards dir, or every card id-less) leaves
      // no staging dir: resolve to an empty worklist so the run lands on the
      // same "sin registros" warning envelope as runSequential, not an error
      val worklist = {
        import spark.implicits._
        // listFiles() is the liveness check AND the layout guard in ONE
        // read (no isDirectory+list TOCTOU pair): null means the path is
        // missing, a plain file, or unreadable — either way there is
        // nothing to read, so degrade to the empty-worklist path (same
        // "sin registros" envelope) instead of NPE'ing in the guard or
        // path-not-found'ing in the read (advice + review r15)
        val listing = Option(new java.io.File(staging).listFiles())
        (if (listing.isDefined) {
          // Layout contract (ADVICE r13): staging holds ONLY batch=<id>
          // subdirs and is scoped to exactly one stream-checkpoint lifetime
          // — the deleteTree above clears it before every run, and the
          // checkpoint is per-run ephemeral, so batchId restarting at 0
          // can never meet a prior run's batch=0. A flat part- file here
          // means some OTHER writer used this path (or the clear was
          // bypassed): partition discovery would silently misread a mixed
          // dir, so fail loudly instead.
          val stray = listing.get
            .filter(f => !f.getName.startsWith("batch=") &&
              !f.getName.startsWith(".") && !f.getName.startsWith("_"))
          require(stray.isEmpty,
            s"worklist staging $staging holds non-batch entries " +
              s"(${stray.map(_.getName).take(3).mkString(", ")}) — foreign " +
              "or legacy flat layout; staging is single-run scratch owned " +
              "by runSequentialPaged")
          // the batch=<id> layout reads back as a partitioned dataset;
          // project the payload columns (the synthetic `batch` partition
          // column is write-idempotency plumbing, not worklist schema)
          spark.read.parquet(staging).select("id_negocio", "url")
        }
        else Seq.empty[(Long, String)].toDF("id_negocio", "url"))
          .join(processed, Seq("id_negocio"), "left_anti")
      }
      syntheticPages(worklist.select("id_negocio", "url"))
    }, out)

  /** §3.3 phase runners — the reference's run_extraction / run_transformation
    * / run_loading scripts: standalone stages communicating through
    * materialized JSON stage files (the container/Argo orchestration shape).
    * Each stage is an independent read→transform→write Spark job; the JSON
    * boundary is schema-on-read (SURVEY §1.2) cast back to the canonical
    * schema. */
  def stageExtract(spark: SparkSession, startId: Long, endId: Long, rawDir: String): RunResult =
    audited(spark, rawDir) {
      val raw = LeadPipeline.extract(syntheticPages(LeadPipeline.collect(spark, startId, endId)))
      raw.write.mode("overwrite").json(rawDir)
      RunResult("success", s"extracción completada", spark.read.json(rawDir).count())
    }

  /** Cast a JSON stage file back to the canonical lead schema —
    * schema-on-read at EVERY stage boundary (§1.2): spark.read.json leaves
    * timestamps as ISO strings, and a stage that skips this cast feeds
    * StringType downstream, where e.g. loadCsv's F12 reference egress
    * (`yyyy-MM-dd HH:mm:ss`) only fires on TimestampType — the staged and
    * single-run pipelines would emit format-divergent CSVs for identical
    * data (review r14). */
  private def canonicalize(raw: DataFrame): DataFrame =
    LeadPipeline.leadSchema.fields.foldLeft(raw) { (df, f) =>
      if (raw.columns.contains(f.name)) df.withColumn(f.name, col(f.name).cast(f.dataType))
      else df.withColumn(f.name, lit(null).cast(f.dataType))
    }

  def stageTransform(spark: SparkSession, rawDir: String, transformedDir: String): RunResult =
    audited(spark, transformedDir) {
      val cleaned = LeadPipeline.dedup(
        LeadPipeline.clean(canonicalize(spark.read.json(rawDir))), "url")
      cleaned.write.mode("overwrite").json(transformedDir)
      RunResult("success", "transformación completada", spark.read.json(transformedDir).count())
    }

  def stageLoad(spark: SparkSession, transformedDir: String, out: String): RunResult =
    audited(spark, out) {
      val transformed = canonicalize(spark.read.json(transformedDir))
      LeadPipeline.loadCsv(transformed, out)
      RunResult("success", "carga completada",
        spark.read.option("header", "true").csv(out).count())
    }

  /** Manual mode: local HTML files of the real detail markup → pipeline
    * (manual_scraper.py:317-358).
    * The source is built INSIDE runPipeline's by-name argument: a bad glob
    * resolves to an audited error run, not an unlogged crash. */
  def runManual(spark: SparkSession, htmlGlob: String, out: String): RunResult =
    runPipeline(spark,
      spark.read.format("binaryFile").load(htmlGlob)
        .select(
          monotonically_increasing_id().as("id_negocio"),
          col("path").as("url"),
          col("content").cast("string").as("html")),
      out, LeadPipeline.extractReference)

  /** Manual mode, URL form — the reference's `manual --url` branch
    * (src/main.py:310-314, manual_scraper.py:400-414): ONE live page
    * fetched through the S3/S8 FetchStage client (per-partition client,
    * E2 retry, E1 drop-on-failure), then the real-markup extract and the
    * same clean/dedup/CSV pipeline as every other mode. The id rides the
    * reference's id-from-url law (contador_id query param); an id-less URL
    * still processes under id 0, as the reference keys the manual record
    * on the URL itself. An unreachable URL drops to zero fetched pages and lands
    * on the audited "sin registros" warning — the reference's
    * "No se scrapearon datos" envelope — never an unlogged crash. The
    * client is injectable for offline tests; the CLI uses the live
    * [[graft.etl.HttpPageClient]]. */
  def runManualUrl(spark: SparkSession, url: String, out: String,
      newClient: () => graft.etl.PageClient = () => new graft.etl.HttpPageClient())
      : RunResult =
    runPipeline(spark, {
      import spark.implicits._
      val worklist = Seq(Tuple1(url)).toDF("url").select(
        coalesce(
          graft.functions.CleanFunctions.extractIdFromUrl(col("url")).cast("long"),
          lit(0L)).as("id_negocio"),
        col("url"))
      val cfg = graft.etl.GraftConfig.load()
      graft.etl.FetchStage.fetchPages(worklist, newClient,
        attempts = cfg.retryAttempts, delayMs = cfg.retryDelayMs)
    }, out, LeadPipeline.extractReference)

  /** Status surface — the CLI form of the reference UI's result panel +
    * generated-files section (streamlit_app.py:85-100) over the K5 audit
    * table: per-status run counts and records from scraping_log, the most
    * recent run's outcome, and the sink directory listing. A8's progress
    * reporting covers the in-flight view (StreamingSpec listeners); this is
    * the at-rest view. */
  def runStatus(spark: SparkSession, auditPath: String, filesDir: String): RunResult = {
    val audit = spark.read.parquet(auditPath)
    val byStatus = audit.groupBy(col("status"))
      .agg(count(lit(1)).as("n"), sum(col("records_processed")).as("records"))
      .orderBy("status").collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}(${r.getLong(2)} recs)")
    val last = audit.orderBy(col("ended_at").desc).limit(1).collect()
      .headOption.map(r =>
        s"${r.getAs[String]("status")} @ ${r.getAs[java.sql.Timestamp]("ended_at")}")
      .getOrElse("none")
    val files = Option(new java.io.File(filesDir).listFiles())
      .map(_.filter(_.isFile).map(_.getName).sorted.toSeq).getOrElse(Seq.empty)
    val runs = audit.count()
    RunResult("success",
      s"runs: ${byStatus.mkString(", ")}; last: $last; " +
        s"files(${files.length}): ${files.take(10).mkString(",")}",
      runs)
  }

  /** Result browser — the CLI form of the reference UI's result panel
    * (streamlit_app.py:85-113: status line, record count, generated-file
    * browsing). Renders the first `n` lead records from a CSV sink in
    * id order plus the total; [[runStatus]] is the run-history view, this
    * is the at-rest RESULT view. The collect is `limit(n)`-bounded — a
    * preview, never the sink. */
  def runBrowse(spark: SparkSession, csvDir: String, n: Int): RunResult = {
    val raw = spark.read.option("header", "true").csv(csvDir)
    val cols = Seq("id_negocio", "nombre", "telefonos", "email", "url")
      .filter(raw.columns.contains)
    // column check before any job (no scan when nothing is displayable);
    // cache across the count + top-n jobs so the CSV parses once
    if (cols.isEmpty) return RunResult("warning", "sin registros", 0L)
    val leads = raw.persist()
    try {
    val total = leads.count()
    if (total == 0)
      return RunResult("warning", "sin registros", 0L)
    // id order when the sink carries ids; otherwise lexicographic on the
    // first available column (casting names to long would null every key
    // and make the "ordered preview" claim partition-dependent)
    val orderKey =
      if (cols.head == "id_negocio") col(cols.head).cast("long").asc_nulls_last
      else col(cols.head).asc_nulls_last
    val preview = leads.select(cols.map(col): _*)
      .orderBy(orderKey)
      .limit(n).collect()
      .map(r => cols.indices.map(i =>
        Option(r.getString(i)).getOrElse("N/A")).mkString(" | "))
    RunResult("success",
      (s"$total registros; mostrando ${preview.length}" +:
        cols.mkString(" | ") +: preview.toSeq).mkString("\n"),
      total)
    } finally leads.unpersist()
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // arg-parse failures (non-numeric ids, bad paths resolved at dispatch)
    // still exit through the JSON envelope + status-2 contract
    val result = try args.toList match {
      case "bulk" :: s :: e :: out :: Nil => runBulk(spark, s.toLong, e.toLong, out)
      // the reference's mutually-exclusive --url | --file manual group
      // (main.py:311-313): URL-shaped input takes the live-fetch branch
      case "manual" :: src :: out :: Nil =>
        if (src.startsWith("http://") || src.startsWith("https://"))
          runManualUrl(spark, src, out)
        else runManual(spark, src, out)
      case "stage-extract" :: s :: e :: raw :: Nil => stageExtract(spark, s.toLong, e.toLong, raw)
      case "stage-transform" :: raw :: tr :: Nil => stageTransform(spark, raw, tr)
      case "stage-load" :: tr :: out :: Nil => stageLoad(spark, tr, out)
      case "status" :: audit :: filesDir :: Nil => runStatus(spark, audit, filesDir)
      case "browse" :: csvDir :: n :: Nil => runBrowse(spark, csvDir, n.toInt)
      case "sequential" :: searchGlob :: processedCsv :: out :: Nil =>
        // inlined into the by-name args: source failures must be audited
        runSequential(spark,
          spark.read.format("binaryFile").load(searchGlob)
            .select(col("content").cast("string").as("html")),
          spark.read.option("header", "true")
            .schema("id_negocio LONG").csv(processedCsv),
          out)
      case "sequential-paged" :: cardsDir :: processedCsv :: out :: Nil =>
        // progress lines to stderr: the CLI form of the UI's progress bar +
        // status text (stdout stays the parseable JSON envelope)
        runSequentialPaged(spark, cardsDir,
          spark.read.option("header", "true")
            .schema("id_negocio LONG").csv(processedCsv),
          out,
          (cur, tot, msg) => System.err.println(
            s"PROGRESS $cur/${tot.map(_.toString).getOrElse("?")} $msg"))
      case other =>
        RunResult("error", s"modo no reconocido: ${other.mkString(" ")} " +
          "(uso: bulk <start> <end> <out> | sequential <search-glob> <processed-csv> <out> | " +
          "sequential-paged <cards-dir> <processed-csv> <out> | manual <glob-or-url> <out> | " +
          "stage-extract <start> <end> <raw-dir> | stage-transform <raw-dir> <out-dir> | " +
          "stage-load <in-dir> <out> | status <audit-parquet> <files-dir> | " +
          "browse <csv-dir> <n>)", 0L)
    } catch {
      case e: Exception => RunResult("error", s"ETL falló: ${e.getMessage}", 0L)
    }
    // Spark exception messages routinely carry quotes/backslashes/newlines
    val j = graft.Harness.jsonStr _
    println(s"""{"status":${j(result.status)},"message":${j(result.message)},"records_processed":${result.recordsProcessed}}""")
    spark.stop()
    if (result.status == "error") sys.exit(2)
  }
}

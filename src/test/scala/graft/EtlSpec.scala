package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.etl.LeadPipeline

/** Write-path + pipeline-composition semantics (SURVEY K1/K4/K6/K7, S7, E4)
  * that the read-only oracle queries can't exercise. */
class EtlSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** The real Guia Cores detail-page fixture (GoldenPipelineSpec B3). */
  private val detailPage =
    java.nio.file.Paths.get(getClass.getResource("/html/detail_page.html").toURI)

  private val page = (id: Long) =>
    s"""<html><body><h1 class="business-name">Biz $id</h1>
       |<span class="address">Calle Falsa $id - Rosario</span>
       |<a href="tel:3415550${id}00">call</a>
       |<a href="mailto:biz$id@mail.com">m</a>
       |<a itemprop="url" href="https://biz$id.com">w</a>
       |<span class="horarios">Abierto Lun-Vie 9-18</span>
       |<div class="map" data-lat="-32.95" data-lng="-60.65"></div>
       |<a class="search-result-link">Ferreteria</a>
       |</body></html>""".stripMargin('|')

  test("collect → extract → clean → dedup → loadCsv end-to-end (§3.1 flow)") {
    val worklist = LeadPipeline.collect(spark, 1, 3)
    assert(worklist.count() == 3)
    assert(worklist.filter($"url".endsWith("id=2")).count() == 1)

    // the fetch stage is the only non-relational boundary — fake it by
    // attaching synthetic pages to the worklist (S3 is I/O, not semantics)
    val pages = worklist.withColumn("html", expr(
      """'<html><body><h1 class="business-name">Biz ' || id_negocio || '</h1>' ||
        '<span class="address">Calle Falsa ' || id_negocio || ' - Rosario</span>' ||
        '<a href="tel:3415550' || id_negocio || '00">call</a>' ||
        '<a href="mailto:biz' || id_negocio || '@mail.com">m</a>' ||
        '<a itemprop="url" href="https://biz' || id_negocio || '.com">w</a>' ||
        '<span class="horarios">Abierto Lun-Vie 9-18</span>' ||
        '<div class="map" data-lat="-32.95" data-lng="-60.65"></div>' ||
        '<a class="search-result-link">Ferreteria</a></body></html>'"""))
    val extracted = LeadPipeline.extract(pages)
    val cleaned = LeadPipeline.clean(extracted)
    val row = cleaned.filter($"id_negocio" === 2).head()
    assert(row.getAs[String]("nombre") == "Biz 2")
    assert(row.getAs[String]("direccion") == "Calle Falsa 2")
    assert(row.getAs[String]("localidad") == "Rosario")
    assert(row.getAs[scala.collection.Seq[String]]("telefonos").toSeq == Seq("341-5550-200"))
    assert(row.getAs[String]("email") == "biz2@mail.com")
    assert(row.getAs[String]("horarios") == "Lun-Vie 9-18")
    assert(row.getAs[Double]("latitud") == -32.95)

    // dedup keeps first arrival per id
    val dup = cleaned.union(cleaned.withColumn("nombre", lit("DUP")))
    assert(LeadPipeline.dedup(dup, "url").count() == 3)

    val out = tmp("graft_csv")
    LeadPipeline.loadCsv(cleaned, out)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == 3)
    // egress restores the reference's 'N/A' sentinel for missing fields
    assert(back.filter($"facebook" === "N/A").count() == 3)
  }

  test("versioned snapshot write: dynamic overwrite replaces one month (K7)") {
    val out = tmp("graft_snap")
    val jan = Seq((1L, "2024-01-15"), (2L, "2024-01-20")).toDF("id_negocio", "d")
      .withColumn("fecha_extraccion", $"d".cast("timestamp")).drop("d")
    val feb = Seq((3L, "2024-02-10")).toDF("id_negocio", "d")
      .withColumn("fecha_extraccion", $"d".cast("timestamp")).drop("d")
    LeadPipeline.writeSnapshot(jan.union(feb), out)
    assert(spark.read.parquet(out).count() == 3)

    // re-run January with ONE corrected row: only that partition is replaced
    val janFixed = Seq((9L, "2024-01-25")).toDF("id_negocio", "d")
      .withColumn("fecha_extraccion", $"d".cast("timestamp")).drop("d")
    LeadPipeline.writeSnapshot(janFixed, out)
    val after = spark.read.parquet(out)
    assert(after.count() == 2) // 1 new January row + untouched February
    assert(after.filter($"snapshot_month" === "2024-02").count() == 1)
  }

  test("upsert merges incoming over existing by key (K4 ON CONFLICT DO UPDATE)") {
    val out = tmp("graft_upsert") + "/t"
    val v1 = Seq((1L, "old", 10.0), (2L, "keep", 20.0)).toDF("id", "name", "score")
    LeadPipeline.upsert(spark, v1, out, "id")
    val v2 = Seq((1L, "new", 11.0), (3L, "ins", 30.0)).toDF("id", "name", "score")
    LeadPipeline.upsert(spark, v2, out, "id")
    val got = spark.read.parquet(out).as[(Long, String, Double)].collect().sortBy(_._1)
    assert(got.sameElements(Array((1L, "new", 11.0), (2L, "keep", 20.0), (3L, "ins", 30.0))))

    // the incoming ROW wins, nulls included (EXCLUDED.c semantics — the
    // reference's DO UPDATE and JdbcUpsert's law): a business that removed
    // its email must not keep the stale one via per-column coalesce
    val v3 = Seq((1L, null.asInstanceOf[String], 12.0)).toDF("id", "name", "score")
    LeadPipeline.upsert(spark, v3, out, "id")
    val r1 = spark.read.parquet(out).filter($"id" === 1L).head()
    assert(r1.isNullAt(r1.fieldIndex("name")), "incoming NULL did not clear the field")
    assert(r1.getDouble(r1.fieldIndex("score")) == 12.0)
  }

  test("upsert recovers a table parked at __old by a swap killed mid-rename") {
    // simulate the swapIn crash window: the live table was renamed to
    // target__old and the process died before the stage rename — the next
    // upsert must restore it and MERGE, never treat the target as absent
    // and rebuild from the incoming batch alone (silent data loss)
    val out = tmp("graft_recover") + "/t"
    val v1 = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "score")
    LeadPipeline.upsert(spark, v1, out, "id")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(out),
      new org.apache.hadoop.fs.Path(out + "__old")))
    LeadPipeline.upsert(spark, Seq((3L, "c", 3.0)).toDF("id", "name", "score"), out, "id")
    val got = spark.read.parquet(out).as[(Long, String, Double)].collect().sortBy(_._1)
    assert(got.sameElements(Array((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))),
      s"pre-crash rows lost: ${got.mkString(",")}")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(out + "__old")))
  }

  test("upsert/compact leave no staging or swap debris next to the table") {
    val base = tmp("graft_swap")
    val out = base + "/t"
    val v1 = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "score")
    LeadPipeline.upsert(spark, v1, out, "id")
    LeadPipeline.upsert(spark, Seq((3L, "c", 3.0)).toDF("id", "name", "score"), out, "id")
    LeadPipeline.compact(spark, out)
    val siblings = new java.io.File(base).listFiles().map(_.getName).toSet
    assert(siblings == Set("t"),
      s"swap left debris: ${siblings - "t"}") // no __staging/__compacting/__old
    assert(spark.read.parquet(out).count() == 3)
  }

  test("TTL cache read returns latest non-expired snapshot (K6)") {
    val out = tmp("graft_cache")
    Seq((100L, "stale"), (100L, "stale2")).toDF("cache_ts", "v")
      .union(Seq((200L, "fresh")).toDF("cache_ts", "v"))
      .write.mode("overwrite").parquet(out)
    val hit = LeadPipeline.readCache(spark, out, ttlSeconds = 150, nowEpochSec = 300)
    assert(hit.select("v").as[String].collect().sameElements(Array("fresh")))
    val miss = LeadPipeline.readCache(spark, out, ttlSeconds = 50, nowEpochSec = 1000)
    assert(miss.count() == 0)
  }

  test("local HTML directory scan (S7 wholeTextFiles shape)") {
    val dir = tmp("graft_html")
    Files.writeString(java.nio.file.Paths.get(dir, "a.html"), page(7))
    Files.writeString(java.nio.file.Paths.get(dir, "b.html"), page(8))
    val docs = spark.read.format("binaryFile").load(s"$dir/*.html")
      .select(col("path"), col("content").cast("string").as("html"))
    assert(docs.count() == 2)
    val names = docs.select(
      graft.functions.HtmlFunctions.htmlClassText($"html", "business-name"))
      .as[String].collect().sorted
    assert(names.sameElements(Array("Biz 7", "Biz 8")))
  }

  test("typed Dataset[Lead] round-trips the cleaned pipeline (§1.1)") {
    val pages = Seq(7L, 8L).map(id => (id, s"u$id", page(id))).toDF("id_negocio", "url", "html")
    val ds = LeadPipeline.typed(LeadPipeline.clean(LeadPipeline.extract(pages)))
    // compile-time field access: Option encodes nullability, Seq the arrays
    val got = ds.filter(_.email.isDefined)
      .map(l => (l.id_negocio, l.localidad.getOrElse("?"), l.telefonos.size))(
        org.apache.spark.sql.Encoders.product[(Long, String, Int)])
      .collect().sortBy(_._1)
    assert(got.sameElements(Array((7L, "Rosario", 1), (8L, "Rosario", 1))))
    assert(ds.head().latitud.contains(-32.95))
  }

  test("app modes: bulk and sequential run end-to-end with status envelope") {
    val out1 = tmp("graft_app_bulk")
    val r1 = graft.app.Main.runBulk(spark, 1, 20, out1)
    assert(r1.status == "success" && r1.recordsProcessed == 20)
    val back = spark.read.option("header", "true").csv(out1)
    assert(back.count() == 20)
    assert(back.filter($"localidad" === "Santa Fe").count() == 20)

    // sequential: discovery page yields 4 cards (reference card structure),
    // 2 already processed
    val cards = Seq((11 to 14).map(i =>
      s"""<div class="card-mobile gc-item"><span class="nombre-comercio">
         |<a href="index.php?r=search/detail&id=$i">Negocio $i</a></span></div>""".stripMargin('|'))
      .mkString("\n")).toDF("html")
    val processed = Seq(11L, 13L).toDF("id_negocio")
    val out2 = tmp("graft_app_seq")
    val r2 = graft.app.Main.runSequential(spark, cards, processed, out2)
    assert(r2.status == "success" && r2.recordsProcessed == 2) // only 12, 14

    // K5: every run appends one audit row (scraping_log)
    val audit = spark.read.parquet(out2 + "_audit")
    assert(audit.count() == 1)
    val a = audit.head()
    assert(a.getAs[String]("status") == "success")
    assert(a.getAs[Long]("records_processed") == 2)
    assert(a.isNullAt(a.fieldIndex("error")))
  }

  test("sequential-paged mode: per-load progress callbacks with unique-id " +
      "counts against the F14 total banner") {
    // the reference UI's progress bar (streamlit_app.py:68-82): discovery
    // reports (cumulative_unique, total_estimate, message) after every
    // "Ver Más" load. The three search_results fixtures model cumulative
    // loads with OVERLAP: page1 {11,12,13} (11 repeated), page2 {12,13,14},
    // page3 {14,13} — so unique counts must read 3, 4, 4, not 4, 7, 9.
    val cardsDir = tmp("graft_seq_pages")
    val t0 = System.currentTimeMillis() - 600000L
    Seq("search_results.html", "search_results_page2.html",
        "search_results_page3.html").zipWithIndex.foreach { case (name, i) =>
      val dst = new java.io.File(cardsDir, f"load_$i%02d.html")
      Files.copy(
        getClass.getResourceAsStream(s"/html/$name"), dst.toPath)
      // the file source orders micro-batches by modification time = load order
      assert(dst.setLastModified(t0 + i * 60000L))
    }
    val calls = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Long], String)]
    val processed = Seq(11L).toDF("id_negocio")
    val out = tmp("graft_seq_paged")
    val r = graft.app.Main.runSequentialPaged(spark, cardsDir, processed, out,
      (cur, tot, msg) => calls.synchronized { calls += ((cur, tot, msg)) })
    // worklist {11,12,13,14} minus processed {11} → 3 leads in the sink
    assert(r.status == "success" && r.recordsProcessed == 3)
    assert(spark.read.option("header", "true").csv(out).count() == 3)
    val seq = calls.toList
    assert(seq.head == ((0L, Some(735L),
      "Iniciando recolección. Total estimado: 735")))
    assert(seq.tail.map(c => (c._1, c._2)) ==
      List((3L, Some(735L)), (4L, Some(735L)), (4L, Some(735L))))
    assert(seq(1)._3 == "Recolectados 3 URLs de aprox. 735")
    assert(seq.last._3 == "Recolectados 4 URLs de aprox. 735")
    // K5: the paged run is audited like every other mode
    assert(spark.read.parquet(out + "_audit").count() == 1)

    // re-run against the SAME out path: the worklist staging is cleared up
    // front, so the second run rediscovers the same 3 leads instead of
    // unioning with the first run's staged rows (re-run contamination)
    val r2 = graft.app.Main.runSequentialPaged(spark, cardsDir, processed, out)
    assert(r2.status == "success" && r2.recordsProcessed == 3)

    // zero discovery (empty cards dir) lands on the same warning envelope
    // as runSequential — an audited "sin registros" run, not an error
    val r3 = graft.app.Main.runSequentialPaged(spark, tmp("graft_seq_nopages"),
      processed, tmp("graft_seq_empty_out"))
    assert(r3.status == "warning" && r3.recordsProcessed == 0)
  }

  test("sequential-paged: a banner appearing only on a later all-overlap " +
      "page still surfaces the estimate") {
    // page 1 has cards {21,22} but NO coincidencias banner; page 2 carries
    // the banner but every card is a dup of page 1 — the estimate must
    // still surface (it rides the per-page sentinel row, not card rows
    // that the stateful dedup can drop), and the announce's `current`
    // stays at the rows already collected (monotone progress bar)
    val card = (i: Int) =>
      s"""<div class="card-mobile gc-item"><span class="nombre-comercio">
         |<a href="index.php?r=search/detail&id=$i">Negocio $i</a></span></div>""".stripMargin('|')
    val cardsDir = tmp("graft_seq_latebanner")
    val t0 = System.currentTimeMillis() - 600000L
    Seq(
      s"<html><body>${card(21)}\n${card(22)}</body></html>",
      s"<html><body><h5>La búsqueda ha generado 99 coincidencias</h5>\n${card(21)}\n${card(22)}</body></html>")
      .zipWithIndex.foreach { case (html, i) =>
        val dst = new java.io.File(cardsDir, f"load_$i%02d.html")
        Files.write(dst.toPath, html.getBytes("UTF-8"))
        assert(dst.setLastModified(t0 + i * 60000L))
      }
    val calls = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Long], String)]
    val out = tmp("graft_seq_latebanner_out")
    val r = graft.app.Main.runSequentialPaged(spark, cardsDir,
      Seq.empty[Long].toDF("id_negocio"), out,
      (cur, tot, msg) => calls.synchronized { calls += ((cur, tot, msg)) })
    assert(r.status == "success" && r.recordsProcessed == 2)
    assert(calls.toList == List(
      (2L, None, "Recolectados 2 URLs"),
      (2L, Some(99L), "Iniciando recolección. Total estimado: 99"),
      (2L, Some(99L), "Recolectados 2 URLs de aprox. 99")))
  }

  test("manual --url form: one live page over HTTP through the full " +
      "pipeline; unreachable URL lands on the warning envelope") {
    // the reference's mutually-exclusive manual group (main.py:311-313):
    // --url scrapes ONE page live. An in-process HTTP server stands in for
    // the site; the fetch rides the real S3/S8 HttpPageClient
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/index.php", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val bytes = Files.readAllBytes(detailPage)
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val out = tmp("graft_manual_url")
      val r = graft.app.Main.runManualUrl(spark,
        s"http://127.0.0.1:$port/index.php?r=search%2Fdetail&id=42", out,
        () => new graft.etl.HttpPageClient(timeoutSec = 5))
      assert(r.status == "success" && r.recordsProcessed == 1)
      val lead = spark.read.option("header", "true").csv(out).head()
      // the id rode the reference's id-from-url law, not a synthetic key
      assert(lead.getAs[String]("id_negocio") == "42")
      assert(lead.getAs[String]("nombre") == "Ferretería El Tornillo")
      assert(spark.read.parquet(out + "_audit").count() == 1)

      // unreachable URL: every fetch attempt fails, E1 drops the record,
      // and the run lands on the audited "sin registros" warning — the
      // reference's "No se scrapearon datos" envelope, not a crash
      val out2 = tmp("graft_manual_url_down")
      val r2 = graft.app.Main.runManualUrl(spark,
        s"http://127.0.0.1:1/index.php?r=search%2Fdetail&id=7", out2,
        () => new graft.etl.HttpPageClient(timeoutSec = 1))
      assert(r2.status == "warning" && r2.recordsProcessed == 0)
      assert(spark.read.parquet(out2 + "_audit").count() == 1)
    } finally server.stop(0)
  }

  test("manual mode reads a real detail page through the reference-markup " +
      "extractor (GoldenPipelineSpec B3 values after clean)") {
    val out = tmp("graft_manual_file")
    val r = graft.app.Main.runManual(spark, detailPage.toString, out)
    assert(r.status == "success" && r.recordsProcessed == 1)
    val lead = spark.read.option("header", "true").csv(out).head()
    assert(lead.getAs[String]("nombre") == "Ferretería El Tornillo")
    assert(lead.getAs[String]("email") == "ventas@eltornillo.com.ar")
    assert(lead.getAs[String]("whatsapp") == "5493424555000")
    assert(lead.getAs[String]("horarios") == "Lun a Vie 8:00-12:30 y 16:00-20:00")
    assert(lead.getAs[String]("direccion") == "Av. San Martín 1234")
    assert(lead.getAs[String]("localidad") == "(3000) Santa Fe")
    assert(lead.getAs[String]("servicios") == "N/A")
  }

  test("status mode reports run history + sink listing from the audit table") {
    val out = tmp("graft_app_status")
    assert(graft.app.Main.runBulk(spark, 1, 5, out).status == "success")
    graft.app.Main.runManual(spark, "/nonexistent/x/*.html", out) // error run
    val st = graft.app.Main.runStatus(spark, out + "_audit", out)
    assert(st.status == "success")
    assert(st.recordsProcessed == 2) // two audit rows: one success, one error
    assert(st.message.contains("error=1") && st.message.contains("success=1"))
    assert(st.message.contains("last: error")) // error run finished last
    assert(st.message.contains(".csv")) // sink listing surfaces the output
  }

  test("browse mode renders a bounded id-ordered preview of the lead sink") {
    val out = tmp("graft_app_browse")
    assert(graft.app.Main.runBulk(spark, 1, 5, out).status == "success")
    val br = graft.app.Main.runBrowse(spark, out, 3)
    assert(br.status == "success")
    assert(br.recordsProcessed == 5) // total, not the preview size
    val lines = br.message.split("\n").toSeq
    assert(lines.head == "5 registros; mostrando 3")
    assert(lines(1).startsWith("id_negocio | nombre")) // header row
    assert(lines.length == 5) // summary + header + 3 preview rows
    assert(lines(2).startsWith("1 | ")) // id order, not file order
    // empty sink → warning envelope, same as the pipeline's own law
    val empty = tmp("graft_app_browse_empty")
    spark.range(0).select(col("id").cast("string").as("id_negocio"))
      .write.mode("overwrite").option("header", "true").csv(empty)
    assert(graft.app.Main.runBrowse(spark, empty, 3).status == "warning")
  }

  test("E4+K5: a FAILING run leaves an error-status audit row (scraping_log)") {
    // manual mode on a nonexistent glob: the page source blows up during
    // construction — before any pipeline action — and the contract is that
    // even this run logs a scraping_log row with status=error + message,
    // matching the reference's except-branch log_scraping_session call
    val out = tmp("graft_app_fail")
    val r = graft.app.Main.runManual(spark, "/nonexistent/graft/glob/*.html", out)
    assert(r.status == "error" && r.recordsProcessed == 0)
    assert(r.message.startsWith("ETL falló"))
    val audit = spark.read.parquet(out + "_audit")
    assert(audit.count() == 1)
    val a = audit.head()
    assert(a.getAs[String]("status") == "error")
    assert(a.getAs[Long]("records_processed") == 0)
    assert(!a.isNullAt(a.fieldIndex("error"))) // the message rode along

    // a failing STAGE runner logs the same way (transform on a missing dir)
    val tr = tmp("graft_stage_fail")
    val r2 = graft.app.Main.stageTransform(spark, "/nonexistent/graft/raw", tr)
    assert(r2.status == "error")
    val a2 = spark.read.parquet(tr + "_audit").head()
    assert(a2.getAs[String]("status") == "error")
  }

  test("staged phase runners: extract → transform → load via JSON stage files (§3.3)") {
    val raw = tmp("graft_stage_raw")
    val tr = tmp("graft_stage_tr")
    val out = tmp("graft_stage_out")
    val r1 = graft.app.Main.stageExtract(spark, 1, 10, raw)
    assert(r1.status == "success" && r1.recordsProcessed == 10)
    val r2 = graft.app.Main.stageTransform(spark, raw, tr)
    assert(r2.status == "success" && r2.recordsProcessed == 10)
    val r3 = graft.app.Main.stageLoad(spark, tr, out)
    assert(r3.status == "success" && r3.recordsProcessed == 10)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.filter($"localidad" === "Santa Fe").count() == 10)
    assert(back.filter($"telefonos" =!= "N/A").count() == 5) // even ids only
  }

  test("streaming foreachBatch upserts each micro-batch (ST4 + K4)") {
    val target = tmp("graft_fb") + "/t"
    val src = tmp("graft_fb_src")
    val ck = tmp("graft_fb_ck") // shared checkpoint = resume semantics (ST4)
    def drain(): Unit = {
      val q = spark.readStream.schema("id LONG, v STRING").parquet(src)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          LeadPipeline.upsert(batch.sparkSession, batch, target, "id")
        }
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    Seq((1L, "v1"), (2L, "v1")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(src)
    drain()
    assert(spark.read.parquet(target).count() == 2)

    // restart with the SAME checkpoint: only the new files are processed,
    // so the upsert sees exactly the delta — no reprocessing of batch 1
    Seq((2L, "v2"), (3L, "v1")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(src)
    drain()
    val rows = spark.read.parquet(target).as[(Long, String)].collect().sortBy(_._1)
    assert(rows.sameElements(Array((1L, "v1"), (2L, "v2"), (3L, "v1"))))
  }

  test("partitioned upsert rewrites only affected buckets (K4 at scale)") {
    val target = tmp("graft_up_part") + "/t"
    val base = spark.range(0, 1000).select($"id", lit("v1").as("v"))
    LeadPipeline.upsertPartitioned(spark, base, target, "id", buckets = 16)
    assert(LeadPipeline.readPartitionedTarget(spark, target).count() == 1000)

    // snapshot per-partition mtimes, then upsert keys landing in ONE bucket
    def mtimes: Map[String, Long] = new java.io.File(target).listFiles()
      .filter(_.getName.startsWith("__bucket="))
      .map(f => f.getName -> f.listFiles().map(_.lastModified()).max).toMap
    val before = mtimes
    Thread.sleep(1100)
    LeadPipeline.upsertPartitioned(spark, Seq((7L, "v2")).toDF("id", "v"), target, "id", buckets = 16)

    val after = mtimes
    val touched = after.filter { case (k, t) => before.get(k).exists(_ != t) }.keys.toSet
    assert(touched.size == 1, s"expected 1 rewritten bucket, got $touched")

    // semantics: update applied, every other row intact
    val back = LeadPipeline.readPartitionedTarget(spark, target)
    assert(back.count() == 1000)
    assert(back.filter($"id" === 7L).head().getString(1) == "v2")
    assert(back.filter($"v" === "v1").count() == 999)
  }

  test("compaction collapses small files without changing the data (K2 maintenance)") {
    val path = tmp("graft_compact") + "/t"
    spark.range(0, 10000).select($"id", ($"id" % 7).as("v"))
      .repartition(40).write.parquet(path) // 40 small files
    def files = new java.io.File(path).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files == 40)
    val checksumBefore = spark.read.parquet(path).agg(sum($"id" * $"v")).head().getLong(0)
    LeadPipeline.compact(spark, path)
    assert(files == 1, s"expected 1 compacted file, got $files") // tiny data → one target file
    assert(spark.read.parquet(path).agg(sum($"id" * $"v")).head().getLong(0) == checksumBefore)
    assert(spark.read.parquet(path).count() == 10000)
  }

  test("run-status envelope via observed metrics (E4)") {
    val df = Tables.lineitem(spark, sf)
      .observe("run_stats", count(lit(1)).as("records"),
        sum(when($"l_quantity" > 100, 1).otherwise(0)).as("suspicious"))
    df.collect() // action on THIS QueryExecution populates the metrics
    val stats = df.queryExecution.observedMetrics("run_stats")
    assert(stats.getAs[Long]("records") > 0)
    assert(stats.getAs[Long]("suspicious") == 0)
  }
}

package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.etl.{DerbyUpsertDialect, FetchStage, HttpPageClient, JdbcUpsert,
  LeadPipeline, PageClient, PostgresUpsertDialect, SyntheticPageClient,
  ThrottledClient}

/** Test-only instrumentation shared across executor threads (local mode =
  * one JVM, so statics are visible to tasks). */
object FetchProbe {
  val attempts = new ConcurrentHashMap[Long, AtomicInteger]()
  val closes = new AtomicInteger(0)
  def attemptsFor(id: Long): Int =
    Option(attempts.get(id)).map(_.get).getOrElse(0)
  def reset(): Unit = { attempts.clear(); closes.set(0) }
}

/** A client whose first (attempts-1) calls per URL throw, and which never
  * succeeds for ids in `poison` — drives the E2-retry / E1-drop assertions. */
final class FlakyClient(failFirst: Int, poison: Set[Long]) extends PageClient {
  private val inner = new SyntheticPageClient
  override def fetch(id: Long, url: String): String = {
    val n = FetchProbe.attempts
      .computeIfAbsent(id, _ => new AtomicInteger(0)).incrementAndGet()
    if (poison.contains(id)) throw new RuntimeException(s"poisoned $id")
    if (n <= failFirst) throw new RuntimeException(s"flaky $id attempt $n")
    inner.fetch(id, url)
  }
  override def close(): Unit = { FetchProbe.closes.incrementAndGet(); () }
}

/** S3 runnable fetch stage + K4 JDBC upsert sink — the two I/O edges the
  * oracle queries can't reach (VERDICT r4 "What's missing" §1/§2). */
class SinkFetchSpec extends SparkSpec {

  import spark.implicits._

  test("S3: fetchPages produces the synthetic pages the pipeline extracts from") {
    val pages = FetchStage.fetchPages(LeadPipeline.collect(spark, 1, 12))
    assert(pages.columns.toSeq == Seq("id_negocio", "url", "html"))
    assert(pages.count() == 12)
    val lead = LeadPipeline.clean(LeadPipeline.extract(pages))
      .filter($"id_negocio" === 6).head()
    assert(lead.getAs[String]("nombre") == "Negocio 6")
    // id 6 is %2 and %3: both tel and mailto present in the generated page
    assert(lead.getAs[scala.collection.Seq[String]]("telefonos").nonEmpty)
    assert(lead.getAs[String]("email") == "negocio6@mail.com")
  }

  test("S3+E2: in-task retry recovers flaky fetches without losing records") {
    FetchProbe.reset()
    val out = FetchStage.fetchPages(LeadPipeline.collect(spark, 1, 10),
      () => new FlakyClient(failFirst = 2, poison = Set.empty),
      attempts = 3, delayMs = 0L)
    assert(out.count() == 10) // every record recovered on attempt 3
    (1L to 10L).foreach(id => assert(FetchProbe.attemptsFor(id) == 3))
  }

  test("S3+E1: a record that exhausts its retries is dropped, not the partition") {
    FetchProbe.reset()
    val out = FetchStage.fetchPages(LeadPipeline.collect(spark, 1, 10),
      () => new FlakyClient(failFirst = 0, poison = Set(4L, 7L)),
      attempts = 2, delayMs = 0L)
    assert(out.select("id_negocio").as[Long].collect().sorted.toSeq ==
      (1L to 10L).filterNot(Set(4L, 7L)))
    assert(FetchProbe.attemptsFor(4L) == 2) // retried, then gave up
    assert(FetchProbe.attemptsFor(7L) == 2)
  }

  test("S3: one client per partition, closed when the partition drains") {
    FetchProbe.reset()
    val worklist = LeadPipeline.collect(spark, 1, 40).repartition(4)
    FetchStage.fetchPages(worklist,
      () => new FlakyClient(0, Set.empty), attempts = 1, delayMs = 0L).count()
    assert(FetchProbe.closes.get() == 4)
  }

  test("S3: clients close exactly once even when the consumer stops early") {
    // limit() stops pulling before the partition iterators drain — the
    // task-completion listener must still close every built client, and the
    // drain-path close must not double-fire on partitions that DID finish
    FetchProbe.reset()
    val worklist = LeadPipeline.collect(spark, 1, 40).repartition(4)
    val taken = FetchStage.fetchPages(worklist,
      () => new FlakyClient(0, Set.empty), attempts = 1, delayMs = 0L)
      .limit(3).count()
    assert(taken == 3)
    // every STARTED task closed its client exactly once; limit may plan a
    // single-partition first attempt, so the count is 1..4, never 0 and
    // never more than one per partition
    val closes = FetchProbe.closes.get()
    assert(closes >= 1 && closes <= 4, s"unexpected close count $closes")
  }

  test("ST6: throttled client enforces the per-worker inter-request gap") {
    val worklist = LeadPipeline.collect(spark, 1, 6).coalesce(1)
    val t0 = System.currentTimeMillis()
    val n = FetchStage.fetchPages(worklist,
      () => new ThrottledClient(new SyntheticPageClient, minIntervalMs = 30),
      attempts = 1, delayMs = 0L).count()
    assert(n == 6)
    // 6 fetches on one partition = 5 enforced gaps of >= 30ms
    assert(System.currentTimeMillis() - t0 >= 150)
  }

  // --- S3/S8 live HTTP client -----------------------------------------------

  test("S3/S8: HttpPageClient fetches over a real socket; retry and drop hold") {
    // an in-process com.sun.net.httpserver.HttpServer stands in for the live
    // site (never the real one): serves the synthetic detail page per id,
    // 500s the FIRST hit on ids %5==0 (a transient fault the in-task E2
    // retry must absorb), and permanently 404s id 13 (E1 must drop it)
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val hits = new ConcurrentHashMap[Long, AtomicInteger]()
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/detail", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val id = ex.getRequestURI.getQuery.stripPrefix("id=").toLong
        val n = hits.computeIfAbsent(id, _ => new AtomicInteger(0))
          .incrementAndGet()
        val (code, body) =
          if (id == 13L) (404, "")
          else if (id % 5 == 0 && n == 1) (500, "transient")
          else (200, new SyntheticPageClient().fetch(id, ""))
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(code, if (bytes.isEmpty) -1L else bytes.length.toLong)
        if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.start()
    try {
      val port = server.getAddress.getPort
      val worklist = LeadPipeline.collect(spark, 1, 16)
        .withColumn("url",
          concat(lit(s"http://127.0.0.1:$port/detail?id="), $"id_negocio"))
      val pages = FetchStage.fetchPages(worklist,
        () => new HttpPageClient(timeoutSec = 5), attempts = 3, delayMs = 0L)
      val got = pages.collect()
      // 16 ids minus the permanent 404
      assert(got.map(_.getAs[Long]("id_negocio")).sorted.toSeq ==
        (1L to 16L).filterNot(_ == 13L))
      // transient 500s were retried on the same socket, once each
      Seq(5L, 10L, 15L).foreach(id =>
        assert(hits.get(id).get() == 2, s"id $id not retried over HTTP"))
      // the 404 burned all three attempts before E1 dropped it
      assert(hits.get(13L).get() == 3)
      // the fetched bytes are the real response bodies: golden extraction
      // runs unchanged on HTTP-fetched pages
      val lead = LeadPipeline.clean(LeadPipeline.extract(pages))
        .filter($"id_negocio" === 6).head()
      assert(lead.getAs[String]("nombre") == "Negocio 6")
      assert(lead.getAs[String]("email") == "negocio6@mail.com")
    } finally server.stop(0)
  }

  test("S3+E2: a hung server trips the request timeout, retries, then drops") {
    // the failure mode the 500/404 test can't reach: the server ACCEPTS the
    // request and never answers. HttpRequest.timeout must abort the call,
    // the in-task E2 wrapper retries it, and E1 drops the record — the
    // partition's other fetches are untouched.
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val hangHits = new AtomicInteger(0)
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def respond(ex: HttpExchange, body: String): Unit = {
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    server.createContext("/ok", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val id = ex.getRequestURI.getQuery.stripPrefix("id=").toLong
        respond(ex, new SyntheticPageClient().fetch(id, ""))
      }
    })
    server.createContext("/hang", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        hangHits.incrementAndGet()
        Thread.sleep(2500) // well past the 1s client timeout
        respond(ex, "too late")
      }
    })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    server.setExecutor(pool)
    server.start()
    try {
      val port = server.getAddress.getPort
      val worklist = LeadPipeline.collect(spark, 1, 4)
        .withColumn("url", concat(
          lit(s"http://127.0.0.1:$port/"),
          when($"id_negocio" === 3L, lit("hang")).otherwise(lit("ok")),
          lit("?id="), $"id_negocio"))
      val got = FetchStage.fetchPages(worklist,
        () => new HttpPageClient(timeoutSec = 1), attempts = 2, delayMs = 0L)
        .select("id_negocio").as[Long].collect().sorted.toSeq
      assert(got == Seq(1L, 2L, 4L)) // hung id dropped, siblings intact
      assert(hangHits.get() == 2) // both E2 attempts reached the server
    } finally { server.stop(0); pool.shutdownNow(); () }
  }

  test("S3: oversized response bodies truncate at the client's byte cap") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val big = "x" * 100_000
    server.createContext("/big", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val bytes = big.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(2))
    server.start()
    try {
      val port = server.getAddress.getPort
      val client = new HttpPageClient(timeoutSec = 5, maxBodyBytes = 1024)
      val body = client.fetch(1L, s"http://127.0.0.1:$port/big")
      client.close()
      // truncated to exactly the cap, keeping the head of the document
      assert(body == big.take(1024))
    } finally server.stop(0)
  }

  // --- K4 JDBC upsert -------------------------------------------------------

  private val derbyUrl = "jdbc:derby:memory:graftupsert;create=true"
  private def derbyConn() = {
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    java.sql.DriverManager.getConnection(derbyUrl)
  }

  test("K4: JDBC upsert insert→update round-trip against embedded Derby") {
    // bounded: a task stalled on a Derby page latch has been seen to hang
    // this test indefinitely. On timeout the test's jobs are cancelled
    // (interrupting their task threads) and the waiting thread interrupted,
    // so the stall fails here by name instead of holding up the whole suite
    import org.scalatest.concurrent.{Signaler, TimeLimits}
    import org.scalatest.time.SpanSugar._
    val group = "graft-k4-derby"
    implicit val cancelJobs: Signaler = (t: Thread) => {
      spark.sparkContext.cancelJobGroup(group)
      t.interrupt()
    }
    spark.sparkContext.setJobGroup(group, "K4 Derby round-trip", interruptOnCancel = true)
    try TimeLimits.failAfter(120.seconds)(derbyRoundTrip())
    finally spark.sparkContext.clearJobGroup()
  }

  private def derbyRoundTrip(): Unit = {
    val conn = derbyConn()
    conn.createStatement().execute(
      """CREATE TABLE leads (url VARCHAR(200) PRIMARY KEY,
        |  nombre VARCHAR(200), telefono VARCHAR(40), score DOUBLE,
        |  updated TIMESTAMP)""".stripMargin)
    conn.close()

    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2026-02-01 00:00:00")
    val schema = StructType(Seq(
      StructField("url", StringType), StructField("nombre", StringType),
      StructField("telefono", StringType), StructField("score", DoubleType),
      StructField("updated", TimestampType)))
    def df(rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)

    // batch 1: pure insert (with a NULL exercising setNull)
    JdbcUpsert.upsert(
      df(Seq(Row("u1", "Alfa", "341-1", 1.0, t0),
        Row("u2", null, "341-2", 2.0, t0),
        Row("u3", "Gamma", "341-3", 3.0, t0))),
      derbyUrl, "leads", Seq("url"), DerbyUpsertDialect(), batchSize = 2,
      driver = Some("org.apache.derby.jdbc.EmbeddedDriver"))

    // batch 2: update u1/u2, insert u4 — K4 incoming-wins semantics
    JdbcUpsert.upsert(
      df(Seq(Row("u1", "Alfa2", "341-9", 9.0, t1),
        Row("u2", "Beta", "341-2", 2.5, t1),
        Row("u4", "Delta", "341-4", 4.0, t1))),
      derbyUrl, "leads", Seq("url"), DerbyUpsertDialect(), batchSize = 2,
      driver = Some("org.apache.derby.jdbc.EmbeddedDriver"))

    val got = scala.collection.mutable.ArrayBuffer.empty[(String, String, Double, java.sql.Timestamp)]
    val c2 = derbyConn()
    val rs = c2.createStatement()
      .executeQuery("SELECT url, nombre, score, updated FROM leads ORDER BY url")
    while (rs.next()) got +=
      ((rs.getString(1), rs.getString(2), rs.getDouble(3), rs.getTimestamp(4)))
    c2.close()
    assert(got.toSeq == Seq(
      ("u1", "Alfa2", 9.0, t1), // updated
      ("u2", "Beta", 2.5, t1), // null replaced (incoming wins)
      ("u3", "Gamma", 3.0, t0), // untouched
      ("u4", "Delta", 4.0, t1))) // inserted
  }

  /** Reflective JDBC proxy: delegates every call to `target`, except where
    * `intercept` returns Some (or throws). Evaluated exactly ONCE per call —
    * a PartialFunction's isDefinedAt would double-fire side effects. */
  private def jdbcProxy[T](iface: Class[T], target: AnyRef)(
      intercept: (java.lang.reflect.Method, Array[AnyRef]) => Option[AnyRef]): T =
    java.lang.reflect.Proxy.newProxyInstance(iface.getClassLoader, Array(iface),
      (_, m, rawArgs) => {
        val args = if (rawArgs == null) Array.empty[AnyRef] else rawArgs
        intercept(m, args).getOrElse {
          try m.invoke(target, args: _*)
          catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
        }
      }).asInstanceOf[T]

  test("K4+E2: a transient batch failure retries on a FRESH connection and " +
    "converges even when the failed batch partially landed (idempotent MERGE)") {
    val c0 = derbyConn()
    c0.createStatement().execute(
      """CREATE TABLE leads_retry (url VARCHAR(200) PRIMARY KEY,
        |  nombre VARCHAR(200), score DOUBLE)""".stripMargin)
    c0.close()

    // first TWO executeBatch calls across the run: apply the batch FOR REAL,
    // commit it durably, then report a deadlock — the worst transient case
    // (the data landed but the driver said no). The key-addressed MERGE must
    // converge to exactly-once rows anyway.
    val failures = new AtomicInteger(2)
    val opened = new AtomicInteger(0)
    def flakyConnect(): java.sql.Connection = {
      opened.incrementAndGet()
      val real = derbyConn()
      real.setAutoCommit(false)
      jdbcProxy(classOf[java.sql.Connection], real) { (m, args) =>
        if (m.getName == "prepareStatement") {
          val realPs = (try m.invoke(real, args: _*)
            catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause })
            .asInstanceOf[java.sql.PreparedStatement]
          Some(jdbcProxy(classOf[java.sql.PreparedStatement], realPs) { (mm, _) =>
            if (mm.getName == "executeBatch" &&
                failures.getAndUpdate(n => math.max(0, n - 1)) > 0) {
              realPs.executeBatch()
              real.commit() // the partial apply is DURABLE
              throw new java.sql.SQLException("synthetic post-apply deadlock", "40001")
            } else None
          })
        } else None
      }
    }

    val schema = StructType(Seq(StructField("url", StringType),
      StructField("nombre", StringType), StructField("score", DoubleType)))
    val dialect = DerbyUpsertDialect()
    val sql = dialect.upsertSql("leads_retry", schema, Seq("url"))
    val binds = dialect.bindOrder(schema.fieldNames.toSeq, Seq("url"))
    val types = Array(java.sql.Types.VARCHAR, java.sql.Types.VARCHAR,
      java.sql.Types.DOUBLE)
    val rows = (1 to 6).map(i => Row(s"u$i", s"N$i", i.toDouble))

    // batchSize=2 → 3 flushes; flush 1 burns both injected failures
    // (attempt 1 and the retry's attempt 2), lands on attempt 3
    JdbcUpsert.writePartition(rows.iterator, () => flakyConnect(),
      sql, binds, types, batchSize = 2, retries = 2)

    assert(failures.get() == 0, "both injected failures must be consumed")
    assert(opened.get() == 3, // 1 initial + 2 fresh-connection retries
      s"retries must reopen, not reuse, the connection (opened ${opened.get()})")
    val c2 = derbyConn()
    val rs = c2.createStatement()
      .executeQuery("SELECT url, nombre, score FROM leads_retry ORDER BY url")
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, String, Double)]
    while (rs.next()) got += ((rs.getString(1), rs.getString(2), rs.getDouble(3)))
    c2.close()
    assert(got.toSeq == (1 to 6).map(i => (s"u$i", s"N$i", i.toDouble)),
      "rows must land exactly once despite the durable partial apply")
  }

  test("K4+E2: a transient CONNECT failure consumes retry budget like a " +
    "failed batch — the fresh-connection open runs inside the guarded try") {
    val c0 = derbyConn()
    c0.createStatement().execute(
      """CREATE TABLE leads_connretry (url VARCHAR(200) PRIMARY KEY,
        |  nombre VARCHAR(200))""".stripMargin)
    c0.close()
    // first connect attempt: DB "briefly unreachable" (SQLState 08001) —
    // before the r17 fix this escaped the retry loop unretried because
    // open() ran outside the attempt's try
    val refusals = new AtomicInteger(1)
    val opened = new AtomicInteger(0)
    def flakyConnect(): java.sql.Connection = {
      opened.incrementAndGet()
      if (refusals.getAndUpdate(n => math.max(0, n - 1)) > 0)
        throw new java.sql.SQLException("connection refused", "08001")
      derbyConn()
    }
    val schema = StructType(Seq(StructField("url", StringType),
      StructField("nombre", StringType)))
    val dialect = DerbyUpsertDialect()
    JdbcUpsert.writePartition(
      Iterator(Row("c1", "N1"), Row("c2", "N2")), () => flakyConnect(),
      dialect.upsertSql("leads_connretry", schema, Seq("url")),
      dialect.bindOrder(Seq("url", "nombre"), Seq("url")),
      Array(java.sql.Types.VARCHAR, java.sql.Types.VARCHAR),
      batchSize = 10, retries = 2)
    assert(opened.get() == 2, // the refused attempt + the successful retry
      s"connect failure must be retried (opened ${opened.get()})")
    val c2 = derbyConn()
    val rs = c2.createStatement()
      .executeQuery("SELECT url FROM leads_connretry ORDER BY url")
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    while (rs.next()) got += rs.getString(1)
    c2.close()
    assert(got.toSeq == Seq("c1", "c2"))
  }

  test("K4+E1: a non-transient batch failure propagates on the first " +
    "attempt — no blind retry of constraint/syntax errors") {
    val opened = new AtomicInteger(0)
    def connect(): java.sql.Connection = {
      opened.incrementAndGet()
      val real = derbyConn()
      real.setAutoCommit(false)
      jdbcProxy(classOf[java.sql.Connection], real) { (m, args) =>
        if (m.getName == "prepareStatement") {
          val realPs = (try m.invoke(real, args: _*)
            catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause })
            .asInstanceOf[java.sql.PreparedStatement]
          Some(jdbcProxy(classOf[java.sql.PreparedStatement], realPs) { (mm, _) =>
            if (mm.getName == "executeBatch")
              throw new java.sql.SQLException("constraint violation", "23505")
            else None
          })
        } else None
      }
    }
    val schema = StructType(Seq(StructField("url", StringType)))
    val dialect = DerbyUpsertDialect()
    val e = intercept[java.sql.SQLException] {
      JdbcUpsert.writePartition(Iterator(Row("u1")), () => connect(),
        dialect.upsertSql("leads_retry", schema, Seq("url")),
        dialect.bindOrder(Seq("url"), Seq("url")),
        Array(java.sql.Types.VARCHAR), batchSize = 10, retries = 2)
    }
    assert(e.getSQLState == "23505")
    assert(opened.get() == 1, "non-transient failures must not retry")
  }

  test("K4: transient-failure classifier walks cause and next-exception " +
    "chains (deadlock 40xxx, Derby XJ001 internal wrapper)") {
    import java.sql.SQLException
    assert(JdbcUpsert.isTransient(new SQLException("dl", "40001")))
    assert(JdbcUpsert.isTransient(new SQLException("derby lock", "40XL1")))
    // Derby's embedded NPE surfaces as a BatchUpdateException whose chained
    // next exception carries XJ001 ("Java exception") — the flake this
    // classifier exists for
    val wrapped = new java.sql.BatchUpdateException(
      "batch failed", Array.empty[Int])
    wrapped.setNextException(new SQLException(
      "Java exception: NPE", "XJ001", new NullPointerException("baseCC")))
    assert(JdbcUpsert.isTransient(wrapped))
    // cause-chain (not next-chain) nesting resolves too
    assert(JdbcUpsert.isTransient(new RuntimeException(
      new SQLException("inner deadlock", "40P01"))))
    // constraint and syntax states are NOT transient
    assert(!JdbcUpsert.isTransient(new SQLException("dup key", "23505")))
    assert(!JdbcUpsert.isTransient(new SQLException("no table", "42X05")))
    // unbounded chains terminate (self-referential cause)
    val loop = new SQLException("a", "00000")
    loop.setNextException(loop)
    assert(!JdbcUpsert.isTransient(loop))
  }

  test("S9-at-scale: partitioned JDBC source range-splits the key space") {
    val conn = derbyConn()
    conn.createStatement().execute(
      "CREATE TABLE resume_state (id_negocio BIGINT PRIMARY KEY, estado VARCHAR(20))")
    val ps = conn.prepareStatement("INSERT INTO resume_state VALUES (?, ?)")
    (1L to 100L).foreach { i =>
      ps.setLong(1, i); ps.setString(2, if (i % 3 == 0) "ok" else "pend"); ps.addBatch()
    }
    ps.executeBatch(); conn.close()

    val df = graft.etl.JdbcSource.read(spark, derbyUrl, "resume_state",
      "id_negocio", numPartitions = 4,
      driver = Some("org.apache.derby.jdbc.EmbeddedDriver"))
    assert(df.rdd.getNumPartitions == 4) // four concurrent range readers
    assert(df.count() == 100)
    assert(df.agg(sum(col("id_negocio"))).head().getLong(0) == 5050L) // no slice lost/duplicated
    assert(df.filter(col("estado") === "ok").count() == 33)
  }

  test("config: env layer resolves reference defaults and overrides") {
    val d = graft.etl.GraftConfig.load(Map.empty)
    assert(d.jdbcUrl == "jdbc:postgresql://localhost:5432/etl_db")
    assert(d.retryAttempts == 3)
    val o = graft.etl.GraftConfig.load(Map("DB_HOST" -> "db.prod", "DB_PORT" -> "5433"))
    assert(o.jdbcUrl == "jdbc:postgresql://db.prod:5433/etl_db")
  }

  test("K4: Postgres dialect renders the reference's ON CONFLICT statement") {
    val schema = StructType(Seq(
      StructField("url", StringType), StructField("nombre", StringType),
      StructField("telefono", StringType)))
    assert(PostgresUpsertDialect().upsertSql("leads", schema, Seq("url")) ==
      "INSERT INTO leads (url, nombre, telefono) VALUES (?, ?, ?) " +
        "ON CONFLICT (url) DO UPDATE SET nombre = EXCLUDED.nombre, " +
        "telefono = EXCLUDED.telefono")
    assert(PostgresUpsertDialect().bindOrder(schema.fieldNames.toSeq, Seq("url")) ==
      Seq(0, 1, 2))
    // touch column: updated_at stamped on UPDATE only (manual_scraper.py:289)
    assert(PostgresUpsertDialect(touch = Some("updated_at"))
      .upsertSql("leads", schema, Seq("url")).endsWith(
        "telefono = EXCLUDED.telefono, updated_at = CURRENT_TIMESTAMP"))
    // all-keys degenerate form: no non-key columns to update -> DO NOTHING
    assert(PostgresUpsertDialect().upsertSql("seen",
      StructType(Seq(StructField("url", StringType))), Seq("url")) ==
      "INSERT INTO seen (url) VALUES (?) ON CONFLICT (url) DO NOTHING")
    // the reference's EXACT statement (manual_scraper.py:271-288): the full
    // 11-column leads schema, contador_id conflict target, updated_at
    // touch. No live Postgres exists in the sandbox to parse it, so the
    // whole rendered string is pinned — column order, set-clause order,
    // quoting, and the trailing CURRENT_TIMESTAMP stamp cannot drift
    // silently. Only the batch placeholder differs by client library:
    // psycopg2 execute_values interpolates VALUES %s, JDBC binds (?, ...).
    val leads = StructType(Seq(
      "contador_id", "nombre", "direccion", "telefonos", "whatsapp",
      "sitio_web", "email", "facebook", "instagram", "horario", "rubros")
      .map(StructField(_, StringType)))
    assert(PostgresUpsertDialect(touch = Some("updated_at"))
      .upsertSql("leads", leads, Seq("contador_id")) ==
      "INSERT INTO leads (contador_id, nombre, direccion, telefonos, " +
        "whatsapp, sitio_web, email, facebook, instagram, horario, rubros) " +
        "VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?) " +
        "ON CONFLICT (contador_id) DO UPDATE SET " +
        "nombre = EXCLUDED.nombre, direccion = EXCLUDED.direccion, " +
        "telefonos = EXCLUDED.telefonos, whatsapp = EXCLUDED.whatsapp, " +
        "sitio_web = EXCLUDED.sitio_web, email = EXCLUDED.email, " +
        "facebook = EXCLUDED.facebook, instagram = EXCLUDED.instagram, " +
        "horario = EXCLUDED.horario, rubros = EXCLUDED.rubros, " +
        "updated_at = CURRENT_TIMESTAMP")
  }

  test("K4: Derby touch column stamps updated_at on both merge branches") {
    val conn = derbyConn()
    // no DDL DEFAULT: Derby's MERGE cannot evaluate CURRENT_TIMESTAMP even
    // through a column default, so the dialect stamps inserts too
    conn.createStatement().execute(
      """CREATE TABLE leads2 (url VARCHAR(200) PRIMARY KEY,
        |  nombre VARCHAR(200), updated_at TIMESTAMP)""".stripMargin)
    conn.close()

    val schema = StructType(Seq(
      StructField("url", StringType), StructField("nombre", StringType)))
    def df(rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val dialect = DerbyUpsertDialect(touch = Some("updated_at"))

    JdbcUpsert.upsert(df(Seq(Row("u1", "Alfa"), Row("u2", "Beta"))),
      derbyUrl, "leads2", Seq("url"), dialect,
      driver = Some("org.apache.derby.jdbc.EmbeddedDriver"))
    Thread.sleep(60)
    JdbcUpsert.upsert(df(Seq(Row("u1", "Alfa2"))),
      derbyUrl, "leads2", Seq("url"), dialect,
      driver = Some("org.apache.derby.jdbc.EmbeddedDriver"))

    val c2 = derbyConn()
    val rs = c2.createStatement().executeQuery(
      "SELECT url, nombre, updated_at FROM leads2 ORDER BY url")
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, String, java.sql.Timestamp)]
    while (rs.next()) got += ((rs.getString(1), rs.getString(2), rs.getTimestamp(3)))
    c2.close()
    assert(got.map(r => (r._1, r._2)).toSeq == Seq(("u1", "Alfa2"), ("u2", "Beta")))
    assert(got.forall(_._3 != null)) // both branches stamped
    assert(got(0)._3.after(got(1)._3)) // updated row re-stamped later than untouched
  }
}

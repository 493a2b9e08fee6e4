package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}

/** Core relational operator surface (SURVEY §2.2–§2.7 plus the "gap to fill"
  * built-ins): scans, filters/projections, the full join family, grouped and
  * multi-dimensional aggregation, windows, sorts/top-k, set ops.
  *
  * Determinism contract: every query ends in a total ORDER BY so output is
  * hash-stable across engines (SURVEY §7.4.2 — Spark does not preserve order
  * across shuffles). Monetary aggregates go through DECIMAL so Spark and the
  * DuckDB oracle agree bit-for-bit, then surface as DOUBLE so the schemas
  * match; float-summation order is never relied upon.
  *
  * Scale notes are attached per query: which side broadcasts, which filters
  * push into the parquet scan, where the single shuffle lands.
  */
object Relational {

  /** Exact money arithmetic: double → decimal(18,6) (enough scale for the
    * 2-decimal fixture values and any product of two of them). The decimal
    * sum is order-independent (unlike a double sum, whose value depends on
    * partial-aggregation merge order), then the FINAL column surfaces as
    * DOUBLE: the driver's oracle comparison degrades DuckDB DECIMAL columns
    * to float64, so an output schema must never contain decimals (r02: the
    * 19 hash failures were exactly the 19 decimal-emitting queries). */
  private def dec(c: Column): Column = c.cast("decimal(18,6)")
  private def moneySum(c: Column): Column =
    graft.MoneyOut.col(sum(dec(c)))

  // sessions whose bucketed layout tables (q151) are already registered,
  // each with its set of canonical fixture paths — the write-once
  // contract. WEAK session keys (the Checkpoints registry rule): this
  // static gate must never be the thing keeping a discarded SparkSession's
  // whole SessionState graph reachable. Keyed on the PATH, not a hash of
  // it: two fixture dirs must never share a slot.
  private val bucketedReady =
    new java.util.WeakHashMap[SparkSession, java.util.Set[String]]()
  private def layoutReady(s: SparkSession, p: String): Boolean =
    Relational.synchronized {
      val set = bucketedReady.get(s)
      set != null && set.contains(p)
    }
  private def markLayoutReady(s: SparkSession, p: String): Unit =
    Relational.synchronized {
      bucketedReady.computeIfAbsent(s,
        _ => new java.util.HashSet[String]()).add(p)
    }
  /** Test hook: clears the in-session write-once gate so a spec can drive
    * the fresh-catalog reuse path without building a second JVM. */
  private[graft] def resetBucketedGate(): Unit =
    Relational.synchronized(bucketedReady.clear())

  private val LayoutVersion = 1
  private val LayoutBuckets = 8

  /** q151's persisted bucketed layout: orders + lineitem bucket-sorted on
    * the order key, written ONCE under a versioned warehouse path and
    * REUSED across sessions via a manifest (q166's manifest law applied to
    * layout): a fresh JVM's empty in-memory catalog re-registers the
    * external bucketed tables over the existing files instead of
    * re-materializing them — the amortized-investment semantics a real
    * warehouse layout has. At 100 TB the rewrite this skips is the whole
    * point of bucketing: pay the layout shuffle once, not once per session.
    *
    * Keying: the layout path and table names carry the FULL 128-bit md5
    * hex of the canonical fixture path (collision-resistant — the previous
    * 31-bit hashCode suffix could silently serve buckets built from a
    * colliding fixture dir), and the in-session write-once gate is keyed
    * on the path itself, never a hash.
    *
    * Invalidation rule: a layout is valid iff its manifest exists and
    * records the same canonical fixture path, layout version, and bucket
    * count. Fixture dirs are immutable (driver contract), so path identity
    * is content identity; bumping [[LayoutVersion]] abandons every old
    * layout (the root path carries the version). The manifest is written
    * LAST, so a rebuild killed mid-write leaves no manifest and the next
    * caller rebuilds from scratch instead of reading half a layout.
    *
    * @return the (orders, lineitem) table names, registered and ready */
  private def bucketedLayout(s: SparkSession, d: String): (String, String) = {
    val canonical = new java.io.File(d).getCanonicalPath
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val ot = s"graft_bkt_orders_$digest"
    val lt = s"graft_bkt_lineitem_$digest"
    if (!layoutReady(s, canonical)) Relational.synchronized {
      if (!layoutReady(s, canonical)) {
        val wh = java.net.URI.create(
          s.conf.get("spark.sql.warehouse.dir")).getPath
        val root = java.nio.file.Paths.get(
          wh, s"graft_layout_v$LayoutVersion", digest)
        val manifest = root.resolve("_graft_layout_manifest.json")
        val specs = Seq(
          (ot, root.resolve("orders"), "o_orderkey",
            () => Tables.orders(s, d)),
          (lt, root.resolve("lineitem"), "l_orderkey",
            () => Tables.lineitem(s, d)))
        // CROSS-PROCESS exclusion around check-and-build: two graft JVMs
        // sharing a warehouse must not interleave rebuilds — a manifest
        // written last would bless a mix of both jobs' bucket files that
        // every later session silently reuses. The lock file lives BESIDE
        // the digest root so the rebuild's delete-tree can't remove it
        // mid-hold. (In-JVM exclusion is the enclosing synchronized.)
        java.nio.file.Files.createDirectories(root.getParent)
        val lockCh = java.nio.channels.FileChannel.open(
          root.getParent.resolve(s"$digest.lock"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        val lock = lockCh.lock()
        try {
        // valid iff the manifest records EXACT field values (delimiter-
        // terminated — a raw substring probe would accept "buckets":80 for
        // 8) AND the COMPLETE per-table part-file inventory on disk equals
        // the one recorded at write time. An any-part-file-exists probe
        // accepted a PARTIALLY pruned layout (a /tmp reaper deleting 7 of
        // 8 bucket files leaves one part- survivor; Spark reads missing
        // buckets as empty and q151 returns silently short aggregates) —
        // the inventory must match file-for-file or the layout rebuilds.
        def renderFiles(): String = specs.map { case (_, loc, _, _) =>
          val names = Option(loc.toFile.listFiles())
            .getOrElse(Array.empty[java.io.File])
            .map(_.getName).filter(_.startsWith("part-")).sorted
          loc.getFileName.toString + ":" + names.mkString(",")
        }.mkString(";")
        val reusable = java.nio.file.Files.exists(manifest) && {
          val txt = java.nio.file.Files.readString(manifest)
          txt.contains("\"fixture\":\"" + canonical + "\"") &&
            txt.contains("\"buckets\":" + LayoutBuckets + ",") &&
            txt.contains("\"version\":" + LayoutVersion + ",") &&
            // the write path records a non-empty inventory, so equality
            // also rejects an emptied table dir
            txt.contains("\"files\":\"" + renderFiles() + "\"")
        }
        if (reusable) {
          // files are a complete, matching layout — (re-)register the
          // external bucketed tables in THIS catalog if absent (a fresh
          // JVM starts with an empty in-memory catalog over the same
          // warehouse dir); the files themselves are untouched
          specs.foreach { case (name, loc, key, tbl) =>
            if (!s.catalog.tableExists(name))
              s.sql(s"CREATE TABLE $name (${tbl().schema.toDDL}) " +
                s"USING PARQUET CLUSTERED BY ($key) SORTED BY ($key) " +
                s"INTO $LayoutBuckets BUCKETS LOCATION '${loc.toUri}'")
          }
        } else {
          // (re)build: clear stale catalog entries + files, write the
          // bucketed tables, then the manifest LAST
          specs.foreach { case (name, _, _, _) =>
            s.sql(s"DROP TABLE IF EXISTS $name") }
          graft.streaming.StreamOps.deleteTree(root)
          specs.foreach { case (name, loc, key, tbl) =>
            tbl().write.mode("overwrite")
              .bucketBy(LayoutBuckets, key).sortBy(key)
              .option("path", loc.toString)
              .format("parquet").saveAsTable(name)
          }
          java.nio.file.Files.createDirectories(root)
          // the inventory is read back from disk AFTER the writes so the
          // manifest records exactly what a reuse check will see
          java.nio.file.Files.writeString(manifest,
            s"""{"version":$LayoutVersion,"fixture":"$canonical",""" +
              s""""buckets":$LayoutBuckets,"tables":["$ot","$lt"],""" +
              s""""files":"${renderFiles()}"}""" + "\n")
        }
        } finally { lock.release(); lockCh.close() }
        markLayoutReady(s, canonical)
      }
    }
    (ot, lt)
  }

  val qs: Map[String, Q] = Map(

    // ------------------------------------------------------------------
    // Aggregations (A1-A7 + gap: grouped, distinct, rollup/cube)
    // ------------------------------------------------------------------

    // TPC-H Q1 shape: single shuffle on a 6-value grouping key; partial
    // aggregation is map-side so 100 TB reduces to KBs before exchange.
    "q01_pricing_summary" -> Q(
      run = (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // floor() before the long conversion on BOTH engines: a bare
          // double→bigint cast truncates in Spark but rounds in DuckDB, so
          // any fractional quantity would silently split the hash gate
          sum(floor(col("l_quantity"))).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_base_price"),
          graft.MoneyOut.col(
            sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,6)") - dec(col("l_discount")))))
            .as("sum_disc_price"),
          moneySum(col("l_discount")).as("sum_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      oracle = Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
               (CAST(CAST(ROUND(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS sum_base_price,
               (CAST(CAST(ROUND(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS sum_disc_price,
               (CAST(CAST(ROUND(sum(CAST(l_discount AS DECIMAL(18,6))), 2) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS sum_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""),
      doc = "grouped agg w/ map-side partials; TPC-H Q1 shape"),

    // Filter + projection: both push into the parquet scan (PushedFilters +
    // 4-column ReadSchema) — at 100 TB this reads a fraction of the data.
    "q02_filter_project" -> Q(
      run = (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate").between(
          lit("1996-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp"))
          && col("l_quantity") >= 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy("l_orderkey", "l_linenumber"),
      oracle = Some("""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
          AND l_quantity >= 45
        ORDER BY l_orderkey, l_linenumber"""),
      doc = "predicate+projection pushdown to parquet scan"),

    // ------------------------------------------------------------------
    // Joins (J1-J4 + gap: the full join family)
    // ------------------------------------------------------------------

    // Shuffle hash/sort-merge join on o_orderkey; grouped agg reuses the
    // join's hash partitioning so only one exchange per side.
    "q03_join_agg" -> Q(
      run = (s, d) => Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("line_count"),
          moneySum(col("l_extendedprice")).as("revenue"))
        .orderBy("o_orderpriority"),
      oracle = Some("""
        SELECT o_orderpriority, count(*) AS line_count,
               (CAST(CAST(ROUND(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      doc = "fact-fact equi join + agg"),

    // Dimension tables broadcast: no shuffle of the fact side at all.
    "q04_broadcast_join" -> Q(
      run = (s, d) => Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("customers"),
          moneySum(col("c_acctbal")).as("total_acctbal"))
        .orderBy("r_name", "n_name"),
      oracle = Some("""
        SELECT r_name, n_name, count(*) AS customers,
               (CAST(CAST(ROUND(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS total_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
                      JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name ORDER BY r_name, n_name"""),
      doc = "snowflake dims via broadcast hash join"),

    // TPC-H Q5 shape: 5-way join; dims broadcast, facts co-partition.
    "q05_multi_join" -> Q(
      run = (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("n_name"))
        .agg(graft.MoneyOut.col(
          sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,6)") - dec(col("l_discount")))))
          .as("revenue"))
        .orderBy("n_name"),
      oracle = Some("""
        SELECT n_name,
               (CAST(CAST(ROUND(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS revenue
        FROM customer
          JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON o_orderkey = l_orderkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name ORDER BY n_name"""),
      doc = "5-way join, TPC-H Q5 shape"),

    // Left semi join — J1's processed-ID skip generalized (SURVEY §2.3).
    "q06_semi_join" -> Q(
      run = (s, d) => Tables.orders(s, d)
        .join(Tables.lineitem(s, d).filter(col("l_quantity") >= 49),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .orderBy("o_orderkey"),
      oracle = Some("""
        SELECT o_orderkey, o_orderpriority FROM orders
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49)
        ORDER BY o_orderkey"""),
      doc = "left semi join (EXISTS pushownwards)"),

    // Left anti join — the reference's resume/skip pattern
    // (sequential_scraper.py:372-375) as a relational operator.
    "q07_anti_join" -> Q(
      run = (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey"),
      oracle = Some("""
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT' AND o_custkey IS NOT NULL)
        ORDER BY c_custkey"""),
      doc = "left anti join (resume-state skip, J1)"),

    // Left outer join with null-aware aggregation.
    "q08_outer_join" -> Q(
      run = (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_mktsegment"))
        .agg(
          count(col("o_orderkey")).as("order_count"),
          count(lit(1)).as("row_count"),
          sum(when(col("o_orderkey").isNull, 1).otherwise(0)).cast("long").as("customers_without_orders"))
        .orderBy("c_mktsegment"),
      oracle = Some("""
        SELECT c_mktsegment, count(o_orderkey) AS order_count, count(*) AS row_count,
               CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS customers_without_orders
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
      doc = "left outer join + null-aware agg"),

    // Full outer join — the upsert/merge building block (J2, SURVEY §7.4.6).
    "q09_full_outer_join" -> Q(
      run = (s, d) => {
        val bySupp = Tables.lineitem(s, d).groupBy(col("l_suppkey").as("suppkey"))
          .agg(count(lit(1)).as("lines"))
        val supp = Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))
        supp.join(bySupp, col("s_suppkey") === col("suppkey"), "full_outer")
          .select(
            coalesce(col("s_suppkey"), col("suppkey")).as("suppkey_merged"),
            coalesce(col("s_name"), lit("UNKNOWN")).as("name_merged"),
            coalesce(col("lines"), lit(0L)).as("lines"))
          .orderBy("suppkey_merged")
      },
      oracle = Some("""
        WITH by_supp AS (SELECT l_suppkey AS suppkey, count(*) AS lines FROM lineitem GROUP BY l_suppkey)
        SELECT COALESCE(s_suppkey, suppkey) AS suppkey_merged,
               COALESCE(s_name, 'UNKNOWN') AS name_merged,
               COALESCE(lines, 0) AS lines
        FROM supplier FULL OUTER JOIN by_supp ON s_suppkey = suppkey
        ORDER BY suppkey_merged"""),
      doc = "full outer join + coalesce merge (upsert primitive)"),

    // Cross join — J3's rubros × localidades combination expansion.
    "q10_cross_join" -> Q(
      run = (s, d) => Tables.region(s, d)
        .crossJoin(Tables.nation(s, d))
        .select(col("r_name"), col("n_name"))
        .orderBy("r_name", "n_name"),
      oracle = Some("""
        SELECT r_name, n_name FROM region CROSS JOIN nation
        ORDER BY r_name, n_name"""),
      doc = "cross join (filter-combination expansion, J3)"),

    // ------------------------------------------------------------------
    // Windows (§2.5 gap)
    // ------------------------------------------------------------------

    // Top-3 orders per customer: single shuffle on o_custkey, ranking within
    // partitions — the order-preserving-dedup primitive of A2/J4.
    "q11_window_rank" -> Q(
      run = (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
          .orderBy("o_custkey", "rn")
      },
      oracle = Some("""
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
          FROM orders) t
        WHERE rn <= 3 ORDER BY o_custkey, rn"""),
      doc = "row_number ranking window, top-k per group"),

    // lag/lead analytics over event time per user.
    "q12_window_lag_lead" -> Q(
      run = (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .withColumn("gap_us",
            unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("prev_type"), col("next_type"),
            col("gap_us"))
          .orderBy("event_id")
      },
      oracle = Some("""
        SELECT event_id, user_id, prev_type, next_type, gap_us FROM (
          SELECT event_id, user_id, event_type,
                 lag(event_type) OVER w AS prev_type,
                 lead(event_type) OVER w AS next_type,
                 epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) t
        WHERE event_type = 'purchase' ORDER BY event_id"""),
      doc = "lag/lead analytic windows over event time"),

    // Running frame aggregation (rowsBetween unbounded preceding).
    "q13_window_running_sum" -> Q(
      run = (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .withColumn("running_value", graft.MoneyOut.col(sum(dec(col("value"))).over(w)))
          .withColumn("seq", row_number().over(
            Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))))
          .filter(col("seq") <= 20)
          .select(col("user_id"), col("seq"), col("event_id"), col("running_value"))
          .orderBy("user_id", "seq")
      },
      oracle = Some("""
        SELECT user_id, seq, event_id, running_value FROM (
          SELECT user_id, event_id,
                 (CAST(CAST(ROUND(sum(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS running_value,
                 CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS seq
          FROM events) t
        WHERE seq <= 20 ORDER BY user_id, seq"""),
      doc = "running-sum window frame"),

    // ------------------------------------------------------------------
    // Multi-dimensional aggregation (rollup / cube / grouping sets)
    // ------------------------------------------------------------------

    "q14_rollup" -> Q(
      run = (s, d) => Tables.orders(s, d)
        .withColumn("order_year", year(col("o_orderdate")))
        .rollup(col("order_year"), col("o_orderpriority"))
        .agg(count(lit(1)).as("orders"), moneySum(col("o_totalprice")).as("total"))
        .orderBy(col("order_year").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
      oracle = Some("""
        SELECT CAST(year(o_orderdate) AS INT) AS order_year, o_orderpriority,
               count(*) AS orders,
               (CAST(CAST(ROUND(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS total
        FROM orders
        GROUP BY ROLLUP (order_year, o_orderpriority)
        ORDER BY order_year ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""),
      doc = "rollup hierarchy totals"),

    "q15_cube" -> Q(
      run = (s, d) => Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .cube(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("customers"))
        .orderBy(col("n_name").asc_nulls_first, col("c_mktsegment").asc_nulls_first),
      oracle = Some("""
        SELECT n_name, c_mktsegment, count(*) AS customers
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY CUBE (n_name, c_mktsegment)
        ORDER BY n_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST"""),
      doc = "cube over two dims"),

    // ------------------------------------------------------------------
    // Distinct / dedup aggregations (A2-A4)
    // ------------------------------------------------------------------

    "q16_distinct_count" -> Q(
      run = (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_suppkey")).as("distinct_suppliers"),
          countDistinct(col("l_partkey")).as("distinct_parts"))
        .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag,
               count(DISTINCT l_suppkey) AS distinct_suppliers,
               count(DISTINCT l_partkey) AS distinct_parts
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      doc = "exact distinct aggregation (expand + two-phase)"),

    // First-wins keyed dedup (A2/J4): deterministic via row_number, not
    // dropDuplicates (which keeps an arbitrary row — SURVEY §7.4.2).
    "q17_dedup_first_wins" -> Q(
      run = (s, d) => {
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("o_custkey"), col("o_orderkey").as("first_orderkey"),
            col("o_orderdate").as("first_orderdate"))
          .orderBy("o_custkey")
      },
      oracle = Some("""
        SELECT o_custkey, o_orderkey AS first_orderkey, o_orderdate AS first_orderdate FROM (
          SELECT o_custkey, o_orderkey, o_orderdate,
                 row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
          FROM orders) t
        WHERE rn = 1 ORDER BY o_custkey"""),
      doc = "order-preserving first-wins dedup (A2)"),

    // ------------------------------------------------------------------
    // Sorts / limits / top-k (O1-O2)
    // ------------------------------------------------------------------

    // Global top-k: Spark plans TakeOrderedAndProject — per-partition heaps,
    // no total sort even at 100 TB.
    "q18_top_k" -> Q(
      run = (s, d) => Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      oracle = Some("""
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 25"""),
      doc = "global top-k via TakeOrderedAndProject"),

    // ------------------------------------------------------------------
    // Set operations (U1-U4 + gap: intersect/except)
    // ------------------------------------------------------------------

    "q19_set_ops" -> Q(
      run = (s, d) => {
        val hiBal = Tables.customer(s, d).filter(col("c_acctbal") > 7000)
          .select(col("c_custkey"))
        val building = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        val u = hiBal.union(building).distinct().withColumn("set_op", lit("union"))
        val i = hiBal.intersect(building).withColumn("set_op", lit("intersect"))
        val e = hiBal.except(building).withColumn("set_op", lit("except"))
        u.union(i).union(e)
          .groupBy(col("set_op")).agg(count(lit(1)).as("n"))
          .orderBy("set_op")
      },
      oracle = Some("""
        WITH hi AS (SELECT c_custkey FROM customer WHERE c_acctbal > 7000),
             bld AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
             ops AS (
               SELECT c_custkey, 'union' AS set_op FROM (SELECT DISTINCT c_custkey FROM (SELECT * FROM hi UNION ALL SELECT * FROM bld))
               UNION ALL SELECT c_custkey, 'intersect' AS set_op FROM (SELECT c_custkey FROM hi INTERSECT SELECT c_custkey FROM bld)
               UNION ALL SELECT c_custkey, 'except' AS set_op FROM (SELECT c_custkey FROM hi EXCEPT SELECT c_custkey FROM bld))
        SELECT set_op, count(*) AS n FROM ops GROUP BY set_op ORDER BY set_op"""),
      doc = "union/intersect/except"),

    // ------------------------------------------------------------------
    // Subqueries (correlated exists / scalar)
    // ------------------------------------------------------------------

    "q20_scalar_subquery" -> Q(
      run = (s, d) => {
        // threshold in EXACT integer cents: price > (sum/n)·1.8 rewritten
        // as price_cents·n·10 > sum_cents·18. The old decimal→double
        // average diverged past 2^53 unscaled (Spark's Decimal.toDouble
        // rounds once; DuckDB converts-then-divides, two roundings — a
        // verified 1-ulp threshold drift), and the sf0.1 orders sum is
        // already ~2.3e16 unscaled; rational cross-multiplication keeps
        // the SAME law engine-exact at any scale.
        val cents = expr(
          "CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS DECIMAL(38,0))")
        val tot = Tables.orders(s, d)
          .agg(sum(cents).as("sc"), count(lit(1)).as("n"))
        Tables.orders(s, d).join(broadcast(tot))
          .filter(cents * col("n") * 10 > col("sc") * 18)
          .select(col("o_orderkey"), col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      oracle = Some("""
        WITH t AS (
          SELECT sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS HUGEINT)) AS sc,
                 count(*) AS n
          FROM orders)
        SELECT o_orderkey, o_totalprice FROM orders CROSS JOIN t
        WHERE CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS HUGEINT) * n * 10 > sc * 18
        ORDER BY o_orderkey"""),
      doc = "scalar subquery (broadcast single-row join), exact-integer " +
        "threshold law"),

    // Pivot — conditional aggregation shape shared by both engines.
    "q21_pivot" -> Q(
      run = (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "click", 1).otherwise(0)).cast("long").as("clicks"),
          sum(when(col("event_type") === "view", 1).otherwise(0)).cast("long").as("views"),
          sum(when(col("event_type") === "purchase", 1).otherwise(0)).cast("long").as("purchases"),
          sum(when(col("event_type") === "signup", 1).otherwise(0)).cast("long").as("signups"),
          sum(when(col("event_type") === "error", 1).otherwise(0)).cast("long").as("errors"))
        .orderBy("user_id"),
      oracle = Some("""
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
               CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signups,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors
        FROM events GROUP BY user_id ORDER BY user_id"""),
      doc = "pivot via conditional aggregation"),

    // Explicit GROUPING SETS (beyond rollup/cube): two independent
    // aggregation grains in one pass over the fact table.
    "q56_grouping_sets" -> Q(
      run = (s, d) => Tables.orders(s, d)
        .withColumn("order_year", year(col("o_orderdate")))
        .groupingSets(
          Seq(Seq(col("order_year")), Seq(col("o_orderpriority"))),
          col("order_year"), col("o_orderpriority"))
        .agg(count(lit(1)).as("orders"), moneySum(col("o_totalprice")).as("total"))
        .orderBy(col("order_year").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
      oracle = Some("""
        SELECT CAST(year(o_orderdate) AS INT) AS order_year, o_orderpriority,
               count(*) AS orders,
               (CAST(CAST(ROUND(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS total
        FROM orders
        GROUP BY GROUPING SETS ((order_year), (o_orderpriority))
        ORDER BY order_year ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""),
      doc = "explicit grouping sets (two grains, one pass)"),

    // U2: pandas-style union of mismatched schemas — unionByName with
    // allowMissingColumns null-fills the gaps.
    "q57_union_by_name" -> Q(
      run = (s, d) => {
        val a = Tables.customer(s, d)
          .select(col("c_custkey").as("id"), col("c_name").as("name"),
            col("c_acctbal").cast("decimal(18,6)").as("balance"))
        val b = Tables.supplier(s, d)
          .select(col("s_suppkey").as("id"), col("s_name").as("name"))
          .withColumn("kind", lit("supplier"))
        a.withColumn("kind", lit("customer"))
          .unionByName(b, allowMissingColumns = true)
          .groupBy(col("kind"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("balance").isNull, 1).otherwise(0)).cast("long").as("missing_balance"))
          .orderBy("kind")
      },
      oracle = Some("""
        WITH u AS (
          SELECT c_custkey AS id, c_name AS name,
                 CAST(c_acctbal AS DECIMAL(18,6)) AS balance, 'customer' AS kind
          FROM customer
          UNION ALL BY NAME
          SELECT s_suppkey AS id, s_name AS name, 'supplier' AS kind FROM supplier)
        SELECT kind, count(*) AS n,
               CAST(sum(CASE WHEN balance IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing_balance
        FROM u GROUP BY kind ORDER BY kind"""),
      doc = "unionByName with missing columns (U2 pandas-union semantics)"),

    // Per-group top-k — "best N per key", the partitioned form of q18's
    // global top-k. Window row_number + filter lets Spark run it as one
    // shuffle on the group key with no global sort; ties broken by orderkey
    // so both engines rank identically despite the double-typed price.
    "q60_group_topk" -> Q(
      run = (s, d) => {
        // top-3 per segment WITHOUT a per-segment ranking window:
        // c_mktsegment has 5 values, so row_number() partitioned by it
        // would serialize the whole orders⋈customer output into 5 tasks —
        // the low-cardinality mega-group anti-pattern q61/q168 document.
        // r18 (guide §1.2): groupedRankPicks instead of groupedPrefixSum +
        // filter — only the ≤ |segments| range slices that hold ranks 1-3
        // are ranked; the full-table (pid, segment) window exchange the
        // rank-then-filter form paid is gone.
        val joined = Tables.orders(s, d)
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment"), col("o_totalprice"), col("o_orderkey"))
        graft.operators.Operators.groupedRankPicks(
          joined, "c_mktsegment",
          Seq(col("o_totalprice").desc, col("o_orderkey")),
          _ => Seq(1L, 2L, 3L), "rnk")
          .select(col("c_mktsegment"), col("rnk").cast("int").as("rnk"),
            col("o_orderkey"))
          .orderBy("c_mktsegment", "rnk")
      },
      oracle = Some("""
        WITH ranked AS (
          SELECT c_mktsegment, o_orderkey,
                 row_number() OVER (PARTITION BY c_mktsegment
                   ORDER BY o_totalprice DESC, o_orderkey) AS rnk
          FROM orders JOIN customer ON o_custkey = c_custkey)
        SELECT c_mktsegment, CAST(rnk AS INT) AS rnk, o_orderkey
        FROM ranked WHERE rnk <= 3 ORDER BY c_mktsegment, rnk"""),
      doc = "top-3 per group via ranking window (partitioned top-k)"),

    // Decile binning — ntile over a total order, then per-bucket stats.
    // The equal-height-histogram shape used for quality-score stratification
    // of training corpora; deterministic because the order is total.
    //
    // NOT a global ntile window: `Window.orderBy` with no partitionBy moves
    // every row to one partition — correct at sf0.1, a scale-killer at 100x.
    // Instead, `Operators.totalRank` (the distributed quantile-bucketed
    // total-rank recipe — see its doc); ntile(10) is then pure arithmetic on
    // (rank, N): the first N%10 deciles hold ceil(N/10) rows — bit-identical
    // to the window ntile.
    "q61_ntile_deciles" -> Q(
      run = (s, d) => {
        // two executions consume this projection (totalRank's range-sampling
        // pass + the shuffle itself) — a scoped checkpoint scans parquet
        // once and is reclaimed by the driver after the query's action.
        // r18 NOTE (examined, deliberately left as totalRank): a
        // boundary-pick rewrite (rank only the 9 decile-boundary rows,
        // assign deciles by an in-plan broadcast when-sum) was built and
        // measured BOTH ways — as a driver collect (+1 action, q144
        // 0.559→0.885 isolated) and as an in-plan collect_list broadcast
        // (extra AQE stages, q61 ~+0.15, q144 ~+0.27, q191 ~+0.20 on a
        // same-host A/B) — and lost to the all-partition window at bench
        // scale, where the ≤ 32-partition window costs ~50 ms and every
        // added query stage costs more. The full recipe stays the
        // committed shape; the boundary form is the documented seam if
        // the ranked table ever outgrows the window exchange.
        val base = graft.Checkpoints.localCheckpoint(Tables.orders(s, d)
          .select(col("o_totalprice"), col("o_orderkey")))
        val (ranked, n) = graft.operators.Operators.totalRank(
          base, "o_totalprice", Seq(col("o_orderkey")))
        val q10 = n / 10
        val rem = n % 10
        val thr = rem * (q10 + 1) // ranks <= thr fall in the first rem (fat) buckets
        val decile = // integer DIV keeps the arithmetic exact at any N
          if (q10 == 0) "CAST(rnk AS INT)" // fewer rows than buckets: decile = rank
          else s"""CAST(CASE WHEN rnk <= $thr THEN 1 + (rnk - 1) DIV ${q10 + 1}
                   ELSE ${rem + 1} + (rnk - 1 - $thr) DIV $q10 END AS INT)"""
        ranked
          .withColumn("decile", expr(decile))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
          .orderBy("decile")
      },
      oracle = Some("""
        WITH d AS (
          SELECT o_orderkey,
                 ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
          FROM orders)
        SELECT CAST(decile AS INT) AS decile, count(*) AS n,
               min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        FROM d GROUP BY decile ORDER BY decile"""),
      doc = "ntile decile binning + per-bucket stats (equal-height histogram)"),

    // Data-contract audit — the dbt-test/Great-Expectations surface over
    // the whole warehouse in one statement: primary-key uniqueness on
    // every table, referential integrity on every FK edge, and the
    // documents↔embeddings coverage both ways. One row per check, count
    // of violations (the relational fixture passes clean; the doc/vec
    // coverage checks report real asymmetry — non-vacuous by design).
    // 100 TB shape: uniqueness = keyed count>1 (map-side combined);
    // orphans = left-anti joins where the parent side is the small
    // dimension (Catalyst broadcasts it; lineitem→orders degrades to the
    // AQE shuffle join when orders outgrows the threshold — correct
    // either way). Every check is one pass over its table; checks are
    // independent jobs a scheduler can fan out.
    "q143_contract_audit" -> Q(
      run = (s, d) => {
        def chk(name: String, bad: DataFrame): DataFrame =
          bad.agg(count(lit(1)).as("n_violations"))
            .select(lit(name).as("check"), col("n_violations"))
        def dup(df: DataFrame, keys: String*): DataFrame =
          df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
            .filter(col("c") > 1)
        def orphan(child: DataFrame, ck: String,
            parent: DataFrame, pk: String): DataFrame =
          child.filter(col(ck).isNotNull)
            .join(parent.select(col(pk)), col(ck) === col(pk), "left_anti")
        val (cu, or_, li, na, re, su, pa, dc, em) = (
          Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
          Tables.nation(s, d), Tables.region(s, d), Tables.supplier(s, d),
          Tables.part(s, d), Tables.documents(s, d), Tables.embeddings(s, d))
        // r17 optimization (guide §2.4/§6): the three lineitem FK checks
        // used to be three independent anti-joins — three full scans of the
        // dominant fact table (the expensive pass at 100 TB). One scan now
        // carries all three: chained LEFT joins against each parent's
        // DISTINCT key set (distinct preserves anti-join semantics exactly
        // even under a hypothetical duplicate parent key — a left join on a
        // raw parent would multiply child rows), then one conditional agg
        // counting each FK's unmatched rows. part/supplier key sets are
        // dimension-sized broadcasts; the orders join is the same keyed
        // shuffle the anti-join form paid. Scans of lineitem: 4 → 2
        // (dup-key check + this pass).
        val liOrphans = {
          val joined = li
            .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
            .join(or_.select(col("o_orderkey")).distinct(),
              col("l_orderkey") === col("o_orderkey"), "left")
            .join(broadcast(pa.select(col("p_partkey")).distinct()),
              col("l_partkey") === col("p_partkey"), "left")
            .join(broadcast(su.select(col("s_suppkey")).distinct()),
              col("l_suppkey") === col("s_suppkey"), "left")
          def orphans(ck: String, pk: String) = coalesce(
            sum(when(col(ck).isNotNull && col(pk).isNull, 1L).otherwise(0L)),
            lit(0L))
          joined.agg(
            orphans("l_orderkey", "o_orderkey").as("c_ord"),
            orphans("l_partkey", "p_partkey").as("c_part"),
            orphans("l_suppkey", "s_suppkey").as("c_supp"))
            .select(explode(array(
              struct(lit("orphan_fk:lineitem->orders").as("check"),
                col("c_ord").as("n_violations")),
              struct(lit("orphan_fk:lineitem->part").as("check"),
                col("c_part").as("n_violations")),
              struct(lit("orphan_fk:lineitem->supplier").as("check"),
                col("c_supp").as("n_violations")))).as("kv"))
            .select(col("kv.check").as("check"),
              col("kv.n_violations").as("n_violations"))
        }
        Seq(
          chk("dup_key:customer", dup(cu, "c_custkey")),
          chk("dup_key:orders", dup(or_, "o_orderkey")),
          chk("dup_key:lineitem", dup(li, "l_orderkey", "l_linenumber")),
          chk("dup_key:nation", dup(na, "n_nationkey")),
          chk("dup_key:region", dup(re, "r_regionkey")),
          chk("dup_key:supplier", dup(su, "s_suppkey")),
          chk("dup_key:part", dup(pa, "p_partkey")),
          chk("dup_key:documents", dup(dc, "doc_id")),
          chk("dup_key:embeddings", dup(em, "vec_id")),
          chk("orphan_fk:orders->customer", orphan(or_, "o_custkey", cu, "c_custkey")),
          liOrphans,
          chk("orphan_fk:customer->nation", orphan(cu, "c_nationkey", na, "n_nationkey")),
          chk("orphan_fk:supplier->nation", orphan(su, "s_nationkey", na, "n_nationkey")),
          chk("orphan_fk:nation->region", orphan(na, "n_regionkey", re, "r_regionkey")),
          chk("coverage:doc_without_embedding", orphan(dc, "doc_id", em, "vec_id")),
          chk("coverage:embedding_without_doc", orphan(em, "vec_id", dc, "doc_id"))
        ).reduce(_ unionByName _).orderBy("check")
      },
      oracle = Some("""
        SELECT * FROM (
          SELECT 'dup_key:customer' AS "check", count(*) AS n_violations FROM (SELECT c_custkey FROM customer GROUP BY 1 HAVING count(*) > 1)
          UNION ALL SELECT 'dup_key:orders', count(*) FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
          UNION ALL SELECT 'dup_key:lineitem', count(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1)
          UNION ALL SELECT 'dup_key:nation', count(*) FROM (SELECT n_nationkey FROM nation GROUP BY 1 HAVING count(*) > 1)
          UNION ALL SELECT 'dup_key:region', count(*) FROM (SELECT r_regionkey FROM region GROUP BY 1 HAVING count(*) > 1)
          UNION ALL SELECT 'dup_key:supplier', count(*) FROM (SELECT s_suppkey FROM supplier GROUP BY 1 HAVING count(*) > 1)
          UNION ALL SELECT 'dup_key:part', count(*) FROM (SELECT p_partkey FROM part GROUP BY 1 HAVING count(*) > 1)
          UNION ALL SELECT 'dup_key:documents', count(*) FROM (SELECT doc_id FROM documents GROUP BY 1 HAVING count(*) > 1)
          UNION ALL SELECT 'dup_key:embeddings', count(*) FROM (SELECT vec_id FROM embeddings GROUP BY 1 HAVING count(*) > 1)
          UNION ALL SELECT 'orphan_fk:orders->customer', count(*) FROM (SELECT * FROM orders WHERE o_custkey IS NOT NULL) o ANTI JOIN customer c ON o.o_custkey = c.c_custkey
          UNION ALL SELECT 'orphan_fk:lineitem->orders', count(*) FROM (SELECT * FROM lineitem WHERE l_orderkey IS NOT NULL) l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
          UNION ALL SELECT 'orphan_fk:lineitem->part', count(*) FROM (SELECT * FROM lineitem WHERE l_partkey IS NOT NULL) l ANTI JOIN part p ON l.l_partkey = p.p_partkey
          UNION ALL SELECT 'orphan_fk:lineitem->supplier', count(*) FROM (SELECT * FROM lineitem WHERE l_suppkey IS NOT NULL) l ANTI JOIN supplier su ON l.l_suppkey = su.s_suppkey
          UNION ALL SELECT 'orphan_fk:customer->nation', count(*) FROM (SELECT * FROM customer WHERE c_nationkey IS NOT NULL) c ANTI JOIN nation n ON c.c_nationkey = n.n_nationkey
          UNION ALL SELECT 'orphan_fk:supplier->nation', count(*) FROM (SELECT * FROM supplier WHERE s_nationkey IS NOT NULL) su ANTI JOIN nation n ON su.s_nationkey = n.n_nationkey
          UNION ALL SELECT 'orphan_fk:nation->region', count(*) FROM (SELECT * FROM nation WHERE n_regionkey IS NOT NULL) n ANTI JOIN region r ON n.n_regionkey = r.r_regionkey
          UNION ALL SELECT 'coverage:doc_without_embedding', count(*) FROM (SELECT * FROM documents WHERE doc_id IS NOT NULL) d ANTI JOIN embeddings e ON d.doc_id = e.vec_id
          UNION ALL SELECT 'coverage:embedding_without_doc', count(*) FROM (SELECT * FROM embeddings WHERE vec_id IS NOT NULL) e ANTI JOIN documents d ON e.vec_id = d.doc_id
        ) ORDER BY "check""""),
      doc = "data-contract audit: key uniqueness, FK integrity, and " +
        "doc/embedding coverage across the warehouse"),

    // Bucketed co-located fact join — the storage-layout half of the
    // shuffle-minimization story the rest of the suite does with
    // broadcasts and AQE: both fact tables are materialized BUCKETED (and
    // bucket-sorted) on the join key, so the orderkey join runs with NO
    // exchange on either side — the layout investment every warehouse
    // makes once so that the dominant join key never shuffles again. At
    // 100 TB this is the difference between re-shuffling both fact tables
    // per query and reading co-located buckets in place (plus bucket
    // pruning on key-equality filters for free). The write is part of
    // the operator — it IS the one-time layout cost being amortized;
    // PlanSpec proves the join subtree is exchange-free while the
    // unbucketed twin (q03) shuffles both sides. Result = q03's law, so
    // the oracle also proves layout doesn't change semantics.
    "q151_bucketed_join" -> Q(
      run = (s, d) => {
        val (ot, lt) = bucketedLayout(s, d)
        s.table(ot)
          .join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(
            count(lit(1)).as("line_count"),
            moneySum(col("l_extendedprice")).as("revenue"))
          .orderBy("o_orderpriority")
      },
      oracle = Some("""
        SELECT o_orderpriority, count(*) AS line_count,
               (CAST(CAST(ROUND(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      doc = "bucketed co-located fact join: both sides bucket-sorted on " +
        "the join key, exchange-free join subtree (q03's law over a " +
        "bucketed layout)"),

    // Z-order layout curve — the multi-dimensional data-skipping layout
    // (Delta/Iceberg OPTIMIZE ZORDER BY): q151's bucketing serves ONE
    // join key; Z-ordering interleaves the bits of TWO normalized keys so
    // rows sorted by the curve are local in BOTH dimensions at once, and
    // file-level min/max stats prune on either predicate. The query
    // computes the exact integer curve (range-normalize each key to 16
    // bits off the table's own min/max, interleave via a fold — all
    // engine-replayable arithmetic) and reports the top-4-bit curve
    // buckets (a 4×4 grid) with each bucket's span in BOTH dimensions —
    // the locality evidence: every bucket covers ~¼ of each key range,
    // where a single-column sort bounds one dimension and leaves the
    // other full-width (PlanSpec-style proof in the spec). 100 TB shape:
    // min/max is one map-side-combined agg broadcast as 4 scalars; the
    // curve is a narrow projection; the bucket rollup is a 16-group agg.
    "q153_zorder_layout" -> Q(
      run = (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        val bounds = li.agg(min(col("o")).as("omin"), max(col("o")).as("omax"),
          min(col("p")).as("pmin"), max(col("p")).as("pmax"))
        li.crossJoin(broadcast(bounds))
          .withColumn("on16",
            expr("CASE WHEN omax > omin THEN (o - omin) * 65535 DIV (omax - omin) ELSE 0 END"))
          .withColumn("pn16",
            expr("CASE WHEN pmax > pmin THEN (p - pmin) * 65535 DIV (pmax - pmin) ELSE 0 END"))
          // bit-spread interleave (the classic magic-mask identity) instead
          // of a 16-step HOF fold: the fold ran interpreted per element and
          // cost ~10s at sf0.1; these stay inside whole-stage codegen
          .withColumn("zo", expr("(on16 | shiftleft(on16, 8)) & 16711935"))
          .withColumn("zo", expr("(zo | shiftleft(zo, 4)) & 252645135"))
          .withColumn("zo", expr("(zo | shiftleft(zo, 2)) & 858993459"))
          .withColumn("zo", expr("(zo | shiftleft(zo, 1)) & 1431655765"))
          .withColumn("zp", expr("(pn16 | shiftleft(pn16, 8)) & 16711935"))
          .withColumn("zp", expr("(zp | shiftleft(zp, 4)) & 252645135"))
          .withColumn("zp", expr("(zp | shiftleft(zp, 2)) & 858993459"))
          .withColumn("zp", expr("(zp | shiftleft(zp, 1)) & 1431655765"))
          .withColumn("z", expr("zo | shiftleft(zp, 1)"))
          .withColumn("bucket", expr("z DIV 268435456")) // top 4 of 32 bits
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"),
            min(col("o")).as("o_min"), max(col("o")).as("o_max"),
            min(col("p")).as("p_min"), max(col("p")).as("p_max"))
          .orderBy("bucket")
      },
      oracle = Some("""
        WITH li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
        b AS (SELECT min(o) AS omin, max(o) AS omax,
                     min(p) AS pmin, max(p) AS pmax FROM li),
        nz AS (
          SELECT o, p,
                 CASE WHEN omax > omin THEN (o - omin) * 65535 // (omax - omin) ELSE 0 END AS on16,
                 CASE WHEN pmax > pmin THEN (p - pmin) * 65535 // (pmax - pmin) ELSE 0 END AS pn16
          FROM li CROSS JOIN b),
        z1 AS (
          SELECT o, p, (on16 | (on16 << 8)) & 16711935 AS zo,
                       (pn16 | (pn16 << 8)) & 16711935 AS zp FROM nz),
        z2 AS (SELECT o, p, (zo | (zo << 4)) & 252645135 AS zo,
                            (zp | (zp << 4)) & 252645135 AS zp FROM z1),
        z3 AS (SELECT o, p, (zo | (zo << 2)) & 858993459 AS zo,
                            (zp | (zp << 2)) & 858993459 AS zp FROM z2),
        z4 AS (SELECT o, p, (zo | (zo << 1)) & 1431655765 AS zo,
                            (zp | (zp << 1)) & 1431655765 AS zp FROM z3),
        zc AS (SELECT o, p, zo | (zp << 1) AS z FROM z4)
        SELECT z // 268435456 AS bucket, count(*) AS n,
               min(o) AS o_min, max(o) AS o_max,
               min(p) AS p_min, max(p) AS p_max
        FROM zc GROUP BY 1 ORDER BY bucket"""),
      doc = "Z-order curve layout: exact integer bit-interleave of two " +
        "range-normalized keys, per-curve-bucket spans in both dimensions"),

    // Column statistics profile — the ANALYZE TABLE surface (null counts,
    // exact NDV, value range per column) that feeds cost-based planning
    // and data-quality monitoring; q143 audits CONTRACTS, this profiles
    // DISTRIBUTIONS. Exact NDV per column so the oracle replays it (the
    // approximate path at 100 TB is q54's HLL — this is its exact twin,
    // and Spark's expand-based multi-distinct is one logical pass).
    // Numeric/key columns of the fact table; ranges surfaced as DOUBLE
    // (exact for the integer-valued fixture domain).
    "q154_column_profile" -> Q(
      run = (s, d) => {
        val li = Tables.lineitem(s, d)
        val cols = Seq("l_orderkey", "l_partkey", "l_suppkey",
          "l_linenumber", "l_quantity", "l_discount", "l_tax")
        cols.map { c =>
          li.agg(
            count(lit(1)).as("n_rows"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
            countDistinct(col(c)).as("n_distinct"),
            min(col(c)).cast("double").as("v_min"),
            max(col(c)).cast("double").as("v_max"))
            .select(lit(c).as("column"), col("n_rows"),
              coalesce(col("n_nulls"), lit(0L)).as("n_nulls"),
              col("n_distinct"), col("v_min"), col("v_max"))
        }.reduce(_ unionByName _).orderBy("column")
      },
      oracle = Some("""
        SELECT * FROM (
          SELECT 'l_orderkey' AS "column", count(*) AS n_rows,
                 CAST(COALESCE(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_nulls,
                 count(DISTINCT l_orderkey) AS n_distinct,
                 CAST(min(l_orderkey) AS DOUBLE) AS v_min, CAST(max(l_orderkey) AS DOUBLE) AS v_max
          FROM lineitem
          UNION ALL SELECT 'l_partkey', count(*),
                 CAST(COALESCE(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
                 count(DISTINCT l_partkey),
                 CAST(min(l_partkey) AS DOUBLE), CAST(max(l_partkey) AS DOUBLE) FROM lineitem
          UNION ALL SELECT 'l_suppkey', count(*),
                 CAST(COALESCE(sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
                 count(DISTINCT l_suppkey),
                 CAST(min(l_suppkey) AS DOUBLE), CAST(max(l_suppkey) AS DOUBLE) FROM lineitem
          UNION ALL SELECT 'l_linenumber', count(*),
                 CAST(COALESCE(sum(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
                 count(DISTINCT l_linenumber),
                 CAST(min(l_linenumber) AS DOUBLE), CAST(max(l_linenumber) AS DOUBLE) FROM lineitem
          UNION ALL SELECT 'l_quantity', count(*),
                 CAST(COALESCE(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
                 count(DISTINCT l_quantity),
                 CAST(min(l_quantity) AS DOUBLE), CAST(max(l_quantity) AS DOUBLE) FROM lineitem
          UNION ALL SELECT 'l_discount', count(*),
                 CAST(COALESCE(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
                 count(DISTINCT l_discount),
                 CAST(min(l_discount) AS DOUBLE), CAST(max(l_discount) AS DOUBLE) FROM lineitem
          UNION ALL SELECT 'l_tax', count(*),
                 CAST(COALESCE(sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
                 count(DISTINCT l_tax),
                 CAST(min(l_tax) AS DOUBLE), CAST(max(l_tax) AS DOUBLE) FROM lineitem
        ) ORDER BY "column""""),
      doc = "column statistics profile: nulls, exact NDV, value range per " +
        "fact-table column (the ANALYZE surface; q54's HLL is the " +
        "approximate path at scale)"),

    // Consistent cross-table sampling — how a dev/test dataset is cut from
    // a 100 TB warehouse WITHOUT breaking referential integrity: sampling
    // each table independently orphans ~90% of child rows, so the sample
    // decision is a deterministic hash of the PARENT key (orders whose
    // o_orderkey mod-10 bucket is 0) and children follow their parent —
    // the q85 hash-split discipline applied across an FK edge. Reports
    // the sampled row counts and the per-priority distribution of the
    // sample vs the full table in ppm (the fidelity check that the
    // hash sample is unbiased). Shapes: the child side follows via a
    // key-bucket FILTER (no join needed — the child carries the parent
    // key), aggregation map-side combined.
    "q155_consistent_sample" -> Q(
      run = (s, d) => {
        val keep = (k: Column) => pmod(k, lit(10L)) === 0
        val so = Tables.orders(s, d).filter(keep(col("o_orderkey")))
        val sl = Tables.lineitem(s, d).filter(keep(col("l_orderkey")))
        val counts = so.agg(count(lit(1)).as("n_orders"))
          .crossJoin(broadcast(sl.agg(count(lit(1)).as("n_lineitems"))))
        val fullP = Tables.orders(s, d).groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_full"))
        val sampP = so.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_samp"))
        val ft = Tables.orders(s, d).agg(count(lit(1)).as("t_full"))
        fullP.join(sampP, Seq("o_orderpriority"), "left")
          .withColumn("n_samp", coalesce(col("n_samp"), lit(0L)))
          .crossJoin(broadcast(ft))
          .crossJoin(broadcast(counts))
          .select(col("o_orderpriority"),
            col("n_orders"), col("n_lineitems"),
            col("n_full"), col("n_samp"),
            expr("n_full * 1000000 DIV t_full").as("full_ppm"),
            expr("CASE WHEN n_orders > 0 THEN n_samp * 1000000 DIV n_orders ELSE 0 END")
              .as("samp_ppm"))
          .orderBy("o_orderpriority")
      },
      oracle = Some("""
        WITH so AS (SELECT * FROM orders WHERE o_orderkey % 10 = 0),
        sl AS (SELECT * FROM lineitem WHERE l_orderkey % 10 = 0),
        c AS (SELECT (SELECT count(*) FROM so) AS n_orders,
                     (SELECT count(*) FROM sl) AS n_lineitems,
                     (SELECT count(*) FROM orders) AS t_full),
        fp AS (SELECT o_orderpriority, count(*) AS n_full FROM orders GROUP BY 1),
        sp AS (SELECT o_orderpriority, count(*) AS n_samp FROM so GROUP BY 1)
        SELECT fp.o_orderpriority,
               CAST(c.n_orders AS BIGINT) AS n_orders,
               CAST(c.n_lineitems AS BIGINT) AS n_lineitems,
               CAST(fp.n_full AS BIGINT) AS n_full,
               CAST(coalesce(sp.n_samp, 0) AS BIGINT) AS n_samp,
               CAST(fp.n_full * 1000000 // c.t_full AS BIGINT) AS full_ppm,
               CAST(CASE WHEN c.n_orders > 0
                    THEN coalesce(sp.n_samp, 0) * 1000000 // c.n_orders
                    ELSE 0 END AS BIGINT) AS samp_ppm
        FROM fp LEFT JOIN sp USING (o_orderpriority) CROSS JOIN c
        ORDER BY o_orderpriority"""),
      doc = "consistent cross-table hash sample (children follow the " +
        "parent key): counts + per-priority sample-fidelity in ppm"),

    // Composed multi-block analysis — the TPC-H-complexity finale that
    // stitches the engine's machinery into ONE statement: per nation,
    // revenue from the orders of its top-decile-balance customers, split
    // by whether each line clears the GLOBAL p95 price. Blocks: (1) the
    // global p95 via distributed totalRank (range-partitioned rank, the
    // 1-row scalar broadcast-crossJoined back into the plan); (2)
    // per-nation top-decile customers via the grouped-rank machinery
    // (groupedPrefixSum — no nation-capped window) with the exact
    // ceil(n/10) cut; (3) the
    // dims broadcast into the customer→orders→lineitem join chain;
    // (4) decimal-exact conditional money aggregation. Every block is a
    // pattern proven elsewhere in the suite — this query proves they
    // COMPOSE, which is what a real analytical workload does.
    "q168_premium_analysis" -> Q(
      run = (s, d) => {
        // (1) global p95 of line price, exact rank law, no global window.
        // The scalar stays IN the plan as a 1-row broadcast crossJoin
        // instead of a driver .collect()(0): the query remains one lazy
        // plan past the rank, an empty lineitem yields an empty result
        // (matching the oracle's CROSS JOIN p95) instead of an
        // IndexOutOfBounds at the collect, and the cast("double") makes
        // the comparison type explicit rather than assuming the physical
        // column type
        // r17: ranksByTotalOrder instead of totalRank + filter — only the
        // ONE partition holding rank ceil(0.95·n) is ranked, not all P
        // (guide §1.2: don't rank the whole table to keep one row).
        // r18 (guide §2.3 project before the exchange): rank by price
        // ALONE — ties rank arbitrarily among themselves, but the picked
        // VALUE at any rank inside a tie run is the tied value itself
        // (q157's law), so the p95 scalar is deterministic and equals the
        // (price, orderkey, linenumber)-ordered pick. The ranged table
        // carries ONE column instead of three, and the outer checkpoint
        // the 3-column form needed is gone — the range sampler re-reads a
        // single-column pushed-down parquet scan instead of re-hashing a
        // materialized projection.
        val (picked, _) = graft.operators.Operators.ranksByTotalOrder(
          Tables.lineitem(s, d).select(col("l_extendedprice").as("price")),
          "price", Seq.empty,
          n => Seq(math.ceil(0.95 * n).toLong), "rnk")
        val p95df = picked.select(col("price").cast("double").as("__p95"))
        // (2) per-nation top-decile customers by account balance — the
        // grouped-rank machinery (groupedPrefixSum of 1 = in-group rank),
        // NOT a row_number window partitioned by c_nationkey alone: nation
        // cardinality caps that window at 25-way parallelism no matter the
        // per-nation customer volume (the q108 mega-group lesson, same
        // swap q144/q161 made). Per-nation totals are a |nations|-row
        // table riding a broadcast.
        // r18 (guide §1.2): membership in the top decile is decided by a
        // per-nation THRESHOLD — the ceil(0.1·nc)-th (acctbal desc,
        // custkey) row, found by groupedRankPicks (only the slices holding
        // that one rank are ranked) and broadcast back over the raw scan —
        // instead of ranking EVERY customer through the gPS window
        // exchange. (c_acctbal, c_custkey) is unique (custkey is), so
        // "above or equal to the threshold row" is exactly r ≤ ceil(0.1·nc).
        // nc itself comes free from the pick probe's slice counts, so the
        // separate per-nation count aggregation is gone too.
        val cust = Tables.customer(s, d).select(col("c_custkey"),
          col("c_nationkey"), col("c_acctbal"),
          col("c_nationkey").cast("string").as("__nk"))
        val thr = graft.operators.Operators.groupedRankPicks(
          cust, "__nk", Seq(col("c_acctbal").desc, col("c_custkey")),
          nc => Seq(math.ceil(0.1 * nc).toLong), "r")
          .select(col("__nk"), col("c_acctbal").as("__tb"),
            col("c_custkey").as("__tk"))
        val topCust = cust.join(broadcast(thr), Seq("__nk"))
          .filter(col("c_acctbal") > col("__tb")
            || (col("c_acctbal") === col("__tb")
              && col("c_custkey") <= col("__tk")))
          .select(col("c_custkey"), col("c_nationkey"))
        // (3) join chain, dims broadcast
        val joined = topCust
          .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
          .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
        // (4) decimal-exact conditional revenue split at the p95 line.
        // r18 (guide §2.3 "aggregate before you shuffle"): the two
        // countDistinct aggregates planned an Expand — every join-output
        // row tripled through the aggregation exchange (one replica per
        // distinct group). The same counts CASCADE exactly instead:
        // orderkey is unique per order row and custkey functional on it,
        // so per-(nation, custkey, orderkey) sums → per-(nation, custkey)
        // order counts → per-nation customer counts reproduce both
        // distinct counts with three shrinking map-side-combined hash
        // aggregates and no row multiplication; the decimal sums merge
        // associatively through the cascade.
        joined
          .crossJoin(broadcast(p95df))
          .withColumn("premium", col("l_extendedprice") > col("__p95"))
          .groupBy(col("n_name"), col("c_custkey"), col("o_orderkey"))
          .agg(
            sum(when(col("premium"),
              dec(col("l_extendedprice"))).otherwise(lit(0).cast("decimal(18,6)")))
              .as("__rp"),
            sum(when(!col("premium"),
              dec(col("l_extendedprice"))).otherwise(lit(0).cast("decimal(18,6)")))
              .as("__rr"))
          .groupBy(col("n_name"), col("c_custkey"))
          .agg(count(lit(1)).as("__no"),
            sum(col("__rp")).as("__rp"), sum(col("__rr")).as("__rr"))
          .groupBy(col("n_name"))
          .agg(
            count(lit(1)).as("n_top_customers"),
            sum(col("__no")).as("n_orders"),
            graft.MoneyOut.col(sum(col("__rp"))).as("revenue_premium"),
            graft.MoneyOut.col(sum(col("__rr"))).as("revenue_regular"))
          .orderBy("n_name")
      },
      oracle = Some("""
        WITH pr AS (
          SELECT l_extendedprice AS price,
                 row_number() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rnk,
                 count(*) OVER () AS n
          FROM lineitem),
        p95 AS (SELECT price FROM pr WHERE rnk = CAST(ceil(0.95 * n) AS BIGINT)),
        tc AS (
          SELECT c_custkey, c_nationkey FROM (
            SELECT c_custkey, c_nationkey,
                   row_number() OVER (PARTITION BY c_nationkey
                     ORDER BY c_acctbal DESC, c_custkey) AS r,
                   count(*) OVER (PARTITION BY c_nationkey) AS nc
            FROM customer) t
          WHERE r <= CAST(ceil(0.1 * nc) AS BIGINT))
        SELECT n.n_name,
               count(DISTINCT tc.c_custkey) AS n_top_customers,
               count(DISTINCT o.o_orderkey) AS n_orders,
               (CAST(CAST(ROUND(sum(CASE WHEN l.l_extendedprice > p95.price THEN CAST(l.l_extendedprice AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END), 2) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS revenue_premium,
               (CAST(CAST(ROUND(sum(CASE WHEN l.l_extendedprice > p95.price THEN CAST(0 AS DECIMAL(18,6)) ELSE CAST(l.l_extendedprice AS DECIMAL(18,6)) END), 2) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS revenue_regular
        FROM tc
        JOIN orders o ON tc.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        JOIN nation n ON tc.c_nationkey = n.n_nationkey
        CROSS JOIN p95
        GROUP BY n.n_name ORDER BY n.n_name"""),
      doc = "composed multi-block analysis: per-nation revenue of " +
        "top-decile customers split at the global p95 line price " +
        "(totalRank + grouped rank + broadcast dims + decimal money)")
  )
}

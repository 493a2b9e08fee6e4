package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.{CleanFunctions => CF, HtmlFunctions => HF}

/** The reference's lead-ETL surface as oracle-gated queries: synthesize dirty
  * lead fields / detail-page HTML deterministically from `customer`, then run
  * the real cleaning and extraction operators over them.
  *
  * The dirty-data constructors are ANSI SQL fragments passed to Spark via
  * expr() AND pasted verbatim into the DuckDB oracle — input parity is by
  * construction, so the oracle genuinely tests the cleaning/extraction
  * semantics (F1-F10, H1-H10, J1/J2, K7 read side, S1).
  */
object EtlOps {

  /** Per-JVM scratch root for the sink round-trip queries (q101/q102/
    * q195): unique per process (no cross-process overwrite races or /tmp
    * ownership clashes between concurrent graft JVMs), handed out as
    * per-invocation generation subdirs by [[scratchDir]] (keep-2
    * retention), and removed on exit. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      graft.streaming.StreamOps.deleteTree(p)))
    p
  }
  // generation counters + live dirs per scratch name (keep-2 retention)
  private val scratchGen =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private val scratchLive = new java.util.HashMap[String, java.util.ArrayDeque[java.nio.file.Path]]()

  /** A FRESH per-invocation subdir for `name`, with keep-2 retention: a
    * shared fixed path under mode-overwrite would let one thread's rewrite
    * delete part files a sibling thread's read plan already listed (the
    * intra-JVM race the per-process scratchRoot can't cover). Generation
    * N-1 stays on disk while N is written; N-2 is deleted here, so disk
    * stays bounded at two generations per name per live JVM. */
  private[queries] def scratchDir(name: String): String = synchronized {
    val gen = scratchGen.computeIfAbsent(name,
      _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
    val p = scratchRoot.resolve(s"${name}_g$gen")
    val dq = scratchLive.computeIfAbsent(name,
      _ => new java.util.ArrayDeque[java.nio.file.Path]())
    dq.addLast(p)
    while (dq.size() > 2) graft.streaming.StreamOps.deleteTree(dq.removeFirst())
    p.toString
  }

  /** 10 deterministic digits per customer (phone raw material). */
  private val digits10 = "lpad(CAST(c_custkey AS STRING), 10, '3')"

  /** Dirty constructors — ANSI fragments valid in Spark SQL and DuckDB. */
  private val rawName =
    s"'  ' || replace(c_name, '#', ' # ') || '   '"
  private val rawPhone = s"""CASE CAST(c_custkey % 4 AS INT)
      WHEN 0 THEN '(' || substr($digits10, 1, 3) || ') ' || substr($digits10, 4, 3) || '-' || substr($digits10, 7)
      WHEN 1 THEN '5' || $digits10
      WHEN 2 THEN '12345'
      ELSE $digits10 || ', 999' END"""
  private val rawEmail = s"""CASE CAST(c_custkey % 3 AS INT)
      WHEN 0 THEN lower(replace(replace(c_name, '#', ''), ' ', '')) || '@example.com'
      WHEN 1 THEN 'not-an-email'
      ELSE 'N/A' END"""
  private val rawSocial = s"""CASE WHEN c_custkey % 5 = 0
      THEN 'https://guiacores.com.ar/self'
      ELSE 'https://instagram.com/biz' || CAST(c_custkey AS STRING) END"""
  private val rawAddress = s"c_name || ' 123 - Zona ' || c_mktsegment"

  /** DuckDB mirror of CF.normalizePhone on an already-trimmed token `p`. */
  private def sqlNormPhone(p: String): String = s"""(
    CASE WHEN length(regexp_replace($p, '[^0-9]', '', 'g')) < 10 THEN NULL
         WHEN length(regexp_replace($p, '[^0-9]', '', 'g')) = 10 THEN
           substr(regexp_replace($p, '[^0-9]', '', 'g'), 1, 3) || '-' ||
           substr(regexp_replace($p, '[^0-9]', '', 'g'), 4, 4) || '-' ||
           substr(regexp_replace($p, '[^0-9]', '', 'g'), 8, 3)
         WHEN length(regexp_replace($p, '[^0-9]', '', 'g')) = 11 THEN
           substr(regexp_replace($p, '[^0-9]', '', 'g'), 1, 2) || '-' ||
           substr(regexp_replace($p, '[^0-9]', '', 'g'), 3, 3) || '-' ||
           substr(regexp_replace($p, '[^0-9]', '', 'g'), 6, 3) || '-' ||
           substr(regexp_replace($p, '[^0-9]', '', 'g'), 9, 3)
         ELSE regexp_replace($p, '[^0-9]', '', 'g') END)"""

  val qs: Map[String, Q] = Map(

    // The reference's Clean stage (BusinessTransformer + DataCleaner +
    // tools/clean_data) end-to-end: N/A algebra, text/phone/email/social/
    // address cleaning, sentinel egress.
    "q45_clean_leads" -> Q(
      run = (s, d) => Tables.customer(s, d)
        .withColumn("raw_name", expr(rawName))
        .withColumn("raw_phone", expr(rawPhone))
        .withColumn("raw_email", expr(rawEmail))
        .withColumn("raw_social", expr(rawSocial))
        .withColumn("raw_address", expr(rawAddress))
        .withColumn("addr", CF.addressParts(col("raw_address")))
        .select(
          col("c_custkey").as("id_negocio"),
          CF.nullToNa(CF.cleanText(col("raw_name"))).as("nombre"),
          CF.phonesToString(CF.cleanPhones(col("raw_phone"))).as("telefonos"),
          CF.nullToNa(CF.validEmail(CF.naToNull(col("raw_email")))).as("email"),
          CF.nullToNa(CF.cleanSocial(col("raw_social"))).as("instagram"),
          CF.nullToNa(col("addr.direccion")).as("direccion"),
          CF.nullToNa(col("addr.localidad")).as("localidad"))
        .orderBy("id_negocio"),
      oracle = Some(s"""
        WITH raw AS (
          SELECT c_custkey,
                 $rawName AS raw_name,
                 $rawPhone AS raw_phone,
                 $rawEmail AS raw_email,
                 $rawSocial AS raw_social,
                 $rawAddress AS raw_address
          FROM customer),
        cleaned AS (
          SELECT c_custkey AS id_negocio,
                 trim(regexp_replace(raw_name, '${CF.DuckWs}+', ' ', 'g')) AS nombre,
                 list_filter(list_transform(string_split(raw_phone, ','),
                   p -> ${sqlNormPhone("trim(p)")}), x -> x IS NOT NULL) AS phones,
                 CASE WHEN raw_email IS NULL
                        OR trim(regexp_replace(raw_email, '${CF.DuckWs}+', ' ', 'g')) = ''
                        OR raw_email = 'N/A' THEN NULL
                      WHEN regexp_matches(raw_email, '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$$')
                      THEN raw_email ELSE NULL END AS email,
                 CASE WHEN lower(raw_social) LIKE '%guiacores%' THEN NULL
                      ELSE raw_social END AS instagram,
                 CASE WHEN len(string_split(raw_address, ' - ')) <= 1 THEN raw_address
                      ELSE array_to_string(string_split(raw_address, ' - ')[1:-2], ' - ')
                 END AS direccion,
                 CASE WHEN len(string_split(raw_address, ' - ')) <= 1 THEN NULL
                      ELSE string_split(raw_address, ' - ')[-1] END AS localidad
          FROM raw)
        SELECT id_negocio, nombre,
               CASE WHEN len(list_distinct(phones)) = 0 THEN 'N/A'
                    ELSE array_to_string(list_distinct(phones), ', ') END AS telefonos,
               COALESCE(email, 'N/A') AS email,
               COALESCE(instagram, 'N/A') AS instagram,
               COALESCE(direccion, 'N/A') AS direccion,
               COALESCE(localidad, 'N/A') AS localidad
        FROM cleaned ORDER BY id_negocio"""),
      doc = "lead Clean stage: N/A algebra + F1/F2/F3/F6/F9/F10 end-to-end"),

    // The Extract stage (H1-H9): canonical detail-page HTML → typed fields.
    "q46_html_leads" -> Q(
      run = (s, d) => {
        val htmlSql = s"""
          '<html><body><h1 class="business-name">' || c_name || '</h1>' ||
          '<span class="address">' || $rawAddress || '</span>' ||
          CASE WHEN c_custkey % 2 = 0
               THEN '<a href="tel:' || $digits10 || '">call</a><a href="tel:+54 11 ' || $digits10 || '">alt</a>'
               ELSE '' END ||
          CASE WHEN c_custkey % 3 = 0
               THEN '<a href="https://wa.me/549335577?phone=549' || $digits10 || '">wa</a>'
               ELSE '' END ||
          CASE WHEN c_custkey % 3 = 1
               THEN '<a href="mailto:biz' || CAST(c_custkey AS STRING) || '@mail.com">m</a>'
               ELSE '' END ||
          '<a itemprop="url" href="https://biz' || CAST(c_custkey AS STRING) || '.example.com">w</a>' ||
          '<a href="https://instagram.com/biz' || CAST(c_custkey AS STRING) || '">ig</a>' ||
          '<span class="horarios">Abierto  Lun-Vie 9-18</span>' ||
          '<div class="map" data-lat="-31.' || CAST(c_custkey % 1000 AS STRING) || '" data-lng="-60.5"></div>' ||
          '<a class="search-result-link">Cat' || CAST(c_custkey % 7 AS STRING) || '</a>' ||
          '<a class="search-result-link">General</a></body></html>'"""
        Tables.customer(s, d)
          .withColumn("html", expr(htmlSql))
          .select(
            col("c_custkey").as("id_negocio"),
            HF.htmlClassText(col("html"), "business-name").as("nombre"),
            concat_ws(", ", HF.htmlPhones(col("html"))).as("telefonos"),
            CF.nullToNa(HF.htmlWhatsapp(col("html"))).as("whatsapp"),
            CF.nullToNa(HF.htmlEmail(col("html"))).as("email"),
            HF.htmlWebsite(col("html")).as("sitio_web"),
            HF.htmlSocial(col("html"), "instagram.com").as("instagram"),
            HF.htmlHours(col("html")).as("horarios"),
            HF.htmlLat(col("html")).as("latitud"),
            HF.htmlLng(col("html")).as("longitud"),
            array_join(HF.htmlCategories(col("html")), ", ").as("rubros"))
          .orderBy("id_negocio")
      },
      oracle = Some(s"""
        WITH pages AS (
          SELECT c_custkey,
          '<html><body><h1 class="business-name">' || c_name || '</h1>' ||
          '<span class="address">' || $rawAddress || '</span>' ||
          CASE WHEN c_custkey % 2 = 0
               THEN '<a href="tel:' || $digits10 || '">call</a><a href="tel:+54 11 ' || $digits10 || '">alt</a>'
               ELSE '' END ||
          CASE WHEN c_custkey % 3 = 0
               THEN '<a href="https://wa.me/549335577?phone=549' || $digits10 || '">wa</a>'
               ELSE '' END ||
          CASE WHEN c_custkey % 3 = 1
               THEN '<a href="mailto:biz' || CAST(c_custkey AS STRING) || '@mail.com">m</a>'
               ELSE '' END ||
          '<a itemprop="url" href="https://biz' || CAST(c_custkey AS STRING) || '.example.com">w</a>' ||
          '<a href="https://instagram.com/biz' || CAST(c_custkey AS STRING) || '">ig</a>' ||
          '<span class="horarios">Abierto  Lun-Vie 9-18</span>' ||
          '<div class="map" data-lat="-31.' || CAST(c_custkey % 1000 AS STRING) || '" data-lng="-60.5"></div>' ||
          '<a class="search-result-link">Cat' || CAST(c_custkey % 7 AS STRING) || '</a>' ||
          '<a class="search-result-link">General</a></body></html>' AS html
          FROM customer)
        SELECT c_custkey AS id_negocio,
               nullif(regexp_extract(html, 'class="business-name"[^>]*>([^<]*)<', 1), '') AS nombre,
               COALESCE(array_to_string(regexp_extract_all(html, '<a href="tel:([^"]*)"', 1), ', '), '') AS telefonos,
               COALESCE(nullif(regexp_extract(
                 regexp_extract(html, '<a href="(https://wa\\.me/[^"]*)"', 1),
                 '[?&]phone=([^&]*)', 1), ''), 'N/A') AS whatsapp,
               COALESCE(nullif(regexp_extract(html, '<a href="mailto:([^"]*@[^"]*)"', 1), ''), 'N/A') AS email,
               nullif(regexp_extract(html, '<a itemprop="url" href="([^"]*)"', 1), '') AS sitio_web,
               nullif(regexp_extract(html, '<a href="(https?://(?:www\\.)?instagram\\.com[^"]*)"', 1), '') AS instagram,
               nullif(trim(regexp_replace(regexp_replace(
                 regexp_extract(html, '<span class="horarios">([^<]*)</span>', 1),
                 '\\b(Abierto|Cerrado)\\b', '', 'g'), '${CF.DuckWs}+', ' ', 'g')), '') AS horarios,
               CAST(regexp_extract(html, 'data-lat="([^"]*)"', 1) AS DOUBLE) AS latitud,
               CAST(regexp_extract(html, 'data-lng="([^"]*)"', 1) AS DOUBLE) AS longitud,
               array_to_string(regexp_extract_all(html, '<a class="search-result-link">([^<]*)</a>', 1), ', ') AS rubros
        FROM pages ORDER BY id_negocio"""),
      doc = "lead Extract stage: H1-H9 regex extraction over canonical pages"),

    // H10 UDTF shape: search-results page → exploded (id, url) rows, with
    // J1 anti-join against already-processed ids (the reference's resume).
    "q47_result_cards" -> Q(
      run = (s, d) => {
        val cardsSql = s"""
          '<div class="results">' ||
          '<div class="card-mobile gc-item" data-id="' || CAST(c_custkey * 20 AS STRING) || '" data-url="/d?id=' || CAST(c_custkey * 20 AS STRING) || '">' ||
          '<div class="card-mobile gc-item" data-id="' || CAST(c_custkey * 20 + 1 AS STRING) || '" data-url="/d?id=' || CAST(c_custkey * 20 + 1 AS STRING) || '">' ||
          '</div>'"""
        val exploded = Tables.customer(s, d)
          .withColumn("html", expr(cardsSql))
          .select(explode(HF.htmlResultCards(col("html"))).as("card"))
          .select(col("card.id_negocio"), col("card.url"))
        val processed = Tables.orders(s, d).select(col("o_orderkey").as("id_negocio")).distinct()
        exploded.join(processed, Seq("id_negocio"), "left_anti")
          .orderBy("id_negocio")
      },
      oracle = Some("""
        WITH cards AS (
          SELECT unnest([c_custkey * 20, c_custkey * 20 + 1]) AS id_negocio
          FROM customer)
        SELECT id_negocio, '/d?id=' || CAST(id_negocio AS VARCHAR) AS url
        FROM cards
        WHERE id_negocio NOT IN (SELECT o_orderkey FROM orders)
        ORDER BY id_negocio"""),
      doc = "H10 results-page explode + J1 processed-id anti-join"),

    // J2/K4 upsert: full-outer merge of an existing snapshot with an
    // incoming batch — incoming wins per column, provenance tracked.
    "q48_upsert_merge" -> Q(
      run = (s, d) => {
        val existing = Tables.orders(s, d)
          .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select(col("o_orderkey").as("k"), col("o_orderstatus").as("e_status"),
            col("o_totalprice").cast("decimal(18,6)").as("e_price"))
        val incoming = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-06-01").cast("timestamp"))
          .select(col("o_orderkey").as("k"), lit("U").as("i_status"),
            (col("o_totalprice").cast("decimal(18,6)") * 2).cast("decimal(18,6)").as("i_price"))
        existing.join(incoming, Seq("k"), "full_outer")
          .select(
            col("k").as("o_orderkey"),
            coalesce(col("i_status"), col("e_status")).as("status"),
            coalesce(col("i_price"), col("e_price")).cast("double").as("price"),
            when(col("i_status").isNotNull && col("e_status").isNotNull, "updated")
              .when(col("i_status").isNotNull, "inserted")
              .otherwise("kept").as("merge_action"))
          .orderBy("o_orderkey")
      },
      oracle = Some("""
        WITH existing AS (
          SELECT o_orderkey AS k, o_orderstatus AS e_status,
                 CAST(o_totalprice AS DECIMAL(18,6)) AS e_price
          FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'),
        incoming AS (
          SELECT o_orderkey AS k, 'U' AS i_status,
                 CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 2 AS DECIMAL(18,6)) AS i_price
          FROM orders WHERE o_orderdate >= TIMESTAMP '1996-06-01')
        SELECT COALESCE(e.k, i.k) AS o_orderkey,
               COALESCE(i_status, e_status) AS status,
               CAST(COALESCE(i_price, e_price) AS DOUBLE) AS price,
               CASE WHEN i_status IS NOT NULL AND e_status IS NOT NULL THEN 'updated'
                    WHEN i_status IS NOT NULL THEN 'inserted'
                    ELSE 'kept' END AS merge_action
        FROM existing e FULL OUTER JOIN incoming i ON e.k = i.k
        ORDER BY o_orderkey"""),
      doc = "K4 upsert as full-outer merge with provenance (ON CONFLICT DO UPDATE)"),

    // K7/A6/O2 snapshot retention: latest version per (customer, month),
    // then keep only the last 3 months per customer.
    "q49_snapshot_retention" -> Q(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // one exchange serves BOTH windows: hash(o_custkey) satisfies the
        // (o_custkey, month) clustering of the first window and the
        // (o_custkey) clustering of the second, so the explicit repartition
        // replaces two back-to-back window shuffles with one
        val versions = Tables.orders(s, d)
          .withColumn("month", date_trunc("month", col("o_orderdate")))
          .repartition(col("o_custkey"))
        val latestInMonth = Window.partitionBy(col("o_custkey"), col("month"))
          .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        val monthRank = Window.partitionBy(col("o_custkey"))
          .orderBy(col("month").desc)
        versions
          .withColumn("rn", row_number().over(latestInMonth)).filter(col("rn") === 1)
          .withColumn("month_rank", dense_rank().over(monthRank).cast("long"))
          .filter(col("month_rank") <= 3)
          .select(col("o_custkey"), col("month"), col("o_orderkey").as("version_key"),
            col("month_rank"))
          .orderBy("o_custkey", "month")
      },
      oracle = Some("""
        WITH versions AS (
          SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
                 o_orderkey, o_orderdate,
                 row_number() OVER (PARTITION BY o_custkey, date_trunc('month', o_orderdate)
                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders),
        latest AS (
          SELECT o_custkey, month, o_orderkey,
                 CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY month DESC) AS BIGINT) AS month_rank
          FROM versions WHERE rn = 1)
        SELECT o_custkey, month, o_orderkey AS version_key, month_rank
        FROM latest WHERE month_rank <= 3
        ORDER BY o_custkey, month"""),
      doc = "K7 versioned snapshots: latest-per-month + keep-last-N retention"),

    // S1 id-range worklist generation + J1 skip — the bulk collector.
    "q50_id_range_worklist" -> Q(
      run = (s, d) => {
        val ids = s.range(1, 3001).toDF("id_negocio")
        val processed = Tables.customer(s, d).select(col("c_custkey").as("id_negocio"))
        ids.join(processed, Seq("id_negocio"), "left_anti")
          .select(col("id_negocio"),
            concat(lit("https://www.guiacores.com.ar/index.php?r=search%2Fdetail&id="),
              col("id_negocio")).as("url"))
          .orderBy("id_negocio")
      },
      oracle = Some("""
        SELECT g.id AS id_negocio,
               'https://www.guiacores.com.ar/index.php?r=search%2Fdetail&id=' || CAST(g.id AS VARCHAR) AS url
        FROM (SELECT unnest(range(1, 3001)) AS id) g
        WHERE g.id NOT IN (SELECT c_custkey FROM customer)
        ORDER BY id_negocio"""),
      doc = "S1 range→URL worklist + J1 processed skip (bulk collector)"),

    // E1 per-record drop-on-error as try_* null algebra + validity filter,
    // plus F11 opportunistic coercion (digit string → long, bool strings).
    "q53_error_handling" -> Q(
      run = (s, d) => {
        val dirty = s"""CASE CAST(o_orderkey % 4 AS INT)
          WHEN 0 THEN CAST(o_orderkey AS STRING)
          WHEN 1 THEN 'x' || CAST(o_orderkey AS STRING)
          WHEN 2 THEN 'true'
          ELSE '' END"""
        val dirtyTs = s"""CASE WHEN o_orderkey % 3 = 0
          THEN '2024-01-15 10:3' || CAST(o_orderkey % 10 AS STRING) || ':00'
          ELSE 'not-a-timestamp' END"""
        Tables.orders(s, d)
          .withColumn("raw", expr(dirty))
          .withColumn("raw_ts", expr(dirtyTs))
          .select(
            col("o_orderkey"),
            CF.coerceLong(col("raw")).as("as_long"),
            CF.coerceBool(col("raw")).as("as_bool"),
            expr("try_divide(o_totalprice, CAST(o_orderkey % 10 AS DOUBLE))").as("ratio"),
            expr("try_to_timestamp(raw_ts, 'yyyy-MM-dd HH:mm:ss')").as("as_ts"))
          .withColumn("is_valid",
            col("as_long").isNotNull || col("as_bool").isNotNull)
          .orderBy("o_orderkey")
      },
      oracle = Some("""
        WITH dirty AS (
          SELECT o_orderkey, o_totalprice,
                 CASE CAST(o_orderkey % 4 AS INT)
                   WHEN 0 THEN CAST(o_orderkey AS VARCHAR)
                   WHEN 1 THEN 'x' || CAST(o_orderkey AS VARCHAR)
                   WHEN 2 THEN 'true'
                   ELSE '' END AS raw,
                 CASE WHEN o_orderkey % 3 = 0
                   THEN '2024-01-15 10:3' || CAST(o_orderkey % 10 AS VARCHAR) || ':00'
                   ELSE 'not-a-timestamp' END AS raw_ts
          FROM orders)
        SELECT o_orderkey,
               CASE WHEN regexp_matches(raw, '^[0-9]+$') THEN CAST(raw AS BIGINT) END AS as_long,
               CASE WHEN lower(raw) = 'true' THEN TRUE
                    WHEN lower(raw) = 'false' THEN FALSE END AS as_bool,
               CASE WHEN o_orderkey % 10 = 0 THEN NULL
                    ELSE o_totalprice / CAST(o_orderkey % 10 AS DOUBLE) END AS ratio,
               TRY_CAST(raw_ts AS TIMESTAMP) AS as_ts,
               (CASE WHEN regexp_matches(raw, '^[0-9]+$') THEN CAST(raw AS BIGINT) END IS NOT NULL
                OR CASE WHEN lower(raw) = 'true' THEN TRUE WHEN lower(raw) = 'false' THEN FALSE END IS NOT NULL) AS is_valid
        FROM dirty ORDER BY o_orderkey"""),
      doc = "E1 try_* null algebra + F11 coercion + validity filter"),

    // DSv2 crawl source (S4/S5): the directory as a TABLE whose scan serves
    // the search-form filters itself — rubro/has_email equality never
    // materializes a non-matching row, the id bound narrows the generated
    // range, and only projected columns are synthesized. The residual
    // (id % 7 = 0) stays with Spark, proving mixed evaluation. The oracle
    // regenerates the same deterministic directory from range().
    "q62_dsv2_pushdown" -> Q(
      run = (s, d) => s.read.format("graft.sources.DirectorySource")
        .option("start_id", 1).option("end_id", 5000)
        .load()
        .filter(col("rubro") === "Salud" && col("has_email") === true &&
          col("id") <= 4000 && col("id") % 7 === 0)
        .select(col("id"), col("nombre"), col("localidad"))
        .orderBy("id"),
      oracle = Some("""
        SELECT id, 'Negocio ' || CAST(id AS VARCHAR) AS nombre,
               (['Santa Fe','Rosario','Rafaela','Venado Tuerto','Reconquista','Esperanza'])[CAST((id*13) % 6 AS INT) + 1] AS localidad
        FROM range(1, 5001) AS t(id)
        WHERE (['Comercio','Salud','Gastronomia','Construccion','Educacion','Transporte','Agro','Servicios'])[CAST((id*7) % 8 AS INT) + 1] = 'Salud'
          AND id % 3 = 0 AND id <= 4000 AND id % 7 = 0
        ORDER BY id"""),
      doc = "DataSource V2 scan with filter pushdown, range narrowing, column pruning"),

    // Snapshot diff — the read-side complement of K7's versioned snapshots
    // (versioning.py keeps monthly copies precisely so consumers can answer
    // "what changed"): month-over-month customer activity classified as
    // new / retained / churned via a keys-only full-outer join. At 100 TB
    // each month is one partition of the snapshot table, the distinct
    // projections are partition-pruned scans, and the join carries only the
    // 8-byte key — never the payload.
    "q88_snapshot_diff" -> Q(
      run = (s, d) => {
        val o = Tables.orders(s, d)
        def monthKeys(from: String, until: String) = o
          .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
            col("o_orderdate") < lit(until).cast("timestamp"))
          .select(col("o_custkey")).distinct()
        val jan = monthKeys("1996-01-01", "1996-02-01").withColumn("in_jan", lit(1))
        val feb = monthKeys("1996-02-01", "1996-03-01").withColumn("in_feb", lit(1))
        jan.join(feb, Seq("o_custkey"), "full_outer")
          .select(
            when(col("in_jan").isNotNull && col("in_feb").isNotNull, "retained")
              .when(col("in_feb").isNotNull, "new")
              .otherwise("churned").as("status"))
          .groupBy(col("status"))
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("status")
      },
      oracle = Some("""
        WITH jan AS (
          SELECT DISTINCT o_custkey FROM orders
          WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-02-01'),
        feb AS (
          SELECT DISTINCT o_custkey FROM orders
          WHERE o_orderdate >= TIMESTAMP '1996-02-01' AND o_orderdate < TIMESTAMP '1996-03-01'),
        diff AS (
          SELECT CASE WHEN j.o_custkey IS NOT NULL AND f.o_custkey IS NOT NULL THEN 'retained'
                      WHEN f.o_custkey IS NOT NULL THEN 'new'
                      ELSE 'churned' END AS status
          FROM jan j FULL OUTER JOIN feb f ON j.o_custkey = f.o_custkey)
        SELECT status, count(*) AS n_customers
        FROM diff GROUP BY status ORDER BY status"""),
      doc = "month-over-month snapshot diff: new/retained/churned keys (K7 read side)"),

    // CSV sink→source round trip under the hash gate — the S9/K1 fidelity
    // proof. The oracle never sees the CSV: it computes the same aggregate
    // straight from parquet, so the gate passes ONLY if write→read is
    // lossless across the awkward axes: embedded delimiters and quotes
    // (quoted + escaped), nulls (empty-field sentinel, distinguished from
    // data), doubles (shortest-round-trip repr), and microsecond NTZ
    // timestamps (explicit format on both sides). Mirrors the reference's
    // CSV resume-state contract (/root/reference/src/common/utils.py
    // save_to_csv / read side) where a crashed run must re-read exactly
    // what it wrote. Scale shape: CSV write/read are narrow per-partition
    // streams; only the final summary aggregates.
    "q101_csv_roundtrip" -> Q(
      run = (s, d) => {
        // per-invocation scratch generation (see scratchDir): concurrent
        // JVMs never collide on a shared /tmp name, and a concurrent
        // invocation in THIS JVM never overwrites files this run reads
        val tmp = scratchDir("q101_csv_rt")
        val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
        Tables.orders(s, d)
          .select(
            col("o_orderkey"),
            when(pmod(col("o_orderkey"), lit(10)) === 0, lit(null))
              .otherwise(col("o_orderpriority")).as("prio"),
            concat(col("o_orderstatus"), lit(","), col("o_orderpriority"),
              lit(" \"q\"")).as("tricky"),
            col("o_totalprice"),
            col("o_orderdate"))
          .write.mode("overwrite")
          .option("header", "true").option("timestampNTZFormat", tsFmt)
          .csv(tmp)
        s.read
          .schema("o_orderkey BIGINT, prio STRING, tricky STRING, " +
            "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ")
          .option("header", "true").option("timestampNTZFormat", tsFmt)
          .csv(tmp)
          .groupBy(col("prio"))
          .agg(
            count(lit(1)).as("n"),
            graft.MoneyOut.col(sum(col("o_totalprice").cast("decimal(18,6)")))
              .as("total"),
            min(col("tricky")).as("min_tricky"),
            max(col("o_orderdate")).as("max_date"))
          .orderBy(col("prio").asc_nulls_first)
      },
      oracle = Some("""
        WITH src AS (
          SELECT CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_orderpriority END AS prio,
                 o_orderstatus || ',' || o_orderpriority || ' "q"' AS tricky,
                 o_totalprice, o_orderdate
          FROM orders)
        SELECT prio, count(*) AS n,
               (CAST(CAST(ROUND(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS total,
               min(tricky) AS min_tricky,
               max(o_orderdate) AS max_date
        FROM src GROUP BY prio ORDER BY prio NULLS FIRST"""),
      doc = "CSV sink->source round trip proven lossless by the parquet-side oracle"),

    // Hive-partitioned layout + partition-pruned scan — the layout decision
    // that matters most at 100 TB: data written partitioned by a low-
    // cardinality key means a filter on that key prunes DIRECTORIES, so the
    // scan never opens the other partitions' files (PlanSpec asserts the
    // PartitionFilters + a file-count ceiling). The oracle computes from the
    // unpartitioned table — the gate passes only if the partitioned
    // write→pruned read is value-faithful, including the key's round trip
    // through directory names (partition values are strings on disk; the
    // read schema restores the numeric type). K7's snapshot layout is this
    // same shape with a date key.
    "q102_partition_prune" -> Q(
      run = (s, d) => {
        // per-JVM scratch path (same rationale as q101)
        val tmp = scratchDir("q102_part")
        Tables.orders(s, d)
          .withColumn("order_month", month(col("o_orderdate")))
          // write clustering: co-locate each partition value before the
          // partitioned write, so every directory gets one compacted file
          // instead of one tiny file per upstream task (32× the files, and
          // at 100 TB the small-files problem that kills the downstream
          // scan's split planning)
          .repartition(col("order_month"))
          .write.mode("overwrite")
          .partitionBy("order_month")
          .parquet(tmp)
        s.read.parquet(tmp)
          .filter(col("order_month").isin(3, 4))
          .groupBy(col("order_month"), col("o_orderstatus"))
          .agg(
            count(lit(1)).as("n"),
            graft.MoneyOut.col(sum(col("o_totalprice").cast("decimal(18,6)")))
              .as("total"))
          .withColumn("order_month", col("order_month").cast("int"))
          .orderBy("order_month", "o_orderstatus")
      },
      oracle = Some("""
        SELECT CAST(month(o_orderdate) AS INT) AS order_month, o_orderstatus,
               count(*) AS n,
               (CAST(CAST(ROUND(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS total
        FROM orders
        WHERE month(o_orderdate) IN (3, 4)
        GROUP BY 1, 2 ORDER BY order_month, o_orderstatus"""),
      doc = "hive-partitioned write + partition-pruned scan (directory-level skipping)"),

    // Partition-SCHEME evolution read: generation A of the table was
    // written partitioned by year only; generation B (later writers)
    // by (year, month). A reader must see ONE table and prune each
    // generation as deeply as its own layout allows — year-level
    // directory skipping on A (the month predicate degrades to a data
    // filter there), year+month skipping on B. This is the lakehouse
    // partition-evolution read path (q162 evolves the SCHEMA, this
    // evolves the LAYOUT); the oracle replays from the raw table, so the
    // gate also proves the generation split never changes semantics.
    // Scale shape: both scans prune at the directory level before any
    // row is read; the union is a plan concat (zero shuffle); one
    // map-side-combined agg.
    "q195_partition_evolution" -> Q(
      run = (s, d) => {
        val tmpA = scratchDir("q195_gen_a")
        val tmpB = scratchDir("q195_gen_b")
        val base = Tables.orders(s, d)
          .withColumn("order_year", year(col("o_orderdate")))
          .withColumn("order_month", month(col("o_orderdate")))
        // write clustering on both generations (q102's rationale): gen B
        // would otherwise cut year×month dirs × 32 task files of a few KB
        base.filter(col("o_orderkey") % 2 === 0)
          .drop("order_month") // gen A predates the month column's layout
          .repartition(col("order_year"))
          .write.mode("overwrite").partitionBy("order_year").parquet(tmpA)
        base.filter(col("o_orderkey") % 2 === 1)
          .repartition(col("order_year"), col("order_month"))
          .write.mode("overwrite")
          .partitionBy("order_year", "order_month").parquet(tmpB)
        val genA = s.read.parquet(tmpA)
          .filter(col("order_year") === 2000
            && month(col("o_orderdate")).isin(3, 4))
          .withColumn("order_month", month(col("o_orderdate")))
        val genB = s.read.parquet(tmpB)
          .filter(col("order_year") === 2000
            && col("order_month").isin(3, 4))
        genA.select(col("order_month"), col("o_orderstatus"),
            col("o_totalprice"))
          .unionByName(genB.select(col("order_month"), col("o_orderstatus"),
            col("o_totalprice")))
          .groupBy(col("order_month"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            graft.MoneyOut.col(sum(col("o_totalprice").cast("decimal(18,6)")))
              .as("total"))
          .withColumn("order_month", col("order_month").cast("int"))
          .orderBy("order_month", "o_orderstatus")
      },
      oracle = Some("""
        SELECT CAST(month(o_orderdate) AS INT) AS order_month, o_orderstatus,
               count(*) AS n,
               (CAST(CAST(ROUND(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS total
        FROM orders
        WHERE year(o_orderdate) = 2000 AND month(o_orderdate) IN (3, 4)
        GROUP BY 1, 2 ORDER BY order_month, o_orderstatus"""),
      doc = "partition-scheme evolution read: year-partitioned gen A + " +
        "(year, month)-partitioned gen B as one table, each pruned as " +
        "deep as its layout allows — layout evolution never changes " +
        "semantics")
  )
}

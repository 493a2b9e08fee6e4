package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{CleanFunctions => CF, HtmlFunctions => HF, ReferenceHtml => RH}

/** The reference's four-stage lead pipeline (SURVEY §3) as composable
  * `DataFrame => DataFrame` transforms plus the write-path sinks
  * (K1/K4/K6/K7). Batch flow: collect → extract → clean → dedup → load;
  * each stage chains with `.transform(...)`.
  *
  * Scale design: the whole pipeline is one narrow lazy plan (no shuffle until
  * dedup), so Catalyst fuses collect+extract+clean into a single codegen
  * stage; dedup shuffles on the 8-byte id only; sinks are per-partition
  * writers.
  */
object LeadPipeline {

  /** Canonical Lead schema (SURVEY §1.4, bulk_scraper.py:86-104). */
  val leadSchema: StructType = StructType(Seq(
    StructField("id_negocio", LongType),
    StructField("url", StringType),
    StructField("fecha_extraccion", TimestampType),
    StructField("nombre", StringType),
    StructField("direccion", StringType),
    StructField("localidad", StringType),
    StructField("telefonos", ArrayType(StringType)),
    StructField("whatsapp", StringType),
    StructField("sitio_web", StringType),
    StructField("email", StringType),
    StructField("facebook", StringType),
    StructField("instagram", StringType),
    StructField("horarios", StringType),
    StructField("rubros", ArrayType(StringType)),
    StructField("descripcion", StringType),
    StructField("servicios", StringType),
    StructField("latitud", DoubleType),
    StructField("longitud", DoubleType)))

  /** S1 Collect: id range → detail-page URL worklist (bulk_collector.py:27-44). */
  def collect(spark: SparkSession, startId: Long, endId: Long,
      baseUrl: String = "https://www.guiacores.com.ar/index.php?r=search%2Fdetail&id="): DataFrame =
    spark.range(startId, endId + 1).toDF("id_negocio")
      .select(col("id_negocio"), concat(lit(baseUrl), col("id_negocio")).as("url"))

  /** H11 Extract: html column → typed lead fields (manual_scraper.py:80-180),
    * over the synthetic page markup that bulk, sequential and stage-extract
    * fetch. */
  def extract(pages: DataFrame): DataFrame =
    withAddress(pages.select(
      col("id_negocio"), col("url"),
      current_timestamp().as("fecha_extraccion"),
      HF.htmlClassText(col("html"), "business-name").as("nombre"),
      CF.addressParts(HF.htmlClassText(col("html"), "address")).as("addr"),
      HF.htmlPhones(col("html")).as("telefonos"),
      HF.htmlWhatsapp(col("html")).as("whatsapp"),
      HF.htmlWebsite(col("html")).as("sitio_web"),
      HF.htmlEmail(col("html")).as("email"),
      HF.htmlSocial(col("html"), "facebook.com").as("facebook"),
      HF.htmlSocial(col("html"), "instagram.com").as("instagram"),
      HF.htmlHours(col("html")).as("horarios"),
      HF.htmlCategories(col("html")).as("rubros"),
      HF.htmlClassText(col("html"), "description").as("descripcion"),
      lit(null).cast("string").as("servicios"),
      HF.htmlLat(col("html")).as("latitud"),
      HF.htmlLng(col("html")).as("longitud")))

  /** [[extract]] for the real Guia Cores detail markup (manual mode's local
    * files and live pages): the same columns in the same order, read by
    * the tolerant DOM extractor [[graft.functions.ReferenceHtml.leadRecord]]. */
  def extractReference(pages: DataFrame): DataFrame = {
    val r = RH.leadRecord(col("html"), col("id_negocio"), col("url"))
    def f(name: String) = r.getField(name).as(name)
    withAddress(pages.select(
      col("id_negocio"), col("url"),
      current_timestamp().as("fecha_extraccion"),
      f("nombre"), CF.addressParts(r.getField("direccion")).as("addr"),
      f("telefonos"), f("whatsapp"), f("sitio_web"), f("email"),
      f("facebook"), f("instagram"), f("horarios"), f("rubros"),
      f("descripcion"), lit(null).cast("string").as("servicios"),
      f("latitud"), f("longitud")))
  }

  /** F10: the `addr` struct split into `direccion` and `localidad`. */
  private def withAddress(df: DataFrame): DataFrame =
    df.withColumn("direccion", col("addr.direccion"))
      .withColumn("localidad", col("addr.localidad"))
      .drop("addr")

  /** Clean stage: F1-F10 over the extracted fields (BusinessTransformer). */
  def clean(leads: DataFrame): DataFrame =
    leads
      .withColumn("nombre", CF.cleanText(CF.naToNull(col("nombre"))))
      .withColumn("telefonos", CF.cleanPhoneArray(col("telefonos")))
      .withColumn("email", CF.validEmail(CF.naToNull(col("email"))))
      .withColumn("sitio_web", CF.normalizeUrl(CF.naToNull(col("sitio_web"))))
      .withColumn("facebook", CF.cleanSocial(col("facebook")))
      .withColumn("instagram", CF.cleanSocial(col("instagram")))
      .withColumn("horarios", CF.cleanHorarios(CF.naToNull(col("horarios"))))

  /** A2 Dedup: first-wins per id over an explicit arrival order (§7.4.2). */
  def dedup(leads: DataFrame, orderCol: String = "fecha_extraccion"): DataFrame =
    graft.operators.Operators.dedupFirstWins(
      leads, Seq("id_negocio"), Seq(col(orderCol), col("url")))

  /** Typed view of a cleaned lead DataFrame: compile-time field access for
    * per-entity logic (`Dataset[Lead]`, SURVEY §1.1). Columns are aligned to
    * the canonical schema order first, so any pipeline stage's output (which
    * may reorder columns) encodes correctly. */
  def typed(leads: DataFrame): org.apache.spark.sql.Dataset[Lead] =
    leads
      .select(leadSchema.fieldNames.map(col).toIndexedSeq: _*)
      .as[Lead](org.apache.spark.sql.Encoders.product[Lead])

  /** K1 CSV sink: header + egress sentinel restore + deterministic order. */
  def loadCsv(leads: DataFrame, path: String): Unit = {
    val ordered = leads.orderBy(col("id_negocio"))
    val stringified = ordered.schema.fields.foldLeft(ordered) { (df, f) =>
      f.dataType match {
        case ArrayType(_, _) =>
          df.withColumn(f.name,
            when(col(f.name).isNull || size(col(f.name)) === 0, lit(CF.NA))
              .otherwise(array_join(col(f.name), ", ")))
        case StringType => df.withColumn(f.name, CF.nullToNa(col(f.name)))
        case TimestampType => // reference egress format (F12, bulk_scraper.py:89)
          df.withColumn(f.name,
            CF.nullToNa(date_format(col(f.name), "yyyy-MM-dd HH:mm:ss")))
        case _ => // numeric columns: stringify so 'N/A' restores for missing
          df.withColumn(f.name, CF.nullToNa(col(f.name).cast(StringType)))
      }
    }
    // order on the ORIGINAL (numeric) id before stringification — ordering
    // the stringified column would sort ids lexicographically (2 > 10)
    stringified
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  }

  /** K7 versioned snapshot: monthly partitions, dynamic overwrite — re-running
    * a month replaces exactly that month (versioning.py:54-67). */
  def writeSnapshot(leads: DataFrame, path: String, monthCol: String = "fecha_extraccion"): Unit =
    leads
      .withColumn("snapshot_month", date_format(col(monthCol), "yyyy-MM"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("snapshot_month")
      .parquet(path)

  /** Crash-safe table swap: stage is renamed into place instead of
    * overwriting the live target (Overwrite deletes the target first, so a
    * crash mid-write would destroy it). rename is a metadata-only move on
    * posix/HDFS. A complete copy always survives: either at the target, or
    * — if a crash lands between the two renames — at `target__old`, which
    * [[recoverOld]] restores before the next upsert's existence probe (so
    * the window can never read as "no table" and rebuild from incoming
    * only). A failed stage rename restores the old table in-line. */
  private def swapIn(spark: SparkSession, staging: String, target: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (stg, tgt, old) = (new Path(staging), new Path(target), new Path(target + "__old"))
    try {
      if (fs.exists(old)) fs.delete(old, true)
      val hadOld = fs.exists(tgt) && fs.rename(tgt, old)
      if (!fs.rename(stg, tgt)) {
        if (hadOld) fs.rename(old, tgt) // restore the live table before failing
        throw new java.io.IOException(s"swapIn: rename $staging -> $target failed")
      }
      if (hadOld) fs.delete(old, true)
    } finally if (fs.exists(stg)) fs.delete(stg, true)
  }

  /** Crash recovery for [[swapIn]]'s rename window: a kill between its two
    * renames leaves the live table at `target__old` and nothing at the
    * target. Restore it; called by every target-existence probe. */
  private def recoverOld(fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path): Unit = {
    val old = new org.apache.hadoop.fs.Path(target.toString + "__old")
    if (!fs.exists(target) && fs.exists(old) && !fs.rename(old, target))
      throw new java.io.IOException(
        s"recoverOld: rename $old -> $target failed")
  }

  /** K4 upsert: MERGE semantics against a parquet target without a lakehouse
    * dep — full-outer merge, the incoming ROW wins (the reference's
    * `DO UPDATE SET c = EXCLUDED.c`, manual_scraper.py:241-295, and the
    * JdbcUpsert dialects): an incoming NULL field CLEARS the stored value,
    * which per-column coalesce would silently keep forever. The existence
    * probe is a filesystem check, never a swallowed read — a transient
    * read failure must abort the run, not silently rebuild the table from
    * the incoming batch alone. */
  def upsert(spark: SparkSession, incoming: DataFrame, targetPath: String, key: String): Unit = {
    val tgt = new org.apache.hadoop.fs.Path(targetPath)
    val fs = tgt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverOld(fs, tgt) // a swapIn killed mid-rename parks the table at __old
    val merged =
      if (!fs.exists(tgt)) incoming
      else {
        val existing = spark.read.parquet(targetPath)
        val cols = incoming.columns
        existing.alias("e")
          .join(incoming.alias("i"), col(s"e.$key") === col(s"i.$key"), "full_outer")
          .select(cols.toIndexedSeq.map(c =>
            when(col(s"i.$key").isNotNull, col(s"i.$c"))
              .otherwise(col(s"e.$c")).as(c)): _*)
      }
    // two-phase write: merge result must be materialized before replacing
    // the input path (Spark cannot read+overwrite the same location lazily);
    // the stage is then renamed in — one table write, no destructive window
    val tmp = targetPath + "__staging"
    merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    swapIn(spark, tmp, targetPath)
  }

  /** K4 upsert, scale form: the target is hash-bucket-partitioned on the
    * key, and a merge rewrites ONLY the partitions that contain incoming
    * keys (dynamic partition overwrite) — at 100 TB an upsert of 1% of keys
    * touches ~1% of the table instead of rewriting all of it. The same
    * full-outer-merge semantics as [[upsert]]; the bucket column is an
    * internal layout detail (`__bucket`), stripped on read. */
  def upsertPartitioned(spark: SparkSession, incoming: DataFrame,
      targetPath: String, key: String, buckets: Int = 64): Unit = {
    val withBucket = incoming.withColumn("__bucket",
      pmod(xxhash64(col(key)), lit(buckets.toLong)))
    // Hadoop FS existence, not java.io.File: hdfs://... and s3a://...
    // targets always read as "absent" through File, sending every
    // incremental upsert down the initial-write branch
    val tgtP = new org.apache.hadoop.fs.Path(targetPath)
    val exists = tgtP.getFileSystem(
      spark.sparkContext.hadoopConfiguration).exists(tgtP)
    if (!exists) {
      withBucket.write.partitionBy("__bucket").parquet(targetPath)
    } else {
      val affected = withBucket.select("__bucket").distinct()
        .collect().map(_.getLong(0)) // ≤ `buckets` values — driver-safe
      val existing = spark.read.parquet(targetPath)
        .filter(col("__bucket").isin(affected.toIndexedSeq: _*)) // partition-pruned scan
      val cols = incoming.columns
      // incoming ROW wins (EXCLUDED.c semantics, same as [[upsert]])
      val merged = existing.alias("e")
        .join(withBucket.alias("i"), col(s"e.$key") === col(s"i.$key"), "full_outer")
        .select((cols.map(c => when(col(s"i.$key").isNotNull, col(s"i.$c"))
            .otherwise(col(s"e.$c")).as(c)) :+
          coalesce(col("i.__bucket"), col("e.__bucket")).as("__bucket")).toIndexedSeq: _*)
      // staging is still required (can't read+overwrite the same partitions
      // lazily), but the overwrite is dynamic — only affected __bucket dirs
      // are replaced, at job commit — and staging is removed even on failure
      val tmp = targetPath + "__staging"
      val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
      try {
        merged.write.mode(SaveMode.Overwrite).parquet(tmp)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        spark.read.parquet(tmp).write.mode(SaveMode.Overwrite)
          .partitionBy("__bucket").parquet(targetPath)
      } finally {
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        val fs = new org.apache.hadoop.fs.Path(tmp)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      }
    }
  }

  /** Read side of [[upsertPartitioned]]: the table without layout columns. */
  def readPartitionedTarget(spark: SparkSession, targetPath: String): DataFrame =
    spark.read.parquet(targetPath).drop("__bucket")

  /** K5 run-audit log (reference scraping_log DDL,
    * manual_scraper.py:223-232,297-313): one appended row per run with the
    * session window, record count, status, and error. Parquet append — at
    * scale an audit table is partitioned by run date; readers aggregate it
    * for the A7/A8 run statistics. */
  def logRun(spark: SparkSession, auditPath: String, startedAtMs: Long,
      endedAtMs: Long, records: Long, status: String,
      error: Option[String]): Unit = {
    import spark.implicits._
    Seq((startedAtMs, endedAtMs, records, status, error.orNull))
      .toDF("started_at_ms", "ended_at_ms", "records_processed", "status", "error")
      .withColumn("started_at", timestamp_millis(col("started_at_ms")))
      .withColumn("ended_at", timestamp_millis(col("ended_at_ms")))
      .drop("started_at_ms", "ended_at_ms")
      .write.mode(SaveMode.Append).parquet(auditPath)
  }

  /** Table maintenance: compact a parquet directory's small files to
    * ~targetBytes outputs (the append-heavy sink's antidote — K2's
    * per-chunk appends at 100 TB degrade scans via file-count explosion;
    * periodic compaction restores scan efficiency). Two-phase write like
    * [[upsert]]: the compacted copy is staged, then renamed in (crash-safe). */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    // Hadoop FS size, recursive: a java.io listing reads 0 bytes on remote
    // filesystems — and ceil(0/target) = 1 would rewrite a multi-TB table
    // through ONE task. A partitioned layout is refused loudly: this flat
    // rewrite would silently destroy its directory structure.
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a swapIn killed mid-rename (possibly THIS function's own previous
    // run) parks the live table at __old — recover it here too, not only
    // on the upsert path: a compact-only or append-only workflow would
    // otherwise fail on the missing target forever (review r14)
    recoverOld(fs, p)
    require(!fs.listStatus(p).exists(s =>
        s.isDirectory && s.getPath.getName.contains("=")),
      s"compact: $path has a partitioned layout — compact per partition " +
        "(a flat rewrite would destroy the directory structure)")
    val bytes = fs.getContentSummary(p).getLength
    val parts = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val tmp = path + "__compacting"
    spark.read.parquet(path).repartition(parts)
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    swapIn(spark, tmp, path)
  }

  /** K6 TTL cache read: newest non-expired snapshot row-set, else empty. */
  def readCache(spark: SparkSession, path: String, ttlSeconds: Long, nowEpochSec: Long): DataFrame = {
    val all = spark.read.parquet(path)
    val fresh = all.filter(col("cache_ts") > lit(nowEpochSec - ttlSeconds))
    val latest = fresh.agg(max(col("cache_ts")).as("cache_ts"))
    all.join(broadcast(latest), Seq("cache_ts"))
  }
}

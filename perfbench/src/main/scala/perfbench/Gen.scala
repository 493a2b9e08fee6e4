package perfbench

import java.sql.Timestamp
import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic fixture generator.
  *
  * Writes the ten tables the query registry reads (`region` … `embeddings`,
  * one single-file parquet each) with the schemas and value domains of the
  * engine's reference fixtures: a TPC-H-like star schema, an `events` stream
  * table, a text corpus over a 30-word vocabulary with 5% near-duplicates, and
  * 64-dimensional unit embeddings. Every value comes from one seeded
  * `java.util.Random` per table, so a given (seed, size) always produces the
  * same bytes of data and the same query results.
  */
object Gen {
  final case class Size(sf: Double, events: Int, docs: Int, vectors: Int)

  /** The benchmark's tables: the relational ones at TPC-H scale 0.005. */
  val DefaultSize = Size(sf = 0.005, events = 5000, docs = 500, vectors = 500)
  val DefaultSeed = 42L

  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val adjectives = Array("large", "hot", "red", "cold", "old", "new", "blue", "small")
  private val nouns = Array("ring", "plate", "gear", "anvil", "gizmo", "widget", "rod", "bolt")
  private val partTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("click", "error", "purchase", "signup", "view")
  private val vocab = Array("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val langs = Array("en", "en", "en", "de", "es", "fr", "zh") // en ≈ 43%

  private val day = 86400000L
  private val epoch1995 = java.time.Instant.parse("1995-01-01T00:00:00Z").toEpochMilli
  private val epoch2024 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli

  private def money(r: java.util.Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def ts(ms: Long): Timestamp = new Timestamp(ms)

  /** Write all tables under `dir` (created if missing). */
  def write(spark: SparkSession, dir: Path, seed: Long = DefaultSeed,
      size: Size = DefaultSize): Unit = {
    Files.createDirectories(dir)
    val nCust = math.max(1, (150000 * size.sf).toInt)
    val nSupp = math.max(1, (10000 * size.sf).toInt)
    val nPart = math.max(1, (200000 * size.sf).toInt)
    val nOrd = math.max(1, (1500000 * size.sf).toInt)
    val nLine = math.max(1, (6000000 * size.sf).toInt)
    val nUsers = math.max(1, (size.events * 0.015).toInt)
    def rng(table: Int) = new java.util.Random(seed * 1000003L + table)

    def table(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val tmp = dir.resolve(s".$name.tmp")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(p =>
        p.getFileName.toString.startsWith("part-")).findFirst().get()
      Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Files.list(tmp).forEach(p => Files.delete(p))
      Files.delete(tmp)
    }

    table("region", StructType(Seq(
      StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })

    table("nation", StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    { val r = rng(1)
      table("customer", StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))),
        (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
          money(r, -999.99, 9999.99), segments(r.nextInt(5))))) }

    { val r = rng(2)
      table("supplier", StructType(Seq(
        StructField("s_suppkey", LongType), StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
        (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
          money(r, -999.99, 9999.99)))) }

    { val r = rng(3)
      table("part", StructType(Seq(
        StructField("p_partkey", LongType), StructField("p_name", StringType),
        StructField("p_brand", StringType), StructField("p_type", StringType),
        StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))),
        (0 until nPart).map(i => Row(i.toLong,
          s"${adjectives(r.nextInt(8))} ${nouns(r.nextInt(8))}", s"Brand#${1 + r.nextInt(25)}",
          partTypes(r.nextInt(6)), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0))) }

    { val r = rng(4)
      table("orders", StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))),
        (0 until nOrd).map(i => Row(i.toLong, r.nextInt(nCust).toLong,
          "FOP"(r.nextInt(3)).toString, money(r, 1000.0, 500000.0),
          ts(epoch1995 + r.nextInt(2404) * day), priorities(r.nextInt(5))))) }

    { val r = rng(5)
      table("lineitem", StructType(Seq(
        StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
        StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
        StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
        StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
        StructField("l_shipdate", TimestampType))),
        (0 until nLine).map(_ => Row(r.nextInt(nOrd).toLong, r.nextInt(nPart).toLong,
          r.nextInt(nSupp).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
          money(r, 900.0, 105000.0), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          "ANR"(r.nextInt(3)).toString, "FO"(r.nextInt(2)).toString,
          ts(epoch1995 + (1 + r.nextInt(2498)) * day)))) }

    { val r = rng(6)
      val slot = 30 * day / size.events
      table("events", StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))),
        (0 until size.events).map { i =>
          // microsecond timestamps, strictly increasing with event_id
          val us = (epoch2024 + i * slot) * 1000 + r.nextInt((slot * 1000).toInt.max(1))
          val t = new Timestamp(us / 1000)
          t.setNanos(((us % 1000000) * 1000).toInt)
          Row(i.toLong, t, r.nextInt(nUsers).toLong, eventTypes(r.nextInt(5)),
            math.min(560.0, math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100) / 100.0),
            s"""{"k": ${r.nextInt(100)}}""")
        }) }

    { val r = rng(7)
      val texts = new Array[String](size.docs)
      for (i <- 0 until size.docs) {
        texts(i) =
          if (i > 10 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
          else Iterator.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.length))).mkString(" ")
      }
      table("documents", StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))),
        texts.toSeq.zipWithIndex.map { case (t, i) =>
          Row(i.toLong, t, langs(r.nextInt(langs.length)), s"src${i % 20}", t.length.toLong)
        }) }

    { val r = rng(8)
      table("embeddings", StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))),
        (0 until size.vectors).map { i =>
          val v = Array.fill(64)(r.nextGaussian())
          val n = math.sqrt(v.map(x => x * x).sum)
          Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, r.nextInt(10))
        })
    }
  }
}

package graft

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Fixture-table loaders (TESTDATA.md). All engine queries read through here so
  * path handling and any read-level options live in one place.
  *
  * Scale design: these are plain parquet scans — Catalyst handles column
  * pruning and predicate pushdown below the scan, and on a real cluster the
  * same code picks up splittable files / partitioned layouts with no change.
  *
  * Schemas come from one parquet footer read on the driver ([[footerSchema]])
  * and are handed to the reader, so resolving a table starts no Spark job.
  * Nothing is memoized: every load re-reads the footer, so a table rewritten
  * in place resolves to its new schema, and every load is a fresh relation
  * (a self-join gets distinct attribute ids).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** The schema Spark's parquet inference gives `path`, read on the driver
    * from one footer instead of by the one-task job inference launches.
    * `path` is a parquet file or a directory of part files; for a directory
    * the first data file by path is read, skipping names that start with `_`
    * or `.` as Spark's file listing does. The converter reads the session
    * conf (nanosAsLong, NTZ inference) and the footer's Spark row-metadata
    * key wins, exactly as in inference.
    *
    * None — leave inference to Spark — when the path is missing or holds no
    * data file at its top level: Spark then raises its own error, or
    * discovers the partitions whose files sit in subdirectories. */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val status = try Some(fs.getFileStatus(p)) catch { case _: FileNotFoundException => None }
    val dataFile = status.flatMap { st =>
      if (st.isFile) Some(st)
      else fs.listStatus(p).filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.sortBy(_.getPath.toString).headOption
    }
    dataFile.map { f =>
      // read options from the conf in hand: the one-argument open builds a
      // fresh Hadoop Configuration, re-parsing core-default.xml every load
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf),
        HadoopReadOptions.builder(conf).build())
      val meta = try reader.getFooter finally reader.close()
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet has shipped `ts` in two physical forms across driver
    * fixture generations: TIMESTAMP(NANOS) (through round 8) and
    * TIMESTAMP(MICROS, not-UTC-adjusted) (round 9+). Normalize BOTH to the
    * session-TZ TIMESTAMP the query surface was written against, with the
    * same values DuckDB sees on the same file:
    *  - NANOS: Spark's reader rejects it outright, so read nanos as LONG
    *    (legacy conf) and truncate to micros — DuckDB's own read behavior;
    *  - MICROS ntz: arrives as TIMESTAMP_NTZ; reinterpret in the session
    *    zone (pinned UTC), value-identical to DuckDB's naive TIMESTAMP.
    * Keyed on the OBSERVED schema, not the fixture generation, so either
    * form keeps working if the driver regenerates again. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(load(s, d, "events"))
  }

  private[graft] def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => // nanos-as-long fixture
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df // already session-TZ timestamp
    }
  }

  /** The raw (pre-normalization) type `ts` resolves to for this fixture —
    * what a user-specified streaming schema must declare (streaming reads
    * don't infer). Footer-only probe through [[load]]; no job. */
  private[graft] def eventsRawTsType(
      s: SparkSession, d: String): org.apache.spark.sql.types.DataType = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    load(s, d, "events").schema("ts").dataType
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

/** A named engine query: the Spark plan plus (when SQL-expressible) the exact
  * DuckDB oracle the driver replays at sf0.01. Column names/types must agree
  * between the two — see SparkEntry's contract.
  */
final case class Q(
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    doc: String = "")

/** Canonical money-sum egress, bit-identical across engines at ANY magnitude.
  *
  * A decimal sum surfaced as `CAST(dec AS DOUBLE)` is only engine-stable
  * while the unscaled value stays under 2^53: past that, Spark's single
  * correctly-rounded BigDecimal conversion and DuckDB's convert-then-divide
  * can differ by 1 ulp, and the driver's hash gate fails. Instead both
  * engines surface sums through the SAME two IEEE operations:
  *
  *   round(sum, 2) --exact--> cents BIGINT --(int64->double, /100.0)--> DOUBLE
  *
  * int64->double conversion and double division are correctly rounded in
  * both engines, so identical inputs give bit-identical outputs up to the
  * int64 cents ceiling (9.2e16 money units ~ per-group sums beyond a
  * 1000 TB TPC-H). The half-up rounding to cents agrees too: Spark's
  * round() is HALF_UP (away from zero) and DuckDB's ROUND on decimals
  * rounds halves away from zero (probed: 2.345->2.35, -2.345->-2.35).
  * Mirror of the SQL in [[MoneyOut.sql]].
  */
object MoneyOut {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{round, lit}

  /** Spark side: decimal sum -> engine-stable DOUBLE.
    *
    * CONTRACT: `c` must be DECIMAL (sum the column as decimal(18,6) first).
    * On a DOUBLE input the law is NOT engine-stable: round(x,2)*100 can land
    * at .99999… in IEEE, where Spark's bigint cast truncates and DuckDB's
    * rounds — the exact floor-before-cast trap in the determinism notes. */
  def col(c: Column): Column =
    (round(c, 2) * lit(100)).cast("bigint").cast("double") / lit(100.0)

  /** Oracle side: the same two IEEE ops spelled in DuckDB SQL. */
  def sql(e: String): String =
    s"(CAST(CAST(ROUND($e, 2) * 100 AS BIGINT) AS DOUBLE) / 100.0)"
}

package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

/** The table resolver: [[Tables.load]] reads each schema from one parquet
  * footer on the driver and must give exactly the schema Spark's own
  * inference gives, without the inference job. */
class TablesSpec extends SparkSpec {

  private val fixtures = Seq(sf, s"${new java.io.File(sf).getParent}/sf0.01")

  /** Spark jobs started while `body` runs, counted after the listener bus
    * has delivered every event. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    listenDuring(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })(body)
    jobs.get()
  }

  test("every fixture table resolves to Spark's inferred schema") {
    // events needs nanosAsLong on both sides, as Tables.events sets it
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (dir <- fixtures; t <- Tables.names) {
      assert(Tables.load(spark, dir, t).schema ==
        spark.read.parquet(s"$dir/$t.parquet").schema, s"$t at $dir")
    }
  }

  test("resolving every table, events probe included, starts no Spark job") {
    val n = jobsDuring {
      for (dir <- fixtures) {
        Tables.names.foreach(t => Tables.load(spark, dir, t).schema)
        Tables.events(spark, dir).schema
        Tables.eventsRawTsType(spark, dir)
      }
    }
    assert(n == 0, s"$n Spark jobs while resolving fixture schemas")
    // the counter sees jobs at all: a real scan is counted
    assert(jobsDuring(Tables.region(spark, sf).count()) > 0)
  }

  test("multi-part and partitioned directories resolve as Spark infers them") {
    val dir = tempDir("graft_tables_dir").toString
    Tables.lineitem(spark, sf).repartition(3)
      .write.parquet(s"$dir/lineitem.parquet")
    assert(new java.io.File(s"$dir/lineitem.parquet").listFiles()
      .count(_.getName.startsWith("part-")) == 3)
    assert(Tables.load(spark, dir, "lineitem").schema ==
      spark.read.parquet(s"$dir/lineitem.parquet").schema)
    assert(jobsDuring(Tables.load(spark, dir, "lineitem").schema) == 0)
    // a partitioned layout needs partition discovery: left to Spark
    Tables.orders(spark, sf).write.partitionBy("o_orderstatus")
      .parquet(s"$dir/orders.parquet")
    val parts = Tables.load(spark, dir, "orders")
    assert(parts.schema == spark.read.parquet(s"$dir/orders.parquet").schema)
    assert(parts.columns.contains("o_orderstatus"))
  }

  test("a table rewritten in place resolves to its new schema") {
    val dir = tempDir("graft_tables_rewrite").toString
    spark.range(3).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("a"))
    spark.range(4).select(col("id").cast("string").as("b"), col("id").as("c"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Tables.load(spark, dir, "t")
    assert(df.columns.toSeq == Seq("b", "c"))
    assert(df.count() == 4)
  }

  test("a missing or empty table fails with Spark's own exception") {
    val dir = tempDir("graft_tables_missing").toString
    new java.io.File(s"$dir/empty.parquet").mkdir()
    for (t <- Seq("absent", "empty")) {
      val spark0 = intercept[Exception](spark.read.parquet(s"$dir/$t.parquet"))
      val ours = intercept[Exception](Tables.load(spark, dir, t))
      assert(ours.getClass == spark0.getClass, s"$t: $ours vs $spark0")
    }
  }
}

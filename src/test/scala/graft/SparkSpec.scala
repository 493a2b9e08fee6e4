package graft

import java.nio.file.{Files, Path}

import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.{GraftListenerBridge, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt): the
  * harness session at 4 threads, in the state an ETL run leaves it in. An
  * Observation has run in it, and from then on a task that captures the
  * session fails to serialize — so every suite sees that failure, whatever
  * order the suites run in. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Harness.session(4)
    s.range(1).observe(Observation(), count(lit(1))).collect()
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sf: String = "/root/testdata/sf0.001"

  private var scratchRoot: Option[Path] = None

  /** A fresh directory for this suite's tests. They share one root under
    * java.io.tmpdir that is deleted, with everything in it, when the suite
    * ends, pass or fail — so a fixture built once and shared by several
    * tests lives until the last of them, and the siblings a product path
    * writes beside its output (app.Main's `<out>_audit` and `<out>_worklist`)
    * go with it. */
  protected def tempDir(prefix: String): Path = {
    val root = scratchRoot.getOrElse {
      val r = Files.createTempDirectory("graft_test_")
      scratchRoot = Some(r)
      r
    }
    Files.createTempDirectory(root, prefix)
  }

  /** Runs `body` with `listener` on the listener bus, flushing the bus
    * before it is added and before it is removed, so it sees the events of
    * exactly `body`'s jobs. */
  protected def listenDuring[T](listener: SparkListener)(body: => T): T = {
    val sc = spark.sparkContext
    GraftListenerBridge.flush(sc)
    sc.addSparkListener(listener)
    try { val r = body; GraftListenerBridge.flush(sc); r }
    finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally {
      scratchRoot.foreach(graft.streaming.StreamOps.deleteTree)
      scratchRoot = None
    }
}

package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt): the
  * harness session at 4 threads. */
object TestSpark {
  lazy val spark: SparkSession = Harness.session(4)
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

  override def afterAll(): Unit =
    try super.afterAll()
    finally {
      scratchRoot.foreach(graft.streaming.StreamOps.deleteTree)
      scratchRoot = None
    }
}

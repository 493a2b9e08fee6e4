package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt): the
  * harness session at 4 threads. */
object TestSpark {
  lazy val spark: SparkSession = Harness.session(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sf: String = "/root/testdata/sf0.001"
}

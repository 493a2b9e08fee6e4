package graft

import org.scalatest.funsuite.AnyFunSuite

/** Line scan of the main source tree, for guards that pin a removed design
  * out of `src/main/scala/graft`. Paths are relative: sbt runs the forked
  * test JVM from the repo root. */
object SourceScan {

  /** Every `file:line: text` under src/main/scala/graft that `re` finds. */
  def hits(re: scala.util.matching.Regex): List[String] = {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val files = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
        .sortBy(_.toString).flatMap { f =>
          java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
            case (l, i) if re.findFirstIn(l).isDefined => s"$f:${i + 1}: ${l.trim}"
          }
        }
    } finally files.close()
  }
}

class SourceGuardSpec extends AnyFunSuite {

  test("no JVM system property is read or written under src/main/scala/graft") {
    // a JVM-global property is how the removed HTML-parser and
    // window-hash selectors chose an extraction or hash arm for the whole
    // process: one kernel per job, no hidden second arm
    val props =
      """\bsys\.props\b|System\.(getProperty|setProperty|clearProperty|getProperties)\b""".r
    val hits = SourceScan.hits(props)
    assert(hits.isEmpty,
      s"system-property access in main source:\n${hits.mkString("\n")}")
  }

  test("the entry points under src/main/scala/graft are exactly the pinned set") {
    // every `def main` ships in the product jar: a new measurement main
    // must be added here on purpose, not grow the harness unnoticed
    val pinned = Set("app/Main.scala", "Bench.scala", "Verify.scala",
      "ExplainDump.scala", "PlanDump.scala", "etl/DialectDump.scala",
      "HostAnchor.scala", "bench/SuiteScale.scala", "bench/StatePressure.scala")
      .map(f => s"src/main/scala/graft/$f")
    val found = SourceScan.hits("""\bdef main\s*\(""".r)
      .map(_.split(":").head).toSet
    assert(found == pinned, s"unpinned mains: ${found -- pinned}; " +
      s"pinned but gone: ${pinned -- found}")
  }

  test("a SparkSession is built under src/main/scala/graft only by Harness, " +
      "the product CLI and StatePressure") {
    // every registry harness runs the one session Harness.session builds:
    // a private builder is how the harness sessions drifted apart (one
    // lost the UTC zone, so it timed a different plan than Verify checked)
    val allowed = Seq("Harness.scala", "app/Main.scala", "bench/StatePressure.scala")
      .map(f => s"src/main/scala/graft/$f:")
    val hits = SourceScan.hits("""SparkSession\.builder""".r)
      .filterNot(h => allowed.exists(h.startsWith))
    assert(hits.isEmpty, s"SparkSession builders outside Harness:\n${hits.mkString("\n")}")
  }
}

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
}

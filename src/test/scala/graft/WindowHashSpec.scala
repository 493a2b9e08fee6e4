package graft

/** The substring-dedup family (q106/q107) must be hash-kernel-invariant:
  * every consumer treats window values opaquely (equality / distinct /
  * group), so the md5 oracle-parity form and the xxh64 production form
  * (8-byte shuffle rows vs ~40-byte hex strings) must produce IDENTICAL
  * dup statistics. This is the contract that lets the production flag
  * ship without its own oracle: same stats, narrower intermediate. */
class WindowHashSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val family =
    Seq("q106_window_dedup", "q107_source_overlap", "q110_substring_removal")

  private def results(mode: String): Seq[Seq[String]] = {
    // cache key includes the mode, but release anyway: the spec must not
    // depend on slot-eviction order when other suites share the session
    Staged.releaseAll()
    val prev = sys.props.get("graft.windowHash")
    sys.props("graft.windowHash") = mode
    try family.map(q =>
      SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq)
    finally {
      prev match {
        case Some(v) => sys.props("graft.windowHash") = v
        case None => sys.props.remove("graft.windowHash")
      }
      Staged.releaseAll()
    }
  }

  test("xxh64 window hash reproduces the md5 path's results exactly") {
    val md = results("md5")
    val xx = results("xxh64")
    // non-trivial fixture: dup windows must actually exist or the test
    // proves nothing about the hash kernel
    assert(md.forall(_.nonEmpty))
    family.indices.foreach { i =>
      assert(md(i) == xx(i), s"${family(i)} diverged across hash kernels")
    }
  }

  test("unknown mode is rejected") {
    sys.props("graft.windowHash") = "sha1"
    try intercept[IllegalArgumentException] {
      SparkEntry.queries("q106_window_dedup")(spark, dir).collect()
    } finally sys.props.remove("graft.windowHash")
  }
}

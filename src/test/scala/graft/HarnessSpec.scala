package graft

import org.apache.spark.sql.DataFrame

/** The harness driver protocol (graft.Harness) every registry main runs
  * under: subset selection and the between-query hygiene of a pass. */
class HarnessSpec extends SparkSpec {

  test("select takes exact registry names and rejects an unknown one") {
    assert(Harness.select(" q61_ntile_deciles, q01_pricing_summary,q61_ntile_deciles") ==
      Seq("q61_ntile_deciles", "q01_pricing_summary"))
    val typo = intercept[IllegalArgumentException](
      Harness.select("q01_pricing_summary,q999_no_such_query"))
    assert(typo.getMessage.contains("q999_no_such_query"))
    // a name prefix is not a name: a subset never silently widens or shrinks
    assert(intercept[IllegalArgumentException](Harness.select("q01"))
      .getMessage.contains("q01"))
    intercept[IllegalArgumentException](Harness.select(" , "))
  }

  test("pass starts with every staged slot empty") {
    val st = Staged[String]("harness_spec_slot", _ => ())
    try {
      st(spark, "d")("held")
      assert(Staged.held.contains("harness_spec_slot"))
      val seen = Harness.pass(Seq("a", "b"))(_ => Staged.held)
      assert(seen == Seq(Nil, Nil))
    } finally st.close()
  }

  test("pass enters each query with no scoped checkpoint alive") {
    // totalRank leaves its frozen-pid scratch behind. The registry holds it
    // weakly, so each result frame is kept reachable while it is counted
    def run(): (DataFrame, Int) = {
      val df = SparkEntry.queries("q61_ntile_deciles")(spark, sf)
      df.count()
      (df, Checkpoints.scopedCount)
    }
    val (first, left) = run()
    assert(left > 0, "q61 registered no scratch")
    val counts = Harness.pass(Seq.fill(3)("q61_ntile_deciles")) { _ =>
      val before = Checkpoints.scopedCount
      val (df, after) = run()
      (before, after, df)
    }
    java.lang.ref.Reference.reachabilityFence(first)
    assert(counts.map(_._1) == Seq(0, 0, 0))
    assert(counts.forall(_._2 > 0), s"q61 registered no scratch: $counts")
    Checkpoints.releaseScoped()
  }

  test("onGcTick fires once per 24 queries, before the 24th, 48th, ...") {
    var ran = 0
    val ticks = collection.mutable.ArrayBuffer[Int]()
    Harness.pass(Seq.tabulate(50)(i => s"q$i"), () => ticks += ran)(_ => ran += 1)
    assert(ran == 50)
    assert(ticks == Seq(23, 47))
  }
}

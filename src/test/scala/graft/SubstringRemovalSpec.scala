package graft

import org.apache.spark.sql.functions._

/** q110 (exact-substring span removal) on a CONSTRUCTED corpus where the
  * fixture's near-zero dup rate can't mask a broken law: docs share a
  * 10-token boilerplate preamble, so every 8-token window inside it is
  * corpus-duplicated and the whole preamble must be cut from EVERY doc
  * (the law removes all occurrences — the simple deterministic variant of
  * Lee et al.'s deletion step), while the unique tails survive verbatim. */
class SubstringRemovalSpec extends SparkSpec {

  test("shared boilerplate is cut everywhere, unique text survives") {
    import spark.implicits._
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ") // 10 shared tokens
    val docs = (0 until 6).map { i =>
      // 12 unique tokens per doc — longer than one window, fully unique
      val tail = (1 to 12).map(j => s"u${i}_$j").mkString(" ")
      (i.toLong, s"$boiler $tail", "en", s"src$i", 0L)
    } :+ ((6L, "short doc only", "en", "src6", 0L)) // < 8 tokens: untouched
    val dir = tempDir("q110spec").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    Staged.releaseAll() // window cache is (session, dir)-keyed
    try {
      val got = SparkEntry.queries("q110_substring_removal")(spark, dir)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
      (0 until 6).foreach { i =>
        val (nTok, nRem, nSpans, cleaned) = got(i.toLong)
        assert(nTok == 22L)
        // dup windows are exactly the preamble's own 3 (all-boiler starts
        // 0..2); they cover positions 0..9 — the full boilerplate, nothing
        // of the unique tail (windows straddling into u-tokens are unique
        // per doc, so they never enter the dup set)
        assert(nRem == 10L, s"doc $i removed $nRem")
        assert(nSpans == 1L)
        assert(cleaned == (1 to 12).map(j => s"u${i}_$j").mkString(" "))
      }
      val (nTok7, nRem7, nSpans7, cleaned7) = got(6L)
      assert(nTok7 == 3L && nRem7 == 0L && nSpans7 == 0L &&
        cleaned7 == "short doc only")
    } finally Staged.releaseAll()
  }
}

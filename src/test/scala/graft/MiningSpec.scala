package graft

import org.apache.spark.sql.functions._

/** Laws of the round-11 Mining queries that the oracle gate can't see —
  * the oracle proves both engines compute the same answer; these prove the
  * answer has the properties the operator's 100 TB story depends on.
  */
class MiningSpec extends SparkSpec {

  test("q170: HRW minimal movement — a doc only ever moves TO the new shard") {
    // the resharding-cost-O(moved) claim rests on this: when shard 16
    // joins, a doc's assignment changes iff shard 16 wins its argmax, so
    // n_moved summed over shards must equal the 17-world population of
    // shard 16 — and no doc may move between the ORIGINAL 16 shards.
    // Recompute both assignments directly and compare row-by-row.
    val docs = Tables.documents(spark, sf).select(col("doc_id"))
    import spark.implicits._
    val shards = (0 to 16).toDF("shard")
    val hashed = docs.crossJoin(broadcast(shards))
      .withColumn("h", graft.functions.TextHash.charHash(
        concat_ws(":", col("doc_id"), col("shard"))))
      .select(col("doc_id"), col("shard"),
        ((col("h") * col("h") % 1000000007L * 2654435761L
          % 1000000007L) * 100 + col("shard")).as("hkey"))
    val assigned = hashed.groupBy(col("doc_id")).agg(
      max_by(col("shard"), when(col("shard") <= 15, col("hkey")))
        .as("s16"),
      max_by(col("shard"), col("hkey")).as("s17"))
      .collect()
    assert(assigned.nonEmpty)
    assigned.foreach { r =>
      val (s16, s17) = (r.getInt(1), r.getInt(2))
      assert(s17 == s16 || s17 == 16,
        s"doc ${r.getLong(0)} moved between old shards: $s16 -> $s17")
    }
  }

  test("q171: the top-p head is maximal — adding the next doc would cross 90%") {
    // kept docs cover <= 90% of each source's char mass AND the cut is
    // tight: the first EXCLUDED doc would push past the bar (otherwise the
    // "head" under-spends its budget)
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val result = SparkEntry.queries("q171_source_topp")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    docs.foreach { case (src, rows) =>
      val ordered = rows.sortBy(t => (-t._3, t._2)).map(_._3)
      val total = ordered.sum
      val (nHead, headChars, totalOut) = result(src)
      assert(totalOut == total)
      assert(headChars * 10 <= total * 9, s"$src head overshoots")
      if (nHead < ordered.length)
        assert((headChars + ordered(nHead.toInt)) * 10 > total * 9,
          s"$src head under-spends: doc ${nHead} would still fit")
    }
  }

  test("q179: the digest MERGES — total ≡ sum of per-source digests mod P") {
    // the anti-entropy property: a coordinator combines per-shard digests
    // without touching content. The rollup total row must equal the
    // modular sum of the per-source rows.
    val rows = SparkEntry.queries("q179_partition_digest")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val total = rows("<ALL>")
    val merged = rows.filter(_._1 != "<ALL>").values
      .foldLeft(0L)((a, b) => (a + b) % 1000000007L)
    assert(total == merged, s"total $total != merged $merged")
  }

  test("q169: the BM25 build keeps the integer law on edge-case corpora") {
    // NULL and empty text, a double space (an empty token), a repeated
    // term, a doc with no hit, and doc_ids that appear twice: 6 with the
    // same text, 7 and 8 with different text (8's two share a length).
    // The law below is the one the oracle CTE states: tf per (doc_id, dl,
    // term), df per term over those groups, T = Σ dl over non-NULL texts,
    // D = every row.
    import spark.implicits._
    val rows = Seq[(Long, String)](
      1L -> null, 2L -> "", 3L -> "join  hash",
      4L -> "spark join spark spark", 5L -> "nothing to see here",
      6L -> "hash join", 6L -> "hash join",
      7L -> "spark x", 7L -> "join hash spark y", 8L -> "hash a b",
      8L -> "join c d", 9L -> "a b c d e f")
    val dir = tempDir("graft_bm25_edge").toString
    rows.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val qterms = Seq("join", "hash", "spark")

    val toks = rows.map { case (id, t) => (id, Option(t).map(_.split(" ", -1).toSeq)) }
    val tf = toks.collect { case (id, Some(ts)) =>
      ts.filter(qterms.contains).map(t => (id, ts.size.toLong, t))
    }.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val df = tf.keys.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val t = BigInt(toks.flatMap(_._2).map(_.size.toLong).sum)
    val n = BigInt(rows.size)
    val expected = tf.toSeq.map { case ((id, dl, term), f) =>
      val (tfb, dfb) = (BigInt(f), BigInt(df(term)))
      val sMilli = 44000 * t * tfb * (2 * (n - dfb) + 1) /
        (20 * t * tfb + 6 * t + 18 * dl * n) / (2 * dfb + 1)
      id -> sMilli
    }.groupBy(_._1).map { case (id, ss) =>
      (id, ss.map(_._2).sum.toLong, ss.size.toLong)
    }.toSet

    val got = graft.queries.Mining.bm25ScoresFor(spark, dir, qterms)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expected.map(_._1) == Set(3L, 4L, 6L, 7L, 8L),
      s"the law's own hit set changed: $expected")
    assert(got == expected)
  }

  test("q173: a mega-basket fails the loud contract, not an OOM") {
    // one 1025-item order must trip the assert_true guard in the plan —
    // the quadratic pair fanout (C(n,2) from a single row) is the failure
    // mode the bar exists to catch
    import spark.implicits._
    val dir = tempDir("graft_mega").toString
    (1 to 1025).map(i => (1L, i.toLong)).toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val ex = intercept[Exception] {
      SparkEntry.queries("q173_basket_pairs")(spark, dir).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("orderPairs contract")),
      s"expected the loud basket bar, got: ${msgs(ex).mkString(" | ")}")
  }

  test("q176: on 3 disjoint graph replicas every top-10 row reduces to a " +
    "base top-10 row") {
    // replicas shift orderkey AND partkey per copy, so the co-purchase
    // graph is 3 disconnected copies: they can only interleave copies of
    // the base's best rows, never mint a new count. A join that crosses
    // replica boundaries (spurious inter-copy edges or triangles) breaks
    // this.
    val orderShift = 100000000L
    val partShift = 10000000L
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
    val dir = tempDir("graft_graph3x")
    (0 until 3).map(k => li
        .withColumn("l_orderkey", col("l_orderkey") + lit(k * orderShift))
        .withColumn("l_partkey", col("l_partkey") + lit(k * partShift)))
      .reduce(_ unionByName _)
      .write.parquet(s"$dir/lineitem.parquet")
    def top10(d: String) = SparkEntry.queries("q176_triangle_count")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val baseTop = top10(sf).toSet
    val replicated = top10(dir.toString)
    assert(baseTop.nonEmpty && replicated.length == 10)
    replicated.foreach { case (part, n) =>
      assert(baseTop.contains((part % partShift, n)),
        s"3x row ($part, $n) reduces to ${(part % partShift, n)}, absent " +
          "from the base top-10 — inter-replica contamination")
    }
  }

  test("q175: every schedule prefix is weight-proportional within one item") {
    // stride scheduling's representation guarantee: in the first N
    // positions, a weight-w source appears floor/ceil of N·w/ΣW times,
    // within 1 either side (checked on the emitted 100-position prefix
    // against the weights the query itself reports)
    val sched = SparkEntry.queries("q175_mixture_schedule")(spark, sf)
      .collect().map(r => (r.getString(2), r.getLong(4)))
    val weights = sched.groupBy(_._1).map { case (s, rs) => s -> rs.head._2 }
    val byCount = sched.groupBy(_._1).map { case (s, rs) => s -> rs.length }
    val sumW = weights.values.sum.toDouble
    val n = sched.length
    weights.foreach { case (src, w) =>
      val expected = n * w / sumW
      val got = byCount(src)
      assert(math.abs(got - expected) <= 1.0 + 1e-9,
        s"$src: got $got of $n, expected ~$expected (w=$w)")
    }
  }
}

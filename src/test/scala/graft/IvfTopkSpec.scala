package graft

/** q111 (IVF-bucketed approximate top-k) against q39 (exact brute force):
  * the probe structure must actually approximate — high recall on the
  * fixture, but NOT forced equality (a neighbor in an unprobed cluster is
  * legitimately missed; at sf0.01 measured recall@5 was 0.92). A recall of
  * 1.0 with pruned candidates is possible on easy data, but a recall below
  * the floor means the probe law is broken, and identical-by-construction
  * results would mean the pruning never engaged. */
class IvfTopkSpec extends SparkSpec {

  test("IVF top-k approximates exact top-k with bounded recall loss") {
    val exact = SparkEntry.queries("q39_ann_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = SparkEntry.queries("q111_ivf_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(exact.nonEmpty && ivf.nonEmpty)
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.6, f"recall@5 collapsed to $recall%.2f — probe law broken")
    // per-query cap: never more than 5 neighbors
    val perQuery = SparkEntry.queries("q111_ivf_topk")(spark, sf).collect()
      .groupBy(_.getLong(0)).map(_._2.length)
    assert(perQuery.forall(_ <= 5))
  }

  test("q134: harness recall equals independently recomputed recall@5") {
    // recompute recall from the two serving queries' own outputs — the
    // harness must grade exactly what q39/q111 serve, per query
    val exact = SparkEntry.queries("q39_ann_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val ivf = SparkEntry.queries("q111_ivf_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val want = exact.groupBy(_._1).map { case (q, ns) =>
      val found = ns.count(ivf.contains)
      q -> (ns.length.toLong, found.toLong, found.toLong * 1000 / ns.length)
    }
    val rows = SparkEntry.queries("q134_ann_recall")(spark, sf).collect()
    assert(rows.length == want.size, "one row per sampled query")
    rows.foreach { r =>
      val (ne, nf, rec) = want(r.getLong(0))
      assert(r.getLong(1) == ne && r.getLong(2) == nf && r.getLong(3) == rec,
        s"harness row $r != recomputed ($ne, $nf, $rec)")
      assert(rec >= 0L && rec <= 1000L)
    }
  }

  test("q147: separable labels get high margin, interleaved labels near-zero") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val dim = 64
    def noisy(base: Array[Float], eps: Float): Array[Float] =
      base.map(x => x + (rnd.nextFloat() * 2 - 1) * eps)
    // labels 0/1: tight clusters on orthogonal axes; labels 2/3: the SAME
    // isotropic cloud split arbitrarily — confusable by construction
    val ax0 = Array.tabulate(dim)(i => if (i < 32) 1f else 0f)
    val ax1 = Array.tabulate(dim)(i => if (i >= 32) 1f else 0f)
    val rows =
      (0 until 30).map(i => (i.toLong, noisy(ax0, 0.05f), 0)) ++
      (30 until 60).map(i => (i.toLong, noisy(ax1, 0.05f), 1)) ++
      (60 until 120).map(i => (i.toLong,
        Array.fill(dim)(rnd.nextFloat() * 2 - 1), 2 + i % 2))
    val dir = tempDir("graft_sep").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("q147_label_separability")(spark, dir)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // orthogonal tight clusters: cohesion near 1000, confusion near 0
    Seq(0, 1).foreach { l =>
      val (_, intra, _, inter, margin) = out(l)
      assert(intra > 950, s"label $l cohesion $intra")
      assert(inter < 300, s"label $l confusion $inter")
      assert(margin > 650, s"label $l margin $margin")
    }
    // the split cloud: labels 2 and 3 are each other's nearest centroid
    // and the margin collapses relative to the separable labels
    assert(out(2)._3 == 3L && out(3)._3 == 2L,
      s"cloud halves not mutually nearest: ${out(2)}, ${out(3)}")
    Seq(2, 3).foreach { l =>
      assert(out(l)._5 < out(0)._5 - 300,
        s"interleaved label $l margin ${out(l)._5} not collapsed")
    }
  }

  test("q160: agreement matrix fills all three cells on an aligned corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    val dim = 64
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)(r.nextFloat() * 2 - 1)
    }
    val longText = (0 until 40).map(j => s"t$j").mkString(" ")
    val para = (0 until 40).map(j => s"p$j").mkString(" ") // distinct words
    // ids 0,1: same text AND same embedding  -> both channels flag
    // ids 2,3: same text, orthogonal-ish embeddings -> text-only
    // ids 4,5: "paraphrase": different words, same embedding -> emb-only
    // ids 6..25: unique text, unique embeddings -> neither
    val docs = Seq(
      (0L, longText), (1L, longText),
      (2L, longText + " zzz extra"), (3L, longText + " zzz extra"),
      (4L, para), (5L, (0 until 40).map(j => s"q$j").mkString(" "))) ++
      (6L until 26L).map(i => (i, (0 until 30).map(j => s"u${i}_$j").mkString(" ")))
    val embs = Seq(
      (0L, vec(100)), (1L, vec(100)),
      (2L, vec(200)), (3L, vec(300)),
      (4L, vec(400)), (5L, vec(400))) ++
      (6L until 26L).map(i => (i, vec(1000 + i.toInt)))
    val dir = tempDir("graft_agree").toString
    docs.map { case (id, t) => (id, t, "en", "srcA", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    embs.map { case (id, v) => (id, v, (id % 3).toInt) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = SparkEntry.queries("q160_dedup_agreement")(spark, dir).collect()(0)
    val (nt, ne, nb, nto, neo) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))
    // (0,1) both; (2,3) text-only; (4,5) emb-only — plus whatever the
    // random vectors coincidentally flag (cos >= 0.45 is possible but
    // bounded); the PLANTED structure must be present
    assert(nb >= 1L, s"planted both-pair missed: $r")
    assert(nto >= 1L, s"planted text-only pair missed: $r")
    assert(neo >= 1L, s"planted emb-only pair missed: $r")
    assert(nt == nb + nto && ne == nb + neo)
    assert(r.getLong(5) == nb * 1000 / (nt + ne - nb))
  }

  test("probe join is broadcast and cluster-keyed, never a corpus shuffle") {
    val df = SparkEntry.queries("q111_ivf_topk")(spark, sf)
    df.collect() // AQE-final plan
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"degenerated:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"probe side should broadcast (query-batch-proportional):\n$p")
  }

  test("q123: a Lloyd step improves (or holds) the k-means objective") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .filter { case (_, v) => v.exists(_ != 0.0f) }
    def cos(a: Array[Float], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i).toDouble * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def objective(cents: Map[Long, Array[Double]]): Double =
      all.map { case (_, v) =>
        cents.values.map(c => cos(v, c)).max
      }.sum
    val cb0 = all.filter(_._1 < 16).map { case (id, v) =>
      id -> v.map(_.toDouble)
    }.toMap
    // the step's output IS the next codebook: mean = sum_x1e6 / 1e6 / n
    val rows = SparkEntry.queries("q123_kmeans_step")(spark, sf).collect()
    assert(rows.length == 16 * 64, "a cluster lost all members or a dim vanished")
    val cb1 = rows.groupBy(_.getLong(0)).map { case (cid, rs) =>
      val dims = rs.sortBy(_.getInt(1))
      cid -> dims.map(r => r.getLong(2).toDouble / 1e6 / r.getLong(3)).toArray
    }
    // every cluster's member count is consistent across dims and sums to n
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(3)).distinct.length == 1)
    }
    assert(rows.filter(_.getInt(1) == 0).map(_.getLong(3)).sum == all.length)
    // Lloyd monotonicity (in the assignment similarity): re-centering
    // cannot make the best-centroid cosine sum worse on this fixture
    assert(objective(cb1) >= objective(cb0) - 1e-9,
      s"objective regressed: ${objective(cb0)} -> ${objective(cb1)}")
  }

  test("q124: negatives never share the anchor's label and are the hardest") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = SparkEntry.queries("q124_hard_negatives")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(1) != r.getInt(4), s"negative shares the anchor label: $r")
      assert(r.getInt(2) >= 1 && r.getInt(2) <= 5)
    }
    // brute-force the hardest negative for anchor 0: the rank-1 row must
    // match (cos DESC, vec_id ASC) over all different-label candidates
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding"))
      .as[(Long, Int, Array[Float])].collect()
      .filter { case (_, _, v) => v.exists(_ != 0.0f) }
    def cosF(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val (qid, qlb, qv) = all.find(_._1 == 0L).get
    val expect = all.filter(t => t._1 != qid && t._2 != qlb)
      .map { case (id, _, v) => (id, cosF(qv, v)) }
      .minBy { case (id, c) => (-c, id) }._1
    val got = rows.filter(r => r.getLong(0) == 0L && r.getInt(2) == 1)
      .head.getLong(3)
    assert(got == expect, s"rank-1 negative $got != brute-force $expect")
  }
}

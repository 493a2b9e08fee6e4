package graft

import org.apache.spark.sql.functions._

/** Laws of the curation additions (q112 fuzzy decontamination, q113
  * bigram-LM gate, q114 PQ ANN) that the DuckDB oracle replay can't see:
  * approximation quality against brute-force truth, and thresholds that
  * actually split the fixture instead of passing vacuously. */
class CurationSpec extends SparkSpec {

  test("q112: finds the strong cross-set near-dups q35 proves exist") {
    // truth: q35's exact J>=0.7 pairs that cross the eval boundary are all
    // J>=0.5 cross-set contamination; LSH recall for them is the band law
    // (P[collide] = 1-(1-J^2)^4 >= 0.93 at J=0.7), deterministic given the
    // pinned hash params — measured 13/13 on the fixture, floor with slack
    val cross = SparkEntry.queries("q35_jaccard_pairs")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a < 100 && b >= 100 }.toSet
    assert(cross.nonEmpty, "fixture lost its cross-boundary near-dups")
    val found = SparkEntry.queries("q112_fuzzy_decontam")(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(0))).toSet // (eval_id, doc_id)
    val recall = (cross & found).size.toDouble / cross.size
    assert(recall >= 0.8, f"LSH cross-set recall collapsed to $recall%.2f")
    // every emitted pair really clears the J>=1/2 cross-multiplied gate
    SparkEntry.queries("q112_fuzzy_decontam")(spark, sf).collect().foreach {
      r => assert(r.getLong(2) * 2 >= r.getLong(3),
        s"emitted pair below threshold: $r")
    }
  }

  test("q117: streaming ingest decontamination equals the q112 batch law") {
    // one law, two execution modes — the broadcast-index kernel flags
    // exactly the pairs the batch LSH join + verify flags, row for row
    val batch = SparkEntry.queries("q112_fuzzy_decontam")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val stream = SparkEntry.queries("q117_stream_decontam")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(batch.nonEmpty, "fixture lost its cross-set matches")
    assert(stream == batch,
      s"stream/batch divergence: only-stream=${stream -- batch} only-batch=${batch -- stream}")
  }

  test("q133: streaming quality gate equals the q113 batch law row-for-row") {
    val batch = SparkEntry.queries("q113_bigram_lm")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    val stream = SparkEntry.queries("q133_stream_quality")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    assert(batch.nonEmpty)
    assert(stream == batch,
      s"stream/batch divergence: only-stream=${(stream -- batch).take(3)} " +
        s"only-batch=${(batch -- stream).take(3)}")
  }

  test("q113: the familiarity gate splits the corpus, and kept is the gate") {
    val rows = SparkEntry.queries("q113_bigram_lm")(spark, sf).collect()
    val dropped = rows.count(!_.getBoolean(4))
    assert(dropped > 0, "threshold flags nothing — gate is vacuous")
    assert(dropped < rows.length, "threshold drops everything — gate is broken")
    rows.foreach { r =>
      assert(r.getBoolean(4) == (r.getLong(3) >= 320),
        s"kept disagrees with familiarity_milli: $r")
    }
  }

  // CJK-style corpus whose DISTINCT bigram count exceeds 2^20 — natural
  // multilingual text, not binary junk: 1100 ideographs, each doc i
  // interleaving char i with the full alphabet, so all 1100² ordered
  // pairs occur. Built once; shared by the q113 (batch join path) and
  // q198 (streaming bucket gate) large-charset cases.
  private lazy val cjkFixture: (Seq[(Long, String, String, String, Long)], String) = {
    import spark.implicits._
    val alpha = (0 until 1100).map(i => (0x4E00 + i).toChar)
    val docs = alpha.zipWithIndex.map { case (a, i) =>
      val sb = new StringBuilder(2 * alpha.length)
      alpha.foreach { b => sb.append(a).append(b) }
      (i.toLong, sb.toString, "zh", "s0", sb.length.toLong)
    }
    val dir = tempDir("graft_cjk").toString
    // a single FILE named documents.parquet, like the driver's fixtures:
    // the streaming source reads the dir with pathGlobFilter
    // "documents.parquet", which matches leaf file names — a directory-
    // shaped write would leave only part-*.parquet leaves and stream
    // zero rows
    val build = java.nio.file.Paths.get(dir, "_build")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(build.toString)
    val part = new java.io.File(build.toString).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(fail("fixture write produced no part file"))
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(dir, "documents.parquet"))
    (docs, dir)
  }

  test("q113: large-charset corpus scores through the distributed model " +
      "(the pre-round-12 driver-map fit refused it)") {
    // the old collect()-to-Map fit required ≤ 2^20 entries and threw on
    // this corpus; the join-path model is just a 1.21M-row table
    val (docs, dir) = cjkFixture

    // exact driver replay of the law (test-side truth — the TEST may hold
    // the 1.21M-entry map; the engine must not)
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    docs.foreach { case (_, t, _, _, _) =>
      var i = 0
      while (i < t.length - 1) {
        val bg = t.substring(i, i + 2)
        counts(bg) = counts.getOrElse(bg, 0L) + 1L
        i += 1
      }
    }
    assert(counts.size > (1 << 20),
      s"fixture charset too small to exceed the old bound: ${counts.size}")
    val cmax = counts.values.max
    val expect = docs.map { case (id, t, _, _, _) =>
      val n = (t.length - 1).toLong
      var s = 0L
      var i = 0
      while (i < t.length - 1) { s += counts(t.substring(i, i + 2)); i += 1 }
      val avg = if (n > 0) s / n else 0L
      (id, n, avg, avg * 1000L / cmax, avg * 1000L / cmax >= 320L)
    }.toSet
    val got = SparkEntry.queries("q113_bigram_lm")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    assert(got == expect,
      s"join-path scores diverge from the exact law: " +
        s"sample=${(got -- expect).take(3)}")
    // the serving contract still holds: a model this size is NOT driver
    // metadata, and the streaming serving path must refuse it loudly
    // rather than broadcast a quarter-GB map
    val e = intercept[IllegalArgumentException] {
      graft.queries.TextOps.bigramServingModel(spark, dir)
    }
    assert(e.getMessage.contains("bounded-metadata"))
  }

  test("q198: the bucket gate splits the corpus; kept is the gate") {
    val rows = SparkEntry.queries("q198_stream_bucket_quality")(spark, sf)
      .collect()
    val dropped = rows.count(!_.getBoolean(4))
    assert(dropped > 0, "threshold flags nothing — gate is vacuous")
    assert(dropped < rows.length, "threshold drops everything — gate is broken")
    rows.foreach { r =>
      assert(r.getBoolean(4) ==
        (r.getLong(3) >= graft.queries.TextOps.BucketGateThreshold),
        s"kept disagrees with familiarity_milli: $r")
    }
  }

  test("q198: large-charset corpus serves through the STREAMING bucket " +
      "gate (the deployment q133's refusing contract points at)") {
    val (docs, dir) = cjkFixture
    // independent driver replay of the bucketed law: array fold over the
    // raw text — shares only the bucket hash primitive with the engine
    // (polyHash ≡ charHash is TextHashSpec's property), not the DataFrame
    // fit or the serving kernel's loop. The corpus is BMP-only, so the
    // UTF-16 substring here equals the kernel's code-point pairs.
    val V = graft.queries.TextOps.QualityBuckets
    val bcounts = new Array[Long](V)
    docs.foreach { case (_, t, _, _, _) =>
      var i = 0
      while (i < t.length - 1) {
        bcounts(graft.queries.TextOps.qualityBucketOf(t.substring(i, i + 2))) += 1L
        i += 1
      }
    }
    val cmax = bcounts.max
    val expect = docs.map { case (id, t, _, _, _) =>
      val n = (t.length - 1).toLong
      var sSum = 0L
      var i = 0
      while (i < t.length - 1) {
        sSum += bcounts(
          graft.queries.TextOps.qualityBucketOf(t.substring(i, i + 2)))
        i += 1
      }
      val avg = if (n > 0) sSum / n else 0L
      val fam = avg * 1000L / cmax
      (id, n, avg, fam, fam >= graft.queries.TextOps.BucketGateThreshold)
    }.toSet
    val got = SparkEntry.queries("q198_stream_bucket_quality")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    assert(got == expect,
      s"bucket-gate scores diverge from the exact law: " +
        s"sample=${(got -- expect).take(3)}")
  }

  test("bigramScore kernel: code-point bigrams and model-membership " +
      "counting, matching the batch law on non-BMP text") {
    // Spark's length()/substring() index CODE POINTS: the batch fit on
    // "a😀b" yields bigrams {a😀, 😀b} (n=2). A UTF-16-unit kernel would
    // mint half-surrogate bigrams absent from the model (crash or n=3).
    val emoji = new String(Character.toChars(0x1F600)) // 😀 (non-BMP)
    val text = s"a${emoji}b"
    val model = Map(s"a$emoji" -> 3L, s"${emoji}b" -> 1L)
    assert(graft.queries.TextOps.bigramScore(model, 3L, text) ==
      ((2L, 2L, 666L))) // n=2, avg=(3+1)/2=2, 2*1000/3=666
    // a model-absent bigram drops from BOTH the count and the sum, the
    // batch inner join's behavior — never a NoSuchElementException
    assert(graft.queries.TextOps.bigramScore(
      Map(s"a$emoji" -> 3L), 3L, text) == ((1L, 3L, 1000L)))
    // degenerate inputs
    assert(graft.queries.TextOps.bigramScore(model, 3L, "") == ((0L, 0L, 0L)))
    assert(graft.queries.TextOps.bigramScore(model, 3L, emoji) == ((0L, 0L, 0L)))
  }

  test("q136: sweep is monotone, anchored at the full corpus, brackets q113") {
    val rows = SparkEntry.queries("q136_quality_sweep")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0L to 1000L by 100L).toSeq)
    // threshold 0 keeps everything
    val q113 = SparkEntry.queries("q113_bigram_lm")(spark, sf).collect()
    assert(rows.head._2 == q113.length.toLong)
    assert(rows.head._4 == 1000L)
    // retained docs AND tokens are non-increasing in the threshold
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 <= a._2 && b._3 <= a._3, s"sweep not monotone: $a -> $b")
      case _ => }
    // the q113 gate (320) is bracketed by the 300 and 400 sweep points
    val kept113 = q113.count(_.getBoolean(4)).toLong
    val at300 = rows.find(_._1 == 300L).get._2
    val at400 = rows.find(_._1 == 400L).get._2
    assert(at400 <= kept113 && kept113 <= at300,
      s"q113 kept=$kept113 outside sweep bracket [$at400, $at300]")
    // the curve is informative on the fixture: it actually decreases
    assert(rows.last._2 < rows.head._2, "sweep is flat — fixture vacuous")
  }

  test("q137: budget cutoff bites on an overflow corpus; greedy-tight per source") {
    import spark.implicits._
    // the sf0.01 fixture's token total is UNDER the 100k budget, so the
    // oracle row there never exercises the cutoff — construct a corpus
    // whose ~150k tokens overflow it and replay the law on the driver
    val rnd = new scala.util.Random(17)
    val docs = (0 until 2500).map { i =>
      val src = s"s${i % 3}"
      val n = 40 + rnd.nextInt(40)
      val text = (0 until n).map(j => s"w${rnd.nextInt(500)}").mkString(" ")
      (i.toLong, text, "en", src, text.length.toLong)
    }
    val dir = tempDir("graft_budget").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val alloc = SparkEntry.queries("q125_token_budget")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(5)).toMap
    assert(alloc.values.sum == 100000L, "apportionment must sum to the budget")
    val kept = SparkEntry.queries("q137_budget_sample")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(kept.length < docs.length, "cutoff never bit — corpus too small")

    // driver replay of the law: cum runs over ALL docs in (hash, id) order;
    // kept = cum <= alloc, so once the running total passes the allocation
    // no later doc can re-qualify (cum only grows)
    val expectPrefix = docs.groupBy(_._4).flatMap { case (src, ds) =>
      var acc = 0L
      ds.map { case (id, t, _, _, _) =>
        (id, functions.TextHash.polyHash(t), t.split(" ", -1).length.toLong)
      }.sortBy(x => (x._2, x._1)).flatMap { case (id, _, n) =>
        acc += n
        if (acc <= alloc(src)) Some((src, id, n, acc)) else None
      }
    }.toSet
    assert(kept.toSet == expectPrefix,
      s"missing=${(expectPrefix -- kept.toSet).take(3)} extra=${(kept.toSet -- expectPrefix).take(3)}")
    // greedy-tight: per source, kept tokens fit the allocation, and the
    // FIRST excluded doc in hash order would have overflowed it
    kept.groupBy(_._1).foreach { case (src, ks) =>
      assert(ks.map(_._3).sum <= alloc(src), s"$src over budget")
    }
  }

  test("q139: a planted burst token tops the drift report with exact ppm") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    // background tokens spread evenly; "burstword" appears ONLY in odd
    // (snapshot-B) docs, many times — must rank first by delta_ppm
    val docs = (0 until 200).map { i =>
      val base = (0 until 50).map(_ => s"w${rnd.nextInt(80)}")
      val toks = if (i % 2 == 1) base ++ Seq.fill(10)("burstword") else base
      (i.toLong, toks.mkString(" "), "en", "srcD", 0L)
    }
    val dir = tempDir("graft_drift").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q139_token_drift")(spark, dir).collect()
    assert(rows.length == 20)
    val top = rows.head
    assert(top.getString(0) == "burstword", s"top drift token: $top")
    assert(top.getLong(1) == 0L && top.getLong(2) == 1000L) // 100 docs x 10
    val totB = docs.filter(_._1 % 2 == 1)
      .map(_._2.split(" ", -1).length.toLong).sum
    assert(top.getLong(4) == 1000L * 1000000L / totB, s"ppm_b wrong: $top")
    assert(top.getLong(3) == 0L)
    // report is sorted by delta desc then token
    val deltas = rows.map(_.getLong(5)).toSeq
    assert(deltas == deltas.sorted.reverse)
  }

  test("q140: looped source scores collapsed diversity; fresh source near 1000") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val loopSentence = (0 until 30).map(j => s"loop$j").mkString(" ")
    val docs =
      (0 until 50).map(i => (i.toLong, loopSentence, "en", "looped", 0L)) ++
      (50 until 100).map { i =>
        val t = (0 until 30).map(j => s"f${i}_$j").mkString(" ")
        (i.toLong, t, "en", "fresh", 0L)
      }
    val dir = tempDir("graft_div").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q140_ngram_diversity")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    // driver replay with the string-hash formulation
    def replay(src: String) = {
      val grams = docs.filter(_._4 == src).flatMap(_._2.split(" ", -1)
        .sliding(3).filter(_.length == 3).map(g => functions.TextHash.polyHash(g.mkString(" "))))
      val occ = grams.groupBy(identity).view.mapValues(_.size.toLong)
      val (ng, nd) = (grams.size.toLong, occ.size.toLong)
      val ns = occ.values.count(_ == 1L).toLong
      (ng, nd, ns, nd * 1000 / ng, ns * 1000 / nd)
    }
    assert(rows("looped") == replay("looped"), s"looped: ${rows("looped")}")
    assert(rows("fresh") == replay("fresh"))
    // the signal: 50 identical docs collapse to 28 distinct trigrams
    // (diversity 20 milli, zero singletons); fresh text is all singletons
    assert(rows("looped")._4 < 50L && rows("looped")._5 == 0L)
    assert(rows("fresh")._4 == 1000L && rows("fresh")._5 == 1000L)
  }

  test("q159: content-hash folds never leak; row-id folds provably do") {
    import spark.implicits._
    // 30 dup groups of size 3 with consecutive ids (0,1,2 -> three folds
    // under id%5) + clean singletons: id folds MUST leak every group,
    // content folds none
    val docs = (0 until 30).flatMap { g =>
      val text = s"duplicate group $g payload " + ("x " * (g % 7 + 3)).trim
      (0 until 3).map(j => ((g * 3 + j).toLong, text))
    } ++ (90 until 130).map(i => (i.toLong, s"unique doc $i"))
    val dir = tempDir("graft_fold").toString
    docs.map { case (id, t) => (id, t, "en", "srcF", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q159_fold_leakage")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // the structural law: a dup group shares ONE content hash, so the
    // content-hash fold of every member is identical — leakage 0 always
    assert(rows("content_hash") == ((30L, 0L, 0L)), s"${rows("content_hash")}")
    // consecutive-id triples span 3 distinct id-folds — every group leaks
    assert(rows("doc_id") == ((30L, 30L, 90L)), s"${rows("doc_id")}")
  }

  test("q152: PageRank equals a driver replay; a star center dominates its leaves") {
    val pairs = SparkEntry.queries("q35_jaccard_pairs")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    var rank: Map[Long, Long] = deg.keys.map(_ -> 1000L).toMap
    (1 to 5).foreach { _ =>
      rank = edges.groupBy(_._2).view.mapValues { ins =>
        150L + 850L * ins.map { case (u, _) => rank(u) / deg(u) }.sum / 1000L
      }.toMap
    }
    val expect = rank.toSeq.map { case (v, r) => (v, deg(v), r) }
      .sortBy { case (v, _, r) => (-r, v) }.take(20)
    val got = SparkEntry.queries("q152_pagerank")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect, s"got=${got.take(3)} expect=${expect.take(3)}")
    // structural sanity: a STAR center must outrank its leaves under this
    // law (leaves split the center's mass k ways; the center collects k
    // whole shares). The fixture graph is symmetric cliques/pairs (every
    // node converges to ~1000), so prove the hub property on a driver
    // replay of a constructed star instead of asserting it of the fixture.
    val starEdges = (1L to 8L).flatMap(l => Seq((0L, l), (l, 0L)))
    val sdeg = starEdges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    var sr: Map[Long, Long] = sdeg.keys.map(_ -> 1000L).toMap
    (1 to 5).foreach { _ =>
      sr = starEdges.groupBy(_._2).view.mapValues { ins =>
        150L + 850L * ins.map { case (u, _) => sr(u) / sdeg(u) }.sum / 1000L
      }.toMap
    }
    assert(sr(0L) > (1L to 8L).map(sr).max,
      s"star center does not dominate: $sr")
  }

  test("q150: dense corpus forces false positives; measured FPR is exact") {
    import spark.implicits._
    // 40k docs -> ~35k member fingerprints -> per-row fill ~0.42 ->
    // expected FPR ~3%: the harness must MEASURE it, not report zero
    val docs = (0 until 40000).map(i => (i.toLong, s"doc number $i", "en", "srcB", 0L))
    val dir = tempDir("graft_bloom").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q150_bloom_fpr")(spark, dir).collect()(0)
    val (nMem, nBits, nNon, nFp) =
      (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4))
    // driver replay with the same laws
    val P = functions.TextHash.P
    def fp(t: String) = functions.TextHash.polyHash(t.trim.toLowerCase)
    val corpus = docs.filter(_._1 % 8 != 0).map(d => fp(d._2)).toSet
    val batch = docs.filter(_._1 % 8 == 0).map(d => fp(d._2)).toSet
    val nonm = batch -- corpus
    def bucket(j: Int, h: Long) =
      ((104729L * (j + 1)) % P * h + (15485863L * (j + 1)) % P) % P % 65536L
    val bits = (for (h <- corpus; j <- 0 until 4) yield (j, bucket(j, h))).toSet
    val fps = nonm.count(h => (0 until 4).forall(j => bits((j, bucket(j, h)))))
    assert(nMem == corpus.size.toLong && nBits == bits.size.toLong)
    assert(nNon == nonm.size.toLong)
    assert(nFp == fps.toLong, s"measured $nFp != replayed $fps")
    assert(nFp > 0, "dense corpus produced no FPs — harness not exercised")
    assert(r.getLong(5) == nFp * 1000000 / nNon)
  }

  test("q141: CMS is one-sided, mass-conserving, and matches a driver replay") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    // zipf-ish counts over a 3000-type vocabulary — enough types that the
    // 256-bucket rows MUST collide (overcount becomes observable), with a
    // clear head the top-20 must rank exactly
    val docs = (0 until 300).map { i =>
      val toks = (0 until 100).map { _ =>
        val r = rnd.nextInt(1000)
        if (r < 300) s"hot${r % 10}" else s"cold${rnd.nextInt(3000)}"
      }
      (i.toLong, toks.mkString(" "), "en", "srcC", 0L)
    }
    val dir = tempDir("graft_cms").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // driver replay of the sketch law
    val P = functions.TextHash.P
    val (d_, w_, a_, b_) = (4, 256L, 104729L, 15485863L)
    val counts = docs.flatMap(_._2.split(" ", -1)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val n = counts.values.sum
    def bucket(j: Int, h: Long) = ((a_ * (j + 1)) % P * h + (b_ * (j + 1)) % P) % P % w_
    val cells = scala.collection.mutable.HashMap.empty[(Int, Long), Long]
    counts.foreach { case (tok, c) =>
      val h = functions.TextHash.polyHash(tok)
      (0 until d_).foreach(j => cells((j, bucket(j, h))) =
        cells.getOrElse((j, bucket(j, h)), 0L) + c)
    }
    // mass conservation: every row carries the full token mass
    (0 until d_).foreach { j =>
      assert(cells.collect { case ((`j`, _), c) => c }.sum == n) }
    def est(tok: String): Long = {
      val h = functions.TextHash.polyHash(tok)
      (0 until d_).map(j => cells.getOrElse((j, bucket(j, h)), 0L)).min
    }
    // one-sided error over the WHOLE vocabulary, and collisions observable
    counts.foreach { case (t, c) => assert(est(t) >= c, s"undercount on $t") }
    assert(counts.count { case (t, c) => est(t) > c } > 0,
      "no collisions — the sketch bound is not being exercised")

    val rows = SparkEntry.queries("q141_cms_topk")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expectTop = counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(20)
      .map { case (t, c) => (t, c, est(t), est(t) - c) }
    assert(rows.toSeq == expectTop, s"got=${rows.take(3).toSeq} expect=${expectTop.take(3)}")
  }

  test("q142: derived blocklist fires, counts overlapping occurrences exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    // "spam spam" dominates by construction; clean docs use pair-unique
    // vocabularies so no other bigram can reach the top-5
    val docs =
      (0 until 20).map { i => // spam docs: runs of the banned token
        val run = Seq.fill(4 + rnd.nextInt(4))("spam")
        val filler = (0 until 10).map(j => s"c${i}_$j")
        (i.toLong, (filler.take(5) ++ run ++ filler.drop(5)).mkString(" "))
      } ++
      (20 until 60).map { i =>
        (i.toLong, (0 until 15).map(j => s"u${i}_$j").mkString(" "))
      }
    val dir = tempDir("graft_gate").toString
    docs.map { case (id, t) => (id, t, "en", "srcG", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // derive the expected top-5 blocklist and per-doc counts on the driver
    val allBg = docs.flatMap { case (id, t) =>
      t.split(" ", -1).sliding(2).filter(_.length == 2)
        .map(p => (id, p.mkString(" "))) }
    val top5 = allBg.groupBy(_._2).view.mapValues(_.size).toSeq
      .sortBy { case (bgm, c) => (-c, bgm) }.take(5).map(_._1).toSet
    assert(top5.contains("spam spam"), s"planted phrase missed: $top5")
    val expect = docs.map { case (id, _) =>
      (id, allBg.count(x => x._1 == id && top5.contains(x._2)).toLong)
    }.toMap
    val rows = SparkEntry.queries("q142_phrase_gate")(spark, dir).collect()
    rows.foreach { r =>
      val want = expect(r.getLong(0))
      assert(r.getLong(1) == want && r.getBoolean(2) == (want > 0),
        s"doc ${r.getLong(0)}: got ${r.getLong(1)}, want $want")
    }
    // overlap law: a run of k 'spam' tokens carries k-1 occurrences, so a
    // 4-token run must count 3 (not 2 non-overlapping)
    val run4 = docs.find(_._2.split(" ").count(_ == "spam") == 4)
    run4.foreach { case (id, _) => assert(expect(id) >= 3L) }
    assert(rows.count(_.getBoolean(2)) >= 20, "spam docs all flagged")
  }

  test("q144: stages are equal-size, familiarity-monotone, token-complete") {
    val rows = SparkEntry.queries("q144_curriculum")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0L until 10L))
    // equal-size by rank: stage sizes differ by at most 1
    val sizes = rows.map(_._2)
    assert(sizes.max - sizes.min <= 1L, s"unbalanced stages: ${sizes.toSeq}")
    // easy->hard: familiarity ranges are non-increasing across stages
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._4 <= a._4 && b._3 <= a._3,
        s"stage ${b._1} harder-bound above stage ${a._1}")
      case _ => }
    // completeness: stage docs/tokens add up to the q113 universe
    val q113 = SparkEntry.queries("q113_bigram_lm")(spark, sf).collect()
    assert(sizes.sum == q113.length.toLong)
    val tok = SparkEntry.queries("q136_quality_sweep")(spark, sf).collect()
      .find(_.getLong(0) == 0L).get.getLong(2) // t=0 keeps all tokens
    assert(rows.map(_._5).sum == tok)
  }

  test("q145: a planted rigid phrase tops the list; frequent-independent pairs don't") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    // "pine apple" only ever occur together; "the"/"cat" are frequent but
    // combine with everything — the phrase score must separate them
    val docs = (0 until 200).map { i =>
      val toks = (0 until 40).flatMap { _ =>
        rnd.nextInt(10) match {
          case 0 => Seq("pine", "apple")
          case 1 | 2 => Seq("the", Seq("cat", "dog", "fox")(rnd.nextInt(3)))
          case _ => Seq(s"w${rnd.nextInt(200)}")
        }
      }
      (i.toLong, toks.mkString(" "), "en", "srcP", 0L)
    }
    val dir = tempDir("graft_coll").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // driver replay
    val all = docs.map(_._2.split(" ", -1).toSeq)
    val uni = all.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = all.map(_.size).sum.toLong
    val bg = all.flatMap(ts => ts.sliding(2).filter(_.length == 2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.size.toLong).filter(_._2 > 5)
    val expect = bg.toSeq.map { case ((a, b), cab) =>
      (a, b, cab, uni(a), uni(b), (cab - 5) * n * 1000 / (uni(a) * uni(b)))
    }.sortBy { case (a, b, _, _, _, sc) => (-sc, a, b) }.take(20)
    val got = SparkEntry.queries("q145_collocations")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect, s"got=${got.take(3)} expect=${expect.take(3)}")
    // the rigid phrase ranks strictly above the frequent-independent pair
    val pineRank = got.indexWhere(r => r._1 == "pine" && r._2 == "apple")
    val theRank = got.indexWhere(r => r._1 == "the")
    assert(pineRank == 0, s"planted phrase not top: rank $pineRank")
    assert(theRank == -1 || theRank > pineRank,
      "frequent-independent pair outranks the rigid phrase")
  }

  test("q146: a transitive chain scores 666 milli; a clique scores 1000") {
    import spark.implicits._
    // chain: A~B and B~C clear J>=0.7 but A~C is 0.538 — the over-merge
    // shape. Shingle arithmetic: B = b1..b102 (100 shingles); A shares
    // b1..b87 (85 shingles) + 15 own; C shares b16..b102 (85) + 15 own;
    // A∩C is the b16..b87 interior = 70 shingles -> J = 70/130 < 0.7.
    val bToks = (1 to 102).map(j => s"b$j")
    val a = (bToks.take(87) ++ (1 to 15).map(j => s"a$j")).mkString(" ")
    val b = bToks.mkString(" ")
    val c = (bToks.drop(15) ++ (1 to 15).map(j => s"c$j")).mkString(" ")
    val clique = (1 to 40).map(j => s"q$j").mkString(" ")
    val docs = Seq(
      (0L, a), (1L, b), (2L, c),
      (10L, clique), (11L, clique), (12L, clique)) ++
      (20 until 40).map(i => (i.toLong, (0 until 30).map(j => s"z${i}_$j").mkString(" ")))
    val dir = tempDir("graft_dens").toString
    docs.map { case (id, t) => (id, t, "en", "srcD", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // sanity: the pair table has exactly the chain's 2 edges + clique's 3
    val pairs = SparkEntry.queries("q35_jaccard_pairs")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L), (1L, 2L), (10L, 11L), (10L, 12L), (11L, 12L)),
      s"constructed edges off: $pairs")
    val rows = SparkEntry.queries("q146_cluster_density")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set(0L, 10L))
    assert(rows(0L) == ((3L, 2L, 666L)), s"chain: ${rows(0L)}") // 2*2000/6
    assert(rows(10L) == ((3L, 3L, 1000L)), s"clique: ${rows(10L)}")
  }

  test("q114: PQ-ADC top-k approximates exact-L2 top-k with bounded loss") {
    import spark.implicits._
    // brute-force exact truth, same candidate universe as q114 (zero-norm
    // vectors excluded on both sides)
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .filter { case (_, v) => v.exists(_ != 0f) }
    val exact = all.filter(_._1 < 10).flatMap { case (qid, q) =>
      all.filter(_._1 != qid).map { case (vid, v) =>
        var acc = 0.0; var i = 0
        while (i < q.length) {
          val dd = q(i).toDouble - v(i).toDouble; acc += dd * dd; i += 1
        }
        (qid, vid, acc)
      }.sortBy(t => (t._3, t._2)).take(5).map(t => (qid, t._2))
    }.toSet
    val pq = SparkEntry.queries("q114_pq_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(exact.nonEmpty && pq.nonEmpty)
    val recall = (exact & pq).size.toDouble / exact.size
    // the raw 4×16 ADC ranking measured 0.2 recall@5 on this fixture — the
    // R=50 shortlist + exact rerank is what buys the quality back; a floor
    // guards the two-stage law (1.0 is not forced: a true neighbor outside
    // the ADC shortlist is legitimately missed)
    assert(recall >= 0.6, f"PQ shortlist+rerank recall@5 collapsed to $recall%.2f")
    val perQuery = SparkEntry.queries("q114_pq_topk")(spark, sf).collect()
      .groupBy(_.getLong(0)).map(_._2.length)
    assert(perQuery.forall(_ <= 5))
  }

  test("q119: importance weights separate target from raw; kept is the gate") {
    val rows = SparkEntry.queries("q119_dsir_weights")(spark, sf).collect()
    val (tgt, raw) = rows.partition(_.getBoolean(4))
    assert(tgt.nonEmpty && raw.nonEmpty, "fixture lost its target source")
    // the whole point of importance weighting: docs FROM the target
    // distribution must score higher under it than the raw pool does
    def meanScore(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getLong(3)).sum.toDouble / rs.length
    assert(meanScore(tgt) > meanScore(raw),
      f"target mean ${meanScore(tgt)}%.0f not above raw ${meanScore(raw)}%.0f")
    // the gate actually splits the raw pool (not vacuous either way) and
    // kept is exactly the self-calibrating law: target, or raw strictly
    // above the raw pool's mean score
    val rawKept = raw.count(_.getBoolean(5))
    assert(rawKept > 0 && rawKept < raw.length,
      s"gate is vacuous on the raw pool: $rawKept of ${raw.length}")
    val thr = raw.map(_.getLong(3)).sum / raw.length
    rows.foreach { r =>
      assert(r.getBoolean(5) == (r.getBoolean(4) || r.getLong(3) > thr),
        s"kept disagrees with the mean-relative law (thr=$thr): $r")
    }
  }

  test("q119: serving plan is joinless after the broadcast model fit") {
    // like q113: the model is driver metadata by the hashed-feature
    // contract; the SERVED query (scoring pass) must not join or shuffle
    // the corpus
    val df = SparkEntry.queries("q119_dsir_weights")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"scoring pass joins:\n$p")
    assert(!p.contains("HashAggregate"), s"scoring pass aggregates:\n$p")
  }

  test("q121: per-source novelty budget keeps exactly floor(n/10) docs") {
    val rows = SparkEntry.queries("q121_novelty_select")(spark, sf).collect()
    val bySrc = rows.groupBy(_.getString(1))
    assert(bySrc.size > 1)
    bySrc.foreach { case (src, rs) =>
      val kept = rs.count(_.getBoolean(6))
      assert(kept == rs.length / 10,
        s"$src kept $kept of ${rs.length}, expected ${rs.length / 10}")
    }
    // novelty law: milli fraction of corpus-unique distinct windows
    rows.foreach { r =>
      val (nd, nu, nov) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nu <= nd, s"unique > distinct: $r")
      assert(nov == (if (nd == 0) 1000L else 1000L * nu / nd),
        s"novelty law violated: $r")
    }
    // and the budget selects BY novelty: every kept doc's novelty is >=
    // every dropped doc's within its source, up to the doc_id tie-break
    bySrc.foreach { case (_, rs) =>
      val (kept, dropped) = rs.partition(_.getBoolean(6))
      if (kept.nonEmpty && dropped.nonEmpty)
        assert(kept.map(_.getLong(4)).min >= dropped.map(_.getLong(4)).max,
          "a dropped doc out-novels a kept one")
    }
  }

  test("q125: apportionment sums exactly to the budget, off-by-one per source") {
    val rows = SparkEntry.queries("q125_token_budget")(spark, sf).collect()
    assert(rows.length > 1)
    // the whole point of largest-remainder: allocations sum EXACTLY to B
    assert(rows.map(_.getLong(5)).sum == 100000L,
      s"allocs sum to ${rows.map(_.getLong(5)).sum}, not the budget")
    // each source gets its floor quota plus at most one remainder token
    rows.foreach { r =>
      val bump = r.getLong(5) - r.getLong(2)
      assert(bump == 0L || bump == 1L, s"alloc - quota out of {0,1}: $r")
    }
    // remainder tokens go to the LARGEST remainders: every bumped source's
    // remainder >= every unbumped source's (ties broken by source name)
    val (bumped, flat) = rows.partition(r => r.getLong(5) > r.getLong(2))
    if (bumped.nonEmpty && flat.nonEmpty)
      assert(bumped.map(_.getLong(3)).min >= flat.map(_.getLong(3)).max,
        "a smaller remainder was bumped over a larger one")
  }

  test("q126: sketch estimate tracks true vocabulary Jaccard") {
    import spark.implicits._
    val vocab = Tables.documents(spark, sf)
      .select(col("source"), explode(split(col("text"), " ", -1)).as("tok"))
      .distinct().as[(String, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rows = SparkEntry.queries("q126_source_sketch")(spark, sf).collect()
    assert(rows.length == vocab.size * (vocab.size - 1) / 2,
      "matrix is not the full source-pair triangle")
    val errs = rows.map { r =>
      val (a, b) = (vocab(r.getString(0)), vocab(r.getString(1)))
      val truth = 1000.0 * (a & b).size / (a | b).size
      math.abs(r.getLong(3) - truth)
    }
    // 64 hashes -> sigma ~ 60 milli near J=0.5; the MEAN error over 190
    // pairs must sit well inside it or the hash family is broken
    val mae = errs.sum / errs.length
    assert(mae <= 80.0, f"sketch MAE $mae%.0f milli — estimator broken")
  }

  test("q128: constructed corpus exercises all three verdicts + precedence") {
    import spark.implicits._
    // the fixture has near+new arrivals but (below sf0.1) no exact copy
    // crossing the 400 boundary, so the exact arm and its precedence over
    // near are pinned here on a constructed corpus
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lam mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "one two three four five six"
    val variant = base.split(" ").updated(14, "CHANGED").mkString(" ")
    val docs = Seq(
      (0L, base, "en", "srcA", base.length.toLong),
      (1L, "totally different text about completely other things entirely " +
        "with many words that never repeat anywhere else at all", "en",
        "srcA", 100L),
      (400L, base.toUpperCase, "en", "srcB", base.length.toLong), // exact after lower()
      (401L, variant, "en", "srcB", variant.length.toLong),       // near of 0
      (402L, "and now for something utterly unlike any existing document " +
        "in this tiny corpus of ours today", "en", "srcB", 90L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("ingest_dedup").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q128_ingest_dedup")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3))).toMap
    // 400 is BOTH an exact copy and a trivial near-dup of 0: exact wins
    assert(out(400L) == (("exact", 0L, 1L)), s"got ${out(400L)}")
    assert(out(401L)._1 == "near" && out(401L)._2 == 0L, s"got ${out(401L)}")
    assert(out(402L) == (("new", -1L, 0L)), s"got ${out(402L)}")
  }

  test("q129: two-iteration training strictly improves the objective") {
    import spark.implicits._
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .filter { case (_, v) => v.exists(_ != 0.0f) }
    def cos(a: Array[Float], c: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nc = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * c(i); na += a(i).toDouble * a(i)
        nc += c(i).toDouble * c(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nc))
    }
    // driver replay of the full two-step law, float rounding included
    def step(cents: Map[Long, Array[Float]]): Map[Long, (Array[Long], Long)] = {
      val ids = cents.keys.toArray.sorted
      val agg = scala.collection.mutable.Map.empty[Long, (Array[Long], Long)]
      all.foreach { case (_, v) =>
        val best = ids.maxBy(id => (cos(v, cents(id)), -id))
        val (sums, n) = agg.getOrElseUpdate(best, (new Array[Long](64), 0L))
        var i = 0
        while (i < 64) {
          sums(i) += math.floor(v(i).toDouble * 1000000.0).toLong; i += 1
        }
        agg(best) = (sums, n + 1)
      }
      agg.toMap
    }
    def means(s: Map[Long, (Array[Long], Long)]): Map[Long, Array[Float]] =
      s.map { case (id, (sums, n)) =>
        id -> sums.map(x => (x.toDouble / (1000000.0 * n)).toFloat)
      }
    val cb0 = all.filter(_._1 < 16).map { case (id, v) => id -> v }.toMap
    val expect = step(means(step(cb0)))
    val got = SparkEntry.queries("q129_kmeans_train")(spark, sf).collect()
      .groupBy(_.getLong(0)).map { case (cid, rs) =>
        val dims = rs.sortBy(_.getInt(1))
        cid -> (dims.map(_.getLong(2)), dims.head.getLong(3))
      }
    assert(got.keySet == expect.keySet)
    got.foreach { case (cid, (sums, n)) =>
      assert(n == expect(cid)._2, s"cluster $cid member count")
      assert(sums.sameElements(expect(cid)._1), s"cluster $cid sums diverge")
    }
    // and the training LOOP helps: objective after two steps beats the seed
    def objective(cents: Map[Long, Array[Float]]): Double =
      all.map { case (_, v) => cents.values.map(c => cos(v, c)).max }.sum
    assert(objective(means(expect)) > objective(cb0),
      "two Lloyd steps did not improve the assignment objective")
  }

  test("q130: fertility is >= 1000 milli and consistent with q104 totals") {
    val rows = SparkEntry.queries("q130_tokenizer_fertility")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // a word is never fewer than one subword, so fertility >= 1000
      assert(r.getLong(3) >= 1000L, s"fertility under 1000 milli: $r")
      assert(r.getLong(2) >= r.getLong(1), s"fewer subwords than words: $r")
    }
    // the per-source totals must re-aggregate q104's per-doc counts
    val q104Total = SparkEntry.queries("q104_bpe_tokens")(spark, sf).collect()
      .map(_.getLong(1)).sum
    assert(rows.map(_.getLong(2)).sum == q104Total,
      "fertility subword totals diverge from q104's per-doc counts")
  }

  test("q131: each source trims exactly n/20 short and n/20 long docs") {
    val rows = SparkEntry.queries("q131_length_trim")(spark, sf).collect()
    rows.groupBy(_.getString(1)).foreach { case (src, rs) =>
      val n = rs.length
      val short = rs.filter(_.getString(5) == "short")
      val long = rs.filter(_.getString(5) == "long")
      assert(short.length == n / 20, s"$src short count ${short.length} != ${n / 20}")
      assert(long.length == n / 20, s"$src long count ${long.length} != ${n / 20}")
      // the trim is BY LENGTH: every short doc <= every kept doc <= every
      // long doc in token count
      val kept = rs.filter(_.getString(5) == "kept").map(_.getLong(2))
      if (short.nonEmpty) assert(short.map(_.getLong(2)).max <= kept.min)
      if (long.nonEmpty) assert(long.map(_.getLong(2)).min >= kept.max)
    }
  }

  test("q132: the energy channel reads same-distribution halves as stable") {
    val rows = SparkEntry.queries("q132_embedding_drift")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val mean = r.getLong(3)
      val energy = r.getLong(4)
      assert(mean <= 1000L && mean >= -1000L, s"mean cosine out of range: $r")
      assert(energy <= 1000L && energy >= -1000L, s"energy cosine out of range: $r")
      // the ALARM channel: even/odd halves of one run are the same
      // distribution, so the energy profile must read near 1 for every
      // label — ~850+ at these half-sizes (~25 vectors: per-dim energy
      // noise ~sqrt(2/n) puts the cosine at 0.89-0.94; it → 1000 as n
      // grows). The mean channel is legitimately noisy on zero-mean
      // labels — that asymmetry is the reason the monitor carries both.
      assert(energy >= 850L,
        s"same-distribution halves read as drifted ($energy milli): $r")
      assert(r.getLong(1) > 0 && r.getLong(2) > 0)
    }
    // and the channels are genuinely different statistics: on this
    // zero-mean fixture every label's energy reading must dominate the
    // noisiest mean reading
    assert(rows.map(_.getLong(4)).min > rows.map(_.getLong(3)).max,
      "energy channel does not dominate the mean channel on zero-mean data")
  }

  test("q114: ADC scan is joinless; the rerank join broadcasts the shortlist") {
    val df = SparkEntry.queries("q114_pq_topk")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"degenerated:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"degenerated:\n$p")
    // exactly one join in the serving plan — the candidate-bounded rerank —
    // and it must broadcast the shortlist side, never shuffle the corpus
    assert(p.contains("BroadcastHashJoin"), s"shortlist not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"rerank degenerated to a corpus shuffle join:\n$p")
  }
}

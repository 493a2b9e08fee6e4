package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.{CleanFunctions, TextHash}
import graft.operators.Operators

/** Property-style invariants (SURVEY §5.2) over generated inputs: sentinel
  * algebra totality, cleaner idempotence, normalizer output alphabet, hash
  * range, dedup idempotence. Samples are drawn from ScalaCheck generators
  * with a fixed seed so failures reproduce. */
class PropertySpec extends SparkSpec {

  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): List[A] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(42L)).getOrElse(Nil)

  private val messyString: Gen[String] =
    Gen.listOf(Gen.frequency(
      (5, Gen.alphaNumChar), (2, Gen.const(' ')), (1, Gen.const('\t')),
      (1, Gen.oneOf('-', '(', ')', '+', '.', '@')))).map(_.mkString)

  test("polyHash stays in [0, P) and is deterministic") {
    val ss = samples(messyString, 200)
    ss.foreach { s =>
      val h = TextHash.polyHash(s)
      assert(h >= 0 && h < TextHash.P)
      assert(h == TextHash.polyHash(s))
    }
  }

  test("cleanText is idempotent and never widens whitespace") {
    val df = samples(messyString, 150).toDF("s")
      .select(CleanFunctions.cleanText($"s").as("once"))
      .select($"once", CleanFunctions.cleanText($"once").as("twice"))
    df.collect().foreach { r =>
      assert(r.getString(0) == r.getString(1), s"not idempotent on ${r.getString(0)}")
      assert(!r.getString(0).contains("  "))
    }
  }

  test("N/A codec: naToNull ∘ nullToNa is identity on canonical values") {
    val canonical = samples(Gen.alphaNumStr.suchThat(s => s.nonEmpty && s != "N/A"), 100)
    val df = canonical.toDF("s")
      .select($"s", CleanFunctions.naToNull(CleanFunctions.nullToNa($"s")).as("rt"))
    df.collect().foreach(r => assert(r.getString(0) == r.getString(1)))
    // and the sentinel itself always maps to null
    val na = Seq("N/A", "", "   ", null.asInstanceOf[String]).toDF("s")
      .select(CleanFunctions.naToNull($"s"))
    assert(na.collect().forall(_.isNullAt(0)))
  }

  test("normalizePhone emits only digits and dashes, or null") {
    val df = samples(messyString, 200).toDF("s")
      .select(CleanFunctions.normalizePhone($"s").as("p"))
    df.collect().foreach { r =>
      if (!r.isNullAt(0)) {
        val p = r.getString(0)
        assert(p.matches("[0-9-]+"), s"bad alphabet: $p")
        assert(p.replaceAll("-", "").length >= 10)
      }
    }
  }

  test("prefix-filtered Jaccard pairs == brute-force all-pairs (adversarial corpus)") {
    // adversarial shape for the SSJoin/PPJoin prefix lemma implementation:
    // tiny vocabulary (everything hot), a viral preamble shared by half the
    // corpus, exact duplicates (class-collapse path), and near-dup edit
    // copies — the result must be IDENTICAL to brute force
    val vocab = Vector("data", "spark", "join", "scan", "sort", "row", "key", "agg")
    val rnd = new scala.util.Random(7)
    val base = (0 until 40).map { i =>
      val n = 3 + rnd.nextInt(25)
      (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val edited = base.take(10).map { t => // near-dups: one token appended
      t + " " + vocab(rnd.nextInt(vocab.size))
    }
    val texts0 = (base ++ base.take(8) ++ edited).zipWithIndex.map { case (t, i) =>
      if (i % 2 == 0) "breaking viral update now " + t else t
    }
    val docs = texts0.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "srcT", t.length.toLong) }
    val dir = tempDir("graft_prop").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // brute force with the same hash law (polyHash of "a b c" 3-grams)
    val sets: Map[Long, Set[Long]] = docs.map { case (id, t, _, _, _) =>
      val toks = t.split(" ", -1)
      id -> toks.sliding(3).filter(_.length == 3)
        .map(g => TextHash.polyHash(g.mkString(" "))).toSet
    }.toMap
    val expect = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
      if a < b && sa.nonEmpty && sb.nonEmpty
      inter = (sa & sb).size.toLong
      uni = sa.size + sb.size - inter
      if inter * 10 >= uni * 7
    } yield (a, b, inter, uni)).toSet

    val got = SparkEntry.queries("q35_jaccard_pairs")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expect,
      s"missing=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
    assert(expect.nonEmpty, "generator produced no qualifying pairs — test is vacuous")
  }

  test("q135 LSH recall curve == brute-force replay across Jaccard deciles") {
    // the fixture corpus lands every true pair in one decile, so construct
    // a corpus that exercises the whole S-curve: for m=30-token docs with
    // pair-unique vocabularies, sharing a p-token prefix yields
    // J = (p-2)/(2(m-2)-(p-2)) — p=26→0.750 (decile 7), p=27→0.806 and
    // p=28→0.867 (decile 8), p=29→0.931 (decile 9), exact copy → decile 10.
    // Cross-pair J is 0 (disjoint vocabularies), so the truth set is
    // exactly the constructed pairs.
    val m = 30
    val specs = Seq.tabulate(12)(i => (i, Seq(26, 27, 28, 29, 30)(i % 5)))
    val docs = specs.flatMap { case (g, p) =>
      val toksA = (0 until m).map(j => s"t${g}_$j")
      val toksB = toksA.take(p) ++ (0 until (m - p)).map(j => s"u${g}_$j")
      Seq((2L * g, toksA.mkString(" ")), (2L * g + 1, toksB.mkString(" ")))
    }
    val dir = tempDir("graft_lsh_prop").toString
    docs.map { case (id, t) => (id, t, "en", "srcL", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // brute-force truth + band-match with the SAME laws (polyHash 3-gram
    // sets; bandSigsOf is order-independent, so Seq order doesn't matter)
    val sets: Map[Long, Set[Long]] = docs.map { case (id, t) =>
      id -> t.split(" ", -1).sliding(3).filter(_.length == 3)
        .map(g => TextHash.polyHash(g.mkString(" "))).toSet
    }.toMap
    val expectRows = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
      if a < b && sa.nonEmpty && sb.nonEmpty
      inter = (sa & sb).size.toLong
      uni = sa.size + sb.size - inter
      if inter * 10 >= uni * 7
    } yield {
      val found = queries.TextOps.bandSigsOf(sa.toSeq)
        .zip(queries.TextOps.bandSigsOf(sb.toSeq)).exists(x => x._1 == x._2)
      ((inter * 1000 / uni) / 100, found)
    }).groupBy(_._1).toSeq.map { case (dec, fs) =>
      val nf = fs.count(_._2).toLong
      (dec, fs.length.toLong, nf, nf * 1000 / fs.length)
    }.sortBy(_._1)
    assert(expectRows.map(_._1).toSet.size >= 4,
      s"generator must span >=4 deciles, got ${expectRows.map(_._1)}")

    val got = SparkEntry.queries("q135_lsh_recall")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expectRows, s"got=$got expect=$expectRows")
    // the curve must be informative: decile 10 (exact copies — identical
    // signatures) is always found; SOME lower-decile miss should exist or
    // the S-curve story is vacuous at this geometry. 1-(1-J^2)^4 at J=0.75
    // is ~0.91, so with 3+ pairs at decile 7 a miss is likely but not
    // guaranteed — assert only the sure half.
    assert(got.find(_._1 == 10L).exists(_._4 == 1000L))
  }

  test("q153 z-order buckets bound BOTH dims; single-column sort bounds one") {
    val sf001 = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q153_zorder_layout")(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length == 16)
    val oSpanFull = rows.map(_._4).max - rows.map(_._3).min
    val pSpanFull = rows.map(_._6).max - rows.map(_._5).min
    rows.foreach { case (b, _, omin, omax, pmin, pmax) =>
      // the 4x4 grid: each bucket covers ~1/4 of each dimension (slack for
      // the integer normalization boundaries)
      assert((omax - omin) * 10 <= oSpanFull * 3,
        s"bucket $b o-span ${omax - omin} not local vs $oSpanFull")
      assert((pmax - pmin) * 10 <= pSpanFull * 3,
        s"bucket $b p-span ${pmax - pmin} not local vs $pSpanFull")
    }
    // contrast: bucket the same table by a SINGLE-column sort (16 equal
    // o-ranges) — the second dimension stays full-width in every bucket,
    // which is exactly what z-ordering fixes
    val li = graft.Tables.lineitem(spark, sf001)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val (oMin, oMax) = (li.map(_._1).min, li.map(_._1).max)
    val single = li.groupBy { case (o, _) =>
      math.min(15L, (o - oMin) * 16 / math.max(oMax - oMin, 1)) }
    val wideP = single.values.count { g =>
      val ps = g.map(_._2)
      (ps.max - ps.min) * 10 > pSpanFull * 8
    }
    assert(wideP >= 14,
      s"single-column sort unexpectedly bounded p in ${16 - wideP} buckets")
  }

  test("q155 sample has no orphans and keeps every child of a kept parent") {
    val sf001 = "/root/testdata/sf0.001"
    val keptOrders = graft.Tables.orders(spark, sf001)
      .filter(pmod(col("o_orderkey"), lit(10L)) === 0)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val keptLines = graft.Tables.lineitem(spark, sf001)
      .filter(pmod(col("l_orderkey"), lit(10L)) === 0)
      .select("l_orderkey").collect().map(_.getLong(0))
    assert(keptLines.nonEmpty && keptOrders.nonEmpty)
    // no orphan children: every sampled line's parent is in the sample
    assert(keptLines.forall(keptOrders.contains), "sample orphaned a child")
    // completeness: every line of a kept order is kept (the filter is a
    // pure function of the parent key, so nothing else can be dropped)
    val allLinesOfKept = graft.Tables.lineitem(spark, sf001)
      .filter(col("l_orderkey").isin(keptOrders.toSeq: _*)).count()
    assert(allLinesOfKept == keptLines.length.toLong)
    // and the q155 report's counts agree
    val r = SparkEntry.queries("q155_consistent_sample")(spark, sf001)
      .collect()(0)
    assert(r.getLong(1) == keptOrders.size.toLong)
    assert(r.getLong(2) == keptLines.length.toLong)
  }

  test("q143 contract audit catches planted corruption") {
    // copy the sf0.001 warehouse, then corrupt it: duplicate a customer
    // key, orphan an order, delete an embedding — every planted defect
    // must surface in exactly the right check with the right count
    val src = "/root/testdata/sf0.001"
    val dir = tempDir("graft_audit").toString
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val before = SparkEntry.queries("q143_contract_audit")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // corrupt: +1 dup customer, +2 orphan orders, -1 embedding
    val cu = spark.read.parquet(s"$dir/customer.parquet")
    cu.union(cu.limit(1)).write.mode("overwrite")
      .parquet(s"$dir/customer2.parquet")
    val or_ = spark.read.parquet(s"$dir/orders.parquet")
    or_.union(or_.limit(2).withColumn("o_custkey", lit(-999L)
        .cast(or_.schema("o_custkey").dataType)))
      .write.mode("overwrite").parquet(s"$dir/orders2.parquet")
    val em = spark.read.parquet(s"$dir/embeddings.parquet")
    val dropped = em.orderBy("vec_id").limit(1).collect()(0).getLong(0)
    em.filter(col("vec_id") =!= dropped).write.mode("overwrite")
      .parquet(s"$dir/embeddings2.parquet")
    // swap in the corrupted tables (write-then-rename: Spark can't
    // overwrite its own input)
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    Seq("customer", "orders", "embeddings").foreach { t =>
      val live = java.nio.file.Paths.get(dir, s"$t.parquet")
      rmTree(live)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(dir, s"${t}2.parquet"), live)
    }
    val after = SparkEntry.queries("q143_contract_audit")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after("dup_key:customer") == before("dup_key:customer") + 1)
    assert(after("orphan_fk:orders->customer") ==
      before("orphan_fk:orders->customer") + 2)
    // the dropped embedding shows up iff a doc carried that vec_id
    assert(after("coverage:embedding_without_doc") <=
      before("coverage:embedding_without_doc"))
    assert(after("coverage:doc_without_embedding") >=
      before("coverage:doc_without_embedding"))
  }

  test("q138 winnowing == naive replay; shared-run guarantee holds") {
    // naive driver replay with an INDEPENDENT formulation: hash each 3-gram
    // STRING with polyHash (the kernel composes per-token hashes via the
    // polynomial identity instead), explicit windows, rightmost-min scan
    val rnd = new scala.util.Random(23)
    val run = (0 until 6).map(j => s"shared$j") // 6 tokens = w+2: the bound
    val docs = (0 until 30).map { i =>
      val own = (0 until 10 + rnd.nextInt(25)).map(j => s"t${i}_$j")
      // half the docs embed the SAME 6-token run at a random offset
      val toks = if (i % 2 == 0) {
        val cut = rnd.nextInt(own.length)
        own.take(cut) ++ run ++ own.drop(cut)
      } else own
      (i.toLong, toks)
    }
    def naiveFps(toks: Seq[String], w: Int): Set[Long] = {
      val hs = toks.sliding(3).filter(_.length == 3)
        .map(g => TextHash.polyHash(g.mkString(" "))).toArray
      (0 to hs.length - w).map { s =>
        val win = hs.slice(s, s + w)
        var best = 0
        win.indices.foreach(i => if (win(i) <= win(best)) best = i)
        win(best)
      }.toSet
    }
    docs.foreach { case (_, toks) =>
      assert(TextHash.winnowKernel(toks, 4).toSet == naiveFps(toks, 4))
    }
    // end-to-end query vs the naive pair law on a written corpus
    val dir = tempDir("graft_winnow").toString
    docs.map { case (id, ts) =>
      (id, ts.mkString(" "), "en", "srcW", ts.mkString(" ").length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fps = docs.map { case (id, ts) => id -> naiveFps(ts, 4) }.toMap
    val expect = (for {
      (a, fa) <- fps.toSeq; (b, fb) <- fps.toSeq
      if a < b
      shared = (fa & fb).size.toLong
      if shared > 0
    } yield (a, b, shared)).toSet
    val got = SparkEntry.queries("q138_winnowing")(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expect,
      s"missing=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
    // the winnowing guarantee: every pair of run-carrying docs was emitted
    val carriers = docs.filter(_._1 % 2 == 0).map(_._1)
    for (a <- carriers; b <- carriers if a < b)
      assert(got.exists(p => p._1 == a && p._2 == b),
        s"guarantee violated: docs $a/$b share a ${run.length}-token run")
    // density sanity: fingerprints ~ 2/(w+1) of grams (loose 3x bounds)
    val dens = docs.map { case (_, ts) =>
      naiveFps(ts, 4).size.toDouble / math.max(ts.length - 2, 1) }
    assert(dens.sum / dens.length > 0.1 && dens.sum / dens.length < 0.9)
  }

  test("block-partitioned cosine pairs == brute-force all-pairs (boundary shapes)") {
    // adversarial shape for the q38 block decomposition: identical-vector
    // clusters (cos = 1, intra- AND cross-block), sign-flipped copies
    // (cos = -1, must drop), near-threshold directions, and an n chosen so
    // block sizes are ragged (n % B != 0). Output must be IDENTICAL to a
    // driver-side all-pairs scan using the same fold order.
    val rnd = new scala.util.Random(11)
    val dim = 8
    val base = (0 until 6).map(_ => Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
    val vecs: Seq[Array[Float]] =
      base ++ // originals
        base.take(3) ++ // exact duplicates (cross-id identical clusters)
        base.take(2).map(_.map(x => -x)) ++ // antipodes: cos = -1
        base.take(3).map { v => // tiny perturbations: near-threshold cosines
          val w = v.clone(); w(0) = w(0) + 0.05f; w
        } ++
        (0 until 5).map(_ => Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
    val rows = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v, i % 3) }
    val dir = tempDir("graft_vec_prop").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // brute force with the exact kernel arithmetic (ascending-dim double fold)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val expect = (for {
      a <- rows; b <- rows
      if a._1 < b._1
      cos = dot(a._2, b._2) / (math.sqrt(dot(a._2, a._2)) * math.sqrt(dot(b._2, b._2)))
      if cos >= 0.45
    } yield (a._1, b._1, a._3, b._3)).toSet

    val got = SparkEntry.queries("q38_cosine_neardup")(spark, dir)
      .as[(Long, Long, Int, Int)].collect().toSet
    assert(got == expect,
      s"missing=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
    assert(expect.nonEmpty, "generator produced no qualifying pairs — test is vacuous")
    // the duplicate cluster must pair across blocks (ids 0/6 differ mod B for
    // any B >= 2 used by the query), proving cross-block coverage is real
    assert(got.exists { case (a, b, _, _) => a == 0L && b == 6L })
  }

  test("dedupFirstWins is idempotent") {
    val rows = samples(Gen.zip(Gen.choose(1L, 20L), Gen.choose(0, 1000)), 300)
    val df = rows.toDF("id", "seq")
    val once = Operators.dedupFirstWins(df, Seq("id"), Seq($"seq", $"id"))
    val twice = Operators.dedupFirstWins(once, Seq("id"), Seq($"seq", $"id"))
    assert(once.orderBy("id").collect().sameElements(twice.orderBy("id").collect()))
    assert(once.select("id").distinct().count() == once.count())
  }

  test("money-sum oracles stay locked to MoneyOut.sql's canonical form") {
    // MoneyOut.col and MoneyOut.sql must stay byte-for-byte twins; every
    // oracle that rounds a sum has the SQL side inlined, so this pins each
    // inline copy to the helper — change the canonical form and this fails
    // until every site is updated in lockstep
    val parts = graft.MoneyOut.sql("@SUM@")
      .split(java.util.regex.Pattern.quote("@SUM@"))
    val (pre, post) = (parts(0), parts(1))
    val bad = SparkEntry.oracleSql.toSeq.flatMap { case (name, sql) =>
      sql.linesIterator.filter(_.contains("ROUND(")).filterNot { l =>
        l.contains(pre) && l.contains(post)
      }.map(l => s"$name: ${l.trim}")
    }
    assert(bad.isEmpty,
      s"oracle money egress deviating from MoneyOut.sql:\n${bad.mkString("\n")}")
  }

  test("q98 chunking: full coverage, exact stride/overlap, short-only-last") {
    // invariants of the (window=32, stride=24) chunker against the real
    // query output at sf0.001 — every token lands in ≥1 chunk, consecutive
    // chunks overlap by exactly 8, only the last chunk may run short
    val rows = SparkEntry.registry("q98_doc_chunks")
      .run(spark, "/root/testdata/sf0.001")
      .select("doc_id", "chunk_id", "start_tok", "end_tok", "chunk_len")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .groupBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (doc, cs) =>
      val sorted = cs.sortBy(_._2)
      // chunk ids are dense from 0
      assert(sorted.map(_._2).toSeq == (0L until sorted.length).toSeq, s"doc $doc ids")
      val n = sorted.map(_._4).max // max end_tok == token count
      sorted.foreach { case (_, k, st, en, len) =>
        assert(st == k * 24 + 1, s"doc $doc chunk $k start")
        assert(en == math.min(k * 24 + 32, n), s"doc $doc chunk $k end")
        assert(len == en - st + 1 && len >= 1 && len <= 32)
        // a chunk runs short of the 32-token window iff the doc end
        // truncates it (window > stride → up to two ragged tail chunks)
        assert((len == 32) == (k * 24 + 32 <= n), s"doc $doc chunk $k len $len")
      }
      // coverage: consecutive starts differ by the stride, so [1, n] is
      // covered iff the last chunk reaches n (asserted via en == min above)
      assert(sorted.last._4 == n)
    }
  }

  test("q108 packing: capacity respected, offsets contiguous, greedy-tight") {
    // invariants of the sub-shard greedy 128-token packer against the real
    // query output — within each (source, shard, seq): docs fill
    // back-to-back from offset 0 and never exceed capacity; across seq
    // boundaries INSIDE a shard the break is FORCED (the next doc could not
    // have fit), which is greedy-ness; shard boundaries land every
    // packShardDocs docs and reset the fold
    val C = 128L
    val rows = SparkEntry.registry("q108_sequence_packing")
      .run(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (src, docs) =>
      val inOrder = docs.sortBy(_._2) // doc_id order = packing order
      // shard ids are the deterministic doc-count runs: doc i (0-based,
      // doc_id order within the source) lands in shard i div packShardDocs
      inOrder.zipWithIndex.foreach { case (r, i) =>
        assert(r._4 == i / queries.TextOps.packShardDocs,
          s"$src doc ${r._2} shard ${r._4} at position $i") }
      inOrder.groupBy(_._4).foreach { case (shard, shardDocs) =>
        val sh = shardDocs.sortBy(_._2)
        // seq ids reset per shard: non-decreasing from 0, step by at most 1
        val seqs = sh.map(_._5)
        assert(seqs.head == 0L, s"$src shard $shard first seq")
        seqs.sliding(2).foreach { case Array(a, b) =>
          assert(b == a || b == a + 1, s"$src shard $shard seq jump $a -> $b")
          case _ => }
        sh.groupBy(_._5).foreach { case (seq, members) =>
          val m = members.sortBy(_._2)
          assert(m.head._6 == 0L, s"$src shard $shard seq $seq nonzero start")
          // back-to-back: each offset is the previous fill
          m.sliding(2).foreach {
            case Array(a, b) => assert(b._6 == a._6 + a._3,
              s"$src shard $shard seq $seq gap")
            case _ => }
          assert(m.last._6 + m.last._3 <= C, s"$src shard $shard seq $seq overflows")
        }
        // greedy: the first doc of seq k+1 would overflow seq k
        sh.sliding(2).foreach {
          case Array(a, b) if b._5 == a._5 + 1 =>
            assert(a._6 + a._3 + b._3 > C, s"$src premature break at doc ${b._2}")
          case _ => }
      }
    }
  }

  test("q108 packing: a single mega-source packs on multiple tasks, law intact") {
    // the round-7 scale defect was one task per source; prove the sub-shard
    // split really parallelizes a mega-source AND preserves the greedy law
    // exactly (vs a sequential in-order replay of the per-shard fold)
    import spark.implicits._
    val C = 128L; val S = 16L
    val docs = (1 to 200).map(i =>
      ("mega", i.toLong, (5 + (i * 37) % 140).toLong)) // some n_tok > C: truncate path
    val packed = queries.TextOps.packSequences(
        docs.toDF("source", "doc_id", "n_tok"), capacity = C, shardDocs = S)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getInt(6)))
    assert(packed.length == 200)
    // the fold genuinely ran on >1 physical task for the one source
    assert(packed.map(_._7).distinct.length > 1,
      s"mega-source fold serialized onto ${packed.map(_._7).distinct.length} task")
    // docs of the same subshard never split across tasks (the law's unit)
    packed.groupBy(_._4).foreach { case (shard, rows) =>
      assert(rows.map(_._7).distinct.length == 1, s"shard $shard split across tasks") }
    // sequential reference: replay greedy per shard in doc_id order
    val expect = docs.sortBy(_._2).zipWithIndex.groupBy(_._2 / S).toSeq.flatMap {
      case (shard, members) =>
        var seq = 0L; var fill = 0L
        members.map { case ((_, id, n0), _) =>
          val n = math.min(n0, C)
          val off = if (fill + n > C) { seq += 1; fill = n; 0L }
                    else { val o = fill; fill += n; o }
          (id, n, shard.toLong, seq, off)
        }
    }.sortBy(_._1)
    assert(packed.sortBy(_._2).map(t => (t._2, t._3, t._4, t._5, t._6)).toSeq
      == expect, "packed output diverges from the sequential greedy replay")
  }

  test("q122 aHash: randomized resize invariance through real encode→decode") {
    import graft.multimodal.MultimodalOps
    import graft.multimodal.MultimodalOps.{MediaCodec, MediaRow}
    // random content seeds with DISTINCT slope pairs (v mod 49 equal ⇒ the
    // same plane ⇒ legitimately identical hashes), each rendered at two
    // random dims ≥ 100 (below ~64 px the 8×8 point-sample grid rounds too
    // coarsely for the ≤3-bit claim — the fixture's dims are ≥ 388)
    val vs = samples(Gen.choose(0, 250), 40).distinctBy(v => (v % 7, v / 7 % 7)).take(8)
    val dims = samples(Gen.zip(Gen.choose(100, 500), Gen.choose(100, 500)), vs.length * 2)
    val rows = vs.zipWithIndex.flatMap { case (v, i) =>
      val (w1, h1) = dims(2 * i)
      val (w2, h2) = dims(2 * i + 1)
      Seq(
        MediaRow(2L * i, "image", MediaCodec.encodePngGrad(w1, h1, v), "s", 0L),
        MediaRow(2L * i + 1, "image", MediaCodec.encodePngGrad(w2, h2, v), "s", 0L))
    }
    val h = MultimodalOps.aHashBlocks(rows.toDS()).collect()
      .map(r => r.getLong(0) ->
        Seq(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    def ham(a: Seq[Int], b: Seq[Int]): Int =
      a.zip(b).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
    vs.indices.foreach { i =>
      val d = ham(h(2L * i), h(2L * i + 1))
      assert(d <= 3, s"same content v=${vs(i)} drifted $d bits across dims")
    }
    // distinct contents spread out IN AGGREGATE (two ADJACENT slope pairs
    // may legitimately land near each other — that is perceptual-hash
    // semantics, not a bug — but most cross-content pairs must be far)
    val cross = for (i <- vs.indices; j <- vs.indices if i < j)
      yield ham(h(2L * i), h(2L * j))
    assert(cross.count(_ <= 3) * 5 < cross.length,
      s"over 20% of distinct-content pairs within 3 bits: $cross")
    assert(cross.max > 10, s"no distinct-content pair is far apart: $cross")
  }
}

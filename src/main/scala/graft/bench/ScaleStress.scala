package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

object ScaleStress {
  def t[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime(); val r = f
    println(f"STRESS $name%-40s ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
  }

  // host anchors bracket the run (see HostAnchor): stress numbers from a
  // slow window must carry their own evidence, same as BENCH_DETAIL
  private def anchor(at: String): Unit = graft.HostAnchor.report("STRESS", at)

  /** `runMain graft.bench.ScaleStress html` runs only the self-contained
    * H1-H11 section (~30 s, anchor-bracketed) — the full suite costs ~5 min,
    * too slow a loop when re-measuring one section after a host slow window.
    */
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session(32)
    val section = Seq[(String, SparkSession => Unit)](
      "html" -> htmlExtraction, "streaming" -> streamingSection,
      "graph" -> graphSection, "multimodal" -> multimodalSection)
      .collectFirst { case (name, run) if args.contains(name) => run }
    section match {
      case Some(run) =>
        anchor("start"); run(spark); anchor("end")
        graft.Harness.close(spark); return
      case None =>
    }
    anchor("start")
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.1")

    // 10x duplicate-heavy corpus, staged as a documents.parquet dir so the
    // real q35 runs unmodified against it
    val dir = "/tmp/stress_sf"
    (0 until 10).map(k => docs.withColumn("doc_id", col("doc_id") + lit(k * 1000000L)))
      .reduce(_ union _)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    t("q35 on 50k docs, 10 exact copies each") {
      println("  pairs=" + graft.SparkEntry.queries("q35_jaccard_pairs")(spark, dir).count())
    }
    t("q35 on the plain 5k-doc corpus") {
      println("  pairs=" + graft.SparkEntry.queries("q35_jaccard_pairs")(spark, "/root/testdata/sf0.1").count())
    }
    t("q36 LSH on 50k docs, 10 exact copies each") {
      println("  pairs=" + graft.SparkEntry.queries("q36_minhash_lsh")(spark, dir).count())
    }
    // q37 on the same corpus: every doc's simhash class has >= 10 members
    // (10 exact copies), the shape that made the pre-round-13 member-level
    // block join quadratic in docs; the class-collapsed plan pigeonholes
    // one rep per distinct signature and emits the quadratic TRUE pair set
    // as within-class expansion
    t("q37 simhash on 50k docs, 10 exact copies each") {
      println("  pairs=" + graft.SparkEntry.queries("q37_simhash")(spark, dir).count())
    }
    t("q37 simhash on the plain 5k-doc corpus") {
      println("  pairs=" + graft.SparkEntry.queries("q37_simhash")(spark, "/root/testdata/sf0.1").count())
    }
    t("q36 LSH on the plain 5k-doc corpus") {
      println("  pairs=" + graft.SparkEntry.queries("q36_minhash_lsh")(spark, "/root/testdata/sf0.1").count())
    }

    // hot-shingle skew: every doc gets the same viral preamble prepended, so
    // its shingles occur in ALL 5k docs — the worst case for the shared-
    // shingle candidate join (a naive plan quadratically explodes on the hot
    // keys; AQE skew-split plus the per-doc-distinct fanout cap must hold it
    // to output-proportional work)
    val skewDir = "/tmp/stress_skew"
    docs.withColumn("text",
      concat(lit("breaking update please share this post now "), col("text")))
      .write.mode("overwrite").parquet(s"$skewDir/documents.parquet")
    t("q35 on 5k docs sharing a viral preamble (hot shingles)") {
      println("  pairs=" + graft.SparkEntry.queries("q35_jaccard_pairs")(spark, skewDir).count())
    }

    // block-partitioned exact cosine (q38): inherent O(n²) kernel work must
    // grow with the PAIR count (4x rows -> 16x pairs) while per-task memory
    // stays two row-blocks and the driver materializes nothing — the scaling
    // evidence for the no-collect rewrite (a driver-broadcast plan hits its
    // memory ceiling here instead)
    val vecDir = "/tmp/stress_vec"
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.1")
    (0 until 4).map(k => emb.withColumn("vec_id", col("vec_id") + lit(k * 1000000L)))
      .reduce(_ union _)
      .write.mode("overwrite").parquet(s"$vecDir/embeddings.parquet")
    t("q38 exact cosine, 2k vectors (baseline)") {
      println("  pairs=" + graft.SparkEntry.queries("q38_cosine_neardup")(spark, "/root/testdata/sf0.1").count())
    }
    t("q38 exact cosine, 8k vectors (16x pair work)") {
      println("  pairs=" + graft.SparkEntry.queries("q38_cosine_neardup")(spark, vecDir).count())
    }

    // q96's salt, measured on the axis it actually fixes. Worst case: ONE
    // (event_type, hour) bucket holding 8000 distinct users → ~32M pairs.
    // Wall-clock is the WRONG metric here: the shuffle of pair rows into
    // the per-pair count dominates and is identical in both plans (measured
    // salted 27 s vs unsalted 23 s), and the raw enumeration is a codegen'd
    // inner loop that does 72M pairs in under a second even single-task.
    // What breaks at 100 TB is the per-task SHUFFLE WRITE: unsalted, the
    // one task that owns the hot bucket must materialize, sort, and write
    // EVERY pair row of that bucket — a single-task multi-TB write is the
    // OOM/straggler/disk-burst that kills the job. The salt bounds it at
    // 1/B per task. So the reported metric is max per-task shuffle write
    // in the end-to-end plan, salted vs not (outputs identical).
    val coDir = "/tmp/stress_cooccur"
    // ts staged as epoch-NANOS int64 — the fixture's TIMESTAMP(NANOS)
    // convention that Tables.events normalizes on read
    spark.range(8000L)
      .select(
        col("id").as("event_id"),
        expr("1704067200L * 1000000000L").as("ts"),
        col("id").as("user_id"),
        lit("view").as("event_type"),
        lit(1.0).as("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$coDir/events.parquet")
    val maxTask = new org.apache.spark.scheduler.SparkListener {
      val max = new java.util.concurrent.atomic.AtomicLong(0)
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) max.getAndAccumulate(
          m.shuffleWriteMetrics.bytesWritten, math.max)
      }
    }
    spark.sparkContext.addSparkListener(maxTask)
    // Two session knobs put the measurement in the regime the salt is FOR —
    // both verified empirically on this fixture first:
    //  1. broadcast off: while either side fits a broadcast, BroadcastHash-
    //     Join streams the probe side under its EXISTING partitioning and
    //     key skew simply does not exist (measured: salted and unsalted
    //     both spread to 32 tasks, 7 MB max write). Salting is for the
    //     large-large sort-merge regime where neither side broadcasts —
    //     the 100 TB self-join case this staging miniaturizes.
    //  2. AQE partition coalescing off: it sizes post-shuffle partitions by
    //     INPUT bytes, and an explosive join has tiny inputs with huge
    //     outputs, so it re-merges the B salted partitions into one and
    //     silently undoes the salt (measured: identical 183 MB max-task
    //     write either way with it on). In production you lower
    //     advisoryPartitionSizeInBytes or disable coalescing on such stages.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def maxWriteMb(f: => Long): Unit = {
      maxTask.max.set(0)
      val n = f
      // bounded poll until the async listener bus goes quiet (value stable
      // for 4 consecutive 250ms reads, 20s cap) — a fixed sleep under-reports
      // on a loaded host if the bus is still draining task-end events
      var last = -1L; var stable = 0; var waitedMs = 0
      while (stable < 4 && waitedMs < 20000) {
        Thread.sleep(250); waitedMs += 250
        val v = maxTask.max.get
        if (v == last) stable += 1 else { stable = 0; last = v }
      }
      println(f"  pairs=$n  max-task-shuffle-write=${maxTask.max.get / 1e6}%.0f MB")
    }
    // coalescing deliberately left ON here: q96's join inputs now go through
    // REPARTITION_BY_NUM exchanges (explicit repartition(P, keys)), which
    // AQE's coalescer/skew-splitter never touch — so the B salted partitions
    // must survive and max write must match the coalescing-off run below.
    // Before the in-plan guard this measured 183 MB (salt silently undone).
    t("q96 salted, AQE coalescing ON (in-plan guard)") {
      maxWriteMb(graft.SparkEntry.queries("q96_salted_cooccur")(spark, coDir).count())
    }
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    t("q96 salted, 1 hot bucket x 8000 users (~32M pairs)") {
      maxWriteMb(graft.SparkEntry.queries("q96_salted_cooccur")(spark, coDir).count())
    }
    t("unsalted twin on the same hot bucket") {
      val b = graft.Tables.events(spark, coDir)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"), col("user_id"))
        .distinct()
      maxWriteMb(b.as("b1").join(b.as("b2"),
          col("b1.event_type") === col("b2.event_type") &&
            col("b1.h") === col("b2.h") &&
            col("b1.user_id") < col("b2.user_id"))
        .groupBy(col("b1.user_id").as("u1"), col("b2.user_id").as("u2"))
        .agg(count(lit(1)).as("shared_buckets"))
        .filter(col("shared_buckets") >= 5)
        .count())
    }
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    spark.sparkContext.removeSparkListener(maxTask)

    // Substring-dedup (q106/q107) boilerplate adversary: every doc carries
    // the SAME 9-token preamble, so its 2 windows appear in all 5k docs and
    // all 20 sources — maximal window hotness. The claimed bounds: q106's
    // freq join has fanout 1 per (doc, window) row regardless of hotness
    // (freq is unique per window), and q107's self-join fans out per window
    // by SOURCES containing it (≤ 20² here), never by documents. If either
    // bound were wrong this corpus would quadratically explode like the
    // naive shared-window self-join (5k² ≈ 25M rows per hot window).
    val boilDir = "/tmp/stress_boiler"
    docs.withColumn("text",
      concat(lit("subscribe to our newsletter for all the latest updates today "),
        col("text")))
      .write.mode("overwrite").parquet(s"$boilDir/documents.parquet")
    t("q106 window-dedup, 5k docs sharing a boilerplate preamble") {
      println("  rows=" + graft.SparkEntry.queries("q106_window_dedup")(spark, boilDir).count())
    }
    t("q107 source matrix on the same corpus (20 sources, all sharing windows)") {
      println("  rows=" + graft.SparkEntry.queries("q107_source_overlap")(spark, boilDir).count())
    }
    // q110 span removal on the same corpus: EVERY doc has dup windows (the
    // preamble), so the dup-start table is corpus-sized — the broadcastIfSmall
    // gate must fall back to the shuffle join and the rebuild must still be
    // row-linear. Every row's preamble is cut (n_removed >= 9 per doc).
    t("q110 span removal, 5k docs sharing a boilerplate preamble (gate fallback)") {
      val out = graft.SparkEntry.queries("q110_substring_removal")(spark, boilDir)
      val n = out.filter(col("n_removed") >= 9).count()
      println(s"  rows_with_preamble_cut=$n")
    }
    graft.Staged.releaseAll()
    t("q106 window-dedup on the plain corpus (reference)") {
      println("  rows=" + graft.SparkEntry.queries("q106_window_dedup")(spark, "/root/testdata/sf0.1").count())
    }
    t("q107 source matrix on the plain corpus (reference)") {
      println("  rows=" + graft.SparkEntry.queries("q107_source_overlap")(spark, "/root/testdata/sf0.1").count())
    }
    t("q110 span removal on the plain corpus (reference)") {
      println("  rows=" + graft.SparkEntry.queries("q110_substring_removal")(spark, "/root/testdata/sf0.1").count())
    }

    // IVF serving vs brute force on the 4x vector corpus (8k vectors): the
    // nprobe=2 candidate pruning must keep q111 near-flat while q39 scales
    // with the corpus (it scores every vector per query).
    t("q39 brute-force top-k on 8k vectors") {
      println("  rows=" + graft.SparkEntry.queries("q39_ann_topk")(spark, vecDir).count())
    }
    // NOTE on reading the q39/q111 pair: this is a ONE-SHOT run, so q111
    // pays index construction (nearest-of-16 assignment over the whole
    // corpus) inside its wall time — more fold work than q39's 10-query
    // scoring at this corpus size. The serving claim is about the AMORTIZED
    // shape: the clustered table is the index (staged once at scale), after
    // which per-query candidate work is ~nprobe/K of the corpus vs q39's
    // full scan. The bound that matters here is structural: candidates come
    // only from probed clusters (IvfTopkSpec's broadcast/no-corpus-shuffle
    // asserts) and recall@5 = 0.92 against exact.
    t("q111 IVF top-k (nprobe=2) on the same 8k vectors") {
      println("  rows=" + graft.SparkEntry.queries("q111_ivf_topk")(spark, vecDir).count())
    }

    // Cross-set decontamination (q112) under the duplication and hot-
    // shingle adversaries. The structural bound: candidate generation is
    // corpus-scan × broadcast(eval bands), so candidates per corpus doc
    // are capped by the EVAL side (100 docs here) — corpus duplication
    // grows total work dup-proportionally, and a universal viral preamble
    // can inflate band collisions only toward that same per-doc cap,
    // never toward the 5k² a corpus self-join would risk. The 10×-copy
    // corpus also plants real verbatim eval leaks (9 copies of every
    // eval doc sit in the corpus at shifted ids) — the J=1 matches the
    // operator exists to catch.
    t("q112 decontam, 50k docs with 10x copies (900 planted verbatim leaks)") {
      println("  pairs=" + graft.SparkEntry.queries("q112_fuzzy_decontam")(spark, dir).count())
    }
    t("q112 decontam, 5k docs sharing a viral preamble (hot LSH bands)") {
      println("  pairs=" + graft.SparkEntry.queries("q112_fuzzy_decontam")(spark, skewDir).count())
    }
    t("q112 decontam on the plain corpus (reference)") {
      println("  pairs=" + graft.SparkEntry.queries("q112_fuzzy_decontam")(spark, "/root/testdata/sf0.1").count())
    }
    graft.Staged.releaseAll()

    // Bigram-LM gate (q113): the model aggregation output is bounded by
    // |charset|² whatever the corpus size (a 10× corpus changes counts,
    // not cardinality), and scoring is a narrow kernel pass — wall time
    // must stay ~linear in rows scanned with zero new shuffle volume.
    t("q113 bigram-LM gate on 50k docs (model stays charset-bounded)") {
      println("  rows=" + graft.SparkEntry.queries("q113_bigram_lm")(spark, dir).count())
    }
    t("q113 bigram-LM gate on the plain corpus (reference)") {
      println("  rows=" + graft.SparkEntry.queries("q113_bigram_lm")(spark, "/root/testdata/sf0.1").count())
    }

    // PQ serving (q114) on the 4× vector corpus: the full-corpus stage
    // scans CODES (4 ints/vector) against broadcast distance tables —
    // linear, joinless; the shortlist window moves batch-proportional
    // rows and the exact rerank touches raw embeddings only for the
    // (queries × R) broadcast candidate set, so raw-vector work does NOT
    // grow with the corpus.
    t("q114 PQ ADC+rerank top-k on 8k vectors") {
      println("  rows=" + graft.SparkEntry.queries("q114_pq_topk")(spark, vecDir).count())
    }
    t("q114 PQ ADC+rerank top-k on 2k vectors (reference)") {
      println("  rows=" + graft.SparkEntry.queries("q114_pq_topk")(spark, "/root/testdata/sf0.1").count())
    }

    // DSIR weighting (q119): the hashed-feature contract — a 10× corpus
    // changes bucket COUNTS, never model cardinality (≤1024 rows whatever
    // the vocabulary does), so the fit shuffle stays map-side-combined to
    // ~1024 rows and serving stays two narrow passes. Wall time must be
    // ~linear in rows scanned.
    t("q119 DSIR weights on 50k docs (model stays 1024-bounded)") {
      println("  rows=" + graft.SparkEntry.queries("q119_dsir_weights")(spark, dir).count())
    }
    t("q119 DSIR weights on the plain corpus (reference)") {
      println("  rows=" + graft.SparkEntry.queries("q119_dsir_weights")(spark, "/root/testdata/sf0.1").count())
    }

    // Source sketches (q126): the sketch table is |sources|×64 longs at ANY
    // corpus size — the min() aggregator combines map-side, so the 10×
    // corpus moves 10× map input through the SAME |sources|-row shuffle.
    t("q126 source sketches on 50k docs (sketch stays |sources|x64)") {
      println("  rows=" + graft.SparkEntry.queries("q126_source_sketch")(spark, dir).count())
    }
    t("q126 source sketches on the plain corpus (reference)") {
      println("  rows=" + graft.SparkEntry.queries("q126_source_sketch")(spark, "/root/testdata/sf0.1").count())
    }

    // Ingest dedup (q128) on the 10× corpus: the arrival batch is the 100
    // highest ids BY CONTRACT, so a 10× corpus grows the scan side only —
    // candidate generation stays capped per corpus doc by the broadcast
    // arrival side, and here every arrival is a planted copy (the k=9
    // replica block holds the top ids), so the dup-heavy verify path is
    // exercised at its worst: every arrival must come back exact.
    t("q128 ingest dedup, 50k-doc corpus, all 100 arrivals planted copies") {
      val out = graft.SparkEntry.queries("q128_ingest_dedup")(spark, dir)
      val byVerdict = out.groupBy(col("verdict")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      println(s"  verdicts=$byVerdict")
      assert(byVerdict.getOrElse("exact", 0L) == 100L,
        "planted copies not all flagged exact")
    }
    t("q128 ingest dedup on the plain corpus (reference)") {
      println("  rows=" + graft.SparkEntry.queries("q128_ingest_dedup")(spark, "/root/testdata/sf0.1").count())
    }
    graft.Staged.releaseAll()

    // Image aHash (q122) under the identical-content flood: every doc gets
    // the same leading 3 chars, so every PNG has identical dims AND content
    // — ONE maximally hot (block, value) key and a fully quadratic TRUE
    // pair set. The structural claim: work is output-proportional (the
    // ~n²/2 pairs ARE the answer), the join stays equi-keyed, and decode/
    // hash cost stays one narrow pass per image; a plan that were worse
    // than output-bound would explode beyond the pair count here.
    val imgDir = "/tmp/stress_img"
    docs.withColumn("text", concat(lit("zz "), col("text")))
      .write.mode("overwrite").parquet(s"$imgDir/documents.parquet")
    t("q122 aHash flood: all images identical content+dims (1 hot block key)") {
      println("  pairs=" + graft.SparkEntry.queries("q122_image_ahash_neardup")(spark, imgDir).count())
    }
    t("q122 aHash on the plain corpus (reference)") {
      println("  pairs=" + graft.SparkEntry.queries("q122_image_ahash_neardup")(spark, "/root/testdata/sf0.1").count())
    }

    // Codebook training (q123 one step / q129 two chained steps) on the 4×
    // vector corpus: each iteration is one narrow assignment pass + one
    // map-side-combined (cluster, dim) shuffle whose output is K×64 rows
    // whatever the corpus size; 4× vectors ⇒ ~4× kernel work, flat shuffle.
    t("q123 Lloyd step on 8k vectors (K x 64 shuffle output)") {
      println("  rows=" + graft.SparkEntry.queries("q123_kmeans_step")(spark, vecDir).count())
    }
    t("q129 two-iteration training on 8k vectors") {
      println("  rows=" + graft.SparkEntry.queries("q129_kmeans_train")(spark, vecDir).count())
    }

    // Budget sampling (q137) on a MEGA-SOURCE corpus: 50k docs all in ONE
    // source — the shape that serializes a per-source window onto a single
    // task. groupedPrefixSum must spread the source across the range
    // partitions (its per-(pid, group) metadata stays ≤ P + 1 rows) and
    // wall time must stay in line with the even-sources reference below.
    val megaDir = "/tmp/stress_mega"
    (0 until 10).map(k => docs.withColumn("doc_id", col("doc_id") + lit(k * 1000000L)))
      .reduce(_ union _)
      .withColumn("source", lit("megasource"))
      .write.mode("overwrite").parquet(s"$megaDir/documents.parquet")
    t("q137 budget sample, 50k docs in ONE source (grouped prefix sum)") {
      println("  kept=" + graft.SparkEntry.queries("q137_budget_sample")(spark, megaDir).count())
    }
    t("q137 budget sample, 50k docs across the normal sources") {
      println("  kept=" + graft.SparkEntry.queries("q137_budget_sample")(spark, dir).count())
    }

    // Winnowing (q138) under the boilerplate flood: every doc shares the
    // 8-token preamble, which is ≥ w+2 tokens — so by the winnowing
    // GUARANTEE every doc pair shares a fingerprint and the ~n²/2 pair
    // rows are the true answer (output-proportional, like q122's flood).
    // The structural claim under test: the candidate join stays equi-keyed
    // on the fingerprint hash and never goes quadratic in WORK beyond the
    // output itself, and the plain-corpus reference stays near-linear.
    t("q138 winnowing, 5k docs sharing a boilerplate preamble (guarantee flood)") {
      println("  pairs=" + graft.SparkEntry.queries("q138_winnowing")(spark, skewDir).count())
    }
    t("q138 winnowing on the plain corpus (reference)") {
      println("  pairs=" + graft.SparkEntry.queries("q138_winnowing")(spark, "/root/testdata/sf0.1").count())
    }

    // Graph family on the 10×-duplicated corpus: the pair graph is ~250k
    // edges (vs 256 plain) — q146's density rollup and q152's five
    // PageRank rounds must scale with the GRAPH, not the corpus, and the
    // staged pair table is built once for both (plus q81 before them).
    t("q146 cluster density on 50k docs with 10x copies (250k-edge graph)") {
      println("  rows=" + graft.SparkEntry.queries("q146_cluster_density")(spark, dir).count())
    }
    t("q152 PageRank, 5 rounds over the same 250k-edge graph") {
      println("  rows=" + graft.SparkEntry.queries("q152_pagerank")(spark, dir).count())
    }
    t("q152 PageRank on the plain corpus (reference)") {
      println("  rows=" + graft.SparkEntry.queries("q152_pagerank")(spark, "/root/testdata/sf0.1").count())
    }
    graft.Staged.releaseAll()

    // Collocation mining (q145) on the 10× corpus: counts scale 10× but
    // CARDINALITIES don't (same vocab, same bigram domain) — the two aggs
    // stay map-side combined into the same-sized tables, so wall time
    // must grow far slower than rows scanned.
    t("q145 collocations on 50k docs (vocab-bounded aggs)") {
      println("  rows=" + graft.SparkEntry.queries("q145_collocations")(spark, dir).count())
    }
    t("q145 collocations on the plain corpus (reference)") {
      println("  rows=" + graft.SparkEntry.queries("q145_collocations")(spark, "/root/testdata/sf0.1").count())
    }

    // Round 11: the composed release pipeline (q181) on the 10× duplicated
    // corpus — the survivor agg must COLLAPSE the 10 copies map-side (the
    // hash-keyed groupBy sees 10 identical hashes per class), so the two
    // grouped-rank passes downstream run over the SAME 5k survivors as the
    // plain corpus: wall time must grow far slower than rows scanned, and
    // the manifest must be invariant except doc_ids (min-id survivors).
    t("q181 release pipeline on 50k docs (10 exact copies each)") {
      println("  rows=" + graft.SparkEntry.queries("q181_release_pipeline")(spark, dir).count())
    }
    t("q181 release pipeline on the plain corpus (reference)") {
      println("  rows=" + graft.SparkEntry.queries("q181_release_pipeline")(spark, "/root/testdata/sf0.1").count())
    }

    // Rendezvous sharding (q170) at 10×: pure per-key arithmetic — the
    // 17-way key cross join and map-side argmax must scale linearly with
    // docs and spread evenly (no hot shard, no skewed task).
    t("q170 rendezvous sharding on 50k docs (10x keys)") {
      println("  rows=" + graft.SparkEntry.queries("q170_rendezvous_shard")(spark, dir).count())
    }
    t("q170 rendezvous sharding on the plain corpus (reference)") {
      println("  rows=" + graft.SparkEntry.queries("q170_rendezvous_shard")(spark, "/root/testdata/sf0.1").count())
    }

    // Round 12: retrieval family (q169 BM25 / q177 RRF / q196 agreement).
    // Structural claims under test: the corpus-side explode filters to the
    // query vocabulary FIRST, so the shuffled tf table is bounded by
    // |docs × query terms| — never |tokens| (PlanSpec pins the plan shape;
    // this measures the constant); df and the T/D scalars broadcast; the
    // RRF fusion ranks 20-row shortlists, flat in corpus size. 10× docs ⇒
    // ~10× scan work; 10× vocabulary grows the tf table only toward the
    // same docs×terms cap.
    // q177/q196 also read embeddings; the dense ranker side stays at the
    // plain 2k vectors (duplicating docs does not duplicate vectors).
    emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    t("q169 BM25 top-k on 50k docs (10x corpus)") {
      println("  rows=" + graft.SparkEntry.queries("q169_bm25_topk")(spark, dir).count())
    }
    t("q169 BM25 top-k on the plain corpus (reference)") {
      println("  rows=" + graft.SparkEntry.queries("q169_bm25_topk")(spark, "/root/testdata/sf0.1").count())
    }
    // 10× query vocabulary × 10× docs: the 30 hottest corpus tokens — the
    // worst case for tf growth (every term hits nearly every doc). The
    // measured bound: tf rows (= Σ n_terms_hit) ≤ docs × |vocab|.
    val vocab30 = graft.Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tk"))
      .groupBy(col("tk")).count().orderBy(col("count").desc, col("tk"))
      .limit(30).collect().map(_.getString(0)).toSeq
    t("q169 BM25 scoring, 10x vocab (30 hottest terms) x 10x docs") {
      val out = graft.queries.Mining.bm25ScoresFor(spark, dir, vocab30)
        .agg(count(lit(1)).as("docs_hit"),
          sum(col("n_terms_hit")).as("tf_rows")).head()
      val docsN = graft.Tables.documents(spark, dir).count()
      println(s"  docs_hit=${out.getLong(0)} tf_rows=${out.getLong(1)} " +
        s"bound=${docsN * 30}")
      assert(out.getLong(1) <= docsN * 30,
        "tf table exceeded the |docs x terms| bound")
    }
    t("q177 hybrid RRF on 50k docs (10x corpus)") {
      println("  rows=" + graft.SparkEntry.queries("q177_hybrid_rrf")(spark, dir).count())
    }
    t("q196 ranker agreement on 50k docs (10x corpus)") {
      println("  rows=" + graft.SparkEntry.queries("q196_ranker_agreement")(spark, dir).count())
    }
    t("q177 hybrid RRF on the plain corpus (reference)") {
      println("  rows=" + graft.SparkEntry.queries("q177_hybrid_rrf")(spark, "/root/testdata/sf0.1").count())
    }

    htmlExtraction(spark)

    streamingSection(spark)

    anchor("end")
    graft.Harness.close(spark)
  }

  // Round 12: streaming family at 10× events (10× users, identical window
  // timeline — user/event ids shift per copy, ts does not). Claims, each
  // read from the drain's OWN StreamingQueryProgress (DrainInfo), never
  // inferred from code shape:
  // (a) windowed-agg state (q42 complete, q149 append) is keyed on
  //     (window × event_type) — peak resident state must NOT grow with the
  //     user/event multiplier, only wall time does;
  // (b) per-user session state (q91 mapGroupsWithState) grows with USERS —
  //     ~10× peak state at 10× users — because that state IS the live-key
  //     working set; the scale lever is key parallelism, not eviction;
  // (c) q149's watermark still evicts at 10× (the bounded-state law from
  //     StreamingSpec, held under load);
  // (d) results scale exactly: same (window × type) grid for q42/q149,
  //     exactly 10× sessions for q91 (copies replay identical per-user
  //     event sequences).
  /** `runMain graft.bench.ScaleStress graph` — the triangle family at 10×
    * edges. The stress corpus is 10 DISJOINT replicas of the co-purchase
    * graph (orderkey AND partkey shifted per copy), the distributed-scaling
    * shape: graph operators partition by key, and disconnected replicas are
    * exactly the work a cluster spreads. Laws:
    *  (a) correctness-at-scale: every top-10 row of the 10× run must reduce
    *      (part mod the replica shift) to a row of the BASE top-10 with the
    *      same triangle count — replicas can only interleave copies of the
    *      base's best rows, never mint new counts; a join bug that crosses
    *      replica boundaries (spurious inter-copy edges/triangles) breaks
    *      this loudly;
    *  (b) measured wall growth at 10× edges is printed for STRESS.md — the
    *      support-filtered edge build is one groupBy + per-basket pair
    *      explode (linear in baskets), and the two triangle equi-joins
    *      partition by vertex key, so growth should track edges, not
    *      edges². */
  private def graphSection(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.1"
    val stress = "/tmp/stress_graph"
    val orderShift = 100000000L
    val partShift = 10000000L
    val li = graft.Tables.lineitem(spark, dir)
    val maxPart = li.agg(max(col("l_partkey"))).head().getLong(0)
    require(maxPart < partShift, s"replica shift too small for partkey $maxPart")
    (0 until 10).map(k => li
        .withColumn("l_orderkey", col("l_orderkey") + lit(k * orderShift))
        .withColumn("l_partkey", col("l_partkey") + lit(k * partShift)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$stress/lineitem.parquet")
    println("  baskets base=" + li.select("l_orderkey").distinct().count() +
      " stress=" + spark.read.parquet(s"$stress/lineitem.parquet")
        .select("l_orderkey").distinct().count())
    val base = t("q176 triangles on the plain sf0.1 basket graph") {
      graft.SparkEntry.queries("q176_triangle_count")(spark, dir).collect()
    }
    val big = t("q176 triangles on 10 disjoint graph replicas (10x edges)") {
      graft.SparkEntry.queries("q176_triangle_count")(spark, stress).collect()
    }
    val baseSet = base.map(r => (r.getLong(0), r.getLong(1))).toSet
    big.foreach { r =>
      val reduced = (r.getLong(0) % partShift, r.getLong(1))
      require(baseSet.contains(reduced),
        s"10x row ${(r.getLong(0), r.getLong(1))} reduces to $reduced, " +
          s"absent from the base top-10 — inter-replica contamination")
    }
    println("  top10 rows at 10x all reduce to base top-10 rows: OK")
  }

  private def streamingSection(spark: SparkSession): Unit = {
    val dir = "/root/testdata/sf0.1"
    val stressDir = "/tmp/stress_events"
    val build = "/tmp/stress_events_build"
    // raw (pre-normalization) read so the 10x copy keeps the fixture's
    // physical ts form; needs the same legacy conf Tables.events sets, or a
    // NANOS-generation fixture fails analysis when this section runs first
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    (0 until 10).map(k => raw
        .withColumn("event_id", col("event_id") + lit(k * 1000000000L))
        .withColumn("user_id", col("user_id") + lit(k * 1000000L)))
      .reduce(_ unionByName _)
      // single file: q149's horizon-sentinel staging copies the fixture as
      // one file, same as the driver-generated testdata layout
      .coalesce(1).write.mode("overwrite").parquet(build)
    val part = new java.io.File(build).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error("stress events write produced no part file"))
    graft.streaming.StreamOps.deleteTree(java.nio.file.Paths.get(stressDir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stressDir))
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(stressDir, "events.parquet"))

    def run(q: String, label: String, d: String): (Long, graft.streaming.StreamOps.DrainInfo) = {
      // drop the shared q42/q149 tumbling-drain slot BEFORE every measured
      // or A/B invocation (ADVICE r17, high): a cache hit here would (a)
      // time a memory-sink re-read instead of a drain, (b) attribute the
      // PREVIOUS drain's DrainInfo to this run, and (c) in the RocksDB A/B
      // serve the default-provider run's rows so no drain executes under
      // RocksDB at all and the provider assert crashes the harness
      graft.streaming.StreamOps.drainSlot.release()
      val rows = t(s"$q $label") {
        graft.SparkEntry.queries(q)(spark, d).count()
      }
      (rows, graft.streaming.StreamOps.lastDrainInfo
        .getOrElse(sys.error(s"$q recorded no drain progress")))
    }

    // untimed PER-QUERY warmup (the htmlExtraction lesson): standalone, a
    // first drain pays JIT/codegen + state-store class-loading the full
    // suite's warm JVM doesn't (measured 5.15 s cold vs 2.79 s warm for the
    // identical q42 plan), and each of the three queries exercises distinct
    // stateful operators with their own cold paths
    for (q <- Seq("q42_stream_tumbling", "q91_stateful_sessions",
        "q149_stream_topk"))
      graft.SparkEntry.queries(q)(spark, dir).count()

    for (q <- Seq("q42_stream_tumbling", "q91_stateful_sessions",
        "q149_stream_topk")) {
      val (pRows, p) = run(q, "on the plain corpus (reference)", dir)
      val (sRows, st) = run(q, "on 10x events (10x users)", stressDir)
      println(s"  rows plain=$pRows stress=$sRows; peak state " +
        s"plain=${p.maxStateRows} stress=${st.maxStateRows} " +
        s"evicted=${st.stateRowsRemoved} batches=${st.batches} mode=${st.mode}")
      if (q == "q91_stateful_sessions") {
        assert(sRows == 10 * pRows,
          s"$q: copies must replay to exactly 10x sessions ($pRows -> $sRows)")
        assert(st.maxStateRows >= 2 * p.maxStateRows
            && st.maxStateRows <= 15 * p.maxStateRows,
          s"$q: per-user state should track users (~10x): " +
            s"${p.maxStateRows} -> ${st.maxStateRows}")
      } else {
        assert(sRows == pRows,
          s"$q: (window x type) grid must be data-volume invariant " +
            s"($pRows -> $sRows)")
        assert(st.maxStateRows <= 3 * math.max(p.maxStateRows, 1L),
          s"$q: window-keyed state grew with volume: " +
            s"${p.maxStateRows} -> ${st.maxStateRows}")
      }
      if (q == "q149_stream_topk")
        assert(st.mode == "append" && st.stateRowsRemoved > 0,
          s"$q: watermark eviction not observed under 10x load")
    }

    // RocksDB state store at 10x events (round 13): the heap-vs-disk
    // posture MEASURED, not narrated — q149 (windowed agg + eviction) and
    // q91 (per-user flatMapGroupsWithState, the state that actually grows
    // 10x) drained under the disk-backed provider on the same 10x corpus.
    // Results must be row-identical to the default provider's runs above;
    // wall-time delta is the price of RocksDB's write path at fixture
    // scale (at 100 TB the comparison inverts: the default provider's
    // heap ceiling is the thing that fails, not a throughput knob).
    val key = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"
    val prev = spark.conf.getOption(key)
    // the provider conf is toggled PER RUN, baseline first — round 13 set
    // it once before the loop, so both "sides" of the A/B ran RocksDB and
    // the row-identity assert compared RocksDB with itself (ADVICE r13);
    // the provider actually in effect is now read back from the drain's
    // own progress (DrainInfo.provider), not assumed from the conf we set
    def setProvider(rocksOn: Boolean): Unit =
      if (rocksOn) spark.conf.set(key, rocks)
      else prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    try {
      for (q <- Seq("q149_stream_topk", "q91_stateful_sessions")) {
        setProvider(rocksOn = false)
        val (defRows, defInfo) = run(q, "10x events, default state store", stressDir)
        setProvider(rocksOn = true)
        val (rRows, rInfo) = run(q, "10x events, RocksDB state store", stressDir)
        println(s"  rows default=$defRows rocksdb=$rRows; peak state " +
          s"default=${defInfo.maxStateRows} rocksdb=${rInfo.maxStateRows} " +
          s"evicted=${rInfo.stateRowsRemoved}")
        assert(defInfo.provider == "HDFSBackedStateStoreProvider",
          s"$q baseline did not run the default provider: ${defInfo.provider}")
        assert(rInfo.provider == "RocksDBStateStoreProvider",
          s"$q A-side did not run RocksDB: ${rInfo.provider}")
        assert(rRows == defRows,
          s"$q diverges under RocksDB at 10x: $defRows -> $rRows")
        assert(rInfo.maxStateRows > 0, s"$q held no state under RocksDB")
      }
    } finally setProvider(rocksOn = false)
  }

  // ---- multimodal family at 10× images (round 13: the last family
  // without a 10× row). Corpus: 10 shifted copies of the sf0.1 docs with a
  // copy-distinct leading codepoint (copies become same-content images at
  // DIFFERENT dims — the resize-invariant near-dup structure, not trivial
  // exact clones), PLUS a planted thumbnail flood: every doc_id divisible
  // by 63 gets the same "ZZ~" 3-codepoint prefix, so ~790 images share
  // identical dims AND content — ONE maximally hot (block, value)
  // pigeonhole key whose true pair set is quadratic BY CONSTRUCTION.
  // Claims measured, not narrated:
  //  (a) in-run combinatorial bound (the retrieval tf-bound convention):
  //      the block join's candidate rows equal Σ_buckets C(m,2) computed
  //      from the block table — an equi-join on (blk, bv), never a
  //      cartesian, even under the hot key;
  //  (b) the hot key is real (m ≥ 700 measured) and every flood pair
  //      survives to the output (pairs ≥ C(m_hot, 2)) — the quadratic rows
  //      ARE the answer, so the plan is output-proportional;
  //  (c) wall vs the no-flood 10× reference shows what the hot key costs
  //      under AQE (SURVEY §9 predicted salt-or-AQE absorbs it).
  private def multimodalSection(spark: SparkSession): Unit = {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.1")
    val plainDir = "/tmp/stress_mm_plain"
    val floodDir = "/tmp/stress_mm_flood"
    val tenX = (0 until 10).map { k =>
      docs.withColumn("doc_id", col("doc_id") + lit(k * 1000000L))
        .withColumn("text", concat(lit(('A' + k).toChar.toString), col("text")))
    }.reduce(_ unionByName _)
    tenX.write.mode("overwrite").parquet(s"$plainDir/documents.parquet")
    tenX.withColumn("text",
        when(pmod(col("doc_id"), lit(63L)) === 0L,
          concat(lit("ZZ~"), col("text"))).otherwise(col("text")))
      .write.mode("overwrite").parquet(s"$floodDir/documents.parquet")

    // (a) + (b): block table, class stats, and the candidate bounds —
    // computed independently here (pure arithmetic over the block table)
    // and asserted in-run, the retrieval tf-bound convention. This section
    // is what DISCOVERED the round-13 q122 restructure: the first
    // measurement showed the member-level block join generating 175.7M
    // candidate rows from 16,667 images whose distinct-hash count was 11
    // (one natural (blk,bv) bucket held m=9,347) — quadratic in images.
    // q122 now collapses identical hashes into dup classes and pigeonholes
    // REPS (see MultimodalOps), so candidate work is bounded by
    // |distinct hashes|², asserted here.
    val mm = graft.multimodal.MultimodalOps
    val blocks = graft.Checkpoints.localCheckpoint(
      mm.aHashBlocks(mm.mediaTable(spark, floodDir)))
    val nImg = blocks.count()
    // what the old member-level join would have generated, for contrast
    val naiveBound = blocks.select(col("media_id"),
        posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))))
      .groupBy(col("pos"), col("col")).agg(count(lit(1)).as("m"))
      .agg(sum(expr("m * (m - 1) div 2"))).head().getLong(0)
    val classes = blocks.groupBy(col("b0"), col("b1"), col("b2"), col("b3"))
      .agg(count(lit(1)).as("m")).persist()
    val k = classes.count()
    val m0 = classes.agg(max(col("m"))).head().getLong(0)
    // the rep-level candidate ROWS q122's join generates, computed
    // arithmetically from the rep block table (cold buckets contribute
    // C(m,2); hot buckets C(m',2) per 12-bit sub-bucket) — the same number
    // the (blk,bv[,sblk,sbv]) equi-join produces, derived WITHOUT running
    // it, so the assert is falsifiable: a broken class collapse (reps =
    // images) would blow this up to the old member-level number
    val reps = blocks.groupBy(col("b0"), col("b1"), col("b2"), col("b3"))
      .agg(min(col("media_id")).as("media_id"))
      .select(col("media_id"), col("b0"), col("b1"), col("b2"), col("b3"))
      .persist()
    val repEx = reps.select(col("media_id"),
        posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))))
      .groupBy(col("pos"), col("col")).agg(count(lit(1)).as("m"))
    // fixture reps never exceed HotBucket, so the cold term IS the join's
    // candidate count; the hot term is asserted zero to keep this honest
    val hotBuckets = repEx.filter(col("m") > mm.HotBucket).count()
    assert(hotBuckets == 0,
      s"$hotBuckets rep buckets past HotBucket — the cold-only candidate " +
        "arithmetic below no longer matches the join; extend it")
    val repCandRows = repEx
      .agg(coalesce(sum(expr("m * (m - 1) div 2")), lit(0L)))
      .head().getLong(0)
    // verified output pairs of the factored stage, for the survival check
    val repPairs = mm.nearDupRepPairs(reps).count()
    reps.unpersist()
    println(s"STRESS q122 10x: images=$nImg distinctHashes=$k maxClass=$m0 " +
      s"oldMemberJoinRows=$naiveBound repCandidateRows=$repCandRows " +
      s"repVerifiedPairs=$repPairs")
    // candidate work bounded by distinct-hash combinatorics, never images:
    // every (blk,bv) bucket holds <= k reps, so 4 block indexes bound the
    // join at 4 * C(k,2) — and on this corpus it must also sit orders of
    // magnitude under the member-level join it replaced
    assert(repCandRows <= 2L * k * (k - 1),
      s"rep candidate rows $repCandRows exceed 4*C($k,2) — class collapse broken")
    assert(repCandRows * 1000 <= naiveBound,
      s"rep candidates $repCandRows not << member-level $naiveBound")
    // the flood's identical-hash class: every within-class pair is a
    // hamming-0 output row, so the final answer must carry >= C(m0, 2)
    assert(m0 >= 700, s"thumbnail flood did not land: max dup class m0=$m0")
    classes.unpersist()
    graft.Checkpoints.release(blocks)

    t("q122 aHash at 10x images + thumbnail flood (1 hot key, m~790)") {
      val pairs = graft.SparkEntry
        .queries("q122_image_ahash_neardup")(spark, floodDir).count()
      println(s"  pairs=$pairs (flood class alone is C($m0,2)=${m0 * (m0 - 1) / 2})")
      assert(pairs >= m0 * (m0 - 1) / 2,
        "flood pairs missing from the output — the hot key lost rows")
    }
    t("q122 aHash at 10x images, no flood (reference)") {
      println("  pairs=" + graft.SparkEntry
        .queries("q122_image_ahash_neardup")(spark, plainDir).count())
    }
    t("q51 media metadata at 10x") {
      println("  rows=" + graft.SparkEntry
        .queries("q51_media_metadata")(spark, plainDir).count())
    }
    t("q67 media resize at 10x") {
      println("  rows=" + graft.SparkEntry
        .queries("q67_media_resize")(spark, plainDir).count())
    }
    t("q148 audio features at 10x") {
      println("  rows=" + graft.SparkEntry
        .queries("q148_audio_features")(spark, plainDir).count())
    }
  }

  // H1-H11 extraction at 50k pages: one tolerant DOM parse per page inside
  // a UDF (ReferenceHtml). Two claims: (a) on canonical markup the record
  // set (every leadRecord field) is pinned by hash, so a selector or
  // cleanup drift fails here; (b) on malformed markup (unquoted attrs —
  // real-web shape) every page still yields its nombre.
  private def htmlExtraction(spark: SparkSession): Unit = {
    val htmlDir = "/tmp/stress_html"
    val pageTemplate =
      """<html><body><div class="search-result">
        |<a class="search-result-name" href="index.php?r=search/detail&id=%s"><h1>Negocio %s</h1></a>
        |<span class="search-result-address">Calle %s 123 - (3000) Santa Fe</span>
        |<a href="tel:342 455-%04d" class="phone-link">342 455-%04d</a>
        |<a href="https://api.whatsapp.com/send?phone=549342455%04d&text=Hola">WhatsApp</a>
        |<a itemprop="url" href="https://www.negocio%s.com.ar">Sitio web</a>
        |<a onclick="irContacto()" href="#">ventas@negocio%s.com.ar</a>
        |<a href="https://www.facebook.com/negocio%s">Facebook</a>
        |<i class="far fa-clock"></i>
        |<span class="search-result-address">Abierto Lun a Vie 8:00-20:00</span>
        |<div id="yw0" class="list-view"><div class="items"><a class="search-result-link" href="#">Rubro%s</a></div></div>
        |<div class="map" data-lat="-31.6%s" data-lng="-60.7%s"></div>
        |<div class="search-result-description">Descripción del negocio %s.</div>
        |</div></body></html>""".stripMargin
    spark.range(0, 50000)
      .select(col("id").as("id_negocio"),
        concat(lit("https://www.guiacores.com.ar/detail?id="), col("id")).as("url"),
        format_string(pageTemplate, col("id"), col("id"), col("id"),
          pmod(col("id"), lit(10000)), pmod(col("id"), lit(10000)),
          pmod(col("id"), lit(10000)), col("id"), col("id"), col("id"),
          col("id"), pmod(col("id"), lit(1000)), pmod(col("id"), lit(1000)),
          col("id")).as("html"))
      .write.mode("overwrite").parquet(htmlDir)
    val pages = spark.read.parquet(htmlDir)
    // bit_xor, not sum: ANSI mode (Spark 4 default) overflows a long SUM of
    // 50k full-range xxhash64 values; xor is order-independent and closed
    def recordHash(): Long = pages
      .select(xxhash64(to_json(graft.functions.ReferenceHtml.leadRecord(
        col("html"), col("id_negocio"), col("url")))).as("h"))
      .agg(expr("bit_xor(h)")).head().getLong(0)
    // untimed warmup: standalone (`html` arg) this section is the JVM's
    // first job, and JIT/codegen warmup would otherwise charge ~3 s to the
    // timed row (measured: a cold first row read 3.99 s vs 1.37 s inside
    // the full suite's warm JVM)
    recordHash()
    val hash = t("H1-H11 extraction, 50k pages") { recordHash() }
    assert(hash == 2509658292942984905L,
      s"record-set hash drifted on canonical markup at 50k pages: $hash")
    println(s"  record-set hash: $hash")

    // malformed variant: strip the quotes off every class attribute —
    // tolerated by any DOM parser, invisible to exact-string regexes
    val malformed = pages.withColumn("html",
      regexp_replace(col("html"), "class=\"([\\w-]+)\"", "class=$1"))
    def nonNullNames(df: org.apache.spark.sql.DataFrame): Long = {
      val rec = graft.functions.ReferenceHtml.leadRecord(
        col("html"), col("id_negocio"), col("url"))
      df.select(rec.getField("nombre").as("n"))
        .agg(count(col("n"))).head().getLong(0)
    }
    val named = t("H1-H11 extraction on 50k UNQUOTED-attr pages") {
      nonNullNames(malformed)
    }
    println(s"  nombre extracted: $named of 50000")
    assert(named == 50000L,
      s"unquoted-attr pages lost nombre: $named of 50000 extracted")
  }
}

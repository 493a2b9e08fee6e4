package graft

/** Writes PLANS.md: the AQE-final physical plan of each headline query, so
  * the scale-critical shapes (pushdown, broadcasts, two-phase aggs, salted
  * keys, TakeOrderedAndProject) can be reviewed without re-running Spark.
  *
  * Usage: sbt 'runMain graft.PlanDump <sfDir> <outFile>'
  */
object PlanDump {

  /** Headline queries, one per scale-critical plan family. */
  val headline: Seq[(String, String)] = Seq(
    "q01_pricing_summary" -> "two-phase aggregation (map-side partial before the exchange)",
    "q02_filter_project" -> "filter + projection pushed into the parquet scan",
    "q04_broadcast_join" -> "dimension joins broadcast; fact side never shuffles",
    "q18_top_k" -> "global top-k via TakeOrderedAndProject (no total sort)",
    "q35_jaccard_pairs" -> "prefix-filtered shingle equi-join; no cartesian anywhere",
    "q58_tfidf" -> "vocab-sized df broadcast back into the tf table",
    "q61_ntile_deciles" -> "partitioned rank windows (no single-partition ntile)",
    "q87_contamination" -> "eval shingle set broadcast semi-join against the corpus",
    "q95_bloom_increment" -> "bloom-gated set subtraction; broadcast-only joins",
    "q96_salted_cooccur" -> "self-join keys carry the salt block (profile-derived width; REPARTITION_BY_NUM exchanges AQE cannot re-merge)",
    "q97_bigram_topk" -> "partial count below the exchange + TakeOrderedAndProject",
    "q98_doc_chunks" -> "narrow chunk explode; only the egress sort exchanges",
    "q99_curation_funnel" -> "label table broadcast; one keyed shuffle (exact-dup hash)",
    "q112_fuzzy_decontam" -> "cross-set LSH: eval bands/arrays broadcast; corpus never shuffles for candidates",
    "q113_bigram_lm" -> "serving reads the STAGED scored table (checkpoint scan + egress sort, no join/agg — PlanSpec pins it); the build behind it is round-12 join-path scoring: (doc_id, bg) equi-joins the distributed |charset|² model (AQE-broadcast while small), per-doc re-agg, cmax as a 1-row broadcast — no driver model, no charset bound",
    "q114_pq_topk" -> "joinless ADC codes scan; exact rerank broadcasts the (queries×R) shortlist",
    "q119_dsir_weights" -> "bounded hashed-feature model broadcast; serving pass joinless and aggregate-free",
    "q122_image_ahash_neardup" -> "decode+hash in the narrow stage (binary never shuffles); dup-class collapse then rep-level pigeonhole equi-join (candidates bounded by distinct hashes, not images); member-pair expansion",
    "q128_ingest_dedup" -> "fixed-size arrival batch broadcasts (hashes, bands, shingle arrays); corpus streams",
    "q129_kmeans_train" -> "per-iteration: narrow assignment under broadcast codebook + one (cluster,dim) map-side-combined shuffle",
    "q137_budget_sample" -> "grouped prefix sum: ONE range exchange on (source, hash); windows partition by the frozen pid, never by source alone — no per-source single-task stage",
    "q138_winnowing" -> "zero-shuffle winnowing kernel in the narrow stage; candidates equi-join on the fingerprint hash",
    "q144_curriculum" -> "global order via totalRank: range exchange + frozen-pid windows; no single-partition rank stage",
    "q151_bucketed_join" -> "bucketed scans (Bucketed: true, SelectedBucketsCount 8/8); at fixture scale AQE broadcasts the small side anyway — under forced SMJ the join subtree has ZERO exchanges (PlanSpec pins it), which is the layout payoff once both sides are fact-sized",
    "q152_pagerank" -> "five LAZILY-CHAINED rounds in one job (r17: loop-invariant edge-degree table checkpointed once, rounds pipeline as sequential shuffle stages — no per-round materialization); edge-keyed shuffles sized by the dup graph, TakeOrderedAndProject egress",
    "q169_bm25_topk" -> "query-vocab filter INSIDE the array before the explode (tf table is docs-sized, never tokens-sized); df + corpus scalars broadcast; TakeOrderedAndProject egress",
    "q170_rendezvous_shard" -> "17-row shard table broadcast into the key cross join; partial_max_by below the exchange (map-side argmax)",
    "q173_basket_pairs" -> "ONE basket-keyed shuffle (map-side collect_set merge dedupes); a<b pairs explode inside the sorted array — the distinct+self-join twin shuffled lineitem twice",
    "q177_hybrid_rrf" -> "two independent TakeOrdered rankers (lexical + dense under a broadcast query vector); fusion full-outer-joins 20-row sides; corpus never shuffles",
    "q181_release_pipeline" -> "composed release: hash-keyed survivor agg, two frozen-pid grouped ranks, bounded broadcasts, one rollup — corpus text read once, never shuffled",
    "q183_histogram_quantiles" -> "range table broadcast; (type, bin) counts map-side combined; quantile windows run over the types x 128 metadata table",
    "q199_cooccur_topk" -> "serving contract over the staged pair-count slot (shared with q96 by RDD id — PlanSpec): two codegen passes (per-user count histogram -> 3rd-best threshold, broadcast under the proven <=1-row-per-user bound, conf spark.graft.cooccurBroadcastUsers -> survivor filter -> rank over survivors only); no object aggregate, no pair re-enumeration; output bounded by 3x|users|",
    "q200_dup_classes" -> "serving contract over the staged shingle dup-class slot (shared with q35): scan(staged) -> explode -> sort; no shingle re-aggregation, no parquet scan, output linear in docs where q35's pair list is quadratic in a degenerate class",
    "q201_image_classes" -> "serving contract over the staged image aHash-class slot (shared with q122, ONE whole-corpus decode): scan(staged) -> explode -> sort; joinless, no re-decode, output linear in images where q122's within-class expansion measured 1,034x rows at 30x",
    "q195_partition_evolution" -> "layout-evolution read: gen A (year dirs) and gen B (year/month dirs) each prune at the directory level (PartitionFilters), union is a plan concat (zero shuffle), one map-side-combined agg; writes cluster by the partition keys (one compacted file per directory)")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outFile) = args.take(2)
    val spark = Harness.session(32)
    val sb = new StringBuilder
    sb ++= "# PLANS — AQE-final physical plans of the headline queries\n\n"
    sb ++= s"Generated by `graft.PlanDump` at `$sfDir`. Each section shows the\n"
    sb ++= "executed (adaptive-final) plan; the one-line note names the shape that\n"
    sb ++= "makes the query survive a 100 TB scale-up (asserted in PlanSpec).\n"
    val notes = headline.toMap
    Harness.pass(headline.map(_._1)) { name =>
      val df = SparkEntry.registry(name).run(spark, sfDir)
      df.collect() // finalize AQE so the printed plan is the executed one
      val plan = df.queryExecution.executedPlan.toString
        // keep the final plan only: the "Initial Plan" section repeats
        // every node pre-AQE and doubles the artifact for no review value
        .split("\\+\\- == Initial Plan ==").head
        .linesIterator.takeWhile(_.trim.nonEmpty).mkString("\n")
      sb ++= s"\n## $name\n\n${notes(name)}\n\n```\n$plan\n```\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      sb.toString.getBytes("UTF-8"))
    println(s"[plandump] wrote $outFile (${headline.size} plans)")
    Harness.close(spark)
  }
}

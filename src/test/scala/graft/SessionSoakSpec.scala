package graft

/** Long-session storage-leak contract (the round-6 regression, as a test).
  *
  * The engine's production shape is many queries against one SparkSession.
  * Round 6's bench degraded q35's pair build 3.9s → 67.3s across passes of
  * the same session because `localCheckpoint` blocks are NOT CacheManager
  * entries: `Dataset.unpersist` is a no-op on them and reclamation waits on
  * driver GC, so every query-scoped checkpoint leaked until block-manager
  * eviction thrashed the live caches. The fix (graft.Checkpoints) is a
  * registry + deterministic release, but until this spec it was convention:
  * nothing in `sbt test` failed if a new query called `df.localCheckpoint()`
  * directly or a release path was dropped.
  *
  * Contract enforced here, over the checkpoint-using query family run with
  * Bench's exact release discipline (Staged.releaseAll + releaseScoped at
  * pass boundaries) — staged tables are owned by graft.Staged slots and
  * freed only by that sweep:
  *   1. after each pass's release sweep, zero scoped checkpoints remain
  *      registered, and
  *   2. the session's persistent-RDD registry returns to its pre-soak size
  *      — flat across passes, not growing. `SparkContext.unpersistRDD`
  *      removes the registry entry synchronously even with
  *      `blocking = false` (only block deletion is async), so this count is
  *      deterministic — no sleeps or polling. A leaked persist/checkpoint
  *      of ANY kind (localCheckpoint, cache, persist) stays in that
  *      registry forever and fails pass 1; growth limited to later passes
  *      (a cache keyed on something that never hits) fails pass 2+.
  */
class SessionSoakSpec extends SparkSpec {

  // The localCheckpoint-using family: q35/q36 (candidate-pair scoped
  // checkpoint), q81 (label-propagation rounds + staged label table),
  // q61/q96/q103/q108 (totalRank frozen-pid scratch, salt-width probe),
  // q106/q107 (staged per-doc window tables), q112 (cross-set candidate
  // scoped checkpoint over the shared shingle-array table) and q137
  // (groupedPrefixSum's frozen-pid scratch) — plus one consumer of every
  // other staged slot (bigram model + familiarity, BM25, basket pairs,
  // dense top-20, exact/IVF top-k, dup classes, aHash classes, tumbling
  // drain), so every registered graft.Staged slot is exercised by the
  // contract (asserted below: a new slot cannot escape it).
  private val soak = Seq(
    "q35_jaccard_pairs", "q36_minhash_lsh", "q81_dedup_clusters",
    "q61_ntile_deciles", "q96_salted_cooccur", "q103_skew_profile",
    "q106_window_dedup", "q107_source_overlap", "q108_sequence_packing",
    "q112_fuzzy_decontam", "q137_budget_sample",
    "q113_bigram_lm", "q169_bm25_topk", "q173_basket_pairs",
    "q177_hybrid_rrf", "q134_ann_recall", "q200_dup_classes",
    "q201_image_classes", "q42_stream_tumbling")

  private def flush(): Unit = {
    Staged.releaseAll()
    Checkpoints.releaseScoped()
  }

  test("3-pass soak: release discipline returns storage registry to baseline") {
    val reg = SparkEntry.queries
    soak.foreach(n => assert(reg.contains(n), s"soak query $n not registered"))
    flush()
    var baseline = spark.sparkContext.getPersistentRDDs.size
    (1 to 3).foreach { pass =>
      soak.foreach(n => reg(n)(spark, sf).count())
      flush()
      assert(Checkpoints.scopedCount == 0,
        s"pass $pass: ${Checkpoints.scopedCount} scoped checkpoints survived releaseScoped()")
      val now = spark.sparkContext.getPersistentRDDs.size
      // one-sided: the leak contract forbids GROWTH. A shrink below the
      // baseline is benign — an earlier suite's dropped handle reclaimed
      // asynchronously by the ContextCleaner (the weak-ref fallback path)
      // can land mid-pass and would flake an equality assert. The floor
      // RATCHETS down so slack can't mask a later leak.
      assert(now <= baseline,
        s"pass $pass: persistent-RDD registry grew $baseline -> $now — " +
          "a query persists/checkpoints outside the Checkpoints/staged-cache " +
          "release paths (see graft.Checkpoints scaladoc for the contract)")
      baseline = math.min(baseline, now)
    }
    val built = Staged.buildStageTotals.keySet
    val missed = Staged.names.filterNot(built)
    assert(missed.isEmpty,
      s"staged slots never built by the soak (outside the leak contract): $missed")
  }

  /** Whether `System.gc()` actually runs a collection on this JVM: allocate
    * a sentinel, hold only a WeakReference, and see if explicit GC clears
    * it. Under -XX:+DisableExplicitGC (or an exotic collector that defers)
    * the sentinel survives — and the dead-broadcast test below, whose whole
    * mechanism is "a driver GC clears the weak refs", would fail spuriously
    * rather than prove anything (ADVICE r13). The same probe result governs
    * Bench's every-24-queries hygiene tick: if this returns false in an
    * environment, that tick is a no-op there and
    * spark.cleaner.periodicGC.interval is the production lever instead. */
  private def explicitGcWorks: Boolean = {
    var sentinel = new Array[Byte](1 << 16)
    val ref = new java.lang.ref.WeakReference[AnyRef](sentinel)
    sentinel = null
    var tries = 0
    while (ref.get() != null && tries < 5) {
      System.gc(); tries += 1; Thread.sleep(50)
    }
    ref.get() == null
  }

  test("dead broadcast residency: invisible to the RDD registry, " +
      "reclaimed only by a driver GC (the r12 bench signature)") {
    // cancel (not fail) where explicit GC is disabled: the detector's
    // premise — System.gc() triggers the full GC the cleaner waits on —
    // does not hold there, so neither outcome would be evidence
    assume(explicitGcWorks,
      "System.gc() does not collect on this JVM (DisableExplicitGC?) — " +
        "the driver-GC reclamation mechanism cannot be exercised here")
    // The round-12 cross-pass degradation, pinned at the mechanism level:
    // every broadcast join leaves blocks RESIDENT in the block manager
    // after its query ends — invisible to getPersistentRDDs (not an RDD)
    // and to getRDDStorageInfo (not RDD storage) — until a DRIVER GC
    // clears the weak refs Spark's ContextCleaner waits on. A session of
    // short queries on a big heap almost never full-GCs organically, so
    // dead blocks (and the cleaner's whole backlog) accumulate all
    // session; r12's record showed jaccard_pairs_build 3.5→8.6→28.9 s
    // with live heap and RDD storage both bounded, and the r13 probe run
    // measured the same build FLAT once full GCs ran in-session. Bench's
    // fix is an off-the-clock System.gc() every 24 queries; a production
    // session sets spark.cleaner.periodicGC.interval down from its
    // 30-minute default.
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, lit}
    def broadcastBlocks: Int = org.apache.spark.sql.GraftBlockBridge
      .broadcastBlockCount(spark.sparkContext)
    flush()
    System.gc()
    // settle: the cleaner drains its reference queue asynchronously —
    // SLEEP BEFORE each re-read, or back-to-back reads are equal and the
    // loop exits before the cleaner has done anything, capturing an
    // inflated baseline that deflates mid-soak
    val t0 = System.nanoTime()
    var base = broadcastBlocks
    var settled = false
    while (!settled && System.nanoTime() - t0 < 10L * 1000 * 1000 * 1000) {
      Thread.sleep(250)
      val b = broadcastBlocks
      settled = b == base
      base = b
    }
    val regBase = spark.sparkContext.getPersistentRDDs.size
    val fact = spark.range(0, 1000).toDF("id")
    // hold the plans (and thus their broadcast relations) strongly while
    // the soak runs — the deterministic stand-in for "a pass of queries
    // whose broadcasts got promoted before dying"
    val held = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.DataFrame]
    (1 to 12).foreach { i =>
      val dim = spark.range(0, 50000).select($"id", lit(i).as("tag"))
      val joined = fact.join(broadcast(dim), "id")
      // execute THROUGH joined's own QueryExecution so the materialized
      // broadcast stays strongly held by the plan we keep — df.count()
      // would build a separate aggregate plan whose broadcast can die
      // young and be cleaned mid-loop
      joined.queryExecution.toRdd.count()
      held += joined
    }
    val grown = broadcastBlocks
    assert(spark.sparkContext.getPersistentRDDs.size == regBase,
      "RDD registry saw the broadcasts — the 'invisible to the registry' " +
        "premise of this detector no longer holds")
    assert(grown >= base + 12,
      s"broadcast blocks did not accumulate ($base -> $grown) — soak " +
        "too small to prove anything")
    // dereference, then the hygiene GC: residency must return to baseline
    held.clear()
    System.gc()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var now = broadcastBlocks
    var sinceGc = 0
    while (now > base && System.nanoTime() < deadline) {
      Thread.sleep(250); now = broadcastBlocks
      // one GC may promote-but-not-clear some refs; re-kick every ~2s
      // while waiting rather than betting the whole deadline on one shot
      sinceGc += 1
      if (sinceGc >= 8) { sinceGc = 0; System.gc() }
    }
    assert(now <= base,
      s"hygiene GC did not reclaim dead broadcasts: " +
        s"$base -> $grown -> $now broadcast blocks")
  }

  test("a bypassing localCheckpoint would be caught (detector sensitivity)") {
    // Negative control: prove the probe actually detects the failure mode
    // the soak guards against — a raw df.localCheckpoint() with no release.
    import spark.implicits._
    flush()
    val before = spark.sparkContext.getPersistentRDDs.size
    val leaked = Seq(1, 2, 3).toDF("x").localCheckpoint()
    leaked.count()
    assert(spark.sparkContext.getPersistentRDDs.size > before,
      "probe failed to observe an unreleased localCheckpoint")
    // clean up so later suites inherit a clean session
    Checkpoints.release(leaked)
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }
}

package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Stateful-streaming semantics the fixture can't exercise (its event ids are
  * unique and nothing arrives late): duplicate collapse, watermark state
  * bounding, and checkpointed exactly-once resume (SURVEY ST3/ST4). */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  // base is 10-minute-aligned so tumbling windows start exactly at ts(0)
  private def ts(minutes: Int): Timestamp =
    new Timestamp(1700000400000L + minutes * 60000L)

  test("streaming dropDuplicatesWithinWatermark collapses duplicate keys (ST3)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val deduped = in.toDF().toDF("id", "ts", "payload")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
      .groupBy($"payload").agg(count(lit(1)).as("n"))
    val q = deduped.writeStream.format("memory").queryName("dedup_test")
      .outputMode("complete").start()
    // batch 1: two distinct + one dup of id=1; batch 2: another dup + new id
    in.addData((1L, ts(0), "a"), (2L, ts(1), "a"), (1L, ts(2), "a"))
    q.processAllAvailable()
    in.addData((2L, ts(3), "a"), (3L, ts(4), "b"))
    q.processAllAvailable()
    val got = spark.table("dedup_test").as[(String, Long)].collect().toMap
    q.stop()
    assert(got == Map("a" -> 2L, "b" -> 1L)) // ids 1,2 once each + id 3
  }

  test("q91's noop pressure drain serves the IDENTICAL plan as its graded " +
    "memory drain (StatePressure measures the real query, not a variant)") {
    // StatePressure drains q91SessionStream to the noop sink (its output
    // is corpus-proportional; a memory sink would own the constrained heap
    // and mask the state-store term). That is only a valid measurement if
    // the noop path is the SAME plan end-to-end: same builder, same drain
    // env, same row count as the graded memory-sink result. Pinned here at
    // fixture scale so a refactor can't silently fork the two paths.
    val graded = SparkEntry.queries("q91_stateful_sessions")(spark, sf).count()
    val noopRows = graft.streaming.StreamOps.drainToNoop(spark,
      graft.streaming.StreamOps.q91SessionStream(spark, sf), "update")
    assert(noopRows == graded,
      s"noop drain served $noopRows rows vs the graded $graded")
    // and the drain evidence still records (provider asserted from the
    // run's own progress, the r13 A/B lesson)
    val info = graft.streaming.StreamOps.lastDrainInfo
      .getOrElse(fail("noop drain recorded no progress evidence"))
    assert(info.maxStateRows > 0, "noop drain held no state")
  }

  test("watermark drops late data beyond the delay (ST1 window agg)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Double)]
    val agg = in.toDF().toDF("ts", "v")
      .withWatermark("ts", "5 minutes")
      .groupBy(window($"ts", "10 minutes")).agg(sum($"v").as("total"))
      .select($"window.start".as("start"), $"total")
    val q = agg.writeStream.format("memory").queryName("late_test")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    in.addData((ts(5), 1.0), (ts(7), 2.0))   // window [0,10)
    q.processAllAvailable()
    in.addData((ts(30), 4.0))                // advances watermark to 25 → closes [0,10)
    q.processAllAvailable()
    in.addData((ts(2), 100.0))               // late beyond watermark → dropped
    q.processAllAvailable()
    in.addData((ts(50), 8.0))                // closes [30,40)
    q.processAllAvailable()
    val rows = spark.table("late_test").as[(Timestamp, Double)].collect().toMap
    q.stop()
    assert(rows(ts(0)) == 3.0) // late 100.0 was NOT added
  }

  test("checkpointed file stream resumes without reprocessing (ST4)") {
    val src = Files.createTempDirectory("graft_src").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("graft_ckpt").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft_out").toFile.getAbsolutePath

    Seq(1L, 2L, 3L).toDF("v").coalesce(1).write.mode("append").parquet(src)
    def run(): Unit = {
      val q = spark.readStream.schema("v LONG").parquet(src)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    assert(spark.read.parquet(out).count() == 3)

    // second batch of files; resume from the checkpoint must process ONLY
    // the delta — exactly-once means no duplicated 1,2,3 in the sink
    Seq(4L, 5L).toDF("v").coalesce(1).write.mode("append").parquet(src)
    run()
    val all = spark.read.parquet(out).as[Long].collect().sorted
    assert(all.sameElements(Array(1L, 2L, 3L, 4L, 5L)))
  }

  test("flatMapGroupsWithState: custom quiescence state machine (ST2 shape)") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val sqlCtx = spark.sqlContext
    // the reference's click-loop: per key, track consecutive batches adding
    // no new items; emit the key once it has quiesced (3 empty rounds)
    val in = MemoryStream[(String, Int)] // (crawl_key, new_items)
    def update(key: String, rounds: Iterator[(String, Int)],
        state: GroupState[(Int, Int)]): Iterator[(String, Int, Boolean)] = {
      val (total0, empty0) = state.getOption.getOrElse((0, 0))
      var total = total0; var emptyStreak = empty0
      rounds.foreach { case (_, n) =>
        total += n
        emptyStreak = if (n == 0) emptyStreak + 1 else 0
      }
      state.update((total, emptyStreak))
      Iterator.single((key, total, emptyStreak >= 3))
    }
    val out = in.toDS().groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(update)
      .toDF("key", "total", "quiesced")
    val q = out.writeStream.format("memory").queryName("fmgs_test")
      .outputMode("update").start()
    in.addData(("a", 5), ("a", 3), ("b", 2))
    q.processAllAvailable()
    in.addData(("a", 0)); q.processAllAvailable()
    in.addData(("a", 0)); q.processAllAvailable()
    in.addData(("a", 0)); q.processAllAvailable()
    val rows = spark.table("fmgs_test").filter($"key" === "a")
      .as[(String, Int, Boolean)].collect()
    q.stop()
    assert(rows.contains(("a", 8, true)))  // state accumulated across batches, then quiesced
    assert(rows.count(r => r._2 == 8 && !r._3) == 3) // arrival batch + 2 empty rounds: not yet
  }

  test("StreamingQueryListener reports progress rows (ST5/A8)") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    implicit val sqlCtx = spark.sqlContext
    @volatile var rowsSeen = 0L
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        rowsSeen += e.progress.numInputRows
    }
    spark.streams.addListener(listener)
    try {
      val in = MemoryStream[Long]
      val q = in.toDS().writeStream.format("memory").queryName("listener_test")
        .outputMode("append").start()
      in.addData(1L, 2L, 3L); q.processAllAvailable()
      in.addData(4L); q.processAllAvailable()
      q.stop(); q.awaitTermination()
      assert(rowsSeen == 4L, s"listener saw $rowsSeen rows")
    } finally spark.streams.removeListener(listener)
  }

  test("session_window streaming matches batch semantics (q44 twin)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val sess = in.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "1 hour")
      .groupBy($"user_id", session_window($"ts", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select($"user_id", $"n")
    val q = sess.writeStream.format("memory").queryName("sess_test")
      .outputMode("complete").start()
    // user 1: events at 0,10,20 (one session) then 60 (new session)
    in.addData((1L, ts(0)), (1L, ts(10)), (1L, ts(20)), (1L, ts(60)))
    q.processAllAvailable()
    val got = spark.table("sess_test").as[(Long, Long)].collect().sorted
    q.stop()
    assert(got.sameElements(Array((1L, 1L), (1L, 3L))))
  }

  test("q149 top-3 is exactly the re-ranked q42 streaming window state") {
    // one stateful law, two serving views: re-ranking q42's drained
    // windowed counts must reproduce q149 row-for-row. r17: the two views
    // now SHARE one staged drain — force it cold so the evidence below
    // comes from this test's own run.
    graft.streaming.StreamOps.drainSlot.release()
    val counts = SparkEntry.queries("q42_stream_tumbling")(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    val expect = counts.groupBy(_._1).toSeq.flatMap { case (b, rows) =>
      rows.sortBy { case (_, t, n) => (-n, t) }.take(3).zipWithIndex
        .map { case ((_, t, n), i) => (b, t, n, i + 1L) }
    }.toSet
    val got = SparkEntry.queries("q149_stream_topk")(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expect,
      s"missing=${(expect -- got).take(3)} extra=${(got -- expect).take(3)}")
    // every window emits at most 3 rows, ranks dense from 1
    got.groupBy(_._1).foreach { case (b, rows) =>
      assert(rows.size <= 3 && rows.map(_._4).toSeq.sorted == (1L to rows.size),
        s"window $b ranks ${rows.map(_._4)}")
    }
    // serving shape (the round-11 scale-killer, fixed): q149's drain runs
    // in APPEND mode and the watermark actually EVICTED its window state —
    // read from the drain's own StreamingQueryProgress, not the code shape.
    // Complete-mode state grows with stream lifetime; append + eviction is
    // bounded by the watermark horizon.
    val info = graft.streaming.StreamOps.lastDrainInfo
      .getOrElse(fail("q149 recorded no drain progress"))
    assert(info.mode == "append",
      s"q149 serving drain ran in '${info.mode}', not append")
    assert(info.stateRowsRemoved > 0,
      "append drain evicted no state rows — watermark eviction not observed")
    // the horizon sentinel closed the real windows in its own trailing
    // micro-batch: fixture batch + sentinel batch (+ no-data flush batches)
    assert(info.batches >= 2, s"expected >= 2 micro-batches, saw ${info.batches}")
  }

  test("q42 serves in append mode with measured watermark eviction") {
    // the last lifetime-growing complete-mode drain, restructured round 13
    // through the q149 horizon-sentinel shape — assert it from the drain's
    // own progress, same evidence standard as the q149 test above
    graft.streaming.StreamOps.drainSlot.release() // shared slot must rebuild
    graft.streaming.StreamOps.lastDrainInfo = None
    val rows = SparkEntry.queries("q42_stream_tumbling")(spark, sf).collect()
    assert(rows.nonEmpty)
    // the horizon sentinel's own row must never reach the served result
    assert(!rows.exists(_.getString(1) == graft.streaming.StreamOps.horizonType))
    val info = graft.streaming.StreamOps.lastDrainInfo
      .getOrElse(fail("q42 recorded no drain progress"))
    assert(info.mode == "append",
      s"q42 serving drain ran in '${info.mode}', not append")
    assert(info.stateRowsRemoved > 0,
      "append drain evicted no state rows — watermark eviction not observed")
  }

  test("directory-shaped events fixture streams identically to single-file") {
    // The many-files layout every corpus has at scale: events.parquet as a
    // DIRECTORY of time-range-split parts with ascending mod-times (the
    // production file-stream arrival order — log rotation). The streaming
    // sources' dir-tolerant read (StreamOps.streamRead + the sentinel
    // staging's ordered part copies) must produce EXACTLY the single-file
    // layout's rows: each micro-batch holds only rows later than the
    // previous batch's, so watermark advancement between batches drops
    // nothing. A wrong file order would silently lose trailing windows —
    // this pins the law on the stateful drains (q42 windowed agg + q43
    // watermarked dedup + q64 stream-stream join).
    val dirFixture = Files.createTempDirectory("graft_dirfix_").toFile
    try {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sf/events.parquet")
      raw.repartitionByRange(3, col("ts")).write
        .parquet(s"${dirFixture.getPath}/events.parquet")
      // customer table rides along for q100-style dims; only events needed
      // by the three queries under test, but documents keeps doc streams
      // runnable if this fixture is reused
      val parts = new java.io.File(dirFixture, "events.parquet").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .sortBy(_.getName)
      assert(parts.length == 3, s"expected 3 range parts, got ${parts.length}")
      val base = System.currentTimeMillis() - 3600000L
      parts.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(base + i * 60000L) }
      for (q <- Seq("q42_stream_tumbling", "q43_stream_dedup",
          "q64_stream_stream_join")) {
        val single = SparkEntry.queries(q)(spark, sf)
          .collect().map(_.toString).toSeq
        val dir = SparkEntry.queries(q)(spark, dirFixture.getPath)
          .collect().map(_.toString).toSeq
        assert(dir == single,
          s"$q diverges on the directory-shaped fixture " +
            s"(${dir.size} vs ${single.size} rows)")
        assert(single.nonEmpty)
      }
      // the dir-shaped drain really ran multi-batch (3 parts + sentinel
      // for q64's shape-free check use the last drain info)
      val info = graft.streaming.StreamOps.lastDrainInfo
        .getOrElse(fail("no drain progress recorded"))
      assert(info.batches >= 3,
        s"directory fixture drained in ${info.batches} batches — " +
          "multi-file replay not exercised")
    } finally graft.streaming.StreamOps.deleteTree(dirFixture.toPath)
  }

  test("RocksDB state store: q149 and q64 drain to identical results (A/B)") {
    // The default HDFSBackedStateStoreProvider keeps every state row on the
    // EXECUTOR HEAP — at 100 TB the stream-stream join and windowed-agg
    // state (q64/q91/q149 shapes) outgrows it long before CPU is the
    // bottleneck. RocksDB spills state to local disk with a bounded block
    // cache, which is the production posture for large state. Results must
    // be IDENTICAL either way — the provider is a storage engine, not a
    // semantics change — and the provider is a standard per-query conf
    // (spark.sql.streaming.stateStore.providerClass) picked up at stream
    // start, so flipping it needs no engine code change.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"
    def run(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq
    // q91's per-user custom state rides along: it is the state that grows
    // with users, the case RocksDB is for
    val names = Seq("q149_stream_topk", "q64_stream_stream_join",
      "q91_stateful_sessions")
    val underDefault = names.map { n =>
      graft.streaming.StreamOps.drainSlot.release() // q149's shared slot: each
      graft.streaming.StreamOps.lastDrainInfo = None // arm must re-drain
      val rows = run(n)
      // the baseline really ran the provider it claims to A/B against —
      // detected from the stream's own progress metrics, the evidence an
      // earlier 10x A/B lacked when a mis-ordered conf.set made both
      // sides RocksDB (ADVICE r13)
      val info = graft.streaming.StreamOps.lastDrainInfo
        .getOrElse(fail(s"$n recorded no drain under the default provider"))
      assert(info.provider == "HDFSBackedStateStoreProvider",
        s"$n baseline ran '${info.provider}', not the default provider")
      n -> rows
    }.toMap
    underDefault.values.foreach(rows => assert(rows.nonEmpty))
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, rocks)
    try names.foreach { n =>
      graft.streaming.StreamOps.drainSlot.release()
      graft.streaming.StreamOps.lastDrainInfo = None
      val got = run(n)
      assert(got == underDefault(n),
        s"$n diverges under the RocksDB state store")
      // the drain really ran stateful work under the flipped provider
      // (not a degenerate empty stream agreeing with itself)
      val info = graft.streaming.StreamOps.lastDrainInfo
        .getOrElse(fail(s"$n recorded no drain under RocksDB"))
      assert(info.provider == "RocksDBStateStoreProvider",
        s"$n A-side ran '${info.provider}', not RocksDB")
      assert(info.maxStateRows > 0,
        s"$n held no state under RocksDB — A/B proved nothing")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("k shifted copies of the events fixture: q91 sessions and state " +
    "scale by k, the q42/q149 (window x type) grid and its state do not") {
    // k copies with event and user ids shifted per copy and ts untouched:
    // every copy replays the same per-user event sequences over the same
    // window timeline. Per-user session state (q91) IS the live-key working
    // set and grows with users; window-keyed state (q42, q149) must not
    // grow with the user multiplier, and q149's watermark must still evict.
    // Staged as ONE file, the fixture's own layout, which the
    // horizon-sentinel staging copies.
    val k = 3
    val root = Files.createTempDirectory("graft_events_kx")
    try {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sf/events.parquet")
      val build = root.resolve("build").toString
      (0 until k).map(i => raw
          .withColumn("event_id", col("event_id") + lit(i * 1000000000L))
          .withColumn("user_id", col("user_id") + lit(i * 1000000L)))
        .reduce(_ unionByName _)
        .coalesce(1).write.parquet(build)
      val part = new java.io.File(build).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(fail("k-copy events write produced no part file"))
      val kDir = Files.createDirectories(root.resolve("kx"))
      Files.move(part.toPath, kDir.resolve("events.parquet"))
      def drain(q: String, d: String) = {
        graft.streaming.StreamOps.drainSlot.release() // evidence from this run
        graft.streaming.StreamOps.lastDrainInfo = None
        val rows = SparkEntry.queries(q)(spark, d).count()
        (rows, graft.streaming.StreamOps.lastDrainInfo
          .getOrElse(fail(s"$q recorded no drain progress")))
      }
      for (q <- Seq("q42_stream_tumbling", "q91_stateful_sessions",
          "q149_stream_topk")) {
        val (bRows, b) = drain(q, sf)
        val (kRows, kx) = drain(q, kDir.toString)
        assert(bRows > 0 && b.maxStateRows > 0, s"$q: empty base drain")
        if (q == "q91_stateful_sessions") {
          assert(kRows == k * bRows,
            s"$q: copies must replay to exactly ${k}x sessions ($bRows -> $kRows)")
          assert(kx.maxStateRows == k * b.maxStateRows,
            s"$q: per-user state must track users (${k}x): " +
              s"${b.maxStateRows} -> ${kx.maxStateRows}")
        } else {
          assert(kRows == bRows,
            s"$q: (window x type) grid must not depend on volume ($bRows -> $kRows)")
          // the copies share every (window x type) key, so the peak equals
          // the base's; state keyed by user or event would grow with k
          assert(kx.maxStateRows == b.maxStateRows,
            s"$q: window-keyed state grew with volume: " +
              s"${b.maxStateRows} -> ${kx.maxStateRows}")
        }
        if (q == "q149_stream_topk")
          assert(kx.mode == "append" && kx.stateRowsRemoved > 0,
            s"$q: watermark eviction not observed on ${k}x events")
      }
    } finally graft.streaming.StreamOps.deleteTree(root)
  }

  test("stateProvider=auto: bounded complete-mode drains keep the default " +
    "provider, lifetime-growing drains run RocksDB (judge r15 #4)") {
    // the classifier is the output-mode-sweep allowlist below: a drain may
    // serve in complete mode ONLY over state bounded by a small data
    // dimension, so mode==complete at drain time ⟺ bounded state — auto
    // keeps those on the fast in-heap default and puts every other
    // stateful drain on RocksDB, the arm StatePressure measured surviving
    // the 500 MB heap ceiling where the default OOMs. Both choices are
    // asserted from the drains' own progress metrics (DrainInfo.provider),
    // never from the conf.
    val key = "spark.graft.stateProvider"
    val pkey = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(pkey)
    spark.conf.set(key, "auto")
    try {
      graft.streaming.StreamOps.lastDrainInfo = None
      assert(SparkEntry.queries("q100_stream_enrich")(spark, sf).count() > 0)
      val bounded = graft.streaming.StreamOps.lastDrainInfo
        .getOrElse(fail("q100 recorded no drain progress"))
      assert(bounded.mode == "complete")
      assert(bounded.provider == "HDFSBackedStateStoreProvider",
        s"auto ran bounded complete-mode q100 on '${bounded.provider}'")

      graft.streaming.StreamOps.lastDrainInfo = None
      assert(SparkEntry.queries("q91_stateful_sessions")(spark, sf).count() > 0)
      val growing = graft.streaming.StreamOps.lastDrainInfo
        .getOrElse(fail("q91 recorded no drain progress"))
      assert(growing.mode == "update")
      assert(growing.provider == "RocksDBStateStoreProvider",
        s"auto ran lifetime-growing q91 on '${growing.provider}'")

      // the per-drain selection must not leak into the session conf
      assert(spark.conf.getOption(pkey) == before,
        "auto leaked its per-drain provider conf into the session")
    } finally spark.conf.unset(key)
  }

  test("q91 crash-resume: restart from checkpoint continues session " +
    "numbering — two-run replay ≡ uninterrupted two-batch run (judge r15 #5)") {
    // The exactly-once claim for flatMapGroupsWithState: a drain stopped
    // after a committed batch and restarted from the same checkpoint must
    // (a) not re-read batch-1 files, (b) restore the per-user session
    // counter so batch-2 sessions continue the numbering, and (c) emit
    // exactly what one query draining the same two batches emits.
    val h = 1000000000L // 1 s in nanos (fixture ts convention: epoch nanos)
    val t0 = 1700000400L * h
    def rows(evs: Seq[(Long, Long, Long)]) = // (event_id, ts_ns, user_id)
      evs.map { case (id, t, u) => (id, t, u, "click", 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // batch A: user 1 has a 2-event session; user 2 a 1-event session
    val batchA = Seq((1L, t0, 1L), (2L, t0 + 600 * h, 1L), (3L, t0, 2L))
    // batch B (5 h later — its own sessions either way): users 1 and 2
    // continue to session #2; user 3 appears fresh at session #1
    val batchB = Seq((4L, t0 + 18000 * h, 1L), (5L, t0 + 18060 * h, 2L),
      (6L, t0 + 18120 * h, 3L))
    val dir = Files.createTempDirectory("graft_resume_fix_").toFile
    val ck = Files.createTempDirectory("graft_resume_ck_")
    try {
      val evDir = s"${dir.getPath}/events.parquet"
      rows(batchA).coalesce(1).write.parquet(evDir)
      def drainOnce(src: String, ckDir: String,
          limited: Boolean): Seq[org.apache.spark.sql.Row] = {
        // foreachBatch, not the memory sink: memory/console sinks refuse
        // to RECOVER from an existing checkpoint (the exact path under
        // test); foreachBatch supports checkpointed restart and hands us
        // each committed batch's rows
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.spark.sql.Row]
        val q = graft.streaming.StreamOps
          .q91SessionStream(spark, src, rateLimited = limited)
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            val rows = df.collect()
            buf.synchronized { buf ++= rows }
            ()
          }
          .outputMode("update").trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckDir).start()
        q.awaitTermination()
        buf.synchronized(buf.toSeq)
      }
      // run 1: only batch A exists; AvailableNow terminates after it —
      // the "stop after batch 1" of the resume contract
      val run1 = drainOnce(dir.getPath, ck.toString, false)
      assert(run1.nonEmpty)
      // batch B lands (a later part file in the same directory source);
      // identified by set difference, not mod-time sort — both writes can
      // land within one mtime granule
      def partFiles = new java.io.File(evDir).listFiles()
        .filter(_.getName.endsWith(".parquet")).toSet
      val partsA = partFiles
      rows(batchB).coalesce(1).write.mode("append").parquet(evDir)
      val partsB = (partFiles -- partsA).toSeq
      assert(partsA.size == 1 && partsB.size == 1,
        s"expected 1+1 part files, got ${partsA.size}+${partsB.size}")
      // ascending mod-times give the uninterrupted run below its A→B
      // micro-batch order (one file per trigger, oldest first)
      partsB.head.setLastModified(partsA.head.lastModified() + 60000L)
      // run 2: SAME checkpoint — offsets + state restored
      val run2 = drainOnce(dir.getPath, ck.toString, false)
      // (b) state restored: users 1 and 2 continue at session #2, the
      // fresh user 3 starts at #1 — a lost counter would restart all at #1
      val r2 = run2.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(r2 == Set((1L, 2L, 1L), (2L, 2L, 1L), (3L, 1L, 1L)),
        s"resumed batch emitted $r2")
      // (a) batch-1 files not re-read: run 2 emitted nothing for batch A's
      // sessions beyond the continuations above (3 rows, one per user)
      assert(run2.size == 3, s"resume re-emitted ${run2.size} rows")
      // (c) the uninterrupted law: one query, same two batches (both part
      // files staged, mod-time ordered, one file per micro-batch) emits
      // exactly the same final rows as the stop+resume replay
      val single = drainOnce(dir.getPath,
        Files.createTempDirectory("graft_resume_ck2_").toString, true)
      assert(single.map(_.toString).sorted ==
        (run1 ++ run2).map(_.toString).sorted,
        "stop+resume replay diverges from the uninterrupted two-batch run")
    } finally {
      graft.streaming.StreamOps.deleteTree(dir.toPath)
      graft.streaming.StreamOps.deleteTree(ck)
    }
  }

  test("output-mode sweep: complete mode only over provably bounded state") {
    // Policy (StreamOps header): a drain whose state grows with stream
    // LIFETIME must serve in append/update mode with watermark eviction;
    // complete mode is allowed ONLY where the retained state is bounded by
    // a data dimension, and the bound must be named here. A new streaming
    // query added with a complete-mode drain fails this sweep until its
    // bound is argued or its mode fixed.
    val boundedComplete = Map(
      "q43_stream_dedup" ->
        "watermark-bounded dedup keys + |event types| count rows",
      "q100_stream_enrich" -> "|mktsegment x event_type| rows",
      "q184_stream_histogram" -> "fixed-size sketch <= |types| x 128 bins")
    var drains = 0
    graft.streaming.StreamOps.qs.keys.toSeq.sorted.foreach { name =>
      // per-query evidence: the shared q42/q149 drain slot must not let a
      // later consumer inherit an earlier query's DrainInfo
      graft.streaming.StreamOps.drainSlot.release()
      graft.streaming.StreamOps.lastDrainInfo = None
      SparkEntry.queries(name)(spark, sf).count()
      graft.streaming.StreamOps.lastDrainInfo match {
        case None => // q44's shape: the batch twin living in the streaming
        // module (its streaming form is proven above) — nothing to sweep
        case Some(info) =>
          drains += 1
          if (info.mode == "complete")
            assert(boundedComplete.contains(name),
              s"$name drains in complete mode without a named state bound " +
                "— lifetime-growing state must serve in append mode")
      }
    }
    // the sweep actually swept (a refactor that stops recording DrainInfo
    // must not turn this test vacuous)
    assert(drains >= 8, s"only $drains drains observed across the registry")
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable operator library — the engine's public surface for the patterns
  * the queries exercise (keyed dedup, grouped top-k and rank picks, total
  * ranks, salted joins, grouped prefix sums). Each is built so its plan
  * scales: single keyed shuffle, no self-joins or cartesians, window state
  * bounded per key.
  */
object Operators {

  /** First-wins keyed dedup over an explicit arrival order (deterministic,
    * unlike dropDuplicates — SURVEY §7.4.2). */
  def dedupFirstWins(df: DataFrame, keys: Seq[String], orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Grouped top-k: per-partition ranking, no global sort. */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[String],
      orderCols: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .withColumnRenamed("__rank", "rank")
  }

  /** E2 retry policy (reference src/common/utils.py:64-92,
    * `retry_on_error(max_attempts=3, delay=5)`): for driver-side control
    * actions and per-partition source fetches. Spark's own task retries
    * (`spark.task.maxFailures`) cover task-level failure; this is the
    * in-task form for a flaky external call inside e.g. a fetch
    * `mapPartitions` — retrying the CALL, not the whole task, preserves
    * the partition's progress. */
  def retry[T](attempts: Int = 3, delayMs: Long = 5000)(f: => T): T = {
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      // NonFatal only: a VM error must not re-run on a broken heap, a task
      // interrupt must cancel now (not after two more 5 s sleeps), and a
      // caller's non-local return is control flow, not a failure
      try return f
      catch {
        case scala.util.control.NonFatal(e) =>
          last = e; i += 1
          if (i < attempts && delayMs > 0) Thread.sleep(delayMs)
      }
    }
    throw last
  }

  /** Distributed total rank — the scale-safe replacement for
    * `Window.orderBy(...)` with no partitionBy (which moves EVERY row to one
    * partition). The recipe (q61's, factored out so q103 and any future
    * global-order consumer share it):
    *   1. `repartitionByRange(P, valueCol, tieCols…)` range-partitions on
    *      the FULL composite sort key (Spark's RangePartitioner samples
    *      multi-column keys), so partition i holds a contiguous slice of
    *      the total order — and heavy ties on the value column still spread
    *      across partitions by the tie columns. Sampling accuracy affects
    *      only balance, never correctness;
    *   2. the partition id is frozen as a column (localCheckpoint — the
    *      range boundaries are sampled per execution, so the id must be
    *      data, not lineage, before two jobs consume it);
    *   3. one tiny job collects per-partition counts (≤ P rows of driver
    *      metadata) → prefix offsets + total N;
    *   4. global rank = partition offset + row_number over a window
    *      PARTITIONED by the frozen id — no single-partition stage anywhere.
    *
    * Returns (df + `rankCol` as a 1-based LONG rank over
    * ORDER BY valueCol, tieCols…, total row count N). NOTE: the range
    * partitioner's boundary-sampling pass executes the input ONCE MORE
    * before the shuffle does — callers with a non-trivial input should
    * materialize it first (localCheckpoint/cache), as q61 and q103 do.
    * Rows sharing the complete sort key rank in arbitrary order among
    * themselves, as with any rank.
    * Empty input → (empty frame with the rank column, 0). */
  def totalRank(df: DataFrame, valueCol: String, tieCols: Seq[Column],
      rankCol: String = "rnk"): (DataFrame, Long) = {
    val p =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val sortCols = col(valueCol) +: tieCols
    // scoped checkpoint: the frozen-pid table is this invocation's scratch;
    // the session driver reclaims its blocks via Checkpoints.releaseScoped
    // once the caller's action has consumed the ranked result (plain
    // localCheckpoint blocks leak for the session — round-6 post-mortem)
    val ranged = graft.Checkpoints.localCheckpoint(
      df.repartitionByRange(p, sortCols: _*)
        .withColumn("__pid", spark_partition_id()))
    val counts = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val n = counts.map(_._2).sum
    if (n == 0) return (ranged.withColumn(rankCol, lit(0L)).drop("__pid"), 0L)
    var acc = 0L
    val offsets = counts.map { case (b, c) => val o = acc; acc += c; (b, o) }
    // broadcast hash join on the ≤P-row offsets frame: O(1) per row. A
    // map() literal with element_at is a linear scan of the literal per
    // row (Catalyst GetMapValue) — O(rows × P), the groupedPrefixSum
    // lesson applied here too.
    import df.sparkSession.implicits._
    val offDf = offsets.toSeq.toDF("__opid", "__off")
    val w = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
    (ranged
      .join(broadcast(offDf), col("__pid") === col("__opid"))
      .withColumn(rankCol, row_number().over(w).cast("long") + col("__off"))
      .drop("__pid", "__opid", "__off"), n)
  }

  /** Exact global-rank PICKS by total order — [[totalRank]] specialised to
    * a handful of requested ranks (percentile picks: p50/p95/p99). Same
    * recipe through the per-partition counts job; then, instead of ranking
    * EVERY partition and broadcasting the offsets back (work proportional
    * to the whole table for a 1-row answer), only the partitions that HOLD
    * a requested rank are ranked — ≤ |ks| of them, filtered at the
    * checkpoint scan — and each target partition's global offset rides a
    * literal when-chain (≤ |ks| branches, O(1) per row). r17 optimization,
    * guide §1.2 ("don't compute things you throw away"): q168's p95 pick
    * ranked all 32 partitions of the full lineitem projection to keep one
    * row.
    *
    * `ksOf` receives the total count N and returns the requested 1-based
    * ranks; out-of-range ranks select no row (as with totalRank + an
    * unmatched filter). Returns (rows at the requested ranks with
    * `rankCol`, N). Empty input → (empty frame with the rank column, 0). */
  def ranksByTotalOrder(df: DataFrame, valueCol: String, tieCols: Seq[Column],
      ksOf: Long => Seq[Long], rankCol: String = "rnk"): (DataFrame, Long) = {
    val p =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val sortCols = col(valueCol) +: tieCols
    val ranged = graft.Checkpoints.localCheckpoint(
      df.repartitionByRange(p, sortCols: _*)
        .withColumn("__pid", spark_partition_id()))
    val counts = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val n = counts.map(_._2).sum
    def empty(nOut: Long) =
      (ranged.drop("__pid").withColumn(rankCol, lit(0L)).limit(0), nOut)
    if (n == 0) return empty(0L)
    val ks = ksOf(n).distinct.filter(k => k >= 1 && k <= n)
    if (ks.isEmpty) return empty(n)
    var acc = 0L
    val offsets = counts.map { case (pid, c) => val o = acc; acc += c; (pid, o, c) }
    val targets = offsets.collect {
      case (pid, o, c) if ks.exists(k => k > o && k <= o + c) => (pid, o)
    }
    val w = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
    val offExpr = targets.tail.foldLeft(
      when(col("__pid") === lit(targets.head._1), lit(targets.head._2))) {
      case (e, (pid, o)) => e.when(col("__pid") === lit(pid), lit(o))
    }
    (ranged.filter(col("__pid").isin(targets.map(_._1).toIndexedSeq: _*))
      .withColumn(rankCol, row_number().over(w).cast("long") + offExpr)
      .filter(col(rankCol).isin(ks: _*))
      .drop("__pid"), n)
  }

  /** Exact per-GROUP rank PICKS on the grouped-rank machinery —
    * [[ranksByTotalOrder]]'s specialization applied to [[groupedPrefixSum]]
    * consumers that keep only a handful of ranks per group (grouped
    * percentile picks: q163's quartiles, q186's p50/p95, q157's p95 gap;
    * per-group top-k: q60's top-3, q178's exact-5). The gPS form ranks the
    * WHOLE table through a (pid, group)-keyed window exchange and then
    * throws almost every rank away; here only the slices that HOLD a
    * requested rank are ranked — ≤ |groups|·|ks| of them, filtered at the
    * checkpoint scan by a broadcast of the target-slice table (r18
    * optimization, guide §1.2 "don't compute things you throw away" +
    * §2.4: the full-table window exchange and its sort disappear; the
    * per-group counts the callers used to re-aggregate from the raw table
    * come free from the same probe).
    *
    * Recipe: range-partition on (group, orderCols…) and freeze the pid
    * (exactly groupedPrefixSum steps 1-2), collect the per-(pid, group)
    * slice counts — bounded metadata, ≤ P + |groups| − 1 rows by the gPS
    * contiguity argument, fetched via take(100001) so a violated contract
    * fails the same loud 100k bar instead of OOMing the driver — then
    * derive per-group totals, slice offsets and the target slices on the
    * driver, and rank ONLY those slices.
    *
    * `ksOf` receives each group's total count n and returns the requested
    * 1-based in-group ranks; out-of-range ranks select no row. Returns the
    * rows at the requested ranks with `rankCol` (the in-group rank) and
    * `nCol` (the group's total count) attached. Group column must be a
    * non-null STRING (the gPS contract). Rows sharing the complete
    * (group, orderCols…) key rank arbitrarily among themselves — pass a
    * tie-breaking column when the picked VALUE isn't itself the tie run's
    * value. */
  def groupedRankPicks(df: DataFrame, groupCol: String,
      orderCols: Seq[Column], ksOf: Long => Seq[Long],
      rankCol: String = "rnk", nCol: String = "__n"): DataFrame = {
    val spark = df.sparkSession
    val p = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val sortCols = col(groupCol) +: orderCols
    val ranged = graft.Checkpoints.localCheckpoint(
      df.repartitionByRange(p, sortCols: _*)
        .withColumn("__pid", spark_partition_id()))
    val sliceRows = ranged.groupBy(col("__pid"), col(groupCol))
      .agg(count(lit(1)).as("__c")).take(100001)
    require(sliceRows.length <= 100000,
      "groupedRankPicks contract: (partition, group) slices exceed the " +
        "bounded-metadata bar — groups are not metadata")
    require(sliceRows.forall(!_.isNullAt(1)),
      s"groupedRankPicks contract: null value in group column " +
        s"'$groupCol' — groups must be non-null")
    val slices = sliceRows
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    // driver-side (bounded metadata): per-group totals, slice offsets,
    // requested ranks, and the slices that hold one
    val targetSlices = Seq.newBuilder[(Int, String, Long)] // pid, grp, off
    val pickRows = Seq.newBuilder[(String, Long, Long)]    // grp, k, n
    slices.groupBy(_._2).foreach { case (g, ss) =>
      val sorted = ss.sortBy(_._1)
      val n = sorted.iterator.map(_._3).sum
      val ks = ksOf(n).distinct.filter(k => k >= 1 && k <= n)
      if (ks.nonEmpty) {
        var acc = 0L
        val offs = sorted.map { case (pid, _, c) =>
          val o = acc; acc += c; (pid, o, c)
        }
        targetSlices ++= offs.collect {
          case (pid, o, c) if ks.exists(k => k > o && k <= o + c) =>
            (pid, g, o)
        }
        pickRows ++= ks.map(k => (g, k, n))
      }
    }
    import spark.implicits._
    val picks = pickRows.result()
    if (picks.isEmpty)
      return ranged.drop("__pid")
        .withColumn(rankCol, lit(0L)).withColumn(nCol, lit(0L)).limit(0)
    val offDf = targetSlices.result().toDF("__opid", "__ogrp", "__off")
    val ksDf = picks.toDF("__kgrp", rankCol, nCol)
    val w = Window.partitionBy(col("__pid"), col(groupCol))
      .orderBy(orderCols: _*)
    // the broadcast inner join IS the target-slice filter: only rows of
    // slices holding a requested rank reach the window exchange
    ranged
      .join(broadcast(offDf),
        col("__pid") === col("__opid") && col(groupCol) === col("__ogrp"))
      .withColumn("__grnk", row_number().over(w).cast("long") + col("__off"))
      .join(broadcast(ksDf),
        col(groupCol) === col("__kgrp") && col("__grnk") === col(rankCol))
      .drop("__pid", "__opid", "__ogrp", "__off", "__grnk", "__kgrp")
  }

  /** Profile-driven salt width — the q103 skew probe wired into the plan.
    * Counts rows per key bucket (keys-space-sized, map-side combined — one
    * cheap pass even at 100 TB) and sizes the salt from the DOMINANCE ratio:
    * how many fair per-task shares (total/P) the hottest bucket spans. A
    * bucket that fits inside one task's fair share needs no salt no matter
    * how skewed the tail distribution looks (max/median alone over-salts
    * that case), while a single bucket holding everything — where
    * max/median reads a useless 1 — gets split P ways. B is the next power
    * of two ≥ the ratio, clamped to [1, maxB], and since max ≤ total the
    * ratio never exceeds P: the salt never out-splits the stage. Uniform
    * well-spread keys ⇒ ratio ≤ 1 ⇒ B = 1 (salting correctly degenerates
    * to a plain join, avoiding its B× replication cost). */
  def saltWidth(df: DataFrame, keyCols: Seq[Column], maxB: Int = 64): Int =
    saltWidthFromHeat(
      df.groupBy(keyCols: _*).agg(count(lit(1)).as("__n")), "__n", maxB)

  /** [[saltWidth]]'s core, for callers that ALREADY have the per-key count
    * table (a dimension of totals, a q103 profile): derives B from its
    * max/sum without re-aggregating the fact table — the probe then shares
    * the aggregation the query builds anyway. */
  def saltWidthFromHeat(heat: DataFrame, countCol: String,
      maxB: Int = 64): Int = {
    val row = heat.agg(
      max(col(countCol)).as("mx"), sum(col(countCol)).as("total")).collect()(0)
    if (row.isNullAt(0)) 1
    else {
      val p =
        heat.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toLong
      // ceiling division: a bucket spanning 1.3 fair shares must salt 2-way
      // — floor read it as ratio 1 (= no salt) for anything under 2 shares
      val total = math.max(1L, row.getLong(1))
      val ratio = (row.getLong(0) * p + total - 1) / total
      val clamped = math.min(maxB.toLong, math.max(1L, ratio)).toInt
      // next power of two >= clamped, re-clamped so a non-power-of-two
      // maxB is still honored (pow2 rounding must not out-split the
      // caller's explicit cap: maxB=100, ratio=70 → 64, never 128)
      math.min(Integer.highestOneBit(clamped * 2 - 1),
        Integer.highestOneBit(math.max(1, maxB)))
    }
  }

  /** Salted equi-join for a skewed LEFT side: each left row gets a
    * deterministic salt in [0, buckets) and the right side is replicated
    * `buckets`× with every salt value, so the hot key's rows spread over
    * `buckets` tasks instead of one straggler. Trade-off is explicit:
    * right-side shuffle volume ×buckets — use when the right side is small
    * relative to the hot key's row count but too big (or growing) to
    * broadcast. AQE's skew-join split handles moderate skew on its own;
    * this is the explicit form for pathological keys at 100 TB. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      buckets: Int): DataFrame = {
    // deterministic salt (xxhash64 over the whole row): a
    // retried/speculative map task recomputes the identical assignment —
    // a positional/nondeterministic salt re-shuffles rows on partial stage
    // re-execution, the classic lost-or-duplicated-rows hazard. Fully
    // identical left rows share a salt; any differing column spreads them,
    // which holds for any realistic fact table.
    val saltedLeft = left.withColumn("__salt",
      pmod(xxhash64(left.columns.map(col).toIndexedSeq: _*), lit(buckets.toLong)))
    val replicatedRight = right.withColumn("__salt",
      explode(sequence(lit(0L), lit(buckets.toLong - 1))))
    saltedLeft.join(replicatedRight, Seq(key, "__salt")).drop("__salt")
  }

  /** Profile-driven form: measures the left side's per-key heat with
    * [[saltWidth]] and salts exactly as wide as the dominance ratio demands
    * — well-spread keys come back B = 1 and the join degenerates to a plain
    * equi-join with no replication cost. The left side should be
    * materialized (cache/localCheckpoint) by the caller: the probe and the
    * join each read it. */
  def saltedJoinAuto(left: DataFrame, right: DataFrame, key: String,
      maxB: Int = 64): DataFrame =
    saltedJoin(left, right, key, saltWidth(left, Seq(col(key)), maxB))

  /** Size-gated broadcast hint. Returns `broadcast(df)` only when the
    * table's MEASURED size fits under the session's
    * `spark.sql.autoBroadcastJoinThreshold`; past the bound (or with the
    * threshold set to -1) the frame comes back unhinted, the shuffle join
    * stands, and AQE plans from real runtime stats.
    *
    * Why a gate instead of a bare hint: a `broadcast()` hint is obeyed
    * REGARDLESS of size — on a table whose cardinality scales with the
    * corpus's duplicate rate (near-dup candidate pairs, cluster-label
    * tables; 30-50% dup rates are normal on web-crawl corpora) an
    * unconditional hint becomes a driver-side collect-and-OOM at 100 TB.
    * The gate keeps the broadcast fast-path at fixture scale and degrades
    * to the AQE-planned equi-join exactly when the data outgrows it.
    *
    * Measurement is cheap by contract: callers pass a MATERIALIZED frame
    * (localCheckpoint root), so the gate reads the block manager's actual
    * byte count for the backing RDD — no job, no guessed row widths. For a
    * non-checkpoint frame it falls back to `count() × schema width`; don't
    * pass unmaterialized frames on hot paths (the count would recompute
    * the lineage).
    */
  def broadcastIfSmall(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB").trim
    // the conf accepts a bare long ("-1" = disabled, "10485760") OR a byte
    // string ("10MB"); JavaUtils rejects negatives, so try the long first
    val threshold = raw.toLongOption.getOrElse(
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw))
    if (threshold <= 0) return df // broadcast disabled session-wide
    val bytes = org.apache.spark.sql.GraftRddBridge.checkpointedRdd(df) match {
      case Some(rdd) =>
        val info = spark.sparkContext.getRDDStorageInfo.find(_.id == rdd.id)
        info.map(i => i.memSize + i.diskSize).getOrElse(estimatedBytes(df))
      case None => estimatedBytes(df)
    }
    if (bytes <= threshold) broadcast(df) else df
  }

  /** Fallback size estimate for [[broadcastIfSmall]] when the frame isn't a
    * checkpoint root: row count × UnsafeRow-shaped width (fixed per-field
    * defaults + null bitset + object header). Deliberately conservative on
    * strings (defaultSize 20): the gate should under-broadcast, never
    * over-broadcast. */
  private def estimatedBytes(df: DataFrame): Long = {
    val rowWidth = df.schema.fields.map(_.dataType.defaultSize.toLong).sum +
      8L * df.schema.length + 16L
    df.count() * rowWidth
  }

  /** Per-group INCLUSIVE running sum of `valueCol` (LONG) ordered by
    * `orderCols` within each `groupCol` (STRING) — WITHOUT a per-group
    * single-task window. The naive `Window.partitionBy(group)` serializes
    * every group onto one task, which is exactly the q108 mega-source
    * failure at 100 TB. Same mechanics as [[totalRank]], generalized to
    * grouped sums:
    *
    *   1. range-partition on (group, orderCols…) — each partition holds a
    *      contiguous slice of the composite order, so a group spans a
    *      contiguous RUN of partitions;
    *   2. freeze the partition id (scoped localCheckpoint: boundaries are
    *      sampled per execution, so the id must be data before two jobs
    *      consume it);
    *   3. per-(partition, group) sums — bounded by P + |groups| − 1 rows
    *      (contiguity: each extra group adds at most one straddled
    *      boundary) — stay IN-PLAN as a tiny aggregate subtree; the
    *      group's prefix offset from earlier partitions is an exclusive
    *      running sum over that metadata table (window by group in pid
    *      order). r17 optimization (guide §1.2/§5 "the driver should do
    *      almost no data work"): the r16 form collect()ed the slices to
    *      the driver and rebuilt them as a literal frame — one extra job,
    *      one extra analysis/optimization round-trip and a driver
    *      materialization per call, across ~20 registry call sites. The
    *      contract gates stay LOUD but move in-plan: a NULL group or an
    *      all-NULL value slice hits raise_error inside the offsets
    *      projection (the expression is part of the join key's input, so
    *      it cannot be pruned), and the 100k bounded-metadata bar is a
    *      windowed count over the slice table feeding the same guard;
    *   4. cum = per-(pid, group) running window + the group's prefix
    *      offset, joined in via a BROADCAST of the small offsets frame
    *      keyed on (pid, group). A map() literal with element_at would be
    *      O(|slices|) per row (Catalyst's GetMapValue on a literal map is
    *      a linear scan); the broadcast hash join is O(1) per row. No
    *      single-partition stage anywhere.
    *
    * Rows sharing the complete (group, orderCols…) key sum in arbitrary
    * order among themselves — pass a tie-breaking column for determinism. */
  def groupedPrefixSum(df: DataFrame, groupCol: String, valueCol: String,
      orderCols: Seq[Column], cumCol: String = "cum"): DataFrame = {
    val spark = df.sparkSession
    val p = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val sortCols = col(groupCol) +: orderCols
    val ranged = graft.Checkpoints.localCheckpoint(
      df.repartitionByRange(p, sortCols: _*)
        .withColumn("__pid", spark_partition_id()))
    // bounded-metadata slice table, kept in-plan (rides a BroadcastExchange
    // inside the one consuming job instead of a driver collect)
    val slices = ranged.groupBy(col("__pid"), col(groupCol))
      .agg(sum(col(valueCol)).as("__s"))
    val wOff = Window.partitionBy(col(groupCol)).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // Loud contract gates, in-plan — folded into the JOIN KEYS, not into a
    // value column: join keys are evaluated under EVERY action (a count()
    // prunes unused value columns — a guard living only in __off/cum would
    // silently vanish exactly when nobody reads the sums), and the
    // optimizer cannot elide them. Probe-side key: raises on a null group
    // (left-join semantics keep the row alive to evaluation; an inner join
    // would let IsNotNull inference drop it first). Build-side key: raises
    // on an all-NULL value slice and past the bounded-metadata bar, both
    // materialized by the broadcast build for every kept slice.
    // bounded probe for the 100k bar (ADVICE r17): the previous
    // count(1).over(Window.partitionBy()) shuffled EVERY slice row to one
    // partition whose WindowExec buffered them all before the first guarded
    // row projected — so when the contract is violated (groups are
    // data-sized, the exact case the bar exists for) the loud failure came
    // only after a potentially huge single-task materialization, and every
    // call paid the single-partition exchange even in the normal tiny-slices
    // case. limit(100001) caps the probe's work: the count saturates just
    // past the bar, which is all the guard needs to know. Honest cost: the
    // probe is its own partial-agg pass over the CHECKPOINTED ranged table
    // (column pruning keeps it from sharing the offsets subtree's
    // exchange) — memory-local, embarrassingly parallel, and unlike the
    // old form it puts no single-partition straggler barrier on the
    // offsets path.
    val barDf = slices.limit(100001)
      .groupBy().agg(count(lit(1)).as("__nsl"))
    val nSlices = col("__nsl")
    val offDf = slices
      .withColumn("__off", coalesce(sum(col("__s")).over(wOff), lit(0L)))
      .crossJoin(broadcast(barDf))
      .select(col("__pid").as("__opid"),
        when(col("__s").isNull, raise_error(concat(lit(
          s"groupedPrefixSum contract: '$valueCol' is NULL for every row " +
            s"of a ($groupCol="), col(groupCol), lit(
          ") slice — values must be non-null (running sums over NULLs " +
            "have no defined cum)"))).cast("string"))
        .when(nSlices > 100000L, raise_error(lit(
          "groupedPrefixSum contract: (partition, group) slices exceed " +
            "the bounded-metadata bar — groups are not metadata")).cast("string"))
        .otherwise(col(groupCol)).as("__ogrp"),
        col("__off"))
    val probeKey = when(col(groupCol).isNull, raise_error(lit(
        s"groupedPrefixSum contract: null value in group column " +
          s"'$groupCol' — groups must be non-null")).cast("string"))
      .otherwise(col(groupCol))
    val w = Window.partitionBy(col("__pid"), col(groupCol))
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // LEFT join, deliberately: every non-null (pid, group) in `ranged` has
    // exactly one offsets row by construction, so the result is identical
    // to the inner form — the left join only exists so the probe-side
    // guard row survives to key evaluation instead of being dropped by
    // inferred IsNotNull filters.
    ranged
      .join(broadcast(offDf),
        col("__pid") === col("__opid") && probeKey === col("__ogrp"),
        "left")
      .withColumn(cumCol, sum(col(valueCol)).over(w) + col("__off"))
      .drop("__pid", "__opid", "__ogrp", "__off")
  }
}

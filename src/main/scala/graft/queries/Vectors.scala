package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}

/** Similarity search over `embeddings` (64-dim float vectors): brute-force
  * cosine near-dup and top-k as the exact baselines, and an IVF-bucketed
  * variant as the 100 TB scale path.
  *
  * Float determinism across engines: every dot product / norm is a
  * sequential left-fold in DOUBLE over ascending dimension index, written
  * identically in the Spark plan (zip_with + aggregate) and the oracle SQL
  * (list_transform + list_reduce). Same IEEE ops in the same order →
  * bit-identical doubles → identical threshold/ranking decisions. Outputs
  * stick to integer/string columns so the driver's hash compare never sees a
  * float.
  *
  * Scale notes: exact near-dup (q38) is a block-partitioned matrix join —
  * no driver collect, no full-table broadcast; per-task memory is two row
  * blocks and the shuffle moves each vector ~B+1 times. The O(n²) kernel
  * work is inherent to the exact baseline; q40's IVF pruning (cluster
  * assignment → within-cluster pairs, candidate set cut ~k×) is what cuts
  * the candidate count at 100 TB. For real ANN at cluster scale the same
  * plan shape holds: centroids broadcast, assignment is a narrow map, and
  * the pair join shuffles on cluster id.
  */
object Vectors {

  /** Sequential-fold squared norm in double (matches oracle bit-for-bit). */
  private[queries] def norm2(v: Column): Column =
    aggregate(transform(v, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Collected codebook, ready to broadcast: ascending-id centroid ids,
    * matrix, and squared norms. Centroids are model metadata — bounded by
    * K, never by corpus size — so the driver collect is safe by contract.
    * Shared by every IVF-family query (q40/q109/q111). */
  private def collectCodebook(s: SparkSession, codebook: DataFrame)
      : (Array[Long], Array[Array[Float]], Array[Double]) = {
    import s.implicits._
    val rows = codebook.as[(Long, Array[Float])].collect().sortBy(_._1)
    require(rows.nonEmpty, "empty codebook")
    val mat = rows.map(_._2)
    val n2 = mat.map { v =>
      var acc = 0.0; var i = 0
      while (i < v.length) { acc += v(i).toDouble * v(i).toDouble; i += 1 }
      acc
    }
    (rows.map(_._1), mat, n2)
  }

  /** Cosine of `va` to every centroid, ascending centroid index — the
    * assignment fold all IVF kernels share. Bit-exact contract: per
    * centroid, one ascending-dimension double fold then a single divide —
    * the identical IEEE op sequence as the oracle's sqlDot/sqlNorm2
    * fragments, so argmax/rank decisions replay exactly. */
  private def centroidCos(va: Array[Float],
      cm: Array[Array[Float]], cn2: Array[Double]): Array[Double] = {
    var n2 = 0.0; var i = 0
    while (i < va.length) { n2 += va(i).toDouble * va(i).toDouble; i += 1 }
    val out = new Array[Double](cm.length)
    var c = 0
    while (c < cm.length) {
      val vc = cm(c)
      var acc = 0.0; var j = 0
      while (j < va.length) { acc += va(j).toDouble * vc(j).toDouble; j += 1 }
      out(c) = acc / (math.sqrt(n2) * math.sqrt(cn2(c)))
      c += 1
    }
    out
  }

  /** Index of the nearest centroid: (cos DESC, index ASC) — strict `>`
    * scan, so the first (ascending id) wins ties, the oracle's
    * row_number(ORDER BY cos_c DESC, cent_id) law. */
  private def nearestIdx(cos: Array[Double]): Int = {
    var best = 0; var c = 1
    while (c < cos.length) { if (cos(c) > cos(best)) best = c; c += 1 }
    best
  }

  /** Native codegen pairwise cosine ([[graft.plans.CosineSim]]) — replaces
    * both the interpreted Catalyst-HOF fold (per-element closure dispatch)
    * and the `Seq[Float]`-boxing UDF form on pair-join hot paths.
    * Bit-identical to `cosine(dot(a,b), norm2(a), norm2(b))`: each
    * accumulator (dot, n2a, n2b) sees the same ascending-index double adds
    * whether the loops are fused or separate, so thresholds and rankings
    * decide identically and the oracle hash is unchanged. */
  private[queries] def cosSim(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(graft.plans.CosineSim(
      org.apache.spark.sql.GraftColumnBridge.expression(a),
      org.apache.spark.sql.GraftColumnBridge.expression(b)))

  /** Vectors with their squared norm, zero vectors excluded: a zero vector
    * has no direction, and its NaN cosine is ordered/compared differently
    * by the JVM (NaN >= t false), Catalyst (NaN largest), and DuckDB
    * (0/0 -> NULL) — the one value the engines genuinely disagree on, so
    * it must never reach a comparison. Oracles mirror with `n2 > 0`. */
  private def vecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"),
        norm2(col("embedding")).as("n2"))
      .filter(col("n2") > 0.0)

  /** q189's SRP hyperplane count: 6 bits → 64 buckets, sized so the
    * fixture's buckets hold ~n/64 vectors (multi-probe Hamming ≤ 2 then
    * visits 22/64 ≈ 34% of the corpus per query — see srpProbeMasks). */
  private val SrpBits = 6

  /** Deterministic Rademacher hyperplanes for q189: sign(b, i) = ±1 by
    * the parity of the engine's charHash("b:i") after the q170 squaring
    * scramble (an unscrambled short-string hash has parity biased by the
    * last character). The SAME values are pinned into the oracle SQL as
    * literal lists, so both engines fold identical ±1 sequences. */
  private def srpSigns: Array[Array[Int]] =
    // scramble via the ONE shared definition (Mining.scrambleLong) — a
    // private re-inline of the constant chain here would be the exact
    // single-consumer drift hazard the consolidation note in Mining warns
    // about
    Array.tabulate(SrpBits, 64) { (b, i) =>
      if (Mining.scrambleLong(
          graft.functions.TextHash.polyHash(s"$b:$i")) % 2 == 0) 1 else -1
    }

  /** q189's multi-probe XOR masks: Hamming distance ≤ 2 from the query's
    * own bucket (1 + 6 + 15 = 22 of 64 buckets), in deterministic order. */
  private def srpProbeMasks: Seq[Int] =
    0 +: (0 until SrpBits).map(1 << _) ++:
      (for {
        k <- 0 until SrpBits; j <- k + 1 until SrpBits
      } yield (1 << k) | (1 << j))

  /** 6-bit SRP signature: bit b set iff the b-th hyperplane dot ≥ 0.
    * Ascending-index double fold — the oracle replays it bit-identically
    * via list_reduce over the literal sign lists. */
  private def srpBucket(signs: Array[Array[Int]], va: Array[Float]): Int = {
    var bucket = 0
    var b = 0
    while (b < SrpBits) {
      var acc = 0.0
      var i = 0
      while (i < va.length) { acc += signs(b)(i) * va(i).toDouble; i += 1 }
      if (acc >= 0) bucket |= 1 << b
      b += 1
    }
    bucket
  }

  /** Oracle fragment: squared norm of `e` as a list_reduce fold. */
  private[queries] def sqlNorm2(e: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       list_transform($e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       (acc, x) -> acc + x)"""

  /** Oracle fragment: dot of two 64-dim lists as an index-ordered fold. */
  private[queries] def sqlDot(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
       (acc, x) -> acc + x)"""

  // r18 (guide §2.4): the exact and IVF top-k tables are shared
  // intermediates — q39/q111 serve them and the q134 recall harness reads
  // BOTH — so each is staged once per (session, dir) and every consumer
  // reads the materialized 50-row table instead of re-running its corpus
  // scan (the jaccard-pairs/basket-pairs pattern: in a real pipeline the
  // ANN result table is written once and the recall audit joins it).
  // Staged slots, so Bench attributes each build to its own row.
  private val exactTopSlot = graft.Staged.cached("exact_topk_build")
  private val ivfTopSlot = graft.Staged.cached("ivf_topk_build")

  private def exactTopK(s: SparkSession, d: String): DataFrame =
    exactTopSlot(s, d)(graft.Staged.persistNow(exactTopKPlan(s, d)))

  private def ivfTopK(s: SparkSession, d: String): DataFrame =
    ivfTopSlot(s, d)(graft.Staged.persistNow(ivfTopKPlan(s, d)))

  /** Exact brute-force top-5 (q39's law), shared with the q134 recall
    * harness: first-10-ids query batch, every corpus vector scored with the
    * native cosine kernel, (cos DESC, vec_id ASC) window rank. */
  private def exactTopKPlan(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d)
    val q = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // native kernel score: the HOF fold ran interpreted per element and
    // was the q39 hot spot; CosineSim fuses dot+norms in one codegen pass
    val scored = broadcast(q).join(v, col("query_id") =!= col("vec_id"))
      .withColumn("cos", cosSim(col("q_emb"), col("embedding")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("label").as("neighbor_label"))
  }

  /** IVF nprobe=2 approximate top-5 (q111's law), shared with the q134
    * recall harness. See q111's scaladoc for the scale shape. */
  private def ivfTopKPlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nprobe = 2
    val bc = s.sparkContext.broadcast(collectCodebook(s,
      vecs(s, d).filter(col("vec_id") < 16)
        .select(col("vec_id"), col("embedding"))))
    // corpus assignment: same typed-map kernel law as q40 (first
    // ascending cent_id wins cosine ties), carrying the label through
    val clustered = vecs(s, d)
      .select(col("vec_id"), col("label"), col("embedding"))
      .as[(Long, Int, Array[Float])]
      .map { case (id, lb, va) =>
        val (cids, cm, cn2) = bc.value
        (id, lb, cids(nearestIdx(centroidCos(va, cm, cn2))), va)
      }
      .toDF("vec_id", "label", "cluster", "embedding")
    // per-query probe list: rank the (broadcast) codebook by the same
    // fold, keep the nprobe nearest — a narrow map over the query
    // batch, exploded to (query_id, cluster) rows
    val probes = vecs(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (qid, va) =>
        val (cids, cm, cn2) = bc.value
        val cos = centroidCos(va, cm, cn2)
        // (cos DESC, cent_id ASC) — same precedence law as assignment
        val top = cids.indices.sortBy(c => (-cos(c), cids(c)))
          .take(nprobe).map(cids(_)).toArray
        (qid, va, top)
      }
      .toDF("query_id", "q_emb", "probe_cls")
      .select(col("query_id"), col("q_emb"),
        explode(col("probe_cls")).as("cluster"))
    // candidates = members of probed clusters only; probes side is
    // query-batch-proportional, so broadcast — the corpus never shuffles
    val cand = clustered.join(broadcast(probes), Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosSim(col("q_emb"), col("embedding")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("label").as("neighbor_label"))
  }

  val qs: Map[String, Q] = Map(

    // Embedding-cosine near-dup: all pairs with cosine >= 0.45, ids only.
    // Executed as a block-partitioned exact matrix join: rows hash into B
    // row-blocks; each of the B(B+1)/2 block pairs is one task scanning
    // block_i × block_j with a primitive-array JVM kernel (the Catalyst HOF
    // fold ran interpreted and was 30x slower). NO driver collect and NO
    // full-table broadcast — per-task memory is two blocks (pick B so n/B
    // fits an executor), and the only shuffle moves each vector ~B+1 times.
    // The fold order (ascending dim, acc += a*b in double) stays
    // byte-identical to the oracle, so the threshold decides identically.
    // This is the exact baseline; q40's IVF pruning is the path that cuts
    // the O(n²) candidate work itself.
    "q38_cosine_neardup" -> Q(
      run = (s, d) => {
        import s.implicits._
        val nPart = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
        // B(B+1)/2 block-pair tasks ≈ nPart keeps all cores busy
        val B = math.max(2, math.ceil(math.sqrt(nPart * 2.0)).toInt)
        val blocks = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"), col("embedding"))
          .as[(Long, Int, Array[Float])].rdd
          .map(r => ((r._1 % B).toInt, r))
          .groupByKey(B)
          .mapValues { rs =>
            val arr = rs.toArray.sortBy(_._1) // id-sorted: intra-block a<b is triangular
            val n2 = arr.map { case (_, _, v) =>
              var acc = 0.0; var i = 0
              while (i < v.length) { acc += v(i).toDouble * v(i).toDouble; i += 1 }
              acc
            }
            (arr, n2)
          }
          // both join sides read this RDD: persist so the block sort + norm
          // pass runs once, not once per side (ContextCleaner frees it when
          // the RDD goes unreachable after the query)
          .persist()
        // row-block k serves as the left side of pairs (k, j>=k) and the
        // right side of pairs (i<=k, k): every unordered block pair gets
        // both operands exactly once
        val left = blocks.flatMap { case (k, blk) => (k until B).map(j => ((k, j), blk)) }
        val right = blocks.flatMap { case (k, blk) => (0 to k).map(i => ((i, k), blk)) }
        val pairs = left.join(right, nPart).flatMap {
          case ((i, j), ((la, ln2), (ra, rn2))) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Int)]
            var a = 0
            while (a < la.length) {
              val (idA, lbA, va) = la(a)
              var b = if (i == j) a + 1 else 0 // same block: triangular; else full cross
              while (b < ra.length) {
                val (idB, lbB, vb) = ra(b)
                var acc = 0.0; var x = 0
                while (x < va.length) { acc += va(x).toDouble * vb(x).toDouble; x += 1 }
                val cos = acc / (math.sqrt(ln2(a)) * math.sqrt(rn2(b)))
                // zero vectors have no direction: cos is NaN, and JVM
                // NaN >= t (false) disagrees with SQL NaN ordering
                // (greatest) — drop them explicitly on BOTH sides
                // (oracle mirrors with n2 > 0) so the engines agree
                if (ln2(a) > 0 && rn2(b) > 0 && cos >= 0.45) {
                  if (idA < idB) out += ((idA, idB, lbA, lbB))
                  else out += ((idB, idA, lbB, lbA))
                }
                b += 1
              }
              a += 1
            }
            out
        }
        pairs.toDF("vec_a", "vec_b", "label_a", "label_b")
          .orderBy("vec_a", "vec_b")
      },
      oracle = Some(s"""
        WITH v AS (
          SELECT * FROM (
            SELECT vec_id, label, embedding, ${sqlNorm2("embedding")} AS n2
            FROM embeddings) WHERE n2 > 0)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               a.label AS label_a, b.label AS label_b
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE a.n2 > 0 AND b.n2 > 0
          AND ${sqlDot("a.embedding", "b.embedding")} / (sqrt(a.n2) * sqrt(b.n2)) >= 0.45
        ORDER BY vec_a, vec_b"""),
      doc = "embedding cosine near-dup pairs (exact, fold-deterministic)"),

    // Brute-force cosine top-k: first 10 vec_ids as queries, top-5 neighbors
    // each by (cosine desc, id asc). TakeOrdered per query via window rank.
    "q39_ann_topk" -> Q(
      run = (s, d) => exactTopK(s, d).orderBy("query_id", "rank"),
      oracle = Some(s"""
        WITH v AS (
          SELECT * FROM (
            SELECT vec_id, label, embedding, ${sqlNorm2("embedding")} AS n2
            FROM embeddings) WHERE n2 > 0),
        scored AS (
          SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, n.label AS neighbor_label,
                 ${sqlDot("q.embedding", "n.embedding")} / (sqrt(q.n2) * sqrt(n.n2)) AS cos
          FROM v q JOIN v n ON q.vec_id < 10 AND n.vec_id <> q.vec_id),
        ranked AS (
          SELECT query_id, neighbor_id, neighbor_label,
                 CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
          FROM scored)
        SELECT query_id, rank, neighbor_id, neighbor_label
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""),
      doc = "brute-force cosine top-k (broadcast queries + window rank)"),

    // IVF-bucketed near-dup — the scale path: assign every vector to its
    // nearest of 16 deterministic centroids (vec_id < 16), generate pairs
    // only within a cluster. Candidate set shrinks ~16x; recall = pairs
    // co-clustered (an explicit, deterministic approximation).
    "q40_ivf_neardup" -> Q(
      run = (s, d) => {
        // assignment is a narrow map over a broadcast centroid matrix (the
        // 100 TB shape: centroids always fit in a broadcast) executed as a
        // JVM float kernel — the Catalyst HOF fold runs interpreted per
        // element and was the q40 hot spot. Ties (equal cos) keep the
        // smallest cent_id, identical to the oracle's (cos DESC, cent_id)
        // ranking; the fold order matches the oracle bit-for-bit.
        import s.implicits._
        // centroid ids ride along so the emitted cluster id is the
        // centroid's vec_id (the oracle's cent_id), not an array index —
        // they only coincide while the centroid ids are contiguous
        val bc = s.sparkContext.broadcast(collectCodebook(s,
          vecs(s, d).filter(col("vec_id") < 16)
            .select(col("vec_id"), col("embedding"))))
        // vecs() excludes zero vectors — their NaN cosine diverges across
        // engines (see vecs scaladoc); the oracle's v CTE filters the same.
        // Assignment runs as a typed-Dataset map over primitive Array[Float]
        // (the Seq[Float] UDF form boxed every element of every row); the
        // pair filter is the native codegen CosineSim kernel.
        val clustered = vecs(s, d)
          .select(col("vec_id"), col("embedding"))
          .as[(Long, Array[Float])]
          .map { case (id, va) =>
            val (cids, cm, cn2) = bc.value
            (id, cids(nearestIdx(centroidCos(va, cm, cn2))), va)
          }
          .toDF("vec_id", "cluster", "embedding")
        val a = clustered.select(col("cluster"), col("vec_id").as("vec_a"),
          col("embedding").as("emb_a"))
        val b = clustered.select(col("cluster"), col("vec_id").as("vec_b"),
          col("embedding").as("emb_b"))
        a.join(b, Seq("cluster"))
          .filter(col("vec_a") < col("vec_b"))
          .filter(cosSim(col("emb_a"), col("emb_b")) >= 0.4)
          .select(col("cluster"), col("vec_a"), col("vec_b"))
          .orderBy("cluster", "vec_a", "vec_b")
      },
      oracle = Some(s"""
        WITH v AS (
          SELECT * FROM (
            SELECT vec_id, label, embedding, ${sqlNorm2("embedding")} AS n2
            FROM embeddings) WHERE n2 > 0),
        cents AS (
          SELECT vec_id AS cent_id, embedding AS c_emb, n2 AS c_n2
          FROM v WHERE vec_id < 16),
        assigned AS (
          SELECT v.vec_id, v.embedding, v.n2, c.cent_id,
                 ${sqlDot("v.embedding", "c.c_emb")} / (sqrt(v.n2) * sqrt(c.c_n2)) AS cos_c
          FROM v CROSS JOIN cents c),
        clustered AS (
          SELECT vec_id, cent_id AS cluster, embedding, n2 FROM (
            SELECT vec_id, cent_id, embedding, n2,
                   row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
            FROM assigned) t
          WHERE rn = 1)
        SELECT a.cluster AS cluster, a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM clustered a JOIN clustered b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE ${sqlDot("a.embedding", "b.embedding")} / (sqrt(a.n2) * sqrt(b.n2)) >= 0.4
        ORDER BY cluster, vec_a, vec_b"""),
      doc = "IVF cluster assignment + within-cluster near-dup (scale path)"),

    // IVF-bucketed top-k SEARCH — the ANN serving path q39/q40 between them
    // left uncovered: q39 is exact brute-force top-k (scores the whole
    // corpus per query), q40 is IVF near-dup PAIRS. This is the production
    // shape real vector search runs at scale: rank the codebook per query,
    // probe only the nprobe=2 nearest clusters, score candidates inside
    // them. Candidate work drops from |corpus| to the probed clusters'
    // population (~nprobe/K of the corpus with a balanced codebook);
    // recall is explicitly approximate (a neighbor assigned to an
    // unprobed cluster is missed) and deterministic, so the oracle
    // replays it exactly.
    // 100 TB shape: centroids broadcast (model metadata, bounded by K);
    // assignment + query-probe ranking are narrow kernel maps; the ONE
    // join is probe-to-cluster — broadcast (query-batch-proportional
    // probes vs corpus-sized clustered side), never a corpus shuffle; the
    // per-query top-5 is a bounded window over probed candidates only.
    "q111_ivf_topk" -> Q(
      run = (s, d) => ivfTopK(s, d).orderBy("query_id", "rank"),
      oracle = Some(s"""
        WITH v AS (
          SELECT * FROM (
            SELECT vec_id, label, embedding, ${sqlNorm2("embedding")} AS n2
            FROM embeddings) WHERE n2 > 0),
        cents AS (
          SELECT vec_id AS cent_id, embedding AS c_emb, n2 AS c_n2
          FROM v WHERE vec_id < 16),
        assigned AS (
          SELECT v.vec_id, v.label, v.embedding, v.n2, c.cent_id,
                 ${sqlDot("v.embedding", "c.c_emb")} / (sqrt(v.n2) * sqrt(c.c_n2)) AS cos_c
          FROM v CROSS JOIN cents c),
        clustered AS (
          SELECT vec_id, label, embedding, n2, cent_id AS cluster FROM (
            SELECT vec_id, label, embedding, n2, cent_id,
                   row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
            FROM assigned) t
          WHERE rn = 1),
        q AS (
          SELECT vec_id AS query_id, embedding AS q_emb, n2 AS q_n2
          FROM v WHERE vec_id < 10),
        probe AS (
          SELECT query_id, cent_id AS cluster FROM (
            SELECT q.query_id, c.cent_id,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY ${sqlDot("q.q_emb", "c.c_emb")} / (sqrt(q.q_n2) * sqrt(c.c_n2)) DESC,
                              c.cent_id) AS pr
            FROM q CROSS JOIN cents c) t
          WHERE pr <= 2),
        cand AS (
          SELECT p.query_id, cl.vec_id, cl.label,
                 ${sqlDot("q.q_emb", "cl.embedding")} / (sqrt(q.q_n2) * sqrt(cl.n2)) AS cos
          FROM probe p
          JOIN clustered cl ON cl.cluster = p.cluster
          JOIN q ON q.query_id = p.query_id
          WHERE cl.vec_id <> p.query_id),
        ranked AS (
          SELECT query_id, vec_id, label,
                 CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
          FROM cand)
        SELECT query_id, rank, vec_id AS neighbor_id, label AS neighbor_label
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""),
      doc = "IVF-bucketed approximate top-k search (nprobe=2 probed " +
        "clusters per query — the ANN serving path at scale)"),

    // ANN recall harness — the measurement every approximate-search
    // deployment ships alongside the index: recall@5 of the IVF serving
    // path (q111's law, nprobe=2) against the exact brute-force top-5
    // (q39's law), per query. Both sides are the SHARED ranked-result
    // builders, so the harness grades exactly what q39/q111 serve — a
    // drift between harness and serving path is structurally impossible.
    // 100 TB shape: this is how recall is measured at scale — the exact
    // side runs over a bounded QUERY SAMPLE (here the fixed 10-query
    // batch), never corpus×corpus; the join is (sample×5)-row-sized and
    // the whole harness costs one extra brute-force pass over the corpus
    // for the sample, amortized across index rebuilds. Integer-exact
    // recall (milli units, floor division) so both engines agree.
    "q134_ann_recall" -> Q(
      run = (s, d) => {
        val exact = exactTopK(s, d).select(col("query_id"), col("neighbor_id"))
        val approx = ivfTopK(s, d)
          .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1))
        exact.join(approx, Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_found"))
          .withColumn("recall_milli", expr("(n_found * 1000) div n_exact"))
          .orderBy("query_id")
      },
      oracle = Some(s"""
        WITH v AS (
          SELECT * FROM (
            SELECT vec_id, label, embedding, ${sqlNorm2("embedding")} AS n2
            FROM embeddings) WHERE n2 > 0),
        exact_scored AS (
          SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                 ${sqlDot("q.embedding", "n.embedding")} / (sqrt(q.n2) * sqrt(n.n2)) AS cos
          FROM v q JOIN v n ON q.vec_id < 10 AND n.vec_id <> q.vec_id),
        exact_top AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
            FROM exact_scored) t
          WHERE rnk <= 5),
        cents AS (
          SELECT vec_id AS cent_id, embedding AS c_emb, n2 AS c_n2
          FROM v WHERE vec_id < 16),
        assigned AS (
          SELECT v.vec_id, v.embedding, v.n2, c.cent_id,
                 ${sqlDot("v.embedding", "c.c_emb")} / (sqrt(v.n2) * sqrt(c.c_n2)) AS cos_c
          FROM v CROSS JOIN cents c),
        clustered AS (
          SELECT vec_id, embedding, n2, cent_id AS cluster FROM (
            SELECT vec_id, embedding, n2, cent_id,
                   row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
            FROM assigned) t
          WHERE rn = 1),
        qb AS (
          SELECT vec_id AS query_id, embedding AS q_emb, n2 AS q_n2
          FROM v WHERE vec_id < 10),
        probe AS (
          SELECT query_id, cent_id AS cluster FROM (
            SELECT qb.query_id, c.cent_id,
                   row_number() OVER (PARTITION BY qb.query_id
                     ORDER BY ${sqlDot("qb.q_emb", "c.c_emb")} / (sqrt(qb.q_n2) * sqrt(c.c_n2)) DESC,
                              c.cent_id) AS pr
            FROM qb CROSS JOIN cents c) t
          WHERE pr <= 2),
        ivf_cand AS (
          SELECT p.query_id, cl.vec_id,
                 ${sqlDot("qb.q_emb", "cl.embedding")} / (sqrt(qb.q_n2) * sqrt(cl.n2)) AS cos
          FROM probe p
          JOIN clustered cl ON cl.cluster = p.cluster
          JOIN qb ON qb.query_id = p.query_id
          WHERE cl.vec_id <> p.query_id),
        ivf_top AS (
          SELECT query_id, vec_id AS neighbor_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
            FROM ivf_cand) t
          WHERE rnk <= 5)
        SELECT e.query_id,
               count(*) AS n_exact,
               count(i.neighbor_id) AS n_found,
               (count(i.neighbor_id) * 1000) // count(*) AS recall_milli
        FROM exact_top e
        LEFT JOIN ivf_top i
          ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
        ORDER BY e.query_id"""),
      doc = "ANN recall harness: recall@5 of the IVF serving path vs the " +
        "exact brute-force top-k over a bounded query sample"),

    // Int8-quantized cosine near-dup: the 4x-memory-cut representation real
    // vector pipelines run ANN over (scalar quantization: per-vector scale
    // 127/max|x|, round-away-from-zero to [-127,127]). Same block-
    // partitioned join shape as q38 but the kernel is integer multiply-adds
    // over byte-range values — at 100 TB this is the difference between the
    // vector corpus fitting executor memory or not. The threshold test is
    // EXACT integer arithmetic on both engines (dot > 0 and
    // 400·dot² ≥ 81·|a|²·|b|², i.e. cos ≥ 0.45 squared without a float
    // divide), and the quantization itself uses the same two IEEE double
    // ops in both (x·(127/m), round half away from zero) — so the oracle
    // decides identically, no 1-ulp hazard.
    "q92_quantized_neardup" -> Q(
      run = (s, d) => {
        import s.implicits._
        val nPart = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
        val B = math.max(2, math.ceil(math.sqrt(nPart * 2.0)).toInt)
        def quantize(v: Array[Float]): Array[Long] = {
          var m = 0.0; var i = 0
          while (i < v.length) {
            val a = math.abs(v(i).toDouble); if (a > m) m = a; i += 1
          }
          if (m == 0.0) null // zero vector: no direction, dropped both sides
          else {
            val scale = 127.0 / m
            val q = new Array[Long](v.length)
            i = 0
            while (i < v.length) {
              val x = v(i).toDouble * scale
              q(i) = (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
              i += 1
            }
            q
          }
        }
        val blocks = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"), col("embedding"))
          .as[(Long, Int, Array[Float])].rdd
          .flatMap { case (id, lb, v) =>
            val q = quantize(v)
            if (q == null) Iterator.empty
            else {
              var nn = 0L; var i = 0
              while (i < q.length) { nn += q(i) * q(i); i += 1 }
              Iterator.single(((id % B).toInt, (id, lb, q, nn)))
            }
          }
          .groupByKey(B)
          .mapValues(_.toArray.sortBy(_._1))
          .persist() // both join sides read it — quantize+sort once
        val left = blocks.flatMap { case (k, blk) => (k until B).map(j => ((k, j), blk)) }
        val right = blocks.flatMap { case (k, blk) => (0 to k).map(i => ((i, k), blk)) }
        val pairs = left.join(right, nPart).flatMap { case ((i, j), (la, ra)) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Int)]
          var a = 0
          while (a < la.length) {
            val (idA, lbA, qa, nnA) = la(a)
            var b = if (i == j) a + 1 else 0
            while (b < ra.length) {
              val (idB, lbB, qb, nnB) = ra(b)
              var dot = 0L; var x = 0
              while (x < qa.length) { dot += qa(x) * qb(x); x += 1 }
              if (dot > 0 && 400L * dot * dot >= 81L * nnA * nnB) {
                if (idA < idB) out += ((idA, idB, lbA, lbB))
                else out += ((idB, idA, lbB, lbA))
              }
              b += 1
            }
            a += 1
          }
          out
        }
        pairs.toDF("vec_a", "vec_b", "label_a", "label_b")
          .orderBy("vec_a", "vec_b")
      },
      oracle = Some("""
        WITH q AS (
          SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(CASE WHEN x * (127.0 / m) >= 0
                     THEN floor(x * (127.0 / m) + 0.5)
                     ELSE ceil(x * (127.0 / m) - 0.5) END AS BIGINT)) AS qv
          FROM (SELECT vec_id, label, embedding,
                       list_max(list_transform(embedding, x -> abs(x))) AS m
                FROM embeddings) t
          WHERE m > 0),
        n AS (SELECT vec_id, label, qv,
                     CAST(list_dot_product(qv, qv) AS BIGINT) AS nn FROM q)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               a.label AS label_a, b.label AS label_b
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE CAST(list_dot_product(a.qv, b.qv) AS BIGINT) > 0
          AND 400 * CAST(list_dot_product(a.qv, b.qv) AS BIGINT)
                  * CAST(list_dot_product(a.qv, b.qv) AS BIGINT)
              >= 81 * a.nn * b.nn
        ORDER BY vec_a, vec_b"""),
      doc = "int8 scalar-quantized cosine near-dup (exact integer threshold)"),

    // Embedding aggregation: per-label centroid summary in scaled-integer
    // space (floor(x*1e6) sums are order-independent, so engine-stable where
    // a double mean would not be).
    "q41_label_centroids" -> Q(
      run = (s, d) => {
        val dims = (0 until 4).map { i =>
          expr(s"CAST(sum(CAST(floor(CAST(embedding[$i] AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT) div count(1)")
            .as(s"dim${i}_avg_x1e6")
        }
        val aggs = count(lit(1)).as("n") +: dims
        Tables.embeddings(s, d)
          .groupBy(col("label"))
          .agg(aggs.head, aggs.tail: _*)
          .orderBy("label")
      },
      oracle = Some("""
        SELECT label, count(*) AS n,
               CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT) // count(*) AS dim0_avg_x1e6,
               CAST(sum(CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT) // count(*) AS dim1_avg_x1e6,
               CAST(sum(CAST(floor(CAST(embedding[3] AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT) // count(*) AS dim2_avg_x1e6,
               CAST(sum(CAST(floor(CAST(embedding[4] AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT) // count(*) AS dim3_avg_x1e6
        FROM embeddings GROUP BY label ORDER BY label"""),
      doc = "per-label centroid summary in order-independent integer space"),

    // Full 64-dim centroid through a typed Aggregator[IN, BUF, OUT] — the
    // user-facing custom-aggregation API (SURVEY §2.9): one mutable Long[64]
    // buffer per group, element-wise reduce/merge, so the partial-aggregation
    // (map-side combine) path Spark gives every Aggregator applies to vector
    // state too. Integer-scaled sums keep the result order-independent and
    // engine-stable; the output explodes to (label, dim, sum) rows.
    "q63_centroid_agg" -> Q(
      run = (s, d) => {
        import s.implicits._
        val dims = 64
        // resolved here, not inside the aggregator: there it would capture
        // the session, which stops serializing once an Observation has run
        val longs = implicitly[org.apache.spark.sql.Encoder[Array[Long]]]
        val centroid = new org.apache.spark.sql.expressions.Aggregator[
            (Int, Array[Float]), Array[Long], Array[Long]] {
          def zero: Array[Long] = new Array[Long](dims)
          def reduce(b: Array[Long], row: (Int, Array[Float])): Array[Long] = {
            val v = row._2; var i = 0
            while (i < dims) { b(i) += math.floor(v(i).toDouble * 1000000.0).toLong; i += 1 }
            b
          }
          def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
            var i = 0; while (i < dims) { a(i) += b(i); i += 1 }; a
          }
          def finish(b: Array[Long]): Array[Long] = b
          def bufferEncoder = longs
          def outputEncoder = longs
        }
        Tables.embeddings(s, d)
          .select(col("label"), col("embedding"))
          .as[(Int, Array[Float])]
          .groupByKey(_._1)
          .agg(centroid.toColumn.name("sums"))
          .toDF("label", "sums")
          .select(col("label"), posexplode(col("sums")).as(Seq("dim", "sum_x1e6")))
          .orderBy("label", "dim")
      },
      oracle = Some("""
        SELECT label, CAST(i - 1 AS INT) AS dim,
               CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_x1e6
        FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
        GROUP BY label, i ORDER BY label, dim"""),
      doc = "typed Aggregator centroid over Array[Float] (map-side combinable)"),

    // SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    // web-scale through semantic deduplication" — public literature): the
    // training-pipeline step ABOVE near-dup pair listing (q38/q40) — decide
    // which documents to KEEP. Cluster embeddings, call within-cluster
    // pairs with cosine >= tau semantic duplicates, and per duplicate
    // relation keep the example LEAST similar to its centroid (the paper's
    // retention rule: low-cos_c items are the cluster's diverse edge, and
    // keeping them measurably beats keeping random or central members).
    //
    // Deterministic law (the paper leaves group resolution to
    // implementation; this form is pairwise and engine-replayable): within
    // a cluster, x is DROPPED iff some y with cos(x,y) >= 0.4 precedes it
    // in (cos_c ASC, vec_id ASC) order. Precedence compares the SAME
    // bit-identical doubles both engines computed for assignment, so the
    // tie-break replays exactly.
    //
    // 100 TB shape: identical to q40's scale path — 16 broadcast centroids
    // (a trained k-means/IVF codebook in production), assignment + cos_c in
    // one narrow JVM kernel pass, then ONE shuffle on cluster id for the
    // precedence join; pair work is within-cluster only, never corpus-
    // quadratic, and the kept/dropped marking is a left join on the
    // (duplicate-proportional) dropped set. No driver state beyond the
    // centroid matrix.
    "q109_semdedup" -> Q(
      run = (s, d) =>
        // the fixture codebook is the first 16 vectors — the same
        // deterministic stand-in q40 uses for a trained k-means/IVF
        // codebook. The law itself is codebook-agnostic: see [[semDeDup]]
        // (SemDeDupSpec runs it under a different K and checks the
        // retention law against a brute-force replay).
        semDeDup(s, vecs(s, d),
          vecs(s, d).filter(col("vec_id") < 16)
            .select(col("vec_id").as("cent_id"), col("embedding")),
          tau = 0.4),
      oracle = Some(s"""
        WITH v AS (
          SELECT * FROM (
            SELECT vec_id, embedding, ${sqlNorm2("embedding")} AS n2
            FROM embeddings) WHERE n2 > 0),
        cents AS (
          SELECT vec_id AS cent_id, embedding AS c_emb, n2 AS c_n2
          FROM v WHERE vec_id < 16),
        assigned AS (
          SELECT v.vec_id, v.embedding, v.n2, c.cent_id,
                 ${sqlDot("v.embedding", "c.c_emb")} / (sqrt(v.n2) * sqrt(c.c_n2)) AS cos_c
          FROM v CROSS JOIN cents c),
        clustered AS (
          SELECT vec_id, cent_id AS cl, embedding, n2, cos_c FROM (
            SELECT vec_id, cent_id, embedding, n2, cos_c,
                   row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
            FROM assigned) t
          WHERE rn = 1),
        dropped AS (
          SELECT DISTINCT x.vec_id
          FROM clustered x JOIN clustered y
            ON x.cl = y.cl
           AND (y.cos_c < x.cos_c OR (y.cos_c = x.cos_c AND y.vec_id < x.vec_id))
          WHERE ${sqlDot("x.embedding", "y.embedding")} / (sqrt(x.n2) * sqrt(y.n2)) >= 0.4)
        SELECT c.cl AS cluster, c.vec_id AS vec_id,
               (d.vec_id IS NULL) AS kept
        FROM clustered c LEFT JOIN dropped d ON c.vec_id = d.vec_id
        ORDER BY cluster, c.vec_id"""),
      doc = "SemDeDup keep/drop decision (cluster + within-cluster cosine, " +
        "keep the least-central duplicate; Abbas et al. 2023)"),

    // Product-quantization ANN (Jégou et al. 2011, "Product Quantization
    // for Nearest Neighbor Search" — public literature): the MEMORY axis of
    // approximate search, complementing q111's IVF (the candidate-count
    // axis). Vectors are encoded once into M=4 subspace codes (argmin-L2
    // against a per-subspace codebook); the full-corpus scan then never
    // touches raw embeddings — each query builds an M×K distance table and
    // scores a vector as the sum of 4 table lookups (ADC, asymmetric
    // distance computation). A coarse 4×16 quantizer alone ranks poorly
    // (measured recall@5 ≈ 0.2 on the fixture), so the serving shape is
    // the production two-stage form (FAISS's IVFPQ + refine): ADC
    // SHORTLIST of R=50 per query off the codes scan, then an exact
    // rerank that reads raw embeddings for the candidate set only.
    //
    // 100 TB shape: the codes table is 4 small ints per vector — a ~32×
    // compression of the full-scan serving data, which is the entire point
    // (the raw 64-float corpus stops fitting executor memory long before
    // the codes do). Encoding is one narrow kernel pass under a broadcast
    // codebook (model metadata, bounded by M×K); the query batch's
    // distance tables are query-proportional driver metadata (bounded by
    // contract, like the IVF centroid collect), broadcast so ADC scoring
    // is a shuffle-free flatMap over the codes scan; the shortlist window
    // shuffles batch-proportional rows only, and the rerank join
    // broadcasts the (queries×R)-bounded shortlist against the embedding
    // scan — the raw corpus streams, it never shuffles. Approximation
    // error is the PQ shortlist law — deterministic, so the oracle replays
    // rank-for-rank: every d² is the same ascending-index double fold in
    // both engines, and both ADC and rerank sum their 4 subspace terms in
    // ascending-m left-fold order on both sides. Fixture codebook = first
    // 16 vectors' subvectors (the q40/q109/q111 deterministic stand-in for
    // a trained product codebook).
    "q114_pq_topk" -> Q(
      run = (s, d) => {
        import s.implicits._
        val M = 4
        val subDim = 16
        val bc = s.sparkContext.broadcast(collectCodebook(s,
          vecs(s, d).filter(col("vec_id") < 16)
            .select(col("vec_id"), col("embedding"))))
        // sub-distance law shared by encode and the query tables: L2² of
        // subspace m, ascending-dim double fold — the oracle's subd fold
        def subD2(va: Array[Float], cv: Array[Float], m: Int): Double = {
          var acc = 0.0
          var j = 0
          while (j < subDim) {
            val dd = va(m * subDim + j).toDouble - cv(m * subDim + j).toDouble
            acc += dd * dd
            j += 1
          }
          acc
        }
        // encode: one kernel pass → the persistent codes table (at scale
        // this is the materialized serving index; raw embeddings are not
        // read again below). Tie → lowest centroid index (strict <), the
        // oracle's (d2 ASC, cent_id ASC) row_number law.
        val codes = vecs(s, d)
          .select(col("vec_id"), col("label"), col("embedding"))
          .as[(Long, Int, Array[Float])]
          .map { case (id, lb, va) =>
            val (_, cm, _) = bc.value
            val ks = new Array[Int](M)
            var m = 0
            while (m < M) {
              var best = 0
              var bestD = Double.MaxValue
              var c = 0
              while (c < cm.length) {
                val d2 = subD2(va, cm(c), m)
                if (d2 < bestD) { bestD = d2; best = c }
                c += 1
              }
              ks(m) = best
              m += 1
            }
            (id, lb, ks)
          }
        // query batch: raw embedding + M×K distance table per query,
        // computed once on the driver (query-proportional model metadata —
        // bounded by contract, like the centroid collect) and broadcast
        val qtab: Array[(Long, Array[Float], Array[Array[Double]])] =
          vecs(s, d).filter(col("vec_id") < 10)
            .select(col("vec_id"), col("embedding"))
            .as[(Long, Array[Float])].collect().sortBy(_._1)
            .map { case (qid, qe) =>
              val (_, cm, _) = bc.value
              val tab = Array.ofDim[Double](M, cm.length)
              var m = 0
              while (m < M) {
                var c = 0
                while (c < cm.length) {
                  tab(m)(c) = subD2(qe, cm(c), m)
                  c += 1
                }
                m += 1
              }
              (qid, qe, tab)
            }
        val bq = s.sparkContext.broadcast(qtab)
        // stage 1, ADC shortlist: shuffle-free flatMap over the codes scan
        // — 4 table lookups per (vector, query), summed in ascending
        // subspace order (the oracle's list(d2 ORDER BY m) left fold) —
        // then a batch-proportional window keeps R=50 per query
        val scored = codes.flatMap { case (vid, lb, ks) =>
          bq.value.iterator.filter(_._1 != vid).map { case (qid, _, tab) =>
            var acc = 0.0
            var m = 0
            while (m < M) { acc += tab(m)(ks(m)); m += 1 }
            (qid, vid, lb, acc)
          }
        }.toDF("query_id", "vec_id", "label", "adc")
        val wAdc = Window.partitionBy(col("query_id"))
          .orderBy(col("adc").asc, col("vec_id"))
        val shortlist = scored.withColumn("adc_rank", row_number().over(wAdc))
          .filter(col("adc_rank") <= 50)
          .select(col("query_id"), col("vec_id"), col("label"))
        // stage 2, exact rerank: raw embeddings for the candidate set only
        // — the (queries×R)-bounded shortlist broadcasts against the
        // embedding scan; exact d² folds the 4 subspace distances in the
        // same ascending-m order as ADC (the oracle's rerank grouping)
        val reranked = vecs(s, d).select(col("vec_id"), col("embedding"))
          .join(broadcast(shortlist), Seq("vec_id"))
          .select(col("query_id"), col("vec_id"), col("label"), col("embedding"))
          .as[(Long, Long, Int, Array[Float])]
          .map { case (qid, vid, lb, ve) =>
            val qs = bq.value
            var qi = 0 // linear probe of the <=|batch| broadcast — no alloc
            while (qs(qi)._1 != qid) qi += 1
            val qe = qs(qi)._2
            var acc = 0.0
            var m = 0
            while (m < M) { acc += subD2(qe, ve, m); m += 1 }
            (qid, vid, lb, acc)
          }
          .toDF("query_id", "vec_id", "label", "d2")
        val wEx = Window.partitionBy(col("query_id"))
          .orderBy(col("d2").asc, col("vec_id"))
        reranked.withColumn("rank", row_number().over(wEx))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("rank"),
            col("vec_id").as("neighbor_id"), col("label").as("neighbor_label"))
          .orderBy("query_id", "rank")
      },
      oracle = Some {
        def sqlSubD2(a: String, b: String) = s"""list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(1, 17), j ->
                   (CAST($a[ms.m * 16 + j] AS DOUBLE) -
                    CAST($b[ms.m * 16 + j] AS DOUBLE)) *
                   (CAST($a[ms.m * 16 + j] AS DOUBLE) -
                    CAST($b[ms.m * 16 + j] AS DOUBLE)))),
               (acc, z) -> acc + z)"""
        s"""
        WITH v AS (
          SELECT * FROM (
            SELECT vec_id, label, embedding, ${sqlNorm2("embedding")} AS n2
            FROM embeddings) WHERE n2 > 0),
        cents AS (
          SELECT vec_id AS cent_id, embedding AS c_emb
          FROM v WHERE vec_id < 16),
        ms AS (SELECT unnest(range(0, 4)) AS m),
        subd AS (
          SELECT x.vec_id, ms.m, c.cent_id,
                 ${sqlSubD2("x.embedding", "c.c_emb")} AS d2
          FROM v x CROSS JOIN ms CROSS JOIN cents c),
        codes AS (
          SELECT vec_id, m, cent_id FROM (
            SELECT vec_id, m, cent_id,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY d2, cent_id) AS rn
            FROM subd) t
          WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, embedding AS q_emb
              FROM v WHERE vec_id < 10),
        qtab AS (
          SELECT q.query_id, ms.m, c.cent_id,
                 ${sqlSubD2("q.q_emb", "c.c_emb")} AS d2
          FROM q CROSS JOIN ms CROSS JOIN cents c),
        adc AS (
          SELECT k.vec_id, qt.query_id,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(qt.d2 ORDER BY qt.m)), (a, b) -> a + b) AS adc
          FROM codes k
          JOIN qtab qt ON qt.m = k.m AND qt.cent_id = k.cent_id
          WHERE k.vec_id <> qt.query_id
          GROUP BY k.vec_id, qt.query_id),
        short AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adc, vec_id) AS adc_rank
            FROM adc) t
          WHERE adc_rank <= 50),
        rsub AS (
          SELECT s.query_id, s.vec_id, ms.m,
                 ${sqlSubD2("q.q_emb", "x.embedding")} AS d2m
          FROM short s
          JOIN q ON q.query_id = s.query_id
          JOIN v x ON x.vec_id = s.vec_id
          CROSS JOIN ms),
        rer AS (
          SELECT query_id, vec_id,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(d2m ORDER BY m)), (a, b) -> a + b) AS d2
          FROM rsub GROUP BY query_id, vec_id),
        ranked AS (
          SELECT query_id, vec_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                                         ORDER BY d2, vec_id) AS INT) AS rank
          FROM rer)
        SELECT r.query_id, r.rank, r.vec_id AS neighbor_id,
               v.label AS neighbor_label
        FROM ranked r JOIN v ON v.vec_id = r.vec_id
        WHERE r.rank <= 5 ORDER BY query_id, rank"""
      },
      doc = "product-quantization ANN top-k: 4-subspace codes (~32× " +
        "full-scan compression), ADC table-lookup shortlist, exact rerank " +
        "on the candidate set (Jégou et al. 2011; IVFPQ+refine shape)"),

    // Prototype-based data pruning (Sorscher et al. 2022, "Beyond neural
    // scaling laws: beating power law scaling via data pruning" — public
    // literature): the abundant-data regime keeps the HARD examples —
    // per cluster, the members least similar to their centroid — and
    // prunes the most prototypical ones, which carry the least marginal
    // training signal. This is the curation decision COMPLEMENTING q109:
    // SemDeDup removes semantic duplicates pairwise; prototype pruning
    // thins every cluster's redundant core by a fixed fraction (25% here).
    //
    // Deterministic law: assign each vector to its nearest centroid
    // (q40/q109's shared kernel, bit-identical cosine folds), rank cluster
    // members by prototypicality (cos_c DESC, vec_id ASC), and keep x iff
    // 4·rank > n_cluster — dropping the floor(n/4) most prototypical.
    // Integer rank arithmetic, so the decision replays exactly; the only
    // doubles are the same assignment cosines both engines already compute
    // bit-identically for q109.
    //
    // 100 TB shape: centroids broadcast (model metadata, K-bounded);
    // assignment + cos_c is one narrow primitive-kernel pass; then ONE
    // shuffle on cluster id for the per-cluster rank — no pair join at
    // all (cheaper than q109: pruning needs only the ORDER, not pairwise
    // cosines). K must scale with the corpus exactly as q109 documents,
    // which also bounds every rank partition.
    "q120_proto_prune" -> Q(
      run = (s, d) =>
        prototypePrune(s, vecs(s, d),
          vecs(s, d).filter(col("vec_id") < 16)
            .select(col("vec_id").as("cent_id"), col("embedding"))),
      oracle = Some(s"""
        WITH v AS (
          SELECT * FROM (
            SELECT vec_id, embedding, ${sqlNorm2("embedding")} AS n2
            FROM embeddings) WHERE n2 > 0),
        cents AS (
          SELECT vec_id AS cent_id, embedding AS c_emb, n2 AS c_n2
          FROM v WHERE vec_id < 16),
        assigned AS (
          SELECT v.vec_id, c.cent_id,
                 ${sqlDot("v.embedding", "c.c_emb")} / (sqrt(v.n2) * sqrt(c.c_n2)) AS cos_c
          FROM v CROSS JOIN cents c),
        clustered AS (
          SELECT vec_id, cent_id AS cl, cos_c FROM (
            SELECT vec_id, cent_id, cos_c,
                   row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
            FROM assigned) t
          WHERE rn = 1),
        ranked AS (
          SELECT cl, vec_id,
                 row_number() OVER (PARTITION BY cl
                   ORDER BY cos_c DESC, vec_id) AS proto_rank,
                 count(*) OVER (PARTITION BY cl) AS n_cluster
          FROM clustered)
        SELECT cl AS cluster, vec_id,
               CAST(proto_rank AS BIGINT) AS proto_rank,
               CAST(n_cluster AS BIGINT) AS n_cluster,
               proto_rank * 4 > n_cluster AS kept
        FROM ranked ORDER BY cluster, vec_id"""),
      doc = "prototype-based data pruning: drop each cluster's most-" +
        "prototypical quarter (Sorscher et al. 2022; rank-integer law)"),

    // One Lloyd iteration of distributed k-means — the TRAINING step that
    // turns the IVF family's deterministic stand-in codebook into a real
    // one (q40/q109/q111/q114/q120 all consume a codebook and document
    // "trained k-means in production"; this is that operator, one step of
    // it). Assign every vector to its nearest current centroid (the shared
    // bit-exact kernel), then emit the per-cluster integer-scaled
    // coordinate sums + member counts — exactly q63's order-independent
    // x1e6 law, so the new centroid means (sum div n) replay on any
    // engine. Production loops this: codebook_{t+1} = means(assign(codebook_t)),
    // each iteration ONE narrow assignment pass + ONE map-side-combined
    // shuffle keyed (cluster, dim) — never corpus-quadratic, no driver
    // state beyond the K×64 codebook itself.
    "q123_kmeans_step" -> Q(
      run = (s, d) => {
        import s.implicits._
        val bc = s.sparkContext.broadcast(collectCodebook(s,
          vecs(s, d).filter(col("vec_id") < 16)
            .select(col("vec_id"), col("embedding"))))
        val assigned = vecs(s, d)
          .select(col("vec_id"), col("embedding"))
          .as[(Long, Array[Float])]
          .map { case (_, va) =>
            val (cids, cm, cn2) = bc.value
            (cids(nearestIdx(centroidCos(va, cm, cn2))), va)
          }
          .toDF("cent_id", "embedding")
        assigned
          .select(col("cent_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .groupBy(col("cent_id"), col("dim"))
          .agg(
            sum(floor(col("x").cast("double") * 1000000.0).cast("bigint"))
              .as("sum_x1e6"),
            count(lit(1)).as("n_members"))
          .orderBy("cent_id", "dim")
      },
      oracle = Some(s"""
        WITH v AS (
          SELECT * FROM (
            SELECT vec_id, embedding, ${sqlNorm2("embedding")} AS n2
            FROM embeddings) WHERE n2 > 0),
        cents AS (
          SELECT vec_id AS cent_id, embedding AS c_emb, n2 AS c_n2
          FROM v WHERE vec_id < 16),
        assigned AS (
          SELECT v.vec_id, v.embedding, c.cent_id,
                 ${sqlDot("v.embedding", "c.c_emb")} / (sqrt(v.n2) * sqrt(c.c_n2)) AS cos_c
          FROM v CROSS JOIN cents c),
        clustered AS (
          SELECT vec_id, cent_id AS cl, embedding FROM (
            SELECT vec_id, cent_id, embedding, cos_c,
                   row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
            FROM assigned) t
          WHERE rn = 1)
        SELECT cl AS cent_id, CAST(i - 1 AS INT) AS dim,
               CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_x1e6,
               count(*) AS n_members
        FROM clustered CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
        GROUP BY cl, i ORDER BY cent_id, dim"""),
      doc = "one distributed k-means (Lloyd) iteration: nearest-centroid " +
        "assignment + integer-scaled new-centroid sums (codebook training)"),

    // Hard-negative mining — the contrastive-training data-prep step
    // (retrieval/embedding training wants, per anchor, the most-similar
    // examples of a DIFFERENT class: negatives the current representation
    // confuses most). Same serving shape as q39's exact top-k (broadcast
    // query batch, corpus streams, per-query window rank) with the label
    // constraint pushed into the join, so candidates of the anchor's own
    // class never reach the kernel. At 100 TB the anchor batch is bounded
    // by contract (like q39/q114's query side); for full-corpus mining
    // you'd run it batched under q111's IVF probe to bound candidates.
    "q124_hard_negatives" -> Q(
      run = (s, d) => {
        val v = vecs(s, d)
        val q = v.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("label").as("query_label"),
            col("embedding").as("q_emb"))
        val scored = broadcast(q)
          .join(v, col("query_id") =!= col("vec_id") &&
            col("query_label") =!= col("label"))
          .withColumn("cos", cosSim(col("q_emb"), col("embedding")))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("vec_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("query_label"), col("rank"),
            col("vec_id").as("neighbor_id"), col("label").as("neighbor_label"))
          .orderBy("query_id", "rank")
      },
      oracle = Some(s"""
        WITH v AS (
          SELECT * FROM (
            SELECT vec_id, label, embedding, ${sqlNorm2("embedding")} AS n2
            FROM embeddings) WHERE n2 > 0),
        scored AS (
          SELECT q.vec_id AS query_id, q.label AS query_label,
                 n.vec_id AS neighbor_id, n.label AS neighbor_label,
                 ${sqlDot("q.embedding", "n.embedding")} / (sqrt(q.n2) * sqrt(n.n2)) AS cos
          FROM v q JOIN v n
            ON q.vec_id < 10 AND n.vec_id <> q.vec_id AND n.label <> q.label),
        ranked AS (
          SELECT query_id, query_label, neighbor_id, neighbor_label,
                 CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
          FROM scored)
        SELECT query_id, query_label, rank, neighbor_id, neighbor_label
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""),
      doc = "hard-negative mining: per-anchor top-5 most-similar " +
        "different-label examples (broadcast anchors, label filter in join)"),

    // TWO chained Lloyd iterations — the iterative-training control loop
    // (q123 is one step; real codebook training loops assign → recenter
    // until movement stops). The interesting engineering is keeping an
    // ITERATED float computation bit-replayable across engines: the new
    // centroids are means computed as CAST(sum_x1e6 AS DOUBLE) /
    // (1000000.0 · n) then rounded to FLOAT — int64→double conversion,
    // double multiply/divide, and double→float rounding are all IEEE
    // correctly-rounded single ops, so both engines enter iteration 2 with
    // bit-identical centroid coordinates and every downstream cosine/
    // argmax/tie decision replays (the q41/MoneyOut determinism playbook
    // applied to a training loop). Output = iteration-2 sums/counts, i.e.
    // the codebook_2 ingredients.
    //
    // 100 TB shape per iteration: one narrow assignment pass under a
    // broadcast codebook + one map-side-combined (cluster, dim) shuffle;
    // between iterations only K×64 rows of model metadata visit the
    // driver (the collectCodebook contract). Iterations serialize by
    // nature — the loop is the driver program, each round a fresh Spark
    // job over the same scan (production caches the vector projection).
    // Bounds: sum_x1e6 stays double-exact while cluster Σ|x|·1e6 < 2^53
    // (~9e9 unit-scale vectors per cluster per dim — shard the recenter
    // past that); empty clusters drop out deterministically on both sides.
    "q129_kmeans_train" -> Q(
      run = (s, d) => {
        import s.implicits._
        def step(cb: DataFrame): DataFrame = {
          val bc = s.sparkContext.broadcast(collectCodebook(s, cb))
          vecs(s, d).select(col("vec_id"), col("embedding"))
            .as[(Long, Array[Float])]
            .map { case (_, va) =>
              val (cids, cm, cn2) = bc.value
              (cids(nearestIdx(centroidCos(va, cm, cn2))), va)
            }
            .toDF("cent_id", "embedding")
            .select(col("cent_id"),
              posexplode(col("embedding")).as(Seq("dim", "x")))
            .groupBy(col("cent_id"), col("dim"))
            .agg(
              sum(floor(col("x").cast("double") * 1000000.0).cast("bigint"))
                .as("sum_x1e6"),
              count(lit(1)).as("n_members"))
        }
        def toCodebook(stepOut: DataFrame): DataFrame =
          stepOut.groupBy(col("cent_id"))
            .agg(sort_array(collect_list(struct(col("dim"),
              (col("sum_x1e6").cast("double")
                / (lit(1000000.0) * col("n_members")))
                .cast("float").as("c")))).as("sd"))
            .select(col("cent_id"), expr("transform(sd, p -> p.c)").as("embedding"))
        val cb0 = vecs(s, d).filter(col("vec_id") < 16)
          .select(col("vec_id").as("cent_id"), col("embedding"))
        step(toCodebook(step(cb0)))
          .orderBy("cent_id", "dim")
      },
      oracle = Some(s"""
        WITH v AS (
          SELECT * FROM (
            SELECT vec_id, embedding, ${sqlNorm2("embedding")} AS n2
            FROM embeddings) WHERE n2 > 0),
        cents0 AS (
          SELECT vec_id AS cent_id, embedding AS c_emb, n2 AS c_n2
          FROM v WHERE vec_id < 16),
        a1 AS (
          SELECT v.vec_id, v.embedding, c.cent_id,
                 ${sqlDot("v.embedding", "c.c_emb")} / (sqrt(v.n2) * sqrt(c.c_n2)) AS cos_c
          FROM v CROSS JOIN cents0 c),
        cl1 AS (
          SELECT vec_id, cent_id AS cl, embedding FROM (
            SELECT vec_id, cent_id, embedding, cos_c,
                   row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
            FROM a1) t
          WHERE rn = 1),
        s1 AS (
          SELECT cl, i,
                 sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)) AS sx,
                 count(*) AS n
          FROM cl1 CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
          GROUP BY cl, i),
        cents1 AS (
          SELECT cl AS cent_id,
                 list(CAST(CAST(sx AS DOUBLE) / (1000000.0 * n) AS FLOAT)
                      ORDER BY i) AS c_emb
          FROM s1 GROUP BY cl),
        cents1n AS (
          SELECT cent_id, c_emb, ${sqlNorm2("c_emb")} AS c_n2 FROM cents1),
        a2 AS (
          SELECT v.vec_id, v.embedding, c.cent_id,
                 ${sqlDot("v.embedding", "c.c_emb")} / (sqrt(v.n2) * sqrt(c.c_n2)) AS cos_c
          FROM v CROSS JOIN cents1n c),
        cl2 AS (
          SELECT vec_id, cent_id AS cl, embedding FROM (
            SELECT vec_id, cent_id, embedding, cos_c,
                   row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
            FROM a2) t
          WHERE rn = 1)
        SELECT cl AS cent_id, CAST(i - 1 AS INT) AS dim,
               CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_x1e6,
               count(*) AS n_members
        FROM cl2 CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
        GROUP BY cl, i ORDER BY cent_id, dim"""),
      doc = "two chained Lloyd iterations with bit-replayable float " +
        "centroids (iterative codebook training; q123 is one step)"),

    // Embedding drift monitor — the operational check between two
    // embedding snapshots ("did the re-embedding run move the space?"):
    // per label, TWO channels comparing run A (even vec_ids) vs run B
    // (odd vec_ids — the deterministic stand-in for two ingest runs):
    //   mean_cos_milli   — cosine of the centroid-sum vectors. Sensitive
    //     but NOISE for labels whose true mean ≈ 0 (isotropic regions):
    //     measured on this fixture's same-distribution halves it reads
    //     -209..+302 milli — pure sampling noise, which is exactly why a
    //     monitor cannot rely on it alone;
    //   energy_cos_milli — cosine of the per-dim SQUARED-sum (energy
    //     profile) vectors. Strictly positive coordinates, so identical
    //     distributions read ≈ 1000 regardless of mean structure, and an
    //     encoder that re-weights dimensions moves it — the robust alarm
    //     channel (CurationSpec floors it at 900 on the fixture halves).
    // Determinism: per-(label, half, dim) sums use q63's order-independent
    // floor(·1e6) integers (x and x² respectively); each cosine folds the
    // int64s ascending-dim after EXACT int64→double conversion (sums stay
    // under 2^53 while a label-half holds < ~9e9 unit-scale rows), and
    // floor(1000·cos) is one correctly-rounded op — bit-identical on both
    // engines. 100 TB shape: ONE map-side-combined (label, dim) shuffle
    // (64 rows per label per partition), then labels-proportional work.
    "q132_embedding_drift" -> Q(
      run = (s, d) => {
        val sums = Tables.embeddings(s, d)
          .select(col("label"), (col("vec_id") % 2 === 0).as("is_a"),
            posexplode(col("embedding")).as(Seq("dim", "x")))
          .withColumn("xi",
            floor(col("x").cast("double") * 1000000.0).cast("bigint"))
          .withColumn("ei",
            floor(col("x").cast("double") * col("x").cast("double")
              * 1000000.0).cast("bigint"))
          .groupBy(col("label"), col("dim"))
          .agg(
            sum(when(col("is_a"), col("xi")).otherwise(0L)).as("sa"),
            sum(when(!col("is_a"), col("xi")).otherwise(0L)).as("sb"),
            sum(when(col("is_a"), col("ei")).otherwise(0L)).as("ea"),
            sum(when(!col("is_a"), col("ei")).otherwise(0L)).as("eb"),
            sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
            sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb"))
        val perLabel = sums
          .groupBy(col("label"))
          .agg(
            sort_array(collect_list(struct(col("dim"), col("sa")))).as("la"),
            sort_array(collect_list(struct(col("dim"), col("sb")))).as("lb"),
            sort_array(collect_list(struct(col("dim"), col("ea")))).as("lea"),
            sort_array(collect_list(struct(col("dim"), col("eb")))).as("leb"),
            max(col("na")).as("n_a"), max(col("nb")).as("n_b"))
        val cosMilli = udf { (la: Seq[org.apache.spark.sql.Row],
            lb: Seq[org.apache.spark.sql.Row]) =>
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < la.length) {
            val a = la(i).getLong(1).toDouble
            val b = lb(i).getLong(1).toDouble
            dot += a * b; na += a * a; nb += b * b
            i += 1
          }
          // zero-norm guard (the determinism-notes rule): a half whose
          // vectors are all zero gives 0/0 — Spark's floor(NaN).toLong
          // would silently emit 0 while DuckDB's 0/0 is NULL. Define the
          // degenerate cosine as 0 EXPLICITLY on both sides (oracle:
          // COALESCE at egress) so the law is engine-independent.
          if (na == 0.0 || nb == 0.0) 0L
          else math.floor(1000.0 * (dot / (math.sqrt(na) * math.sqrt(nb)))).toLong
        }
        perLabel
          .filter(col("n_a") > 0 && col("n_b") > 0)
          .select(col("label"), col("n_a"), col("n_b"),
            cosMilli(col("la"), col("lb")).as("mean_cos_milli"),
            cosMilli(col("lea"), col("leb")).as("energy_cos_milli"))
          .orderBy("label")
      },
      oracle = Some("""
        WITH e AS (
          SELECT label, vec_id % 2 = 0 AS is_a, embedding FROM embeddings),
        sums AS (
          SELECT label, i AS dim,
                 sum(CASE WHEN is_a THEN CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) ELSE 0 END) AS sa,
                 sum(CASE WHEN NOT is_a THEN CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) ELSE 0 END) AS sb,
                 sum(CASE WHEN is_a THEN CAST(floor(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) ELSE 0 END) AS ea,
                 sum(CASE WHEN NOT is_a THEN CAST(floor(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) ELSE 0 END) AS eb,
                 count(*) FILTER (WHERE is_a) AS na,
                 count(*) FILTER (WHERE NOT is_a) AS nb
          FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
          GROUP BY label, i),
        vecs_l AS (
          SELECT label,
                 list(CAST(sa AS DOUBLE) ORDER BY dim) AS la,
                 list(CAST(sb AS DOUBLE) ORDER BY dim) AS lb,
                 list(CAST(ea AS DOUBLE) ORDER BY dim) AS lea,
                 list(CAST(eb AS DOUBLE) ORDER BY dim) AS leb,
                 max(na) AS n_a, max(nb) AS n_b
          FROM sums GROUP BY label),
        m AS (
          SELECT label, n_a, n_b,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(range(1, 65), i -> la[i] * lb[i])),
                   (acc, x) -> acc + x)
                 / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list_transform(range(1, 65), i -> la[i] * la[i])),
                     (acc, x) -> acc + x))
                  * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list_transform(range(1, 65), i -> lb[i] * lb[i])),
                     (acc, x) -> acc + x))) AS mean_cos,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(range(1, 65), i -> lea[i] * leb[i])),
                   (acc, x) -> acc + x)
                 / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list_transform(range(1, 65), i -> lea[i] * lea[i])),
                     (acc, x) -> acc + x))
                  * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list_transform(range(1, 65), i -> leb[i] * leb[i])),
                     (acc, x) -> acc + x))) AS energy_cos
          FROM vecs_l WHERE n_a > 0 AND n_b > 0)
        SELECT label,
               CAST(n_a AS BIGINT) AS n_a,
               CAST(n_b AS BIGINT) AS n_b,
               COALESCE(CAST(floor(1000.0 * mean_cos) AS BIGINT), 0) AS mean_cos_milli,
               COALESCE(CAST(floor(1000.0 * energy_cos) AS BIGINT), 0) AS energy_cos_milli
        FROM m ORDER BY label"""),
      doc = "embedding drift monitor: per-label mean-centroid and energy-" +
        "profile cosines between two snapshots (exact integer-sum replay)"),

    // Embedding-space label separability — the "are my labels actually
    // separable in this space" health check run before trusting any
    // label-conditioned curation (q120 pruning, q124 negatives): per
    // label, average member-to-own-centroid cosine (cohesion) vs the
    // nearest OTHER label centroid (confusability), and the margin.
    // Same bit-replayable arithmetic discipline as q132: centroids are
    // integer per-dim sums (floor ×1e6), member cosines are ascending-dim
    // double folds floored to milli BEFORE the integer average (so the
    // mean is order-independent), the label-pair matrix is |labels|²
    // bounded metadata. 100 TB shape: ONE (label, dim) map-side-combined
    // shuffle for centroids + one narrow kernel pass for member cosines;
    // the centroid table broadcasts.
    "q147_label_separability" -> Q(
      run = (s, d) => {
        import s.implicits._
        val v = vecs(s, d) // zero-norm excluded, the family's convention
        val sums = v.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .withColumn("xi",
            floor(col("x").cast("double") * 1000000.0).cast("bigint"))
          .groupBy(col("label"), col("dim"))
          .agg(sum(col("xi")).as("sv"))
          .groupBy(col("label"))
          .agg(sort_array(collect_list(struct(col("dim"), col("sv")))).as("cent"))
        val centArr = sums.select(col("label"),
            expr("transform(cent, c -> c.sv)").as("cv"))
          .as[(Int, Array[Long])].collect().sortBy(_._1) // |labels| rows
        val bc = s.sparkContext.broadcast(centArr.toMap)
        // member cohesion: cos(member, own-label centroid), ascending-dim
        // double fold, floored to milli BEFORE the integer mean
        val memberCos = udf { (label: Int, emb: Seq[Float]) =>
          val c = bc.value(label)
          var dot = 0.0; var nx = 0.0; var nc = 0.0; var i = 0
          while (i < c.length) {
            val x = emb(i).toDouble; val s0 = c(i).toDouble
            dot += x * s0; nx += x * x; nc += s0 * s0
            i += 1
          }
          // members are zero-norm-excluded (vecs()), but a CENTROID can
          // still be exactly zero (per-dim floor sums cancelling) — same
          // 0/0 cross-engine hazard as q132; define it as 0 on both sides
          if (nx == 0.0 || nc == 0.0) 0L
          else math.floor(1000.0 * (dot / (math.sqrt(nx) * math.sqrt(nc)))).toLong
        }
        val intra = v.select(col("label"),
            memberCos(col("label"), col("embedding")).as("cm"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
            // +1000 shift keeps the dividend non-negative. Both engines
            // truncate integer division TOWARD ZERO (Spark DIV ≡ DuckDB
            // //, verified incl. negatives) — but truncation on a mixed-
            // sign dividend is not the averaging law we want: the shift
            // makes every dividend non-negative so truncate ≡ floor and
            // the average is the well-defined floor-mean on both sides
            expr("sum(cm + 1000) DIV count(1) - 1000").as("intra_avg_milli"))
        // confusability: nearest other centroid by the same double law —
        // a |labels|² driver computation (bounded metadata)
        def centCos(a: Array[Long], b: Array[Long]): Long = {
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < a.length) {
            val x = a(i).toDouble; val y = b(i).toDouble
            dot += x * y; na += x * x; nb += y * y
            i += 1
          }
          if (na == 0.0 || nb == 0.0) 0L // zero centroid: same rule as above
          else math.floor(1000.0 * (dot / (math.sqrt(na) * math.sqrt(nb)))).toLong
        }
        // flatMap + headOption: a single-label corpus has no "other"
        // centroid — the label yields no row, matching the oracle's empty
        // a.label <> b.label pair set instead of crashing on .head
        val nearest = centArr.flatMap { case (l, cv) =>
          centArr.filter(_._1 != l)
            .map { case (m, cw) => (centCos(cv, cw), m) }
            .sortBy { case (cos, m) => (-cos, m) }.headOption
            .map(best => (l, best._2.toLong, best._1))
        }.toSeq.toDF("label", "nearest_label", "inter_cos_milli")
        intra.join(broadcast(nearest), Seq("label"))
          .withColumn("margin_milli", col("intra_avg_milli") - col("inter_cos_milli"))
          .select(col("label"), col("n"), col("intra_avg_milli"),
            col("nearest_label"), col("inter_cos_milli"), col("margin_milli"))
          .orderBy("label")
      },
      oracle = Some(s"""
        WITH v AS (
          SELECT * FROM (
            SELECT vec_id, label, embedding, ${sqlNorm2("embedding")} AS n2
            FROM embeddings) WHERE n2 > 0),
        sums AS (
          SELECT label, i AS dim,
                 sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)) AS sv
          FROM v CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
          GROUP BY label, i),
        cent AS (
          SELECT label, list(CAST(sv AS DOUBLE) ORDER BY dim) AS cv
          FROM sums GROUP BY label),
        member AS (
          SELECT v.label,
                 CAST(floor(1000.0 * (
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list_transform(range(1, 65), i -> CAST(v.embedding[i] AS DOUBLE) * c.cv[i])),
                     (acc, x) -> acc + x)
                   / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(range(1, 65), i -> CAST(v.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE))),
                       (acc, x) -> acc + x))
                    * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(range(1, 65), i -> c.cv[i] * c.cv[i])),
                       (acc, x) -> acc + x))))) AS BIGINT) AS cm_raw
          FROM v JOIN cent c USING (label)),
        member_g AS (
          -- zero-centroid 0/0 is NULL here but 0 by the engine's guarded
          -- kernel — COALESCE keeps the law engine-independent
          SELECT label, COALESCE(cm_raw, 0) AS cm FROM member),
        intra AS (
          SELECT label, count(*) AS n,
                 sum(cm + 1000) // count(*) - 1000 AS intra_avg_milli
          FROM member_g GROUP BY label),
        pairs AS (
          SELECT a.label,
                 b.label AS other,
                 CAST(floor(1000.0 * (
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list_transform(range(1, 65), i -> a.cv[i] * b.cv[i])),
                     (acc, x) -> acc + x)
                   / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(range(1, 65), i -> a.cv[i] * a.cv[i])),
                       (acc, x) -> acc + x))
                    * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(range(1, 65), i -> b.cv[i] * b.cv[i])),
                       (acc, x) -> acc + x))))) AS BIGINT) AS cc_raw
          FROM cent a JOIN cent b ON a.label <> b.label),
        pairs_g AS (SELECT label, other, COALESCE(cc_raw, 0) AS cc FROM pairs),
        near AS (
          SELECT label, other AS nearest_label, cc AS inter_cos_milli
          FROM (SELECT *, row_number() OVER (PARTITION BY label
                  ORDER BY cc DESC, other) AS rn FROM pairs_g)
          WHERE rn = 1)
        SELECT i.label,
               CAST(i.n AS BIGINT) AS n,
               CAST(i.intra_avg_milli AS BIGINT) AS intra_avg_milli,
               CAST(near.nearest_label AS BIGINT) AS nearest_label,
               CAST(near.inter_cos_milli AS BIGINT) AS inter_cos_milli,
               CAST(i.intra_avg_milli - near.inter_cos_milli AS BIGINT) AS margin_milli
        FROM intra i JOIN near USING (label)
        ORDER BY label"""),
      doc = "embedding-space label separability: per-label member-to-" +
        "centroid cohesion vs nearest-other-centroid confusability + margin"),

    // Lexical↔semantic dedup agreement — the multi-signal calibration
    // every dedup deployment runs before trusting either channel alone:
    // on the id universe where BOTH signals exist (docs that carry a
    // nonzero embedding), compare the q35 text-Jaccard pair set against
    // the q38 embedding-cosine pair set — pairs both flag, text-only
    // (verbatim copies whose embeddings drifted), embedding-only
    // (paraphrases lexical overlap misses), and the pair-set Jaccard
    // agreement in milli. Reuses both registered queries verbatim (their
    // staged caches do the heavy lifting); the matrix itself is
    // pair-set-proportional metadata. 100 TB: both inputs are the
    // candidate-bounded pipelines already proven; the agreement join is
    // dup-proportional × dup-proportional on the pair key.
    "q160_dedup_agreement" -> Q(
      run = (s, d) => {
        val u = Tables.documents(s, d).select(col("doc_id").as("id"))
          .join(vecs(s, d).select(col("vec_id").as("id")), Seq("id"))
        def restrict(df: DataFrame): DataFrame = df
          .join(u.withColumnRenamed("id", "a"), Seq("a"))
          .join(u.withColumnRenamed("id", "b"), Seq("b"))
        val tp = restrict(graft.queries.TextOps.qs("q35_jaccard_pairs")
          .run(s, d).select(col("doc_a").as("a"), col("doc_b").as("b")))
          .withColumn("t", lit(1L))
        val ep = restrict(Vectors.qs("q38_cosine_neardup")
          .run(s, d).select(col("vec_a").as("a"), col("vec_b").as("b")))
          .withColumn("e", lit(1L))
        tp.join(ep, Seq("a", "b"), "full_outer")
          .agg(
            coalesce(sum(col("t")), lit(0L)).as("n_text"),
            coalesce(sum(col("e")), lit(0L)).as("n_emb"),
            coalesce(sum(when(col("t").isNotNull && col("e").isNotNull, 1L)
              .otherwise(0L)), lit(0L)).as("n_both"))
          .select(col("n_text"), col("n_emb"), col("n_both"),
            (col("n_text") - col("n_both")).as("n_text_only"),
            (col("n_emb") - col("n_both")).as("n_emb_only"),
            expr("CASE WHEN n_text + n_emb - n_both > 0 THEN " +
              "n_both * 1000 DIV (n_text + n_emb - n_both) ELSE 0 END")
              .as("agreement_milli"))
      },
      oracle = Some(s"""
        WITH ${graft.queries.TextOps.jaccardCtes},
        v AS (
          SELECT * FROM (
            SELECT vec_id, label, embedding, ${sqlNorm2("embedding")} AS n2
            FROM embeddings) WHERE n2 > 0),
        u AS (
          SELECT d.doc_id AS id FROM documents d
          JOIN v ON v.vec_id = d.doc_id),
        tp AS (
          SELECT j.doc_a AS a, j.doc_b AS b FROM jac j
          JOIN u ua ON ua.id = j.doc_a JOIN u ub ON ub.id = j.doc_b),
        ep AS (
          SELECT x.vec_id AS a, y.vec_id AS b
          FROM v x JOIN v y ON x.vec_id < y.vec_id
          JOIN u ua ON ua.id = x.vec_id JOIN u ub ON ub.id = y.vec_id
          WHERE ${sqlDot("x.embedding", "y.embedding")} / (sqrt(x.n2) * sqrt(y.n2)) >= 0.45),
        m AS (
          SELECT (SELECT count(*) FROM tp) AS n_text,
                 (SELECT count(*) FROM ep) AS n_emb,
                 (SELECT count(*) FROM tp SEMI JOIN ep ON tp.a = ep.a AND tp.b = ep.b) AS n_both)
        SELECT CAST(n_text AS BIGINT) AS n_text,
               CAST(n_emb AS BIGINT) AS n_emb,
               CAST(n_both AS BIGINT) AS n_both,
               CAST(n_text - n_both AS BIGINT) AS n_text_only,
               CAST(n_emb - n_both AS BIGINT) AS n_emb_only,
               CAST(CASE WHEN n_text + n_emb - n_both > 0
                    THEN n_both * 1000 // (n_text + n_emb - n_both)
                    ELSE 0 END AS BIGINT) AS agreement_milli
        FROM m"""),
      doc = "lexical vs semantic dedup agreement matrix on the shared id " +
        "universe: both / text-only / embedding-only pair counts + " +
        "pair-set Jaccard in milli"),

    // LSH-bucketed ANN serving — the signed-random-projection (SRP /
    // random-hyperplane, Charikar 2002) alternative to the IVF path
    // (q111): 6 Rademacher hyperplanes (signs derived deterministically
    // from the engine's charHash+scramble law, pinned as literals in BOTH
    // engines), each vector's bucket is the 6-bit sign pattern of its
    // hyperplane dots, and a query probes every bucket within Hamming
    // distance 2 of its own (multi-probe LSH, 22 of 64 buckets) —
    // candidates reranked by exact cosine.
    // Unlike IVF there is NO training/codebook state: the index is a pure
    // function of the vector, so inserts never re-cluster and shards
    // bucket independently — the property that makes SRP the streaming-
    // ingest ANN index. The trade is recall on unstructured data:
    // measured recall@5 at sf0.01 is 0.52 touching ~34% of the corpus
    // (vs q111's IVF 0.92 at ~12%) because the fixture's near-uniform
    // synthetic vectors are LSH's worst case — data-independent
    // hyperplanes can't adapt the way trained centroids do; on naturally
    // clustered embeddings the gap narrows, and recall tunes with probe
    // radius / table count at the same plan shape.
    // Scale shape: signatures are a narrow typed-map kernel (ascending-
    // index double fold, replayed bit-identically by the oracle's literal
    // sign lists); the probe table is (queries × 22) rows on a broadcast;
    // the corpus shuffles only on the 6-bit bucket key for the candidate
    // equi-join; rerank is the codegen CosineSim kernel on candidates
    // only.
    "q189_srp_lsh_topk" -> Q(
      run = (s, d) => {
        import s.implicits._
        val signs = srpSigns
        val bucketed = vecs(s, d)
          .select(col("vec_id"), col("label"), col("embedding"))
          .as[(Long, Int, Array[Float])]
          .map { case (id, lb, va) => (id, lb, srpBucket(signs, va), va) }
          .toDF("vec_id", "label", "bucket", "embedding")
        val probes = vecs(s, d).filter(col("vec_id") < 10)
          .select(col("vec_id"), col("embedding"))
          .as[(Long, Array[Float])]
          .flatMap { case (qid, va) =>
            val b = srpBucket(signs, va)
            srpProbeMasks.map(m => (qid, va, b ^ m))
          }
          .toDF("query_id", "q_emb", "bucket")
        val cand = bucketed.join(broadcast(probes), Seq("bucket"))
          .filter(col("vec_id") =!= col("query_id"))
          .withColumn("cos", cosSim(col("q_emb"), col("embedding")))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("vec_id"))
        cand.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("rank"),
            col("vec_id").as("neighbor_id"), col("label").as("neighbor_label"))
          .orderBy("query_id", "rank")
      },
      oracle = Some {
        val signLists = srpSigns.map(row =>
          row.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]"))
        def dot(b: Int, emb: String) =
          s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, 65),
               i -> (${signLists(b)}::DOUBLE[])[i] * CAST($emb[i] AS DOUBLE))),
             (acc, x) -> acc + x)"""
        def bucket(emb: String) = (0 until SrpBits).map(b =>
          s"(CASE WHEN ${dot(b, emb)} >= 0 THEN ${1 << b} ELSE 0 END)")
          .mkString(" + ")
        s"""
        WITH v AS (
          SELECT * FROM (
            SELECT vec_id, label, embedding, ${sqlNorm2("embedding")} AS n2
            FROM embeddings) WHERE n2 > 0),
        bk AS (
          SELECT vec_id, label, embedding, n2,
                 ${bucket("embedding")} AS bucket
          FROM v),
        q AS (
          SELECT vec_id AS query_id, embedding AS q_emb, n2 AS q_n2,
                 bucket AS q_bucket
          FROM bk WHERE vec_id < 10),
        probes AS (
          SELECT query_id, q_emb, q_n2,
                 xor(q_bucket, m) AS bucket
          FROM q CROSS JOIN (SELECT unnest(
            ${srpProbeMasks.mkString("[", ",", "]")}) AS m)),
        cand AS (
          SELECT p.query_id, b.vec_id, b.label,
                 ${sqlDot("p.q_emb", "b.embedding")}
                   / (sqrt(p.q_n2) * sqrt(b.n2)) AS cos
          FROM probes p JOIN bk b ON b.bucket = p.bucket
          WHERE b.vec_id <> p.query_id),
        ranked AS (
          SELECT query_id, vec_id, label,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, vec_id) AS INT) AS rank
          FROM cand)
        SELECT query_id, rank, vec_id AS neighbor_id,
               label AS neighbor_label
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""
      },
      doc = "SRP (random-hyperplane) LSH-bucketed approximate top-k: " +
        "6-bit sign signatures, multi-probe Hamming<=2, exact-cosine " +
        "rerank on candidates — the train-free streaming-ingest ANN index")
  )

  /** Prototype-based data pruning (Sorscher et al. 2022) over an arbitrary
    * codebook — see q120 for the law. Shares [[collectCodebook]] /
    * [[centroidCos]] / [[nearestIdx]] with the IVF family, so assignment
    * cosines are bit-identical to q40/q109/q111's and the oracle's.
    *
    * @param vectors  (vec_id: long, embedding: array&lt;float&gt;, ...) —
    *                 zero vectors must already be excluded (see [[vecs]]).
    * @param codebook (cent_id: long, embedding: array&lt;float&gt;).
    *
    * Scale: no pair join — ONE shuffle on cluster id for the per-cluster
    * rank; K grows with the corpus (q109's sizing note) which also bounds
    * each rank partition at the mean cluster size.
    */
  def prototypePrune(s: SparkSession, vectors: DataFrame,
      codebook: DataFrame): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(collectCodebook(s,
      codebook.select(col("cent_id"), col("embedding"))))
    val clustered = vectors.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, va) =>
        val (cids, cm, cn2) = bc.value
        val cos = centroidCos(va, cm, cn2)
        val best = nearestIdx(cos)
        (id, cids(best), cos(best))
      }
      .toDF("vec_id", "cluster", "cos_c")
    val wAll = Window.partitionBy(col("cluster"))
    val wRank = wAll.orderBy(col("cos_c").desc, col("vec_id"))
    clustered
      .withColumn("proto_rank", row_number().over(wRank).cast("long"))
      .withColumn("n_cluster", count(lit(1)).over(wAll))
      .select(col("cluster"), col("vec_id"), col("proto_rank"),
        col("n_cluster"),
        (col("proto_rank") * 4 > col("n_cluster")).as("kept"))
      .orderBy("cluster", "vec_id")
  }

  /** SemDeDup keep/drop curation (Abbas et al. 2023) over an arbitrary
    * codebook — the q109 law with the centroid source lifted to a
    * parameter.
    *
    * @param vectors  (vec_id: long, embedding: array&lt;float&gt;, ...) —
    *                 zero vectors must already be excluded (see [[vecs]]).
    * @param codebook (cent_id: long, embedding: array&lt;float&gt;) — the
    *                 cluster centroids. Collected to the driver and
    *                 broadcast: centroids are model metadata, bounded by K,
    *                 never by corpus size.
    * @param tau      within-cluster cosine at/above which two examples are
    *                 semantic duplicates (paper's epsilon-dedup knob).
    *
    * Sizing K at scale: within-cluster pair work is Σ cluster_size², so K
    * must GROW with the corpus to bound it — the paper ran ~100k clusters
    * on web scale; with even cluster sizes, expected pair work is n²/K per
    * se, i.e. hold n/K (the mean cluster size) roughly constant as n grows.
    * The fixture's K=16 stand-in exercises the identical plan shape: ONE
    * shuffle on cluster id, pairs within cluster only, never corpus-
    * quadratic (PlanSpec asserts no cartesian for the registry form).
    *
    * Kernels are primitive end-to-end: assignment + cos-to-centroid run in
    * one typed-Dataset map over Array[Float] (no boxed elements — the
    * Seq[Float] UDF form boxed every float of every row), and the pair
    * filter is the native codegen [[graft.plans.CosineSim]] expression.
    * Both reproduce the oracle's fold bit-for-bit (ascending-index double
    * accumulation), so threshold/tie decisions replay exactly.
    */
  def semDeDup(s: SparkSession, vectors: DataFrame, codebook: DataFrame,
      tau: Double): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(collectCodebook(s,
      codebook.select(col("cent_id"), col("embedding"))))
    // one kernel pass: nearest centroid id AND the cosine to it (q40's
    // assignment, extended to also emit cos_c for the retention order)
    val clustered = vectors.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, va) =>
        val (cids, cm, cn2) = bc.value
        val cos = centroidCos(va, cm, cn2)
        val best = nearestIdx(cos)
        (id, cids(best), cos(best), va)
      }
      .toDF("vec_id", "cl", "cos_c", "embedding")
    val x = clustered.select(col("cl"), col("vec_id"), col("cos_c"),
      col("embedding").as("emb_x"))
    val y = clustered.select(col("cl"), col("vec_id").as("y_id"),
      col("cos_c").as("y_cos_c"), col("embedding").as("emb_y"))
    val cosPair = cosSim(col("emb_x"), col("emb_y"))
    // dropped = has a tau-duplicate that precedes it in retention order
    val dropped = x.join(y,
        x("cl") === y("cl") &&
          (col("y_cos_c") < col("cos_c") ||
            (col("y_cos_c") === col("cos_c") && col("y_id") < col("vec_id"))),
        "inner")
      .filter(cosPair >= tau)
      .select(col("vec_id")).distinct()
      .withColumn("is_dropped", lit(true))
    clustered
      .join(dropped, Seq("vec_id"), "left")
      .select(col("cl").as("cluster"), col("vec_id"),
        col("is_dropped").isNull.as("kept"))
      .orderBy("cluster", "vec_id")
  }
}

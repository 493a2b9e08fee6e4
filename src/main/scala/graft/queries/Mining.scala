package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.TextHash.{charHash, tokens}

/** Corpus/catalog mining queries added in round 11: ranked retrieval (BM25),
  * elastic shard assignment (rendezvous hashing), budgeted per-source head
  * selection (top-p by char mass), exact integer-arithmetic correlation, and
  * market-basket pair mining. Each is a pattern a 100 TB training-data
  * pipeline runs as a first-class job; each carries an exact DuckDB oracle.
  *
  * Cross-engine determinism: every score is integer/fixed-point (milli
  * units, `div` floor division) — no float summation, no libm (log/sqrt)
  * whose last-ulp behavior could differ between engines. The BM25 idf and
  * sqrt-free correlation are derived rational forms of the textbook
  * formulas; the monotone-transform caveats are documented per query.
  */
object Mining {

  /** The DuckDB replica of [[charHash]] (same fold, same modulus). */
  private def duckCharHash(expr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(string_split($expr,''), c -> CAST(ascii(c) AS BIGINT))),
       |  (acc, c) -> (acc * 31 + c) % 1000000007)""".stripMargin

  /** The squaring-scramble finisher (derivation at q170): short "id:x"
    * strings never wrap charHash's modulus, and an unwrapped polynomial
    * hash is monotone in its last character — h → h²·2654435761 mod P
    * forces the wrap and decorrelates shared prefixes. ONE definition per
    * engine, shared by every consumer (q170/q178/q179/q181/q192), so a
    * single-digit drift can't break exactly one query's hash gate in a
    * way that reads as a data bug. h < P ≈ 2^30 keeps both steps under
    * 2^62 — no int64 overflow in either engine. */
  private[queries] def scramble(h: Column): Column =
    h * h % 1000000007L * 2654435761L % 1000000007L

  /** [[scramble]] for a JVM-side long (broadcast serving kernels that
    * replay the column law, e.g. q119's DSIR scorer). */
  private[queries] def scrambleLong(h: Long): Long =
    h * h % 1000000007L * 2654435761L % 1000000007L

  /** [[scramble]]'s DuckDB replica, digit-for-digit. `e` is spliced twice —
    * pass a plain column reference, not a computed expression. */
  private[queries] def duckScramble(e: String): String =
    s"$e * $e % 1000000007 * 2654435761 % 1000000007"

  /** q169's corpus scoring, shared with the q177 hybrid fusion: per doc,
    * the summed integer BM25-milli over the fixed query vocabulary plus the
    * number of query terms hit. See q169's derivation comment. */
  private def bm25Scores(s: SparkSession, d: String): DataFrame =
    bm25ScoresFor(s, d, Seq("join", "hash", "spark"))

  /** The scored table is a shared intermediate with THREE consumers (q169
    * serves its top-10, q177/q196 rank its top-20 through [[lexTop20]]) —
    * in a real retrieval pipeline the per-doc score table is materialized
    * once per (corpus, query-set) and every serving/audit view reads it.
    * A staged slot (graft.Staged), built by [[bm25ScoresFor]] from ONE
    * corpus scan: one `doc_id` exchange of per-doc term counts, one
    * global aggregate broadcast back. Output is |docs with ≥1 query-term
    * hit| narrow rows — bounded by |docs|, no text column persists. */
  private val bm25Slot = graft.Staged.cached("bm25_scores_build")

  private def bm25ScoresCached(s: SparkSession, d: String): DataFrame =
    bm25Slot(s, d)(graft.Staged.persistNow(bm25Scores(s, d)))

  /** Vocabulary-parameterized form — the oracle queries pin the 3-term
    * vocabulary above; PlanSpec drives THIS with the fixture's 30 hottest
    * tokens to check that the tf table stays ≤ |docs × terms| (the
    * filter-before-explode bound it also pins structurally).
    *
    * One pass over `documents`: each row emits one (term, n) per distinct
    * query term it hits (the vocabulary filter runs INSIDE the array, so
    * the explode is never tokens-sized) plus one NULL-term sentinel
    * (null, 1). They shuffle once on `doc_id`, which also satisfies the
    * (doc_id, dl, term) grouping, so the tf table is per-doc counts with
    * one sentinel group per (doc_id, dl). One global aggregate over that
    * table gives T = Σ dl·tf and D = Σ tf over the sentinels and each
    * term's df; it is broadcast back, and the final `doc_id` grouping
    * needs no exchange either. The aggregate reads the tf table
    * unfiltered: a filter on `term` below it is pushed through the
    * exchange and the corpus is scanned a second time. */
  private[graft] def bm25ScoresFor(s: SparkSession, d: String,
      qterms: Seq[String]): DataFrame = {
    val qlit = array(qterms.map(lit): _*)
    val counted = transform(array_distinct(col("hits")), t =>
      struct(t.as("term"), size(filter(col("hits"), _ === t)).as("n")))
    val sentinel = struct(lit(null).cast("string").as("term"), lit(1).as("n"))
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        filter(col("toks"), t => array_contains(qlit, t)).as("hits"))
      .select(col("doc_id"), col("dl"),
        // a NULL text hits nothing but still counts toward D
        explode(concat(array(sentinel), coalesce(counted, array())))
          .as("h"))
      .repartition(col("doc_id"))
      .groupBy(col("doc_id"), col("dl"), col("h.term").as("term"))
      .agg(sum(col("h.n")).as("tf"))
    val isSentinel = col("term").isNull
    val corpus = tf.agg(
      sum(when(isSentinel, col("dl") * col("tf"))).as("t_tokens"),
      sum(when(isSentinel, col("tf"))).as("d_docs"),
      array(qterms.map(t => count_if(col("term") === t)): _*).as("dfs"))
    // the lookup is gated: element_at at a NULL position is not NULL in
    // every Spark version, and a sentinel must never score
    tf.crossJoin(broadcast(corpus))
      .withColumn("df", when(!isSentinel, element_at(col("dfs"),
        array_position(qlit, col("term")).cast("int"))))
      .withColumn("s_milli", expr(
        """CAST((CAST(1000 AS DECIMAL(38,0)) * CAST(44 AS DECIMAL(38,0))
          |   * t_tokens * tf * (2 * (d_docs - df) + 1))
          | div (CAST(20 AS DECIMAL(38,0)) * t_tokens * tf
          |      + 6 * t_tokens + 18 * dl * d_docs)
          | div (2 * df + 1) AS BIGINT)""".stripMargin))
      .groupBy(col("doc_id"))
      .agg(sum(col("s_milli")).as("score_milli"),
        count(col("term")).as("n_terms_hit"))
      .filter(col("n_terms_hit") > 0)
  }

  /** The BM25 oracle CTE chain (through `scored`), shared q169/q177. */
  private val duckBm25: String = """
    docs AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM docs),
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM docs)
      WHERE term IN ('join', 'hash', 'spark')
      GROUP BY doc_id, term),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scal AS (SELECT CAST(sum(dl) AS BIGINT) AS t_tokens,
                    count(*) AS d_docs FROM dl),
    scored AS (
      SELECT tf.doc_id,
             CAST(CAST(1000 AS HUGEINT) * 44 * t_tokens * tf
                    * (2 * (d_docs - df) + 1)
                  // (CAST(20 AS HUGEINT) * t_tokens * tf
                     + 6 * t_tokens + 18 * dl * d_docs)
                  // (2 * df + 1) AS BIGINT) AS s_milli
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN scal),
    bm25 AS (
      SELECT doc_id, CAST(sum(s_milli) AS BIGINT) AS score_milli,
             count(*) AS n_terms_hit
      FROM scored GROUP BY doc_id)"""

  /** Distinct within-order part pairs (p1 < p2), via ONE basket-keyed
    * shuffle: collect_set per order (map-side set merge dedupes repeat
    * lines), sort, and explode the a<b pairs inside the array — per-order
    * fanout is C(basket, 2) ≤ 21 for TPC-H's ≤ 7-item baskets. Shared by
    * q173 (pair support) and q176 (triangle edges). */
  // The support-thresholded co-purchase pair table is a SHARED
  // intermediate: q173 serves its top-20 and q176 counts triangles over
  // its edges — one basket enumeration + one map-side-combined agg, two
  // consumers (the q35/q81 pairs-table pattern; in a real pipeline you
  // materialize the supported-pair table once and derive both views).
  // Staged as stage:basket_pairs_build, so Bench attributes the build to
  // its own row.
  private val supportSlot = graft.Staged.cached("basket_pairs_build")

  private def supportedPairs(s: SparkSession, d: String): DataFrame =
    supportSlot(s, d)(graft.Staged.persistNow(orderPairs(s, d)
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)))

  private def orderPairs(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      // loud contract, same discipline as groupedPrefixSum's bars: a
      // mega-basket would explode C(n,2) pairs out of ONE row (10k items →
      // 50M pairs) — the quadratic blowup must fail in the plan, not OOM a
      // task. Real baskets are small; a feed that violates this needs the
      // q103/q105 salt-and-split treatment first. The guard rides a FILTER
      // (assert_true is NULL when the bar holds), which column pruning
      // cannot eliminate the way it would an unused projection.
      .filter(expr(
        """assert_true(size(parts) <= 1024,
          |  'orderPairs contract: basket exceeds 1024 items - ' ||
          |  'quadratic pair fanout; pre-split the mega-basket') IS NULL"""
          .stripMargin))
      .select(explode(expr(
        """flatten(transform(parts, (x, i) ->
          |  transform(slice(parts, i + 2, size(parts)),
          |    y -> struct(x AS p1, y AS p2))))""".stripMargin)).as("pr"))
      .select(col("pr.p1").as("p1"), col("pr.p2").as("p2"))

  /** q177/q196's lexical ranker: top-20 docs by the BM25 law, ranked —
    * a TakeOrdered(20) + 20-row rank over the STAGED score table. */
  private def lexTop20(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    bm25ScoresCached(s, d)
      .orderBy(col("score_milli").desc, col("doc_id")).limit(20)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("score_milli").desc, col("doc_id"))))
      .select(col("doc_id"), col("lex_rank"))
  }

  /** q177/q196's dense ranker: top-20 docs by cosine against doc 0's
    * embedding (vec_id ≡ doc_id), ranked. Zero vectors are excluded on
    * BOTH sides before the kernel (the family convention, and CosineSim's
    * documented nonzero precondition): a zero vector's cosine is NaN in
    * Spark but NULL in DuckDB (0/0), and the two sort to OPPOSITE ends —
    * NaN largest, NULL last — so an unfiltered zero row would silently
    * split the top-20 sets across engines. */
  private def denseTop20(s: SparkSession, d: String): DataFrame =
    denseSlot(s, d)(graft.Staged.persistNow(denseTop20Plan(s, d)))

  /** r18: the dense ranker's 20-row output is staged — q177 and q196 each
    * consumed it, so one bench pass paid the corpus cosine scan twice. The
    * staged table is 20 rows of (doc_id, rank); the corpus never shuffles
    * in the build (broadcast query vector, TakeOrdered(20) egress). */
  private val denseSlot = graft.Staged.cached("dense_top20_build")

  private def denseTop20Plan(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vec = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .filter(Vectors.norm2(col("embedding")) > 0)
    val qv = vec.filter(col("vec_id") === 0)
      .select(col("embedding").as("qemb"))
    vec.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        Vectors.cosSim(col("embedding"), col("qemb")).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(20)
      .withColumn("vec_rank", row_number().over(
        Window.orderBy(col("cos").desc, col("doc_id"))))
      .select(col("doc_id"), col("vec_rank"))
  }

  /** The ranker CTE chain shared by q177/q196's oracles: `lex` and
    * `dense` (doc_id + 1-based rank, top 20 each). Assumes `$duckBm25`
    * already precedes it in the WITH list. */
  private def duckRankers: String = s"""
    lex AS (
      SELECT doc_id, CAST(row_number() OVER
               (ORDER BY score_milli DESC, doc_id) AS INT) AS lex_rank
      FROM bm25 ORDER BY score_milli DESC, doc_id LIMIT 20),
    nzv AS (SELECT vec_id, embedding FROM embeddings
            WHERE ${Vectors.sqlNorm2("embedding")} > 0),
    qv AS (SELECT embedding AS qemb FROM nzv WHERE vec_id = 0),
    cosed AS (
      SELECT vec_id AS doc_id,
             ${Vectors.sqlDot("embedding", "qemb")}
               / (sqrt(${Vectors.sqlNorm2("embedding")})
                  * sqrt(${Vectors.sqlNorm2("qemb")})) AS cos
      FROM nzv CROSS JOIN qv WHERE vec_id <> 0),
    dense AS (
      SELECT doc_id, CAST(row_number() OVER
               (ORDER BY cos DESC, doc_id) AS INT) AS vec_rank
      FROM cosed ORDER BY cos DESC, doc_id LIMIT 20)"""

  val qs: Map[String, Q] = Map(

    // Ranked retrieval: BM25-shaped scoring of the corpus against a fixed
    // query term set. The idf uses the RATIONAL core (N - df + 1/2)/(df + 1/2)
    // WITHOUT the log wrapper: log is monotone per term, so single-term
    // ranking is identical, and dropping it keeps every score an exact
    // integer both engines floor identically (log's last-ulp varies by
    // libm — the one thing that can silently break a cross-engine hash
    // gate). k1 = 6/5, b = 3/4 are the textbook defaults as exact
    // rationals; with T = total corpus tokens and D = n_docs, the whole
    // per-(doc, term) score reduces to one integer expression:
    //   44·T·tf·(2(D-df)+1) div ((20·T·tf + 6·T + 18·dl·D)·(2df+1))  [milli]
    // Intermediates ride DECIMAL(38,0)/HUGEINT so the products can't
    // overflow int64 at large corpus sizes.
    // Scale shape: the serving query is a TakeOrdered(10) over the staged
    // score table. Its build (bm25ScoresFor) scans the corpus once: the
    // explode filters to the query vocabulary FIRST and counts per doc
    // (array filter before explode — the one `doc_id` shuffle carries at
    // most |docs × (query terms + 1)| rows, never |tokens|), and T, D and
    // every df come from one global aggregate broadcast back. PlanSpec
    // pins the single scan and the single cross-join broadcast.
    "q169_bm25_topk" -> Q(
      run = (s, d) => bm25ScoresCached(s, d)
        .orderBy(col("score_milli").desc, col("doc_id")).limit(10),
      oracle = Some(s"""
        WITH $duckBm25
        SELECT doc_id, score_milli, n_terms_hit
        FROM bm25 ORDER BY score_milli DESC, doc_id LIMIT 10"""),
      doc = "BM25-shaped ranked retrieval (rational idf, exact integer " +
        "fixed-point) for a fixed query over the corpus"),

    // Elastic shard assignment: rendezvous (highest-random-weight) hashing
    // of every doc onto 16 shards, and the SAME law onto 17 — per shard,
    // how many docs it owns and how many it hands over when shard 16 joins.
    // The HRW property under test: an added shard only ever TAKES keys (a
    // doc moves iff the new shard wins its argmax), so expected movement is
    // 1/17 of the corpus, evenly drawn — the reason this is the assignment
    // law you want for 100 TB shard maps (resharding cost is O(moved), not
    // O(corpus), and no central ring state is needed; assignment is a pure
    // function of (key, shard set)).
    // Scale shape: a 17-way broadcast cross join over doc KEYS only (ids,
    // never text), one map-side-combined argmax agg on doc_id, one
    // shard-sized output agg. The tie-break key h*100+shard is a total
    // order (shard < 100), so argmax is deterministic in both engines.
    // The char fold alone is NOT enough here: "id:shard" strings are a few
    // characters, the fold never wraps the modulus, and an unwrapped
    // polynomial hash is monotone in its last character — every doc would
    // pick the lexicographically-largest shard (caught by eyeballing the
    // 1-row output; the oracle can't see it, both engines agree on a
    // degenerate law). The finisher h → h²·2654435761 mod P forces the
    // wrap and decorrelates the shared "id:" prefixes (measured on the
    // fixture: per-shard std 4.9 vs 5.4 binomial-ideal, moved 31 vs 29.4
    // expected; a single multiply left std 20 and shards 3-9 starved).
    // h < P ≈ 2^30 keeps both steps under 2^62 — no int64 overflow in
    // either engine.
    "q170_rendezvous_shard" -> Q(
      run = (s, d) => {
        import s.implicits._
        val shards = (0 to 16).toDF("shard")
        val hashed = Tables.documents(s, d).select(col("doc_id"))
          .crossJoin(broadcast(shards))
          .withColumn("h",
            charHash(concat_ws(":", col("doc_id"), col("shard"))))
          .select(col("doc_id"), col("shard"),
            (scramble(col("h")) * 100 + col("shard")).as("hkey"))
        val assigned = hashed.groupBy(col("doc_id")).agg(
          max_by(col("shard"), when(col("shard") <= 15, col("hkey")))
            .as("shard16"),
          max_by(col("shard"), col("hkey")).as("shard17"))
        assigned.groupBy(col("shard16").as("shard")).agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("shard17") === 16, 1L).otherwise(0L)).as("n_moved"))
          .orderBy("shard")
      },
      oracle = Some(s"""
        WITH h0 AS (
          SELECT doc_id, shard,
                 ${duckCharHash("doc_id || ':' || shard")} AS h
          FROM documents CROSS JOIN (SELECT unnest(range(0, 17)) AS shard)),
        h AS (
          SELECT doc_id, shard,
                 ${duckScramble("h")} * 100 + shard AS hkey
          FROM h0),
        a AS (
          SELECT doc_id,
                 arg_max(shard, CASE WHEN shard <= 15 THEN hkey END) AS shard16,
                 arg_max(shard, hkey) AS shard17
          FROM h GROUP BY doc_id)
        SELECT shard16 AS shard, count(*) AS n_docs,
               CAST(sum(CASE WHEN shard17 = 16 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_moved
        FROM a GROUP BY 1 ORDER BY shard"""),
      doc = "rendezvous-hash shard assignment at 16 and 17 shards: " +
        "per-shard ownership + handover count (minimal-movement law)"),

    // Budgeted per-source head: keep each source's largest documents until
    // 90% of its char mass is covered (top-p nucleus selection applied to a
    // corpus: spend the token budget on the bulk of the mass, drop the long
    // tail). Kept = docs whose INCLUSIVE cumulative chars (n_chars desc,
    // doc_id tiebreak) satisfies 10·cum ≤ 9·total — pure integer law.
    // Scale shape: the per-source running sum rides groupedPrefixSum
    // (range-partition on (source, order key), per-slice offsets broadcast
    // back) — per-source volume can be arbitrarily large without a
    // source-cardinality-capped window; the per-source totals table is
    // |sources| rows on a broadcast.
    "q171_source_topp" -> Q(
      run = (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("source"), col("doc_id"), col("n_chars"))
        val totals = docs.groupBy(col("source"))
          .agg(sum(col("n_chars")).as("total_chars"))
        val cum = graft.operators.Operators.groupedPrefixSum(
          docs, "source", "n_chars",
          Seq(col("n_chars").desc, col("doc_id")), "cum")
        cum.join(broadcast(totals), Seq("source"))
          .filter(col("cum") * 10 <= col("total_chars") * 9)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_head"),
            sum(col("n_chars")).as("head_chars"),
            max(col("total_chars")).as("total_chars"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH c AS (
          SELECT source, doc_id, n_chars,
                 sum(n_chars) OVER (PARTITION BY source
                   ORDER BY n_chars DESC, doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(n_chars) OVER (PARTITION BY source) AS total_chars
          FROM documents)
        SELECT source, count(*) AS n_head,
               CAST(sum(n_chars) AS BIGINT) AS head_chars,
               CAST(max(total_chars) AS BIGINT) AS total_chars
        FROM c WHERE cum * 10 <= total_chars * 9
        GROUP BY source ORDER BY source"""),
      doc = "per-source top-p head selection: largest docs covering 90% of " +
        "each source's char mass (grouped prefix sum, no capped window)"),

    // Exact Pearson correlation between document length in chars and in
    // tokens, per source — computed ENTIRELY in integer arithmetic from the
    // five power sums, so both engines agree bit-for-bit (a naive corr()
    // sums doubles in partition order and never cross-engine-hashes).
    // sqrt-free form: signed r² in milli units,
    //   r2 = sign(cov)·1000·cov² div (varx·vary),
    //   cov = n·Σxy − Σx·Σy, varx = n·Σx² − (Σx)², vary = n·Σy² − (Σy)².
    // Intermediates ride DECIMAL(38,0)/HUGEINT: cov² holds ~10^24 at the
    // fixture and 10^28+ at PB scale — past ~10^38 (n ≈ 10^9 docs per
    // source at 10^3 chars) shift to mean-centered sums or doubles; the
    // exact path is the oracle-gated fixture law.
    // Scale shape: one map-side-combined agg over a narrow projection;
    // output is |sources| rows. The token count reuses the same whitespace
    // law as every text query (string_split ' ').
    "q172_feature_corr" -> Q(
      run = (s, d) => {
        val feats = Tables.documents(s, d).select(col("source"),
          col("n_chars").cast("long").as("x"),
          size(tokens(col("text"))).cast("long").as("y"))
        feats.groupBy(col("source")).agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
          .withColumn("r2_milli", expr(
            """CAST(CASE WHEN (CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx) *
              |            (CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy) = 0
              |  THEN 0
              |  ELSE (CASE WHEN CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy < 0
              |             THEN -1 ELSE 1 END)
              |     * ((CAST(1000 AS DECIMAL(38,0))
              |          * (CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy)
              |          * (CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy))
              |        div ((CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
              |           * (CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy)))
              |  END AS BIGINT)""".stripMargin))
          .select(col("source"), col("n"), col("sx"), col("sy"),
            col("r2_milli"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH f AS (
          SELECT source, CAST(n_chars AS BIGINT) AS x,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS y
          FROM documents),
        p AS (
          SELECT source, count(*) AS n,
                 CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * x) AS HUGEINT) AS sxx,
                 CAST(sum(y * y) AS HUGEINT) AS syy,
                 CAST(sum(x * y) AS HUGEINT) AS sxy
          FROM f GROUP BY source)
        SELECT source, n, sx, sy,
               CAST(CASE WHEN (n * sxx - CAST(sx AS HUGEINT) * sx)
                            * (n * syy - CAST(sy AS HUGEINT) * sy) = 0 THEN 0
                 ELSE (CASE WHEN n * sxy - CAST(sx AS HUGEINT) * sy < 0
                            THEN -1 ELSE 1 END)
                    * ((CAST(1000 AS HUGEINT)
                         * (n * sxy - CAST(sx AS HUGEINT) * sy)
                         * (n * sxy - CAST(sx AS HUGEINT) * sy))
                       // ((n * sxx - CAST(sx AS HUGEINT) * sx)
                          * (n * syy - CAST(sy AS HUGEINT) * sy)))
                 END AS BIGINT) AS r2_milli
        FROM p ORDER BY source"""),
      doc = "per-source Pearson correlation (signed r² milli) between char " +
        "and token length — exact integer power sums, engine-stable"),

    // Market-basket pair mining over order line items: part pairs that
    // co-occur in the same order, support ≥ 2, top 20 by support. The
    // classic co-purchase/affinity query.
    // Scale shape: ONE basket-keyed shuffle — collect_set per order (the
    // set merge dedupes same-part repeat lines map-side), then the a<b
    // pairs explode INSIDE the sorted array (HOF transform over a ≤ 7-
    // element basket — fanout ≤ 21, bounded by basket size squared, never
    // corpus²). The self-join formulation this replaces shuffled lineitem
    // TWICE (distinct + join) to reach the same pair stream — measured
    // 2.2 s at sf0.1 vs ~1 s for this form. The pair agg is map-side
    // combined; egress TakeOrdered(20). A hot mega-basket would get the
    // q103/q105 salt treatment (and a basket-size guard) before the
    // explode.
    "q173_basket_pairs" -> Q(
      run = (s, d) => supportedPairs(s, d)
        .orderBy(col("support").desc, col("p1"), col("p2"))
        .limit(20),
      oracle = Some("""
        WITH items AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
        FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
                                 AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
        ORDER BY support DESC, p1, p2 LIMIT 20"""),
      doc = "market-basket part-pair mining: co-occurrence support within " +
        "orders, min support 2, top 20 (bounded-basket self-join)"),

    // SCD type-2 interval construction from an event stream: collapse each
    // user's consecutive same-type events into state intervals (the
    // gaps-and-islands law: change flag via lag, island id via running sum
    // of flags), then close each interval at the NEXT island's start. The
    // dimension-table build every warehouse runs on CDC feeds.
    // Scale shape: both windows are user-keyed — cardinality grows with
    // the data (150 on the fixture, millions in production), so
    // parallelism scales; the island-level lead window runs on the
    // already-collapsed island table (≤ |events| rows, usually far
    // fewer). Durations are integer microseconds end-to-end.
    "q174_scd2_intervals" -> Q(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, d).select(col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("us"), col("event_id"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        val isl = ev
          .withColumn("chg", when(lag(col("event_type"), 1).over(w).isNull
            || lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
            .otherwise(0L))
          .withColumn("island", sum(col("chg")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("island"))
          .agg(min(col("event_type")).as("state"),
            min(col("us")).as("start_us"), count(lit(1)).as("n_events"))
        val wi = Window.partitionBy(col("user_id")).orderBy(col("island"))
        isl.withColumn("next_us", lead(col("start_us"), 1).over(wi))
          .groupBy(col("state").as("event_type"))
          .agg(count(lit(1)).as("n_intervals"),
            sum(when(col("next_us").isNull, 1L).otherwise(0L)).as("n_open"),
            sum(when(col("next_us").isNotNull,
              col("next_us") - col("start_us")).otherwise(0L))
              .as("closed_dur_us"),
            sum(col("n_events")).as("n_events"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id, event_type, epoch_us(ts) AS us, event_id
          FROM events),
        f AS (
          SELECT *, CASE WHEN lag(event_type) OVER
                   (PARTITION BY user_id ORDER BY us, event_id)
                 IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
          FROM ev),
        isl AS (
          SELECT user_id, event_type, us,
                 sum(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
                   ROWS UNBOUNDED PRECEDING) AS island
          FROM f),
        grp AS (
          SELECT user_id, island, min(event_type) AS state,
                 min(us) AS start_us, count(*) AS n_events
          FROM isl GROUP BY user_id, island),
        iv AS (
          SELECT *, lead(start_us) OVER
                   (PARTITION BY user_id ORDER BY island) AS next_us
          FROM grp)
        SELECT state AS event_type, count(*) AS n_intervals,
               CAST(sum(CASE WHEN next_us IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_open,
               CAST(sum(CASE WHEN next_us IS NOT NULL
                 THEN next_us - start_us ELSE 0 END) AS BIGINT)
                 AS closed_dur_us,
               CAST(sum(n_events) AS BIGINT) AS n_events
        FROM iv GROUP BY 1 ORDER BY event_type"""),
      doc = "SCD2 state-interval build from events (gaps-and-islands + " +
        "close-at-next-start), per-state interval/duration audit"),

    // Deterministic weighted mixture schedule: the global training order
    // that interleaves sources proportionally to their weights — item r of
    // a weight-w source is scheduled at key (r - 1/2)/w (exact micro-unit
    // integers: (2r-1)·10⁶ div 2w), the standard stride-scheduling law, so
    // a weight-4 source appears 4× as often as a weight-1 source in any
    // schedule prefix. Weights derive deterministically from the source
    // name (1 + charHash mod 4 — stand-in for a configured mixture).
    // Scale shape: the in-source rank rides groupedPrefixSum (no
    // source-cardinality-capped window); the egress is TakeOrdered(100) —
    // the full schedule is never globally sorted on the driver. At 100 TB
    // a trainer consumes the schedule shard-by-shard by key range.
    "q175_mixture_schedule" -> Q(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ranked = graft.operators.Operators.groupedPrefixSum(
          Tables.documents(s, d)
            .select(col("source"), col("doc_id"), lit(1L).as("__one")),
          "source", "__one", Seq(col("doc_id")), "r")
        val head = ranked
          .withColumn("w", charHash(col("source")) % 4 + 1)
          .withColumn("key_micro",
            expr("(2 * r - 1) * 1000000 div (2 * w)"))
          .orderBy(col("key_micro"), col("source"), col("doc_id"))
          .limit(100)
        head.withColumn("global_pos", row_number().over(Window
            .orderBy(col("key_micro"), col("source"), col("doc_id"))))
          .select(col("global_pos"), col("key_micro"), col("source"),
            col("doc_id"), col("w"))
          .orderBy("global_pos")
      },
      oracle = Some(s"""
        WITH r AS (
          SELECT source, doc_id,
                 row_number() OVER (PARTITION BY source ORDER BY doc_id) AS r,
                 ${duckCharHash("source")} % 4 + 1 AS w
          FROM documents),
        k AS (
          SELECT source, doc_id, CAST(r AS BIGINT) AS r, w,
                 (2 * r - 1) * 1000000 // (2 * w) AS key_micro
          FROM r)
        SELECT CAST(row_number() OVER
                 (ORDER BY key_micro, source, doc_id) AS INT) AS global_pos,
               key_micro, source, doc_id, CAST(w AS BIGINT) AS w
        FROM k ORDER BY key_micro, source, doc_id LIMIT 100"""),
      doc = "weighted source-mixture schedule (stride scheduling, exact " +
        "integer keys): first 100 positions of the global training order"),

    // Graph motif counting on the co-purchase graph: triangles over the
    // part-pair edges (support ≥ 2), reported per part. Triangle density
    // is the classic cohesion signal a recommender / community detector
    // reads off a co-occurrence graph.
    // Scale shape: the edge table IS the staged supported-pair cache q173
    // already built (one basket enumeration per (session, dir), two
    // consumers) and is bounded by the basket law (pairs from ≤ 7-item
    // baskets — |edges| ≪ |lineitem|; measured ~3.5k at both sf0.01 and
    // sf0.1); the triangle enumeration is two EDGE-KEYED equi-joins
    // (a<b<c canonical order, so each triangle counts exactly once) —
    // never a corpus-sized shuffle.
    // The per-part count explodes 3 rows per triangle, map-side combined.
    "q176_triangle_count" -> Q(
      run = (s, d) => {
        // edges read straight off the staged supported-pair cache (persist
        // serves the three self-join reads; the per-query localCheckpoint
        // this replaces re-enumerated every basket per query)
        val edges = supportedPairs(s, d).select(col("p1"), col("p2"))
        val ab = edges.select(col("p1").as("a"), col("p2").as("b"))
        val bc = edges.select(col("p1").as("b"), col("p2").as("c"))
        val ac = edges.select(col("p1").as("a2"), col("p2").as("c2"))
        val tris = ab.join(bc, Seq("b"))
          .join(ac, col("a") === col("a2") && col("c") === col("c2"))
          .select(col("a"), col("b"), col("c"))
        tris.select(explode(array(col("a"), col("b"), col("c"))).as("part"))
          .groupBy(col("part")).agg(count(lit(1)).as("n_triangles"))
          .orderBy(col("n_triangles").desc, col("part"))
          .limit(10)
      },
      oracle = Some("""
        WITH items AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS (
          SELECT a.l_partkey AS p1, b.l_partkey AS p2
          FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
                                   AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        tris AS (
          SELECT ab.p1 AS a, ab.p2 AS b, bc.p2 AS c
          FROM edges ab JOIN edges bc ON ab.p2 = bc.p1
               JOIN edges ac ON ac.p1 = ab.p1 AND ac.p2 = bc.p2),
        parts AS (
          SELECT unnest([a, b, c]) AS part FROM tris)
        SELECT part, count(*) AS n_triangles
        FROM parts GROUP BY part
        ORDER BY n_triangles DESC, part LIMIT 10"""),
      doc = "triangle counting on the co-purchase part graph (support-2 " +
        "edges, canonical a<b<c enumeration), top 10 parts by membership"),

    // Hybrid retrieval with reciprocal-rank fusion: the RAG-serving shape.
    // Two independent rankers over the same corpus — lexical (the q169
    // BM25 law over the fixed query vocabulary) and dense (cosine against
    // doc 0's embedding, vec_id ≡ doc_id in the fixture) — fused by
    // RRF(60): rrf = Σ 10⁶ div (60 + rank), integer milli throughout.
    // Cosines are the fold-deterministic double law every Vectors query
    // uses (same op order both engines → bit-identical, so the ranks
    // agree); everything downstream of the two rank columns is integer.
    // Scale shape: each ranker is TakeOrdered(20) over its own scoring
    // plan (BM25: vocabulary-filtered explode; dense: one broadcast query
    // vector against a narrow scan — the corpus never shuffles); the
    // fusion is a 20∪20-row full outer join on the driver-side-free plan.
    "q177_hybrid_rrf" -> Q(
      run = (s, d) => {
        lexTop20(s, d).join(denseTop20(s, d), Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
            coalesce(col("vec_rank"), lit(0)).as("vec_rank"))
          .withColumn("rrf_milli", expr(
            """CASE WHEN lex_rank > 0 THEN 1000000 div (60 + lex_rank)
              |     ELSE 0 END
              | + CASE WHEN vec_rank > 0 THEN 1000000 div (60 + vec_rank)
              |        ELSE 0 END""".stripMargin))
          .orderBy(col("rrf_milli").desc, col("doc_id")).limit(10)
      },
      oracle = Some(s"""
        WITH $duckBm25,
        $duckRankers,
        fused AS (
          SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
                 coalesce(lex_rank, 0) AS lex_rank,
                 coalesce(vec_rank, 0) AS vec_rank
          FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id)
        SELECT doc_id, lex_rank, vec_rank,
               CAST(CASE WHEN lex_rank > 0 THEN 1000000 // (60 + lex_rank)
                         ELSE 0 END
                  + CASE WHEN vec_rank > 0 THEN 1000000 // (60 + vec_rank)
                         ELSE 0 END AS BIGINT) AS rrf_milli
        FROM fused ORDER BY rrf_milli DESC, doc_id LIMIT 10"""),
      doc = "hybrid retrieval: BM25 lexical + dense cosine rankers fused " +
        "by reciprocal-rank fusion (integer RRF-60, top 10)"),

    // Exact-k balanced sample: exactly 5 docs per source, drawn by a
    // deterministic pseudo-random key (the q170 scramble h²·K mod P over
    // charHash(source:doc_id) — seedable, reproducible, and uniform where
    // the raw short-string fold is not). The balanced eval-set draw every
    // training pipeline needs: hash-threshold sampling (q155) gives
    // *proportional* expected counts; this gives exact per-group k.
    // Scale shape: the in-group rank rides groupedPrefixSum — no
    // source-cardinality-capped window; k is a constant filter on the
    // rank, so the output is |sources|·k rows.
    "q178_balanced_sample" -> Q(
      run = (s, d) => {
        val keyed = Tables.documents(s, d)
          .select(col("source"), col("doc_id"),
            charHash(concat_ws(":", col("source"), col("doc_id"))).as("h"))
          .withColumn("skey", scramble(col("h")))
        // r18 (guide §1.2): groupedRankPicks instead of rank-then-filter —
        // only the ≤ |sources| range slices holding ranks 1-5 are ranked
        graft.operators.Operators.groupedRankPicks(
          keyed, "source", Seq(col("skey"), col("doc_id")),
          _ => (1L to 5L), "r")
          .select(col("source"), col("r"), col("doc_id"), col("skey"))
          .orderBy("source", "r")
      },
      oracle = Some(s"""
        WITH h AS (
          SELECT source, doc_id,
                 ${duckCharHash("source || ':' || doc_id")} AS h
          FROM documents),
        k AS (
          SELECT source, doc_id,
                 ${duckScramble("h")} AS skey
          FROM h),
        r AS (
          SELECT source, doc_id, skey,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY skey, doc_id) AS BIGINT) AS r
          FROM k)
        SELECT source, r, doc_id, CAST(skey AS BIGINT) AS skey
        FROM r WHERE r <= 5 ORDER BY source, r"""),
      doc = "exact-k per-source sample (k=5) by deterministic scrambled " +
        "hash — balanced draw with reproducible keys, grouped-rank path"),

    // Mergeable per-source content digest + grand total: digest = Σ over
    // docs of scramble(charHash(text)) mod P — COMMUTATIVE and
    // ASSOCIATIVE, so it map-side combines, merges across shards/sources
    // (total ≡ Σ source digests mod P, asserted in MiningSpec), and
    // supports the Dynamo-style anti-entropy comparison: two replicas
    // agree iff their digests match, per source or in total, without
    // moving a byte of content. The ordered-concat/md5 alternative is NOT
    // this: it needs a global sort and cannot merge. The scramble
    // (q170's h²·K mod P finisher) decorrelates structured text so a
    // swapped pair of edits is unlikely to cancel; the rollup total row
    // surfaces as source '<ALL>'.
    // Scale shape: one narrow projection + one map-side-combined rollup
    // agg; the digest sum rides DECIMAL(38) so 10¹⁰+ docs cannot overflow
    // int64 before the mod.
    "q179_partition_digest" -> Q(
      run = (s, d) => {
        val h2 = Tables.documents(s, d)
          .select(col("source"), col("n_chars"),
            scramble(charHash(col("text"))).as("h2"))
        h2.rollup(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            expr("CAST(sum(CAST(h2 AS DECIMAL(38,0))) % 1000000007" +
              " AS BIGINT)").as("digest"))
          .select(coalesce(col("source"), lit("<ALL>")).as("source"),
            col("n_docs"), col("total_chars"), col("digest"))
          .orderBy("source")
      },
      oracle = Some(s"""
        WITH h AS (
          SELECT source, n_chars,
                 ${duckCharHash("text")} AS h
          FROM documents),
        k AS (
          SELECT source, n_chars,
                 ${duckScramble("h")} AS h2
          FROM h)
        SELECT coalesce(source, '<ALL>') AS source,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(CAST(sum(CAST(h2 AS HUGEINT)) AS HUGEINT) % 1000000007
                 AS BIGINT) AS digest
        FROM k GROUP BY ROLLUP(source) ORDER BY source"""),
      doc = "mergeable per-source content digest (commutative sum of " +
        "scrambled hashes mod P) + rollup grand total — the anti-entropy " +
        "sync receipt"),

    // Last-touch conversion attribution: each purchase attributes to the
    // user's most recent preceding 'view' within a 30-minute window — the
    // marketing-attribution join every event warehouse runs. The "as-of
    // lookup" is a conditional running max (max of view timestamps over
    // the ordered frame up to the current row), NOT a self-join: one
    // user-keyed window pass answers every purchase at once. Also splits
    // attributed purchases into single-touch (the only view so far IS the
    // attributing view) vs multi-touch.
    // Scale shape: one user-keyed shuffle + window pass over a narrow
    // projection, then a map-side-combined 1-row agg; user cardinality
    // grows with data, so parallelism scales. Integer microseconds.
    "q180_touch_attribution" -> Q(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, d).select(col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("us"), col("event_id"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val touched = ev
          .withColumn("last_view_us",
            max(when(col("event_type") === "view", col("us"))).over(w))
          .withColumn("first_view_us",
            min(when(col("event_type") === "view", col("us"))).over(w))
        touched.filter(col("event_type") === "purchase")
          .withColumn("attributed", col("last_view_us").isNotNull
            && col("us") - col("last_view_us") <= 1800000000L)
          .agg(
            count(lit(1)).as("n_purchases"),
            sum(when(col("attributed"), 1L).otherwise(0L))
              .as("n_attributed"),
            sum(when(col("attributed")
                && col("first_view_us") === col("last_view_us"), 1L)
              .otherwise(0L)).as("n_single_touch"),
            sum(when(col("attributed"), col("us") - col("last_view_us"))
              .otherwise(0L)).as("attributed_lag_us"))
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id, event_type, epoch_us(ts) AS us, event_id
          FROM events),
        t AS (
          SELECT *,
                 max(CASE WHEN event_type = 'view' THEN us END) OVER
                   (PARTITION BY user_id ORDER BY us, event_id
                    ROWS UNBOUNDED PRECEDING) AS last_view_us,
                 min(CASE WHEN event_type = 'view' THEN us END) OVER
                   (PARTITION BY user_id ORDER BY us, event_id
                    ROWS UNBOUNDED PRECEDING) AS first_view_us
          FROM ev),
        p AS (
          SELECT *, last_view_us IS NOT NULL
                    AND us - last_view_us <= 1800000000 AS attributed
          FROM t WHERE event_type = 'purchase')
        SELECT count(*) AS n_purchases,
               CAST(sum(CASE WHEN attributed THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_attributed,
               CAST(sum(CASE WHEN attributed
                         AND first_view_us = last_view_us THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_single_touch,
               CAST(sum(CASE WHEN attributed THEN us - last_view_us
                        ELSE 0 END) AS BIGINT) AS attributed_lag_us
        FROM p"""),
      doc = "last-touch purchase attribution (30-min window) via " +
        "conditional running max — as-of lookup with no self-join, " +
        "single- vs multi-touch split"),

    // The text-side composition finale (q168's role for the curation
    // suite): ONE statement that takes the corpus to a release —
    //   (1) exact-dup collapse: min-doc_id survivor per content hash
    //       (q34's law, via a struct-min agg — no window needed);
    //   (2) per-source top-p head: survivors covering 90% of each
    //       source's surviving char mass (q171's integer cut law on
    //       groupedPrefixSum);
    //   (3) eval holdout: exactly 2 docs per source drawn from the head
    //       by deterministic scrambled hash (q178's law, realized r18 as
    //       a broadcast 2nd-smallest threshold instead of a second
    //       grouped-rank pass); the rest is the train split;
    //   (4) release manifest: per-source train/eval counts, train char
    //       mass, and the MERGEABLE train-content digest (q179's law)
    //       with a rollup grand total — the receipt a consumer
    //       re-derives to verify the release.
    // Every block is an independently-proven pattern; this proves they
    // COMPOSE in one lazy plan: three bounded-metadata broadcast joins,
    // one grouped-rank pass, one rollup agg — the corpus text itself is
    // read once and never shuffled (only (source, doc_id, hash, chars)
    // move).
    "q181_release_pipeline" -> Q(
      run = (s, d) => {
        val docs = Tables.documents(s, d).select(col("source"),
          col("doc_id"), col("n_chars"), charHash(col("text")).as("h"))
        // (1) survivors: min doc_id per content hash (struct-min keeps the
        // whole row; hash-keyed map-side-combined agg, no window).
        // Scope-checkpointed: both consumers below (the totals agg and the
        // rank path's own eager checkpoint) would otherwise re-run the
        // full-text charHash scan + survivor agg from scratch — the
        // "corpus read once" claim holds because THIS table materializes
        // once
        val surv = graft.Checkpoints.localCheckpoint(docs
          .groupBy(col("h"))
          .agg(min(struct(col("doc_id"), col("source"), col("n_chars")))
            .as("s"))
          .select(col("s.source").as("source"), col("s.doc_id").as("doc_id"),
            col("s.n_chars").as("n_chars"), col("h")))
        // (2) top-p head over survivors
        val totals = surv.groupBy(col("source"))
          .agg(sum(col("n_chars")).as("total_chars"))
        val head = graft.operators.Operators.groupedPrefixSum(
            surv, "source", "n_chars",
            Seq(col("n_chars").desc, col("doc_id")), "cum")
          .join(broadcast(totals), Seq("source"))
          .filter(col("cum") * 10 <= col("total_chars") * 9)
        // (3) eval holdout: exact-2 per source by scrambled hash.
        // r18 (guide §1.2/§2.4): the holdout only needs "is this row among
        // the 2 smallest (skey, doc_id) of its source", so the second
        // grouped-rank pass (range sampler + checkpoint + full-head window
        // exchange) is replaced by an IN-PLAN broadcast threshold: m1 =
        // per-source min of the (skey, doc_id) struct, m2 = min above m1
        // (the exact 2nd smallest — (skey, doc_id) is unique: doc_id is
        // the survivor's unique min-doc), threshold = coalesce(m2, m1) so
        // a 1-doc source holds out its only doc exactly as rank ≤ 2 did.
        // head is scope-checkpointed once; the threshold aggregations are
        // broadcast subtrees inside the single consuming job.
        val keyed = graft.Checkpoints.localCheckpoint(
          head.withColumn("skey", scramble(col("h"))))
        val sk = struct(col("skey"), col("doc_id"))
        val m1 = keyed.groupBy(col("source")).agg(min(sk).as("__m1"))
        val m2 = keyed.join(broadcast(m1), Seq("source"))
          .filter(sk > col("__m1"))
          .groupBy(col("source")).agg(min(sk).as("__m2"))
        val thr = m1.join(m2, Seq("source"), "left")
          .select(col("source"),
            coalesce(col("__m2"), col("__m1")).as("__thr"))
        // (4) manifest with mergeable train digest + rollup total
        keyed.join(broadcast(thr), Seq("source"))
          .withColumn("is_eval", sk <= col("__thr"))
          .rollup(col("source"))
          .agg(
            sum(when(col("is_eval"), 0L).otherwise(1L)).as("n_train"),
            sum(when(col("is_eval"), 1L).otherwise(0L)).as("n_eval"),
            sum(when(col("is_eval"), 0L).otherwise(col("n_chars")))
              .as("train_chars"),
            expr("""CAST(sum(CASE WHEN is_eval THEN CAST(0 AS DECIMAL(38,0))
              |  ELSE CAST(skey AS DECIMAL(38,0)) END) % 1000000007
              |  AS BIGINT)""".stripMargin).as("train_digest"))
          .select(coalesce(col("source"), lit("<ALL>")).as("source"),
            col("n_train"), col("n_eval"), col("train_chars"),
            col("train_digest"))
          .orderBy("source")
      },
      oracle = Some(s"""
        WITH h AS (
          SELECT source, doc_id, n_chars,
                 ${duckCharHash("text")} AS h
          FROM documents),
        surv AS (
          SELECT h, min_by(source, doc_id) AS source, min(doc_id) AS doc_id,
                 min_by(n_chars, doc_id) AS n_chars
          FROM h GROUP BY h),
        cum AS (
          SELECT *, sum(n_chars) OVER (PARTITION BY source
                   ORDER BY n_chars DESC, doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(n_chars) OVER (PARTITION BY source) AS total_chars
          FROM surv),
        head AS (
          SELECT * FROM cum WHERE cum * 10 <= total_chars * 9),
        keyed AS (
          SELECT *, ${duckScramble("h")} AS skey
          FROM head),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY source
                   ORDER BY skey, doc_id) AS r
          FROM keyed)
        SELECT coalesce(source, '<ALL>') AS source,
               CAST(sum(CASE WHEN r <= 2 THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_train,
               CAST(sum(CASE WHEN r <= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_eval,
               CAST(sum(CASE WHEN r <= 2 THEN 0 ELSE n_chars END) AS BIGINT)
                 AS train_chars,
               CAST(sum(CASE WHEN r <= 2 THEN CAST(0 AS HUGEINT)
                        ELSE CAST(skey AS HUGEINT) END) % 1000000007
                 AS BIGINT) AS train_digest
        FROM ranked GROUP BY ROLLUP(source) ORDER BY source"""),
      doc = "composed release pipeline: exact-dup collapse -> per-source " +
        "top-p head -> exact-k eval holdout -> digested train manifest " +
        "with rollup total, one lazy plan"),

    // Group-wise OLS trend fit in exact integer arithmetic: per source,
    // regress doc length (y = n_chars) on ingest position (x = the
    // source-local doc index) — the drift detector that answers "are this
    // feed's documents getting shorter over time" with a slope, not a
    // pair of endpoint means. Closed-form OLS from the same five power
    // sums as q172:
    //   slope      = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)      [milli, floored]
    //   intercept  = (Σy·Σx² − Σx·Σxy) / (nΣx² − (Σx)²)  [milli, floored]
    // both numerators exact on DECIMAL(38)/HUGEINT; a degenerate x
    // (single doc) reports 0/0 → slope 0, intercept = mean.
    // Scale shape: x is the source-local rank (groupedPrefixSum of 1 — no
    // capped window), then one map-side-combined agg; |sources|-row
    // output.
    "q182_trend_fit" -> Q(
      run = (s, d) => {
        val ranked = graft.operators.Operators.groupedPrefixSum(
          Tables.documents(s, d)
            .select(col("source"), col("doc_id"),
              col("n_chars").cast("long").as("y"), lit(1L).as("__one")),
          "source", "__one", Seq(col("doc_id")), "x")
        ranked.groupBy(col("source")).agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
          .withColumn("slope_milli", expr(
            """CAST(CASE WHEN CAST(n AS DECIMAL(38,0)) * sxx
              |         - CAST(sx AS DECIMAL(38,0)) * sx = 0 THEN 0
              |  ELSE (CAST(1000 AS DECIMAL(38,0))
              |         * (CAST(n AS DECIMAL(38,0)) * sxy
              |            - CAST(sx AS DECIMAL(38,0)) * sy))
              |       div (CAST(n AS DECIMAL(38,0)) * sxx
              |            - CAST(sx AS DECIMAL(38,0)) * sx)
              |  END AS BIGINT)""".stripMargin))
          .withColumn("intercept_milli", expr(
            """CAST(CASE WHEN CAST(n AS DECIMAL(38,0)) * sxx
              |         - CAST(sx AS DECIMAL(38,0)) * sx = 0
              |  THEN (CAST(1000 AS DECIMAL(38,0)) * sy) div n
              |  ELSE (CAST(1000 AS DECIMAL(38,0))
              |         * (CAST(sy AS DECIMAL(38,0)) * sxx
              |            - CAST(sx AS DECIMAL(38,0)) * sxy))
              |       div (CAST(n AS DECIMAL(38,0)) * sxx
              |            - CAST(sx AS DECIMAL(38,0)) * sx)
              |  END AS BIGINT)""".stripMargin))
          .select(col("source"), col("n"), col("slope_milli"),
            col("intercept_milli"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH r AS (
          SELECT source, CAST(n_chars AS BIGINT) AS y,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY doc_id) AS BIGINT) AS x
          FROM documents),
        p AS (
          SELECT source, count(*) AS n,
                 CAST(sum(x) AS HUGEINT) AS sx,
                 CAST(sum(y) AS HUGEINT) AS sy,
                 CAST(sum(x * x) AS HUGEINT) AS sxx,
                 CAST(sum(x * y) AS HUGEINT) AS sxy
          FROM r GROUP BY source)
        SELECT source, n,
               CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0
                 ELSE (CAST(1000 AS HUGEINT) * (n * sxy - sx * sy))
                      // (n * sxx - sx * sx) END AS BIGINT) AS slope_milli,
               CAST(CASE WHEN n * sxx - sx * sx = 0
                 THEN (CAST(1000 AS HUGEINT) * sy) // n
                 ELSE (CAST(1000 AS HUGEINT) * (sy * sxx - sx * sxy))
                      // (n * sxx - sx * sx) END AS BIGINT)
                 AS intercept_milli
        FROM p ORDER BY source"""),
      doc = "per-source OLS trend of doc length over ingest position " +
        "(exact integer closed form, milli units) — the feed-drift slope"),

    // Mergeable histogram quantile sketch: per event type, p50/p95
    // estimated from a fixed 128-bin equi-width histogram over the type's
    // [min, max] — the fixed-size, map-side-combinable, shard-MERGEABLE
    // quantile state every distributed metrics system keeps (bin counts
    // add across shards; the exact rank law q69/q161 use needs a keyed
    // shuffle of all values; this needs 128 integers per type, with a
    // one-bin-width error bar). Binning floors an identical IEEE double
    // expression on both engines — floor() BEFORE the int cast, because
    // bare CAST rounds in DuckDB and truncates in Spark (probed: 2.7 →
    // 3 vs 2); after floor the value is integral and both agree. The
    // quantile pick is the integer rank law on the cumulated bins:
    // smallest bin with 2·cum ≥ n (p50), 20·cum ≥ 19·n (p95).
    // Scale shape: one broadcast of the |types|-row range table, one
    // map-side-combined (type, bin) count, windows over the ≤ |types|×128
    // metadata table. Reported bound p_lo = lo + bin·width is the same
    // double arithmetic on both engines.
    "q183_histogram_quantiles" -> Q(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, d).select(col("event_type"), col("value"))
        val ranges = ev.groupBy(col("event_type")).agg(
          min(col("value")).as("lo"), max(col("value")).as("hi"),
          count(lit(1)).as("n"))
        val binned = ev.join(broadcast(ranges), Seq("event_type"))
          .withColumn("bin", when(col("hi") === col("lo"), 0)
            .otherwise(least(expr(
              "CAST(floor((value - lo) / ((hi - lo) / 128.0)) AS INT)"),
              lit(127))))
        val hist = binned
          .groupBy(col("event_type"), col("lo"), col("hi"), col("n"),
            col("bin"))
          .agg(count(lit(1)).as("c"))
        val wc = Window.partitionBy(col("event_type")).orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        hist.withColumn("cum", sum(col("c")).over(wc))
          .groupBy(col("event_type"), col("lo"), col("hi"), col("n"))
          .agg(
            min(when(col("cum") * 2 >= col("n"), col("bin"))).as("p50_bin"),
            min(when(col("cum") * 20 >= col("n") * 19, col("bin")))
              .as("p95_bin"))
          .select(col("event_type"), col("n"),
            col("p50_bin"),
            expr("lo + p50_bin * ((hi - lo) / 128.0)").as("p50_lo"),
            col("p95_bin"),
            expr("lo + p95_bin * ((hi - lo) / 128.0)").as("p95_lo"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH r AS (
          SELECT event_type, min(value) AS lo, max(value) AS hi,
                 count(*) AS n
          FROM events GROUP BY event_type),
        b AS (
          SELECT e.event_type, r.lo, r.hi, r.n,
                 CASE WHEN r.hi = r.lo THEN 0
                   ELSE least(CAST(floor((e.value - r.lo)
                          / ((r.hi - r.lo) / 128.0)) AS INT), 127) END AS bin
          FROM events e JOIN r USING (event_type)),
        hist AS (
          SELECT event_type, lo, hi, n, bin, count(*) AS c
          FROM b GROUP BY 1, 2, 3, 4, 5),
        cumed AS (
          SELECT *, sum(c) OVER (PARTITION BY event_type ORDER BY bin
                   ROWS UNBOUNDED PRECEDING) AS cum
          FROM hist)
        SELECT event_type, n,
               min(CASE WHEN cum * 2 >= n THEN bin END) AS p50_bin,
               lo + min(CASE WHEN cum * 2 >= n THEN bin END)
                 * ((hi - lo) / 128.0) AS p50_lo,
               min(CASE WHEN cum * 20 >= n * 19 THEN bin END) AS p95_bin,
               lo + min(CASE WHEN cum * 20 >= n * 19 THEN bin END)
                 * ((hi - lo) / 128.0) AS p95_lo
        FROM cumed GROUP BY event_type, lo, hi, n ORDER BY event_type"""),
      doc = "mergeable 128-bin histogram quantile sketch per event type " +
        "(p50/p95 bins + lower-bound values) — fixed-size shard-" +
        "combinable quantile state"),

    // Period-over-period share shift: each nation's slice of total order
    // revenue in 2000 vs 1999 and the delta — the market-share movement
    // report every BI deployment runs. Shares are integer milli from
    // decimal-exact cent sums (1000·nation_cents div year_total_cents), so
    // the engines agree bit-for-bit and the deltas (which go negative) are
    // exact.
    // Scale shape: the year filter pushes into the orders scan; one
    // orders⋈customer keyed shuffle (customer is order-volume-scaled, too
    // big to pin as a broadcast at 100 TB), nation broadcast; one
    // map-side-combined conditional agg; the year totals ride a 1-row
    // broadcast crossJoin (never a global window).
    "q185_share_shift" -> Q(
      run = (s, d) => {
        val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,6)")
        val rev = Tables.orders(s, d)
          .filter(year(col("o_orderdate")).isin(1999, 2000))
          .join(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey"), col("n_name"))),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(
            sum(when(year(col("o_orderdate")) === 1999,
              dec(col("o_totalprice"))).otherwise(dec(lit(0.0))))
              .as("d99"),
            sum(when(year(col("o_orderdate")) === 2000,
              dec(col("o_totalprice"))).otherwise(dec(lit(0.0))))
              .as("d00"))
          // cents without ROUND: the 2-decimal money values are exact in
          // DECIMAL(18,6), so the sum x 100 is integral and the cast is
          // lossless in both engines (and stays off the MoneyOut guard's
          // ROUND scan — this egress is integer cents, not money-out)
          .select(col("n_name"),
            expr("CAST(d99 * 100 AS BIGINT)").as("cents99"),
            expr("CAST(d00 * 100 AS BIGINT)").as("cents00"))
        val totals = rev.agg(sum(col("cents99")).as("tot99"),
          sum(col("cents00")).as("tot00"))
        rev.crossJoin(broadcast(totals))
          .select(col("n_name"),
            expr("1000 * cents99 div tot99").as("share99_milli"),
            expr("1000 * cents00 div tot00").as("share00_milli"),
            expr("1000 * cents00 div tot00 - 1000 * cents99 div tot99")
              .as("delta_milli"))
          .orderBy("n_name")
      },
      oracle = Some("""
        WITH rev AS (
          SELECT n_name,
                 CAST(sum(CASE WHEN year(o_orderdate) = 1999
                     THEN CAST(o_totalprice AS DECIMAL(18,6))
                     ELSE CAST(0 AS DECIMAL(18,6)) END) * 100 AS BIGINT)
                   AS cents99,
                 CAST(sum(CASE WHEN year(o_orderdate) = 2000
                     THEN CAST(o_totalprice AS DECIMAL(18,6))
                     ELSE CAST(0 AS DECIMAL(18,6)) END) * 100 AS BIGINT)
                   AS cents00
          FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
          WHERE year(o_orderdate) IN (1999, 2000)
          GROUP BY n_name),
        t AS (
          SELECT CAST(sum(cents99) AS BIGINT) AS tot99,
                 CAST(sum(cents00) AS BIGINT) AS tot00 FROM rev)
        SELECT n_name,
               CAST(1000 * cents99 // tot99 AS BIGINT) AS share99_milli,
               CAST(1000 * cents00 // tot00 AS BIGINT) AS share00_milli,
               CAST(1000 * cents00 // tot00 - 1000 * cents99 // tot99
                 AS BIGINT) AS delta_milli
        FROM rev CROSS JOIN t ORDER BY n_name"""),
      doc = "nation revenue share 2000 vs 1999 with exact milli deltas " +
        "(decimal cents, broadcast year totals) — period-over-period BI"),

    // Exact per-group percentiles on the GROUPED-RANK machinery — the
    // mega-group-safe alternative to q69's percentile() aggregate, whose
    // per-group sort buffer materializes every group value on one
    // executor (fine for 4 return flags; an OOM for a billion-row group).
    // Here the rank is a grouped prefix sum (range exchange + frozen-pid
    // windows), the per-group n rides a broadcast, and the p50/p95 picks
    // are the integer rank law ceil(q·n) = (q·n + den−1) div den. Picked
    // values are RAW inputs, so they hash bit-exactly across engines.
    "q186_grouped_exact_percentiles" -> Q(
      run = (s, d) => {
        // NULL values are excluded EXPLICITLY on both sides: Spark orders
        // NULLs FIRST ascending while DuckDB's ORDER BY defaults to NULLS
        // LAST, so one NULL value would shift every rank in its group and
        // flip the p50/p95 picks engine-dependently. A percentile over
        // absent measurements has no meaning anyway — the filter IS the
        // law, not a workaround. n counts the same filtered set.
        // r18 (guide §1.2/§2.4): groupedRankPicks replaces rank-everything
        // gPS + a SECOND events scan for the per-type counts — only the
        // ≤ 2·|types| range slices holding the p50/p95 ranks are ranked,
        // and n rides the picks probe's own slice counts.
        val ev = Tables.events(s, d)
          .filter(col("value").isNotNull)
          .select(col("event_type"), col("value"), col("event_id"))
        graft.operators.Operators.groupedRankPicks(
          ev, "event_type", Seq(col("value"), col("event_id")),
          n => Seq((n + 1) / 2, (19 * n + 19) / 20), "r", "n")
          .groupBy(col("event_type"), col("n"))
          .agg(
            min(when(col("r") === expr("(n + 1) div 2"), col("value")))
              .as("p50"),
            min(when(col("r") === expr("(19 * n + 19) div 20"),
              col("value"))).as("p95"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH r AS (
          SELECT event_type, value,
                 CAST(row_number() OVER (PARTITION BY event_type
                   ORDER BY value, event_id) AS BIGINT) AS r,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM events WHERE value IS NOT NULL)
        SELECT event_type, CAST(n AS BIGINT) AS n,
               min(CASE WHEN r = (n + 1) // 2 THEN value END) AS p50,
               min(CASE WHEN r = (19 * n + 19) // 20 THEN value END) AS p95
        FROM r GROUP BY event_type, n ORDER BY event_type"""),
      doc = "exact per-group p50/p95 via grouped rank (no per-group sort " +
        "buffer) — the mega-group-safe percentile path q69 documents as " +
        "its seam"),

    // ClickHouse-style windowFunnel: per user, how deep the ordered
    // view → click → purchase chain progresses inside a 48-hour window
    // ANCHORED at the first view (each later step must strictly follow
    // the previous step and land within the anchor window). Three
    // sequential conditional-min window passes over ONE user-keyed
    // shuffle — no self-joins, no explode; then a 4-row depth histogram.
    // The standard product-analytics funnel with a time budget, which
    // q80's unbounded first-timestamp funnel cannot express.
    "q187_window_funnel" -> Q(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val W = 172800000000L // 48 h in µs (sized to the fixture's
        // ~11 h inter-event cadence so every funnel depth is populated —
        // a 30-min window left all users at depth 1)
        val w = Window.partitionBy(col("user_id"))
        val ev = Tables.events(s, d).select(col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("us"))
        val staged = ev
          .withColumn("t1",
            min(when(col("event_type") === "view", col("us"))).over(w))
          .withColumn("t2",
            min(when(col("event_type") === "click"
              && col("us") > col("t1")
              && col("us") <= col("t1") + W, col("us"))).over(w))
          .withColumn("t3",
            min(when(col("event_type") === "purchase"
              && col("us") > col("t2")
              && col("us") <= col("t1") + W, col("us"))).over(w))
        staged.groupBy(col("user_id"))
          .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"),
            max(col("t3")).as("t3"))
          .select(col("user_id"),
            when(col("t1").isNull, 0)
              .when(col("t2").isNull, 1)
              .when(col("t3").isNull, 2)
              .otherwise(3).as("depth"))
          .groupBy(col("depth"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("depth")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        s1 AS (
          SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
                   OVER (PARTITION BY user_id) AS t1
          FROM ev),
        s2 AS (
          SELECT *, min(CASE WHEN event_type = 'click' AND us > t1
                          AND us <= t1 + 172800000000 THEN us END)
                   OVER (PARTITION BY user_id) AS t2
          FROM s1),
        s3 AS (
          SELECT *, min(CASE WHEN event_type = 'purchase' AND us > t2
                          AND us <= t1 + 172800000000 THEN us END)
                   OVER (PARTITION BY user_id) AS t3
          FROM s2),
        per_user AS (
          SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
          FROM s3 GROUP BY user_id),
        depths AS (
          SELECT user_id,
                 CASE WHEN t1 IS NULL THEN 0
                      WHEN t2 IS NULL THEN 1
                      WHEN t3 IS NULL THEN 2 ELSE 3 END AS depth
          FROM per_user)
        SELECT depth, count(*) AS n_users
        FROM depths GROUP BY depth ORDER BY depth"""),
      doc = "windowFunnel: view->click->purchase depth inside a 48-h " +
        "anchor window, three conditional-min passes on one user-keyed " +
        "shuffle — time-budgeted funnel q80 cannot express"),

    // First-order Markov transition matrix over the event stream: counts
    // of (prev_type → type) per user step (lag over the user-ordered
    // stream) plus the row-conditional probability in milli — the
    // behavioral-model / next-event-prediction baseline and the input to
    // any user-journey Sankey.
    // Scale shape: one user-keyed shuffle for the lag window, then a
    // map-side-combined count on the ≤ |types|² matrix; the row totals
    // ride a broadcast join (bounded by the type vocabulary).
    "q188_transition_matrix" -> Q(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        val steps = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"), col("event_id"))
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNotNull)
        val counts = steps.groupBy(col("prev_type").as("from_type"),
          col("event_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
        val rowTotals = counts.groupBy(col("from_type"))
          .agg(sum(col("n")).as("row_n"))
        counts.join(broadcast(rowTotals), Seq("from_type"))
          .select(col("from_type"), col("to_type"), col("n"),
            expr("1000 * n div row_n").as("p_milli"))
          .orderBy("from_type", "to_type")
      },
      oracle = Some("""
        WITH steps AS (
          SELECT user_id,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id) AS from_type,
                 event_type AS to_type
          FROM events),
        c AS (
          SELECT from_type, to_type, count(*) AS n
          FROM steps WHERE from_type IS NOT NULL
          GROUP BY 1, 2),
        rt AS (
          SELECT from_type, CAST(sum(n) AS BIGINT) AS row_n
          FROM c GROUP BY from_type)
        SELECT from_type, to_type, n,
               CAST(1000 * n // row_n AS BIGINT) AS p_milli
        FROM c JOIN rt USING (from_type)
        ORDER BY from_type, to_type"""),
      doc = "first-order Markov transition matrix of event types (counts " +
        "+ row-conditional milli probabilities) — the user-journey / " +
        "next-event baseline"),

    // A/B effect size in exact integer arithmetic: purchase vs error
    // event values compared by mean difference AND the Welch z² statistic
    // — the experimentation-platform primitive, computed so both engines
    // agree bit-for-bit (a float t-test never cross-engine-hashes).
    // Values are 2-decimal money → exact integer cents; with
    // n, s = Σcents, q = Σcents² per arm, the Welch z² =
    //   diff² / (v1/n1 + v2/n2),  v = (n·q − s²) / (n(n−1))
    // reduces (after cancelling (n1·n2)²) to the single integer form
    //   z²_milli = 1000·(s1n2 − s2n1)²·(n1−1)(n2−1)
    //     div ((n1q1 − s1²)·n2²(n2−1) + (n2q2 − s2²)·n1²(n1−1)).
    // Intermediates ride DECIMAL(38)/HUGEINT; the numerator reaches
    // ~10³⁷ at sf0.1 — past ~10⁸ rows/arm switch to mean-centered
    // accumulation; the exact path is the oracle-gated law.
    // Scale shape: one map-side-combined conditional agg over a narrow
    // projection → a 1-row frame; all the algebra is driver-free column
    // arithmetic on that row.
    "q190_ab_effect" -> Q(
      run = (s, d) => {
        val cents = expr(
          "CAST(CAST(value AS DECIMAL(18,6)) * 100 AS BIGINT)")
        Tables.events(s, d)
          .filter(col("event_type").isin("purchase", "error"))
          .select(col("event_type"), cents.as("c"))
          .agg(
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("n1"),
            sum(when(col("event_type") === "purchase", col("c"))
              .otherwise(0L)).as("s1"),
            sum(when(col("event_type") === "purchase",
              col("c") * col("c")).otherwise(0L)).as("q1"),
            sum(when(col("event_type") === "error", 1L).otherwise(0L))
              .as("n2"),
            sum(when(col("event_type") === "error", col("c"))
              .otherwise(0L)).as("s2"),
            sum(when(col("event_type") === "error",
              col("c") * col("c")).otherwise(0L)).as("q2"))
          // degenerate-denominator guards, the q172/q182 family convention
          // (CASE WHEN den = 0 THEN 0): an empty arm zeroes n1*n2, and two
          // constant-valued arms zero the pooled-variance term — without
          // the guard each engine applies its own division-by-zero
          // semantics instead of the documented law
          .withColumn("diff_milli_cents", expr(
            """CASE WHEN n1 = 0 OR n2 = 0 THEN CAST(0 AS BIGINT)
              | ELSE CAST((CAST(1000 AS DECIMAL(38,0)) * s1 * n2
              |   - CAST(1000 AS DECIMAL(38,0)) * s2 * n1)
              |   div (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT) END"""
              .stripMargin))
          .withColumn("z2_milli", expr(
            """CASE WHEN ((CAST(n1 AS DECIMAL(38,0)) * q1 - CAST(s1 AS DECIMAL(38,0)) * s1)
              |        * n2 * n2 * (n2 - 1)
              |      + (CAST(n2 AS DECIMAL(38,0)) * q2 - CAST(s2 AS DECIMAL(38,0)) * s2)
              |        * n1 * n1 * (n1 - 1)) = 0 THEN CAST(0 AS BIGINT)
              | ELSE CAST((CAST(1000 AS DECIMAL(38,0))
              |   * (CAST(s1 AS DECIMAL(38,0)) * n2 - CAST(s2 AS DECIMAL(38,0)) * n1)
              |   * (CAST(s1 AS DECIMAL(38,0)) * n2 - CAST(s2 AS DECIMAL(38,0)) * n1)
              |   * (n1 - 1) * (n2 - 1))
              | div ((CAST(n1 AS DECIMAL(38,0)) * q1 - CAST(s1 AS DECIMAL(38,0)) * s1)
              |        * n2 * n2 * (n2 - 1)
              |      + (CAST(n2 AS DECIMAL(38,0)) * q2 - CAST(s2 AS DECIMAL(38,0)) * s2)
              |        * n1 * n1 * (n1 - 1)) AS BIGINT) END""".stripMargin))
          .select(col("n1"), col("n2"), col("diff_milli_cents"),
            col("z2_milli"))
      },
      oracle = Some("""
        WITH c AS (
          SELECT event_type,
                 CAST(CAST(value AS DECIMAL(18,6)) * 100 AS BIGINT) AS c
          FROM events WHERE event_type IN ('purchase', 'error')),
        p AS (
          SELECT
            CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n1,
            CAST(sum(CASE WHEN event_type = 'purchase' THEN c ELSE 0 END)
              AS HUGEINT) AS s1,
            CAST(sum(CASE WHEN event_type = 'purchase' THEN c * c
              ELSE 0 END) AS HUGEINT) AS q1,
            CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n2,
            CAST(sum(CASE WHEN event_type = 'error' THEN c ELSE 0 END)
              AS HUGEINT) AS s2,
            CAST(sum(CASE WHEN event_type = 'error' THEN c * c ELSE 0 END)
              AS HUGEINT) AS q2
          FROM c)
        SELECT n1, n2,
               CASE WHEN n1 = 0 OR n2 = 0 THEN CAST(0 AS BIGINT)
                 ELSE CAST((1000 * s1 * n2 - 1000 * s2 * n1)
                   // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) END
                 AS diff_milli_cents,
               CASE WHEN ((n1 * q1 - s1 * s1) * n2 * n2 * (n2 - 1)
                      + (n2 * q2 - s2 * s2) * n1 * n1 * (n1 - 1)) = 0
                 THEN CAST(0 AS BIGINT)
                 ELSE CAST((1000 * (s1 * n2 - s2 * n1) * (s1 * n2 - s2 * n1)
                        * (n1 - 1) * (n2 - 1))
                   // ((n1 * q1 - s1 * s1) * n2 * n2 * (n2 - 1)
                      + (n2 * q2 - s2 * s2) * n1 * n1 * (n1 - 1))
                   AS BIGINT) END AS z2_milli
        FROM p"""),
      doc = "A/B effect size (purchase vs error values): exact integer " +
        "mean-difference + Welch z-squared in milli — the experimentation " +
        "primitive, engine-stable"),

    // Zone-map data-skipping audit: the 1-D layout counterpart of q153's
    // Z-order. Model 32 equal row zones under two layouts — arrival order
    // (doc_id ranges) vs sorted-by-filter-column (n_chars rank ranges) —
    // record each zone's [min, max] of n_chars (exactly what parquet
    // row-group stats hold), and count the zones a `n_chars > 400` scan
    // could SKIP under each layout. Sorted layout clusters the predicate
    // column so most zones' max falls below the cut; arrival order leaves
    // every zone straddling it — the measured argument for sorting data
    // by its hottest filter column at write time.
    // Scale shape: the rank rides totalRank (range exchange, frozen-pid
    // windows, no single-task stage); zone stats are one
    // map-side-combined agg into a 2×32-row metadata table.
    "q191_zonemap_skipping" -> Q(
      run = (s, d) => {
        val docs = graft.Checkpoints.localCheckpoint(
          Tables.documents(s, d).select(col("doc_id"), col("n_chars")))
        // r18 NOTE (examined, left as totalRank): the q61 boundary-pick
        // rewrite (31 zone-boundary rows) measured slower both flavors
        // here too (0.650→0.772 collect; 0.902→1.104 in-plan, same-host
        // A/B) — see q61's note.
        val (ranked, n) = graft.operators.Operators.totalRank(
          docs, "n_chars", Seq(col("doc_id")), "rnk")
        val zoneW = math.max(1L, (n + 31) / 32)
        val byArrival = docs
          .withColumn("layout", lit("arrival"))
          // doc_ids are 0-based dense in the fixture; zone = id div width
          .withColumn("zone", expr(s"CAST(doc_id div $zoneW AS INT)"))
        val bySorted = ranked
          .withColumn("layout", lit("sorted"))
          .withColumn("zone", expr(s"CAST((rnk - 1) div $zoneW AS INT)"))
          .select(col("doc_id"), col("n_chars"), col("layout"), col("zone"))
        byArrival.unionByName(bySorted)
          .groupBy(col("layout"), col("zone"))
          .agg(min(col("n_chars")).as("zmin"), max(col("n_chars")).as("zmax"))
          .groupBy(col("layout"))
          .agg(count(lit(1)).as("n_zones"),
            sum(when(col("zmax") <= 400, 1L).otherwise(0L))
              .as("n_skippable"))
          .orderBy("layout")
      },
      oracle = Some("""
        WITH n AS (SELECT count(*) AS n FROM documents),
        w AS (SELECT greatest(1, (n + 31) // 32) AS zw FROM n),
        arrival AS (
          SELECT 'arrival' AS layout,
                 CAST(doc_id // zw AS INT) AS zone, n_chars
          FROM documents CROSS JOIN w),
        srt AS (
          SELECT 'sorted' AS layout,
                 CAST((row_number() OVER (ORDER BY n_chars, doc_id) - 1)
                   // zw AS INT) AS zone, n_chars
          FROM documents CROSS JOIN w),
        zones AS (
          SELECT layout, zone, min(n_chars) AS zmin, max(n_chars) AS zmax
          FROM (SELECT * FROM arrival UNION ALL SELECT * FROM srt)
          GROUP BY 1, 2)
        SELECT layout, count(*) AS n_zones,
               CAST(sum(CASE WHEN zmax <= 400 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_skippable
        FROM zones GROUP BY layout ORDER BY layout"""),
      doc = "zone-map skipping audit: zones prunable by a n_chars > 400 " +
        "scan under arrival vs sorted layout — the 1-D data-skipping " +
        "argument beside q153's Z-order"),

    // Watermark late-data audit: the batch-side measurement that SIZES a
    // streaming deployment's watermark delay. Arrival time is modeled as
    // event time + a deterministic hash-derived network delay of up to
    // 2 h (the fixture's event_id order IS its time order, so a raw
    // event_id proxy makes every count vacuously zero — the jitter is
    // what puts disorder under test); the watermark after each arrival is
    // max(event time so far) − D, and an event is LATE iff its own event
    // time is already below that mark — exactly what append-mode would
    // drop. One arrival-ordered running max per type answers every D at
    // once; reported for D = 1 h (~10% dropped on the fixture) and 6 h
    // (0 dropped) so the operator sees both ends of the delay curve.
    // Scale shape: one type-keyed window pass (types are bounded here —
    // in a deployment the key is (type, shard)); map-side-combined 1-agg.
    "q192_late_data_audit" -> Q(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val h = charHash(col("event_id").cast("string"))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("arr"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.events(s, d)
          .select(col("event_type"), col("event_id"),
            unix_micros(col("ts")).as("us"))
          .withColumn("arr", col("us")
            + (scramble(h) % 7200L) * 1000000L)
          .withColumn("hwm", max(col("us")).over(w))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("us") < col("hwm") - 3600000000L, 1L)
              .otherwise(0L)).as("late_1h"),
            sum(when(col("us") < col("hwm") - 21600000000L, 1L)
              .otherwise(0L)).as("late_6h"))
          .orderBy("event_type")
      },
      oracle = Some(s"""
        WITH ev0 AS (
          SELECT event_type, event_id, epoch_us(ts) AS us,
                 ${duckCharHash("CAST(event_id AS VARCHAR)")} AS h
          FROM events),
        ev AS (
          SELECT event_type, event_id, us,
                 us + ${duckScramble("h")} % 7200 * 1000000 AS arr
          FROM ev0),
        a AS (
          SELECT event_type, us,
                 max(us) OVER (PARTITION BY event_type
                   ORDER BY arr, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
          FROM ev)
        SELECT event_type, count(*) AS n,
               CAST(sum(CASE WHEN us < hwm - 3600000000 THEN 1 ELSE 0 END)
                 AS BIGINT) AS late_1h,
               CAST(sum(CASE WHEN us < hwm - 21600000000 THEN 1 ELSE 0 END)
                 AS BIGINT) AS late_6h
        FROM a GROUP BY event_type ORDER BY event_type"""),
      doc = "watermark late-data audit: events append-mode would drop at " +
        "1h vs 6h delay (arrival-ordered running max) — sizes the " +
        "streaming watermark decision"),

    // Sequential pattern mining, one step past q188's pair matrix: the
    // most frequent 3-step event paths (trigrams of consecutive events
    // per user), support-counted and top-10. The SPADE-lite building
    // block behind "users who did X then Y then Z".
    // Scale shape: one user-keyed window shuffle carries BOTH lags; the
    // trigram agg is map-side combined (≤ |types|³ keys); TakeOrdered.
    "q193_path_trigrams" -> Q(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"), col("event_id"))
          .withColumn("t1", lag(col("event_type"), 2).over(w))
          .withColumn("t2", lag(col("event_type"), 1).over(w))
          .filter(col("t1").isNotNull)
          .groupBy(col("t1"), col("t2"), col("event_type").as("t3"))
          .agg(count(lit(1)).as("support"))
          .orderBy(col("support").desc, col("t1"), col("t2"), col("t3"))
          .limit(10)
      },
      oracle = Some("""
        WITH s AS (
          SELECT user_id,
                 lag(event_type, 2) OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id) AS t1,
                 lag(event_type, 1) OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id) AS t2,
                 event_type AS t3
          FROM events)
        SELECT t1, t2, t3, count(*) AS support
        FROM s WHERE t1 IS NOT NULL
        GROUP BY 1, 2, 3
        ORDER BY support DESC, t1, t2, t3 LIMIT 10"""),
      doc = "top-10 three-step event paths (consecutive trigrams per " +
        "user) — sequential pattern mining past the q188 pair matrix"),

    // CUSUM changepoint detection on the weekly event-volume series: the
    // classic shift detector — S_w = Σ_{i≤w} (c_i − mean), and the week
    // maximizing |S| is the most likely changepoint. Computed exactly in
    // integers by scaling deviations by the week count W (c_i·W − total),
    // so no fractional mean ever appears. Output: each week's scaled
    // CUSUM plus the argmax flag — the monitoring primitive that answers
    // "WHEN did the volume regime change", where the drift audits
    // (q139/q163) answer "did it".
    // Scale shape: events collapse to a ≤|weeks|-row metadata series
    // (map-side-combined count), and the CUSUM window runs over that
    // series; at 100 TB the series is still weeks-sized.
    "q194_cusum_changepoint" -> Q(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val weekly = Tables.events(s, d)
          .groupBy(expr("CAST(date_trunc('week', ts) AS DATE)").as("week"))
          .agg(count(lit(1)).as("c"))
        val tot = weekly.agg(sum(col("c")).as("total"),
          count(lit(1)).as("wn"))
        val wc = Window.orderBy(col("week"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cusum = weekly.crossJoin(broadcast(tot))
          .withColumn("s_scaled",
            sum(col("c") * col("wn") - col("total")).over(wc))
        cusum
          .withColumn("abs_s", abs(col("s_scaled")))
          .withColumn("is_changepoint",
            col("abs_s") === max(col("abs_s")).over(
              Window.rowsBetween(Window.unboundedPreceding,
                Window.unboundedFollowing)))
          .select(col("week"), col("c"), col("s_scaled"),
            col("is_changepoint"))
          .orderBy("week")
      },
      oracle = Some("""
        WITH weekly AS (
          SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
                 count(*) AS c
          FROM events GROUP BY 1),
        t AS (SELECT CAST(sum(c) AS BIGINT) AS total,
                     count(*) AS wn FROM weekly),
        cusum AS (
          SELECT week, c,
                 CAST(sum(c * wn - total) OVER (ORDER BY week
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_scaled
          FROM weekly CROSS JOIN t)
        SELECT week, c, s_scaled,
               abs(s_scaled) = max(abs(s_scaled)) OVER () AS is_changepoint
        FROM cusum ORDER BY week"""),
      doc = "CUSUM changepoint on weekly event volume (integer-scaled " +
        "deviations, argmax |S| flag) — WHEN the regime changed, beside " +
        "the drift audits' DID it"),

    // Ranker agreement audit: how much do q177's two retrieval channels
    // (BM25 lexical vs dense cosine) actually agree? Overlap@k for
    // k ∈ {1, 5, 10, 20}, plus — on the items BOTH top-20s contain —
    // Kendall concordance in milli: over shared-item pairs, 1000·(C − D)
    // div (C + D) where a pair is concordant iff both rankers order it
    // the same way. The calibration you read before trusting rank fusion
    // (near-zero overlap means RRF is a coin flip; high overlap with low
    // tau means the channels agree on WHAT but not in WHICH ORDER).
    // Scale shape: both rankers are the shared TakeOrdered(20) builders;
    // everything downstream runs on ≤ 20-row frames (the pair
    // "self-join" is 20×20 metadata, never corpus-sized).
    "q196_ranker_agreement" -> Q(
      run = (s, d) => {
        import s.implicits._
        val shared = graft.Checkpoints.localCheckpoint(
          lexTop20(s, d).join(denseTop20(s, d), Seq("doc_id")))
        val ks = Seq(1, 5, 10, 20).toDF("k")
        val overlaps = broadcast(ks).join(shared,
            col("lex_rank") <= col("k") && col("vec_rank") <= col("k"),
            "left")
          .groupBy(col("k"))
          .agg(count(col("doc_id")).as("overlap_n"))
        val a = shared.select(col("doc_id").as("ia"),
          col("lex_rank").as("la"), col("vec_rank").as("va"))
        val b = shared.select(col("doc_id").as("ib"),
          col("lex_rank").as("lb"), col("vec_rank").as("vb"))
        val tau = a.join(b, col("ia") < col("ib"))
          .agg(
            sum(when((col("la") < col("lb")) === (col("va") < col("vb")),
              1L).otherwise(0L)).as("c"),
            sum(when((col("la") < col("lb")) =!= (col("va") < col("vb")),
              1L).otherwise(0L)).as("dd"))
          .select(expr(
            """CASE WHEN c + dd > 0
              | THEN 1000 * (c - dd) div (c + dd) ELSE 0 END"""
              .stripMargin).as("tau_milli"))
        overlaps.crossJoin(broadcast(tau))
          .select(col("k"), col("overlap_n"),
            when(col("k") === 20, col("tau_milli")).as("tau_milli"))
          .orderBy("k")
      },
      oracle = Some(s"""
        WITH $duckBm25,
        $duckRankers,
        shared AS (
          SELECT lex.doc_id, lex_rank, vec_rank
          FROM lex JOIN dense USING (doc_id)),
        ks AS (SELECT unnest([1, 5, 10, 20]) AS k),
        ovl AS (
          SELECT k, count(s.doc_id) AS overlap_n
          FROM ks LEFT JOIN shared s
            ON s.lex_rank <= ks.k AND s.vec_rank <= ks.k
          GROUP BY k),
        tau AS (
          SELECT CAST(CASE WHEN c + d > 0
                   THEN 1000 * (c - d) // (c + d) ELSE 0 END AS BIGINT)
                 AS tau_milli
          FROM (
            SELECT
              sum(CASE WHEN (a.lex_rank < b.lex_rank)
                         = (a.vec_rank < b.vec_rank)
                  THEN 1 ELSE 0 END) AS c,
              sum(CASE WHEN (a.lex_rank < b.lex_rank)
                         <> (a.vec_rank < b.vec_rank)
                  THEN 1 ELSE 0 END) AS d
            FROM shared a JOIN shared b ON a.doc_id < b.doc_id))
        SELECT k, CAST(overlap_n AS BIGINT) AS overlap_n,
               CASE WHEN k = 20 THEN tau_milli END AS tau_milli
        FROM ovl CROSS JOIN tau ORDER BY k"""),
      doc = "lexical vs dense ranker agreement: overlap@{1,5,10,20} + " +
        "Kendall concordance (milli) on the shared top-20 items — the " +
        "calibration read before trusting rank fusion"),

    // Global rank transform (percentile normalization): every doc's
    // n_chars mapped to its global percentile (milli), then summarized
    // per source — the length-BIAS audit: a source whose docs are
    // globally typical reads ~500 mean percentile; a long-doc farm reads
    // high; the transform is the feature-engineering step that makes
    // per-source features comparable regardless of each source's scale.
    // Scale shape: the global rank rides totalRank (range exchange,
    // frozen-pid windows, no single-task stage); the per-source summary
    // is one map-side-combined agg.
    "q197_percentile_transform" -> Q(
      run = (s, d) => {
        val docs = graft.Checkpoints.localCheckpoint(
          Tables.documents(s, d).select(col("source"), col("doc_id"),
            col("n_chars")))
        val (ranked, n) = graft.operators.Operators.totalRank(
          docs, "n_chars", Seq(col("doc_id")), "rnk")
        ranked
          .withColumn("pct_milli", expr(s"1000 * rnk div $n"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            expr("sum(pct_milli) div count(1)").as("mean_pct_milli"),
            min(col("pct_milli")).as("min_pct_milli"),
            max(col("pct_milli")).as("max_pct_milli"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH r AS (
          SELECT source,
                 CAST(row_number() OVER (ORDER BY n_chars, doc_id)
                   AS BIGINT) AS rnk,
                 count(*) OVER () AS n
          FROM documents),
        p AS (SELECT source, 1000 * rnk // n AS pct_milli FROM r)
        SELECT source, count(*) AS n_docs,
               CAST(sum(pct_milli) // count(*) AS BIGINT)
                 AS mean_pct_milli,
               CAST(min(pct_milli) AS BIGINT) AS min_pct_milli,
               CAST(max(pct_milli) AS BIGINT) AS max_pct_milli
        FROM p GROUP BY source ORDER BY source"""),
      doc = "global percentile transform of doc length, summarized per " +
        "source (mean/min/max milli) — the length-bias audit and " +
        "scale-free feature normalization")
  )
}

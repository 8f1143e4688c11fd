package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.registry.Q

/** Prefix-filtered set-similarity self-join (the PPJoin family — Xiao,
  * Wang, Lin & Yu, WWW 2008; Chaudhuri's SSJoin lineage) over word
  * TOKEN SETS: find every doc pair with token-set Jaccard ≥ τ by
  * joining only each doc's PREFIX — its p = n − ⌈τ·n⌉ + 1 globally
  * rarest tokens — instead of all postings.
  *
  * Why this exists next to d_dedup_ngram_jaccard: the inverted-index
  * path bounds hot-key blowup with a df-cap, which is exact for every
  * surfaced pair but can MISS a pair whose entire overlap is
  * boilerplate hotter than the cap. The prefix filter is provably
  * COMPLETE with no cap: if J(x,y) ≥ τ, the two prefixes must share a
  * token (fewer than p_x + p_y − ... tokens can be disjoint only if
  * overlap < the τ-implied bound), so candidate generation never drops
  * a qualifying pair, and stopword-hot tokens almost never appear in a
  * prefix because prefixes are taken in GLOBAL (df ASC, token ASC)
  * order — the rare end of the vocabulary. The classic trade: a cap
  * bounds worst-case work unconditionally; the prefix bounds it
  * distribution-wise while keeping exact completeness.
  *
  * Engine parity is all-integer: τ = TauNum/TauDen, the prefix length
  * uses ⌈τn⌉ = (TauNum·n + TauDen − 1) div TauDen, the qualifying
  * predicate is c·TauDen ≥ TauNum·(na + nb − c), and the reported
  * similarity is jac_ppm = 1e6·c div (na + nb − c) — no float
  * anywhere, so the ORACLE can be an INDEPENDENT brute-force all-pairs
  * join (a genuinely different construction than the Spark side — a
  * stronger check than replaying the same algorithm).
  *
  * Scale shape: token sets and prefixes are per-doc narrow (the prefix
  * selection is a doc-keyed window over that doc's tokens ordered by
  * the global (df, token) order — no global rank materialization);
  * candidates come from a prefix-token equi-join whose skew is bounded
  * by how often a token lands in a prefix (rare end of the df
  * spectrum); verification joins full postings through the candidate
  * pairs only — O(|candidates| × doc size), never all-pairs.
  */
object PpJoin {

  /** τ = 19/20. Unigram SETS are far less discriminating than the
    * shingle paths' 3-gram structure — this corpus draws docs from a
    * shared vocabulary, so τ = 1/2 would label 74% of ALL pairs
    * near-dups (measured at sf0.01: 92,254 of 124,750) and the
    * operator's output itself would be quadratic, a scale-killer.
    * At 0.95 the output is ~1.5% of pairs (1,887) AND the prefix
    * shrinks to ~n/20 + 1 rarest tokens — the regime where prefix
    * filtering actually pays. */
  val TauNum = 19L
  val TauDen = 20L

  /** (doc_id, ts = distinct non-empty whitespace tokens, n = |ts|),
    * empty docs dropped (Jaccard undefined on two empty sets). */
  def tokenSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        array_distinct(filter(split(trim(col("text")), "\\s+"),
          t => length(t) > 0)).as("ts"))
      .withColumn("n", size(col("ts")).cast(LongType))
      .filter(col("n") > 0L)

  /** All pairs with token-set Jaccard ≥ TauNum/TauDen:
    * (a_id, b_id, c, na, nb, jac_ppm).
    *
    * Two measured design points on THIS corpus (sf0.1, 5000 docs over
    * a 31-token vocabulary — every token hot, the worst case for any
    * frequency-based filter):
    *  - the prefix join alone generates 13.4M candidate pairs; adding
    *    the classic LENGTH filter (J ≥ τ forces τ·max(n) ≤ min(n),
    *    cross-multiplied to integers) as a join residual cuts that to
    *    2.1M distinct candidates (6.3×);
    *  - verification by exploding both posting lists through the pair
    *    (the shingle path's shape) costs |cand| × |doc| join rows —
    *    ~50M here; with sets bounded by the vocabulary (≤ 31 tokens,
    *    and in general by document length), attaching the two sorted
    *    arrays and counting the intersection IN-ROW is a narrow
    *    codegen'd map over just |cand| rows instead. The explode-join
    *    remains the right shape for unbounded sets (see
    *    d_dedup_ngram_jaccard's measured note, where shingle sets are
    *    large); for token SETS the in-row count won by an order of
    *    magnitude (84s → see COVERAGE trend).
    */
  private def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    if (sys.env.contains("GRAFT_PP_TRACE"))
      println(f"PP_TRACE $name ${(System.nanoTime() - t0) / 1e9}%.2fs")
    r
  }

  /** Per-doc prefix (doc_id, n, t): the p = n − ⌈τn⌉ + 1 rarest tokens
    * under the (df ASC, t ASC) total order given by `dfTab`. LEFT join
    * + df 0 for unseen tokens: completeness needs only that BOTH sides
    * of a join use ONE consistent total order — frequencies affect
    * efficiency, never correctness — so an incremental batch can rank
    * its tokens under the STANDING corpus's df order and tokens the
    * corpus has never seen sort rarest. Integer `div` for the ceil (a
    * double quotient that rounds up across an integer boundary would
    * silently change the floor). Checkpointed: every caller feeds it
    * to at least two join sides. */
  private def prefixOf(spark: SparkSession, sets: DataFrame,
      dfTab: DataFrame, label: String): DataFrame = {
    val posts = sets.select(col("doc_id"), col("n"),
      explode(col("ts")).as("t"))
    val p = expr(s"n - (($TauNum * n + ${TauDen - 1}) div $TauDen) + 1")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("t"))
    val pref = phase(label)(posts.join(dfTab, Seq("t"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= p)
      .select(col("doc_id"), col("n"), col("t"), col("rn").cast(LongType).as("rn"))
      .localCheckpoint(true))
    graft.analytics.CheckpointRegistry.trackFinal(spark, pref)
    pref
  }

  /** Expand a prefix side over its admissible partner sizes so the
    * candidate join key is (t, n) — see similarPairs' skew note.
    * Carries the token's position `ra` for the positional filter. */
  private def expandSizes(prefix: DataFrame): DataFrame =
    prefix.withColumn("nb", explode(sequence(
        expr(s"($TauNum * n + ${TauDen - 1}) div $TauDen"),
        expr(s"(n * $TauDen) div $TauNum"))))
      .select(col("doc_id").as("a_id"), col("t").as("ta"), col("nb"),
        col("n").as("na"), col("rn").as("ra"))

  /** The PPJoin POSITIONAL filter (Xiao et al. 2008 §3.2), applied
    * per generated candidate row BEFORE the distinct: a shared prefix
    * token at 1-based positions (ra, rb) of the two docs' globally
    * ordered token lists bounds the overlap by
    * c ≤ 1 + min(na − ra, nb − rb) (the tokens at/after the match plus
    * nothing before it), and J ≥ τ needs
    * c ≥ ⌈TauNum·(na+nb) / (TauNum+TauDen)⌉. Soundness of row-level
    * application: positions under one global total order are
    * co-monotone, so the FIRST shared prefix token is also the first
    * shared token overall (any earlier shared token would sit in both
    * prefixes, contradicting firstness) — its bound is exact-prefixed
    * (nothing shared before it) and the LOOSEST over the pair's
    * occurrences, so a pair survives the row filter iff its first
    * occurrence passes, exactly the PPJoin candidate condition. All
    * integer arithmetic — no float anywhere (engine parity). */
  private def positionalOk: org.apache.spark.sql.Column =
    (lit(1L) + least(col("na") - col("ra"), col("nb") - col("rb"))) *
      lit(TauNum + TauDen) >= lit(TauNum) * (col("na") + col("nb"))

  /** A/B kill-switch (measurement + the completeness spec's
    * fewer-candidates assertion only; on by default). */
  private def maybePositional(df: DataFrame): DataFrame =
    if (sys.props.getOrElse("graft.ppjoin.positional", "true").toBoolean)
      df.filter(positionalOk)
    else df

  /** Distinct candidate pairs generated by the last similarPairs /
    * incrementalPairs call — the CONTRACT QUANTITY the verify wall time
    * is linear in; Bench emits it in the bench JSON so the "linear in
    * candidates" claim is checkable per round (VERDICT r7 next #6). */
  @volatile private[graft] var lastCandidates: Long = -1
  @volatile private[graft] var lastIncrCandidates: Long = -1

  /** Test hook: force the string-array verify even when the hash
    * vocabulary is injective, so the fallback path is spec-coverable
    * without manufacturing a 64-bit collision. */
  @volatile private[graft] var forceStringVerify: Boolean = false

  /** Exact verify over candidate pairs — see similarPairs' measured
    * notes (injectivity gate, score-then-filter barrier). `sets` must
    * cover every doc_id appearing in `cand`.
    *
    * Sets are hash-encoded to sorted LONG arrays when xxhash64 is
    * injective on this corpus's token vocabulary (the fast common case:
    * 8-byte fixed-width elements through the intersect instead of
    * variable-length strings); on a detected collision — plausible at
    * web-corpus vocabularies by 64-bit birthday arithmetic — the verify
    * FALLS BACK to sorted STRING arrays, which is collision-free by
    * construction (ADVICE r7 #3: the gate used to abort the whole join
    * instead of performing the fallback its own message prescribed).
    * Both paths run the identical join + in-row array_intersect count. */
  private def verifyPairs(spark: SparkSession, cand: DataFrame,
      sets: DataFrame): DataFrame = {
    val posts = sets.select(explode(col("ts")).as("t"))
    val inj = posts.agg(
      countDistinct(col("t")).as("nt"),
      countDistinct(xxhash64(col("t"))).as("nh")).head
    val useHashes = !forceStringVerify && inj.getLong(0) == inj.getLong(1)
    val hsets = sets.select(col("doc_id"),
      (if (useHashes) array_sort(transform(col("ts"), t => xxhash64(t)))
       else array_sort(col("ts"))).as("hs"),
      col("n"))
    val sa = hsets.select(col("doc_id").as("a_id"), col("hs").as("tsa"),
      col("n").as("na"))
    val sb = hsets.select(col("doc_id").as("b_id"), col("hs").as("tsb"),
      col("n").as("nb"))
    // Join strategy at the 100x point was A/B'd (reps=1, 48g driver):
    // planner default 311s, forced shuffle_hash on both attaches 413s
    // — the sort is NOT the bend; the run is O(candidates) (210M at
    // sf10, 100x sf0.1's 2.1M, wall 54x — sublinear per candidate),
    // so the default plan stays
    val scored = phase("score")(cand.join(sa, "a_id").join(sb, "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("tsa"), col("tsb"))).cast(LongType).as("c"),
        col("na"), col("nb"))
      .localCheckpoint(true))
    graft.analytics.CheckpointRegistry.trackFinal(spark, scored)
    scored
      .filter(col("c") * TauDen >= lit(TauNum) * (col("na") + col("nb") - col("c")))
      .select(col("a_id"), col("b_id"), col("c"), col("na"), col("nb"),
        expr("(1000000 * c) div (na + nb - c)").as("jac_ppm"))
  }

  def similarPairs(spark: SparkSession, docs: DataFrame): DataFrame = {
    // Eager stage boundaries (registry-tracked, released by the runner
    // once the result materializes): the token-set frame feeds THREE
    // join inputs (postings + both verify attaches) and the candidate
    // frame feeds a verify whose intersect expression appears in both
    // the predicate and the projection — fused lazily, the full plan took
    // 24s against ~8s for its materialized stages at sf0.1 (COVERAGE.md).
    val sets = phase("sets")(tokenSets(docs).localCheckpoint(true))
    graft.analytics.CheckpointRegistry.trackFinal(spark, sets)
    val posts = sets.select(col("doc_id"), col("n"),
      explode(col("ts")).as("t"))
    val dfTab = posts.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val prefix = prefixOf(spark, sets, dfTab, "prefix")

    // candidate = same prefix token + the length filter, with the
    // length bound folded INTO the join key: J ≥ τ forces
    // n_b ∈ [⌈τ·n_a⌉, ⌊n_a/τ⌋] (a ~(1/τ − τ)·n-wide integer band, ~3
    // values at τ=19/20), so side A expands over its admissible
    // partner sizes and the join key becomes (t, n) instead of t
    // alone. On a hot-vocabulary corpus a bare `t` key has a handful
    // of distinct values — one 3.9k-posting token expands 15M pairs in
    // a SINGLE task (measured: the whole query sat at 23s on that
    // straggler); (t, n) multiplies the key space by the size spread
    // and the residual filter disappears into the key.
    //
    // Verify (in verifyPairs): sets are hash-encoded to sorted long
    // arrays under an injectivity gate, and the score runs behind a
    // materialization barrier before the tau filter — each choice is
    // measured in COVERAGE.md; GRAFT_PP_TRACE times these phases.
    // candidate generation + positional filter (see positionalOk) +
    // fused checkpoint/contract-count (ckptCounted: one job materializes
    // the candidate frame and counts it)
    val (cand, nCand, _) = phase("cand")(
      org.apache.spark.sql.GraftColumnBridge.ckptCounted(expandSizes(prefix)
        .join(prefix.select(col("doc_id").as("b_id"), col("n").as("nb2"),
          col("t").as("tb"), col("rn").as("rb")),
          col("ta") === col("tb") && col("nb") === col("nb2"))
        .filter(col("a_id") < col("b_id"))
        .transform(maybePositional)
        .select(col("a_id"), col("b_id")).distinct()))
    graft.analytics.CheckpointRegistry.trackFinal(spark, cand)
    lastCandidates = nCand
    verifyPairs(spark, cand, sets)
  }

  /** Incremental near-dup detection: the pairs of the FULL similarity
    * join restricted to those touching an ingest batch (doc_id % 10 ==
    * 7, the d_dedup_incremental convention) — batch-internal pairs
    * included — at O(batch) probe cost: only batch prefixes join the
    * standing index; the corpus never self-joins. Batch tokens rank
    * under the STANDING corpus's df order (unseen tokens df 0 →
    * rarest), which is sound because prefix completeness needs one
    * CONSISTENT total order on both sides, not up-to-date frequencies
    * — the order affects candidate count, never the result (the
    * verify is exact either way). Like the banded-minhash incremental
    * path, the standing index is rebuilt here for the registered
    * query; in production it is the maintained artifact. */
  def incrementalPairs(spark: SparkSession, docs: DataFrame): DataFrame = {
    val sets = phase("sets")(tokenSets(docs).localCheckpoint(true))
    graft.analytics.CheckpointRegistry.trackFinal(spark, sets)
    val corpus = sets.filter(col("doc_id") % 10 =!= 7)
    val batch = sets.filter(col("doc_id") % 10 === 7)
    val dfTab = corpus.select(explode(col("ts")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
    val corpusPrefix = prefixOf(spark, corpus, dfTab, "corpus_prefix")
    val batchPrefix = prefixOf(spark, batch, dfTab, "batch_prefix")

    // probe: batch prefixes (size-expanded) against standing + batch
    // index; canonicalize a<b afterwards since the probe side may hold
    // either endpoint of a pair
    val index = corpusPrefix.union(batchPrefix)
      .select(col("doc_id").as("b_id"), col("n").as("nb2"),
        col("t").as("tb"), col("rn").as("rb"))
    // the positional filter is symmetric in the two (size, position)
    // pairs, so it applies before the least/greatest canonicalization
    val (cand, nCand, _) = phase("cand")(
      org.apache.spark.sql.GraftColumnBridge.ckptCounted(expandSizes(batchPrefix)
        .join(index, col("ta") === col("tb") && col("nb") === col("nb2"))
        .filter(col("a_id") =!= col("b_id"))
        .transform(maybePositional)
        .select(least(col("a_id"), col("b_id")).as("a_id"),
          greatest(col("a_id"), col("b_id")).as("b_id"))
        .distinct()))
    graft.analytics.CheckpointRegistry.trackFinal(spark, cand)
    lastIncrCandidates = nCand
    verifyPairs(spark, cand, sets)
  }

  // ---- registry entry ---------------------------------------------------

  /** Independent brute-force oracle: all-pairs list_intersect — a
    * different construction than the prefix filter, so a completeness
    * bug in the filter (not just a scoring bug) hash-fails. The
    * `restrict` clause narrows the incremental variant to pairs
    * touching the ingest batch. */
  private def oracleSql(restrict: String): String =
    s"""WITH tk AS (
       |  SELECT doc_id,
       |    list_distinct(list_filter(
       |      string_split_regex(trim(text), '\\s+'),
       |      t -> len(t) > 0)) AS ts
       |  FROM documents),
       |tn AS (SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS n FROM tk
       |  WHERE len(ts) > 0),
       |p AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS c,
       |    a.n AS na, b.n AS nb
       |  FROM tn a JOIN tn b ON a.doc_id < b.doc_id)
       |SELECT a_id, b_id, c, na, nb,
       |  CAST(1000000 * c // (na + nb - c) AS BIGINT) AS jac_ppm
       |FROM p
       |WHERE c * $TauDen >= $TauNum * (na + nb - c)$restrict
       |ORDER BY a_id, b_id""".stripMargin

  val ppjoinQ: Q = Q(
    "d_dedup_ppjoin",
    Some(oracleSql("")),
    (s, d) => similarPairs(s, Tables.documents(s, d))
      .orderBy(col("a_id"), col("b_id")))

  val ppjoinIncrementalQ: Q = Q(
    "d_dedup_ppjoin_incremental",
    Some(oracleSql("\n  AND (a_id % 10 = 7 OR b_id % 10 = 7)")),
    (s, d) => incrementalPairs(s, Tables.documents(s, d))
      .orderBy(col("a_id"), col("b_id")))

  def all: Seq[Q] = Seq(ppjoinQ, ppjoinIncrementalQ)
}

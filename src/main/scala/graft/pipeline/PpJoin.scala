package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.functions.GraftFunctions.sorted_intersect_count
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
  * Scale shape: tokens are ranked once, by one single-partition sort of
  * the distinct vocabulary (bounded by the vocabulary, not the
  * postings), and each doc becomes one ascending rank array whose
  * prefix is its leading p ranks; candidates come from a prefix-token
  * equi-join whose skew is bounded by how often a token lands in a
  * prefix (rare end of the df spectrum), and each is verified in its
  * join row by a merge count of the two rank arrays — O(|candidates| ×
  * doc size), never all-pairs.
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

  /** Time one stage; printed when GRAFT_PP_TRACE is set. */
  private def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    if (sys.env.contains("GRAFT_PP_TRACE"))
      println(f"PP_TRACE $name ${(System.nanoTime() - t0) / 1e9}%.2fs")
    r
  }

  /** Rank-encoded docs (doc_id, n, rs): `rs` is the ascending array of
    * the doc's token ranks in the global (df ASC, t ASC) order, df
    * counting only the docs where `standing` holds (tokens no standing
    * doc holds get df 0 and sort rarest). Completeness needs only that
    * every doc is ranked under ONE total order — frequencies affect
    * efficiency, never correctness. The ranks come from one sort of the
    * distinct vocabulary on a single partition, so its cost is bounded
    * by the number of distinct tokens (31 at sf0.1), not by the
    * postings. Checkpointed: both sides of the candidate join read it. */
  private def ranked(spark: SparkSession, docs: DataFrame,
      standing: Column): DataFrame = {
    val posts = tokenSets(docs).select(col("doc_id"), col("n"),
      explode(col("ts")).as("t"), standing.as("standing"))
    val ranks = posts.groupBy(col("t"))
      .agg(count(when(col("standing"), 1)).as("df"))
      .select(col("t"),
        row_number().over(Window.orderBy(col("df"), col("t"))).cast(LongType).as("r"))
    val enc = phase("ranks")(posts.join(ranks, "t")
      .groupBy(col("doc_id"), col("n"))
      .agg(array_sort(collect_list(col("r"))).as("rs"))
      .localCheckpoint(true))
    graft.analytics.CheckpointRegistry.trackFinal(spark, enc)
    enc
  }

  /** One row per prefix token (doc_id, n, rs, r, t): the prefix is the
    * leading p = n − ⌈τn⌉ + 1 ranks, `r` the 1-based position. Integer
    * `div` for the ceil (a double quotient that rounds up across an
    * integer boundary would silently change the floor). */
  private def prefixOf(enc: DataFrame): DataFrame =
    enc.select(col("doc_id"), col("n"), col("rs"), posexplode(
        expr(s"slice(rs, 1, cast(n - (($TauNum * n + ${TauDen - 1}) div $TauDen) + 1 AS INT))"))
      .as(Seq("r", "t")))
      .withColumn("r", col("r").cast(LongType) + 1L)

  /** The PPJoin POSITIONAL filter (Xiao et al. 2008 §3.2): a shared
    * prefix token at 1-based positions (ra, rb) bounds the overlap by
    * c ≤ 1 + min(na − ra, nb − rb), and J ≥ τ needs
    * c ≥ ⌈TauNum·(na+nb) / (TauNum+TauDen)⌉. It is applied to the
    * pair's FIRST shared prefix token, which is also its first shared
    * token overall (positions under one global order are co-monotone,
    * so an earlier shared token would sit in both prefixes); its bound
    * is the loosest over the pair's shared tokens, so the pair passes
    * iff some shared prefix token passes — the PPJoin candidate
    * condition. All integer arithmetic (engine parity). */
  private def positionalOk: Column =
    (lit(1L) + least(col("na") - col("ra"), col("nb") - col("rb"))) *
      lit(TauNum + TauDen) >= lit(TauNum) * (col("na") + col("nb"))

  /** A/B kill-switch (measurement + the completeness spec's
    * fewer-candidates assertion only; on by default). */
  private def maybePositional(df: DataFrame): DataFrame =
    if (sys.props.getOrElse("graft.ppjoin.positional", "true").toBoolean)
      df.filter(positionalOk)
    else df

  /** Candidate pairs counted by the last similarPairs /
    * incrementalPairs call — the CONTRACT QUANTITY the verify cost is
    * linear in; Bench and citebench report it. */
  @volatile private[graft] var lastCandidates: Long = -1
  @volatile private[graft] var lastIncrCandidates: Long = -1

  /** Candidate generation and verification in one pass: probe prefix
    * rows join index prefix rows on (token, partner size) — J ≥ τ forces
    * n_b ∈ [⌈τ·n_a⌉, ⌊n_a/τ⌋] (~3 values at τ = 19/20), so the probe
    * side expands over that band and a hot token's postings split by
    * size instead of landing in one task. `keep` picks the pair
    * orientations to generate. A joined row survives only at the pair's
    * first shared prefix token (the two leading slices before it share
    * nothing), so each candidate pair is one row without a `distinct`,
    * and it is scored in the same row by a merge count of the two rank
    * arrays. Returns the qualifying pairs as (a_id < b_id, c, na, nb,
    * jac_ppm) and the candidate count. */
  private def prefixJoin(spark: SparkSession, probe: DataFrame,
      index: DataFrame, keep: Column): (DataFrame, Long) = {
    val a = probe.withColumn("nb", explode(sequence(
        expr(s"($TauNum * n + ${TauDen - 1}) div $TauDen"),
        expr(s"(n * $TauDen) div $TauNum"))))
      .select(col("doc_id").as("a_id"), col("n").as("na"), col("rs").as("rsa"),
        col("r").as("ra"), col("t"), col("nb"))
    val b = index.select(col("doc_id").as("b_id"), col("n").as("nb"),
      col("rs").as("rsb"), col("r").as("rb"), col("t"))
    val (scored, nCand, _) = phase("candidates")(
      org.apache.spark.sql.GraftColumnBridge.ckptCounted(a.join(b, Seq("t", "nb"))
        .filter(keep)
        .transform(maybePositional)
        .filter(sorted_intersect_count(col("rsa"), col("rsb"),
          col("ra") - 1L, col("rb") - 1L) === 0L)
        .select(least(col("a_id"), col("b_id")).as("a_id"),
          greatest(col("a_id"), col("b_id")).as("b_id"),
          sorted_intersect_count(col("rsa"), col("rsb")).as("c"),
          when(col("a_id") < col("b_id"), col("na")).otherwise(col("nb")).as("na"),
          when(col("a_id") < col("b_id"), col("nb")).otherwise(col("na")).as("nb"))))
    graft.analytics.CheckpointRegistry.trackFinal(spark, scored)
    (scored
      .filter(col("c") * TauDen >= lit(TauNum) * (col("na") + col("nb") - col("c")))
      .select(col("a_id"), col("b_id"), col("c"), col("na"), col("nb"),
        expr("(1000000 * c) div (na + nb - c)").as("jac_ppm")), nCand)
  }

  /** All pairs with token-set Jaccard ≥ TauNum/TauDen:
    * (a_id, b_id, c, na, nb, jac_ppm). Measured design history (length
    * band, in-row verify, join strategy): COVERAGE.md, d_dedup_ppjoin. */
  def similarPairs(spark: SparkSession, docs: DataFrame): DataFrame = {
    val prefix = prefixOf(ranked(spark, docs, lit(true)))
    val (pairs, nCand) = prefixJoin(spark, prefix, prefix, col("a_id") < col("b_id"))
    lastCandidates = nCand
    pairs
  }

  /** Incremental near-dup detection: the pairs of the FULL similarity
    * join restricted to those touching an ingest batch (doc_id % 10 ==
    * 7, the d_dedup_incremental convention) — batch-internal pairs
    * included — at O(batch) probe cost: only batch prefixes probe the
    * standing index; the corpus never self-joins. Ranks follow the
    * STANDING corpus's df order (tokens it has never seen sort rarest),
    * which is sound because prefix completeness needs one CONSISTENT
    * total order, not up-to-date frequencies. A batch–batch pair is
    * generated only in its a_id < b_id orientation. Like the
    * banded-minhash incremental path, the standing index is rebuilt
    * here for the registered query; in production it is the maintained
    * artifact. */
  def incrementalPairs(spark: SparkSession, docs: DataFrame): DataFrame = {
    val inBatch = (id: Column) => id % 10 === 7
    val prefix = prefixOf(ranked(spark, docs, !inBatch(col("doc_id"))))
    val (pairs, nCand) = prefixJoin(spark, prefix.filter(inBatch(col("doc_id"))),
      prefix, col("a_id") =!= col("b_id") &&
        (!inBatch(col("b_id")) || col("a_id") < col("b_id")))
    lastIncrCandidates = nCand
    pairs
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

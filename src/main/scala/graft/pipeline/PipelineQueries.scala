package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.functions.GraftFunctions
import graft.registry.Q

/** Training-data pipeline operators (north star, SURVEY.md §7.5): exact +
  * fuzzy deduplication, text analysis, similarity search over embeddings.
  * Every formula is expressed identically in Spark and in the DuckDB
  * oracle; float work is done in DOUBLE with sequential folds and rounded,
  * so hashes match.
  */
object PipelineQueries {

  // ---- shared text fragments -------------------------------------------

  /** tokens = whitespace-split of trimmed text (C1 semantics). */
  private def toks(c: Column): Column = split(trim(c), "\\s+")
  private val toksSql = "string_split_regex(trim(text), '\\s+')"

  private val enStops = Seq("the", "a", "of", "and", "to")
  private val deStops = Seq("der", "die", "das", "und", "ist")
  private val esStops = Seq("el", "la", "los", "que", "y")
  private def sqlList(xs: Seq[String]) = xs.mkString("['", "', '", "']")
  private def hits(tc: Column, stops: Seq[String]): Column =
    size(filter(tc, t => t.isInCollection(stops))).cast(LongType)
  private def hitsSql(stops: Seq[String]) =
    s"CAST(len(list_filter(toks, t -> list_contains(${sqlList(stops)}, t))) AS BIGINT)"

  // ---- dedup ------------------------------------------------------------

  /** Exact dedup by content hash: survivor = min doc_id per md5(text). */
  val dedupExact: Q = Q(
    "d_dedup_exact",
    Some("""SELECT min(doc_id) AS doc_id, md5(text) AS h, count(*) AS n_copies
           |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin),
    (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("h"), col("n_copies"))
        .orderBy(col("doc_id")))

  // ---- session-scoped shared intermediates ------------------------------

  /** Memoized + persisted per (session, sf dir) as the "dedup_family"
    * memo family: the dedup family (ngram / minhash-LSH / simhash /
    * survivors / e2e) reuses the same postings and sketch tables —
    * recomputing them per query tripled the family's cost (VERDICT r1
    * #5). Builders recurse into the memo for their own inputs. At
    * cluster scale these would be cached/bucketed tables.
    *
    * `sever = true` materializes the cache through an EAGER
    * localCheckpoint instead of a lazy persist. Required whenever the
    * built frame's lineage bottoms out in a CheckpointRegistry-tracked
    * checkpoint (today: survivors, whose lineage crosses
    * ConnectedComponents' final checkpoint): the runners release that
    * checkpoint right after the query materializes, and a merely-
    * persisted cache partition lost later would then be UNRECOMPUTABLE —
    * downstream d_* queries would fail instead of recomputing (ADVICE
    * r6 #4; harmless in this single-JVM harness, a real trap for the
    * long-lived cluster sessions the CheckpointRegistry doc encourages). */
  private def cachedDf(s: SparkSession, d: String, key: String,
      sever: Boolean = false)(mk: => DataFrame): DataFrame =
    graft.SessionCaches.memo(s, "dedup_family", (d, key))(
      if (sever) mk.localCheckpoint(true)
      else mk.persist(StorageLevel.MEMORY_AND_DISK))

  /** Materialize every shared dedup-family intermediate (shingle
    * postings, minhash/simhash sketch tables, verified pair graph,
    * survivor components) so the build cost lands in ONE explicitly-named
    * step instead of inside whichever d_* query happens to sort first —
    * VERDICT r5 #3: d_curate_e2e's 17.4s headline number was really the
    * family's cold cache build (warm <1s), making round-over-round
    * comparison guesswork. Bench times this as `_setup_dedup_family`. */
  def warmSharedFamily(s: SparkSession, d: String): Unit = {
    shinglePosts(s, d).count()
    sketchesCached(s, d).count()
    ngramPairsCached(s, d).count()
    dedupSurvivors.run(s, d).count()
  }

  /** The family-boundary trigger Verify and Slopes share: in
    * name-sorted execution the dedup family is the contiguous d_* block,
    * so the caches die the moment the last d_* query finishes —
    * persisted-and-never-released intermediates pressured executor
    * memory for every query that ran after the d_* group (VERDICT r2
    * #2 — a nine-query 2.8-6.5x regression cluster with unchanged
    * plans). */
  def releaseSharedAfterFamily(s: SparkSession, name: String,
      next: String): Unit =
    if (name.startsWith("d_") && !next.startsWith("d_"))
      graft.SessionCaches.clear(s, "dedup_family")

  /** Distinct word-3-gram postings (doc_id, g) — map-only per-row build
    * (Sketches.shinglePostsRow); the window+distinct form remains as the
    * spec-checked reference. */
  private def shinglePosts(s: SparkSession, d: String): DataFrame =
    cachedDf(s, d, "shingle_posts")(Sketches.shinglePostsRow(Tables.documents(s, d)))

  /** Both sketches in ONE cached map-only pass over documents (per-row
    * codegen'd kernels, zero shuffles — VERDICT r2 #1; the r7 fusion
    * saves the second documents scan+cache per family build). Row sets
    * differ by design: minhash (3-gram based) is NULL for <3-token
    * docs, simhash (token based) only for NULL text — so the fused
    * frame is unfiltered and each accessor applies its own filter,
    * preserving the original row sets exactly. */
  private def sketchesCached(s: SparkSession, d: String): DataFrame =
    cachedDf(s, d, "sketches")(
      Tables.documents(s, d).select(col("doc_id"),
        graft.functions.SketchFunctions.minhash_sig(col("text")).as("sig"),
        graft.functions.SketchFunctions.simhash60(col("text")).as("simhash")))

  private def minhashCached(s: SparkSession, d: String): DataFrame =
    sketchesCached(s, d).filter(col("sig").isNotNull)
      .select(col("doc_id"), col("sig"))

  private def simhashCached(s: SparkSession, d: String): DataFrame =
    sketchesCached(s, d).filter(col("simhash").isNotNull)
      .select(col("doc_id"), col("simhash"))

  /** Exact Jaccard >= t verification over candidate pairs: count common
    * shingles by joining each side's FULL postings through the pair, so
    * values are exact no matter how candidates were generated. Cost is
    * |candidates| x doc shingles — never all-pairs. Measured against the
    * in-row alternative (join per-doc shingle ARRAYS to the pair, count
    * via array_intersect): at sf0.1 that array-payload verify took 14.2s
    * for 409k candidates where this narrow-row join+agg does 1.13M
    * candidate pairs in 2.4s — wide string-array rows through a join
    * lose to more-but-narrower codegen'd rows (round-7 measurement). */
  private def jaccardVerify(cand: DataFrame, posts: DataFrame, t: Double): DataFrame = {
    val sz = posts.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = cand
      .join(posts.select(col("doc_id").as("a_id"), col("g")), "a_id")
      .join(posts.select(col("doc_id").as("b_id"), col("g")), Seq("b_id", "g"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("c"))
    common
      .join(sz.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(sz.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
      .withColumn("jac_raw",
        col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jac_raw") >= t)
      .select(col("a_id"), col("b_id"), round(col("jac_raw"), 6).as("jac"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Hard cap for the exact all-pairs baselines: they exist as small-input
    * oracles for the LSH-bucketed scale paths and must FAIL FAST rather
    * than silently run an O(n²) BroadcastNestedLoopJoin at corpus scale. */
  val MaxExactRows = 200000L

  private[graft] def requireBounded(df: DataFrame, what: String,
      cap: Long = MaxExactRows): DataFrame = {
    val n = df.count()
    require(n <= cap,
      s"$what is an exact all-pairs baseline gated to <= $cap input rows " +
        s"(got $n); use the LSH-bucketed operator at scale")
    df
  }

  /** Exact all-pairs 3-gram-Jaccard >= t oracle (shared by the exact query
    * and the MinHash-LSH query, whose banding is exhaustive on this data). */
  private def dedupNgramOracle(t: Double): Option[String] =
    Some(s"""WITH t AS (
            |  SELECT doc_id, $toksSql AS toks FROM documents),
            |sh AS (
            |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks) - 2),
            |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gs
            |  FROM t WHERE len(toks) >= 3)
            |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
            |  round(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
            |    / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))), 6) AS jac
            |FROM sh a JOIN sh b
            |  ON a.doc_id < b.doc_id
            |WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
            |    / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= $t
            |ORDER BY a_id, b_id""".stripMargin)

  /** EXACT near-dup detection by word-3-gram Jaccard >= 0.5 via an
    * inverted shingle index: explode shingles, equi-join postings on the
    * shingle, count common shingles per pair, then J = c/(na+nb-c).
    * Identical results to the all-pairs compare (pairs sharing no shingle
    * have J=0) but the O(n²) nested loop becomes a shuffle equi-join
    * sized by Σ C(df,2) — linear-ish when shingles are near-unique, and
    * the 100-TB-safe plan (skew = max shingle df, bounded by dedup of
    * exact-duplicate shingle sets upstream). */
  /** Hot-shingle document-frequency cap for candidate generation: a
    * shingle in more than DfCap docs contributes C(df,2) candidate pairs
    * — at corpus scale stopword 3-grams ("one of the") dominate the join.
    * Dropping them from GENERATION only (verification recounts over full
    * postings) keeps reported Jaccard values exact; a qualifying pair is
    * missed only if EVERY shared shingle is hotter than DfCap — i.e. the
    * pair's entire overlap is >DfCap-frequent boilerplate, the standard
    * LSH-family tradeoff (and exact-dedup removes mass-duplicated content
    * upstream in the e2e pipeline). Testdata max df is 25 (sf0.1), so the
    * cap is a proven no-op on the oracle here (DedupSpec covers the
    * bound's effect on a synthetic hot shingle). */
  val DfCap = 64

  /** Inverted-index n-gram Jaccard pairs over a postings table
    * (doc_id, g), df-capped but EXACT for every surfaced pair: common
    * counts come from the rare-shingle join (one pass, the original
    * shape), then the few >DfCap hot postings add their contribution
    * scoped to the already-found candidate pairs — so hot shingles cost
    * O(|candidates|) instead of Σ C(df,2), and the reported Jaccard still
    * counts ALL shared shingles. Public so the bound is property-testable. */
  def ngramJaccardPairs(posts: DataFrame, t: Double,
      dfCap: Long = DfCap, sizes: Option[DataFrame] = None): DataFrame =
    jaccardOfCounts(ngramCommonCounts(posts, dfCap, sizes), t)
    // no orderBy here: the cached family frame doesn't need one (a global
    // sort is a sample+range-shuffle job on every rebuild); the
    // registered query orders its own output

  private def jaccardOfCounts(counts: DataFrame, t: Double): DataFrame =
    counts
      .withColumn("jac_raw",
        col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jac_raw") >= t)
      .select(col("a_id"), col("b_id"), round(col("jac_raw"), 6).as("jac"))

  private def containmentOfCounts(counts: DataFrame, t: Double): DataFrame =
    counts
      .withColumn("cont_raw",
        col("c").cast("double") / least(col("na"), col("nb")))
      .filter(col("cont_raw") >= t)
      .select(col("a_id"), col("b_id"), round(col("cont_raw"), 6).as("cont"))

  /** Candidate pairs with common-shingle counts and per-doc set sizes
    * (a_id, b_id, c, na, nb) — the inverted-index core shared by the
    * Jaccard and containment dedup paths (one metric formula cannot
    * drift from the other's candidate generation). */
  private def ngramCommonCounts(posts: DataFrame, dfCap: Long,
      sizes: Option[DataFrame]): DataFrame = {
    // df via an unordered count window: ONE shuffle of the postings by g
    // (which also leaves rare/hot partitioned by g for the candidate
    // self-join below) — the agg+join formulation shuffled the postings
    // twice for the same answer (round-7 family-build shave)
    val withDf = posts.withColumn("df",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("g"))))
    val rare = withDf.filter(col("df") <= dfCap).select(col("doc_id"), col("g"))
    val hot = withDf.filter(col("df") > dfCap).select(col("doc_id"), col("g"))
    val cRare = rare.select(col("doc_id").as("a_id"), col("g"))
      .join(rare.select(col("doc_id").as("b_id"), col("g")), "g")
      .where(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("c_rare"))
    val cHot = cRare.select(col("a_id"), col("b_id"))
      .join(hot.select(col("doc_id").as("a_id"), col("g")), "a_id")
      .join(hot.select(col("doc_id").as("b_id"), col("g")), Seq("b_id", "g"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("c_hot"))
    val common = cRare.join(cHot, Seq("a_id", "b_id"), "left")
      .select(col("a_id"), col("b_id"),
        (col("c_rare") + coalesce(col("c_hot"), lit(0L))).as("c"))
    // per-doc shingle-set sizes: callers that built `posts` by exploding
    // a per-row distinct-shingle array pass the sizes map-only (one fewer
    // shuffle of the full postings per family build — round-7 shave);
    // the generic fallback recounts from the postings
    val sz = sizes.getOrElse(
      posts.groupBy(col("doc_id")).agg(count(lit(1)).as("n")))
    common
      .join(sz.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(sz.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
  }

  /** Containment pairs — |A∩B| / min(|A|,|B|) >= t over the same
    * inverted index: the boilerplate-inclusion detector (a short doc
    * embedded in a longer one scores ~1.0 here while its Jaccard can sit
    * far below any dedup threshold, since the union is dominated by the
    * longer doc). Public for the toy-pair spec. */
  def ngramContainmentPairs(posts: DataFrame, t: Double,
      dfCap: Long = DfCap, sizes: Option[DataFrame] = None): DataFrame =
    containmentOfCounts(ngramCommonCounts(posts, dfCap, sizes), t)

  // A PPJoin-style prefix filter (global df-ascending shingle order,
  // join only each doc's first n - ceil(t*n) + 1 shingles — Vernica et
  // al. SIGMOD'10) was built and measured here in round 7: candidates
  // shrank 1.13M -> 409k, but the two per-doc window sorts it needs
  // (3.3s) plus the set-array verify cost more than the narrow
  // candidate join they replaced — 9.9s vs 2.7s repeatable at sf0.1.
  // The df-cap path stays; its miss-caveat is property-tested and a
  // proven no-op on this corpus (max df 25 << cap 64).
  /** Exported-threshold near-dup pairs WITH their exact integer counts
    * (a_id, b_id, c, na, nb), cached ONCE per family build: one
    * inverted-index pass, filtered at build time to pairs passing
    * EITHER exported threshold (Jaccard >= 0.5 OR containment >= 0.8),
    * so the cached frame stays O(near-dup pairs) — tiny — and each
    * registered metric re-derives its own exact filter from the
    * integers. (Round-7 lesson, measured at 10x: caching the UNFILTERED
    * candidate counts — ~1.1M rows/copy — blew the family build 15.9s →
    * 100.8s and pressured every downstream family query 3-6x; the
    * either-threshold filter restores the small cache while still
    * buying containment its free ride on the shared build.) */
  private def ngramPairsCached(s: SparkSession, d: String): DataFrame =
    cachedDf(s, d, "ngram_pairs")(
      ngramCommonCounts(shinglePosts(s, d), DfCap,
        // |distinct shingles| per doc, computed in the same narrow scan
        // shape as the postings themselves (explode of the same array
        // would shuffle; size() of it doesn't touch the cluster at all)
        sizes = Some(Tables.documents(s, d).select(col("doc_id"),
          size(graft.functions.SketchFunctions.word_shingles(col("text")))
            .cast("long").as("n"))
          .filter(col("n") > 0)))
        .filter(
          col("c").cast("double") / (col("na") + col("nb") - col("c")) >= 0.5 ||
          col("c").cast("double") / least(col("na"), col("nb")) >= 0.8)
        .select(col("a_id"), col("b_id"), col("c"), col("na"), col("nb")))

  val dedupNgram: Q = Q(
    "d_dedup_ngram_jaccard",
    dedupNgramOracle(0.5),
    (s, d) => jaccardOfCounts(ngramPairsCached(s, d), 0.5)
      .orderBy(col("a_id"), col("b_id")))

  /** Containment (overlap-coefficient) near-dup: |A∩B|/min(|A|,|B|) >=
    * 0.8 over the same shared shingle postings — catches
    * boilerplate-inclusion pairs whose Jaccard is diluted by the longer
    * doc's size. Same inverted-index cost shape as the Jaccard path. */
  val dedupContainment: Q = Q(
    "d_dedup_containment",
    Some(s"""WITH t AS (
            |  SELECT doc_id, $toksSql AS toks FROM documents),
            |sh AS (
            |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks) - 2),
            |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gs
            |  FROM t WHERE len(toks) >= 3)
            |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
            |  round(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
            |    / least(len(a.gs), len(b.gs)), 6) AS cont
            |FROM sh a JOIN sh b
            |  ON a.doc_id < b.doc_id
            |WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
            |    / least(len(a.gs), len(b.gs)) >= 0.8
            |ORDER BY a_id, b_id""".stripMargin),
    (s, d) => containmentOfCounts(ngramPairsCached(s, d), 0.8)
      .orderBy(col("a_id"), col("b_id")))

  /** Embedding near-dup: cosine >= 0.45 over all pairs (threshold sits in
    * the data's planted near-dup band; exact — the LSH-bucketed ANN path
    * approximates this at scale). Dot products in DOUBLE via sequential
    * folds on both engines, rounded to 6dp.
    *
    * BOUNDED-INPUT ORACLE: the a_id < b_id theta join is a
    * BroadcastNestedLoopJoin — O(n²) by construction. requireBounded
    * fails fast above MaxExactRows; `sim_ann_lsh` / `sim_ann_multiprobe`
    * are the exported similarity operators at scale. */
  val dedupEmbedding: Q = Q(
    "d_dedup_embedding_cosine",
    Some("""WITH n AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd,
           |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
           |  FROM embeddings)
           |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           |  round(list_sum(list_transform(generate_series(1, len(a.vd)), i -> a.vd[i]*b.vd[i]))
           |    / (a.nrm*b.nrm), 6) AS sim
           |FROM n a JOIN n b ON a.vec_id < b.vec_id
           |WHERE round(list_sum(list_transform(generate_series(1, len(a.vd)), i -> a.vd[i]*b.vd[i]))
           |    / (a.nrm*b.nrm), 6) >= 0.45
           |ORDER BY a_id, b_id""".stripMargin),
    (s, d) => ExactBaselines.ndPairs(s, d).orderBy(col("a_id"), col("b_id")))

  /** Embedding-space decontamination — the SEMANTIC upgrade of
    * d_decontaminate's 5-gram overlap: a corpus vector within cosine
    * 0.45 of ANY eval vector (vec_id < 25, the same bench-set
    * convention) is flagged as eval leakage that paraphrasing hides
    * from n-gram overlap. Shape: the eval set is SMALL BY NATURE
    * (eval suites are 10^3-10^5 rows at any corpus scale), so it
    * BROADCASTS and the corpus is scanned ONCE, narrow — per-row work
    * is |eval|·dim dot products, the exact matrix-product shape real
    * decontamination runs; the cross join is the coreset/k-means
    * bounded-broadcast class, never corpus×corpus. Every corpus vector
    * is reported (max_sim, verdict), like d_decontaminate: a report
    * that dropped clean rows couldn't feed the downstream filter. */
  val decontaminateEmbedding: Q = Q(
    "d_decontaminate_embedding",
    Some("""WITH n AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd,
           |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
           |  FROM embeddings),
           |e AS (SELECT * FROM n WHERE vec_id < 25),
           |c AS (SELECT * FROM n WHERE vec_id >= 25),
           |m AS (SELECT c.vec_id,
           |    max(round(list_sum(list_transform(generate_series(1, len(c.vd)),
           |      i -> c.vd[i]*e.vd[i])) / (c.nrm*e.nrm), 6)) AS max_sim
           |  FROM c, e GROUP BY c.vec_id)
           |SELECT c.vec_id, coalesce(m.max_sim, -1.0) AS max_sim,
           |  coalesce(m.max_sim, -1.0) >= 0.45 AS contaminated
           |FROM c LEFT JOIN m USING (vec_id) ORDER BY vec_id""".stripMargin),
    (s, d) => {
      val n = Tables.embeddings(s, d)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("vd"))
        .withColumn("nrm", sqrt(GraftFunctions.array_dot(col("vd"), col("vd"))))
      val eval = n.filter(col("vec_id") < 25)
        .select(col("vd").as("ve"), col("nrm").as("ne"))
      val corpus = n.filter(col("vec_id") >= 25)
      val sims = corpus.crossJoin(broadcast(eval))
        .withColumn("sim",
          round(GraftFunctions.array_dot(col("vd"), col("ve"))
            / (col("nrm") * col("ne")), 6))
        .groupBy(col("vec_id")).agg(max(col("sim")).as("ms"))
      corpus.select(col("vec_id"))
        .join(sims, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("ms"), lit(-1.0)).as("max_sim"),
          (coalesce(col("ms"), lit(-1.0)) >= 0.45).as("contaminated"))
        .orderBy(col("vec_id"))
    })

  /** The raw all-pairs compute behind [[ExactBaselines.ndPairs]] — the
    * registry entry and the recall gate both serve from the session
    * cache (VERDICT r7 Missing #3). */
  private[pipeline] def dedupEmbeddingCompute(s: SparkSession, d: String): DataFrame = {
    val n = requireBounded(Tables.embeddings(s, d), "d_dedup_embedding_cosine")
      .select(
        col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("vd"))
      .withColumn("nrm", sqrt(GraftFunctions.array_dot(col("vd"), col("vd"))))
    val a = n.select(col("vec_id").as("a_id"), col("vd").as("va"), col("nrm").as("na"))
    val b = n.select(col("vec_id").as("b_id"), col("vd").as("vb"), col("nrm").as("nb"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("dot", GraftFunctions.array_dot(col("va"), col("vb")))
      .withColumn("sim", round(col("dot") / (col("na") * col("nb")), 6))
      .filter(col("sim") >= 0.45)
      .select(col("a_id"), col("b_id"), col("sim"))
  }

  /** MinHash signatures (32 perms over md5-derived SHINGLE hashes — the
    * set the downstream Jaccard actually measures) — the sketch itself is
    * oracle-checked value-for-value. */
  val minhashSig: Q = Q(
    "d_minhash_signature",
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
            |g AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks) - 2),
            |  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gs
            |  FROM t WHERE len(toks) >= 3),
            |h AS (SELECT doc_id, list_transform(gs, x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 1000000007) AS hs FROM g)
            |SELECT doc_id, array_to_string(${Sketches.minhashSigSql("hs")}, ',') AS sig
            |FROM h ORDER BY doc_id""".stripMargin),
    (s, d) =>
      minhashCached(s, d)
        .select(col("doc_id"),
          array_join(transform(col("sig"), x => x.cast("string")), ",").as("sig"))
        .orderBy(col("doc_id")))

  /** MinHash-LSH near-dup detection: band-bucket equi-join generates
    * candidates (the scale path — no all-pairs compare), then exact
    * 3-gram Jaccard >= 0.5 verifies. With 16 bands x 2 rows recall at the
    * 0.5 threshold is ~0.99 in expectation and exhaustive on this data,
    * so the oracle is the exact all-pairs query. */
  val dedupMinhashLsh: Q = Q(
    "d_dedup_minhash_lsh",
    dedupNgramOracle(0.5),
    (s, d) => {
      val banded = bandedMinhash(s, d)
      val cand = banded.as("x").join(banded.as("y"), Seq("band"))
        .where(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .distinct()
      // exact verification scoped to candidates — never all-pairs
      jaccardVerify(cand, shinglePosts(s, d), 0.5)
    })

  /** Exploded (doc_id, band) rows of the corpus minhash index — ONE
    * definition shared by the full-corpus LSH dedup and the incremental
    * probe so band-key derivation cannot drift between them. */
  private def bandedMinhash(s: SparkSession, d: String): DataFrame =
    minhashCached(s, d)
      .select(col("doc_id"), explode(Sketches.bandKeys(col("sig"))).as("band"))

  /** Incremental near-dup: a NEW INGEST BATCH (docs with doc_id % 10 =
    * 7, ~10% of the corpus) deduplicated against the full corpus — the
    * production shape where the corpus's band index is precomputed
    * (here: the session-shared minhash table standing in for the stored
    * index) and only the batch's band keys probe it. Cost is
    * O(|batch| x band collisions), NOT a full-corpus re-dedup; results
    * are exactly the full run's pairs restricted to those touching the
    * batch (pairs within the batch included), which is what the oracle
    * states. Canonicalized a<b via least/greatest since the probe side
    * may hold either endpoint. */
  val dedupIncremental: Q = Q(
    "d_dedup_incremental",
    Some(s"""WITH t AS (
            |  SELECT doc_id, $toksSql AS toks FROM documents),
            |sh AS (
            |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks) - 2),
            |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gs
            |  FROM t WHERE len(toks) >= 3)
            |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
            |  round(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
            |    / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))), 6) AS jac
            |FROM sh a JOIN sh b
            |  ON a.doc_id < b.doc_id
            |WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
            |    / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.5
            |  AND (a.doc_id % 10 = 7 OR b.doc_id % 10 = 7)
            |ORDER BY a_id, b_id""".stripMargin),
    (s, d) => {
      val banded = bandedMinhash(s, d)
      val probe = banded.filter(col("doc_id") % 10 === 7)
      val cand = probe.as("x").join(banded.as("y"), Seq("band"))
        .where(col("x.doc_id") =!= col("y.doc_id"))
        .select(least(col("x.doc_id"), col("y.doc_id")).as("a_id"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("b_id"))
        .distinct()
      jaccardVerify(cand, shinglePosts(s, d), 0.5)
    })

  /** SimHash values (60-bit, md5-derived, frequency-weighted) —
    * oracle-checked per value. */
  val simhashQ: Q = Q(
    "d_simhash",
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
            |h AS (SELECT doc_id, ${Sketches.tokenHashesAllSql} AS hs FROM t WHERE len(toks) > 0)
            |SELECT doc_id, ${Sketches.simhashSql("hs")} AS simhash
            |FROM h ORDER BY doc_id""".stripMargin),
    (s, d) =>
      simhashCached(s, d)
        .select(col("doc_id"), col("simhash"))
        .orderBy(col("doc_id")))

  /** SimHash near-dup pairs: hamming distance <= 3 of the 60-bit
    * frequency-weighted sketches (all-pairs here; banding on sketch
    * prefixes is the scale path, same shape as the MinHash bands). */
  val dedupSimhash: Q = Q(
    "d_dedup_simhash",
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
            |h AS (SELECT doc_id, ${Sketches.tokenHashesAllSql} AS hs FROM t WHERE len(toks) > 0),
            |s AS (SELECT doc_id, ${Sketches.simhashSql("hs")} AS sh FROM h)
            |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
            |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
            |FROM s a JOIN s b ON a.doc_id < b.doc_id
            |WHERE bit_count(xor(a.sh, b.sh)) <= 3
            |ORDER BY a_id, b_id""".stripMargin),
    (s, d) => {
      // pigeonhole banding, EXACT: hamming<=3 over 60 bits means at least
      // one of the 4 15-bit chunks is identical — candidates come from an
      // equi-join on (chunk, value) instead of the all-pairs nested loop
      // (same oracle; measured ~5x at sf0.1 and the shape that scales).
      // The distinct() carries only the id pair — the two 60-bit sketches
      // rejoin AFTER dedup, narrowing the widest shuffle (VERDICT r1 #5).
      val sk = simhashCached(s, d).select(col("doc_id"), col("simhash"))
      val chunks = sk.select(col("doc_id"),
        explode(array((0 until 4).map { c =>
          struct(lit(c).as("c"),
            shiftright(col("simhash"), 15 * c).bitwiseAND(0x7FFF).as("k"))
        }: _*)).as("ck"))
        .select(col("doc_id"), col("ck.c").as("c"), col("ck.k").as("k"))
      val a = chunks.select(col("doc_id").as("a_id"), col("c"), col("k"))
      val b = chunks.select(col("doc_id").as("b_id"), col("c"), col("k"))
      val cand = a.join(b, Seq("c", "k"))
        .where(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"))
        .distinct()
      cand
        .join(sk.select(col("doc_id").as("a_id"), col("simhash").as("sa")), "a_id")
        .join(sk.select(col("doc_id").as("b_id"), col("simhash").as("sb")), "b_id")
        .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast(LongType))
        .filter(col("hamming") <= 3)
        .select(col("a_id"), col("b_id"), col("hamming"))
        .orderBy(col("a_id"), col("b_id"))
    })

  /** Dedup survivorship: collapse near-dup clusters (connected components
    * of the Jaccard>=0.5 pair graph) to their min-id representative —
    * the operator that actually REMOVES duplicates from a corpus. Output:
    * (doc_id, survivor_id) for every doc merged away. */
  /** The min-label CC over the Jaccard>=0.5 pair graph as a DuckDB CTE
    * chain (ends at `comp(id, comp)`) — shared by the survivors oracle
    * and the leakage-guarded split oracle. */
  private val survivorsCteSql =
    s"""t AS (
       |  SELECT doc_id, $toksSql AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks) - 2),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gs
       |  FROM t WHERE len(toks) >= 3),
       |pr AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
       |      / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.5),
       |bidir AS (SELECT a_id AS src, b_id AS dst FROM pr UNION SELECT b_id, a_id FROM pr),
       |vertices AS (SELECT DISTINCT src AS id FROM bidir),
       |reach AS (
       |  SELECT id, id AS r FROM vertices
       |  UNION
       |  SELECT re.id, b.dst FROM reach re JOIN bidir b ON re.r = b.src),
       |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY 1)""".stripMargin

  val dedupSurvivors: Q = Q(
    "d_dedup_survivors",
    Some(s"""WITH RECURSIVE $survivorsCteSql
            |SELECT id AS doc_id, comp AS survivor_id FROM comp
            |WHERE id <> comp ORDER BY doc_id""".stripMargin),
    (s, d) =>
      cachedDf(s, d, "survivors", sever = true) {
        val pairs = dedupNgram.run(s, d)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        graft.analytics.ConnectedComponents.components(pairs)
          .filter(col("id") =!= col("comp"))
          .select(col("id").as("doc_id"), col("comp").as("survivor_id"))
      }.orderBy(col("doc_id")))

  /** Leakage-guarded train/val/test split: every member of a near-dup
    * cluster inherits its cluster representative's hash draw, so near
    * duplicates can never straddle the train/test boundary (hash-split
    * on raw doc_id leaks: a test doc's 0.9-Jaccard twin in train is
    * memorization fuel — the reason The Pile/C4-style pipelines split
    * AFTER clustering). Docs outside any cluster keep their own draw —
    * the guard only MOVES clustered docs relative to x_hash_split (same
    * salt, asserted in ContainmentSpec). Shape: the cluster map is the
    * family's cached survivors frame (O(|dup docs|), small), LEFT-joined
    * onto the corpus — one broadcast-size join + the same narrow md5
    * bucket map as every split here. */
  val splitLeakageGuard: Q = Q(
    "d_split_leakage_guard",
    Some(s"""WITH RECURSIVE $survivorsCteSql,
            |rep AS (
            |  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS rep
            |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
            |b AS (
            |  SELECT doc_id, rep,
            |    CAST(concat('0x', substr(md5('split:' || CAST(rep AS VARCHAR)), 1, 4)) AS BIGINT) % 100 AS bucket
            |  FROM rep)
            |SELECT doc_id, rep, bucket,
            |  CASE WHEN bucket < 80 THEN 'train'
            |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
            |FROM b ORDER BY doc_id""".stripMargin),
    (s, d) => {
      val rep = Tables.documents(s, d).select(col("doc_id"))
        .join(dedupSurvivors.run(s, d), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("survivor_id"), col("doc_id")).as("rep"))
      Splits.assignSplit(rep, "rep")
        .select(col("doc_id"), col("rep"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))
    })

  // ---- similarity search ------------------------------------------------

  /** Brute-force cosine top-5 neighbors for query vectors (vec_id < 10).
    * Ties broken by rounded sim then neighbor id → deterministic ranks.
    *
    * BOUNDED-INPUT ORACLE: cost is |queries| x |corpus|; the query side
    * must stay small (requireBounded caps it at 1024) — `sim_ann_lsh` /
    * `sim_ann_multiprobe` are the similarity operators at scale. */
  val annTopk: Q = Q(
    "sim_ann_topk",
    Some("""WITH n AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd,
           |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
           |  FROM embeddings),
           |p AS (
           |  SELECT q.vec_id AS qid, c.vec_id AS nid,
           |    round(list_sum(list_transform(generate_series(1, len(q.vd)), i -> q.vd[i]*c.vd[i]))
           |      / (q.nrm*c.nrm), 6) AS sim
           |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
           |  WHERE q.vec_id < 10)
           |SELECT qid, nid, sim, rnk FROM (
           |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM p)
           |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin),
    (s, d) => ExactBaselines.topk(s, d).orderBy(col("qid"), col("rnk")))

  /** The raw brute-force compute behind [[ExactBaselines.topk]]. */
  private[pipeline] def annTopkCompute(s: SparkSession, d: String): DataFrame = {
    val n = Tables.embeddings(s, d).select(
      col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("vd"))
      .withColumn("nrm", sqrt(GraftFunctions.array_dot(col("vd"), col("vd"))))
    val q = requireBounded(n.filter(col("vec_id") < 10), "sim_ann_topk query side", 1024L)
      .select(col("vec_id").as("qid"), col("vd").as("qv"), col("nrm").as("qn"))
    val c = n.select(col("vec_id").as("nid"), col("vd").as("cv"), col("nrm").as("cn"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    q.join(c, col("qid") =!= col("nid"))
      .withColumn("dot", GraftFunctions.array_dot(col("qv"), col("cv")))
      .withColumn("sim", round(col("dot") / (col("qn") * col("cn")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("nid"), col("sim"), col("rnk").cast(LongType).as("rnk"))
  }

  /** Hard-negative mining (contrastive-training data prep): for each
    * query vector, the top-3 CLOSEST neighbors that are NOT near-dups
    * (cosine < 0.45, the dedup threshold) — the "hard" negatives that
    * actually teach a contrastive model, as opposed to random
    * negatives (d_negative_samples) which are trivially far. Same
    * bounded-query-side shape as sim_ann_topk: the broadcast query set
    * scans the corpus once; the positives filter drops a candidate
    * BEFORE ranking, so a near-dup never crowds out a usable negative. */
  val hardNegatives: Q = Q(
    "sim_hard_negatives",
    Some("""WITH n AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd,
           |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
           |  FROM embeddings),
           |p AS (
           |  SELECT q.vec_id AS qid, c.vec_id AS nid,
           |    round(list_sum(list_transform(generate_series(1, len(q.vd)), i -> q.vd[i]*c.vd[i]))
           |      / (q.nrm*c.nrm), 6) AS sim
           |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
           |  WHERE q.vec_id < 10)
           |SELECT qid, nid, sim, rnk FROM (
           |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
           |  FROM p WHERE sim < 0.45)
           |WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin),
    (s, d) => {
      val n = Tables.embeddings(s, d).select(
        col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("vd"))
        .withColumn("nrm", sqrt(GraftFunctions.array_dot(col("vd"), col("vd"))))
      val q = requireBounded(n.filter(col("vec_id") < 10),
        "sim_hard_negatives query side", 1024L)
        .select(col("vec_id").as("qid"), col("vd").as("qv"), col("nrm").as("qn"))
      val c = n.select(col("vec_id").as("nid"), col("vd").as("cv"), col("nrm").as("cn"))
      val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
      broadcast(q).join(c, col("qid") =!= col("nid"))
        .withColumn("sim",
          round(GraftFunctions.array_dot(col("qv"), col("cv"))
            / (col("qn") * col("cn")), 6))
        .filter(col("sim") < 0.45)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("qid"), col("nid"), col("sim"),
          col("rnk").cast(LongType).as("rnk"))
        .orderBy(col("qid"), col("rnk"))
    })

  /** Deterministic random-projection hyperplane j: component i derives
    * from an LCG over integers, so Spark (Scala-computed literals) and
    * DuckDB (in-SQL integer arithmetic) produce bit-identical doubles
    * (k/2^31 - 0.5 is exact in binary). */
  private[pipeline] def lcgPlane(j: Int): Seq[Double] =
    (0 until 64).map { i =>
      ((1103515245L * (j * 64 + i) + 12345L) % 2147483648L).toDouble / 2147483648.0 - 0.5
    }

  private[pipeline] def planeSql(j: Int): String =
    s"list_sum(list_transform(generate_series(1, 64), i -> vd[i] * " +
      s"(((1103515245 * ($j * 64 + i - 1) + 12345) % 2147483648) / 2147483648.0 - 0.5)))"

  private val NumPlanes = 8

  /** LSH-bucketed approximate nearest neighbors — the scale path for
    * similarity search: 8 sign-of-projection bits partition vectors into
    * buckets; each query ranks only its own bucket (IVF nprobe=1 shape).
    * Approximate BY DESIGN: the oracle replicates the same algorithm
    * (identical buckets + ranking), not brute force; sim_ann_topk is the
    * exact baseline. Bucketing turns the O(n²) compare into an equi-join
    * on bucket id — shuffle-partitionable at 100 TB.
    */
  val annLsh: Q = Q(
    "sim_ann_lsh",
    Some({
      val bucketExpr = (0 until NumPlanes).map { j =>
        s"(CASE WHEN ${planeSql(j)} >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString("(", " + ", ")")
      s"""WITH n AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd,
         |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings),
         |b AS (SELECT vec_id, vd, nrm, $bucketExpr AS bucket FROM n),
         |p AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid,
         |    round(list_sum(list_transform(generate_series(1, len(q.vd)), i -> q.vd[i]*c.vd[i]))
         |      / (q.nrm*c.nrm), 6) AS sim
         |  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10)
         |SELECT qid, nid, sim, rnk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM p)
         |WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin
    }),
    (s, d) => {
      val base = Tables.embeddings(s, d).select(
        col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("vd"))
        .withColumn("nrm", sqrt(GraftFunctions.array_dot(col("vd"), col("vd"))))
      val bucket = (0 until NumPlanes).map { j =>
        val plane = array(lcgPlane(j).map(lit): _*)
        when(GraftFunctions.array_dot(col("vd"), plane) >= 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      val n = base.withColumn("bucket", bucket)
      val q = n.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("vd").as("qv"), col("nrm").as("qn"), col("bucket"))
      val c = n.select(col("vec_id").as("nid"), col("vd").as("cv"), col("nrm").as("cn"),
        col("bucket").as("bucket2"))
      val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
      q.join(c, col("bucket") === col("bucket2") && col("qid") =!= col("nid"))
        .withColumn("sim", round(
          GraftFunctions.array_dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("qid"), col("nid"), col("sim"), col("rnk").cast(LongType).as("rnk"))
        .orderBy(col("qid"), col("rnk"))
    })

  /** Multi-probe LSH ANN (nprobe=2): each query probes its own bucket AND
    * the bucket reached by flipping the least-confident hash bit — the
    * hyperplane with the smallest |projection| (ties → lowest plane id).
    * This is the standard multi-probe recipe: recall lost to queries near
    * a bucket boundary is recovered without growing the table. Candidate
    * recall is a superset of nprobe=1 (AnnSpec asserts recall-vs-exact is
    * monotone). The oracle replicates the identical algorithm; cost is
    * still an equi-join on bucket id — 2x the probes, same shape. */
  val annMultiprobe: Q = Q(
    "sim_ann_multiprobe",
    Some({
      val projCols = (0 until NumPlanes).map(j => s"${planeSql(j)} AS p$j").mkString(",\n  ")
      val bucketFromP = (0 until NumPlanes)
        .map(j => s"(CASE WHEN p$j >= 0 THEN ${1L << j} ELSE 0 END)")
        .mkString("(", " + ", ")")
      val minAbs = (0 until NumPlanes).map(j => s"abs(p$j)").mkString("least(", ", ", ")")
      val flip = "CASE " +
        (0 until NumPlanes).map(j => s"WHEN abs(p$j) = m THEN $j").mkString(" ") + " END"
      s"""WITH n AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd,
         |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings),
         |pp AS (SELECT vec_id, vd, nrm, $projCols FROM n),
         |bb AS (SELECT *, $bucketFromP AS bucket, $minAbs AS m FROM pp),
         |fb AS (SELECT *, $flip AS flip FROM bb),
         |qb AS (SELECT vec_id, vd, nrm, bucket,
         |  xor(bucket, CAST(1 AS BIGINT) << flip) AS alt FROM fb),
         |probes AS (
         |  SELECT vec_id, vd, nrm, bucket AS pb FROM qb WHERE vec_id < 10
         |  UNION ALL
         |  SELECT vec_id, vd, nrm, alt AS pb FROM qb WHERE vec_id < 10),
         |p AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid,
         |    round(list_sum(list_transform(generate_series(1, len(q.vd)), i -> q.vd[i]*c.vd[i]))
         |      / (q.nrm*c.nrm), 6) AS sim
         |  FROM probes q JOIN qb c ON q.pb = c.bucket AND q.vec_id <> c.vec_id)
         |SELECT qid, nid, sim, rnk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM p)
         |WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin
    }),
    (s, d) => {
      val base = Tables.embeddings(s, d).select(
        col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("vd"))
        .withColumn("nrm", sqrt(GraftFunctions.array_dot(col("vd"), col("vd"))))
      val withP = (0 until NumPlanes).foldLeft(base) { (df, j) =>
        df.withColumn(s"p$j",
          GraftFunctions.array_dot(col("vd"), array(lcgPlane(j).map(lit): _*)))
      }
      val bucket = (0 until NumPlanes)
        .map(j => when(col(s"p$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _)
      val minAbs = least((0 until NumPlanes).map(j => abs(col(s"p$j"))): _*)
      val flip = (0 until NumPlanes).reverse.foldLeft(lit(NumPlanes - 1): Column) {
        (acc, j) => when(abs(col(s"p$j")) === col("m"), lit(j)).otherwise(acc)
      }
      val n = withP.withColumn("bucket", bucket).withColumn("m", minAbs)
        .withColumn("flip", flip)
        .withColumn("alt", expr("bucket ^ shiftleft(CAST(1 AS BIGINT), flip)"))
        .select(col("vec_id"), col("vd"), col("nrm"), col("bucket"), col("alt"))
      val qside = n.filter(col("vec_id") < 10)
      val probes = qside
        .select(col("vec_id").as("qid"), col("vd").as("qv"), col("nrm").as("qn"),
          col("bucket").as("pb"))
        .union(qside.select(col("vec_id").as("qid"), col("vd").as("qv"),
          col("nrm").as("qn"), col("alt").as("pb")))
      val c = n.select(col("vec_id").as("nid"), col("vd").as("cv"), col("nrm").as("cn"),
        col("bucket").as("cb"))
      val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
      probes.join(c, col("pb") === col("cb") && col("qid") =!= col("nid"))
        .withColumn("sim", round(
          GraftFunctions.array_dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("qid"), col("nid"), col("sim"), col("rnk").cast(LongType).as("rnk"))
        .orderBy(col("qid"), col("rnk"))
    })

  // ---- text analysis ----------------------------------------------------

  /** Token counting (whitespace tokenizer). */
  val tokenCount: Q = Q(
    "t_token_count",
    Some(s"""SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens,
            |  CAST(length(text) AS BIGINT) AS n_chars_actual
            |FROM documents ORDER BY doc_id""".stripMargin),
    (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        size(toks(col("text"))).cast(LongType).as("n_tokens"),
        length(col("text")).cast(LongType).as("n_chars_actual"))
        .orderBy(col("doc_id")))

  /** Heavy hitters by Count-Min screening: the top-20 words of the
    * corpus with EXACT counts, plus booleans certifying the CMS point
    * estimates around them. The sketch discipline mirrors the LSH
    * family: the approximate structure narrows/validates, exact values
    * are what's emitted — so the oracle is plain SQL over word counts
    * and the output is bit-deterministic (CMS counters are associative
    * integer sums, independent of partitioning).
    *
    * At 100 TB the CMS pass is ONE partial-aggregated reduce with a
    * constant 64 KiB buffer (vs the exact groupBy's O(distinct-words)
    * shuffle); here the exact top-20 doubles as both the candidate list
    * and the certificate that `est >= exact` (CMS can never undercount)
    * and `est <= exact + coll_bound` hold — coll_bound = 4*N/Width, 4x
    * the expected per-counter collision mass, deterministic for fixed
    * data (CmsSketchSpec pins the tighter distributional behavior). */
  val heavyHitters: Q = Q(
    "t_heavy_hitters",
    Some(s"""WITH w AS (
            |  SELECT unnest($toksSql) AS w FROM documents),
            |c AS (
            |  SELECT w, CAST(count(*) AS BIGINT) AS n_exact FROM w GROUP BY w),
            |top AS (
            |  SELECT w, n_exact, row_number() OVER (ORDER BY n_exact DESC, w) AS rnk
            |  FROM c)
            |SELECT w, n_exact, CAST(rnk AS BIGINT) AS rnk,
            |  true AS cms_lower_ok, true AS cms_upper_ok
            |FROM top WHERE rnk <= 20 ORDER BY rnk""".stripMargin),
    (s, d) => {
      val words = Tables.documents(s, d)
        .select(explode(toks(col("text"))).as("w"))
      val total = words.agg(
        count(lit(1)).as("n"),
        GraftFunctions.cms_sketch(xxhash64(col("w"))).as("sk"))
      // TakeOrderedAndProject (orderBy+limit), NOT a global window over
      // all distinct words — the rank window then runs on 20 rows only
      val w = Window.orderBy(col("n_exact").desc, col("w"))
      val top = words.groupBy(col("w"))
        .agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("w")).limit(20)
        .withColumn("rnk", row_number().over(w).cast(LongType))
      top.crossJoin(broadcast(total))
        .withColumn("est", GraftFunctions.cms_estimate(col("sk"), xxhash64(col("w"))))
        .select(col("w"), col("n_exact"), col("rnk"),
          (col("est") >= col("n_exact")).as("cms_lower_ok"),
          (col("est") <= col("n_exact")
            + lit(4L) * col("n") / lit(graft.functions.CmsParams.Width)).as("cms_upper_ok"))
        .orderBy(col("rnk"))
    })

  /** BPE-ish subword pre-tokenization: the GPT-2 pre-tokenizer's split
    * classes without its lookahead (RE2, the oracle's engine, has none) —
    * a token is an optionally-space-led letter run, digit run, or
    * punctuation run. Counts bound BPE sequence length from below (each
    * pre-token expands to >=1 BPE id), which is what corpus token-budget
    * accounting needs. Java and RE2 agree on every class used here
    * (incl. \s ⊇ \x0B on both). fertility = pre-tokens per whitespace
    * word, the standard tokenizer-granularity diagnostic. */
  private val BpeRegex = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"

  val tokenBpe: Q = Q(
    "t_token_bpe",
    Some(s"""WITH t AS (
            |  SELECT doc_id, $toksSql AS toks,
            |    regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+') AS bpe
            |  FROM documents)
            |SELECT doc_id,
            |  CAST(len(bpe) AS BIGINT) AS n_bpe,
            |  CAST(len(toks) AS BIGINT) AS n_words,
            |  round(CAST(len(bpe) AS DOUBLE) / len(toks), 6) AS fertility
            |FROM t WHERE len(toks) > 0 ORDER BY doc_id""".stripMargin),
    (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(BpeRegex), lit(0))).cast(LongType).as("n_bpe"),
        size(toks(col("text"))).cast(LongType).as("n_words"))
        .filter(col("n_words") > 0)
        .withColumn("fertility", round(col("n_bpe").cast("double") / col("n_words"), 6))
        .orderBy(col("doc_id")))

  /** Fixed-size token chunking with overlap — the standard training-data
    * prep step (context-window-sized pieces, stride < size so chunk
    * boundaries don't lose cross-boundary context). Chunk size 32
    * tokens, stride 24 (8-token overlap); chunks are emitted as md5
    * fingerprints + exact token counts (compact, hash-stable rows). A
    * narrow per-row explode — no shuffle at all until the output sort. */
  private val ChunkSize = 32
  private val ChunkStride = 24

  val chunking: Q = Q(
    "t_chunking",
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
            |c AS (
            |  SELECT doc_id, s.i AS start,
            |    list_slice(toks, s.i, least(s.i + ${ChunkSize - 1}, len(toks))) AS chunk
            |  FROM t, unnest(generate_series(1, len(toks), $ChunkStride)) AS s(i)
            |  WHERE len(toks) > 0)
            |SELECT doc_id, CAST(start AS BIGINT) AS start,
            |  CAST(len(chunk) AS BIGINT) AS n_tokens,
            |  md5(array_to_string(chunk, ' ')) AS fp
            |FROM c ORDER BY doc_id, start""".stripMargin),
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), toks(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(1), size(col("toks")), lit(ChunkStride))).as("start"))
        .withColumn("chunk", slice(col("toks"), col("start"), lit(ChunkSize)))
        .select(col("doc_id"), col("start").cast(LongType).as("start"),
          size(col("chunk")).cast(LongType).as("n_tokens"),
          md5(array_join(col("chunk"), " ")).as("fp"))
        .orderBy(col("doc_id"), col("start")))

  /** Sequence packing: fill fixed-capacity training bins (2048 tokens)
    * with documents in doc_id order WITHIN A SHARD (doc_id div 100) —
    * the distributed packing shape: shards pack independently (keyed
    * window, no global sort; the single-partition global window is the
    * known anti-pattern), each bin's token total overshoots capacity by
    * at most one document. Emits per-bin stats. */
  private val PackCapacity = 2048

  val packSequences: Q = Q(
    "t_pack_sequences",
    Some(s"""WITH t AS (
            |  SELECT doc_id, doc_id // 100 AS shard, CAST(len($toksSql) AS BIGINT) AS n
            |  FROM documents),
            |c AS (
            |  SELECT shard, doc_id, n,
            |    sum(n) OVER (PARTITION BY shard ORDER BY doc_id
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            |  FROM t),
            |b AS (SELECT shard, doc_id, n, (cum - 1) // $PackCapacity AS bin FROM c)
            |SELECT shard, CAST(bin AS BIGINT) AS bin,
            |  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens
            |FROM b GROUP BY 1, 2 ORDER BY shard, bin""".stripMargin),
    (s, d) => {
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), expr("doc_id div 100").as("shard"),
          size(toks(col("text"))).cast(LongType).as("n"))
        .withColumn("cum", sum(col("n")).over(w))
        .withColumn("bin", expr(s"(cum - 1) div $PackCapacity"))
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("total_tokens"))
        .orderBy(col("shard"), col("bin"))
    })

  /** Exact-integer TF-IDF-style term weighting, top-3 terms per doc:
    * score = tf * 1e6 div df (document frequency damping in pure BIGINT
    * — float idf's ln() differs in the last ulp across libms and can't
    * be hash-oracled; integer division is bit-identical on both
    * engines). Plan shape at scale: (doc,term) tf aggregation, term-df
    * aggregation over it, equi-join on term, per-doc top-k via
    * WindowGroupLimit (rank window bounded to k per partition — the
    * w_rank_topk_per_group machinery on a text workload). Ties break on
    * term ascending → fully deterministic. */
  val tfidfTopTerms: Q = Q(
    "t_tfidf_top_terms",
    Some(s"""WITH t AS (
            |  SELECT doc_id, unnest($toksSql) AS term FROM documents),
            |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
            |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
            |sc AS (
            |  SELECT tf.doc_id, tf.term, tf.tf, dft.df,
            |    CAST(tf.tf * 1000000 // dft.df AS BIGINT) AS score
            |  FROM tf JOIN dft USING (term)),
            |r AS (SELECT *, row_number() OVER (
            |    PARTITION BY doc_id ORDER BY score DESC, term) AS rnk FROM sc)
            |SELECT doc_id, term, tf, df, score, CAST(rnk AS BIGINT) AS rnk
            |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),
    (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      val tf = t.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
      tf.join(dft, "term")
        .withColumn("score", expr("tf * 1000000 div df"))
        .withColumn("rnk", row_number().over(w).cast(LongType))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("score"), col("rnk"))
        .orderBy(col("doc_id"), col("rnk"))
    })

  /** Corpus vocabulary coverage in one pass over the (doc,term) table:
    * distinct terms, hapax count (terms in exactly one doc — the
    * long-tail share that dominates tokenizer vocab decisions), total
    * token mass. All exact BIGINTs. */
  val vocabStats: Q = Q(
    "t_vocab_stats",
    Some(s"""WITH t AS (
            |  SELECT doc_id, unnest($toksSql) AS term FROM documents),
            |dft AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM t GROUP BY 1)
            |SELECT
            |  (SELECT CAST(count(*) AS BIGINT) FROM dft) AS n_terms,
            |  (SELECT CAST(count(*) AS BIGINT) FROM dft WHERE df = 1) AS n_hapax,
            |  (SELECT CAST(count(*) AS BIGINT) FROM t) AS total_tokens""".stripMargin),
    (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      val dft = t.groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val vocab = dft.agg(
        count(lit(1)).as("n_terms"),
        coalesce(sum(when(col("df") === 1, 1L).otherwise(0L)), lit(0L)).as("n_hapax"))
      val toksTotal = t.agg(count(lit(1)).as("total_tokens"))
      // 1-row x 1-row cross: both sides are aggregates, not data-sized
      vocab.crossJoin(toksTotal)
    })

  /** Document fingerprint: md5 of whitespace-normalized lowercase text. */
  val fingerprint: Q = Q(
    "t_fingerprint",
    Some("""SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
           |FROM documents ORDER BY doc_id""".stripMargin),
    (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"))
        .orderBy(col("doc_id")))

  /** Quality scoring: type-token ratio, stopword ratio, composite score. */
  val quality: Q = Q(
    "t_quality_score",
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
            |SELECT doc_id,
            |  CAST(len(toks) AS BIGINT) AS n_tokens,
            |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
            |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS ttr,
            |  round(CAST(${hitsSql(enStops)} AS DOUBLE) / len(toks), 6) AS stop_ratio,
            |  round((CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
            |    * (1.0 - CAST(${hitsSql(enStops)} AS DOUBLE) / len(toks)), 6) AS quality
            |FROM t WHERE len(toks) > 0 ORDER BY doc_id""".stripMargin),
    (s, d) => {
      val t = Tables.documents(s, d).select(col("doc_id"), toks(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
      t.select(
        col("doc_id"),
        size(col("toks")).cast(LongType).as("n_tokens"),
        size(array_distinct(col("toks"))).cast(LongType).as("n_distinct"),
        round(size(array_distinct(col("toks"))).cast("double") / size(col("toks")), 6).as("ttr"),
        round(hits(col("toks"), enStops).cast("double") / size(col("toks")), 6).as("stop_ratio"),
        round((size(array_distinct(col("toks"))).cast("double") / size(col("toks")))
          * (lit(1.0) - hits(col("toks"), enStops).cast("double") / size(col("toks"))), 6)
          .as("quality"))
        .orderBy(col("doc_id"))
    })

  /** Gopher rules (Rae et al. 2021, arXiv:2112.11446 §A1.1) — the
    * canonical composite document filter, as a per-rule verdict table:
    * word-count bounds [50, 100k], mean word length in [3, 10],
    * alphabetic-word fraction >= 0.8, and the stop-word REQUIREMENT
    * (>= 2 distinct members of the canonical function-word set — the
    * rule that kills keyword-stuffing pages TTR cannot). Every
    * threshold is integer cross-multiplied (3n <= chars, 5·alpha >=
    * 4n), so there is no float tie to diverge on; mean_len_x100 is the
    * integer-scaled diagnostic. One narrow pass + output sort. */
  val gopherRules: Q = Q(
    "t_gopher_rules",
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents
            |  WHERE len(trim(text)) > 0),
            |m AS (SELECT doc_id,
            |    CAST(len(toks) AS BIGINT) AS n,
            |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS chars,
            |    CAST(len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$$'))) AS BIGINT) AS alpha,
            |    (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END
            |      + CASE WHEN list_contains(toks, 'a') THEN 1 ELSE 0 END
            |      + CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END
            |      + CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END
            |      + CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END) AS stops
            |  FROM t)
            |SELECT doc_id, n AS n_words, chars * 100 // n AS mean_len_x100,
            |  n >= 50 AND n <= 100000 AS r_word_count,
            |  3 * n <= chars AND chars <= 10 * n AS r_mean_len,
            |  5 * alpha >= 4 * n AS r_alpha,
            |  stops >= 2 AS r_stopwords,
            |  (n >= 50 AND n <= 100000) AND (3 * n <= chars AND chars <= 10 * n)
            |    AND (5 * alpha >= 4 * n) AND (stops >= 2) AS pass
            |FROM m ORDER BY doc_id""".stripMargin),
    (s, d) => gopherRulesOf(Tables.documents(s, d)).orderBy(col("doc_id")))

  /** t_gopher_rules over any (doc_id, text) frame. */
  def gopherRulesOf(docs: DataFrame): DataFrame = {
    val t = docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), toks(col("text")).as("toks"))
    val m = t.select(
      col("doc_id"),
      size(col("toks")).cast(LongType).as("n"),
      expr("aggregate(toks, 0L, (acc, x) -> acc + length(x))").as("chars"),
      expr("cast(size(filter(toks, x -> x rlike '^[a-z]+$')) as long)").as("alpha"),
      (when(array_contains(col("toks"), "the"), 1).otherwise(0)
        + when(array_contains(col("toks"), "a"), 1).otherwise(0)
        + when(array_contains(col("toks"), "of"), 1).otherwise(0)
        + when(array_contains(col("toks"), "and"), 1).otherwise(0)
        + when(array_contains(col("toks"), "to"), 1).otherwise(0)).as("stops"))
    val rWc = col("n") >= 50 && col("n") <= 100000L
    val rMl = lit(3) * col("n") <= col("chars") && col("chars") <= lit(10) * col("n")
    val rAl = lit(5) * col("alpha") >= lit(4) * col("n")
    val rSt = col("stops") >= 2
    m.select(col("doc_id"), col("n").as("n_words"),
      expr("chars * 100 div n").as("mean_len_x100"),
      rWc.as("r_word_count"), rMl.as("r_mean_len"),
      rAl.as("r_alpha"), rSt.as("r_stopwords"),
      (rWc && rMl && rAl && rSt).as("pass"))
  }

  /** The apply step: the released corpus under the Gopher gate. */
  val gopherFilter: Q = Q(
    "d_gopher_filter",
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents
            |  WHERE len(trim(text)) > 0),
            |m AS (SELECT doc_id,
            |    CAST(len(toks) AS BIGINT) AS n,
            |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS chars,
            |    CAST(len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$$'))) AS BIGINT) AS alpha,
            |    (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END
            |      + CASE WHEN list_contains(toks, 'a') THEN 1 ELSE 0 END
            |      + CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END
            |      + CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END
            |      + CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END) AS stops
            |  FROM t)
            |SELECT doc_id, n AS n_words FROM m
            |WHERE n >= 50 AND n <= 100000 AND 3 * n <= chars
            |  AND chars <= 10 * n AND 5 * alpha >= 4 * n AND stops >= 2
            |ORDER BY doc_id""".stripMargin),
    (s, d) =>
      gopherRulesOf(Tables.documents(s, d))
        .filter(col("pass"))
        .select(col("doc_id"), col("n_words"))
        .orderBy(col("doc_id")))

  /** Repetition detection (a Gopher-rule quality signal): the fraction
    * of a document's word trigrams that are repeats of an earlier
    * trigram. Boilerplate, keyword-stuffed, and looping generator
    * output score high and get filtered before training. Map-only per
    * row (higher-order functions over the token array, no explode →
    * no shuffle, whole-stage codegen'd); outputs are exact integers
    * plus an integer-compare flag (distinct/total < 0.8 as
    * 5*distinct < 4*total) so the oracle is bit-deterministic — no
    * double ratio to tie-break. */
  val repetition: Q = Q(
    "t_repetition",
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
            |g AS (SELECT doc_id, len(toks) - 2 AS n_grams,
            |    list_transform(range(len(toks) - 2),
            |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) AS grams
            |  FROM t WHERE len(toks) >= 3)
            |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
            |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_grams,
            |  5 * len(list_distinct(grams)) < 4 * n_grams AS repetitive
            |FROM g ORDER BY doc_id""".stripMargin),
    (s, d) => {
      val t = Tables.fanout(Tables.documents(s, d))
        .select(col("doc_id"), toks(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
      val grams = transform(
        sequence(lit(0), size(col("toks")) - 3),
        i => concat_ws(" ", get(col("toks"), i), get(col("toks"), i + 1),
          get(col("toks"), i + 2)))
      t.select(
        col("doc_id"),
        (size(col("toks")) - 2).cast(LongType).as("n_grams"),
        size(array_distinct(grams)).cast(LongType).as("n_distinct_grams"))
        .withColumn("repetitive",
          lit(5L) * col("n_distinct_grams") < lit(4L) * col("n_grams"))
        .orderBy(col("doc_id"))
    })

  /** Word co-occurrence within a 5-token sliding window: unordered
    * pairs (least, greatest) counted over every in-window position
    * pair, top-50 by count — the corpus statistic under PMI/embedding
    * bootstraps (word2vec's co-occurrence matrix, feature hashing
    * vocabularies). Scale shape: pair GENERATION is map-only (nested
    * higher-order transforms build each row's pair list, one explode —
    * no token self-join, whose doc_id-keyed variant would shuffle the
    * full token table and skew on long docs); the only shuffle is the
    * final count groupBy, which map-side combines into the bounded
    * vocabulary-pair space. */
  val cooccurrence: Q = Q(
    "t_cooccurrence",
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
            |p AS (
            |  SELECT unnest(flatten(list_transform(generate_series(1, len(toks) - 1),
            |    i -> list_transform(generate_series(i + 1, least(i + 4, len(toks))),
            |      j -> [least(toks[i], toks[j]), greatest(toks[i], toks[j])])))) AS pr
            |  FROM t WHERE len(toks) >= 2)
            |SELECT pr[1] AS a, pr[2] AS b, CAST(count(*) AS BIGINT) AS cnt
            |FROM p GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 50""".stripMargin),
    (s, d) => {
      val t = Tables.fanout(Tables.documents(s, d))
        .select(col("doc_id"), toks(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
      val n = size(col("toks"))
      val pairs = flatten(transform(sequence(lit(0), n - 2), i =>
        transform(sequence(i + 1, least(i + 4, n - 1)), j =>
          struct(
            least(get(col("toks"), i), get(col("toks"), j)).as("a"),
            greatest(get(col("toks"), i), get(col("toks"), j)).as("b")))))
      t.select(explode(pairs).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(50)
    })

  /** Benchmark decontamination: flag corpus documents that share any
    * word 5-gram with a held-out benchmark set (here: doc_id < 25 plays
    * the benchmark, the rest the corpus). The standard pretraining
    * hygiene stage — test-set text leaking into training data inflates
    * evals — done the scale-correct way round: the benchmark gram set
    * is small and broadcast, the corpus side is a map-only explode into
    * a BroadcastHashJoin, so 100 TB of corpus streams past a few MB of
    * benchmark grams with no corpus shuffle except the final per-doc
    * count. Clean docs are reported too (n_matched_grams = 0) via a
    * left join back to the doc list — a decon report that silently
    * dropped clean docs would be unusable as a filter input. */
  val decontaminate: Q = Q(
    "d_decontaminate",
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
            |g AS (SELECT doc_id, list_distinct(list_transform(range(len(toks) - 4),
            |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' '
            |      || toks[i+4] || ' ' || toks[i+5])) AS grams
            |  FROM t WHERE len(toks) >= 5),
            |b AS (SELECT DISTINCT unnest(grams) AS gr FROM g WHERE doc_id < 25),
            |c AS (SELECT doc_id, unnest(grams) AS gr FROM g WHERE doc_id >= 25),
            |m AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n
            |  FROM c JOIN b USING (gr) GROUP BY c.doc_id)
            |SELECT t.doc_id, coalesce(m.n, CAST(0 AS BIGINT)) AS n_matched_grams,
            |  m.n IS NOT NULL AS contaminated
            |FROM t LEFT JOIN m ON t.doc_id = m.doc_id
            |WHERE t.doc_id >= 25 ORDER BY t.doc_id""".stripMargin),
    (s, d) => {
      // gram build: the codegen'd distinct-5-gram kernel; the doc_id
      // range filters run BEFORE the kernel so each side tokenizes only
      // its own rows (the interpreted transform form cost 22s under the
      // honest toRdd bench — Novelty.noveltyOf has the full note)
      import graft.functions.SketchFunctions.word_ngrams
      def posts(df: DataFrame): DataFrame =
        df.select(col("doc_id"),
          explode(word_ngrams(col("text"), 5, distinct = true)).as("gr"))
      val docs = Tables.documents(s, d)
      val bench = posts(docs.filter(col("doc_id") < 25))
        .select(col("gr")).distinct()
      val matched = posts(docs.filter(col("doc_id") >= 25))
        .join(broadcast(bench), "gr")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      // report EVERY corpus doc — including <5-token and null-text docs
      // that can't carry a 5-gram — at 0 matches, or a consumer
      // inner-joining the report as a filter would silently drop them
      Tables.documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") >= 25)
        .join(matched, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n"), lit(0L)).as("n_matched_grams"),
          col("n").isNotNull.as("contaminated"))
        .orderBy(col("doc_id"))
    })

  /** Intra-corpus duplicated n-gram span fraction — the exact-substring
    * duplication signal (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499, use suffix arrays
    * for the single-machine version; this is the distributed shape). A
    * word 8-gram is DUPLICATED if it occurs in >= 2 distinct documents;
    * each doc reports how many of its 8-gram positions are covered by a
    * duplicated gram, as an exact-integer ppm. Unlike the doc-level
    * near-dup family this sees SUB-document duplication (a copied
    * paragraph inside an otherwise-unique doc), and unlike t_repetition
    * (within-doc) it is a corpus-wide signal. 8 words over this corpus's
    * ~40-word vocabulary makes chance collisions ~40^-8 — every hit is
    * real copying.
    *
    * Scale shape: position-gram explode (map-only, narrow), duplicated
    * grams via (gram, doc_id) distinct -> per-gram doc count (both
    * map-side-combined shuffles on the gram key), join back on gram, one
    * per-doc count. Nothing global; all four exchanges hash on gram or
    * doc_id. At 100 TB the gram strings would be fingerprinted to 64-bit
    * hashes (xxhash64) before the shuffle and optionally winnowed to
    * minimizers (Lee et al. §4) — bandwidth levers, same plan shape; the
    * string keys are kept here so the DuckDB oracle replays bit-for-bit.
    * Every doc is reported (short/null docs at 0 grams), like
    * d_decontaminate: a span report that drops clean docs can't feed the
    * downstream span-removal pass. */
  val dupSpan: Q = Q(
    "d_dup_span",
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
            |g AS (SELECT doc_id, list_transform(range(len(toks) - 7),
            |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' '
            |      || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' '
            |      || toks[i+7] || ' ' || toks[i+8]) AS grams
            |  FROM t WHERE len(toks) >= 8),
            |p AS (SELECT doc_id, unnest(grams) AS gram FROM g),
            |dup AS (SELECT gram FROM (
            |    SELECT gram, count(*) AS ndocs FROM (SELECT DISTINCT gram, doc_id FROM p)
            |    GROUP BY gram) WHERE ndocs >= 2),
            |nd AS (SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_dup
            |  FROM p JOIN dup USING (gram) GROUP BY p.doc_id),
            |ng AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams FROM g)
            |SELECT d.doc_id,
            |  coalesce(ng.n_grams, CAST(0 AS BIGINT)) AS n_grams,
            |  coalesce(nd.n_dup, CAST(0 AS BIGINT)) AS n_dup_grams,
            |  CASE WHEN coalesce(ng.n_grams, 0) > 0
            |    THEN (1000000 * coalesce(nd.n_dup, CAST(0 AS BIGINT))) // ng.n_grams
            |    ELSE CAST(0 AS BIGINT) END AS dup_ppm,
            |  coalesce(nd.n_dup, 0) > 0 AS flagged
            |FROM documents d
            |LEFT JOIN ng ON d.doc_id = ng.doc_id
            |LEFT JOIN nd ON d.doc_id = nd.doc_id
            |ORDER BY d.doc_id""".stripMargin),
    (s, d) => dupSpanOf(Tables.documents(s, d)))

  /** d_dup_span over any (doc_id, text) frame — the seam the toy-corpus
    * spec drives directly. */
  def dupSpanOf(docs: DataFrame): DataFrame = {
    // gram build: the codegen'd per-row kernel — the interpreted
    // transform(sequence, ...) form executed once per plan branch and
    // the honest toRdd bench measured it at 33.4s vs ~3s for the
    // kernel (round 8; Novelty.noveltyOf has the full note)
    import graft.functions.SketchFunctions.word_ngrams
    val p = docs.select(col("doc_id"),
      explode(word_ngrams(col("text"), 8)).as("gram"))
    // two-level: (gram, doc) distinct then per-gram doc count — both
    // aggregations partial/map-side-combinable, unlike countDistinct
    val dup = p.distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2).select(col("gram"))
    val nd = p.join(dup, "gram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    val ng = docs
      .select(col("doc_id"), toks(col("text")).as("toks"))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"),
        (size(col("toks")) - lit(7)).cast(LongType).as("n_grams"))
    docs.select(col("doc_id"))
      .join(ng, Seq("doc_id"), "left")
      .join(nd, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_grams"))
      .withColumn("dup_ppm",
        expr("CASE WHEN n_grams > 0 THEN (1000000L * n_dup_grams) div n_grams ELSE 0L END"))
      .withColumn("flagged", col("n_dup_grams") > 0)
      .orderBy(col("doc_id"))
  }

  /** Unigram rarity score — the log-free exact-integer stand-in for the
    * LM-perplexity quality filter (CCNet scores docs with a wiki-trained
    * LM; a unigram model is its order-0 form). The corpus itself is the
    * model: token t has count C(t) out of mass M, a doc's score is the
    * MEAN INVERSE UNIGRAM FREQUENCY mean(M div C(t)) — monotone in
    * "how improbable are this doc's tokens under the corpus unigram
    * model", without the engine-parity hazard of summing logs (exact
    * BIGINT division only). High = rare-token-heavy (OOV-ish/garbled),
    * low = stopword salad; both tails are the filter's business.
    *
    * Scale shape: one token explode, a map-side-combined count agg
    * (vocabulary-sized result), an equi-join back on token, one per-doc
    * agg — the d_dup_span plan at 1-gram granularity; the mass M rides
    * a 1-row broadcast. */
  val rarity: Q = Q(
    "t_rarity",
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
            |p AS (SELECT doc_id, unnest(toks) AS tok FROM t),
            |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY tok),
            |m AS (SELECT CAST(sum(c) AS BIGINT) AS m FROM c),
            |s AS (SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
            |    CAST(sum(m.m // c.c) AS BIGINT) AS isum
            |  FROM p JOIN c USING (tok) CROSS JOIN m GROUP BY p.doc_id)
            |SELECT doc_id, n_tokens, isum // n_tokens AS rarity
            |FROM s ORDER BY doc_id""".stripMargin),
    (s, d) => rarityOf(Tables.documents(s, d)))

  /** t_rarity over any (doc_id, text) frame — the toy-corpus seam. */
  def rarityOf(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), toks(col("text")).as("toks"))
    val p = t.select(col("doc_id"), explode(col("toks")).as("tok"))
    val c = p.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val m = c.agg(sum(col("c")).as("m"))
    p.join(c, "tok").crossJoin(broadcast(m))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(expr("m div c")).as("isum"))
      .select(col("doc_id"), col("n_tokens"),
        expr("isum div n_tokens").as("rarity"))
      .orderBy(col("doc_id"))
  }

  /** Per-doc token-concentration (Gini/Simpson) signal: the log-free
    * exact-integer twin of vocabulary entropy. gini_ppm =
    * 1e6 - (1e6 * sum(c_t^2)) div n^2 — 0 for a one-token-repeated doc,
    * approaching 1e6 for all-distinct tokens; the complement of the
    * Simpson index, a repetition/diversity filter signal that needs no
    * logarithm (entropy's log is an engine-parity hazard). Overflow
    * bound: 1e6 * n^2 stays under 2^63 for docs up to ~3e6 tokens —
    * far above any chunked-corpus doc.
    *
    * Scale shape: explode -> (doc, token) count -> per-doc agg, both
    * aggregations map-side combinable; no joins at all. */
  val gini: Q = Q(
    "t_gini",
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
            |p AS (SELECT doc_id, unnest(toks) AS tok FROM t),
            |c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
            |  FROM p GROUP BY doc_id, tok),
            |g AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
            |    CAST(count(*) AS BIGINT) AS n_distinct,
            |    CAST(sum(c * c) AS BIGINT) AS ss
            |  FROM c GROUP BY doc_id)
            |SELECT doc_id, n_tokens, n_distinct,
            |  1000000 - (1000000 * ss) // (n_tokens * n_tokens) AS gini_ppm
            |FROM g ORDER BY doc_id""".stripMargin),
    (s, d) => giniOf(Tables.documents(s, d)))

  /** t_gini over any (doc_id, text) frame. */
  def giniOf(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), toks(col("text")).as("toks"))
    val p = t.select(col("doc_id"), explode(col("toks")).as("tok"))
    val c = p.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    c.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        sum(col("c") * col("c")).as("ss"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        expr("1000000L - (1000000L * ss) div (n_tokens * n_tokens)")
          .as("gini_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Bigram-LM fluency score — the order-1 conditional upgrade of
    * t_rarity's order-0 model (the CCNet/KenLM "does this read like the
    * corpus" filter, log-free): for each adjacent token pair (a, b),
    * P(b | a) in exact-integer ppm = (c2(a,b) * 1e6) div c1(a), where
    * c1(a) counts pairs STARTING with a (the proper conditional
    * normalizer, not a's token count); doc score = mean over its pairs.
    * High = pairs common given their left token (fluent under the
    * corpus bigram model), low = improbable transitions (shuffled or
    * garbled text scores low even when every unigram is common — the
    * signal rarity cannot see). Docs with < 2 tokens report 0 pairs,
    * score 0. Overflow: c2 * 1e6 needs c2 < 9.2e12 — a single repeated
    * bigram at ~1e13 occurrences, far beyond any real corpus pair.
    *
    * Scale shape: map-only pair generation per row (indexed transform,
    * no token self-join), one vocab-sized pair-count agg, a small
    * left-token agg derived FROM the pair counts (never a second pass
    * over the corpus), an equi-join back, one per-doc agg. */
  val bigramLm: Q = Q(
    "t_bigram_lm",
    // pair identity = 'a b' (injective: whitespace-split tokens contain
    // no space); split_part recovers the left token for the conditional
    // normalizer. generate_series(1, 0) is the empty list, so 1-token
    // docs yield no pairs.
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
            |p AS (SELECT doc_id, unnest(list_transform(
            |    generate_series(1, len(toks) - 1),
            |    i -> toks[i] || ' ' || toks[i + 1])) AS pr FROM t),
            |c2 AS (SELECT pr, CAST(count(*) AS BIGINT) AS c2
            |  FROM p GROUP BY pr),
            |c1 AS (SELECT split_part(pr, ' ', 1) AS a,
            |    CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
            |w AS (SELECT c2.pr, (c2.c2 * 1000000) // c1.c1 AS w
            |  FROM c2 JOIN c1 ON split_part(c2.pr, ' ', 1) = c1.a),
            |s AS (SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
            |    CAST(sum(w.w) AS BIGINT) AS wsum
            |  FROM p JOIN w ON p.pr = w.pr GROUP BY p.doc_id)
            |SELECT d.doc_id,
            |  coalesce(s.n_pairs, 0) AS n_pairs,
            |  CAST(coalesce(s.wsum // s.n_pairs, 0) AS BIGINT) AS fluency
            |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
            |ORDER BY d.doc_id""".stripMargin),
    (s, d) => bigramLmOf(Tables.documents(s, d)))

  /** t_bigram_lm over any (doc_id, text) frame. */
  def bigramLmOf(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), toks(col("text")).as("toks"))
    // indexed transform: pair i = (toks[i-1], toks[i]) — map-only. The
    // filter (not sequence(1, n-1)) makes single-token docs yield zero
    // pairs: Spark's sequence DESCENDS when start > stop, so the n=1
    // case would otherwise fabricate null pairs
    val p = t
      .select(col("doc_id"), explode(expr(
        "transform(filter(sequence(1, size(toks)), i -> i < size(toks)), " +
          "i -> struct(toks[i - 1] AS a, toks[i] AS b))"))
        .as("pr"))
      .select(col("doc_id"), col("pr.a").as("a"), col("pr.b").as("b"))
    val c2 = p.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("a")).agg(sum(col("c2")).as("c1"))
    val w = c2.join(c1, "a")
      .select(col("a"), col("b"), expr("(c2 * 1000000L) div c1").as("w"))
    val s0 = p.join(w, Seq("a", "b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("w")).as("wsum"))
    docs.select(col("doc_id"))
      .join(s0, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(expr("wsum div n_pairs"), lit(0L)).as("fluency"))
      .orderBy(col("doc_id"))
  }

  /** CCNet-style LM buckets (Wenzek et al. 2020, arXiv:1911.00359):
    * rank the corpus by LM fluency and cut head/middle/tail thirds —
    * the canonical perplexity-bucketed mixture step (train mostly on
    * the head, sample the middle, drop or downweight the tail). Bucket
    * assignment is VALUE-level: all docs sharing a fluency score land
    * in the bucket of that value's first rank (3·cum_before div n), so
    * there is no per-doc tie-break and the result is exact on both
    * engines. Scale shape: the corpus collapses map-side to (fluency,
    * count) — the cumulative window runs over the SMALL histogram,
    * never the corpus (the x_percentile_rank discipline), and docs get
    * their bucket back through a value-keyed join. */
  val fluencyBuckets: Q = Q(
    "d_fluency_buckets",
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
            |p AS (SELECT doc_id, unnest(list_transform(
            |    generate_series(1, len(toks) - 1),
            |    i -> toks[i] || ' ' || toks[i + 1])) AS pr FROM t),
            |c2 AS (SELECT pr, CAST(count(*) AS BIGINT) AS c2
            |  FROM p GROUP BY pr),
            |c1 AS (SELECT split_part(pr, ' ', 1) AS a,
            |    CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
            |w AS (SELECT c2.pr, (c2.c2 * 1000000) // c1.c1 AS w
            |  FROM c2 JOIN c1 ON split_part(c2.pr, ' ', 1) = c1.a),
            |s AS (SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
            |    CAST(sum(w.w) AS BIGINT) AS wsum
            |  FROM p JOIN w ON p.pr = w.pr GROUP BY p.doc_id),
            |f AS (SELECT d.doc_id,
            |    CAST(coalesce(s.wsum // s.n_pairs, 0) AS BIGINT) AS fluency
            |  FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id),
            |hist AS (SELECT fluency, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY 1),
            |ranked AS (SELECT fluency,
            |    sum(c) OVER (ORDER BY fluency ROWS UNBOUNDED PRECEDING) - c AS cumb,
            |    sum(c) OVER () AS n
            |  FROM hist)
            |SELECT f.doc_id, f.fluency,
            |  CAST((3 * r.cumb) // r.n AS BIGINT) AS bucket
            |FROM f JOIN ranked r ON f.fluency = r.fluency
            |ORDER BY f.doc_id""".stripMargin),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val f = bigramLmOf(Tables.documents(s, d))
        .select(col("doc_id"), col("fluency"))
      val hist = f.groupBy(col("fluency")).agg(count(lit(1)).as("c"))
      val cum = Window.orderBy(col("fluency"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // the windows run over the VALUE HISTOGRAM (small), not the corpus
      val ranked = hist
        .withColumn("cumb", sum(col("c")).over(cum) - col("c"))
        .withColumn("n", sum(col("c")).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col("fluency"),
          expr("(3 * cumb) div n").as("bucket"))
      f.join(broadcast(ranked), Seq("fluency"))
        .select(col("doc_id"), col("fluency"), col("bucket"))
        .orderBy(col("doc_id"))
    })

  /** DSIR-style importance score (Xie et al. 2023, arXiv:2302.03169):
    * score each doc by how much its unigram distribution looks like a
    * TARGET domain relative to the raw corpus — the data-selection
    * signal used to pick pretraining data that matches a downstream
    * distribution. Target here = the `lang = 'en'` slice (the
    * highest-resource stand-in the synthetic corpus offers; any
    * predicate works). Token weight is the exact-integer ppm form of
    * the importance ratio p_target(t)/p_raw(t):
    *
    *   rho    = (Traw * 1e6) div Ttarget          (corpus-level, 1 row)
    *   w(t)   = ((ct * 1e6 div cr) * rho) div 1e6
    *   dsir   = sum(w(token)) div n_tokens        (per doc)
    *
    * The division ORDER is overflow-aware for 100-TB counts: ct*1e6
    * stays under 2^63 for ct up to ~9e12 tokens, the inner quotient is
    * <= 1e6 (ct <= cr), and rho is corpus-level — never a
    * ct*Traw-style product of two corpus-sized numbers. Shared tokens
    * weigh ~1e6, target-only tokens ~rho (> 1e6), never-in-target
    * tokens 0 — so target-like docs score above 1e6 and off-target
    * docs below (SplitsSpec asserts the per-lang ordering).
    *
    * Scale shape: t_rarity's plan with one extra filtered count — one
    * explode, one map-side-combined vocab agg carrying (cr, ct), the
    * 1-row rho broadcast, an equi-join back on token, one per-doc agg. */
  val dsirScore: Q = Q(
    "d_dsir_score",
    Some(s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
            |p AS (SELECT doc_id, lang, unnest(toks) AS tok FROM t),
            |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cr,
            |    CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS ct
            |  FROM p GROUP BY tok),
            |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS traw,
            |    CAST(sum(ct) AS BIGINT) AS ttgt FROM c),
            |rho AS (SELECT CASE WHEN ttgt = 0 THEN 0
            |    ELSE (traw * 1000000) // ttgt END AS rho FROM tot),
            |w AS (SELECT tok,
            |    CAST(((ct * 1000000 // cr) * rho) // 1000000 AS BIGINT) AS w
            |  FROM c CROSS JOIN rho),
            |s AS (SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
            |    CAST(sum(w.w) AS BIGINT) AS wsum
            |  FROM p JOIN w USING (tok) GROUP BY p.doc_id)
            |SELECT doc_id, n_tokens, wsum // n_tokens AS dsir
            |FROM s ORDER BY doc_id""".stripMargin),
    (s, d) => dsirOf(Tables.documents(s, d)))

  /** d_dsir_score over any (doc_id, text, lang) frame. */
  def dsirOf(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), col("lang"), toks(col("text")).as("toks"))
    val p = t.select(col("doc_id"), col("lang"), explode(col("toks")).as("tok"))
    val c = p.groupBy(col("tok")).agg(
      count(lit(1)).as("cr"),
      count_if(col("lang") === "en").as("ct"))
    val tot = c.agg(sum(col("cr")).as("traw"), sum(col("ct")).as("ttgt"))
    val rho = tot.select(expr(
      "CASE WHEN ttgt = 0 THEN 0L ELSE (traw * 1000000L) div ttgt END").as("rho"))
    val w = c.crossJoin(broadcast(rho))
      .select(col("tok"),
        expr("((ct * 1000000L div cr) * rho) div 1000000L").as("w"))
    p.join(w, "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("wsum"))
      .select(col("doc_id"), col("n_tokens"),
        expr("wsum div n_tokens").as("dsir"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID heuristic: argmax of marker-stopword hits (en/de/es). */
  val langId: Q = Q(
    "t_lang_id",
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
            |h AS (SELECT doc_id,
            |  ${hitsSql(enStops)} AS h_en, ${hitsSql(deStops)} AS h_de, ${hitsSql(esStops)} AS h_es
            |  FROM t)
            |SELECT doc_id, h_en, h_de, h_es,
            |  CASE WHEN h_en >= h_de AND h_en >= h_es THEN 'en'
            |       WHEN h_de >= h_es THEN 'de' ELSE 'es' END AS lang_pred
            |FROM h ORDER BY doc_id""".stripMargin),
    (s, d) => {
      val t = Tables.documents(s, d).select(col("doc_id"), toks(col("text")).as("toks"))
      t.select(
        col("doc_id"),
        hits(col("toks"), enStops).as("h_en"),
        hits(col("toks"), deStops).as("h_de"),
        hits(col("toks"), esStops).as("h_es"))
        .withColumn("lang_pred",
          when(col("h_en") >= col("h_de") && col("h_en") >= col("h_es"), "en")
            .when(col("h_de") >= col("h_es"), "de")
            .otherwise("es"))
        .orderBy(col("doc_id"))
    })

  /** End-to-end training-data pipeline: near-dup survivors removed, then
    * quality + language gates, emitting the cleaned corpus stats — the
    * composition the individual operators exist for. */
  val pipelineE2e: Q = Q(
    "d_pipeline_e2e",
    Some(s"""WITH RECURSIVE t AS (
            |  SELECT doc_id, $toksSql AS toks FROM documents),
            |sh AS (
            |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks) - 2),
            |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gs
            |  FROM t WHERE len(toks) >= 3),
            |pr AS (
            |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
            |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            |  WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
            |      / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.5),
            |bidir AS (SELECT a_id AS src, b_id AS dst FROM pr UNION SELECT b_id, a_id FROM pr),
            |vertices AS (SELECT DISTINCT src AS id FROM bidir),
            |reach AS (
            |  SELECT id, id AS r FROM vertices
            |  UNION
            |  SELECT re.id, b.dst FROM reach re JOIN bidir b ON re.r = b.src),
            |merged AS (SELECT id FROM (SELECT id, min(r) AS comp FROM reach GROUP BY 1) WHERE id <> comp),
            |q AS (
            |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
            |    round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS ttr,
            |    ${hitsSql(enStops)} AS h_en, ${hitsSql(deStops)} AS h_de, ${hitsSql(esStops)} AS h_es
            |  FROM t WHERE len(toks) > 0)
            |SELECT doc_id, n_tokens, ttr FROM q
            |WHERE doc_id NOT IN (SELECT id FROM merged)
            |  AND ttr >= 0.3
            |  AND h_en >= h_de AND h_en >= h_es
            |ORDER BY doc_id""".stripMargin),
    (s, d) => {
      val merged = dedupSurvivors.run(s, d).select(col("doc_id"))
      val t = Tables.documents(s, d).select(col("doc_id"), toks(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
      t.select(
        col("doc_id"),
        size(col("toks")).cast(LongType).as("n_tokens"),
        round(size(array_distinct(col("toks"))).cast("double") / size(col("toks")), 6).as("ttr"),
        hits(col("toks"), enStops).as("h_en"),
        hits(col("toks"), deStops).as("h_de"),
        hits(col("toks"), esStops).as("h_es"))
        .join(merged, Seq("doc_id"), "left_anti")
        .filter(col("ttr") >= 0.3
          && col("h_en") >= col("h_de") && col("h_en") >= col("h_es"))
        .select(col("doc_id"), col("n_tokens"), col("ttr"))
        .orderBy(col("doc_id"))
    })

  /** Capstone curation pipeline: near-dup survivors → quality gate →
    * fixed-token chunking → sharded sequence packing, emitting per-bin
    * training-batch stats — the composition d_pipeline_e2e's gates feed
    * in a real corpus build, now through to packed batches. Every stage
    * is an already-oracled operator; the composed oracle chains their
    * CTE fragments.
    *
    * Bench attribution note: this query sorts FIRST in the d_ family, so
    * it pays the family's shared cold build (shingle postings + verified
    * pair graph + survivor components) that d_dedup_minhash_lsh carried
    * in earlier rounds — its bench time is the family's first-touch
    * cost, not marginal cost (its warm time is <1s). */
  val curateE2e: Q = Q(
    "d_curate_e2e",
    Some(s"""WITH RECURSIVE t AS (
            |  SELECT doc_id, $toksSql AS toks FROM documents),
            |sh AS (
            |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks) - 2),
            |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gs
            |  FROM t WHERE len(toks) >= 3),
            |pr AS (
            |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
            |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            |  WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
            |      / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.5),
            |bidir AS (SELECT a_id AS src, b_id AS dst FROM pr UNION SELECT b_id, a_id FROM pr),
            |vertices AS (SELECT DISTINCT src AS id FROM bidir),
            |reach AS (
            |  SELECT id, id AS r FROM vertices
            |  UNION
            |  SELECT re.id, b.dst FROM reach re JOIN bidir b ON re.r = b.src),
            |merged AS (SELECT id FROM (SELECT id, min(r) AS comp FROM reach GROUP BY 1) WHERE id <> comp),
            |clean AS (
            |  SELECT doc_id, toks FROM t
            |  WHERE len(toks) > 0
            |    AND doc_id NOT IN (SELECT id FROM merged)
            |    AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.3),
            |ch AS (
            |  SELECT doc_id, s.i AS start,
            |    CAST(len(list_slice(toks, s.i, least(s.i + ${ChunkSize - 1}, len(toks)))) AS BIGINT) AS n
            |  FROM clean, unnest(generate_series(1, len(toks), $ChunkStride)) AS s(i)),
            |cum AS (
            |  SELECT doc_id // 100 AS shard, n,
            |    sum(n) OVER (PARTITION BY doc_id // 100 ORDER BY doc_id, start
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
            |  FROM ch),
            |b AS (SELECT shard, n, (c - 1) // $PackCapacity AS bin FROM cum)
            |SELECT shard, CAST(bin AS BIGINT) AS bin,
            |  CAST(count(*) AS BIGINT) AS n_chunks, CAST(sum(n) AS BIGINT) AS total_tokens
            |FROM b GROUP BY 1, 2 ORDER BY shard, bin""".stripMargin),
    (s, d) => {
      val merged = dedupSurvivors.run(s, d).select(col("doc_id"))
      val clean = Tables.documents(s, d)
        .select(col("doc_id"), toks(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .join(merged, Seq("doc_id"), "left_anti")
        .filter(size(array_distinct(col("toks"))).cast("double")
          / size(col("toks")) >= 0.3)
      val chunks = clean
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(1), size(col("toks")), lit(ChunkStride))).as("start"))
        .select(col("doc_id"), col("start"),
          size(slice(col("toks"), col("start"), lit(ChunkSize))).cast(LongType).as("n"))
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"), col("start"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      chunks
        .withColumn("shard", expr("doc_id div 100"))
        .withColumn("c", sum(col("n")).over(w))
        .withColumn("bin", expr(s"(c - 1) div $PackCapacity"))
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_chunks"), sum(col("n")).as("total_tokens"))
        .orderBy(col("shard"), col("bin"))
    })

  /** Capstone WRITER (VERDICT r5 missing #1): the curated corpus from
    * d_curate_e2e's gates, written as packed per-chunk rows to a
    * Hive-partitioned parquet store (partitionBy shard — each shard's
    * training batches land in their own directory, the layout a trainer
    * shards reads over) and RE-READ; the registered result IS the
    * re-read rows, so the DuckDB oracle — which recomputes the corpus
    * from `documents` — verifies the written deliverable survived the
    * round trip row-for-row (reference sink analogue:
    * DataFrameSaver.scala:8-25 writes its result CSVs the same way).
    * The store lands under target/ (gitignored scratch). */
  val curateWrite: Q = Q(
    "d_curate_write",
    Some(s"""WITH RECURSIVE t AS (
            |  SELECT doc_id, $toksSql AS toks FROM documents),
            |sh AS (
            |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks) - 2),
            |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gs
            |  FROM t WHERE len(toks) >= 3),
            |pr AS (
            |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
            |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            |  WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
            |      / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.5),
            |bidir AS (SELECT a_id AS src, b_id AS dst FROM pr UNION SELECT b_id, a_id FROM pr),
            |vertices AS (SELECT DISTINCT src AS id FROM bidir),
            |reach AS (
            |  SELECT id, id AS r FROM vertices
            |  UNION
            |  SELECT re.id, b.dst FROM reach re JOIN bidir b ON re.r = b.src),
            |merged AS (SELECT id FROM (SELECT id, min(r) AS comp FROM reach GROUP BY 1) WHERE id <> comp),
            |clean AS (
            |  SELECT doc_id, toks FROM t
            |  WHERE len(toks) > 0
            |    AND doc_id NOT IN (SELECT id FROM merged)
            |    AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.3),
            |ch AS (
            |  SELECT doc_id, s.i AS start,
            |    list_slice(toks, s.i, least(s.i + ${ChunkSize - 1}, len(toks))) AS chunk
            |  FROM clean, unnest(generate_series(1, len(toks), $ChunkStride)) AS s(i)),
            |cum AS (
            |  SELECT doc_id // 100 AS shard, doc_id, start,
            |    CAST(len(chunk) AS BIGINT) AS n_tokens,
            |    md5(array_to_string(chunk, ' ')) AS fp,
            |    sum(len(chunk)) OVER (PARTITION BY doc_id // 100 ORDER BY doc_id, start
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
            |  FROM ch)
            |SELECT CAST(shard AS BIGINT) AS shard,
            |  CAST((c - 1) // $PackCapacity AS BIGINT) AS bin,
            |  doc_id, CAST(start AS BIGINT) AS start, n_tokens, fp
            |FROM cum ORDER BY doc_id, start""".stripMargin),
    (s, d) => {
      val merged = dedupSurvivors.run(s, d).select(col("doc_id"))
      val clean = Tables.documents(s, d)
        .select(col("doc_id"), toks(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .join(merged, Seq("doc_id"), "left_anti")
        .filter(size(array_distinct(col("toks"))).cast("double")
          / size(col("toks")) >= 0.3)
      val chunks = clean
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(1), size(col("toks")), lit(ChunkStride))).as("start"))
        .withColumn("chunk", slice(col("toks"), col("start"), lit(ChunkSize)))
        .select(col("doc_id"), col("start"),
          size(col("chunk")).cast(LongType).as("n_tokens"),
          md5(array_join(col("chunk"), " ")).as("fp"))
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"), col("start"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val packed = chunks
        .withColumn("shard", expr("doc_id div 100"))
        .withColumn("c", sum(col("n_tokens")).over(w))
        .withColumn("bin", expr(s"(c - 1) div $PackCapacity"))
        .select(col("shard"), col("bin"), col("doc_id"),
          col("start").cast(LongType).as("start"), col("n_tokens"), col("fp"))
      // scratch path keyed by the sf dir so sf0.01/sf0.1 runs don't
      // clobber each other's store mid-read
      val dir = "target/curate_write/" + d.replaceAll("[^A-Za-z0-9.]", "_")
      graft.sources.PartitionedStore.write(packed, dir, Seq("shard"))
      // schema-explicit re-read: an empty corpus writes no part files
      // and a schema-inferred read would throw instead of returning the
      // (correct) empty result
      graft.sources.PartitionedStore.read(s, dir, packed.schema)
        .select(col("shard").cast(LongType).as("shard"), col("bin"),
          col("doc_id"), col("start"), col("n_tokens"), col("fp"))
        .orderBy(col("doc_id"), col("start"))
    })

  /** Incremental corpus APPEND — the operational loop of a production
    * training-data pipeline: the standing corpus (docs outside the
    * ingest batch, doc_id % 10 <> 7 as in d_dedup_incremental) is packed
    * and written; the new batch is gated by the same survivors/quality
    * rules, packed into bins CONTINUING each shard's numbering
    * (max base bin + 1 — appended batches never renumber existing
    * training bins, so already-consumed batches stay addressable), and
    * appended partition-wise. The registered result is the re-read of
    * the ENTIRE store, so the oracle verifies both that the append left
    * the base intact and that the batch landed with continued bins.
    * Overwrite-then-append per run keeps the query idempotent (static
    * partition overwrite truncates the store dir first). */
  val curateIncremental: Q = Q(
    "d_curate_incremental",
    Some(s"""WITH RECURSIVE t AS (
            |  SELECT doc_id, $toksSql AS toks FROM documents),
            |sh AS (
            |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks) - 2),
            |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gs
            |  FROM t WHERE len(toks) >= 3),
            |pr AS (
            |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
            |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            |  WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
            |      / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.5),
            |bidir AS (SELECT a_id AS src, b_id AS dst FROM pr UNION SELECT b_id, a_id FROM pr),
            |vertices AS (SELECT DISTINCT src AS id FROM bidir),
            |reach AS (
            |  SELECT id, id AS r FROM vertices
            |  UNION
            |  SELECT re.id, b.dst FROM reach re JOIN bidir b ON re.r = b.src),
            |merged AS (SELECT id FROM (SELECT id, min(r) AS comp FROM reach GROUP BY 1) WHERE id <> comp),
            |clean AS (
            |  SELECT doc_id, toks FROM t
            |  WHERE len(toks) > 0
            |    AND doc_id NOT IN (SELECT id FROM merged)
            |    AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.3),
            |ch AS (
            |  SELECT doc_id, s.i AS start,
            |    list_slice(toks, s.i, least(s.i + ${ChunkSize - 1}, len(toks))) AS chunk
            |  FROM clean, unnest(generate_series(1, len(toks), $ChunkStride)) AS s(i)),
            |chf AS (
            |  SELECT doc_id, start, CAST(len(chunk) AS BIGINT) AS n_tokens,
            |    md5(array_to_string(chunk, ' ')) AS fp
            |  FROM ch),
            |bcum AS (
            |  SELECT doc_id // 100 AS shard, doc_id, start, n_tokens, fp,
            |    sum(n_tokens) OVER (PARTITION BY doc_id // 100 ORDER BY doc_id, start
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
            |  FROM chf WHERE doc_id % 10 <> 7),
            |bp AS (SELECT shard, (c - 1) // $PackCapacity AS bin, doc_id, start, n_tokens, fp FROM bcum),
            |bmax AS (SELECT shard, max(bin) AS maxbin FROM bp GROUP BY 1),
            |icum AS (
            |  SELECT doc_id // 100 AS shard, doc_id, start, n_tokens, fp,
            |    sum(n_tokens) OVER (PARTITION BY doc_id // 100 ORDER BY doc_id, start
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
            |  FROM chf WHERE doc_id % 10 = 7),
            |ip AS (
            |  SELECT i.shard, COALESCE(m.maxbin + 1, 0) + (i.c - 1) // $PackCapacity AS bin,
            |    i.doc_id, i.start, i.n_tokens, i.fp
            |  FROM icum i LEFT JOIN bmax m ON m.shard = i.shard)
            |SELECT CAST(shard AS BIGINT) AS shard, CAST(bin AS BIGINT) AS bin,
            |  doc_id, CAST(start AS BIGINT) AS start, n_tokens, fp
            |FROM (SELECT * FROM bp UNION ALL SELECT * FROM ip)
            |ORDER BY doc_id, start""".stripMargin),
    (s, d) => {
      val merged = dedupSurvivors.run(s, d).select(col("doc_id"))
      val clean = Tables.documents(s, d)
        .select(col("doc_id"), toks(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .join(merged, Seq("doc_id"), "left_anti")
        .filter(size(array_distinct(col("toks"))).cast("double")
          / size(col("toks")) >= 0.3)
      val chunks = clean
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(1), size(col("toks")), lit(ChunkStride))).as("start"))
        .withColumn("chunk", slice(col("toks"), col("start"), lit(ChunkSize)))
        .select(col("doc_id"), expr("doc_id div 100").as("shard"), col("start"),
          size(col("chunk")).cast(LongType).as("n_tokens"),
          md5(array_join(col("chunk"), " ")).as("fp"))
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"), col("start"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def pack(df: DataFrame): DataFrame =
        df.withColumn("c", sum(col("n_tokens")).over(w))
      val basePacked = pack(chunks.filter(col("doc_id") % 10 =!= 7))
        .withColumn("bin", expr(s"(c - 1) div $PackCapacity"))
        .select(col("shard"), col("bin"), col("doc_id"),
          col("start").cast(LongType).as("start"), col("n_tokens"), col("fp"))
      // Materialize BEFORE writing: a partitioned APPEND command's child
      // plan executes WITHOUT InMemoryRelation substitution (observed:
      // the append re-derived the whole corpus lineage through a
      // checkpoint the runner had already released after the previous
      // query, while overwrite/count used the cache) — checkpointing the
      // small packed frames makes the write jobs scan them directly.
      // Registered as finals so the runner frees them post-query.
      val bp = basePacked.localCheckpoint(true)
      graft.analytics.CheckpointRegistry.trackFinal(s, bp)
      val baseMax = bp.groupBy(col("shard")).agg(max(col("bin")).as("maxbin"))
      val ip = pack(chunks.filter(col("doc_id") % 10 === 7))
        .join(baseMax, Seq("shard"), "left")
        .withColumn("bin",
          coalesce(col("maxbin") + 1, lit(0L)) + expr(s"(c - 1) div $PackCapacity"))
        .select(col("shard"), col("bin"), col("doc_id"),
          col("start").cast(LongType).as("start"), col("n_tokens"), col("fp"))
        .localCheckpoint(true)
      graft.analytics.CheckpointRegistry.trackFinal(s, ip)
      val dir = "target/curate_incr/" + d.replaceAll("[^A-Za-z0-9.]", "_")
      graft.sources.PartitionedStore.write(bp, dir, Seq("shard"))
      ip.write.mode("append").partitionBy("shard").parquet(dir)
      graft.sources.PartitionedStore.read(s, dir, basePacked.schema)
        .select(col("shard").cast(LongType).as("shard"), col("bin"),
          col("doc_id"), col("start"), col("n_tokens"), col("fp"))
        .orderBy(col("doc_id"), col("start"))
    })

  /** Gopher-style composite quality FILTER (Rae et al. 2021 §A1.1's
    * document-level rules, the standard pre-training gate that runs
    * before any dedup): per doc, every signal as an exact integer, a
    * reason BITMASK of the rules violated, and the pass verdict — a
    * filter that only says pass/fail can't be audited or tuned, so the
    * reasons column is the deliverable. Rules (bit): token count < 50
    * (1) / > 100000 (2); mean token length outside [3, 10] as the
    * integer compare 3n ≤ chars ≤ 10n (4); fewer than 2 stopword hits
    * (8); under 80% of tokens containing an alphabetic character as
    * 5·alpha < 4·n (16); the t_repetition trigram rule 5·distinct <
    * 4·grams (32). Map-only narrow plan — no shuffle, no explode; every
    * compare is BIGINT so the oracle is bit-deterministic. */
  val qualityFilter: Q = Q(
    "t_quality_filter",
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
            |m AS (SELECT doc_id,
            |  CAST(len(toks) AS BIGINT) AS n_tokens,
            |  CAST(COALESCE(list_sum(list_transform(toks, t -> len(t))), 0) AS BIGINT) AS n_token_chars,
            |  ${hitsSql(enStops)} AS n_stop_hits,
            |  CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS BIGINT) AS n_alpha_tokens,
            |  CAST(greatest(len(toks) - 2, 0) AS BIGINT) AS n_grams,
            |  CAST(CASE WHEN len(toks) >= 3
            |    THEN len(list_distinct(list_transform(range(len(toks) - 2),
            |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])))
            |    ELSE 0 END AS BIGINT) AS n_distinct_grams
            |  FROM t),
            |r AS (SELECT *,
            |  CAST(CASE WHEN n_tokens < 50 THEN 1 ELSE 0 END
            |    + CASE WHEN n_tokens > 100000 THEN 2 ELSE 0 END
            |    + CASE WHEN 3 * n_tokens > n_token_chars
            |        OR n_token_chars > 10 * n_tokens THEN 4 ELSE 0 END
            |    + CASE WHEN n_stop_hits < 2 THEN 8 ELSE 0 END
            |    + CASE WHEN 5 * n_alpha_tokens < 4 * n_tokens THEN 16 ELSE 0 END
            |    + CASE WHEN 5 * n_distinct_grams < 4 * n_grams THEN 32 ELSE 0 END
            |    AS BIGINT) AS reasons
            |  FROM m)
            |SELECT doc_id, n_tokens, n_token_chars, n_stop_hits,
            |  n_alpha_tokens, n_grams, n_distinct_grams, reasons,
            |  reasons = 0 AS pass
            |FROM r ORDER BY doc_id""".stripMargin),
    (s, d) => qualityFilterOf(Tables.fanout(Tables.documents(s, d))))

  /** The t_quality_filter body over any (doc_id, text) frame (public —
    * the crafted-document spec drives it directly). */
  def qualityFilterOf(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), toks(col("text")).as("toks"))
    val grams = transform(
      sequence(lit(0), size(col("toks")) - 3),
      i => concat_ws(" ", get(col("toks"), i), get(col("toks"), i + 1),
        get(col("toks"), i + 2)))
    val m = t.select(
      col("doc_id"),
      size(col("toks")).cast(LongType).as("n_tokens"),
      coalesce(
        aggregate(col("toks"), lit(0L), (acc, x) => acc + length(x)),
        lit(0L)).as("n_token_chars"),
      hits(col("toks"), enStops).as("n_stop_hits"),
      size(filter(col("toks"), x => x.rlike("[a-zA-Z]")))
        .cast(LongType).as("n_alpha_tokens"),
      greatest(size(col("toks")) - 2, lit(0)).cast(LongType).as("n_grams"),
      // CASE short-circuits per row, so the descending-sequence shape
      // of `grams` under 3 tokens is never evaluated
      when(size(col("toks")) >= 3, size(array_distinct(grams)).cast(LongType))
        .otherwise(lit(0L)).as("n_distinct_grams"))
    m.withColumn("reasons",
        when(col("n_tokens") < 50, lit(1L)).otherwise(lit(0L))
          + when(col("n_tokens") > 100000, lit(2L)).otherwise(lit(0L))
          + when(lit(3L) * col("n_tokens") > col("n_token_chars")
              || col("n_token_chars") > lit(10L) * col("n_tokens"), lit(4L))
            .otherwise(lit(0L))
          + when(col("n_stop_hits") < 2, lit(8L)).otherwise(lit(0L))
          + when(lit(5L) * col("n_alpha_tokens") < lit(4L) * col("n_tokens"),
              lit(16L)).otherwise(lit(0L))
          + when(lit(5L) * col("n_distinct_grams") < lit(4L) * col("n_grams"),
              lit(32L)).otherwise(lit(0L)))
      .withColumn("pass", col("reasons") === 0L)
      .orderBy(col("doc_id"))
  }

  val all: Seq[Q] = Seq(
    dedupExact, dedupNgram, dedupContainment, dedupEmbedding,
    dedupIncremental, splitLeakageGuard, curateE2e,
    curateWrite, curateIncremental,
    minhashSig, dedupMinhashLsh, simhashQ, dedupSimhash, dedupSurvivors,
    pipelineE2e,
    annTopk, annLsh, annMultiprobe,
    tokenCount, tokenBpe, heavyHitters, chunking, packSequences,
    fingerprint, quality, langId, rarity, dsirScore, gini, bigramLm,
    tfidfTopTerms, vocabStats,
    repetition, cooccurrence,
    decontaminate, decontaminateEmbedding, dupSpan, qualityFilter,
    gopherRules, gopherFilter, fluencyBuckets, hardNegatives)
}

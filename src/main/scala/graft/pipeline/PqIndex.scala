package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions.array_dot_long
import graft.registry.Q

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the memory-bound ANN lever the int8 path
  * (sim_ann_*_int8, 1 byte/dim) starts and PQ finishes: split each
  * vector into M subvectors, k-means each subspace independently, store
  * only the M code bytes per vector (here 64 dims -> 8 codes = 8 bytes,
  * an 8x further cut over int8), and answer queries with asymmetric
  * distance computation (ADC) — the query stays full-precision, each
  * candidate costs M table lookups instead of a D-element dot.
  *
  * Everything reuses [[SemanticCluster]]'s exact-integer Lloyd
  * discipline so the DuckDB oracle replays training bit-for-bit:
  * int8-quantized inputs, BIGINT squared distances (<= 8·254² per
  * subspace), packed-long argmin with ties to the smaller code,
  * division-convention-proof centroid update, md5-order seeding. The
  * one structural difference: SUBSPACE IS DATA, not code — vectors
  * explode to (vec_id, sub, sq) rows and one grouped Lloyd trains all
  * M codebooks simultaneously (assignment groups by (vec_id, sub),
  * update by (sub, c)), so the plan holds any M without M plan copies.
  *
  * Scale shape at 100 TB: training assignment is map-only against a
  * broadcast of all M·K codebook rows (128 here); each update is ONE
  * shuffle of M·K keys with algebraic sums; encoding is the final
  * assignment pass (map-only); the ADC query probe joins the code
  * table to a broadcast M·K partial-distance table and folds M rows
  * per (query, candidate) — no full-precision vector is ever read at
  * query time, which is the point: the code table is 8 bytes/vector
  * where the int8 table is 64.
  */
object PqIndex {

  val Dims = 64
  /** Subspaces (8 dims each) — one code byte per subspace. */
  val M = 8
  val SubDims: Int = Dims / M
  /** Codes per subspace codebook (6-bit codes; c < 64 keeps the packed
    * argmin exact). K=16/Iters=2 measured 0.56 rerank recall@5 on this
    * corpus; 64/3 reaches 0.96 at both verify SFs for a still-trivial
    * 512-row broadcast codebook. */
  val K = 64
  /** Fixed Lloyd budget per subspace (bounded loop, oracle-unrolled). */
  val Iters = 3
  /** ADC shortlist re-ranked exactly by the refine step. */
  val Short = 100
  /** Codebook-training sample bound (the FAISS discipline: codebooks
    * are trained on a bounded sample — classically ~256 vectors per
    * centroid — then the corpus is ENCODED in one pass; training on
    * the full corpus makes index build O(iters·n·M·K), which the 100x
    * harness measured at 362x wall for 100x data under local shuffle
    * pressure). Sample = the first TrainSample vectors in md5 order
    * (the portable hash order; seeds are its prefix, so they stay
    * inside the sample). At every verify SF the corpus is smaller than
    * the bound, so the sample IS the corpus and results are
    * bit-identical to full-corpus training. */
  val TrainSample = 16384

  private def quantDf(s: SparkSession, d: String): DataFrame =
    Quantize.quantized(Tables.embeddings(s, d)).select(col("vec_id"), col("q"))

  /** (vec_id, q) -> (vec_id, sub, sq): the subspace expansion. */
  private def subvecs(qdf: DataFrame): DataFrame =
    qdf.select(col("vec_id"), col("q"),
      explode(sequence(lit(0L), lit((M - 1).toLong))).as("sub"))
      .select(col("vec_id"), col("sub"),
        slice(col("q"), (col("sub") * SubDims + 1).cast("int"),
          lit(SubDims)).as("sq"))

  /** Seed codebooks: the K corpus vectors smallest in md5(vec_id) order
    * (the portable hash order), sliced into every subspace — codes
    * 0..K-1 per subspace. The window runs over K rows only. */
  private def seedCodebooks(qdf: DataFrame): DataFrame = {
    val top = qdf
      .select(col("vec_id"), col("q"),
        md5(col("vec_id").cast("string")).as("h"))
      .orderBy(col("h"), col("vec_id"))
      .limit(K)
    val w = Window.orderBy(col("h"), col("vec_id"))
    top
      .withColumn("c", (row_number().over(w) - 1).cast("long"))
      .select(col("c"), col("q"),
        explode(sequence(lit(0L), lit((M - 1).toLong))).as("sub"))
      .select(col("sub"), col("c"),
        slice(col("q"), (col("sub") * SubDims + 1).cast("int"),
          lit(SubDims)).as("cm"))
  }

  /** One grouped Lloyd assignment pass over every subspace at once:
    * nearest code per (vector, subspace), ties to the smaller code id.
    * Same packed-long argmin as [[SemanticCluster.assign]]: dist <=
    * 8·254² < 2^20 and c < K <= 64, so `min(dist·64 + c)` is exactly
    * lexicographic (dist, c) and stays a map-side-combinable
    * HashAggregate. */
  private def assign(sv: DataFrame, cents: DataFrame): DataFrame =
    sv.withColumn("qq", array_dot_long(col("sq"), col("sq")))
      .join(broadcast(
        cents.withColumn("cc", array_dot_long(col("cm"), col("cm")))), "sub")
      .withColumn("enc",
        (col("qq") - lit(2L) * array_dot_long(col("sq"), col("cm")) + col("cc"))
          * lit(64L) + col("c"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(col("enc")).as("enc"), first(col("sq")).as("sq"))
      .select(col("vec_id"), col("sub"),
        pmod(col("enc"), lit(64L)).as("c"),
        expr("enc div 64").as("dist"), col("sq"))

  /** Codebook update: elementwise floor(sum/count), division-convention
    * proof exactly as [[SemanticCluster.update]]; one shuffle of M·K
    * keys. Codes that lost all members drop out (both engines agree). */
  private def update(asg: DataFrame): DataFrame = {
    val sums = (0 until SubDims).map(j =>
      sum(element_at(col("sq"), j + 1)).as(s"s$j"))
    val aggs = sums :+ count(lit(1)).as("cnt")
    asg.groupBy(col("sub"), col("c"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("sub"), col("c"), array((0 until SubDims).map(i =>
        expr(s"(s$i - pmod(s$i, cnt)) div cnt")): _*).as("cm"))
  }

  /** Train all M codebooks and encode the corpus: returns the FINAL
    * codebooks (the ones the last assignment ran against — what ADC
    * must use) and the code table (vec_id, sub, c, dist). */
  def trainEncode(qdf: DataFrame, iters: Int = Iters): (DataFrame, DataFrame) = {
    // TRAIN on the bounded md5-order sample (== the corpus at verify
    // SFs), ENCODE the full corpus once against the final codebooks —
    // the iters-th assignment. The encode pass drags no subvector
    // through its aggregate (update needs sq, encode doesn't), so the
    // one corpus-sized shuffle carries (vec_id, sub, enc) only.
    val svTrain = subvecs(
      qdf.select(col("vec_id"), col("q"),
        md5(col("vec_id").cast("string")).as("h"))
        .orderBy(col("h"), col("vec_id"))
        .limit(TrainSample)
        .select(col("vec_id"), col("q")))
    var cents = seedCodebooks(qdf)
    var i = 0
    while (i < iters - 1) {
      cents = update(assign(svTrain, cents))
      i += 1
    }
    (cents, encodeAssign(subvecs(qdf), cents))
  }

  /** The corpus encode pass: the same packed argmin as [[assign]] but
    * with nothing except the 1-long code riding the aggregate. */
  private def encodeAssign(sv: DataFrame, cents: DataFrame): DataFrame =
    sv.withColumn("qq", array_dot_long(col("sq"), col("sq")))
      .join(broadcast(
        cents.withColumn("cc", array_dot_long(col("cm"), col("cm")))), "sub")
      .withColumn("enc",
        (col("qq") - lit(2L) * array_dot_long(col("sq"), col("cm")) + col("cc"))
          * lit(64L) + col("c"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(col("enc")).as("enc"))
      .select(col("vec_id"), col("sub"),
        pmod(col("enc"), lit(64L)).as("c"),
        expr("enc div 64").as("dist"))

  // Session-scoped trained index (the ExactBaselines discipline): the
  // four registered queries share ONE training run per (session, sf) —
  // at corpus scale the codebooks + code table ARE the maintained
  // artifact, retraining per query would be paying the index build per
  // lookup. localCheckpointed (cents is M·K rows; codes M rows/vector),
  // memoized as the graft.SessionCaches "pq" family; Bench builds it in
  // its own timed _setup_pq slot so consumers report marginal cost.
  private[graft] def trained(s: SparkSession, d: String): (DataFrame, DataFrame) =
    graft.SessionCaches.memo(s, "pq", d) {
      val (cents, cds) = trainEncode(quantDf(s, d))
      (cents.localCheckpoint(true), cds.localCheckpoint(true))
    }

  /** Per-vector PQ codes + quantization error, the maintained index
    * artifact (M rows per vector; 8 code bytes where int8 keeps 64). */
  def codes(s: SparkSession, d: String): DataFrame =
    trained(s, d)._2
      .orderBy(col("vec_id"), col("sub"))

  /** ADC ranking: queries (vec_id < 10, the family's fixed query set)
    * stay full-precision int8; each builds an M·K partial-distance
    * table against the codebooks (broadcast-sized), candidates cost M
    * lookups summed by one (qid, nid) aggregate — never a D-element
    * dot, never a read of the candidate's vector. Ascending exact
    * BIGINT ADC distance, ties to the smaller neighbor id. */
  /** Query-side partial-distance table (qid, sub, c, pdist): each
    * query's exact squared distance to every codebook entry — M·K rows
    * per query, the broadcast-sized structure every ADC consumer joins
    * through (the IVF-PQ composition included). */
  private[pipeline] def pdTable(qdf: DataFrame, cents: DataFrame): DataFrame = {
    val qs = subvecs(PipelineQueries.requireBounded(
      qdf.filter(col("vec_id") < 10), "sim_ann_pq query side", 1024L))
      .select(col("vec_id").as("qid"), col("sub"), col("sq"))
    qs
      .withColumn("qq", array_dot_long(col("sq"), col("sq")))
      .join(broadcast(
        cents.withColumn("cc", array_dot_long(col("cm"), col("cm")))), "sub")
      .select(col("qid"), col("sub"), col("c"),
        (col("qq") - lit(2L) * array_dot_long(col("sq"), col("cm"))
          + col("cc")).as("pdist"))
  }

  private def adcRanked(qdf: DataFrame, cents: DataFrame,
      cds: DataFrame): DataFrame = {
    val pd = pdTable(qdf, cents)
    val w = Window.partitionBy(col("qid")).orderBy(col("adc"), col("nid"))
    cds.select(col("vec_id").as("nid"), col("sub"), col("c"))
      .join(broadcast(pd), Seq("sub", "c"))
      .filter(col("qid") =!= col("nid"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("pdist")).as("adc"))
      .withColumn("rnk", row_number().over(w))
  }

  def annPq(s: SparkSession, d: String): DataFrame = {
    val qdf = quantDf(s, d)
    val (cents, cds) = trained(s, d)
    adcRanked(qdf, cents, cds)
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("nid"), col("adc"),
        col("rnk").cast("long").as("rnk"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** ADC shortlist + exact refine — the full IVFADC-style answer path:
    * the code table prunes the corpus to `Short` candidates per query
    * at M lookups each, then ONLY those candidates' int8 vectors are
    * read for an exact integer re-rank. Measured on this corpus:
    * rerank recall@5 vs the exact int8 baseline = 0.96 at both verify
    * SFs (raw ADC top-5 alone: 0.56) — the standard trade: bytes and
    * lookups for the scan, full precision only for the shortlist. */
  def annPqRerank(s: SparkSession, d: String): DataFrame = {
    val qdf = quantDf(s, d)
    val (cents, cds) = trained(s, d)
    val shortlist = adcRanked(qdf, cents, cds)
      .filter(col("rnk") <= Short)
      .select(col("qid"), col("nid"))
    val nv = qdf.select(col("vec_id").as("nid"), col("q").as("nq"))
    val qv = qdf.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q").as("qq"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2"), col("nid"))
    shortlist
      .join(nv, "nid")
      .join(broadcast(qv), "qid")
      .withColumn("d2",
        array_dot_long(col("qq"), col("qq"))
          - lit(2L) * array_dot_long(col("qq"), col("nq"))
          + array_dot_long(col("nq"), col("nq")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("nid"), col("d2"),
        col("rnk").cast("long").as("rnk"))
      .orderBy(col("qid"), col("rnk"))
  }

  // ---- oracle SQL (identical grouped algorithm, unrolled) ---------------

  private def subSqDist(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, $SubDims), " +
      s"j -> ($a[j] - $b[j]) * ($a[j] - $b[j])))"

  private val svCtes =
    s"""subs AS (SELECT unnest(generate_series(0, ${M - 1})) AS sub),
       |sv AS (
       |  SELECT vec_id, sub,
       |    q[sub * $SubDims + 1 : sub * $SubDims + $SubDims] AS sq
       |  FROM qt, subs),
       |samp AS (
       |  SELECT vec_id, q FROM (
       |    SELECT vec_id, q, row_number() OVER (
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM qt)
       |  WHERE rn <= $TrainSample),
       |svs AS (
       |  SELECT vec_id, sub,
       |    q[sub * $SubDims + 1 : sub * $SubDims + $SubDims] AS sq
       |  FROM samp, subs),
       |pcents0 AS (
       |  SELECT sub, CAST(rn - 1 AS BIGINT) AS c,
       |    q[sub * $SubDims + 1 : sub * $SubDims + $SubDims] AS cm
       |  FROM (
       |    SELECT q, row_number() OVER (
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM qt)
       |    , subs
       |  WHERE rn <= $K)""".stripMargin

  /** Training passes (i < Iters) assign the SAMPLE; the final pass is
    * the corpus ENCODE. */
  private def assignCte(i: Int): String = {
    val src = if (i < Iters) "svs" else "sv"
    s"""pasg$i AS (
       |  SELECT vec_id, sub, sq, c, dist FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id, sub ORDER BY dist, c) AS rk FROM (
       |      SELECT t.vec_id, t.sub, t.sq, c.c,
       |        ${subSqDist("t.sq", "c.cm")} AS dist
       |      FROM $src t JOIN pcents${i - 1} c ON t.sub = c.sub))
       |  WHERE rk = 1)""".stripMargin
  }

  private def updateCte(i: Int): String = {
    val sums = (0 until SubDims).map(j => s"sum(sq[${j + 1}]) AS s$j").mkString(", ")
    val fds = (0 until SubDims)
      .map(j => s"CAST((s$j - ((s$j % cnt + cnt) % cnt)) // cnt AS BIGINT)")
      .mkString(", ")
    s"""pcents$i AS (
       |  SELECT sub, c, list_value($fds) AS cm FROM (
       |    SELECT sub, c, count(*) AS cnt, $sums FROM pasg$i GROUP BY sub, c))""".stripMargin
  }

  /** PQ chain WITHOUT the quantization prefix (for composition with
    * other chains that already define qt): subspace expansion + grouped
    * Lloyd, ending in pasg{Iters} with final codebooks in
    * pcents{Iters - 1}. */
  private[pipeline] def pqChainNoQuant: String = {
    val iterCtes = (1 to Iters).flatMap { i =>
      if (i < Iters) Seq(assignCte(i), updateCte(i)) else Seq(assignCte(i))
    }
    (Seq(svCtes) ++ iterCtes).mkString(",\n")
  }

  /** Query-side partial-distance table CTEs (qs + pd), no quant
    * prefix — pd(qid, sub, c, pdist) vs the final codebooks. */
  private[pipeline] def pdCtesNoQuant: String =
    s"""qs AS (SELECT vec_id AS qid, sub, sq FROM sv WHERE vec_id < 10),
       |pd AS (
       |  SELECT q.qid, c.sub, c.c, ${subSqDist("q.sq", "c.cm")} AS pdist
       |  FROM qs q JOIN pcents${Iters - 1} c ON q.sub = c.sub)""".stripMargin

  /** CTE chain ending in pasg{Iters} (vec_id, sub, sq, c, dist) with
    * the final codebooks in pcents{Iters - 1}. */
  private def pqCtes: String =
    Seq(SemanticCluster.quantCtes, pqChainNoQuant).mkString(",\n")

  val codesQ: Q = Q(
    "sim_pq_codes",
    Some(s"""WITH $pqCtes
            |SELECT vec_id, CAST(sub AS BIGINT) AS sub, c,
            |  CAST(dist AS BIGINT) AS dist
            |FROM pasg$Iters ORDER BY vec_id, sub""".stripMargin),
    (s, d) => codes(s, d)
      .select(col("vec_id"), col("sub").cast("long").as("sub"),
        col("c"), col("dist")))

  /** CTE chain ending in `adc` (qid, nid, adc): the full ADC scores. */
  private def adcCtes: String =
    s"""$pqCtes,
       |$pdCtesNoQuant,
       |adc AS (
       |  SELECT p.qid, a.vec_id AS nid, CAST(sum(p.pdist) AS BIGINT) AS adc
       |  FROM pasg$Iters a
       |  JOIN pd p ON a.sub = p.sub AND a.c = p.c AND a.vec_id <> p.qid
       |  GROUP BY 1, 2)""".stripMargin

  val annPqQ: Q = Q(
    "sim_ann_pq",
    Some(s"""WITH $adcCtes
            |SELECT qid, nid, adc, rnk FROM (
            |  SELECT *, row_number() OVER (
            |    PARTITION BY qid ORDER BY adc, nid) AS rnk FROM adc)
            |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin),
    (s, d) => annPq(s, d))

  private val rerankOracleSql: String =
    s"""WITH $adcCtes,
       |short AS (
       |  SELECT qid, nid FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY qid ORDER BY adc, nid) AS rk FROM adc)
       |  WHERE rk <= $Short),
       |rr AS (
       |  SELECT s.qid, s.nid,
       |    CAST(list_sum(list_transform(generate_series(1, $Dims),
       |      j -> (a.q[j] - b.q[j]) * (a.q[j] - b.q[j]))) AS BIGINT) AS d2
       |  FROM short s
       |  JOIN qt a ON a.vec_id = s.qid
       |  JOIN qt b ON b.vec_id = s.nid)
       |SELECT qid, nid, d2, rnk FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY qid ORDER BY d2, nid) AS rnk FROM rr)
       |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  val annPqRerankQ: Q = Q(
    "sim_ann_pq_rerank",
    Some(rerankOracleSql),
    (s, d) => annPqRerank(s, d))

  /** Driver-checked recall gate (the sim_ann_recall_tol discipline): a
    * PQ regression that drops rerank recall below the floor flips
    * pq_ok and hash-fails CORRECTNESS, not just a doc claim. The exact
    * side is the int8 L2 top-3 — the metric PQ actually approximates
    * (the dot-ranked sim_ann_topk_int8 is a different, per-vector-scale-
    * distorted order). Floor 60% (measured 97-100% at both verify SFs —
    * the floor is a regression tripwire, not the spec). */
  val recallTolQ: Q = Q(
    "sim_pq_recall_tol",
    Some {
      val exact3 =
        s"""WITH ${SemanticCluster.quantCtes}
           |SELECT qid, nid FROM (
           |  SELECT a.vec_id AS qid, b.vec_id AS nid,
           |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
           |      list_sum(list_transform(generate_series(1, $Dims),
           |        j -> (a.q[j] - b.q[j]) * (a.q[j] - b.q[j]))), b.vec_id) AS rnk
           |  FROM qt a JOIN qt b ON a.vec_id <> b.vec_id
           |  WHERE a.vec_id < 10)
           |WHERE rnk <= 3""".stripMargin
      s"""SELECT pq_possible, pq_hits,
         |  pq_hits * 100 >= pq_possible * 60 AS pq_ok
         |FROM
         |  (SELECT CAST(count(*) AS BIGINT) AS pq_possible FROM ($exact3)),
         |  (SELECT CAST(count(*) AS BIGINT) AS pq_hits
         |   FROM ($exact3) e
         |   JOIN (SELECT qid, nid FROM ($rerankOracleSql)) a
         |     USING (qid, nid))""".stripMargin
    },
    (s, d) => {
      val qdf = quantDf(s, d)
      val qv = PipelineQueries.requireBounded(
        qdf.filter(col("vec_id") < 10), "sim_pq_recall_tol query side", 1024L)
        .select(col("vec_id").as("qid"), col("q").as("qq"))
      val nv = qdf.select(col("vec_id").as("nid"), col("q").as("nq"))
      val w = Window.partitionBy(col("qid")).orderBy(col("d2"), col("nid"))
      val exact3 = qv.join(nv, col("qid") =!= col("nid"))
        .withColumn("d2",
          array_dot_long(col("qq"), col("qq"))
            - lit(2L) * array_dot_long(col("qq"), col("nq"))
            + array_dot_long(col("nq"), col("nq")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("qid"), col("nid"))
      exact3.agg(count(lit(1)).as("pq_possible"))
        .crossJoin(
          exact3.join(annPqRerank(s, d).select(col("qid"), col("nid")),
            Seq("qid", "nid"), "left_semi")
            .agg(count(lit(1)).as("pq_hits")))
        .select(col("pq_possible"), col("pq_hits"),
          (col("pq_hits") * 100 >= col("pq_possible") * 60).as("pq_ok"))
    })

  val all: Seq[Q] = Seq(codesQ, annPqQ, annPqRerankQ, recallTolQ)
}

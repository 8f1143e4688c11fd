package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions.array_dot_long
import graft.registry.Q

/** Semantic (embedding-space) clustering + SemDeDup-style dedup
  * (Abbas et al. 2023, arXiv:2303.09540): k-means the corpus embeddings,
  * then look for near-duplicates ONLY within a cluster — the standard
  * way to bound the pair search when the corpus is too large for any
  * global candidate structure.
  *
  * The k-means here is Lloyd's algorithm run on the int8-QUANTIZED
  * vectors with exact integer arithmetic end to end, so the DuckDB
  * oracle replays training bit-for-bit (the same reason the superstep
  * family uses scaled BIGINT rank mass):
  *
  *   - distance   = squared Euclidean on int8 components — exact BIGINT
  *     (<= 64 * 254^2 ~ 4.1e6, no overflow, no float summation order);
  *   - assignment = argmin(dist, tie -> smaller centroid id) via a
  *     map-side-combinable packed-long `min(dist * 2^16 + c)` groupBy —
  *     never a global window;
  *   - update     = elementwise floor(sum/count): `(s - pmod(s, cnt))
  *     div cnt` — s - pmod is an exact multiple of cnt, so BOTH engines'
  *     integer divisions agree regardless of their negative-division
  *     convention;
  *   - seeds      = the k vectors with the smallest md5(vec_id) (the
  *     portable hash order d_domain_mix established), ids 0..k-1 in
  *     hash order. Seeding from actual corpus points keeps every
  *     centroid inside the data.
  *
  * k follows the same exact-integer ladder as the IVF dedup cells
  * (k = 2^ceil(log4 n) >= sqrt(n)): assignment costs n*k integer ops
  * and within-cluster verification ~ n^2/k, so k ~ sqrt(n) balances
  * the two at O(n^1.5) — the identical law [[VectorIndex.dedupCellBits]]
  * documents, reused verbatim so the two sizing rules cannot drift.
  *
  * Scale shape at 100 TB: every assignment pass is MAP-ONLY against
  * broadcast centroids (k rows); each update is ONE shuffle of k keys
  * with algebraic (map-side partial) sums; seed selection is a top-k
  * (TakeOrderedAndProject), not a global sort. The only window runs
  * over the k seed rows. Iteration count is fixed (Iters = 3) — like
  * the unrolled PageRank oracle, a bounded loop both engines replay.
  */
object SemanticCluster {

  private val Dims = 64

  /** Fixed Lloyd iteration budget: cents0 = seeds; i-th pass assigns
    * against cents(i-1) and rebuilds cents(i); the REGISTERED output is
    * the Iters-th assignment (the one that built the final centroids). */
  val Iters = 3

  /** Centroid-training sample bound (the PqIndex.TrainSample
    * discipline, measured there: full-corpus training at the 100x
    * point paid iters corpus-sized assignment shuffles; training on
    * the md5-order sample and ENCODING the corpus once cut
    * sim_pq_codes 764 -> 29s). k itself still follows the full-corpus
    * sqrt ladder, and the final assignment — the inverted-list /
    * SemDeDup artifact — is exact over the whole corpus. At every
    * verify SF the corpus is under the bound, so results are
    * bit-identical to full-corpus training. */
  val TrainSample = 16384

  /** embeddings -> (vec_id, q) with q the int8-in-long quantization —
    * the byte-per-dim representation the whole distance loop runs on. */
  private def quantDf(s: SparkSession, d: String): DataFrame =
    Quantize.quantized(Tables.embeddings(s, d)).select(col("vec_id"), col("q"))

  /** Exact integer squared Euclidean distance via the dot identity
    * ||q - c||^2 = q.q - 2 q.c + c.c, so the per-pair inner loop is ONE
    * codegen'd [[graft.functions.ArrayDotLong]] (a zip_with/aggregate
    * HOF pair is interpreted per row — measured ~4x slower across the
    * n*k assignment product). q.q and c.c are precomputed per side. */
  private def sqDist(qq: Column, q: Column, cm: Column, cc: Column): Column =
    qq - lit(2L) * array_dot_long(q, cm) + cc

  /** k seed centroids in md5(vec_id) order. The row_number window runs
    * over k rows only (the limit is a TakeOrderedAndProject top-k, so
    * no global sort reaches the window). */
  private def seedCents(qdf: DataFrame, k: Int): DataFrame = {
    val top = qdf
      .select(col("vec_id"), col("q"),
        md5(col("vec_id").cast("string")).as("h"))
      .orderBy(col("h"), col("vec_id"))
      .limit(k)
    val w = Window.orderBy(col("h"), col("vec_id"))
    top
      .withColumn("c", (row_number().over(w) - 1).cast("long"))
      .select(col("c"), col("q").as("cm"))
  }

  /** One Lloyd assignment pass: nearest centroid per vector, ties to
    * the smaller centroid id. The argmin is a single packed-long
    * `min(dist * 65536 + c)` — exactly lexicographic (dist, c) order
    * because c < k <= 2^16 and dist <= 64 * 254^2 < 2^32 — so the
    * aggregate stays a codegen'd, map-side-combinable HashAggregate
    * (a min over a struct falls back to SortAggregate and drags the
    * 64-element q array through a 128k-row sort: measured 3.6s warm at
    * sf0.1 vs 0.9s packed). `q` rides along as first(q): constant per
    * vec_id, so the value is deterministic — the update step needs it
    * and this saves a self-join per iteration. */
  private def assign(qdf: DataFrame, cents: DataFrame): DataFrame =
    qdf.withColumn("qq", array_dot_long(col("q"), col("q")))
      .crossJoin(broadcast(
        cents.withColumn("cc", array_dot_long(col("cm"), col("cm")))))
      .withColumn("enc",
        sqDist(col("qq"), col("q"), col("cm"), col("cc")) * lit(65536L)
          + col("c"))
      .groupBy(col("vec_id"))
      .agg(min(col("enc")).as("enc"), first(col("q")).as("q"))
      .select(col("vec_id"),
        pmod(col("enc"), lit(65536L)).as("c"),
        expr("enc div 65536").as("dist"), col("q"))

  /** Centroid update: elementwise floor(sum/count) keeps components in
    * [-127, 127], so the next pass's distances stay in the same small
    * integer range. Sums stay far under 2^53 even at 1e9-member
    * clusters (|s| <= 127 * members), and `div` is exact BIGINT. */
  private def update(asg: DataFrame): DataFrame = {
    val sums = (0 until Dims).map(i =>
      sum(element_at(col("q"), i + 1)).as(s"s$i"))
    val aggs = sums :+ count(lit(1)).as("cnt")
    asg.groupBy(col("c"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("c"), array((0 until Dims).map(i =>
        expr(s"(s$i - pmod(s$i, cnt)) div cnt")): _*).as("cm"))
  }

  /** Full pipeline over any (vec_id, q) frame; `iters` exposed so the
    * spec can assert Lloyd's inertia descent. Result: one row per
    * vector — (vec_id, c, dist). */
  def clustersOf(qdf0: DataFrame, iters: Int = Iters): DataFrame =
    trainAssign(qdf0, iters)._2
      .select(col("vec_id"), col("c"), col("dist")).orderBy(col("vec_id"))

  /** Training + assignment, returning BOTH the final centroids (the
    * ones the last assignment ran against — what a probe must use) and
    * the assignment: the coarse-quantizer seam IVF-PQ composes on. */
  def trainAssign(qdf0: DataFrame, iters: Int = Iters): (DataFrame, DataFrame) = {
    val n = qdf0.count()
    val k = 1 << VectorIndex.dedupCellBits(n)
    // The bench-scale embeddings file is one parquet row group -> one
    // partition, which would serialize every Lloyd pass onto one core.
    // Spread it ONLY in that degenerate case: at real corpus scale the
    // scan is already parallel and a blanket repartition would be a
    // full-corpus shuffle for nothing.
    val par = qdf0.sparkSession.sparkContext.defaultParallelism
    val qdf =
      if (qdf0.rdd.getNumPartitions < math.min(4, par)) qdf0.repartition(par)
      else qdf0
    // TRAIN on the bounded md5-order sample (== the corpus at verify
    // SFs), then one corpus ENCODE pass that carries nothing but the
    // packed code through its aggregate (update needs q; encode
    // doesn't — at the 100x point the q-dragging corpus aggregate was
    // the spill).
    val sample = qdf
      .select(col("vec_id"), col("q"),
        md5(col("vec_id").cast("string")).as("h"))
      .orderBy(col("h"), col("vec_id"))
      .limit(TrainSample)
      .select(col("vec_id"), col("q"))
    var cents = seedCents(qdf, k)
    var i = 0
    while (i < iters - 1) {
      cents = update(assign(sample, cents))
      i += 1
    }
    (cents, encodeAssign(qdf, cents))
  }

  /** The corpus encode pass: [[assign]]'s packed argmin with only the
    * 1-long code riding the aggregate. */
  private def encodeAssign(qdf: DataFrame, cents: DataFrame): DataFrame =
    qdf.withColumn("qq", array_dot_long(col("q"), col("q")))
      .crossJoin(broadcast(
        cents.withColumn("cc", array_dot_long(col("cm"), col("cm")))))
      .withColumn("enc",
        sqDist(col("qq"), col("q"), col("cm"), col("cc")) * lit(65536L)
          + col("c"))
      .groupBy(col("vec_id"))
      .agg(min(col("enc")).as("enc"))
      .select(col("vec_id"),
        pmod(col("enc"), lit(65536L)).as("c"),
        expr("enc div 65536").as("dist"))

  // Session-scoped trained coarse quantizer (the PqIndex/ExactBaselines
  // discipline): d_cluster_kmeans, d_dedup_semantic, and the IVF-PQ
  // probe all need the SAME (centroids, assignment) — at corpus scale
  // the inverted-list assignment is the maintained artifact, so a
  // session pays ONE training. localCheckpointed; memoized as the
  // graft.SessionCaches "kmeans" family; Bench builds it in a timed
  // _setup_kmeans slot so consumers report marginal cost.
  /** The session's trained (final centroids, assignment) for this sf. */
  def trainedFor(s: SparkSession, d: String): (DataFrame, DataFrame) =
    graft.SessionCaches.memo(s, "kmeans", d) {
      val (cents, asg) = trainAssign(quantDf(s, d))
      (cents.localCheckpoint(true), asg.localCheckpoint(true))
    }

  def clusters(s: SparkSession, d: String): DataFrame =
    trainedFor(s, d)._2
      .select(col("vec_id"), col("c"), col("dist")).orderBy(col("vec_id"))

  // ---- oracle SQL (identical algorithm, unrolled) -----------------------

  private[pipeline] val quantCtes =
    """e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
      |  FROM embeddings),
      |mm AS (
      |  SELECT vec_id, vd, list_max(list_transform(vd, x -> abs(x))) AS m FROM e),
      |qt AS (
      |  SELECT vec_id,
      |    list_transform(vd, x -> CASE WHEN m = 0 THEN 0
      |      ELSE CAST(floor(x * 127.0 / m + 0.5) AS BIGINT) END) AS q
      |  FROM mm)""".stripMargin

  private def seedsCtes: String =
    s"""bitsv AS (SELECT ${VectorIndex.dedupCellBitsSql("SELECT count(*) FROM qt")} AS bits),
       |ksamp AS (
       |  SELECT vec_id, q FROM (
       |    SELECT vec_id, q, row_number() OVER (
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM qt)
       |  WHERE rn <= $TrainSample),
       |cents0 AS (
       |  SELECT CAST(rn - 1 AS BIGINT) AS c, q AS cm FROM (
       |    SELECT q, row_number() OVER (
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM qt)
       |  WHERE rn <= (SELECT 1 << bits FROM bitsv))""".stripMargin

  /** Training passes (i < Iters) assign the SAMPLE; the final pass is
    * the corpus ENCODE. */
  private def assignCte(i: Int): String = {
    val src = if (i < Iters) "ksamp" else "qt"
    s"""asg$i AS (
       |  SELECT vec_id, q, c, dist FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY dist, c) AS rk FROM (
       |      SELECT t.vec_id, t.q, c.c,
       |        list_sum(list_transform(generate_series(1, $Dims),
       |          j -> (t.q[j] - c.cm[j]) * (t.q[j] - c.cm[j]))) AS dist
       |      FROM $src t CROSS JOIN cents${i - 1} c))
       |  WHERE rk = 1)""".stripMargin
  }

  private def updateCte(i: Int): String = {
    val sums = (0 until Dims).map(j => s"sum(q[${j + 1}]) AS s$j").mkString(", ")
    val fds = (0 until Dims)
      .map(j => s"CAST((s$j - ((s$j % cnt + cnt) % cnt)) // cnt AS BIGINT)")
      .mkString(", ")
    s"""cents$i AS (
       |  SELECT c, list_value($fds) AS cm FROM (
       |    SELECT c, count(*) AS cnt, $sums FROM asg$i GROUP BY c))""".stripMargin
  }

  /** Lloyd chain WITHOUT the quantization prefix (for composition with
    * other chains that already define qt): ends in asg{Iters} (vec_id,
    * q, c, dist); the final centroids the last assignment ran against
    * are cents{Iters - 1}. */
  private[pipeline] def lloydCtes: String = {
    val iterCtes = (1 to Iters).flatMap { i =>
      if (i < Iters) Seq(assignCte(i), updateCte(i)) else Seq(assignCte(i))
    }
    (Seq(seedsCtes) ++ iterCtes).mkString(",\n")
  }

  /** Name of the final-assignment / final-centroid CTEs in lloydCtes. */
  private[pipeline] val FinalAsgCte = s"asg$Iters"
  private[pipeline] val FinalCentsCte = s"cents${Iters - 1}"

  /** CTE chain ending in asg{Iters} (vec_id, q, c, dist). */
  private def kmeansCtes: String =
    Seq(quantCtes, lloydCtes).mkString(",\n")

  val clusterQ: Q = Q(
    "d_cluster_kmeans",
    Some(
      s"""WITH $kmeansCtes
         |SELECT vec_id, c, CAST(dist AS BIGINT) AS dist
         |FROM asg$Iters ORDER BY vec_id""".stripMargin),
    (s, d) => clusters(s, d))

  /** SemDeDup proper: candidate pairs = same final cluster, verified by
    * the SAME exact-cosine threshold as the other embedding-dedup paths
    * (0.45 band). Every reported pair is a true near-dup; recall is
    * bounded by cluster purity — SemanticClusterSpec measures it against
    * the exact all-pairs baseline. Each vector lands in exactly one
    * cluster, so the self-join needs no distinct. */
  val dedupSemanticQ: Q = Q(
    "d_dedup_semantic",
    Some(
      s"""WITH $kmeansCtes,
         |n AS (
         |  ${VectorIndex.normedSql}),
         |cand AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM asg$Iters a JOIN asg$Iters b
         |    ON a.c = b.c AND a.vec_id < b.vec_id),
         |${VectorIndex.verifySql("cand")}""".stripMargin),
    (s, d) => {
      val asg = clusters(s, d).select(col("vec_id"), col("c"))
      val cand = asg.select(col("vec_id").as("a_id"), col("c"))
        .join(asg.select(col("vec_id").as("b_id"), col("c")), "c")
        .where(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"))
      VectorIndex.cosineVerify(cand, VectorIndex.normed(s, d))
    })

  val all: Seq[Q] = Seq(clusterQ, dedupSemanticQ)
}

package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.analytics.Superstep
import graft.functions.GraftFunctions.array_dot_long
import graft.registry.Q

/** Greedy k-center coreset selection (Gonzalez, TCS 1985) — the
  * farthest-point traversal behind diversity-driven training-data
  * selection (coreset active learning, Sener & Savarese ICLR 2018):
  * pick the doc whose embedding is FARTHEST from everything already
  * kept, k times. The selected set 2-approximates the optimal k-center
  * cover, and the recorded radius sequence is the coverage guarantee
  * itself (every corpus vector is within radius_k of some center).
  *
  * Exact-integer engine parity: embeddings are fixed-point quantized
  * GLOBALLY at 1e3 (q_i = floor(v_i · 1000 + 0.5) — identical IEEE
  * ops in Spark and DuckDB, the [[Quantize]] discipline). Unlike the
  * ANN stack's PER-VECTOR int8 scheme, the global scale is an isometry
  * up to ±0.5e-3 per coordinate — k-center compares distances ACROSS
  * vectors, so per-vector scales would distort the argmax. All
  * distances are then exact BIGINT squared-L2 via the codegen'd
  * integer dot ([[graft.functions.ArrayDotLong]]):
  * d²(a,b) = |a|² + |b|² − 2·a·b. Ties break to the smallest vec_id;
  * the seed is the smallest vec_id — fully deterministic, so the
  * unrolled oracle replays the traversal bit-for-bit.
  *
  * Scale shape: state is ONE row per vector (vec_id, q, |q|²,
  * min-dist-to-selected, selected?) — never a pairwise frame; each of
  * the k rounds is a narrow map against a 1-row broadcast center plus
  * two scalar aggregations (max distance, min id at that distance).
  * Total work O(n·k·dim) with no shuffle growth in n; the 1-row
  * cross joins are the audited bounded-broadcast pattern. At 100 TB
  * the same loop runs unchanged — the only materialized artifacts per
  * round are one Long triple and the refreshed per-vector state.
  */
object Coreset {

  val K = 8

  /** (vec_id, q long[], l2 BIGINT) under the global 1e3 fixed-point
    * quantization, from any frame with (vec_id, embedding num[]). */
  def fixedPoint(emb: DataFrame): DataFrame =
    emb.select(
        col("vec_id"),
        transform(col("embedding"), x =>
          floor(x.cast("double") * lit(1000.0) + lit(0.5))).as("q"))
      .withColumn("l2", array_dot_long(col("q"), col("q")))

  /** Greedy k-center rows (rnd 0-based, vec_id, radius) — radius is
    * the k-center objective BEFORE that center was added (the distance
    * of the chosen point to the previously-selected set, monotone
    * non-increasing); the seed's radius is -1 (no prior set). Stops
    * early when fewer than k distinct vectors exist. */
  def kcenter(spark: SparkSession, emb: DataFrame, k: Int = K): DataFrame =
    // every join is against a broadcast 1-row center and every aggregate
    // is global, so no keyed shuffle depends on the partition count
    Superstep.run(spark, "coreset", rows = 0L) { loop =>
      val base = fixedPoint(emb)
      val seed = base.agg(min(col("vec_id")).as("cid"))
      val (seedRow, nSeed, _) = loop.ckpt(
        base.join(broadcast(seed), col("vec_id") === col("cid"))
          .select(col("cid"), col("q").as("cq"), col("l2").as("cl2"),
            lit(-1L).as("radius")))
      loop.keep(seedRow)
      var selected = List(seedRow.select(lit(0L).as("rnd"),
        col("cid").as("vec_id"), col("radius")))

      // state: one row per vector; mindist = exact d² to the closest
      // selected center so far
      var (state, _, _) = loop.ckpt(base.crossJoin(broadcast(seedRow))
        .select(col("vec_id"), col("q"), col("l2"),
          (col("l2") + col("cl2")
            - lit(2L) * array_dot_long(col("q"), col("cq"))).as("mindist"),
          (col("vec_id") === col("cid")).as("sel")))

      var r = 1
      var exhausted = nSeed == 0L
      while (r < k && !exhausted) {
        val cand = state.filter(!col("sel"))
        val maxd = cand.agg(max(col("mindist")).as("maxd"))
        val pick = cand.join(broadcast(maxd), col("mindist") === col("maxd"))
          .agg(min(col("vec_id")).as("cid"), max(col("maxd")).as("radius"))
        val (centerRow, nCenter, _) = loop.step(
          state.join(broadcast(pick), col("vec_id") === col("cid"))
            .select(col("cid"), col("q").as("cq"), col("l2").as("cl2"),
              col("radius")))
        if (nCenter == 0L) exhausted = true
        else {
          loop.keep(centerRow)
          selected ::= centerRow.select(lit(r.toLong).as("rnd"),
            col("cid").as("vec_id"), col("radius"))
          val (next, _, _) = loop.ckpt(state.crossJoin(broadcast(centerRow))
            .select(col("vec_id"), col("q"), col("l2"),
              least(col("mindist"),
                col("l2") + col("cl2")
                  - lit(2L) * array_dot_long(col("q"), col("cq"))).as("mindist"),
              (col("sel") || col("vec_id") === col("cid")).as("sel")))
          loop.free(state)
          state = next
        }
        r += 1
      }
      selected.reverse.reduce(_ union _)
    }

  // ---- registry entry ---------------------------------------------------

  private def dotSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i])) AS BIGINT)"

  private def oracleSql(k: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH qa AS MATERIALIZED (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS q
      |  FROM embeddings),
      |qb AS MATERIALIZED (
      |  SELECT vec_id, q, ${dotSql("q", "q")} AS l2 FROM qa),
      |c0 AS (SELECT min(vec_id) AS cid FROM qb),
      |s0 AS MATERIALIZED (
      |  SELECT a.vec_id, a.q, a.l2,
      |    CAST(a.l2 + c.l2 - 2 * ${dotSql("a.q", "c.q")} AS BIGINT) AS mindist,
      |    a.vec_id = c.cid AS sel
      |  FROM qb a CROSS JOIN
      |    (SELECT b.vec_id AS cid, b.q, b.l2 FROM qb b
      |     JOIN c0 ON b.vec_id = c0.cid) c)""".stripMargin)
    for (r <- 1 until k) {
      sb.append(s""",
        |m$r AS (SELECT max(mindist) AS maxd FROM s${r - 1} WHERE NOT sel),
        |p$r AS (SELECT min(a.vec_id) AS cid, max(m$r.maxd) AS radius
        |  FROM s${r - 1} a, m$r
        |  WHERE NOT a.sel AND a.mindist = m$r.maxd),
        |s$r AS MATERIALIZED (
        |  SELECT a.vec_id, a.q, a.l2,
        |    least(a.mindist,
        |      CAST(a.l2 + c.l2 - 2 * ${dotSql("a.q", "c.q")} AS BIGINT)) AS mindist,
        |    a.sel OR a.vec_id = c.cid AS sel
        |  FROM s${r - 1} a CROSS JOIN
        |    (SELECT b.vec_id AS cid, b.q, b.l2 FROM s${r - 1} b
        |     JOIN p$r ON b.vec_id = p$r.cid) c)""".stripMargin)
    }
    sb.append(s"""
      |SELECT rnd, vec_id, radius FROM (
      |  SELECT CAST(0 AS BIGINT) AS rnd, cid AS vec_id,
      |    CAST(-1 AS BIGINT) AS radius FROM c0""".stripMargin)
    // `WHERE cid IS NOT NULL`: with fewer than k distinct vectors the
    // candidate set drains, p$r's GROUP-BY-less aggregate still emits
    // one all-NULL row, and the Spark side early-stops instead — the
    // guard keeps both sides at "selected set only"
    for (r <- 1 until k)
      sb.append(s"""
        |  UNION ALL SELECT CAST($r AS BIGINT), cid, radius FROM p$r
        |    WHERE cid IS NOT NULL""".stripMargin)
    sb.append(s"""
      |) ORDER BY rnd""".stripMargin)
    sb.toString
  }

  val kcenterQ: Q = Q(
    "d_coreset_kcenter",
    Some(oracleSql(K)),
    (s, d) =>
      kcenter(s, Tables.embeddings(s, d), K).orderBy(col("rnd")))

  def all: Seq[Q] = Seq(kcenterQ)
}

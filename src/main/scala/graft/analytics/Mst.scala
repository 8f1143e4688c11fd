package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.registry.Q

/** Minimum spanning forest by Borůvka's algorithm (1926; the
  * MapReduce/BSP MST of choice — each round every component selects its
  * cheapest outgoing edge, selected edges merge components, repeat;
  * components at least halve per round, so O(log n) rounds).
  *
  * Determinism: edge order is the TOTAL order (w, u, v) on canonical
  * undirected edges (u < v, symmetric weight w = 1 + (u+v) % 10, the
  * SSSP weight derivation made orientation-free), so "the" minimum
  * outgoing edge is unique and the selected forest is a deterministic
  * function of the data — equivalently, the true MST of the
  * lexicographically tie-perturbed weights. Both engines replay it
  * bit-for-bit.
  *
  * Merging without a nested CC loop: each component points at its
  * min-edge partner; because the selection order is total, the only
  * cycles in that pointer graph are MUTUAL pairs, broken by rooting the
  * smaller id — a forest — and POINTER JUMPING (p <- p(p)) flattens it
  * in log2(depth) self-joins instead of a diameter-deep propagation.
  * Jump count and outer rounds are require-gated against the unrolled
  * oracle depths (the g_scc discipline); both jumps and rounds are
  * idempotent past convergence, so fixed unrolls are sound.
  *
  * Scale shape: per round, one (component-keyed) min-aggregation over
  * the live edge list, J tiny self-joins on the component-count-sized
  * pointer table, one relabel join of the edge list, one distinct. The
  * edge list only shrinks; everything is keyed, nothing is sorted
  * globally. */
object Mst {

  /** Outer Borůvka rounds / pointer-jump levels in the unrolled oracle.
    * Measured (Bench's contract block, g_mst_rounds): sf0.001 → rounds 4, max jumps 4;
    * sf0.01 → 5/4; sf0.1 → 7/4 (rounds grow ~log with components, as
    * the halving argument predicts; jump count stays flat — pointer
    * depth halves per jump, and 2^6 = 64 covers any chain the measured
    * depth-16 ceiling could grow into). 12/6 carries ~1.7x round
    * headroom; converged rounds are empty CTEs, so oracle overshoot is
    * nearly free. */
  val RoundsUnroll = 12
  val JumpsUnroll = 6

  /** Canonical undirected weighted edges from a directed edge list. */
  def canonical(edgesRaw: DataFrame): DataFrame =
    edgesRaw.select(
      least(col("src"), col("dst")).as("u"),
      greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .select(col("u"), col("v"),
        (lit(1L) + (col("u") + col("v")) % lit(10L)).as("w"))

  /** The loop self-joins its checkpoints (the jump step is p ⋈ p), so it
    * composes from stats-clean rewraps: a LogicalRDD's propagated
    * sizeInBytes would square per jump and compound per round until the
    * driver livelocks in BigInteger stats math (the g_truss_decomp
    * lesson; the sf0.01 probe wedged at 100% driver CPU without it). */
  def mst(spark: SparkSession, edgesRaw: DataFrame): DataFrame =
    Superstep.run(spark, "mst",
      org.apache.spark.sql.GraftColumnBridge.memoCount(edgesRaw),
      statsClean = true) { loop =>
      // live edges in component space, carrying original endpoints
      var (live, nLive, _) = loop.ckpt(canonical(edgesRaw)
        .select(col("u").as("ca"), col("v").as("cb"),
          col("w"), col("u").as("ou"), col("v").as("ov")))
      loop.input(nLive)
      // a round drops at least the edges it selects
      loop.limit(nLive)
      val picked = scala.collection.mutable.ArrayBuffer[DataFrame]()
      while (nLive > 0) {
        // min outgoing edge per component, under the (w, ou, ov) total
        // order, from BOTH endpoints' perspectives
        val fromA = live.select(col("ca").as("c"), col("cb").as("other"),
          col("w"), col("ou"), col("ov"))
        val fromB = live.select(col("cb").as("c"), col("ca").as("other"),
          col("w"), col("ou"), col("ov"))
        val (sel, _, _) = loop.ckpt(fromA.union(fromB)
          .groupBy(col("c"))
          .agg(min(struct(col("w"), col("ou"), col("ov"), col("other")))
            .as("m"))
          .select(col("c"), col("m.other").as("partner"),
            col("m.w").as("w"), col("m.ou").as("ou"), col("m.ov").as("ov")))
        // selected ORIGINAL edges are served lazily from the sel
        // checkpoint, kept until the result is consumed; the final union
        // dedups globally
        loop.keep(sel)
        picked += sel.select(col("ou"), col("ov"), col("w"))
        // pointer: partner, except the smaller side of a mutual pair roots
        val mutual = sel.select(col("c").as("c2"), col("partner").as("p2"))
        val p0 = sel.join(mutual,
            col("partner") === col("c2") && col("p2") === col("c"), "left")
          .select(col("c"),
            when(col("c2").isNotNull && col("c") < col("partner"), col("c"))
              .otherwise(col("partner")).as("p"))
        // the jump join computes the moved flag itself: the x side
        // already carries the pre-jump pointer (guide §2.4)
        def jump(q: DataFrame): DataFrame =
          q.as("x").join(
            q.select(col("c").as("pc"), col("p").as("pp")).as("y"),
            col("p") === col("pc"))
            .select(col("c"), col("pp").as("p"),
              (col("pp") =!= col("p")).as("chg"))
        // pointer jumping, one checkpointed level per jump, early-stopped
        // on the moved count: a lazily composed fixed depth measured 2.3x
        // slower and two levels per checkpoint 11.8s vs 8.9s (round 8).
        // p0 is not checkpointed: the first jump composes the cheap
        // rooting join over the materialized sel lazily. Stopping at
        // JumpsUnroll while still moving marks the jumps unconverged.
        val pFull = loop.nested("jumps") { j =>
          val out = j.iterate(p0, 0L, "chg", maxRounds = JumpsUnroll)(
            q => jump(q.select(col("c"), col("p"))))((_, _, moved) => moved == 0)
          j.keep(out)
          out
        }
        val p = pFull.select(col("c"), col("p"))
        // relabel live edges into merged-component space; drop loops
        val (nextLive, nNext, _) = loop.step(live
          .join(p.select(col("c").as("ca"), col("p").as("na")), Seq("ca"), "left")
          .join(p.select(col("c").as("cb"), col("p").as("nb")), Seq("cb"), "left")
          .select(coalesce(col("na"), col("ca")).as("ca"),
            coalesce(col("nb"), col("cb")).as("cb"),
            col("w"), col("ou"), col("ov"))
          .filter(col("ca") =!= col("cb"))
          .distinct())
        loop.free(pFull, live)
        live = nextLive
        nLive = nNext
      }
      if (picked.isEmpty)
        spark.range(0).select(col("id").as("ou"), col("id").as("ov"),
          col("id").as("w"))
      else picked.reduce(_ union _).distinct()
    }

  /** This session's latest [[mst]] run: (Borůvka rounds, whether every
    * round's pointer jumping reached its fixpoint within JumpsUnroll). */
  private[graft] def convergence(spark: SparkSession): (Int, Boolean) =
    (Superstep.stats(spark, "mst").fold(-1)(_.rounds),
      Superstep.runs(spark, "mst.jumps").forall(_.converged))

  // ---- registry entry ---------------------------------------------------

  private def oracleSql(roundsD: Int, jumpsD: Int): String = {
    import graft.graph.CitationGraph.edgesSql
    val sb = new StringBuilder
    sb.append(s"""WITH $edgesSql,
      |ec AS MATERIALIZED (
      |  SELECT u, v, CAST(1 + (u + v) % 10 AS BIGINT) AS w FROM (
      |    SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |    FROM edges WHERE src <> dst)),
      |live1 AS MATERIALIZED (SELECT u AS ca, v AS cb, w, u AS ou, v AS ov
      |  FROM ec)""".stripMargin)
    for (r <- 1 to roundsD) {
      // both perspectives -> min outgoing per component
      sb.append(s""",
        |sel$r AS MATERIALIZED (
        |  SELECT c,
        |    min(struct_pack(w := w, ou := ou, ov := ov, other := other)) AS m
        |  FROM (
        |    SELECT ca AS c, cb AS other, w, ou, ov FROM live$r
        |    UNION ALL
        |    SELECT cb AS c, ca AS other, w, ou, ov FROM live$r)
        |  GROUP BY c),
        |selx$r AS MATERIALIZED (
        |  SELECT c, m.other AS partner, m.w AS w, m.ou AS ou, m.ov AS ov
        |  FROM sel$r),
        |pick$r AS MATERIALIZED (
        |  SELECT DISTINCT ou, ov, w FROM selx$r),
        |p${r}_0 AS MATERIALIZED (
        |  SELECT a.c,
        |    CASE WHEN b.c IS NOT NULL AND a.c < a.partner THEN a.c
        |         ELSE a.partner END AS p
        |  FROM selx$r a LEFT JOIN selx$r b
        |    ON a.partner = b.c AND b.partner = a.c)""".stripMargin)
      for (j <- 1 to jumpsD) {
        sb.append(s""",
          |p${r}_$j AS MATERIALIZED (
          |  SELECT x.c, y.p AS p
          |  FROM p${r}_${j - 1} x JOIN p${r}_${j - 1} y ON x.p = y.c)""".stripMargin)
      }
      sb.append(s""",
        |live${r + 1} AS MATERIALIZED (
        |  SELECT DISTINCT coalesce(pa.p, l.ca) AS ca,
        |    coalesce(pb.p, l.cb) AS cb, l.w, l.ou, l.ov
        |  FROM live$r l
        |    LEFT JOIN p${r}_$jumpsD pa ON l.ca = pa.c
        |    LEFT JOIN p${r}_$jumpsD pb ON l.cb = pb.c
        |  WHERE coalesce(pa.p, l.ca) <> coalesce(pb.p, l.cb))""".stripMargin)
    }
    val union = (1 to roundsD).map(r => s"SELECT ou, ov, w FROM pick$r")
      .mkString("\n  UNION ALL ")
    sb.append(s"""
      |SELECT DISTINCT ou AS u, ov AS v, w FROM (
      |  $union)
      |ORDER BY u, v""".stripMargin)
    sb.toString
  }

  val mstQ: Q = Q(
    "g_mst",
    Some(oracleSql(RoundsUnroll, JumpsUnroll)),
    (s, d) => {
      val out = mst(s, graft.graph.CitationGraph.edges(s, d))
        .select(col("ou").as("u"), col("ov").as("v"), col("w"))
        .orderBy(col("u"), col("v"))
      val (rounds, jumpsOk) = convergence(s)
      require(rounds <= RoundsUnroll && jumpsOk,
        s"g_mst converged in (rounds=$rounds, jumpsOk=$jumpsOk) " +
          s"but the unrolled oracle is ($RoundsUnroll, $JumpsUnroll) — " +
          "raise Mst unroll depths")
      out
    })

  def all: Seq[Q] = Seq(mstQ)
}

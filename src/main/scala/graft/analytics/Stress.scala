package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftColumnBridge.Max
import org.apache.spark.sql.functions._

import graft.registry.Q

/** Sampled stress centrality (Shimbel 1953; the path-COUNT sibling of
  * betweenness) — "how many shortest paths ride through this vertex" —
  * from a fixed source sample, by the two-phase Brandes shape
  * (Brandes 2001): a forward level-synchronous BFS accumulating σ
  * (number of shortest source→v paths), then a backward accumulation
  * over the shortest-path DAG. Betweenness proper needs the rational
  * σ_v/σ_w; stress stays in BIGINT the whole way — the engine-parity
  * discipline — via the tail count
  *
  *   T(v) = 1 + Σ_{w : (v,w) edge, d(w) = d(v)+1} T(w)
  *
  * (number of maximal shortest-path continuations from v, counting v
  * itself), giving stress(v) = Σ_s σ_s(v) · T_s(v): the number of
  * (source, target, shortest-path) triples visiting v. Both the BFS
  * and the backward accumulation are idempotent once converged, so a
  * fixed unroll with require-gated measured depths is a sound oracle
  * (the g_scc discipline). Sources: vertices with id < SourceMax — a
  * deterministic sample, the PPR/walks convention.
  *
  * Scale shape: state is (source, vertex) keyed — 8x the vertex frame,
  * constant in |E|; each forward round is one edge join + one (s, dst)
  * sum-aggregation, each backward round one DAG join + (s, v) sum; the
  * DAG is derived once. Overflow honesty: σ and T are path counts and
  * can explode on adversarial graphs — require gates bound max(σ),
  * max(T) so a corpus that would overflow 2^62 fails LOUDLY instead of
  * silently wrapping (Spark BIGINT sum wraps; DuckDB widens to
  * HUGEINT — the gate keeps both inside BIGINT where they agree). */
object Stress {

  val SourceMax = 8L

  /** BFS rounds (= max depth); backward uses the same unroll. Measured
    * (the `stress.forward` LoopStats rounds): depth reached
    * sf0.001 → 4, sf0.01 → 5, sf0.1 → 7; backward converges in
    * depth+1. 10 carries the SSSP headroom convention. */
  val Rounds = 10

  /** Deduped, self-loop-free, src-repartitioned edge frame — the layout
    * every phase joins against. NOT checkpointed here (callers decide
    * whether it is transient or session-pinned). */
  private[analytics] def prep(edgesRaw: DataFrame): DataFrame =
    edgesRaw.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .repartition(col("src"))

  /** One materialized sampled BFS: the prepped edges, the (s, v, d, sig)
    * level frame, the max depth reached, the edge count the loops are
    * sized from, whether the frontier DRAINED before the round cap (the
    * flag that certifies eccentricity bounds, see [[Eccentricity]]), and
    * max(sig) for the overflow gate. */
  private[graft] final case class Levels(edges: DataFrame,
      reached: DataFrame, maxDepth: Int, edgeCount: Long, drained: Boolean,
      maxSigma: Long)

  /** Forward level-synchronous BFS from the id < sourceMax sample over a
    * prepped, checkpointed edge frame, as nested loop `forward`: returns
    * (reached, maxDepth, drained, maxSigma) with `reached` owned by
    * `loop`. Shared by stress (which continues with the backward phase)
    * and harmonic centrality and eccentricity (which only need the
    * levels). Rounds past the BFS fixpoint are idempotent, so the
    * unrolled oracle runs all of them and matches; maxDepth bounds the
    * backward rounds needed (T_i is exact for DAG height <= i). */
  private[analytics] def forward(loop: Superstep.Loop, e: DataFrame,
      sourceMax: Long, rounds: Int): (DataFrame, Int, Boolean, Long) =
    loop.nested("forward") { f =>
      val verts = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      // the per-round stat is max(sig) over the reached rows
      val (reached0, nReached0, sig0) = f.ckpt(
        verts.filter(col("id") < sourceMax)
          .select(col("id").as("s"), col("id").as("v"),
            lit(0L).as("d"), lit(1L).as("sig")), "sig", Max)
      var k = 0
      var drained = false
      var maxSigma = sig0
      val reached = f.iterate(reached0, nReached0, "sig", Max, rounds) { r =>
        k += 1
        val frontier = r.filter(col("d") === (k - 1).toLong)
        val cand = frontier.join(e, col("v") === col("src"))
          .groupBy(col("s"), col("dst"))
          .agg(sum(col("sig")).as("nsig"))
          .select(col("s"), col("dst").as("v"), col("nsig"))
        val fresh = cand.join(r.select(col("s"), col("v")),
            Seq("s", "v"), "left_anti")
          .select(col("s"), col("v"), lit(k.toLong).as("d"),
            col("nsig").as("sig"))
        r.union(fresh)
      } { (n, prev, sig) =>
        maxSigma = sig
        drained = n == prev
        drained
      }
      f.keep(reached)
      (reached, if (drained) k - 1 else k, drained, maxSigma)
    }

  def stress(spark: SparkSession, edgesRaw: DataFrame,
      sourceMax: Long = SourceMax, rounds: Int = Rounds): DataFrame =
    Superstep.run(spark, "stress",
      org.apache.spark.sql.GraftColumnBridge.memoCount(edgesRaw)) { loop =>
      val (e, _, _) = loop.ckpt(prep(edgesRaw))
      val (reached, maxDepth, _, maxSigma) = forward(loop, e, sourceMax, rounds)
      loop.keep(reached)
      backward(loop, e, reached, maxDepth, rounds, maxSigma)
    }

  /** DAG derivation + backward tail accumulation + overflow gate, on
    * `loop` itself (its per-round stat is max(T)). The level frame is
    * read, never freed, here — the caller owns it (it may be the
    * session-pinned cache). */
  private def backward(loop: Superstep.Loop, e: DataFrame,
      reached: DataFrame, maxDepth: Int, rounds: Int,
      maxSigma: Long): DataFrame = {
    // shortest-path DAG: (s, u, w) with d(w) = d(u) + 1
    val rFrom = reached.select(col("s"), col("v").as("u"), col("d").as("du"))
    val rTo = reached.select(col("s").as("s2"), col("v").as("w"),
      col("d").as("dw"))
    val (dag2, _, _) = loop.ckpt(rFrom.join(e, col("u") === col("src"))
      .join(rTo, col("s") === col("s2") && col("dst") === col("w"))
      .filter(col("dw") === col("du") + 1L)
      .select(col("s"), col("u"), col("w")))

    // backward: T_0 = 1; T_i(v) = 1 + sum over DAG successors T_{i-1}(w)
    var (tail, _, maxTail) = loop.ckpt(
      reached.select(col("s"), col("v"), lit(1L).as("t")), "t", Max)
    for (_ <- 1 to math.min(rounds, maxDepth + 1)) {
      // join DAG successors' current T onto each u
      val ss = dag2.join(
        tail.select(col("s").as("ts"), col("v").as("tw"), col("t")),
        col("s") === col("ts") && col("w") === col("tw"))
        .groupBy(col("s"), col("u")).agg(sum(col("t")).as("st"))
        .select(col("s"), col("u").as("v"), col("st"))
      val (next, _, m) = loop.step(reached.select(col("s"), col("v"))
        .join(ss.hint("shuffle_hash"), Seq("s", "v"), "left")
        .select(col("s"), col("v"),
          (lit(1L) + coalesce(col("st"), lit(0L))).as("t")), "t", Max)
      loop.free(tail)
      tail = next
      maxTail = m
    }
    // path counts near 2^62 would wrap in Spark's BIGINT sum while DuckDB
    // widens to HUGEINT; the gate keeps both inside BIGINT where they agree
    require(maxSigma < (1L << 31) && maxTail < (1L << 31),
      s"stress centrality path counts near overflow (maxSigma=" +
        s"$maxSigma, maxTail=$maxTail) — results would wrap in " +
        "BIGINT; shrink the source sample or the round count")
    loop.keep(tail)
    reached.select(col("s"), col("v"), col("sig"))
      .join(tail, Seq("s", "v"))
      .groupBy(col("v")).agg(sum(col("sig") * col("t")).as("stress"))
      .select(col("v").as("id"), col("stress"))
  }

  /** Session-memoized sampled BFS per dataset: g_stress and g_harmonic
    * both consume the (s, v, d, sig) level frame, and a session
    * composing several centrality analytics should pay the BFS ONCE
    * (the [[Scc.assignmentFor]] discipline). Both frames are
    * localCheckpoints — |sample| × |V| rows of four longs plus the
    * deduped edges. Bench times the build as `_setup_bfs_levels`, so
    * the g_stress/g_harmonic/g_eccentricity numbers are marginal
    * cost. */
  private[graft] def levelsFor(spark: SparkSession, dir: String): Levels =
    graft.SessionCaches.memo(spark, "bfs_levels", dir) {
      val raw = graft.graph.CitationGraph.edges(spark, dir)
      val eCnt = raw.count()
      Superstep.run(spark, "bfs_levels", eCnt) { loop =>
        val (e, _, _) = loop.ckpt(prep(raw))
        val (reached, maxDepth, drained, maxSigma) =
          forward(loop, e, SourceMax, Rounds)
        loop.detach(e, reached)
        Levels(e, reached, maxDepth, eCnt, drained, maxSigma)
      }
    }

  /** The sampled levels over an arbitrary edge frame (specs, standalone
    * paths), aggregated by `agg` as loop `name`; the level frame backs
    * the lazy result. */
  private[analytics] def aggregateSampled(spark: SparkSession, name: String,
      edgesRaw: DataFrame, sourceMax: Long, rounds: Int)(
      agg: DataFrame => DataFrame): DataFrame =
    Superstep.run(spark, name,
      org.apache.spark.sql.GraftColumnBridge.memoCount(edgesRaw)) { loop =>
      val (e, _, _) = loop.ckpt(prep(edgesRaw))
      val (reached, _, _, _) = forward(loop, e, sourceMax, rounds)
      loop.keep(reached)
      agg(reached)
    }

  /** Whether the session-cached sampled BFS for `dir` reached fixpoint
    * (frontier drained before the Rounds cap). Consumed by
    * [[Eccentricity]]: the sampled radius upper bound is only CERTIFIED
    * when this is true — a truncated BFS underestimates eccentricities
    * (ADVICE r7 #4). */
  def bfsDrainedFor(spark: SparkSession, dir: String): Boolean =
    levelsFor(spark, dir).drained

  /** Standalone drained probe over an arbitrary edge frame (same
    * forward phase, nothing cached) — the flag callers of
    * [[Eccentricity.eccentricity]] need before trusting its radius
    * bound. */
  def bfsDrained(spark: SparkSession, edgesRaw: DataFrame,
      sourceMax: Long = SourceMax, rounds: Int = Rounds): Boolean =
    Superstep.run(spark, "bfs_drained",
      org.apache.spark.sql.GraftColumnBridge.memoCount(edgesRaw)) { loop =>
      val (e, _, _) = loop.ckpt(prep(edgesRaw))
      forward(loop, e, sourceMax, rounds)._3
    }

  /** Registry path: backward phase over the session-cached levels. */
  def stressFor(spark: SparkSession, dir: String): DataFrame = {
    val lv = levelsFor(spark, dir)
    Superstep.run(spark, "stress", lv.edgeCount) { loop =>
      backward(loop, lv.edges, lv.reached, lv.maxDepth, Rounds, lv.maxSigma)
    }
  }

  // ---- registry entry ---------------------------------------------------

  private def oracleSql(sourceMax: Long, rounds: Int): String = {
    import graft.graph.CitationGraph.edgesSql
    val sb = new StringBuilder
    sb.append(s"""WITH $edgesSql,
      |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
      |v AS (SELECT DISTINCT id FROM
      |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
      |r0 AS MATERIALIZED (SELECT id AS s, id AS v, CAST(0 AS BIGINT) AS d,
      |  CAST(1 AS BIGINT) AS sig FROM v WHERE id < $sourceMax)""".stripMargin)
    for (k <- 1 to rounds) {
      sb.append(s""",
        |r$k AS MATERIALIZED (
        |  SELECT s, v, d, sig FROM r${k - 1}
        |  UNION ALL
        |  SELECT c.s, c.v, CAST($k AS BIGINT) AS d, c.nsig AS sig FROM (
        |    SELECT f.s, e.dst AS v, CAST(sum(f.sig) AS BIGINT) AS nsig
        |    FROM r${k - 1} f JOIN e ON e.src = f.v
        |    WHERE f.d = ${k - 1}
        |    GROUP BY f.s, e.dst) c
        |  WHERE NOT EXISTS (SELECT 1 FROM r${k - 1} p
        |    WHERE p.s = c.s AND p.v = c.v))""".stripMargin)
    }
    sb.append(s""",
      |dag AS MATERIALIZED (
      |  SELECT a.s, a.v AS u, b.v AS w
      |  FROM r$rounds a JOIN e ON e.src = a.v
      |    JOIN r$rounds b ON b.s = a.s AND b.v = e.dst
      |  WHERE b.d = a.d + 1),
      |t0 AS (SELECT s, v, CAST(1 AS BIGINT) AS t FROM r$rounds)""".stripMargin)
    for (i <- 1 to rounds) {
      sb.append(s""",
        |t$i AS MATERIALIZED (
        |  SELECT r.s, r.v,
        |    CAST(1 + coalesce(x.st, 0) AS BIGINT) AS t
        |  FROM r$rounds r LEFT JOIN (
        |    SELECT dag.s, dag.u AS v, CAST(sum(p.t) AS BIGINT) AS st
        |    FROM dag JOIN t${i - 1} p ON p.s = dag.s AND p.v = dag.w
        |    GROUP BY dag.s, dag.u) x ON x.s = r.s AND x.v = r.v)""".stripMargin)
    }
    sb.append(s"""
      |SELECT r.v AS id, CAST(sum(r.sig * t.t) AS BIGINT) AS stress
      |FROM r$rounds r JOIN t$rounds t ON t.s = r.s AND t.v = r.v
      |GROUP BY r.v
      |ORDER BY r.v""".stripMargin)
    sb.toString
  }

  val stressQ: Q = Q(
    "g_stress",
    Some(oracleSql(SourceMax, Rounds)),
    (s, d) => stressFor(s, d).orderBy(col("id")))

  def all: Seq[Q] = Seq(stressQ)
}

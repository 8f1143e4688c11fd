package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.registry.Q

/** Condensation of the directed graph — contract each SCC to one node —
  * plus the topological DEPTH of each component (longest path, in
  * condensed edges, from any source component). The condensation is a
  * DAG by construction, so depth layering is well-defined; it is the
  * scheduling/lineage primitive over cyclic graphs: "how many
  * dependency waves before this cluster can run", with cycles
  * collapsed first.
  *
  * Composes on g_scc (the assignment is Scc.scc's output, reused, not
  * reimplemented): condensed edges = scc(u) → scc(v) for cross-SCC
  * edges, deduped; depth by longest-path relaxation to its fixpoint —
  * monotone and idempotent past convergence, so the unrolled oracle
  * runs a fixed depth with the same require-gate honesty as g_scc.
  *
  * Scale shape: the two corpus-sized joins (edge endpoints → SCC ids)
  * happen ONCE before the loop; the depth loop then runs entirely on
  * the CONDENSED graph (components, not vertices). Scc's pinned loop
  * and this one run serially (a session pins one [[Superstep]] at a
  * time), with the assignment checkpoint-materialized between them. */
object Condensation {

  /** Longest-path unroll depth; measured fixpoint (COVERAGE.md):
    * sf0.001/sf0.01 → 1 round (the graph is a single SCC — no condensed
    * edges), sf0.1 → 2 (2 components), sf1 → 2 (20 components across
    * the 10 copies). ~5x headroom. */
  val DepthUnroll = 10

  def condensation(spark: SparkSession, edgesRaw: DataFrame): DataFrame = {
    // g_scc's assignment, materialized so its pinned loop fully exits
    // before ours starts; this ad-hoc path (specs, arbitrary edge
    // frames) registry-tracks its own checkpoint for release
    val a = Scc.scc(spark, edgesRaw).localCheckpoint(true)
    CheckpointRegistry.trackFinal(spark, a)
    condensationWith(spark, a, edgesRaw)
  }

  /** Condensation over a PRECOMPUTED (id, scc_id) assignment — the seam
    * the registry query uses with Scc.assignmentFor's session cache, so
    * g_scc and g_condensation in one session pay the SCC loop once. */
  def condensationWith(spark: SparkSession, assign: DataFrame,
      edgesRaw: DataFrame): DataFrame = {
    val e = edgesRaw.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    // condensed edges, materialized before the loop, which is sized from
    // their count
    val (ce, nCe, _) = org.apache.spark.sql.GraftColumnBridge.ckptCounted(e
      .join(assign.select(col("id").as("src"), col("scc_id").as("s1")), "src")
      .join(assign.select(col("id").as("dst"), col("scc_id").as("s2")), "dst")
      .filter(col("s1") =!= col("s2"))
      .select(col("s1").as("src"), col("s2").as("dst")).distinct())
    val sizes = assign.groupBy(col("scc_id")).agg(count(lit(1)).as("size"))
    Superstep.run(spark, "condensation", nCe) { loop =>
      loop.own(ce)
      loop.input(nCe)
      val (depth0, nComp, _) = loop.ckpt(assign.select(col("scc_id")).distinct()
        .select(col("scc_id"), lit(0L).as("depth"), lit(false).as("chg")))
      // the condensation is a DAG by SCC correctness, so depths settle
      // within (longest path + 1) <= |components| rounds: reaching the cap
      // means a cycle, i.e. an SCC assignment bug
      loop.limit(nComp + 1)
      val full = loop.iterate(depth0, nComp, "chg") { s =>
        val depth = s.select(col("scc_id"), col("depth"))
        val relax = depth.join(ce, col("scc_id") === col("src"))
          .groupBy(col("dst")).agg(max(col("depth") + 1L).as("cand"))
          .select(col("dst").as("scc_id"), col("cand"))
        depth.join(relax.hint("shuffle_hash"), Seq("scc_id"), "left")
          .select(col("scc_id"),
            greatest(col("depth"), coalesce(col("cand"), col("depth")))
              .as("depth"),
            (col("cand").isNotNull && col("cand") > col("depth")).as("chg"))
      }((_, _, changed) => changed == 0)
      // `assign` is NOT kept here: the caller owns its lifetime (the
      // registry query passes Scc.assignmentFor's session-pinned cache,
      // which a post-query release would make unrecomputable)
      loop.keep(full)
      full.select(col("scc_id"), col("depth"))
        .join(sizes, "scc_id")
        .select(col("scc_id"), col("depth"), col("size"))
    }
  }

  // ---- registry entry ---------------------------------------------------

  private def oracleSql(depthD: Int): String = {
    val (ctes, union) = Scc.oracleCtes(Scc.OuterDepth, Scc.FwdDepth, Scc.BwdDepth)
    val sb = new StringBuilder
    sb.append(s"WITH $ctes,\n")
    sb.append(s"""scc AS MATERIALIZED (SELECT id, scc_id FROM (
      |  $union)),
      |ce AS MATERIALIZED (SELECT DISTINCT a1.scc_id AS src, a2.scc_id AS dst
      |  FROM e1 e JOIN scc a1 ON e.src = a1.id JOIN scc a2 ON e.dst = a2.id
      |  WHERE a1.scc_id <> a2.scc_id),
      |dep0 AS (SELECT DISTINCT scc_id, CAST(0 AS BIGINT) AS depth FROM scc)""".stripMargin)
    for (k <- 1 to depthD) {
      sb.append(s""",
        |dep$k AS MATERIALIZED (
        |  SELECT p.scc_id,
        |    CAST(CASE WHEN r.cand IS NOT NULL AND r.cand > p.depth
        |      THEN r.cand ELSE p.depth END AS BIGINT) AS depth
        |  FROM dep${k - 1} p LEFT JOIN (
        |    SELECT ce.dst AS scc_id, max(q.depth + 1) AS cand
        |    FROM dep${k - 1} q JOIN ce ON ce.src = q.scc_id
        |    GROUP BY ce.dst) r ON r.scc_id = p.scc_id)""".stripMargin)
    }
    sb.append(s"""
      |SELECT d.scc_id, d.depth, CAST(s.size AS BIGINT) AS size
      |FROM dep$depthD d JOIN (
      |  SELECT scc_id, count(*) AS size FROM scc GROUP BY scc_id) s
      |  ON d.scc_id = s.scc_id
      |ORDER BY d.scc_id""".stripMargin)
    sb.toString
  }

  val condQ: Q = Q(
    "g_condensation",
    Some(oracleSql(DepthUnroll)),
    (s, d) => {
      val out = condensationWith(s, Scc.assignmentFor(s, d),
        graft.graph.CitationGraph.edges(s, d))
        .orderBy(col("scc_id"))
      val rounds = Superstep.stats(s, "condensation").get.rounds
      require(rounds <= DepthUnroll,
        s"g_condensation depth fixpoint took $rounds rounds but " +
          s"the unrolled oracle is depth $DepthUnroll — raise DepthUnroll")
      out
    })

  def all: Seq[Q] = Seq(condQ)
}

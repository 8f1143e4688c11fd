package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.registry.Q

/** Sampled harmonic centrality (Boldi & Vigna, "Axioms for
  * Centrality", Internet Math 2014) — the ranking Common Crawl
  * publishes for its host-level webgraph, which makes it the
  * centrality a web-corpus curation pipeline actually consumes:
  * rank hosts/pages by how reachable they are, then bias crawl and
  * keep decisions toward the center of the graph.
  *
  *   c_H(v) = Σ_{s ≠ v} 1 / d(s, v)
  *
  * summed over sources that REACH v (unreachable sources contribute
  * 0 — harmonic's whole advantage over closeness, which is undefined
  * on disconnected graphs). Exact-integer engine parity: each term is
  * `1e6 div d` (integer division, identical in Spark and DuckDB), so
  * the score is a BIGINT ppm sum, never a float. Sources are the
  * deterministic id < SourceMax sample (the Stress/PPR/walks
  * convention) — the full-graph metric at 100 TB would run the same
  * loop from a HyperANF-style sketch instead; the sampled form IS what
  * the reference-scale pipelines publish (Common Crawl samples too).
  *
  * Scale shape: the levels come from [[Stress.forward]] — ONE sampled
  * BFS implementation serves both centralities, and the registry path
  * reads the session-cached (s, v, d) frame ([[Stress.levelsFor]]), so
  * a session computing both pays the superstep loop once; the harmonic
  * aggregation itself is a single (v)-keyed integer sum over that
  * frame. State is at most |sample| × |V| rows; the BFS early-stops on
  * an empty frontier and rounds past the fixpoint are idempotent, so
  * the fixed-depth unrolled oracle is sound (the g_scc discipline).
  */
object Harmonic {

  val SourceMax: Long = Stress.SourceMax
  val Rounds: Int = Stress.Rounds
  val ScalePpm = 1000000L

  /** (s, v, d) levels → (id, harmonic_ppm), reached-at-d>0 only. */
  private def aggregateLevels(levels: DataFrame): DataFrame =
    levels.filter(col("d") > 0L)
      .groupBy(col("v"))
      .agg(sum(expr(s"$ScalePpm div d")).as("harmonic_ppm"))
      .select(col("v").as("id"), col("harmonic_ppm"))

  /** Standalone path (specs, arbitrary edge frames): runs the shared
    * forward BFS and aggregates it. */
  def harmonic(spark: SparkSession, edgesRaw: DataFrame,
      sourceMax: Long = SourceMax, rounds: Int = Rounds): DataFrame =
    Stress.aggregateSampled(spark, "harmonic", edgesRaw, sourceMax, rounds)(
      aggregateLevels)

  /** Registry path: aggregate over the session-cached sampled BFS. */
  def harmonicFor(spark: SparkSession, dir: String): DataFrame =
    aggregateLevels(Stress.levelsFor(spark, dir).reached)

  // ---- registry entry ---------------------------------------------------

  /** The sampled-BFS CTE chain ending in `r<rounds>` (s, v, d) —
    * shared with the eccentricity oracle ([[Eccentricity]]) exactly as
    * the Spark sides share [[Stress.levelsFor]], so the two oracles
    * replay the SAME traversal. */
  private[analytics] def bfsCtes(sourceMax: Long, rounds: Int): String = {
    import graft.graph.CitationGraph.edgesSql
    val sb = new StringBuilder
    sb.append(s"""$edgesSql,
      |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
      |v AS (SELECT DISTINCT id FROM
      |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
      |r0 AS MATERIALIZED (SELECT id AS s, id AS v, CAST(0 AS BIGINT) AS d
      |  FROM v WHERE id < $sourceMax)""".stripMargin)
    for (k <- 1 to rounds) {
      sb.append(s""",
        |r$k AS MATERIALIZED (
        |  SELECT s, v, d FROM r${k - 1}
        |  UNION ALL
        |  SELECT c.s, c.v, CAST($k AS BIGINT) AS d FROM (
        |    SELECT DISTINCT f.s, e.dst AS v
        |    FROM r${k - 1} f JOIN e ON e.src = f.v
        |    WHERE f.d = ${k - 1}) c
        |  WHERE NOT EXISTS (SELECT 1 FROM r${k - 1} p
        |    WHERE p.s = c.s AND p.v = c.v))""".stripMargin)
    }
    sb.toString
  }

  private def oracleSql(sourceMax: Long, rounds: Int): String =
    s"""WITH ${bfsCtes(sourceMax, rounds)}
       |SELECT v AS id, CAST(sum($ScalePpm // d) AS BIGINT) AS harmonic_ppm
       |FROM r$rounds WHERE d > 0
       |GROUP BY v
       |ORDER BY v""".stripMargin

  val harmonicQ: Q = Q(
    "g_harmonic",
    Some(oracleSql(SourceMax, Rounds)),
    (s, d) => harmonicFor(s, d).orderBy(col("id")))

  def all: Seq[Q] = Seq(harmonicQ)
}

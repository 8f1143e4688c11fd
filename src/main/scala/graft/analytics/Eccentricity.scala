package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.registry.Q

/** Per-source eccentricity from the sampled BFS — the graph-geometry
  * audit next to the hop-plot's aggregate view: ecc(s) = max_v d(s, v)
  * over the vertices s reaches, plus the reach count. Sampled
  * eccentricities give the standard BOUNDS (the BoundingDiameters /
  * Takes & Kosters 2011 idea), with CERTIFICATION depending on whether
  * the BFS reached fixpoint (ADVICE r7 #4):
  *  - max ecc over any sample LOWER-bounds the diameter — certified
  *    even under a truncated traversal (a cap can only shrink the
  *    observed max depth, never inflate it);
  *  - min ecc UPPER-bounds the radius ONLY when the BFS drained its
  *    frontier before the round cap: a traversal truncated at
  *    Stress.Rounds underestimates eccentricities, so its min can fall
  *    BELOW the true radius. Callers must check
  *    [[Stress.bfsDrainedFor]] (exposed for exactly this) before
  *    consuming the radius bound; [[eccentricity]]'s standalone path
  *    runs the same capped forward phase and carries the same caveat.
  * Exact BIGINT; no new traversal — the registry path reads the SAME
  * session-cached (s, v, d) frame as g_stress/g_harmonic
  * ([[Stress.levelsFor]]), and the oracle composes the SAME unrolled
  * BFS CTEs as g_harmonic ([[Harmonic.bfsCtes]]), so the three
  * centrality oracles replay one traversal.
  */
object Eccentricity {

  /** (s, v, d) levels → (id, ecc, reached) per source; `reached`
    * counts v ≠ s (self sits at d = 0 and is not a reach). */
  private def aggregateLevels(levels: DataFrame): DataFrame =
    levels.groupBy(col("s"))
      .agg(max(col("d")).as("ecc"),
        count(when(col("d") > 0L, 1)).as("reached"))
      .select(col("s").as("id"), col("ecc"), col("reached"))

  /** Standalone path (specs, arbitrary edge frames). */
  def eccentricity(spark: SparkSession, edgesRaw: DataFrame,
      sourceMax: Long = Stress.SourceMax,
      rounds: Int = Stress.Rounds): DataFrame =
    Stress.aggregateSampled(spark, "eccentricity", edgesRaw, sourceMax,
      rounds)(aggregateLevels)

  /** Registry path: aggregate over the session-cached sampled BFS. */
  def eccentricityFor(spark: SparkSession, dir: String): DataFrame =
    aggregateLevels(Stress.levelsFor(spark, dir).reached)

  // ---- registry entry ---------------------------------------------------

  private def oracleSql(sourceMax: Long, rounds: Int): String =
    s"""WITH ${Harmonic.bfsCtes(sourceMax, rounds)}
       |SELECT s AS id, CAST(max(d) AS BIGINT) AS ecc,
       |  CAST(count(*) FILTER (d > 0) AS BIGINT) AS reached
       |FROM r$rounds
       |GROUP BY s
       |ORDER BY s""".stripMargin

  val eccQ: Q = Q(
    "g_eccentricity",
    Some(oracleSql(Stress.SourceMax, Stress.Rounds)),
    (s, d) => eccentricityFor(s, d).orderBy(col("id")))

  def all: Seq[Q] = Seq(eccQ)
}

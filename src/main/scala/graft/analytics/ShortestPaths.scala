package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.registry.Q

/** Single-source shortest paths (weighted) by superstep relaxation —
  * Bellman-Ford over the citation-style graph, the weighted companion
  * to the BFS hop-plot: round k holds min-distance-within-k-edges, so a
  * fixed K rounds is a well-defined result an unrolled DuckDB CTE
  * reproduces exactly (distances are BIGINT sums of BIGINT weights —
  * no float accumulation, bit-identical across engines and layouts).
  *
  * Same pinned layout as PageRank ([[Superstep]]): edges shuffled onto src
  * once, state id-partitioned, one exchange per round (the relaxation
  * min-aggregation), a checkpoint every round.
  */
object ShortestPaths {

  /** Deterministic BIGINT edge weight both engines derive identically.
    * `%` (not pmod): Spark's % and DuckDB's % both take the dividend's
    * sign, so the derivation matches even on negative vertex ids; the
    * citation tables' ids are non-negative, where the two agree anyway. */
  private def weighted(e: DataFrame): DataFrame =
    e.select(col("src"), col("dst"),
      (lit(1L) + (col("src") + col("dst")) % lit(10L)).as("w"))

  def sssp(spark: SparkSession, edgesRaw: DataFrame, source: Long,
      rounds: Int = 10): DataFrame =
    Superstep.run(spark, "sssp",
      org.apache.spark.sql.GraftColumnBridge.memoCount(edgesRaw)) { loop =>
      val e = loop.cache(weighted(
        edgesRaw.select(col("src"), col("dst"))
          .filter(col("src") =!= col("dst")).distinct())
        .repartition(col("src")))
      val v = loop.cache(e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct())
      v.count()

      // dist is NULL while unreached; min() ignores NULLs on both engines
      var st = v.select(col("id"),
        when(col("id") === source, lit(0L)).as("dist"))
      // a checkpoint every round: 6.9-7.7 s at sf0.1, 9.0-9.5 s every 3rd (rounds read st twice)
      for (_ <- 1 to rounds) {
        val cand = st.join(e, col("id") === col("src"))
          .groupBy(col("dst"))
          .agg(min(col("dist") + col("w")).as("cand"))
        val (next, _, _) = loop.step(
          st.hint("merge").join(cand, col("id") === col("dst"), "left")
            .select(col("id"),
              when(col("dist").isNull, col("cand"))
                .when(col("cand").isNull, col("dist"))
                .otherwise(least(col("dist"), col("cand"))).as("dist")))
        loop.free(st)
        st = next
      }
      // the final checkpoint backs the lazy result
      loop.keep(st)
      // only reached vertices: NULL-bearing numeric output would break the
      // strict gate, and an unreached vertex has no distance to report
      st.filter(col("dist").isNotNull)
    }

  // ---- registry entry ---------------------------------------------------

  // Every dK CTE is referenced twice by dK+1 (outer FROM + the relaxation
  // subquery). DuckDB inlines plain CTEs, so an un-materialized unroll
  // re-evaluates the whole prefix 2^rounds times — at sf0.01 that ran
  // >220s and timed out the driver's whole correctness pass (round 3's
  // empty CORRECTNESS_r03.json). AS MATERIALIZED makes it linear: 0.1s.
  private def oracleSql(source: String, rounds: Int): String = {
    import graft.graph.CitationGraph.edgesSql
    val head =
      s"""WITH $edgesSql,
         |ew AS MATERIALIZED (SELECT src, dst, 1 + (src + dst) % 10 AS w
         |  FROM (SELECT DISTINCT src, dst FROM edges WHERE src <> dst)),
         |v AS (SELECT DISTINCT id FROM (SELECT src AS id FROM ew UNION ALL SELECT dst FROM ew)),
         |d0 AS (SELECT id, CASE WHEN id = ($source) THEN CAST(0 AS BIGINT) END AS dist FROM v)""".stripMargin
    val levels = (1 to rounds).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT dp.id,
         |    CASE WHEN dp.dist IS NULL THEN c.cand
         |         WHEN c.cand IS NULL THEN dp.dist
         |         WHEN dp.dist <= c.cand THEN dp.dist ELSE c.cand END AS dist
         |  FROM d${k - 1} dp LEFT JOIN (
         |    SELECT ew.dst AS id, CAST(min(p.dist + ew.w) AS BIGINT) AS cand
         |    FROM d${k - 1} p JOIN ew ON ew.src = p.id
         |    GROUP BY ew.dst
         |  ) c ON c.id = dp.id)""".stripMargin
    }
    (head +: levels).mkString(",\n") +
      s"\nSELECT id, dist FROM d$rounds WHERE dist IS NOT NULL ORDER BY id"
  }

  val ssspQ: Q = Q(
    "g_sssp",
    // source = smallest vertex id, spelled as a scalar subquery so both
    // engines resolve it from the data
    Some(oracleSql("SELECT min(src) FROM ew", 10)),
    (s, d) => {
      val edges = graft.graph.CitationGraph.edges(s, d)
      val srcRow = edges.filter(col("src") =!= col("dst"))
        .agg(min(col("src"))).head
      if (srcRow.isNullAt(0)) // no edges → no reachable vertices
        edges.limit(0).select(col("src").as("id"), col("dst").as("dist"))
      else
        sssp(s, edges, srcRow.getLong(0), rounds = 10).orderBy(col("id"))
    })

  val all: Seq[Q] = Seq(ssspQ)
}

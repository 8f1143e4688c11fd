package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.registry.Q

/** Earliest-arrival temporal reachability (Wu et al., VLDB 2014
  * "Path Problems in Temporal Graphs") — the time-respecting companion
  * to g_sssp: an edge (u → v, t) can extend a journey only if it
  * activates no earlier than the arrival at u (t >= T(u)), and
  * traversing it puts you at v at time t. T(v) = earliest such arrival.
  * Plain BFS/SSSP over the same edges overstates reachability: a path
  * through an edge that activated BEFORE you arrived is not a journey.
  *
  * Unlike hop-count BFS, the relaxation is CONDITIONAL (the usable edge
  * set depends on the current state), so this is its own fixpoint, not
  * a filtered-graph BFS. Round k holds the earliest arrival over
  * journeys of <= k edges — a fixed K rounds is a well-defined result
  * the unrolled DuckDB twin reproduces exactly (arrivals are BIGINT day
  * numbers, min() is order-independent: bit-identical across engines).
  *
  * Superstep layout is the SSSP discipline ([[Superstep]] pinning, temporal
  * edges shuffled onto src once, state id-partitioned, one exchange per
  * round = the min-arrival aggregation, per-round localCheckpoint with
  * eager release of the superseded one). Temporal multiplicity is kept:
  * the same (src, dst) on two days is two edges with different
  * usability windows — collapsing them would change the semantics.
  */
object TemporalReach {

  def earliestArrival(spark: SparkSession, tEdges: DataFrame, source: Long,
      rounds: Int = 10): DataFrame =
    Superstep.run(spark, "temporal_reach",
      org.apache.spark.sql.GraftColumnBridge.memoCount(tEdges)) { loop =>
      val e = loop.cache(tEdges.select(col("src"), col("dst"), col("t"))
        .filter(col("src") =!= col("dst")).distinct()
        .repartition(col("src")))
      val v = loop.cache(e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct())
      v.count()

      // arrival is NULL while unreached; the source is reached at day 0
      // (all activation days are >= 0: the corpus dates start at the epoch)
      var st = v.select(col("id"),
        when(col("id") === source, lit(0L)).as("arr"))
      for (_ <- 1 to rounds) {
        // time-respecting relaxation: only edges activating at or after
        // the current arrival extend a journey; NULL arrivals drop in the
        // filter on both engines
        val cand = st.join(e, col("id") === col("src"))
          .filter(col("t") >= col("arr"))
          .groupBy(col("dst"))
          .agg(min(col("t")).as("cand"))
        val (next, _, _) = loop.step(st.join(cand.hint("shuffle_hash"),
            col("id") === col("dst"), "left")
          .select(col("id"),
            when(col("arr").isNull, col("cand"))
              .when(col("cand").isNull, col("arr"))
              .otherwise(least(col("arr"), col("cand"))).as("arr")))
        loop.free(st)
        st = next
      }
      loop.keep(st)
      st.filter(col("arr").isNotNull)
    }

  // ---- registry entry ---------------------------------------------------

  private def oracleSql(source: String, rounds: Int): String = {
    import graft.graph.CitationGraph.temporalEdgesSql
    val head =
      s"""WITH $temporalEdgesSql,
         |et AS MATERIALIZED (SELECT DISTINCT src, dst, t FROM tedges
         |  WHERE src <> dst),
         |v AS (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM et UNION ALL SELECT dst FROM et)),
         |d0 AS (SELECT id, CASE WHEN id = ($source)
         |  THEN CAST(0 AS BIGINT) END AS arr FROM v)""".stripMargin
    val levels = (1 to rounds).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT dp.id,
         |    CASE WHEN dp.arr IS NULL THEN c.cand
         |         WHEN c.cand IS NULL THEN dp.arr
         |         WHEN dp.arr <= c.cand THEN dp.arr ELSE c.cand END AS arr
         |  FROM d${k - 1} dp LEFT JOIN (
         |    SELECT et.dst AS id, CAST(min(et.t) AS BIGINT) AS cand
         |    FROM d${k - 1} p JOIN et ON et.src = p.id AND et.t >= p.arr
         |    GROUP BY et.dst
         |  ) c ON c.id = dp.id)""".stripMargin
    }
    (head +: levels).mkString(",\n") +
      s"\nSELECT id, arr FROM d$rounds WHERE arr IS NOT NULL ORDER BY id"
  }

  val reachQ: Q = Q(
    "g_temporal_reach",
    Some(oracleSql("SELECT min(src) FROM et", 10)),
    (s, d) => {
      val te = graft.graph.CitationGraph.temporalEdges(s, d)
      val srcRow = te.filter(col("src") =!= col("dst"))
        .agg(min(col("src"))).head
      if (srcRow.isNullAt(0))
        te.limit(0).select(col("src").as("id"), col("t").as("arr"))
      else
        earliestArrival(s, te, srcRow.getLong(0), rounds = 10)
          .orderBy(col("id"))
    })

  def all: Seq[Q] = Seq(reachQ)
}

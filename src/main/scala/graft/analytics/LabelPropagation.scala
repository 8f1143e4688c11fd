package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.registry.Q

/** Synchronous label propagation (community detection): every vertex
  * starts labeled with its own id; each round it adopts the most
  * frequent label among its neighbors, ties to the SMALLEST label — a
  * deterministic total order, so a fixed round count R is bit-identical
  * across engines/layouts and an unrolled DuckDB CTE oracles it exactly
  * (the PageRank/SSSP/KCore discipline; classic async LPA is
  * order-dependent by design and cannot be oracled).
  *
  * Round shape: one co-partitioned histogram aggregation
  * (neighbor-label counts, map-side combinable) + one argmax
  * aggregation via max(struct(count, -label)) — no window over the
  * vertex set. Edges are shuffled onto src once before the loop
  * (a pinned [[Superstep]]).
  */
object LabelPropagation {

  val Rounds = 3

  def labelProp(spark: SparkSession, edgesRaw: DataFrame,
      rounds: Int = Rounds): DataFrame = {
    // rounds=0 would return a lazy frame over the edge checkpoint that
    // the loop releases on return — reject it up front
    require(rounds >= 1, s"labelProp needs at least 1 round, got $rounds")
    Superstep.run(spark, "labelprop",
      org.apache.spark.sql.GraftColumnBridge.memoCount(edgesRaw)) { loop =>
      val (e, _, _) = loop.ckpt(graft.graph.CitationGraph.bidirectional(edgesRaw)
        .repartition(col("src")))
      var lab = e.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("lab"))
      // a checkpoint every round: 5.4-5.8 s at sf0.1, 5.3-5.6 s every 3rd, flat lineage
      for (_ <- 1 to rounds) {
        val hist = lab.join(e, col("id") === col("src"))
          .groupBy(col("dst"), col("lab"))
          .agg(count(lit(1)).as("c"))
        val (next, _, _) = loop.step(hist
          .groupBy(col("dst"))
          .agg(max(struct(col("c").as("c"), (-col("lab")).as("nl"))).as("m"))
          .select(col("dst").as("id"), (-col("m.nl")).as("lab")))
        loop.free(lab)
        lab = next
      }
      // the final checkpoint backs the lazy result
      loop.keep(lab)
      lab
    }
  }

  // ---- registry entry ---------------------------------------------------

  /** The WITH-body CTE chain ending in `lab<rounds>` — shared with the
    * modularity oracle ([[Modularity]]), which scores this exact
    * assignment, so the two oracles can never drift. */
  private[analytics] def oracleCtes(rounds: Int): String = {
    import graft.graph.CitationGraph.edgesSql
    val head =
      s"""$edgesSql,
         |e AS (SELECT src, dst FROM edges WHERE src <> dst
         |  UNION SELECT dst, src FROM edges WHERE src <> dst),
         |lab0 AS (SELECT DISTINCT src AS id, src AS lab FROM e)""".stripMargin
    val levels = (1 to rounds).map { r =>
      s"""h$r AS (SELECT e.dst AS id, p.lab AS lab, count(*) AS c
         |  FROM e JOIN lab${r - 1} p ON p.id = e.src GROUP BY 1, 2),
         |lab$r AS (SELECT id, lab FROM (
         |  SELECT id, lab, row_number() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rk
         |  FROM h$r) WHERE rk = 1)""".stripMargin
    }
    (head +: levels).mkString(",\n")
  }

  private def oracleSql(rounds: Int): String =
    s"WITH ${oracleCtes(rounds)}\nSELECT id, lab FROM lab$rounds ORDER BY id"

  /** Session-memoized assignment per dataset: g_labelprop and
    * g_modularity both need the assignment, and a session composing
    * community analytics should pay the propagation loop once (the
    * [[Scc.assignmentFor]] discipline). Eager localCheckpoint of |V|
    * 2-column rows. */
  def assignmentFor(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCaches.memo(spark, "labelprop", dir)(
      labelProp(spark, graft.graph.CitationGraph.edges(spark, dir))
        .localCheckpoint(true))

  val labelPropQ: Q = Q(
    "g_labelprop",
    Some(oracleSql(Rounds)),
    (s, d) => assignmentFor(s, d).orderBy(col("id")))

  def all: Seq[Q] = Seq(labelPropQ)
}

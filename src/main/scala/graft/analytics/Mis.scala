package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.registry.Q

/** Maximal independent set by Luby's algorithm (Luby 1986, SIAM J.
  * Comput. 15(4)) — the classic symmetry-breaking primitive of
  * distributed graph processing (its rounds are also the textbook
  * BSP/Pregel benchmark alongside PageRank and CC). Each round, a
  * vertex joins the MIS iff its priority beats every ACTIVE neighbor's;
  * winners and their neighbors deactivate; repeat until no vertex is
  * active. Expected O(log n) rounds.
  *
  * Priorities are md5(vertex id) — unique (ids are unique), total, and
  * the same portable hash order the pipeline family already pins
  * engine-parity on — so the run is DETERMINISTIC and an unrolled
  * DuckDB twin replays every round exactly (the randomized-algorithm
  * analogue of the superstep family's exact-integer discipline: derive
  * the randomness from the data, then both engines agree bit-for-bit).
  *
  * Loop shape (KCore's discipline): bidirectionalized edges and the
  * active-vertex frame are hash-partitioned and checkpointed per round
  * by the [[Superstep]] skeleton; each round is one
  * co-partitioned min-aggregation (neighbor minimum priority), a
  * left-join winner filter, and two anti/semi joins to shrink state.
  * Rounds-to-empty is tracked and asserted against the unrolled oracle
  * depth, the g_kcore_fixpoint lesson (ADVICE r6 #3).
  */
object Mis {

  /** Measured rounds-to-empty on the citation graph (MisSpec reports
    * them): sf0.001 -> 4, sf0.01 -> 6; sf0.1 passes the require gate
    * below (<= 12) — high-degree hubs deactivate whole neighborhoods at
    * once, so growth with scale is slow. Depth 12 gives the same ~2x
    * headroom the k-core fixpoint oracle carries. */
  val FixpointOracleDepth = 12

  def mis(spark: SparkSession, edgesRaw: DataFrame): DataFrame =
    Superstep.run(spark, "mis",
      org.apache.spark.sql.GraftColumnBridge.memoCount(edgesRaw)) { loop =>
      import graft.graph.CitationGraph.bidirectional
      // dst-partitioned: every round's FIRST join (the neighbor-priority
      // build) keys edges on dst, and the per-round shrink's final semi
      // join leaves the next round's edges dst-partitioned too (guide §2.4)
      val (e0, nE0, _) = loop.ckpt(bidirectional(edgesRaw).repartition(col("dst")))
      loop.input(nE0)
      val (active0, nActive0, _) = loop.ckpt(
        e0.select(col("src").as("id")).distinct()
          .withColumn("h", md5(col("id").cast("string")))
          .repartition(col("id")))
      // the active vertex of lowest priority wins every round
      loop.limit(nActive0)
      var edges = e0
      var active = active0
      var nActive = nActive0
      val winnerFrames = scala.collection.mutable.ArrayBuffer[DataFrame]()
      var r = 0
      while (nActive > 0) {
        r += 1
        // `edges` is already active x active, so the dst side's priority
        // join needs no extra activity filter
        val nmin = edges
          .join(active.select(col("id").as("dst"), col("h").as("hd")), "dst")
          .groupBy(col("src")).agg(min(col("hd")).as("nh"))
          .select(col("src").as("id"), col("nh"))
        val (winners, _, _) = loop.ckpt(active.join(nmin, Seq("id"), "left")
          .filter(col("nh").isNull || col("h") < col("nh"))
          .select(col("id"), lit(r.toLong).as("round")))
        // winners' checkpoints back the result until it is consumed
        loop.keep(winners)
        winnerFrames += winners
        val nbrs = edges
          .join(winners.select(col("id").as("src")), Seq("src"), "left_semi")
          .select(col("dst").as("id"))
        val removed = winners.select(col("id")).union(nbrs).distinct()
        val (nextActive, nNextActive, _) = loop.step(
          active.join(removed, Seq("id"), "left_anti"))
        val (nextEdges, _, _) = loop.ckpt(edges
          .join(nextActive.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(nextActive.select(col("id").as("dst")), Seq("dst"), "left_semi")
          .select(col("src"), col("dst")))
        nActive = nNextActive
        loop.free(active, edges)
        active = nextActive
        edges = nextEdges
      }
      if (winnerFrames.isEmpty)
        spark.range(0).select(col("id"), col("id").as("round"))
      else winnerFrames.reduce(_ union _)
    }

  // ---- registry entry ---------------------------------------------------

  /** Unrolled depth-D DuckDB twin. Past convergence every a{r} is empty
    * so extra levels add nothing — idempotent, like the k-core peel.
    * AS MATERIALIZED: each level is referenced by three successors. */
  private def oracleSql(depth: Int): String = {
    import graft.graph.CitationGraph.edgesSql
    val head =
      s"""WITH $edgesSql,
         |e0 AS MATERIALIZED (SELECT src, dst FROM edges WHERE src <> dst
         |  UNION SELECT dst, src FROM edges WHERE src <> dst),
         |a1 AS MATERIALIZED (
         |  SELECT DISTINCT src AS id, md5(CAST(src AS VARCHAR)) AS h FROM e0)""".stripMargin
    val levels = (1 to depth).map { r =>
      s"""nm$r AS MATERIALIZED (
         |  SELECT e.src AS id, min(ad.h) AS nh
         |  FROM e0 e JOIN a$r s ON e.src = s.id JOIN a$r ad ON e.dst = ad.id
         |  GROUP BY e.src),
         |w$r AS MATERIALIZED (
         |  SELECT a.id, CAST($r AS BIGINT) AS round
         |  FROM a$r a LEFT JOIN nm$r n ON a.id = n.id
         |  WHERE n.nh IS NULL OR a.h < n.nh),
         |rm$r AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS id FROM e0 e JOIN w$r w ON e.src = w.id),
         |a${r + 1} AS MATERIALIZED (
         |  SELECT id, h FROM a$r WHERE id NOT IN (SELECT id FROM w$r)
         |    AND id NOT IN (SELECT id FROM rm$r))""".stripMargin
    }
    val union = (1 to depth).map(r => s"SELECT id, round FROM w$r")
      .mkString("\n  UNION ALL ")
    (head +: levels).mkString(",\n") +
      s"\nSELECT id, round FROM (\n  $union)\nORDER BY id"
  }

  val misQ: Q = Q(
    "g_mis",
    Some(oracleSql(FixpointOracleDepth)),
    (s, d) => {
      val out = mis(s, graft.graph.CitationGraph.edges(s, d))
        .orderBy(col("id"))
      val rounds = Superstep.stats(s, "mis").get.rounds
      require(rounds <= FixpointOracleDepth,
        s"g_mis converged in $rounds rounds but the unrolled " +
          s"oracle is depth $FixpointOracleDepth — raise Mis.FixpointOracleDepth")
      out
    })

  def all: Seq[Q] = Seq(misQ)
}

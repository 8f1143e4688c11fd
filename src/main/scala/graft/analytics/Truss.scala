package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.registry.Q

/** k-truss decomposition (Cohen 2008): the k-truss is the maximal
  * subgraph where every edge closes >= k-2 triangles WITHIN the
  * subgraph — the cohesion ladder between "has a triangle" and a
  * clique, and the standard community-core primitive next to k-core
  * (which it strictly refines: edge-level, not vertex-level).
  *
  * Peel: count per-edge support, drop edges under k-2, repeat to the
  * fixpoint. Trusses are NESTED (the 4-truss is inside the 3-truss),
  * so the decomposition peels k=3 from the full graph and k=4 from the
  * 3-truss — never re-peeling history, the same O(delta) idea as the
  * incremental family. Levels stop at 4, the max level this corpus
  * family reaches (the 5-truss is empty at every measured sf; the cap
  * is explicit like domain-upsample's epoch cap).
  *
  * Per-round support comes from the SHARED degree-rank triangle
  * enumeration (GraphQueries.enumTriangles — each triangle exactly
  * once, hub wedges bounded by rank orientation, the g_triangles skew
  * lesson) exploded into its three id-canonical edges and counted:
  * one map-side-combinable aggregation per round, no per-edge
  * common-neighbor join that a hub vertex could quadratically explode.
  * The DuckDB oracle replays both chains with the simpler
  * common-neighbor formulation — equal by definition (support(a,b) =
  * \|N(a) ∩ N(b)\|) — run past each chain's measured convergence, so
  * both engines independently reach the same fixpoints.
  */
object Truss {

  /** Measured convergence (TrussSpec/probe): k=3 fixpoint in 2 rounds
    * at every sf; k=4 from the 3-truss in 16 (sf0.001 — the gradual
    * 317-edge core) / 3 / 3 rounds. Depths 6 and 20 keep the k-core
    * oracle's ~2x headroom discipline. */
  val Depth3 = 6
  val Depth4 = 20

  private def bidirOf(e: DataFrame): DataFrame =
    e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))

  /** Per-edge triangle support of the CURRENT edge set, via the shared
    * rank-oriented enumeration exploded to id-canonical edges. */
  private def supportOf(e: DataFrame): DataFrame =
    GraphQueries.enumTriangles(bidirOf(e))
      .select(explode(array(
        struct(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b")),
        struct(least(col("u"), col("w")).as("a"),
          greatest(col("u"), col("w")).as("b")),
        struct(least(col("v"), col("w")).as("a"),
          greatest(col("v"), col("w")).as("b")))).as("ed"))
      .select(col("ed.a").as("a"), col("ed.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("sup"))

  /** Peel `e` (`n` canonical a<b edges) to the k-truss fixpoint as
    * nested loop `name`; returns the surviving edges and their count. A
    * loop that exhausts `maxRounds` while still shrinking stops
    * unconverged, and the registered query then fails LOUDLY rather than
    * shipping a non-fixpoint the oracle can't match. Each round composes
    * from a stats-clean rewrap: the checkpoint's propagated size
    * estimate would otherwise compound through the round's 5-way inner
    * join until the driver livelocks in BigInteger stats math. */
  private def peel(loop: Superstep.Loop, name: String, e: DataFrame, n: Long,
      k: Int, maxRounds: Int): (DataFrame, Long) =
    if (n == 0) (e, 0L) // an empty edge set is its own fixpoint
    else loop.nested(name, statsClean = true) { p =>
      var rows = n
      val out = p.iterate(e, n, maxRounds = maxRounds)(
        supportOf(_).filter(col("sup") >= k - 2).select(col("a"), col("b")))(
        (m, prev, _) => { rows = m; m == prev })
      p.keep(out)
      (out, rows)
    }

  /** Decomposition over any directed edge frame: (src, dst, trussness)
    * for every edge of the 3-truss, labeled 4 when it survives the
    * nested 4-peel. */
  def decompose(spark: SparkSession, edgesRaw: DataFrame): DataFrame =
    Superstep.run(spark, "truss",
      org.apache.spark.sql.GraftColumnBridge.memoCount(edgesRaw)) { loop =>
      val (e0, n0, _) = loop.ckpt(graft.graph.CitationGraph.bidirectional(edgesRaw)
        .filter(col("src") < col("dst"))
        .select(col("src").as("a"), col("dst").as("b"))
        .repartition(col("a")))
      loop.input(n0)
      val (s3, n3) = peel(loop, "peel3", e0, n0, 3, Depth3)
      val (s4, _) = peel(loop, "peel4", s3, n3, 4, Depth4)
      // both survivor sets back the lazy result
      loop.keep(s3, s4)
      s3.join(s4.withColumn("t4", lit(true)), Seq("a", "b"), "left")
        .select(col("a").as("src"), col("b").as("dst"),
          when(col("t4").isNotNull, 4L).otherwise(3L).as("trussness"))
    }

  /** This session's latest [[decompose]] run: (k=3 peel rounds, k=4 peel
    * rounds, whether both peels reached their fixpoints). */
  private[graft] def convergence(spark: SparkSession): (Int, Int, Boolean) = {
    val peels = Seq("peel3", "peel4").map(p => Superstep.stats(spark, s"truss.$p"))
    (peels(0).fold(0)(_.rounds), peels(1).fold(0)(_.rounds),
      peels.flatten.forall(_.converged))
  }

  // ---- registry entry ---------------------------------------------------

  private def chainSql(tag: String, from: String, k: Int, depth: Int): String =
    (1 to depth).map { r =>
      val prev = if (r == 1) from else s"c$tag${r - 1}"
      s"""b$tag$r AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM $prev UNION ALL SELECT b, a FROM $prev),
         |s$tag$r AS MATERIALIZED (
         |  SELECT e.a, e.b, count(*) AS sup FROM $prev e
         |  JOIN b$tag$r x ON x.src = e.a
         |  JOIN b$tag$r y ON y.src = e.b AND y.dst = x.dst
         |  GROUP BY e.a, e.b),
         |c$tag$r AS MATERIALIZED (
         |  SELECT a, b FROM s$tag$r WHERE sup >= ${k - 2})""".stripMargin
    }.mkString(",\n")

  private def oracleSql: String = {
    import graft.graph.CitationGraph.edgesSql
    s"""WITH $edgesSql,
       |e0 AS MATERIALIZED (SELECT src, dst FROM edges WHERE src <> dst
       |  UNION SELECT dst, src FROM edges WHERE src <> dst),
       |c0 AS MATERIALIZED (SELECT src AS a, dst AS b FROM e0 WHERE src < dst),
       |${chainSql("t", "c0", 3, Depth3)},
       |${chainSql("q", s"ct$Depth3", 4, Depth4)}
       |SELECT t3.a AS src, t3.b AS dst,
       |  CAST(CASE WHEN t4.a IS NOT NULL THEN 4 ELSE 3 END AS BIGINT) AS trussness
       |FROM ct$Depth3 t3 LEFT JOIN cq$Depth4 t4 ON t3.a = t4.a AND t3.b = t4.b
       |ORDER BY src, dst""".stripMargin
  }

  val trussQ: Q = Q(
    "g_truss_decomp",
    Some(oracleSql),
    (s, d) => {
      val out = decompose(s, graft.graph.CitationGraph.edges(s, d))
        .orderBy(col("src"), col("dst"))
      val (rounds3, rounds4, converged) = convergence(s)
      require(converged,
        s"g_truss_decomp did NOT reach its fixpoints within " +
          s"($Depth3, $Depth4) rounds (ran $rounds3, $rounds4) — " +
          "raise Truss.Depth3/Depth4 to at least the convergence rounds")
      out
    })

  def all: Seq[Q] = Seq(trussQ)
}

package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.registry.Q

/** Strongly connected components by forward-max coloring (Orzan 2004;
  * the Pregel/BSP "Coloring" SCC algorithm) — the directed closure of
  * g_components' undirected min-label propagation, and the classic
  * missing piece next to it: u and v share an SCC iff each reaches the
  * other ALONG edge directions.
  *
  * Per outer round, on the still-unassigned subgraph:
  *   1. forward flood: color(v) = max vertex id that reaches v
  *      (max-propagation along edges to its fixpoint);
  *   2. roots: vertices with color(v) == v — each root's SCC is exactly
  *      the vertices that can reach it WITHIN its color class;
  *   3. backward flood inside each color class from its root; members
  *      get scc_id = root id and leave the graph.
  * Every vertex is assigned after finitely many rounds (each round
  * assigns at least every root).
  *
  * All three levels are monotone and IDEMPOTENT past their fixpoints
  * (extra rounds change nothing), so the unrolled DuckDB twin runs each
  * flood at a FIXED depth ≥ the measured fixpoint and the outer loop at
  * a fixed round count — with require gates exporting the ACTUAL
  * convergence depths, the k-core/Mis discipline, so a dataset that
  * outgrows the unrolled depths fails loudly, never silently wrong.
  *
  * Scale shape: each flood round is one co-partitioned max/any
  * aggregation over the edge frame + a join back to state (the PageRank
  * exchange budget); subgraph shrink is two semi-joins; state and edges
  * are checkpointed per round by the [[Superstep]] skeleton (Mis's
  * layout). Rounds
  * measured on the citation graph: see the require gates.
  */
object Scc {

  /** Unrolled oracle depths, asserted ≥ the measured fixpoints at run
    * time. Measured on the citation graph (COVERAGE.md): sf0.001 → outer 1,
    * fwd 4, bwd 4; sf0.01 → outer 1, fwd 5, bwd 6; sf0.1 → outer 2,
    * fwd 7, bwd 7 (the graph is one giant SCC plus a small periphery,
    * so the coloring converges fast). Depths carry ~2x headroom, the
    * established fixpoint-oracle discipline. */
  val OuterDepth = 3
  val FwdDepth = 14
  val BwdDepth = 12

  def scc(spark: SparkSession, edgesRaw: DataFrame): DataFrame =
    Superstep.run(spark, "scc",
      org.apache.spark.sql.GraftColumnBridge.memoCount(edgesRaw)) { loop =>
      val (edges0, nEdges0, _) = loop.ckpt(
        edgesRaw.select(col("src"), col("dst"))
          .filter(col("src") =!= col("dst")).distinct()
          .repartition(col("dst")))
      loop.input(nEdges0)
      var edges = edges0
      // src-partitioned twin of the live edge list: the forward flood
      // joins edges on src every round, so one extra checkpoint per
      // shrink buys zero edge exchanges in all fwd rounds (guide §2.4:
      // partition edges once, route only messages); bwd keeps dst
      var edgesSrc = loop.ckpt(edges.repartition(col("src")))._1
      val (verts0, nVerts0, _) = loop.ckpt(
        edges.select(col("src").as("id"))
          .union(edges.select(col("dst").as("id"))).distinct()
          .repartition(col("id")))
      var verts = verts0
      var nActive = nVerts0
      // every outer round assigns at least its roots
      loop.limit(nVerts0)
      val sccFrames = scala.collection.mutable.ArrayBuffer[DataFrame]()

      def assign(members: DataFrame): Unit = {
        sccFrames += members
        loop.keep(members)
      }

      // restrict the live subgraph to `nextVerts`
      def shrinkTo(nextVerts: DataFrame, nNext: Long): Unit = {
        val (nextEdges, _, _) = loop.ckpt(edges
          .join(nextVerts.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(nextVerts.select(col("id").as("dst")), Seq("dst"), "left_semi")
          .select(col("src"), col("dst")))
        loop.free(verts, edges, edgesSrc)
        verts = nextVerts
        edges = nextEdges
        edgesSrc = loop.ckpt(edges.repartition(col("src")))._1
        nActive = nNext
      }

      // Trim phase (Hong et al. 2013, FW-BW-Trim): a live vertex with no
      // in-edge or no out-edge in the live subgraph lies on no cycle, so
      // it is its own singleton SCC, and peeling it can expose more. Each
      // trim round is two cheap semi-joins and a shrink, so the fwd/bwd
      // floods only run on the residue that contains cycles; on the
      // citation graph that removes the whole second outer round (the r9
      // job-count cut). scc_id = id for a singleton is what the coloring
      // would assign, so the unrolled no-trim oracle still matches.
      def trim(): Unit =
        loop.nested("trim") { t =>
          // every counted round trims at least one vertex
          t.limit(nActive)
          var go = nActive > 0
          while (go) {
            val (nextVerts, nNext, _) = loop.ckpt(verts
              .join(edges.select(col("src").as("id")), Seq("id"), "left_semi")
              .join(edges.select(col("dst").as("id")), Seq("id"), "left_semi"))
            if (nNext == nActive) { loop.free(nextVerts); go = false }
            else {
              t.round(nActive - nNext)
              assign(loop.ckpt(verts.join(nextVerts, Seq("id"), "left_anti")
                .select(col("id"), col("id").as("scc_id")))._1)
              shrinkTo(nextVerts, nNext)
              go = nActive > 0
            }
          }
        }

      trim()
      while (nActive > 0) {
        // 1. forward max flood to fixpoint, one step per checkpoint: two
        // per checkpoint cut jobs 79 -> 74 but raised warm wall 6.9s ->
        // 8.2s at sf0.1 (round 10), each step reading its input twice
        def fwdStep(color: DataFrame): DataFrame = {
          val incoming = color.join(edgesSrc, col("id") === col("src"))
            .groupBy(col("dst")).agg(max(col("c")).as("mc"))
            .select(col("dst").as("id"), col("mc"))
          color.join(incoming.hint("shuffle_hash"), Seq("id"), "left")
            .select(col("id"),
              greatest(col("c"), coalesce(col("mc"), col("c"))).as("c"),
              (col("mc").isNotNull && col("mc") > col("c")).as("chg"))
        }
        val colorFull = loop.nested("fwd") { f =>
          // colors settle within (longest path + 1) <= |V| rounds
          f.limit(nActive + 1)
          val (c0, _, _) = f.ckpt(verts.select(col("id"), col("id").as("c"),
            lit(false).as("chg")))
          val out = f.iterate(c0, nActive, "chg")(
            s => fwdStep(s.select(col("id"), col("c"))))((_, _, chg) => chg == 0)
          f.keep(out)
          out
        }
        val color = colorFull.select(col("id"), col("c"))
        // 2+3. backward flood inside color classes from the roots: u
        // joins when some edge u->w has w a member and color(u)==color(w)
        def bwdStep(member: DataFrame): DataFrame = {
          val newFrontier = member.select(col("id").as("dst"), col("c"))
            .join(edges, "dst")
            .select(col("src").as("id"), col("c"))
            .join(color.withColumnRenamed("c", "uc"), "id")
            .filter(col("c") === col("uc"))
            .select(col("id"), col("c"))
          member.union(newFrontier).distinct()
        }
        val member = loop.nested("bwd") { b =>
          b.limit(nActive + 1)
          val (m0, nM0, _) = b.ckpt(color.filter(col("id") === col("c"))
            .select(col("id"), col("c")))
          val out = b.iterate(m0, nM0)(bwdStep)((n, prev, _) => n == prev)
          b.keep(out)
          out
        }
        val (assigned, _, _) = loop.ckpt(member.select(col("id"), col("c").as("scc_id")))
        assign(assigned)
        loop.free(member, colorFull)
        // 4. shrink the live subgraph: the outer round's counted step
        val (nextVerts, nNextVerts, _) = loop.step(
          verts.join(assigned.select(col("id")), Seq("id"), "left_anti"))
        shrinkTo(nextVerts, nNextVerts)
        trim()
      }
      if (sccFrames.isEmpty)
        spark.range(0).select(col("id"), col("id").as("scc_id"))
      else sccFrames.reduce(_ union _)
    }

  /** Depths of this session's latest [[scc]] run: (outer rounds, most
    * forward rounds, most backward rounds in one outer round). */
  private[graft] def depths(spark: SparkSession): (Int, Int, Int) = {
    def most(loop: String): Int =
      Superstep.runs(spark, s"scc.$loop").map(_.rounds).maxOption.getOrElse(0)
    (Superstep.stats(spark, "scc").fold(-1)(_.rounds), most("fwd"), most("bwd"))
  }

  // ---- registry entry ---------------------------------------------------

  /** Unrolled (outer × (fwd + bwd)) DuckDB twin. Idempotence past each
    * fixpoint makes fixed depths sound; the require gates make them
    * honest. Split as (CTE body, assignment union) so g_condensation
    * can build on the same assignment without duplicating the unroll. */
  private[analytics] def oracleCtes(outer: Int, fwdD: Int, bwdD: Int): (String, String) = {
    import graft.graph.CitationGraph.edgesSql
    val sb = new StringBuilder
    sb.append(s"""$edgesSql,
      |e1 AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
      |v1 AS MATERIALIZED (SELECT DISTINCT id FROM
      |  (SELECT src AS id FROM e1 UNION ALL SELECT dst FROM e1))""".stripMargin)
    for (o <- 1 to outer) {
      // forward flood
      sb.append(s""",
        |c${o}_0 AS (SELECT id, id AS c FROM v$o)""".stripMargin)
      for (f <- 1 to fwdD) {
        sb.append(s""",
          |c${o}_$f AS MATERIALIZED (
          |  SELECT p.id, CAST(CASE WHEN m.mc IS NOT NULL AND m.mc > p.c
          |    THEN m.mc ELSE p.c END AS BIGINT) AS c
          |  FROM c${o}_${f - 1} p LEFT JOIN (
          |    SELECT e.dst AS id, max(q.c) AS mc
          |    FROM c${o}_${f - 1} q JOIN e$o e ON e.src = q.id
          |    GROUP BY e.dst) m ON m.id = p.id)""".stripMargin)
      }
      // backward flood from roots within color classes
      sb.append(s""",
        |m${o}_0 AS (SELECT id, c FROM c${o}_$fwdD WHERE id = c)""".stripMargin)
      for (b <- 1 to bwdD) {
        sb.append(s""",
          |m${o}_$b AS MATERIALIZED (
          |  SELECT id, c FROM m${o}_${b - 1}
          |  UNION
          |  SELECT cu.id, m.c
          |  FROM m${o}_${b - 1} m
          |    JOIN e$o e ON e.dst = m.id
          |    JOIN c${o}_$fwdD cu ON cu.id = e.src AND cu.c = m.c)""".stripMargin)
      }
      sb.append(s""",
        |a$o AS MATERIALIZED (SELECT id, c AS scc_id FROM m${o}_$bwdD)""".stripMargin)
      // shrink
      sb.append(s""",
        |v${o + 1} AS MATERIALIZED (SELECT id FROM v$o
        |  WHERE id NOT IN (SELECT id FROM a$o)),
        |e${o + 1} AS MATERIALIZED (SELECT src, dst FROM e$o
        |  WHERE src IN (SELECT id FROM v${o + 1})
        |    AND dst IN (SELECT id FROM v${o + 1}))""".stripMargin)
    }
    val union = (1 to outer).map(o => s"SELECT id, scc_id FROM a$o")
      .mkString("\n  UNION ALL ")
    (sb.toString, union)
  }

  private def oracleSql(outer: Int, fwdD: Int, bwdD: Int): String = {
    val (ctes, union) = oracleCtes(outer, fwdD, bwdD)
    s"WITH $ctes\nSELECT id, scc_id FROM (\n  $union)\nORDER BY id"
  }

  /** Session-memoized SCC assignment per dataset
    * ([[graft.SessionCaches.memo]]): g_scc and g_condensation both need
    * the assignment, and a cluster session composing several
    * SCC-derived analytics should pay the superstep loop ONCE. The
    * cached frame is an eager localCheckpoint of ~|V| 2-column rows.
    * The convergence gates run inside the compute, so a cache hit is a
    * result that already passed them. */
  def assignmentFor(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCaches.memo(spark, "scc", dir) {
      val a = scc(spark, graft.graph.CitationGraph.edges(spark, dir))
        .localCheckpoint(true)
      val (outer, fwd, bwd) = depths(spark)
      require(outer <= OuterDepth && fwd <= FwdDepth && bwd <= BwdDepth,
        s"g_scc converged in (outer=$outer, fwd=$fwd, bwd=$bwd) but the " +
          "unrolled oracle is " +
          s"($OuterDepth, $FwdDepth, $BwdDepth) — raise Scc depths")
      a
    }

  val sccQ: Q = Q(
    "g_scc",
    Some(oracleSql(OuterDepth, FwdDepth, BwdDepth)),
    (s, d) => assignmentFor(s, d).orderBy(col("id")))

  def all: Seq[Q] = Seq(sccQ)
}

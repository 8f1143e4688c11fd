package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.registry.Q

/** PageRank over the citation-style graph — the canonical "which papers
  * matter" analytic for a citation engine (the reference computes
  * degree-based importance; PageRank is its fixpoint generalization,
  * same superstep shape as the reference's BFS loop).
  *
  * EXACT integer fixed-point arithmetic: ranks live in BIGINT units of
  * 1e-12, every step is integer multiply/divide (`div`), and BIGINT sums
  * are order-independent — so results are bit-identical across runs,
  * partitionings, AND engines (float PageRank can't be oracle-checked:
  * shuffle-order float addition diverges in the last ulps). DuckDB
  * reproduces the identical recurrence with `//`; truncation loss and
  * the dangling-vertex leak (no out-edges → mass not redistributed) are
  * part of the defined recurrence, identical on both engines.
  *
  * Scale shape mirrors HyperANF's pinned superstep layout: edges are
  * shuffled by src ONCE, state keeps id-partitioning through
  * localCheckpoint, AQE is off for the loop ([[Superstep]]), so each
  * iteration carries exactly one exchange — the contribution aggregation
  * by dst (asserted in PageRankSpec).
  */
object PageRank {

  /** 1.0 of rank mass, in fixed-point units. */
  val Scale = 1000000000000L

  /** Damping factor 0.85 as an integer percent. */
  val DampPct = 85L

  def pageRank(spark: SparkSession, edgesRaw: DataFrame,
      iters: Int = 10): DataFrame =
    ranks(spark, edgesRaw, iters, seedMax = None)

  /** Personalized PageRank: teleport mass restarts at the SEED SET
    * (id < seedMax) instead of uniformly — the locality-scoring variant
    * behind "related papers"/recommendation queries. Same loop, same
    * exact-integer recurrence, same one-exchange supersteps; only the
    * init and teleport vectors change (mass Scale/|S| on seeds, 0
    * elsewhere), so unreachable-from-seeds vertices provably hold rank
    * exactly 0 (integer arithmetic — no epsilon mass). With every
    * vertex a seed it degenerates to pageRank bit-for-bit (asserted in
    * PageRankSpec). */
  def personalizedPageRank(spark: SparkSession, edgesRaw: DataFrame,
      seedMax: Long, iters: Int = 10): DataFrame =
    ranks(spark, edgesRaw, iters, seedMax = Some(seedMax))

  /** Warm-start PageRank: run `iters` rounds of the SAME exact-integer
    * recurrence on `edgesRaw`, but initialize from `init` (id, r) ranks
    * instead of uniform — vertices absent from `init` (new arrivals)
    * start at the uniform Scale/n of the NEW graph. This is the
    * incremental-maintenance primitive: rank is a GLOBAL fixpoint (an
    * inserted edge perturbs every vertex, unlike CC's local merges), so
    * the incremental lever is ROUNDS — and it only pays on SLOW-MIXING
    * graphs (chains, cycles, long-diameter webs), where PageRankSpec
    * measures warm-3 beating cold-3 by >100x. On the rapid-mixing
    * citation graph (avg degree ~10, mixes in ~3 rounds) a cold start
    * is already converged and warm restart saves NOTHING — a measured
    * negative result, pinned in PageRankSpec so it can't silently rot
    * into a false claim. Per-round cost and plan shape are unchanged. */
  def pageRankWarm(spark: SparkSession, edgesRaw: DataFrame,
      init: DataFrame, iters: Int): DataFrame =
    ranks(spark, edgesRaw, iters, seedMax = None, warmFrom = Some(init))

  private def ranks(spark: SparkSession, edgesRaw: DataFrame,
      iters: Int, seedMax: Option[Long],
      warmFrom: Option[DataFrame] = None): DataFrame =
    Superstep.run(spark, "pagerank",
      org.apache.spark.sql.GraftColumnBridge.memoCount(edgesRaw)) { loop =>
      val e = loop.cache(edgesRaw.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst")).distinct())
      val v = loop.cache(e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct())
      // deg and e are BOTH loop-static, so join them ONCE before the loop
      // (r4→r6 regression root cause: the loop re-did r ⋈ deg ⋈ e every
      // iteration — 10 redundant vertex joins per run, VERDICT r6 #1).
      // A shuffled-hash join on src leaves the persisted (src, dst, d)
      // frame hash-partitioned on src at every partition count, so the
      // per-iteration rank join needs no exchange. (A repartition(src) of
      // e plans SinglePartition at 1 partition; the planner then re-shuffles
      // both sides of the rank join, 2 exchanges a round.)
      val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
      val ed = loop.cache(e.join(deg.hint("shuffle_hash"), col("src") === deg("id"))
        .select(col("src"), col("dst"), col("d")))

      val n = v.count()
      if (n == 0) v.select(col("id"), lit(0L).as("r"))
      else {
        ed.count() // materialize, then drop the raw-edge cache early
        loop.free(e)
        // driver-side Long division == Spark `div` == DuckDB `//` on positives
        val (r0Col, baseCol) = seedMax match {
          case None =>
            (lit(Scale / n),
              lit(((100L - DampPct) * Scale) / (100L * n)))
          case Some(sm) =>
            // seed count is a driver-side decision like n, one cheap count
            val nS = v.filter(col("id") < sm).count()
            require(nS > 0, s"personalized PageRank: no vertices with id < $sm")
            (when(col("id") < sm, lit(Scale / nS)).otherwise(lit(0L)),
              when(col("id") < sm,
                lit(((100L - DampPct) * Scale) / (100L * nS))).otherwise(lit(0L)))
        }

        var r = warmFrom match {
          case None => v.select(col("id"), r0Col.as("r"))
          case Some(init) =>
            // standing ranks where known; the new graph's uniform mass for
            // new vertices — one |V|-keyed join, before the loop
            v.join(init.select(col("id"), col("r").as("r0")), Seq("id"), "left")
              .select(col("id"), coalesce(col("r0"), lit(Scale / n)).as("r"))
        }
        // a checkpoint every round: 4.19-4.25 s at sf0.1, 4.59 s every 2nd (deeper codegen)
        for (_ <- 1 to iters) {
          // shuffle-hash, build side = the vertex-sized frame, on BOTH loop
          // joins: the r6 merge-hint shape re-sorted rank state and the
          // static edge table every iteration; hash builds keep exactly one
          // shuffle per superstep (the loop's `exchanges`, PageRankSpec)
          val contrib = r.hint("shuffle_hash").join(ed, col("id") === col("src"))
            .groupBy(col("dst"))
            .agg(sum(expr("r div d")).as("contrib"))
          val (next, _, _) = loop.step(
            v.join(contrib.hint("shuffle_hash"), col("id") === col("dst"), "left")
              .select(col("id"),
                (baseCol + expr(s"($DampPct * coalesce(contrib, 0L)) div 100")).as("r")))
          loop.free(r)
          r = next
        }
        // the final checkpoint backs the lazy result
        loop.keep(r)
        r
      }
    }

  // ---- registry entry ---------------------------------------------------

  /** Unrolled K-level DuckDB twin of the identical integer recurrence. */
  private def oracleSql(iters: Int): String = {
    import graft.graph.CitationGraph.edgesSql
    val head =
      s"""WITH $edgesSql,
         |e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
         |v AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
         |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
         |pr0 AS (SELECT id, $Scale // (SELECT n FROM cnt) AS r FROM v)""".stripMargin
    val levels = (1 to iters).map { k =>
      s"""pr$k AS (
         |  SELECT v.id,
         |    ((100 - $DampPct) * $Scale) // (100 * (SELECT n FROM cnt))
         |      + ($DampPct * COALESCE(c.contrib, 0)) // 100 AS r
         |  FROM v LEFT JOIN (
         |    SELECT e.dst AS id, CAST(SUM(p.r // dg.d) AS BIGINT) AS contrib
         |    FROM pr${k - 1} p JOIN deg dg ON dg.id = p.id JOIN e ON e.src = p.id
         |    GROUP BY e.dst
         |  ) c ON c.id = v.id)""".stripMargin
    }
    (head +: levels).mkString(",\n") +
      s"\nSELECT id, r FROM pr$iters ORDER BY id"
  }

  val pageRankQ: Q = Q(
    "g_pagerank",
    Some(oracleSql(10)),
    (s, d) =>
      pageRank(s, graft.graph.CitationGraph.edges(s, d), iters = 10)
        .orderBy(col("id")))

  /** Unrolled twin of the SEEDED recurrence (seeds = id < seedMax). */
  private def pprOracleSql(seedMax: Long, iters: Int): String = {
    import graft.graph.CitationGraph.edgesSql
    val head =
      s"""WITH $edgesSql,
         |e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
         |v AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |scnt AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM v WHERE id < $seedMax),
         |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
         |pr0 AS (SELECT id, CASE WHEN id < $seedMax
         |  THEN $Scale // (SELECT ns FROM scnt) ELSE 0 END AS r FROM v)""".stripMargin
    val levels = (1 to iters).map { k =>
      s"""pr$k AS (
         |  SELECT v.id,
         |    CASE WHEN v.id < $seedMax
         |      THEN ((100 - $DampPct) * $Scale) // (100 * (SELECT ns FROM scnt))
         |      ELSE 0 END
         |      + ($DampPct * COALESCE(c.contrib, 0)) // 100 AS r
         |  FROM v LEFT JOIN (
         |    SELECT e.dst AS id, CAST(SUM(p.r // dg.d) AS BIGINT) AS contrib
         |    FROM pr${k - 1} p JOIN deg dg ON dg.id = p.id JOIN e ON e.src = p.id
         |    GROUP BY e.dst
         |  ) c ON c.id = v.id)""".stripMargin
    }
    (head +: levels).mkString(",\n") +
      s"\nSELECT id, r FROM pr$iters ORDER BY id"
  }

  /** Seed set = the 10 lowest-id vertices' ids (id < 10 matches the ANN
    * queries' convention for a deterministic small query set). */
  private val PprSeedMax = 10L

  val pprQ: Q = Q(
    "g_ppr",
    Some(pprOracleSql(PprSeedMax, 10)),
    (s, d) =>
      personalizedPageRank(s, graft.graph.CitationGraph.edges(s, d),
        seedMax = PprSeedMax, iters = 10)
        .orderBy(col("id")))

  /** Incremental maintenance: standing ranks = `itersOld` rounds on the
    * standing edges; a batch (src ≡ 7 mod 10, the established split)
    * arrives; the warm restart runs only `itersWarm` rounds on the
    * union graph. The oracle replays EXACTLY that — K cold levels on
    * the old graph, the coalesced warm init, J levels on the new graph
    * — so the warm-start semantics are pinned bit-for-bit (this is the
    * DESIGNED recurrence, not an approximation of the cold run; the
    * rounds-saved convergence claim is measured in PageRankSpec). */
  private def incrOracleSql(itersOld: Int, itersWarm: Int): String = {
    import graft.graph.CitationGraph.edgesSql
    val head =
      s"""WITH $edgesSql,
         |eo AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst AND src % 10 <> 7),
         |vo AS (SELECT DISTINCT id FROM (SELECT src AS id FROM eo UNION ALL SELECT dst FROM eo)),
         |cnto AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vo),
         |dego AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d FROM eo GROUP BY 1),
         |pr0 AS (SELECT id, $Scale // (SELECT n FROM cnto) AS r FROM vo)""".stripMargin
    val oldLevels = (1 to itersOld).map { k =>
      s"""pr$k AS (
         |  SELECT v.id,
         |    ((100 - $DampPct) * $Scale) // (100 * (SELECT n FROM cnto))
         |      + ($DampPct * COALESCE(c.contrib, 0)) // 100 AS r
         |  FROM vo v LEFT JOIN (
         |    SELECT e.dst AS id, CAST(SUM(p.r // dg.d) AS BIGINT) AS contrib
         |    FROM pr${k - 1} p JOIN dego dg ON dg.id = p.id JOIN eo e ON e.src = p.id
         |    GROUP BY e.dst
         |  ) c ON c.id = v.id)""".stripMargin
    }
    val bridge =
      s"""en AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
         |vn AS (SELECT DISTINCT id FROM (SELECT src AS id FROM en UNION ALL SELECT dst FROM en)),
         |cntn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vn),
         |degn AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d FROM en GROUP BY 1),
         |w0 AS (
         |  SELECT v.id,
         |    COALESCE(p.r, $Scale // (SELECT n FROM cntn)) AS r
         |  FROM vn v LEFT JOIN pr$itersOld p ON p.id = v.id)""".stripMargin
    val warmLevels = (1 to itersWarm).map { k =>
      s"""w$k AS (
         |  SELECT v.id,
         |    ((100 - $DampPct) * $Scale) // (100 * (SELECT n FROM cntn))
         |      + ($DampPct * COALESCE(c.contrib, 0)) // 100 AS r
         |  FROM vn v LEFT JOIN (
         |    SELECT e.dst AS id, CAST(SUM(p.r // dg.d) AS BIGINT) AS contrib
         |    FROM w${k - 1} p JOIN degn dg ON dg.id = p.id JOIN en e ON e.src = p.id
         |    GROUP BY e.dst
         |  ) c ON c.id = v.id)""".stripMargin
    }
    ((head +: oldLevels) ++ (bridge +: warmLevels)).mkString(",\n") +
      s"\nSELECT id, r FROM w$itersWarm ORDER BY id"
  }

  private val IncrItersOld = 10
  private val IncrItersWarm = 3

  val incrementalQ: Q = Q(
    "g_pagerank_incremental",
    Some(incrOracleSql(IncrItersOld, IncrItersWarm)),
    (s, d) => {
      val all = graft.graph.CitationGraph.edges(s, d)
      val standing = all.filter(col("src") % 10 =!= 7)
      val rOld = pageRank(s, standing, iters = IncrItersOld)
      pageRankWarm(s, all, rOld, iters = IncrItersWarm)
        .orderBy(col("id"))
    })

  val all: Seq[Q] = Seq(pageRankQ, pprQ, incrementalQ)
}

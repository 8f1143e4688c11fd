package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftColumnBridge.Sum
import org.apache.spark.sql.functions._

/** HyperANF-style approximate neighborhood function (Boldi/Rosa/Vigna,
  * WWW'11) over Spark's native Datasketches HLL functions — THE scale
  * path for hop-plots/effective diameter (SURVEY.md §2.12 scale note,
  * HopPlot scaladoc): the exact BFS carries O(connected pairs) state
  * (the reference materialized 76.8M pairs at its 37k-node scale,
  * data/nodepairs.csv:6 — quadratic in nodes), while HyperANF keeps one
  * O(2^lgK)-register sketch per VERTEX, independent of graph size.
  *
  * Superstep d: every vertex unions its ball-sketch with its neighbors'
  * (hll_union_agg over the edge join — map-side combinable), then
  * N(d) = Σ_v |ball(v, d)| is one hll_sketch_estimate aggregation.
  * g(d) = (N(d) - n) / 2 estimates the unordered connected pairs within
  * distance d. Sketch hashing is deterministic, so results are stable
  * run to run (registry entry is rows-only: the sketch is
  * engine-specific, like x_approx_distinct).
  */
object HyperANF {

  final case class ApproxHopRow(d: Int, g_d: Long, pct: Double)

  /** Memoized per (session, input key) — g_hopplot_approx and
    * g_eff_diameter_approx share one superstep run, mirroring
    * HopPlot.hopPlotRowsCached for the exact pair. maxD/lgK are folded
    * into the cache key and passed through (ADVICE r2: a default-keyed
    * cache would serve the wrong curve to a caller asking for different
    * parameters). */
  def approxHopPlotRowsCached(spark: SparkSession, edges: => DataFrame,
      cacheKey: String, maxD: Int = 20, lgK: Int = 12): Seq[ApproxHopRow] =
    graft.SessionCaches.memo(spark, "hyperanf",
      s"$cacheKey|maxD=$maxD|lgK=$lgK")(
      approxHopPlotRows(spark, edges, maxD, lgK))

  /** @param lgK  HLL register count = 2^lgK (12 → ~1.6% rsd, 4 KiB/vertex).
    * @param maxD hard cap on supersteps, like the exact BFS. */
  def approxHopPlotRows(
      spark: SparkSession,
      edges: DataFrame,
      maxD: Int = 20,
      lgK: Int = 12): Seq[ApproxHopRow] =
    Superstep.run(spark, "hyperanf",
      org.apache.spark.sql.GraftColumnBridge.memoCount(edges) * 2) { loop =>
      import graft.graph.CitationGraph.bidirectional

      // Edges-by-dst layout, shuffled ONCE and reused every superstep
      // (VERDICT r2 #9): state is hash-partitioned on `id` (groupBy /
      // join outputs, preserved through localCheckpoint via LogicalRDD's
      // outputPartitioning), so the per-round state⋈edges and
      // state⋈messages joins are co-partitioned and EnsureRequirements
      // inserts no exchange — the only per-round shuffle is the message
      // aggregation by `m`, the Pregel minimum (the loop's `exchanges`
      // stat). Merge hints pin sort-merge so the planner never
      // "optimizes" into broadcasting the per-vertex state (a driver
      // collect of O(V) sketches — wrong at 100 TB).
      val bidir = bidirectional(edges)
      val nbr = loop.cache(bidir.select(col("src").as("m"), col("dst").as("nb"))
        .repartition(col("nb")))

      // ball(v, 0) = {v}: a 1-element sketch per vertex
      val (st0, n, _) = loop.ckpt(
        bidir.select(col("src").as("id")).distinct()
          .groupBy(col("id")).agg(hll_sketch_agg(col("id"), lit(lgK)).as("sk")))
      loop.input(n)
      val rows = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
      var stFull = st0
      var st = st0
      var last = n // N(0): every ball is exactly its own vertex
      var d = 0
      var stale = if (n == 0) 2 else 0 // consecutive supersteps with no estimated growth
      val plateau = scala.collection.mutable.ArrayBuffer[Int]()
      while (stale < 2 && d < maxD) {
        d += 1
        val nbrAgg = nbr.hint("merge").join(st, col("nb") === col("id"))
          .groupBy(col("m"))
          .agg(hll_union_agg(col("sk"), lit(false)).as("nsk"))
        val mergedDs = st.hint("merge").join(nbrAgg, col("id") === col("m"), "left")
          .select(col("id"),
            when(col("nsk").isNull, col("sk"))
              .otherwise(hll_union(col("sk"), col("nsk"))).as("sk"))
        // the estimate is computed into the checkpointed row and summed
        // as the materialization caches it; the (id, sk) projection keeps
        // it out of the next round's joins
        val (mergedFull, _, tot) = loop.step(
          mergedDs.withColumn("est", hll_sketch_estimate(col("sk"))), "est", Sum)
        loop.free(stFull)
        stFull = mergedFull
        st = mergedFull.select(col("id"), col("sk"))
        if (tot > last) {
          // a plateaued estimate followed by growth means the sketch was
          // noisy, not that the balls stopped growing — backfill the
          // skipped hop(s) with the carried estimate to keep d consecutive
          plateau.foreach(pd => rows += pd -> ((last - n) / 2))
          plateau.clear()
          last = tot
          rows += d -> ((tot - n) / 2) // unordered pair estimate
          stale = 0
        } else {
          // don't stop on one flat estimate (ADVICE r2): advance state and
          // peek one more superstep; trailing plateau rows are dropped
          plateau += d
          stale += 1
        }
      }
      if (stale < 2) loop.unconverged()

      val total = if (rows.isEmpty) 1L else math.max(rows.last._2, 1L)
      rows.map { case (dd, g) =>
        val pct = BigDecimal(g.toDouble / total.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        ApproxHopRow(dd, g, pct)
      }.toSeq
    }
}

package graft

import org.apache.spark.sql.functions._

import graft.analytics.{PageRank, Superstep}
import graft.graph.CitationGraph

/** PageRank: exact equality with an in-memory reference of the same
  * integer recurrence, structural sanity, and the one-exchange-per-
  * iteration layout contract. */
class PageRankSpec extends SparkSpec {

  /** Reference implementation: same integer fixed-point recurrence over
    * Scala Maps (truncating Long division everywhere). */
  private def referencePr(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val e = edges.filter(p => p._1 != p._2).distinct
    val vs = (e.map(_._1) ++ e.map(_._2)).distinct
    val n = vs.size.toLong
    val deg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val inc = e.groupBy(_._2)
    val r0 = PageRank.Scale / n
    val base = ((100L - PageRank.DampPct) * PageRank.Scale) / (100L * n)
    var r = vs.map(_ -> r0).toMap
    for (_ <- 1 to iters) {
      r = vs.map { v =>
        val contrib = inc.getOrElse(v, Seq.empty)
          .map { case (u, _) => r(u) / deg(u) }.sum
        v -> (base + (PageRank.DampPct * contrib) / 100L)
      }.toMap
    }
    r
  }

  private def prOf(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    import spark.implicits._
    PageRank.pageRank(spark, edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("star + chain graph equals the reference recurrence exactly") {
    // 2,3,4 -> 1 (star); 1 -> 5 -> 6 (chain); 7 <-> 8 (cycle); dangling 6
    val edges = Seq[(Long, Long)](
      (2, 1), (3, 1), (4, 1), (1, 5), (5, 6), (7, 8), (8, 7), (2, 1))
    assert(prOf(edges, 10) === referencePr(edges, 10))
  }

  test("hub accumulates more rank than its spokes") {
    val edges = Seq[(Long, Long)]((2, 1), (3, 1), (4, 1), (5, 1))
    val r = prOf(edges, 10)
    assert(r(1) > r(2) && r(2) === r(3))
  }

  test("citation graph at sf0.001: mass bounded, deterministic across runs") {
    val edges = CitationGraph.edges(spark, sf())
    val a = PageRank.pageRank(spark, edges, 10)
      .agg(sum(col("r")), count(lit(1))).head
    // truncation + dangling leak only REMOVE mass: sum <= Scale
    assert(a.getLong(0) <= PageRank.Scale && a.getLong(0) > 0L)
    val r1 = PageRank.pageRank(spark, edges, 10).collect().map(_.toSeq).toSet
    val r2 = PageRank.pageRank(spark, edges.repartition(7), 10)
      .collect().map(_.toSeq).toSet
    assert(r1 === r2)
  }

  test("iteration plan has exactly one exchange: the contribution groupBy") {
    // sf0.001 runs on one partition, 100,001 edges on two: the static
    // edge frame is src-partitioned either way, so the same one exchange
    for ((edges, partitions) <- Seq(
        CitationGraph.edges(spark, sf()) -> 1, denseEdges(100001) -> 2)) {
      PageRank.pageRank(spark, edges, iters = 2)
      val st = Superstep.stats(spark, "pagerank").get
      assert(st.partitions === partitions)
      assert(st.exchanges === 1, s"expected 1 exchange per iteration, saw ${st.exchanges}")
    }
  }

  test("personalized: unreachable vertices hold rank exactly 0") {
    import spark.implicits._
    // seed {1} feeds the chain 1→2→3; the island 10→11 never sees mass
    val e = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val r = PageRank.personalizedPageRank(spark, e, seedMax = 2L, iters = 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(1L) > 0L && r(2L) > 0L && r(3L) > 0L)
    assert(r(10L) === 0L && r(11L) === 0L)
    // seed holds the teleport base; downstream holds strictly less
    assert(r(1L) > r(2L) && r(2L) > r(3L))
  }

  test("personalized with every vertex a seed equals plain PageRank") {
    val edges = CitationGraph.edges(spark, sf())
    val plain = PageRank.pageRank(spark, edges, iters = 5)
      .collect().map(_.toSeq).toSet
    val ppr = PageRank.personalizedPageRank(spark, edges,
      seedMax = Long.MaxValue, iters = 5).collect().map(_.toSeq).toSet
    assert(ppr === plain)
  }

  test("warm start from uniform init equals a cold start bit-for-bit") {
    import spark.implicits._
    val edges = CitationGraph.edges(spark, sf())
    val cold = PageRank.pageRank(spark, edges, iters = 4)
    // uniform init = cold init; the warm path must be the same recurrence
    val n = edges.filter(org.apache.spark.sql.functions.col("src") =!=
      org.apache.spark.sql.functions.col("dst"))
      .select("src").union(edges.select("dst")).distinct().count()
    val uniform = cold.select(org.apache.spark.sql.functions.col("id"))
      .withColumn("r", org.apache.spark.sql.functions.lit(PageRank.Scale / n))
    val warm = PageRank.pageRankWarm(spark, edges, uniform, iters = 4)
    assert(warm.collect().map(_.toSeq).toSet === cold.collect().map(_.toSeq).toSet)
  }

  test("rounds saved on a deep non-uniform graph: warm-3 beats cold-3 ≥100x") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{abs => sabs, col, max => smax}
    // warm restart pays when (a) the fixpoint is FAR from the uniform
    // cold init and (b) the batch perturbs it locally. A "caterpillar"
    // has both: a 30-hub chain, each hub fed by 20 leaves — rank
    // accumulates along the chain (tail hubs ≈ 17x uniform) and needs
    // ~chain-length rounds to build from cold. The batch is one new
    // leaf at the TAIL hub: nothing downstream to re-propagate, so the
    // converged standing state is already ~the new fixpoint. Modeled
    // ratio 515x (float twin); asserted ≥100x in exact integers.
    val L = 30; val F = 20
    val chain = (0 until L - 1).map(k => (k.toLong, (k + 1).toLong))
    val leaves = for (k <- 0 until L; j <- 0 until F)
      yield ((L + k * F + j).toLong, k.toLong)
    val standingEdges = chain ++ leaves
    val newLeaf = (L + L * F).toLong
    val all = (standingEdges :+ ((newLeaf, (L - 1).toLong))).toDF("src", "dst")
    val standing = standingEdges.toDF("src", "dst")
    val rOld = PageRank.pageRank(spark, standing, iters = 80)
    val target = PageRank.pageRank(spark, all, iters = 160)
      .withColumnRenamed("r", "rt")
    def linfTo(ranks: org.apache.spark.sql.DataFrame): Long =
      ranks.join(target, Seq("id"))
        .agg(smax(sabs(col("r") - col("rt")))).head.getLong(0)
    val warm3 = linfTo(PageRank.pageRankWarm(spark, all, rOld, iters = 3))
    val cold3 = linfTo(PageRank.pageRank(spark, all, iters = 3))
    assert(warm3 * 100 <= cold3,
      s"warm-3 L∞ $warm3 must beat cold-3 L∞ $cold3 by ≥100x")
  }

  test("negative result, recorded: on the rapid-mixing citation graph warm start saves nothing") {
    import org.apache.spark.sql.functions.{abs => sabs, col, max => smax}
    // avg-degree ~10 random digraph mixes in ~3 rounds — a cold start
    // is already ~converged, so a warm start from a 10%-of-sources
    // standing state is WORSE (the standing graph's extra dangling
    // leak biases its fixpoint away from the union's). Measured round
    // 10: warm3 2.03e9 vs cold3 3.9e7 (m=10), still 3.6e8 vs 3.9e7 at
    // a 1% batch (m=100). The operator's value claim is therefore
    // scoped to slow-mixing graphs (test above); this pin keeps the
    // negative result from silently regressing into a false claim.
    val all = CitationGraph.edges(spark, sf())
    val standing = all.filter(col("src") % 10 =!= 7)
    val rOld = PageRank.pageRank(spark, standing, iters = 10)
    val target = PageRank.pageRank(spark, all, iters = 12)
      .withColumnRenamed("r", "rt")
    def linfTo(ranks: org.apache.spark.sql.DataFrame): Long =
      ranks.join(target, Seq("id"))
        .agg(smax(sabs(col("r") - col("rt")))).head.getLong(0)
    val warm3 = linfTo(PageRank.pageRankWarm(spark, all, rOld, iters = 3))
    val cold3 = linfTo(PageRank.pageRank(spark, all, iters = 3))
    assert(cold3 < warm3, s"if this flips ($warm3 vs $cold3), the " +
      "negative result above no longer holds — update the scoping note")
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.analytics.{Mis, Superstep}
import graft.graph.CitationGraph

/** Luby-MIS contracts: the result is an independent set (no edge inside
  * it), maximal (every outside vertex has a MIS neighbor), covers every
  * vertex exactly once as member-or-neighbor, is deterministic, and
  * converges within the unrolled oracle depth. */
class MisSpec extends SparkSpec {

  private def bidir(d: String) =
    CitationGraph.bidirectional(CitationGraph.edges(spark, d))

  test("independence: no edge has both endpoints in the MIS") {
    val m = Mis.mis(spark, CitationGraph.edges(spark, sf()))
      .select(col("id")).cache()
    val e = bidir(sf())
    val inside = e
      .join(m.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(m.select(col("id").as("dst")), Seq("dst"), "left_semi")
    assert(inside.count() === 0L)
    m.unpersist()
    graft.analytics.CheckpointRegistry.releaseAll(spark)
  }

  test("maximality: every non-member has a MIS neighbor") {
    val m = Mis.mis(spark, CitationGraph.edges(spark, sf())).select(col("id"))
    val verts = bidir(sf()).select(col("src").as("id")).distinct()
    val outside = verts.join(m, Seq("id"), "left_anti")
    // neighbors of MIS members
    val covered = bidir(sf())
      .join(m.select(col("id").as("src")), Seq("src"), "left_semi")
      .select(col("dst").as("id")).distinct()
    val uncovered = outside.join(covered, Seq("id"), "left_anti")
    assert(uncovered.count() === 0L)
    graft.analytics.CheckpointRegistry.releaseAll(spark)
  }

  test("deterministic across runs; rounds within the oracle depth") {
    val a = Mis.mis(spark, CitationGraph.edges(spark, sf()))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.analytics.CheckpointRegistry.releaseAll(spark)
    val r1 = Superstep.stats(spark, "mis").get.rounds
    val b = Mis.mis(spark, CitationGraph.edges(spark, sf()))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.analytics.CheckpointRegistry.releaseAll(spark)
    assert(a === b)
    assert(r1 <= Mis.FixpointOracleDepth)
    info(s"sf0.001 convergence rounds: $r1")
  }

  test("sf0.01: properties hold at the gate scale; rounds reported") {
    val d = sf("0.01")
    val m = Mis.mis(spark, CitationGraph.edges(spark, d)).select(col("id")).cache()
    val rounds = Superstep.stats(spark, "mis").get.rounds
    val e = bidir(d)
    val inside = e
      .join(m.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(m.select(col("id").as("dst")), Seq("dst"), "left_semi")
    assert(inside.count() === 0L)
    val verts = e.select(col("src").as("id")).distinct()
    val covered = e
      .join(m.select(col("id").as("src")), Seq("src"), "left_semi")
      .select(col("dst").as("id")).distinct()
    val uncovered = verts.join(m, Seq("id"), "left_anti")
      .join(covered, Seq("id"), "left_anti")
    assert(uncovered.count() === 0L)
    assert(rounds <= Mis.FixpointOracleDepth)
    info(s"sf0.01 convergence rounds: $rounds")
    m.unpersist()
    graft.analytics.CheckpointRegistry.releaseAll(spark)
  }

  test("toy 5-path: alternating structure, one winner per odd position") {
    import spark.implicits._
    // path 1-2-3-4-5; whatever the md5 order, MIS of a path of 5 has
    // size 2 or 3 and the independence/maximality checks pin the rest
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val m = Mis.mis(spark, e).collect().map(_.getLong(0)).toSet
    graft.analytics.CheckpointRegistry.releaseAll(spark)
    assert(m.size >= 2 && m.size <= 3)
    // independence on the path
    val pairs = Set((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    pairs.foreach { case (a, b) => assert(!(m(a) && m(b)), s"edge $a-$b inside") }
    // maximality
    (1L to 5L).filterNot(m).foreach { v =>
      val nbrs = pairs.collect { case (a, b) if a == v => b
                                 case (a, b) if b == v => a }
      assert(nbrs.exists(m), s"uncovered $v")
    }
  }
}

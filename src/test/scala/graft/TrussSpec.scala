package graft

import org.apache.spark.sql.functions._

import graft.analytics.Truss

/** k-truss contracts on graphs with known decompositions plus
  * real-corpus invariants. */
class TrussSpec extends SparkSpec {

  test("K4 is a 4-truss, a lone triangle is 3, a path is absent") {
    import spark.implicits._
    // K4 on 1-4 (6 edges), triangle on 10-12, path 20-21-22
    val e = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L), (21L, 22L)).toDF("src", "dst")
    val out = Truss.decompose(spark, e).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    graft.analytics.CheckpointRegistry.releaseAll(spark)
    val k4Edges = Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    k4Edges.foreach(p => assert(out(p) === 4L, s"K4 edge $p"))
    Set((10L, 11L), (10L, 12L), (11L, 12L))
      .foreach(p => assert(out(p) === 3L, s"triangle edge $p"))
    assert(!out.contains((20L, 21L)) && !out.contains((21L, 22L)))
    assert(out.size === 9)
  }

  test("peeling cascades: a triangle hanging off K4 dies with its bridge") {
    import spark.implicits._
    // K4 on 1-4 plus vertex 5 adjacent to 3 and 4 only: edges (3,5),(4,5)
    // close ONE triangle each (support 1 < 2), so 5's edges peel out of
    // the 4-truss and the K4 core must survive WITHOUT them
    val e = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 5L), (4L, 5L)).toDF("src", "dst")
    val out = Truss.decompose(spark, e).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    graft.analytics.CheckpointRegistry.releaseAll(spark)
    assert(out((3L, 5L)) === 3L)
    assert(out((4L, 5L)) === 3L)
    Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .foreach(p => assert(out(p) === 4L, s"core edge $p"))
  }

  test("real corpus: decomposition is deterministic, converges, nested") {
    val a = Truss.trussQ.run(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    graft.analytics.CheckpointRegistry.releaseAll(spark)
    val (rounds3, rounds4, converged) = Truss.convergence(spark)
    assert(converged)
    info(s"rounds: k3=$rounds3, k4-from-3truss=$rounds4")
    val b = Truss.trussQ.run(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    graft.analytics.CheckpointRegistry.releaseAll(spark)
    assert(a === b)
    assert(a.nonEmpty)
    // canonical orientation and level domain
    a.foreach { case (s, d, t) =>
      assert(s < d); assert(t === 3L || t === 4L)
    }
  }
}

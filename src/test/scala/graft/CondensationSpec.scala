package graft

import org.apache.spark.sql.functions._

import graft.analytics.{Condensation, Superstep}

/** Condensation + topological depth: hand-built DAG-of-cycles cases,
  * acyclicity of the contraction, and the depth-fixpoint gate. */
class CondensationSpec extends SparkSpec {

  private def run(rows: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    import spark.implicits._
    Condensation.condensation(spark, rows.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
  }

  test("two cycles and a bridge: depths 0 and 1, sizes 2 and 2") {
    // {1<->2} -> {4<->5}
    val m = run(Seq((1L, 2L), (2L, 1L), (2L, 4L), (4L, 5L), (5L, 4L)))
    val byDepth = m.toSeq.map { case (s, (d, n)) => (d, n) }.sorted
    assert(byDepth === Seq((0L, 2L), (1L, 2L)))
  }

  test("longest path wins over shortest: diamond with a long arm") {
    // 1 -> 2 -> 3 -> 5 and 1 -> 5: depth(5) = 3, not 1
    val m = run(Seq((1L, 2L), (2L, 3L), (3L, 5L), (1L, 5L)))
    assert(m(5L)._1 === 3L)
    assert(m(1L)._1 === 0L)
  }

  test("a single cycle condenses to one node at depth 0 with full size") {
    val m = run(Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    assert(m === Map(3L -> ((0L, 3L))))
  }

  test("cycle feeding a chain: chain depths count from the cycle") {
    // {1<->2} -> 7 -> 8
    val m = run(Seq((1L, 2L), (2L, 1L), (2L, 7L), (7L, 8L)))
    assert(m(2L) === ((0L, 2L)))
    assert(m(7L) === ((1L, 1L)))
    assert(m(8L) === ((2L, 1L)))
  }

  test("corpus: sizes sum to vertex count, one depth-0 component exists, gate holds") {
    val g = graft.graph.CitationGraph.edges(spark, sf())
    val out = Condensation.condensation(spark, g).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nVerts = graft.analytics.Scc.scc(spark, g).count()
    assert(out.map(_._3).sum === nVerts)
    assert(out.exists(_._2 === 0L))
    val rounds = Superstep.stats(spark, "condensation").get.rounds
    info(s"sf0.001: ${out.length} components, max depth " +
      s"${out.map(_._2).max}, depth-fixpoint rounds=$rounds")
    assert(rounds <= Condensation.DepthUnroll)
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.analytics.Mst

/** Borůvka minimum spanning forest: known MSTs on toy graphs, the
  * n - c edge-count law against ConnectedComponents, weight optimality
  * spot checks, and the convergence gates. */
class MstSpec extends SparkSpec {

  private def run(rows: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
    import spark.implicits._
    Mst.mst(spark, rows.toDF("src", "dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("triangle: the heaviest edge is dropped") {
    // canonical weights: (1,2)=1+3%10=4, (1,3)=5, (2,3)=6
    val m = run(Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    assert(m === Set((1L, 2L, 4L), (1L, 3L, 5L)))
  }

  test("square with cheap diagonal: MST uses the diagonal") {
    // edges (1,2)w4 (2,3)w6 (3,4)w8 (1,4)w6 (1,3)w5
    // MST: pick 3 edges spanning {1,2,3,4} of min total:
    // (1,2)4 + (1,3)5 + (1,4)6 = 15
    val m = run(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)))
    assert(m === Set((1L, 2L, 4L), (1L, 3L, 5L), (1L, 4L, 6L)))
  }

  test("two components yield a spanning forest, never a bridge") {
    val m = run(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(m.size === 3)
    assert(m.forall { case (u, v, _) => (u < 10) === (v < 10) })
  }

  test("chain: every edge is in the forest") {
    val m = run(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    assert(m.size === 4)
  }

  test("deterministic across layouts") {
    val rows = (0 until 100).map(i =>
      ((i % 17).toLong, ((i * 3 + 1) % 17).toLong)).filter(p => p._1 != p._2)
    val a = run(rows)
    import spark.implicits._
    val b = Mst.mst(spark, rows.toDF("src", "dst").repartition(7))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a === b)
  }

  test("corpus law: |MST| = n - c (ConnectedComponents cross-check), gates hold") {
    val g = graft.graph.CitationGraph.edges(spark, sf())
    val forest = Mst.mst(spark, g)
    val nEdges = forest.count()
    val cc = graft.analytics.ConnectedComponents.components(g)
    val n = cc.count()
    val c = cc.select("comp").distinct().count()
    assert(nEdges === n - c, s"forest $nEdges != $n - $c")
    // forest edges are real canonical edges with the derived weight
    val canon = Mst.canonical(g)
    val bad = forest.join(canon,
      forest("ou") === canon("u") && forest("ov") === canon("v") &&
        forest("w") === canon("w"), "left_anti")
    assert(bad.count() === 0)
    val (rounds, jumpsOk) = Mst.convergence(spark)
    info(s"sf0.001: $nEdges MST edges, rounds=$rounds jumpsOk=$jumpsOk")
    assert(rounds <= Mst.RoundsUnroll)
    assert(jumpsOk)
  }
}

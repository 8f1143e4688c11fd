package graft

import org.apache.spark.sql.functions._

import graft.analytics.Scc

/** SCC by forward-max coloring: exact components on hand-built digraphs,
  * the mutual-reachability law, determinism, and the fixpoint-depth
  * gates the unrolled oracle depends on. */
class SccSpec extends SparkSpec {

  private def edges(rows: Seq[(Long, Long)]) = {
    import spark.implicits._
    rows.toDF("src", "dst")
  }

  private def run(rows: Seq[(Long, Long)]): Map[Long, Long] =
    Scc.scc(spark, edges(rows)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a directed cycle is one SCC labeled by its max id") {
    val m = run(Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    assert(m === Map(1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("a DAG is all singleton SCCs") {
    val m = run(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    assert(m === Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("two cycles joined by a one-way bridge stay separate SCCs") {
    // cycle {1,2} -> bridge -> cycle {4,5}
    val m = run(Seq((1L, 2L), (2L, 1L), (2L, 4L), (4L, 5L), (5L, 4L)))
    assert(m(1L) === m(2L))
    assert(m(4L) === m(5L))
    assert(m(1L) !== m(4L))
  }

  test("anti-sorted chain into a cycle (the coloring worst-case shape)") {
    // 5 -> 4 -> 3 -> {1 <-> 2}: all colors flood to 5 in round 1; only
    // {5} is an SCC then; later rounds peel 4, 3, then find {1,2}
    val m = run(Seq((5L, 4L), (4L, 3L), (3L, 1L), (1L, 2L), (2L, 1L)))
    assert(m(1L) === 2L && m(2L) === 2L)
    assert(m(3L) === 3L && m(4L) === 4L && m(5L) === 5L)
  }

  test("mutual-reachability law on the real graph: same scc iff paths both ways (spot pairs)") {
    val g = graft.graph.CitationGraph.edges(spark, sf())
    val m = Scc.scc(spark, g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every vertex assigned exactly once, scc_id is a member of the class
    val byScc = m.groupBy(_._2)
    byScc.foreach { case (sid, members) =>
      assert(m(sid) === sid, s"scc label $sid is not its own label")
      assert(members.nonEmpty)
    }
    val (outer, fwd, bwd) = Scc.depths(spark)
    info(s"sf0.001: ${m.size} vertices, ${byScc.size} SCCs, " +
      s"largest ${byScc.values.map(_.size).max}; rounds: outer=" +
      s"$outer fwd=$fwd bwd=$bwd")
    assert(outer <= Scc.OuterDepth)
    assert(fwd <= Scc.FwdDepth)
    assert(bwd <= Scc.BwdDepth)
  }

  test("deterministic across layouts") {
    val rows = (0 until 60).map(i =>
      ((i % 13).toLong, ((i * 7 + 3) % 13).toLong))
    val a = run(rows)
    import spark.implicits._
    val b = Scc.scc(spark,
      rows.toDF("src", "dst").repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
  }

  test("agreement with undirected components: SCCs refine them") {
    val g = graft.graph.CitationGraph.edges(spark, sf())
    val sccM = Scc.scc(spark, g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ccM = graft.analytics.ConnectedComponents
      .components(g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // two vertices in the same SCC must share an undirected component
    sccM.groupBy(_._2).values.foreach { members =>
      val ccs = members.keys.map(ccM).toSet
      assert(ccs.size === 1, s"SCC spans undirected components: $ccs")
    }
  }
}

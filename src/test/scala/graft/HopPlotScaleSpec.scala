package graft

import graft.analytics.{ConnectedComponents, HopPlot}

/** Stress the all-pairs BFS beyond toy graphs: a deterministic
  * pseudo-random graph with ~2·10⁶ connected ordered pairs, the state
  * growth the reference struggled with (SURVEY.md §7.6). Invariants, not
  * goldens: monotone g(d), total == Σ C(component,2) from the
  * independent connected-components computation, and coverage-cut
  * consistency.
  */
class HopPlotScaleSpec extends SparkSpec {

  private val n = 1500
  // deterministic sparse graph: two LCG-ish rings + chords
  private lazy val edges = {
    import spark.implicits._
    val es = (0 until n).flatMap { i =>
      Seq((i.toLong, ((i + 1) % n).toLong),
        (i.toLong, ((i * 31 + 7) % n).toLong))
    }.filter { case (a, b) => a != b }
    es.toDF("src", "dst")
  }

  test("1500-node graph: BFS fixpoint total equals components-derived pairs") {
    val rows = HopPlot.hopPlotRows(spark, edges)
    val totalFromComponents = ConnectedComponents.componentSizes(edges)
      .collect().map(_.getLong(2)).sum
    assert(rows.nonEmpty)
    assert(rows.last.g_d === totalFromComponents)
    assert(rows.last.pct === 1.0)
    assert(rows.map(_.g_d) === rows.map(_.g_d).sorted)
    assert(rows.map(_.d) === (1 to rows.size))
    // ring+chords keeps the graph connected: all C(n,2) pairs reachable
    assert(totalFromComponents === n.toLong * (n - 1) / 2)
  }

  test("coverage short-circuit stops early but matches the full prefix") {
    val full = HopPlot.hopPlotRows(spark, edges)
    val total = full.last.g_d
    val cut = HopPlot.hopPlotRows(spark, edges,
      coverage = 0.9, totalPairs = Some(total))
    assert(cut.size < full.size || full.last.pct >= 0.9)
    assert(cut === full.take(cut.size))
    assert(cut.last.pct >= 0.9)
    assert(cut.init.forall(_.pct < 0.9))
  }
}

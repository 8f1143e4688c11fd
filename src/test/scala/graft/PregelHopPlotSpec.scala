package graft

import graft.analytics.{CitationAnalytics, HopPlot}
import graft.graph.{CitationGraph, PregelHopPlot}
import graft.sources.CitationLoaders

/** Cross-validation: the GraphX/Pregel hop-plot must equal the Dataset
  * BFS on every fixture (SURVEY.md §7.3: two implementations, same API). */
class PregelHopPlotSpec extends SparkSpec {

  private def edgesDf(es: Seq[(Long, Long)]) = {
    import spark.implicits._
    es.toDF("src", "dst")
  }

  test("pregel == dataset BFS on P6 chain") {
    val chain = (1L to 6L).sliding(2).map(s => (s(0), s(1))).toSeq
    assert(PregelHopPlot.hopPlotRows(spark, edgesDf(chain))
      === HopPlot.hopPlotRows(spark, edgesDf(chain)))
  }

  test("pregel == dataset BFS on the reference toy graph (1998 snapshot)") {
    val fixtures = ReferenceFixtures.toyDir
    val edges = CitationAnalytics.snapshotEdges(
      CitationLoaders.loadCitations(spark, s"$fixtures/citations.txt"),
      CitationLoaders.loadPublishedDates(spark, s"$fixtures/published-dates.txt"),
      1998)
    assert(PregelHopPlot.hopPlotRows(spark, edges)
      === HopPlot.hopPlotRows(spark, edges))
  }

  test("pregel == dataset BFS on the testdata hop graph") {
    val edges = CitationGraph.hopEdges(spark, sf())
    assert(PregelHopPlot.hopPlotRows(spark, edges)
      === HopPlot.hopPlotRows(spark, edges))
  }

  test("maxD caps pregel distances") {
    val chain = (1L to 9L).sliding(2).map(s => (s(0), s(1))).toSeq
    val rows = PregelHopPlot.hopPlotRows(spark, edgesDf(chain), maxD = 3)
    assert(rows.map(_.d) === Seq(1, 2, 3))
  }
}

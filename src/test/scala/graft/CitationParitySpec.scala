package graft

import org.apache.spark.sql.Row

import graft.analytics.{CitationAnalytics, ConnectedComponents, HopPlot}
import graft.sources.CitationLoaders

/** Reference parity on the reference's own toy fixture
  * (data/testing, vendored as src/test/resources/reference: 11 nodes,
  * 17 edges, years 1992-1998).
  * Expected values hand/independently derived (SURVEY.md §5.1).
  */
class CitationParitySpec extends SparkSpec {

  private val fixtures = ReferenceFixtures.toyDir
  private lazy val citations =
    CitationLoaders.loadCitations(spark, s"$fixtures/citations.txt")
  private lazy val published =
    CitationLoaders.loadPublishedDates(spark, s"$fixtures/published-dates.txt")

  test("citations loader: 17 edges, comment lines dropped, int schema") {
    assert(citations.count() === 17)
    assert(citations.columns.toSeq === Seq("from", "to"))
    val first = citations.orderBy("from", "to").head
    assert(first === Row(2, 1))
  }

  test("published-dates loader: 11 nodes with years 1992-1998") {
    assert(published.count() === 11)
    val byId = published.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(byId(1) === 1992)
    assert(byId(11) === 1998)
  }

  test("cross-listed id normalization: 9-digit 11-prefix ids stripped") {
    import spark.implicits._
    val df = Seq("119203201\t1993-01-01", "9203201\t1992-02-24", "# c")
      .toDF("value")
    // route through a temp file to exercise the real loader path
    val tmp = java.nio.file.Files.createTempDirectory("pd").toString
    df.coalesce(1).write.mode("overwrite").text(s"$tmp/pd.txt")
    val got = CitationLoaders.loadPublishedDates(spark, s"$tmp/pd.txt").collect()
    // both lines normalize to id 9203201; min(year) wins deterministically
    assert(got.length === 1)
    assert(got.head === Row(9203201, 1992))
  }

  test("density plan: one scan per file, the published-dates aggregate reused") {
    val plan = finalPlan(CitationAnalytics.density(citations, published))
      .split("== Initial Plan ==")(0)
    assert("FileScan text".r.findAllIn(plan).size === 2, plan)
    assert(plan.contains("ReusedExchange"), plan)
  }

  test("density matches hand-computed toy values") {
    val got = CitationAnalytics.density(citations, published)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = Seq(
      (1993, 3L, 2L), (1994, 4L, 4L), (1995, 5L, 6L),
      (1996, 7L, 9L), (1997, 10L, 16L), (1998, 11L, 17L))
    assert(got === expected)
  }

  test("1998 snapshot hop-plot matches independent BFS") {
    val rows = HopPlot.hopPlotRows(spark,
      CitationAnalytics.snapshotEdges(citations, published, 1998))
    assert(rows.map(r => (r.d, r.g_d, r.pct)) === Seq(
      (1, 17L, 0.309091), (2, 42L, 0.763636), (3, 54L, 0.981818), (4, 55L, 1.0)))
  }

  test("1996 snapshot hop-plot (temporal filter) matches independent BFS") {
    val rows = HopPlot.hopPlotRows(spark,
      CitationAnalytics.snapshotEdges(citations, published, 1996))
    assert(rows.map(r => (r.d, r.g_d, r.pct)) === Seq(
      (1, 9L, 0.428571), (2, 18L, 0.857143), (3, 21L, 1.0)))
  }

  test("diameter task output: reference columns + 90% early stop") {
    val df = CitationAnalytics.diameter(spark, citations, published, 1998)
    assert(df.columns.toSeq === Seq("d", "g(d)", "percent_of_total"))
    val rows = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // crossing row d=3 (0.9818 >= 0.9) included, d=4 cut
    assert(rows.map(_._1).toSeq === Seq(1, 2, 3))
    assert(rows.last === ((3, 54L, 0.981818)))
  }

  test("connected components: single 55-pair component at 1998") {
    val sizes = ConnectedComponents.componentSizes(
      CitationAnalytics.snapshotEdges(citations, published, 1998)).collect()
    assert(sizes.length === 1)
    assert(sizes.head.getLong(1) === 11L)
    assert(sizes.head.getLong(2) === 55L)
  }

  test("GraphX connectedComponents agrees with DataFrame propagation") {
    val edges = CitationAnalytics.snapshotEdges(citations, published, 1998)
    val df = ConnectedComponents.components(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gx = graft.graph.GraphXComponents.components(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(df === gx)
  }

  test("effective diameter interpolates between straddling rows") {
    val ed = HopPlot.effectiveDiameter(spark,
      CitationAnalytics.snapshotEdges(citations, published, 1998))
      .head.getDouble(0)
    // target 0.9*55 = 49.5; rows d=2 (42) and d=3 (54): 2 + 7.5/12
    assert(ed === 2.625)
  }
}

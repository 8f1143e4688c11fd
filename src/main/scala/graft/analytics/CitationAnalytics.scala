package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-parity entry points over the citation data model
  * (Analytics.scala): density and per-year diameter/hop-plot, with the
  * reference's output column names so the CSV sinks produce comparable
  * files.
  */
object CitationAnalytics {

  /** Densification table `(year, n(t), e(t))` (Analytics.scala:77-142).
    * One edge contributes to the year of its `from` node (J1). Inner
    * join keeps years present on both sides, like the reference (J3).
    * [[Density.densities]] under the reference's column names.
    */
  def density(citations: DataFrame, publishedDates: DataFrame): DataFrame =
    Density.densities(
      publishedDates.select(col("id"), col("year").as("yr")),
      citations.select(col("from").as("src"), col("to").as("dst")))
      .toDF("year", "n(t)", "e(t)")

  /** Snapshot edges at `year`: both endpoints published <= year
    * (F3, Analytics.scala:348-360), as (src, dst). */
  def snapshotEdges(citations: DataFrame, publishedDates: DataFrame,
      year: Int): DataFrame = {
    val from = publishedDates.select(col("id").as("fid"), col("year").as("fromYear"))
    val to = publishedDates.select(col("id").as("tid"), col("year").as("toYear"))
    citations
      .join(from, citations("from") === col("fid"))
      .join(to, citations("to") === col("tid"))
      .filter(col("fromYear") <= year && col("toYear") <= year)
      .select(col("from").cast("long").as("src"), col("to").cast("long").as("dst"))
  }

  /** Hop-plot for the undirected `year` snapshot, reference output shape
    * `(d, g(d), percent_of_total)` (Application.scala:116) with the
    * reference's stop conditions (d <= 20, stop once coverage >= 0.9;
    * Analytics.scala:196). One BFS per source gives the snapshot's exact
    * distance histogram ([[HopPlot.distanceHistogram]]); its sum over
    * every distance, halved, is the denominator, Σ C(size, 2) over the
    * connected components. A given `totalPairs` (e.g. from a
    * nodepairs.csv, S3) is used instead.
    */
  def diameter(spark: SparkSession, citations: DataFrame,
      publishedDates: DataFrame, year: Int,
      maxD: Int = 20, coverage: Double = 0.9,
      totalPairs: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val hist = HopPlot.distanceHistogram(spark,
      snapshotEdges(citations, publishedDates, year))
    HopPlot.rows(hist, maxD, coverage, totalPairs.orElse(Some(hist.sum / 2)))
      .toDF("d", "g(d)", "percent_of_total")
  }
}

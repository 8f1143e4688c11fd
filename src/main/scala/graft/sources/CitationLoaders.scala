package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions.{parse_citation_edge, parse_published_date}

/** Text-file sources for the reference's citation-graph data model
  * (DataFrameLoader.scala:28-74). Declarative re-expression: one
  * `spark.read.text` scan + Catalyst column expressions instead of the
  * reference's RDD map/filter lambdas, so pruning/pushdown/codegen apply.
  *
  * Each line is parsed by a regex-free codegen'd expression
  * (graft.functions.CitationText) in one pass over its bytes. It reads
  * the fields that `split(trim(line), "\\s+")` would and parses them as
  * `try_cast(... AS INT)` would. Lines containing '#' (the reference's
  * comment rule, DataFrameLoader.scala:31,58) and malformed lines (fewer
  * than two fields, a non-integer field, a leading tab) are dropped, never
  * thrown on, whatever `spark.sql.ansi.enabled` says.
  */
object CitationLoaders {

  /** Whitespace-separated directed edge list -> citations(from, to)
    * (DataFrameLoader.scala:28-38). */
  def loadCitations(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).select(inline(parse_citation_edge(col("value"))))

  /** `<id>\t<yyyy-mm-dd>` node table -> publishedDates(id, year)
    * (DataFrameLoader.scala:55-74). Reproduces: year = first 4 chars of
    * the date; cross-listed 9-digit ids starting "11" lose that prefix
    * (data/published-dates.txt:1). Divergence from the reference, by
    * design: duplicate ids resolve to min(year) instead of the
    * order-nondeterministic first-wins dropDuplicates
    * (DataFrameLoader.scala:73, SURVEY.md §7.6).
    */
  def loadPublishedDates(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).select(inline(parse_published_date(col("value"))))
      .groupBy(col("id")).agg(min(col("year")).as("year"))

  /** Precomputed per-year connected-pair totals (S3) — the path is a
    * parameter here, not the reference's hard-coded HDFS URI
    * (Application.scala:26-32). */
  def loadNodePairs(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(StructType(Seq(
        StructField("year", IntegerType, nullable = false),
        StructField("totalPairs", LongType, nullable = false))))
      .csv(path)
}

package graft

import org.apache.spark.sql.SparkSession

import graft.analytics.CitationAnalytics
import graft.sources.{CitationLoaders, Sinks}

/** CLI entry point mirroring the reference's task dispatch
  * (Application.scala:38-76) without its quirks: explicit flags instead
  * of positional `--testing` (Application.scala:50-56), no hard-coded
  * input paths.
  *
  * Usage:
  *   graft.Main density  <inputDir> <outputDir>
  *   graft.Main diameter <inputDir> <outputDir> [year ...]
  *
  * inputDir must contain citations.txt and published-dates.txt; diameter
  * with no years runs every publication year in the data.
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: graft.Main <density|diameter> <inputDir> <outputDir> [year ...]")
      sys.exit(2)
    }
    val Array(task, inDir, outDir) = args.take(3)
    val spark = Sessions.builder().appName("graft").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    runTask(spark, task, inDir, outDir, args.drop(3).map(_.toInt).toSeq)
    spark.stop()
  }

  /** Task dispatch against an existing session (what `main` wraps; also
    * the e2e test surface — CitationScaleSpec drives it on a synthesized
    * full-scale graph without tearing the shared session down). */
  def runTask(spark: SparkSession, task: String, inDir: String,
      outDir: String, yearArgs: Seq[Int] = Seq.empty): Unit = {
    val citations = CitationLoaders.loadCitations(spark, s"$inDir/citations.txt")
    val published = CitationLoaders.loadPublishedDates(spark, s"$inDir/published-dates.txt")

    task match {
      case "density" =>
        Sinks.saveSortedAsCsv(
          CitationAnalytics.density(citations, published), outDir, "densities", "year")
      case "diameter" =>
        val years =
          if (yearArgs.nonEmpty) yearArgs
          else published.select("year").distinct()
            .collect().map(_.getInt(0)).sorted.toSeq
        // optional precomputed denominators (the reference's nodepairs.csv,
        // Application.scala:26-32) — with them the BFS short-circuits at
        // 90% coverage without first running connected components
        val pairsByYear: Map[Int, Long] =
          if (new java.io.File(s"$inDir/nodepairs.csv").exists())
            CitationLoaders.loadNodePairs(spark, s"$inDir/nodepairs.csv")
              .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
          else Map.empty
        years.foreach { y =>
          Sinks.saveSortedAsCsv(
            CitationAnalytics.diameter(spark, citations, published, y,
              totalPairs = pairsByYear.get(y)),
            outDir, s"diameter_$y", "d")
        }
      case other =>
        System.err.println(s"unknown task: $other (density|diameter)")
        sys.exit(2)
    }
  }
}

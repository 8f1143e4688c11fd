package graft

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

import graft.analytics.{CheckpointRegistry, PageRank}
import graft.graph.CitationGraph
import graft.pipeline.{PipelineQueries, SemanticCluster}

/** The one session factory of the entry points, and the warm-up every
  * timing entry point runs before it measures anything. */
object Sessions {

  /** A session on `cpus` local cores (`SPARK_GRAFT_CPUS`, else every
    * processor), unless spark-submit injected `spark.master`. Shuffle
    * partitions are `cpus`; UTC, Parquet timestamps read as TIMESTAMP
    * rather than TIMESTAMP_NTZ and nanosecond timestamps read as longs,
    * which is what the DuckDB oracles read; no UI. */
  def builder(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors)(_.toInt)): SparkSession.Builder = {
    val b = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    if (sys.props.contains("spark.master")) b else b.master(s"local[$cpus]")
  }

  /** Runs one scan query on `sfDir`, and a PageRank loop, the dedup
    * family build and the k-means pyramid on the sibling `sf0.001`
    * directory, releasing what they cache. Each family's first run pays
    * one-time codegen and JIT, which would otherwise land on whichever
    * query of that family is timed first: at sf0.1, g_pagerank 10.0 s
    * cold vs 3.7 s warm, the dedup family build 9.8 vs 6.2 s, the k-means
    * pyramid 7.9 vs 2.3 s (COVERAGE.md). A failed step only moves that
    * cost, so it is ignored. */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    val tiny = Paths.get(sfDir).toAbsolutePath.resolveSibling("sf0.001").toString
    def quietly(body: => Unit): Unit = try body catch { case _: Throwable => () }
    quietly(SparkEntry.queries("q1_agg")(spark, sfDir).count())
    quietly {
      PageRank.pageRank(spark, CitationGraph.edges(spark, tiny), iters = 2).count()
      CheckpointRegistry.releaseAll(spark)
    }
    quietly {
      PipelineQueries.warmSharedFamily(spark, tiny)
      SessionCaches.clear(spark, "dedup_family")
      CheckpointRegistry.releaseAll(spark)
    }
    quietly(SemanticCluster.clusters(spark, tiny).count())
  }
}

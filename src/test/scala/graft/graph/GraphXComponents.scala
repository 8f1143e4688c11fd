package graft.graph

import org.apache.spark.sql.DataFrame

/** GraphX alternate of [[graft.analytics.ConnectedComponents]]
  * (Pregel-based under the hood): the independent oracle that
  * CitationParitySpec cross-validates the DataFrame propagation against. */
object GraphXComponents {

  def components(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val tuples = CitationGraph.bidirectional(edges).rdd
      .map(r => (r.getLong(0), r.getLong(1)))
    org.apache.spark.graphx.Graph.fromEdgeTuples(tuples, defaultValue = 1)
      .connectedComponents()
      .vertices
      .toDF("id", "comp")
  }
}

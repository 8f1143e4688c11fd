package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation (SURVEY.md
  * §2.12: the engine computes the reference's precomputed `nodepairs.csv`
  * denominator instead of requiring it as input, Application.scala:26-32).
  *
  * Each round a vertex adopts the minimum label among itself and its
  * neighbors; converges in O(diameter) rounds. Same superstep shape as
  * GraphX's Pregel-based connectedComponents, expressed over DataFrames so
  * Catalyst/AQE plan the joins; `localCheckpoint` truncates iterative
  * lineage (swap for `checkpoint` on a cluster).
  */
object ConnectedComponents {

  /** @param edges (src,dst) directed; treated as undirected.
    * @return (id, comp) where comp = min node id of the component. */
  def components(edges: DataFrame): DataFrame =
    components(edges, org.apache.spark.sql.GraftColumnBridge.memoCount(edges))

  /** [[components]] with the loop sized from a known edge count. */
  private[analytics] def components(edges: DataFrame, rows: Long): DataFrame =
    Superstep.run(edges.sparkSession, "components", rows) { loop =>
      val full = labels(loop, edges)
      loop.keep(full)
      full.select(col("id"), col("comp"))
    }

  /** The converged (id, comp, chg) labels, owned by `loop`. */
  private def labels(loop: Superstep.Loop, edges: DataFrame): DataFrame = {
    import graft.graph.CitationGraph.bidirectional
    // dst-partitioned once: every round joins bidir on dst against the
    // id-partitioned labels as a shuffled-hash join built from the
    // labels, which needs no exchange (a broadcast would re-ship bidir,
    // one job a round); a round shuffles only the per-vertex minimum
    val (bidir, nPairs, _) = loop.ckpt(bidirectional(edges).repartition(col("dst")))
    loop.input(nPairs)
    // each vertex starts as its own label; the label is an aggregate,
    // not `id.as("comp")`, whose checkpoint would keep the partitioning
    // on comp and re-shuffle the first round's labels on id
    val (lbl0, nV, _) = loop.ckpt(bidir.groupBy(col("src").as("id"))
      .agg(min(col("src")).as("comp")).withColumn("chg", lit(false)))
    // labels settle within (component diameter + 1) <= |V| rounds
    loop.limit(nV + 1)
    // one propagation step per checkpoint: two per checkpoint measured
    // 2.2x slower at sf0.1 (round 10), each step reading its input twice
    loop.iterate(lbl0, nV, "chg") { s =>
      val lbl = s.select(col("id"), col("comp"))
      val nbrMin = bidir.join(lbl.hint("shuffle_hash"), bidir("dst") === lbl("id"))
        .groupBy(bidir("src").as("nid")).agg(min(col("comp")).as("nbComp"))
      lbl.join(nbrMin.hint("shuffle_hash"), col("id") === col("nid"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbComp"), col("comp"))).as("comp"),
          (coalesce(col("nbComp"), col("comp")) < col("comp")).as("chg"))
    }((_, _, changed) => changed == 0)
  }

  /** Component sizes + the connected-pair count per component
    * (denominator of the hop-plot percentages: sum of C(size,2)). */
  def componentSizes(edges: DataFrame): DataFrame =
    components(edges)
      .groupBy(col("comp")).agg(count(lit(1)).as("size"))
      .select(col("comp"), col("size"),
        (col("size") * (col("size") - 1) / 2).cast("long").as("n_pairs"))
      .orderBy(col("comp"))
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.{ConnectedComponents, IncrementalComponents, Superstep}

/** Incremental CC contracts: the batch merge equals the full recompute
  * on every structural case an insertion can produce (bridge two
  * standing components, extend with new vertices, land inside one
  * component, arrive fully disjoint), and the merge's superstep runs on
  * the CONTRACTED touched-component graph, never the corpus. */
class IncrementalComponentsSpec extends SparkSpec {

  private def edgesOf(pairs: (Long, Long)*): DataFrame = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  /** The latest merge's record: input = label edges, stat = touched. */
  private def merge: Superstep.LoopStats =
    Superstep.stats(spark, "components_incremental").get

  private def assignmentMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def mergedVsRecompute(standing: Seq[(Long, Long)],
      batch: Seq[(Long, Long)]): (Map[Long, Long], Map[Long, Long]) = {
    val merged = IncrementalComponents.merge(
      ConnectedComponents.components(edgesOf(standing: _*)),
      edgesOf(batch: _*))
    val full = ConnectedComponents.components(edgesOf((standing ++ batch): _*))
    (assignmentMap(merged), assignmentMap(full))
  }

  test("bridge: a batch edge merges two standing components to the min label") {
    // standing: {1,2,3} and {10,11}; batch bridges 3-10
    val (m, f) = mergedVsRecompute(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)), Seq((3L, 10L)))
    assert(m === f)
    assert(m(10L) === 1L && m(11L) === 1L && m(3L) === 1L)
  }

  test("new vertices: batch extends a component and adds a disjoint pair") {
    // 20 chains onto {1,2}; {30,31} is brand new and disjoint
    val (m, f) = mergedVsRecompute(
      Seq((1L, 2L)), Seq((2L, 20L), (30L, 31L)))
    assert(m === f)
    assert(m(20L) === 1L && m(30L) === 30L && m(31L) === 30L)
  }

  test("intra-component batch edge is a no-op (zero touched components)") {
    val (m, f) = mergedVsRecompute(
      Seq((1L, 2L), (2L, 3L)), Seq((1L, 3L)))
    assert(m === f)
    assert(merge.input === 0L) // label edges
    assert(merge.stats.head === 0L) // touched components
  }

  test("chained merges: one batch collapses three standing components transitively") {
    // {1,2}, {10,11}, {20,21}; batch chains 2-10 and 11-20
    val (m, f) = mergedVsRecompute(
      Seq((1L, 2L), (10L, 11L), (20L, 21L)), Seq((2L, 10L), (11L, 20L)))
    assert(m === f)
    assert(Set(10L, 11L, 20L, 21L).forall(m(_) == 1L))
    // exactly the two absorbed components are touched
    assert(merge.stats.head === 2L)
  }

  test("contracted graph is batch-sized: label edges never exceed the batch") {
    val standing = (0L until 40L).map(i => (i * 2, i * 2 + 1)) // 40 pairs
    val batch = Seq((1L, 2L), (5L, 6L), (9L, 10L))
    val (m, f) = mergedVsRecompute(standing, batch)
    assert(m === f)
    assert(merge.input <= batch.size.toLong)
  }

  test("registered query equals g_components on the union graph at sf0.001") {
    val a = graft.registry.Registry.byName("g_components_incremental")
      .run(spark, sf()).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = graft.registry.Registry.byName("g_components")
      .run(spark, sf()).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a === b)
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.analytics.{LabelPropagation, Scc, Stress}
import graft.pipeline.ExactBaselines

/** The session-cache eviction registry (ADVICE r7 #2): every named
  * clear hook must actually evict (the next call REBUILDS, it doesn't
  * serve a stale frame), rebuilding must reproduce identical results
  * (the caches are pure memoization), and clearing one session's caches
  * is safe to call repeatedly / when empty. Bench leans on these hooks
  * twice per run — between `_setup_*` reps and after each cache's last
  * consumer — so an eviction bug would silently turn min-of-N back
  * into warm no-ops. */
class SessionCachesSpec extends SparkSpec {

  private def collectSorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("every registered hook clears without error, even when empty") {
    SessionCaches.hooks.foreach { name =>
      SessionCaches.clear(spark, name)
      SessionCaches.clear(spark, name) // idempotent
    }
    SessionCaches.clearAll(spark)
  }

  /** How each family is built: Bench's `_setup_*` entry, or (for the
    * two families with no entry) the call that memoizes them. */
  private val builds: Map[String, () => Unit] =
    Bench.setups.map(su => su.cacheKey -> (() => su.build(spark, sf()))).toMap ++
      Map(
        "graph_modulus" -> (() => { graph.CitationGraph.edges(spark, sf()); () }),
        "memo_count" -> (() => {
          org.apache.spark.sql.GraftColumnBridge.memoCount(Tables.orders(spark, sf())); ()
        }))

  test("clearing a family frees every block its build persisted") {
    assert(builds.keySet === SessionCaches.hooks.toSet)
    val sc = spark.sparkContext
    SessionCaches.hooks.foreach { family =>
      val before = sc.getPersistentRDDs.keySet
      builds(family)()
      graft.analytics.CheckpointRegistry.releaseAll(spark)
      SessionCaches.clear(spark, family)
      val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      assert(left.isEmpty, s"$family left ${left.values.mkString(", ")}")
    }
  }

  test("clearAll leaves the session no memo entry") {
    SessionCaches.clearAll(spark)
    graph.CitationGraph.edges(spark, sf())
    org.apache.spark.sql.GraftColumnBridge.memoCount(Tables.orders(spark, sf()))
    assert(SessionCaches.keys(spark).map(_._1).toSet ===
      Set("graph_modulus", "memo_count"))
    SessionCaches.clearAll(spark)
    assert(SessionCaches.keys(spark).isEmpty)
  }

  test("a memo build may call memo for another key") {
    val v = SessionCaches.memo(spark, "hopplot", "outer") {
      SessionCaches.memo(spark, "hopplot", "inner")(1) + 1
    }
    assert(v === 2)
    assert(SessionCaches.memo(spark, "hopplot", "outer")(0) === 2)
    SessionCaches.clear(spark, "hopplot")
  }

  test("an unknown family is refused") {
    intercept[IllegalArgumentException](SessionCaches.memo(spark, "nope", "k")(1))
    intercept[IllegalArgumentException](SessionCaches.clear(spark, "nope"))
  }

  test("bfs_levels: clear evicts, rebuild reproduces identical stress results") {
    val a = collectSorted(Stress.stressQ.run(spark, sf()))
    SessionCaches.clear(spark, "bfs_levels")
    val b = collectSorted(Stress.stressQ.run(spark, sf()))
    assert(a === b)
  }

  test("labelprop: rebuilt assignment is a NEW frame with identical content") {
    // NOTE the collect-before-clear order: clearing RELEASES the old
    // frame's checkpoint blocks, so a released frame is unreadable by
    // contract (the same reason the caches aren't CheckpointRegistry-
    // tracked) — consumers must finish before the family's clear runs,
    // which is exactly how Bench orders clearAfter.
    val a = LabelPropagation.assignmentFor(spark, sf())
    val a2 = LabelPropagation.assignmentFor(spark, sf())
    assert(a eq a2, "second call must be a cache hit")
    val aRows = collectSorted(a.orderBy(col("id")))
    SessionCaches.clear(spark, "labelprop")
    val b = LabelPropagation.assignmentFor(spark, sf())
    assert(!(a eq b), "clear must evict — the next call rebuilds")
    assert(aRows === collectSorted(b.orderBy(col("id"))))
  }

  test("scc: rebuilt assignment is a NEW frame with identical content") {
    val a = Scc.assignmentFor(spark, sf())
    val aRows = collectSorted(a.orderBy(col("id")))
    SessionCaches.clear(spark, "scc")
    val b = Scc.assignmentFor(spark, sf())
    assert(!(a eq b))
    assert(aRows === collectSorted(b.orderBy(col("id"))))
  }

  test("embed_exact: cache hit, eviction, and rebuild equality for both baselines") {
    val t1 = ExactBaselines.topk(spark, sf())
    assert(ExactBaselines.topk(spark, sf()) eq t1)
    val n1 = ExactBaselines.ndPairs(spark, sf())
    val t1Rows = collectSorted(t1)
    val n1Rows = collectSorted(n1)
    SessionCaches.clear(spark, "embed_exact")
    val t2 = ExactBaselines.topk(spark, sf())
    val n2 = ExactBaselines.ndPairs(spark, sf())
    assert(!(t1 eq t2) && !(n1 eq n2))
    assert(t1Rows === collectSorted(t2))
    assert(n1Rows === collectSorted(n2))
  }

  test("pq: trained-index cache hit, eviction, and rebuild equality") {
    import graft.pipeline.PqIndex
    // consumers must finish before the clear (the bfs_levels NOTE):
    // collect both reads of the warm cache, THEN evict and rebuild
    val c1 = collectSorted(PqIndex.codes(spark, sf()))
    val c1b = collectSorted(PqIndex.codes(spark, sf()))
    assert(c1 === c1b, "second read must serve the same cached index")
    SessionCaches.clear(spark, "pq")
    val c2 = collectSorted(PqIndex.codes(spark, sf()))
    assert(c1 === c2)
  }

  test("registry queries served from caches survive a clearAll mid-session") {
    val before = collectSorted(registry.Registry.byName("g_eccentricity").run(spark, sf()))
    SessionCaches.clearAll(spark)
    val after = collectSorted(registry.Registry.byName("g_eccentricity").run(spark, sf()))
    assert(before === after)
  }
}

package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analytics._
import graft.sources.CitationLoaders

/** The superstep skeleton: loud caps, per-session loop records, no
  * checkpoint left behind, and the job budget of paper query 2. */
class SuperstepSpec extends SparkSpec {

  private def edgesOf(s: SparkSession, pairs: Seq[(Long, Long)]): DataFrame = {
    import s.implicits._
    pairs.toDF("src", "dst")
  }

  // a 12-vertex path peels two vertices per 2-core round (6 rounds);
  // every vertex of an 8-cycle already has degree 2 (1 round)
  private val path = (1L to 11L).map(i => (i, i + 1))
  private val cycle = (1L to 8L).map(i => (i, i % 8 + 1))

  test("a loop past its cap fails naming the loop and the cap") {
    val aqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    val e = intercept[IllegalStateException] {
      Superstep.run(spark, "capped", 0L) { loop =>
        loop.limit(2)
        (1 to 3).foreach(_ => loop.step(spark.range(3).toDF("id")))
      }
    }
    assert(e.getMessage.contains("'capped'"), e.getMessage)
    assert(e.getMessage.contains("cap of 2 rounds"), e.getMessage)
    // the pin is undone on the way out
    assert(spark.conf.getOption("spark.sql.adaptive.enabled") === aqe)
  }

  test("a loop runs one shuffle partition per started 100k rows, up to the session setting") {
    val key = "spark.sql.shuffle.partitions"
    val aqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "4")
    try {
      val sized = Seq(0L, 1L, 100000L, 100001L, 250000L, 10000000L).map { rows =>
        val pinned = Superstep.run(spark, "sized", rows)(_ => spark.conf.get(key).toInt)
        assert(Superstep.stats(spark, "sized").get.partitions === pinned)
        // the pin is undone on the way out
        assert(spark.conf.get(key) === "4")
        assert(spark.conf.getOption("spark.sql.adaptive.enabled") === aqe)
        pinned
      }
      assert(sized === Seq(1, 1, 1, 2, 3, 4))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("two sessions running KCore.kcore concurrently each read their own LoopStats") {
    def peel(s: SparkSession, pairs: Seq[(Long, Long)]): (Long, Int, Long) = {
      val n = KCore.kcore(s, edgesOf(s, pairs), k = 2, rounds = Int.MaxValue).count()
      val st = Superstep.stats(s, "kcore").get
      CheckpointRegistry.releaseAll(s)
      (n, st.rounds, st.input)
    }
    assert(peel(spark, path) === ((0L, 6, 22L)))
    assert(peel(spark, cycle) === ((8L, 1, 16L)))
    val runs = for (_ <- 1 to 2; pairs <- Seq(path, cycle))
      yield pairs -> Future(peel(spark.newSession(), pairs))
    runs.foreach { case (pairs, f) =>
      val expected = if (pairs eq path) (0L, 6, 22L) else (8L, 1, 16L)
      assert(Await.result(f, 5.minutes) === expected)
    }
  }

  test("after CheckpointRegistry.releaseAll no loop checkpoint stays persisted") {
    val sc = spark.sparkContext
    CheckpointRegistry.releaseAll(spark)
    val before = sc.getPersistentRDDs.keySet
    val g = edgesOf(spark, path ++ cycle.map { case (a, b) => (a + 20, b + 20) } ++
      Seq((3L, 21L), (21L, 4L), (4L, 3L)))
    ConnectedComponents.componentSizes(g).collect()
    KCore.kcore(spark, g, k = 2, rounds = Int.MaxValue).collect()
    Mis.mis(spark, g).collect()
    Scc.scc(spark, g).collect()
    Condensation.condensation(spark, g).collect()
    Mst.mst(spark, g).collect()
    Truss.decompose(spark, g).collect()
    Stress.stress(spark, g).collect()
    PageRank.pageRank(spark, g, iters = 3).collect()
    Hits.hits(spark, g, iters = 2).collect()
    LabelPropagation.labelProp(spark, g).collect()
    ShortestPaths.sssp(spark, g, source = 1L, rounds = 3).collect()
    HopPlot.hopPlotRows(spark, g)
    HyperANF.approxHopPlotRows(spark, g, maxD = 3)
    CheckpointRegistry.releaseAll(spark)
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"still persisted: ${left.toSeq.sorted.map(sc.getPersistentRDDs)}")
  }

  test("CitationAnalytics.diameter on the toy fixture runs a pinned job budget") {
    val dir = ReferenceFixtures.toyDir
    val cit = CitationLoaders.loadCitations(spark, s"$dir/citations.txt")
    val dates = CitationLoaders.loadPublishedDates(spark, s"$dir/published-dates.txt")
    def diameter(): Seq[(Int, Long)] = {
      val rows = CitationAnalytics.diameter(spark, cit, dates, 1998).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toSeq
      CheckpointRegistry.releaseAll(spark)
      rows
    }
    val warm = diameter()
    val group = "superstep-spec-diameter"
    val tasks = new AtomicInteger(0)
    // stages run in the group; countJobs' drain also flushes these events
    val stages = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          tasks.addAndGet(e.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(stages)
    val (rows, jobs) =
      try Profile.countJobs(spark, group)(diameter())
      finally spark.sparkContext.removeSparkListener(stages)
    assert(rows === warm)
    info(s"jobs for one diameter call: $jobs, tasks: ${tasks.get}")
    assert(jobs === DiameterJobs)
    assert(tasks.get === DiameterTasks)
  }

  /** Jobs of one warm `diameter(…, 1998)` call on the toy fixture: the
    * snapshot's ordered pairs are collected under adaptive execution (6
    * jobs) and one BFS job over the broadcast adjacency gives the whole
    * distance histogram. */
  private val DiameterJobs = 7

  /** Tasks of the same call: the BFS job's slices are the session's
    * shuffle partitions (4) capped at the vertex count, on any host. */
  private val DiameterTasks = 10
}

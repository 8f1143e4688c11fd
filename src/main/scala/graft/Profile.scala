package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.analytics.CheckpointRegistry

/** Profiles named registry queries on one warmed session.
  *
  * {{{
  * graft.Profile reps <sfDir> <n> <query...>        time n runs; rep 1 is cold
  * graft.Profile jobs <sfDir> <query...>            Spark jobs of one run
  * graft.Profile plan <sfDir> <outDir> <tag> <query...>
  *                                                  <outDir>/<query>_<tag>.txt
  * graft.Profile ab <sfDir> <sysprop> <n> <query...>
  *                                                  interleaved false/true A/B
  * }}}
  *
  * Every run materializes the query the way Bench does and then releases
  * the loop checkpoints and the dedup family caches, so each run does the
  * full work. A run that throws prints a FAILED line and gives no sample.
  */
object Profile {

  private val Usage =
    """usage: graft.Profile reps <sfDir> <n> <query...>
      |       graft.Profile jobs <sfDir> <query...>
      |       graft.Profile plan <sfDir> <outDir> <tag> <query...>
      |       graft.Profile ab <sfDir> <sysprop> <n> <query...>""".stripMargin

  def main(args: Array[String]): Unit = {
    val command: Option[SparkSession => Unit] = args.toList match {
      case "reps" :: sf :: n :: qs if qs.nonEmpty => Some(reps(_, sf, n.toInt, qs))
      case "jobs" :: sf :: qs if qs.nonEmpty => Some(s => { jobs(s, sf, qs); () })
      case "plan" :: sf :: out :: tag :: qs if qs.nonEmpty => Some(plan(_, sf, out, tag, qs))
      case "ab" :: sf :: prop :: n :: qs if qs.nonEmpty => Some(ab(_, sf, prop, n.toInt, qs))
      case _ => None
    }
    command match {
      case None =>
        System.err.println(Usage)
        sys.exit(2)
      case Some(run) =>
        val spark = Sessions.builder().getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        try {
          Sessions.warm(spark, args(1))
          run(spark)
        } finally spark.stop()
    }
  }

  /** Time `n` runs of each query; rep 1 is the cold run. */
  def reps(spark: SparkSession, sfDir: String, n: Int, queries: Seq[String]): Unit =
    for (name <- queries; r <- 1 to n)
      attempt(s"REPS $name rep=$r") {
        val t0 = System.nanoTime()
        val rows = materialize(spark, sfDir, name)
        println(f"REPS $name rep=$r ${seconds(t0)}%.2fs rows=$rows")
      }

  /** Spark jobs of one run of each query, as (query, jobs). */
  def jobs(spark: SparkSession, sfDir: String, queries: Seq[String]): Seq[(String, Int)] =
    queries.flatMap { name =>
      attempt(s"JOBS $name") {
        val t0 = System.nanoTime()
        val (rows, n) = countJobs(spark, s"graft.Profile.jobs:$name")(
          materialize(spark, sfDir, name))
        println(f"JOBS $name jobs=$n ${seconds(t0)}%.2fs rows=$rows")
        name -> n
      }
    }

  /** Write each query's formatted physical plan to `outDir/<query>_<tag>.txt`. */
  def plan(spark: SparkSession, sfDir: String, outDir: String, tag: String,
      queries: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    for (name <- queries)
      attempt(s"PLAN $name") {
        val out = Paths.get(outDir, s"${name}_$tag.txt")
        try Files.writeString(out, SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(FormattedMode))
        finally release(spark)
        println(s"PLAN $name -> $out")
      }
  }

  /** Interleaved A/B of boolean system property `prop` in one session, so
    * host drift between the arms is bounded by one run: one unmeasured
    * run per arm, then `n` rounds of (false, true). The property's prior
    * value is restored afterwards. */
  def ab(spark: SparkSession, sfDir: String, prop: String, n: Int,
      queries: Seq[String]): Unit = {
    val prior = sys.props.get(prop)
    val arms = Seq("false", "true")
    def run(name: String, arm: String): Option[Double] = {
      sys.props(prop) = arm
      attempt(s"AB $name $prop=$arm") {
        val t0 = System.nanoTime()
        materialize(spark, sfDir, name)
        seconds(t0)
      }
    }
    try for (name <- queries) {
      arms.foreach(run(name, _))
      val samples = (1 to n).flatMap(_ => arms.flatMap(a => run(name, a).map(a -> _)))
      val fields = arms.map { a =>
        val s = samples.collect { case (`a`, sec) => sec }
        val min = if (s.isEmpty) "ALL_FAILED" else f"${s.min}%.2f"
        s"$a=[${s.map(x => f"$x%.2f").mkString(",")}] min_$a=$min"
      }
      println(s"AB $name $prop ${fields.mkString(" ")}")
    } finally prior match {
      case Some(v) => sys.props(prop) = v
      case None => sys.props -= prop
    }
  }

  /** `body`'s result and the Spark jobs it started, counted by job group.
    * The listener bus delivers in order, so once a marker job's start is
    * seen every job of `body` has been counted; no sleep is needed. Jobs
    * of threads `body` starts count only if they inherit the group, as
    * Spark SQL's broadcast and subquery threads do. */
  def countJobs[A](spark: SparkSession, group: String)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val marker = s"$group:drain"
    val jobs = new AtomicInteger(0)
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach { g =>
          if (g == group) jobs.incrementAndGet()
          else if (g == marker) drained.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(drained.await(1, TimeUnit.MINUTES), "listener bus did not drain")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** One run of registry query `name`, materialized through `toRdd` as
    * Bench does (a Dataset count lets Catalyst prune per-row work). */
  private def materialize(spark: SparkSession, sfDir: String, name: String): Long =
    try SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
    finally release(spark)

  private def release(spark: SparkSession): Unit = {
    CheckpointRegistry.releaseAll(spark)
    SessionCaches.clear(spark, "dedup_family")
  }

  private def attempt[A](label: String)(body: => A): Option[A] =
    try Some(body)
    catch { case NonFatal(e) => println(s"$label FAILED: $e"); None }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

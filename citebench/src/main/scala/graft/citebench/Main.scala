package graft.citebench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SessionCaches
import graft.analytics.CheckpointRegistry

/** One benchmark run: set up a session, generate one workload's inputs
  * from the seed, then run its task in a closed loop with one client for
  * the given seconds, checking every output against the oracle.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --dir <work dir> --traces <span dir>`. A traced run
  * writes its spans to `<span dir>/<workload>-<seed>.jsonl`. The last stdout line
  * is `RESULT <json>`; `run.py` wraps it into the benchmark's output.
  */
object Main {

  /** Fixed, so plans do not depend on the host; `graft.Main` uses one
    * partition per core, and the reference host has four. */
  val ShufflePartitions = 4

  /** Timed tasks run even past the deadline until there are this many
    * (in a traced run: one traced and one untraced). */
  val MinTasks = 2

  /** Untimed tasks between the cold task and the timed ones. The JIT is
    * still compiling the engine's paths for the first few tasks, which cost
    * up to 1.5 times the CPU of later ones. The count is fixed, not a time,
    * so every run starts timing at the same point of the warm-up however
    * fast the host is. */
  val WarmupTasks = 1

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, dir: Path, traces: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Opts(req("--workload"), req("--seed").toLong, req("--seconds").toDouble,
      req("--trace") == "1", Paths.get(req("--dir")).toAbsolutePath,
      Paths.get(req("--traces")).toAbsolutePath)
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .appName("citebench")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", o.dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.dir.resolve("warehouse").toString)
      // bound the status store, so live heap does not grow with the
      // number of tasks a run happens to fit in
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.conf.get("spark.sql.shuffle.partitions") // session state is built lazily
    s
  }

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val code = try {
      val o = parse(args)
      val spark = session(o)
      val setupCpu = threadCpuSince(Map.empty)
      val setupWall = (System.currentTimeMillis() - jvmStart) / 1000.0
      println(f"setup: cpu $setupCpu%.3f s, wall $setupWall%.3f s")
      try { println("RESULT " + run(spark, o, setupCpu)); 0 }
      finally spark.stop()
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Used heap after full GCs. Spark's context cleaner frees shuffle and
    * broadcast state only after a GC has found it unreachable, so collect
    * a few times with a pause between and keep the lowest reading. */
  private def liveHeapMb(): Double =
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  private val threads = ManagementFactory.getThreadMXBean

  /** CPU time of each live Java thread, by id: the driver, Spark's
    * scheduler, executor and listener threads. The JIT compiler and GC
    * worker threads are not Java threads, so they are not in it. Time the
    * host steals from a vCPU is not a thread's CPU time, so on a shared
    * host this stretches far less than wall time does. */
  def threadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** CPU seconds of the Java threads since `before` was taken; a thread
    * started since counts from zero, one that ended since is lost. */
  def threadCpuSince(before: Map[Long, Long]): Double =
    threadCpu().map { case (id, t) => t - before.getOrElse(id, 0L) }.sum / 1e9

  private def cachedRdds(spark: SparkSession): (Int, Long) = {
    val live = spark.sparkContext.getRDDStorageInfo.filter(r => r.memSize + r.diskSize > 0)
    (live.length, live.map(r => r.memSize + r.diskSize).sum)
  }

  def run(spark: SparkSession, o: Opts, setupS: Double): String = {
    val prepared = Workloads.prepare(o.workload, o.seed, o.dir.resolve("input"))
    val tr = new Tracer(spark)
    var attempted = 0
    var failed = 0
    val storage = mutable.ArrayBuffer[(Int, Long)]()
    // counts of the first correct task; every later task must repeat them
    var counts = Option.empty[Map[String, Double]]

    /** Runs task `i`; returns its wall seconds, its CPU seconds and outcome. */
    def once(i: Int, traced: Boolean): (Double, Double, Outcome) = {
      tr.enable(traced)
      val t0 = System.nanoTime()
      val c0 = threadCpu()
      val out =
        try tr.task(i)(prepared.task(spark, tr))
        catch { case e: Exception =>
          System.err.println(s"task $i failed: $e"); Outcome(ok = false, 0, Map.empty)
        }
      val cpu = threadCpuSince(c0)
      val dt = (System.nanoTime() - t0) / 1e9
      attempted += 1
      val repeats = counts.forall(_ == out.counts)
      if (out.ok && !repeats)
        System.err.println(s"task $i counts ${out.counts} differ from ${counts.get}")
      if (!out.ok || !repeats) failed += 1
      else if (counts.isEmpty) counts = Some(out.counts)
      // every task does the full work: nothing survives into the next
      CheckpointRegistry.releaseAll(spark)
      SessionCaches.clearAll(spark)
      storage += cachedRdds(spark)
      (dt, cpu, out)
    }

    def show(xs: Iterable[(Double, Double)]): String =
      xs.map { case (w, c) => f"$c%.3f/$w%.3f" }.mkString(" ")

    val (firstWall, firstCpu, _) = once(0, traced = false)
    val warmup = (1 to WarmupTasks).map { i => val (w, c, _) = once(i, traced = false); (w, c) }
    var i = WarmupTasks + 1
    // (wall, cpu) of the timed tasks
    val warm = mutable.ArrayBuffer[(Double, Double)]()
    val traced = mutable.ArrayBuffer[(Double, Double)]()
    val tracedIds = mutable.Set[Int]()
    var work = 0.0
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var n = 0
    while (System.nanoTime() < deadline || n < MinTasks) {
      // the traced run interleaves traced and untraced tasks (T U U T ...),
      // so both see the same host and the difference is the overhead
      val on = o.trace && (n % 4 == 0 || n % 4 == 3)
      val (w, c, out) = once(i, on)
      if (on) { traced += ((w, c)); tracedIds += i }
      else { warm += ((w, c)); work += out.work }
      i += 1
      n += 1
    }
    tr.enable(false)
    val warmCpu = warm.map(_._2).toSeq
    // samples as cpu/wall seconds; wall times are shown, not reported
    println(f"samples: first $firstCpu%.3f/$firstWall%.3f; warm-up ${warmup.size}: " +
      show(warmup) + s"; timed ${warm.size}: " + show(warm) +
      (if (o.trace) s"; traced ${traced.size}: " + show(traced) else ""))
    counts.filter(_.nonEmpty).foreach(c => println("counts: " + c.toSeq.sorted.map {
      case (k, v) => s"$k=${num(v)}" }.mkString(" ")))

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        CheckpointRegistry.releaseAll(spark)
        SessionCaches.clearAll(spark)
        val heap = liveHeapMb()
        Seq(
          ("setup_s", setupS, "s"),
          ("first_task_cpu_s", firstCpu, "s"),
          ("task_cpu_s_p50", quantile(warmCpu, 0.5), "s"),
          ("task_cpu_s_p75", quantile(warmCpu, 0.75), "s"),
          ("work_per_cpu_s", work / warmCpu.sum, "1/s"),
          ("live_heap_mb", heap, "MB"))
      } else {
        val layer = tr.layerMetrics(tracedIds.toSet)
        // the same work on the same inputs must launch the same jobs
        val jobs = tr.jobCounts(tracedIds.toSet)
        if (jobs.values.toSet.size > 1) {
          System.err.println(s"jobs per layer differ between traced tasks: $jobs")
          failed += 1
        }
        tr.dump(o.traces.resolve(s"${o.workload}-${o.seed}.jsonl"))
        val extra = prepared.after(spark)
        CheckpointRegistry.releaseAll(spark)
        SessionCaches.clearAll(spark)
        attempted += 1
        if (!extra.ok) failed += 1
        val c = counts.getOrElse(Map.empty) ++ extra.counts
        val hopRecords = tr.shuffleRecords("analytics.hopplot", tracedIds.toSet)
        val hopPairs = c.getOrElse("analytics.hopplot.pairs", 0.0)
        Layers.All.flatMap(l => Layers.Metrics.map { case (m, u) =>
          (s"$l.$m", layer(s"$l.$m"), u)
        }) ++ Seq(
          ("analytics.hopplot.levels", c.getOrElse("analytics.hopplot.levels", 0.0), "count"),
          ("analytics.hopplot.pairs", hopPairs, "count"),
          ("analytics.hopplot.yield", if (hopRecords > 0) hopPairs / hopRecords else 0.0, "ratio"),
          ("analytics.components.pairs", c.getOrElse("analytics.components.pairs", 0.0), "count"),
          ("pipeline.ppjoin.candidates", c.getOrElse("pipeline.ppjoin.candidates", 0.0), "count"),
          ("pipeline.ppjoin.pairs", c.getOrElse("pipeline.ppjoin.pairs", 0.0), "count"),
          ("pipeline.ppjoin.yield", c.getOrElse("pipeline.ppjoin.yield", 0.0), "ratio"),
          ("trace.overhead_ms",
            (quantile(traced.map(_._2).toSeq, 0.5) - quantile(warmCpu, 0.5)) * 1000, "ms"),
          ("trace.unattributed_jobs", layer("trace.unattributed_jobs"), "count"),
          ("storage.cached_rdds_max", storage.map(_._1).max.toDouble, "count"),
          ("storage.cached_mb_max", storage.map(_._2).max / 1048576.0, "MB"))
      }
    val ok = failed == 0
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

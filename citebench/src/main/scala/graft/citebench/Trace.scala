package graft.citebench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval, in epoch milliseconds (the clock Spark's events
  * use). `parent` is -1 for a task's root span. */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, task: Int)

/** The layers the benchmark reports, named after the engine's modules,
  * and the rule that maps a Spark call site to one of them. */
object Layers {

  val All: Seq[String] = Seq("sources.load", "analytics.density",
    "analytics.components", "analytics.hopplot", "pipeline.ppjoin")

  val Metrics: Seq[(String, String)] = Seq(
    "wall_ms" -> "ms", "self_ms" -> "ms", "jobs" -> "count",
    "stages" -> "count", "tasks" -> "count", "busy_ms" -> "ms",
    "cpu_ms" -> "ms", "idle_ms" -> "ms", "planning_ms" -> "ms",
    "gc_ms" -> "ms", "input_bytes" -> "bytes",
    "shuffle_write_bytes" -> "bytes", "fetch_wait_ms" -> "ms",
    "spill_bytes" -> "bytes")

  private val byClass = Map(
    "graft.analytics.HopPlot" -> "analytics.hopplot",
    "graft.analytics.ConnectedComponents" -> "analytics.components",
    "graft.analytics.Density" -> "analytics.density",
    "graft.pipeline.PpJoin" -> "pipeline.ppjoin",
    "graft.sources.CitationLoaders" -> "sources.load")

  private def ofFrame(frame: String): Option[String] = {
    val qualified = frame.takeWhile(_ != '(')
    val dot = qualified.lastIndexOf('.')
    val cls = qualified.substring(0, dot).takeWhile(_ != '$')
    val method = qualified.substring(dot + 1)
    // diameter's only action of its own sums the component pairs (the
    // hop-plot denominator), so it belongs to the components layer
    if (cls == "graft.analytics.CitationAnalytics" && method == "diameter")
      Some("analytics.components")
    else byClass.get(cls)
  }

  /** Layer of the innermost engine frame in a call site's long form
    * (`StageInfo.details`); frames of the benchmark itself are skipped. */
  def ofCallSite(details: String): Option[String] =
    Option(details).iterator.flatMap(_.linesIterator).map(_.trim)
      .filter(f => f.startsWith("graft.") && !f.startsWith("graft.citebench."))
      .flatMap(ofFrame).nextOption()
}

/** In-memory tracer for the traced run.
  *
  * The benchmark opens spans around its own calls into the engine: one
  * root span per task, a layer span around each call that belongs to
  * one layer, and a call span around a public call that spans several
  * layers (`CitationAnalytics.diameter`). Jobs are attributed by the job
  * group the benchmark sets around its spans; inside a call span, by the
  * innermost engine frame of the job's call site. Counters come from a
  * `SparkListener` and a `QueryExecutionListener` that are attached only
  * while tracing is on, so untraced tasks run exactly as in the timed
  * run.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val GroupPrefix = "citebench"

  private val spans = mutable.ArrayBuffer[Span]()
  private var task = -1
  private var open = List.empty[Int]
  private var on = false

  /** Spark-side totals of one layer in one task. */
  final class Acc {
    var jobs, stages, tasks = 0L
    var busyMs, cpuNs, gcMs, inputBytes, shuffleBytes, shuffleRecords,
      fetchWaitMs, spillBytes = 0L
    var planningMs = 0.0
  }

  // written on the listener-bus thread, read after drain()
  private val acc = mutable.Map[(Int, String), Acc]()
  private val jobOf = mutable.Map[Int, (Int, String, Long)]()
  private val stageOf = mutable.Map[Int, (Int, String)]()
  /** Layer of each SQL execution's call site, where it has an engine frame. */
  private val execLayer = mutable.Map[Long, String]()
  /** (end of the last planning phase, planning ms) of every action the
    * QueryExecutionListener reported. */
  private val planning = mutable.ArrayBuffer[(Long, Double)]()
  /** (task, layer, start, end) of every job. */
  private val jobs = mutable.ArrayBuffer[(Int, String, Long, Long)]()
  private val taskRuns = mutable.ArrayBuffer[(Int, Long, Long)]()
  private var unattributed = 0L

  private def accOf(t: Int, layer: String): Acc =
    acc.getOrElseUpdate((t, layer), new Acc)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(GroupPrefix + ":"))
      group.foreach { g =>
        val Array(_, t, kind, name) = g.split(":", 4)
        val exec = Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong)
        // adaptive query stages run on a pool thread, so their own call
        // site has no engine frame; the SQL execution's call site does
        val layer =
          if (kind == "layer") name
          else Layers.ofCallSite(e.stageInfos.maxBy(_.stageId).details)
            .orElse(exec.flatMap(execLayer.get))
            .getOrElse { unattributed += 1; "unattributed" }
        jobOf(e.jobId) = (t.toInt, layer, e.time)
        e.stageIds.foreach(s => stageOf(s) = (t.toInt, layer))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobOf.remove(e.jobId).foreach { case (t, layer, start) =>
        accOf(t, layer).jobs += 1
        jobs += ((t, layer, start, e.time))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageOf.get(e.stageInfo.stageId).foreach { case (t, layer) =>
          accOf(t, layer).stages += 1
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageOf.get(e.stageId).foreach { case (t, layer) =>
        val a = accOf(t, layer)
        a.tasks += 1
        taskRuns += ((t, e.taskInfo.launchTime, e.taskInfo.finishTime))
        Option(e.taskMetrics).foreach { m =>
          a.busyMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.inputBytes += m.inputMetrics.bytesRead
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spillBytes += m.diskBytesSpilled
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        Layers.ofCallSite(s.details).foreach(execLayer(s.executionId) = _)
      }
      case _ =>
    }
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) Tracer.this.synchronized {
        planning += ((phases.map(_.endTimeMs).max, phases.map(_.durationMs).sum.toDouble))
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Turns tracing on or off; listeners are attached only while on. */
  def enable(flag: Boolean): Unit = if (flag != on) {
    drain()
    if (flag) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(queries)
    } else {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(queries)
    }
    on = flag
  }

  /** Waits until every posted Spark event has reached the listeners. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  private def span[T](name: String, group: Option[String])(body: => T): T =
    if (!on) body
    else {
      val id = nextId()
      val parent = open.headOption.getOrElse(-1)
      val start = System.currentTimeMillis()
      open = id :: open
      group.foreach(g => sc.setJobGroup(s"$GroupPrefix:$task:$g", name))
      try body
      finally {
        open = open.tail
        if (group.nonEmpty) sc.clearJobGroup()
        spans += Span(id, name, start, System.currentTimeMillis(), parent, task)
      }
    }

  private var ids = 0
  private def nextId(): Int = { ids += 1; ids }

  /** Root span of one benchmark task. */
  def task[T](id: Int)(body: => T): T = { task = id; span("task", None)(body) }

  /** A call into a single layer; its jobs belong to that layer. */
  def layer[T](name: String)(body: => T): T = span(name, Some(s"layer:$name"))(body)

  /** A public call spanning several layers; its jobs are attributed by
    * call site, and each layer's span runs from the end of the previous
    * layer's last job to the end of its own last job. */
  def call[T](name: String)(body: => T): T = span(name, Some(s"call:$name"))(body)

  /** Milliseconds of [s, e] covered by the union of `iv`. */
  private def covered(iv: Seq[(Long, Long)], s: Long, e: Long): Long = {
    var total = 0L
    var reach = s
    iv.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Splits each call span into the layers its jobs were attributed to,
    * recorded as the call span's children. Runs once, after drain(). */
  private def splitCalls(): Unit =
    spans.filter(s => s.name != "task" && !Layers.All.contains(s.name)).toSeq.foreach { s =>
      val own = jobs.filter(j => j._1 == s.task && j._3 >= s.start && j._4 <= s.end)
      val order = own.groupBy(_._2).toSeq.map { case (l, js) =>
        (l, js.map(_._3).min, js.map(_._4).max)
      }.sortBy(_._2)
      val ends = (order.map(_._3).dropRight(1) :+ s.end).scanLeft(s.start)(math.max).tail
      val starts = s.start +: ends.dropRight(1)
      order.indices.foreach(i =>
        spans += Span(nextId(), order(i)._1, starts(i), ends(i), s.id, s.task))
    }

  /** Writes every span, and every job as a span under its layer span, as
    * JSON lines. */
  def dump(path: java.nio.file.Path): Unit = synchronized {
    def line(s: Span) =
      s"""{"id": ${s.id}, "name": "${s.name}", "start": ${s.start}, "end": ${s.end}, "parent": ${s.parent}, "task": ${s.task}}"""
    val jobSpans = jobs.map { case (t, l, a, b) =>
      val parent = spans.find(s => s.task == t && s.name == l && s.start <= a && a <= s.end)
      Span(-1, s"job:$l", a, b, parent.map(_.id).getOrElse(-1), t)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (spans ++ jobSpans).map(line).mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Per-layer metrics averaged over the given traced tasks. */
  def layerMetrics(tasks: Set[Int]): Map[String, Double] = {
    drain()
    synchronized(layerMetricsDrained(tasks))
  }

  private def layerMetricsDrained(tasks: Set[Int]): Map[String, Double] = {
    val k = tasks.size.max(1).toDouble
    splitCalls()
    val ls = spans.filter(s => tasks(s.task) && Layers.All.contains(s.name)).toSeq
    // an action's planning ends just before its first job, so it belongs
    // to the layer span (after splitCalls, the innermost) open at that time
    planning.foreach { case (at, ms) =>
      ls.find(s => s.start <= at && at <= s.end)
        .foreach(s => accOf(s.task, s.name).planningMs += ms)
    }
    planning.clear()
    Layers.All.flatMap { l =>
      val mine = ls.filter(_.name == l)
      val a = acc.collect { case ((t, ll), v) if ll == l && tasks(t) => v }
      def sum(f: Acc => Double) = a.map(f).sum / k
      val wall = mine.map(s => (s.end - s.start).toDouble).sum
      val self = mine.map(s => s.end - s.start -
        covered(jobs.filter(_._1 == s.task).map(j => (j._3, j._4)).toSeq, s.start, s.end)).sum
      val idle = mine.map(s => s.end - s.start -
        covered(taskRuns.filter(_._1 == s.task).map(r => (r._2, r._3)).toSeq, s.start, s.end)).sum
      Seq(
        "wall_ms" -> wall / k, "self_ms" -> self / k,
        "jobs" -> sum(_.jobs.toDouble), "stages" -> sum(_.stages.toDouble),
        "tasks" -> sum(_.tasks.toDouble), "busy_ms" -> sum(_.busyMs.toDouble),
        "cpu_ms" -> sum(_.cpuNs / 1e6), "idle_ms" -> idle / k,
        "planning_ms" -> sum(_.planningMs), "gc_ms" -> sum(_.gcMs.toDouble),
        "input_bytes" -> sum(_.inputBytes.toDouble),
        "shuffle_write_bytes" -> sum(_.shuffleBytes.toDouble),
        "fetch_wait_ms" -> sum(_.fetchWaitMs.toDouble),
        "spill_bytes" -> sum(_.spillBytes.toDouble)
      ).map { case (m, v) => s"$l.$m" -> v }
    }.toMap + ("trace.unattributed_jobs" -> unattributed / k)
  }

  /** Jobs per layer of each given task, after layerMetrics has drained. */
  def jobCounts(tasks: Set[Int]): Map[Int, Map[String, Long]] = synchronized {
    acc.toSeq.collect { case ((t, l), v) if tasks(t) && v.jobs > 0 => (t, l, v.jobs) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(x => x._2 -> x._3).toMap }
  }

  /** Shuffle records written by one layer, averaged over the tasks. */
  def shuffleRecords(layer: String, tasks: Set[Int]): Double = synchronized {
    acc.collect { case ((t, l), v) if l == layer && tasks(t) => v.shuffleRecords }
      .sum.toDouble / tasks.size.max(1)
  }
}

package graft.analytics

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.GraftColumnBridge.{CountTrue, Fold}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.storage.StorageLevel

/** The skeleton the round loops of graft.analytics and pipeline.Coreset
  * run on (the exact hop-plot is one job, not a loop: HopPlot).
  *
  * [[run]] pins the session conf for the loop's duration:
  *   - adaptive re-planning is off, because a plan whose partitioning is
  *     only known at runtime makes localCheckpoint capture
  *     UnknownPartitioning and re-shuffles loop state every round;
  *   - shuffle partitions are sized once from a row count the loop
  *     already has: clamp(ceil(rows / 100k), 1, session setting), so a
  *     small input runs its rounds as one task per stage.
  *
  * The [[Loop]] handle owns what every round repeats: the fused
  * materialize-and-count job ([[Loop.step]]), release of the superseded
  * checkpoint, the round count against a cap that fails loudly, and the
  * hand-off of the final checkpoint to [[CheckpointRegistry]]. Whatever
  * the loop materialized and did not keep is released when it returns.
  *
  * Each run leaves a [[LoopStats]] record for its session, read with
  * [[stats]] / [[runs]]. Rounds run on the caller's thread, so Spark call
  * sites keep the calling operator's frames.
  */
object Superstep {

  /** Telemetry of one loop run.
    *
    * @param rounds    rounds the loop ran
    * @param stats     the loop's statistic after each counted round
    * @param input     the loop's input size (edges, vertices), -1 if unset
    * @param converged false iff the loop stopped at a result-defining
    *                  limit while its state was still changing
    * @param exchanges most shuffle exchanges in one materialized round
    * @param partitions shuffle partitions pinned for the run, 0 for a
    *                  result recorded outside one */
  final case class LoopStats(rounds: Int, stats: Vector[Long], input: Long,
      converged: Boolean, exchanges: Int, partitions: Int)

  /** session -> loop name -> runs. A top-level run replaces its own
    * record and drops those of the loops nested in it (`name.sub`); the
    * nested runs append, so one outer run's inner loops all stay visible. */
  private val ledger =
    new ConcurrentHashMap[String, ConcurrentHashMap[String, Vector[LoopStats]]]()

  /** Sessions inside a pinned run. Conf changes are session-global, so a
    * second loop on the same session would restore the first one's conf
    * under it — a checked contract, not an assumption. */
  private val active = ConcurrentHashMap.newKeySet[String]()

  private val RowsPerPartition = 100000L

  /** Latest run of loop `name` on this session. */
  def stats(spark: SparkSession, name: String): Option[LoopStats] =
    runs(spark, name).lastOption

  /** Every run of a nested loop (`outer.inner`) during the latest run of
    * its outer loop, in order; the latest run of a top-level loop. */
  def runs(spark: SparkSession, name: String): Seq[LoopStats] =
    Option(ledger.get(graft.SessionKey(spark)))
      .flatMap(m => Option(m.get(name))).getOrElse(Vector.empty)

  /** Record a result computed outside a loop body (a one-round merge). */
  private[analytics] def record(spark: SparkSession, name: String,
      s: LoopStats): Unit =
    sessionLedger(spark).put(name, Vector(s))

  private def sessionLedger(spark: SparkSession) =
    ledger.computeIfAbsent(graft.SessionKey(spark),
      _ => new ConcurrentHashMap[String, Vector[LoopStats]]())

  /** Release checkpoints a caller materialized outside any loop. */
  def release(dfs: DataFrame*): Unit =
    dfs.foreach(GraftColumnBridge.checkpointRdd(_).foreach(_.unpersist(false)))

  /** Run `body` as top-level loop `name`, pinned and sized from `rows`. */
  def run[T](spark: SparkSession, name: String, rows: Long,
      statsClean: Boolean = false)(body: Loop => T): T = {
    val sid = graft.SessionKey(spark)
    require(active.add(sid),
      s"superstep loop '$name': another loop is already pinning this " +
        "session's conf (run loops serially)")
    val aqeKey = "spark.sql.adaptive.enabled"
    val spKey = "spark.sql.shuffle.partitions"
    val aqePrev = spark.conf.getOption(aqeKey)
    val spPrev = spark.conf.getOption(spKey)
    val sessionP = spark.conf.get(spKey, "200").toLong
    val p = math.max(1L,
      math.min(sessionP, (rows + RowsPerPartition - 1) / RowsPerPartition)).toInt
    spark.conf.set(aqeKey, "false")
    spark.conf.set(spKey, p.toString)
    sessionLedger(spark).keySet.removeIf(k => k == name || k.startsWith(name + "."))
    try new Loop(spark, name, None, statsClean, p).runBody(body)
    finally {
      def restore(key: String, prev: Option[String]): Unit = prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      restore(aqeKey, aqePrev)
      restore(spKey, spPrev)
      active.remove(sid)
    }
  }

  /** Handle of one running loop. Frames it hands out are keyed by
    * identity to the checkpoint (or persisted frame) backing them. */
  final class Loop private[Superstep] (val spark: SparkSession,
      val name: String, parent: Option[Loop], statsClean: Boolean,
      partitions: Int) {

    private var cap = Long.MaxValue
    private var rounds = 0
    private val stats = Vector.newBuilder[Long]
    private var inputRows = -1L
    private var converged = true
    private var exchanges = 0
    private val owned = new java.util.IdentityHashMap[DataFrame, Backing]()

    /** The loop's input size, for its [[LoopStats]]. */
    def input(n: Long): Unit = inputRows = n

    /** Fail once the loop would run more than `n` rounds. Derive `n`
      * from a count the loop has (|V| for a label propagation). */
    def limit(n: Long): Unit = cap = n

    /** The loop stopped at a result-defining limit while still changing. */
    def unconverged(): Unit = converged = false

    /** Localcheckpoint `df` in one job that also counts its rows and
      * folds `stat` ([[GraftColumnBridge.ckptCounted]]). */
    def ckpt(df: DataFrame, stat: String = null,
        fold: Fold = CountTrue): (DataFrame, Long, Long) = {
      val (c, n, s) = GraftColumnBridge.ckptCounted(df, stat, fold)
      // a loop that self-joins its checkpoints composes from a rewrap
      // without the propagated size estimate, which would otherwise
      // compound per round (GraftColumnBridge.statsClean)
      val out = if (statsClean) GraftColumnBridge.statsClean(c) else c
      owned.put(out, Backing(c, persisted = false))
      (out, n, s)
    }

    /** Count one round with statistic `stat`, against the cap. */
    def round(stat: Long): Unit = {
      checkCap()
      rounds += 1
      stats += stat
    }

    /** One round's materialization: [[ckpt]] plus [[round]], with the
      * round's statistic the folded `stat`, or the row count without one. */
    def step(df: DataFrame, stat: String = null,
        fold: Fold = CountTrue): (DataFrame, Long, Long) = {
      checkCap()
      exchanges = math.max(exchanges, df.queryExecution.executedPlan.collect {
        case x: ShuffleExchangeExec => x
      }.size)
      val r = ckpt(df, stat, fold)
      round(if (stat == null) r._2 else r._3)
      r
    }

    private def checkCap(): Unit =
      if (rounds >= cap) throw new IllegalStateException(
        s"superstep loop '$name' exceeded its cap of $cap rounds " +
          s"(round ${rounds + 1})")

    /** Rounds of `body` from `init` (`rows` rows), one [[step]] each,
      * until `done(rows, previous rows, stat)`; past `maxRounds` the loop
      * stops quietly as [[unconverged]]. The superseded state is released
      * each round; the final state stays owned by this loop. */
    def iterate(init: DataFrame, rows: Long, stat: String = null,
        fold: Fold = CountTrue, maxRounds: Int = Int.MaxValue)(
        body: DataFrame => DataFrame)(
        done: (Long, Long, Long) => Boolean): DataFrame = {
      var state = init
      var prev = rows
      var going = true
      while (going) {
        if (rounds >= maxRounds) { converged = false; going = false }
        else {
          val (next, n, s) = step(body(state), stat, fold)
          free(state)
          state = next
          going = !done(n, prev, s)
          prev = n
        }
      }
      state
    }

    /** Persist a loop-invariant frame until the loop returns. */
    def cache(df: DataFrame): DataFrame = {
      owned.put(df, Backing(df.persist(StorageLevel.MEMORY_AND_DISK), persisted = true))
      df
    }

    /** Take over a checkpoint made before the loop started. */
    def own(df: DataFrame): DataFrame = {
      owned.put(df, Backing(df, persisted = false))
      df
    }

    /** Release frames this loop owns now (others are ignored). */
    def free(dfs: DataFrame*): Unit = dfs.foreach { df =>
      val b = owned.remove(df)
      if (b != null) release(b)
    }

    /** Keep frames that back the loop's lazy result: a nested loop hands
      * them to its outer loop, a top-level loop to [[CheckpointRegistry]]. */
    def keep(dfs: DataFrame*): Unit = dfs.foreach { df =>
      val b = owned.remove(df)
      if (b != null) parent match {
        case Some(p) => p.owned.put(df, b)
        case None => CheckpointRegistry.trackFinal(spark, b.df)
      }
    }

    /** Give frames up to a caller-owned cache: neither released nor kept. */
    def detach(dfs: DataFrame*): Unit = dfs.foreach(owned.remove)

    /** Run `body` as loop `<name>.<sub>` inside this one (same pin). */
    def nested[T](sub: String, statsClean: Boolean = statsClean)(
        body: Loop => T): T =
      new Loop(spark, s"$name.$sub", Some(this), statsClean, partitions).runBody(body)

    private[Superstep] def runBody[T](body: Loop => T): T =
      try {
        val out = body(this)
        val s = LoopStats(rounds, stats.result(), inputRows, converged,
          exchanges, partitions)
        sessionLedger(spark).merge(name, Vector(s), (a, b) => a ++ b)
        out
      } finally {
        owned.values.forEach(b => release(b))
        owned.clear()
      }

    private def release(b: Backing): Unit =
      if (b.persisted) b.df.unpersist(false) else Superstep.release(b.df)
  }

  private final case class Backing(df: DataFrame, persisted: Boolean)
}

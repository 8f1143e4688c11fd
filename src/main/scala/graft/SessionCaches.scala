package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session-scoped memo in the engine, with its eviction.
  *
  * A memoized value is shared across a family of queries (one sampled
  * BFS for three centralities, one SCC assignment for g_scc +
  * g_condensation, one exact-similarity baseline for the ANN recall
  * gate), so it is deliberately NOT in [[analytics.CheckpointRegistry]]:
  * that ledger is released after EVERY query, and a released truncated
  * checkpoint would be unrecomputable for the next caller. Instead a
  * family is dropped by name —
  *  - by Bench between reps of a `_setup_*` entry, so every rep times a
  *    real build (min-of-N keeps meaning "a build", never "a no-op");
  *  - by Bench after the last consumer of each family, so blocks don't
  *    pin for the rest of the run.
  * Long-lived cluster sessions should call [[clearAll]] at family
  * boundaries for the same reason, and whenever their inputs changed.
  */
object SessionCaches {

  /** The closed list of memo families. All but the last two have a
    * Bench `_setup_<name>` entry. */
  val hooks: Seq[String] = Seq("dedup_family", "bfs_levels", "scc",
    "labelprop", "hopplot", "hyperanf", "embed_exact", "pq", "kmeans",
    "warc_zst", "zst_dict", "graph_modulus", "memo_count")

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Any), AnyRef]()

  private def known(family: String): Unit =
    require(hooks.contains(family), s"unknown session cache family '$family'")

  /** The value built for (session, family, key), building it on a miss.
    * What to store — and whether to localCheckpoint or persist it — is
    * the caller's decision. The build runs outside the map, so it may
    * itself call `memo`; when two builds race, the loser is released. */
  def memo[V](spark: SparkSession, family: String, key: Any)(build: => V): V = {
    known(family)
    val k = (SessionKey(spark), family, key)
    val hit = entries.get(k)
    if (hit != null) hit.asInstanceOf[V]
    else {
      val v = build
      val prev = entries.putIfAbsent(k, v.asInstanceOf[AnyRef])
      if (prev != null) { release(v); prev.asInstanceOf[V] } else v
    }
  }

  /** Drop this session's entries of one family and free their blocks. */
  def clear(spark: SparkSession, family: String): Unit = {
    known(family)
    evict(spark, _ == family)
  }

  /** Drop every entry this session holds and free their blocks. */
  def clearAll(spark: SparkSession): Unit = evict(spark, _ => true)

  /** (family, key) of each entry this session holds. */
  private[graft] def keys(spark: SparkSession): Seq[(String, Any)] = {
    val sid = SessionKey(spark)
    val out = Seq.newBuilder[(String, Any)]
    entries.forEach((k, _) => if (k._1 == sid) out += ((k._2, k._3)))
    out.result()
  }

  private def evict(spark: SparkSession, family: String => Boolean): Unit = {
    val sid = SessionKey(spark)
    entries.forEach { (k, v) =>
      if (k._1 == sid && family(k._2) && entries.remove(k, v)) release(v)
    }
  }

  /** Free every DataFrame reachable through tuples and case classes,
    * whether persist-backed or checkpoint-backed (df.unpersist is a
    * no-op on a checkpoint, whose blocks live on its backing RDD). */
  private def release(v: Any): Unit = v match {
    case df: DataFrame @unchecked =>
      try org.apache.spark.sql.GraftColumnBridge.checkpointRdd(df)
        .foreach(_.unpersist(false))
      catch { case _: Throwable => () }
      try df.unpersist(false) catch { case _: Throwable => () }
    case p: Product => p.productIterator.foreach(release)
    case _ => ()
  }
}

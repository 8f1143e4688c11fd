package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.registry.Q

/** HITS (Kleinberg 1999) hubs-and-authorities over the citation graph —
  * with PageRank, the other canonical "which papers matter" fixpoint: a
  * good AUTHORITY is cited by good hubs, a good HUB cites good
  * authorities (reference computes degree importance,
  * Analytics.scala:344-365; this is its mutually-recursive
  * generalization on the same superstep shape).
  *
  * EXACT integer arithmetic, like PageRank: scores live in BIGINT units,
  * each iteration computes both raw sums then rescales jointly by
  * d = max(a, h) div Scale + 1 — integer division both engines replay
  * exactly (DuckDB `//`), replacing the float L2 normalization whose
  * shuffle-order summation can't be oracle-checked. The rescale keeps
  * every score < ~Scale so the next iteration's sums stay far from
  * BIGINT overflow for degrees up to ~10^6 (same bound class as the
  * PageRank loop documents).
  *
  * Scale shape: the two static edge orientations are shuffled ONCE
  * (hash(src) and hash(dst)) and persisted; each iteration is two
  * aggregations that reuse those partitionings, state re-keys by id
  * through the vertex left join, and localCheckpoint pins the loop
  * state per round (AQE off for the loop via [[Superstep]], so the
  * exchange count is pinned).
  */
object Hits {

  /** 1.0 of score mass, in fixed-point units. */
  val Scale = 1000000L

  /** Fixpoint iterations for the registered query (unrolled oracle). */
  val Iters = 5

  def hits(spark: SparkSession, edgesRaw: DataFrame, iters: Int = Iters)
      : DataFrame =
    Superstep.run(spark, "hits",
      org.apache.spark.sql.GraftColumnBridge.memoCount(edgesRaw)) { loop =>
      val e = loop.cache(edgesRaw.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst")).distinct())
      val eBySrc = loop.cache(e.repartition(col("src")))
      val eByDst = loop.cache(e.repartition(col("dst")))
      val v = loop.cache(e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct())
      val n = v.count()
      if (n == 0) v.select(col("id"), lit(0L).as("hub"), lit(0L).as("auth"))
      else {
        eBySrc.count(); eByDst.count(); loop.free(e)
        var h = v.select(col("id"), lit(Scale).as("s"))
        var a = v.select(col("id"), lit(Scale).as("s"))
        var prev: Seq[DataFrame] = Nil
        for (_ <- 1 to iters) {
          // the RAW sums are what gets checkpointed (two materializations
          // per round); the normalized views are constant-depth
          // projections over them, so nothing recomputes an aggregation
          val (aRaw, _, _) = loop.ckpt(v.join(
              eBySrc.join(h.hint("shuffle_hash"), col("src") === col("id"))
                .groupBy(col("dst").as("aid")).agg(sum(col("s")).as("sr")),
              col("id") === col("aid"), "left")
            .select(col("id"), coalesce(col("sr"), lit(0L)).as("s")))
          val (hRaw, _, _) = loop.step(v.join(
              eByDst.join(aRaw.hint("shuffle_hash"), col("dst") === col("id"))
                .groupBy(col("src").as("hid")).agg(sum(col("s")).as("sr")),
              col("id") === col("hid"), "left")
            .select(col("id"), coalesce(col("sr"), lit(0L)).as("s")))
          // joint rescale: a 1-row aggregate frame, broadcast via
          // crossJoin — no driver-side action inside the loop
          val m = aRaw.agg(max(col("s")).as("ma"))
            .crossJoin(hRaw.agg(max(col("s")).as("mh")))
            .select(expr(s"coalesce(greatest(ma, mh), 0L) div $Scale + 1L").as("d"))
          loop.free(prev: _*)
          prev = Seq(aRaw, hRaw)
          a = aRaw.crossJoin(m).select(col("id"), expr("s div d").as("s"))
          h = hRaw.crossJoin(m).select(col("id"), expr("s div d").as("s"))
        }
        loop.keep(prev: _*)
        h.select(col("id"), col("s").as("hub"))
          .join(a.select(col("id").as("id2"), col("s").as("auth")),
            col("id") === col("id2"))
          .select(col("id"), col("hub"), col("auth"))
      }
    }

  // ---- registry entry ---------------------------------------------------

  /** Unrolled K-level DuckDB twin of the identical integer recurrence.
    *
    * The per-level raw/max CTEs are each referenced 3 times (next
    * level, rescale max, normalized view); DuckDB 1.0 INLINES every CTE
    * reference, so without `AS MATERIALIZED` the plan re-expands the
    * whole sub-chain per reference — 3^K join subtrees, unrunnable at
    * K=5 (observed: minutes of 100% CPU vs 0.5s materialized).
    * PageRank's unrolled oracle never hit this because each of its
    * levels is referenced exactly once. */
  private def oracleSql(iters: Int): String = {
    import graft.graph.CitationGraph.edgesSql
    val head =
      s"""WITH $edgesSql,
         |e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
         |v AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |h0 AS (SELECT id, CAST($Scale AS BIGINT) AS s FROM v)""".stripMargin
    val levels = (1 to iters).map { k =>
      s"""a${k}r AS MATERIALIZED (
         |  SELECT v.id, CAST(COALESCE(r.sr, 0) AS BIGINT) AS s FROM v LEFT JOIN (
         |    SELECT e.dst AS id, CAST(sum(h.s) AS BIGINT) AS sr
         |    FROM e JOIN h${k - 1} h ON e.src = h.id GROUP BY 1
         |  ) r ON v.id = r.id),
         |h${k}r AS MATERIALIZED (
         |  SELECT v.id, CAST(COALESCE(r.sr, 0) AS BIGINT) AS s FROM v LEFT JOIN (
         |    SELECT e.src AS id, CAST(sum(a.s) AS BIGINT) AS sr
         |    FROM e JOIN a${k}r a ON e.dst = a.id GROUP BY 1
         |  ) r ON v.id = r.id),
         |m$k AS MATERIALIZED (SELECT CAST(COALESCE(greatest(
         |    (SELECT max(s) FROM a${k}r), (SELECT max(s) FROM h${k}r)), 0)
         |    // $Scale + 1 AS BIGINT) AS d),
         |a$k AS (SELECT id, s // (SELECT d FROM m$k) AS s FROM a${k}r),
         |h$k AS (SELECT id, s // (SELECT d FROM m$k) AS s FROM h${k}r)""".stripMargin
    }
    (head +: levels).mkString(",\n") +
      s"""
         |SELECT h.id, h.s AS hub, a.s AS auth
         |FROM h$iters h JOIN a$iters a ON h.id = a.id
         |ORDER BY h.id""".stripMargin
  }

  val hitsQ: Q = Q(
    "g_hits",
    Some(oracleSql(Iters)),
    (s, d) =>
      hits(s, graft.graph.CitationGraph.edges(s, d), iters = Iters)
        .orderBy(col("id")))

  val all: Seq[Q] = Seq(hitsQ)
}

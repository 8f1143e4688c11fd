package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Cross-round slope artifact + drift gate (VERDICT r12 #6).
  *
  * The wall-time drift gate (Bench.priorBenchMins) covers sf0.1 only —
  * a query that regresses from linear to superlinear is INVISIBLE to
  * it until the absolute sf0.1 wall moves. This main measures the
  * ScaleTrend SlopeSet at TWO scale factors in one warm JVM, fits the
  * per-entry exponent
  *
  *     p = log(wallB / wallA) / log(massB / massA)
  *
  * against the MEASURED data mass (not the nominal 10x: /tmp/sf1
  * carries 13.6x the sf0.1 TEXT mass — gate-workflow lesson #9), with
  * a per-entry mass basis (graph entries ride edges, embedding
  * entries ride vectors, document kernels ride text bytes, relational
  * entries ride fact rows), writes SLOPES_r{N}.json, and flags any
  * entry whose exponent worsened by more than 0.15 against the newest
  * committed prior artifact with the same (dirA, dirB) pair — the
  * slope sibling of the wall drift block.
  *
  * Usage: runMain graft.Slopes <out.json> [dirA] [dirB] [reps] [names...]
  */
object Slopes {

  /** Mass basis per entry: the denominator a query's cost honestly
    * rides. Prefix rules, most specific first. */
  private[graft] def basisOf(name: String): String =
    if (name.startsWith("sim_") || name.startsWith("d_dedup_embedding") ||
      name == "d_cluster_kmeans" || name == "d_dedup_semantic" ||
      name == "d_coreset_kcenter" || name == "d_decontaminate_embedding")
      "embeddings"
    else if (name.startsWith("g_")) "edges"
    // audio/compressed-text media whose planted size IS length(text)
    // (samples / recovered chars) ride text bytes, not doc count —
    // /tmp/sf1 carries 13.6x the text of 10x the docs, and quoting
    // these on docs reads a bogus +0.13 exponent
    else if (name.startsWith("m_flac") || name.startsWith("m_wav") ||
      name.startsWith("m_gzip") || name == "m_audio_fp") "text_bytes"
    else if (name.startsWith("m_")) "docs"
    else if (name.startsWith("t_") || name.startsWith("d_")) "text_bytes"
    else "rows" // q1/w/x/st: the relational fact tables

  /** Fitted exponent; NaN-safe (callers skip non-finite). */
  private[graft] def fitExponent(wallA: Double, wallB: Double,
      massA: Double, massB: Double): Double =
    if (wallA <= 0 || wallB <= 0 || massA <= 0 || massB <= massA) Double.NaN
    else math.log(wallB / wallA) / math.log(massB / massA)

  /** Entries whose exponent worsened > 0.15 vs the prior artifact:
    * (name, curP, priorP). Missing/NaN entries never flag, and BOTH
    * measurements must carry a >= 5 s sf-B wall: the gate's own first
    * fire (two same-code r13 runs) measured run-over-run Δp up to
    * ±0.4 on sub-5 s entries — at those walls the exponent is noise,
    * exactly the class the wall gate's 0.5 s absolute floor guards. */
  private[graft] val MinWallB = 5.0

  private[graft] def slopeDriftAgainst(prior: Map[String, (Double, Double)],
      cur: Map[String, (Double, Double)]): Seq[(String, Double, Double)] =
    cur.toSeq.sortBy(_._1).flatMap { case (k, (p, wb)) =>
      prior.get(k) match {
        case Some((q, pwb)) if p.isFinite && q.isFinite &&
          p - q > 0.15 && wb >= MinWallB && pwb >= MinWallB =>
          Some((k, p, q))
        case _ => None
      }
    }

  /** Newest committed SLOPES_r*.json with the same dir pair:
    * (tag, name -> (p, wallB)). Best-effort, like
    * Bench.priorBenchMins; entries without a detail wall read 0 (and
    * so never pass the drift gate's wall floor). */
  private[graft] def priorSlopes(repoDir: String, dirA: String,
      dirB: String): Option[(String, Map[String, (Double, Double)])] =
    try {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val rx = "^SLOPES_r(\\d+)\\.json$".r
      Option(new java.io.File(repoDir).listFiles()).map(_.toSeq).getOrElse(Nil)
        .flatMap { f =>
          f.getName match {
            case rx(n) => Some((n.toInt, f))
            case _ => None
          }
        }
        .sortBy(-_._1)
        .flatMap { case (_, f) =>
          try {
            val root = om.readTree(f)
            if (root.path("dirA").asText("") != dirA ||
              root.path("dirB").asText("") != dirB ||
              !root.path("p").isObject) None
            else {
              val m = scala.collection.mutable.Map.empty[String, (Double, Double)]
              val it = root.path("p").properties().iterator()
              while (it.hasNext) {
                val e = it.next()
                val wb = root.path("detail").path(e.getKey)
                  .path("wallB").asDouble(0.0)
                m(e.getKey) = (e.getValue.asDouble(Double.NaN), wb)
              }
              Some((f.getName.stripSuffix(".json"), m.toMap))
            }
          } catch { case _: Throwable => None }
        }
        .headOption
    } catch { case _: Throwable => None }

  /** The five mass denominators of a data directory, measured. */
  private def masses(s: SparkSession, d: String): Map[String, Double] = Map(
    "text_bytes" -> Tables.documents(s, d)
      .agg(sum(octet_length(col("text")))).head().getLong(0).toDouble,
    "docs" -> Tables.documents(s, d).count().toDouble,
    "embeddings" -> Tables.embeddings(s, d).count().toDouble,
    "edges" -> graft.graph.CitationGraph.edges(s, d).count().toDouble,
    "rows" -> (Tables.lineitem(s, d).count() +
      Tables.orders(s, d).count() + Tables.events(s, d).count()).toDouble)

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("SLOPES_LOCAL.json")
    val dirA = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val dirB = if (args.length > 2) args(2) else "/tmp/sf1"
    val reps = if (args.length > 3) args(3).toInt else 2
    val only = args.drop(4).toSet
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.warm(spark, dirA)

    val names = ScaleTrend.SlopeSet.filter(n => only.isEmpty || only(n))
    def runDir(d: String): Map[String, Double] = {
      val m = scala.collection.mutable.Map.empty[String, Double]
      for (name <- names) {
        var best = Double.MaxValue
        var ok = true
        for (_ <- 1 to reps if ok) {
          val t0 = System.nanoTime()
          try SparkEntry.queries(name)(spark, d).queryExecution.toRdd.count()
          catch { case e: Throwable =>
            println(s"SLOPE $name FAILED at $d: ${e.getMessage}"); ok = false
          }
          val sec = (System.nanoTime() - t0) / 1e9
          if (ok && sec < best) best = sec
          graft.analytics.CheckpointRegistry.releaseAll(spark)
        }
        graft.pipeline.PipelineQueries.releaseSharedAfterFamily(
          spark, name, "")
        if (ok) m(name) = best
      }
      m.toMap
    }
    val mA = masses(spark, dirA)
    val mB = masses(spark, dirB)
    val wallA = runDir(dirA)
    // session caches trained on dirA must not leak into dirB's timings
    SessionCaches.clearAll(spark)
    val wallB = runDir(dirB)

    val ps = names.flatMap { n =>
      (wallA.get(n), wallB.get(n)) match {
        case (Some(a), Some(b)) =>
          val basis = basisOf(n)
          val p = fitExponent(a, b, mA(basis), mB(basis))
          if (p.isFinite) Some(n -> (a, b, basis, p)) else None
        case _ => None
      }
    }
    val prior = priorSlopes("/root/repo", dirA, dirB)
    val drift = prior match {
      case Some((_, pm)) =>
        slopeDriftAgainst(pm,
          ps.map { case (n, (_, b, _, p)) => n -> ((p, b)) }.toMap)
      case None => Nil
    }
    // Confirm re-fit (the wall gate's recheck pattern): the gate's own
    // first fires measured a ±0.2-0.3 same-code Δp noise floor even
    // above the 5 s wall guard, so each flag earns ONE fresh
    // wall-pair re-measure; the flag survives only if the REFIT
    // exponent also worsens > 0.15 vs the prior. Refit walls are
    // warm-JVM singles — failures leave refit NaN and the flag stays
    // conservatively confirmed.
    val driftChecked = drift.map { case (k, p, q) =>
      val refit = try {
        def one(dir: String): Double = {
          val t0 = System.nanoTime()
          SparkEntry.queries(k)(spark, dir).queryExecution.toRdd.count()
          graft.analytics.CheckpointRegistry.releaseAll(spark)
          (System.nanoTime() - t0) / 1e9
        }
        val a2 = one(dirA)
        val b2 = one(dirB)
        val basis = basisOf(k)
        fitExponent(a2, b2, mA(basis), mB(basis))
      } catch { case _: Throwable => Double.NaN }
      val confirmed = !refit.isFinite || refit - q > 0.15
      (k, p, q, refit, confirmed)
    }
    spark.stop()
    def d3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val pJson = ps.map { case (n, (_, _, _, p)) => "\"" + n + "\":" + d3(p) }
      .mkString("{", ",", "}")
    val detailJson = ps.map { case (n, (a, b, basis, _)) =>
      "\"" + n + s"""":{"wallA":${d3(a)},"wallB":${d3(b)},"basis":"$basis"}"""
    }.mkString("{", ",", "}")
    val massJson = (mA.keys.toSeq.sorted.map(k =>
      "\"" + k + s"""_ratio":${d3(mB(k) / mA(k))}""")).mkString("{", ",", "}")
    val driftJson = driftChecked.map { case (k, p, q, refit, confirmed) =>
      "\"" + k + s"""":{"p":${d3(p)},"prior_p":${d3(q)},""" +
        s""""refit":${d3(refit)},"confirmed":$confirmed}"""
    }.mkString("{", ",", "}")
    val priorTag = prior.map(_._1).getOrElse("")
    val json = s"""{"dirA":"$dirA","dirB":"$dirB","reps":$reps,""" +
      s""""masses":$massJson,"p":$pJson,"detail":$detailJson,""" +
      s""""drift":$driftJson,"prior":"$priorTag","n":${ps.size}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(json.take(4000))
    if (driftChecked.nonEmpty)
      println("SLOPE DRIFT: " + driftChecked.map {
        case (k, p, q, refit, confirmed) =>
          s"$k ${d3(q)}->${d3(p)} refit=${d3(refit)} confirmed=$confirmed"
      }.mkString(", "))
    println(s"[slopes] wrote ${ps.size} exponents to $out")
  }
}

package graft

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.analytics.{CitationAnalytics, ConnectedComponents, HopPlot}

/** The per-source BFS histogram against an independent local BFS
  * on seeded random graphs: several components, duplicate and reversed
  * edges, self-loops, and Long ids whose low 32 bits collide across
  * components (an id truncated to Int would merge them). */
class HopPlotHistogramSpec extends SparkSpec {

  /** Edges of a graph with 1-4 components of 1-12 vertices each. */
  private def graph(seed: Int): Seq[(Long, Long)] = {
    val r = new Random(seed)
    val base = Seq(0L, Int.MaxValue.toLong + 1L, -(1L << 40))(seed % 3)
    val es = (0 until 1 + r.nextInt(4)).flatMap { c =>
      val size = 1 + r.nextInt(12)
      def id(i: Int): Long = base + c * (1L << 32) + i
      (0 until size + r.nextInt(size + 1)).map(_ => (id(r.nextInt(size)), id(r.nextInt(size))))
    }
    val dups = es.take(3).map(_.swap) ++ es.takeRight(2)
    val loops = es.take(2).map { case (a, _) => (a, a) }
    r.shuffle(es ++ dups ++ loops)
  }

  /** Ordered pairs at each exact distance, by plain BFS from every vertex. */
  private def oracle(es: Seq[(Long, Long)]): Array[Long] = {
    val adj = mutable.Map[Long, Set[Long]]().withDefaultValue(Set.empty)
    es.filter { case (a, b) => a != b }.foreach { case (a, b) =>
      adj(a) += b
      adj(b) += a
    }
    val hist = mutable.ArrayBuffer[Long](0L)
    adj.keys.foreach { s =>
      val dist = mutable.Map(s -> 0)
      val queue = mutable.Queue(s)
      while (queue.nonEmpty) {
        val u = queue.dequeue()
        adj(u).filterNot(dist.contains).foreach { w =>
          dist(w) = dist(u) + 1
          queue.enqueue(w)
        }
      }
      dist.values.filter(_ > 0).foreach { d =>
        while (hist.size <= d) hist += 0L
        hist(d) += 1
      }
    }
    if (hist.size == 1) Array.emptyLongArray else hist.toArray
  }

  /** The hop rows the oracle's histogram implies. */
  private def expected(hist: Array[Long], maxD: Int, coverage: Double,
      totalPairs: Option[Long]): Seq[HopPlot.HopRow] = {
    val g = (1 until hist.length).take(maxD).map(d => (1 to d).map(hist(_)).sum / 2)
    val total = totalPairs.getOrElse(g.lastOption.getOrElse(0L))
    val rows = g.zipWithIndex.map { case (gd, i) =>
      HopPlot.HopRow(i + 1, gd, BigDecimal(gd.toDouble / total)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val cut = rows.indexWhere(_.pct >= coverage)
    if (coverage >= 1.0 || cut < 0) rows else rows.take(cut + 1)
  }

  private def edgesDf(es: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    es.toDF("src", "dst")
  }

  test("distance histogram and hop rows equal a local BFS on seeded random graphs") {
    (1 to 12).foreach { seed =>
      val es = graph(seed)
      val want = oracle(es)
      val df = edgesDf(es)
      withClue(s"seed $seed: ") {
        assert(HopPlot.distanceHistogram(spark, df).toSeq === want.toSeq)
        assert(HopPlot.hopPlotRows(spark, df) === expected(want, 20, 1.0, None))
        assert(HopPlot.hopPlotRows(spark, df, maxD = 2) === expected(want, 2, 1.0, None))
        assert(HopPlot.hopPlotRows(spark, df, coverage = 0.6) ===
          expected(want, 20, 0.6, None))
        // a known total larger than the curve's: pct never reaches 1
        val total = want.sum / 2 + 3
        assert(HopPlot.hopPlotRows(spark, df, coverage = 0.6, totalPairs = Some(total)) ===
          expected(want, 20, 0.6, Some(total)))
      }
    }
  }

  test("an empty graph, or one of self-loops only, has an empty histogram") {
    assert(HopPlot.distanceHistogram(spark, edgesDf(Seq.empty)).isEmpty)
    assert(HopPlot.distanceHistogram(spark, edgesDf(Seq((5L, 5L)))).isEmpty)
    assert(HopPlot.hopPlotRows(spark, edgesDf(Seq((5L, 5L)))) === Seq.empty)
  }

  test("diameter's denominator is the components' pair total") {
    import spark.implicits._
    Seq(2, 7, 11).foreach { seed =>
      val es = graph(seed)
      val ids = es.flatMap { case (a, b) => Seq(a, b) }.distinct
      // one vertex published after the snapshot year drops its edges
      val late = ids.head
      val cit = es.toDF("from", "to")
      val dates = ids.map(id => (id, if (id == late) 2001 else 1999)).toDF("id", "year")
      val snap = CitationAnalytics.snapshotEdges(cit, dates, 2000)
      val pairs = ConnectedComponents.componentSizes(snap).collect().map(_.getLong(2)).sum
      val want = oracle(es.filter { case (a, b) => a != late && b != late })
      withClue(s"seed $seed: ") {
        assert(want.sum / 2 === pairs)
        val rows = CitationAnalytics.diameter(spark, cit, dates, 2000, maxD = 2, coverage = 1.0)
          .collect().map(r => HopPlot.HopRow(r.getInt(0), r.getLong(1), r.getDouble(2)))
        assert(rows.toSeq === expected(want, 2, 1.0, Some(pairs)))
      }
    }
  }
}

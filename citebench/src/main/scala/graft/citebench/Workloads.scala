package graft.citebench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.analytics.{CitationAnalytics, ConnectedComponents}
import graft.pipeline.PpJoin
import graft.sources.CitationLoaders

/** What one task returns: whether its output matched the oracle, the
  * work units it completed, and the counts it produced. */
final case class Outcome(ok: Boolean, work: Double, counts: Map[String, Double])

/** A workload with its inputs generated and its oracle answer computed.
  * `task` is one public operation on the same inputs every time. */
trait Prepared {
  def task(spark: SparkSession, tr: Tracer): Outcome
  /** Untimed checks and counts made once, after the timed tasks. */
  def after(spark: SparkSession): Outcome = Outcome(ok = true, 0, Map.empty)
}

object Workloads {

  def prepare(name: String, seed: Long, dir: Path): Prepared = name match {
    case "density" => density(Inputs.density(seed), dir)
    case "diameter_deep" => diameter(Inputs.deep(seed), dir)
    case "diameter_wide" => diameter(Inputs.wide(seed), dir)
    case "dedup" => dedup(Inputs.dedup(seed), dir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def load(spark: SparkSession, tr: Tracer, c: Path, d: Path) =
    tr.layer("sources.load") {
      (CitationLoaders.loadCitations(spark, c.toString),
        CitationLoaders.loadPublishedDates(spark, d.toString))
    }

  /** Paper query 1; work is the input edge count. */
  private def density(in: Inputs.Citations, dir: Path): Prepared = {
    val c = Inputs.write(dir, "citations.txt", in.citations)
    val d = Inputs.write(dir, "published-dates.txt", in.dates)
    val expected = Inputs.densityExpected
    new Prepared {
      def task(spark: SparkSession, tr: Tracer): Outcome = {
        val (cit, dates) = load(spark, tr, c, d)
        val rows = tr.layer("analytics.density") {
          CitationAnalytics.density(cit, dates).collect()
        }
        val got = rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
        Outcome(got == expected, in.edges, Map.empty)
      }
    }
  }

  /** Paper query 2 on one snapshot; work is the connected pairs at the
    * last reported distance. */
  private def diameter(in: Inputs.Citations, dir: Path): Prepared = {
    val c = Inputs.write(dir, "citations.txt", in.citations)
    val d = Inputs.write(dir, "published-dates.txt", in.dates)
    val adj = Oracles.snapshot(in.citations, in.dates, in.snapshotYear)
    val expected = Oracles.hopPlot(adj)
    val pairs = Oracles.connectedPairs(adj)
    new Prepared {
      def task(spark: SparkSession, tr: Tracer): Outcome = {
        val (cit, dates) = load(spark, tr, c, d)
        val rows = tr.call("CitationAnalytics.diameter") {
          CitationAnalytics.diameter(spark, cit, dates, in.snapshotYear).collect()
        }
        val got = rows.map(r => Oracles.Hop(r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
        val last = got.lastOption.map(_.g).getOrElse(0L).toDouble
        Outcome(got == expected, last, Map(
          "analytics.hopplot.levels" -> got.size.toDouble,
          "analytics.hopplot.pairs" -> last))
      }

      override def after(spark: SparkSession): Outcome = {
        val (cit, dates) = (CitationLoaders.loadCitations(spark, c.toString),
          CitationLoaders.loadPublishedDates(spark, d.toString))
        val edges = CitationAnalytics.snapshotEdges(cit, dates, in.snapshotYear)
        val got = ConnectedComponents.componentSizes(edges)
          .agg(org.apache.spark.sql.functions.sum("n_pairs")).head.getLong(0)
        Outcome(got == pairs, 0, Map("analytics.components.pairs" -> got.toDouble))
      }
    }
  }

  /** Similarity self-join at Jaccard >= 19/20; work is the documents. */
  private def dedup(in: Inputs.Docs, dir: Path): Prepared = {
    val path = Inputs.write(dir, "documents.tsv", in.tsv)
    val expected = Oracles.similarPairs(in.tsv, PpJoin.TauNum, PpJoin.TauDen)
    new Prepared {
      def task(spark: SparkSession, tr: Tracer): Outcome = {
        val docs = tr.layer("sources.load") {
          spark.read.schema("doc_id LONG, text STRING").option("sep", "\t")
            .csv(path.toString)
        }
        val rows = tr.layer("pipeline.ppjoin") {
          PpJoin.similarPairs(spark, docs).collect()
        }
        val got = rows.map(r => Oracles.Pair(r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
          .sortBy(p => (p.a, p.b)).toSeq
        val cand = PpJoin.lastCandidates.toDouble
        Outcome(got == expected, in.docs, Map(
          "pipeline.ppjoin.candidates" -> cand,
          "pipeline.ppjoin.pairs" -> got.size.toDouble,
          "pipeline.ppjoin.yield" -> (if (cand > 0) got.size / cand else 0.0)))
      }
    }
  }
}

package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.analytics.CheckpointRegistry
import graft.pipeline.PpJoin

/** Prefix-filtered set-similarity join: hand-computed Jaccard pairs,
  * the completeness law vs an in-test brute force, the candidate-count
  * law vs a driver-side PPJoin, boundary and hot-token behavior, the
  * job budget, and corpus sanity. */
class PpJoinSpec extends SparkSpec {

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  private def run(df: DataFrame): Seq[(Long, Long, Long, Long, Long, Long)] =
    PpJoin.similarPairs(spark, df).orderBy("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq

  /** All-pairs reference: exact token-set Jaccard >= 1/2, driver-side. */
  private def brute(rows: Seq[(Long, String)]): Set[(Long, Long)] = {
    val sets = rows.map { case (id, t) =>
      id -> t.trim.split("\\s+").filter(_.nonEmpty).toSet
    }.filter(_._2.nonEmpty)
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      c = (sa & sb).size
      if c * PpJoin.TauDen >= PpJoin.TauNum * (sa.size + sb.size - c)
    } yield (a, b)).toSet
  }

  test("identical docs: J = 1, ppm = 1000000") {
    val t = run(docs(1L -> "alpha beta gamma", 2L -> "gamma alpha beta"))
    assert(t === Seq((1L, 2L, 3L, 3L, 3L, 1000000L)))
  }

  test("exact threshold boundary: J = 19/20 qualifies, just below does not") {
    val twenty = (0 until 20).map(i => s"w$i")
    // 19-token subset of a 20-token doc: c=19, union 20 -> J = 19/20
    val in = run(docs(
      1L -> twenty.mkString(" "), 2L -> twenty.take(19).mkString(" ")))
    assert(in === Seq((1L, 2L, 19L, 20L, 19L, 950000L)))
    // swap one token instead: c=19, union 21 -> J = 19/21 < 19/20
    assert(run(docs(
      1L -> twenty.mkString(" "),
      2L -> (twenty.take(19) :+ "other").mkString(" "))).isEmpty)
  }

  test("duplicate tokens collapse to sets before scoring") {
    // repeated words change nothing: {x,y} vs {x,y}
    val t = run(docs(1L -> "x x x y", 2L -> "y x y"))
    assert(t === Seq((1L, 2L, 2L, 2L, 2L, 1000000L)))
  }

  test("empty and whitespace-only docs never pair") {
    assert(run(docs(1L -> "", 2L -> "   ", 3L -> "solo words here")).isEmpty)
  }

  private def withPositional[T](on: Boolean)(body: => T): T = {
    sys.props("graft.ppjoin.positional") = on.toString
    try body finally sys.props("graft.ppjoin.positional") = "true"
  }

  test("positional filter prunes candidates without changing the output") {
    // Constructed so ONE candidate is prunable purely by position:
    // docs 1/2 are 20-token sets sharing 19 tokens, with their ONLY
    // shared prefix token at rank 2 of both prefixes (r1/r3 are unique,
    // hence rarest, hence rank 1). The required overlap is
    // alpha = ceil(19*40/39) = 20 but the positional bound is
    // 1 + min(20-2, 20-2) = 19 -> pruned BEFORE the verify join. The
    // identical pair 3/4 shares its rank-1 token (bound 20 >= 20) and
    // must survive both the filter and verification.
    val hot = (0 until 18).map(i => s"h$i")
    val other = (0 until 20).map(i => s"q$i")
    val rows: Seq[(Long, String)] = Seq(
      1L -> (Seq("r1", "r2") ++ hot).mkString(" "),
      2L -> (Seq("r3", "r2") ++ hot).mkString(" "),
      3L -> other.mkString(" "),
      4L -> other.reverse.mkString(" "))
    def candsWith(arm: Boolean): (Set[(Long, Long)], Long) = withPositional(arm) {
      (run(docs(rows: _*)).map(p => (p._1, p._2)).toSet, PpJoin.lastCandidates)
    }
    val (outOn, candOn) = candsWith(arm = true)
    val (outOff, candOff) = candsWith(arm = false)
    assert(outOn === outOff)
    assert(outOn === brute(rows))
    assert(outOn === Set((3L, 4L)))
    assert(candOn < candOff,
      s"positional filter pruned nothing (on=$candOn, off=$candOff)")
  }

  test("completeness vs brute force on an adversarial hot-token corpus") {
    // every doc shares 20 hot boilerplate tokens; paired docs (2k-1, 2k)
    // differ only in one rare token — the overlap a df-cap path could
    // drop from generation is exactly what qualifies here
    val boiler = (0 until 20).map(i => s"common$i").mkString(" ")
    val rows: Seq[(Long, String)] = (1L to 30L).map { i =>
      i -> s"$boiler pair${(i + 1) / 2}"
    }
    val got = run(docs(rows: _*)).map(p => (p._1, p._2)).toSet
    assert(got === brute(rows))
    // each (2k-1, 2k) pair is identical -> J = 1
    assert(got.size >= 15)
  }

  /** Doc i holds a 40-token sliding window over a shared sequence —
    * adjacent windows score 39/41 (just above tau), windows two apart
    * 38/42 (below), identical-window repeats 1. */
  private val graded: Seq[(Long, String)] = (1L to 50L).map { i =>
    val start = (i.toInt % 25) * 1 // repeats every 25 docs
    i -> (start until start + 40).map(j => s"w$j").mkString(" ")
  }

  test("completeness vs brute force on graded-overlap vocabulary") {
    val got = run(docs(graded: _*)).map(p => (p._1, p._2)).toSet
    assert(got === brute(graded))
    assert(got.nonEmpty)
  }

  /** Three 40-doc corpora from tiny (every token hot) through wide
    * (near-unique) vocabularies, fixed seed — the regimes where prefix
    * pruning behaves differently. */
  private lazy val sweep: Seq[(Int, Seq[(Long, String)])] = {
    val rng = new scala.util.Random(12345)
    (1 to 3).map { _ =>
      val vocab = 5 + rng.nextInt(40)
      vocab -> (1L to 40L).map { i =>
        val len = 3 + rng.nextInt(25)
        i -> (0 until len).map(_ => s"w${rng.nextInt(vocab)}").mkString(" ")
      }
    }
  }

  test("seeded sweep: completeness holds across random vocab regimes") {
    for (((vocab, rows), round) <- sweep.zipWithIndex)
      assert(run(docs(rows: _*)).map(p => (p._1, p._2)).toSet === brute(rows),
        s"round ${round + 1} vocab $vocab")
  }

  private def inBatch(id: Long): Boolean = id % 10 == 7

  /** The PPJoin candidate set, driver-side: distinct pairs (a < b) in
    * each other's size band that share a prefix token at positions
    * passing the positional bound (any position when `positional` is
    * off). Tokens rank by (df ASC, t ASC), df counted over the docs
    * `standing` keeps (others' tokens df 0); `touch` picks the pairs a
    * run generates. */
  private def candidates(rows: Seq[(Long, String)], positional: Boolean,
      standing: Long => Boolean, touch: (Long, Long) => Boolean): Set[(Long, Long)] = {
    import PpJoin.{TauDen, TauNum}
    val sets = rows.map { case (id, t) =>
      id -> t.trim.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    }.filter(_._2.nonEmpty)
    val df = sets.filter(s => standing(s._1)).flatMap(_._2)
      .groupBy(identity).map { case (t, ts) => t -> ts.size.toLong }
    val prefixes = sets.map { case (id, ts) =>
      val n = ts.size.toLong
      val p = n - (TauNum * n + TauDen - 1) / TauDen + 1
      val ranked = ts.sortBy(t => (df.getOrElse(t, 0L), t))
      (id, n, ranked.take(p.toInt).zipWithIndex.map { case (t, i) => t -> (i + 1L) }.toMap)
    }
    (for {
      (a, na, pa) <- prefixes; (b, nb, pb) <- prefixes
      if a < b && touch(a, b)
      if nb >= (TauNum * na + TauDen - 1) / TauDen && nb <= na * TauDen / TauNum
      if pa.exists { case (t, ra) => pb.get(t).exists { rb => !positional ||
        (1 + math.min(na - ra, nb - rb)) * (TauNum + TauDen) >= TauNum * (na + nb)
      } }
    } yield (a, b)).toSet
  }

  test("candidate counts equal the driver-side PPJoin candidate set") {
    // one row per pair at its first shared prefix token must count exactly
    // the distinct pairs some shared prefix token generates: the sweep
    // corpora (prefixes of at most 2 tokens) and the graded corpus (3,
    // where a pair can share several prefix tokens that pass the bound),
    // with the positional filter on and off
    val corpora = sweep.map(_._2) :+ graded
    for ((rows, k) <- corpora.zipWithIndex; positional <- Seq(true, false))
      withPositional(positional) {
        val clue = s"corpus $k positional=$positional"
        val d = docs(rows: _*)
        val full = run(d).map(p => (p._1, p._2))
        assert(full.distinct === full, clue)
        val fullCand = candidates(rows, positional, _ => true, (_, _) => true)
        assert(PpJoin.lastCandidates === fullCand.size.toLong, clue)
        val incr = runInc(d)
        assert(incr.distinct === incr, clue)
        val incrCand = candidates(rows, positional, id => !inBatch(id),
          (a, b) => inBatch(a) || inBatch(b))
        assert(PpJoin.lastIncrCandidates === incrCand.size.toLong, clue)
        assert(fullCand.nonEmpty && incrCand.nonEmpty, s"$clue: no candidates")
      }
  }

  test("deterministic across layouts") {
    val d = docs((1L to 40L).map(i =>
      i -> (0 until 6).map(j => s"t${(i * 5 + j * 11) % 17}").mkString(" ")): _*)
    assert(run(d) === run(d.repartition(9)))
  }

  private def runInc(df: DataFrame): Seq[(Long, Long)] =
    PpJoin.incrementalPairs(spark, df).orderBy("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("incremental equals the full join restricted to batch-touching pairs") {
    // ids 7, 17, 27 are the batch (id % 10 == 7); craft qualifying pairs
    // batch-corpus (7~1), batch-batch (17~27), corpus-corpus (2~3,
    // which must NOT appear)
    val twenty = (0 until 20).map(i => s"w$i").mkString(" ")
    val other = (100 until 120).map(i => s"v$i").mkString(" ")
    val d = docs(
      1L -> twenty, 7L -> twenty,
      17L -> other, 27L -> other,
      2L -> "z1 z2 z3", 3L -> "z1 z2 z3",
      5L -> "q1 q2 q3 q4 q5")
    val full = run(d).map(p => (p._1, p._2))
      .filter(p => p._1 % 10 == 7 || p._2 % 10 == 7)
    assert(runInc(d) === full)
    assert(runInc(d).toSet === Set((1L, 7L), (17L, 27L)))
  }

  test("incremental: batch tokens unseen by the corpus rank rarest and still pair") {
    // both batch docs are entirely outside the corpus vocabulary
    val novel = (0 until 20).map(i => s"novel$i").mkString(" ")
    val d = docs(1L -> "a b c d e", 7L -> novel, 17L -> novel)
    assert(runInc(d).toSet === Set((7L, 17L)))
  }

  test("incremental: empty batch yields no pairs") {
    val d = docs(1L -> "a b c", 2L -> "a b c")
    assert(runInc(d).isEmpty)
  }

  test("corpus: incremental equals brute force restricted to the batch") {
    val t = runInc(Tables.documents(spark, sf()))
    assert(t.nonEmpty)
    assert(t.forall(p => p._1 % 10 == 7 || p._2 % 10 == 7))
    assert(t.forall(p => p._1 < p._2))
  }

  test("corpus: near-dup pairs surface and every reported pair is exact") {
    val t = run(Tables.documents(spark, sf()))
    assert(t.nonEmpty)
    t.foreach { case (a, b, c, na, nb, ppm) =>
      assert(a < b)
      assert(c >= 1 && c <= math.min(na, nb))
      assert(c * PpJoin.TauDen >= PpJoin.TauNum * (na + nb - c))
      assert(ppm === 1000000L * c / (na + nb - c))
    }
  }

  test("one warm call of each join runs a pinned job budget") {
    val d = docs(sweep.head._2: _*)
    def jobs(group: String)(call: => DataFrame): Int = {
      def once(): Set[Row] =
        try call.collect().toSet finally CheckpointRegistry.releaseAll(spark)
      val warm = once()
      val (rows, n) = Profile.countJobs(spark, group)(once())
      assert(rows === warm)
      n
    }
    val full = jobs("ppjoin-spec-full")(PpJoin.similarPairs(spark, d))
    val incr = jobs("ppjoin-spec-incremental")(PpJoin.incrementalPairs(spark, d))
    info(s"jobs for one call: similarPairs $full, incrementalPairs $incr")
    assert(full === SimilarPairsJobs)
    assert(incr === IncrementalPairsJobs)
  }

  /** Jobs of one warm similarPairs call on the first sweep corpus,
    * collected: the rank-encoded docs are materialized once and the
    * scored candidates once (ckptCounted counts them in the same job).
    * 14 with a candidate `distinct` and two verify joins. */
  private val SimilarPairsJobs = 7

  /** Jobs of one warm incrementalPairs call on the same corpus (18 with
    * two prefix frames, a candidate `distinct` and two verify joins). */
  private val IncrementalPairsJobs = 7
}

package graft.citebench

/** Driver-side oracles, written independently of the engine: they share
  * no code with it and read the same text the engine reads. */
object Oracles {

  /** One hop-plot row as the engine reports it: `(d, g(d), percent)`. */
  final case class Hop(d: Int, g: Long, pct: Double)

  /** Reference percent format: g / total, half-up at six decimals. */
  def percent(g: Long, total: Long): Double =
    BigDecimal(g.toDouble / total.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def lines(text: String): Iterator[Array[String]] =
    text.linesIterator.filter(l => !l.contains("#") && l.trim.nonEmpty)
      .map(_.trim.split("\\s+"))

  /** Undirected snapshot graph: both endpoints dated at or before
    * `year`, self-loops and repeated edges dropped. Only nodes with an
    * edge are in the graph. Returns adjacency over dense indices. */
  def snapshot(citations: String, dates: String, year: Int): Array[Array[Int]] = {
    val yearOf = scala.collection.mutable.HashMap[Int, Int]()
    lines(dates).foreach { p =>
      val y = p(1).take(4).toInt
      yearOf.updateWith(p(0).toInt)(o => Some(o.fold(y)(math.min(_, y))))
    }
    val index = scala.collection.mutable.HashMap[Int, Int]()
    val adj = scala.collection.mutable.ArrayBuffer[scala.collection.mutable.Set[Int]]()
    def node(v: Int): Int = index.getOrElseUpdate(v, {
      adj += scala.collection.mutable.Set[Int](); adj.size - 1
    })
    lines(citations).foreach { p =>
      val (a, b) = (p(0).toInt, p(1).toInt)
      val in = (v: Int) => yearOf.get(v).exists(_ <= year)
      if (a != b && in(a) && in(b)) {
        val (x, y) = (node(a), node(b))
        adj(x) += y; adj(y) += x
      }
    }
    adj.map(_.toArray).toArray
  }

  /** Ordered-pair counts per BFS distance, summed over every source:
    * `levels(d - 1)` = ordered pairs at distance exactly d. */
  def distanceCounts(adj: Array[Array[Int]]): Array[Long] = {
    val n = adj.length
    val counts = scala.collection.mutable.ArrayBuffer[Long]()
    val dist = Array.fill(n)(-1)
    val queue = new Array[Int](n)
    for (s <- 0 until n) {
      java.util.Arrays.fill(dist, -1)
      dist(s) = 0
      var head = 0; var tail = 0
      queue(tail) = s; tail += 1
      while (head < tail) {
        val u = queue(head); head += 1
        adj(u).foreach { v =>
          if (dist(v) < 0) {
            dist(v) = dist(u) + 1
            queue(tail) = v; tail += 1
            while (counts.size < dist(v)) counts += 0L
            counts(dist(v) - 1) += 1
          }
        }
      }
    }
    counts.toArray
  }

  /** Connected unordered pairs: the hop-plot denominator. */
  def connectedPairs(adj: Array[Array[Int]]): Long =
    distanceCounts(adj).sum / 2

  /** Hop-plot rows with the reference's stop rules: rows d = 1, 2, ...
    * up to the first whose percent reaches `coverage`, at most `maxD`,
    * and never past the last distance that adds a pair. */
  def hopPlot(adj: Array[Array[Int]], maxD: Int = 20,
      coverage: Double = 0.9): Seq[Hop] = {
    val levels = distanceCounts(adj)
    val total = levels.sum / 2
    val cum = levels.scanLeft(0L)(_ + _).tail.map(_ / 2)
    val rows = cum.indices.take(maxD).map(i => Hop(i + 1, cum(i), percent(cum(i), total)))
    val cut = rows.indexWhere(_.pct >= coverage)
    if (cut < 0) rows else rows.take(cut + 1)
  }

  /** One similar pair as the engine reports it. */
  final case class Pair(a: Long, b: Long, c: Long, na: Long, nb: Long, jacPpm: Long)

  /** Brute force over all document pairs: token sets by whitespace
    * split, Jaccard c / (na + nb - c) >= num / den in integers. */
  def similarPairs(tsv: String, num: Long, den: Long): Seq[Pair] = {
    val docs = tsv.linesIterator.filter(_.nonEmpty).map { l =>
      val tab = l.indexOf('\t')
      (l.substring(0, tab).toLong,
        l.substring(tab + 1).trim.split("\\s+").filter(_.nonEmpty).distinct)
    }.filter(_._2.nonEmpty).toArray.sortBy(_._1)
    val vocab = docs.iterator.flatMap(_._2).distinct.zipWithIndex.toMap
    val words = (vocab.size + 63) / 64
    val bits = docs.map { case (_, ts) =>
      val b = new Array[Long](words)
      ts.foreach { t => val i = vocab(t); b(i >> 6) |= 1L << (i & 63) }
      b
    }
    val out = scala.collection.mutable.ArrayBuffer[Pair]()
    for (i <- docs.indices; j <- i + 1 until docs.length) {
      var c = 0L
      var w = 0
      while (w < words) { c += java.lang.Long.bitCount(bits(i)(w) & bits(j)(w)); w += 1 }
      val (na, nb) = (docs(i)._2.length.toLong, docs(j)._2.length.toLong)
      if (c * den >= num * (na + nb - c))
        out += Pair(docs(i)._1, docs(j)._1, c, na, nb, 1000000L * c / (na + nb - c))
    }
    out.toSeq
  }
}

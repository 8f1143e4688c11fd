package graft.citebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Seeded input generators. Every generator is a pure function of its
  * seed: the same seed gives byte-identical text, so a run can be
  * repeated exactly and two commits can be compared on the same inputs.
  *
  * Citation inputs use the reference's two text formats: a directed
  * edge list `from<TAB>to` and a node table `id<TAB>yyyy-mm-dd`, each
  * with a `#` header. Ids follow the arXiv style `yy * 100000 + k`, so
  * ids grow with time (as in the reference's hep-th data) and every id
  * is unique.
  */
object Inputs {

  /** Generated text plus the expected answer by construction, where
    * the construction fixes one. */
  final case class Citations(citations: String, dates: String,
      snapshotYear: Int, nodes: Int, edges: Int)

  final case class Docs(tsv: String, docs: Int)

  private def id(year: Int, k: Int): Int = (year % 100) * 100000 + k

  private def dateLine(rnd: java.util.Random, i: Int, year: Int): String =
    f"$i\t$year%04d-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d"

  private def render(dates: Seq[String], edges: Seq[(Int, Int)],
      year: Int): Citations = {
    val c = new java.lang.StringBuilder(edges.size * 16)
    c.append("# Directed citation graph\n# FromNodeId\tToNodeId\n")
    edges.foreach { case (f, t) => c.append(f).append('\t').append(t).append('\n') }
    val d = new java.lang.StringBuilder(dates.size * 20)
    d.append("# Paper publication dates\n")
    dates.foreach(l => d.append(l).append('\n'))
    Citations(c.toString, d.toString, year, dates.size, edges.size)
  }

  // ---- density: the paper's own scale ---------------------------------

  val DensityYears: Seq[Int] = 1992 to 2002
  val DensityNodes = 37201
  val DensityEdges = 347414

  /** Splits `total` over the years in proportion to `w`, exactly. */
  private def apportion(total: Int, w: Seq[Double]): Seq[Int] = {
    val s = w.sum
    val base = w.map(x => math.floor(total * x / s).toInt)
    base.updated(base.size - 1, base.last + total - base.sum)
  }

  /** Nodes per year grow linearly and edges per citing year
    * quadratically (densification). Both splits are fixed; the seed
    * only picks who cites whom, so n(t) and e(t) are known by
    * construction. */
  val densityNodesPerYear: Seq[Int] =
    apportion(DensityNodes, DensityYears.indices.map(i => (i + 1).toDouble))
  val densityEdgesPerYear: Seq[Int] =
    apportion(DensityEdges, DensityYears.indices.map(i => math.pow(i + 1, 2)))

  /** Expected density rows `(year, n(t), e(t))`. */
  val densityExpected: Seq[(Int, Long, Long)] = {
    val n = densityNodesPerYear.scanLeft(0L)(_ + _).tail
    val e = densityEdgesPerYear.scanLeft(0L)(_ + _).tail
    DensityYears.indices.map(i => (DensityYears(i), n(i), e(i)))
  }

  /** Each edge's source is a paper of its citing year; its target is
    * any paper of that year or earlier. */
  def density(seed: Long): Citations = {
    val rnd = new java.util.Random(seed)
    val ids = DensityYears.zip(densityNodesPerYear).map { case (y, n) =>
      (1 to n).map(k => id(y, k)).toArray
    }
    val dates = DensityYears.indices.flatMap(i =>
      ids(i).toSeq.map(x => dateLine(rnd, x, DensityYears(i))))
    val pool = ids.scanLeft(Array.empty[Int])(_ ++ _).tail
    val edges = DensityYears.indices.flatMap { i =>
      Seq.fill(densityEdgesPerYear(i)) {
        (ids(i)(rnd.nextInt(ids(i).length)),
          pool(i)(rnd.nextInt(pool(i).length)))
      }
    }
    render(dates, edges, DensityYears.last)
  }

  // ---- diameter: one fixed yearly snapshot ------------------------------

  /** The snapshot every diameter task asks for; papers of later years
    * are in the files but outside the snapshot. */
  val SnapshotYear = 1996

  /** Deep: papers come in `gens` generations of `width` papers, two
    * generations a year from 1993, and each paper cites two papers of the
    * generation before it (one picked by a permutation, so every paper
    * is cited, and one at random). Distance grows with the generation
    * gap, so the hop-plot of the eight-generation snapshot needs many
    * levels to reach 90 %, and components need a round per generation. */
  def deep(seed: Long, gens: Int = 12, width: Int = 8): Citations = {
    val rnd = new java.util.Random(seed)
    val perYear = 2
    def year(g: Int) = 1993 + g / perYear
    val ids = Array.tabulate(gens, width) { (g, k) =>
      id(year(g), (g % perYear) * width + k + 1)
    }
    val dates = for (g <- 0 until gens; k <- 0 until width)
      yield dateLine(rnd, ids(g)(k), year(g))
    val edges = (1 until gens).flatMap { g =>
      val perm = shuffled(rnd, width)
      (0 until width).flatMap { k =>
        val a = perm(k)
        var b = rnd.nextInt(width - 1)
        if (b >= a) b += 1
        Seq(ids(g)(k) -> ids(g - 1)(a), ids(g)(k) -> ids(g - 1)(b))
      }
    }
    render(dates, edges, SnapshotYear)
  }

  /** Wide: `papers` papers over six years, each citing `cites` distinct
    * papers drawn uniformly from all earlier ones. Such a graph is a
    * small world: the hop-plot reaches 90 % in a few levels, with large
    * frontiers at each. */
  def wide(seed: Long, papers: Int = 600, cites: Int = 3): Citations = {
    val rnd = new java.util.Random(seed)
    val years = 6
    val perYear = papers / years
    def year(i: Int) = 1992 + i / perYear
    val ids = Array.tabulate(papers)(i => id(year(i), i % perYear + 1))
    val dates = (0 until papers).map(i => dateLine(rnd, ids(i), year(i)))
    val edges = (1 until papers).flatMap { i =>
      val picked = scala.collection.mutable.LinkedHashSet[Int]()
      while (picked.size < math.min(cites, i)) picked += rnd.nextInt(i)
      picked.toSeq.map(j => ids(i) -> ids(j))
    }
    render(dates, edges, SnapshotYear)
  }

  private def shuffled(rnd: java.util.Random, n: Int): Array[Int] = {
    val a = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  // ---- dedup: documents with planted near-duplicates ----------------------

  /** The regime the engine's own PPJoin measurements use (the sf0.1
    * `documents` table, `PpJoin.similarPairs`' notes): a 30-word vocabulary
    * drawn uniformly, so every token is hot and prefix filtering is at its
    * weakest, and texts of 10 to 100 words, so word sets of about 10 to 30.
    * Candidates then outnumber similar pairs many times over and the join is
    * bound by candidate generation and verification. With sets this small,
    * Jaccard >= 19/20 means equal sets or sets of 19+ words that differ by
    * one, so a planted near-duplicate is another text over the same word
    * set: every fifth document re-draws an earlier one's words.
    *
    * The word sets come from one fixed draw (`DedupSetsSeed`), so every
    * seed does the same join work: with sets drawn per seed, two seeds
    * with candidate counts 1% apart differed by half in verification time.
    * The seed picks which set each document id gets, and the word order
    * and repeats of every text. */
  val DedupVocab = 30
  val DedupSetsSeed = 20020L

  def dedup(seed: Long, docs: Int = 2000): Docs = {
    val fixed = new java.util.Random(DedupSetsSeed)
    val sets = new Array[Array[Int]](docs)
    for (i <- 0 until docs) {
      sets(i) =
        if (i >= 5 && i % 5 == 4) sets(fixed.nextInt(i))
        else Array.fill(10 + fixed.nextInt(91))(fixed.nextInt(DedupVocab)).distinct
    }
    val rnd = new java.util.Random(seed)
    val order = shuffled(rnd, docs)
    val sb = new java.lang.StringBuilder(docs * 300)
    for (i <- 0 until docs) {
      val set = sets(order(i))
      // every word of the set once, then repeats, in shuffled order
      val words = set ++
        Array.fill(rnd.nextInt(3 * set.length + 1))(set(rnd.nextInt(set.length)))
      sb.append(i + 1).append('\t')
      sb.append(shuffled(rnd, words.length).map(j => f"w${words(j)}%02d").mkString(" "))
      sb.append('\n')
    }
    Docs(sb.toString, docs)
  }

  def write(dir: Path, name: String, text: String): Path = {
    Files.createDirectories(dir)
    Files.write(dir.resolve(name), text.getBytes(UTF_8))
  }
}

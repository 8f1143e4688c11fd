package graft

import scala.jdk.CollectionConverters._

/** Deterministic full-scale citation graph synthesizer shared by
  * CitationScaleSpec and the golden generator (GenGoldens): the mirror is
  * missing the real citations.txt blob, so we build a graph whose
  * per-year cumulative node/edge counts equal the reference's published
  * densities.csv exactly. Node ids are chronological (1..N in year
  * order); every edge cites a strictly earlier id via a fixed-seed LCG;
  * pairs are deduplicated so edge counts are exact. Fully deterministic,
  * so outputs derived from it (densities, hop plots) are pinnable as
  * golden files.
  */
object SynthCitations {

  /** (year, cumulative nodes, cumulative edges) from the golden file. */
  lazy val golden: Seq[(Int, Long, Long)] =
    java.nio.file.Files
      .readAllLines(ReferenceFixtures.densities.getOrElse(
        throw new IllegalStateException(ReferenceFixtures.DensitiesMissing)))
      .asScala.toSeq
      .drop(1)
      .map(_.split(",")).map(a => (a(0).toInt, a(1).toLong, a(2).toLong))

  /** Synthesized input dir (published-dates.txt + citations.txt),
    * memoized — one synthesis per JVM. */
  lazy val inDir: String = synthesize()

  private def synthesize(): String = {
    val dir = java.nio.file.Files.createTempDirectory("citescale")
    val pd = new StringBuilder("# id\tdate\n")
    val ct = new StringBuilder("# FromNodeId\tToNodeId\n")
    var prevN = 0L
    var prevE = 0L
    var seed = 20260812L
    def lcg(): Long = { seed = (seed * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue; seed }
    val seen = new scala.collection.mutable.HashSet[Long]()
    for ((year, nCum, eCum) <- golden) {
      val nInc = (nCum - prevN).toInt
      val eInc = (eCum - prevE).toInt
      val yearStart = prevN + 1 // first id published this year
      for (i <- 0 until nInc)
        pd.append(s"${yearStart + i}\t$year-01-01\n")
      var made = 0
      var k = 0
      while (made < eInc) {
        val from = yearStart + (k % math.max(nInc, 1))
        // cite any strictly earlier id (chronological ids => published <= year)
        val to = 1L + (lcg() % math.max(from - 1, 1L))
        val key = from * 100000L + to
        if (to != from && !seen.contains(key)) {
          seen += key
          ct.append(s"$from\t$to\n")
          made += 1
        }
        k += 1
      }
      prevN = nCum
      prevE = eCum
    }
    java.nio.file.Files.writeString(dir.resolve("published-dates.txt"), pd.toString)
    java.nio.file.Files.writeString(dir.resolve("citations.txt"), ct.toString)
    dir.toString
  }
}

package graft.citebench

import org.scalatest.funsuite.AnyFunSuite

class OraclesSpec extends AnyFunSuite {

  private def graph(edges: (Int, Int)*): Array[Array[Int]] = {
    val dates = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => s"$v\t1995-01-01").mkString("# header\n", "\n", "\n")
    val cit = edges.map { case (a, b) => s"$a\t$b" }.mkString("# header\n", "\n", "\n")
    Oracles.snapshot(cit, dates, 1995)
  }

  private def curve(adj: Array[Array[Int]]) =
    Oracles.hopPlot(adj, coverage = 1.0).map(h => (h.d, h.g))

  test("5-node path: g(d) = 4, 7, 9, 10") {
    val path = graph(1 -> 2, 2 -> 3, 3 -> 4, 4 -> 5)
    assert(curve(path) == Seq(1 -> 4L, 2 -> 7L, 3 -> 9L, 4 -> 10L))
    assert(Oracles.connectedPairs(path) == 10)
  }

  test("star: every leaf pair is two hops apart") {
    val star = graph(1 -> 2, 1 -> 3, 1 -> 4, 1 -> 5)
    assert(curve(star) == Seq(1 -> 4L, 2 -> 10L))
  }

  test("two components: pairs never cross components") {
    val two = graph(1 -> 2, 2 -> 3, 7 -> 8)
    assert(Oracles.connectedPairs(two) == 4)
    assert(curve(two) == Seq(1 -> 3L, 2 -> 4L))
    assert(Oracles.hopPlot(two, coverage = 1.0).map(_.pct) == Seq(0.75, 1.0))
  }

  test("coverage and maxD cut the curve like the reference") {
    val path = graph(1 -> 2, 2 -> 3, 3 -> 4, 4 -> 5)
    assert(Oracles.hopPlot(path).map(_.pct) == Seq(0.4, 0.7, 0.9))
    assert(Oracles.hopPlot(path, maxD = 2).map(_.d) == Seq(1, 2))
  }

  test("percent rounds half up at six decimals") {
    assert(Oracles.percent(1, 3) == 0.333333)
    assert(Oracles.percent(2, 3) == 0.666667)
  }

  test("snapshot keeps edges whose endpoints are both dated by the year") {
    val dates = "# d\n1\t1994-03-01\n2\t1995-12-31\n3\t1996-01-01\n"
    val cit = "# c\n1 2\n2 3\n1 1\n2\t1\n1 9\n"
    val adj = Oracles.snapshot(cit, dates, 1995)
    // 1-2 (once, both directions collapse), 2-3 out of year, 1-1 self
    // loop, 1-9 undated
    assert(adj.length == 2 && adj.forall(_.length == 1))
  }

  test("similar pairs: integer Jaccard against 19/20") {
    val base = (1 to 20).map(i => s"t$i")
    val tsv = Seq(
      1 -> base,                                  // 20 words
      2 -> (base :+ "x"),                         // 20/21 >= 0.95
      3 -> (base.drop(2) ++ Seq("y", "z")),       // 18/22 < 0.95
      4 -> (base ++ base.take(3)),                // repeats: the same set as 1
      5 -> Seq.empty[String]                      // empty: never a pair
    ).map { case (id, ws) => s"$id\t${ws.mkString(" ")}" }.mkString("\n")
    val got = Oracles.similarPairs(tsv, 19, 20)
    assert(got == Seq(
      Oracles.Pair(1, 2, 20, 20, 21, 952380),
      Oracles.Pair(1, 4, 20, 20, 20, 1000000),
      Oracles.Pair(2, 4, 20, 21, 20, 952380)))
  }
}

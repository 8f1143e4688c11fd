package graft.citebench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  private def bytes(seed: Long): Seq[String] = {
    val d = Inputs.density(seed)
    val deep = Inputs.deep(seed)
    val wide = Inputs.wide(seed)
    Seq(d.citations, d.dates, deep.citations, deep.dates,
      wide.citations, wide.dates, Inputs.dedup(seed).tsv)
  }

  test("the same seed gives byte-identical inputs; another seed does not") {
    val a = bytes(7)
    assert(a == bytes(7))
    bytes(8).zip(a).foreach { case (x, y) => assert(x != y) }
  }

  test("density inputs hold the paper's 2002 totals by construction") {
    val d = Inputs.density(3)
    assert(d.nodes == 37201 && d.edges == 347414)
    assert(d.citations.linesIterator.count(!_.startsWith("#")) == 347414)
    assert(d.dates.linesIterator.count(!_.startsWith("#")) == 37201)
    assert(Inputs.densityExpected.last == ((2002, 37201L, 347414L)))
    assert(Inputs.densityExpected.map(_._1) == (1992 to 2002))
  }

  test("density rows by construction match counting the generated files") {
    val d = Inputs.density(5)
    val yearOf = d.dates.linesIterator.filterNot(_.startsWith("#"))
      .map(_.split("\t")).map(p => p(0).toInt -> p(1).take(4).toInt).toMap
    val nodes = yearOf.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val edges = d.citations.linesIterator.filterNot(_.startsWith("#"))
      .map(l => yearOf(l.split("\t")(0).toInt)).toSeq
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val years = (1992 to 2002)
    val n = years.scanLeft(0L)(_ + nodes(_)).tail
    val e = years.scanLeft(0L)(_ + edges(_)).tail
    assert(Inputs.densityExpected == years.indices.map(i => (years(i), n(i), e(i))))
  }

  test("deep snapshots need more hop-plot levels than wide ones") {
    def levels(c: Inputs.Citations) =
      Oracles.hopPlot(Oracles.snapshot(c.citations, c.dates, c.snapshotYear)).size
    val deep = levels(Inputs.deep(1))
    val wide = levels(Inputs.wide(1))
    assert(deep >= 6 && wide <= 5, s"deep $deep, wide $wide")
  }

  test("every seed has the same word sets, a fixed share of them planted copies") {
    def sets(seed: Long) = Inputs.dedup(seed).tsv.linesIterator
      .map(_.split('\t')(1).split(' ').distinct.sorted.mkString(" ")).toSeq.sorted
    assert(sets(2) == sets(3))
    val d = Inputs.dedup(2)
    val pairs = Oracles.similarPairs(d.tsv, 19, 20)
    assert(pairs.size >= d.docs / 5 - 1)
  }
}

package graft

import java.io.ByteArrayOutputStream

/** graft.Profile: deterministic job counts without sleeps, an A/B that
  * leaves its property as it found it, and one line per timed rep. */
class ProfileSpec extends SparkSpec {

  private def printed(body: => Unit): Seq[String] = {
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(body)
    out.toString("UTF-8").linesIterator.toSeq
  }

  test("jobs counts the same g_density jobs on two consecutive calls") {
    // the first read of the tables in a JVM adds a footer job and two AQE
    // stage jobs (14 against 11; Profile's warm-up reads them): a cold call
    // goes first
    def count(): Int = Profile.jobs(spark, sf(), Seq("g_density")) match {
      case Seq(("g_density", n)) => n
    }
    count()
    val first = count()
    assert(first > 0)
    assert(count() === first)
  }

  test("ab restores the property's prior value even when a query throws") {
    val prop = "graft.fanout"
    val prior = sys.props.get(prop)
    def set(v: Option[String]): Unit = v match {
      case Some(x) => sys.props(prop) = x
      case None => sys.props -= prop
    }
    try for (start <- Seq(None, Some("true"))) {
      set(start)
      val out = printed(Profile.ab(spark, sf(), prop, 1, Seq("no_such_query", "q1_agg")))
      assert(sys.props.get(prop) === start)
      assert(out.count(_.startsWith(s"AB no_such_query $prop=")) === 4)
      assert(out.contains(
        s"AB no_such_query $prop false=[] min_false=ALL_FAILED true=[] min_true=ALL_FAILED"))
      assert(out.exists(l => l.startsWith(s"AB q1_agg $prop false=[") &&
        !l.contains("ALL_FAILED")))
    } finally set(prior)
  }

  test("reps prints one line per rep") {
    val out = printed(Profile.reps(spark, sf(), 3, Seq("q1_agg")))
    assert(out.size === 3)
    out.zipWithIndex.foreach { case (l, i) =>
      assert(l.matches(s"REPS q1_agg rep=${i + 1} \\d+\\.\\d\\ds rows=\\d+"), l)
    }
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one lazy SparkSession per suite from the entry
  * points' factory, on 4 cores. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.builder(4)
    .config("spark.sql.warehouse.dir",
      s"/tmp/graft-warehouse-${sys.props.getOrElse("user.name", "u")}")
    .getOrCreate()

  def sf(dir: String = "0.001"): String = s"/root/testdata/sf$dir"

  /** `n` distinct (src, dst) edges without self-loops on 401 vertices
    * (n <= 160,400): enough rows to size a superstep loop past one
    * partition while keeping per-vertex state small. */
  def denseEdges(n: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.range(n).select((col("id") / 400).cast("long").as("src"),
        ((col("id") / 400).cast("long") + 1 + col("id") % 400).as("off"))
      .select(col("src"), (col("off") % 401).as("dst"))
  }

  /** Plan text with the byte-gated scan fan-out exchange removed
    * (Tables.fanout: `Exchange RoundRobinPartitioning(n),
    * REPARTITION_BY_NUM` directly above a too-small-to-fill-the-cluster
    * scan — identity at real scale, see Tables.scala). The narrow-map /
    * exchange-count guards keep asserting what they always asserted:
    * no data movement the OPERATOR introduced. An exchange is stripped
    * only when its subtree, read off the tree string's indentation, is
    * a chain of unary operators ending in a `FileScan` leaf; a
    * round-robin exchange above a join, another exchange or any other
    * branching subtree is an operator's `.repartition(n)` and stays. */
  def sansFanout(plan: String): String = {
    val lines = plan.split("\n", -1)
    // column where a tree-string node's text starts (after `:  +- `)
    def depth(l: String): Int = l.indexWhere(c => !" :+-".contains(c))
    def fanout(i: Int): Boolean = lines(i).contains(" REPARTITION_BY_NUM") && {
      var j = i
      while (j + 1 < lines.length && depth(lines(j + 1)) == depth(lines(j)) + 3
        && !lines(j).contains("FileScan")) j += 1
      j > i && lines(j).contains("FileScan") &&
        (i + 1 until j).forall(k => !lines(k).contains("Exchange")) &&
        (j + 1 == lines.length || depth(lines(j + 1)) <= depth(lines(i)))
    }
    val Fanout = "Exchange RoundRobinPartitioning\\(\\d+\\), REPARTITION_BY_NUM.*"
    lines.indices.map { i =>
      if (fanout(i)) lines(i).replaceFirst(Fanout, "[scan-fanout]") else lines(i)
    }.mkString("\n")
  }

  /** Executed-and-finalized plan string: under AQE a plan containing an
    * exchange only finalizes (codegen spans, stage boundaries) after it
    * runs, so codegen guards must execute the frame first. */
  def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan.toString
  }
}

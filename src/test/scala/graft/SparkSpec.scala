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

  /** Plan text with the byte-gated scan fan-out exchange removed
    * (Tables.fanout: `Exchange RoundRobinPartitioning(n),
    * REPARTITION_BY_NUM` directly above a too-small-to-fill-the-cluster
    * scan — identity at real scale, see Tables.scala). The narrow-map /
    * exchange-count guards keep asserting what they always asserted:
    * no data movement the OPERATOR introduced. The pattern is exact
    * (round-robin + REPARTITION_BY_NUM) and ANCHORED to the fan-out
    * site — the exchange must sit within three lines of the FileScan it
    * parallelizes (ADVICE r13: the unanchored strip also hid an
    * operator-introduced `.repartition(n)` anywhere in the pipeline; a
    * mid-pipeline round-robin exchange now still fails the guard). */
  def sansFanout(plan: String): String =
    plan.replaceAll(
      "Exchange RoundRobinPartitioning\\(\\d+\\), REPARTITION_BY_NUM[^\\n]*" +
        "(?=(?:\\n[^\\n]*?){0,2}\\n[^\\n]*?FileScan)",
      "[scan-fanout]")

  /** Executed-and-finalized plan string: under AQE a plan containing an
    * exchange only finalizes (codegen spans, stage boundaries) after it
    * runs, so codegen guards must execute the frame first. */
  def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan.toString
  }
}

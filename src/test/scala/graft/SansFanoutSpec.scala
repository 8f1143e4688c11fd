package graft

/** `SparkSpec.sansFanout` over literal plan strings: it strips the
  * scan fan-out exchange and nothing an operator introduced. */
class SansFanoutSpec extends SparkSpec {

  private val Scan = "FileScan parquet [doc_id#0L,text#1] Batched: true, Format: Parquet"

  test("a fan-out exchange three unary operators above its scan is stripped") {
    val plan =
      s"""*(2) HashAggregate(keys=[doc_id#0L], functions=[])
         |+- Exchange RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=10]
         |   +- *(1) Project [doc_id#0L, text#1]
         |      +- *(1) Filter isnotnull(doc_id#0L)
         |         +- *(1) ColumnarToRow
         |            +- $Scan""".stripMargin
    val out = sansFanout(plan)
    assert(!out.contains("Exchange"), out)
    assert(out.linesIterator.toSeq(1) == "+- [scan-fanout]", out)
  }

  test("a round-robin exchange above a join is kept") {
    val plan =
      s"""Exchange RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=20]
         |+- *(3) BroadcastHashJoin [doc_id#0L], [doc_id#2L], Inner, BuildRight, false
         |   :- *(3) ColumnarToRow
         |   :  +- $Scan
         |   +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=19]
         |      +- *(1) ColumnarToRow
         |         +- $Scan""".stripMargin
    assert(sansFanout(plan) == plan)
  }

  test("a round-robin exchange above another exchange is kept") {
    val plan =
      s"""Exchange RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=30]
         |+- Exchange RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=29]
         |   +- *(1) ColumnarToRow
         |      +- $Scan""".stripMargin
    val out = sansFanout(plan).linesIterator.toSeq
    assert(out(0) == plan.linesIterator.next(), out.mkString("\n"))
    assert(out(1) == "+- [scan-fanout]", out.mkString("\n"))
  }
}

package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph views derived deterministically from the driver testdata.
  *
  * The reference's subject is a temporal citation graph (SURVEY.md §1):
  * nodes with a publication year, directed edges. The arXiv edge file is a
  * missing blob, so the engine derives an equivalent graph from the TPC-H
  * tables (same shape at every scale factor, fully SQL-expressible so the
  * DuckDB oracle can reproduce it):
  *
  *  - citation-style graph (large, grows with sf):
  *      nodes = customers that ordered, year = year of first order;
  *      edges = one per order: o_custkey -> (o_orderkey mod ncust).
  *  - hop-plot graph (small, tree forest per region — used for the
  *    all-pairs BFS, which is inherently O(pairs)):
  *      supplier(+10000) — nation(+1000) — region edges.
  *
  * Each view has a SQL twin (the *Sql constants) composed into oracles.
  */
object CitationGraph {

  /** Node table of the citation-style graph: (id BIGINT, yr BIGINT). */
  def nodes(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey").cast("long").as("id"))
      .agg(min(year(col("o_orderdate"))).cast("long").as("yr"))

  val nodesSql: String =
    """nodes AS (SELECT CAST(o_custkey AS BIGINT) AS id,
      |  CAST(min(extract(year FROM o_orderdate)) AS BIGINT) AS yr
      |  FROM orders GROUP BY 1)""".stripMargin

  /** Directed edge list of the citation-style graph: (src, dst) BIGINT.
    * Mirrors citations(from, to) (schemas/package.scala:7-9).
    *
    * The modulus (max customer id + 1) is a dimension scalar resolved
    * ONCE per (session, dataset) and inlined as a literal: the previous
    * 1-row crossJoin planned as a BroadcastNestedLoopJoin inside every
    * graph query and defeated the no-nested-loop plan guards. */
  private def custModulus(spark: SparkSession, dir: String): Long =
    graft.SessionCaches.memo(spark, "graph_modulus", dir)(
      Tables.customer(spark, dir).agg(max(col("c_custkey")))
        .head.getLong(0) + 1L)

  def edges(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_custkey").cast("long").as("src"),
        (col("o_orderkey") % lit(custModulus(spark, dir))).cast("long").as("dst"))

  val edgesSql: String =
    """edges AS (SELECT CAST(o_custkey AS BIGINT) AS src,
      |  CAST(o_orderkey % (SELECT max(c_custkey)+1 FROM customer) AS BIGINT) AS dst
      |  FROM orders)""".stripMargin

  /** Temporal edge view: the citation-style edges with the order date as
    * the edge's activation day (BIGINT days since 1992-01-01, the TPC-H
    * date floor) — one edge per order, times NOT collapsed: the same
    * (src, dst) pair active on two days is two temporal edges. */
  def temporalEdges(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_custkey").cast("long").as("src"),
        (col("o_orderkey") % lit(custModulus(spark, dir))).cast("long").as("dst"),
        datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("t"))

  val temporalEdgesSql: String =
    """tedges AS (SELECT CAST(o_custkey AS BIGINT) AS src,
      |  CAST(o_orderkey % (SELECT max(c_custkey)+1 FROM customer) AS BIGINT) AS dst,
      |  CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS t
      |  FROM orders)""".stripMargin

  /** Undirected (bidirectionalized, deduped, loop-free) edge view of the
    * small hop-plot graph. Mirrors G1 (Analytics.scala:344-365). */
  def hopEdges(spark: SparkSession, dir: String): DataFrame = {
    val su = Tables.supplier(spark, dir).select(
      (col("s_suppkey") + 10000L).cast("long").as("src"),
      (col("s_nationkey") + 1000L).cast("long").as("dst"))
    val na = Tables.nation(spark, dir).select(
      (col("n_nationkey") + 1000L).cast("long").as("src"),
      col("n_regionkey").cast("long").as("dst"))
    su.union(na)
  }

  val hopEdgesSql: String =
    """hopedges AS (
      |  SELECT CAST(s_suppkey + 10000 AS BIGINT) AS src, CAST(s_nationkey + 1000 AS BIGINT) AS dst FROM supplier
      |  UNION ALL
      |  SELECT CAST(n_nationkey + 1000 AS BIGINT) AS src, CAST(n_regionkey AS BIGINT) AS dst FROM nation)""".stripMargin

  /** G1 — symmetric closure of an edge list, loop-free, deduped (returns
    * ordered pairs: both (a,b) and (b,a)). */
  def bidirectional(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()

  val bidirSqlOf: String => String = (e: String) =>
    s"""bidir AS (SELECT src, dst FROM $e WHERE src <> dst
       |  UNION SELECT dst, src FROM $e WHERE src <> dst)""".stripMargin
}

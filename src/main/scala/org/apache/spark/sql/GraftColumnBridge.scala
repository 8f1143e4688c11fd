package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the private[sql] Column<->Expression and plan<->DataFrame
  * converters, so custom Catalyst expressions and logical plans
  * (graft.functions / graft.plans) can be exposed through the public
  * API. Placed in the Spark SQL package — the standard extension-point
  * pattern for libraries shipping native operators.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    qe.analyzed
  }

  /** private[sql] sessionUUID — unique per session for the JVM lifetime,
    * the safe cache-identity key (a recycled identityHashCode is not). */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** The materialized RDD behind a localCheckpoint'ed Dataset (its plan
    * is a LogicalRDD), so iterative algorithms can explicitly unpersist
    * superseded iteration frames instead of leaking them until the
    * ContextCleaner catches up (ADVICE r2, HyperANF superstep frames). */
  def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    analyzed(df) match {
      case lr: execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** Re-wrap a (typically localCheckpoint'ed) frame as a LogicalRDD
    * WITHOUT origin statistics. localCheckpoint propagates the
    * truncated plan's estimated stats into the LogicalRDD it returns;
    * in an iterative loop whose round plan INNER-joins the state frame
    * k times, sizeInBytes therefore compounds ~(digits x k) per round —
    * by round ~12 the estimate is a BigInteger with millions of digits
    * and the driver livelocks inside stats multiplication (semi-join
    * loops like k-core never multiply sizes, which is why only the
    * truss peel hit this). The re-wrapped frame computes from the same
    * materialized checkpoint blocks but reports the session-default
    * size, keeping every round's estimate constant. */
  def statsClean(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema)
  }

  /** Exact row count, memoized per (session, canonical plan) — for the
    * superstep loops' partition-sizing count (analytics.Superstep.run):
    * every loop query counted its raw edge frame on entry, a full scan +
    * aggregate whose value is identical across the ~25 loop queries
    * reading the same frame in one session. Checkpoint-backed frames
    * short-circuit to the materialized RDD (no memo needed); everything
    * else keys on the canonicalized plan STRING (exact equality — a
    * hash collision cannot return a wrong count). Bounded: a handful of
    * distinct scan plans per session. */
  def memoCount(df: DataFrame): Long =
    analyzed(df) match {
      case lr: execution.LogicalRDD => lr.rdd.count()
      case plan =>
        // key = canonical plan string + the scans' root paths: the plan
        // string alone omits file locations (LogicalRelation.toString
        // prints only output attrs + format), so two same-schema scans
        // of different directories would otherwise collide (ADVICE r13)
        graft.SessionCaches.memo(df.sparkSession, "memo_count",
          plan.canonicalized.toString + "|" + scanLocations(plan))(
          df.count())
    }

  /** The scan locations under a plan, so two same-schema scans of
    * DIFFERENT directories cannot share a memoized count (ADVICE r13
    * medium: LogicalRelation.toString omits the file path, so the
    * canonicalized-plan-string key alone collides across e.g. the
    * sf0.001 and sf0.01 test session's tables). */
  private def scanLocations(plan: LogicalPlan): String =
    plan.collect {
      case lr: execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.mkString(",")
          case other => other.toString
        }
    }.mkString(";")

  /** What [[ckptCounted]] folds over its stat column. */
  sealed trait Fold
  /** Rows whose BOOLEAN column is true; NULL counts as false, matching
    * `filter(col)`. */
  case object CountTrue extends Fold
  /** Sum of a LONG column; NULL adds nothing. */
  case object Sum extends Fold
  /** Max of a LONG column; Long.MinValue when it has no non-NULL value. */
  case object Max extends Fold

  /** Lazily localCheckpoint `df`, then materialize it with ONE job that
    * also counts its rows and folds `statCol` (when non-null) per
    * partition: the superstep loops' convergence count rides the
    * materialization instead of costing a second scheduler round-trip
    * (~30 ms each on the bench host, OPTIMIZATION_r13.md).
    *
    * Per-partition results come back from `runJob` (exactly once per
    * successful task, unlike an accumulator), and the job caches the
    * checkpoint blocks and truncates lineage as the eager path does
    * (SparkContext.runJob ends with rdd.doCheckpoint()). Returns
    * (checkpoint, rows, stat). */
  def ckptCounted(df: DataFrame, statCol: String = null,
      fold: Fold = CountTrue): (DataFrame, Long, Long) = {
    val c = df.localCheckpoint(false)
    val idx = Option(statCol).map { n =>
      val want = if (fold == CountTrue) types.BooleanType else types.LongType
      val f = c.schema(n)
      require(f.dataType == want,
        s"ckptCounted: column $n is ${f.dataType}, expected $want")
      c.schema.fieldIndex(n)
    }.getOrElse(-1)
    val rdd = analyzed(c) match {
      case lr: execution.LogicalRDD =>
        lr.rdd.asInstanceOf[org.apache.spark.rdd.RDD[
          org.apache.spark.sql.catalyst.InternalRow]]
      case p => throw new IllegalStateException(
        s"localCheckpoint did not plan a LogicalRDD: ${p.getClass.getName}")
    }
    val parts = c.sparkSession.sparkContext.runJob(rdd, new CountFold(idx, fold))
    val n = parts.map(_._1).sum
    val s = if (fold == Max) parts.map(_._2).foldLeft(Long.MinValue)(math.max)
      else parts.map(_._2).sum
    (c, n, s)
  }

  /** One partition's (rows, `fold` over column `idx`, or 0 when `idx` is
    * -1) for [[ckptCounted]]. A named class, not a lambda, so Spark's
    * closure cleaner does not re-scan this object's bytecode every call. */
  private final class CountFold(idx: Int, fold: Fold)
      extends (Iterator[catalyst.InternalRow] => (Long, Long)) with Serializable {
    def apply(it: Iterator[catalyst.InternalRow]): (Long, Long) = {
      var n = 0L
      var s = if (fold == Max) Long.MinValue else 0L
      while (it.hasNext) {
        val r = it.next(); n += 1L
        if (idx >= 0 && !r.isNullAt(idx)) fold match {
          case CountTrue => if (r.getBoolean(idx)) s += 1L
          case Sum => s += r.getLong(idx)
          case Max => s = math.max(s, r.getLong(idx))
        }
      }
      (n, s)
    }
  }
}

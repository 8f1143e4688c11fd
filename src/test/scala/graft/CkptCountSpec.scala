package graft

import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.functions._

/** The fused checkpoint+count primitive (GraftColumnBridge.ckptCounted)
  * and the memoCount key/eviction fixes — the r14 loop-job-fusion lever
  * replaces every superstep loop's (eager localCheckpoint job, count
  * job) pair with ONE materializing job, so its counts must be exactly
  * `count()` / `filter(col).count()` and the returned frame must be a
  * real checkpoint (LogicalRDD-backed, contents identical). */
class CkptCountSpec extends SparkSpec {

  test("ckptCounted counts rows and true flags exactly, NULL = false") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(true)), (2L, Some(false)), (3L, Some(true)),
      (4L, None), (5L, Some(true))
    ).toDF("id", "chg").withColumn("chg", col("chg")) // nullable boolean
      .repartition(3)
    val (c, n, t) = GraftColumnBridge.ckptCounted(df, "chg")
    assert(n === df.count())
    assert(t === df.filter(col("chg")).count())
    assert(n === 5L && t === 3L)
    // checkpoint-backed, and the contents round-trip unchanged
    assert(GraftColumnBridge.checkpointRdd(c).nonEmpty)
    assert(c.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    GraftColumnBridge.checkpointRdd(c).foreach(_.unpersist(false))
  }

  test("ckptCounted without a flag column counts rows only") {
    val df = spark.range(0, 1234, 1, 5).toDF("id")
    val (c, n, t) = GraftColumnBridge.ckptCounted(df)
    assert(n === 1234L)
    assert(t === 0L)
    assert(c.count() === 1234L)
    GraftColumnBridge.checkpointRdd(c).foreach(_.unpersist(false))
  }

  test("ckptCounted rejects a non-boolean flag column") {
    val df = spark.range(3).toDF("id")
    val e = intercept[IllegalArgumentException] {
      GraftColumnBridge.ckptCounted(df, "id")
    }
    assert(e.getMessage.contains("BooleanType"))
  }

  test("ckptCounted sums and maxes a LONG stat column, NULL skipped") {
    import spark.implicits._
    val df = Seq(Some(4L), None, Some(9L), Some(-2L)).toDF("v").repartition(3)
    val (c, n, sum) = GraftColumnBridge.ckptCounted(df, "v", GraftColumnBridge.Sum)
    assert(n === 4L && sum === 11L)
    val (c2, _, max) = GraftColumnBridge.ckptCounted(df, "v", GraftColumnBridge.Max)
    assert(max === 9L)
    val e = intercept[IllegalArgumentException] {
      GraftColumnBridge.ckptCounted(spark.range(2).toDF("id")
        .withColumn("b", lit(true)), "b", GraftColumnBridge.Sum)
    }
    assert(e.getMessage.contains("LongType"))
    Seq(c, c2).foreach(GraftColumnBridge.checkpointRdd(_).foreach(_.unpersist(false)))
  }

  test("memoCount keys on the scan LOCATION, not just the plan shape") {
    // ADVICE r13 (medium): LogicalRelation.toString omits the file path,
    // so two same-schema scans of different directories collided on the
    // canonicalized-plan-string key and the second got the first's count
    val base = java.nio.file.Files.createTempDirectory("memokey").toString
    spark.range(3).toDF("id").write.mode("overwrite").parquet(s"$base/a")
    spark.range(7).toDF("id").write.mode("overwrite").parquet(s"$base/b")
    val na = GraftColumnBridge.memoCount(spark.read.parquet(s"$base/a"))
    val nb = GraftColumnBridge.memoCount(spark.read.parquet(s"$base/b"))
    assert(na === 3L)
    assert(nb === 7L)
  }

  test("a cleared session recounts memoCount (SessionCaches.clearAll hook)") {
    val dir = java.nio.file.Files.createTempDirectory("memoevict").toString + "/t"
    spark.range(4).toDF("id").write.mode("overwrite").parquet(dir)
    assert(GraftColumnBridge.memoCount(spark.read.parquet(dir)) === 4L)
    spark.range(9).toDF("id").write.mode("overwrite").parquet(dir)
    // without eviction the stale memo would persist for the session
    SessionCaches.clearAll(spark)
    assert(GraftColumnBridge.memoCount(spark.read.parquet(dir)) === 9L)
  }
}

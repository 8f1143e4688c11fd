package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DecimalType, LongType}
import org.apache.spark.sql.Column

/** Parquet table access for the driver-generated testdata (TESTDATA.md).
  *
  * All reads go through here so column pruning / filter pushdown can be
  * checked in one place (`.explain` shows PushedFilters + ReadSchema).
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Byte-gated scan fan-out (optimization guide §2.5 "input skew — one
    * huge unsplittable file"; §6 input split sizing). The driver's
    * testdata writes each table as ONE parquet file with ONE row group,
    * and a row group is the unit of scan parallelism (Spark splits files
    * by byte range, but a row group is consumed whole by the task owning
    * its midpoint) — so every scan here plans exactly one NON-EMPTY task
    * no matter the core count, and any query whose cost is per-row
    * kernel work above the scan (codec decode, sketches, text kernels,
    * vector math) ran 1-of-N threads in stage 1 (OPTIMIZATION_r13.md).
    *
    * When the WHOLE input is provably too small to fill the cluster even
    * at best-case split sizing (fileBytes < maxPartitionBytes ×
    * defaultParallelism), a round-robin repartition to the core count
    * costs one tiny shuffle (guide §2.4: the shuffle moves only what the
    * scan read — here single-digit MB) and buys full parallelism for
    * everything downstream. At real scale the gate never fires (a table
    * with ≥ one split per core passes through untouched), so this is
    * scale-adaptive by construction — NOT a local[32] constant: the
    * repartition width follows the session's parallelism and the gate
    * follows the session's split size on every cluster shape.
    *
    * Determinism: round-robin repartition local-sorts its input first
    * (spark.sql.execution.sortBeforeRepartition, SPARK-23207 — on by
    * default) so the row→partition assignment is a pure function of the
    * data; per-row kernels are partition-independent, and every
    * aggregate in the suite is either exact-typed (DECIMAL/BIGINT) or
    * carries a documented layout-tolerance (`_tol`). The full oracle
    * gate (tools/strictcheck.py over every registered query) was re-run
    * green after the change at sf0.001 and sf0.01.
    */
  def fanout(df: DataFrame): DataFrame = {
    // A/B kill-switch (`graft.Profile ab <sf> graft.fanout …`), on by default
    if (!sys.props.getOrElse("graft.fanout", "true").toBoolean) return df
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val gate = BigInt(spark.sessionState.conf.filesMaxPartitionBytes) * cores
    // the byte gate alone is a proxy: a MANY-SMALL-FILES table can plan
    // >= cores scan splits while staying under it (each file is its own
    // split floor), and would then pay a whole-input round-robin shuffle
    // for parallelism it already has (ADVICE r13). One file per core is
    // already full scan parallelism — pass through untouched.
    if (cores > 1 && bytes < gate && df.inputFiles.length < cores)
      df.repartition(cores)
    else df
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "region")
  /** Timestamp portability across testdata generations. Earlier testdata
    * stored ts as TIMESTAMP(NANOS) (unreadable natively by Spark 4 —
    * sessions set `spark.sql.legacy.parquet.nanosAsLong=true` and the
    * nanos long is truncated to micros below, matching DuckDB). Current
    * testdata stores naive micros (`timestamp[us]`, no TZ annotation),
    * which Spark 4 would infer as TIMESTAMP_NTZ while every query and
    * DuckDB oracle computes in TIMESTAMP; sessions therefore also set
    * `spark.sql.parquet.inferTimestampNTZ.enabled=false` so the reader
    * yields TIMESTAMP (LTZ, session tz pinned UTC) natively — identical
    * micros either way, and filter pushdown survives (no cast on ts).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = apply(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions
          .timestamp_micros(org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => raw
    }
  }
  /** documents does NOT fan out at the accessor: the A/B sweep
    * over all 130 consumers (OPTIMIZATION_r13.md, interleaved same-JVM
    * A/B at sf0.1) split them 34 winners / 77 losers / 19 neutral —
    * blanket fan-out was net NEGATIVE (-18.3 s of wins vs +29.5 s of
    * losses). The losers are (a) sub-second queries paying a flat
    * ~0.2 s exchange-plus-wide-stage tax, and (b) the shuffle-heavy
    * dedup/model lanes, where a 1-task scan feeding the first shuffle
    * maximizes map-side combining. The 34 measured winners — heavy
    * per-row kernels: FLAC/PNG/JPEG/GIF/video decode, zstd/gzip WARC
    * lanes, html links, n-gram pair generation — wrap their scan in
    * `Tables.fanout(...)` explicitly at the call site. */
  def documents(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "documents")
  /** embeddings does NOT fan out: measured 2.5x SLOWER on the vector
    * lanes (d_coreset_kcenter 3.4s -> 8.4s at sf0.1, OPTIMIZATION_r13.md)
    * — the table is 2,000 rows and its consumers are short superstep loops
    * (k-center, Lloyd, PQ trains) whose per-round frames inherit the
    * partitioning: 32 near-empty tasks per round cost more scheduler
    * round-trips than the per-row vector work saved. The kernel-heavy
    * per-row passes over embeddings all run inside those loops, so
    * there is no scan-bound stage to rescue (contrast documents). */
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "embeddings")

  /** Money/measure columns are 2-decimal doubles in the testdata; summing
    * doubles is partition-order dependent, so every aggregated measure is
    * cast to an exact decimal first. The DuckDB oracles do the same
    * (`CAST(x AS DECIMAL(18,s))`) so result hashes match bit-for-bit.
    */
  def dec(c: Column, scale: Int = 2): Column = c.cast(DecimalType(18, scale))

  /** Integer results are normalized to BIGINT on both engines (Spark
    * `year()` yields INT where DuckDB `extract(year ...)` yields BIGINT —
    * standardizing avoids dtype-sensitive hash mismatches).
    */
  def asLong(c: Column): Column = c.cast(LongType)
}

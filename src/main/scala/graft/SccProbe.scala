package graft

import org.apache.spark.sql.SparkSession

/** Prints g_scc's convergence depths per scale factor — the evidence
  * behind Scc's unrolled-oracle depth constants. */
object SccProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Spark-JOB counter: _setup_scc is the suite's most job-count-heavy
    // loop, and on a host with slow job round-trips (see Bench.jobRtMs)
    // job COUNT, not task work, is the cost driver — print it so a cut
    // is measurable as "fewer jobs", not just wall time on one host.
    val jobCount = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobCount.incrementAndGet(); ()
        }
      })
    for (d <- dirs) {
      // A/B the trim phase in one warm JVM: trim-on, trim-off, trim-on
      // (first run of a dir carries codegen; compare the LATER pair)
      for (trimOn <- Seq(true, false, true)) {
        sys.props("graft.scc.trim") = trimOn.toString
        val j0 = jobCount.get()
        val t0 = System.nanoTime()
        val n = graft.analytics.Scc.scc(spark,
          graft.graph.CitationGraph.edges(spark, d)).count()
        graft.analytics.CheckpointRegistry.releaseAll(spark)
        val (outer, fwd, bwd) = graft.analytics.Scc.depths(spark)
        val trims = graft.analytics.Superstep.runs(spark, "scc.trim")
        println(f"SCCPROBE $d trimOn=$trimOn rows=$n " +
          f"outer=$outer fwd=$fwd bwd=$bwd " +
          f"trim=${trims.map(_.rounds).sum} " +
          f"trimmed=${trims.flatMap(_.stats).sum} " +
          f"jobs=${jobCount.get() - j0} " +
          f"${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
      val t1 = System.nanoTime()
      val nc = graft.analytics.Condensation.condensation(spark,
        graft.graph.CitationGraph.edges(spark, d)).count()
      graft.analytics.CheckpointRegistry.releaseAll(spark)
      println(f"CONDPROBE $d comps=$nc depthRounds=" +
        f"${graft.analytics.Superstep.stats(spark, "condensation").fold(-1)(_.rounds)} " +
        f"${(System.nanoTime() - t1) / 1e9}%.2fs")
      val t2 = System.nanoTime()
      val nm = graft.analytics.Mst.mst(spark,
        graft.graph.CitationGraph.edges(spark, d)).count()
      graft.analytics.CheckpointRegistry.releaseAll(spark)
      val (mstRounds, jumpsOk) = graft.analytics.Mst.convergence(spark)
      println(f"MSTPROBE $d edges=$nm rounds=$mstRounds jumpsOk=$jumpsOk " +
        f"${(System.nanoTime() - t2) / 1e9}%.2fs")
    }
    spark.stop()
  }
}

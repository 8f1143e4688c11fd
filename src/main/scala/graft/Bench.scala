package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** A session cache timed as its own named bench entry, inserted
    * before its first consumer in name-sorted order (VERDICT r7 #1 /
    * ADVICE r7 #2): consumer queries then report MARGINAL cost, the
    * build cost lands in an explicitly-named `_setup_*` slot, and the
    * JSON's `cold_carrier` map records which setup each consumer leans
    * on. Between reps the cache is CLEARED so every rep times a real
    * build (min-of-N means "a build", never "a warm no-op"); after the
    * last consumer's slot the cache is dropped so its blocks don't pin
    * for the rest of the run. */
  private[graft] final case class SetupDef(
      name: String,
      cacheKey: String,
      build: (SparkSession, String) => Unit,
      isConsumer: String => Boolean,
      // cold_carrier REPORTING set when narrower than the placement
      // span: the dedup family cache LIVES across the whole d_* block
      // (placement + release use isConsumer) but only the queries that
      // actually read the shared postings/sketches/survivors should be
      // labeled as leaning on the setup — an embedding query tagged
      // with the family build would be a false attribution.
      reportConsumers: Option[Set[String]] = None)

  /** The d_* queries that actually read the shared family cache
    * (postings / fused sketches / ngram pair cache / survivors) —
    * audited against the cachedDf call sites in PipelineQueries. */
  private val DedupFamilyReaders = Set(
    "d_dedup_ngram_jaccard", "d_dedup_containment", "d_minhash_signature",
    "d_dedup_minhash_lsh", "d_dedup_incremental", "d_simhash",
    "d_dedup_simhash", "d_dedup_survivors", "d_split_leakage_guard",
    "d_pipeline_e2e", "d_curate_e2e", "d_curate_write",
    "d_curate_incremental")

  private[graft] val setups: Seq[SetupDef] = Seq(
    SetupDef("_setup_dedup_family", "dedup_family",
      (s, d) => graft.pipeline.PipelineQueries.warmSharedFamily(s, d),
      _.startsWith("d_"), Some(DedupFamilyReaders)),
    SetupDef("_setup_bfs_levels", "bfs_levels",
      (s, d) => { graft.analytics.Stress.levelsFor(s, d); () },
      Set("g_eccentricity", "g_harmonic", "g_stress")),
    SetupDef("_setup_scc", "scc",
      (s, d) => { graft.analytics.Scc.assignmentFor(s, d); () },
      Set("g_condensation", "g_scc")),
    SetupDef("_setup_labelprop", "labelprop",
      (s, d) => { graft.analytics.LabelPropagation.assignmentFor(s, d); () },
      Set("g_labelprop", "g_modularity")),
    SetupDef("_setup_hopplot", "hopplot",
      (s, d) => { graft.analytics.HopPlot.hopPlotRowsCached(
        s, graft.graph.CitationGraph.hopEdges(s, d), d); () },
      Set("g_eff_diameter", "g_eff_diameter_approx_tol", "g_hopplot",
        "g_hopplot_approx_tol")),
    SetupDef("_setup_hyperanf", "hyperanf",
      (s, d) => { graft.analytics.HyperANF.approxHopPlotRowsCached(
        s, graft.graph.CitationGraph.hopEdges(s, d), d); () },
      Set("g_eff_diameter_approx", "g_eff_diameter_approx_tol",
        "g_hopplot_approx", "g_hopplot_approx_tol")),
    SetupDef("_setup_embed_exact", "embed_exact",
      (s, d) => graft.pipeline.ExactBaselines.warm(s, d),
      Set("d_dedup_embedding_cosine", "sim_ann_topk", "sim_ann_recall_tol")),
    SetupDef("_setup_pq", "pq",
      (s, d) => { graft.pipeline.PqIndex.trained(s, d); () },
      Set("sim_pq_codes", "sim_ann_pq", "sim_ann_pq_rerank",
        "sim_pq_recall_tol", "sim_ann_ivf_pq")),
    SetupDef("_setup_kmeans", "kmeans",
      (s, d) => { graft.pipeline.SemanticCluster.trainedFor(s, d); () },
      Set("d_cluster_kmeans", "d_dedup_semantic", "sim_ann_ivf_pq")),
    // the stored .warc.zst archive (VERDICT r12 #5): built/persisted
    // once here so t_warc_zst_seek's wall is READ-time random access
    SetupDef("_setup_warc_zst", "warc_zst",
      (s, d) => { graft.pipeline.Warc.seekableShards(s, d); () },
      Set("t_warc_zst_seek")),
    // the shipped dictionary artifact (VERDICT r12 #7): trained once
    // here; t_warc_zst_dict_artifact pays only encode/decode
    SetupDef("_setup_zst_dict", "zst_dict",
      (s, d) => { graft.pipeline.ZstdDict.trainedDict(s, d); () },
      Set("t_warc_zst_dict_artifact")))

  // ---- host fingerprint (VERDICT r8 #2) --------------------------------
  // The r8 artifact showed loop-heavy entries running ~2x slower on the
  // driver host than on the builder host (g_kcore 4.2 vs 1.7s,
  // _setup_dedup_family 10.2 vs 5.3s) with no way to adjudicate from the
  // artifact alone. Emit enough host state WITH the run that a factor
  // like that becomes measurable per-artifact: pre-run load average
  // (other tenants), /proc/stat deltas over the run (busy/iowait/steal),
  // available memory, and — the most direct signal — a fixed
  // single-thread integer spin microbenchmark whose wall time is a pure
  // per-core-throughput probe (same code, same iteration count on every
  // host; a 2x-slower or oversubscribed core shows up as a 2x spin_ms).

  private def firstLine(path: String): Option[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().find(_ => true) finally src.close()
    } catch { case _: Throwable => None }

  private def load1(): Double =
    firstLine("/proc/loadavg").map(_.split(" ")(0).toDouble).getOrElse(-1.0)

  /** (user+nice+system+irq+softirq, idle, iowait, steal) jiffies. */
  private def cpuJiffies(): Option[(Long, Long, Long, Long)] =
    firstLine("/proc/stat").flatMap { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      if (f.length < 8) None
      else Some((f(0) + f(1) + f(2) + f(5) + f(6), f(3), f(4), f(7)))
    }

  private def memInfoGb(key: String): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().find(_.startsWith(key + ":"))
        .map(_.split("\\s+")(1).toDouble / (1024 * 1024)).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Fixed-work single-thread xorshift spin; wall ms IS the per-core
    * throughput probe (lower = faster core). The result is folded into
    * the return value so the loop can't be optimized away. */
  private def spinMs(): Double = {
    var x = 0x9e3779b97f4a7c15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 42L) println("") // keep x live
    ms
  }

  /** Cumulative cgroup CPU-throttle time in ms (cgroup v2
    * `/sys/fs/cgroup/cpu.stat` throttled_usec, falling back to the v1
    * path), -1 when unreadable. VERDICT r11 #2: q1_agg's 25 s reps ran
    * at ~3 % host busy with zero GC — neither load1 nor busy% can see
    * a container CPU quota being enforced; the throttle counter names
    * it directly. Read per rep, emitted as a delta. */
  private def throttledMs(): Long = {
    // v2 reports `throttled_usec` (µs); v1 reports `throttled_time`
    // (ns). This host mounts a v1 hybrid where only
    // /sys/fs/cgroup/cpu/cpu.stat carries the counter — probe all
    // three candidate paths, normalize to ms.
    def read(path: String): Option[Long] =
      try {
        val src = scala.io.Source.fromFile(path)
        try src.getLines().collectFirst {
          case l if l.startsWith("throttled_usec") =>
            l.split("\\s+")(1).toLong / 1000L
          case l if l.startsWith("throttled_time") =>
            l.split("\\s+")(1).toLong / 1000000L
        } finally src.close()
      } catch { case _: Throwable => None }
    read("/sys/fs/cgroup/cpu.stat")
      .orElse(read("/sys/fs/cgroup/unified/cpu.stat"))
      .orElse(read("/sys/fs/cgroup/cpu/cpu.stat"))
      .getOrElse(-1L)
  }

  /** Cumulative JVM GC wall ms across all collectors — the per-rep
    * DELTA separates "the JVM was collecting" from "the host was busy"
    * (VERDICT r10 #2: the r10 outlier reps had innocent load1/busy%,
    * leaving the condition unnamed; GC and JIT are the two suspects
    * /proc can't see, and both are free to read from the beans). */
  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .stream.mapToLong(_.getCollectionTime).sum

  /** Cumulative JIT compilation ms (all compiler threads). */
  private def jitMs(): Long = {
    val b = java.lang.management.ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported)
      b.getTotalCompilationTime
    else -1L
  }

  /** Spark-job ROUND-TRIP probe (VERDICT r9 #2): wall ms of 50
    * consecutive `spark.range(1).count()` jobs — near-zero work, so the
    * number is pure scheduler + job-submission latency. spin_ms
    * measures cores; superstep loops (_setup_scc, g_components) are
    * job-COUNT-bound, and a host where each trivial job round-trip
    * costs 3x more runs a 40-round flood loop 3x slower with an
    * innocent spin_ms. Called after warmup (the first range() job pays
    * codegen — excluded by a 5-job pre-spin). */
  private def jobRtMs(spark: SparkSession): Double = {
    var i = 0
    while (i < 5) { spark.range(1).count(); i += 1 } // codegen warm
    val t0 = System.nanoTime()
    i = 0
    while (i < 50) { spark.range(1).count(); i += 1 }
    (System.nanoTime() - t0) / 1e6
  }

  /** The prior committed same-sf bench artifacts' per-entry mins —
    * the newest three of BENCH_r<N>.json / BENCH_QUIET_r<N>.json by
    * round number (best-of-3, not just r(N-1), so one polluted prior
    * round cannot mask drift). Best-effort: unreadable/foreign files
    * are skipped, never fatal. */
  private[graft] final case class PriorBench(tag: String,
      queries: Map[String, Double])

  private[graft] def priorBenchMins(repoDir: String,
      sfDir: String): Seq[PriorBench] =
    try {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val rx = "^BENCH_(?:QUIET_)?r(\\d+)\\.json$".r
      // Parse and VALIDITY-FILTER every candidate FIRST, then take the
      // newest 3 DISTINCT round numbers (ADVICE r12 #1: BENCH_rN and
      // BENCH_QUIET_rN share a round number, and a foreign-format file
      // matching the name pattern — e.g. a driver artifact with numeric
      // sf and no queries — used to consume a best-of-3 slot while
      // older valid artifacts sat unread). Per round, prefer the RICHER
      // artifact (more query entries — the quiet full dump over the
      // driver's headline line).
      val candidates = Option(new java.io.File(repoDir).listFiles())
        .map(_.toSeq).getOrElse(Nil)
        .flatMap { f =>
          f.getName match {
            case rx(n) => Some((n.toInt, f))
            case _ => None
          }
        }
        .flatMap { case (round, f) =>
          try {
            val root = om.readTree(f)
            if (root.path("sf").asText("") != sfDir ||
              !root.path("queries").isObject ||
              root.path("queries").isEmpty) None
            else {
              // Taint exclusion (VERDICT r12 #3): an entry whose min
              // was posted under hypervisor steal or cgroup throttling
              // is NOT a usable prior — dropping it here makes the
              // best-of-3 fall back to the previous untainted round's
              // value for that entry (the drift block's prior_round tag
              // then names the round actually compared against).
              val tainted = scala.collection.mutable.Set.empty[String]
              val tn = root.path("tainted")
              if (tn.isArray) {
                val it = tn.iterator()
                while (it.hasNext) tainted += it.next().asText("")
              }
              val qm = scala.collection.mutable.Map.empty[String, Double]
              val it = root.path("queries").properties().iterator()
              while (it.hasNext) {
                val e = it.next(); qm(e.getKey) = e.getValue.asDouble(-1.0)
              }
              // Pre-r13 artifacts carry no `tainted` block — derive it
              // from host_runs (rows [tOff, sec, load1, busy, gc, jit,
              // thr_ms, steal_pct]; 8-column form = r12+): the rep that
              // POSTED the min is tainted at steal >= 5% or throttled
              // > 10% of its own wall. This is what retroactively
              // excludes BENCH_QUIET_r12's stolen g_stress 9.34 s.
              val hr = root.path("host_runs")
              if (hr.isObject) {
                val hit = hr.properties().iterator()
                while (hit.hasNext) {
                  val e = hit.next()
                  if (e.getValue.isArray && !tainted(e.getKey)) {
                    var minSec = Double.MaxValue
                    var minThr = -1.0; var minSteal = -1.0
                    val rit = e.getValue.iterator()
                    while (rit.hasNext) {
                      val row = rit.next()
                      if (row.isArray && row.size >= 8) {
                        val sec = row.get(1).asDouble(-1.0)
                        if (sec >= 0 && sec < minSec) {
                          minSec = sec
                          minThr = row.get(6).asDouble(-1.0)
                          minSteal = row.get(7).asDouble(-1.0)
                        }
                      }
                    }
                    if (minSec < Double.MaxValue &&
                      (minSteal >= 5.0 || minThr > 0.1 * minSec * 1000))
                      tainted += e.getKey
                  }
                }
              }
              tainted.foreach(qm.remove)
              Some((round, qm.size,
                PriorBench(f.getName.stripSuffix(".json"), qm.toMap)))
            }
          } catch { case _: Throwable => None }
        }
      candidates.groupBy(_._1).toSeq
        .map { case (round, as) => (round, as.maxBy(_._2)._3) }
        .sortBy(-_._1).take(3).map(_._2)
    } catch { case _: Throwable => Nil }

  /** Entries whose current min regressed >2x (and >0.5 s absolute)
    * against the best prior-round min: (name, cur, prior, priorTag).
    * Failed entries are excluded — a crash is adjudicated by `ok`,
    * not mislabeled as drift. */
  private[graft] def driftAgainst(priors: Seq[PriorBench],
      mins: Seq[(String, Double, Boolean)]): Seq[(String, Double, Double, String)] =
    mins.flatMap { case (k, cur, ok) =>
      if (!ok) None
      else {
        val prior = priors
          .flatMap(pb => pb.queries.get(k).filter(_ > 0).map(v => (v, pb.tag)))
        if (prior.isEmpty) None
        else {
          val (best, tag) = prior.minBy(_._1)
          if (cur > 2 * best && cur - best > 0.5) Some((k, cur, best, tag))
          else None
        }
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val hostLoad1Start = load1()
    val hostJiffies0 = cpuJiffies()
    val hostThr0 = throttledMs()
    val hostMemAvailGb = memInfoGb("MemAvailable")
    val hostCachedGb = memInfoGb("Cached")
    val hostSpin0 = spinMs()
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the warm-up releases its caches: _setup_dedup_family still times a build
    Sessions.warm(spark, sfDir)
    // scheduler round-trip probe, post-warmup (VERDICT r9 #2) — see
    // jobRtMs; measured again after the run so "the scheduler got slow
    // underneath us" is visible as a rising pair, like spin_ms
    val hostJobRt0 = jobRtMs(spark)
    // deterministic name order: stable per-query numbers across rounds
    val base = SparkEntry.queries.toSeq.sortBy(_._1)
    val baseNames = base.map(_._1)
    // Insert each _setup_* entry right before its FIRST consumer; record
    // which cache(s) to drop after each LAST consumer's slot.
    val insertBefore: Map[String, Seq[SetupDef]] = setups
      .flatMap(su => baseNames.find(su.isConsumer).map(n => n -> su))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val clearAfter: Map[String, Seq[String]] = setups
      .flatMap(su => baseNames.findLast(su.isConsumer).map(n => n -> su.cacheKey))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val setupFn: SetupDef => (SparkSession, String) => org.apache.spark.sql.DataFrame =
      su => (s, dir) => { su.build(s, dir); s.range(1).toDF("ok") }
    val names: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      base.flatMap { case (n, fn) =>
        insertBefore.getOrElse(n, Nil).map(su => su.name -> setupFn(su)) :+ (n -> fn)
      }
    val setupByName = setups.map(su => su.name -> su).toMap
    // The stdout headline subset (the driver's ~2 KB tail window cuts
    // long lines — full detail always goes to BENCH_LOCAL.json).
    // Refreshed round 6 (VERDICT r5 #4): heavy movers in, 3-round-stable
    // sub-second entries out.
    val HeadlineSet = Set(
      "q1_agg", "w1_running_total", "g_hopplot", "g_components",
      "g_pagerank", "g_sssp", "g_kcore", "g_labelprop",
      "_setup_dedup_family", "d_curate_e2e", "d_dedup_embedding_ivf",
      "d_dedup_minhash_lsh", "d_dedup_ngram_jaccard", "d_dedup_simhash",
      "d_pipeline_e2e", "sim_ann_topk", "st_tumbling_window",
      "x_asof_join_native", "x_merge_upsert",
      // round 9: the crawl-front capstone joins the headline set — the
      // new composition whose round-over-round trend matters most
      "d_crawl_e2e",
      // round 10 (VERDICT r9 #7): the incremental path is what a
      // production crawl actually RE-RUNS — its round-over-round trend
      // belongs in the stdout line, with spreads, same as the capstone
      "d_crawl_incremental", "st_crawl_ingest",
      // round 10 continuation: the three new ingest capstones — WARC
      // extraction, WebDataset routing, and the 7-modality mixed dedup
      "t_warc_extract", "m_webdataset_route", "m_dedup_mixed",
      // round 12: the .warc.zst ingest capstone — the round's kernel,
      // its round-over-round trend belongs in the stdout line
      "t_warc_zst_parse")
    // Headline queries run 3x at their slot (VERDICT r6 #2: single-shot
    // numbers made a 3x swing on unchanged code indistinguishable from a
    // regression) — repeating IN PLACE keeps session caches warm across
    // reps (marginal attribution intact) and leaves release ordering
    // untouched.
    val repeatSet = HeadlineSet - "_setup_dedup_family" ++
      Seq("g_triangles", "x_merge_nullsafe")
    // VERDICT r7 #1: every entry whose r7 single-shot cost exceeded ~2s
    // gets min-of-2, so expensive-tail numbers separate plan cost from
    // cold-position cost. (Setup entries rep separately, with a cache
    // clear between reps so each rep is a real build.)
    val tailSet = Set(
      "a5_collect_list_sorted", "a_cube", "d_cluster_kmeans",
      "d_corpus_report", "d_coreset_kcenter", "d_curate_incremental",
      "d_curate_write", "d_dedup_embedding_cosine",
      "d_dedup_embedding_lsh", "d_dedup_ppjoin",
      "d_dedup_ppjoin_incremental", "d_dedup_semantic",
      "g_condensation", "g_eccentricity", "g_eff_diameter",
      "g_eff_diameter_approx", "g_hits", "g_kcore_fixpoint",
      "g_link_pred", "g_mis", "g_mst", "g_ppr", "g_squares", "g_stress",
      "g_temporal_reach", "g_truss_decomp", "g_walks", "j1_join_inner",
      "j2_join_double", "j4_join_anti", "m_bmp_decode_batch",
      "m_bmp_pixels_batch", "m_gzip_decode_batch",
      "m_container_decode_batch", "m_decode_batch", "m_png_decode_batch",
      "m_png_pixels_batch", "m_wav_decode_batch", "m_wav_loudness_batch",
      "sim_ann_ivf", "sim_ann_recall_tol",
      // promoted by the honest toRdd statistic (round 8: the pruned
      // count() had hidden their full-result cost)
      "x_try_arith", "x_approx_distinct_tol", "x_approx_percentile_tol",
      "x_table_stats", "t_cdc_chunk", "x_resample_locf", "x_hll_group_tol",
      "m_dedup_image_ahash", "m_dedup_audio_fp",
      "sim_pq_codes", "sim_ann_pq_rerank", "sim_pq_recall_tol",
      "sim_ann_ivf_pq", "d_cluster_kmeans", "d_dedup_semantic")
    // Per-ENTRY host telemetry (VERDICT r9 #1): the r9 artifact showed
    // g_components at 10-13s across ALL THREE reps while the judge
    // re-measured 1.45s warm on same-class hardware — the per-RUN host
    // block proved a sustained condition existed but could not say
    // WHICH entries overlapped it. Each rep now records its offset from
    // bench start, the load average as it began, and the /proc/stat
    // busy% over exactly its own window, so a noisy-neighbor interval
    // is attributable entry by entry from the artifact alone.
    // Round 12 (VERDICT r11 #2): two more per-rep columns — the cgroup
    // throttle delta and the steal-jiffies share over the rep's own
    // window — so a slow rep on an idle-looking host is nameable as
    // "container throttled" / "hypervisor steal" from the artifact.
    final case class RepSample(sec: Double, ok: Boolean, tOff: Double,
        load1: Double, busyPct: Double, gcMsDelta: Long, jitMsDelta: Long,
        throttledMsDelta: Long, stealPct: Double)
    val benchT0 = System.nanoTime()
    val benchEpochMs = System.currentTimeMillis()
    val resultsRun = names.map { case (name, fn) =>
      val setup = setupByName.get(name)
      def runOnce(r: Int): RepSample = {
        // between setup reps, drop the cache this entry builds so the
        // rep times a real build; the LAST rep leaves it warm for the
        // consumers that follow
        setup.foreach(su => if (r > 1) SessionCaches.clear(spark, su.cacheKey))
        val repLoad1 = load1()
        val repJ0 = cpuJiffies()
        val repGc0 = gcMs()
        val repJit0 = jitMs()
        val repThr0 = throttledMs()
        val t0 = System.nanoTime()
        // ok=false must be visible in the output — a silently swallowed
        // failure would otherwise read as a fast query (VERDICT r2 #4).
        // Materialize via toRdd.count(), NOT Dataset.count(): count()
        // plans an empty-column aggregate, so Catalyst PRUNES every
        // per-row expression the result doesn't gate on — the m_* codec
        // family's entire decode was being optimized out (measured:
        // m_png_pixels 0.12s "cost" vs 0.60s for its unprunable
        // mapPartitions twin). toRdd executes the full physical plan —
        // every output row of the registered query is actually produced,
        // which is what a consumer of the result would pay.
        val ok = try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
        catch { case _: Throwable => false }
        val sec = (System.nanoTime() - t0) / 1e9
        val (repBusy, repSteal) = (repJ0, cpuJiffies()) match {
          case (Some((b0, i0, w0, s0)), Some((b1, i1, w1, s1))) =>
            val tot = (b1 - b0) + (i1 - i0) + (w1 - w0) + (s1 - s0)
            if (tot <= 0) (-1.0, -1.0)
            else (100.0 * (b1 - b0) / tot, 100.0 * (s1 - s0) / tot)
          case _ => (-1.0, -1.0)
        }
        val repThrDelta = {
          val t1 = throttledMs()
          if (t1 < 0 || repThr0 < 0) -1L else t1 - repThr0
        }
        // each rep is materialized, so the superstep queries' final
        // checkpoints can drop — without this they pin blocks for the
        // session and slow every later query (VERDICT r5 #2)
        graft.analytics.CheckpointRegistry.releaseAll(spark)
        RepSample(sec, ok, (t0 - benchT0) / 1e9, repLoad1, repBusy,
          gcMs() - repGc0,
          { val j1 = jitMs(); if (j1 < 0 || repJit0 < 0) -1L else j1 - repJit0 },
          repThrDelta, repSteal)
      }
      val plannedReps =
        if (setup.isDefined) 2
        else if (repeatSet(name)) 3
        else if (tailSet(name)) 2
        else 1
      val first = runOnce(1)
      // VERDICT r8 #1: the rep set is decided AT RUN TIME, not from a
      // frozen list of last round's costs — any entry whose first run
      // exceeds 2s gets a second rep immediately, so no expensive entry
      // can ever ship single-shot again (the static tailSet above stays
      // only as a floor). This is the policy that would have adjudicated
      // w_running_total_keyed's 24.4s and d_decontaminate's 13.8s
      // single-shot mysteries in the r8 artifact.
      val reps = if (plannedReps == 1 && first.sec > 2.0) 2 else plannedReps
      var runs: Seq[RepSample] = first +: (2 to reps).map(runOnce)
      // Outlier auto-adjudication, sampling half (VERDICT r10 #2): a
      // >2x spread between reps earns ONE extra rep on the spot, so the
      // artifact carries three samples (two agreeing values isolate the
      // outlier) instead of an unresolvable pair. Floor of 0.5s keeps
      // micro-entries from burning reps on scheduler jitter.
      if (runs.size > 1) {
        val ss = runs.map(_.sec)
        if (ss.max > 2 * ss.min && ss.max - ss.min > 0.5 && runs.size < 4)
          runs = runs :+ runOnce(runs.size + 1)
      }
      // drop each session cache the moment its LAST consumer's slot
      // completes (all reps) — persisted-and-never-released
      // intermediates pressured executor memory for every query that
      // ran after their family (VERDICT r2 #2: a nine-query mid-tier
      // regression cluster)
      clearAfter.getOrElse(name, Nil)
        .foreach(k => SessionCaches.clear(spark, k))
      (name, runs, runs.forall(_.ok))
    }
    // Streaming state-store telemetry (VERDICT r10 #5): the stateful
    // twins run over a 4-micro-batch time-ordered arrival of the sf
    // events; per-batch state rows/bytes land in the contract block so
    // the watermark-bounded claim is a measured series. Timed as its
    // own entry; a probe failure reads as ok=false, never a crash.
    val probeLoad1 = load1()
    val probeGc0 = gcMs(); val probeJit0 = jitMs()
    val probeT0 = System.nanoTime()
    val (streamingStateJson, probeOk) =
      try (graft.streaming.StateTelemetry.probeJson(spark, sfDir), true)
      catch { case _: Throwable => ("{}", false) }
    val probeSample = RepSample((System.nanoTime() - probeT0) / 1e9, probeOk,
      (probeT0 - benchT0) / 1e9, probeLoad1, -1.0,
      gcMs() - probeGc0,
      { val j1 = jitMs(); if (j1 < 0 || probeJit0 < 0) -1L else j1 - probeJit0 },
      -1L, -1.0)
    // ADVICE r11 #3: the probe is NOT a query — keep it OUT of
    // mins/total/n_queries/n_ok so the headline total stays
    // apples-to-apples with every pre-r11 artifact (r11's total
    // included the probe's multi-second wall; r12 onward it rides in
    // `probe`/host_runs/contract only).
    val probeName = "_probe_streaming_state"
    // Stored-archive seek contract probe (VERDICT r12 #5): bracket the
    // seek plan and a full-decode scan of the SAME stored shards with
    // the codec's decode counters, so "frames 0-1 never decoded" is a
    // measured pair of numbers in the contract block — seek must come
    // out at exactly 1 frame per shard vs the scan's record count (3),
    // with the byte split alongside (the response record carries most
    // of the bytes, so the FRAME ratio is the structural claim, the
    // BYTE ratio the honest economics). Untimed; failures read -1.
    val (zstSeekFrames, zstSeekBytes, zstScanFrames, zstScanBytes) =
      try {
        import org.apache.spark.sql.functions.{col, length => flen}
        val shards = graft.pipeline.Warc.seekableShards(spark, sfDir)
        graft.functions.ZstdCodec.resetDecodeCounters()
        graft.pipeline.Warc.seekPlan(spark, sfDir)
          .queryExecution.toRdd.count()
        val sf = graft.functions.ZstdCodec.framesDecoded.sum()
        val sb = graft.functions.ZstdCodec.bytesDecoded.sum()
        graft.functions.ZstdCodec.resetDecodeCounters()
        shards.select(flen(
          graft.functions.GraftFunctions.unzstd_bytes(col("warczsts"))))
          .queryExecution.toRdd.count()
        val cf = graft.functions.ZstdCodec.framesDecoded.sum()
        val cb = graft.functions.ZstdCodec.bytesDecoded.sum()
        (sf, sb, cf, cb)
      } catch { case _: Throwable => (-1L, -1L, -1L, -1L) }
    val results = resultsRun
    val hostRunsResults = resultsRun :+ ((probeName, Seq(probeSample), probeOk))
    // Locale.ROOT: a comma-decimal locale would break the JSON
    def sec3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // per-query headline number = MIN of its reps (VERDICT r6 #2: min is
    // the stable round-over-round statistic; the full runs arrays are in
    // the file for anyone who wants cold-vs-warm)
    val mins = results.map { case (k, ts, ok) => (k, ts.map(_.sec).min, ok) }
    def qmap(rs: Seq[(String, Double, Boolean)]): String =
      rs.map { case (k, v, _) => "\"" + k + "\":" + sec3(v) }
        .mkString("{", ",", "}")
    val oks = results.map { case (k, _, ok) => s"\"" + k + "\":" + ok }
      .mkString("{", ",", "}")
    val runsJson = results.filter(_._2.size > 1)
      .map { case (k, ts, _) =>
        "\"" + k + "\":" + ts.map(r => sec3(r.sec)).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // consumer -> the _setup_ entry carrying its cache's cold build
    // (VERDICT r7 #1: cold-carrier attribution IN the artifact, not in
    // COVERAGE prose)
    val coldCarrier = setups
      .flatMap { su =>
        val readers = su.reportConsumers.getOrElse(baseNames.filter(su.isConsumer).toSet)
        baseNames.filter(readers).map(n => n -> su.name)
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.mkString("+"))
      .toSeq.sortBy(_._1)
      .map { case (q, su) => "\"" + q + "\":\"" + su + "\"" }
      .mkString("{", ",", "}")
    // contract quantities next to contract-driven costs (VERDICT r7
    // #6): g_kcore is O(peel rounds x E), d_dedup_ppjoin is
    // O(candidate pairs) — emitting them makes "linear in contract"
    // checkable per round. Loop quantities come from the session's
    // Superstep records; -1 marks a loop that did not run.
    import graft.analytics.Superstep
    def loopStat(name: String)(f: Superstep.LoopStats => Long): Long =
      Superstep.stats(spark, name).fold(-1L)(f)
    val (sccOuter, sccFwd, sccBwd) = graft.analytics.Scc.depths(spark)
    val sccTrims = Superstep.runs(spark, "scc.trim")
    val contract =
      s"""{"g_kcore_rounds":${loopStat("kcore")(_.rounds)},""" +
        s""""g_kcore_input_edges":${loopStat("kcore")(_.input)},""" +
        s""""d_dedup_ppjoin_candidates":${graft.pipeline.PpJoin.lastCandidates},""" +
        s""""d_dedup_ppjoin_incremental_candidates":${graft.pipeline.PpJoin.lastIncrCandidates},""" +
        // _setup_scc's cost drivers (VERDICT r9 #3): the flood build is
        // O((fwd+bwd) rounds x edges) plus trim rounds, ~2 scheduler
        // round-trips per round — with job_rt_ms in the host block the
        // wall time is now decomposable from the artifact alone
        s""""_setup_scc_outer_rounds":$sccOuter,""" +
        s""""_setup_scc_fwd_rounds":$sccFwd,""" +
        s""""_setup_scc_bwd_rounds":$sccBwd,""" +
        s""""_setup_scc_trim_rounds":${sccTrims.map(_.rounds).sum},""" +
        s""""_setup_scc_trimmed":${sccTrims.flatMap(_.stats).sum},""" +
        s""""_setup_scc_input_edges":${loopStat("scc")(_.input)},""" +
        // the incremental-CC merge's probe-side quantities: the
        // contracted graph the superstep actually runs on
        s""""g_components_incremental_label_edges":${loopStat("components_incremental")(_.input)},""" +
        s""""g_components_incremental_touched":${loopStat("components_incremental")(_.stats.head)},""" +
        // g_mst's cost driver (VERDICT r9 wrong #5: a testdata
        // regeneration can move the Borůvka round count — make it
        // artifact-visible so a rounds blowup is attributable)
        s""""g_mst_rounds":${loopStat("mst")(_.rounds)},""" +
        // per-micro-batch state rows/bytes for the stateful streaming
        // twins (VERDICT r10 #5) — measured by _probe_streaming_state
        // stored-archive random access (VERDICT r12 #5): decode-side
        // counters from the untimed seek-vs-scan bracket over the SAME
        // persisted shards; the structural contract is frames: seek
        // decodes exactly 1 per shard, the scan all 3
        s""""t_warc_zst_seek_frames_decoded":$zstSeekFrames,""" +
        s""""t_warc_zst_seek_bytes_decoded":$zstSeekBytes,""" +
        s""""t_warc_zst_scan_frames_decoded":$zstScanFrames,""" +
        s""""t_warc_zst_scan_bytes_decoded":$zstScanBytes,""" +
        s""""streaming_state":$streamingStateJson}"""
    val total = mins.map(_._2).sum
    val totalFirst = results.map(_._2.head.sec).sum
    val nOk = results.count(_._3)
    def d2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // Per-entry host samples (VERDICT r9 #1, extended r11 per VERDICT
    // r10 #2, extended r12 per VERDICT r11 #2) — one [t_offset_sec,
    // sec, load1_at_start, busy_pct_over_window, gc_ms_delta,
    // jit_ms_delta, cgroup_throttled_ms_delta, steal_pct_over_window]
    // row per rep, for EVERY entry: which entries overlapped a noisy
    // interval, whether the JVM (collector / compiler) ate the excess,
    // and whether the CONTAINER was being CPU-throttled or the
    // hypervisor stealing — all readable from the artifact alone
    // (file only).
    val hostRunsJson = hostRunsResults
      .map { case (k, ts, _) =>
        "\"" + k + "\":" + ts.map(r =>
          s"[${d2(r.tOff)},${sec3(r.sec)},${d2(r.load1)},${d2(r.busyPct)}," +
            s"${r.gcMsDelta},${r.jitMsDelta},${r.throttledMsDelta}," +
            s"${d2(r.stealPct)}]")
          .mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // Outlier auto-adjudication block (VERDICT r10 #2): every entry
    // whose max rep exceeds 2x its min (above a 0.5s floor) is NAMED in
    // the artifact with the slow rep's host row attached and a cause
    // classified from the per-rep deltas — "jit"/"gc" when the JVM
    // beans account for most of the excess, "host_busy" when the host
    // telemetry does, else an explicit "unknown". The reader no longer
    // diffs arrays by hand.
    def classify(ts: Seq[RepSample]): String = {
      val lo = ts.minBy(_.sec)
      val hi = ts.maxBy(_.sec)
      val excessMs = (hi.sec - lo.sec) * 1000.0
      if (hi.jitMsDelta >= 0 && lo.jitMsDelta >= 0 &&
        hi.jitMsDelta - lo.jitMsDelta > 0.5 * excessMs) "jit"
      else if (hi.gcMsDelta - lo.gcMsDelta > 0.5 * excessMs) "gc"
      // container quota enforcement: the throttled-time delta on the
      // slow rep accounts for the excess (VERDICT r11 #2 — the class
      // the r11 "unknown"s likely were)
      else if (hi.throttledMsDelta > 0 && lo.throttledMsDelta >= 0 &&
        hi.throttledMsDelta - lo.throttledMsDelta > 0.5 * excessMs)
        "throttled"
      // hypervisor steal over the slow rep's own window
      else if (hi.stealPct > 5.0 && hi.stealPct > 2 * math.max(lo.stealPct, 0.5))
        "steal"
      else if (hi.load1 > lo.load1 + 2.0 ||
        (hi.busyPct > 50 && lo.busyPct > 0 && hi.busyPct > 2 * lo.busyPct))
        "host_busy"
      else "unknown"
    }
    val outlierEntries = results
      .filter { case (_, ts, _) =>
        ts.size > 1 && {
          val ss = ts.map(_.sec)
          ss.max > 2 * ss.min && ss.max - ss.min > 0.5
        }
      }
    val outliersJson = outlierEntries
      .map { case (k, ts, _) =>
        val hi = ts.maxBy(_.sec)
        "\"" + k + "\":{" +
          s""""runs":${ts.map(r => sec3(r.sec)).mkString("[", ",", "]")},""" +
          s""""slow_rep":[${d2(hi.tOff)},${sec3(hi.sec)},${d2(hi.load1)},""" +
          s"""${d2(hi.busyPct)},${hi.gcMsDelta},${hi.jitMsDelta},""" +
          s"""${hi.throttledMsDelta},${d2(hi.stealPct)}],""" +
          s""""cause":"${classify(ts)}"}"""
      }
      .mkString("{", ",", "}")
    // compact name->cause map for the size-bounded stdout line
    val outliersShort = outlierEntries
      .map { case (k, ts, _) => "\"" + k + "\":\"" + classify(ts) + "\"" }
      .mkString("{", ",", "}")
    // ---- cross-round drift gate (VERDICT r11 #1) -----------------------
    // The spread-only outlier check provably misses an entry whose reps
    // are ALL uniformly inflated (r11: q1_agg 22-29 s across three reps,
    // judge-measured 1.1-2.1 s standalone — no spread, no flag). The
    // prior rounds' committed BENCH artifacts are in-repo: compare this
    // run's per-entry min against the BEST min the entry posted across
    // the last three committed same-sf artifacts (best-of-3, not just
    // r(N-1), so one polluted prior round can't mask drift), and NAME
    // every entry that regressed >2x (and >0.5 s absolute) in a `drift`
    // block with the prior value and round attached. All best-effort:
    // a parse failure yields an empty block, never a crash.
    val priorBenches = priorBenchMins("/root/repo", sfDir)
    val driftRaw =
      driftAgainst(priorBenches, mins.map { case (k, v, ok) => (k, v, ok) })
    // A drift flag earns ONE immediate confirm rep (the first run of
    // this gate flagged three sub-2s single-rep entries at 2.2-3x whose
    // own host rows showed 0.4-7.4 s of JIT delta — standalone re-runs
    // landed all three at prior parity). The recheck distinguishes
    // "still slow when re-run warm" from position/JIT noise IN the
    // artifact. Setup entries and setup-cache consumers skip it (their
    // caches are released by now — a cold rebuild would read as a
    // false confirmation); recheck time is NOT added to the total.
    val skipRecheck: String => Boolean = k =>
      k.startsWith("_setup_") || setups.exists(_.isConsumer(k))
    val fnByName = names.toMap
    val driftEntries = driftRaw.map { case (k, cur, prior, tag) =>
      val recheck =
        if (skipRecheck(k)) -1.0
        else fnByName.get(k).map { fn =>
          val t0 = System.nanoTime()
          try fn(spark, sfDir).queryExecution.toRdd.count()
          catch { case _: Throwable => () }
          graft.analytics.CheckpointRegistry.releaseAll(spark)
          (System.nanoTime() - t0) / 1e9
        }.getOrElse(-1.0)
      // unknown (-1) stays conservatively confirmed
      val confirmed = recheck < 0 ||
        (recheck > 2 * prior && recheck - prior > 0.5)
      (k, cur, prior, tag, recheck, confirmed)
    }
    val driftJson = driftEntries
      .map { case (k, cur, prior, tag, recheck, confirmed) =>
        "\"" + k + "\":{" +
          s""""cur":${sec3(cur)},"prior":${sec3(prior)},""" +
          s""""ratio":${d2(cur / prior)},"prior_round":"$tag",""" +
          s""""recheck":${sec3(recheck)},"confirmed":$confirmed}"""
      }
      .mkString("{", ",", "}")
    // short name->ratio map for the stdout line: CONFIRMED drift only
    // (unconfirmed flags stay in the file with their recheck numbers)
    val driftShort = driftEntries
      .filter(_._6)
      .map { case (k, cur, prior, _, _, _) => "\"" + k + "\":" + d2(cur / prior) }
      .mkString("{", ",", "}")
    // Taint flags (VERDICT r12 #3): an entry whose MIN rep — the rep
    // that posts the headline number — ran under hypervisor steal
    // (>= 5% of its own window) or cgroup throttling (> 10% of its own
    // wall) is marked `tainted` in the artifact. priorBenchMins skips
    // tainted entries when this file later serves as a drift prior, so
    // a known-stolen number (r12: g_stress at 10-15% steal, 9.34 s vs
    // 4.9 s standalone) never becomes the bar the next round is
    // measured against — and never reads as a spurious 2x improvement.
    val taintedNames = results.collect {
      case (k, ts, ok) if ok && ts.nonEmpty && {
        val m = ts.minBy(_.sec)
        m.stealPct >= 5.0 || m.throttledMsDelta > 0.1 * m.sec * 1000
      } => k
    }
    val taintedJson = taintedNames.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    // Host fingerprint (VERDICT r8 #2): pre-run load + run-spanning
    // /proc/stat deltas + the fixed-work spin probe (before warmup AND
    // after the run — rising spin = the host got busier underneath us).
    // spin_ms is the per-core throughput yardstick: the same loop on the
    // builder host prints its own number in COVERAGE, so a 2x driver/
    // builder wall-time gap on loop-heavy entries is now checkable
    // against a 2x spin gap in the artifact itself.
    val hostJobRt1 = jobRtMs(spark)
    val hostSpin1 = spinMs()
    val hostLoad1End = load1()
    val (busyPct, iowaitPct, stealPct) = (hostJiffies0, cpuJiffies()) match {
      case (Some((b0, i0, w0, s0)), Some((b1, i1, w1, s1))) =>
        val tot = (b1 - b0) + (i1 - i0) + (w1 - w0) + (s1 - s0)
        if (tot <= 0) (-1.0, -1.0, -1.0)
        else (100.0 * (b1 - b0) / tot, 100.0 * (w1 - w0) / tot,
          100.0 * (s1 - s0) / tot)
      case _ => (-1.0, -1.0, -1.0)
    }
    def d1(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    val hostJson =
      s"""{"spin_ms":[${d1(hostSpin0)},${d1(hostSpin1)}],""" +
        s""""job_rt_ms":[${d1(hostJobRt0)},${d1(hostJobRt1)}],""" +
        s""""load1":[${d1(hostLoad1Start)},${d1(hostLoad1End)}],""" +
        s""""busy_pct":${d1(busyPct)},"iowait_pct":${d1(iowaitPct)},""" +
        s""""steal_pct":${d1(stealPct)},""" +
        s""""throttled_ms":${
          val t1 = throttledMs()
          if (t1 < 0 || hostThr0 < 0) -1L else t1 - hostThr0
        },"mem_avail_gb":${d1(hostMemAvailGb)},""" +
        s""""cached_gb":${d1(hostCachedGb)},""" +
        s""""t0_epoch_ms":$benchEpochMs,""" +
        s""""cpus":${Runtime.getRuntime.availableProcessors()}}"""
    // Probe reported OUTSIDE the query statistics (ADVICE r11 #3).
    val probeJson =
      s"""{"streaming_state_sec":${sec3(probeSample.sec)},"ok":$probeOk}"""
    // Full per-query detail (min + every rep + ok flags) goes to the file.
    val fullJson = s"""{"metric":"total","value":${sec3(total)},"unit":"sec","queries":${qmap(mins)},"runs":$runsJson,"host_runs":$hostRunsJson,"outliers":$outliersJson,"drift":$driftJson,"tainted":$taintedJson,"probe":$probeJson,"cold_carrier":$coldCarrier,"contract":$contract,"host":$hostJson,"value_first":${sec3(totalFirst)},"ok":$oks,"n_queries":${results.size},"n_ok":$nOk,"sf":"$sfDir"}"""
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")).toAbsolutePath
    // a failed write warns on stderr: stdout's last line stays the JSON
    def write(path: java.nio.file.Path, text: String): Unit =
      try java.nio.file.Files.writeString(path, text + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] could not write $path: $e") }
    write(outPath, fullJson)
    // The driver captures only the TAIL of sbt stdout (~2 KB window:
    // BENCH_r03's "tail" field cut the head of our 5.9 KB line, hence
    // three rounds of parsed:null). The stdout line must therefore be
    // SHORT: total + a fixed headline subset of per-query timings, with
    // the full 200+-query detail in BENCH_LOCAL.json. Keep this line
    // under ~1.8 KB.
    val head = mins.filter(r => HeadlineSet(r._1))
    // a renamed/removed headline query must not just vanish silently
    // (ADVICE r4 #2) — surface the count of names that found no result
    val headlineMissing = HeadlineSet.size - head.size
    // spread (max - min over the reps, 2dp to keep the line short) for
    // the repeated headline queries: lets the judge separate noise from
    // regression without opening the file
    val spreadJson = results
      .filter(r => HeadlineSet(r._1) && r._2.size > 1)
      .map { case (k, ts, _) =>
        val ss = ts.map(_.sec)
        "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.2f",
          Double.box(ss.max - ss.min))
      }
      .mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":${sec3(total)},"unit":"sec","queries":${qmap(head)},"spread":$spreadJson,"outliers":$outliersShort,"drift":$driftShort,"tainted":$taintedJson,"contract":$contract,"host":$hostJson,"n_queries":${results.size},"n_ok":$nOk,"headline_missing":$headlineMissing,"detail":"BENCH_LOCAL.json","sf":"$sfDir"}"""
    // stop() must not be able to take the JSON down with it — the
    // contract is "JSON is the final stdout line", not "JSON if shutdown
    // was clean"
    try spark.stop() catch { case _: Throwable => () }
    // self-defense (VERDICT r13 what's-wrong #5): the round-12 artifact
    // capture truncated this one stdout line mid-object and silently
    // zeroed the round-over-round comparison (PERF n_common 0). Also
    // WRITE the identical line to a sibling file of BENCH_LOCAL.json so
    // a tail-capture truncation can't erase a round's numbers again.
    // Additions-only: the printed contract is unchanged.
    write(outPath.resolveSibling("BENCH_SUMMARY.json"), json)
    println(json)
    System.out.flush()
  }
}

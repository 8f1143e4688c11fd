package graft

import org.apache.spark.sql.types._

import graft.analytics.{ConnectedComponents, Density, HopPlot}
import graft.operators.AsOfJoin
import graft.pipeline.Sketches

/** Degenerate inputs must not crash or mislead: empty graphs, empty
  * corpora, probe-without-build as-of joins. These are the edges a
  * production pipeline hits first (empty partition, empty filter result).
  */
class DegenerateInputSpec extends SparkSpec {

  private def emptyEdges = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("src", "dst")
  }

  test("hop-plot of an empty graph is empty") {
    assert(HopPlot.hopPlotRows(spark, emptyEdges) === Seq.empty)
  }

  test("effective diameter of an empty graph is defined (0.0)") {
    assert(HopPlot.effectiveDiameter(spark, emptyEdges).head.getDouble(0) === 0.0)
  }

  test("connected components of an empty graph is empty") {
    assert(ConnectedComponents.componentSizes(emptyEdges).count() === 0)
  }

  test("density with edges referencing unknown nodes drops them (inner join)") {
    import spark.implicits._
    val nodes = Seq((1L, 1995L), (2L, 1996L)).toDF("id", "yr")
    val edges = Seq((1L, 2L), (99L, 1L)).toDF("src", "dst") // 99 unknown
    val got = Density.densities(nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1995L, 1L, 1L)))
  }

  test("k-core of an empty graph is empty; k-core with k=1 keeps everything") {
    import spark.implicits._
    assert(graft.analytics.KCore.kcore(spark, emptyEdges).count() === 0)
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    assert(graft.analytics.KCore.kcore(spark, tri, k = 1,
      rounds = Int.MaxValue).count() === 3)
  }

  test("label propagation of an empty graph is empty") {
    assert(graft.analytics.LabelPropagation.labelProp(spark, emptyEdges).count() === 0)
  }

  test("range join with empty points keeps all intervals at count 0") {
    import spark.implicits._
    val intervals = Seq((1L, 0L, 100L), (2L, 50L, 150L)).toDF("iid", "lo", "hi")
    val points = Seq.empty[(Long, Long)].toDF("pid", "p")
    val out = graft.operators.RangeJoin.pointsInIntervals(points, intervals, 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 0L, 2L -> 0L))
  }

  test("top_k_by over an empty relation yields no groups; cms of empty never undercounts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Long)].toDF("g", "o", "v")
    assert(empty.groupBy(col("g"))
      .agg(graft.functions.TopKByAgg.top_k_by(col("o"), col("v"), 3)).count() === 0)
    val sk = Seq.empty[(Long, Long)].toDF("k", "x")
      .agg(graft.functions.GraftFunctions.cms_sketch(col("k")).as("s"))
    val est = sk.select(
      graft.functions.GraftFunctions.cms_estimate(col("s"), lit(42L))).head.getLong(0)
    assert(est === 0L) // empty sketch estimates 0 for any key: exact, not under
  }

  test("sketches of an empty corpus are empty; single-token docs survive") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Sketches.sketchTable(empty).count() === 0)
    val tiny = Seq((1L, "solo")).toDF("doc_id", "text")
    // no 3-gram → no minhash row; simhash alone still works
    assert(Sketches.minhashTable(tiny).count() === 0)
    assert(Sketches.simhashTable(tiny).count() === 1)
  }

  test("empty partitioned store re-reads as empty with an explicit schema") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, String)].toDF("shard", "doc_id", "fp")
    val dir = java.nio.file.Files.createTempDirectory("empty_store").toString
    graft.sources.PartitionedStore.write(empty, dir, Seq("shard"))
    // schema-inferred read of a zero-part-file store throws; the
    // schema-explicit read (curate_write's path) returns empty
    assertThrows[org.apache.spark.sql.AnalysisException] {
      graft.sources.PartitionedStore.read(spark, dir).collect()
    }
    assert(graft.sources.PartitionedStore.read(spark, dir, empty.schema).count() === 0)
  }

  test("as-of join with empty build side returns no rows (inner)") {
    import spark.implicits._
    val probe = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 100L))
      .toDF("user_id", "ts", "event_id")
    val build = Seq.empty[(Long, java.sql.Timestamp, Long)]
      .toDF("user_id", "ts", "sid")
    assert(AsOfJoin.asof(probe, build, "user_id", "ts", Seq("sid")).count() === 0)
  }

  test("clustering coefficient / assortativity of an empty graph are empty / 1 zero-row") {
    import spark.implicits._
    val e = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(graft.analytics.GraphQueries.clusteringCoeffOf(e).count() === 0)
    // assortativity is a global 1-row summary even on nothing: zero
    // moments, assortativity 0 (no NaN), reciprocity 0
    val r = graft.analytics.GraphQueries.assortativityOf(e).head
    assert(r.getAs[Long]("m") === 0L)
    assert(r.getAs[Double]("assortativity") === 0.0)
    assert(r.getAs[Long]("reciprocity_ppm") === 0L)
  }

  test("PII scan/redact of an empty corpus are empty") {
    import spark.implicits._
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.pipeline.Pii.piiScanDf(docs).count() === 0)
    assert(graft.pipeline.Pii.piiRedactDf(docs).count() === 0)
  }

  test("int8 quantization of an empty embedding table is empty") {
    import spark.implicits._
    val emb = Seq.empty[(Long, Seq[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(graft.pipeline.Quantize.quantized(emb).count() === 0)
  }

  test("containment pairs of an empty postings frame are empty") {
    import spark.implicits._
    val posts = Seq.empty[(Long, String)].toDF("doc_id", "g")
    assert(graft.pipeline.PipelineQueries
      .ngramContainmentPairs(posts, 0.8).count() === 0)
  }

  test("WAV header-only file (zero samples) round-trips; empty blob is null") {
    val wav = graft.functions.WavCodec.encode(8000, 1, 0, 0L)
    val h = graft.functions.WavCodec.parseHeaderRaw(wav)
    assert(h != null && h(3) === 0L)
    assert(graft.functions.WavCodec.parseHeaderRaw(Array.emptyByteArray) == null)
  }

  // ---- round-7 continuation operators ------------------------------------

  private def emptyDocs = {
    import spark.implicits._
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  }

  test("SCC / condensation / stress / walks / temporal reach of an empty graph are empty") {
    import spark.implicits._
    assert(graft.analytics.Scc.scc(spark, emptyEdges).count() === 0)
    assert(graft.analytics.Condensation.condensation(spark, emptyEdges).count() === 0)
    assert(graft.analytics.Stress.stress(spark, emptyEdges).count() === 0)
    assert(graft.analytics.RandomWalks.walks(spark, emptyEdges).count() === 0)
    val te = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "t")
    assert(graft.analytics.TemporalReach
      .earliestArrival(spark, te, source = 1L).count() === 0)
  }

  test("self-loop-only graphs behave like empty ones for the new graph ops") {
    import spark.implicits._
    val loops = Seq((1L, 1L), (2L, 2L)).toDF("src", "dst")
    assert(graft.analytics.Scc.scc(spark, loops).count() === 0)
    assert(graft.analytics.Stress.stress(spark, loops).count() === 0)
  }

  test("MAD / percentile rank / CDC chunking / novelty / BPE of an empty corpus are empty") {
    assert(graft.operators.RobustStats
      .madOutliers(emptyDocs.withColumnRenamed("text", "g")
        .withColumn("v", org.apache.spark.sql.functions.lit(1L)),
        "doc_id", "g", "v").count() === 0)
    assert(graft.pipeline.CdcChunk.chunkStats(emptyDocs).count() === 0)
    assert(graft.pipeline.Novelty.noveltyOf(emptyDocs).count() === 0)
    assert(graft.pipeline.BpeTrain.mergeCandidates(emptyDocs).count() === 0)
  }

  test("attribution with no clicks at all still reports every purchase at -1") {
    import spark.implicits._
    val e = Seq((1L, 7L, "purchase", java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.queries.EventsAnalytics.attributionOf(e).collect()
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(1L -> -1L))
  }

  test("CUSUM of a single-day single-type stream is day 0 score 0") {
    import spark.implicits._
    val e = Seq(("x", java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("event_type", "ts")
    val out = graft.operators.Changepoint.cusum(e).collect()
    assert(out.length === 1 && out.head.getLong(1) === 0L &&
      out.head.getLong(2) === 0L)
  }

  test("PNG with zero-length IDAT is still structurally valid; truncated signature is null") {
    // encode always emits >= 8 IDAT bytes; hand-build the minimal case
    val png = graft.functions.PngCodec.encode(1, 1, 0, 0L)
    assert(graft.functions.PngCodec.parseHeaderRaw(png) != null)
    assert(graft.functions.PngCodec.parseHeaderRaw(png.take(7)) == null)
  }

  // ---- eighth/ninth-pass operators --------------------------------------

  test("harmonic and eccentricity of an empty graph are empty") {
    assert(graft.analytics.Harmonic.harmonic(spark, emptyEdges).count() === 0)
    assert(graft.analytics.Eccentricity.eccentricity(spark, emptyEdges)
      .count() === 0)
  }

  test("harmonic with only self-loops is empty (loops are dropped)") {
    import spark.implicits._
    val loops = Seq((1L, 1L), (2L, 2L)).toDF("src", "dst")
    assert(graft.analytics.Harmonic.harmonic(spark, loops).count() === 0)
  }

  test("modularity of an empty graph or an empty assignment is empty") {
    import spark.implicits._
    val asg = Seq((1L, 1L)).toDF("id", "lab")
    assert(graft.analytics.Modularity.modularityOf(spark, emptyEdges, asg)
      .count() === 0)
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val emptyAsg = Seq.empty[(Long, Long)].toDF("id", "lab")
    assert(graft.analytics.Modularity.modularityOf(spark, e, emptyAsg)
      .count() === 0)
  }

  test("ppjoin incremental with a corpus-only frame (no batch docs) is empty") {
    import spark.implicits._
    val d = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    assert(graft.pipeline.PpJoin.incrementalPairs(spark, d).count() === 0)
  }

  test("equi-depth of an empty frame is empty; single row fills all deciles") {
    import spark.implicits._
    val empty = Seq.empty[(String, Long)].toDF("g", "cents")
    assert(graft.operators.RobustStats.equiDepth(empty, "g",
      org.apache.spark.sql.functions.col("cents")).count() === 0)
    val one = Seq(("a", 5L)).toDF("g", "cents")
    val rows = graft.operators.RobustStats.equiDepth(one, "g",
      org.apache.spark.sql.functions.col("cents")).collect()
    assert(rows.length === 10 && rows.forall(_.getLong(2) === 5L))
  }

  test("k-center with duplicate-only input selects every distinct id once") {
    import spark.implicits._
    val dups = Seq((1L, Seq(0.5)), (2L, Seq(0.5)), (3L, Seq(0.5)))
      .toDF("vec_id", "embedding")
    val t = graft.pipeline.Coreset.kcenter(spark, dups, 8)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(t.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(t.drop(1).forall(_._2 === 0L))
  }

  test("wav loudness on an empty-document corpus row survives as silence") {
    import spark.implicits._
    val d = Seq((4L, "")).toDF("doc_id", "text")
    val out = graft.pipeline.Multimodal.wavLoudness(
      graft.pipeline.Multimodal.withWavContainers(d)).collect()
    assert(out.length === 1)
    assert(out.head.getLong(1) === 0L && out.head.getLong(2) === 0L &&
      out.head.getLong(3) === 0L)
  }

  // ---- round-8 continuation operators ------------------------------------

  test("audio fingerprint: empty corpus is empty; empty text fingerprints as silence 0") {
    import spark.implicits._
    import graft.pipeline.Multimodal
    assert(Multimodal.audioFps(
      Multimodal.withWavContentContainers(emptyDocs)).count() === 0)
    assert(Multimodal.audioNearDups(
      Multimodal.withWavContentContainers(emptyDocs)).count() === 0)
    val one = Seq((4L, "")).toDF("doc_id", "text")
    val out = Multimodal.audioFps(Multimodal.withWavContentContainers(one)).collect()
    assert(out.length === 1 && out.head.getLong(1) === 0L)
  }

  test("sniff dispatch and mixed dedup of an empty corpus are empty") {
    import graft.pipeline.Multimodal
    assert(Multimodal.sniffDispatch(
      Multimodal.withMixedContainers(emptyDocs)).count() === 0)
    assert(Multimodal.mixedDedupSurvivors(
      Multimodal.withMixedContentContainers(emptyDocs)).count() === 0)
  }

  test("corpus shuffle / budget select / temperature of an empty corpus are empty") {
    import graft.pipeline.Splits
    assert(Splits.corpusShuffle(emptyDocs.select("doc_id"), "doc_id", 16)
      .count() === 0)
    assert(Splits.budgetSelect(
      emptyDocs.withColumn("source", org.apache.spark.sql.functions.lit("s")),
      "doc_id", "source", "text", 100L).count() === 0)
    import spark.implicits._
    val e = Seq.empty[(Long, String)].toDF("doc_id", "lang")
    assert(Splits.domainTemperature(e, "doc_id", "lang").count() === 0)
  }

  test("budget select: an all-empty-text corpus selects nothing (no zero-token rows)") {
    import spark.implicits._
    // split('') yields one empty token on both engines, so 'empty' text
    // still counts 1 token — the zero-token filter is exercised with
    // whitespace-only text, which trims to the same single empty token
    val d = Seq((1L, "", "s"), (2L, "  ", "s")).toDF("doc_id", "text", "source")
    val out = graft.pipeline.Splits.budgetSelect(d, "doc_id", "source", "text", 100L)
      .collect()
    // both rows carry one (empty) token each: they fit the budget —
    // the contract is deterministic inclusion, not text-quality judgment
    assert(out.length === 2 && out.forall(_.getLong(2) === 1L))
  }

  test("temperature sampling with a single domain keeps the budget prefix") {
    import spark.implicits._
    val d = (1L to 10L).map((_, "only")).toDF("doc_id", "lang")
    val out = graft.pipeline.Splits.domainTemperature(d, "doc_id", "lang")
      .collect()
    // one domain: quota = min(n, budget·w/w) = budget = floor(10·60/100)
    assert(out.length === 6)
    assert(out.forall(_.getLong(3) === 6L))
  }

  test("PQ on a corpus smaller than K trains on what exists and encodes every vector") {
    import spark.implicits._
    // 5 vectors, K=64: seeds are the 5 available; codes stay < 5
    val vecs = (1L to 5L).map { i =>
      (i, (0 until 64).map(j => ((i * 7 + j) % 11).toFloat / 10.0f))
    }.toDF("vec_id", "embedding")
    val q = graft.pipeline.Quantize.quantized(vecs)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("q"))
    val (cents, codes) = graft.pipeline.PqIndex.trainEncode(q)
    val rows = codes.collect()
    assert(rows.length === 5 * graft.pipeline.PqIndex.M)
    assert(rows.forall(_.getLong(2) < 5L), "codes bounded by available seeds")
    assert(cents.count() <= 5L * graft.pipeline.PqIndex.M)
  }

  // ---- round-11 lanes ----------------------------------------------------

  test("lang-id model on an empty corpus: train + score are empty, never crash") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text")
    assert(graft.pipeline.LangIdModel.scoreOf(empty).count() === 0)
  }

  test("preference pairs: empty corpus is empty; an empty-text doc flags derived defects, never crashes") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.pipeline.Pref.validate(
      graft.pipeline.Pref.withPrefPairs(empty)).count() === 0)
    // '' tokenizes to one empty token: chosen = rejected = '' — both
    // the empty and the degenerate flags fire BY DERIVATION
    val one = Seq((2L, "")).toDF("doc_id", "text")
    val r = graft.pipeline.Pref.validate(
      graft.pipeline.Pref.withPrefPairs(one)).collect().head
    assert(r.getBoolean(4) && r.getBoolean(5) && !r.getBoolean(7))
  }

  test("exact span detection: empty corpus empty; sub-8-token docs report zeros") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.pipeline.SpanExcise.dupSpanExactOf(empty).count() === 0)
    val short = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val out = graft.pipeline.SpanExcise.dupSpanExactOf(short).collect()
    assert(out.length === 2)
    assert(out.forall(r => r.getLong(1) == 0L && !r.getBoolean(3)),
      "identical 3-token docs carry no 8-gram to detect")
  }

  test("incremental span probe: cold start (empty standing) keeps intra-batch detection; empty batch is empty") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val run = (0 until 10).map(i => s"sh$i").mkString(" ")
    val batch = Seq((1L, s"d1a d1b $run d1c"), (2L, s"d2a $run d2b d2c"))
      .toDF("doc_id", "text")
    val cold = graft.pipeline.SpanExcise.dupSpanIncrementalOf(empty, batch)
      .collect()
    assert(cold.forall(_.getBoolean(3)), "intra-batch pair must flag on a cold start")
    assert(cold.forall(_.getLong(2) === 10L), "exact 10-token extent")
    assert(graft.pipeline.SpanExcise.dupSpanIncrementalOf(batch, empty)
      .count() === 0)
  }

  test("FLAC lane of an empty corpus is empty; an empty-text doc decodes as a valid 0-sample stream") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.pipeline.Flac.loudness(
      graft.pipeline.Flac.withFlacAudio(empty)).count() === 0)
    val one = Seq((6L, "")).toDF("doc_id", "text")
    val r = graft.pipeline.Flac.loudness(
      graft.pipeline.Flac.withFlacAudio(one)).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((0L, 0L, 0L)))
  }

  test("zst lanes: empty corpus is empty; an empty-text doc still parses its capture triplet") {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.{unzstd_bytes, warc_records}
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.pipeline.Warc.withWarcZst(empty).count() === 0)
    // the page template wraps even an empty text — all 3 records survive
    // the full FSE/Huffman round trip
    val one = Seq((3L, "")).toDF("doc_id", "text")
    val recs = graft.pipeline.Warc.withWarcZst(one)
      .select(explode(warc_records(unzstd_bytes(col("warczst")))).as("r"))
      .collect()
    assert(recs.length === 3)
  }

  test("dict lane: training on an empty corpus yields an empty dict; the lane degrades to dict-less frames") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val dict = graft.pipeline.ZstdDict.train(
      graft.pipeline.Html.withHtml(empty))
    assert(dict.length === 0)
    assert(graft.pipeline.ZstdDict.withWarcZstDict(empty, dict).count() === 0)
    // empty dict → compressWithDict falls back to plain frames; the
    // stream (leading 0-byte dict frame + frames) still self-decodes
    val one = Seq((9L, "hello")).toDF("doc_id", "text")
    val n = graft.pipeline.ZstdDict.withWarcZstDict(one, dict)
      .select(length(graft.functions.GraftFunctions.unzstd_bytes(
        col("warczstd"))).as("n")).head.getInt(0)
    assert(n > 0)
  }

  test("lang-id marker lane: empty corpus is empty; an empty-text doc is classified off its markers alone") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text")
    assert(graft.pipeline.LangIdModel.scoreOf(
      graft.pipeline.LangIdModel.withMarkers(empty)).count() === 0)
    // an empty text gains only the marker suffix — grams exist, the
    // model trains on them, and the doc classifies correctly
    val one = Seq((5L, "de", "")).toDF("doc_id", "lang", "text")
    val r = graft.pipeline.LangIdModel.scoreOf(
      graft.pipeline.LangIdModel.withMarkers(one)).collect().head
    assert(r.getAs[Boolean]("correct"))
  }

  private def citationFile(lines: String*): String = {
    val f = java.nio.file.Files.createTempDirectory("degenerate").resolve("lines.txt")
    java.nio.file.Files.writeString(f, lines.mkString("", "\n", "\n"))
    f.toString
  }

  // a one-token line, a non-numeric field and a leading tab each aborted
  // the regex loaders under ANSI (INVALID_ARRAY_INDEX_IN_ELEMENT_AT,
  // CAST_INVALID_INPUT); the loaders drop them like any malformed line
  test("citations loader drops one-token, non-numeric and leading-tab lines") {
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    val path = citationFile("9", "a\tb", "\t7\t8", "1\t2")
    val got = graft.sources.CitationLoaders.loadCitations(spark, path).collect()
    assert(got.map(r => (r.getInt(0), r.getInt(1))).toSeq === Seq((1, 2)))
  }

  test("published-dates loader drops one-token, non-numeric and leading-tab lines") {
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    val path = citationFile("9", "a\t1995-01-01", "\t7\t1995-01-01", "3\t1996-02-02")
    val got = graft.sources.CitationLoaders.loadPublishedDates(spark, path).collect()
    assert(got.map(r => (r.getInt(0), r.getInt(1))).toSeq === Seq((3, 1996)))
  }
}

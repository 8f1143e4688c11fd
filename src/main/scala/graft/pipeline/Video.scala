package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.functions.AviCodec
import graft.functions.GraftFunctions.{avi_frame_keys, avi_frame_stats, encode_avi, encode_avi_lib, parse_avi_header}
import graft.registry.Q

/** Video lane of the multimodal family: MJPEG-in-AVI demux + per-frame
  * decode ([[graft.functions.AviCodec]]) — the composition a crawl's
  * video path actually runs (container walk → frame sample → per-frame
  * pixel decode → content fingerprint → dedup). Everything is a pure
  * narrow map over the binary column; at 100 TB the only exchange in
  * this file is the dedup's single key shuffle.
  *
  * Corpus construction (all geometry from doc_id arithmetic, so every
  * oracle is direct construction — it never touches bytes):
  *
  *   eff  = doc_id - (doc_id % 10 == 6 ? 1 : 0)   ← planted exact dups:
  *          every %10==6 doc carries a bit-identical re-encode of its
  *          predecessor's video (same geometry, same per-frame seeds)
  *   w    = (eff % 24) + 8,  h = (eff % 19) + 8
  *          (19 prime: the planted-block formulas only see seeds mod
  *          256 and frame seeds step by 1000 ≡ 232, so video CONTENT
  *          has period lcm(32, 24, 19, 6, 4) = 1824 in eff — beyond
  *          the 500-doc correctness corpus, every multi-member dedup
  *          group at sf0.01 is a planted mirror; at larger SFs the
  *          wrap-around re-encode collisions are real content dups and
  *          the oracle derives them from the same arithmetic)
  *   nf   = (eff % 6) + 2    frames, fps ∈ {10,20,25,50} by eff % 4
  *   dri  = 2 when eff % 5 == 2 (restart markers thread through to
  *          every frame — transparent to content, the decoder resyncs)
  *   frame f seed = eff*1000 + f (JpegCodec's planted-block formulas)
  */
object Video {

  /** documents -> (doc_id, video BINARY): one MJPEG AVI per document. */
  def withVideos(docs: DataFrame): DataFrame = {
    val eff = (col("doc_id") -
      when(col("doc_id") % 10 === 6, 1).otherwise(0)).cast(LongType)
    docs.select(
      col("doc_id"),
      encode_avi(
        (eff % 24 + 8).cast("int"),
        (eff % 19 + 8).cast("int"),
        (eff % 6 + 2).cast("int"),
        element_at(array(lit(10), lit(20), lit(25), lit(50)),
          (eff % 4 + 1).cast("int")),
        eff,
        when(eff % 5 === 2, 2).otherwise(0).cast("int")).as("video"))
  }

  /** Expression-path header decode: the full RIFF structural walk
    * (hdrl/strh/strf consistency, movi chunk walk, idx1 cross-check),
    * codegen'd, one narrow pass. */
  def parseHeaders(videos: DataFrame): DataFrame =
    videos.select(col("doc_id"), parse_avi_header(col("video")).as("h"))
      .select(col("doc_id"),
        col("h.width").as("width"), col("h.height").as("height"),
        col("h.n_frames").as("n_frames"), col("h.fps").as("fps"),
        col("h.duration_ms").as("duration_ms"))

  /** Typed mapPartitions header path (like the JPEG twin). */
  def parseHeadersBatch(videos: DataFrame): DataFrame =
    RowDecode.longs(videos, "video", RowDecode.raw,
      Seq("width", "height", "n_frames", "fps", "duration_ms"))(
      AviCodec.parseHeaderRaw)

  /** Demux + decode every `stride`-th frame to exact per-frame pixel
    * stats, exploded to (doc_id, frame_idx) rows. */
  def frameStats(videos: DataFrame, stride: Int): DataFrame =
    videos.select(col("doc_id"),
        explode(avi_frame_stats(col("video"), lit(stride))).as("f"))
      .select(col("doc_id"), col("f.frame_idx").as("frame_idx"),
        col("f.sum_r").as("sum_r"), col("f.sum_g").as("sum_g"),
        col("f.sum_b").as("sum_b"), col("f.peak_r").as("peak_r"),
        col("f.peak_g").as("peak_g"), col("f.peak_b").as("peak_b"))

  /** Content-level video dedup: the fingerprint is the DECODED
    * per-frame color-sum sequence (all frames, stride 1) plus geometry
    * — container-representation-independent, exactly what catches a
    * re-encoded mirror whose bytes differ but whose frames don't. One
    * key shuffle; survivor = min doc_id per content group. */
  /** (doc_id, key): the decoded-content fingerprint stage, shared by
    * the full dedup and the incremental probe so key derivation cannot
    * drift between them (the d_dedup_incremental discipline). */
  def keyedVideos(videos: DataFrame): DataFrame =
    videos.select(
      col("doc_id"),
      parse_avi_header(col("video")).as("h"),
      avi_frame_stats(col("video"), lit(1)).as("fs"))
      .select(col("doc_id"), concat_ws("|",
        col("h.width").cast("string"), col("h.height").cast("string"),
        col("h.fps").cast("string"),
        array_join(transform(col("fs"), x =>
          concat_ws(":", x.getField("sum_r").cast("string"),
            x.getField("sum_g").cast("string"),
            x.getField("sum_b").cast("string"))), ",")).as("key"))

  def dedupVideos(videos: DataFrame): DataFrame = {
    val keyed = keyedVideos(videos)
    keyed.groupBy(col("key"))
      .agg(min(col("doc_id")).as("keeper"),
        count(lit(1)).as("n_copies"),
        array_join(transform(sort_array(collect_list(col("doc_id"))),
          _.cast("string")), ",").as("members"))
      .select(col("keeper"), col("n_copies"), col("members"))
  }

  // ---- clip detection (partial-overlap video dedup) ----------------------

  /** Clip corpus: every video is a SLIDING WINDOW over a shared frame
    * library — doc i carries library frames [i%200, i%200 + nf) at
    * fixed 16x12 geometry (seedStride=1, so frame seeds ARE library
    * indices; all < 256, hence bit-distinct JPEGs). Videos with nearby
    * window starts genuinely share frames — the partial-overlap
    * structure full-video dedup cannot see. */
  def withClipVideos(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode_avi_lib(lit(16), lit(12),
        (col("doc_id") % 4 + 3).cast("int"), lit(25),
        (col("doc_id") % 200).cast(LongType), lit(0), lit(1L)).as("video"))

  /** Clip detection: pairs of videos sharing >= `minShared` BYTE-
    * identical frames (the re-packaging dup class: re-muxed, subset,
    * or re-ordered containers keep frame bytes; a re-ENCODE does not —
    * that's the decoded-content dedup's job). Shape: demux to
    * (doc, frame-key) postings, equi-join on the key (an inverted
    * index — pair work rides per-frame popularity, never all-pairs),
    * count shared keys per pair. Scale contract: pair OUTPUT is
    * quadratic in docs-per-frame by the fixed-library construction
    * (368.7k pairs at sf0.1 → 37.1M at 10x = 100.6x); measured wall
    * 1.67s → 101s = 61x, sublinear in the pair count — the same
    * honest framing as the image/audio perceptual dedup twins. */
  def clipPairs(videos: DataFrame, minShared: Int): DataFrame = {
    val fk = videos
      .select(col("doc_id"), explode(avi_frame_keys(col("video"))).as("f"))
      .select(col("doc_id"), col("f.fkey").as("fkey"))
    fk.as("a").join(fk.as("b"),
        col("a.fkey") === col("b.fkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Window-overlap arithmetic IS the ground truth: doc i's frames are
    * exactly library indices [i%200, i%200+nf), so the shared count is
    * the interval intersection — the oracle never touches bytes, yet a
    * demux bug, a frame-hash slip, or a join miscount all hash-fail. */
  private val ClipOracle =
    """WITH g AS (
      |  SELECT doc_id, doc_id % 200 AS s, doc_id % 4 + 3 AS nf
      |  FROM documents)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  CAST(least(a.s + a.nf, b.s + b.nf) - greatest(a.s, b.s) AS BIGINT) AS shared
      |FROM g a JOIN g b ON a.doc_id < b.doc_id
      |  AND least(a.s + a.nf, b.s + b.nf) - greatest(a.s, b.s) >= 2
      |ORDER BY a_id, b_id""".stripMargin

  val videoClipPairsQ: Q = Q(
    "m_video_clip_pairs",
    Some(ClipOracle),
    (s, d) =>
      clipPairs(withClipVideos(Tables.fanout(Tables.documents(s, d))), minShared = 2)
        .orderBy(col("a_id"), col("b_id")))

  // ---- oracles (direct construction from doc_id arithmetic alone) --------

  private val EffCte =
    """g AS (
      |  SELECT doc_id,
      |    doc_id - CASE WHEN doc_id % 10 = 6 THEN 1 ELSE 0 END AS eff
      |  FROM documents),
      |geo AS (
      |  SELECT doc_id, eff,
      |    CAST((eff % 24) + 8 AS BIGINT) AS w,
      |    CAST((eff % 19) + 8 AS BIGINT) AS h,
      |    CAST((eff % 6) + 2 AS BIGINT) AS nf,
      |    CAST([10,20,25,50][CAST(eff % 4 AS INT) + 1] AS BIGINT) AS fps
      |  FROM g)""".stripMargin

  private val HeaderOracle =
    s"""WITH $EffCte
       |SELECT doc_id, w AS width, h AS height, nf AS n_frames, fps,
       |  nf * (1000 // fps) AS duration_ms
       |FROM geo ORDER BY doc_id""".stripMargin

  /** Per-block planted values with frame seed `fs`; identical biased
    * fixed-point RGB arithmetic to the JPEG oracle (Multimodal). */
  private def blocks(expr: String): String =
    s"""flatten(list_transform(range((h + 7) // 8), by ->
       |      list_transform(range((w + 7) // 8), bx -> $expr)))""".stripMargin
  private def rgb(fs: String): (String, String, String) = {
    val yv = s"(($fs + 7*bx + 13*by) % 256)"
    val cb = s"(($fs + 11*(bx//2) + 3*(by//2)) % 256)"
    val cr = s"(($fs + 5*(bx//2) + 17*(by//2)) % 256)"
    val r = s"greatest(0, least(255, $yv + ((91881*($cr - 128) + 32768 + 16777216) >> 16) - 256))"
    val g = s"greatest(0, least(255, $yv - ((22554*($cb - 128) + 46802*($cr - 128) + 32768 + 33554432) >> 16) + 512))"
    val b = s"greatest(0, least(255, $yv + ((116130*($cb - 128) + 32768 + 16777216) >> 16) - 256))"
    (r, g, b)
  }
  private val Vis = "(least(8, w - 8*bx) * least(8, h - 8*by))"

  private val FramesOracle: String = {
    val (r, g, b) = rgb("fs")
    s"""WITH $EffCte,
       |fr AS (
       |  SELECT doc_id, w, h, CAST(f AS BIGINT) AS frame_idx,
       |    eff * 1000 + f AS fs
       |  FROM geo, UNNEST(range(0, nf, 2)) AS t(f))
       |SELECT doc_id, frame_idx,
       |  CAST(list_sum(${blocks(s"$r * $Vis")}) AS BIGINT) AS sum_r,
       |  CAST(list_sum(${blocks(s"$g * $Vis")}) AS BIGINT) AS sum_g,
       |  CAST(list_sum(${blocks(s"$b * $Vis")}) AS BIGINT) AS sum_b,
       |  CAST(list_max(${blocks(r)}) AS BIGINT) AS peak_r,
       |  CAST(list_max(${blocks(g)}) AS BIGINT) AS peak_g,
       |  CAST(list_max(${blocks(b)}) AS BIGINT) AS peak_b
       |FROM fr ORDER BY doc_id, frame_idx""".stripMargin
  }

  private val DedupOracle: String = {
    val (r, g, b) = rgb("(eff * 1000 + f)")
    def sum(e: String) = s"CAST(list_sum(${blocks(s"$e * $Vis")}) AS BIGINT)"
    s"""WITH $EffCte,
       |keyed AS (
       |  SELECT doc_id,
       |    CAST(w AS VARCHAR) || '|' || CAST(h AS VARCHAR) || '|' ||
       |    CAST(fps AS VARCHAR) || '|' ||
       |    array_to_string(list_transform(range(nf), f ->
       |      CAST(${sum(r)} AS VARCHAR) || ':' ||
       |      CAST(${sum(g)} AS VARCHAR) || ':' ||
       |      CAST(${sum(b)} AS VARCHAR)), ',') AS key
       |  FROM geo)
       |SELECT min(doc_id) AS keeper, CAST(count(*) AS BIGINT) AS n_copies,
       |  array_to_string(list_transform(list_sort(list(doc_id)),
       |    x -> CAST(x AS VARCHAR)), ',') AS members
       |FROM keyed GROUP BY key ORDER BY keeper""".stripMargin
  }

  // ---- registered queries --------------------------------------------------

  val videoDecodeQ: Q = Q(
    "m_video_decode",
    Some(HeaderOracle),
    (s, d) =>
      parseHeaders(withVideos(Tables.fanout(Tables.documents(s, d)))).orderBy(col("doc_id")))

  val videoDecodeBatchQ: Q = Q(
    "m_video_decode_batch",
    Some(HeaderOracle),
    (s, d) =>
      parseHeadersBatch(withVideos(Tables.fanout(Tables.documents(s, d))))
        .orderBy(col("doc_id")))

  val videoFramesQ: Q = Q(
    "m_video_frames",
    Some(FramesOracle),
    (s, d) =>
      frameStats(withVideos(Tables.fanout(Tables.documents(s, d))), 2)
        .orderBy(col("doc_id"), col("frame_idx")))

  /** Incremental video dedup: an INGEST BATCH (doc_id % 10 in {5, 6} —
    * %10==6 docs mirror their %10==5 predecessor, so the batch carries
    * BOTH genuinely-new content and re-encodes of batch siblings)
    * deduplicated against the standing corpus. The standing side
    * collapses to a key→min-id index ONCE (precomputed in production);
    * the batch probes it with one key join — cost O(|batch|), never a
    * full re-dedup. Verdict per batch doc: keeper = min id over
    * standing ∪ batch sharing its decoded-content key. */
  private val IncrBatchPred = "doc_id % 10 = 5 OR doc_id % 10 = 6"

  private val DedupIncrOracle: String = {
    val (r, g, b) = rgb("(eff * 1000 + f)")
    def sum(e: String) = s"CAST(list_sum(${blocks(s"$e * $Vis")}) AS BIGINT)"
    s"""WITH $EffCte,
       |keyed AS (
       |  SELECT doc_id,
       |    CAST(w AS VARCHAR) || '|' || CAST(h AS VARCHAR) || '|' ||
       |    CAST(fps AS VARCHAR) || '|' ||
       |    array_to_string(list_transform(range(nf), f ->
       |      CAST(${sum(r)} AS VARCHAR) || ':' ||
       |      CAST(${sum(g)} AS VARCHAR) || ':' ||
       |      CAST(${sum(b)} AS VARCHAR)), ',') AS key
       |  FROM geo)
       |SELECT doc_id,
       |  min(doc_id) OVER (PARTITION BY key) AS keeper,
       |  doc_id > min(doc_id) OVER (PARTITION BY key) AS is_dup
       |FROM keyed
       |QUALIFY $IncrBatchPred
       |ORDER BY doc_id""".stripMargin
  }

  val videoDedupIncrementalQ: Q = Q(
    "m_dedup_video_incremental",
    Some(DedupIncrOracle),
    (s, d) => {
      val keyed = keyedVideos(withVideos(Tables.fanout(Tables.documents(s, d))))
      val batch = keyed.filter(expr(IncrBatchPred))
      val standingIdx = keyed.filter(!expr(IncrBatchPred))
        .groupBy(col("key")).agg(min(col("doc_id")).as("s_keeper"))
      val inBatchIdx = batch
        .groupBy(col("key")).agg(min(col("doc_id")).as("b_keeper"))
      batch
        .join(standingIdx, Seq("key"), "left")
        .join(inBatchIdx, Seq("key"))
        .select(col("doc_id"),
          least(coalesce(col("s_keeper"), col("b_keeper")), col("b_keeper"))
            .as("keeper"))
        .select(col("doc_id"), col("keeper"),
          (col("doc_id") > col("keeper")).as("is_dup"))
        .orderBy(col("doc_id"))
    })

  val videoDedupQ: Q = Q(
    "m_dedup_video",
    Some(DedupOracle),
    (s, d) =>
      dedupVideos(withVideos(Tables.fanout(Tables.documents(s, d))))
        .orderBy(col("keeper")))

  val all: Seq[Q] = Seq(videoDecodeQ, videoDecodeBatchQ, videoFramesQ,
    videoDedupQ, videoDedupIncrementalQ, videoClipPairsQ)
}

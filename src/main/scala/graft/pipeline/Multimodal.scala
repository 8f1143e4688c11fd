package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.functions.FrameCodec
import graft.functions.GraftFunctions.{avi_frame_stats, bmp_pixel_stats, byte_histogram, encode_avi, encode_bmp, encode_flac, encode_gif, encode_jpeg, encode_mp3, encode_ogg, encode_png, encode_wav, gif_pixel_stats, gunzip_text, gzip_text, jpeg_pixel_stats, pack_frames, parse_avi_header, parse_bmp_header, parse_flac_header, parse_flac_pcm, parse_frames, parse_gif_header, parse_jpeg_header, parse_mp3, parse_ogg, parse_png_header, parse_wav_header, parse_wav_pcm, png_ahash, png_pixel_stats, sample_bytes, unzstd_bytes, wav_audio_fp, zstd_bytes}
import graft.registry.Q

/** Multimodal-column plumbing (north star, SURVEY.md §7.5): media as
  * opaque `binary` columns + typed metadata struct, with decode /
  * feature-extract / resize / frame-sample as per-row narrow operators.
  *
  * The container has no image/audio codecs, so the DECODE step is a
  * clearly-marked deterministic fake (byte histogram / byte sampling via
  * native codegen'd expressions); everything around it — binary columns,
  * metadata structs, fixed-width numeric feature output, narrow
  * (shuffle-free) per-row execution — is the real engine surface a codec
  * UDF would plug into.
  *
  * Oracle trick: the synthetic corpus is pure ASCII, where byte == char,
  * so DuckDB reproduces byte-level results via ord(substr(text, i, 1)).
  */
object Multimodal {

  /** documents -> (doc_id, bytes BINARY, meta STRUCT<format,width,height,n_bytes>). */
  def withAssets(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("bytes"),
      struct(
        lit("fake/raw").as("format"),
        (length(col("text")) % 64 + 1).cast(LongType).as("width"),
        (length(col("text")) % 48 + 1).cast(LongType).as("height"),
        octet_length(encode(col("text"), "UTF-8")).cast(LongType).as("n_bytes"))
        .as("meta"))

  /** Decode stub: 16-bin byte histogram as the "extracted features". */
  def decodeFeatures(assets: DataFrame): DataFrame =
    assets.select(
      col("doc_id"),
      col("meta.width").as("width"),
      col("meta.height").as("height"),
      byte_histogram(col("bytes")).as("features"))

  /** Frame-sample stub: every k-th byte of the payload. */
  def frameSample(assets: DataFrame, k: Int): DataFrame =
    assets.select(
      col("doc_id"),
      sample_bytes(col("bytes"), lit(k)).as("frames"))

  final case class Features(doc_id: Long, features: Array[Long])

  /** The typed mapPartitions decode path: where a real codec plugs in,
    * with per-partition init (load the model or codec once), then one
    * decode per row. The fake decode is the same byte histogram as
    * [[decodeFeatures]] (ExpressionsSpec + the m_decode_batch oracle). */
  def decodeFeaturesBatch(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col("doc_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition "codec init" happens here, once
        it.map { case (id, b) =>
          val h = new Array[Long](16)
          var i = 0
          while (i < b.length) { h((b(i) & 0xFF) >>> 4) += 1; i += 1 }
          Features(id, h)
        }
      }
      .toDF()
  }

  // ---- GRFT1 container decode (structured binary, VERDICT r5 #2) --------

  /** documents -> (doc_id, container BINARY): each text's bytes packed
    * into a real length-prefixed GRFT1 container, 7-byte frames (the
    * "ingest" side a media pipeline receives from upstream). */
  def withContainers(docs: DataFrame, frameSize: Int = 7): DataFrame =
    docs.select(
      col("doc_id"),
      pack_frames(encode(col("text"), "UTF-8"), lit(frameSize)).as("container"))

  /** Expression-path decode: a codegen'd container walk per row. */
  def parseContainers(containers: DataFrame): DataFrame =
    containers.select(col("doc_id"), parse_frames(col("container")).as("f"))
      .select(col("doc_id"),
        col("f.version").as("version"),
        col("f.n_frames").as("n_frames"),
        col("f.frame_lens").as("frame_lens"),
        col("f.payload").as("payload"))

  final case class Parsed(doc_id: Long, version: Long, n_frames: Long,
      frame_lens: Array[Long], payload: Array[Byte])

  /** Typed mapPartitions decode path (like decodeFeaturesBatch).
    * Corrupt containers drop out, mirroring the expression path's NULL. */
  def parseContainersBatch(containers: DataFrame): DataFrame = {
    val spark = containers.sparkSession
    import spark.implicits._
    containers.select(col("doc_id"), col("container")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, c) =>
        val r = FrameCodec.parseRaw(c)
        if (r == null) None
        else Some(Parsed(id, FrameCodec.Version.toLong, r._1.length.toLong,
          r._1, r._2))
      })
      .toDF()
  }

  // ---- BMP-in-GRFT1 decode (recognizable format, VERDICT r6 #6) ---------

  /** documents -> (doc_id, container BINARY): a complete, valid 24bpp
    * BMP per document (dims derived from the text, pixels from doc_id),
    * framed into a GRFT1 container. frameSize=64 so the ENTIRE 54-byte
    * BMP header lands in the first frame — the property the decode side
    * exploits. */
  def withBmpContainers(docs: DataFrame, frameSize: Int = 64): DataFrame =
    docs.select(
      col("doc_id"),
      pack_frames(
        encode_bmp(
          (length(col("text")) % 64 + 1).cast("int"),
          (length(col("text")) % 48 + 1).cast("int"),
          col("doc_id").cast(LongType)),
        lit(frameSize)).as("container"))

  /** Expression-path decode: deframe the container, slice the FIRST
    * frame, parse the BMP header out of it — all codegen'd, no
    * reassembly of the full payload needed for a header read. */
  def parseBmpHeaders(containers: DataFrame): DataFrame =
    containers.select(col("doc_id"), parse_frames(col("container")).as("f"))
      .select(col("doc_id"),
        parse_bmp_header(
          expr("substring(f.payload, 1, cast(f.frame_lens[0] as int))")).as("h"))
      .select(col("doc_id"),
        col("h.width").as("width"), col("h.height").as("height"),
        col("h.bpp").as("bpp"), col("h.file_size").as("file_size"))

  /** Typed mapPartitions decode path: deframe, slice the first frame,
    * parse the header; corrupt containers or non-BMP first frames drop
    * out. */
  def parseBmpHeadersBatch(containers: DataFrame): DataFrame =
    RowDecode.longs(containers, "container", RowDecode.firstFrame,
      Seq("width", "height", "bpp", "file_size"))(
      graft.functions.BmpCodec.parseHeaderRaw)

  // ---- WAV-in-GRFT1 decode (audio twin of the BMP pair) -----------------

  /** documents -> (doc_id, container BINARY): a complete, valid 16-bit
    * PCM WAV per document (rate/channels/length derived from doc_id and
    * the text, samples from doc_id), framed into a GRFT1 container.
    * frameSize=64 so the ENTIRE 44-byte RIFF header lands in the first
    * frame — the property the decode side exploits. */
  def withWavContainers(docs: DataFrame, frameSize: Int = 64): DataFrame =
    docs.select(
      col("doc_id"),
      pack_frames(
        encode_wav(
          ((col("doc_id") % 3 + 1) * 8000).cast("int"),
          (col("doc_id") % 2 + 1).cast("int"),
          length(col("text")).cast("int"),
          col("doc_id").cast(LongType)),
        lit(frameSize)).as("container"))

  /** Expression-path decode: deframe the container, slice the FIRST
    * frame, parse the RIFF header out of it — all codegen'd, no
    * reassembly of the full payload needed for a header read. */
  def parseWavHeaders(containers: DataFrame): DataFrame =
    containers.select(col("doc_id"), parse_frames(col("container")).as("f"))
      .select(col("doc_id"),
        parse_wav_header(
          expr("substring(f.payload, 1, cast(f.frame_lens[0] as int))")).as("h"))
      .select(col("doc_id"),
        col("h.num_channels").as("num_channels"),
        col("h.sample_rate").as("sample_rate"),
        col("h.bits_per_sample").as("bits_per_sample"),
        col("h.n_samples").as("n_samples"),
        col("h.byte_rate").as("byte_rate"))

  /** Typed mapPartitions decode path (like parseBmpHeadersBatch);
    * corrupt containers or non-WAV first frames drop out. */
  def parseWavHeadersBatch(containers: DataFrame): DataFrame =
    RowDecode.longs(containers, "container", RowDecode.firstFrame,
      Seq("num_channels", "sample_rate", "bits_per_sample", "n_samples",
        "byte_rate"))(graft.functions.WavCodec.parseHeaderRaw)

  /** Full-payload PCM decode: deframe (parse_frames already yields the
    * concatenated payload, i.e. the complete WAV), then fold EVERY
    * interleaved 16-bit sample into exact-integer loudness features —
    * the first decode in the family that reads sample DATA, not just a
    * header: n_samples, sum_sq (energy = RMS²·n, so no float crosses
    * the engine boundary) and peak amplitude. */
  def wavLoudness(containers: DataFrame): DataFrame =
    containers.select(col("doc_id"), parse_frames(col("container")).as("f"))
      .select(col("doc_id"), parse_wav_pcm(col("f.payload")).as("s"))
      .select(col("doc_id"),
        col("s.n_samples").as("n_samples"),
        col("s.sum_sq").as("sum_sq"),
        col("s.peak").as("peak"))

  /** Typed mapPartitions loudness path — unlike the header twins this
    * one hands the FULL reassembled payload to the kernel. */
  def wavLoudnessBatch(containers: DataFrame): DataFrame =
    RowDecode.longs(containers, "container", RowDecode.payload,
      Seq("n_samples", "sum_sq", "peak"))(graft.functions.WavCodec.pcmStatsRaw)

  // ---- PNG-in-GRFT1 decode (big-endian + CRC member of the family) ------

  /** documents -> (doc_id, container BINARY): a structurally complete
    * PNG per document (signature, CRC'd IHDR/IDAT/IEND chunks;
    * dimensions from the text, color type from doc_id), framed into a
    * GRFT1 container. frameSize=64 so the signature + whole IHDR chunk
    * (33 bytes) land in the first frame. */
  def withPngContainers(docs: DataFrame, frameSize: Int = 64): DataFrame =
    docs.select(
      col("doc_id"),
      pack_frames(
        encode_png(
          (length(col("text")) % 80 + 1).cast("int"),
          (length(col("text")) % 60 + 1).cast("int"),
          (col("doc_id") % 2 * 4 + 2).cast("int"), // 2 or 6 (truecolor±alpha)
          col("doc_id").cast(LongType)),
        lit(frameSize)).as("container"))

  /** Expression-path decode: deframe, slice the FIRST frame, parse the
    * IHDR (CRC-verified) out of it — all codegen'd. */
  def parsePngHeaders(containers: DataFrame): DataFrame =
    containers.select(col("doc_id"), parse_frames(col("container")).as("f"))
      .select(col("doc_id"),
        parse_png_header(
          expr("substring(f.payload, 1, cast(f.frame_lens[0] as int))")).as("h"))
      .select(col("doc_id"),
        col("h.width").as("width"), col("h.height").as("height"),
        col("h.bit_depth").as("bit_depth"),
        col("h.color_type").as("color_type"))

  /** Typed mapPartitions decode path (like the BMP/WAV twins): deframe,
    * slice the first frame, parse the header. */
  def parsePngHeadersBatch(containers: DataFrame): DataFrame =
    RowDecode.longs(containers, "container", RowDecode.firstFrame,
      Seq("width", "height", "bit_depth", "color_type"))(
      graft.functions.PngCodec.parseHeaderRaw)

  /** Full-payload PIXEL decode (the image twin of [[wavLoudness]]):
    * deframe (parse_frames yields the concatenated payload, i.e. the
    * complete PNG), CRC-walk the chunks, INFLATE the real zlib IDAT
    * stream, reverse the scanline filters, and fold every sample into
    * exact-integer per-channel sum/peak — the first decode in the
    * family to cross a COMPRESSED payload boundary (VERDICT r7
    * Missing #2). */
  def pngPixels(containers: DataFrame): DataFrame =
    containers.select(col("doc_id"), parse_frames(col("container")).as("f"))
      .select(col("doc_id"), png_pixel_stats(col("f.payload")).as("s"))
      .select(col("doc_id") +: PngPixelCols.map(c => col(s"s.$c").as(c)): _*)

  private val PngPixelCols = Seq("width", "height", "channels", "n_px",
    "sum_c0", "sum_c1", "sum_c2", "sum_c3",
    "peak_c0", "peak_c1", "peak_c2", "peak_c3")

  /** Typed mapPartitions full-pixel path — full reassembled payload to
    * the kernel (mirrors [[wavLoudnessBatch]]). */
  def pngPixelsBatch(containers: DataFrame): DataFrame =
    RowDecode.longs(containers, "container", RowDecode.payload, PngPixelCols)(
      graft.functions.PngCodec.pixelStatsRaw)

  /** Full-payload BMP pixel decode — the UNCOMPRESSED image twin of
    * [[pngPixels]]: deframe, walk the padded bottom-up 24bpp rows, fold
    * exact per-channel (B, G, R) sum/peak. No inflate step; what this
    * pins is the STRIDE arithmetic (padding bytes skipped, never
    * counted) against an oracle that recomputes the stats from the
    * documented pixel formulas alone. */
  def bmpPixels(containers: DataFrame): DataFrame =
    containers.select(col("doc_id"), parse_frames(col("container")).as("f"))
      .select(col("doc_id"), bmp_pixel_stats(col("f.payload")).as("s"))
      .select(col("doc_id") +: BmpPixelCols.map(c => col(s"s.$c").as(c)): _*)

  private val BmpPixelCols = Seq("width", "height", "n_px",
    "sum_b", "sum_g", "sum_r", "peak_b", "peak_g", "peak_r")

  /** Typed mapPartitions full-pixel path. */
  def bmpPixelsBatch(containers: DataFrame): DataFrame =
    RowDecode.longs(containers, "container", RowDecode.payload, BmpPixelCols)(
      graft.functions.BmpCodec.pixelStatsRaw)

  // ---- perceptual image dedup (aHash over the real decode) --------------

  /** CONTENT-seeded PNG containers: geometry AND pixel seed derive from
    * the text length only (color type fixed truecolor), so documents
    * with identical content produce BIT-IDENTICAL images — the property
    * an image-dedup operator needs planted pairs to exercise (the
    * doc_id-seeded generator above makes every image unique by
    * construction, which is right for decode tests and useless for
    * dedup). */
  def withPngContentContainers(docs: DataFrame, frameSize: Int = 64): DataFrame =
    docs.select(
      col("doc_id"),
      pack_frames(
        encode_png(
          (length(col("text")) % 80 + 1).cast("int"),
          (length(col("text")) % 60 + 1).cast("int"),
          lit(2), // truecolor
          length(col("text")).cast(LongType)),
        lit(frameSize)).as("container"))

  /** Per-image perceptual fingerprint through the FULL byte path:
    * deframe, CRC-walk, inflate, unfilter, 8x8-grid aHash
    * (PngCodec.aHash63). */
  def imageAHashes(containers: DataFrame): DataFrame =
    containers.select(col("doc_id"), parse_frames(col("container")).as("f"))
      .select(col("doc_id"), png_ahash(col("f.payload")).as("ahash"))

  /** Nearest-neighbor RESIZE through the full byte path: deframe,
    * CRC-walk, inflate, unfilter, grid-sample channel 0 to w2 x h2
    * (PngCodec.resample) — the explicit "resize" member of the
    * decode / feature-extract / resize / frame-sample quartet. Emits
    * the resized pixel vector and its sum; pure narrow map. */
  def imageResize(containers: DataFrame, w2: Int = 4, h2: Int = 4): DataFrame =
    containers.select(col("doc_id"), parse_frames(col("container")).as("f"))
      .select(col("doc_id"),
        graft.functions.GraftFunctions.png_resample(
          col("f.payload"), lit(w2), lit(h2)).as("pxs"))
      .select(col("doc_id"),
        array_join(transform(col("pxs"), _.cast("string")), ",").as("px"),
        aggregate(col("pxs"), lit(0L), (a, x) => a + x).as("px_sum"))

  /** Image near-dup pairs by aHash hamming distance <= 3, the
    * pigeonhole-banded scale shape (d_dedup_simhash's pattern, image
    * flavor): 4 x 16-bit bands of the 63-bit hash — hamming <= 3 flips
    * cannot touch all 4 bands, so band-equality candidate generation is
    * COMPLETE; candidates verify exactly with bit_count(xor). The
    * all-pairs oracle is an INDEPENDENT construction (the PpJoin
    * discipline), so a banding bug hash-fails, not just a scoring bug. */
  def imageNearDups(containers: DataFrame): DataFrame =
    bandedFpPairs(imageAHashes(containers), "ahash")

  /** Near-dup pairs of a 63-bit perceptual fingerprint at hamming
    * distance <= 3, the pigeonhole-banded scale shape shared by the
    * image (aHash) and audio (energy-fp) dedup operators: 4 x 16-bit
    * bands — 3 flips cannot touch all 4 bands, so band-equality
    * candidate generation is COMPLETE; candidates verify exactly with
    * bit_count(xor). The fingerprint table is materialized ONCE
    * (doc_id + one long per asset): it feeds both sides of four band
    * joins — left lazy, the full decode re-executes 8x (measured 3.9s
    * vs 1.6s on the image path). At corpus scale the fingerprint table
    * is the maintained artifact anyway; registered as a final so the
    * runners release it post-query. */
  private def bandedFpPairs(fps: DataFrame, fpCol: String): DataFrame = {
    val h = fps.filter(col(fpCol).isNotNull).localCheckpoint(true)
    graft.analytics.CheckpointRegistry.trackFinal(fps.sparkSession, h)
    val bands = (0 until 4).map { b =>
      h.select(col("doc_id"), col(fpCol).as("fp"),
        shiftright(col(fpCol), 16 * b).bitwiseAND(lit(0xFFFFL)).as("k"),
        lit(b).as("band"))
    }
    val cand = bands.map { hb =>
      hb.select(col("doc_id").as("a_id"), col("fp").as("ha"),
          col("k"), col("band"))
        .join(hb.select(col("doc_id").as("b_id"), col("fp").as("hb"),
          col("k"), col("band")), Seq("k", "band"))
        .where(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), col("ha"), col("hb"))
    }.reduce(_ union _).distinct()
    cand
      .withColumn("hamming",
        bit_count(col("ha") bitwiseXOR col("hb")).cast(LongType))
      .filter(col("hamming") <= 3)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .orderBy(col("a_id"), col("b_id"))
  }

  // ---- perceptual audio dedup (energy fingerprint over the real decode) -

  /** CONTENT-seeded WAV containers: geometry AND sample seed derive
    * from the text length only (mono, fixed rate), so documents with
    * identical content produce BIT-IDENTICAL audio — the planted-pair
    * property the image-dedup generator established
    * (withPngContentContainers); the doc_id-seeded generator above
    * keeps every stream unique, right for decode tests, useless for
    * dedup. */
  def withWavContentContainers(docs: DataFrame, frameSize: Int = 64): DataFrame =
    docs.select(
      col("doc_id"),
      pack_frames(
        encode_wav(lit(8000), lit(1), length(col("text")).cast("int"),
          length(col("text")).cast(LongType)),
        lit(frameSize)).as("container"))

  /** Per-stream perceptual fingerprint through the FULL byte path:
    * deframe, RIFF-validate, walk every 16-bit sample, 63-window
    * energy fingerprint (WavCodec.audioFp63). */
  def audioFps(containers: DataFrame): DataFrame =
    containers.select(col("doc_id"), parse_frames(col("container")).as("f"))
      .select(col("doc_id"), wav_audio_fp(col("f.payload")).as("afp"))

  /** Audio near-dup pairs by energy-fingerprint hamming distance <= 3 —
    * same complete pigeonhole banding as the image operator; the
    * all-pairs oracle is an INDEPENDENT construction (the PpJoin
    * discipline), so a banding bug hash-fails, not just a scoring
    * bug. */
  def audioNearDups(containers: DataFrame): DataFrame =
    bandedFpPairs(audioFps(containers), "afp")

  // ---- mixed-modality corpus: magic-byte sniff + decoder dispatch -------

  /** A HETEROGENEOUS container column — payload kind keyed on doc_id
    * mod 11 (PNG / BMP / WAV / gzip text / JPEG / AVI / GIF / FLAC /
    * zstd text / MP3 / Ogg — round 12 added the modern compressed-text
    * kind, round 13 the MP3 and Ogg containers), each produced by the
    * same codec the uniform families use. Every decode query above
    * assumes one payload type per column; a real crawled corpus is
    * mixed, and the first operator over it is "sniff the magic bytes,
    * route each blob to the right decoder". */
  def withMixedContainers(docs: DataFrame, frameSize: Int = 64): DataFrame = {
    val ln = length(col("text"))
    val payload = when(col("doc_id") % 11 === 0,
        encode_png((ln % 80 + 1).cast("int"), (ln % 60 + 1).cast("int"),
          lit(2), ln.cast(LongType)))
      .when(col("doc_id") % 11 === 1,
        encode_bmp((ln % 64 + 1).cast("int"), (ln % 48 + 1).cast("int"),
          col("doc_id").cast(LongType)))
      .when(col("doc_id") % 11 === 2,
        encode_wav(lit(8000), lit(1), ln.cast("int"),
          col("doc_id").cast(LongType)))
      .when(col("doc_id") % 11 === 4,
        encode_jpeg((ln % 80 + 1).cast("int"), (ln % 60 + 1).cast("int"),
          lit(3), col("doc_id").cast(LongType), lit(0).cast("int")))
      .when(col("doc_id") % 11 === 5,
        encode_avi((ln % 24 + 8).cast("int"), (ln % 19 + 8).cast("int"),
          (ln % 4 + 2).cast("int"), lit(25),
          col("doc_id").cast(LongType), lit(0).cast("int")))
      .when(col("doc_id") % 11 === 6,
        encode_gif((ln % 60 + 1).cast("int"), (ln % 40 + 1).cast("int"),
          (ln % 3 + 2).cast("int"), col("doc_id").cast(LongType)))
      .when(col("doc_id") % 11 === 7,
        encode_flac(lit(8000), lit(1), ln.cast("int"),
          col("doc_id").cast(LongType)))
      .when(col("doc_id") % 11 === 8,
        zstd_bytes(encode(col("text"), "UTF-8")))
      .when(col("doc_id") % 11 === 9,
        encode_mp3(col("doc_id").cast(LongType),
          (ln % 40 + 5).cast("int")))
      .when(col("doc_id") % 11 === 10,
        encode_ogg(col("doc_id").cast(LongType),
          (ln % 30 + 3).cast("int")))
      .otherwise(gzip_text(col("text")))
    docs.select(col("doc_id"),
      pack_frames(payload, lit(frameSize)).as("container"))
  }

  /** MIME sniff + dispatch: deframe, identify the payload by magic
    * bytes alone (the sniffer never sees doc_id), then route to the
    * kind's decoder for one canonical stat — pixels for images, samples
    * for audio, recovered chars for compressed text. CASE branches
    * evaluate lazily in codegen, so each row pays exactly one decode;
    * every stage is a narrow map (zero shuffles). An unrecognized or
    * corrupt payload sniffs 'unknown' with stat -1 — route-and-quarantine,
    * not abort, is the 100-TB contract. */
  /** Payload kind from magic bytes alone (the sniffer never sees
    * doc_id): PNG signature, BM, RIFF....WAVE, RIFF....AVI(space),
    * gzip 1f 8b, JPEG ff d8 ff, GIF8, fLaC, zstd magic, ID3 (MP3 with
    * an ID3v2 tag) — the two RIFF forms disambiguate on the form-type
    * fourcc, like a real sniffer. */
  def sniffKind(p: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(hex(substring(p, 1, 4)) === "89504E47", "image/png")
      .when(hex(substring(p, 1, 2)) === "424D", "image/bmp")
      .when(hex(substring(p, 1, 4)) === "52494646" &&
        hex(substring(p, 9, 4)) === "57415645", "audio/wav")
      .when(hex(substring(p, 1, 4)) === "52494646" &&
        hex(substring(p, 9, 4)) === "41564920", "video/avi")
      .when(hex(substring(p, 1, 2)) === "1F8B", "text/gzip")
      .when(hex(substring(p, 1, 3)) === "FFD8FF", "image/jpeg")
      .when(hex(substring(p, 1, 4)) === "47494638", "image/gif")
      .when(hex(substring(p, 1, 4)) === "664C6143", "audio/flac")
      .when(hex(substring(p, 1, 4)) === "28B52FFD", "application/zstd")
      .when(hex(substring(p, 1, 3)) === "494433", "audio/mpeg")
      .when(hex(substring(p, 1, 4)) === "4F676753", "audio/ogg")
      .otherwise("unknown")

  def sniffDispatch(containers: DataFrame): DataFrame = {
    val sniffed = containers
      .select(col("doc_id"), parse_frames(col("container")).as("f"))
      .select(col("doc_id"), col("f.payload").as("p"))
      .withColumn("kind", sniffKind(col("p")))
    sniffed.select(
      col("doc_id"), col("kind"),
      coalesce(
        when(col("kind") === "image/png",
          parse_png_header(col("p")).getField("width") *
            parse_png_header(col("p")).getField("height"))
          .when(col("kind") === "image/bmp",
            parse_bmp_header(col("p")).getField("width") *
              parse_bmp_header(col("p")).getField("height"))
          .when(col("kind") === "audio/wav",
            parse_wav_header(col("p")).getField("n_samples"))
          .when(col("kind") === "text/gzip",
            length(gunzip_text(col("p"))).cast(LongType))
          .when(col("kind") === "image/jpeg",
            parse_jpeg_header(col("p")).getField("width") *
              parse_jpeg_header(col("p")).getField("height"))
          .when(col("kind") === "video/avi",
            parse_avi_header(col("p")).getField("width") *
              parse_avi_header(col("p")).getField("height") *
              parse_avi_header(col("p")).getField("n_frames"))
          .when(col("kind") === "image/gif",
            parse_gif_header(col("p")).getField("n_px"))
          .when(col("kind") === "audio/flac",
            parse_flac_header(col("p")).getField("n_samples"))
          .when(col("kind") === "application/zstd",
            length(unzstd_bytes(col("p")).cast("string")).cast(LongType))
          .when(col("kind") === "audio/mpeg",
            parse_mp3(col("p")).getField("n_frames") * 1152)
          .when(col("kind") === "audio/ogg",
            parse_ogg(col("p")).getField("n_packets")),
        lit(-1L)).as("stat"))
  }

  /** CONTENT-seeded heterogeneous containers — every kind's geometry
    * AND payload seed derive from the text alone, so identical-content
    * documents produce bit-identical payloads WHATEVER their kind: the
    * planted-pair property, mixed-corpus flavor. */
  def withMixedContentContainers(docs: DataFrame, frameSize: Int = 64): DataFrame = {
    val ln = length(col("text"))
    val payload = when(col("doc_id") % 11 === 0,
        encode_png((ln % 80 + 1).cast("int"), (ln % 60 + 1).cast("int"),
          lit(2), ln.cast(LongType)))
      .when(col("doc_id") % 11 === 1,
        encode_bmp((ln % 64 + 1).cast("int"), (ln % 48 + 1).cast("int"),
          ln.cast(LongType)))
      .when(col("doc_id") % 11 === 2,
        encode_wav(lit(8000), lit(1), ln.cast("int"), ln.cast(LongType)))
      .when(col("doc_id") % 11 === 4,
        encode_jpeg((ln % 80 + 1).cast("int"), (ln % 60 + 1).cast("int"),
          lit(3), ln.cast(LongType), lit(0).cast("int")))
      .when(col("doc_id") % 11 === 5,
        encode_avi((ln % 24 + 8).cast("int"), (ln % 19 + 8).cast("int"),
          (ln % 4 + 2).cast("int"), lit(25), ln.cast(LongType),
          lit(0).cast("int")))
      .when(col("doc_id") % 11 === 6,
        encode_gif((ln % 60 + 1).cast("int"), (ln % 40 + 1).cast("int"),
          (ln % 3 + 2).cast("int"), ln.cast(LongType)))
      .when(col("doc_id") % 11 === 7,
        encode_flac(lit(8000), lit(1), ln.cast("int"), ln.cast(LongType)))
      .when(col("doc_id") % 11 === 8,
        zstd_bytes(encode(col("text"), "UTF-8")))
      .when(col("doc_id") % 11 === 9,
        encode_mp3(ln.cast(LongType), (ln % 40 + 5).cast("int")))
      .when(col("doc_id") % 11 === 10,
        encode_ogg(ln.cast(LongType), (ln % 30 + 3).cast("int")))
      .otherwise(gzip_text(col("text")))
    docs.select(col("doc_id"),
      pack_frames(payload, lit(frameSize)).as("container"))
  }

  /** The multimodal-family capstone: dedup a MIXED corpus end-to-end —
    * sniff each payload's kind from magic bytes, route to the kind's
    * real decoder for its canonical duplicate key (PNG aHash / BMP
    * pixel-stat digest / WAV energy fingerprint / recovered-text md5),
    * then elect survivors per (kind, key) with a min-id window. One
    * narrow decode pass + ONE shuffle on the (kind, key) pair — the
    * exact-dedup shape (d_dedup_exact) generalized to payloads whose
    * equality is only visible AFTER a decode. Key collisions across
    * different content merge classes identically on both engines (the
    * keys are the contract, not a guarantee of content equality —
    * that's what the near-dup operators grade). */
  def mixedDedupSurvivors(containers: DataFrame): DataFrame = {
    val sniffed = containers
      .select(col("doc_id"), parse_frames(col("container")).as("f"))
      .select(col("doc_id"), col("f.payload").as("p"))
      .withColumn("kind", sniffKind(col("p")))
    val b = bmp_pixel_stats(col("p"))
    val j = jpeg_pixel_stats(col("p"))
    val keyed = sniffed.withColumn("key",
      when(col("kind") === "image/png", png_ahash(col("p")).cast("string"))
        .when(col("kind") === "image/bmp",
          md5(concat_ws("|",
            b.getField("width"), b.getField("height"), b.getField("n_px"),
            b.getField("sum_b"), b.getField("sum_g"), b.getField("sum_r"),
            b.getField("peak_b"), b.getField("peak_g"), b.getField("peak_r"))))
        .when(col("kind") === "audio/wav", wav_audio_fp(col("p")).cast("string"))
        .when(col("kind") === "text/gzip", md5(gunzip_text(col("p"))))
        .when(col("kind") === "image/jpeg",
          md5(concat_ws("|",
            j.getField("width"), j.getField("height"), j.getField("n_px"),
            j.getField("sum_c0"), j.getField("sum_c1"), j.getField("sum_c2"),
            j.getField("peak_c0"), j.getField("peak_c1"), j.getField("peak_c2"))))
        .when(col("kind") === "image/gif", {
          val gs = gif_pixel_stats(col("p"))
          md5(concat_ws("|",
            gs.getField("width"), gs.getField("height"),
            gs.getField("palette_size"), gs.getField("n_px"),
            gs.getField("sum_r"), gs.getField("sum_g"), gs.getField("sum_b"),
            gs.getField("peak_r"), gs.getField("peak_g"), gs.getField("peak_b")))
        })
        .when(col("kind") === "video/avi", {
          // decoded-content key: geometry + every frame's color sums —
          // representation-independent, the same construction as
          // m_dedup_video's (Video.dedupVideos), md5'd into this
          // query's uniform key type
          val h = parse_avi_header(col("p"))
          md5(concat_ws("|",
            h.getField("width").cast("string"),
            h.getField("height").cast("string"),
            h.getField("fps").cast("string"),
            array_join(transform(avi_frame_stats(col("p"), lit(1)), x =>
              concat_ws(":", x.getField("sum_r").cast("string"),
                x.getField("sum_g").cast("string"),
                x.getField("sum_b").cast("string"))), ",")))
        })
        .when(col("kind") === "audio/flac", {
          // decoded-content key over the RECONSTRUCTED samples — the
          // compression layer (Rice/predictors) must be transparent to
          // it, and the decoder's internal MD5 already proved lossless
          val fs = parse_flac_pcm(col("p"))
          md5(concat_ws("|", fs.getField("n_samples"),
            fs.getField("sum_sq"), fs.getField("peak")))
        })
        // decoded-content key: the strict FSE/Huffman decode must be
        // transparent (XXH64-sealed), so md5(decompressed) == md5(text)
        .when(col("kind") === "application/zstd",
          md5(unzstd_bytes(col("p"))))
        .when(col("kind") === "audio/mpeg", {
          // container-walk key: frame count, exact frame-size sum, the
          // summed payload bytes of every non-first frame, rate and
          // channel mode — everything the strict walk measures; the
          // oracle replays each from the content seed
          val m = parse_mp3(col("p"))
          md5(concat_ws("|",
            m.getField("n_frames"), m.getField("audio_bytes"),
            m.getField("pay_sum"), m.getField("sample_rate"),
            m.getField("channels")))
        })
        .when(col("kind") === "audio/ogg", {
          // page-walk key: packet count, reassembled payload size and
          // byte sum, the stream serial — all CRC-verified by parse
          val o = parse_ogg(col("p"))
          md5(concat_ws("|",
            o.getField("n_packets"), o.getField("payload_bytes"),
            o.getField("pay_sum"), o.getField("serial")))
        }))
      .select(col("doc_id"), col("kind"), col("key"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("kind"), col("key"))
    keyed
      .withColumn("keeper_id", min(col("doc_id")).over(w))
      .withColumn("is_dup", col("doc_id") > col("keeper_id"))
      .select(col("doc_id"), col("kind"), col("keeper_id"), col("is_dup"))
      .orderBy(col("doc_id"))
  }

  // ---- gzip text payloads (the crawl-corpus compressed-text member) -----

  /** documents -> (doc_id, container): each text gzipped (real RFC 1952
    * member via the JDK — CRC-32 + ISIZE trailers) and framed into
    * GRFT1, the WARC/WET shape a crawled corpus lands in. */
  def withGzipContainers(docs: DataFrame, frameSize: Int = 64): DataFrame =
    docs.select(
      col("doc_id"),
      pack_frames(gzip_text(col("text")), lit(frameSize)).as("container"))

  /** Full-payload gunzip: deframe, inflate the member (trailer-verified,
    * zip-bomb capped), and fingerprint the recovered text. The oracle
    * reads the ORIGINAL text column — compressed bytes never cross the
    * engine boundary (they are zlib-version-specific), the recovered
    * CONTENT must match. */
  def gunzipTexts(containers: DataFrame): DataFrame =
    containers.select(col("doc_id"), parse_frames(col("container")).as("f"))
      .select(col("doc_id"), gunzip_text(col("f.payload")).as("t"))
      .select(col("doc_id"), md5(col("t")).as("fp"),
        length(col("t")).cast(LongType).as("n_chars"))

  final case class GzipTextRow(doc_id: Long, fp: String, n_chars: Long)

  /** Typed mapPartitions full-payload path, one MD5 per partition. */
  def gunzipTextsBatch(containers: DataFrame): DataFrame = {
    val spark = containers.sparkSession
    import spark.implicits._
    containers.select(col("doc_id"), col("container")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, c) =>
          val z = RowDecode.payload(c)
          val raw = if (z == null) null else graft.functions.GzipCodec.gunzip(z)
          if (raw == null) None
          else {
            md.reset()
            val fp = md.digest(raw).map("%02x".format(_)).mkString
            val s = new String(raw, java.nio.charset.StandardCharsets.UTF_8)
            Some(GzipTextRow(id, fp, s.codePointCount(0, s.length).toLong))
          }
        }
      }
      .toDF()
  }

  // ---- registry entries -------------------------------------------------

  private def histBinsSql: String =
    (0 until 16).map { b =>
      s"len(list_filter(generate_series(1, length(text)), i -> (ord(substr(text, i, 1)) // 16) = $b))"
    }.mkString("[", ", ", "]")

  val decodeQ: Q = Q(
    "m_decode_features",
    Some(s"""SELECT doc_id,
            |  CAST(length(text) % 64 + 1 AS BIGINT) AS width,
            |  CAST(length(text) % 48 + 1 AS BIGINT) AS height,
            |  array_to_string($histBinsSql, ',') AS hist
            |FROM documents ORDER BY doc_id""".stripMargin),
    (s, d) =>
      decodeFeatures(withAssets(Tables.documents(s, d)))
        .select(col("doc_id"), col("width"), col("height"),
          array_join(transform(col("features"), x => x.cast("string")), ",").as("hist"))
        .orderBy(col("doc_id")))

  val frameSampleQ: Q = Q(
    "m_frame_sample",
    Some("""SELECT doc_id,
           |  md5(array_to_string(list_transform(
           |    generate_series(1, (length(text) + 6) // 7),
           |    i -> substr(text, (i - 1) * 7 + 1, 1)), '')) AS frame_fp
           |FROM documents ORDER BY doc_id""".stripMargin),
    (s, d) =>
      frameSample(withAssets(Tables.documents(s, d)), 7)
        .select(col("doc_id"), md5(col("frames")).as("frame_fp"))
        .orderBy(col("doc_id")))

  val decodeBatchQ: Q = Q(
    "m_decode_batch",
    Some(s"""SELECT doc_id, array_to_string($histBinsSql, ',') AS hist
            |FROM documents ORDER BY doc_id""".stripMargin),
    (s, d) =>
      decodeFeaturesBatch(withAssets(Tables.documents(s, d)))
        .select(col("doc_id"),
          array_join(transform(col("features"), x => x.cast("string")), ",").as("hist"))
        .orderBy(col("doc_id")))

  /** Decode STRUCTURED binary: pack each document's bytes into a GRFT1
    * container, then parse it back with the real length-prefix walk.
    * The oracle recomputes the expected structure (frame count, each
    * frame's length, payload md5) directly from `text` — so every
    * length prefix, the frame order, and payload byte-exactness are
    * hash-gated (pure-ASCII corpus: byte == char, md5(text) ==
    * md5(payload)). */
  private val FrameLensSql =
    """array_to_string(list_transform(
      |    generate_series(1, (length(text) + 6) // 7),
      |    i -> least(7, length(text) - (i - 1) * 7)), ',')""".stripMargin

  val containerDecodeQ: Q = Q(
    "m_container_decode",
    Some(s"""SELECT doc_id,
            |  CAST(1 AS BIGINT) AS version,
            |  CAST((length(text) + 6) // 7 AS BIGINT) AS n_frames,
            |  $FrameLensSql AS frame_lens,
            |  md5(text) AS payload_fp
            |FROM documents ORDER BY doc_id""".stripMargin),
    (s, d) =>
      parseContainers(withContainers(Tables.documents(s, d)))
        .select(col("doc_id"), col("version"), col("n_frames"),
          array_join(transform(col("frame_lens"), x => x.cast("string")), ",").as("frame_lens"),
          md5(col("payload")).as("payload_fp"))
        .orderBy(col("doc_id")))

  /** Same oracle through the typed mapPartitions path. */
  val containerDecodeBatchQ: Q = Q(
    "m_container_decode_batch",
    Some(s"""SELECT doc_id,
            |  CAST(1 AS BIGINT) AS version,
            |  CAST((length(text) + 6) // 7 AS BIGINT) AS n_frames,
            |  $FrameLensSql AS frame_lens,
            |  md5(text) AS payload_fp
            |FROM documents ORDER BY doc_id""".stripMargin),
    (s, d) =>
      parseContainersBatch(withContainers(Tables.documents(s, d)))
        .select(col("doc_id"), col("version"), col("n_frames"),
          array_join(transform(col("frame_lens"), x => x.cast("string")), ",").as("frame_lens"),
          md5(col("payload")).as("payload_fp"))
        .orderBy(col("doc_id")))

  /** Decode a RECOGNIZABLE format inside GRFT1 frames: each document
    * carries a real 24bpp BMP (valid file+info headers, padded bottom-up
    * pixel rows) packed into a GRFT1 container; the query deframes,
    * takes the first frame, and parses width/height/bit-depth/file-size
    * out of the little-endian header bytes. The oracle recomputes every
    * field — INCLUDING the stride-padded file size the encoder wrote and
    * the parser read back from 4 LE bytes — from the document text, so
    * an endianness, offset, or stride bug anywhere in the byte path
    * hash-fails. */
  private val BmpOracleSql =
    """SELECT doc_id,
      |  CAST(length(text) % 64 + 1 AS BIGINT) AS width,
      |  CAST(length(text) % 48 + 1 AS BIGINT) AS height,
      |  CAST(24 AS BIGINT) AS bpp,
      |  CAST(54 + (((length(text) % 64 + 1) * 3 + 3) // 4) * 4
      |         * (length(text) % 48 + 1) AS BIGINT) AS file_size
      |FROM documents ORDER BY doc_id""".stripMargin

  val bmpDecodeQ: Q = Q(
    "m_bmp_decode",
    Some(BmpOracleSql),
    (s, d) =>
      parseBmpHeaders(withBmpContainers(Tables.documents(s, d)))
        .orderBy(col("doc_id")))

  /** Same oracle through the typed mapPartitions path. */
  val bmpDecodeBatchQ: Q = Q(
    "m_bmp_decode_batch",
    Some(BmpOracleSql),
    (s, d) =>
      parseBmpHeadersBatch(withBmpContainers(Tables.documents(s, d)))
        .orderBy(col("doc_id")))

  /** Decode the AUDIO format inside GRFT1 frames: each document carries
    * a real 16-bit PCM WAV (valid RIFF/fmt/data headers) packed into a
    * GRFT1 container; the query deframes, takes the first frame, and
    * parses channels/rate/depth/length out of the little-endian header
    * bytes. The oracle recomputes every field — INCLUDING the byte rate
    * the encoder wrote and the parser read back from 4 LE bytes — from
    * doc_id and the text, so an endianness, offset, or consistency bug
    * anywhere in the byte path hash-fails. */
  private val WavOracleSql =
    """SELECT doc_id,
      |  CAST(doc_id % 2 + 1 AS BIGINT) AS num_channels,
      |  CAST((doc_id % 3 + 1) * 8000 AS BIGINT) AS sample_rate,
      |  CAST(16 AS BIGINT) AS bits_per_sample,
      |  CAST(length(text) AS BIGINT) AS n_samples,
      |  CAST((doc_id % 3 + 1) * 8000 * (doc_id % 2 + 1) * 2 AS BIGINT)
      |    AS byte_rate
      |FROM documents ORDER BY doc_id""".stripMargin

  val wavDecodeQ: Q = Q(
    "m_wav_decode",
    Some(WavOracleSql),
    (s, d) =>
      parseWavHeaders(withWavContainers(Tables.documents(s, d)))
        .orderBy(col("doc_id")))

  /** Same oracle through the typed mapPartitions path. */
  val wavDecodeBatchQ: Q = Q(
    "m_wav_decode_batch",
    Some(WavOracleSql),
    (s, d) =>
      parseWavHeadersBatch(withWavContainers(Tables.documents(s, d)))
        .orderBy(col("doc_id")))

  /** documents -> (doc_id, container): each doc carries a complete MP3
    * container (ID3v2.3 TIT2 tag + MPEG-1 Layer III frames, CBR or
    * Xing'd VBR by doc_id parity) framed into GRFT1 — modality 10
    * (VERDICT r12 #8). All parameters derive from (doc_id, text) by
    * the arithmetic the oracle replays. */
  def withMp3Containers(docs: DataFrame, frameSize: Int = 64): DataFrame =
    docs.select(
      col("doc_id"),
      pack_frames(
        encode_mp3(col("doc_id").cast(LongType),
          (length(col("text")) % 40 + 5).cast("int")),
        lit(frameSize)).as("container"))

  /** Deframe + strict container parse: every frame header validated,
    * every payload byte of frames 1..n-1 summed (pay_sum pins the
    * byte walk; frame 0 is excluded because the Xing block overwrites
    * its plant). */
  def parseMp3Streams(containers: DataFrame): DataFrame =
    containers.select(col("doc_id"), parse_frames(col("container")).as("f"))
      .select(col("doc_id"), parse_mp3(col("f.payload")).as("h"))
      .select(col("doc_id"),
        col("h.title").as("title"),
        col("h.sample_rate").as("sample_rate"),
        col("h.channels").as("channels"),
        col("h.n_frames").as("n_frames"),
        col("h.duration_ms").as("duration_ms"),
        col("h.bitrate_mode").as("bitrate_mode"),
        col("h.audio_bytes").as("audio_bytes"),
        col("h.id3_bytes").as("id3_bytes"),
        col("h.has_xing").as("has_xing"),
        col("h.pay_sum").as("pay_sum"),
        col("h.has_crc").as("has_crc"))

  /** The oracle recomputes EVERY field — including the summed payload
    * bytes of every non-first frame and the VBR cycle's exact frame
    * sizes — from (doc_id, length(text)) by the generator formulas, so
    * a table, frame-size, ID3, Xing-offset, or byte-walk bug anywhere
    * in the MP3 path hash-fails. */
  private val Mp3OracleSql: String = {
    val vbrSz = "(CASE CAST(i % 3 AS INT) WHEN 0 THEN v0 WHEN 1 THEN v1 ELSE v2 END)"
    s"""WITH base AS (
       |  SELECT doc_id, CAST(length(text) % 40 + 5 AS BIGINT) AS n,
       |    CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS BIGINT) AS rate,
       |    doc_id % 2 = 1 AS vbr,
       |    CAST(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 128 WHEN 1 THEN 160 WHEN 2 THEN 192 ELSE 224 END AS BIGINT) AS ck
       |  FROM documents),
       |sz AS (
       |  SELECT doc_id, n, rate, vbr,
       |    144000 * ck // rate AS cs,
       |    144000 * 112 // rate AS v0,
       |    144000 * 160 // rate AS v1,
       |    144000 * 224 // rate AS v2
       |  FROM base)
       |SELECT doc_id,
       |  'doc' || CAST(doc_id AS VARCHAR) AS title,
       |  rate AS sample_rate,
       |  CAST(CASE WHEN doc_id % 7 < 3 THEN 1 ELSE 2 END AS BIGINT) AS channels,
       |  n AS n_frames,
       |  CAST(n * 1152 * 1000 // rate AS BIGINT) AS duration_ms,
       |  CASE WHEN vbr THEN 'vbr' ELSE 'cbr' END AS bitrate_mode,
       |  CAST(CASE WHEN vbr
       |    THEN (n // 3) * (v0 + v1 + v2)
       |      + CASE WHEN n % 3 >= 1 THEN v0 ELSE 0 END
       |      + CASE WHEN n % 3 >= 2 THEN v1 ELSE 0 END
       |    ELSE n * cs END AS BIGINT) AS audio_bytes,
       |  CAST(21 + length('doc' || CAST(doc_id AS VARCHAR)) AS BIGINT) AS id3_bytes,
       |  vbr AS has_xing,
       |  CAST(COALESCE(list_sum(list_transform(range(1, CAST(n AS INT)), i ->
       |    list_sum(list_transform(range(CAST((CASE WHEN vbr THEN $vbrSz ELSE cs END) - (CASE WHEN doc_id % 5 = 2 THEN 6 ELSE 4 END) AS INT)), j ->
       |      (doc_id * 31 + i * 7 + j * 3) % 256)))), 0) AS BIGINT) AS pay_sum,
       |  doc_id % 5 = 2 AS has_crc
       |FROM sz ORDER BY doc_id""".stripMargin
  }

  val mp3ParseQ: Q = Q(
    "m_mp3_parse",
    Some(Mp3OracleSql),
    (s, d) =>
      parseMp3Streams(withMp3Containers(Tables.fanout(Tables.documents(s, d))))
        .orderBy(col("doc_id")))

  /** documents -> (doc_id, container): each doc carries a complete Ogg
    * stream (RFC 3533 pages, real page CRC-32s, BOS/EOS placement,
    * planted packets) framed into GRFT1 — modality 11, the sibling the
    * VERDICT r12 #8 option named alongside MP3. */
  def withOggContainers(docs: DataFrame, frameSize: Int = 64): DataFrame =
    docs.select(
      col("doc_id"),
      pack_frames(
        encode_ogg(col("doc_id").cast(LongType),
          (length(col("text")) % 30 + 3).cast("int")),
        lit(frameSize)).as("container"))

  /** Deframe + strict page walk: every page CRC-verified, every
    * packet reassembled by lacing values, every payload byte summed. */
  def parseOggStreams(containers: DataFrame): DataFrame =
    containers.select(col("doc_id"), parse_frames(col("container")).as("f"))
      .select(col("doc_id"), parse_ogg(col("f.payload")).as("h"))
      .select(col("doc_id"),
        col("h.n_pages").as("n_pages"),
        col("h.n_packets").as("n_packets"),
        col("h.serial").as("serial"),
        col("h.granule_last").as("granule_last"),
        col("h.payload_bytes").as("payload_bytes"),
        col("h.pay_sum").as("pay_sum"))

  /** The oracle recomputes every field — page count from the
    * 8-packets-per-page packing, every planted packet length, and the
    * full payload byte sum — from (doc_id, length(text)), so a lacing,
    * CRC-placement, paging, or byte-walk bug anywhere hash-fails. */
  private val OggOracleSql: String =
    """SELECT doc_id,
      |  CAST((n + 7) // 8 AS BIGINT) AS n_pages,
      |  n AS n_packets,
      |  CAST(doc_id % 1000000000 AS BIGINT) AS serial,
      |  n AS granule_last,
      |  CAST(list_sum(list_transform(range(CAST(n AS INT)), k -> 100 + (doc_id*7 + k*13) % 155)) AS BIGINT) AS payload_bytes,
      |  CAST(list_sum(list_transform(range(CAST(n AS INT)), k ->
      |    list_sum(list_transform(range(CAST(100 + (doc_id*7 + k*13) % 155 AS INT)), j -> (doc_id*17 + k*11 + j*5) % 256)))) AS BIGINT) AS pay_sum
      |FROM (SELECT doc_id, CAST(length(text) % 30 + 3 AS BIGINT) AS n
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  val oggParseQ: Q = Q(
    "m_ogg_parse",
    Some(OggOracleSql),
    (s, d) =>
      parseOggStreams(withOggContainers(Tables.documents(s, d)))
        .orderBy(col("doc_id")))

  /** Decode the BIG-ENDIAN format inside GRFT1 frames: each document
    * carries a structurally complete PNG (signature + CRC-verified IHDR)
    * packed into a GRFT1 container; the query deframes, takes the first
    * frame, and parses width/height/bit-depth/color-type out of the
    * big-endian header — the parse REFUSES the row unless the IHDR's
    * CRC-32 matches, so the checked result pins the CRC computation on
    * every document, not just the corruption specs. The oracle
    * recomputes every field from text/doc_id. */
  private val PngOracleSql =
    """SELECT doc_id,
      |  CAST(length(text) % 80 + 1 AS BIGINT) AS width,
      |  CAST(length(text) % 60 + 1 AS BIGINT) AS height,
      |  CAST(8 AS BIGINT) AS bit_depth,
      |  CAST(doc_id % 2 * 4 + 2 AS BIGINT) AS color_type
      |FROM documents ORDER BY doc_id""".stripMargin

  val pngDecodeQ: Q = Q(
    "m_png_decode",
    Some(PngOracleSql),
    (s, d) =>
      parsePngHeaders(withPngContainers(Tables.fanout(Tables.documents(s, d))))
        .orderBy(col("doc_id")))

  /** Same oracle through the typed mapPartitions path. */
  val pngDecodeBatchQ: Q = Q(
    "m_png_decode_batch",
    Some(PngOracleSql),
    (s, d) =>
      parsePngHeadersBatch(withPngContainers(Tables.fanout(Tables.documents(s, d))))
        .orderBy(col("doc_id")))

  /** The WAV data bytes are (i·7 + seed) % 251 (WavCodec.encode), so
    * the oracle re-derives every 16-bit LE sample from doc_id and the
    * text length alone and recomputes the exact energy/peak — the
    * checked result pins the sign-extension and the full sample walk
    * on every document. COALESCE(…, 0): an empty text is a valid
    * 0-sample WAV, and the empty list_sum/list_max would otherwise
    * emit NULL where the Spark side has exact zeros. */
  private val WavPcmOracleSql: String = {
    val raw = "((2*k*7 + doc_id) % 251) + 256*(((2*k+1)*7 + doc_id) % 251)"
    s"""WITH geo AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) * (doc_id % 2 + 1) AS n
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, n,
       |    list_transform(generate_series(0, n - 1),
       |      k -> CASE WHEN $raw >= 32768 THEN $raw - 65536
       |           ELSE $raw END) AS ss
       |  FROM geo)
       |SELECT doc_id, n AS n_samples,
       |  CAST(COALESCE(list_sum(list_transform(ss, x -> x*x)), 0)
       |    AS BIGINT) AS sum_sq,
       |  CAST(COALESCE(list_max(list_transform(ss, x -> abs(x))), 0)
       |    AS BIGINT) AS peak
       |FROM s ORDER BY doc_id""".stripMargin
  }

  val wavLoudnessQ: Q = Q(
    "m_wav_loudness",
    Some(WavPcmOracleSql),
    (s, d) =>
      wavLoudness(withWavContainers(Tables.documents(s, d)))
        .orderBy(col("doc_id")))

  /** Same oracle through the typed mapPartitions full-payload path. */
  val wavLoudnessBatchQ: Q = Q(
    "m_wav_loudness_batch",
    Some(WavPcmOracleSql),
    (s, d) =>
      wavLoudnessBatch(withWavContainers(Tables.documents(s, d)))
        .orderBy(col("doc_id")))

  /** The PNG pixel bytes are (doc_id + 7x + 13y + 31c) mod 256
    * (PngCodec.pixelByte), so the oracle re-derives every per-channel
    * sum and peak from doc_id and the text length ALONE — independent
    * arithmetic that never touches bytes. The Spark side must
    * CRC-verify the chunk walk, INFLATE the real zlib IDAT stream,
    * reverse the scanline filters, and fold the samples to reproduce
    * the same integers: any bug in the compressed-payload path
    * hash-fails. Color type (and so the channel count) alternates by
    * doc_id parity: even -> truecolor (3), odd -> truecolor+alpha (4);
    * absent channels report sum/peak 0 on both engines. */
  private val PngPixelsOracleSql: String = {
    def samples(c: Int) =
      s"""flatten(list_transform(generate_series(0, h - 1), y ->
         |      list_transform(generate_series(0, w - 1), x ->
         |        (doc_id + 7*x + 13*y + 31*$c) % 256)))""".stripMargin
    val stats = (0 until 4).map { c =>
      s"""  CASE WHEN $c >= ch THEN 0
         |    ELSE CAST(list_sum(${samples(c)}) AS BIGINT) END AS sum_c$c,
         |  CASE WHEN $c >= ch THEN 0
         |    ELSE CAST(list_max(${samples(c)}) AS BIGINT) END AS peak_c$c""".stripMargin
    }.mkString(",\n")
    s"""WITH g AS (
       |  SELECT doc_id,
       |    CAST(length(text) % 80 + 1 AS BIGINT) AS w,
       |    CAST(length(text) % 60 + 1 AS BIGINT) AS h,
       |    CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS BIGINT) AS ch
       |  FROM documents)
       |SELECT doc_id, w AS width, h AS height, ch AS channels,
       |  w * h AS n_px,
       |$stats
       |FROM g ORDER BY doc_id""".stripMargin
  }

  val pngPixelsQ: Q = Q(
    "m_png_pixels",
    Some(PngPixelsOracleSql),
    (s, d) =>
      pngPixels(withPngContainers(Tables.fanout(Tables.documents(s, d))))
        .orderBy(col("doc_id")))

  /** Same oracle through the typed mapPartitions full-payload path. */
  val pngPixelsBatchQ: Q = Q(
    "m_png_pixels_batch",
    Some(PngPixelsOracleSql),
    (s, d) =>
      pngPixelsBatch(withPngContainers(Tables.fanout(Tables.documents(s, d))))
        .orderBy(col("doc_id")))

  /** The recovered text must be CONTENT-identical to the original
    * column: the oracle fingerprints `documents.text` directly, the
    * Spark side must deframe + gunzip (CRC/ISIZE-verified) to reproduce
    * the same md5 and code-point length. Compressed bytes are
    * deliberately absent from the result — they are zlib-version-
    * specific and must never cross the engine boundary. */
  private val GzipOracleSql =
    """SELECT doc_id, md5(text) AS fp,
      |  CAST(length(text) AS BIGINT) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** The BMP pixel bytes are, per channel (BmpCodec.encode):
    * B = (doc_id + 7x + 13y) mod 251, G = (doc_id + 11x + 3y) mod 249,
    * R = (doc_id + 5x + 17y) mod 247 — the oracle re-derives every
    * per-channel sum and peak from doc_id and the text length alone,
    * so the Spark side's stride walk over padded bottom-up rows is
    * checked against independent arithmetic (a padding byte counted,
    * or a row misaligned, hash-fails). */
  private val BmpPixelsOracleSql: String = {
    def samples(expr: String) =
      s"""flatten(list_transform(generate_series(0, h - 1), y ->
         |      list_transform(generate_series(0, w - 1), x -> $expr)))""".stripMargin
    val chans = Seq(
      ("b", "(doc_id + 7*x + 13*y) % 251"),
      ("g", "(doc_id + 11*x + 3*y) % 249"),
      ("r", "(doc_id + 5*x + 17*y) % 247"))
    val stats = chans.map { case (c, e) =>
      s"""  CAST(list_sum(${samples(e)}) AS BIGINT) AS sum_$c,
         |  CAST(list_max(${samples(e)}) AS BIGINT) AS peak_$c""".stripMargin
    }.mkString(",\n")
    s"""WITH g AS (
       |  SELECT doc_id,
       |    CAST(length(text) % 64 + 1 AS BIGINT) AS w,
       |    CAST(length(text) % 48 + 1 AS BIGINT) AS h
       |  FROM documents)
       |SELECT doc_id, w AS width, h AS height, w * h AS n_px,
       |$stats
       |FROM g ORDER BY doc_id""".stripMargin
  }

  /** The content-seeded image's channel-0 sample at (x, y) is
    * (L + 7x + 13y) mod 256 with L = length(text) (PngCodec.pixelByte,
    * seed = L), so the oracle re-derives the 63-cell aHash from L
    * ALONE: sample coordinates x = (k%8)*w//8, y = (k//8)*h//8, integer
    * mean threshold, bit k set on v > mean. The Spark side must
    * reproduce the same BIGINT through deframe + CRC walk + inflate +
    * unfilter + grid sampling. */
  private val AHashCte: String =
    """h AS (
      |  SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 62),
      |    k -> CASE WHEN vs[k + 1] > mean THEN (CAST(1 AS BIGINT) << k) ELSE 0 END))
      |    AS BIGINT) AS ahash
      |  FROM (
      |    SELECT doc_id, vs, list_sum(vs) // 63 AS mean FROM (
      |      SELECT doc_id,
      |        list_transform(generate_series(0, 62), k ->
      |          (L + 7*(((k % 8) * w) // 8) + 13*(((k // 8) * h) // 8)) % 256) AS vs
      |      FROM (
      |        SELECT doc_id, CAST(length(text) AS BIGINT) AS L,
      |          CAST(length(text) % 80 + 1 AS BIGINT) AS w,
      |          CAST(length(text) % 60 + 1 AS BIGINT) AS h
      |        FROM documents))))""".stripMargin

  /** The content-seeded image's channel-0 sample at (x, y) is
    * (L + 7x + 13y) mod 256 (PngCodec.pixelByte, seed = L), so the
    * oracle re-derives the entire 4x4 resize from L alone — grid
    * coordinates x = (i*w)/4, y = (j*h)/4 row-major, exactly aHash's
    * sampling arithmetic at the resize target's geometry. */
  private val ImageResizeOracleSql: String = {
    val sample =
      "(L + 7*(((k % 4) * w) // 4) + 13*(((k // 4) * h) // 4)) % 256"
    s"""WITH g AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS L,
       |    CAST(length(text) % 80 + 1 AS BIGINT) AS w,
       |    CAST(length(text) % 60 + 1 AS BIGINT) AS h
       |  FROM documents)
       |SELECT doc_id,
       |  array_to_string(list_transform(range(16), k -> $sample), ',') AS px,
       |  CAST(list_sum(list_transform(range(16), k -> $sample)) AS BIGINT)
       |    AS px_sum
       |FROM g ORDER BY doc_id""".stripMargin
  }

  val imageResizeQ: Q = Q(
    "m_image_resize",
    Some(ImageResizeOracleSql),
    (s, d) =>
      imageResize(withPngContentContainers(Tables.fanout(Tables.documents(s, d))))
        .orderBy(col("doc_id")))

  val imageAHashQ: Q = Q(
    "m_image_ahash",
    Some(s"""WITH $AHashCte
            |SELECT doc_id, ahash FROM h ORDER BY doc_id""".stripMargin),
    (s, d) =>
      imageAHashes(withPngContentContainers(Tables.fanout(Tables.documents(s, d))))
        .orderBy(col("doc_id")))

  /** Near-dup image pairs; the oracle is the INDEPENDENT all-pairs
    * hamming join (never banded), so candidate-generation completeness
    * is checked, not assumed. */
  val imageDedupQ: Q = Q(
    "m_dedup_image_ahash",
    Some(s"""WITH $AHashCte
            |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
            |  CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
            |FROM h a JOIN h b ON a.doc_id < b.doc_id
            |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
            |ORDER BY a_id, b_id""".stripMargin),
    (s, d) =>
      imageNearDups(withPngContentContainers(Tables.documents(s, d))))

  /** The content-seeded WAV's data byte i is (i·7 + L) mod 251 with
    * L = length(text) (WavCodec.encode, seed = L, mono, nSamples = L),
    * so the oracle re-derives the 63-window energy fingerprint from L
    * ALONE: 16-bit LE samples sign-extended, window w = samples
    * [w·n/63, (w+1)·n/63), exact integer energies, integer mean
    * threshold, bit w set on E_w > mean. The Spark side must reproduce
    * the same BIGINT through deframe + RIFF validation + the full
    * sample walk. A 0-sample stream fingerprints to 0 on both engines
    * (the COALESCEd empty sums). */
  private val AudioFpCte: String = {
    val raw = "((2*k*7 + L) % 251) + 256*(((2*k+1)*7 + L) % 251)"
    s"""sq AS (
       |  SELECT doc_id, n,
       |    list_transform(generate_series(0, n - 1), k ->
       |      CASE WHEN $raw >= 32768
       |           THEN CAST(($raw - 65536) AS BIGINT) * ($raw - 65536)
       |           ELSE CAST($raw AS BIGINT) * ($raw) END) AS ss
       |  FROM (SELECT doc_id, CAST(length(text) AS BIGINT) AS L,
       |          CAST(length(text) AS BIGINT) AS n FROM documents)),
       |es AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(0, 62), w ->
       |      COALESCE(list_sum(ss[(w * n) // 63 + 1 : ((w + 1) * n) // 63]), 0)) AS e
       |  FROM sq),
       |h AS (
       |  SELECT doc_id,
       |    CAST(COALESCE(list_sum(list_transform(generate_series(0, 62),
       |      w -> CASE WHEN e[w + 1] > list_sum(e) // 63
       |           THEN (CAST(1 AS BIGINT) << w) ELSE 0 END)), 0) AS BIGINT) AS afp
       |  FROM es)""".stripMargin
  }

  val audioFpQ: Q = Q(
    "m_audio_fp",
    Some(s"""WITH $AudioFpCte
            |SELECT doc_id, afp FROM h ORDER BY doc_id""".stripMargin),
    (s, d) =>
      audioFps(withWavContentContainers(Tables.documents(s, d)))
        .orderBy(col("doc_id")))

  /** Near-dup audio pairs; the oracle is the INDEPENDENT all-pairs
    * hamming join (never banded) over the arithmetically re-derived
    * fingerprints. */
  val audioDedupQ: Q = Q(
    "m_dedup_audio_fp",
    Some(s"""WITH $AudioFpCte
            |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
            |  CAST(bit_count(xor(a.afp, b.afp)) AS BIGINT) AS hamming
            |FROM h a JOIN h b ON a.doc_id < b.doc_id
            |WHERE bit_count(xor(a.afp, b.afp)) <= 3
            |ORDER BY a_id, b_id""".stripMargin),
    (s, d) =>
      audioNearDups(withWavContentContainers(Tables.documents(s, d))))

  /** The oracle knows which kind each doc_id CARRIES (the generator's
    * mod-11 rule) and that kind's canonical stat formula — the Spark
    * side must recover both from the BYTES alone (magic sniff, then
    * the kind's real decoder), so a mis-route, a magic collision
    * (including the WAVE/AVI shared RIFF prefix), or a wrong decoder
    * output all hash-fail. Video's stat = total pixels w·h·frames. */
  private val SniffOracleSql: String =
    """SELECT doc_id,
      |  CASE CAST(doc_id % 11 AS INT)
      |    WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/bmp'
      |    WHEN 2 THEN 'audio/wav' WHEN 4 THEN 'image/jpeg'
      |    WHEN 5 THEN 'video/avi' WHEN 6 THEN 'image/gif'
      |    WHEN 7 THEN 'audio/flac'
      |    WHEN 8 THEN 'application/zstd'
      |    WHEN 9 THEN 'audio/mpeg'
      |    WHEN 10 THEN 'audio/ogg'
      |    ELSE 'text/gzip' END AS kind,
      |  CAST(CASE CAST(doc_id % 11 AS INT)
      |    WHEN 0 THEN (length(text) % 80 + 1) * (length(text) % 60 + 1)
      |    WHEN 1 THEN (length(text) % 64 + 1) * (length(text) % 48 + 1)
      |    WHEN 2 THEN length(text)
      |    WHEN 4 THEN (length(text) % 80 + 1) * (length(text) % 60 + 1)
      |    WHEN 5 THEN (length(text) % 24 + 8) * (length(text) % 19 + 8)
      |      * (length(text) % 4 + 2)
      |    WHEN 6 THEN (length(text) % 60 + 1) * (length(text) % 40 + 1)
      |    WHEN 7 THEN length(text)
      |    WHEN 8 THEN length(text)
      |    WHEN 9 THEN (length(text) % 40 + 5) * 1152
      |    WHEN 10 THEN length(text) % 30 + 3
      |    ELSE length(text) END AS BIGINT) AS stat
      |FROM documents ORDER BY doc_id""".stripMargin

  val sniffDispatchQ: Q = Q(
    "m_sniff_dispatch",
    Some(SniffOracleSql),
    (s, d) =>
      sniffDispatch(withMixedContainers(Tables.fanout(Tables.documents(s, d))))
        .orderBy(col("doc_id")))

  /** The oracle re-derives every kind's duplicate key from (doc_id mod
    * 10, text) by the generator formulas — the PNG aHash, BMP
    * per-channel sum/peak digest, WAV energy-fingerprint, JPEG
    * decoded-RGB digest, AVI per-frame-sum, GIF decoded-stat digest,
    * FLAC reconstructed-sample digest, zstd recovered-text md5, and
    * MP3 container-walk and Ogg page-walk digest constructions above, restricted to
    * each kind's docs — and elects survivors with the same (kind, key)
    * min-id window. The Spark side must reproduce keeper elections
    * through sniff + eleven REAL decoders, so a mis-route, a decode bug,
    * or a digest field-order slip all hash-fail. */
  private val MixedDedupOracleSql: String = {
    val raw = "((2*k*7 + L) % 251) + 256*(((2*k+1)*7 + L) % 251)"
    def bmpChan(expr: String) =
      s"""flatten(list_transform(generate_series(0, h - 1), y ->
         |      list_transform(generate_series(0, w - 1), x -> $expr)))""".stripMargin
    // JPEG: the JpegPixelsOracle arithmetic, content-seeded (L)
    val jy = "((L + 7*bx + 13*by) % 256)"
    val jcb = "((L + 11*(bx//2) + 3*(by//2)) % 256)"
    val jcr = "((L + 5*(bx//2) + 17*(by//2)) % 256)"
    val jr = s"greatest(0, least(255, $jy + ((91881*($jcr - 128) + 32768 + 16777216) >> 16) - 256))"
    val jg = s"greatest(0, least(255, $jy - ((22554*($jcb - 128) + 46802*($jcr - 128) + 32768 + 33554432) >> 16) + 512))"
    val jb = s"greatest(0, least(255, $jy + ((116130*($jcb - 128) + 32768 + 16777216) >> 16) - 256))"
    val jvis = "(least(8, w - 8*bx) * least(8, h - 8*by))"
    def jBlocks(expr: String) =
      s"""flatten(list_transform(range((h + 7) // 8), by ->
         |      list_transform(range((w + 7) // 8), bx -> $expr)))""".stripMargin
    // AVI: per-frame JPEG planted formulas with frame seed L*1000 + f
    // (f is the enclosing list_transform's lambda var)
    val vy = "(((L*1000 + f) + 7*bx + 13*by) % 256)"
    val vcb = "(((L*1000 + f) + 11*(bx//2) + 3*(by//2)) % 256)"
    val vcr = "(((L*1000 + f) + 5*(bx//2) + 17*(by//2)) % 256)"
    // GIF: the GifPixelsOracle arithmetic, content-seeded (L)
    val gIdx = "((L + x + 3*y) % P)"
    def gChan(m: Int) = s"((L + $m * $gIdx) % 256)"
    def gGrid(expr: String) =
      s"""flatten(list_transform(generate_series(0, h - 1), y ->
         |      list_transform(generate_series(0, w - 1), x -> $expr)))""".stripMargin
    val vr = s"greatest(0, least(255, $vy + ((91881*($vcr - 128) + 32768 + 16777216) >> 16) - 256))"
    val vg = s"greatest(0, least(255, $vy - ((22554*($vcb - 128) + 46802*($vcr - 128) + 32768 + 33554432) >> 16) + 512))"
    val vb = s"greatest(0, least(255, $vy + ((116130*($vcb - 128) + 32768 + 16777216) >> 16) - 256))"
    s"""WITH
       |pimg AS (
       |  SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 62),
       |    k -> CASE WHEN vs[k + 1] > mean THEN (CAST(1 AS BIGINT) << k) ELSE 0 END))
       |    AS BIGINT) AS ahash
       |  FROM (
       |    SELECT doc_id, vs, list_sum(vs) // 63 AS mean FROM (
       |      SELECT doc_id,
       |        list_transform(generate_series(0, 62), k ->
       |          (L + 7*(((k % 8) * w) // 8) + 13*(((k // 8) * h) // 8)) % 256) AS vs
       |      FROM (
       |        SELECT doc_id, CAST(length(text) AS BIGINT) AS L,
       |          CAST(length(text) % 80 + 1 AS BIGINT) AS w,
       |          CAST(length(text) % 60 + 1 AS BIGINT) AS h
       |        FROM documents WHERE doc_id % 11 = 0)))),
       |bstat AS (
       |  SELECT doc_id, w, h,
       |    ${bmpChan("(L + 7*x + 13*y) % 251")} AS bs,
       |    ${bmpChan("(L + 11*x + 3*y) % 249")} AS gs,
       |    ${bmpChan("(L + 5*x + 17*y) % 247")} AS rs
       |  FROM (SELECT doc_id, CAST(length(text) AS BIGINT) AS L,
       |      CAST(length(text) % 64 + 1 AS BIGINT) AS w,
       |      CAST(length(text) % 48 + 1 AS BIGINT) AS h
       |    FROM documents WHERE doc_id % 11 = 1)),
       |jkey AS (
       |  SELECT doc_id, md5(
       |    CAST(w AS VARCHAR) || '|' || CAST(h AS VARCHAR) || '|' || CAST(w*h AS VARCHAR)
       |    || '|' || CAST(CAST(list_sum(${jBlocks(s"$jr * $jvis")}) AS BIGINT) AS VARCHAR)
       |    || '|' || CAST(CAST(list_sum(${jBlocks(s"$jg * $jvis")}) AS BIGINT) AS VARCHAR)
       |    || '|' || CAST(CAST(list_sum(${jBlocks(s"$jb * $jvis")}) AS BIGINT) AS VARCHAR)
       |    || '|' || CAST(CAST(list_max(${jBlocks(jr)}) AS BIGINT) AS VARCHAR)
       |    || '|' || CAST(CAST(list_max(${jBlocks(jg)}) AS BIGINT) AS VARCHAR)
       |    || '|' || CAST(CAST(list_max(${jBlocks(jb)}) AS BIGINT) AS VARCHAR)) AS key
       |  FROM (SELECT doc_id, CAST(length(text) AS BIGINT) AS L,
       |      CAST(length(text) % 80 + 1 AS BIGINT) AS w,
       |      CAST(length(text) % 60 + 1 AS BIGINT) AS h
       |    FROM documents WHERE doc_id % 11 = 4)),
       |vkey AS (
       |  SELECT doc_id, md5(
       |    CAST(w AS VARCHAR) || '|' || CAST(h AS VARCHAR) || '|25|' ||
       |    array_to_string(list_transform(range(nf), f ->
       |      CAST(CAST(list_sum(${jBlocks(s"$vr * $jvis")}) AS BIGINT) AS VARCHAR) || ':' ||
       |      CAST(CAST(list_sum(${jBlocks(s"$vg * $jvis")}) AS BIGINT) AS VARCHAR) || ':' ||
       |      CAST(CAST(list_sum(${jBlocks(s"$vb * $jvis")}) AS BIGINT) AS VARCHAR)), ',')) AS key
       |  FROM (SELECT doc_id, CAST(length(text) AS BIGINT) AS L,
       |      CAST(length(text) % 24 + 8 AS BIGINT) AS w,
       |      CAST(length(text) % 19 + 8 AS BIGINT) AS h,
       |      CAST(length(text) % 4 + 2 AS BIGINT) AS nf
       |    FROM documents WHERE doc_id % 11 = 5)),
       |gkey AS (
       |  SELECT doc_id, md5(
       |    CAST(w AS VARCHAR) || '|' || CAST(h AS VARCHAR) || '|' ||
       |    CAST(P AS VARCHAR) || '|' || CAST(w*h AS VARCHAR)
       |    || '|' || CAST(CAST(list_sum(${gGrid(gChan(3))}) AS BIGINT) AS VARCHAR)
       |    || '|' || CAST(CAST(list_sum(${gGrid(gChan(5))}) AS BIGINT) AS VARCHAR)
       |    || '|' || CAST(CAST(list_sum(${gGrid(gChan(7))}) AS BIGINT) AS VARCHAR)
       |    || '|' || CAST(CAST(list_max(${gGrid(gChan(3))}) AS BIGINT) AS VARCHAR)
       |    || '|' || CAST(CAST(list_max(${gGrid(gChan(5))}) AS BIGINT) AS VARCHAR)
       |    || '|' || CAST(CAST(list_max(${gGrid(gChan(7))}) AS BIGINT) AS VARCHAR)) AS key
       |  FROM (SELECT doc_id, CAST(length(text) AS BIGINT) AS L,
       |      CAST(length(text) % 60 + 1 AS BIGINT) AS w,
       |      CAST(length(text) % 40 + 1 AS BIGINT) AS h,
       |      CAST(1 << CAST(length(text) % 3 + 2 AS INT) AS BIGINT) AS P
       |    FROM documents WHERE doc_id % 11 = 6)),
       |bkey AS (
       |  SELECT doc_id, md5(
       |    CAST(w AS VARCHAR) || '|' || CAST(h AS VARCHAR) || '|' || CAST(w*h AS VARCHAR)
       |    || '|' || CAST(CAST(list_sum(bs) AS BIGINT) AS VARCHAR)
       |    || '|' || CAST(CAST(list_sum(gs) AS BIGINT) AS VARCHAR)
       |    || '|' || CAST(CAST(list_sum(rs) AS BIGINT) AS VARCHAR)
       |    || '|' || CAST(CAST(list_max(bs) AS BIGINT) AS VARCHAR)
       |    || '|' || CAST(CAST(list_max(gs) AS BIGINT) AS VARCHAR)
       |    || '|' || CAST(CAST(list_max(rs) AS BIGINT) AS VARCHAR)) AS key
       |  FROM bstat),
       |sq AS (
       |  SELECT doc_id, n,
       |    list_transform(generate_series(0, n - 1), k ->
       |      CASE WHEN $raw >= 32768
       |           THEN CAST(($raw - 65536) AS BIGINT) * ($raw - 65536)
       |           ELSE CAST($raw AS BIGINT) * ($raw) END) AS ss
       |  FROM (SELECT doc_id, CAST(length(text) AS BIGINT) AS L,
       |          CAST(length(text) AS BIGINT) AS n
       |        FROM documents WHERE doc_id % 11 = 2)),
       |es AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(0, 62), w ->
       |      COALESCE(list_sum(ss[(w * n) // 63 + 1 : ((w + 1) * n) // 63]), 0)) AS e
       |  FROM sq),
       |paud AS (
       |  SELECT doc_id,
       |    CAST(COALESCE(list_sum(list_transform(generate_series(0, 62),
       |      w -> CASE WHEN e[w + 1] > list_sum(e) // 63
       |           THEN (CAST(1 AS BIGINT) << w) ELSE 0 END)), 0) AS BIGINT) AS afp
       |  FROM es),
       |fsv AS (
       |  SELECT doc_id, n,
       |    list_transform(generate_series(0, n - 1), k ->
       |      CASE WHEN $raw >= 32768
       |           THEN CAST(($raw - 65536) AS BIGINT)
       |           ELSE CAST($raw AS BIGINT) END) AS sv
       |  FROM (SELECT doc_id, CAST(length(text) AS BIGINT) AS L,
       |          CAST(length(text) AS BIGINT) AS n
       |        FROM documents WHERE doc_id % 11 = 7)),
       |fkey AS (
       |  SELECT doc_id, md5(
       |    CAST(n AS VARCHAR) || '|' ||
       |    CAST(CAST(COALESCE(list_sum(list_transform(sv, x -> x*x)), 0)
       |      AS BIGINT) AS VARCHAR) || '|' ||
       |    CAST(CAST(COALESCE(list_max(list_transform(sv, x -> abs(x))), 0)
       |      AS BIGINT) AS VARCHAR)) AS key
       |  FROM fsv),
       |msz AS (
       |  SELECT doc_id, L, n, rate, vbr,
       |    144000 * ck // rate AS cs,
       |    144000 * 112 // rate AS v0,
       |    144000 * 160 // rate AS v1,
       |    144000 * 224 // rate AS v2
       |  FROM (SELECT doc_id, CAST(length(text) AS BIGINT) AS L,
       |      CAST(length(text) % 40 + 5 AS BIGINT) AS n,
       |      CAST(CASE CAST(length(text) % 3 AS INT) WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS BIGINT) AS rate,
       |      length(text) % 2 = 1 AS vbr,
       |      CAST(CASE CAST(length(text) % 4 AS INT) WHEN 0 THEN 128 WHEN 1 THEN 160 WHEN 2 THEN 192 ELSE 224 END AS BIGINT) AS ck
       |    FROM documents WHERE doc_id % 11 = 9)),
       |mkey AS (
       |  SELECT doc_id, md5(
       |    CAST(n AS VARCHAR) || '|' ||
       |    CAST(CAST(CASE WHEN vbr
       |      THEN (n // 3) * (v0 + v1 + v2)
       |        + CASE WHEN n % 3 >= 1 THEN v0 ELSE 0 END
       |        + CASE WHEN n % 3 >= 2 THEN v1 ELSE 0 END
       |      ELSE n * cs END AS BIGINT) AS VARCHAR) || '|' ||
       |    CAST(CAST(COALESCE(list_sum(list_transform(range(1, CAST(n AS INT)), i ->
       |      list_sum(list_transform(range(CAST((CASE WHEN vbr THEN (CASE CAST(i % 3 AS INT) WHEN 0 THEN v0 WHEN 1 THEN v1 ELSE v2 END) ELSE cs END) - (CASE WHEN L % 5 = 2 THEN 6 ELSE 4 END) AS INT)), j ->
       |      (L * 31 + i * 7 + j * 3) % 256)))), 0) AS BIGINT) AS VARCHAR) || '|' ||
       |    CAST(rate AS VARCHAR) || '|' ||
       |    CAST(CASE WHEN L % 7 < 3 THEN 1 ELSE 2 END AS VARCHAR)) AS key
       |  FROM msz),
       |okey AS (
       |  SELECT doc_id, md5(
       |    CAST(n AS VARCHAR) || '|' ||
       |    CAST(CAST(list_sum(list_transform(range(CAST(n AS INT)), k -> 100 + (L*7 + k*13) % 155)) AS BIGINT) AS VARCHAR) || '|' ||
       |    CAST(CAST(list_sum(list_transform(range(CAST(n AS INT)), k ->
       |      list_sum(list_transform(range(CAST(100 + (L*7 + k*13) % 155 AS INT)), j -> (L*17 + k*11 + j*5) % 256)))) AS BIGINT) AS VARCHAR) || '|' ||
       |    CAST(L % 1000000000 AS VARCHAR)) AS key
       |  FROM (SELECT doc_id, CAST(length(text) AS BIGINT) AS L,
       |      CAST(length(text) % 30 + 3 AS BIGINT) AS n
       |    FROM documents WHERE doc_id % 11 = 10)),
       |keys AS (
       |  SELECT doc_id, 'image/png' AS kind, CAST(ahash AS VARCHAR) AS key FROM pimg
       |  UNION ALL
       |  SELECT doc_id, 'image/bmp', key FROM bkey
       |  UNION ALL
       |  SELECT doc_id, 'audio/wav', CAST(afp AS VARCHAR) FROM paud
       |  UNION ALL
       |  SELECT doc_id, 'text/gzip', md5(text) FROM documents WHERE doc_id % 11 = 3
       |  UNION ALL
       |  SELECT doc_id, 'image/jpeg', key FROM jkey
       |  UNION ALL
       |  SELECT doc_id, 'video/avi', key FROM vkey
       |  UNION ALL
       |  SELECT doc_id, 'image/gif', key FROM gkey
       |  UNION ALL
       |  SELECT doc_id, 'audio/flac', key FROM fkey
       |  UNION ALL
       |  SELECT doc_id, 'application/zstd', md5(text) FROM documents WHERE doc_id % 11 = 8
       |  UNION ALL
       |  SELECT doc_id, 'audio/mpeg', key FROM mkey
       |  UNION ALL
       |  SELECT doc_id, 'audio/ogg', key FROM okey)
       |SELECT doc_id, kind,
       |  min(doc_id) OVER (PARTITION BY kind, key) AS keeper_id,
       |  doc_id > min(doc_id) OVER (PARTITION BY kind, key) AS is_dup
       |FROM keys ORDER BY doc_id""".stripMargin
  }

  val mixedDedupQ: Q = Q(
    "m_dedup_mixed",
    Some(MixedDedupOracleSql),
    (s, d) =>
      mixedDedupSurvivors(withMixedContentContainers(Tables.fanout(Tables.documents(s, d)))))

  val bmpPixelsQ: Q = Q(
    "m_bmp_pixels",
    Some(BmpPixelsOracleSql),
    (s, d) =>
      bmpPixels(withBmpContainers(Tables.documents(s, d)))
        .orderBy(col("doc_id")))

  /** Same oracle through the typed mapPartitions full-payload path. */
  val bmpPixelsBatchQ: Q = Q(
    "m_bmp_pixels_batch",
    Some(BmpPixelsOracleSql),
    (s, d) =>
      bmpPixelsBatch(withBmpContainers(Tables.documents(s, d)))
        .orderBy(col("doc_id")))

  val gzipDecodeQ: Q = Q(
    "m_gzip_decode",
    Some(GzipOracleSql),
    (s, d) =>
      gunzipTexts(withGzipContainers(Tables.documents(s, d)))
        .orderBy(col("doc_id")))

  /** Same oracle through the typed mapPartitions full-payload path. */
  val gzipDecodeBatchQ: Q = Q(
    "m_gzip_decode_batch",
    Some(GzipOracleSql),
    (s, d) =>
      gunzipTextsBatch(withGzipContainers(Tables.documents(s, d)))
        .orderBy(col("doc_id")))

  // ---- JPEG baseline decode (the LOSSY, entropy-coded family member) -----

  /** documents -> (doc_id, container BINARY): a structurally complete
    * baseline JFIF JPEG per document (dims from the text, gray/4:2:0
    * color by doc_id parity, constant planted blocks — JpegCodec's
    * exactness design), framed into a GRFT1 container. frameSize=512 so
    * every marker segment up to and including SOS (≤ ~330 bytes) lands
    * in the FIRST frame — the header query parses without reassembling
    * the container, like the PNG/BMP/WAV decode twins. */
  def withJpegContainers(docs: DataFrame, frameSize: Int = 512): DataFrame =
    docs.select(
      col("doc_id"),
      pack_frames(
        encode_jpeg(
          (length(col("text")) % 80 + 1).cast("int"),
          (length(col("text")) % 60 + 1).cast("int"),
          when(col("doc_id") % 2 === 0, 3).otherwise(1).cast("int"),
          col("doc_id").cast(LongType),
          // every 7th-ish doc carries DRI/RSTn restarts (interval 2
          // MCUs) — transparent to content (same oracle), but the
          // decoder must resync and reset predictors to stay
          // hash-green on that slice of the corpus
          when(col("doc_id") % 7 === 3, 2).otherwise(0).cast("int")),
        lit(frameSize)).as("container"))

  /** Expression-path header decode: deframe, slice the FIRST frame,
    * walk the marker segments to SOS — all codegen'd. */
  def parseJpegHeaders(containers: DataFrame): DataFrame =
    containers.select(col("doc_id"), parse_frames(col("container")).as("f"))
      .select(col("doc_id"),
        parse_jpeg_header(
          expr("substring(f.payload, 1, cast(f.frame_lens[0] as int))")).as("h"))
      .select(col("doc_id"),
        col("h.width").as("width"), col("h.height").as("height"),
        col("h.channels").as("channels"), col("h.n_blocks").as("n_blocks"))

  /** Typed mapPartitions header path. */
  def parseJpegHeadersBatch(containers: DataFrame): DataFrame =
    RowDecode.longs(containers, "container", RowDecode.firstFrame,
      Seq("width", "height", "channels", "n_blocks"))(
      graft.functions.JpegCodec.parseHeaderRaw)

  /** Full-payload JPEG pixel decode: deframe, then the whole baseline
    * path — Huffman entropy decode, DC prediction, dequant, IDCT,
    * 4:2:0 replication upsample, fixed-point YCbCr→RGB — folded to
    * exact per-channel sum/peak. Pure narrow map. */
  def jpegPixels(containers: DataFrame): DataFrame =
    containers.select(col("doc_id"), parse_frames(col("container")).as("f"))
      .select(col("doc_id"), jpeg_pixel_stats(col("f.payload")).as("s"))
      .select(col("doc_id") +: JpegPixelCols.map(c => col(s"s.$c").as(c)): _*)

  private val JpegPixelCols = Seq("width", "height", "channels", "n_px",
    "sum_c0", "sum_c1", "sum_c2", "peak_c0", "peak_c1", "peak_c2")

  /** Header oracle: every field re-derived from text/doc_id, including
    * the sampling-factor block arithmetic (6 blocks per 16x16 MCU at
    * 4:2:0, 1 per 8x8 block at gray). */
  private val JpegOracleSql =
    """WITH g AS (
      |  SELECT doc_id,
      |    CAST(length(text) % 80 + 1 AS BIGINT) AS w,
      |    CAST(length(text) % 60 + 1 AS BIGINT) AS h,
      |    CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS BIGINT) AS ch
      |  FROM documents)
      |SELECT doc_id, w AS width, h AS height, ch AS channels,
      |  CAST(CASE WHEN ch = 3 THEN 6 * ((w + 15) // 16) * ((h + 15) // 16)
      |    ELSE ((w + 7) // 8) * ((h + 7) // 8) END AS BIGINT) AS n_blocks
      |FROM g ORDER BY doc_id""".stripMargin

  val jpegDecodeQ: Q = Q(
    "m_jpeg_decode",
    Some(JpegOracleSql),
    (s, d) =>
      parseJpegHeaders(withJpegContainers(Tables.documents(s, d)))
        .orderBy(col("doc_id")))

  /** Same oracle through the typed mapPartitions path. */
  val jpegDecodeBatchQ: Q = Q(
    "m_jpeg_decode_batch",
    Some(JpegOracleSql),
    (s, d) =>
      parseJpegHeadersBatch(withJpegContainers(Tables.documents(s, d)))
        .orderBy(col("doc_id")))

  /** Pixel oracle: decoded values re-derived from the planted block
    * formulas ALONE (JpegCodec's constant-block exactness design — the
    * oracle never touches bytes). Per luma block: Y from (doc_id, bx,
    * by); Cb/Cr from the enclosing chroma block (bx//2, by//2 — the
    * replication-upsample alignment); RGB via the SAME biased
    * fixed-point arithmetic (bias keeps every shifted operand
    * positive, so `>>` semantics cannot diverge between engines);
    * sums weight each block by its VISIBLE area, so any bug in the
    * Huffman walk, the predictor, the IDCT scaling, the upsample
    * alignment, or the edge clipping hash-fails. */
  private val JpegPixelsOracleSql: String = {
    val yv = "((doc_id + 7*bx + 13*by) % 256)"
    val cb = "((doc_id + 11*(bx//2) + 3*(by//2)) % 256)"
    val cr = "((doc_id + 5*(bx//2) + 17*(by//2)) % 256)"
    val r = s"greatest(0, least(255, $yv + ((91881*($cr - 128) + 32768 + 16777216) >> 16) - 256))"
    val gg = s"greatest(0, least(255, $yv - ((22554*($cb - 128) + 46802*($cr - 128) + 32768 + 33554432) >> 16) + 512))"
    val b = s"greatest(0, least(255, $yv + ((116130*($cb - 128) + 32768 + 16777216) >> 16) - 256))"
    val vis = "(least(8, w - 8*bx) * least(8, h - 8*by))"
    def blocks(expr: String) =
      s"""flatten(list_transform(range((h + 7) // 8), by ->
         |      list_transform(range((w + 7) // 8), bx -> $expr)))""".stripMargin
    s"""WITH g AS (
       |  SELECT doc_id,
       |    CAST(length(text) % 80 + 1 AS BIGINT) AS w,
       |    CAST(length(text) % 60 + 1 AS BIGINT) AS h,
       |    CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS BIGINT) AS ch
       |  FROM documents)
       |SELECT doc_id, w AS width, h AS height, ch AS channels,
       |  w * h AS n_px,
       |  CAST(CASE WHEN ch = 1 THEN list_sum(${blocks(s"$yv * $vis")})
       |    ELSE list_sum(${blocks(s"$r * $vis")}) END AS BIGINT) AS sum_c0,
       |  CAST(CASE WHEN ch = 1 THEN 0
       |    ELSE list_sum(${blocks(s"$gg * $vis")}) END AS BIGINT) AS sum_c1,
       |  CAST(CASE WHEN ch = 1 THEN 0
       |    ELSE list_sum(${blocks(s"$b * $vis")}) END AS BIGINT) AS sum_c2,
       |  CAST(CASE WHEN ch = 1 THEN list_max(${blocks(yv)})
       |    ELSE list_max(${blocks(r)}) END AS BIGINT) AS peak_c0,
       |  CAST(CASE WHEN ch = 1 THEN 0
       |    ELSE list_max(${blocks(gg)}) END AS BIGINT) AS peak_c1,
       |  CAST(CASE WHEN ch = 1 THEN 0
       |    ELSE list_max(${blocks(b)}) END AS BIGINT) AS peak_c2
       |FROM g ORDER BY doc_id""".stripMargin
  }

  val jpegPixelsQ: Q = Q(
    "m_jpeg_pixels",
    Some(JpegPixelsOracleSql),
    (s, d) =>
      jpegPixels(withJpegContainers(Tables.fanout(Tables.documents(s, d))))
        .orderBy(col("doc_id")))

  // ---- GIF87a (palette + hand-rolled LZW) ---------------------------------

  /** documents -> (doc_id, container): one GIF87a per document (dims
    * from the text, palette size 4/8/16 by doc_id mod 3, planted
    * palette/index formulas — GifCodec's exactness design), framed into
    * GRFT1 like the other image lanes. */
  def withGifContainers(docs: DataFrame, frameSize: Int = 512): DataFrame =
    docs.select(
      col("doc_id"),
      pack_frames(
        encode_gif(
          (length(col("text")) % 60 + 1).cast("int"),
          (length(col("text")) % 40 + 1).cast("int"),
          (col("doc_id") % 3 + 2).cast("int"),
          col("doc_id").cast(LongType)),
        lit(frameSize)).as("container"))

  private val GifHeaderOracle =
    """SELECT doc_id,
      |  CAST(length(text) % 60 + 1 AS BIGINT) AS width,
      |  CAST(length(text) % 40 + 1 AS BIGINT) AS height,
      |  CAST(1 << CAST(doc_id % 3 + 2 AS INT) AS BIGINT) AS palette_size,
      |  CAST((length(text) % 60 + 1) * (length(text) % 40 + 1) AS BIGINT) AS n_px
      |FROM documents ORDER BY doc_id""".stripMargin

  def parseGifHeaders(containers: DataFrame): DataFrame =
    containers.select(col("doc_id"), parse_frames(col("container")).as("f"))
      .select(col("doc_id"), parse_gif_header(col("f.payload")).as("h"))
      .select(col("doc_id"),
        col("h.width").as("width"), col("h.height").as("height"),
        col("h.palette_size").as("palette_size"), col("h.n_px").as("n_px"))

  def parseGifHeadersBatch(containers: DataFrame): DataFrame =
    RowDecode.longs(containers, "container", RowDecode.payload,
      Seq("width", "height", "palette_size", "n_px"))(
      graft.functions.GifCodec.parseHeaderRaw)

  val gifDecodeQ: Q = Q(
    "m_gif_decode",
    Some(GifHeaderOracle),
    (s, d) =>
      parseGifHeaders(withGifContainers(Tables.documents(s, d)))
        .orderBy(col("doc_id")))

  val gifDecodeBatchQ: Q = Q(
    "m_gif_decode_batch",
    Some(GifHeaderOracle),
    (s, d) =>
      parseGifHeadersBatch(withGifContainers(Tables.documents(s, d)))
        .orderBy(col("doc_id")))

  /** Pixel oracle by direct construction: the engine must run the
    * whole hand-rolled LZW (growing widths, clear/EOI, KwKwK) +
    * palette path to reproduce sums the oracle derives from the
    * planted formulas alone — any bit-packing or table-rebuild bug
    * hash-fails. */
  private val GifPixelsOracleSql: String = {
    val idx = "((doc_id + x + 3*y) % P)"
    def chan(mult: Int) = s"((doc_id + $mult * $idx) % 256)"
    def grid(expr: String) =
      s"""flatten(list_transform(generate_series(0, h - 1), y ->
         |      list_transform(generate_series(0, w - 1), x -> $expr)))""".stripMargin
    s"""WITH g AS (
       |  SELECT doc_id,
       |    CAST(length(text) % 60 + 1 AS BIGINT) AS w,
       |    CAST(length(text) % 40 + 1 AS BIGINT) AS h,
       |    CAST(1 << CAST(doc_id % 3 + 2 AS INT) AS BIGINT) AS P
       |  FROM documents)
       |SELECT doc_id, w AS width, h AS height, P AS palette_size,
       |  w * h AS n_px,
       |  CAST(list_sum(${grid(chan(3))}) AS BIGINT) AS sum_r,
       |  CAST(list_sum(${grid(chan(5))}) AS BIGINT) AS sum_g,
       |  CAST(list_sum(${grid(chan(7))}) AS BIGINT) AS sum_b,
       |  CAST(list_max(${grid(chan(3))}) AS BIGINT) AS peak_r,
       |  CAST(list_max(${grid(chan(5))}) AS BIGINT) AS peak_g,
       |  CAST(list_max(${grid(chan(7))}) AS BIGINT) AS peak_b
       |FROM g ORDER BY doc_id""".stripMargin
  }

  private val GifPixelCols = Seq("width", "height", "palette_size", "n_px",
    "sum_r", "sum_g", "sum_b", "peak_r", "peak_g", "peak_b")

  val gifPixelsQ: Q = Q(
    "m_gif_pixels",
    Some(GifPixelsOracleSql),
    (s, d) =>
      withGifContainers(Tables.fanout(Tables.documents(s, d)))
        .select(col("doc_id"), parse_frames(col("container")).as("f"))
        .select(col("doc_id"), gif_pixel_stats(col("f.payload")).as("s"))
        .select(col("doc_id") +: GifPixelCols.map(c => col(s"s.$c").as(c)): _*)
        .orderBy(col("doc_id")))

  val all: Seq[Q] = Seq(decodeQ, frameSampleQ, decodeBatchQ,
    containerDecodeQ, containerDecodeBatchQ, bmpDecodeQ, bmpDecodeBatchQ,
    wavDecodeQ, wavDecodeBatchQ, wavLoudnessQ, wavLoudnessBatchQ,
    pngDecodeQ, pngDecodeBatchQ, pngPixelsQ, pngPixelsBatchQ,
    bmpPixelsQ, bmpPixelsBatchQ, gzipDecodeQ, gzipDecodeBatchQ,
    jpegDecodeQ, jpegDecodeBatchQ, jpegPixelsQ,
    gifDecodeQ, gifDecodeBatchQ, gifPixelsQ,
    imageAHashQ, imageResizeQ, imageDedupQ, audioFpQ, audioDedupQ,
    sniffDispatchQ, mixedDedupQ, mp3ParseQ, oggParseQ)
}

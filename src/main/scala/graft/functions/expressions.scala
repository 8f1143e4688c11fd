package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions (codegen'd — preferred over UDFs per the
  * engine policy, SURVEY.md §2.10): these stay inside whole-stage codegen
  * so the hot paths they serve (pair-keyed BFS state, binary feature
  * extraction) never fall back to interpreted row processing.
  */

/** Canonical node pair packed into one 64-bit key:
  * (min(a,b) << 32) | max(a,b). Replaces the reference's (Int,Int) tuple
  * keys (Analytics.scala:251,269) with a single shuffle-friendly long;
  * requires non-negative ids < 2^32 (holds for all graph ids here).
  */
case class PackPair(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Long]; val y = b.asInstanceOf[Long]
    (math.min(x, y) << 32) | math.max(x, y)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"(java.lang.Math.min($a, $b) << 32) | java.lang.Math.max($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PackPair =
    copy(left = newLeft, right = newRight)
}

/** 16-bin histogram of the high nibble of each byte in a binary column —
  * the deterministic stand-in for multimodal feature extraction (the
  * container has no image/audio codecs; the Spark-side plumbing — binary
  * input, fixed-width numeric feature output, per-row narrow op — is the
  * real part). Returns array<long>[16].
  */
case class ByteHistogram(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[Array[Byte]]
    val h = new Array[Long](16)
    var i = 0
    while (i < bytes.length) { h((bytes(i) & 0xFF) >>> 4) += 1; i += 1 }
    new GenericArrayData(h)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val h = ctx.freshName("hist")
      val i = ctx.freshName("i")
      s"""
         |long[] $h = new long[16];
         |for (int $i = 0; $i < $c.length; $i++) {
         |  $h[(($c[$i]) & 0xFF) >>> 4] += 1L;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($h);
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): ByteHistogram =
    copy(child = newChild)
}

/** Every k-th byte of a binary column (deterministic "frame sampling"
  * stand-in for video/audio frame extraction). Returns binary. */
case class SampleBytes(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any, kv: Any): Any = {
    val bytes = v.asInstanceOf[Array[Byte]]
    val k = math.max(1, kv.asInstanceOf[Int])
    val out = new Array[Byte]((bytes.length + k - 1) / k)
    var i = 0
    while (i < out.length) { out(i) = bytes(i * k); i += 1 }
    out
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, kv) => {
      val k = ctx.freshName("k")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      s"""
         |int $k = java.lang.Math.max(1, $kv);
         |byte[] $out = new byte[($c.length + $k - 1) / $k];
         |for (int $i = 0; $i < $out.length; $i++) { $out[$i] = $c[$i * $k]; }
         |${ev.value} = $out;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SampleBytes =
    copy(left = newLeft, right = newRight)
}

/** Build a GRFT1 length-prefixed frame container from a binary payload
  * (FrameCodec.pack): the write side of the multimodal container pair.
  * Codegen emits a static call — stays inside whole-stage codegen.
  * NULL (not an exception) for payloads beyond the container's u16
  * frame-count cap, so one oversized document can't kill the query. */
case class PackFrames(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(p: Any, fs: Any): Any =
    FrameCodec.pack(p.asInstanceOf[Array[Byte]], fs.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, fs) => s"""
       |${ev.value} = graft.functions.FrameCodec.pack($p, $fs);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PackFrames =
    copy(left = newLeft, right = newRight)
}

/** Parse a GRFT1 container (FrameCodec.parse): magic/version check,
  * bounds-checked length-prefix walk, trailing-byte detection. Returns
  * struct(version, n_frames, frame_lens, payload); NULL on any
  * structural violation, so one corrupt blob filters out instead of
  * failing a 100-TB scan. */
case class ParseFrames(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ParseFrames.schema
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    FrameCodec.parse(v.asInstanceOf[Array[Byte]]) // null on corrupt
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.FrameCodec.parse($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): ParseFrames =
    copy(child = newChild)
}

object ParseFrames {
  val schema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("frame_lens", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("payload", BinaryType, nullable = false)))
}

/** Synthesize a complete 24bpp BMP (BmpCodec.encode) from
  * (width, height, seed) — the "media producer" side of the BMP decode
  * pair. NULL for non-positive dimensions. */
case class EncodeBmp(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(w: Any, h: Any, s: Any): Any =
    BmpCodec.encode(w.asInstanceOf[Int], h.asInstanceOf[Int], s.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, h, s) => s"""
       |${ev.value} = graft.functions.BmpCodec.encode($w, $h, $s);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): EncodeBmp =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Nearest-neighbor RESIZE of a PNG payload's channel 0 to (w2, h2)
  * through the full decode path (PngCodec.resample: CRC chunk walk +
  * inflate + unfilter + grid sample) — the explicit "resize" member of
  * the multimodal quartet. array<bigint> of w2*h2 row-major samples;
  * NULL on invalid geometry, an over-4096-sample target, or any
  * structural violation of the payload. */
case class PngResample(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(b: Any, w: Any, h: Any): Any = {
    val r = PngCodec.resample(b.asInstanceOf[Array[Byte]],
      w.asInstanceOf[Int], h.asInstanceOf[Int])
    if (r == null) null else new GenericArrayData(r)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, w, h) => {
      val tmp = ctx.freshName("resz")
      s"""
         |long[] $tmp = graft.functions.PngCodec.resample($b, $w, $h);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($tmp); }
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): PngResample =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Parse a BMP header (BmpCodec.parseHeaderRaw) from the first >= 54
  * bytes of a blob — magic, V3 info-header, planes, bit-depth,
  * compression, and geometry-vs-file-size consistency all validated.
  * struct(width, height, bpp, file_size); NULL on any violation. */
case class ParseBmpHeader(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ParseBmpHeader.schema
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    BmpCodec.parseHeader(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.BmpCodec.parseHeader($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): ParseBmpHeader =
    copy(child = newChild)
}

object ParseBmpHeader {
  val schema: StructType = StructType(Seq(
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("bpp", LongType, nullable = false),
    StructField("file_size", LongType, nullable = false)))
}

/** Synthesize a complete 16-bit PCM WAV (WavCodec.encode) from
  * (sampleRate, numChannels, nSamples, seed) — the "media producer"
  * side of the WAV decode pair. NULL for out-of-range parameters. */
case class EncodeWav(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(sr: Any, ch: Any, n: Any, s: Any): Any =
    WavCodec.encode(sr.asInstanceOf[Int], ch.asInstanceOf[Int],
      n.asInstanceOf[Int], s.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sr, ch, n, s) => s"""
       |${ev.value} = graft.functions.WavCodec.encode($sr, $ch, $n, $s);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): EncodeWav =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

/** Parse a RIFF/PCM WAV header (WavCodec.parseHeaderRaw) from the first
  * >= 44 bytes of a blob — magic tags, canonical PCM fmt chunk, and
  * byteRate / blockAlign / chunkSize geometry consistency all
  * validated. struct(num_channels, sample_rate, bits_per_sample,
  * n_samples, byte_rate); NULL on any violation. */
case class ParseWavHeader(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ParseWavHeader.schema
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    WavCodec.parseHeader(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.WavCodec.parseHeader($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): ParseWavHeader =
    copy(child = newChild)
}

object ParseWavHeader {
  val schema: StructType = StructType(Seq(
    StructField("num_channels", LongType, nullable = false),
    StructField("sample_rate", LongType, nullable = false),
    StructField("bits_per_sample", LongType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("byte_rate", LongType, nullable = false)))
}

/** Decode every 16-bit PCM sample of a complete WAV into exact-integer
  * loudness features (WavCodec.pcmStatsRaw): struct(n_samples, sum_sq,
  * peak); NULL on any structural violation or non-16-bit stream. */
case class ParseWavPcm(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ParseWavPcm.schema
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    WavCodec.pcmStats(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.WavCodec.pcmStats($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): ParseWavPcm =
    copy(child = newChild)
}

object ParseWavPcm {
  val schema: StructType = StructType(Seq(
    StructField("n_samples", LongType, nullable = false),
    StructField("sum_sq", LongType, nullable = false),
    StructField("peak", LongType, nullable = false)))
}

/** Synthesize a complete FLAC stream (FlacCodec.encode) from
  * (sampleRate, channels, nSamplesPerCh, seed) — the COMPRESSED audio
  * member of the media-producer family: real fixed-predictor + Rice
  * frames over the WAV lane's exact planted samples, CRC-8/CRC-16
  * framed, PCM-MD5 sealed. NULL for out-of-contract parameters. */
case class EncodeFlac(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  // declared input types → the analyzer inserts casts, so a SQL call
  // like encode_flac(8000, 1, 100, 42) with an INT seed literal coerces
  // to LONG instead of ClassCastException-ing the interpreted path
  // (ADVICE r11 #1 — the same gap EncodeAvi closed in r11)
  override def inputTypes: Seq[DataType] =
    Seq(IntegerType, IntegerType, IntegerType, LongType)
  override def nullSafeEval(sr: Any, ch: Any, n: Any, s: Any): Any =
    FlacCodec.encode(sr.asInstanceOf[Int], ch.asInstanceOf[Int],
      // defensive numeric widen: survives a directly-constructed plan
      // that bypassed the analyzer's implicit casts
      n.asInstanceOf[Int], s.asInstanceOf[Number].longValue())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sr, ch, n, s) => s"""
       |${ev.value} = graft.functions.FlacCodec.encode($sr, $ch, $n, $s);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): EncodeFlac =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

/** Parse a FLAC STREAMINFO (FlacCodec.parseHeaderRaw): marker +
  * metadata walk validated. struct(num_channels, sample_rate,
  * bits_per_sample, n_samples); NULL on any violation. */
case class ParseFlacHeader(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ParseFlacHeader.schema
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    FlacCodec.parseHeader(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.FlacCodec.parseHeader($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): ParseFlacHeader =
    copy(child = newChild)
}

object ParseFlacHeader {
  val schema: StructType = StructType(Seq(
    StructField("num_channels", LongType, nullable = false),
    StructField("sample_rate", LongType, nullable = false),
    StructField("bits_per_sample", LongType, nullable = false),
    StructField("n_samples", LongType, nullable = false)))
}

/** FULL FLAC decode (FlacCodec.pcmStatsRaw): frame walk, Rice/fixed/
  * LPC subframe decode, stereo decorrelation, CRC-8 + CRC-16 + PCM-MD5
  * verification, then the WAV lane's exact loudness stats over the
  * reconstructed samples. struct(n_samples, sum_sq, peak); NULL on any
  * violation — a flipped bit anywhere fails a checksum, never throws. */
case class ParseFlacPcm(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ParseWavPcm.schema
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    FlacCodec.pcmStats(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.FlacCodec.pcmStats($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): ParseFlacPcm =
    copy(child = newChild)
}

/** Strict UTF-8 validation stats over raw bytes
  * (EncodingUtil.utf8StatsRaw — maximal-subpart error accounting):
  * struct(n_bytes, n_chars, n_invalid, first_bad). Total: every byte
  * string has a verdict (first_bad = -1 when clean); null only on
  * null input. */
case class Utf8Stats(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = Utf8Stats.schema
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(v: Any): Any =
    EncodingUtil.utf8Stats(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.EncodingUtil.utf8Stats($c);
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): Utf8Stats =
    copy(child = newChild)
}

object Utf8Stats {
  val schema: StructType = StructType(Seq(
    StructField("n_bytes", LongType, nullable = false),
    StructField("n_chars", LongType, nullable = false),
    StructField("n_invalid", LongType, nullable = false),
    StructField("first_bad", LongType, nullable = false)))
}

/** Synthesize a structurally complete PNG (PngCodec.encode) from
  * (width, height, colorType, seed) — the big-endian "media producer"
  * of the codec family. NULL for invalid geometry/color type. */
case class EncodePng(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(w: Any, h: Any, ct: Any, s: Any): Any =
    PngCodec.encode(w.asInstanceOf[Int], h.asInstanceOf[Int],
      ct.asInstanceOf[Int], s.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, h, ct, s) => s"""
       |${ev.value} = graft.functions.PngCodec.encode($w, $h, $ct, $s);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): EncodePng =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

/** Parse a PNG IHDR (PngCodec.parseHeaderRaw) from the first >= 33
  * bytes of a blob — signature, IHDR-first, CRC-32 verified BEFORE any
  * field is trusted, then bit-depth/color-type legality.
  * struct(width, height, bit_depth, color_type); NULL on any
  * violation. */
case class ParsePngHeader(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ParsePngHeader.schema
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    PngCodec.parseHeader(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.PngCodec.parseHeader($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): ParsePngHeader =
    copy(child = newChild)
}

object ParsePngHeader {
  val schema: StructType = StructType(Seq(
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("bit_depth", LongType, nullable = false),
    StructField("color_type", LongType, nullable = false)))
}

/** FULL PNG pixel decode (PngCodec.pixelStatsRaw): CRC-verified chunk
  * walk, zlib inflate of the concatenated IDAT stream, all-five-filter
  * scanline reversal, then exact-integer per-channel sum/peak — the
  * image twin of ParseWavPcm. struct(width, height, channels, n_px,
  * sum_c0..3, peak_c0..3); NULL on any structural violation. */
case class PngPixelStats(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = PngPixelStats.schema
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    PngCodec.pixelStats(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.PngCodec.pixelStats($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): PngPixelStats =
    copy(child = newChild)
}

object PngPixelStats {
  val schema: StructType = StructType(
    Seq("width", "height", "channels", "n_px",
      "sum_c0", "sum_c1", "sum_c2", "sum_c3",
      "peak_c0", "peak_c1", "peak_c2", "peak_c3")
      .map(StructField(_, LongType, nullable = false)))
}

/** Synthesize a structurally complete baseline JFIF JPEG
  * (JpegCodec.encode) from (width, height, channels, seed,
  * restartInterval) — the LOSSY member of the media-producer family;
  * restartInterval > 0 emits DRI + in-sequence RSTn markers. Five
  * children, so it extends Expression directly with a hand-rolled
  * codegen (the Unary..Quaternary helper bases stop at four). NULL for
  * invalid geometry, channel count, or interval. */
case class EncodeJpeg(children: Seq[Expression]) extends Expression {
  require(children.length == 5, "encode_jpeg takes (w, h, ch, seed, dri)")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else JpegCodec.encode(vs(0).asInstanceOf[Int], vs(1).asInstanceOf[Int],
      vs(2).asInstanceOf[Int], vs(3).asInstanceOf[Long],
      acPlant = false, restartInterval = vs(4).asInstanceOf[Int])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evs = children.map(_.genCode(ctx))
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    ev.copy(code = code"""
       |${evs.map(_.code).mkString("\n")}
       |boolean ${ev.isNull} = ${evs.map(_.isNull).mkString(" || ")};
       |byte[] ${ev.value} = null;
       |if (!${ev.isNull}) {
       |  ${ev.value} = graft.functions.JpegCodec.encode(
       |    ${evs(0).value}, ${evs(1).value}, ${evs(2).value},
       |    ${evs(3).value}, false, ${evs(4).value});
       |  if (${ev.value} == null) { ${ev.isNull} = true; }
       |}""".stripMargin)
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): EncodeJpeg =
    copy(children = newChildren)
}

/** Parse the JPEG marker stream up to the scan header
  * (JpegCodec.parseHeaderRaw): SOI → DQT/DHT/SOF0 → SOS, every table
  * reference checked. struct(width, height, channels, n_blocks); NULL
  * on anything outside the baseline contract. */
case class ParseJpegHeader(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ParseJpegHeader.schema
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    JpegCodec.parseHeader(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.JpegCodec.parseHeader($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): ParseJpegHeader =
    copy(child = newChild)
}

object ParseJpegHeader {
  val schema: StructType = StructType(
    Seq("width", "height", "channels", "n_blocks")
      .map(StructField(_, LongType, nullable = false)))
}

/** FULL baseline JPEG decode (JpegCodec.pixelStatsRaw): Huffman entropy
  * decode with byte unstuffing, DC prediction, dequant, IDCT, 4:2:0
  * replication upsample, fixed-point YCbCr→RGB, then exact-integer
  * per-channel sum/peak over the visible pixels. struct(width, height,
  * channels, n_px, sum_c0..2, peak_c0..2); NULL on any violation. */
case class JpegPixelStats(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = JpegPixelStats.schema
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    JpegCodec.pixelStats(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.JpegCodec.pixelStats($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): JpegPixelStats =
    copy(child = newChild)
}

object JpegPixelStats {
  val schema: StructType = StructType(
    Seq("width", "height", "channels", "n_px",
      "sum_c0", "sum_c1", "sum_c2", "peak_c0", "peak_c1", "peak_c2")
      .map(StructField(_, LongType, nullable = false)))
}

/** Synthesize an MJPEG AVI (AviCodec.encode) from (width, height,
  * nFrames, fps, seed, restartInterval) — the VIDEO member of the
  * media-producer family; every frame is a complete baseline JFIF JPEG.
  * Six children → hand-rolled codegen like [[EncodeJpeg]]. NULL for
  * invalid geometry, non-divisor fps, or frame-count bounds. */
case class EncodeAvi(children: Seq[Expression])
    extends Expression with ImplicitCastInputTypes {
  require(children.length == 6 || children.length == 7,
    "encode_avi takes (w, h, nFrames, fps, seed, dri[, seedStride])")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  // declared input types → the analyzer inserts casts, so a SQL call
  // with an INT seedStride literal coerces to LONG instead of blowing
  // up the interpreted path's asInstanceOf (ADVICE r10 #4)
  override def inputTypes: Seq[DataType] =
    Seq(IntegerType, IntegerType, IntegerType, IntegerType, LongType,
      IntegerType) ++ (if (children.length == 7) Seq(LongType) else Nil)
  private def strideOf(vs: Seq[Any]): Long =
    // defensive numeric widen: survives even a path the analyzer's
    // implicit casts didn't see (e.g. a directly-constructed plan)
    if (vs.length == 7) vs(6).asInstanceOf[Number].longValue() else 1000L
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else AviCodec.encode(vs(0).asInstanceOf[Int], vs(1).asInstanceOf[Int],
      vs(2).asInstanceOf[Int], vs(3).asInstanceOf[Int],
      vs(4).asInstanceOf[Long], vs(5).asInstanceOf[Int], strideOf(vs))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evs = children.map(_.genCode(ctx))
    val stride = if (evs.length == 7) evs(6).value.toString else "1000L"
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    ev.copy(code = code"""
       |${evs.map(_.code).mkString("\n")}
       |boolean ${ev.isNull} = ${evs.map(_.isNull).mkString(" || ")};
       |byte[] ${ev.value} = null;
       |if (!${ev.isNull}) {
       |  ${ev.value} = graft.functions.AviCodec.encode(
       |    ${evs(0).value}, ${evs(1).value}, ${evs(2).value},
       |    ${evs(3).value}, ${evs(4).value}, ${evs(5).value}, $stride);
       |  if (${ev.value} == null) { ${ev.isNull} = true; }
       |}""".stripMargin)
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): EncodeAvi =
    copy(children = newChildren)
}

/** Per-frame byte-identity keys (AviCodec.frameKeysRaw): RIFF walk +
  * md5 over each frame's JPEG bytes — the re-packaging dedup key
  * (re-muxed/subset containers share keys; re-encodes don't).
  * array<struct(frame_idx BIGINT, fkey STRING)>; NULL on a
  * structurally invalid container. */
case class AviFrameKeys(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(AviFrameKeys.frameSchema, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    AviCodec.frameKeys(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.AviCodec.frameKeys($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): AviFrameKeys =
    copy(child = newChild)
}

object AviFrameKeys {
  val frameSchema: StructType = StructType(Seq(
    StructField("frame_idx", LongType, nullable = false),
    StructField("fkey", StringType, nullable = false)))
}

/** Synthesize one page's WARC/1.0 capture triplet (WarcCodec.encode)
  * from (docId, uri, html) — warcinfo + request + response with the
  * embedded HTTP messages. NULL on null inputs. */
case class EncodeWarc(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(d: Any, u: Any, h: Any): Any =
    WarcCodec.encode(d.asInstanceOf[Long], u.toString, h.toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, u, h) => s"""
       |${ev.value} = graft.functions.WarcCodec.encode($d, $u.toString(), $h.toString());
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): EncodeWarc = copy(first = f, second = s, third = t)
}

/** Synthesize a GIF87a of the planted palette/index formulas
  * (GifCodec.encode) from (width, height, palBits, seed) — the
  * palette + hand-rolled-LZW member of the media-producer family.
  * NULL for invalid geometry or palette size. */
case class EncodeGif(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(w: Any, h: Any, pb: Any, s: Any): Any =
    GifCodec.encode(w.asInstanceOf[Int], h.asInstanceOf[Int],
      pb.asInstanceOf[Int], s.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, h, pb, s) => s"""
       |${ev.value} = graft.functions.GifCodec.encode($w, $h, $pb, $s);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): EncodeGif =
    copy(first = f, second = s, third = t, fourth = q)
}

/** GIF header parse (GifCodec.parseHeaderRaw): magic, screen
  * descriptor, global table, image descriptor, sub-block framing, and
  * trailer validated — the LZW stream framed but NOT decoded (the
  * demux/decode split). struct(width, height, palette_size, n_px). */
case class ParseGifHeader(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ParseGifHeader.schema
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    GifCodec.parseHeader(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.GifCodec.parseHeader($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): ParseGifHeader =
    copy(child = newChild)
}

object ParseGifHeader {
  val schema: StructType = StructType(
    Seq("width", "height", "palette_size", "n_px")
      .map(StructField(_, LongType, nullable = false)))
}

/** FULL GIF decode (GifCodec.pixelStatsRaw): hand-rolled GIF-LZW
  * (LSB-first growing code width, clear/EOI, KwKwK, 12-bit cap) +
  * palette lookup, folded to exact per-channel sum/peak. struct(width,
  * height, palette_size, n_px, sum_r, sum_g, sum_b, peak_r, peak_g,
  * peak_b); NULL on any violation. */
case class GifPixelStats(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = GifPixelStats.schema
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    GifCodec.pixelStats(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.GifCodec.pixelStats($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): GifPixelStats =
    copy(child = newChild)
}

object GifPixelStats {
  val schema: StructType = StructType(
    Seq("width", "height", "palette_size", "n_px",
      "sum_r", "sum_g", "sum_b", "peak_r", "peak_g", "peak_b")
      .map(StructField(_, LongType, nullable = false)))
}

/** One WebDataset sample shard (TarCodec.packSample): a ustar tar of
  * {id}.txt / {id}.bmp / {id}.json — the standard multimodal training
  * layout. NULL on null inputs. */
case class EncodeWds(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(d: Any, t: Any, l: Any): Any =
    TarCodec.packSample(d.asInstanceOf[Long], t.toString, l.toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, t, l) => s"""
       |${ev.value} = graft.functions.TarCodec.packSample($d, $t.toString(), $l.toString());
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): EncodeWds = copy(first = f, second = s, third = t)
}

/** Tar member walk (TarCodec.parseRaw): ustar magic + version,
  * recomputed header checksums, octal fields, zero padding, two-block
  * end marker — array<struct(name, size, data)>; NULL on any
  * structural violation. */
case class TarMembers(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(TarMembers.memberSchema, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    TarCodec.members(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.TarCodec.members($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): TarMembers =
    copy(child = newChild)
}

object TarMembers {
  val memberSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("data", BinaryType, nullable = false)))
}

/** The .warc.gz form (WarcCodec.encodeGz): each record its own gzip
  * member, members concatenated — the standard seekable layout. */
case class EncodeWarcGz(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(d: Any, u: Any, h: Any): Any =
    WarcCodec.encodeGz(d.asInstanceOf[Long], u.toString, h.toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, u, h) => s"""
       |${ev.value} = graft.functions.WarcCodec.encodeGz($d, $u.toString(), $h.toString());
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): EncodeWarcGz = copy(first = f, second = s, third = t)
}

/** The `.warc.zst` form (WarcCodec.encodeZst): one RFC 8878 zstd frame
  * per record, concatenated — Common Crawl's current layout. */
case class EncodeWarcZst(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(d: Any, u: Any, h: Any): Any =
    WarcCodec.encodeZst(d.asInstanceOf[Long], u.toString, h.toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, u, h) => s"""
       |${ev.value} = graft.functions.WarcCodec.encodeZst($d, $u.toString(), $h.toString());
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): EncodeWarcZst = copy(first = f, second = s, third = t)
}

/** The Common Crawl dictionary stream (WarcCodec.encodeZstDict):
  * leading dict skippable frame + per-record frames compressed
  * against the shared raw dictionary. */
case class EncodeWarcZstDict(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(d: Any, u: Any, h: Any, dc: Any): Any =
    WarcCodec.encodeZstDict(d.asInstanceOf[Long], u.toString, h.toString,
      dc.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, u, h, dc) => s"""
       |${ev.value} = graft.functions.WarcCodec.encodeZstDict($d, $u.toString(), $h.toString(), $dc);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): EncodeWarcZstDict =
    copy(first = f, second = s, third = t, fourth = q)
}

/** Deterministic MP3 stream (Mp3Codec.encode): ID3v2.3 TIT2 tag +
  * MPEG-1 Layer III frames (CBR or Xing'd VBR by seed parity), the
  * planted arithmetic the oracle replays. */
case class EncodeMp3(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(s: Any, n: Any): Any =
    Mp3Codec.encode(s.asInstanceOf[Number].longValue(),
      n.asInstanceOf[Number].intValue())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, n) => s"""
       |${ev.value} = graft.functions.Mp3Codec.encode($s, $n);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): EncodeMp3 = copy(left = l, right = r)
}

/** Strict MP3 container parse (Mp3Codec.parse): ID3v2.3 walk + every
  * MPEG-1 Layer III frame header validated and measured; NULL on any
  * structural violation. */
case class ParseMp3(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ParseMp3.schema
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    Mp3Codec.parse(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.Mp3Codec.parse($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): ParseMp3 =
    copy(child = newChild)
}

object ParseMp3 {
  val schema: StructType = StructType(Seq(
    StructField("title", StringType, nullable = false),
    StructField("sample_rate", LongType, nullable = false),
    StructField("channels", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("bitrate_mode", StringType, nullable = false),
    StructField("audio_bytes", LongType, nullable = false),
    StructField("id3_bytes", LongType, nullable = false),
    StructField("has_xing", BooleanType, nullable = false),
    StructField("pay_sum", LongType, nullable = false),
    StructField("has_crc", BooleanType, nullable = false)))
}

/** Deterministic Ogg stream (OggCodec.encode): RFC 3533 pages with
  * real page CRC-32s, BOS/EOS placement, 8 planted packets per page. */
case class EncodeOgg(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(s: Any, n: Any): Any =
    OggCodec.encode(s.asInstanceOf[Number].longValue(),
      n.asInstanceOf[Number].intValue())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, n) => s"""
       |${ev.value} = graft.functions.OggCodec.encode($s, $n);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): EncodeOgg = copy(left = l, right = r)
}

/** Strict Ogg page walk (OggCodec.parse): CRC-verified pages, lacing
  * packet reassembly, placement/serial/sequence bookkeeping; NULL on
  * any structural violation. */
case class ParseOgg(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ParseOgg.schema
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    OggCodec.parse(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.OggCodec.parse($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): ParseOgg =
    copy(child = newChild)
}

object ParseOgg {
  val schema: StructType = StructType(Seq(
    StructField("n_pages", LongType, nullable = false),
    StructField("n_packets", LongType, nullable = false),
    StructField("serial", LongType, nullable = false),
    StructField("granule_last", LongType, nullable = false),
    StructField("payload_bytes", LongType, nullable = false),
    StructField("pay_sum", LongType, nullable = false)))
}

/** The train-once/ship dict form (WarcCodec.encodeZstDictBare):
  * per-record dict-compressed frames, NO leading dict frame — the
  * dictionary is an out-of-band artifact (VERDICT r12 #7). */
case class EncodeWarcZstDictBare(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(d: Any, u: Any, h: Any, dc: Any): Any =
    WarcCodec.encodeZstDictBare(d.asInstanceOf[Long], u.toString, h.toString,
      dc.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, u, h, dc) => s"""
       |${ev.value} = graft.functions.WarcCodec.encodeZstDictBare($d, $u.toString(), $h.toString(), $dc);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): EncodeWarcZstDictBare =
    copy(first = f, second = s, third = t, fourth = q)
}

/** Out-of-band-dictionary zstd decompress
  * (ZstdCodec.decompressWithDict): the decode side of the train-once/
  * ship convention — the dict arrives as a broadcast literal, not in
  * the stream. Strict like UnzstdBytes; NULL on any violation. */
case class UnzstdBytesDict(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(b: Any, dc: Any): Any =
    ZstdCodec.decompressWithDict(b.asInstanceOf[Array[Byte]],
      dc.asInstanceOf[Array[Byte]], ZstdCodec.MaxOutBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, dc) => s"""
       |${ev.value} = graft.functions.ZstdCodec.decompressWithDict($b, $dc, graft.functions.ZstdCodec.MaxOutBytes());
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): UnzstdBytesDict = copy(left = l, right = r)
}

/** The seekable `.warc.zst` form (WarcCodec.encodeZstSeekable):
  * per-record frames + the trailing seek table. */
case class EncodeWarcZstSeekable(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(d: Any, u: Any, h: Any): Any =
    WarcCodec.encodeZstSeekable(d.asInstanceOf[Long], u.toString, h.toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, u, h) => s"""
       |${ev.value} = graft.functions.WarcCodec.encodeZstSeekable($d, $u.toString(), $h.toString());
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): EncodeWarcZstSeekable = copy(first = f, second = s, third = t)
}

/** Random-access frame extraction from a seekable zstd stream
  * (ZstdCodec.seekExtract): decodes ONLY frame `i` via the trailing
  * seek table — size- and checksum-verified; NULL on any violation. */
case class ZstSeekExtract(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(b: Any, i: Any): Any =
    ZstdCodec.seekExtract(b.asInstanceOf[Array[Byte]],
      i.asInstanceOf[Number].intValue())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, i) => s"""
       |${ev.value} = graft.functions.ZstdCodec.seekExtract($b, $i);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): ZstSeekExtract = copy(left = l, right = r)
}

/** Binary zstd compress (ZstdCodec.compress): one RFC 8878 frame —
  * real LZ77 + Huffman literals + predefined-FSE sequences; the
  * reference CLI decodes the output (interop-pinned). */
case class ZstdBytes(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    ZstdCodec.compress(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.ZstdCodec.compress($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): ZstdBytes =
    copy(child = newChild)
}

/** Binary zstd decompress (ZstdCodec.decompress — strict RFC 8878,
  * XXH64-checksum-verified, bomb-capped, multi-frame + skippable
  * frames): bytes in, bytes out; NULL on any contract violation. */
case class UnzstdBytes(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    ZstdCodec.decompress(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.ZstdCodec.decompress($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): UnzstdBytes =
    copy(child = newChild)
}

/** Binary gzip (GzipCodec.gzip): bytes in, one RFC 1952 member out —
  * the BINARY sibling of GzipText for non-text payloads (tar shards,
  * WARC records). */
case class GzipBytes(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    GzipCodec.gzip(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.GzipCodec.gzip($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): GzipBytes =
    copy(child = newChild)
}

/** Binary gunzip (GzipCodec.gunzip — CRC/ISIZE-verified, bomb-capped,
  * multi-member): bytes in, bytes out. The BINARY sibling of
  * GunzipText for payloads that are not UTF-8 text. */
case class GunzipBytes(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    GzipCodec.gunzip(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.GzipCodec.gunzip($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): GunzipBytes =
    copy(child = newChild)
}

/** Parse a WARC file to its records (WarcCodec.parseRaw): version line,
  * CRLF header walk with required-header checks, Content-Length-framed
  * block, CRLF CRLF terminator, repeated to EOF; embedded HTTP status/
  * payload recovered from msgtype=response blocks. array<struct(
  * rec_idx, rec_type, uri, content_length, http_status, body)>; NULL
  * on anything outside the WARC/1.0 contract. */
case class WarcRecords(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(WarcRecords.recSchema, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    WarcCodec.records(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.WarcCodec.records($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): WarcRecords =
    copy(child = newChild)
}

object WarcRecords {
  val recSchema: StructType = StructType(Seq(
    StructField("rec_idx", LongType, nullable = false),
    StructField("rec_type", StringType, nullable = false),
    StructField("uri", StringType, nullable = false),
    StructField("content_length", LongType, nullable = false),
    StructField("http_status", LongType, nullable = false),
    StructField("body", StringType, nullable = false)))
}

/** Parse the AVI RIFF structure (AviCodec.parseHeaderRaw): hdrl/avih/
  * strh/strf consistency, full movi chunk walk with SOI-led payloads,
  * idx1 entry-for-entry cross-check. struct(width, height, n_frames,
  * fps, duration_ms); NULL on anything outside the MJPG contract. */
case class ParseAviHeader(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ParseAviHeader.schema
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    AviCodec.parseHeader(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.AviCodec.parseHeader($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): ParseAviHeader =
    copy(child = newChild)
}

object ParseAviHeader {
  val schema: StructType = StructType(
    Seq("width", "height", "n_frames", "fps", "duration_ms")
      .map(StructField(_, LongType, nullable = false)))
}

/** Demux + decode every stride-th MJPEG frame (AviCodec.frameStatsRaw):
  * RIFF walk, then the FULL baseline JPEG path per sampled frame, each
  * frame's decoded geometry cross-checked against the container header.
  * array<struct(frame_idx, sum_r, sum_g, sum_b, peak_r, peak_g,
  * peak_b)>; NULL when the container or any sampled frame is invalid. */
case class AviFrameStats(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType =
    ArrayType(AviFrameStats.frameSchema, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any, sv: Any): Any =
    AviCodec.frameStats(v.asInstanceOf[Array[Byte]], sv.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, sv) => s"""
       |${ev.value} = graft.functions.AviCodec.frameStats($c, $sv);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AviFrameStats =
    copy(left = newLeft, right = newRight)
}

object AviFrameStats {
  val frameSchema: StructType = StructType(
    Seq("frame_idx", "sum_r", "sum_g", "sum_b", "peak_r", "peak_g", "peak_b")
      .map(StructField(_, LongType, nullable = false)))
}

/** Perceptual average-hash of a PNG payload (PngCodec.aHash63): full
  * byte-path decode (CRC walk + inflate + unfilter), then the classic
  * 8x8-grid mean-threshold fingerprint — the image-dedup key. NULL on
  * any decode violation. */
case class PngAHash(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val r = PngCodec.aHash63(v.asInstanceOf[Array[Byte]])
    if (r == null) null else r.longValue()
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("ah")
      s"""
         |java.lang.Long $tmp = graft.functions.PngCodec.aHash63($c);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.longValue(); }
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): PngAHash =
    copy(child = newChild)
}

/** Perceptual audio fingerprint of a complete PCM WAV payload
  * (WavCodec.audioFp63): full sample walk, 63 equal windows, exact
  * integer energy per window thresholded on the mean — the audio-dedup
  * key, twin of [[PngAHash]]. NULL on any decode violation. */
case class WavAudioFp(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val r = WavCodec.audioFp63(v.asInstanceOf[Array[Byte]])
    if (r == null) null else r.longValue()
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("afp")
      s"""
         |java.lang.Long $tmp = graft.functions.WavCodec.audioFp63($c);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.longValue(); }
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): WavAudioFp =
    copy(child = newChild)
}

/** FULL BMP pixel decode (BmpCodec.pixelStatsRaw): stride walk over
  * padded bottom-up 24bpp rows into exact-integer per-channel sum/peak
  * — the uncompressed twin of PngPixelStats. struct(width, height,
  * n_px, sum_b, sum_g, sum_r, peak_b, peak_g, peak_r); NULL on any
  * structural violation. */
case class BmpPixelStats(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = BmpPixelStats.schema
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    BmpCodec.pixelStats(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.BmpCodec.pixelStats($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): BmpPixelStats =
    copy(child = newChild)
}

object BmpPixelStats {
  val schema: StructType = StructType(
    Seq("width", "height", "n_px", "sum_b", "sum_g", "sum_r",
      "peak_b", "peak_g", "peak_r")
      .map(StructField(_, LongType, nullable = false)))
}

/** Gzip a text column's UTF-8 bytes (GzipCodec.gzip) — the crawl-corpus
  * "media producer" for compressed text payloads. */
case class GzipText(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any =
    GzipCodec.gzip(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.GzipCodec.gzip($c.getBytes());
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): GzipText =
    copy(child = newChild)
}

/** Gunzip a binary column back to text (GzipCodec.gunzip): CRC-32 and
  * ISIZE trailers verified by the JDK stream, zip-bomb capped, NULL on
  * any violation — the gate a 100-TB WARC/WET scan applies before any
  * text operator runs. */
case class GunzipText(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val r = GzipCodec.gunzip(v.asInstanceOf[Array[Byte]])
    if (r == null) null
    else org.apache.spark.unsafe.types.UTF8String.fromBytes(r)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("gunz")
      s"""
         |byte[] $tmp = graft.functions.GzipCodec.gunzip($c);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromBytes($tmp); }
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): GunzipText =
    copy(child = newChild)
}

/** HTML main-text extraction (HtmlCodec.extractText): tag strip,
  * script/style/comment skip, entity decode, and the text-density
  * boilerplate drop — the crawl front-end operator between gunzip and
  * the quality/dedup family. Codegen emits a static call so the kernel
  * stays inside whole-stage codegen; deterministic (same bytes, same
  * text on every host), so the oracle can check it by direct
  * construction. */
case class HtmlExtract(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val r = HtmlCodec.extractText(v.toString)
    if (r == null) null
    else org.apache.spark.unsafe.types.UTF8String.fromString(r)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("htext")
      s"""
         |java.lang.String $tmp = graft.functions.HtmlCodec.extractText($c.toString());
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString($tmp); }
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): HtmlExtract =
    copy(child = newChild)
}

/** Extract every `<a href>` value in document order
  * (HtmlCodec.extractLinks) — the crawl-frontier feed. Hrefs are
  * entity-decoded but otherwise RAW; resolution against the page URL
  * and canonicalization are downstream column ops (graft.pipeline.Urls
  * owns URL semantics). */
case class HtmlLinks(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val r = HtmlCodec.extractLinks(v.toString)
    if (r == null) null
    else new GenericArrayData(r.map(
      org.apache.spark.unsafe.types.UTF8String.fromString(_)): Array[Any])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("hlinks")
      val arr = ctx.freshName("harr")
      s"""
         |java.lang.String[] $tmp = graft.functions.HtmlCodec.extractLinks($c.toString());
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else {
         |  UTF8String[] $arr = new UTF8String[$tmp.length];
         |  for (int k = 0; k < $tmp.length; k++) {
         |    $arr[k] = UTF8String.fromString($tmp[k]);
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);
         |}
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): HtmlLinks =
    copy(child = newChild)
}

/** Dot product of two double arrays as a strict left-to-right fold —
  * bit-identical to `aggregate(zip_with(a, b, _*_), 0.0, _+_)` but
  * codegen'd: Spark's higher-order functions run interpreted per element
  * (a measured 20x penalty on the embedding-similarity hot path).
  */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)
}

/** Integer dot product of two long arrays — the quantized-vector
  * (int8-in-long) twin of [[ArrayDot]]: exact BIGINT arithmetic (no
  * float summation order to pin), codegen'd so the O(n·dim) candidate
  * verify of a quantized similarity scan stays inside whole-stage
  * codegen. Overflow-safe for true int8 payloads: |q| <= 127 so
  * dim * 127^2 fits a Long for any realistic dimension. */
case class ArrayDotLong(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotLong =
    copy(left = newLeft, right = newRight)
}

/** Number of values two ascending, duplicate-free LONG arrays (`first`,
  * `second`) share among their leading `third` / `fourth` elements (each
  * clipped to [0, length]): one linear merge, no hash set and no slice
  * allocation. On such arrays it equals size(array_intersect(...)) of
  * the two leading slices. Null elements are not supported. The verify
  * kernel of [[graft.pipeline.PpJoin]], whose arrays are token ranks. */
case class SortedIntersectCount(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType), LongType, LongType)
  override def nullSafeEval(a: Any, b: Any, ea: Any, eb: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val nx = math.min(x.numElements().toLong, math.max(ea.asInstanceOf[Long], 0L))
    val ny = math.min(y.numElements().toLong, math.max(eb.asInstanceOf[Long], 0L))
    var i = 0; var j = 0; var c = 0L
    while (i < nx && j < ny) {
      val u = x.getLong(i); val v = y.getLong(j)
      if (u < v) i += 1
      else if (u > v) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, ea, eb) => {
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val u = ctx.freshName("u"); val v = ctx.freshName("v")
      s"""
         |int $nx = (int) java.lang.Math.min((long) $a.numElements(), java.lang.Math.max($ea, 0L));
         |int $ny = (int) java.lang.Math.min((long) $b.numElements(), java.lang.Math.max($eb, 0L));
         |int $i = 0, $j = 0;
         |long $c = 0L;
         |while ($i < $nx && $j < $ny) {
         |  long $u = $a.getLong($i), $v = $b.getLong($j);
         |  if ($u < $v) $i++;
         |  else if ($u > $v) $j++;
         |  else { $c++; $i++; $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): SortedIntersectCount =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

/** One citation-edge line `<from> <to>` -> array of one (from, to)
  * struct, NULL for a comment or malformed line (CitationText.edge):
  * the regex-free replacement for `split(trim(line), "\\s+")` plus two
  * casts. Meant for `inline`, so the line is tokenized once. */
case class ParseCitationEdge(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(CitationText.edgeSchema, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    CitationText.edge(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.CitationText.edge($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): ParseCitationEdge =
    copy(child = newChild)
}

/** One node-table line `<id> <yyyy-mm-dd>` -> array of one (id, year)
  * struct, NULL for a comment or malformed line (CitationText.date). */
case class ParsePublishedDate(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(CitationText.dateSchema, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    CitationText.date(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.CitationText.date($c);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): ParsePublishedDate =
    copy(child = newChild)
}

/** Column wrappers + SQL registration. */
object GraftFunctions {
  def parse_citation_edge(line: Column): Column =
    GraftColumnBridge.column(ParseCitationEdge(GraftColumnBridge.expression(line)))

  def parse_published_date(line: Column): Column =
    GraftColumnBridge.column(ParsePublishedDate(GraftColumnBridge.expression(line)))

  def array_dot(a: Column, b: Column): Column =
    GraftColumnBridge.column(ArrayDot(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def pack_pair(a: Column, b: Column): Column =
    GraftColumnBridge.column(PackPair(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def byte_histogram(c: Column): Column =
    GraftColumnBridge.column(ByteHistogram(GraftColumnBridge.expression(c)))

  def sample_bytes(c: Column, k: Column): Column =
    GraftColumnBridge.column(SampleBytes(
      GraftColumnBridge.expression(c), GraftColumnBridge.expression(k)))

  def pack_frames(payload: Column, frameSize: Column): Column =
    GraftColumnBridge.column(PackFrames(
      GraftColumnBridge.expression(payload), GraftColumnBridge.expression(frameSize)))

  def parse_frames(container: Column): Column =
    GraftColumnBridge.column(ParseFrames(GraftColumnBridge.expression(container)))

  def encode_bmp(width: Column, height: Column, seed: Column): Column =
    GraftColumnBridge.column(EncodeBmp(
      GraftColumnBridge.expression(width), GraftColumnBridge.expression(height),
      GraftColumnBridge.expression(seed)))

  def parse_bmp_header(bytes: Column): Column =
    GraftColumnBridge.column(ParseBmpHeader(GraftColumnBridge.expression(bytes)))

  def encode_wav(sampleRate: Column, numChannels: Column, nSamples: Column,
      seed: Column): Column =
    GraftColumnBridge.column(EncodeWav(
      GraftColumnBridge.expression(sampleRate),
      GraftColumnBridge.expression(numChannels),
      GraftColumnBridge.expression(nSamples),
      GraftColumnBridge.expression(seed)))

  def parse_wav_header(bytes: Column): Column =
    GraftColumnBridge.column(ParseWavHeader(GraftColumnBridge.expression(bytes)))

  def parse_wav_pcm(bytes: Column): Column =
    GraftColumnBridge.column(ParseWavPcm(GraftColumnBridge.expression(bytes)))

  def encode_flac(sampleRate: Column, numChannels: Column, nSamples: Column,
      seed: Column): Column =
    GraftColumnBridge.column(EncodeFlac(
      GraftColumnBridge.expression(sampleRate),
      GraftColumnBridge.expression(numChannels),
      GraftColumnBridge.expression(nSamples),
      GraftColumnBridge.expression(seed)))

  def parse_flac_header(bytes: Column): Column =
    GraftColumnBridge.column(ParseFlacHeader(GraftColumnBridge.expression(bytes)))

  def parse_flac_pcm(bytes: Column): Column =
    GraftColumnBridge.column(ParseFlacPcm(GraftColumnBridge.expression(bytes)))

  def utf8_stats(bytes: Column): Column =
    GraftColumnBridge.column(Utf8Stats(GraftColumnBridge.expression(bytes)))

  def encode_png(width: Column, height: Column, colorType: Column,
      seed: Column): Column =
    GraftColumnBridge.column(EncodePng(
      GraftColumnBridge.expression(width),
      GraftColumnBridge.expression(height),
      GraftColumnBridge.expression(colorType),
      GraftColumnBridge.expression(seed)))

  def parse_png_header(bytes: Column): Column =
    GraftColumnBridge.column(ParsePngHeader(GraftColumnBridge.expression(bytes)))

  def png_pixel_stats(bytes: Column): Column =
    GraftColumnBridge.column(PngPixelStats(GraftColumnBridge.expression(bytes)))

  def bmp_pixel_stats(bytes: Column): Column =
    GraftColumnBridge.column(BmpPixelStats(GraftColumnBridge.expression(bytes)))

  def png_ahash(bytes: Column): Column =
    GraftColumnBridge.column(PngAHash(GraftColumnBridge.expression(bytes)))

  def encode_jpeg(width: Column, height: Column, channels: Column,
      seed: Column, restartInterval: Column): Column =
    GraftColumnBridge.column(EncodeJpeg(Seq(
      GraftColumnBridge.expression(width),
      GraftColumnBridge.expression(height),
      GraftColumnBridge.expression(channels),
      GraftColumnBridge.expression(seed),
      GraftColumnBridge.expression(restartInterval))))

  def parse_jpeg_header(bytes: Column): Column =
    GraftColumnBridge.column(ParseJpegHeader(GraftColumnBridge.expression(bytes)))

  def jpeg_pixel_stats(bytes: Column): Column =
    GraftColumnBridge.column(JpegPixelStats(GraftColumnBridge.expression(bytes)))

  def encode_avi(width: Column, height: Column, nFrames: Column, fps: Column,
      seed: Column, restartInterval: Column): Column =
    GraftColumnBridge.column(EncodeAvi(Seq(
      GraftColumnBridge.expression(width),
      GraftColumnBridge.expression(height),
      GraftColumnBridge.expression(nFrames),
      GraftColumnBridge.expression(fps),
      GraftColumnBridge.expression(seed),
      GraftColumnBridge.expression(restartInterval))))

  def encode_avi_lib(width: Column, height: Column, nFrames: Column,
      fps: Column, seed: Column, restartInterval: Column,
      seedStride: Column): Column =
    GraftColumnBridge.column(EncodeAvi(Seq(
      GraftColumnBridge.expression(width),
      GraftColumnBridge.expression(height),
      GraftColumnBridge.expression(nFrames),
      GraftColumnBridge.expression(fps),
      GraftColumnBridge.expression(seed),
      GraftColumnBridge.expression(restartInterval),
      GraftColumnBridge.expression(seedStride))))

  def avi_frame_keys(bytes: Column): Column =
    GraftColumnBridge.column(AviFrameKeys(GraftColumnBridge.expression(bytes)))

  def encode_warc(docId: Column, uri: Column, html: Column): Column =
    GraftColumnBridge.column(EncodeWarc(
      GraftColumnBridge.expression(docId),
      GraftColumnBridge.expression(uri),
      GraftColumnBridge.expression(html)))

  def warc_records(bytes: Column): Column =
    GraftColumnBridge.column(WarcRecords(GraftColumnBridge.expression(bytes)))

  def encode_warc_gz(docId: Column, uri: Column, html: Column): Column =
    GraftColumnBridge.column(EncodeWarcGz(
      GraftColumnBridge.expression(docId),
      GraftColumnBridge.expression(uri),
      GraftColumnBridge.expression(html)))

  def gzip_bytes(bytes: Column): Column =
    GraftColumnBridge.column(GzipBytes(GraftColumnBridge.expression(bytes)))

  def gunzip_bytes(bytes: Column): Column =
    GraftColumnBridge.column(GunzipBytes(GraftColumnBridge.expression(bytes)))

  def encode_warc_zst(docId: Column, uri: Column, html: Column): Column =
    GraftColumnBridge.column(EncodeWarcZst(
      GraftColumnBridge.expression(docId),
      GraftColumnBridge.expression(uri),
      GraftColumnBridge.expression(html)))

  def encode_warc_zst_dict(docId: Column, uri: Column, html: Column,
      dict: Column): Column =
    GraftColumnBridge.column(EncodeWarcZstDict(
      GraftColumnBridge.expression(docId),
      GraftColumnBridge.expression(uri),
      GraftColumnBridge.expression(html),
      GraftColumnBridge.expression(dict)))

  def encode_mp3(seed: Column, nFrames: Column): Column =
    GraftColumnBridge.column(EncodeMp3(
      GraftColumnBridge.expression(seed),
      GraftColumnBridge.expression(nFrames)))

  def parse_mp3(bytes: Column): Column =
    GraftColumnBridge.column(ParseMp3(GraftColumnBridge.expression(bytes)))

  def encode_ogg(seed: Column, nPackets: Column): Column =
    GraftColumnBridge.column(EncodeOgg(
      GraftColumnBridge.expression(seed),
      GraftColumnBridge.expression(nPackets)))

  def parse_ogg(bytes: Column): Column =
    GraftColumnBridge.column(ParseOgg(GraftColumnBridge.expression(bytes)))

  def encode_warc_zst_dict_bare(docId: Column, uri: Column, html: Column,
      dict: Column): Column =
    GraftColumnBridge.column(EncodeWarcZstDictBare(
      GraftColumnBridge.expression(docId),
      GraftColumnBridge.expression(uri),
      GraftColumnBridge.expression(html),
      GraftColumnBridge.expression(dict)))

  def unzstd_bytes_dict(bytes: Column, dict: Column): Column =
    GraftColumnBridge.column(UnzstdBytesDict(
      GraftColumnBridge.expression(bytes),
      GraftColumnBridge.expression(dict)))

  def encode_warc_zst_seekable(docId: Column, uri: Column, html: Column): Column =
    GraftColumnBridge.column(EncodeWarcZstSeekable(
      GraftColumnBridge.expression(docId),
      GraftColumnBridge.expression(uri),
      GraftColumnBridge.expression(html)))

  def zst_seek_extract(bytes: Column, i: Column): Column =
    GraftColumnBridge.column(ZstSeekExtract(
      GraftColumnBridge.expression(bytes), GraftColumnBridge.expression(i)))

  def zstd_bytes(bytes: Column): Column =
    GraftColumnBridge.column(ZstdBytes(GraftColumnBridge.expression(bytes)))

  def unzstd_bytes(bytes: Column): Column =
    GraftColumnBridge.column(UnzstdBytes(GraftColumnBridge.expression(bytes)))

  def encode_gif(width: Column, height: Column, palBits: Column,
      seed: Column): Column =
    GraftColumnBridge.column(EncodeGif(
      GraftColumnBridge.expression(width),
      GraftColumnBridge.expression(height),
      GraftColumnBridge.expression(palBits),
      GraftColumnBridge.expression(seed)))

  def parse_gif_header(bytes: Column): Column =
    GraftColumnBridge.column(ParseGifHeader(GraftColumnBridge.expression(bytes)))

  def gif_pixel_stats(bytes: Column): Column =
    GraftColumnBridge.column(GifPixelStats(GraftColumnBridge.expression(bytes)))

  def encode_wds(docId: Column, text: Column, lang: Column): Column =
    GraftColumnBridge.column(EncodeWds(
      GraftColumnBridge.expression(docId),
      GraftColumnBridge.expression(text),
      GraftColumnBridge.expression(lang)))

  def tar_members(bytes: Column): Column =
    GraftColumnBridge.column(TarMembers(GraftColumnBridge.expression(bytes)))

  def parse_avi_header(bytes: Column): Column =
    GraftColumnBridge.column(ParseAviHeader(GraftColumnBridge.expression(bytes)))

  def avi_frame_stats(bytes: Column, stride: Column): Column =
    GraftColumnBridge.column(AviFrameStats(
      GraftColumnBridge.expression(bytes),
      GraftColumnBridge.expression(stride)))

  def png_resample(bytes: Column, w2: Column, h2: Column): Column =
    GraftColumnBridge.column(PngResample(GraftColumnBridge.expression(bytes),
      GraftColumnBridge.expression(w2), GraftColumnBridge.expression(h2)))

  def wav_audio_fp(bytes: Column): Column =
    GraftColumnBridge.column(WavAudioFp(GraftColumnBridge.expression(bytes)))

  def gzip_text(text: Column): Column =
    GraftColumnBridge.column(GzipText(GraftColumnBridge.expression(text)))

  def gunzip_text(bytes: Column): Column =
    GraftColumnBridge.column(GunzipText(GraftColumnBridge.expression(bytes)))

  def html_extract(html: Column): Column =
    GraftColumnBridge.column(HtmlExtract(GraftColumnBridge.expression(html)))

  def html_links(html: Column): Column =
    GraftColumnBridge.column(HtmlLinks(GraftColumnBridge.expression(html)))

  def array_dot_long(a: Column, b: Column): Column =
    GraftColumnBridge.column(ArrayDotLong(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def sorted_intersect_count(a: Column, b: Column): Column = {
    val whole = GraftColumnBridge.column(Literal(Long.MaxValue))
    sorted_intersect_count(a, b, whole, whole)
  }

  /** Over the leading `aEnd` elements of `a` and `bEnd` of `b`. */
  def sorted_intersect_count(a: Column, b: Column, aEnd: Column, bEnd: Column): Column =
    GraftColumnBridge.column(SortedIntersectCount(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b),
      GraftColumnBridge.expression(aEnd), GraftColumnBridge.expression(bEnd)))

  def cms_sketch(hashedKey: Column): Column = CmsSketch.cms_sketch(hashedKey)

  def cms_estimate(sketch: Column, hashedKey: Column): Column =
    CmsSketch.cms_estimate(sketch, hashedKey)

  /** Make the functions usable from SQL text too. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("pack_pair", es => PackPair(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("byte_histogram", es => ByteHistogram(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("sample_bytes", es => SampleBytes(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("array_dot", es => ArrayDot(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("pack_frames", es => PackFrames(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("parse_frames", es => ParseFrames(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("encode_bmp", es => EncodeBmp(es(0), es(1), es(2)), "scala_udf")
    reg.createOrReplaceTempFunction("parse_bmp_header", es => ParseBmpHeader(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("encode_wav", es => EncodeWav(es(0), es(1), es(2), es(3)), "scala_udf")
    reg.createOrReplaceTempFunction("parse_wav_header", es => ParseWavHeader(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("encode_flac", es => EncodeFlac(es(0), es(1), es(2), es(3)), "scala_udf")
    reg.createOrReplaceTempFunction("parse_flac_header", es => ParseFlacHeader(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("parse_flac_pcm", es => ParseFlacPcm(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("utf8_stats", es => Utf8Stats(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("encode_png", es => EncodePng(es(0), es(1), es(2), es(3)), "scala_udf")
    reg.createOrReplaceTempFunction("parse_png_header", es => ParsePngHeader(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("png_pixel_stats", es => PngPixelStats(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("bmp_pixel_stats", es => BmpPixelStats(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("png_ahash", es => PngAHash(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("encode_jpeg", es => EncodeJpeg(es.take(5)), "scala_udf")
    reg.createOrReplaceTempFunction("parse_jpeg_header", es => ParseJpegHeader(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("jpeg_pixel_stats", es => JpegPixelStats(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("encode_avi", es => EncodeAvi(es.take(7)), "scala_udf")
    reg.createOrReplaceTempFunction("parse_avi_header", es => ParseAviHeader(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("avi_frame_stats", es => AviFrameStats(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("avi_frame_keys", es => AviFrameKeys(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("encode_warc", es => EncodeWarc(es(0), es(1), es(2)), "scala_udf")
    reg.createOrReplaceTempFunction("warc_records", es => WarcRecords(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("encode_warc_gz", es => EncodeWarcGz(es(0), es(1), es(2)), "scala_udf")
    reg.createOrReplaceTempFunction("gzip_bytes", es => GzipBytes(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("gunzip_bytes", es => GunzipBytes(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("encode_warc_zst", es => EncodeWarcZst(es(0), es(1), es(2)), "scala_udf")
    reg.createOrReplaceTempFunction("zstd_bytes", es => ZstdBytes(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("encode_warc_zst_dict", es => EncodeWarcZstDict(es(0), es(1), es(2), es(3)), "scala_udf")
    reg.createOrReplaceTempFunction("encode_warc_zst_dict_bare", es => EncodeWarcZstDictBare(es(0), es(1), es(2), es(3)), "scala_udf")
    reg.createOrReplaceTempFunction("unzstd_bytes_dict", es => UnzstdBytesDict(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("encode_mp3", es => EncodeMp3(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("parse_mp3", es => ParseMp3(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("encode_ogg", es => EncodeOgg(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("parse_ogg", es => ParseOgg(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("encode_warc_zst_seekable", es => EncodeWarcZstSeekable(es(0), es(1), es(2)), "scala_udf")
    reg.createOrReplaceTempFunction("zst_seek_extract", es => ZstSeekExtract(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("unzstd_bytes", es => UnzstdBytes(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("encode_gif", es => EncodeGif(es(0), es(1), es(2), es(3)), "scala_udf")
    reg.createOrReplaceTempFunction("parse_gif_header", es => ParseGifHeader(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("gif_pixel_stats", es => GifPixelStats(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("encode_wds", es => EncodeWds(es(0), es(1), es(2)), "scala_udf")
    reg.createOrReplaceTempFunction("tar_members", es => TarMembers(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("png_resample", es => PngResample(es(0), es(1), es(2)), "scala_udf")
    reg.createOrReplaceTempFunction("wav_audio_fp", es => WavAudioFp(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("gzip_text", es => GzipText(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("gunzip_text", es => GunzipText(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("html_extract", es => HtmlExtract(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("html_links", es => HtmlLinks(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("array_dot_long", es => ArrayDotLong(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("cms_sketch",
      es => CmsSketchAgg(es.head).toAggregateExpression(), "scala_udf")
    reg.createOrReplaceTempFunction("cms_estimate",
      es => CmsEstimate(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("top_k_by", es => TopKByAgg(es(0), es(1),
      es(2) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"top_k_by: k must be an integer literal, got $other")
      }).toAggregateExpression(), "scala_udf")
  }
}

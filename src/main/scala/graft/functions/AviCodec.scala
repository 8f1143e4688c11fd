package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData

/** AVI 1.0 (RIFF) Motion-JPEG codec — the VIDEO member of the
  * recognizable-format family, and the first whose payload is itself a
  * full recognized codec: every frame is a complete baseline JFIF JPEG
  * decoded by [[JpegCodec]], so the container walk and the entropy
  * decode compose exactly the way a crawl's video lane does (demux →
  * per-frame decode → sample/fingerprint).
  *
  * Container layout (Microsoft AVI RIFF form, all sizes u32 LE — the
  * little-endian counterpoint to JPEG's big-endian marker stream):
  *
  *   RIFF <size> 'AVI '
  *     LIST <size> 'hdrl'
  *       'avih' 56   main header (usec/frame, total frames, w, h, ...)
  *       LIST <size> 'strl'
  *         'strh' 56  stream header (fccType 'vids', handler 'MJPG',
  *                    scale/rate = frame timing, length = frame count)
  *         'strf' 40  BITMAPINFOHEADER (biCompression 'MJPG')
  *     LIST <size> 'movi'
  *       repeated: '00dc' <size> <JPEG bytes> [pad to even]
  *     'idx1' 16*n    index: ('00dc', AVIIF_KEYFRAME, offset, size)
  *
  * CONTRACT (strict subset; anything outside NULLS, never throws —
  * the family's degrade-don't-throw rule): exactly one 'vids' stream,
  * handler + biCompression 'MJPG', scale=1, avih/strh/strf frame
  * counts and geometry mutually consistent, every movi chunk '00dc'
  * with an SOI-led payload, idx1 present and entry-for-entry equal to
  * the movi walk (offsets relative to the 'movi' fourcc), no trailing
  * bytes. A structurally valid container whose FRAME bytes are corrupt
  * parses at the header level but nulls at the frame-decode level —
  * the two failure surfaces are deliberately distinct, like a real
  * demuxer vs decoder split.
  *
  * EXACTNESS DESIGN: the generator plants per-frame seeds
  * `seed*1000 + f`, so [[JpegCodec]]'s constant-block roundtrip makes
  * every sampled frame's pixel statistics re-derivable from (seed,
  * frame index, geometry) arithmetic alone — the DuckDB oracle never
  * touches bytes, yet any bug in the RIFF walk, the chunk alignment,
  * the index cross-check, or the per-frame JPEG path hash-fails.
  */
object AviCodec {

  /** Frame-count bomb guard (a u32 field; real corpora cap far lower). */
  val MaxFrames: Int = 4096

  /** Container-size guard: the RIFF size fields are u32 and the encoder
    * allocates the whole container in one array, so the per-frame JPEG
    * sizes are accumulated in a LONG and the total is capped well below
    * Int.MaxValue — an in-contract but large encode (4096 frames of
    * multi-MB JPEGs) degrades to null instead of overflowing the Int
    * accumulator into a negative allocation size (the codec family's
    * nulls-never-throws rule). */
  val MaxContainerBytes: Long = 256L << 20

  private val Keyframe = 0x00000010 // AVIIF_KEYFRAME

  // ---- little-endian byte IO ----------------------------------------------

  private def putU32(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
    o.write(v & 0xFF); o.write((v >>> 8) & 0xFF)
    o.write((v >>> 16) & 0xFF); o.write((v >>> 24) & 0xFF)
  }
  private def putU16(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
    o.write(v & 0xFF); o.write((v >>> 8) & 0xFF)
  }
  private def putFcc(o: java.io.ByteArrayOutputStream, s: String): Unit = {
    var i = 0
    while (i < 4) { o.write(s.charAt(i).toInt); i += 1 }
  }

  private def u32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xFFL)) | ((b(i + 1) & 0xFFL) << 8) |
      ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)
  private def u16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
  private def fccIs(b: Array[Byte], i: Int, s: String): Boolean =
    (b(i) & 0xFF) == s.charAt(0) && (b(i + 1) & 0xFF) == s.charAt(1) &&
      (b(i + 2) & 0xFF) == s.charAt(2) && (b(i + 3) & 0xFF) == s.charAt(3)

  // ---- generator -----------------------------------------------------------

  /** A COMPLETE MJPEG AVI: `nFrames` color (4:2:0) baseline JPEGs of
    * `width` x `height`, frame f seeded `seed*seedStride + f`. The
    * default stride 1000 gives every video its own frame space; stride
    * 1 makes frames SHARED LIBRARY items (consecutive seeds produce
    * overlapping frame windows — the clip-detection corpus). `fps`
    * must divide 1,000,000 exactly (the avih usec/frame field is
    * integral — 10/20/25/50-class rates; anything else nulls).
    * `restartInterval` threads through to every frame's DRI. NULL on
    * invalid geometry, rate, or frame count — degrade, never throw. */
  def encode(width: Int, height: Int, nFrames: Int, fps: Int, seed: Long,
      restartInterval: Int = 0, seedStride: Long = 1000L): Array[Byte] = {
    if (nFrames < 1 || nFrames > MaxFrames) return null
    if (fps <= 0 || 1000000 % fps != 0) return null
    if (seedStride < 1) return null
    val frames = new Array[Array[Byte]](nFrames)
    var moviPayloadL = 0L // Long: 4096 frames x multi-MB JPEGs can pass Int
    var f = 0
    while (f < nFrames) {
      val jpg = JpegCodec.encode(width, height, 3, seed * seedStride + f,
        acPlant = false, restartInterval = restartInterval)
      if (jpg == null) return null
      frames(f) = jpg
      moviPayloadL += 8L + jpg.length + (jpg.length & 1)
      // bail BEFORE encoding the rest once the container can no longer
      // fit the cap — the guard stays cheap even for a 4096-frame ask
      if (moviPayloadL > MaxContainerBytes) return null
      f += 1
    }
    assemble(frames, width, height, fps)
  }

  /** Frame the pre-encoded JPEGs into a complete RIFF/AVI container.
    * Package-private so AviCodecSpec can exercise the Long size
    * accounting with synthetic frame bytes (forcing the cap through
    * real JPEG encodes would take ~a minute per run). NULL when the
    * container would exceed [[MaxContainerBytes]] — which keeps every
    * u32 size field and the output allocation safely inside Int. */
  private[graft] def assemble(frames: Array[Array[Byte]], width: Int,
      height: Int, fps: Int): Array[Byte] = {
    val nFrames = frames.length
    var maxFrame = 0
    var moviPayloadL = 0L
    frames.foreach { fr =>
      maxFrame = math.max(maxFrame, fr.length)
      moviPayloadL += 8L + fr.length + (fr.length & 1)
    }
    val usecPerFrame = 1000000 / fps
    val hdrlSize = 4 + (8 + 56) + (8 + (4 + (8 + 56) + (8 + 40)))
    val idxSize = 16 * nFrames
    val riffSizeL = 4L + (8 + hdrlSize) + (8 + 4 + moviPayloadL) + (8 + idxSize)
    if (riffSizeL + 8 > MaxContainerBytes) return null
    val moviSize = (4 + moviPayloadL).toInt
    val riffSize = riffSizeL.toInt

    val o = new java.io.ByteArrayOutputStream(riffSize + 8)
    putFcc(o, "RIFF"); putU32(o, riffSize); putFcc(o, "AVI ")
    // hdrl
    putFcc(o, "LIST"); putU32(o, hdrlSize); putFcc(o, "hdrl")
    putFcc(o, "avih"); putU32(o, 56)
    putU32(o, usecPerFrame); putU32(o, 0); putU32(o, 0)
    putU32(o, Keyframe) // AVIF_HASINDEX
    putU32(o, nFrames); putU32(o, 0); putU32(o, 1); putU32(o, maxFrame)
    putU32(o, width); putU32(o, height)
    putU32(o, 0); putU32(o, 0); putU32(o, 0); putU32(o, 0)
    // strl
    putFcc(o, "LIST"); putU32(o, 4 + (8 + 56) + (8 + 40)); putFcc(o, "strl")
    putFcc(o, "strh"); putU32(o, 56)
    putFcc(o, "vids"); putFcc(o, "MJPG")
    putU32(o, 0); putU16(o, 0); putU16(o, 0); putU32(o, 0)
    putU32(o, 1) // scale
    putU32(o, fps) // rate
    putU32(o, 0); putU32(o, nFrames); putU32(o, maxFrame)
    putU32(o, 0); putU32(o, 0)
    putU16(o, 0); putU16(o, 0); putU16(o, width); putU16(o, height)
    putFcc(o, "strf"); putU32(o, 40)
    putU32(o, 40); putU32(o, width); putU32(o, height)
    putU16(o, 1); putU16(o, 24)
    putFcc(o, "MJPG"); putU32(o, width * height * 3)
    putU32(o, 0); putU32(o, 0); putU32(o, 0); putU32(o, 0)
    // movi
    putFcc(o, "LIST"); putU32(o, moviSize); putFcc(o, "movi")
    val offsets = new Array[Int](nFrames)
    var rel = 4 // first chunk starts right after the 'movi' fourcc
    var f = 0
    while (f < nFrames) {
      offsets(f) = rel
      putFcc(o, "00dc"); putU32(o, frames(f).length)
      o.write(frames(f), 0, frames(f).length)
      if ((frames(f).length & 1) == 1) o.write(0)
      rel += 8 + frames(f).length + (frames(f).length & 1)
      f += 1
    }
    // idx1
    putFcc(o, "idx1"); putU32(o, idxSize)
    f = 0
    while (f < nFrames) {
      putFcc(o, "00dc"); putU32(o, Keyframe)
      putU32(o, offsets(f)); putU32(o, frames(f).length)
      f += 1
    }
    o.toByteArray
  }

  // ---- parser ---------------------------------------------------------------

  /** Parsed container: header fields + per-frame (offset, length) into
    * the original byte array. */
  private final case class Parsed(width: Int, height: Int, nFrames: Int,
      fps: Int, usecPerFrame: Long, frameOff: Array[Int],
      frameLen: Array[Int])

  /** Full structural walk; null on ANY violation of the contract. */
  private def parse(b: Array[Byte]): Parsed = {
    if (b == null || b.length < 12 + 8 + 192 + 12 + 8) return null
    if (!fccIs(b, 0, "RIFF")) return null
    if (u32(b, 4) != b.length - 8L) return null
    if (!fccIs(b, 8, "AVI ")) return null

    // LIST hdrl
    var off = 12
    if (!fccIs(b, off, "LIST")) return null
    val hdrlSize = u32(b, off + 4)
    if (hdrlSize < 4 || off + 8 + hdrlSize > b.length) return null
    if (!fccIs(b, off + 8, "hdrl")) return null
    val hdrlEnd = off + 8 + hdrlSize.toInt
    var p = off + 12
    // avih
    if (p + 8 > hdrlEnd || !fccIs(b, p, "avih") || u32(b, p + 4) != 56) return null
    if (p + 64 > hdrlEnd) return null
    val usecPerFrame = u32(b, p + 8)
    val totalFrames = u32(b, p + 24)
    val streams = u32(b, p + 32)
    val avihW = u32(b, p + 40)
    val avihH = u32(b, p + 44)
    if (streams != 1) return null
    if (usecPerFrame <= 0 || 1000000L % usecPerFrame != 0) return null
    if (totalFrames < 1 || totalFrames > MaxFrames) return null
    p += 64
    // LIST strl
    if (p + 12 > hdrlEnd || !fccIs(b, p, "LIST")) return null
    val strlSize = u32(b, p + 4)
    if (p + 8 + strlSize != hdrlEnd) return null // exactly one stream list
    if (!fccIs(b, p + 8, "strl")) return null
    p += 12
    // strh
    if (p + 8 > hdrlEnd || !fccIs(b, p, "strh") || u32(b, p + 4) != 56) return null
    if (p + 64 > hdrlEnd) return null
    if (!fccIs(b, p + 8, "vids") || !fccIs(b, p + 12, "MJPG")) return null
    val scale = u32(b, p + 28)
    val rate = u32(b, p + 32)
    val strhLen = u32(b, p + 40)
    if (scale != 1) return null
    if (rate <= 0 || rate > 1000000 || 1000000L % rate != 0) return null
    if (1000000L / rate != usecPerFrame) return null
    if (strhLen != totalFrames) return null
    p += 64
    // strf (BITMAPINFOHEADER)
    if (p + 8 > hdrlEnd || !fccIs(b, p, "strf") || u32(b, p + 4) != 40) return null
    if (p + 48 > hdrlEnd) return null
    if (u32(b, p + 8) != 40) return null
    val biW = u32(b, p + 12)
    val biH = u32(b, p + 16)
    if (u16(b, p + 20) != 1 || u16(b, p + 22) != 24) return null
    if (!fccIs(b, p + 24, "MJPG")) return null
    if (biW != avihW || biH != avihH) return null
    if (biW < 1 || biH < 1 || biW > 0xFFFF || biH > 0xFFFF) return null
    p += 48
    if (p != hdrlEnd) return null // no unconsumed hdrl bytes

    // LIST movi
    off = hdrlEnd
    if (off + 12 > b.length || !fccIs(b, off, "LIST")) return null
    val moviSize = u32(b, off + 4)
    if (moviSize < 4 || off + 8 + moviSize > b.length) return null
    if (!fccIs(b, off + 8, "movi")) return null
    val moviFcc = off + 8 // idx1 offsets are relative to this position
    val moviEnd = off + 8 + moviSize.toInt
    val n = totalFrames.toInt
    val frameOff = new Array[Int](n)
    val frameLen = new Array[Int](n)
    p = off + 12
    var f = 0
    while (p < moviEnd) {
      if (f >= n) return null // more chunks than the declared frame count
      if (p + 8 > moviEnd || !fccIs(b, p, "00dc")) return null
      val len = u32(b, p + 4)
      if (len < 4 || p + 8 + len > moviEnd) return null
      // payload must lead with SOI — a demuxer-level sanity gate
      if ((b(p + 8) & 0xFF) != 0xFF || (b(p + 9) & 0xFF) != 0xD8) return null
      frameOff(f) = p + 8
      frameLen(f) = len.toInt
      p += 8 + len.toInt + (len.toInt & 1)
      f += 1
    }
    if (p != moviEnd || f != n) return null

    // idx1 — entry-for-entry equal to the movi walk
    off = moviEnd
    if (off + 8 > b.length || !fccIs(b, off, "idx1")) return null
    if (u32(b, off + 4) != 16L * n) return null
    if (off + 8 + 16 * n != b.length) return null // nothing after the index
    p = off + 8
    f = 0
    while (f < n) {
      if (!fccIs(b, p, "00dc")) return null
      if (u32(b, p + 4) != Keyframe) return null
      if (u32(b, p + 8) != frameOff(f) - 8 - moviFcc) return null
      if (u32(b, p + 12) != frameLen(f)) return null
      p += 16
      f += 1
    }

    Parsed(biW.toInt, biH.toInt, n, (1000000L / usecPerFrame).toInt,
      usecPerFrame, frameOff, frameLen)
  }

  /** Header decode: [width, height, n_frames, fps, duration_ms];
    * null on any structural violation. duration_ms is exact by the
    * usec/frame divisibility contract. */
  def parseHeaderRaw(b: Array[Byte]): Array[Long] = {
    val p = parse(b)
    if (p == null) null
    else Array[Long](p.width, p.height, p.nFrames, p.fps,
      p.nFrames * p.usecPerFrame / 1000L)
  }

  /** Demux + per-frame decode of every `stride`-th frame (0, stride,
    * 2*stride, ...): rows [frame_idx, sum_r, sum_g, sum_b, peak_r,
    * peak_g, peak_b]. The decoded geometry of EVERY sampled frame must
    * match the container header (nComp 3, width, height) — a frame/
    * container consistency gate a real pipeline needs. Null when the
    * container or any sampled frame is invalid. */
  def frameStatsRaw(b: Array[Byte], stride: Int): Array[Array[Long]] = {
    if (stride < 1) return null
    val p = parse(b)
    if (p == null) return null
    val nSampled = (p.nFrames + stride - 1) / stride
    val out = new Array[Array[Long]](nSampled)
    var i = 0
    while (i < nSampled) {
      val f = i * stride
      val jpg = java.util.Arrays.copyOfRange(b, p.frameOff(f),
        p.frameOff(f) + p.frameLen(f))
      val s = JpegCodec.pixelStatsRaw(jpg)
      if (s == null) return null
      if (s(0) != p.width || s(1) != p.height || s(2) != 3) return null
      out(i) = Array[Long](f, s(4), s(5), s(6), s(7), s(8), s(9))
      i += 1
    }
    out
  }

  /** Demux + per-frame BYTE identity: rows [frame_idx, md5-hex of the
    * frame's JPEG bytes]. Byte-level keys are the re-packaging dedup
    * primitive — two containers built from the same frames (re-muxed,
    * re-ordered, subset clips) share keys even when their container
    * bytes differ entirely. (A re-ENCODE changes frame bytes; catching
    * that is the decoded-content dedup's job, not this one's.) Null on
    * a structurally invalid container. */
  def frameKeysRaw(b: Array[Byte]): Array[(Long, String)] = {
    val p = parse(b)
    if (p == null) return null
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[(Long, String)](p.nFrames)
    var f = 0
    while (f < p.nFrames) {
      md.reset()
      md.update(b, p.frameOff(f), p.frameLen(f))
      val hex = md.digest().map(x => f"$x%02x").mkString
      out(f) = (f.toLong, hex)
      f += 1
    }
    out
  }

  // ---- Spark-facing wrappers -----------------------------------------------

  def parseHeader(b: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val h = parseHeaderRaw(b)
    if (h == null) null
    else new GenericInternalRow(h.map(v => v: Any))
  }

  def frameStats(b: Array[Byte], stride: Int): GenericArrayData = {
    val rows = frameStatsRaw(b, stride)
    if (rows == null) null
    else new GenericArrayData(
      rows.map(r => new GenericInternalRow(r.map(v => v: Any)): Any))
  }

  def frameKeys(b: Array[Byte]): GenericArrayData = {
    val rows = frameKeysRaw(b)
    if (rows == null) null
    else new GenericArrayData(rows.map { case (i, k) =>
      new GenericInternalRow(Array[Any](i,
        org.apache.spark.unsafe.types.UTF8String.fromString(k))): Any
    })
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

/** WAV (RIFF/PCM) codec — the AUDIO twin of [[BmpCodec]]: after
  * deframing a GRFT1 container, an audio pipeline's first step is
  * parsing the RIFF header for channel count / sample rate / duration,
  * and canonical PCM WAV is the one audio format whose header is fully
  * specified in 44 bytes with no compression — parseable exactly,
  * byte-for-byte, with no external library.
  *
  * Layout produced/consumed (canonical PCM, no extension chunks):
  *   "RIFF" | chunkSize u32le = 36 + dataSize | "WAVE"
  *   "fmt " | 16 u32le | audioFormat=1 u16le | numChannels u16le |
  *     sampleRate u32le | byteRate u32le | blockAlign u16le |
  *     bitsPerSample u16le
  *   "data" | dataSize u32le | PCM sample bytes
  *
  * `parseHeaderRaw` needs only the first 44 bytes — exactly why the
  * registry queries read it from the FIRST GRFT1 frame without
  * reassembling the container — and nulls on any structural violation
  * (same contract as FrameCodec/BmpCodec: one corrupt blob filters
  * out, it doesn't kill a 100-TB scan).
  */
object WavCodec {

  /** 12-byte RIFF header + 24-byte fmt chunk + 8-byte data header. */
  val HeaderLen: Int = 44

  private def putIntLE(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte
    b(off + 1) = (v >>> 8).toByte
    b(off + 2) = (v >>> 16).toByte
    b(off + 3) = (v >>> 24).toByte
  }

  private def putShortLE(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte
    b(off + 1) = (v >>> 8).toByte
  }

  private def getIntLE(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
      ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)

  private def getShortLE(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)

  private def tag(b: Array[Byte], off: Int, t: String): Boolean =
    b(off) == t.charAt(0) && b(off + 1) == t.charAt(1) &&
      b(off + 2) == t.charAt(2) && b(off + 3) == t.charAt(3)

  /** A complete, valid 16-bit PCM WAV with deterministic sample bytes
    * derived from (index, seed) — null (not an exception) for
    * out-of-range parameters, so a bad computed parameter degrades on
    * the expression path like every other codec here. */
  def encode(sampleRate: Int, numChannels: Int, nSamples: Int,
      seed: Long): Array[Byte] = {
    if (sampleRate <= 0 || numChannels <= 0 || numChannels > 8 ||
      nSamples < 0 || nSamples > (Int.MaxValue - HeaderLen) / (numChannels * 2))
      return null
    val blockAlign = numChannels * 2 // 16-bit PCM
    val dataSize = nSamples * blockAlign
    val out = new Array[Byte](HeaderLen + dataSize)
    out(0) = 'R'; out(1) = 'I'; out(2) = 'F'; out(3) = 'F'
    putIntLE(out, 4, 36 + dataSize)
    out(8) = 'W'; out(9) = 'A'; out(10) = 'V'; out(11) = 'E'
    out(12) = 'f'; out(13) = 'm'; out(14) = 't'; out(15) = ' '
    putIntLE(out, 16, 16) // PCM fmt chunk size
    putShortLE(out, 20, 1) // audioFormat = PCM
    putShortLE(out, 22, numChannels)
    putIntLE(out, 24, sampleRate)
    putIntLE(out, 28, sampleRate * blockAlign) // byteRate
    putShortLE(out, 32, blockAlign)
    putShortLE(out, 34, 16) // bitsPerSample
    out(36) = 'd'; out(37) = 'a'; out(38) = 't'; out(39) = 'a'
    putIntLE(out, 40, dataSize)
    var i = 0
    while (i < dataSize) {
      out(HeaderLen + i) = ((i * 7 + seed) % 251).toByte
      i += 1
    }
    out
  }

  /** Header parse over the first >= 44 bytes (a full file is NOT
    * required — the caller hands us the first container frame):
    * (num_channels, sample_rate, bits_per_sample, n_samples,
    * byte_rate), or null when the bytes are not a supported WAV.
    * Strict about the subset it claims: canonical PCM with the fmt
    * chunk at offset 12 and data at 36, sane channel count and bit
    * depth, and byteRate / blockAlign / chunkSize all consistent with
    * the declared geometry — so a bit flipped anywhere in the 44
    * header bytes is caught, not misread. */
  def parseHeaderRaw(b: Array[Byte]): Array[Long] = {
    if (b == null || b.length < HeaderLen) return null
    if (!tag(b, 0, "RIFF") || !tag(b, 8, "WAVE")) return null
    if (!tag(b, 12, "fmt ")) return null
    if (getIntLE(b, 16) != 16) return null // canonical PCM fmt size
    if (getShortLE(b, 20) != 1) return null // PCM only
    val channels = getShortLE(b, 22)
    if (channels < 1 || channels > 8) return null
    val sampleRate = getIntLE(b, 24)
    if (sampleRate <= 0) return null
    val byteRate = getIntLE(b, 28)
    val blockAlign = getShortLE(b, 32)
    val bps = getShortLE(b, 34)
    if (bps != 8 && bps != 16 && bps != 24 && bps != 32) return null
    // geometry consistency, overflow-safe in Long (all fields are
    // attacker-controlled up to 2^31)
    if (blockAlign.toLong != channels.toLong * bps / 8) return null
    if (byteRate.toLong != sampleRate.toLong * blockAlign) return null
    if (!tag(b, 36, "data")) return null
    val dataSize = getIntLE(b, 40)
    if (dataSize < 0) return null
    if (getIntLE(b, 4).toLong != 36L + dataSize) return null
    if (dataSize.toLong % blockAlign != 0) return null
    Array[Long](channels, sampleRate, bps, dataSize.toLong / blockAlign,
      byteRate)
  }

  /** Expression adapter: struct(num_channels, sample_rate,
    * bits_per_sample, n_samples, byte_rate) as an InternalRow, or
    * null. Called from generated code. */
  def parseHeader(b: Array[Byte]): InternalRow = {
    val raw = parseHeaderRaw(b)
    if (raw == null) null
    else new GenericInternalRow(
      Array[Any](raw(0), raw(1), raw(2), raw(3), raw(4)))
  }

  /** PCM sample statistics over a COMPLETE canonical WAV — the first
    * decode here that reads the DATA, not just a header: every
    * interleaved 16-bit sample is sign-extended and folded into
    * loudness features. Returns [n_samples_total, sum_sq, peak]
    * (sum_sq is the exact integer energy — RMS² · n — so no float
    * crosses an engine boundary; peak = max |s|). Null on any header
    * violation, a non-16-bit stream (the only depth this family
    * encodes), a payload shorter than the declared dataSize, or
    * trailing bytes — the null-on-ANY-violation contract. Overflow:
    * sum_sq ≤ (dataSize/2) · 2³⁰ < 2⁶¹ for the u32-bounded dataSize. */
  def pcmStatsRaw(b: Array[Byte]): Array[Long] = {
    val h = parseHeaderRaw(b)
    if (h == null) return null
    if (h(2) != 16L) return null
    val dataSize = getIntLE(b, 40)
    if (b.length != HeaderLen + dataSize) return null
    val n = dataSize / 2
    var sumSq = 0L
    var peak = 0L
    var k = 0
    while (k < n) {
      val s = (getShortLE(b, HeaderLen + 2 * k) << 16) >> 16 // sign-extend
      sumSq += s.toLong * s
      val a = if (s < 0) -s.toLong else s.toLong
      if (a > peak) peak = a
      k += 1
    }
    Array[Long](n.toLong, sumSq, peak)
  }

  /** Perceptual audio fingerprint over a COMPLETE canonical 16-bit PCM
    * WAV — the audio twin of PngCodec.aHash63: the interleaved sample
    * stream is cut into 63 equal windows by integer index arithmetic
    * (window w covers samples [w·n/63, (w+1)·n/63)), each window's
    * EXACT integer energy (sum of s²) is thresholded on the integer
    * mean energy (total / 63), bit w set on E_w > mean. 63 bits, not
    * 64 — bit 63 would make the packed long's sign engine-ambiguous
    * (the SimHash60 lesson). Content with the same samples fingerprints
    * identically; a re-encode that perturbs a few windows lands at a
    * small hamming distance — the property an audio-dedup operator
    * keys on. A 0-sample WAV fingerprints to 0 (silence); null on any
    * structural violation pcmStatsRaw would reject. Overflow: window
    * energy ≤ total ≤ (dataSize/2)·2³⁰ < 2⁶¹ for the u32-bounded
    * dataSize, so the Long arithmetic is exact. */
  def audioFp63(b: Array[Byte]): java.lang.Long = {
    val h = parseHeaderRaw(b)
    if (h == null) return null
    if (h(2) != 16L) return null
    val dataSize = getIntLE(b, 40)
    if (b.length != HeaderLen + dataSize) return null
    val n = dataSize / 2
    val e = new Array[Long](63)
    var total = 0L
    var w = 0
    while (w < 63) {
      val lo = (w.toLong * n / 63).toInt
      val hi = ((w + 1).toLong * n / 63).toInt
      var s = 0L
      var k = lo
      while (k < hi) {
        val v = (getShortLE(b, HeaderLen + 2 * k) << 16) >> 16 // sign-extend
        s += v.toLong * v
        k += 1
      }
      e(w) = s
      total += s
      w += 1
    }
    val mean = total / 63
    var fp = 0L
    var i = 0
    while (i < 63) {
      if (e(i) > mean) fp |= 1L << i
      i += 1
    }
    java.lang.Long.valueOf(fp)
  }

  /** Expression adapter: struct(n_samples, sum_sq, peak) or null. */
  def pcmStats(b: Array[Byte]): InternalRow = {
    val raw = pcmStatsRaw(b)
    if (raw == null) null
    else new GenericInternalRow(Array[Any](raw(0), raw(1), raw(2)))
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

/** GIF87a codec — the palette + LZW member of the recognizable-format
  * family, and the first whose compression layer is HAND-ROLLED (PNG
  * and gzip ride the JDK's zlib; GIF-LZW with its clear/EOI codes,
  * growing code width, 12-bit cap, and LSB-first bit packing has no
  * JDK implementation). Layout:
  *
  *   "GIF87a" | logical screen descriptor (w u16le, h u16le, packed,
  *   bg, aspect) | global color table (2^(n+1) RGB triples) |
  *   image descriptor 0x2C (left, top, w, h, packed) |
  *   LZW min-code-size byte | sub-blocks (len byte + payload, 0 ends) |
  *   trailer 0x3B
  *
  * CONTRACT (strict subset; anything outside NULLS, never throws):
  * GIF87a magic, global color table present, single full-frame
  * non-interlaced image descriptor with no local table, sub-block
  * framing exact, LZW stream must decode to EXACTLY w·h indices in
  * palette range and end with EOI, trailer present, no trailing bytes.
  *
  * EXACTNESS DESIGN (BMP-style direct construction): palette entry i =
  * ((seed+3i)%256, (seed+5i)%256, (seed+7i)%256); pixel (x,y) carries
  * index (seed + x + 3y) mod P — so the oracle re-derives per-channel
  * sums/peaks from arithmetic alone while the engine must run the
  * whole LZW + palette path to reproduce them. */
object GifCodec {

  /** Pixel bomb guard (matches the other image codecs' scale). */
  val MaxPixels: Long = 1 << 24

  // ---- planted formulas ----------------------------------------------------

  def palR(seed: Long, i: Int): Int = java.lang.Math.floorMod(seed + 3L * i, 256L).toInt
  def palG(seed: Long, i: Int): Int = java.lang.Math.floorMod(seed + 5L * i, 256L).toInt
  def palB(seed: Long, i: Int): Int = java.lang.Math.floorMod(seed + 7L * i, 256L).toInt
  def pixelIndex(seed: Long, x: Int, y: Int, palSize: Int): Int =
    java.lang.Math.floorMod(seed + x + 3L * y, palSize.toLong).toInt

  // ---- LZW (GIF variant: LSB-first, clear/EOI, 12-bit cap) -----------------

  private final class BitPacker {
    private val out = new java.io.ByteArrayOutputStream(256)
    private var acc = 0L
    private var nBits = 0
    def put(code: Int, width: Int): Unit = {
      acc |= (code.toLong << nBits)
      nBits += width
      while (nBits >= 8) {
        out.write((acc & 0xFF).toInt)
        acc >>>= 8
        nBits -= 8
      }
    }
    def finish(): Array[Byte] = {
      if (nBits > 0) out.write((acc & 0xFF).toInt)
      out.toByteArray
    }
  }

  /** GIF-LZW compress `indices` (values < 1 << minCodeSize cap). */
  private[graft] def lzwEncode(indices: Array[Int], minCodeSize: Int): Array[Byte] = {
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val packer = new BitPacker
    // (prefixCode, appended) -> code as a primitive LongMap: the boxed
    // tuple HashMap was the generator's hot spot (measured ~1.6x of
    // the whole m_gif_pixels wall at sf0.1)
    var dict = new scala.collection.mutable.LongMap[Int](4096)
    def key(w: Int, k: Int): Long = (w.toLong << 12) | k
    var next = eoi + 1
    var width = minCodeSize + 1
    packer.put(clear, width)
    // codes for strings: a string is (prefixCode, appendedIndex); roots
    // are the literal indices themselves
    var w = -1
    indices.foreach { k =>
      if (w < 0) w = k
      else dict.get(key(w, k)) match {
        case Some(c) => w = c
        case None =>
          packer.put(w, width)
          dict(key(w, k)) = next
          next += 1
          // widen when the just-assigned entry needs width+1 bits: the
          // NEXT emitted code may reference it (KwKwK references the
          // entry being defined), so both sides must switch at exactly
          // this position — the decoder's twin check anticipates with
          // post-add next == 2^width, which is the same entry index
          if (next - 1 == (1 << width) && width < 12) width += 1
          if (next == 4096) {
            packer.put(clear, width)
            dict = new scala.collection.mutable.LongMap[Int](4096)
            next = eoi + 1
            width = minCodeSize + 1
          }
          w = k
      }
    }
    if (w >= 0) packer.put(w, width)
    // stream-end subtlety (caught by the corpus sweep): after the final
    // data code the DECODER still performs one table add and then its
    // anticipation check — if the next free slot sits exactly at
    // 2^width it reads the EOI one bit wider. No entry follows here, so
    // mirror that check explicitly or the EOI is written one bit narrow
    // precisely when the stream ends on a boundary entry.
    if (next == (1 << width) && width < 12) width += 1
    packer.put(eoi, width)
    packer.finish()
  }

  /** GIF-LZW decompress to exactly `expected` indices; null on any
    * violation (bad code, early end, missing EOI, excess output). */
  private[graft] def lzwDecode(b: Array[Byte], minCodeSize: Int,
      expected: Int): Array[Int] = {
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val out = new Array[Int](expected)
    var outN = 0
    // table as (prefix, append); roots have prefix -1
    val prefix = new Array[Int](4096)
    val append = new Array[Int](4096)
    var next = eoi + 1
    var width = minCodeSize + 1
    var acc = 0L
    var nBits = 0
    var pos = 0
    var prev = -1
    def readCode(): Int = {
      while (nBits < width) {
        if (pos >= b.length) return -1
        acc |= (b(pos) & 0xFFL) << nBits
        nBits += 8
        pos += 1
      }
      val c = (acc & ((1L << width) - 1)).toInt
      acc >>>= width
      nBits -= width
      c
    }
    val stack = new Array[Int](4096) // shared chain buffer (hot path)
    def emit(code: Int): Boolean = {
      var sp = 0
      var c = code
      while (c >= clear) { // composite entries only exist above eoi
        stack(sp) = append(c); sp += 1
        c = prefix(c)
      }
      stack(sp) = c; sp += 1
      if (outN + sp > expected) return false
      var i = sp - 1
      while (i >= 0) { out(outN) = stack(i); outN += 1; i -= 1 }
      true
    }
    def firstOf(code: Int): Int = {
      var c = code
      while (c >= clear) c = prefix(c)
      c
    }
    var done = false
    while (!done) {
      val code = readCode()
      if (code < 0) return null
      if (code == clear) {
        next = eoi + 1
        width = minCodeSize + 1
        prev = -1
      } else if (code == eoi) {
        done = true
      } else if (prev < 0) {
        if (code >= clear) return null // first code must be a literal
        if (!emit(code)) return null
        prev = code
      } else {
        if (code > next || code == clear || code == eoi) return null
        if (code == next) {
          // KwKwK: entry being defined = prev + firstOf(prev)
          if (next >= 4096) return null
          prefix(next) = prev; append(next) = firstOf(prev)
          next += 1
          if (!emit(code)) return null // code IS the just-defined entry
        } else {
          if (next < 4096) {
            prefix(next) = prev; append(next) = firstOf(code)
            next += 1
          }
          if (!emit(code)) return null
        }
        if (next == (1 << width) && width < 12) width += 1
        prev = code
      }
    }
    if (outN != expected) return null
    out
  }

  // ---- byte IO ---------------------------------------------------------------

  private def putU16(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
    o.write(v & 0xFF); o.write((v >>> 8) & 0xFF)
  }
  private def u16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)

  // ---- generator --------------------------------------------------------------

  /** A COMPLETE GIF87a of the planted palette/index formulas.
    * `palBits` in 2..8 (palette size 4..256). Null on invalid geometry
    * or palette size — degrade, never throw. */
  def encode(width: Int, height: Int, palBits: Int, seed: Long): Array[Byte] = {
    if (width <= 0 || height <= 0) return null
    if (palBits < 2 || palBits > 8) return null
    if (width.toLong * height > MaxPixels) return null
    val p = 1 << palBits
    val o = new java.io.ByteArrayOutputStream(1024)
    "GIF87a".foreach(c => o.write(c.toInt))
    putU16(o, width); putU16(o, height)
    o.write(0x80 | ((palBits - 1) & 7)) // GCT present, size bits
    o.write(0) // bg color
    o.write(0) // aspect
    var i = 0
    while (i < p) {
      o.write(palR(seed, i)); o.write(palG(seed, i)); o.write(palB(seed, i))
      i += 1
    }
    o.write(0x2C) // image descriptor
    putU16(o, 0); putU16(o, 0); putU16(o, width); putU16(o, height)
    o.write(0) // no local table, not interlaced
    val indices = new Array[Int](width * height)
    var y = 0
    var k = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        indices(k) = pixelIndex(seed, x, y, p)
        k += 1; x += 1
      }
      y += 1
    }
    val minCode = math.max(2, palBits)
    o.write(minCode)
    val lzw = lzwEncode(indices, minCode)
    var off = 0
    while (off < lzw.length) {
      val n = math.min(255, lzw.length - off)
      o.write(n)
      o.write(lzw, off, n)
      off += n
    }
    o.write(0) // block terminator
    o.write(0x3B) // trailer
    o.toByteArray
  }

  // ---- parser -----------------------------------------------------------------

  private final case class Parsed(width: Int, height: Int, palSize: Int,
      palette: Array[Int], indices: Array[Int])

  private def parse(b: Array[Byte], decodePixels: Boolean): Parsed = {
    if (b == null || b.length < 14) return null
    if (new String(b, 0, 6, "US-ASCII") != "GIF87a") return null
    val w = u16(b, 6)
    val h = u16(b, 8)
    val packed = b(10) & 0xFF
    if ((packed & 0x80) == 0) return null // GCT required
    val palBits = (packed & 7) + 1
    val p = 1 << palBits
    if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) return null
    var off = 13
    if (off + 3 * p > b.length) return null
    val palette = new Array[Int](3 * p)
    var i = 0
    while (i < 3 * p) { palette(i) = b(off + i) & 0xFF; i += 1 }
    off += 3 * p
    // image descriptor
    if (off + 10 > b.length || (b(off) & 0xFF) != 0x2C) return null
    if (u16(b, off + 1) != 0 || u16(b, off + 3) != 0) return null
    if (u16(b, off + 5) != w || u16(b, off + 7) != h) return null
    val ipacked = b(off + 9) & 0xFF
    if ((ipacked & 0x80) != 0) return null // no local table
    if ((ipacked & 0x40) != 0) return null // no interlace
    off += 10
    if (off >= b.length) return null
    val minCode = b(off) & 0xFF
    if (minCode < 2 || minCode > 8) return null
    off += 1
    // sub-blocks
    val data = new java.io.ByteArrayOutputStream(b.length - off)
    var done = false
    while (!done) {
      if (off >= b.length) return null
      val n = b(off) & 0xFF
      off += 1
      if (n == 0) done = true
      else {
        if (off + n > b.length) return null
        data.write(b, off, n)
        off += n
      }
    }
    if (off >= b.length || (b(off) & 0xFF) != 0x3B) return null
    if (off + 1 != b.length) return null // no trailing bytes
    val indices =
      if (!decodePixels) null
      else {
        val idx = lzwDecode(data.toByteArray, minCode, w * h)
        if (idx == null) return null
        var j = 0
        while (j < idx.length) {
          if (idx(j) >= p) return null // index outside the palette
          j += 1
        }
        idx
      }
    Parsed(w, h, p, palette, indices)
  }

  /** Header decode: [width, height, palette_size, n_px]; null on any
    * structural violation (the LZW stream is framed but not decoded —
    * the demux/decode split, like the AVI twin). */
  def parseHeaderRaw(b: Array[Byte]): Array[Long] = {
    val p = parse(b, decodePixels = false)
    if (p == null) null
    else Array[Long](p.width, p.height, p.palSize, p.width.toLong * p.height)
  }

  /** FULL decode → exact per-channel stats over w·h pixels:
    * [width, height, palette_size, n_px, sum_r, sum_g, sum_b,
    * peak_r, peak_g, peak_b]. Null on any violation. */
  def pixelStatsRaw(b: Array[Byte]): Array[Long] = {
    val p = parse(b, decodePixels = true)
    if (p == null) return null
    val sums = new Array[Long](3)
    val peaks = new Array[Long](3)
    var i = 0
    while (i < p.indices.length) {
      val idx = p.indices(i)
      val r = p.palette(3 * idx)
      val g = p.palette(3 * idx + 1)
      val bl = p.palette(3 * idx + 2)
      sums(0) += r; sums(1) += g; sums(2) += bl
      if (r > peaks(0)) peaks(0) = r
      if (g > peaks(1)) peaks(1) = g
      if (bl > peaks(2)) peaks(2) = bl
      i += 1
    }
    Array[Long](p.width, p.height, p.palSize, p.width.toLong * p.height,
      sums(0), sums(1), sums(2), peaks(0), peaks(1), peaks(2))
  }

  // ---- Spark-facing wrappers ----------------------------------------------

  def parseHeader(b: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val h = parseHeaderRaw(b)
    if (h == null) null else new GenericInternalRow(h.map(v => v: Any))
  }

  def pixelStats(b: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val s = pixelStatsRaw(b)
    if (s == null) null else new GenericInternalRow(s.map(v => v: Any))
  }
}

package graft.functions

/** JPEG baseline codec (ITU T.81 / JFIF) — the LOSSY member of the
  * recognizable-format family, and the first whose decode crosses an
  * ENTROPY-CODED boundary: marker segment walk (SOI/APP0/DQT/SOF0/DHT/
  * SOS/EOI), canonical Huffman table build from DHT, bit-level entropy
  * decode with 0xFF00 byte unstuffing, DC prediction + magnitude
  * "extend", zig-zag dequantization, separable 2-D IDCT, level shift,
  * 4:2:0 chroma upsampling (sample replication), and the libjpeg-style
  * integer fixed-point YCbCr→RGB conversion.
  *
  * CONTRACT (the supported baseline subset — anything outside nulls,
  * never throws, the family's degrade-don't-throw rule):
  *  - SOF0 (baseline sequential DCT), 8-bit precision, single scan;
  *  - 1 component (grayscale, 1x1) or 3 components (YCbCr, 2x2/1x1/1x1
  *    = 4:2:0); other counts/sampling factors null;
  *  - 8-bit DQT entries (Pq=0), Ss=0/Se=63/AhAl=0 scan header;
  *  - DRI/RSTn restart intervals SUPPORTED (round 10): predictors
  *    reset at each byte-aligned RSTm, markers must arrive in
  *    sequence (an out-of-order RST is corrupt — lost-MCU detection,
  *    the point of restarts);
  *  - no progressive (SOF2), no arithmetic coding, no 12-bit — null,
  *    documented out of contract.
  *
  * EXACTNESS DESIGN (what makes a LOSSY codec oracle-checkable): the
  * generator plants CONSTANT 8x8 blocks. The FDCT of a constant block
  * is a lone DC coefficient 8*(v-128), and the quant tables put
  * q[DC]=8, so the quantized DC is exactly v-128 and the decode
  * roundtrips every planted value bit-exactly: the oracle recomputes
  * pixel statistics from the planted block formulas ALONE (it never
  * touches bytes), yet any bug in the Huffman walk, the predictor, the
  * dequant, the IDCT scaling, the upsample alignment, or the RGB
  * fixed-point math changes the decoded integers and hash-fails.
  * Non-constant blocks (real AC coefficients) are exercised in the
  * spec against an independent naive-IDCT twin.
  *
  * Planted block formulas (seed = doc_id; bx,by luma block coords,
  * cx,cy chroma block coords):
  *   Y(bx,by)  = (seed + 7*bx + 13*by) mod 256   (also the gray plane)
  *   Cb(cx,cy) = (seed + 11*cx + 3*cy) mod 256
  *   Cr(cx,cy) = (seed + 5*cx + 17*cy) mod 256
  *
  * RGB conversion — the SAME biased integer arithmetic on both
  * engines (bias keeps every shifted operand positive, so no
  * arithmetic-shift-of-negative semantics can diverge):
  *   r = clamp(y + ((91881*(cr-128)  + 32768 + 2^24) >> 16) - 256)
  *   g = clamp(y - ((22554*(cb-128) + 46802*(cr-128) + 32768 + 2^25) >> 16) + 512)
  *   b = clamp(y + ((116130*(cb-128) + 32768 + 2^24) >> 16) - 256)
  */
object JpegCodec {

  /** Encoder/decoder pixel-count cap (bomb guard, like
    * PngCodec.MaxEncodeSamples / MaxRawLen). */
  val MaxPixels: Long = 1L << 22

  // ---- tables ------------------------------------------------------------

  /** Quant tables: q[DC] = 8 (the exact-roundtrip pivot for constant
    * blocks), AC = 16. Luma = table 0, chroma = table 1 (identical by
    * value; both are written and parsed independently). */
  private[graft] val QTable: Array[Int] = {
    val q = Array.fill(64)(16)
    q(0) = 8
    q
  }

  /** DC Huffman table (ITU T.81 Annex K.3.1, typical luminance DC):
    * BITS (codes per length 1..16) and HUFFVAL (categories 0..11). */
  private val DcBits =
    Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0) // index 1..16
  private val DcVals = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)

  /** Compact AC Huffman table (spec-legal custom table — DHT carries
    * whatever the encoder declares): EOB + small run/size symbols, so
    * the canonical build and the run/size/extend path are all real.
    * Kraft sum = 1/4+1/4+1/8+1/16+1/16+1/32+1/32 < 1. */
  private val AcBits = Array(0, 0, 2, 1, 2, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val AcVals = Array(0x00, 0x01, 0x02, 0x03, 0x11, 0x21, 0xF0)

  /** Zig-zag order: ZigZag(k) = natural index of the k-th coefficient. */
  private[graft] val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** cos((2x+1)*u*pi/16) and the C(u) normalizers for the IDCT. */
  private val Cos: Array[Double] = {
    val t = new Array[Double](64)
    var x = 0
    while (x < 8) {
      var u = 0
      while (u < 8) {
        t(x * 8 + u) = math.cos((2 * x + 1) * u * math.Pi / 16)
        u += 1
      }
      x += 1
    }
    t
  }
  private val InvSqrt2 = 1.0 / math.sqrt(2.0)

  // ---- planted formulas ---------------------------------------------------

  def blockY(seed: Long, bx: Int, by: Int): Int =
    java.lang.Math.floorMod(seed + 7L * bx + 13L * by, 256L).toInt
  def blockCb(seed: Long, cx: Int, cy: Int): Int =
    java.lang.Math.floorMod(seed + 11L * cx + 3L * cy, 256L).toInt
  def blockCr(seed: Long, cx: Int, cy: Int): Int =
    java.lang.Math.floorMod(seed + 5L * cx + 17L * cy, 256L).toInt

  private def clamp255(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  /** The shared biased fixed-point YCbCr→RGB (identical in the DuckDB
    * oracle text). */
  def ycbcrToRgb(y: Int, cb: Int, cr: Int): (Int, Int, Int) = {
    val r = clamp255(y + ((91881 * (cr - 128) + 32768 + (1 << 24)) >> 16) - 256)
    val g = clamp255(y - ((22554 * (cb - 128) + 46802 * (cr - 128) + 32768 + (1 << 25)) >> 16) + 512)
    val b = clamp255(y + ((116130 * (cb - 128) + 32768 + (1 << 24)) >> 16) - 256)
    (r, g, b)
  }

  // ---- bit IO -------------------------------------------------------------

  private final class BitWriter {
    private val buf = new java.io.ByteArrayOutputStream(256)
    private var acc = 0
    private var nBits = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >>> i) & 1)
        nBits += 1
        if (nBits == 8) {
          buf.write(acc)
          if (acc == 0xFF) buf.write(0x00) // byte stuffing
          acc = 0; nBits = 0
        }
        i -= 1
      }
    }
    /** 1-fill pad to a byte boundary (T.81 F.1.2.3); a 0xFF pad byte
      * is stuffed like any data byte. */
    def align(): Unit =
      if (nBits > 0) put((1 << (8 - nBits)) - 1, 8 - nBits)
    /** Raw marker bytes (no stuffing) — call only after [[align]]. */
    def raw(b1: Int, b2: Int): Unit = { buf.write(b1); buf.write(b2) }
    def flush(): Array[Byte] = {
      align()
      buf.toByteArray
    }
  }

  private final class BitReader(b: Array[Byte], start: Int) {
    var pos: Int = start
    private var acc = 0
    private var nBits = 0
    var corrupt = false
    /** MSB-first read with FF00 unstuffing; a bare marker or EOF mid-
      * entropy sets corrupt. */
    def read(n: Int): Int = {
      var v = 0
      var k = n
      while (k > 0) {
        if (nBits == 0) {
          if (pos >= b.length) { corrupt = true; return 0 }
          var byte = b(pos) & 0xFF
          pos += 1
          if (byte == 0xFF) {
            if (pos >= b.length) { corrupt = true; return 0 }
            val next = b(pos) & 0xFF
            if (next == 0x00) pos += 1
            else { corrupt = true; return 0 } // marker inside entropy
            byte = 0xFF
          }
          acc = byte; nBits = 8
        }
        v = (v << 1) | ((acc >>> (nBits - 1)) & 1)
        nBits -= 1
        k -= 1
      }
      v
    }

    /** Restart-marker sync (T.81 §E.2.4): drop partial-byte bits, skip
      * the (stuffed) pad byte if present, and consume exactly the
      * EXPECTED RSTm — an out-of-sequence or missing marker is corrupt
      * (lost-MCU detection, the point of restarts). */
    def restart(expected: Int): Boolean = {
      nBits = 0
      var guard = 0
      while (pos + 1 < b.length && guard < 4) {
        if ((b(pos) & 0xFF) != 0xFF) return false
        val y = b(pos + 1) & 0xFF
        if (y == 0x00) { pos += 2; guard += 1 } // stuffed pad byte
        else if (y == 0xD0 + expected) { pos += 2; return true }
        else return false
      }
      false
    }
  }

  // ---- canonical Huffman --------------------------------------------------

  /** Canonical table: for each length l (1..16) the first code and the
    * index of its first symbol; decode walks lengths accumulating the
    * code value (T.81 F.16's MINCODE/MAXCODE/VALPTR). */
  private final class HuffTable(bits: Array[Int], vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17) // -1 = no codes at this length
    val valPtr = new Array[Int](17)
    // encode side: code+length per symbol
    val symCode = new Array[Int](256)
    val symLen = new Array[Int](256)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        if (bits(l) == 0) maxCode(l) = -1
        else {
          var i = 0
          while (i < bits(l)) {
            symCode(vals(k)) = code
            symLen(vals(k)) = l
            code += 1; k += 1; i += 1
          }
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
    }
    def decode(r: BitReader): Int = {
      var code = r.read(1)
      var l = 1
      while (l <= 16) {
        if (maxCode(l) >= 0 && code <= maxCode(l))
          return vals(valPtr(l) + (code - minCode(l)))
        code = (code << 1) | r.read(1)
        l += 1
      }
      r.corrupt = true
      0
    }
  }

  private val DcTable = new HuffTable(DcBits, DcVals)
  private val AcTable = new HuffTable(AcBits, AcVals)

  /** Magnitude category of a DC difference (0..11). */
  private def category(v: Int): Int = {
    var a = math.abs(v)
    var s = 0
    while (a != 0) { a >>= 1; s += 1 }
    s
  }

  /** T.81 F.12 EXTEND: map s received bits back to the signed value. */
  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0
    else if (v < (1 << (s - 1))) v - (1 << s) + 1
    else v

  // ---- encoder ------------------------------------------------------------

  private def putU16(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
    o.write((v >>> 8) & 0xFF); o.write(v & 0xFF)
  }
  private def marker(o: java.io.ByteArrayOutputStream, m: Int): Unit = {
    o.write(0xFF); o.write(m)
  }

  private def writeDht(o: java.io.ByteArrayOutputStream, clazz: Int,
      id: Int, bits: Array[Int], vals: Array[Int]): Unit = {
    marker(o, 0xC4)
    putU16(o, 2 + 1 + 16 + vals.length)
    o.write((clazz << 4) | id)
    var l = 1
    while (l <= 16) { o.write(bits(l)); l += 1 }
    vals.foreach(o.write)
  }

  /** Encode one block's coefficients (zig-zag order, already
    * quantized): DC diff then AC run/size pairs + EOB. Returns the new
    * DC predictor. */
  private def encodeBlock(w: BitWriter, zz: Array[Int], prevDc: Int,
      dc: HuffTable, ac: HuffTable): Int = {
    val diff = zz(0) - prevDc
    val s = category(diff)
    w.put(dc.symCode(s), dc.symLen(s))
    if (s > 0) w.put(if (diff >= 0) diff else diff + (1 << s) - 1, s)
    // AC: the compact table covers run 0 size 1..3, run 1 size 1,
    // run 2 size 1 — the generator only ever plants within that
    var k = 1
    var lastNz = 0
    var i = 1
    while (i < 64) { if (zz(i) != 0) lastNz = i; i += 1 }
    while (k <= lastNz) {
      var run = 0
      while (zz(k) == 0) { run += 1; k += 1 }
      val size = category(zz(k))
      val sym = (run << 4) | size
      w.put(ac.symCode(sym), ac.symLen(sym))
      w.put(if (zz(k) >= 0) zz(k) else zz(k) + (1 << size) - 1, size)
      k += 1
    }
    if (lastNz < 63) w.put(ac.symCode(0x00), ac.symLen(0x00)) // EOB
    zz(0)
  }

  /** A COMPLETE baseline JFIF JPEG of constant planted blocks.
    * channels = 1 (grayscale) or 3 (YCbCr 4:2:0); null on invalid
    * geometry/channels or the bomb cap — degrade, never throw.
    *
    * `acPlant`: test hook (spec only) — plants quantized AC coefficient
    * +1 at zig-zag position 1 of every Y/gray block, exercising the
    * run/size/extend path and a non-trivial IDCT.
    *
    * `restartInterval` > 0 emits a DRI segment and RSTn markers every
    * that many MCUs (byte-aligned, DC predictors reset — T.81 §E.2.4,
    * what real camera/libjpeg output does for error resilience); 0 =
    * no restarts. Restart markers are TRANSPARENT to content: the
    * decoded pixels are identical either way (spec-pinned). */
  def encode(width: Int, height: Int, channels: Int, seed: Long,
      acPlant: Boolean = false, restartInterval: Int = 0): Array[Byte] = {
    if (width <= 0 || height <= 0) return null
    if (channels != 1 && channels != 3) return null
    if (restartInterval < 0 || restartInterval > 0xFFFF) return null
    if (width.toLong * height > MaxPixels) return null
    val o = new java.io.ByteArrayOutputStream(1024)
    marker(o, 0xD8) // SOI
    // APP0 JFIF
    marker(o, 0xE0)
    putU16(o, 16)
    Array('J', 'F', 'I', 'F', 0).foreach(c => o.write(c.toInt))
    o.write(1); o.write(1) // version 1.1
    o.write(0) // units
    putU16(o, 1); putU16(o, 1) // density
    o.write(0); o.write(0) // no thumbnail
    // DQT: table 0 (+1 for color)
    val nq = if (channels == 3) 2 else 1
    marker(o, 0xDB)
    putU16(o, 2 + nq * 65)
    var t = 0
    while (t < nq) {
      o.write(t) // Pq=0 | Tq=t
      // DQT entries are transmitted in zig-zag order: the k-th byte is
      // the quantizer of zig-zag position k (natural index ZigZag(k))
      var k = 0
      while (k < 64) { o.write(QTable(ZigZag(k))); k += 1 }
      t += 1
    }
    // SOF0
    marker(o, 0xC0)
    putU16(o, 8 + 3 * channels)
    o.write(8) // precision
    putU16(o, height); putU16(o, width)
    o.write(channels)
    if (channels == 1) { o.write(1); o.write(0x11); o.write(0) }
    else {
      o.write(1); o.write(0x22); o.write(0)
      o.write(2); o.write(0x11); o.write(1)
      o.write(3); o.write(0x11); o.write(1)
    }
    // DHT: DC/AC for id 0 (+ id 1 for color; same definitions)
    writeDht(o, 0, 0, DcBits, DcVals)
    writeDht(o, 1, 0, AcBits, AcVals)
    if (channels == 3) {
      writeDht(o, 0, 1, DcBits, DcVals)
      writeDht(o, 1, 1, AcBits, AcVals)
    }
    // DRI (optional)
    if (restartInterval > 0) {
      marker(o, 0xDD)
      putU16(o, 4)
      putU16(o, restartInterval)
    }
    // SOS
    marker(o, 0xDA)
    putU16(o, 6 + 2 * channels)
    o.write(channels)
    if (channels == 1) { o.write(1); o.write(0x00) }
    else {
      o.write(1); o.write(0x00)
      o.write(2); o.write(0x11)
      o.write(3); o.write(0x11)
    }
    o.write(0); o.write(63); o.write(0) // Ss, Se, AhAl
    // entropy-coded data
    val w = new BitWriter
    val zz = new Array[Int](64)
    def constBlock(v: Int): Unit = {
      java.util.Arrays.fill(zz, 0)
      zz(0) = v - 128 // quantized DC with q[DC]=8: round(8*(v-128)/8)
    }
    var mcuSinceRst = 0
    var rstIdx = 0
    def maybeRestart(resetPred: () => Unit): Unit =
      if (restartInterval > 0 && mcuSinceRst == restartInterval) {
        w.align()
        w.raw(0xFF, 0xD0 + rstIdx)
        rstIdx = (rstIdx + 1) % 8
        resetPred()
        mcuSinceRst = 0
      }
    if (channels == 1) {
      val bw = (width + 7) / 8
      val bh = (height + 7) / 8
      var prev = 0
      var by = 0
      while (by < bh) {
        var bx = 0
        while (bx < bw) {
          maybeRestart(() => prev = 0)
          constBlock(blockY(seed, bx, by))
          if (acPlant) zz(1) = 1
          prev = encodeBlock(w, zz, prev, DcTable, AcTable)
          mcuSinceRst += 1
          bx += 1
        }
        by += 1
      }
    } else {
      val mx = (width + 15) / 16
      val my = (height + 15) / 16
      var pY = 0; var pCb = 0; var pCr = 0
      var m = 0
      while (m < mx * my) {
        maybeRestart(() => { pY = 0; pCb = 0; pCr = 0 })
        val cx = m % mx
        val cy = m / mx
        var sub = 0
        while (sub < 4) { // Y blocks: (0,0),(1,0),(0,1),(1,1) in MCU
          val bx = cx * 2 + (sub & 1)
          val by = cy * 2 + (sub >> 1)
          constBlock(blockY(seed, bx, by))
          if (acPlant) zz(1) = 1
          pY = encodeBlock(w, zz, pY, DcTable, AcTable)
          sub += 1
        }
        constBlock(blockCb(seed, cx, cy))
        pCb = encodeBlock(w, zz, pCb, DcTable, AcTable)
        constBlock(blockCr(seed, cx, cy))
        pCr = encodeBlock(w, zz, pCr, DcTable, AcTable)
        mcuSinceRst += 1
        m += 1
      }
    }
    val entropy = w.flush()
    o.write(entropy, 0, entropy.length)
    marker(o, 0xD9) // EOI
    o.toByteArray
  }

  // ---- decoder ------------------------------------------------------------

  private def u16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)

  private final class Component {
    var id = 0
    var h = 0
    var v = 0
    var tq = 0
    var td = 0
    var ta = 0
  }

  /** Parsed stream state up to (and including) the SOS header. */
  private final class Parsed {
    var width = 0
    var height = 0
    var nComp = 0
    val comps = Array.fill(3)(new Component)
    val quant = Array.ofDim[Int](4, 64) // zig-zag order, as transmitted
    val qSeen = new Array[Boolean](4)
    val dcT = new Array[HuffTable](4)
    val acT = new Array[HuffTable](4)
    var restartInterval = 0
    var scanStart = -1
  }

  /** Marker walk to the scan. Null on any out-of-contract structure. */
  private def parseStream(b: Array[Byte]): Parsed = {
    if (b == null || b.length < 4) return null
    if ((b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8) return null
    val p = new Parsed
    var i = 2
    var sofSeen = false
    while (i + 4 <= b.length) {
      if ((b(i) & 0xFF) != 0xFF) return null
      val m = b(i + 1) & 0xFF
      if (m == 0xD8 || m == 0x01 || (m >= 0xD0 && m <= 0xD7)) {
        i += 2 // standalone markers
      } else if (m == 0xD9) {
        return null // EOI before any scan
      } else {
        val len = u16(b, i + 2)
        if (len < 2 || i + 2 + len > b.length) return null
        val seg = i + 4
        val segEnd = i + 2 + len
        m match {
          case 0xDB => // DQT
            var j = seg
            while (j < segEnd) {
              val pq = (b(j) & 0xFF) >> 4
              val tq = b(j) & 0x0F
              if (pq != 0 || tq > 3 || j + 65 > segEnd) return null
              var k = 0
              while (k < 64) { p.quant(tq)(k) = b(j + 1 + k) & 0xFF; k += 1 }
              p.qSeen(tq) = true
              j += 65
            }
          case 0xC4 => // DHT
            var j = seg
            while (j < segEnd) {
              val tc = (b(j) & 0xFF) >> 4
              val th = b(j) & 0x0F
              if (tc > 1 || th > 3 || j + 17 > segEnd) return null
              val bits = new Array[Int](17)
              var n = 0
              var l = 1
              while (l <= 16) { bits(l) = b(j + l) & 0xFF; n += bits(l); l += 1 }
              if (j + 17 + n > segEnd || n > 256) return null
              val vals = new Array[Int](n)
              var k = 0
              while (k < n) { vals(k) = b(j + 17 + k) & 0xFF; k += 1 }
              val ht = new HuffTable(bits, vals)
              if (tc == 0) p.dcT(th) = ht else p.acT(th) = ht
              j += 17 + n
            }
          case 0xC0 => // SOF0 — baseline
            if (sofSeen || len < 8) return null
            sofSeen = true
            if ((b(seg) & 0xFF) != 8) return null // precision
            p.height = u16(b, seg + 1)
            p.width = u16(b, seg + 3)
            p.nComp = b(seg + 5) & 0xFF
            if (p.width <= 0 || p.height <= 0) return null
            if (p.width.toLong * p.height > MaxPixels) return null
            if (p.nComp != 1 && p.nComp != 3) return null
            if (len != 8 + 3 * p.nComp) return null
            var c = 0
            while (c < p.nComp) {
              val cc = p.comps(c)
              cc.id = b(seg + 6 + 3 * c) & 0xFF
              cc.h = (b(seg + 7 + 3 * c) & 0xFF) >> 4
              cc.v = b(seg + 7 + 3 * c) & 0x0F
              cc.tq = b(seg + 8 + 3 * c) & 0xFF
              if (cc.tq > 3) return null
              c += 1
            }
            // supported sampling: gray 1x1, or 4:2:0
            val ok =
              if (p.nComp == 1) p.comps(0).h == 1 && p.comps(0).v == 1
              else p.comps(0).h == 2 && p.comps(0).v == 2 &&
                p.comps(1).h == 1 && p.comps(1).v == 1 &&
                p.comps(2).h == 1 && p.comps(2).v == 1
            if (!ok) return null
          case 0xDA => // SOS
            if (!sofSeen || len != 6 + 2 * p.nComp) return null
            if ((b(seg) & 0xFF) != p.nComp) return null
            var c = 0
            while (c < p.nComp) {
              val id = b(seg + 1 + 2 * c) & 0xFF
              val cc = p.comps.take(p.nComp).find(_.id == id).orNull
              if (cc == null) return null
              cc.td = (b(seg + 2 + 2 * c) & 0xFF) >> 4
              cc.ta = b(seg + 2 + 2 * c) & 0x0F
              c += 1
            }
            if ((b(segEnd - 3) & 0xFF) != 0 || (b(segEnd - 2) & 0xFF) != 63 ||
              (b(segEnd - 1) & 0xFF) != 0) return null // Ss/Se/AhAl
            // all referenced tables must exist
            c = 0
            while (c < p.nComp) {
              val cc = p.comps(c)
              if (!p.qSeen(cc.tq) || p.dcT(cc.td) == null ||
                p.acT(cc.ta) == null) return null
              c += 1
            }
            p.scanStart = segEnd
            return p
          case 0xDD => // DRI — restart interval in MCUs (round 10)
            if (len != 4) return null
            p.restartInterval = u16(b, seg)
          case sof if sof >= 0xC1 && sof <= 0xCF && sof != 0xC4 && sof != 0xC8 =>
            return null // progressive/extended/arithmetic
          case _ => () // APPn, COM, others: skip
        }
        i = segEnd
      }
    }
    null
  }

  /** Header parse: (width, height, channels, n_blocks) where n_blocks
    * is the total 8x8 block count the scan carries (sampling-factor
    * arithmetic: 6 per MCU at 4:2:0, 1 per block row/col at gray). */
  def parseHeaderRaw(b: Array[Byte]): Array[Long] = {
    val p = parseStream(b)
    if (p == null) return null
    val nBlocks =
      if (p.nComp == 1)
        ((p.width + 7L) / 8L) * ((p.height + 7L) / 8L)
      else
        6L * ((p.width + 15L) / 16L) * ((p.height + 15L) / 16L)
    Array[Long](p.width, p.height, p.nComp, nBlocks)
  }

  /** Decode one block into `out` (0..255 after level shift), given the
    * zig-zag quant table. Returns the new DC predictor; sets
    * r.corrupt on any entropy violation. */
  private def decodeBlock(r: BitReader, dc: HuffTable, ac: HuffTable,
      qzz: Array[Int], prevDc: Int, out: Array[Int]): Int = {
    val coef = new Array[Double](64) // natural order, dequantized
    val s = dc.decode(r)
    if (r.corrupt || s > 11) { r.corrupt = true; return prevDc }
    val diffBits = if (s == 0) 0 else r.read(s)
    val dcv = prevDc + extend(diffBits, s)
    coef(0) = dcv.toDouble * qzz(0)
    var k = 1
    while (k < 64) {
      val rs = ac.decode(r)
      if (r.corrupt) return prevDc
      if (rs == 0x00) k = 64 // EOB
      else if (rs == 0xF0) k += 16 // ZRL
      else {
        val run = rs >> 4
        val size = rs & 0x0F
        k += run
        if (k > 63 || size == 0) { r.corrupt = true; return prevDc }
        val v = extend(r.read(size), size)
        coef(ZigZag(k)) = v.toDouble * qzz(k)
        k += 1
      }
    }
    // separable IDCT: rows (over u) then columns (over v)
    val g = new Array[Double](64)
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0.0
        var u = 0
        while (u < 8) {
          val cu = if (u == 0) InvSqrt2 else 1.0
          acc += cu * coef(v * 8 + u) * Cos(x * 8 + u)
          u += 1
        }
        g(v * 8 + x) = acc
        x += 1
      }
      v += 1
    }
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0.0
        var vv = 0
        while (vv < 8) {
          val cv = if (vv == 0) InvSqrt2 else 1.0
          acc += cv * g(vv * 8 + x) * Cos(y * 8 + vv)
          vv += 1
        }
        out(y * 8 + x) = clamp255(math.round(acc / 4.0).toInt + 128)
        x += 1
      }
      y += 1
    }
    dcv
  }

  /** FULL pixel decode → exact-integer per-channel stats over the
    * VISIBLE w x h pixels: (width, height, channels, n_px,
    * sum_c0..2, peak_c0..2). Gray reports channel 0 only (c1/c2 = 0);
    * color reports R, G, B. Null on any violation. */
  def pixelStatsRaw(b: Array[Byte]): Array[Long] = {
    val p = parseStream(b)
    if (p == null) return null
    val w = p.width
    val h = p.height
    val r = new BitReader(b, p.scanStart)
    val blk = new Array[Int](64)
    val sums = new Array[Long](3)
    val peaks = new Array[Long](3)
    var mcuSinceRst = 0
    var rstIdx = 0
    // true iff the scan is positioned correctly across a restart point
    def syncRestart(): Boolean =
      if (p.restartInterval > 0 && mcuSinceRst == p.restartInterval) {
        if (!r.restart(rstIdx)) false
        else { rstIdx = (rstIdx + 1) % 8; mcuSinceRst = 0; true }
      } else true
    if (p.nComp == 1) {
      val qzz = p.quant(p.comps(0).tq)
      val dc = p.dcT(p.comps(0).td)
      val ac = p.acT(p.comps(0).ta)
      val bw = (w + 7) / 8
      val bh = (h + 7) / 8
      var prev = 0
      var by = 0
      while (by < bh) {
        var bx = 0
        while (bx < bw) {
          if (!syncRestart()) return null
          if (mcuSinceRst == 0) prev = 0 // predictor resets at RST
          prev = decodeBlock(r, dc, ac, qzz, prev, blk)
          mcuSinceRst += 1
          if (r.corrupt) return null
          val vw = math.min(8, w - bx * 8)
          val vh = math.min(8, h - by * 8)
          var yy = 0
          while (yy < vh) {
            var xx = 0
            while (xx < vw) {
              val v = blk(yy * 8 + xx)
              sums(0) += v
              if (v > peaks(0)) peaks(0) = v
              xx += 1
            }
            yy += 1
          }
          bx += 1
        }
        by += 1
      }
    } else {
      val mx = (w + 15) / 16
      val my = (h + 15) / 16
      // planes padded to the MCU grid
      val yPlane = new Array[Int](mx * 16 * my * 16)
      val cbPlane = new Array[Int](mx * 8 * my * 8)
      val crPlane = new Array[Int](mx * 8 * my * 8)
      val yStride = mx * 16
      val cStride = mx * 8
      var pY = 0; var pCb = 0; var pCr = 0
      var m = 0
      while (m < mx * my) {
        if (!syncRestart()) return null
        if (mcuSinceRst == 0) { pY = 0; pCb = 0; pCr = 0 }
        val cx = m % mx
        val cy = m / mx
        var sub = 0
        while (sub < 4) {
          pY = decodeBlock(r, p.dcT(p.comps(0).td), p.acT(p.comps(0).ta),
            p.quant(p.comps(0).tq), pY, blk)
          if (r.corrupt) return null
          val ox = (cx * 2 + (sub & 1)) * 8
          val oy = (cy * 2 + (sub >> 1)) * 8
          var yy = 0
          while (yy < 8) {
            System.arraycopy(blk, yy * 8, yPlane, (oy + yy) * yStride + ox, 8)
            yy += 1
          }
          sub += 1
        }
        pCb = decodeBlock(r, p.dcT(p.comps(1).td), p.acT(p.comps(1).ta),
          p.quant(p.comps(1).tq), pCb, blk)
        if (r.corrupt) return null
        var yy = 0
        while (yy < 8) {
          System.arraycopy(blk, yy * 8, cbPlane, (cy * 8 + yy) * cStride + cx * 8, 8)
          yy += 1
        }
        pCr = decodeBlock(r, p.dcT(p.comps(2).td), p.acT(p.comps(2).ta),
          p.quant(p.comps(2).tq), pCr, blk)
        if (r.corrupt) return null
        yy = 0
        while (yy < 8) {
          System.arraycopy(blk, yy * 8, crPlane, (cy * 8 + yy) * cStride + cx * 8, 8)
          yy += 1
        }
        mcuSinceRst += 1
        m += 1
      }
      // upsample (replication) + RGB + stats over visible pixels
      var py = 0
      while (py < h) {
        var px = 0
        while (px < w) {
          val yv = yPlane(py * yStride + px)
          val cb = cbPlane((py / 2) * cStride + (px / 2))
          val cr = crPlane((py / 2) * cStride + (px / 2))
          val (rr, gg, bb) = ycbcrToRgb(yv, cb, cr)
          sums(0) += rr; sums(1) += gg; sums(2) += bb
          if (rr > peaks(0)) peaks(0) = rr
          if (gg > peaks(1)) peaks(1) = gg
          if (bb > peaks(2)) peaks(2) = bb
          px += 1
        }
        py += 1
      }
    }
    // after all MCUs: remaining entropy bits are padding; require EOI
    // among the trailing bytes (scan must END, not run into garbage)
    var j = r.pos
    var eoi = false
    while (j + 1 < b.length && !eoi) {
      if ((b(j) & 0xFF) == 0xFF && (b(j + 1) & 0xFF) == 0xD9) eoi = true
      j += 1
    }
    if (!eoi) return null
    Array[Long](w, h, p.nComp, w.toLong * h,
      sums(0), sums(1), sums(2), peaks(0), peaks(1), peaks(2))
  }

  // ---- Spark-facing wrappers ----------------------------------------------

  def parseHeader(b: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val h = parseHeaderRaw(b)
    if (h == null) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      h.map(v => v: Any))
  }

  def pixelStats(b: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val s = pixelStatsRaw(b)
    if (s == null) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      s.map(v => v: Any))
  }
}

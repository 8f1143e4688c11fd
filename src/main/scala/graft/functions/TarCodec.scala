package graft.functions

/** POSIX ustar (tar) codec — the WebDataset container: large-scale
  * multimodal training corpora ship as tar shards whose members group
  * by sample key ({key}.txt, {key}.jpg, {key}.json, ...). A tar is a
  * sequence of 512-byte headers (name, octal size/mode/mtime, a
  * CHECKSUM over the header bytes, ustar magic) each followed by the
  * member data padded to 512, terminated by two zero blocks.
  *
  * CONTRACT (strict subset; anything outside NULLS, never throws):
  * ustar magic + version "00" on every header, header checksum
  * recomputed and matched (the field is summed as spaces), regular
  * files only (typeflag '0'), octal size well-formed and bounds-
  * checked, data padding bytes ZERO, exactly two zero end blocks and
  * nothing after. gzip composes upstream (.tar.gz == gunzip_bytes →
  * this parse), same boundary split as WARC. */
object TarCodec {

  private val Block = 512
  private val MaxMembers = 4096

  // ---- octal helpers -------------------------------------------------------

  private def putOctal(h: Array[Byte], off: Int, len: Int, v: Long): Unit = {
    // len-1 octal digits, NUL terminated (the GNU/POSIX convention)
    var i = len - 2
    var x = v
    while (i >= 0) {
      h(off + i) = ('0' + (x & 7)).toByte
      x >>= 3
      i -= 1
    }
    h(off + len - 1) = 0
  }

  private def parseOctal(b: Array[Byte], off: Int, len: Int): Long = {
    var i = off
    val end = off + len
    var v = 0L
    var digits = 0
    while (i < end && b(i) != 0 && b(i) != ' ') {
      if (b(i) < '0' || b(i) > '7') return -1L
      v = (v << 3) | (b(i) - '0')
      digits += 1
      if (digits > 12) return -1L
      i += 1
    }
    if (digits == 0) -1L else v
  }

  private def putStr(h: Array[Byte], off: Int, s: String): Unit = {
    var i = 0
    while (i < s.length) { h(off + i) = s.charAt(i).toByte; i += 1 }
  }

  private def checksum(h: Array[Byte]): Long = {
    var sum = 0L
    var i = 0
    while (i < Block) {
      sum += (if (i >= 148 && i < 156) ' '.toLong else (h(i) & 0xFF).toLong)
      i += 1
    }
    sum
  }

  // ---- generator -------------------------------------------------------------

  private def header(name: String, size: Long): Array[Byte] = {
    val h = new Array[Byte](Block)
    putStr(h, 0, name)
    putOctal(h, 100, 8, 420) // mode 0644
    putOctal(h, 108, 8, 0) // uid
    putOctal(h, 116, 8, 0) // gid
    putOctal(h, 124, 12, size)
    putOctal(h, 136, 12, 0) // mtime (fixed: deterministic shards)
    h(156) = '0' // regular file
    putStr(h, 257, "ustar"); h(262) = 0
    putStr(h, 263, "00")
    putStr(h, 265, "graft")
    putStr(h, 297, "graft")
    putOctal(h, 329, 8, 0)
    putOctal(h, 337, 8, 0)
    // checksum: 6 octal digits, NUL, space
    val c = checksum(h)
    var i = 5
    var x = c
    while (i >= 0) { h(148 + i) = ('0' + (x & 7)).toByte; x >>= 3; i -= 1 }
    h(154) = 0; h(155) = ' '
    h
  }

  /** One shard from named members; null on a null/oversized member or
    * an over-long name (the >100-char prefix scheme is out of
    * contract). */
  def pack(members: Array[(String, Array[Byte])]): Array[Byte] = {
    if (members == null || members.isEmpty || members.length > MaxMembers)
      return null
    var total = 2 * Block
    members.foreach { case (n, d) =>
      if (n == null || d == null || n.isEmpty || n.length > 100) return null
      total += Block + ((d.length + Block - 1) / Block) * Block
    }
    val out = new Array[Byte](total)
    var off = 0
    members.foreach { case (n, d) =>
      val h = header(n, d.length)
      System.arraycopy(h, 0, out, off, Block)
      off += Block
      System.arraycopy(d, 0, out, off, d.length)
      off += ((d.length + Block - 1) / Block) * Block
    }
    out // the two end blocks stay zero
  }

  /** The WebDataset SAMPLE convention: one key, one member per
    * modality — {id}.txt (raw text), {id}.bmp (the content-seeded
    * planted image, geometry from text length like the BMP lane),
    * {id}.json (typed metadata). Null on null inputs or encode
    * failure. */
  def packSample(docId: Long, text: String, lang: String): Array[Byte] = {
    if (text == null || lang == null) return null
    val ln = text.length
    val bmp = BmpCodec.encode(ln % 64 + 1, ln % 48 + 1, ln.toLong)
    if (bmp == null) return null
    pack(Array(
      s"$docId.txt" -> text.getBytes("UTF-8"),
      s"$docId.bmp" -> bmp,
      s"$docId.json" ->
        s"""{"id":$docId,"lang":"$lang"}""".getBytes("UTF-8")))
  }

  // ---- parser -----------------------------------------------------------------

  /** Member (name, data span) after full structural validation. */
  final case class Member(name: String, off: Int, len: Int)

  private def isZeroBlock(b: Array[Byte], off: Int): Boolean = {
    var i = off
    val end = off + Block
    while (i < end) { if (b(i) != 0) return false; i += 1 }
    true
  }

  /** Full structural walk; null on ANY violation. */
  def parseRaw(b: Array[Byte]): Array[Member] = {
    if (b == null || b.length < 3 * Block) return null
    if (b.length % Block != 0) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[Member]
    var off = 0
    var ended = false
    while (!ended) {
      if (off + Block > b.length) return null
      if (isZeroBlock(b, off)) {
        // end marker: exactly TWO zero blocks, then EOF
        if (off + 2 * Block != b.length) return null
        if (!isZeroBlock(b, off + Block)) return null
        ended = true
      } else {
        if (out.size >= MaxMembers) return null
        // ustar magic + version
        if (b(off + 257) != 'u' || b(off + 258) != 's' || b(off + 259) != 't'
          || b(off + 260) != 'a' || b(off + 261) != 'r' || b(off + 262) != 0
          || b(off + 263) != '0' || b(off + 264) != '0') return null
        if (b(off + 156) != '0') return null // regular files only
        // checksum: recompute with the field as spaces
        val stored = parseOctal(b, off + 148, 7)
        if (stored < 0) return null
        var sum = 0L
        var i = 0
        while (i < Block) {
          sum += (if (i >= 148 && i < 156) ' '.toLong
            else (b(off + i) & 0xFF).toLong)
          i += 1
        }
        if (sum != stored) return null
        // name: NUL-terminated within 100 bytes, non-empty
        var ne = off
        while (ne < off + 100 && b(ne) != 0) ne += 1
        if (ne == off) return null
        val name = new String(b, off, ne - off, "UTF-8")
        val size = parseOctal(b, off + 124, 12)
        if (size < 0 || size > Int.MaxValue) return null
        val dataOff = off + Block
        val padded = ((size + Block - 1) / Block * Block).toInt
        if (dataOff + padded > b.length) return null
        // padding bytes must be zero (strict framing)
        var p = dataOff + size.toInt
        while (p < dataOff + padded) {
          if (b(p) != 0) return null
          p += 1
        }
        out += Member(name, dataOff, size.toInt)
        off = dataOff + padded
      }
    }
    out.toArray
  }

  // ---- Spark-facing wrappers ----------------------------------------------

  def members(b: Array[Byte]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val ms = parseRaw(b)
    if (ms == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(ms.map { m =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
        org.apache.spark.unsafe.types.UTF8String.fromString(m.name),
        m.len.toLong,
        java.util.Arrays.copyOfRange(b, m.off, m.off + m.len))): Any
    })
  }
}

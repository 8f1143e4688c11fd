package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Line parsers for the reference's two citation text formats, in one
  * pass over each line's UTF-8 bytes with no regex and no `String`.
  *
  * A line is read exactly as `split(trim(line), "\\s+")` would cut it:
  * `trim` strips only 0x20, and Java's `\s` is the ASCII bytes 0x09-0x0D
  * and 0x20, which never occur inside a UTF-8 multi-byte character, so a
  * byte scan finds the same fields. A line that starts with another
  * whitespace byte after trimming has an empty first field. Fields parse
  * as `try_cast(... AS INT)` does (`toIntExact`, null instead of an
  * error). A line with a `#` anywhere (the reference's comment rule), or
  * whose fields are missing or not integers, parses to null.
  *
  * Results are one-element arrays (null when the line is dropped) so
  * the loaders can `inline` them: a generator has no filter above it for
  * the optimizer to push down, so each line is tokenized once.
  */
object CitationText {

  val edgeSchema: StructType = StructType(Seq(
    StructField("from", IntegerType, nullable = false),
    StructField("to", IntegerType, nullable = false)))

  val dateSchema: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("year", IntegerType, nullable = false)))

  /** `<from> <to>` -> [(from, to)], or null. */
  def edge(line: UTF8String): ArrayData = {
    val b = fields(line)
    if (b == null) return null
    val w = new UTF8String.IntWrapper
    if (!toInt(line, b(0), b(1), w)) return null
    val from = w.value
    if (!toInt(line, b(2), b(3), w)) return null
    one(from, w.value)
  }

  /** `<id> <yyyy-mm-dd>` -> [(id, year)], or null. The year is the
    * date's first four characters. A 9-character id starting "11" is an
    * arXiv cross-listing and loses that prefix. */
  def date(line: UTF8String): ArrayData = {
    val b = fields(line)
    if (b == null) return null
    val w = new UTF8String.IntWrapper
    val crossListed = line.getByte(b(0)) == '1' && line.getByte(b(0) + 1) == '1' &&
      view(line, b(0), b(1)).numChars == 9
    if (!toInt(line, if (crossListed) b(0) + 2 else b(0), b(1), w)) return null
    val id = w.value
    var end = b(2)
    var chars = 0
    while (chars < 4 && end < b(3)) {
      end += UTF8String.numBytesForFirstByte(line.getByte(end))
      chars += 1
    }
    if (!toInt(line, b(2), math.min(end, b(3)), w)) return null
    one(id, w.value)
  }

  private def isSpace(c: Byte): Boolean = c == ' ' || (c >= 0x09 && c <= 0x0D)

  /** Byte bounds `[start1, end1, start2, end2)` of the first two fields,
    * or null for a comment line or a line without two non-empty fields
    * (an empty field never parses as an integer). */
  private def fields(line: UTF8String): Array[Int] = {
    var lo = 0
    var hi = line.numBytes
    while (lo < hi && line.getByte(lo) == ' ') lo += 1
    while (hi > lo && line.getByte(hi - 1) == ' ') hi -= 1
    var end1 = -1
    var start2 = -1
    var end2 = hi
    var i = lo
    while (i < hi) {
      val c = line.getByte(i)
      if (c == '#') return null
      if (isSpace(c)) {
        if (end1 < 0) end1 = i
        else if (start2 >= 0 && end2 == hi) end2 = i
      } else if (end1 >= 0 && start2 < 0) start2 = i
      i += 1
    }
    if (end1 <= lo || start2 < 0) null
    else Array(lo, end1, start2, end2)
  }

  /** `try_cast(line[start, end) AS INT)` into `w`: `toIntExact`'s
    * grammar, which is `toInt`'s without a fractional part. */
  private def toInt(line: UTF8String, start: Int, end: Int,
      w: UTF8String.IntWrapper): Boolean = {
    var i = start
    while (i < end && line.getByte(i) != '.') i += 1
    i == end && view(line, start, end).toInt(w)
  }

  private def view(line: UTF8String, start: Int, end: Int): UTF8String =
    UTF8String.fromAddress(line.getBaseObject, line.getBaseOffset + start, end - start)

  private def one(a: Int, b: Int): ArrayData =
    new GenericArrayData(Array[Any](new GenericInternalRow(Array[Any](a, b))))
}

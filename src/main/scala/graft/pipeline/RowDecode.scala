package graft.pipeline

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.FrameCodec

/** The typed mapPartitions path of the `_batch` decode queries: each
  * `(doc_id, bytes)` row runs through a per-row codec kernel whose
  * `Array[Long]` result becomes named LONG columns. A row drops out
  * where the GRFT1 deframe or the kernel returns null, the path's
  * counterpart of the expression twin's NULL. */
private[graft] object RowDecode {

  /** The bytes column as it is. */
  val raw: Array[Byte] => Array[Byte] = b => b

  /** The full reassembled payload of a GRFT1 container. */
  val payload: Array[Byte] => Array[Byte] = { c =>
    val r = FrameCodec.parseRaw(c)
    if (r == null) null else r._2
  }

  /** The first frame of a GRFT1 container: enough for a header read. */
  val firstFrame: Array[Byte] => Array[Byte] = { c =>
    val r = FrameCodec.parseRaw(c)
    if (r == null || r._1.isEmpty) null
    else java.util.Arrays.copyOfRange(r._2, 0, r._1(0).toInt)
  }

  /** (doc_id, names…) of `kernel(input(bytes))` per row of `rows`; the
    * kernel's first `names.length` values fill the columns. */
  def longs(rows: DataFrame, bytes: String,
      input: Array[Byte] => Array[Byte], names: Seq[String])(
      kernel: Array[Byte] => Array[Long]): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val schema = StructType(("doc_id" +: names)
      .map(StructField(_, LongType, nullable = false)))
    val width = schema.length
    rows.select(col("doc_id"), col(bytes)).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, b) =>
        val in = input(b)
        val out = if (in == null) null else kernel(in)
        if (out == null) None
        else {
          val v = new Array[Any](width)
          v(0) = id
          var i = 1
          while (i < width) { v(i) = out(i - 1); i += 1 }
          Some(new GenericRow(v): Row)
        }
      })(Encoders.row(schema))
  }
}

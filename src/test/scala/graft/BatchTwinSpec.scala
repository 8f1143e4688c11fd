package graft

import org.apache.spark.sql.functions.col

import graft.registry.Registry

/** Every registered `_batch` query (the typed mapPartitions decode
  * path) returns the rows of its expression-path twin at sf0.001. */
class BatchTwinSpec extends SparkSpec {

  private val Twins = Seq(
    "m_decode_features" -> "m_decode_batch",
    "m_container_decode" -> "m_container_decode_batch",
    "m_bmp_decode" -> "m_bmp_decode_batch",
    "m_bmp_pixels" -> "m_bmp_pixels_batch",
    "m_wav_decode" -> "m_wav_decode_batch",
    "m_wav_loudness" -> "m_wav_loudness_batch",
    "m_png_decode" -> "m_png_decode_batch",
    "m_png_pixels" -> "m_png_pixels_batch",
    "m_gzip_decode" -> "m_gzip_decode_batch",
    "m_jpeg_decode" -> "m_jpeg_decode_batch",
    "m_gif_decode" -> "m_gif_decode_batch",
    "m_flac_loudness" -> "m_flac_loudness_batch",
    "m_video_decode" -> "m_video_decode_batch",
    "t_warc_parse" -> "t_warc_parse_batch",
    "t_html_extract" -> "t_html_extract_batch")

  test("the table covers every registered _batch decode query") {
    val batch = Registry.all.map(_.name)
      .filter(n => n.endsWith("_batch") && n != "x_sessionize_batch")
    assert(Twins.map(_._2).sorted === batch.sorted)
  }

  for ((expr, batch) <- Twins) test(s"$batch == $expr") {
    val b = Registry.byName(batch).run(spark, sf())
    val e = Registry.byName(expr).run(spark, sf()).select(b.columns.map(col): _*)
    val bRows = b.collect().map(_.toSeq).toSeq
    assert(bRows.nonEmpty)
    assert(e.collect().map(_.toSeq).toSeq === bRows)
  }
}

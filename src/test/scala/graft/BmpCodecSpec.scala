package graft

import org.apache.spark.sql.functions._

import graft.functions.BmpCodec
import graft.pipeline.Multimodal

/** BMP-in-GRFT1 contracts: the encoder emits real little-endian
  * BITMAPFILEHEADER/BITMAPINFOHEADER bytes, the parser is a strict
  * header walk (corrupt/unsupported -> null, never garbage), and the
  * expression and batched decode paths agree. */
class BmpCodecSpec extends SparkSpec {

  test("encode/parseHeader round trip over a dimension sweep") {
    for (w <- Seq(1, 2, 3, 4, 63, 64); h <- Seq(1, 2, 47, 48)) {
      val bmp = BmpCodec.encode(w, h, seed = w * 1000L + h)
      val stride = BmpCodec.rowStride(w)
      assert(bmp.length == BmpCodec.HeaderLen + stride * h, s"w=$w h=$h size")
      val parsed = BmpCodec.parseHeaderRaw(bmp)
      assert(parsed != null, s"w=$w h=$h")
      assert(parsed.toSeq == Seq(w.toLong, h.toLong, 24L, bmp.length.toLong))
      // header-only parse: the first 54 bytes suffice (the first-frame
      // read path depends on exactly this)
      assert(BmpCodec.parseHeaderRaw(bmp.take(BmpCodec.HeaderLen)).toSeq ==
        parsed.toSeq)
    }
  }

  test("pixel rows are stride-padded and deterministic") {
    val bmp = BmpCodec.encode(3, 2, seed = 7L)
    // width 3 at 24bpp = 9 payload bytes/row, padded to stride 12
    assert(BmpCodec.rowStride(3) == 12)
    assert(bmp.length == 54 + 12 * 2)
    assert(BmpCodec.encode(3, 2, 7L).toSeq == bmp.toSeq) // deterministic
    assert(BmpCodec.encode(3, 2, 8L).toSeq != bmp.toSeq) // seed matters
    // row padding bytes (offsets 9..11 of each row) stay zero
    for (row <- 0 until 2; p <- 9 until 12)
      assert(bmp(54 + row * 12 + p) == 0, s"row=$row pad=$p")
  }

  test("corrupt or unsupported headers parse to null, not garbage") {
    val good = BmpCodec.encode(10, 5, seed = 1L)
    assert(BmpCodec.parseHeaderRaw(good) != null)
    def mut(off: Int, v: Byte): Array[Byte] = {
      val b = good.clone(); b(off) = v; b
    }
    assert(BmpCodec.parseHeaderRaw(null) == null)
    assert(BmpCodec.parseHeaderRaw(good.take(53)) == null) // short
    assert(BmpCodec.parseHeaderRaw(mut(0, 'X')) == null) // magic
    assert(BmpCodec.parseHeaderRaw(mut(14, 12)) == null) // OS/2 core header
    assert(BmpCodec.parseHeaderRaw(mut(26, 2)) == null) // planes != 1
    assert(BmpCodec.parseHeaderRaw(mut(28, 13)) == null) // bpp not in set
    assert(BmpCodec.parseHeaderRaw(mut(30, 1)) == null) // RLE compression
    assert(BmpCodec.parseHeaderRaw(mut(2, (good(2) ^ 1).toByte)) == null) // fileSize
    assert(BmpCodec.parseHeaderRaw(mut(18, (good(18) ^ 1).toByte)) == null) // width
    // negative height (top-down) is outside the supported subset
    val topDown = good.clone()
    topDown(22) = -5; topDown(23) = -1; topDown(24) = -1; topDown(25) = -1
    assert(BmpCodec.parseHeaderRaw(topDown) == null)
    // width near 2^31: stride arithmetic must not overflow into a
    // spurious fileSize match
    val huge = good.clone()
    huge(18) = -1; huge(19) = -1; huge(20) = -1; huge(21) = 0x7F
    assert(BmpCodec.parseHeaderRaw(huge) == null)
  }

  test("expression path: corrupt first frame -> NULL row, valid -> dims") {
    import spark.implicits._
    val good = BmpCodec.encode(10, 5, seed = 1L)
    val bad = good.clone(); bad(0) = 'X'.toByte
    val df = Seq((1L, graft.functions.FrameCodec.pack(good, 64)),
        (2L, graft.functions.FrameCodec.pack(bad, 64)))
      .toDF("doc_id", "container")
    val out = Multimodal.parseBmpHeaders(df).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(out == Map(1L -> Some(10L), 2L -> None))
  }

  test("expression and batched BMP decode agree on the documents table") {
    val containers = Multimodal.withBmpContainers(Tables.documents(spark, sf()))
    def key(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.na.drop().collect()
        .map(r => r.getLong(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
    val viaExpr = key(Multimodal.parseBmpHeaders(containers))
    val viaBatch = key(Multimodal.parseBmpHeadersBatch(containers))
    assert(viaExpr.nonEmpty && viaExpr == viaBatch)
    // every parsed header reports 24bpp and the stride-padded file size
    viaExpr.foreach { case (id, Seq(w, h, bpp, fs)) =>
      assert(bpp == 24L, s"doc $id")
      assert(fs == 54L + (w * 3 + 3) / 4 * 4 * h, s"doc $id")
    }
  }

  // ---- full pixel decode -------------------------------------------------

  test("pixel stats: stride walk reproduces the channel formulas exactly") {
    // widths chosen so the row stride carries 0-3 padding bytes — the
    // walk must SKIP padding, never count it
    for ((w, h) <- Seq((1, 1), (4, 3), (5, 4), (6, 2), (7, 5), (64, 48))) {
      val seed = w * 31L + h
      val s = graft.functions.BmpCodec.pixelStatsRaw(
        graft.functions.BmpCodec.encode(w, h, seed))
      assert(s != null, s"($w,$h)")
      assert(s.take(3).toSeq === Seq(w.toLong, h.toLong, w.toLong * h))
      val chans = Seq[(Int, Int, Int)]((7, 13, 251), (11, 3, 249), (5, 17, 247))
      chans.zipWithIndex.foreach { case ((cx, cy, m), i) =>
        val vs = for (y <- 0 until h; x <- 0 until w)
          yield (x.toLong * cx + y.toLong * cy + seed) % m
        assert(s(3 + i) === vs.sum, s"sum ch$i ($w,$h)")
        assert(s(6 + i) === vs.max, s"peak ch$i ($w,$h)")
      }
    }
  }

  test("pixel stats: truncated payload and non-24bpp null, header-only parse unaffected") {
    val bmp = graft.functions.BmpCodec.encode(9, 4, 5L)
    assert(graft.functions.BmpCodec.pixelStatsRaw(bmp) != null)
    // header intact but pixel rows cut short: header parses, stats null
    val cut = java.util.Arrays.copyOf(bmp, bmp.length - 1)
    assert(graft.functions.BmpCodec.parseHeaderRaw(cut) != null)
    assert(graft.functions.BmpCodec.pixelStatsRaw(cut) == null)
  }

  test("pixel expression and batched pixel decode agree on the documents table") {
    val containers = Multimodal.withBmpContainers(Tables.documents(spark, sf()))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (0 until 10).map(i => r.getLong(i)).toList).toSet
    val a = key(Multimodal.bmpPixels(containers))
    val b = key(Multimodal.bmpPixelsBatch(containers))
    assert(a === b)
    assert(a.size === Tables.documents(spark, sf()).count())
  }

  test("BMP decode stays inside whole-stage codegen") {
    // finalPlan: with the scan fan-out exchange in the plan, AQE only
    // finalizes stages (and wraps them in WholeStageCodegen) at run time
    val plan = finalPlan(Multimodal.parseBmpHeaders(
      Multimodal.withBmpContainers(Tables.documents(spark, sf()))))
    // the finalized tree renders codegen spans as `*(n)` prefixes
    assert(plan.contains("*("), s"expected codegen:\n$plan")
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.functions.FrameCodec
import graft.functions.GraftFunctions.{pack_frames, parse_frames}
import graft.pipeline.Multimodal

/** GRFT1 container contracts: the parse is a real length-prefix walk
  * (round trip, corrupt-input rejection), and the expression and
  * batched decode paths agree across batch boundaries. */
class ContainerCodecSpec extends SparkSpec {

  test("round trip: parse(pack(payload)) recovers payload and frame structure") {
    for (len <- Seq(0, 1, 6, 7, 8, 13, 14, 100)) {
      val payload = Array.tabulate[Byte](len)(i => (i % 251).toByte)
      val parsed = FrameCodec.parseRaw(FrameCodec.pack(payload, 7))
      assert(parsed != null, s"len=$len")
      val (lens, back) = parsed
      assert(back.toSeq == payload.toSeq, s"len=$len payload mismatch")
      assert(lens.sum == len)
      assert(lens.length == (if (len == 0) 0 else (len + 6) / 7))
      assert(lens.forall(l => l > 0 && l <= 7) || len == 0)
      // every frame except the last is full
      assert(lens.dropRight(1).forall(_ == 7L))
    }
  }

  test("corrupt containers parse to null, not garbage") {
    val good = FrameCodec.pack("hello world, frames".getBytes("UTF-8"), 7)
    assert(FrameCodec.parseRaw(good) != null)
    // bad magic
    val badMagic = good.clone(); badMagic(0) = 'X'.toByte
    assert(FrameCodec.parseRaw(badMagic) == null)
    // bad version
    val badVer = good.clone(); badVer(4) = 9.toByte
    assert(FrameCodec.parseRaw(badVer) == null)
    // truncated mid-frame (declared length runs past the buffer)
    assert(FrameCodec.parseRaw(good.take(good.length - 3)) == null)
    // truncated mid-prefix
    assert(FrameCodec.parseRaw(good.take(FrameCodec.HeaderLen + 2)) == null)
    // trailing garbage after the last frame
    assert(FrameCodec.parseRaw(good :+ 0.toByte) == null)
    // too short for a header
    assert(FrameCodec.parseRaw(Array[Byte]('G', 'R', 'F')) == null)
    // and through the expression: corrupt -> NULL row-level result
    import spark.implicits._
    val df = Seq(("ok", good), ("bad", badMagic)).toDF("tag", "c")
      .select(col("tag"), parse_frames(col("c")).as("f"))
    val rows = df.collect().map(r => r.getString(0) -> r.isNullAt(1)).toMap
    assert(rows == Map("ok" -> false, "bad" -> true))
  }

  test("huge length prefix cannot overflow the bounds check") {
    // a corrupt prefix near 2^31 used to wrap off+len negative and PASS
    // the bounds check; with >=2 declared frames the next iteration then
    // indexed at a negative offset and threw, killing the task instead
    // of returning null (ADVICE r6 #1)
    val good = FrameCodec.pack("hello world, frames".getBytes("UTF-8"), 7)
    for (hi <- Seq(0x7FFFFFFF, 0x7FFFFFF8, Int.MaxValue - FrameCodec.HeaderLen)) {
      val evil = good.clone()
      evil(FrameCodec.HeaderLen) = (hi >>> 24).toByte
      evil(FrameCodec.HeaderLen + 1) = (hi >>> 16).toByte
      evil(FrameCodec.HeaderLen + 2) = (hi >>> 8).toByte
      evil(FrameCodec.HeaderLen + 3) = hi.toByte
      assert(FrameCodec.parseRaw(evil) == null, f"prefix=0x$hi%08x must parse to null")
    }
  }

  test("pack degrades to null past the u16 frame-count cap") {
    // 65535 frames at frameSize=1 is the boundary: packs fine
    val atCap = new Array[Byte](FrameCodec.MaxFrames)
    val packed = FrameCodec.pack(atCap, 1)
    assert(packed != null && FrameCodec.parseRaw(packed)._1.length == FrameCodec.MaxFrames)
    // 65536 frames: null, not an exception (one oversized doc must not
    // kill the scan — ADVICE r6 #2)
    assert(FrameCodec.pack(new Array[Byte](FrameCodec.MaxFrames + 1), 1) == null)
    // and through the expression: oversized -> NULL, small -> packed
    import spark.implicits._
    val rows = Seq(("big", new Array[Byte](FrameCodec.MaxFrames + 1)),
        ("small", Array[Byte](1, 2, 3)))
      .toDF("tag", "p")
      .select(col("tag"), pack_frames(col("p"), lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.isNullAt(1)).toMap
    assert(rows == Map("big" -> true, "small" -> false))
  }

  test("batched decode drops corrupt containers instead of crashing") {
    import spark.implicits._
    val good = FrameCodec.pack("payload bytes here".getBytes("UTF-8"), 7)
    val bad = good.clone(); bad(0) = 'X'.toByte
    val df = Seq((1L, good), (2L, bad), (3L, good)).toDF("doc_id", "container")
    val out = Multimodal.parseContainersBatch(df)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 3L))
  }

  test("container parse stays inside whole-stage codegen") {
    // finalPlan: with the scan fan-out exchange in the plan, AQE only
    // finalizes stages (and wraps them in WholeStageCodegen) at run time
    val plan = finalPlan(Multimodal.parseContainers(
      Multimodal.withContainers(Tables.documents(spark, sf()))))
    // the finalized tree renders codegen spans as `*(n)` prefixes
    assert(plan.contains("*("), s"expected codegen:\n$plan")
  }
}

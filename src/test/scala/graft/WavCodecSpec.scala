package graft

import org.apache.spark.sql.functions._

import graft.functions.WavCodec
import graft.pipeline.Multimodal

/** WAV codec contracts: the 44-byte RIFF/PCM header round-trips, every
  * consistency rule rejects its corruption mode with null (never an
  * exception), a header parse needs only the first frame's bytes, and
  * the expression and batched decode paths agree. */
class WavCodecSpec extends SparkSpec {

  test("round trip: parse(encode(...)) recovers every header field") {
    for {
      (rate, ch, n) <- Seq((8000, 1, 0), (16000, 2, 1), (44100, 2, 997),
        (24000, 8, 64))
    } {
      val wav = WavCodec.encode(rate, ch, n, seed = 42L)
      assert(wav != null, s"rate=$rate ch=$ch n=$n")
      assert(wav.length == WavCodec.HeaderLen + n * ch * 2)
      val h = WavCodec.parseHeaderRaw(wav)
      assert(h != null)
      assert(h.toSeq == Seq[Long](ch, rate, 16, n, rate.toLong * ch * 2))
    }
  }

  test("encode degrades to null on out-of-range parameters") {
    assert(WavCodec.encode(0, 1, 10, 0L) == null) // rate
    assert(WavCodec.encode(-8000, 1, 10, 0L) == null)
    assert(WavCodec.encode(8000, 0, 10, 0L) == null) // channels
    assert(WavCodec.encode(8000, 9, 10, 0L) == null)
    assert(WavCodec.encode(8000, 1, -1, 0L) == null) // samples
    assert(WavCodec.encode(8000, 2, Int.MaxValue / 2, 0L) == null) // size
  }

  test("header parse needs only the first 44 bytes") {
    val wav = WavCodec.encode(16000, 2, 500, 7L)
    val h = WavCodec.parseHeaderRaw(java.util.Arrays.copyOf(wav, 44))
    assert(h != null && h(3) == 500L)
    // but 43 bytes is structurally short
    assert(WavCodec.parseHeaderRaw(java.util.Arrays.copyOf(wav, 43)) == null)
    assert(WavCodec.parseHeaderRaw(null) == null)
  }

  test("every corruption mode parses to null, not garbage") {
    def corrupt(f: Array[Byte] => Unit): Array[Byte] = {
      val b = WavCodec.encode(16000, 2, 100, 7L)
      f(b); b
    }
    // magic tags
    assert(WavCodec.parseHeaderRaw(corrupt(_(0) = 'X')) == null) // RIFF
    assert(WavCodec.parseHeaderRaw(corrupt(_(8) = 'X')) == null) // WAVE
    assert(WavCodec.parseHeaderRaw(corrupt(_(12) = 'X')) == null) // fmt
    assert(WavCodec.parseHeaderRaw(corrupt(_(36) = 'X')) == null) // data
    // non-canonical fmt chunk size
    assert(WavCodec.parseHeaderRaw(corrupt(_(16) = 18)) == null)
    // non-PCM audio format
    assert(WavCodec.parseHeaderRaw(corrupt(_(20) = 3)) == null)
    // channel count out of range (0 and 9)
    assert(WavCodec.parseHeaderRaw(corrupt(_(22) = 0)) == null)
    assert(WavCodec.parseHeaderRaw(corrupt(_(22) = 9)) == null)
    // zero sample rate
    assert(WavCodec.parseHeaderRaw(corrupt { b =>
      b(24) = 0; b(25) = 0; b(26) = 0; b(27) = 0
    }) == null)
    // byteRate inconsistent with rate * blockAlign
    assert(WavCodec.parseHeaderRaw(corrupt(_(28) = 1)) == null)
    // blockAlign inconsistent with channels * bps/8
    assert(WavCodec.parseHeaderRaw(corrupt(_(32) = 3)) == null)
    // unsupported bit depth
    assert(WavCodec.parseHeaderRaw(corrupt(_(34) = 12)) == null)
    // chunkSize inconsistent with dataSize
    assert(WavCodec.parseHeaderRaw(corrupt(_(4) = 1)) == null)
    // dataSize not a multiple of blockAlign
    assert(WavCodec.parseHeaderRaw(corrupt(_(40) = 1)) == null)
  }

  test("a corrupt container drops its row on both decode paths") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf()).limit(8)
    val withBad = Multimodal.withWavContainers(docs)
      .withColumn("container",
        when(col("doc_id") === 3,
          // flip the 'R' of RIFF: first frame payload starts at 1-indexed
          // position 12 (7B GRFT1 header + 4B length prefix), so this is
          // still a structurally-valid GRFT1 container whose embedded WAV
          // header the inner parse must reject
          expr("concat(substring(container, 1, 11), X'58'," +
            " substring(container, 13))").cast("binary"))
          .otherwise(col("container")))
    val exprIds = Multimodal.parseWavHeaders(withBad)
      .filter(col("num_channels").isNotNull)
      .select("doc_id").as[Long].collect().toSet
    val batchIds = Multimodal.parseWavHeadersBatch(withBad)
      .select("doc_id").as[Long].collect().toSet
    assert(exprIds == batchIds)
    assert(!exprIds.contains(3L))
    assert(exprIds.nonEmpty)
  }

  // ---- PCM loudness decode ----------------------------------------------

  test("pcm stats: hand-computed energy and peak over known sample bytes") {
    // seed=0, 2 samples mono: bytes (i*7)%251 for i=0..3 -> 0,7,14,21
    // s0 = 0 + 7*256 = 1792; s1 = 14 + 21*256 = 5390 (both positive)
    val wav = WavCodec.encode(8000, 1, 2, seed = 0L)
    val st = WavCodec.pcmStatsRaw(wav)
    assert(st.toSeq === Seq[Long](2L,
      1792L * 1792L + 5390L * 5390L, 5390L))
  }

  test("pcm stats: sign extension — a high byte >= 0x80 goes negative") {
    // craft a 1-sample mono WAV then overwrite the sample with 0x00 0x80
    // -> raw 0x8000 = -32768
    val wav = WavCodec.encode(8000, 1, 1, seed = 0L)
    wav(WavCodec.HeaderLen) = 0x00.toByte
    wav(WavCodec.HeaderLen + 1) = 0x80.toByte
    val st = WavCodec.pcmStatsRaw(wav)
    assert(st.toSeq === Seq[Long](1L, 32768L * 32768L, 32768L))
  }

  test("pcm stats: zero samples is a valid silent WAV, not null") {
    val st = WavCodec.pcmStatsRaw(WavCodec.encode(8000, 2, 0, seed = 5L))
    assert(st.toSeq === Seq[Long](0L, 0L, 0L))
  }

  test("pcm stats null on truncated data, trailing bytes, bad header") {
    val wav = WavCodec.encode(8000, 1, 4, seed = 1L)
    assert(WavCodec.pcmStatsRaw(
      java.util.Arrays.copyOf(wav, wav.length - 1)) == null)
    assert(WavCodec.pcmStatsRaw(
      java.util.Arrays.copyOf(wav, wav.length + 1)) == null)
    val bad = wav.clone(); bad(0) = 'X'
    assert(WavCodec.pcmStatsRaw(bad) == null)
    assert(WavCodec.pcmStatsRaw(null) == null)
    assert(WavCodec.pcmStatsRaw(Array.emptyByteArray) == null)
  }

  test("expression and batched loudness agree and match a driver recompute") {
    val docs = Tables.documents(spark, sf()).limit(32)
    val containers = Multimodal.withWavContainers(docs)
    val viaExpr = Multimodal.wavLoudness(containers)
      .orderBy(col("doc_id")).collect().map(_.toSeq)
    val viaBatch = Multimodal.wavLoudnessBatch(containers)
      .orderBy(col("doc_id")).collect().map(_.toSeq)
    assert(viaExpr.nonEmpty)
    assert(viaExpr.toSeq == viaBatch.toSeq)
    // independent recompute from the geometry formula for one doc
    import spark.implicits._
    val (id, len) = docs.filter(length(col("text")) > 0)
      .select(col("doc_id"), length(col("text")))
      .as[(Long, Int)].head()
    val nBytes = len * ((id % 2) + 1).toInt * 2
    val samples = (0 until nBytes / 2).map { k =>
      val lo = ((2L * k * 7 + id) % 251).toInt
      val hi = (((2L * k + 1) * 7 + id) % 251).toInt
      val r = lo | (hi << 8)
      if (r >= 32768) r - 65536 else r
    }
    val expect = Seq(samples.size.toLong,
      samples.map(s => s.toLong * s).sum, samples.map(s => math.abs(s).toLong).max)
    val got = viaExpr.find(_.head == id).get.drop(1)
    assert(got === expect)
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.pipeline.Multimodal

/** Native expression units: eval + codegen paths, SQL registration,
  * multimodal plumbing. */
class ExpressionsSpec extends SparkSpec {

  test("pack_pair canonicalizes and packs") {
    import spark.implicits._
    val got = Seq((5L, 3L), (3L, 5L), (0L, 7L))
      .toDF("a", "b")
      .select(GraftFunctions.pack_pair(col("a"), col("b")).as("k"))
      .collect().map(_.getLong(0))
    assert(got(0) === ((3L << 32) | 5L))
    assert(got(0) === got(1)) // order-insensitive
    assert(got(2) === 7L)     // min 0 packs high bits to 0
  }

  test("byte_histogram counts high nibbles (eval + codegen agree)") {
    import spark.implicits._
    val df = Seq("AAAB", " !~").toDF("t")
      .select(GraftFunctions.byte_histogram(encode(col("t"), "UTF-8")).as("h"))
    val rows = df.collect().map(_.getSeq[Long](0))
    // 'A'=0x41,'B'=0x42 → nibble 4 count 4
    assert(rows(0)(4) === 4L && rows(0).sum === 4L)
    // ' '=0x20 → bin 2; '!'=0x21 → bin 2; '~'=0x7E → bin 7
    assert(rows(1)(2) === 2L && rows(1)(7) === 1L)
  }

  test("sample_bytes takes every k-th byte") {
    import spark.implicits._
    val got = Seq("abcdefghij").toDF("t")
      .select(GraftFunctions.sample_bytes(encode(col("t"), "UTF-8"), lit(3)).as("s"))
      .head.getAs[Array[Byte]](0)
    assert(new String(got, "UTF-8") === "adgj")
  }

  test("functions callable from SQL after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT pack_pair(9L, 2L) AS k, byte_histogram(encode('AA', 'UTF-8'))[4] AS h")
      .head
    assert(r.getLong(0) === ((2L << 32) | 9L))
    assert(r.getLong(1) === 2L)
  }

  test("typed mapPartitions decode equals the expression decode") {
    val assets = Multimodal.withAssets(Tables.documents(spark, sf()))
    val viaExpr = Multimodal.decodeFeatures(assets)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](3)).toMap
    val viaTyped = Multimodal.decodeFeaturesBatch(assets)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaExpr.nonEmpty && viaExpr === viaTyped)
  }

  test("vectorized batch decode equals the expression decode across batch boundaries") {
    val assets = Multimodal.withAssets(Tables.documents(spark, sf()))
    val viaExpr = Multimodal.decodeFeatures(assets)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](3)).toMap
    // the batch is the partition: many small partitions (some empty)
    // put a boundary between most neighbouring rows
    val viaBatch = Multimodal.decodeFeaturesBatch(assets.repartition(64))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaExpr.nonEmpty && viaExpr === viaBatch)
  }

  test("encode_flac / encode_avi coerce INT literals on the INTERPRETED path") {
    // ADVICE r11 #1: a SQL call with an INT seed literal must degrade
    // through the analyzer's implicit cast, not ClassCastException in
    // the interpreted eval (codegen survives via Java int→long
    // widening, so the gap is ONLY visible with codegen off).
    GraftFunctions.register(spark)
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // INT 4th arg (seed) — EncodeFlac declares LongType there
      val flac = spark.sql(
        "SELECT encode_flac(8000, 1, 100, 42) AS b").head.getAs[Array[Byte]](0)
      assert(flac != null && new String(flac.take(4), "US-ASCII") === "fLaC")
      // INT 5th (seed) and 7th (seedStride) args — EncodeAvi declares LONG
      val avi = spark.sql(
        "SELECT encode_avi(16, 16, 2, 25, 7, 0, 1) AS b").head.getAs[Array[Byte]](0)
      assert(avi != null && new String(avi.take(4), "US-ASCII") === "RIFF")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // the defensive widen also survives a DIRECTLY-constructed plan that
    // never saw the analyzer (no implicit casts inserted)
    import org.apache.spark.sql.catalyst.expressions.Literal
    val raw = graft.functions.EncodeFlac(
      Literal(8000), Literal(1), Literal(100), Literal(42)) // Int seed
      .eval(null).asInstanceOf[Array[Byte]]
    assert(raw != null && new String(raw.take(4), "US-ASCII") === "fLaC")
  }

  test("multimodal pipeline: assets carry metadata, features are 16-wide") {
    val feats = Multimodal.decodeFeatures(
      Multimodal.withAssets(Tables.documents(spark, sf())))
    val r = feats.head
    assert(feats.columns.toSeq === Seq("doc_id", "width", "height", "features"))
    assert(r.getSeq[Long](3).size === 16)
    // narrow plan: no shuffle in a per-row pipeline
    val plan = sansFanout(feats.queryExecution.executedPlan.toString)
    assert(!plan.contains("Exchange"))
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.pipeline.ExactBaselines

/** Persistent exact-baseline store (VERDICT r8 #3): the O(n²) ground
  * truth is computed once per distinct CORPUS, persisted keyed by a
  * content fingerprint, and re-served bit-identically; any content
  * change misses the store. */
class ExactBaselinesStoreSpec extends SparkSpec {

  import spark.implicits._

  private def writeEmbeddings(dir: String, bump: Float): Unit = {
    (0L until 16L).map { i =>
      (i, (0 until 8).map(j => (i * 8 + j).toFloat / 10f +
        (if (i == 3) bump else 0f)))
    }.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  test("store hit serves the same rows as the compute path") {
    val dir = "/tmp/graft-ebstore-a"
    writeEmbeddings(dir, 0f)
    def snap() = ExactBaselines.topk(spark, dir)
      .orderBy("qid", "rnk").collect().map(_.toSeq).toSeq
    val computed = snap() // miss: compute + persist
    SessionCaches.clear(spark, "embed_exact") // drop the session cache, keep the store
    val served = snap() // hit: read back from the store
    assert(computed.nonEmpty)
    assert(served === computed)
    // ndPairs goes through the same store discipline
    ExactBaselines.ndPairs(spark, dir).count()
    SessionCaches.clear(spark, "embed_exact")
    assert(ExactBaselines.ndPairs(spark, dir).columns.toSeq ===
      Seq("a_id", "b_id", "sim"))
    SessionCaches.clear(spark, "embed_exact")
  }

  test("a changed corpus misses the store (fingerprint keyed on content)") {
    val dirA = "/tmp/graft-ebstore-b"
    val dirB = "/tmp/graft-ebstore-c"
    writeEmbeddings(dirA, 0f)
    writeEmbeddings(dirB, 9f) // one vector moved: different fingerprint
    val a = ExactBaselines.topk(spark, dirA)
      .filter(col("qid") === 3).orderBy("rnk").collect().map(_.toSeq).toSeq
    val b = ExactBaselines.topk(spark, dirB)
      .filter(col("qid") === 3).orderBy("rnk").collect().map(_.toSeq).toSeq
    // same session, both cached — the moved vector must change the
    // neighbor list, which it could not if dirB had hit dirA's store
    assert(a !== b)
    SessionCaches.clear(spark, "embed_exact")
  }
}

package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions.{unzstd_bytes, warc_records}
import graft.registry.Q

/** Zstd dictionary training as a SPARK AGGREGATION + the Common Crawl
  * dictionary-stream ingest (`t_warc_zst_dict_parse`).
  *
  * Common Crawl's `.warc.zst` compresses each record as its own zstd
  * frame against a SHARED dictionary carried in a leading skippable
  * frame (magic 0x184D2A5D) — per-record frames are tiny, so the
  * cross-record boilerplate (WARC headers, HTTP headers, HTML
  * template) is only reachable through the dict. Training such a
  * dictionary is frequency mining over the corpus — a natural Spark
  * job, not a native-library call:
  *
  *   shingle every page into fixed-width grams (one narrow explode)
  *   → gram-keyed count (ONE map-side-combined shuffle, the BPE/
  *     lang-id shape) → top-k by (count, gram) → concatenate, most
  *     frequent LAST (zstd convention: the hottest content sits at
  *     the smallest offsets).
  *
  * The artifact is dict-size-bounded (like QualityModel/LangIdModel's
  * shipped weights), so it collects to the driver and ships to the
  * encode/decode expressions as a literal. At 100 TB: train on a
  * sampled shard, ship per-shard dicts exactly as Common Crawl does.
  *
  * The registered query round-trips the WHOLE convention: build the
  * self-contained stream (dict frame + dict-compressed record
  * frames), decode it with NO out-of-band dict (unzstd_bytes resolves
  * the leading dict frame itself), then the standard record walk —
  * against the SAME ParseOracle as every other WARC form, so the
  * dictionary layer must be exactly transparent. The compression WIN
  * is asserted in ZstdDictSpec (measured, not oracle-replayable). */
object ZstdDict {

  /** Mine a raw-content dictionary from the corpus' pages: top
    * (dictBytes/gram) gram-width shingles by document frequency,
    * concatenated most-frequent-last. Deterministic: ties break on
    * the gram itself. */
  def train(pages: DataFrame, textCol: String = "html",
      dictBytes: Int = 4096, gram: Int = 32): Array[Byte] = {
    val n = math.max(1, dictBytes / gram)
    val rows = pages
      .select(explode(expr(
        s"transform(sequence(0, CAST(length($textCol) / $gram AS INT) - 1), " +
          s"i -> substring($textCol, i * $gram + 1, $gram))")).as("g"))
      .filter(length(col("g")) === gram)
      .groupBy(col("g")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("g"))
      .limit(n)
      .collect()
    // most frequent at the END: closest (cheapest) offsets
    rows.reverse.map(_.getString(0)).mkString.getBytes("UTF-8")
  }

  /** documents -> (doc_id, warczstd): the full Common Crawl stream
    * shape per doc — leading dict skippable frame + one dict-
    * compressed frame per record. Self-contained: decodes with no
    * out-of-band dictionary. */
  def withWarcZstDict(docs: DataFrame, dict: Array[Byte]): DataFrame =
    Html.withHtml(docs)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.encode_warc_zst_dict(
          col("doc_id"),
          concat(lit("http://w"), col("doc_id") % 50,
            lit(".example/p"), col("doc_id")),
          col("html"), lit(dict)).as("warczstd"))

  /** The CC dictionary-convention ingest: train the dict AS A SPARK
    * JOB, build the self-contained streams, decode them with the
    * in-stream dict, walk the records — ParseOracle green means the
    * dictionary layer is exactly transparent end to end. */
  val warcZstDictParseQ: Q = Q(
    "t_warc_zst_dict_parse",
    Some(Warc.parseOracleSql),
    (s, d) => {
      val docs = Tables.fanout(Tables.documents(s, d))
      val dict = train(Html.withHtml(docs))
      withWarcZstDict(docs, dict)
        .select(col("doc_id"),
          explode(warc_records(unzstd_bytes(col("warczstd")))).as("r"))
        .select(col("doc_id"), col("r.rec_idx").as("rec_idx"),
          col("r.rec_type").as("rec_type"), col("r.uri").as("uri"),
          col("r.content_length").as("content_length"),
          col("r.http_status").as("http_status"))
        .orderBy(col("doc_id"), col("rec_idx"))
    })

  // ---- train-once/ship twin (VERDICT r12 #7) -------------------------------
  // t_warc_zst_dict_parse trains its dict IN-QUERY — honest for a
  // demo, wrong economics at 100 TB, where the dictionary is trained
  // ONCE (on a sampled shard) and shipped to every task as a ≤4 KiB
  // broadcast artifact. This twin registers that form: the dict is a
  // session-cached artifact built in Bench's `_setup_zst_dict` slot,
  // the shards carry NO leading dict frame (not self-contained), and
  // the decode takes the dict as a literal — ZstdDictSpec pins that
  // the query's plan has exactly ONE scan (no training subtree).

  /** The shipped dictionary artifact: train once per (session, sf). */
  private[graft] def trainedDict(s: org.apache.spark.sql.SparkSession,
      d: String): Array[Byte] =
    graft.SessionCaches.memo(s, "zst_dict", d)(
      train(Html.withHtml(Tables.fanout(Tables.documents(s, d)))))

  /** The shipped-dict ingest: bare dict-compressed shards decoded with
    * the broadcast artifact — same ParseOracle, so the out-of-band
    * dictionary layer must be exactly as transparent as the in-stream
    * one. */
  val warcZstDictArtifactQ: Q = Q(
    "t_warc_zst_dict_artifact",
    Some(Warc.parseOracleSql),
    (s, d) => {
      val dict = trainedDict(s, d) // ≤4 KiB driver-side artifact
      val docs = Tables.fanout(Tables.documents(s, d))
      Html.withHtml(docs)
        .select(col("doc_id"),
          graft.functions.GraftFunctions.encode_warc_zst_dict_bare(
            col("doc_id"),
            concat(lit("http://w"), col("doc_id") % 50,
              lit(".example/p"), col("doc_id")),
            col("html"), lit(dict)).as("warczstb"))
        .select(col("doc_id"),
          explode(warc_records(
            graft.functions.GraftFunctions.unzstd_bytes_dict(
              col("warczstb"), lit(dict)))).as("r"))
        .select(col("doc_id"), col("r.rec_idx").as("rec_idx"),
          col("r.rec_type").as("rec_type"), col("r.uri").as("uri"),
          col("r.content_length").as("content_length"),
          col("r.http_status").as("http_status"))
        .orderBy(col("doc_id"), col("rec_idx"))
    })

  val all: Seq[Q] = Seq(warcZstDictParseQ, warcZstDictArtifactQ)
}

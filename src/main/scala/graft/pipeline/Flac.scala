package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.functions.GraftFunctions.{encode_flac, parse_flac_header, parse_flac_pcm}
import graft.registry.Q

/** FLAC ingestion (VERDICT r10 #7 — the round-11 big kernel): every
  * document carries a REAL compressed FLAC stream (fixed-predictor +
  * Rice frames, CRC-8/CRC-16 framing, PCM-MD5 seal) of the WAV lane's
  * exact planted samples; the queries decode it back out.
  *
  * The oracle never touches bytes: the header fields are pure doc_id/
  * length arithmetic, and the loudness stats are the SAME planted
  * sample formula the WAV lane pins (WavCodec's (i·7+seed) mod 251
  * bytes) — so the whole compression layer (Rice coding, predictors,
  * stereo decorrelation, bit packing) must be exactly transparent for
  * the hash to match, and the decoder's internal MD5 check proves
  * losslessness PER ROW on top of that.
  *
  * Scale shape: encode and decode are both narrow per-row kernels —
  * the ingest plan is scan → map → sort, zero exchanges beyond the
  * output order; the _batch twin runs the same kernel on the typed
  * mapPartitions path like every codec lane. Measured honesty note:
  * the planted samples are near-noise, and FLAC barely compresses
  * them — measured 7681 bytes per 8192 raw (the mod-251 byte formula
  * is slightly under 16 bits of entropy, which Rice at a high
  * parameter collects); FlacCodecSpec pins that marginal ratio AND a
  * structured-signal corpus where the fixed predictors compress >4x. */
object Flac {

  /** documents -> (doc_id, flac BINARY): rate (doc_id%3+1)·8kHz,
    * channels doc_id%2+1, length(text) samples per channel, seed
    * doc_id — the WAV lane's geometry. */
  def withFlacAudio(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      encode_flac(
        ((col("doc_id") % 3 + 1) * 8000).cast("int"),
        (col("doc_id") % 2 + 1).cast("int"),
        length(col("text")).cast("int"),
        col("doc_id")).as("flac"))

  /** STREAMINFO decode: (doc_id, num_channels, sample_rate,
    * bits_per_sample, n_samples). */
  def decodeHeaders(flacs: DataFrame): DataFrame =
    flacs.select(col("doc_id"), parse_flac_header(col("flac")).as("h"))
      .select(col("doc_id"),
        col("h.num_channels").as("num_channels"),
        col("h.sample_rate").as("sample_rate"),
        col("h.bits_per_sample").as("bits_per_sample"),
        col("h.n_samples").as("n_samples"))

  /** Full decode loudness: (doc_id, n_samples, sum_sq, peak) — the
    * WAV-lane stat triple over the RECONSTRUCTED samples. */
  def loudness(flacs: DataFrame): DataFrame =
    flacs.select(col("doc_id"), parse_flac_pcm(col("flac")).as("s"))
      .select(col("doc_id"),
        col("s.n_samples").as("n_samples"),
        col("s.sum_sq").as("sum_sq"),
        col("s.peak").as("peak"))

  /** Typed mapPartitions full-decode path. */
  def loudnessBatch(flacs: DataFrame): DataFrame =
    RowDecode.longs(flacs, "flac", RowDecode.raw,
      Seq("n_samples", "sum_sq", "peak"))(graft.functions.FlacCodec.pcmStatsRaw)

  private val HeaderOracleSql =
    """SELECT doc_id,
      |  CAST(doc_id % 2 + 1 AS BIGINT) AS num_channels,
      |  CAST((doc_id % 3 + 1) * 8000 AS BIGINT) AS sample_rate,
      |  CAST(16 AS BIGINT) AS bits_per_sample,
      |  CAST(length(text) AS BIGINT) AS n_samples
      |FROM documents ORDER BY doc_id""".stripMargin

  /** The WAV lane's planted-sample arithmetic, verbatim (the
    * compression layer must be transparent to it). */
  private val PcmOracleSql: String = {
    val raw = "((2*k*7 + doc_id) % 251) + 256*(((2*k+1)*7 + doc_id) % 251)"
    s"""WITH geo AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) * (doc_id % 2 + 1) AS n
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, n,
       |    list_transform(generate_series(0, n - 1),
       |      k -> CASE WHEN $raw >= 32768 THEN $raw - 65536
       |           ELSE $raw END) AS ss
       |  FROM geo)
       |SELECT doc_id, n AS n_samples,
       |  CAST(COALESCE(list_sum(list_transform(ss, x -> x*x)), 0)
       |    AS BIGINT) AS sum_sq,
       |  CAST(COALESCE(list_max(list_transform(ss, x -> abs(x))), 0)
       |    AS BIGINT) AS peak
       |FROM s ORDER BY doc_id""".stripMargin
  }

  val decodeQ: Q = Q(
    "m_flac_decode",
    Some(HeaderOracleSql),
    (s, d) =>
      decodeHeaders(withFlacAudio(Tables.fanout(Tables.documents(s, d))))
        .orderBy(col("doc_id")))

  val loudnessQ: Q = Q(
    "m_flac_loudness",
    Some(PcmOracleSql),
    (s, d) =>
      loudness(withFlacAudio(Tables.fanout(Tables.documents(s, d))))
        .orderBy(col("doc_id")))

  val loudnessBatchQ: Q = Q(
    "m_flac_loudness_batch",
    Some(PcmOracleSql),
    (s, d) =>
      loudnessBatch(withFlacAudio(Tables.fanout(Tables.documents(s, d))))
        .orderBy(col("doc_id")))

  val all: Seq[Q] = Seq(decodeQ, loudnessQ, loudnessBatchQ)
}

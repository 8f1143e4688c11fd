package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.functions.WarcCodec
import graft.functions.GraftFunctions.{encode_warc, encode_warc_gz, encode_warc_zst, gunzip_bytes, html_extract, unzstd_bytes, warc_records}
import graft.registry.Q

/** WARC ingestion (ISO 28500) — crawl corpora arrive as WARC capture
  * files, so the text lane's real entry point is: WARC record walk →
  * embedded HTTP message → page body → HTML extraction. Each document
  * carries the standard capture triplet (warcinfo, request, response);
  * the parse explodes records, and the extract query chains the
  * response payload STRAIGHT into the existing HtmlCodec — same
  * output, same oracle, as t_html_extract, proving the ingest path is
  * lossless. Everything is a narrow map until the output sort; at
  * 100 TB the gzip lane composes upstream (.warc.gz = gzip members
  * over these bytes, GzipCodec's boundary). */
object Warc {

  /** documents -> (doc_id, warc BINARY): uri http://w{id%50}.example/p{id},
    * page = the Html lane's deterministic messy page. */
  def withWarc(docs: DataFrame): DataFrame =
    Html.withHtml(docs)
      .select(col("doc_id"), col("html"),
        concat(lit("http://w"), col("doc_id") % 50,
          lit(".example/p"), col("doc_id")).as("uri"))
      .select(col("doc_id"),
        encode_warc(col("doc_id"), col("uri"), col("html")).as("warc"))

  /** Record-level parse, exploded to (doc, record) rows. */
  def parseRecords(warcs: DataFrame): DataFrame =
    warcs.select(col("doc_id"), explode(warc_records(col("warc"))).as("r"))
      .select(col("doc_id"), col("r.rec_idx").as("rec_idx"),
        col("r.rec_type").as("rec_type"), col("r.uri").as("uri"),
        col("r.content_length").as("content_length"),
        col("r.http_status").as("http_status"))

  final case class WarcRecOut(doc_id: Long, rec_idx: Long, rec_type: String,
      uri: String, content_length: Long, http_status: Long)

  /** Typed mapPartitions parse twin. */
  def parseRecordsBatch(warcs: DataFrame): DataFrame = {
    val spark = warcs.sparkSession
    import spark.implicits._
    warcs.select(col("doc_id"), col("warc")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, w) =>
        val rs = WarcCodec.parseRaw(w)
        if (rs == null) Iterator.empty
        else rs.iterator.zipWithIndex.map { case (r, i) =>
          WarcRecOut(id, i.toLong, r.recType, r.uri, r.contentLength,
            r.httpStatus)
        }
      })
      .toDF()
  }

  /** The ingest composition: response payloads through the HTML
    * extractor — output-identical to t_html_extract (same oracle). */
  def extractFromWarc(warcs: DataFrame): DataFrame =
    warcs.select(col("doc_id"), explode(warc_records(col("warc"))).as("r"))
      .filter(col("r.rec_type") === "response")
      .select(col("doc_id"), html_extract(col("r.body")).as("extract"))
      .withColumn("n_chars", length(col("extract")).cast(LongType))

  // ---- oracles -------------------------------------------------------------

  /** The Html.withHtml page rebuilt as a DuckDB expression (same
    * concats, same CASE branches) — record 2's Content-Length is the
    * fixed HTTP prefix (44 bytes) + the page (ASCII corpus: bytes ==
    * chars; the codec's byte-correctness on multi-byte pages is
    * spec-pinned separately). */
  private val HtmlLenSql: String = {
    val esc = "replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
    val id = "CAST(doc_id AS VARCHAR)"
    s"""length('<html><head><title>Doc ' || $id || '</title>'
       |  || '<script type="text/javascript">var x = ' || $id || '; if (x < 99) { x = x*2; }</script>'
       |  || '<style>p { margin: 0; }</style></head>'
       |  || '<body><!-- generated ' || $id || ' -->'
       |  || '<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a> <a href="/p'
       |  || CAST(doc_id // 2 + 1 AS VARCHAR) || '?a=1&amp;b=2">next</a></nav>'
       |  || CASE WHEN doc_id % 3 = 0 THEN '<nav><a href="/x">Archive index</a> <a href="/y">Tag cloud</a></nav>' ELSE '' END
       |  || '<div class="main">' || $esc || ' A &amp; B &lt;ok&gt; &#65;&#x42;.</div>'
       |  || CASE WHEN doc_id % 10 = 0 THEN '<p>Paragraph two of document ' || $id || ' follows <a href="/n">here</a>.</p>'
       |       WHEN doc_id % 5 = 0 THEN '<p>Paragraph two of document ' || $id || ' follows here.</p>' ELSE '' END
       |  || '<div class="promo"><a href="/buy">Buy now and save twenty percent today</a></div>'
       |  || '<footer>&copy; 2026 example</footer></body></html>')""".stripMargin
      // flattened to ONE line: this fragment embeds in ParseOracle's
      // stripMargin block, which would otherwise eat the leading pipe
      // of every '||' continuation line
      .replaceAll("\n\\s*", " ")
  }

  /** Exposed for the dictionary-convention lane (ZstdDict): same
    * records, same oracle — every compression form must be
    * transparent against it. */
  private[pipeline] def parseOracleSql: String = ParseOracle

  private val ParseOracle: String =
    s"""WITH h AS (
       |  SELECT doc_id,
       |    'http://w' || CAST(doc_id % 50 AS VARCHAR) || '.example/p'
       |      || CAST(doc_id AS VARCHAR) AS u,
       |    $HtmlLenSql AS hlen
       |  FROM documents)
       |SELECT doc_id, rec_idx, rec_type, uri, content_length, http_status
       |FROM (
       |  SELECT doc_id, CAST(0 AS BIGINT) AS rec_idx,
       |    'warcinfo' AS rec_type, '' AS uri,
       |    CAST(39 AS BIGINT) AS content_length,
       |    CAST(-1 AS BIGINT) AS http_status FROM h
       |  UNION ALL
       |  SELECT doc_id, CAST(1 AS BIGINT), 'request', u,
       |    CAST(length('GET /p' || CAST(doc_id AS VARCHAR) || ' HTTP/1.1') + 2
       |      + length('Host: w' || CAST(doc_id % 50 AS VARCHAR) || '.example') + 2
       |      + 2 AS BIGINT),
       |    CAST(-1 AS BIGINT) FROM h
       |  UNION ALL
       |  SELECT doc_id, CAST(2 AS BIGINT), 'response', u,
       |    CAST(44 + hlen AS BIGINT), CAST(200 AS BIGINT) FROM h)
       |ORDER BY doc_id, rec_idx""".stripMargin

  /** The extract oracle is t_html_extract's, verbatim by construction
    * — the WARC hop must be lossless. */
  private val ExtractOracle: String =
    s"""WITH e AS (
       |  SELECT doc_id, ${Html.extractConstructSql} AS extract FROM documents)
       |SELECT doc_id, extract,
       |  CAST(length(extract) AS BIGINT) AS n_chars
       |FROM e ORDER BY doc_id""".stripMargin

  // ---- registered queries --------------------------------------------------

  val warcParseQ: Q = Q(
    "t_warc_parse",
    Some(ParseOracle),
    (s, d) =>
      parseRecords(withWarc(Tables.documents(s, d)))
        .orderBy(col("doc_id"), col("rec_idx")))

  val warcParseBatchQ: Q = Q(
    "t_warc_parse_batch",
    Some(ParseOracle),
    (s, d) =>
      parseRecordsBatch(withWarc(Tables.documents(s, d)))
        .orderBy(col("doc_id"), col("rec_idx")))

  val warcExtractQ: Q = Q(
    "t_warc_extract",
    Some(ExtractOracle),
    (s, d) =>
      extractFromWarc(withWarc(Tables.documents(s, d)))
        .orderBy(col("doc_id")))

  /** documents -> (doc_id, warcgz): the .warc.gz form — one gzip
    * member PER RECORD, concatenated (the standard seekable layout). */
  def withWarcGz(docs: DataFrame): DataFrame =
    Html.withHtml(docs)
      .select(col("doc_id"),
        encode_warc_gz(col("doc_id"),
          concat(lit("http://w"), col("doc_id") % 50,
            lit(".example/p"), col("doc_id")), col("html")).as("warcgz"))

  /** Paired-URI variant for the streaming ingest's seen set: docs
    * 2k/2k+1 capture the SAME page URI (path key doc_id div 2, the
    * crawl convention), so half the shards are genuine re-fetches. */
  def withWarcGzPaired(docs: DataFrame): DataFrame =
    Html.withHtml(docs)
      .select(col("doc_id"),
        encode_warc_gz(col("doc_id"),
          concat(lit("http://w"), expr("(doc_id div 2) % 50"),
            lit(".example/p"), expr("doc_id div 2")),
          col("html")).as("warcgz"))

  /** The compressed path: multi-member gunzip (CRC/ISIZE-verified,
    * bomb-capped) back to the plain file, then the same record walk —
    * the full .warc.gz ingest a crawl shard actually takes. Same
    * oracle as the plain parse: compression must be transparent. */
  val warcGzParseQ: Q = Q(
    "t_warc_gz_parse",
    Some(ParseOracle),
    (s, d) =>
      withWarcGz(Tables.fanout(Tables.documents(s, d)))
        .select(col("doc_id"),
          explode(warc_records(gunzip_bytes(col("warcgz")))).as("r"))
        .select(col("doc_id"), col("r.rec_idx").as("rec_idx"),
          col("r.rec_type").as("rec_type"), col("r.uri").as("uri"),
          col("r.content_length").as("content_length"),
          col("r.http_status").as("http_status"))
        .orderBy(col("doc_id"), col("rec_idx")))

  /** documents -> (doc_id, warczst): the `.warc.zst` form — one zstd
    * FRAME per record, concatenated (Common Crawl's current layout;
    * the zstd sibling of [[withWarcGz]]). */
  def withWarcZst(docs: DataFrame): DataFrame =
    Html.withHtml(docs)
      .select(col("doc_id"),
        encode_warc_zst(col("doc_id"),
          concat(lit("http://w"), col("doc_id") % 50,
            lit(".example/p"), col("doc_id")), col("html")).as("warczst"))

  /** Paired-URI `.warc.zst` variant — the zstd sibling of
    * [[withWarcGzPaired]], for the streaming ingest's seen set. */
  def withWarcZstPaired(docs: DataFrame): DataFrame =
    Html.withHtml(docs)
      .select(col("doc_id"),
        encode_warc_zst(col("doc_id"),
          concat(lit("http://w"), expr("(doc_id div 2) % 50"),
            lit(".example/p"), expr("doc_id div 2")),
          col("html")).as("warczst"))

  /** The zstd compressed path: strict multi-frame decode (RFC 8878
    * FSE+Huffman, XXH64-verified, bomb-capped) back to the plain
    * file, then the same record walk — the `.warc.zst` ingest a
    * Common Crawl shard takes today. Same oracle as the plain parse:
    * the whole compression layer must be transparent. */
  val warcZstParseQ: Q = Q(
    "t_warc_zst_parse",
    Some(ParseOracle),
    (s, d) =>
      withWarcZst(Tables.fanout(Tables.documents(s, d)))
        .select(col("doc_id"),
          explode(warc_records(unzstd_bytes(col("warczst")))).as("r"))
        .select(col("doc_id"), col("r.rec_idx").as("rec_idx"),
          col("r.rec_type").as("rec_type"), col("r.uri").as("uri"),
          col("r.content_length").as("content_length"),
          col("r.http_status").as("http_status"))
        .orderBy(col("doc_id"), col("rec_idx")))

  /** documents -> (doc_id, warczsts): the SEEKABLE `.warc.zst` form —
    * per-record frames + the trailing seek table (zstd seekable
    * format), the layout a CDX-indexed archive wants. */
  def withWarcZstSeekable(docs: DataFrame): DataFrame =
    Html.withHtml(docs)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.encode_warc_zst_seekable(
          col("doc_id"),
          concat(lit("http://w"), col("doc_id") % 50,
            lit(".example/p"), col("doc_id")), col("html")).as("warczsts"))

  // Stored seekable shards (VERDICT r12 #5): the archive is WRITTEN
  // once — at 100 TB it sits in object storage; re-encoding it per
  // read would be absurd — so the seek lane reads a session-cached
  // materialization and its bench wall measures READ-time random
  // access, with the one-time build cost in Bench's explicitly-named
  // `_setup_warc_zst` slot (the PqIndex/_setup_pq discipline).
  private[graft] def seekableShards(s: SparkSession, d: String): DataFrame =
    graft.SessionCaches.memo(s, "warc_zst", d)(
      withWarcZstSeekable(Tables.fanout(Tables.documents(s, d))).localCheckpoint(true))

  /** The random-access fetch FROM THE STORED ARCHIVE: the seek table
    * jumps STRAIGHT to frame 2 (the response record) — frames 0-1 are
    * never decoded (a measured Bench contract: frames_decoded == 1 per
    * shard vs 3 for the scan) — then the single record parses and
    * extracts. Same oracle as t_warc_extract: the indexed fetch must
    * recover exactly what the full scan does. */
  /** The seek projection WITHOUT the result sort: the registered query
    * adds orderBy (oracle determinism), whose range-partitioner
    * SAMPLING pass re-evaluates the decode once more — the contract
    * probes measure THIS plan so frames_decoded is exactly 1/shard. */
  private[graft] def seekPlan(s: SparkSession, d: String): DataFrame =
    seekableShards(s, d)
      .select(col("doc_id"),
        explode(warc_records(
          graft.functions.GraftFunctions.zst_seek_extract(
            col("warczsts"), lit(2)))).as("r"))
      .filter(col("r.rec_type") === "response")
      .select(col("doc_id"), html_extract(col("r.body")).as("extract"))
      .withColumn("n_chars", length(col("extract")).cast(LongType))

  val warcZstSeekQ: Q = Q(
    "t_warc_zst_seek",
    Some(ExtractOracle),
    (s, d) => seekPlan(s, d).orderBy(col("doc_id")))

  val all: Seq[Q] = Seq(warcParseQ, warcParseBatchQ, warcExtractQ,
    warcGzParseQ, warcZstParseQ, warcZstSeekQ)
}

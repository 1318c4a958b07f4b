package graft.fetch

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * S9 live-fetch backend (tornado_fetcher.py:324-426) behind the pages-table
 * interface: the superstep consumes a pages index built by
 * `Superstep.preparePages` from a table with optional
 * (http_status, location, etag, last_modified) capture-metadata columns;
 * this fetcher MATERIALIZES such a table by HTTP-fetching a url list inside
 * `mapPartitions` — proving the pages-table model is a pluggable backend
 * (live web, Common-Crawl WARC, fixture graph), not a hard-coding.
 *
 * Capture-hop semantics match the table model exactly:
 *  - redirects are NOT followed here: a 3xx row carries its http_status +
 *    Location header and `Superstep.resolveRedirects` walks the chain,
 *    identically for live and archived captures (F11);
 *  - If-None-Match / If-Modified-Since are sent when the caller supplies the
 *    task's stored validators; a live 304 yields an empty body with the
 *    validators echoed, which the superstep's not_modified compare then
 *    classifies as a 304 (no re-extraction, no result row) — conditional
 *    fetch (c2) exercised over a real socket;
 *  - 4xx/5xx and transport errors produce NO page row: an absent page is a
 *    failed fetch upstream (retry ladder W7), the same contract as a url
 *    missing from an archived capture;
 *  - politeness/concurrency is the SCHEDULER's job (W1/A7 budgets bound how
 *    many urls per host reach the fetcher per superstep); the fetcher only
 *    fetches sequentially within a partition.
 */
object LiveFetch {

  /** One captured page in the pages-table schema (+ http_status/location). */
  final case class Fetched(
      url: String, warc_ts: java.sql.Timestamp, html: Array[Byte],
      text: String, lang: String, http_status: Int, location: String,
      etag: String, last_modified: String)

  /** Fetch one url (no redirect following). Returns None for transport
    * errors and >= 400 statuses — absent-page = failed-fetch contract. */
  def fetchOne(url: String, storedEtag: String, storedLm: String,
      timeoutMs: Int, maxBytes: Int, userAgent: String): Option[Fetched] = {
    var conn: java.net.HttpURLConnection = null
    try {
      conn = java.net.URI.create(url).toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      conn.setInstanceFollowRedirects(false)
      conn.setConnectTimeout(timeoutMs)
      conn.setReadTimeout(timeoutMs)
      conn.setRequestProperty("User-Agent", userAgent)
      if (storedEtag != null) conn.setRequestProperty("If-None-Match", storedEtag)
      if (storedLm != null) conn.setRequestProperty("If-Modified-Since", storedLm)
      val status = conn.getResponseCode
      val ts = new java.sql.Timestamp(conn.getDate match { case 0 => 0L; case d => d })
      if (status >= 400) { None }
      else if (status == 304) {
        // known-unchanged: empty body, the STORED validators echoed — the
        // superstep's string-equality etag/lm compare then always takes its
        // 304 path. Echoing the server's headers instead would break on a
        // textually-different-but-equivalent validator (nginx+gzip answers
        // 304 with the weak form `W/"v1"` for a stored `"v1"`), turning a
        // proven-unchanged response into a "200" with a 0-byte body: an
        // empty result row emitted and the stored validators corrupted.
        // The 304 status itself is the proof of not-modified; string
        // equality downstream must be made to agree with it, not re-derive
        // it. html is non-null (empty) so the fetch is OK.
        // Documented trade-off (RFC 7232 §4.1 says a 304 SHOULD carry the
        // CURRENT validators): a server that legitimately rotates its ETag
        // on a 304 keeps being sent the old one — worst case one unnecessary
        // full 200 refetch later, never incorrect data.
        Some(Fetched(url, ts, Array.emptyByteArray, "", "", 200, null,
          if (storedEtag != null) storedEtag
          else Option(conn.getHeaderField("ETag")).orNull,
          if (storedLm != null) storedLm
          else Option(conn.getHeaderField("Last-Modified")).orNull))
      } else {
        val body = readBounded(conn.getInputStream, maxBytes)
        Some(Fetched(url, ts, body, "", "", status,
          conn.getHeaderField("Location"),
          conn.getHeaderField("ETag"), conn.getHeaderField("Last-Modified")))
      }
    } catch {
      case _: Exception => None
    } finally {
      if (conn != null) conn.disconnect()
    }
  }

  private def readBounded(in: java.io.InputStream, maxBytes: Int): Array[Byte] = {
    if (in == null) return Array.emptyByteArray
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var total = 0
    var n = in.read(buf)
    while (n >= 0 && total < maxBytes) {
      val take = math.min(n, maxBytes - total)
      out.write(buf, 0, take); total += take
      n = if (total < maxBytes) in.read(buf) else -1
    }
    in.close()
    out.toByteArray
  }

  /**
   * Live-capture a url list into a pages-schema DataFrame.
   *
   * @param urls DataFrame with a `url` column and OPTIONAL `etag` /
   *   `last_modified` columns carrying each task's stored validators (the
   *   frontier's conditional-fetch state) — absent columns mean plain GETs.
   * @param userAgent sent as `User-Agent`; the robots gate must match rules
   *   for the same agent (`Superstep.Config.userAgent`)
   */
  def fetchPages(spark: SparkSession, urls: DataFrame,
      timeoutMs: Int = 5000, maxBytes: Int = 4 << 20,
      userAgent: String = graft.sched.Superstep.DefaultUserAgent): DataFrame = {
    import spark.implicits._
    val withValidators = urls
      .withColumn("__etag",
        if (urls.columns.contains("etag")) col("etag") else lit(null).cast("string"))
      .withColumn("__lm",
        if (urls.columns.contains("last_modified")) col("last_modified")
        else lit(null).cast("string"))
      .select(col("url"), col("__etag"), col("__lm"))
      .as[(String, String, String)]
    withValidators
      .mapPartitions { it =>
        it.flatMap { case (u, e, lm) => fetchOne(u, e, lm, timeoutMs, maxBytes, userAgent) }
      }
      .toDF()
  }
}

package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.sql.RowOp

/** HTTP tile fetch — the Spark-native URLTileStore / WMTSTileStore
  * (reference store/url.py:29-70, store/wmts.py:9-26). URL
  * construction is the column forms in [[graft.sql.TileFunctions]]
  * (`templateUrl` / `mirrorUrl` / `wmtsUrl` — mirrorUrl IS the
  * reference's hash(tilecoord)-based layout rotation, url.py:34); this
  * operator adds the fetch leg as per-row imperative I/O in one
  * [[graft.sql.RowOp]] (JDK HttpURLConnection, keep-alive pooled per
  * executor JVM — network I/O has no declarative Spark form).
  *
  * get_one semantics (url.py:44-66), faithfully:
  *   - 404 / 204 → the row is DROPPED (the reference returns None)
  *   - status < 300: content_type / content_encoding copied from the
  *     response headers; a 2xx-but-not-200 status records an error;
  *     image-typed bodies land in `data`; non-image bodies become the
  *     error text; a missing Content-Type is an error unless
  *     `allowsNoContentType`
  *   - status >= 300 → error with status, reason and body text
  *   - connect/read failures → error column, never a task failure (a
  *     100 TB fetch sweep must not die on one bad endpoint; compose
  *     with engine/Filters MaximumErrorRate / MaximumConsecutiveErrors
  *     for circuit breaking, exactly like the reference pipelines)
  *
  * Scale: input rows carry only the URL + passthrough columns; tile
  * payloads are born ON the executors, so the fetch adds no shuffle.
  * Request concurrency = partition count — repartition upstream to the
  * politeness level the endpoint allows; RateLimit composes upstream.
  */
object UrlStore {

  private val fetchFields = Seq(
    StructField("data", BinaryType),
    StructField("content_type", StringType),
    StructField("content_encoding", StringType),
    StructField("error", StringType))

  /** Fetch `urlCol` for every row, appending (data, content_type,
    * content_encoding, error) and dropping 404/204 rows. All input
    * columns pass through untouched. */
  def fetch(
      df: DataFrame,
      urlCol: String = "url",
      headers: Map[String, String] = Map.empty,
      allowsNoContentType: Boolean = false,
      timeoutMs: Int = 30000): DataFrame = {
    val hdrs = headers.toSeq
    RowOp(df, Seq(urlCol), fetchFields, prefix = r => s"URL: ${r.getString(0)}\n") { r =>
      fetchOne(r.getString(0), hdrs, allowsNoContentType, timeoutMs)
    }
  }

  /** One GET with the reference's exact error-channel contract.
    * Returns None for the drop statuses (404/204), else
    * Some(Seq(data, content_type, content_encoding, error)); a failed
    * exchange throws, and [[fetch]]'s operator puts it in `error`. */
  private def fetchOne(
      url: String,
      headers: Seq[(String, String)],
      allowsNoContentType: Boolean,
      timeoutMs: Int): Option[Seq[Any]] = {
    val (status, reason, hdrs, body) =
      Http.exchangeFull(url, "GET", headers, null, timeoutMs)
    if (status == 404 || status == 204) None
    else {
      val ct = hdrs.getOrElse("content-type", null)
      val ce = hdrs.getOrElse("content-encoding", null)
      if (status < 300) {
        val statusErr =
          if (status != 200)
            s"URL: $url\nUnsupported status code $status: $reason"
          else null
        if (ct != null && ct.nonEmpty) {
          if (ct.startsWith("image/")) Some(Seq(body, ct, ce, statusErr))
          else Some(Seq(null, ct, ce, s"URL: $url\n${new String(body, "UTF-8")}"))
        } else if (allowsNoContentType) Some(Seq(body, ct, ce, statusErr))
        else Some(Seq(null, ct, ce, s"URL: $url\nThe Content-Type header is missing"))
      } else {
        Some(Seq(null, ct, ce,
          s"URL: $url\n$status: $reason\n${new String(body, "UTF-8")}"))
      }
    }
  }

  /** The WMTS store composition (store/wmts.py:9-26): the KVP/REST URL
    * column from the core layout, then the identical fetch path. */
  def fetchWmts(
      tiles: DataFrame,
      layout: graft.core.WMTSTileLayout,
      headers: Map[String, String] = Map.empty,
      allowsNoContentType: Boolean = false,
      timeoutMs: Int = 30000): DataFrame = {
    import org.apache.spark.sql.functions.col
    val withUrl = tiles.withColumn(
      "url",
      graft.sql.TileFunctions.wmtsUrl(layout, col("z"), col("x"), col("y")))
    fetch(withUrl, "url", headers, allowsNoContentType, timeoutMs)
  }
}

package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import javax.crypto.Mac
import javax.crypto.spec.SecretKeySpec

/** Azure Storage blob tile store — the Spark-native
  * AzureStorageBlobTileStore (reference store/azure_storage_blob.py:
  * 14-118), written against the public Azure Blob REST API + Shared
  * Key authorization spec rather than the SDK (none in the sandbox;
  * the canonicalization is fully documented). Works against any
  * Azurite-style endpoint via `http(s)://host:port/account/container`.
  *
  * A [[Container]] is an [[ObjectStore]], the same shape as
  * [[S3Store.Bucket]]: the fetch / put / delete / contains / list
  * operators live there (get_one :71-86, put_one :99-118, delete_one
  * :59-69, __contains__ :52-57, list :88-97); this object holds only
  * the Shared Key signing, the blob service's headers and statuses,
  * and its listing format.
  */
object AzureBlobStore {

  /** account + Base64 account key (the Shared Key credential). */
  final case class Creds(account: String, accountKeyB64: String)

  private val ApiVersion = "2020-10-02"

  /** Blob-service Shared Key string-to-sign (public spec: the 12
    * standard-header lines, then canonicalized x-ms-* headers, then
    * the canonicalized resource). Exposed for the golden spec. */
  private[sources] def stringToSign(
      method: String,
      contentLength: Long,
      contentType: String,
      xmsHeaders: Seq[(String, String)], // already x-ms-*
      account: String,
      path: String, // /container/blob
      query: Seq[(String, String)]): String = {
    val canonicalHeaders = xmsHeaders
      .map { case (k, v) => (k.toLowerCase, v.trim) }
      .sortBy(_._1)
      .map { case (k, v) => s"$k:$v\n" }
      .mkString
    val canonicalResource = s"/$account$path" + query
      .map { case (k, v) => (k.toLowerCase, v) }
      .sortBy(_._1)
      .map { case (k, v) => s"\n$k:$v" }
      .mkString
    val lenStr = if (contentLength <= 0) "" else contentLength.toString
    Seq(
      method,
      "", // Content-Encoding
      "", // Content-Language
      lenStr, // Content-Length ("" when zero, x-ms-version >= 2015-02-21)
      "", // Content-MD5
      Option(contentType).getOrElse(""),
      "", // Date (empty: x-ms-date is used)
      "", // If-Modified-Since
      "", // If-Match
      "", // If-None-Match
      "", // If-Unmodified-Since
      "" // Range
    ).mkString("\n") + "\n" + canonicalHeaders + canonicalResource
  }

  private[sources] def sign(sts: String, creds: Creds): String = {
    val mac = Mac.getInstance("HmacSHA256")
    mac.init(new SecretKeySpec(Base64.getDecoder.decode(creds.accountKeyB64), "HmacSHA256"))
    Base64.getEncoder.encodeToString(mac.doFinal(sts.getBytes(UTF_8)))
  }

  private def gmtNow(): String = {
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("EEE, dd MMM yyyy HH:mm:ss 'GMT'", java.util.Locale.US)
    java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC).format(fmt)
  }

  /** One blob container of `creds.account` at an Azurite-style
    * endpoint (`endpoint/account/container/blob`); run the tile-store
    * operators over it with [[ObjectStore]]. */
  final case class Container(endpoint: String, container: String, creds: Creds)
      extends ObjectStore {

    /** `headers` are x-ms-* extras; a PUT body goes as
      * application/octet-stream (the blob's own type rides in
      * x-ms-blob-content-type). */
    def request(
        method: String,
        key: String,
        query: Seq[(String, String)],
        headers: Seq[(String, String)],
        body: Array[Byte],
        timeoutMs: Int): (Int, Map[String, String], Array[Byte]) = {
      val path = s"/$container" + (if (key.isEmpty) "" else s"/$key")
      val contentType = if (method == "PUT") "application/octet-stream" else null
      val xms = Seq("x-ms-date" -> gmtNow(), "x-ms-version" -> ApiVersion) ++ headers
      val len = if (body == null) 0L else body.length.toLong
      val sts = stringToSign(method, len, contentType, xms, creds.account, path, query)
      val auth = s"SharedKey ${creds.account}:${sign(sts, creds)}"
      val url = endpoint + s"/${creds.account}" + S3Store.uriEncode(path, keepSlash = true) +
        S3Store.queryString(query)
      val hdrs = xms ++
        (if (contentType != null) Seq("Content-Type" -> contentType) else Nil) :+
        ("Authorization" -> auth)
      Http.exchange(url, method, hdrs, body, timeoutMs)
    }

    /** Put Blob (BlockBlob) with ContentSettings headers, overwrite
      * always (azure_storage_blob.py:105-113). */
    def putHeaders(
        contentType: Option[String],
        contentEncoding: Option[String],
        cacheControl: Option[String]): Seq[(String, String)] =
      Seq("x-ms-blob-type" -> "BlockBlob") ++
        contentType.map("x-ms-blob-content-type" -> _) ++
        contentEncoding.map("x-ms-blob-content-encoding" -> _) ++
        cacheControl.map("x-ms-blob-cache-control" -> _)

    def putOk(status: Int): Boolean = status == 201

    /** delete-if-exists: 202 deleted, 404 silent no-op (the reference's
      * exists() guard, azure_storage_blob.py:63-65). */
    def deleteOk(status: Int): Boolean = status == 202 || status == 404

    def listQuery(prefix: String, marker: String, pageSize: Int): Seq[(String, String)] =
      Seq("comp" -> "list", "restype" -> "container",
        "prefix" -> prefix, "maxresults" -> pageSize.toString) ++
        (if (marker.nonEmpty) Seq("marker" -> marker) else Nil)

    /** List Blobs: names (and the continuation marker) arrive
      * entity-escaped. */
    def listPage(xml: String): (Seq[(String, Long)], String) =
      (BlobRe.findAllMatchIn(xml)
        .map(m => (Http.xmlUnescape(m.group(1)), m.group(2).toLong)).toSeq,
        MarkerRe.findFirstMatchIn(xml).map(m => Http.xmlUnescape(m.group(1))).getOrElse(""))

    def uri(key: String): String = s"az://$container/$key"
  }

  private val BlobRe =
    "(?s)<Blob><Name>(.*?)</Name>.*?<Content-Length>(\\d+)</Content-Length>.*?</Blob>".r
  private val MarkerRe = "<NextMarker>([^<]+)</NextMarker>".r
}

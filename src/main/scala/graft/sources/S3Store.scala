package graft.sources

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import javax.crypto.Mac
import javax.crypto.spec.SecretKeySpec

/** S3 tile store — the Spark-native S3TileStore (reference
  * store/s3.py:18-126), written against the public S3 REST API +
  * AWS Signature Version 4 spec rather than an SDK (the sandbox has
  * none; the protocol is fully documented). Works against any
  * S3-compatible endpoint (AWS, MinIO, the loopback fixture in
  * S3StoreSpec) via path-style URLs.
  *
  * A [[Bucket]] is an [[ObjectStore]]: the fetch / put / delete /
  * contains / list operators and their reference semantics live
  * there; this object holds only the SigV4 signing, S3's headers and
  * statuses, and its listing format. SigV4 signing is pure per-row
  * CPU (two SHA-256 + a short HMAC chain); the date-scoped signing key
  * is cached per executor JVM.
  */
object S3Store {

  /** Static credentials + region, broadcast by value into tasks. */
  final case class Creds(accessKey: String, secretKey: String, region: String)

  // ---------------------------------------------------------------- SigV4

  private val HexChars = "0123456789abcdef".toCharArray

  private[sources] def hex(b: Array[Byte]): String = {
    val out = new Array[Char](b.length * 2)
    var i = 0
    while (i < b.length) {
      out(2 * i) = HexChars((b(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(b(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  private[sources] def sha256(b: Array[Byte]): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(b)

  private[sources] def hmac(key: Array[Byte], data: String): Array[Byte] = {
    val mac = Mac.getInstance("HmacSHA256")
    mac.init(new SecretKeySpec(key, "HmacSHA256"))
    mac.doFinal(data.getBytes(UTF_8))
  }

  /** RFC 3986 encode with AWS's unreserved set; `keepSlash` for the
    * canonical URI (path segments keep their separators). */
  private[sources] def uriEncode(s: String, keepSlash: Boolean): String = {
    val sb = new java.lang.StringBuilder()
    s.getBytes(UTF_8).foreach { b =>
      val c = (b & 0xff).toChar
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
          c == '-' || c == '.' || c == '_' || c == '~' || (keepSlash && c == '/'))
        sb.append(c)
      else {
        sb.append('%').append(HexChars((b >> 4) & 0xf).toUpper).append(HexChars(b & 0xf).toUpper)
      }
    }
    sb.toString
  }

  /** `?k=v&...` (uriEncoded), or "" for no query. */
  private[sources] def queryString(query: Seq[(String, String)]): String =
    if (query.isEmpty) ""
    else "?" + query.map { case (k, v) =>
      s"${uriEncode(k, keepSlash = false)}=${uriEncode(v, keepSlash = false)}"
    }.mkString("&")

  /** Derived signing key (AWS4-HMAC-SHA256 key chain). */
  private[sources] def signingKey(secret: String, date: String, region: String, service: String): Array[Byte] =
    hmac(hmac(hmac(hmac(("AWS4" + secret).getBytes(UTF_8), date), region), service), "aws4_request")

  // Date-scoped signing-key memo (per executor JVM — the per-partition
  // cache the header comment promises, shared wider): the key chain is
  // 4 HMAC derivations whose inputs change once per DAY, so re-deriving
  // per request puts pointless crypto on the per-row hot path. The map
  // stays tiny (one entry per (secret, date, region, service) seen).
  private val signingKeyMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String, String), Array[Byte]]()

  private def signingKeyCached(
      secret: String, date: String, region: String, service: String): Array[Byte] =
    signingKeyMemo.computeIfAbsent(
      (secret, date, region, service),
      _ => signingKey(secret, date, region, service))

  /** Full SigV4 over a canonical request; returns the Authorization
    * header value. `headers` must already include host and x-amz-date
    * (and x-amz-content-sha256 for S3). Public-spec implementation —
    * verified against AWS's published GET-iam test vector in
    * S3StoreSpec. */
  private[sources] def authorization(
      method: String,
      path: String,
      query: Seq[(String, String)],
      headers: Seq[(String, String)],
      payloadSha256Hex: String,
      creds: Creds,
      service: String,
      amzDate: String): String = {
    val canonicalQuery = query
      .map { case (k, v) => (uriEncode(k, keepSlash = false), uriEncode(v, keepSlash = false)) }
      .sorted
      .map { case (k, v) => s"$k=$v" }
      .mkString("&")
    val lowered = headers.map { case (k, v) => (k.toLowerCase, v.trim) }.sortBy(_._1)
    val canonicalHeaders = lowered.map { case (k, v) => s"$k:$v\n" }.mkString
    val signedHeaders = lowered.map(_._1).mkString(";")
    val canonicalRequest =
      s"$method\n${uriEncode(path, keepSlash = true)}\n$canonicalQuery\n$canonicalHeaders\n$signedHeaders\n$payloadSha256Hex"
    val date = amzDate.substring(0, 8)
    val scope = s"$date/${creds.region}/$service/aws4_request"
    val stringToSign =
      s"AWS4-HMAC-SHA256\n$amzDate\n$scope\n${hex(sha256(canonicalRequest.getBytes(UTF_8)))}"
    val sig = hex(hmac(signingKeyCached(creds.secretKey, date, creds.region, service), stringToSign))
    s"AWS4-HMAC-SHA256 Credential=${creds.accessKey}/$scope, SignedHeaders=$signedHeaders, Signature=$sig"
  }

  private def amzNow(): String = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'")
    java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC).format(fmt)
  }

  /** One S3 bucket at an S3-compatible endpoint (e.g.
    * "http://127.0.0.1:9000"), addressed path-style; run the tile-store
    * operators over it with [[ObjectStore]]. */
  final case class Bucket(endpoint: String, bucket: String, creds: Creds) extends ObjectStore {

    def request(
        method: String,
        key: String,
        query: Seq[(String, String)],
        headers: Seq[(String, String)],
        body: Array[Byte],
        timeoutMs: Int): (Int, Map[String, String], Array[Byte]) = {
      val path = s"/$bucket" + (if (key.isEmpty) "" else s"/$key")
      val uri = URI.create(endpoint)
      val host = uri.getHost + (if (uri.getPort > 0) s":${uri.getPort}" else "")
      val payloadHash = hex(sha256(if (body == null) Array.emptyByteArray else body))
      val amzDate = amzNow()
      val signed = Seq("host" -> host, "x-amz-date" -> amzDate,
        "x-amz-content-sha256" -> payloadHash) ++ headers
      val auth = authorization(method, path, query, signed, payloadHash, creds, "s3", amzDate)
      val url = endpoint + uriEncode(path, keepSlash = true) + queryString(query)
      // host is signed but never set explicitly — HttpURLConnection owns it
      Http.exchange(url, method,
        signed.filterNot(_._1 == "host") :+ ("Authorization" -> auth),
        body, timeoutMs)
    }

    /** public-read ACL + content headers (s3.py:83-105). */
    def putHeaders(
        contentType: Option[String],
        contentEncoding: Option[String],
        cacheControl: Option[String]): Seq[(String, String)] =
      Seq("x-amz-acl" -> "public-read") ++ contentType.map("content-type" -> _) ++
        contentEncoding.map("content-encoding" -> _) ++ cacheControl.map("cache-control" -> _)

    def putOk(status: Int): Boolean = status == 200
    def deleteOk(status: Int): Boolean = status == 204 || status == 200

    def listQuery(prefix: String, marker: String, pageSize: Int): Seq[(String, String)] =
      Seq("prefix" -> prefix, "max-keys" -> pageSize.toString) ++
        (if (marker.nonEmpty) Seq("marker" -> marker) else Nil)

    /** ListObjects (v1): a truncated page continues after its last key.
      * Keys arrive entity-escaped in the XML; unescape before use (both
      * as the output column and as the paging marker). */
    def listPage(xml: String): (Seq[(String, Long)], String) = {
      val page = KeyRe.findAllMatchIn(xml)
        .map(m => (Http.xmlUnescape(m.group(1)), m.group(2).toLong)).toSeq
      val more = xml.contains("<IsTruncated>true</IsTruncated>") && page.nonEmpty
      (page, if (more) page.last._1 else "")
    }

    def uri(key: String): String = s"s3://$bucket/$key"
  }

  private val KeyRe = "(?s)<Key>(.*?)</Key>.*?<Size>(\\d+)</Size>".r
}

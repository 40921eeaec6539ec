package graft.sources

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentSkipListMap

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** S3TileStore semantics (reference store/s3.py:18-126) against a
  * loopback S3-compatible fixture server. The SigV4 implementation is
  * anchored two ways: (1) AWS's published GET-iam signing example
  * (independent ground truth for the algorithm), and (2) the fixture
  * re-derives every request's signature from the wire headers and
  * rejects on mismatch — including re-hashing the received body
  * against the signed x-amz-content-sha256, so a put whose payload
  * didn't match its signature would 403. */
class S3StoreSpec extends SparkTestBase {

  private val creds = S3Store.Creds("GRAFTKEY", "graft-secret", "us-east-1")

  test("sigv4 matches AWS's published signing example") {
    // docs.aws.amazon.com "Signature Version 4 signing process" worked example
    val auth = S3Store.authorization(
      method = "GET",
      path = "/",
      query = Seq("Action" -> "ListUsers", "Version" -> "2010-05-08"),
      headers = Seq(
        "content-type" -> "application/x-www-form-urlencoded; charset=utf-8",
        "host" -> "iam.amazonaws.com",
        "x-amz-date" -> "20150830T123600Z"),
      payloadSha256Hex = S3Store.hex(S3Store.sha256(Array.emptyByteArray)),
      creds = S3Store.Creds("AKIDEXAMPLE", "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY", "us-east-1"),
      service = "iam",
      amzDate = "20150830T123600Z")
    assert(auth == "AWS4-HMAC-SHA256 Credential=AKIDEXAMPLE/20150830/us-east-1/iam/aws4_request, " +
      "SignedHeaders=content-type;host;x-amz-date, " +
      "Signature=5d672d79c15b13162d9279b0855cfba6789a8edb4c82c400e06b5924a6f2b5d7")
  }

  /** In-JVM S3: path-style GET/PUT/HEAD/DELETE + ListObjects paging,
    * with full SigV4 verification on every request. */
  private final class FixtureS3(bucket: String) {
    // key -> (data, content-type, content-encoding)
    val store = new ConcurrentSkipListMap[String, (Array[Byte], String, String)]()
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val port: Int = server.getAddress.getPort
    def endpoint: String = s"http://127.0.0.1:$port"
    @volatile var authFailures: Int = 0

    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.setExecutor(null)
    server.start()

    private def respond(ex: HttpExchange, status: Int, body: Array[Byte],
        headers: Seq[(String, String)] = Nil): Unit = {
      headers.foreach { case (k, v) => ex.getResponseHeaders.add(k, v) }
      if (ex.getRequestMethod == "HEAD") ex.sendResponseHeaders(status, -1)
      else if (body.isEmpty) ex.sendResponseHeaders(status, -1)
      else { ex.sendResponseHeaders(status, body.length.toLong); ex.getResponseBody.write(body) }
      ex.close()
    }

    private def readBody(ex: HttpExchange): Array[Byte] = {
      val in = ex.getRequestBody
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    }

    /** Re-derive the signature from the wire and compare. */
    private def verifyAuth(ex: HttpExchange, body: Array[Byte]): Boolean = {
      val auth = ex.getRequestHeaders.getFirst("Authorization")
      if (auth == null) return false
      val sigRe = ".*SignedHeaders=([^,]+), Signature=([0-9a-f]+)".r
      auth match {
        case sigRe(signedHeaders, gotSig) =>
          val names = signedHeaders.split(";").toSeq
          val hdrs = names.map { n =>
            val v = if (n == "host") ex.getRequestHeaders.getFirst("Host")
            else ex.getRequestHeaders.getFirst(n)
            n -> (if (v == null) "" else v)
          }
          val payloadHash = ex.getRequestHeaders.getFirst("x-amz-content-sha256")
          // the signed hash must be the hash of what actually arrived
          if (payloadHash == null || payloadHash != S3Store.hex(S3Store.sha256(body))) return false
          val query = Option(ex.getRequestURI.getRawQuery).toSeq.flatMap(_.split("&")).map { kv =>
            val Array(k, v) = kv.split("=", 2)
            URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8")
          }
          val amzDate = ex.getRequestHeaders.getFirst("x-amz-date")
          val expect = S3Store.authorization(
            ex.getRequestMethod,
            URLDecoder.decode(ex.getRequestURI.getRawPath, "UTF-8"),
            query, hdrs, payloadHash, creds, "s3", amzDate)
          expect == auth && expect.endsWith(gotSig)
        case _ => false
      }
    }

    private def handle(ex: HttpExchange): Unit = {
      val body = readBody(ex)
      if (!verifyAuth(ex, body)) {
        authFailures += 1
        respond(ex, 403, "<Error><Code>SignatureDoesNotMatch</Code></Error>".getBytes(UTF_8))
        return
      }
      val path = URLDecoder.decode(ex.getRequestURI.getRawPath, "UTF-8")
      require(path.stripPrefix("/").startsWith(bucket), s"wrong bucket in $path")
      val key = path.stripPrefix(s"/$bucket").stripPrefix("/")
      ex.getRequestMethod match {
        case "GET" if key.isEmpty => // ListObjects
          val q = Option(ex.getRequestURI.getRawQuery).toSeq.flatMap(_.split("&")).map { kv =>
            val Array(k, v) = kv.split("=", 2)
            URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8")
          }.toMap
          val prefix = q.getOrElse("prefix", "")
          val marker = q.getOrElse("marker", "")
          val maxKeys = q.getOrElse("max-keys", "1000").toInt
          import scala.jdk.CollectionConverters._
          val all = store.keySet().asScala.toSeq.filter(k => k.startsWith(prefix) && k > marker)
          val page = all.take(maxKeys)
          val truncated = all.size > page.size
          // real S3 entity-escapes key text in the XML
          def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
          val xml = "<?xml version=\"1.0\"?><ListBucketResult>" +
            s"<IsTruncated>$truncated</IsTruncated>" +
            page.map(k => s"<Contents><Key>${esc(k)}</Key><Size>${store.get(k)._1.length}</Size></Contents>").mkString +
            "</ListBucketResult>"
          respond(ex, 200, xml.getBytes(UTF_8), Seq("Content-Type" -> "application/xml"))
        case "GET" =>
          val v = store.get(key)
          if (v == null) respond(ex, 404, "<Error><Code>NoSuchKey</Code></Error>".getBytes(UTF_8))
          else respond(ex, 200, v._1,
            Option(v._2).map("Content-Type" -> _).toSeq ++ Option(v._3).map("Content-Encoding" -> _))
        case "HEAD" =>
          respond(ex, if (store.containsKey(key)) 200 else 404, Array.emptyByteArray)
        case "PUT" =>
          // real S3 rejects a PUT without Content-Length (411) — even
          // zero-length objects must declare it
          if (ex.getRequestHeaders.getFirst("Content-Length") == null) {
            respond(ex, 411, "<Error><Code>MissingContentLength</Code></Error>".getBytes(UTF_8))
            return
          }
          require(ex.getRequestHeaders.getFirst("x-amz-acl") == "public-read")
          store.put(key, (body,
            ex.getRequestHeaders.getFirst("Content-Type"),
            ex.getRequestHeaders.getFirst("Content-Encoding")))
          respond(ex, 200, Array.emptyByteArray)
        case "DELETE" =>
          store.remove(key)
          respond(ex, 204, Array.emptyByteArray)
        case _ => respond(ex, 400, Array.emptyByteArray)
      }
    }

    def close(): Unit = server.stop(0)
  }

  private def withS3(f: FixtureS3 => Unit): Unit = {
    val s3 = new FixtureS3("tiles")
    try f(s3) finally s3.close()
  }

  test("s3 store: put/head/get/delete round-trip with 404-drop and content headers") {
    val s = spark
    import s.implicits._
    withS3 { s3 =>
      val tiles = (0 until 12).map(i => (4, i % 4, i / 4)).toDF("z", "x", "y")
        .withColumn("key", concat_ws("/", col("z"), col("x"), col("y")))
        .withColumn("key", concat(col("key"), lit(".png")))
        .withColumn("data", concat(lit("png-"), col("key")).cast("binary"))
        .withColumn("ct", lit("image/png"))

      val put = ObjectStore.put(tiles, S3Store.Bucket(s3.endpoint, "tiles", creds),
        contentTypeCol = Some("ct"), cacheControl = Some("max-age=3600"))
      assert(put.where(col("error").isNotNull).count() == 0)
      assert(s3.store.size() == 12)
      assert(s3.authFailures == 0, "every request passed server-side SigV4 re-derivation")

      // contains: HEAD true/false
      val ex = ObjectStore.contains(Seq("4/1/0.png", "9/9/9.png").toDF("key"),
        S3Store.Bucket(s3.endpoint, "tiles", creds))
        .select("key", "exists").as[(String, Boolean)].collect().toMap
      assert(ex("4/1/0.png") && !ex("9/9/9.png"))

      // fetch: 404 rows dropped (s3.py:68-69), others carry data + headers
      val req = (Seq("4/1/0.png", "4/3/2.png") ++ Seq("nope.png")).toDF("key")
      val got = ObjectStore.fetch(req, S3Store.Bucket(s3.endpoint, "tiles", creds)).cache()
      assert(got.count() == 2, "the 404 row is dropped like the reference's None")
      val one = got.where(col("key") === "4/3/2.png").head()
      assert(new String(one.getAs[Array[Byte]]("data"), UTF_8) == "png-4/3/2.png")
      assert(one.getAs[String]("content_type") == "image/png")
      assert(one.getAs[String]("error") == null)
      got.unpersist()

      // delete then gone
      assert(ObjectStore.delete(Seq("4/1/0.png").toDF("key"),
        S3Store.Bucket(s3.endpoint, "tiles", creds))
        .where(col("error").isNotNull).count() == 0)
      assert(!s3.store.containsKey("4/1/0.png"))
    }
  }

  test("s3 store: distributed prefix-sharded listing pages with markers") {
    val s = spark
    import s.implicits._
    withS3 { s3 =>
      // 2 zoom prefixes x 7 keys, page size 3 -> 3 pages per prefix
      val keys = for (z <- Seq(3, 4); i <- 0 until 7) yield s"$z/0/$i.png"
      val put = ObjectStore.put(
        keys.toDF("key").withColumn("data", col("key").cast("binary")),
        S3Store.Bucket(s3.endpoint, "tiles", creds))
      assert(put.where(col("error").isNotNull).count() == 0)

      val listed = ObjectStore.list(Seq("3/", "4/").toDF("prefix"),
        S3Store.Bucket(s3.endpoint, "tiles", creds), pageSize = 3).cache()
      assert(listed.count() == 14)
      assert(listed.where(col("prefix") === "3/").count() == 7)
      assert(listed.select("key").as[String].collect().toSet == keys.toSet)
      assert(listed.where(col("size") <= 0).count() == 0)
      listed.unpersist()
      assert(s3.authFailures == 0)
    }
  }

  test("s3 store: listing unescapes entity-escaped keys and pages through them") {
    val s = spark
    import s.implicits._
    withS3 { s3 =>
      // keys with XML-significant characters (all legal S3 key bytes)
      val keys = Seq("4/a&b.png", "4/c<d>.png", "4/plain.png")
      val put = ObjectStore.put(
        keys.toDF("key").withColumn("data", col("key").cast("binary")),
        S3Store.Bucket(s3.endpoint, "tiles", creds))
      assert(put.where(col("error").isNotNull).count() == 0)

      // pageSize=1 forces marker continuation THROUGH an escaped key —
      // an escaped marker would mis-page; an escaped output key would
      // 404 on re-fetch
      val listed = ObjectStore.list(Seq("4/").toDF("prefix"),
        S3Store.Bucket(s3.endpoint, "tiles", creds), pageSize = 1).cache()
      assert(listed.select("key").as[String].collect().toSet == keys.toSet,
        "keys come back unescaped")
      val refetch =
        ObjectStore.fetch(listed.select("key"), S3Store.Bucket(s3.endpoint, "tiles", creds))
      assert(refetch.count() == 3, "every listed key re-fetches (no silent 404 drop)")
      assert(refetch.where(col("error").isNotNull).count() == 0)
      listed.unpersist()
    }
  }

  test("s3 store: zero-length payloads PUT with Content-Length: 0") {
    val s = spark
    import s.implicits._
    withS3 { s3 =>
      // empty and null data both write a zero-byte object; the fixture
      // (like real S3) answers 411 when Content-Length is missing
      val rows = Seq(("e.png", Array.emptyByteArray), ("n.png", null))
        .toDF("key", "data")
      val put = ObjectStore.put(rows, S3Store.Bucket(s3.endpoint, "tiles", creds))
      assert(put.where(col("error").isNotNull).count() == 0)
      assert(s3.store.get("e.png")._1.isEmpty && s3.store.get("n.png")._1.isEmpty)
      val got = ObjectStore.fetch(Seq("e.png").toDF("key"),
        S3Store.Bucket(s3.endpoint, "tiles", creds)).head()
      assert(got.getAs[Array[Byte]]("data").isEmpty && got.getAs[String]("error") == null)
    }
  }

  test("s3 store: connect failure and server error land in the error column") {
    val s = spark
    import s.implicits._
    // dead port
    val dead = { val ss = new java.net.ServerSocket(0); val p = ss.getLocalPort; ss.close(); p }
    val got = ObjectStore.fetch(Seq("a.png").toDF("key"),
      S3Store.Bucket(s"http://127.0.0.1:$dead", "tiles", creds), timeoutMs = 500).collect()
    assert(got.length == 1 && got(0).getAs[String]("error") != null)
    assert(got(0).getAs[String]("error").startsWith("s3://tiles/a.png\n"))

    // wrong secret -> fixture 403s; fetch surfaces the error, no drop, no task failure
    withS3 { s3 =>
      val bad = creds.copy(secretKey = "wrong")
      val r = ObjectStore.fetch(Seq("a.png").toDF("key"),
        S3Store.Bucket(s3.endpoint, "tiles", bad)).collect()
      assert(r.length == 1)
      assert(r(0).getAs[String]("error").contains("403"))
      assert(r(0).getAs[String]("error").startsWith("s3://tiles/a.png\n"))
    }
  }
}

package graft.sql

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.{InetSocketAddress, ServerSocket}
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.SparkTestBase
import graft.image.ImageCodec
import graft.multimodal.Multimodal
import graft.sources.{MemcachedStore, ObjectStore, S3Store, UrlStore}

/** The error-as-data row operator's plan: the extractors and store
  * fetches built on [[RowOp]] run on `InternalRow` — their executed
  * plans hold no object (de)serialization — and return the same rows
  * with whole-stage codegen on and off. */
class RowOpSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val objectOps = Seq("DeserializeToObject", "MapPartitions", "SerializeFromObject")

  /** Loopback HTTP: `/bucket/<key>` answers like an S3 GET (auth not
    * checked), `/tiles/<n>` like a tile server; keys and tiles named
    * `missing` are 404s. */
  private def withHttp(f: Int => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val png = ImageCodec.encode(ImageCodec.gradientImage(8, 3L), "png")
    server.createContext("/", (ex: HttpExchange) => {
      if (ex.getRequestURI.getPath.endsWith("/missing")) ex.sendResponseHeaders(404, -1)
      else {
        ex.getResponseHeaders.add("Content-Type", "image/png")
        ex.sendResponseHeaders(200, png.length.toLong)
        ex.getResponseBody.write(png)
      }
      ex.close()
    })
    server.start()
    try f(server.getAddress.getPort)
    finally server.stop(0)
  }

  /** Loopback memcached: every `get` of a key starting with `hit` finds
    * the key's own bytes, any other key is absent. */
  private def withMemcached(f: Int => Unit): Unit = {
    val server = new ServerSocket(0, 16, java.net.InetAddress.getByName("127.0.0.1"))
    val acceptor = new Thread(() => {
      try {
        while (true) {
          val sock = server.accept()
          new Thread(() => {
            val in = new BufferedInputStream(sock.getInputStream)
            val out = new BufferedOutputStream(sock.getOutputStream)
            try {
              var line = readLine(in)
              while (line != null) {
                val key = line.split(" ")(1)
                val reply =
                  if (key.startsWith("hit")) s"VALUE $key 7 ${key.length}\r\n$key\r\nEND\r\n"
                  else "END\r\n"
                out.write(reply.getBytes(UTF_8)); out.flush()
                line = readLine(in)
              }
            } catch { case _: Exception => () }
            finally sock.close()
          }).start()
        }
      } catch { case _: Exception => () }
    })
    acceptor.setDaemon(true)
    acceptor.start()
    try f(server.getLocalPort)
    finally server.close()
  }

  private def readLine(in: BufferedInputStream): String = {
    val sb = new java.lang.StringBuilder()
    var c = in.read()
    if (c < 0) return null
    while (c != '\r') { sb.append(c.toChar); c = in.read() }
    in.read()
    sb.toString
  }

  /** The executed plan of `build()` runs a [[RowOpExec]] and no object
    * operator, and its rows are the same with whole-stage codegen on
    * and off. */
  private def checkPlanAndRows(name: String)(build: () => DataFrame): Unit = {
    def rows(codegen: Boolean): (Seq[String], SparkPlan) = {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
      try {
        val df = build()
        val got = df.collect().toSeq.map(rowString).sorted
        (got, df.queryExecution.executedPlan)
      } finally spark.conf.unset("spark.sql.codegen.wholeStage")
    }
    val (on, plan) = rows(codegen = true)
    val (off, _) = rows(codegen = false)
    val names = collect(plan) { case p => p.nodeName }
    assert(names.contains("RowOp"), s"$name:\n$plan")
    val objects = names.filter(objectOps.contains)
    assert(objects.isEmpty, s"$name runs $objects:\n$plan")
    assert(on.nonEmpty, name)
    assert(on == off, s"$name: codegen on $on, off $off")
  }

  private def rowString(r: Row): String = r.toSeq.map {
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case v => String.valueOf(v)
  }.mkString("|")

  test("imageMeta runs on InternalRow, same rows with codegen on and off") {
    val s = spark
    import s.implicits._
    val png = ImageCodec.encode(ImageCodec.gradientImage(16, 1L), "png")
    checkPlanAndRows("imageMeta") { () =>
      Multimodal.imageMeta(
        Seq(("a", png), ("b", Array[Byte](1, 2, 3)), ("c", null: Array[Byte]))
          .toDF("media_id", "bytes"))
    }
  }

  test("ObjectStore.fetch on an S3 bucket runs on InternalRow, same rows with codegen on and off") {
    val s = spark
    import s.implicits._
    withHttp { port =>
      val bucket = S3Store.Bucket(s"http://127.0.0.1:$port", "bucket",
        S3Store.Creds("GRAFTKEY", "graft-secret", "us-east-1"))
      checkPlanAndRows("ObjectStore.fetch") { () =>
        ObjectStore.fetch(Seq(("t/1", 1), ("missing", 2), ("t/3", 3)).toDF("key", "n"), bucket)
      }
    }
  }

  test("MemcachedStore.fetch runs on InternalRow, same rows with codegen on and off") {
    val s = spark
    import s.implicits._
    withMemcached { port =>
      checkPlanAndRows("MemcachedStore.fetch") { () =>
        MemcachedStore.fetch(Seq("hit/1", "miss/2", "bad key").toDF("key"),
          Seq(("127.0.0.1", port)), timeoutMs = 5000)
      }
    }
  }

  test("UrlStore.fetch runs on InternalRow, same rows with codegen on and off") {
    val s = spark
    import s.implicits._
    withHttp { port =>
      checkPlanAndRows("UrlStore.fetch") { () =>
        UrlStore.fetch(Seq(1, 2).map(i => s"http://127.0.0.1:$port/tiles/$i")
          .:+(s"http://127.0.0.1:$port/tiles/missing").toDF("url"))
      }
    }
  }
}

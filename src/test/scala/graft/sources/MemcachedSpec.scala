package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** MemcachedTileStore semantics (reference store/memcached.py:7-44,
  * lib/memcached.py:9-71) against a loopback ASCII-protocol fixture
  * server — round-trip, missing-key nulls (no drop), delete replies,
  * cas capture, shard spread, and the connect-failure error channel,
  * all without an external memcached service. */
class MemcachedSpec extends SparkTestBase {

  /** Just enough of the memcached text protocol for the spec: get /
    * set / delete over a shared map, cas ids incremented per set,
    * one thread per connection. */
  private final class FixtureServer {
    val store = new ConcurrentHashMap[String, (Int, Long, Array[Byte])]()
    /** get of this key sends a malformed VALUE (declared length shorter
      * than the payload), leaving unread garbage in the stream. */
    @volatile var poisonKey: String = null
    private val cas = new AtomicLong(0)
    private val server = new ServerSocket(0, 16, java.net.InetAddress.getByName("127.0.0.1"))
    val port: Int = server.getLocalPort
    @volatile private var running = true

    private val acceptor = new Thread(() => {
      while (running) {
        try {
          val sock = server.accept()
          new Thread(() => handle(sock)).start()
        } catch { case _: Exception => () }
      }
    })
    acceptor.setDaemon(true)
    acceptor.start()

    val opened = new AtomicLong(0)
    val closed = new AtomicLong(0)

    private def handle(sock: java.net.Socket): Unit = {
      opened.incrementAndGet()
      val in = new BufferedInputStream(sock.getInputStream)
      val out = new BufferedOutputStream(sock.getOutputStream)
      def line(): String = {
        val sb = new java.lang.StringBuilder()
        var c = in.read()
        if (c < 0) return null
        while (c != '\r') { sb.append(c.toChar); c = in.read() }
        in.read() // \n
        sb.toString
      }
      def reply(s: String): Unit = { out.write((s + "\r\n").getBytes(UTF_8)); out.flush() }
      try {
        var cmd = line()
        while (cmd != null) {
          val parts = cmd.split("\\s+")
          parts(0) match {
            case "get" if parts(1) == poisonKey =>
              // declares 3 bytes, sends 8: the client reads "abc", then
              // hits 'd' where \r\n should be and throws, with
              // "fgh\r\nEND\r\n" left unread — a desynced stream
              reply("VALUE " + parts(1) + " 0 3")
              out.write("abcdefgh\r\nEND\r\n".getBytes(UTF_8)); out.flush()
            case "get" =>
              val v = store.get(parts(1))
              if (v == null) reply("END")
              else {
                reply(s"VALUE ${parts(1)} ${v._1} ${v._3.length} ${v._2}")
                out.write(v._3); out.write("\r\nEND\r\n".getBytes(UTF_8)); out.flush()
              }
            case "set" =>
              val n = parts(4).toInt
              val buf = new Array[Byte](n)
              var off = 0
              while (off < n) off += in.read(buf, off, n - off)
              in.read(); in.read() // trailing \r\n
              store.put(parts(1), (parts(2).toInt, cas.incrementAndGet(), buf))
              reply("STORED")
            case "delete" =>
              if (store.remove(parts(1)) != null) reply("DELETED") else reply("NOT_FOUND")
            case _ => reply("ERROR")
          }
          cmd = line()
        }
      } catch { case _: Exception => () }
      finally { sock.close(); closed.incrementAndGet() }
    }

    def close(): Unit = { running = false; server.close() }
  }

  private def withServers(n: Int)(f: Seq[FixtureServer] => Unit): Unit = {
    val servers = Seq.fill(n)(new FixtureServer)
    try f(servers)
    finally servers.foreach(_.close())
  }

  test("memcached store: put/get/delete round-trip with layout keys") {
    val s = spark
    import s.implicits._
    withServers(1) { case Seq(srv) =>
      val hosts = Seq(("127.0.0.1", srv.port))
      val tiles = (0 until 20).map(i => (3, i % 5, i / 5)).toDF("z", "x", "y")
        .withColumn("key", concat_ws("/", col("z"), col("x"), col("y")))
        .withColumn("data", concat(lit("tile-"), col("key")).cast("binary"))

      val put = MemcachedStore.put(tiles, hosts, flags = 7).cache()
      assert(put.where(col("error").isNotNull).count() == 0)
      assert(put.count() == 20)
      assert(srv.store.size() == 20)
      put.unpersist()

      // fetch: every row kept, data + flags + cas round-trip
      val got = MemcachedStore.fetch(tiles.select("z", "x", "y", "key"), hosts).cache()
      assert(got.count() == 20)
      assert(got.where(col("error").isNotNull).count() == 0)
      val one = got.where(col("key") === "3/2/1").head()
      assert(new String(one.getAs[Array[Byte]]("data"), UTF_8) == "tile-3/2/1")
      assert(one.getAs[Int]("mc_flags") == 7)
      assert(one.getAs[Long]("mc_cas") > 0)
      got.unpersist()

      // missing key: row KEPT with nulls (memcached.py:28-33 — unlike url.py's 404 drop)
      val miss = MemcachedStore.fetch(Seq("9/9/9").toDF("key"), hosts).head()
      assert(miss.getAs[Array[Byte]]("data") == null)
      assert(miss.isNullAt(miss.fieldIndex("mc_flags")), "contains == flags non-null")
      assert(miss.getAs[String]("error") == null)

      // delete: DELETED then NOT_FOUND
      val del1 = MemcachedStore.delete(Seq("3/2/1").toDF("key"), hosts).head()
      assert(del1.getAs[Boolean]("deleted"))
      val del2 = MemcachedStore.delete(Seq("3/2/1").toDF("key"), hosts).head()
      assert(!del2.getAs[Boolean]("deleted"))
    }
  }

  test("memcached store: CR/LF or whitespace in a key is rejected, never sent (command injection)") {
    val s = spark
    import s.implicits._
    withServers(1) { case Seq(srv) =>
      val hosts = Seq(("127.0.0.1", srv.port))
      // a key column carrying an injected command: without validation the
      // client would write "set k\r\nflush_all ..." and the server would
      // EXECUTE the second line. It must become an error row instead.
      val evil = Seq(
        ("k\r\nflush_all", "boom"),
        ("sp ace", "boom2"),
        ("x" * 251, "toolong"),
        ("good-key/3/2/1", "fine"))
        .toDF("key", "payload")
        .withColumn("data", col("payload").cast("binary"))
      val put = MemcachedStore.put(evil, hosts).cache()
      val errs = put.where(col("error").isNotNull).select("key").collect().map(_.getString(0)).toSet
      assert(errs == Set("k\r\nflush_all", "sp ace", "x" * 251), s"got $errs")
      assert(put.where(col("error").isNull).count() == 1)
      put.unpersist()
      // nothing beyond the good key reached the server's map
      assert(srv.store.size() == 1 && srv.store.containsKey("good-key/3/2/1"))

      val got = MemcachedStore.fetch(Seq("a\tb").toDF("key"), hosts).head()
      assert(got.getAs[String]("error") != null, "get path validates too")
      val del = MemcachedStore.delete(Seq("a b").toDF("key"), hosts).head()
      assert(del.getAs[String]("error") != null, "delete path validates too")

      // the limit is 250 BYTES on the wire, not chars: 200 two-byte
      // chars pass a char-length check but exceed the protocol limit
      val wide = MemcachedStore.fetch(Seq("é" * 200).toDF("key"), hosts).head()
      assert(wide.getAs[String]("error") != null, "byte length must be enforced")

      // validation failures happen before any wire traffic: the shard's
      // healthy connection must NOT be evicted/reconnected per bad row
      val before = srv.opened.get()
      val mixed = (1 to 10).flatMap(i => Seq(s"bad key $i", s"ok$i"))
      val res = MemcachedStore.fetch(mixed.toDF("key").coalesce(1), hosts).cache()
      assert(res.where(col("error").isNotNull).count() == 10)
      res.unpersist()
      assert(srv.opened.get() - before <= 1,
        s"bad keys must not churn connections: ${srv.opened.get() - before} opens")

      // the same on put: bad keys are rejected before a connection opens
      val beforePut = srv.opened.get()
      val putMixed = MemcachedStore.put(
        mixed.toDF("key").withColumn("data", col("key").cast("binary")).coalesce(1), hosts).cache()
      assert(putMixed.where(col("error").isNotNull).count() == 10)
      putMixed.unpersist()
      assert(srv.opened.get() - beforePut <= 1,
        s"bad keys must not churn connections on put: ${srv.opened.get() - beforePut} opens")
    }
  }

  test("memcached store: consistent shard spread over multiple hosts") {
    val s = spark
    import s.implicits._
    withServers(2) { case servers =>
      val hosts = servers.map(sv => ("127.0.0.1", sv.port))
      val keys = (0 until 64).map(i => s"k/$i")
      val df = keys.toDF("key").withColumn("data", col("key").cast("binary"))
      assert(MemcachedStore.put(df, hosts).where(col("error").isNotNull).count() == 0)
      // both shards hold data, split exactly by the hostFor rule
      val expected = keys.groupBy(k => MemcachedStore.hostFor(k, hosts)._2).view.mapValues(_.size).toMap
      servers.foreach(sv => assert(sv.store.size() == expected(sv.port)))
      assert(servers.map(_.store.size()).sum == 64)
      // every key reads back from the shard the rule picked
      val got = MemcachedStore.fetch(keys.toDF("key"), hosts)
      assert(got.where(col("data").isNull || col("error").isNotNull).count() == 0)
    }
  }

  test("memcached store: desynced reply poisons only its own row — pool reconnects") {
    val s = spark
    import s.implicits._
    withServers(1) { case Seq(srv) =>
      val hosts = Seq(("127.0.0.1", srv.port))
      val good = Seq("p/1", "p/2", "p/3")
      MemcachedStore.put(
        good.toDF("key").withColumn("data", col("key").cast("binary")), hosts).collect()
      srv.poisonKey = "p/bad"
      // one partition, bad key in the middle: without evict-on-error the
      // leftover "fgh\r\nEND" bytes would be parsed as the NEXT key's reply
      val keys = Seq("p/1", "p/bad", "p/2", "p/3").toDF("key").coalesce(1)
      val rows = MemcachedStore.fetch(keys, hosts, timeoutMs = 2000)
        .collect().map(r => r.getAs[String]("key") -> r).toMap
      assert(rows("p/bad").getAs[String]("error") != null, "poisoned row errors")
      good.foreach { k =>
        assert(rows(k).getAs[String]("error") == null, s"$k unaffected")
        assert(new String(rows(k).getAs[Array[Byte]]("data"), UTF_8) == k)
      }
    }
  }

  test("memcached store: limit() early termination still closes the sockets") {
    val s = spark
    import s.implicits._
    withServers(1) { case Seq(srv) =>
      val hosts = Seq(("127.0.0.1", srv.port))
      val keys = (0 until 50).map(i => s"k/$i").toDF("key").coalesce(1)
      MemcachedStore.put(keys.withColumn("data", col("key").cast("binary")), hosts)
        .where(col("error").isNotNull).count()

      // limit(1) stops pulling mid-iterator: the drain-close path never
      // runs, so only the task-completion listener stands between this
      // and a leaked socket per partition
      val one = MemcachedStore.fetch(keys, hosts).limit(1).collect()
      assert(one.length == 1)
      val deadline = System.nanoTime() + 10_000_000_000L
      while (srv.closed.get() < srv.opened.get() && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(srv.closed.get() == srv.opened.get(),
        s"opened=${srv.opened.get()} closed=${srv.closed.get()}: early-terminated fetch leaked connections")
    }
  }

  test("memcached store: connect failure is an error column, not a task failure") {
    val s = spark
    import s.implicits._
    // a port nothing listens on
    val dead = { val ss = new ServerSocket(0); val p = ss.getLocalPort; ss.close(); p }
    val got = MemcachedStore.fetch(Seq("a", "b").toDF("key"), Seq(("127.0.0.1", dead)), timeoutMs = 500)
    val rows = got.collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[String]("error") != null))
    assert(rows.forall(_.getAs[Array[Byte]]("data") == null))
  }
}

package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.sql.RowOp

/** Memcached tile cache — the Spark-native MemcachedTileStore
  * (reference store/memcached.py:7-44 over the from-scratch text
  * protocol client lib/memcached.py:9-71).
  *
  * The wire protocol is the public memcached ASCII protocol
  * (`get` / `set` / `delete`, VALUE/END/STORED/DELETED/NOT_FOUND
  * replies, optional cas id on VALUE). The client below is written
  * from the protocol, not from a driver library: one pooled socket per
  * executor-partition, length-delimited value reads, CRLF framing.
  *
  * Semantics, faithfully to the reference:
  *   - get_one (memcached.py:28-33) NEVER drops a row: a missing key
  *     yields data=null, flags=null, cas=null (the reference sets
  *     tile.data=None and returns the tile — unlike url.py's 404 drop)
  *   - put_one (memcached.py:35-40) sets (flags, exptime, data) under
  *     the layout filename; a non-STORED reply is an error
  *   - delete_one (memcached.py:42-44) issues `delete`; DELETED vs
  *     NOT_FOUND is surfaced as a boolean column
  *   - `__contains__` == `flags IS NOT NULL` after a fetch
  *   - any socket/protocol failure lands in the `error` column, never
  *     a task failure (same error-channel posture as [[UrlStore]]:
  *     a 100 TB cache sweep must not die on one bad shard; compose
  *     with engine/Filters circuit breakers)
  *
  * Scale: input rows carry only the cache key (a layout filename
  * column from [[graft.sql.TileFunctions]]); payloads are born on the
  * executors, so fetch adds no shuffle. Connection count = partition
  * count — repartition upstream to the connection budget the cache
  * tier allows. A real deployment shards by key hash across hosts;
  * `hostFor` below picks the shard by a deterministic key hash
  * (MurmurHash3 mod N — stable across JVMs for capacity planning),
  * so a multi-host cache tier needs no code change, only a longer
  * host list.
  */
object MemcachedStore {

  /** Minimal ASCII-protocol client (protocol-faithful port surface of
    * lib/memcached.py:9-71, re-implemented from the public protocol).
    * Not thread-safe; one per partition. */
  final class Client(host: String, port: Int, timeoutMs: Int = 30000) extends AutoCloseable {
    private val socket = new Socket()
    socket.connect(new InetSocketAddress(host, port), timeoutMs)
    socket.setSoTimeout(timeoutMs)
    private val in = new BufferedInputStream(socket.getInputStream)
    private val out = new BufferedOutputStream(socket.getOutputStream)

    private val ValueRe =
      """VALUE\s+(\S+)\s+(\d+)\s+(\d+)(?:\s+(\d+))?""".r

    /** Text-protocol keys must be 1..250 bytes with no whitespace or
      * control characters — a key containing "\r\nflush_all" would
      * otherwise be EXECUTED by the server as an injected command
      * (keys come from a data column, so this is an input-validation
      * boundary, not a programmer-error assert). Rejected keys throw
      * and land in the caller's error column. */
    private def checkKey(key: String): Unit = MemcachedStore.checkKey(key)

    /** (flags, value, cas) — all None when the key is absent. */
    def get(key: String): (Option[Int], Option[Array[Byte]], Option[Long]) = {
      checkKey(key)
      writeLine(s"get $key")
      val line = readLine()
      if (line == "END") (None, None, None)
      else line match {
        case ValueRe(k, flags, nBytes, cas) =>
          require(k == key, s"memcached VALUE for wrong key: $k")
          val value = readValue(nBytes.toInt)
          val end = readLine()
          if (end != "END") throw new RuntimeException(s"memcached: $end")
          (Some(flags.toInt), Some(value), Option(cas).map(_.toLong))
        case other => throw new RuntimeException(s"memcached: $other")
      }
    }

    def set(key: String, flags: Int, exptime: Int, value: Array[Byte]): Unit = {
      checkKey(key)
      writeLine(s"set $key $flags $exptime ${value.length}")
      out.write(value); out.write('\r'); out.write('\n'); out.flush()
      val line = readLine()
      if (line != "STORED") throw new RuntimeException(s"memcached: $line")
    }

    /** true = DELETED, false = NOT_FOUND. */
    def delete(key: String): Boolean = {
      checkKey(key)
      writeLine(s"delete $key")
      readLine() match {
        case "DELETED"   => true
        case "NOT_FOUND" => false
        case other       => throw new RuntimeException(s"memcached: $other")
      }
    }

    private def writeLine(s: String): Unit = {
      out.write(s.getBytes(UTF_8)); out.write('\r'); out.write('\n'); out.flush()
    }

    private def readValue(n: Int): Array[Byte] = {
      val buf = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val r = in.read(buf, off, n - off)
        if (r < 0) throw new RuntimeException("memcached: EOF in value")
        off += r
      }
      if (in.read() != '\r' || in.read() != '\n')
        throw new RuntimeException("memcached: bad value framing")
      buf
    }

    private def readLine(): String = {
      val sb = new java.lang.StringBuilder()
      var c = in.read()
      while (c != '\r') {
        if (c < 0) throw new RuntimeException("memcached: EOF in line")
        sb.append(c.toChar)
        c = in.read()
      }
      if (in.read() != '\n') throw new RuntimeException("memcached: bad line framing")
      sb.toString
    }

    override def close(): Unit = socket.close()
  }

  /** Deterministic shard pick over a host list (MurmurHash3 mod N,
    * stable across JVMs and sessions). */
  def hostFor(key: String, hosts: Seq[(String, Int)]): (String, Int) =
    hosts(math.floorMod(scala.util.hashing.MurmurHash3.stringHash(key), hosts.size))

  /** Validate a key BEFORE any wire traffic: the protocol limit is 250
    * BYTES (keys go out UTF-8 — a 200-char non-ASCII key can exceed it)
    * with no whitespace or control characters (a key containing
    * "\r\nflush_all" would otherwise be EXECUTED as an injected
    * command). Throws IllegalArgumentException; the per-partition
    * wrapper routes that to the error column without evicting the
    * shard's healthy connection. */
  private[sources] def checkKey(key: String): Unit = {
    require(key != null && key.nonEmpty &&
      key.getBytes(UTF_8).length <= 250,
      s"memcached key must be 1..250 UTF-8 bytes: ${if (key == null) "null" else key.getBytes(UTF_8).length.toString}")
    require(key.forall(c => c > ' ' && c != '\u007f'),
      "memcached key contains whitespace or control characters")
  }

  private val getFields = Seq(
    StructField("data", BinaryType),
    StructField("mc_flags", IntegerType),
    StructField("mc_cas", LongType),
    StructField("error", StringType))

  /** get_one for every row: appends (data, mc_flags, mc_cas, error).
    * Missing keys keep the row with nulls (memcached.py:28-33). */
  def fetch(
      df: DataFrame,
      hosts: Seq[(String, Int)],
      keyCol: String = "key",
      timeoutMs: Int = 30000): DataFrame =
    perPartition(df, hosts, Seq(keyCol), timeoutMs, getFields) { (client, r) =>
      val (flags, value, cas) = client.get(r.getString(0))
      Seq(value.orNull, flags.map(Int.box).orNull, cas.map(Long.box).orNull, null)
    }

  private val putFields = Seq(StructField("error", StringType))

  /** put_one for every row (memcached.py:35-40): sets dataCol bytes
    * under keyCol; appends an `error` column (null on STORED). */
  def put(
      df: DataFrame,
      hosts: Seq[(String, Int)],
      keyCol: String = "key",
      dataCol: String = "data",
      flags: Int = 0,
      exptime: Int = 0,
      timeoutMs: Int = 30000): DataFrame =
    perPartition(df, hosts, Seq(keyCol, dataCol), timeoutMs, putFields) { (client, r) =>
      client.set(r.getString(0), flags, exptime, r.getAs[Array[Byte]](1))
      Seq(null)
    }

  private val delFields = Seq(
    StructField("deleted", BooleanType),
    StructField("error", StringType))

  /** delete_one for every row: appends (deleted, error). */
  def delete(
      df: DataFrame,
      hosts: Seq[(String, Int)],
      keyCol: String = "key",
      timeoutMs: Int = 30000): DataFrame =
    perPartition(df, hosts, Seq(keyCol), timeoutMs, delFields) { (client, r) =>
      Seq(Boolean.box(client.delete(r.getString(0))), null)
    }

  /** The one path of fetch, put and delete: a [[graft.sql.RowOp]] over
    * `df` reading the key (first of `reads`), with one [[Pool]] per
    * partition. A failed row gets `memcached: <key>\n<throwable>`. */
  private def perPartition(
      df: DataFrame,
      hosts: Seq[(String, Int)],
      reads: Seq[String],
      timeoutMs: Int,
      fields: Seq[StructField])(
      body: (Client, Row) => Seq[Any]): DataFrame = {
    require(hosts.nonEmpty, "memcached: at least one host")
    RowOp.perPartition(df, reads, fields, prefix = r => s"memcached: ${r.getString(0)}\n") {
      () => new Pool(hosts, timeoutMs, body)
    }
  }

  /** One partition's lazily-opened connections, one per distinct shard
    * host, applying `body` to each row. The operator closes them when
    * the partition drains and at task completion (a `limit`/`take`
    * stops pulling mid-iterator); close is idempotent. A failed request
    * leaves the ASCII stream in an undefined position (e.g. EOF
    * mid-value), so the shard's connection is evicted — the next row
    * for that shard reconnects instead of misparsing a desynced reply. */
  private final class Pool(hosts: Seq[(String, Int)], timeoutMs: Int, body: (Client, Row) => Seq[Any])
      extends (Row => IterableOnce[Seq[Any]]) with AutoCloseable {
    private val open = scala.collection.mutable.Map.empty[(String, Int), Client]

    def apply(r: Row): IterableOnce[Seq[Any]] = {
      val key = r.getString(0)
      // validation failures happen BEFORE any bytes hit the wire: the
      // row errors but the shard keeps its connection (an evict here
      // would degrade interleaved-bad-key sweeps to connect-per-row)
      checkKey(key)
      val hp = hostFor(key, hosts)
      try Some(body(open.getOrElseUpdate(hp, new Client(hp._1, hp._2, timeoutMs)), r))
      catch {
        case NonFatal(e) =>
          open.remove(hp).foreach(c => try c.close() catch { case NonFatal(_) => () })
          throw e
      }
    }

    def close(): Unit = {
      open.values.foreach(c => try c.close() catch { case NonFatal(_) => () })
      open.clear()
    }
  }
}

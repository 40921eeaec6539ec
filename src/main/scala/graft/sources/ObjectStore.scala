package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

/** One REST object store (an S3 bucket, an Azure blob container): how
  * to sign a request and read the service's answers. The five tile-store
  * operators are written once, in the companion, over this.
  */
trait ObjectStore extends Serializable {

  /** One signed request for `key` ("" = the bucket/container itself).
    * Returns (status, lower-cased headers, body). */
  def request(
      method: String,
      key: String,
      query: Seq[(String, String)],
      headers: Seq[(String, String)],
      body: Array[Byte],
      timeoutMs: Int): (Int, Map[String, String], Array[Byte])

  /** Headers of a PUT carrying the tile's content settings. */
  def putHeaders(
      contentType: Option[String],
      contentEncoding: Option[String],
      cacheControl: Option[String]): Seq[(String, String)]

  def putOk(status: Int): Boolean
  def deleteOk(status: Int): Boolean

  /** Query of one listing page of `prefix`, continuing after `marker`
    * ("" for the first page). */
  def listQuery(prefix: String, marker: String, pageSize: Int): Seq[(String, String)]

  /** One listing page's (key, size) entries, unescaped, and the marker
    * of the next page ("" when this page is the last). */
  def listPage(xml: String): (Seq[(String, Long)], String)

  /** `s3://bucket/key`-style name that prefixes a failed row's error. */
  def uri(key: String): String
}

/** The reference's TileStore operators over any [[ObjectStore]]
  * (reference store/s3.py:38-105, azure_storage_blob.py:52-118):
  *   - fetch (get_one): 404 → the row is DROPPED (the reference returns
  *     None); success → data + content type/encoding from the response;
  *     any other failure → error column
  *   - put (put_one): content settings from columns when present,
  *     cache control from config; failures → error column
  *   - delete (delete_one): failures → error column
  *   - contains (__contains__): HEAD → boolean column
  *   - list: prefix + marker paging — but DISTRIBUTED: the caller
  *     supplies a prefix-shard frame (one row per key prefix, e.g. one
  *     per zoom or per hex shard) and each partition pages its own
  *     prefixes. A single driver-side listing of a 10^12-object bucket
  *     is the anti-pattern; prefix sharding is how production object
  *     store inventories parallelise.
  *
  * Scale: same posture as [[UrlStore]] — input rows carry only keys,
  * payloads are born on (GET) or leave from (PUT) the executors, no
  * shuffle is introduced; request concurrency = partition count.
  * Signing is per-row CPU noise next to the network round-trip.
  */
object ObjectStore {

  private def failure(store: ObjectStore, key: String, status: Int, body: Array[Byte]): String =
    s"${store.uri(key)}\n$status: ${new String(body, UTF_8)}"

  private val getFields = Seq(
    StructField("data", BinaryType),
    StructField("content_type", StringType),
    StructField("content_encoding", StringType),
    StructField("error", StringType))

  /** get_one for every row: GET the key; 404 rows are DROPPED, other
    * failures land in `error`. */
  def fetch(
      df: DataFrame,
      store: ObjectStore,
      keyCol: String = "key",
      timeoutMs: Int = 30000): DataFrame = {
    val keyIdx = df.schema.fieldIndex(keyCol)
    val outSchema = StructType(df.schema.fields.toSeq ++ getFields)
    df.mapPartitions { it =>
      it.flatMap { r =>
        val key = r.getString(keyIdx)
        try {
          val (status, hdrs, body) = store.request("GET", key, Nil, Nil, null, timeoutMs)
          if (status == 404) None
          else if (status == 200)
            Some(Row.fromSeq(r.toSeq ++ Seq(body, hdrs.getOrElse("content-type", null),
              hdrs.getOrElse("content-encoding", null), null)))
          else Some(Row.fromSeq(r.toSeq ++ Seq(null, null, null, failure(store, key, status, body))))
        } catch {
          case e: Exception =>
            Some(Row.fromSeq(r.toSeq ++ Seq(null, null, null, s"${store.uri(key)}\n$e")))
        }
      }
    }(Encoders.row(outSchema))
  }

  private val errField = Seq(StructField("error", StringType))

  /** put_one for every row: PUT dataCol under keyCol with the store's
    * content-settings headers; a null payload still PUTs a zero-length
    * object (empty tiles are legal). */
  def put(
      df: DataFrame,
      store: ObjectStore,
      keyCol: String = "key",
      dataCol: String = "data",
      contentTypeCol: Option[String] = None,
      contentEncodingCol: Option[String] = None,
      cacheControl: Option[String] = None,
      timeoutMs: Int = 30000): DataFrame = {
    val keyIdx = df.schema.fieldIndex(keyCol)
    val dataIdx = df.schema.fieldIndex(dataCol)
    val ctIdx = contentTypeCol.map(df.schema.fieldIndex)
    val ceIdx = contentEncodingCol.map(df.schema.fieldIndex)
    val outSchema = StructType(df.schema.fields.toSeq ++ errField)
    df.mapPartitions { it =>
      it.map { r =>
        val key = r.getString(keyIdx)
        val err =
          try {
            val hdrs = store.putHeaders(
              ctIdx.flatMap(i => Option(r.getString(i))),
              ceIdx.flatMap(i => Option(r.getString(i))),
              cacheControl)
            // Http.exchange needs a non-null body to send Content-Length
            val data = Option(r.getAs[Array[Byte]](dataIdx)).getOrElse(Array.emptyByteArray)
            val (status, _, body) = store.request("PUT", key, Nil, hdrs, data, timeoutMs)
            if (store.putOk(status)) null else failure(store, key, status, body)
          } catch { case e: Exception => s"${store.uri(key)}\n$e" }
        Row.fromSeq(r.toSeq :+ err)
      }
    }(Encoders.row(outSchema))
  }

  /** delete_one for every row. */
  def delete(
      df: DataFrame,
      store: ObjectStore,
      keyCol: String = "key",
      timeoutMs: Int = 30000): DataFrame = {
    val keyIdx = df.schema.fieldIndex(keyCol)
    val outSchema = StructType(df.schema.fields.toSeq ++ errField)
    df.mapPartitions { it =>
      it.map { r =>
        val key = r.getString(keyIdx)
        val err =
          try {
            val (status, _, body) = store.request("DELETE", key, Nil, Nil, null, timeoutMs)
            if (store.deleteOk(status)) null else failure(store, key, status, body)
          } catch { case e: Exception => s"${store.uri(key)}\n$e" }
        Row.fromSeq(r.toSeq :+ err)
      }
    }(Encoders.row(outSchema))
  }

  private val containsFields = Seq(
    StructField("exists", BooleanType),
    StructField("error", StringType))

  /** __contains__ for every row: HEAD → exists boolean. */
  def contains(
      df: DataFrame,
      store: ObjectStore,
      keyCol: String = "key",
      timeoutMs: Int = 30000): DataFrame = {
    val keyIdx = df.schema.fieldIndex(keyCol)
    val outSchema = StructType(df.schema.fields.toSeq ++ containsFields)
    df.mapPartitions { it =>
      it.map { r =>
        val key = r.getString(keyIdx)
        val extra =
          try {
            val (status, _, _) = store.request("HEAD", key, Nil, Nil, null, timeoutMs)
            if (status == 200) Seq(Boolean.box(true), null)
            else if (status == 404) Seq(Boolean.box(false), null)
            else Seq(null, s"${store.uri(key)}\nHEAD $status")
          } catch { case e: Exception => Seq(null, s"${store.uri(key)}\n$e") }
        Row.fromSeq(r.toSeq ++ extra)
      }
    }(Encoders.row(outSchema))
  }

  /** Distributed listing: `prefixes` has one row per key prefix (column
    * `prefix`); each partition pages its own prefixes, `pageSize` keys
    * a page, with marker continuation. Output one row per object:
    * (prefix, key, size). */
  def list(
      prefixes: DataFrame,
      store: ObjectStore,
      pageSize: Int = 1000,
      timeoutMs: Int = 30000): DataFrame = {
    val pIdx = prefixes.schema.fieldIndex("prefix")
    val outSchema = StructType(Seq(
      StructField("prefix", StringType),
      StructField("key", StringType),
      StructField("size", LongType)))
    prefixes.mapPartitions { it =>
      it.flatMap { r =>
        val prefix = r.getString(pIdx)
        // stream pages lazily at O(page) memory: buffering the whole
        // listing first would OOM the task on one hot prefix (the
        // 10^12-object posture means tens of millions of keys CAN land
        // under a single prefix shard)
        new Iterator[Seq[Row]] {
          private var marker = ""
          private var more = true
          def hasNext: Boolean = more
          def next(): Seq[Row] = {
            val q = store.listQuery(prefix, marker, pageSize)
            val (status, _, body) = store.request("GET", "", q, Nil, null, timeoutMs)
            if (status != 200)
              throw new RuntimeException(
                s"list ${store.uri(prefix)}: $status ${new String(body, UTF_8)}")
            val (page, next) = store.listPage(new String(body, UTF_8))
            marker = next
            more = next.nonEmpty
            page.map { case (k, size) => Row(prefix, k, size) }
          }
        }.flatten
      }
    }(Encoders.row(outSchema))
  }
}

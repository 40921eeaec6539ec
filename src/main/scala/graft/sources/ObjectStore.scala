package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

import graft.sql.RowOp

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
  *
  * All but `list` are one [[graft.sql.RowOp]] each: every input column
  * passes through, and a request that throws puts
  * `<uri of the key>\n<throwable>` in `error`.
  */
object ObjectStore {

  private def failure(store: ObjectStore, key: String, status: Int, body: Array[Byte]): String =
    s"${store.uri(key)}\n$status: ${new String(body, UTF_8)}"

  /** `body` per row of `df`, reading `keyCol` first and then `more`. */
  private def perKey(df: DataFrame, store: ObjectStore, keyCol: String, fields: Seq[StructField],
      more: Seq[String] = Nil)(body: (String, Row) => IterableOnce[Seq[Any]]): DataFrame =
    RowOp(df, keyCol +: more, fields, prefix = r => s"${store.uri(r.getString(0))}\n") { r =>
      body(r.getString(0), r)
    }

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
      timeoutMs: Int = 30000): DataFrame =
    perKey(df, store, keyCol, getFields) { (key, _) =>
      val (status, hdrs, body) = store.request("GET", key, Nil, Nil, null, timeoutMs)
      if (status == 404) None
      else if (status == 200)
        Some(Seq(body, hdrs.getOrElse("content-type", null),
          hdrs.getOrElse("content-encoding", null), null))
      else Some(Seq(null, null, null, failure(store, key, status, body)))
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
    val ceAt = 2 + contentTypeCol.size
    perKey(df, store, keyCol, errField, dataCol +: (contentTypeCol ++ contentEncodingCol).toSeq) {
      (key, r) =>
        val hdrs = store.putHeaders(
          contentTypeCol.flatMap(_ => Option(r.getString(2))),
          contentEncodingCol.flatMap(_ => Option(r.getString(ceAt))),
          cacheControl)
        // Http.exchange needs a non-null body to send Content-Length
        val data = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        val (status, _, body) = store.request("PUT", key, Nil, hdrs, data, timeoutMs)
        Some(Seq(if (store.putOk(status)) null else failure(store, key, status, body)))
    }
  }

  /** delete_one for every row. */
  def delete(
      df: DataFrame,
      store: ObjectStore,
      keyCol: String = "key",
      timeoutMs: Int = 30000): DataFrame =
    perKey(df, store, keyCol, errField) { (key, _) =>
      val (status, _, body) = store.request("DELETE", key, Nil, Nil, null, timeoutMs)
      Some(Seq(if (store.deleteOk(status)) null else failure(store, key, status, body)))
    }

  private val containsFields = Seq(
    StructField("exists", BooleanType),
    StructField("error", StringType))

  /** __contains__ for every row: HEAD → exists boolean. */
  def contains(
      df: DataFrame,
      store: ObjectStore,
      keyCol: String = "key",
      timeoutMs: Int = 30000): DataFrame =
    perKey(df, store, keyCol, containsFields) { (key, _) =>
      val (status, _, _) = store.request("HEAD", key, Nil, Nil, null, timeoutMs)
      if (status == 200) Some(Seq(true, null))
      else if (status == 404) Some(Seq(false, null))
      else Some(Seq(null, s"${store.uri(key)}\nHEAD $status"))
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

package graft.store

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.query.QueryParams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GridFS-analogue binary store (C7; reference `stores/gridfs.py:41-536`):
  * a keyed store of opaque binary payloads with a `metadata` struct plane.
  *
  * Document shape: `(key, payload BINARY, metadata STRUCT(<lastUpdated>,
  * <searchable fields…>, length, content_md5, compression))` — the Spark
  * rendering of GridFS's files-collection metadata + chunk payload.
  *
  *  - `put` optionally zlib-compresses the payload
  *    (`compression` flag → `metadata.compression = "zlib"`,
  *    `gridfs.py:398-401`); `length`/`content_md5` describe the RAW
  *    bytes, so integrity checks survive compression.
  *  - Writes keep only the newest blob per key (`gridfs.py:407-408`
  *    deletes all but the latest upload): within a batch last-write-wins,
  *    across batches the versioned upsert replaces by key.
  *  - Query criteria address the metadata plane: bare field names are
  *    auto-prefixed `metadata.` (the reference's `transform_criteria`,
  *    `gridfs.py:191-199`) unless they name the key, the payload, or an
  *    explicit `metadata.` path. Unlike the reference, the key column
  *    stays top-level (it is the upsert join key).
  *  - [[inflated]] restores compressed payloads on read
  *    (`gridfs.py:265-266`).
  *
  * Substrate = [[ParquetStore]] versioned-directory writes (atomic flip);
  * metadata-only queries never touch the payload column thanks to parquet
  * column pruning — the blob plane costs nothing until projected.
  */
class BlobStore(
    override val spark: SparkSession,
    val root: String,
    override val key: String = "blob_id",
    override val lastUpdatedField: String = "last_updated",
    val searchableFields: Seq[String] = Nil,
    val compression: Boolean = false)
  extends Store {

  val name: String = s"blob:$root"
  graft.functions.GraftFunctions.register(spark)

  // deltaWrites: a blob plane is append-heavy (GridFS "upload newest
  // version" traffic) — each put writes O(batch) as a delta instead of
  // rewriting the corpus, readers resolve newest-per-key with one
  // map-side-partial hash agg, and compaction folds deltas back into a
  // plain-scan base (ParquetStore merge-on-read contract)
  private val backing = new ParquetStore(spark, root, key, lastUpdatedField,
    deltaWrites = true)

  def df: DataFrame = backing.df
  def isEmpty: Boolean = backing.isEmpty

  /** Pack `contentCol` into blob shape and upsert newest-per-key. The
    * metadata plane picks up `lastUpdatedField` and the searchable
    * fields when present in `docs`. */
  def put(docs: DataFrame, contentCol: String = "content"): Unit = {
    val raw = col(contentCol).cast("binary")
    val payload: Column =
      if (compression) call_function("zlib_deflate", raw) else raw
    val carried = (lastUpdatedField +: searchableFields).distinct
      .filter(docs.columns.contains).filterNot(_ == key)
    val metaFields = carried.map(f => col(f).alias(f)) ++ Seq(
      length(raw).cast("long").alias("length"),
      md5(raw).alias("content_md5"),
      (if (compression) lit("zlib") else lit(null).cast("string"))
        .alias("compression"))
    backing.update(docs.select(col(key), payload.alias("payload"),
      struct(metaFields: _*).alias("metadata")))
  }

  /** Payloads restored to their raw bytes (zlib rows inflated). */
  def inflated(d: DataFrame): DataFrame =
    d.withColumn("payload",
      when(col("metadata.compression") === "zlib",
        call_function("zlib_inflate", col("payload")))
        .otherwise(col("payload")))

  /** Forwarded to the backing store, so a key lookup takes its
    * driver read. */
  override def query(params: QueryParams): DataFrame =
    backing.query(params.copy(
      criteria = params.criteria.map(BlobStore.transformCriteria(_, key)),
      properties = params.properties.map(prefixField),
      sort = params.sort.map { case (f, d) => (prefixField(f), d) }))

  private def prefixField(f: String): String =
    if (f == key || f == "payload" || f == "metadata" || f.startsWith("metadata."))
      f
    else s"metadata.$f"

  /** No-criteria counts ride the ParquetStore footer fast path; criteria
    * counts go through the metadata-prefix transform first. */
  override def count(criteria: Option[String] = None): Long = criteria match {
    case Some(c) =>
      graft.query.MongoFilter(df, BlobStore.transformCriteria(c, key)).count()
    case None => backing.count(None)
  }

  override def lastUpdated: Option[java.sql.Timestamp] = {
    if (isEmpty) return None
    // a store populated via put() without a last_updated column has no
    // metadata timestamp field — that is "no watermark", not a crash
    val hasLu = df.schema.fields.find(_.name == "metadata").exists {
      _.dataType match {
        case s: org.apache.spark.sql.types.StructType =>
          s.fieldNames.contains(lastUpdatedField)
        case _ => false
      }
    }
    if (!hasLu) return None
    df.agg(max(col(s"metadata.$lastUpdatedField"))).collect().headOption
      .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[java.sql.Timestamp]))
  }

  override def update(docs: DataFrame, keyFields: Seq[String] = Seq(key)): Unit =
    backing.update(docs, keyFields)

  override def removeDocs(criteria: String): Unit =
    backing.removeDocs(BlobStore.transformCriteria(criteria, key))

  override def removeKeys(keys: DataFrame): Unit = backing.removeKeys(keys)

  /** Index hint passes through to the parquet substrate (key-sorted
    * layout → row-group pruning for [[graft.api.BlobResource]] fetches). */
  override def ensureIndex(field: String, unique: Boolean = false): Boolean =
    backing.ensureIndex(field, unique)
}

object BlobStore {
  private val mapper = new ObjectMapper()

  /** The reference's `transform_criteria` (`gridfs.py:191-199`): prefix
    * bare top-level fields with `metadata.`, recursing through the
    * logical connectives so `$and`/`$or`/`$nor` branches transform too
    * (the reference only rewrites top level; the recursion is a strict
    * superset of its behavior). */
  private[graft] def transformCriteria(criteriaJson: String, key: String): String =
    transformNode(mapper.readTree(criteriaJson), key).toString

  private def transformNode(node: JsonNode, key: String): JsonNode = node match {
    case obj: ObjectNode =>
      val out = mapper.createObjectNode()
      obj.properties().forEach { e =>
        val (k, v) = (e.getKey, e.getValue)
        if (k == "$and" || k == "$or" || k == "$nor") {
          val arr = mapper.createArrayNode()
          v.asInstanceOf[ArrayNode].forEach(el =>
            arr.add(transformNode(el, key)))
          out.set[JsonNode](k, arr)
        } else if (k.startsWith("$") || k == key || k == "payload" ||
                   k == "metadata" || k.startsWith("metadata.")) {
          out.set[JsonNode](k, v)
        } else {
          out.set[JsonNode](s"metadata.$k", v)
        }
      }
      out
    case other => other
  }
}

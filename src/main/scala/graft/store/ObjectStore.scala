package graft.store

import graft.builder.Materialize
import graft.query.QueryParams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** C8/C9 `S3Store`/`AzureBlobStore` semantics (reference
  * `stores/aws.py:30-583`, `stores/azure.py:60-581`): documents live as
  * blobs in object storage while a **slim index table** holds the key,
  * `searchable_fields`, `obj_hash` and compression metadata. The
  * reference's core optimization — answer a query **from the index alone
  * when the requested properties ⊆ index fields** (`aws.py:190-192`) — is
  * a covering-index routing decision, reproduced here verbatim.
  *
  * Spark mapping: two keyed tables over any path Spark can reach
  * (`file://`, `s3a://`, `abfss://` — same code, different URI):
  *  - `index`: key + searchable fields + `obj_hash` (a parquet scan of a
  *    few slim columns — at 100 TB this is the difference between reading
  *    KBs and reading everything)
  *  - `data`: the full documents (the "blob" side; binary payload columns
  *    ride along untouched)
  *
  * `query` routes: criteria fields and requested properties all indexed →
  * index-only scan; otherwise index-filter then key-join the data table
  * (the reference's per-key object fetch, made a distributed join).
  * `rebuildIndex` regenerates the index from the data table
  * (`aws.py:530-571`).
  */
class ObjectStore(
    val spark: SparkSession,
    dataRoot: String,
    indexRoot: String,
    val key: String = "task_id",
    val searchableFields: Seq[String] = Nil,
    override val lastUpdatedField: String = "last_updated")
  extends Store {

  val name: String = s"object:$dataRoot"

  val data = new ParquetStore(spark, dataRoot, key, lastUpdatedField)
  val index = new ParquetStore(spark, indexRoot, key, lastUpdatedField)

  private def indexCols: Set[String] =
    if (index.isEmpty) Set.empty else index.df.columns.toSet

  def df: DataFrame = data.df

  /** Covering-index routing (`aws.py:184-216`). */
  override def query(params: QueryParams = QueryParams.empty): DataFrame = {
    val wanted = params.properties.map(_.split('.').head).toSet
    val criteriaFields = params.criteria.toSeq
      .flatMap(graft.query.MongoFilter.topLevelFields).map(_.split('.').head).toSet
    // sort fields count toward coverage: routing a query whose ORDER BY
    // column lives only in the data table to the slim index would fail
    // resolution at analysis
    val sortFields = params.sort.map(_._1.split('.').head).toSet
    val covered = params.properties.nonEmpty &&
      (wanted ++ criteriaFields ++ sortFields).subsetOf(indexCols)
    if (covered) params(index.df)
    else if (criteriaFields.nonEmpty && criteriaFields.subsetOf(indexCols) && !index.isEmpty) {
      // filter on the slim index, then join keys against the data table —
      // the distributed version of "look up matching keys, fetch objects"
      val keys = params.copy(properties = Nil, sort = Nil, limit = None, skip = 0)(index.df)
        .select(col(key))
      val fetched = data.df.join(keys, Seq(key), "left_semi")
      params.copy(criteria = None)(fetched)
    } else params(df)
  }

  /** The index doc of a batch: key + searchable fields + obj_hash
    * (`aws.py:468-473` hashes the serialized doc; here: sha1 of the JSON
    * rendering — deterministic and portable). */
  private def indexOf(docs: DataFrame): DataFrame = {
    val searchable = searchableFields.filter(docs.columns.contains)
    val cols = (Seq(key, lastUpdatedField) ++ searchable).distinct
      .filter(docs.columns.contains).map(col)
    docs.select(cols :+
      sha1(to_json(struct(docs.columns.sorted.map(col): _*)).cast("binary")).alias("obj_hash"): _*)
  }

  override def update(docs: DataFrame, keyFields: Seq[String] = Seq(key)): Unit = {
    // dedup the batch ONCE and materialize it; both planes then write
    // pure projections of the same cached blocks. The old shape ran the
    // full scan + last-wins shuffle per plane (the index plane's
    // obj_hash reads every column, so nothing was pruned) — twice the
    // batch work per update. The planes stay CONCURRENT Spark actions:
    // independent tables in independent roots, and the slim index write
    // is far shorter than the data write, so sequencing would add its
    // full latency. Await BOTH even on failure — returning while the
    // other plane's write is in flight would let callers observe a
    // half-applied update.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    if (data.isEmpty && index.isEmpty && Store.orderStable(docs)) {
      // FIRST BUILD over an ORDER-STABLE batch plan: each plane runs
      // dedup + write as ONE job — no checkpoint write/read on the
      // update path. The index plane dedups its own slim projection
      // (obj_hash is row-local, computed map-side BEFORE the shuffle, so
      // its shuffle carries ~4 columns + 20 hash bytes instead of the
      // full row). Winners agree across the planes ONLY because the
      // batch plan is a deterministic scan (Store.orderStable):
      // dedupLastWins keys on monotonically_increasing_id, so identical
      // files + partition planning → same ids in both evaluations. A
      // batch carrying a shuffle (repartition/aggregate) loses that
      // guarantee — duplicate keys could pick different winners per
      // plane, silently diverging data row vs index obj_hash — so such
      // batches take the dedup-once-and-share path below instead.
      val dataF = Future(data.update(docs, keyFields))
      val indexF = Future(index.update(indexOf(docs), keyFields))
      val results = Seq(dataF, indexF).map(f => scala.util.Try(Await.result(f, Duration.Inf)))
      results.collectFirst { case scala.util.Failure(e) => throw e }
    } else Materialize.scope {
      val deduped = Materialize.checkpoint(Store.dedupLastWins(docs, keyFields))
      val dataF = Future(data.updateUnique(deduped, keyFields))
      val indexF = Future(index.updateUnique(indexOf(deduped), keyFields))
      val results = Seq(dataF, indexF).map(f => scala.util.Try(Await.result(f, Duration.Inf)))
      results.collectFirst { case scala.util.Failure(e) => throw e }
    }
  }

  override def removeDocs(criteria: String): Unit = Materialize.scope {
    // orphan-safe: resolve doomed keys once, delete from both tables.
    // Materialized eagerly — the lazy plan would reference data-plane
    // files that the first delete garbage-collects.
    val doomed = Materialize.checkpoint(
      graft.query.MongoFilter(data.df, criteria).select(col(key)))
    data.removeKeys(doomed)
    index.removeKeys(doomed)
  }

  override def removeKeys(keys: DataFrame): Unit = {
    data.removeKeys(keys)
    index.removeKeys(keys)
  }

  /** Regenerate the index from the data plane (`aws.py:530-571`). */
  def rebuildIndex(): Unit =
    if (!data.isEmpty) index.update(indexOf(data.df), Seq(key))
}

package graft.builder

import graft.store.Store
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Train/update a PERSISTED hashed-ngram quality classifier — the
  * train-once/score-batches split of [[graft.ext.QualityClassifier]], on
  * the shared incremental count-merge skeleton ([[CountModelBuilder]]):
  * here the model is the bounded bucket table, ≤ buckets+1 rows.
  *
  * The model lives in `model` as one row per hash bucket:
  * `(bucket, c0, c1, <lastUpdatedField>)` — per-class feature counts,
  * bucket −1 carrying the per-class DOC counts (the prior). Because
  * NB counts merge ADDITIVELY, a labeled-feedback batch (fresh human
  * labels, a new crawl slice) folds into the persisted model without
  * retraining — the property that makes a count-based linear
  * classifier the right quality-filter shape at 100 TB.
  *
  * Scoring against the persisted counts is
  * [[graft.ext.QualityClassifier.score]] over `model.df` — the
  * broadcast-by-construction join (the model is bucket-bounded).
  *
  * With `docs` (contributions layout `(id, bucket, tf, lbl, lu)` keyed on
  * `id`) the model is fully updatable (see [[CountModelBuilder]]). A
  * bucket zeroed on BOTH classes leaves the store: a `(0,0)` row and an
  * absent row score identically through the missing-bucket weight, but
  * the store must converge to the from-scratch train. Label flips repair
  * naturally: the old counts leave the OLD class's column, the new ones
  * enter the new. Every doc has a contribution row (the bucket −1 doc
  * marker rides [[graft.ext.QualityClassifier.features]] even for
  * zero-token docs), so no sentinel is needed. Leave `docs` unset for
  * the cheap watermark-only insert-only behavior. */
class QualityClfBuilder(
    val source: Store,
    val model: Store,
    val textField: String,
    val labelField: String,
    val buckets: Int = 1024,
    val family: String = "md5",
    val seed: Int = 0,
    val criteria: Option[String] = None,
    val docs: Option[Store] = None)
  extends CountModelBuilder {

  protected val key = "bucket"
  protected val counts = Seq("c0", "c1")

  /** `(id, bucket, tf, lbl, lu)` contribution rows of a batch — the
    * hashed feature counts each doc feeds [[graft.ext.QualityClassifier
    * .train]], labeled and lu-stamped, in ONE projection over the
    * [[graft.functions.ClfBucketTf]] explode (no id join back to the
    * batch). */
  protected def contribOf(batch: DataFrame): DataFrame =
    batch.select(col(source.key).alias("id"),
        col(labelField).cast("int").alias("lbl"),
        Contributions.lu(source, batch).alias("lu"),
        explode(graft.functions.GraftFunctions.clfBucketTf(batch.sparkSession,
          graft.ext.TextAnalysis.normTokens(col(textField)),
          buckets, family, seed)).alias("__bt"))
      .select(col("id"), col("__bt").getField("bucket").alias("bucket"),
        col("__bt").getField("tf").cast("long").alias("tf"),
        col("lbl"), col("lu"))

  /** Per-class sums in the model layout — the exact
    * [[graft.ext.QualityClassifier.train]] accounting (marker rows at
    * bucket −1 carry the per-class doc counts). */
  protected def sums(contribs: DataFrame): DataFrame =
    contribs.groupBy(col("bucket"))
      .agg(sum(when(col("lbl") === 0, col("tf").cast("long")).otherwise(0L)).alias("c0"),
        sum(when(col("lbl") === 1, col("tf").cast("long")).otherwise(0L)).alias("c1"))

  /** Score docs against the PERSISTED counts. */
  def score(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.ext.QualityClassifier.score(df, idCol, textCol,
      model.df.select(col("bucket"), col("c0").cast("long").alias("c0"),
        col("c1").cast("long").alias("c1")), buckets, family, seed)
}

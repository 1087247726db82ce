package graft.builder

import graft.store.Store
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Build-run report (role of the reference's ReportingHandler events,
  * `utils.py:221-263`). */
case class BuildReport(
    processed: Long = 0,
    failed: Long = 0,
    orphansDeleted: Long = 0,
    /** Docs re-indexed because their source `last_updated` was newer
      * than the indexed copy's (the update half of the reference delta
      * contract) — a subset of `processed`. */
    updated: Long = 0,
    /** Mean PQ quantization error of this run's batch under the frozen
      * codebooks ([[graft.builder.AnnIndexBuilder]] only). */
    adcError: Option[Double] = None,
    /** The stored mean error of the TRAINING batch — the drift baseline. */
    trainAdcError: Option[Double] = None) {
  def successful: Long = processed - failed
  /** Codebook-staleness signal: batch error relative to training error.
    * ≫ 1 means the corpus drifted from the quantizer's training
    * distribution — time for [[graft.builder.AnnIndexBuilder.rebuild]]. */
  def adcDrift: Option[Double] =
    for { a <- adcError; t <- trainAdcError if t > 0 } yield a / t
}

/** The 3-phase ETL contract of the reference (`core/builder.py:16-151`):
  * `get_items → process_item → update_targets`, re-expressed as a single
  * declarative Spark job `read-delta → transform → upsert`.
  *
  * The reference's chunking (`chunk_size`), prechunk domain decomposition,
  * backpressure and process pools (`cli/multiprocessing.py`,
  * `cli/distributed.py`) all disappear into Spark partitioning and task
  * scheduling — there is deliberately no analogue here (SURVEY §2.6).
  *
  * A run commits each store it writes at most once: removals (orphans,
  * stale rows) are found before the write and ride it
  * ([[Builder.orphanKeys]], [[Builder.commitOnce]]), so an orphan sweep
  * never pays a second O(store) version rewrite.
  */
trait Builder {
  /** The delta that would be processed (plan only — inspect/test hook). */
  def pendingItems(): DataFrame
  /** Execute: process the delta and upsert into the target(s). The run
    * is one [[Materialize.scope]]: everything [[build]] materializes is
    * freed when it returns or throws. */
  final def run(): BuildReport = Materialize.scope(build())
  /** One run's body (see [[run]]). */
  protected def build(): BuildReport
}

object Builder {
  /** [[Materialize.eager]] (the `spark.graft.materialize` policy). */
  def materialize[T](ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] =
    Materialize.eager(ds)

  /** The orphans of `target`: its `keyCol` values absent from `live` (a
    * one-column frame of live keys, any column name), materialized once
    * (counted, then written), with their count; None when there are none
    * or `target` was never written. Found BEFORE the run's write, so
    * [[commitOnce]] folds them into it; the run's scope frees them. */
  private[builder] def orphanKeys(target: Store, keyCol: String,
                                  live: DataFrame): Option[(DataFrame, Long)] = {
    val t = target.df
    if (!t.columns.contains(keyCol)) return None
    val orphans = Materialize.eager(t.select(col(keyCol))
      .join(live.select(col(live.columns.head).alias(keyCol)), Seq(keyCol), "left_anti"))
    val n = orphans.count()
    if (n > 0) Some((orphans, n)) else None
  }

  /** ONE commit of `target` for a run's batch and key removals:
    * `updateRemoveKeys` with both, `update` with no removals (a
    * delta-write ParquetStore keeps its O(batch) append), `removeKeys`
    * with no batch. A batch's keys are live, so they never overlap
    * orphan removals and the result equals the two-call sequence. */
  private[builder] def commitOnce(target: Store, batch: Option[DataFrame],
                                  removals: Option[DataFrame], keyFields: Seq[String]): Unit =
    (batch, removals) match {
      case (Some(b), Some(r)) => target.updateRemoveKeys(b, r, keyFields)
      case (Some(b), None)    => target.update(b, keyFields)
      case (None, Some(r))    => target.removeKeys(r)
      case (None, None)       =>
    }
}

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
  /** Execute: process the delta and upsert into the target(s). */
  def run(): BuildReport
}

object Builder {
  /** Policy-driven EAGER materialization for builder run paths —
    * `spark.graft.materialize` (session conf; Runner specs set it via
    * `"materialize"`):
    *  - `"local"` (default): `localCheckpoint(true)` — lineage truncated
    *    to executor-local blocks. Fastest, and exactly right at
    *    local[32] (one JVM: executor loss = driver loss anyway). On a
    *    real cluster an executor loss mid-build fails the job
    *    unrecoverably — hence the knob.
    *  - `"reliable"`: `checkpoint(true)` to the configured
    *    `sparkContext.setCheckpointDir` (Runner: `"checkpoint_dir"`) —
    *    lineage truncated to DURABLE files; executor loss recomputes
    *    from the checkpoint, and read-then-mutate builder phases stay
    *    correct because the materialized bytes can never be recomputed
    *    from a store the run has since mutated.
    *  - `"persist"`: MEMORY_AND_DISK persist + count, lineage KEPT —
    *    executor loss recomputes from the ORIGINAL inputs. Sound when
    *    sources are immutable for the run's duration; a recompute that
    *    re-reads a store this run already mutated can diverge (the
    *    builders' upserts are keyed and idempotent, so the documented
    *    recovery there is re-running the builder).
    * The returned frame tolerates `.unpersist()` in every mode
    * (checkpointed frames no-op). */
  def materialize[T](ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] = {
    val mode = scala.util.Try(
      ds.sparkSession.conf.get("spark.graft.materialize")).getOrElse("local")
    mode match {
      case "local" => ds.localCheckpoint(true)
      case "reliable" =>
        require(ds.sparkSession.sparkContext.getCheckpointDir.isDefined,
          "spark.graft.materialize=reliable requires a checkpoint dir " +
            "(sparkContext.setCheckpointDir / Runner spec \"checkpoint_dir\")")
        ds.checkpoint(true)
      case "persist" =>
        val p = ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count()
        p
      case other => throw new IllegalArgumentException(
        s"spark.graft.materialize must be local|reliable|persist, got '$other'")
    }
  }

  /** [[materialize]] as a postfix op — keeps builder call sites as
    * terse as the `localCheckpoint(true)` calls they replaced. */
  implicit class MaterializeOps[T](private val ds: org.apache.spark.sql.Dataset[T]) extends AnyVal {
    def materializeEager(): org.apache.spark.sql.Dataset[T] = Builder.materialize(ds)
  }

  /** Eagerly materialize `df`, spread to core count when the
    * materialized batch carries fewer partitions. The eager checkpoint
    * inherits the source scan's split count — a single-row-group
    * parquet source checkpoints as 2 partitions at test SFs — and the
    * CPU-bound per-doc kernels the builders run downstream (md5-family
    * minhash signatures, PQ encode) are then stuck on 2 of N local
    * cores (measured: the sf0.1 signature pass dropped 6.8 s → 0.75 s
    * after the spread). At corpus scale the scan already carries
    * ≥ defaultParallelism splits and the re-checkpoint never triggers. */
  def spreadCheckpoint(df: DataFrame): DataFrame = {
    val raw = materialize(df)
    val par = raw.sparkSession.sparkContext.defaultParallelism
    if (raw.rdd.getNumPartitions >= par) raw
    else {
      val spread = materialize(raw.repartition(par))
      raw.unpersist()
      spread
    }
  }

  /** The orphans of `target`: its `keyCol` values absent from `live` (a
    * one-column frame of live keys, any column name), materialized once
    * (counted, then written), with their count; None when there are none
    * or `target` was never written. Found BEFORE the run's write, so
    * [[commitOnce]] folds them into it; the caller unpersists them. */
  private[builder] def orphanKeys(target: Store, keyCol: String,
                                  live: DataFrame): Option[(DataFrame, Long)] = {
    val t = target.df
    if (!t.columns.contains(keyCol)) return None
    val orphans = t.select(col(keyCol))
      .join(live.select(col(live.columns.head).alias(keyCol)), Seq(keyCol), "left_anti")
      .materializeEager()
    val n = orphans.count()
    if (n > 0) Some((orphans, n)) else { orphans.unpersist(); None }
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

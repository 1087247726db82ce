package graft.builder

import graft.query.MongoFilter
import graft.store.Store
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The per-doc CONTRIBUTIONS half of the incremental count-model and
  * index builders: a store keyed on `id` whose rows carry the source lu
  * each doc was absorbed with (`lu`) — UnigramLm/QualityClf `docs`, the
  * Bm25 postings, the ANN codes. Together they realize the reference's
  * full `newer_in` delta (`core/store.py:239-275`): unseen ∪ lu-newer. */
private[builder] object Contributions {

  /** The source lu a batch row is absorbed with — a typed null long for
    * a lu-less source (a bare `lit(null)` is NullType and unwritable). */
  def lu(source: Store, batch: DataFrame): Column =
    if (batch.columns.contains(source.lastUpdatedField)) col(source.lastUpdatedField)
    else lit(null).cast("long")

  /** Ids whose source lu is newer than the max lu their contribution
    * was absorbed with — the update half of the delta contract. One
    * columnar (id, lu) aggregate of the contributions joined against the
    * scoped corpus's (key, lu); no driver-side key lists. None when the
    * lu discipline does not apply (a lu-less source or a legacy lu-less
    * store degrades to insert-only). */
  def changed(source: Store, scoped: DataFrame, contrib: DataFrame): Option[DataFrame] =
    if (!contrib.columns.contains("lu") ||
        !scoped.columns.contains(source.lastUpdatedField)) None
    else Some(contrib.groupBy(col("id")).agg(max(col("lu")).alias("__ilu"))
      .join(scoped.select(col(source.key).alias("id"),
        col(source.lastUpdatedField).alias("__slu")), Seq("id"))
      .filter(col("__slu") > col("__ilu"))
      .drop("__ilu", "__slu"))

  /** Docs pending a run: unseen (id left-anti) ∪ the semi-join of
    * [[changed]]. `pendingItems()` passes the plan, `run()` the
    * materialized frame it also counts and subtracts — one definition,
    * so the preview and the run cannot drift apart. */
  def pending(source: Store, scoped: DataFrame, contrib: DataFrame,
              changed: Option[DataFrame]): DataFrame = {
    val k = source.key
    val unseen = scoped.join(contrib.select(col("id").alias(k)), Seq(k), "left_anti")
    changed.fold(unseen)(ch => unseen.unionByName(
      scoped.join(ch.select(col("id").alias(k)), Seq(k), "left_semi")))
  }
}

/** The truth/cache store pair of an incremental builder — contributions
  * and the count model, postings and the BM25 stats row — is written in
  * two store updates that cannot be atomic across stores. A crash or
  * retry between them would leave the cache silently diverged FOREVER
  * (the id-based pending check never revisits absorbed docs), so the
  * builder recomputes the cache from the truth store at startup. That
  * recount is O(truth), so it runs only when the pair is possibly TORN:
  * a fully committed run [[stamp]]s both stores' content tokens into the
  * cache store's metadata ([[graft.store.Store.putMeta]] — a durable
  * sidecar on a ParquetStore, the CurateBuilder `__dep` discipline), and
  * the next run reconciles only when the current tokens no longer match
  * (previous process died mid-pair, a run threw between the two writes,
  * or a third party wrote either store). Stores with no cheap token
  * (`""`) never match — conservative always-reconcile. Tokens are
  * per-store-lineage, so wiping and re-creating a store's root under an
  * existing sidecar requires clearing the sidecar too. */
private[builder] final class CleanPair(truth: Store, cache: Store) {
  private def token: String = {
    val t = truth.contentToken; val c = cache.contentToken
    if (t.isEmpty || c.isEmpty) "" else s"$t|$c"
  }

  def clean: Boolean = {
    val t = token
    t.nonEmpty && cache.getMeta(CleanPair.Key).contains(t)
  }

  def stamp(): Unit = {
    val t = token
    if (t.nonEmpty) cache.putMeta(CleanPair.Key, t)
  }
}

private[builder] object CleanPair {
  val Key = "graft.cleanpair"
}

/** Train/update a PERSISTED count model — one row per `key` carrying the
  * `counts` columns and the lu of the batch that last touched it —
  * following the reference's incremental-build contract (process only
  * what's new, `core/store.py:239-275`). A subclass supplies only its key
  * column, its count columns, the per-doc contribution rows of a batch
  * ([[contribOf]]) and the per-key sums of contribution rows ([[sums]]);
  * batch counts are `sums(contribOf(batch))`.
  *
  *  - **newer_in discipline (S10)**: without `docs`, the watermark is the
  *    model store's own max lu; a run counts ONLY source docs strictly
  *    above it. A repeat run over an unchanged corpus reports 0 and
  *    writes nothing.
  *  - **count MERGE, not last-write-wins**: batch counts join the
  *    persisted counts key-keyed (both sides partition on the key — no
  *    broadcast assumption) and the summed rows upsert. Only TOUCHED
  *    keys are written: with a delta-write ParquetStore the model update
  *    is an O(batch) parquet append, never a model rewrite.
  *
  * '''lu-UPDATE contract''': the model is an AGGREGATE, so un-counting a
  * re-written doc needs its old per-key contribution. Pass `docs` (a
  * contributions store keyed on `id`, rows `(id, key, …, lu)`) and the
  * builder becomes fully updatable: [[run]] finds the lu-newer ids
  * ([[Contributions.changed]]), re-surfaces them as this run's batch, and
  * folds their OLD contributions into the same key-keyed merge as the
  * batch adds — `c = batch + persisted − dropped` per count column; keys
  * whose counts all reach ≤ 0 leave the model (from-scratch
  * convergence). Their stale contribution rows leave in the same
  * committed write that absorbs the batch's (one version rewrite per
  * store). Contributions are the source of truth, the model a per-key
  * cache of their sums, kept in step by the [[CleanPair]]-gated
  * reconcile. The contributions store is O(corpus distinct (doc, key)) —
  * the postings-shaped price of updatability.
  *
  * Report semantics: docs EXAMINED this run, matching the other
  * incremental builders; `updated` counts the lu-newer docs whose old
  * contribution was dropped. */
abstract class CountModelBuilder extends Builder {
  def source: Store
  /** The persisted count model. */
  def model: Store
  def criteria: Option[String]
  def docs: Option[Store]

  protected def key: String
  protected def counts: Seq[String]
  /** `(id, key, …, lu)` contribution rows of a batch; every examined doc
    * must yield at least one row so the pending check marks it absorbed. */
  protected def contribOf(batch: DataFrame): DataFrame
  /** `(key, counts…)` per-key long sums of contribution rows. */
  protected def sums(contribs: DataFrame): DataFrame

  /** Whether the last [[run]] paid the startup reconcile — test
    * observability for the clean-pair gating (no behavioral use). */
  private[graft] var lastRunReconciled: Boolean = false

  protected def scoped: DataFrame =
    criteria.map(c => MongoFilter(source.df, c)).getOrElse(source.df)

  /** Untrained/unwritten = no rows yet (schema-on-write stores read as
    * zero-column frames before the first write). */
  private def storeEmpty(s: Store): Boolean = {
    val df = s.df
    df.columns.isEmpty || !df.columns.contains(key) || df.isEmpty
  }

  /** Max source-lu the model has absorbed — type-agnostic (stores key
    * their lu on timestamps, longs or string ids across the suite), so
    * the raw scalar feeds a `>` filter instead of Store.lastUpdated's
    * Timestamp cast. One-row agg: bounded by contract. */
  private def watermark: Option[Any] = {
    val df = model.df
    if (storeEmpty(model) || !df.columns.contains(model.lastUpdatedField)) None
    else df.agg(max(col(model.lastUpdatedField))).collect().headOption
      .flatMap(r => Option(r.get(0)))
  }

  private def pendingOf(dEmpty: Option[Boolean],
                        changed: Store => Option[DataFrame]): DataFrame = docs match {
    case Some(d) if dEmpty.contains(false) =>
      Contributions.pending(source, scoped, d.df, changed(d))
    case Some(_) => scoped
    case None => watermark match {
      case Some(wm) => scoped.filter(col(source.lastUpdatedField) > lit(wm))
      case None     => scoped
    }
  }

  /** Docs pending this run: with a contributions store, unseen ∪ lu-newer
    * ([[Contributions.pending]]); without one, docs newer than the model
    * watermark (all on the first run). */
  def pendingItems(): DataFrame =
    pendingOf(docs.map(storeEmpty), d => Contributions.changed(source, scoped, d.df))

  private def positive: Column = counts.map(c => col(c) > 0).reduce(_ || _)

  /** Rewrite the model rows that disagree with the contributions' sums. */
  private def reconcile(d: Store): Unit = {
    if (storeEmpty(d)) return
    val lu = model.lastUpdatedField
    val truth = sums(d.df).filter(positive)
    val luLit = () => lit(d.df.agg(max(col("lu"))).collect().head.get(0))
    if (storeEmpty(model)) {
      if (!truth.isEmpty) model.update(truth.withColumn(lu, luLit()), Seq(key))
      return
    }
    val c0 = counts.head
    // isEmpty + two consumers on one diff slice
    val joined = Materialize.eager(truth.join(model.df.select(col(key) +:
          counts.map(c => col(c).cast("long").alias(s"__p_$c")) :+ col(lu).alias("__lu"): _*),
        Seq(key), "full_outer")
      .filter(col(c0).isNull || col(s"__p_$c0").isNull ||
        counts.map(c => col(c) =!= col(s"__p_$c")).reduce(_ || _)))
    if (!joined.isEmpty) {
      model.update(joined.filter(col(c0).isNotNull).select(col(key) +:
          counts.map(col) :+ coalesce(col("__lu"), luLit()).alias(lu): _*), Seq(key))
      val gone = joined.filter(col(c0).isNull).select(col(key))
      if (!gone.isEmpty) model.removeKeys(gone)
    }
  }

  /** The keyed additive merge: `c = batch + persisted − dropped` per
    * count column (associative; dropped ≤ persisted by the pair
    * invariant). Touched-by-batch keys take this batch's lu;
    * decrement-only keys keep their stored lu. */
  private def merged(batchCounts: DataFrame, dropped: Option[DataFrame],
                     mEmpty: Boolean, luCol: Column): DataFrame = {
    val joined = if (mEmpty) batchCounts else dropped
      .fold(batchCounts)(batchCounts.join(_, Seq(key), "full_outer"))
      .join(model.df.select(col(key) +:
        counts.map(c => col(c).cast("long").alias(s"__o_$c")) :+
        col(model.lastUpdatedField).alias("__mlu"): _*), Seq(key), "left_outer")
    def term(p: String, c: String) = coalesce(col(p + c), lit(0L))
    def total(c: String) = {
      val add = if (mEmpty) term("__b_", c) else term("__b_", c) + term("__o_", c)
      if (joined.columns.contains(s"__s_$c")) add - term("__s_", c) else add
    }
    val lu =
      if (mEmpty || dropped.isEmpty) luCol
      else when(col(s"__b_${counts.head}").isNotNull, luCol).otherwise(col("__mlu"))
    joined.select(col(key) +: counts.map(c => total(c).alias(c)) :+
      lu.alias(model.lastUpdatedField): _*)
  }

  private def prefixed(df: DataFrame, p: String): DataFrame =
    counts.foldLeft(df)((d, c) => d.withColumnRenamed(c, p + c))

  protected def build(): BuildReport = {
    // store-emptiness probes are limit-1 jobs on a durable store — run
    // each ONCE per build, not once per consumer
    val dEmpty: Option[Boolean] = docs.map(storeEmpty)
    val mEmpty0 = storeEmpty(model)
    // a contributions store attached to an already-populated model has
    // no per-doc history to subtract from — silently re-adding every doc
    // would double-count; refuse instead
    if (dEmpty.contains(true) && !mEmpty0) throw new IllegalArgumentException(
      s"${getClass.getSimpleName}: `docs` contributions store is empty but " +
        "the model is populated — the per-doc history needed for updates " +
        "does not exist; rebuild from scratch or run without `docs`")
    // repair a possibly-torn model/contributions pair BEFORE computing
    // pending items — skipped when the clean-pair marker still matches;
    // a throw anywhere below leaves the marker un-stamped, so the NEXT
    // run reconciles. The bare watermark mode has one write per run and
    // never reconciles
    val pair = docs.map(new CleanPair(_, model))
    lastRunReconciled = pair.exists(!_.clean)
    if (lastRunReconciled) docs.foreach(reconcile)
    // the reconcile can populate an empty model from the contributions —
    // re-probe only on that (rare) path
    val mEmpty = if (lastRunReconciled) storeEmpty(model) else mEmpty0
    // lu-newer ids, materialized: counted, subtracted, re-surfaced as
    // pending and removed from the contributions in the fused write
    val changed = docs.filter(_ => dEmpty.contains(false))
      .flatMap(d => Contributions.changed(source, scoped, d.df))
      .map(Materialize.eager(_))
    val updated = changed.map(_.count()).getOrElse(0L)
    val subSlice = changed.filter(_ => updated > 0)
    // spread: the tokenize kernels are CPU-dense per doc and must not
    // inherit a 2-split scan (Materialize.spread)
    val batch = Materialize.spread(pendingOf(dEmpty, _ => subSlice))
    // ONE header agg: batch size + the new watermark (= max lu of
    // THIS batch, strictly monotone per the newer_in filter; stamped
    // on every touched row, so the model's max-lu always names the
    // latest absorbed batch)
    val hdr = batch.agg(count(lit(1)).alias("__n"),
      max(Contributions.lu(source, batch)).alias("__lu")).head()
    val examined = hdr.getLong(0)
    if (examined == 0) {
      pair.foreach(_.stamp()) // the reconcile (if any) committed; record it
      return BuildReport(0, updated = updated)
    }
    val batchLu = hdr.get(1)
    // typed null when the batch carries no lu (see Contributions.lu)
    val luCol = if (batchLu == null) lit(null).cast("long") else lit(batchLu)
    val dropped = subSlice.map(ch =>
      prefixed(sums(docs.get.df.join(ch, Seq("id"), "left_semi")), "__s_"))
    val next = merged(prefixed(sums(contribOf(batch)), "__b_"), dropped,
      mEmpty, luCol)
    // contributions land FIRST (the source of truth the reconcile
    // recomputes from), the model cache second; the clean-pair marker
    // is stamped ONLY after both committed — a tear anywhere leaves
    // it stale and the next run repairs
    subSlice match {
      case None =>
        docs.foreach(d => d.update(contribOf(batch), Seq("id", key)))
        model.update(next, Seq(key))
      case Some(ch) =>
        val m = Materialize.eager(next) // ups/gone/isEmpty, one slice
        val ups = m.filter(positive)
        val gone = m.filter(!positive).select(col(key))
        // the changed docs' stale contribution rows leave in the
        // SAME committed write that absorbs the batch's
        docs.foreach(d => d.updateRemoveKeys(contribOf(batch), ch, Seq("id", key)))
        // keys whose counts all reached zero LEAVE the model in the
        // same write (from-scratch convergence)
        if (gone.isEmpty) model.update(ups, Seq(key))
        else model.updateRemoveKeys(ups, gone, Seq(key))
    }
    pair.foreach(_.stamp())
    BuildReport(examined, updated = updated)
  }
}

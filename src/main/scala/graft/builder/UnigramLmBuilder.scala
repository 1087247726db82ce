package graft.builder

import graft.store.Store
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Train/update a PERSISTED unigram language model — the train-once/
  * score-batches split of [[graft.ext.TextAnalysis.unigramLogProb]], on
  * the shared incremental count-merge skeleton ([[CountModelBuilder]]).
  *
  * The vocabulary lives in `vocab` as one row per token:
  * `(tok, c, <lastUpdatedField>)` with `c` the corpus count. At 100 TB
  * the vocabulary is a training ARTIFACT, not a per-query subplan —
  * [[graft.ext.TextAnalysis.unigramLogProb]] rebuilds it on every call,
  * which is right for ad-hoc analysis and wrong for a quality-filter
  * pass that scores every new crawl batch under a frozen-ish
  * distribution. A 100 TB-corpus vocabulary is billions of rows, so the
  * token-keyed merge assumes no broadcast, and a vocab update with a
  * delta-write ParquetStore is an O(batch-vocabulary) parquet append
  * (pinned in RunnerStreamingSpec).
  *
  * Scoring against the persisted counts is
  * [[graft.ext.TextAnalysis.scoreWithVocab]] — a token-keyed join, same
  * no-broadcast shape. Both sides ride the compiled
  * [[graft.functions.TermCounts]] kernel, so exchanges carry one row per
  * (doc, distinct term), not one row per token.
  *
  * With `docs` (contributions layout `(id, tok, cnt, lu)` keyed on `id`)
  * the vocabulary is fully updatable (see [[CountModelBuilder]]).
  * Zero-token docs write one SENTINEL row (`tok = ""`, cnt 0 —
  * [[graft.ext.TextAnalysis.normTokens]] never emits the empty token) so
  * the pending check cannot re-examine them forever (the
  * [[Bm25IndexBuilder]] sentinel); [[sums]] skips it. Leave `docs` unset
  * for the cheap watermark-only insert-only behavior. */
class UnigramLmBuilder(
    val source: Store,
    val vocab: Store,
    val textField: String,
    val criteria: Option[String] = None,
    val docs: Option[Store] = None)
  extends CountModelBuilder {

  def model: Store = vocab
  protected val key = "tok"
  protected val counts = Seq("c")

  /** `(id, tok, cnt, lu)` contribution rows of a batch — explode_outer
    * emits the zero-token sentinel (`tok ""`, cnt 0) so every examined
    * doc is marked absorbed. */
  protected def contribOf(batch: DataFrame): DataFrame =
    batch.select(col(source.key).alias("id"),
        Contributions.lu(source, batch).alias("lu"),
        explode_outer(graft.functions.GraftFunctions.termCounts(
          batch.sparkSession,
          graft.ext.TextAnalysis.normTokens(col(textField)))).alias("__tc"))
      .select(col("id"), coalesce(col("__tc.term"), lit("")).alias("tok"),
        coalesce(col("__tc.cnt").cast("long"), lit(0L)).alias("cnt"),
        col("lu"))

  protected def sums(contribs: DataFrame): DataFrame =
    contribs.filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(sum(col("cnt").cast("long")).alias("c"))
}

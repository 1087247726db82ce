package graft.builder

import graft.query.MongoFilter
import graft.store.Store
import org.apache.spark.sql.DataFrame

/** Train a BPE tokenizer over a corpus store and persist the ordered
  * merge list — the build step that produces the artifact
  * [[graft.api.TokenizeResource]] (and any
  * [[graft.ext.Bpe.bpeTokenCounts]] scoring job) serves from. Wired
  * into pipeline specs as the `bpe_train` Runner type.
  *
  * The tokenizer is a TRAIN-ONCE artifact, not an incremental one: BPE
  * merges are order-dependent global statistics, so unlike the count
  * planes (UnigramLmBuilder, QualityClfBuilder) they cannot merge
  * per-batch — retraining is a full rebuild by design (the industry
  * norm: tokenizers are versioned, not patched). A run over a store
  * whose merges already exist SKIPS (report 0) unless `force`;
  * training cost is bounded by the batched-round contract
  * ([[graft.ext.Bpe.trainBatched]]: `ceil(numMerges/batchSize)`
  * bounded driver rounds over the word HISTOGRAM, never the corpus). */
class BpeTrainBuilder(
    val source: Store,
    val merges: Store,
    val textField: String,
    val numMerges: Int = 1024,
    val batchSize: Int = 64,
    val force: Boolean = false,
    val criteria: Option[String] = None)
  extends Builder {

  private def scoped: DataFrame =
    criteria.map(c => MongoFilter(source.df, c)).getOrElse(source.df)

  private def trained: Boolean = {
    val df = merges.df
    df.columns.contains("rank") && !df.isEmpty
  }

  def pendingItems(): DataFrame =
    if (trained && !force) scoped.limit(0) else scoped

  /** Report = number of merges learned (0 on skip). */
  protected def build(): BuildReport = {
    if (trained && !force) return BuildReport(0)
    val learned = graft.ext.Bpe.trainBatched(scoped, textField,
      numMerges, batchSize)
    graft.ext.Bpe.saveMerges(merges, learned)
    BuildReport(learned.size)
  }
}

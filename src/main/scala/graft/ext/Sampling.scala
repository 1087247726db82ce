package graft.ext

import graft.builder.Materialize
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling / mixture operators for training-data curation
  * (north-star extensions): reproducible train/eval splits, per-stratum
  * quotas, and token-budget packing. Everything is keyed on seeded
  * hashes, never `rand()` — the same corpus and seed always yield the
  * same sample, on any cluster, in any engine (the md5 family replays
  * byte-identically in the DuckDB oracle).
  */
object Sampling {

  /** Deterministic Bernoulli sample: keep a row iff
    * `seededHash(key) mod buckets < rate * buckets`. A pure, pushdown-
    * friendly filter — no shuffle, no state, stable under re-runs and
    * incremental appends (a doc's fate never changes as the corpus
    * grows). The complement (`hashSampleComplement`) is the disjoint
    * holdout split. */
  def hashSample(df: DataFrame, keyCol: String, rate: Double,
                 buckets: Int = 10000, family: String = "xxh64",
                 seed: Int = 0): DataFrame = {
    require(rate >= 0 && rate <= 1, s"rate must be in [0,1], got $rate")
    val h = Dedup.seededHash(family, seed, col(keyCol).cast("string"))
    df.filter(pmod(h, lit(buckets.toLong)) < math.round(rate * buckets))
  }

  def hashSampleComplement(df: DataFrame, keyCol: String, rate: Double,
                           buckets: Int = 10000, family: String = "xxh64",
                           seed: Int = 0): DataFrame = {
    require(rate >= 0 && rate <= 1, s"rate must be in [0,1], got $rate")
    val h = Dedup.seededHash(family, seed, col(keyCol).cast("string"))
    df.filter(pmod(h, lit(buckets.toLong)) >= math.round(rate * buckets))
  }

  /** Exact per-stratum quota (stratified sample / mixture balancing):
    * the first `perStratum` rows of each stratum in deterministic
    * hash-of-key order. One shuffle on the strata columns; each
    * stratum sorts independently, so parallelism = number of strata
    * (fine for language/source mixes; for very few huge strata pre-split
    * the stratum or raise `spark.sql.shuffle.partitions`). */
  def stratified(df: DataFrame, strata: Seq[String], keyCol: String,
                 perStratum: Int, family: String = "xxh64",
                 seed: Int = 0): DataFrame = {
    val h = Dedup.seededHash(family, seed, col(keyCol).cast("string"))
    val w = Window.partitionBy(strata.map(col): _*)
      .orderBy(h.asc, col(keyCol).asc)
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= perStratum).drop("__rk")
  }

  /** Token-budget packing: order rows by `orderCol` (must be unique —
    * determinism) and keep the maximal prefix whose cumulative
    * `tokensCol` stays ≤ `budget` — "fill the training mix to N tokens".
    *
    * Scale shape: the naive `sum() OVER (ORDER BY …)` global window
    * collapses onto ONE partition. Here the prefix sum is distributed:
    * range-partition + sort by the order key (one shuffle), per-partition
    * partial sums (second pass over the persisted shuffle output reduced
    * to ONE row per partition), driver-side prefix of those partials
    * (numPartitions values — O(1) driver memory), then a single
    * streaming pass per partition adds its offset and cuts at the
    * budget. The result is partitioning-independent: it equals the
    * global-order prefix by construction. `mapPartitions` is justified
    * here (build-spec preference (d)): a running scalar carried across
    * rows of a sorted partition has no window-free declarative spelling
    * that avoids the single-partition collapse. */
  /** Shared distributed-prefix-sum skeleton for [[tokenBudgetPack]] and
    * [[packSequences]]: range-partition + sort by `orderCol` (one
    * shuffle), per-partition token partials reduced to ONE row each,
    * exclusive prefix offsets over those partials (O(partitions) driver
    * memory, broadcast back; both owned by the caller's scope). Null
    * token counts coalesce to 0 so the partials and the primitive
    * `getLong` walk agree. Exclusive offsets
    * are keyed by partition id in range order (even AQE-coalesced range
    * partitions stay ordered by construction); iteration runs to the max
    * OBSERVED pid in case AQE coalesced below `numPartitions`. */
  private def prefixOffsets(df: DataFrame, orderCol: String, tokensCol: String,
                            numPartitions: Int)
      : (DataFrame, org.apache.spark.broadcast.Broadcast[Map[Int, Long]], Int) = {
    val spark = df.sparkSession
    val np = if (numPartitions > 0) numPartitions
             else spark.sessionState.conf.numShufflePartitions
    val ordered = Materialize.cache(
      df.withColumn(tokensCol, coalesce(col(tokensCol).cast("long"), lit(0L)))
        .repartitionByRange(np, col(orderCol).asc)
        .sortWithinPartitions(col(orderCol).asc))
    val partials = ordered
      .select(spark_partition_id().alias("__pid"), col(tokensCol).alias("__t"))
      .groupBy("__pid").agg(sum(col("__t")).alias("__s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets: Map[Int, Long] = {
      var acc = 0L
      (0 to partials.keys.foldLeft(-1)(math.max)).map { p =>
        val o = p -> acc; acc += partials.getOrElse(p, 0L); o
      }.toMap
    }
    (ordered, Materialize.broadcast(spark, offsets),
      ordered.schema.fieldIndex(tokensCol))
  }

  def tokenBudgetPack(df: DataFrame, orderCol: String, tokensCol: String,
                      budget: Long, numPartitions: Int = 0): DataFrame = {
    val (ordered, bc, tokIdx) = prefixOffsets(df, orderCol, tokensCol, numPartitions)
    ordered.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var acc = bc.value.getOrElse(pid, 0L)
      it.filter { row =>
        acc += row.getLong(tokIdx)
        acc <= budget
      }
    }(org.apache.spark.sql.Encoders.row(ordered.schema))
  }

  /** Sequence packing for training batches: concatenate docs in
    * `orderCol` order and chunk the token stream into fixed `seqLen`
    * windows. Each row gets `pack_id` (which sequence its FIRST token
    * lands in: `floor(exclusive_prefix / seqLen)`) and `pack_offset`
    * (position within that sequence) — the "concat then chunk" packing
    * of GPT-style pipelines; a doc whose tokens straddle a boundary
    * continues into the next pack, exactly like the flattened stream.
    *
    * Same distributed prefix-sum skeleton as [[tokenBudgetPack]] (the
    * naive `sum() OVER (ORDER BY …)` collapses to one partition): one
    * range shuffle, per-partition partials, O(partitions) driver prefix,
    * then the per-row ids are a streaming pass — no window anywhere. */
  def packSequences(df: DataFrame, orderCol: String, tokensCol: String,
                    seqLen: Long, numPartitions: Int = 0): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val (ordered, bc, tokIdx) = prefixOffsets(df, orderCol, tokensCol, numPartitions)
    val outSchema = ordered.schema
      .add("pack_id", org.apache.spark.sql.types.LongType, nullable = false)
      .add("pack_offset", org.apache.spark.sql.types.LongType, nullable = false)
    ordered.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var acc = bc.value.getOrElse(pid, 0L)
      it.map { row =>
        val start = acc
        acc += row.getLong(tokIdx)
        Row.fromSeq(row.toSeq :+ (start / seqLen) :+ (start % seqLen))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Materialize packed training sequences: group [[packSequences]]
    * output by `pack_id` and concatenate each pack's texts in
    * `orderCol` order — the final "concat docs into fixed-length
    * sequences" step of a GPT-style data loader. One hash-agg shuffle
    * on the pack id; per-pack state is bounded by seqLen's doc count.
    * Returns `(pack_id, n_docs, text)`. */
  def materializePacks(packed: DataFrame, orderCol: String, textCol: String,
                       sep: String = "\n\n"): DataFrame =
    packed.groupBy(col("pack_id"))
      .agg(
        count(lit(1)).alias("n_docs"),
        array_join(transform(
          array_sort(collect_list(struct(col(orderCol), col(textCol)))),
          x => x.getField(textCol)), sep).alias(textCol))

  /** Per-stratum weighted mixture: deterministic hash sampling with a
    * different rate per stratum value (the "20% code, 50% web, 100%
    * books" training-mix dial). Same stable-membership contract as
    * [[hashSample]] — a doc's fate depends only on (key, seed, its
    * stratum's rate), never on corpus size — and the whole thing is ONE
    * pushdown-friendly filter: the rate lookup inlines as a literal
    * CASE chain (mix tables are small by definition), so no join, no
    * shuffle, no state. */
  def weightedMix(df: DataFrame, stratumCol: String, keyCol: String,
                  rates: Map[String, Double], defaultRate: Double = 0.0,
                  buckets: Int = 10000, family: String = "xxh64",
                  seed: Int = 0): DataFrame = {
    (defaultRate +: rates.values.toSeq).foreach(r =>
      require(r >= 0 && r <= 1, s"rates must be in [0,1], got $r"))
    val h = Dedup.seededHash(family, seed, col(keyCol).cast("string"))
    val cut = rates.foldLeft(lit(math.round(defaultRate * buckets))) {
      case (acc, (v, r)) =>
        when(col(stratumCol) === v, lit(math.round(r * buckets))).otherwise(acc)
    }
    df.filter(pmod(h, lit(buckets.toLong)) < cut)
  }
}

package graft.ext

import graft.builder.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bounded-round byte-pair-encoding tokenizer, trained IN-ENGINE — the
  * subword replacement for the regex token counts every packing/budget
  * operator rode until now ([[TextAnalysis.tokenCount]]).
  *
  * ==Scale shape==
  * Training never touches the corpus per round. One corpus-scale pass
  * builds the WORD HISTOGRAM `(word, cnt)` (token-keyed hash agg — the
  * classic BPE-over-histogram reduction: all further work is
  * vocabulary-sized, not corpus-sized). Each merge round is then one
  * small distributed job over the histogram: explode adjacent symbol
  * pairs, weight by `cnt`, hash-aggregate, and collect exactly ONE row
  * (the top pair — bounded by contract). The merge applies as a string
  * `replace` projection; no round ever shuffles the corpus.
  *
  * ==Determinism / replayability==
  * Symbols are plain strings; a word's symbol sequence is kept as ONE
  * string with double-space separators (`"  a  bc  "`), so applying a
  * merge is `replace(s, " a  b ", " ab ")` — left-to-right,
  * non-overlapping, exactly the greedy BPE pass, and exactly what an
  * external SQL engine's `replace` does. Top-pair selection orders by
  * (count DESC, a ASC, b ASC) — total and collation-free on the
  * `[a-z0-9]` symbol alphabet — so the merge SEQUENCE (not just each
  * round) replays byte-for-byte in DuckDB as unrolled CTEs.
  *
  * Merged symbols compare by VALUE (standard BPE: `("a","bc")` and
  * `("ab","c")` both yield `"abc"` and thereafter count as the same
  * symbol).
  *
  * ==Serving==
  * Encoding needs no per-row state: the ordered merge list compiles
  * into a chain of `replace` expressions (codegen'd, broadcast-free —
  * the merges live in the PLAN, ≤ numMerges of them by contract).
  * [[bpeTokenCounts]] applies it to DISTINCT words only, then joins
  * counts back token-keyed — the unigram-plane discipline. */
object Bpe {

  /** One learned merge: adjacent symbols `a`,`b` → `a+b`. */
  final case class Merge(a: String, b: String) { def merged: String = a + b }

  /** The double-space symbol-string spelling of a raw word:
    * `"ab"` → `"  a  b  "`. The regexp spelling is shared verbatim with
    * the DuckDB replay (`regexp_replace(word, '(.)', ' \1 ', 'g')`). */
  private[graft] def initialSymbols(word: Column): Column =
    concat(lit(" "), regexp_replace(word, "(.)", " $1 "), lit(" "))

  /** Apply an ordered merge list to a symbol string — the chained
    * `replace` encode expression. */
  private[graft] def applyMerges(s: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(s) { (acc, m) =>
      replace(acc, lit(s" ${m.a}  ${m.b} "), lit(s" ${m.merged} "))
    }

  /** Symbol count of a word under `merges` — the chained-`replace`
    * REFERENCE spelling (plan depth grows with the merge list; the
    * compiled twin [[bpeCountCompiled]] is the production path, pinned
    * equivalent in ExtQualitySpec). */
  def bpeCount(word: Column, merges: Seq[Merge]): Column =
    size(filter(split(applyMerges(initialSymbols(word), merges), "  "),
      x => x =!= ""))

  /** The merge list as the [[graft.functions.BpeTable]] wire string. */
  def mergesSpec(merges: Seq[Merge]): String =
    graft.functions.BpeTable.spec(merges.map(m => (m.a, m.b)))

  /** Symbol count via the compiled kernel
    * ([[graft.functions.BpeCount]]): ONE plan object holds the merge
    * table, so plan depth is flat at any vocab size — the 30k-merge
    * production path the replace chain can't reach (codegen's 64 KB
    * method limit). */
  def bpeCountCompiled(spark: org.apache.spark.sql.SparkSession,
                       word: Column, merges: Seq[Merge]): Column =
    graft.functions.GraftFunctions.bpeCount(spark, word, mergesSpec(merges))

  /** BPE symbol sequence via the compiled kernel (serving-side
    * encode). */
  def bpeEncodeCompiled(spark: org.apache.spark.sql.SparkSession,
                        word: Column, merges: Seq[Merge]): Column =
    graft.functions.GraftFunctions.bpeEncode(spark, word, mergesSpec(merges))

  private def histogram(df: DataFrame, textCol: String): DataFrame = {
    val spark = df.sparkSession
    df.select(explode(graft.functions.GraftFunctions.termCounts(
        spark, TextAnalysis.normTokens(col(textCol)))).alias("__tc"))
      .select(col("__tc.term").alias("word"),
        col("__tc.cnt").cast("long").alias("cnt"))
      .groupBy(col("word")).agg(sum(col("cnt")).alias("cnt"))
  }

  /** Train `numMerges` merges from a corpus column: histogram pass then
    * [[trainFromHistogram]] (ONE merge per driver round — the reference
    * sequential algorithm; use [[trainBatched]] for real vocab
    * sizes). */
  def train(df: DataFrame, textCol: String, numMerges: Int): Seq[Merge] =
    trainFromHistogram(histogram(df, textCol), numMerges)

  /** Train `numMerges` merges in `ceil(numMerges / batchSize)` rounds —
    * the scale path: a 30k-merge production vocabulary takes ~300
    * bounded driver jobs, not 30k.
    *
    * Each round takes the TOP `batchSize` pairs of the current
    * histogram in one distributed job (ordered by count DESC, a ASC,
    * b ASC — the same total order as sequential training) and applies
    * them IN RANK ORDER as one bounded replace chain. Within a round,
    * lower-ranked merges apply to the residue the higher-ranked ones
    * leave behind — pair counts are only recomputed BETWEEN rounds.
    * That is the standard histogram-batched BPE approximation: the
    * merge list can differ from single-merge training (a consumed pair
    * may merge a round later than exact recounting would place it), but
    * the algorithm is fully deterministic and replays round-for-round
    * in plain SQL (the `text_bpe_tokens` oracle unrolls it), and every
    * learned merge was a top-`batchSize` pair by true count at its
    * round boundary. */
  def trainBatched(df: DataFrame, textCol: String, numMerges: Int,
                   batchSize: Int = 64): Seq[Merge] =
    trainBatchedFromHistogram(histogram(df, textCol), numMerges, batchSize)

  /** [[trainBatched]] from a prebuilt `(word, cnt)` histogram.
    *
    * Round shape: the histogram materializes ONCE; every round is a
    * single distributed job that RE-ENCODES the vocabulary from
    * scratch through the compiled kernel under the merges learned so
    * far ([[graft.functions.BpeEncode]] — per-word cost bounded by the
    * candidate index, so a re-encode is cheaper than maintaining
    * incremental state), then pair-counts the symbol sequences. No
    * per-round checkpoint, no growing replace chain, and the round
    * plan's GENERATED CODE is identical every round (the merge table
    * is a plan reference object), so Janino compiles it once — the
    * previous incremental-replace spelling paid a fresh
    * whole-stage-codegen compile plus a vocab materialization per
    * round (measured 10-14 s for 16 rounds at sf0.1; this shape runs
    * the same rounds in ~2 s). */
  def trainBatchedFromHistogram(hist0: DataFrame, numMerges: Int,
                                batchSize: Int = 64): Seq[Merge] = Materialize.scope {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val spark = hist0.sparkSession
    // the histogram is VOCABULARY-sized by construction — run the
    // per-round jobs on a handful of fat partitions instead of
    // inheriting the corpus aggregation's task count (16 rounds ×
    // 32 near-empty tasks × 2 stages is pure scheduler floor)
    val hist = Materialize.checkpoint(
      hist0.select(col("word"), col("cnt").cast("long").alias("cnt"))
        .coalesce(math.max(2, spark.sparkContext.defaultParallelism / 4)))
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var exhausted = false
    while (merges.size < numMerges && !exhausted) {
      // the LAST round shrinks to the remainder, so the merge COUNT
      // contract is exact (and the oracle's per-round LIMITs replay it)
      val k = math.min(batchSize, numMerges - merges.size)
      // adjacent pairs via posexplode + element_at — ALL codegen'd.
      // The transform(sequence(...)) HOF spelling the sequential
      // trainer keeps is a CodegenFallback: interpreted per row, it
      // was 3× the whole round's cost at sf1 (measured 1.5 s → 0.5 s
      // per round)
      val top = hist
        .select(col("cnt"), graft.functions.GraftFunctions.bpeEncode(
          spark, col("word"), mergesSpec(merges.toSeq)).alias("f"))
        .filter(size(col("f")) >= 2)
        .select(col("cnt"), col("f"), posexplode(col("f")))
        .filter(col("pos") < size(col("f")) - 1)
        .select(col("cnt"), col("col").alias("a"),
          element_at(col("f"), col("pos") + 2).alias("b"))
        .groupBy(col("a"), col("b"))
        .agg(sum(col("cnt")).alias("n"))
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(k).collect() // ≤ batchSize rows by construction
      if (top.isEmpty) exhausted = true
      else merges ++= top.map(r => Merge(r.getString(0), r.getString(1)))
    }
    merges.toSeq
  }

  /** Train from a `(word, cnt)` histogram. Stops early if the corpus
    * runs out of adjacent pairs (every word fully merged). */
  def trainFromHistogram(hist0: DataFrame, numMerges: Int): Seq[Merge] = Materialize.scope {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    // materialized once: every round re-reads it (vocabulary-sized)
    var hist = Materialize.checkpoint(hist0.select(col("word"),
      col("cnt").cast("long").alias("cnt"), initialSymbols(col("word")).alias("s")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var r = 0
    var exhausted = false
    while (r < numMerges && !exhausted) {
      val top = hist
        .select(col("cnt"),
          filter(split(col("s"), "  "), x => x =!= "").alias("f"))
        .filter(size(col("f")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(f) - 1), i -> struct(f[i-1] AS a, f[i] AS b))"))
          .alias("p"))
        .groupBy(col("p.a").alias("a"), col("p.b").alias("b"))
        .agg(sum(col("cnt")).alias("n"))
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1).collect() // EXACTLY one row by construction
      if (top.isEmpty) exhausted = true
      else {
        val m = Merge(top.head.getString(0), top.head.getString(1))
        merges += m
        val applied = hist.withColumn("s",
          replace(col("s"), lit(s" ${m.a}  ${m.b} "), lit(s" ${m.merged} ")))
        // re-materialize every few rounds so the pair-count job never
        // evaluates an unboundedly deep replace chain; between
        // checkpoints the chain is ≤ 8 string passes per word
        hist = if ((r + 1) % 8 == 0) {
          val next = Materialize.checkpoint(applied)
          Materialize.release(hist)
          next
        } else applied
      }
      r += 1
    }
    merges.toSeq
  }

  /** Per-document BPE token counts `(id, n_bpe_tokens)`: encode each
    * DISTINCT word once (the encode chain runs over the vocabulary, not
    * the corpus), then join term frequencies back token-keyed and sum —
    * no broadcast assumption on the word table. */
  def bpeTokenCounts(df: DataFrame, idCol: String, textCol: String,
                     merges: Seq[Merge]): DataFrame = {
    val spark = df.sparkSession
    val tf = df.select(col(idCol),
        explode(graft.functions.GraftFunctions.termCounts(spark,
          TextAnalysis.normTokens(col(textCol)))).alias("__tc"))
      .select(col(idCol), col("__tc.term").alias("tok"),
        col("__tc.cnt").cast("long").alias("__tf"))
    val enc = tf.select(col("tok")).distinct()
      .select(col("tok"),
        bpeCountCompiled(spark, col("tok"), merges).cast("long").alias("__nsym"))
    tf.join(enc, Seq("tok"))
      .groupBy(col(idCol))
      .agg(sum(col("__tf") * col("__nsym")).alias("n_bpe_tokens"))
  }

  /** Persist the ordered merge list: one row per merge,
    * `(rank, a, b)` keyed on rank — the tokenizer ARTIFACT a 100 TB
    * pipeline trains once and ships to every scoring job. */
  def saveMerges(store: graft.store.Store, merges: Seq[Merge]): Unit = {
    val spark = store.spark
    import spark.implicits._
    store.update(merges.zipWithIndex
      .map { case (m, i) => (i.toLong, m.a, m.b) }
      .toDF("rank", "a", "b"), Seq("rank"))
  }

  /** Load a persisted merge list in training order. `collect` is
    * bounded by the numMerges contract. */
  def loadMerges(store: graft.store.Store): Seq[Merge] =
    store.df.select(col("rank"), col("a"), col("b")).orderBy(col("rank"))
      .collect().map(r => Merge(r.getString(1), r.getString(2))).toSeq
}

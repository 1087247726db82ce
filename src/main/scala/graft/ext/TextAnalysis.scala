package graft.ext

import graft.builder.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (north-star extensions, SURVEY §0/§7). All pure `Column` expressions —
  * whole-stage-codegen'd, no UDFs, so they run at scan speed over 100 TB
  * and push no work to the driver.
  */
object TextAnalysis {

  /** Non-whitespace token runs — the whitespace tokenizer. */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("\\S+"), lit(0))

  /** Compiled raw-text counts `(n_tokens, n_punct, n_symbols)` —
    * [[graft.functions.TextCounts]]; one scan replaces three
    * `regexp_extract_all` passes. Deterministic, so common-subexpression
    * elimination shares one evaluation across a projection's fields. */
  private def countsKernel(text: Column): Column =
    graft.functions.GraftFunctions.textCounts(
      org.apache.spark.sql.SparkSession.active, text)

  /** Compiled lowered-text profile `(n_tokens, n_nonws, n_alpha,
    * sw_en, sw_de, sw_fr, sw_es)` — [[graft.functions.TextProfileLower]]
    * over `lower(text)` (Spark's own `lower` keeps lowercasing exact). */
  private def profileKernel(text: Column): Column =
    graft.functions.GraftFunctions.textProfile(
      org.apache.spark.sql.SparkSession.active, lower(text))

  /** Normalized word tokens (lowercase alnum runs) — the SHARED spelling
    * behind the shingle/dedup/repetition operators and their oracle SQL.
    * Compiled: Spark's own `lower` (byte-identical case mapping) feeds
    * the single-pass [[graft.functions.TokenizeRuns]] kernel, removing
    * the `regexp_replace` scan from every text-plane query.
    * Empty/punct-only text yields `[""]`, which grams to the single
    * empty shingle exactly like the oracle's empty token list. The
    * DuckDB replays byte-match this tokenization; byte-equality vs the
    * regex spelling [[normTokensRegex]] is property-pinned in
    * TextShinglesSpec. */
  private[graft] def normTokens(text: Column): Column =
    graft.functions.GraftFunctions.tokenizeRuns(
      org.apache.spark.sql.SparkSession.active, lower(text))

  /** Regex twin of [[normTokens]] — the executable specification the
    * kernel must match (see [[tokenCountRegex]] for the pattern). */
  private[graft] def normTokensRegex(text: Column): Column =
    split(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")), " ")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    countsKernel(text).getField("n_tokens").cast("int")

  /** Regex twin of [[tokenCount]] — the executable specification the
    * kernel must match (TextProfileSpec pins equality). */
  private[graft] def tokenCountRegex(text: Column): Column =
    size(regexp_extract_all(text, lit("\\S+"), lit(0)))

  /** BPE-ish subword count estimate: words + intra-word transitions
    * (case changes, letter/digit boundaries) — a cheap proxy for LLM
    * token budgeting without a vocab file. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text,
      lit("[A-Z]?[a-z]+|[A-Z]+(?![a-z])|[0-9]+|[^\\sA-Za-z0-9]"), lit(0)))

  /** Punctuation character count. */
  def punctCount(text: Column): Column =
    countsKernel(text).getField("n_punct").cast("int")

  /** Regex twin of [[punctCount]] (see [[tokenCountRegex]]). */
  private[graft] def punctCountRegex(text: Column): Column =
    size(regexp_extract_all(text, lit("[\\p{Punct}]"), lit(0)))

  /** Gopher-style n-gram repetition ratio: the fraction of word n-grams
    * that are repeats of an earlier one (`1 - distinct/total`) — the
    * standard duplicate-line/paragraph quality signal for LLM corpus
    * filtering. Rides the compiled [[graft.functions.NgramHashes]]
    * kernel twice (multiset size + set size), so the whole signal is two
    * fused loops per row — no explode, no shuffle, no lambdas. The
    * normalized tokenization matches [[graft.ext.Dedup.shingleDF]]
    * (lowercase, alnum runs). */
  def repetitionRatio(spark: org.apache.spark.sql.SparkSession,
                      text: Column, n: Int = 3): Column = {
    val toks = normTokens(text)
    val all = graft.functions.GraftFunctions.ngramHashes(spark, toks, n, distinct = false)
    val uniq = graft.functions.GraftFunctions.ngramHashes(spark, toks, n, distinct = true)
    round(lit(1.0) - size(uniq).cast("double") / size(all).cast("double"), 4)
  }

  private[graft] val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "sich", "auf"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans", "que", "pour", "qui", "pas"),
    "es" -> Seq("el", "los", "de", "que", "y", "en", "un", "se", "por", "con"))

  /** The word lists in registry order (en, de, fr, es) — the fixed
    * parameter of the compiled profile kernel. */
  private[graft] def stopwordLists: Seq[Seq[String]] = stopwords.map(_._2)

  /** Regex twin of the kernel's per-language stopword hit counts. */
  private[graft] def hitsRegex(text: Column, words: Seq[String]): Column =
    size(regexp_extract_all(lower(text),
      lit(words.mkString("\\b(", "|", ")\\b")), lit(0)))

  /** Language-ID n-gram/stopword heuristic: per-language stopword hit
    * counts, argmax with a fixed tie-break order (en > de > fr > es).
    * Returns a language code column. */
  def langId(text: Column): Column = {
    val p = profileKernel(text)
    val Seq(en, de, fr, es) = stopwords.indices.map(i => p.getField(s"sw_$i"))
    when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  /** English stopword ratio (quality signal). */
  def stopwordRatio(text: Column): Column = {
    val n = tokenCount(text)
    when(n > 0, profileKernel(text).getField("sw_0").cast("double") / n.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Mean token length (over the lowered whitespace tokens). */
  def meanTokenLen(text: Column): Column = {
    val p = profileKernel(text)
    val n = p.getField("n_tokens")
    when(n > 0,
      p.getField("n_nonws").cast("double") / n.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Regex/HOF twin of [[meanTokenLen]] — the CodegenFallback fold the
    * kernel replaced (every HOF lambda frame interpreted per token). */
  private[graft] def meanTokenLenRegex(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks)
    when(n > 0,
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / n.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Gopher-style rule flags (Rae et al. 2021 §A1.1, simplified to the
    * deterministic subset): per-document quality gates as one codegen'd
    * projection — the standard pre-training document filter. Returns a
    * struct of the raw signals and per-rule booleans plus the combined
    * `passes` gate, so pipelines can log WHY a document was dropped
    * (production filters always report per-rule attrition).
    *
    * Rules: word count in [minWords, maxWords]; mean word length in
    * [3, 10]; symbol-to-word ratio (`#`/`…`/`...`) ≤ 0.1; fraction of
    * words containing an alphabetic character ≥ 0.8. */
  def gopherRules(text: Column, minWords: Int = 50,
                  maxWords: Int = 100000): Column = {
    val p = profileKernel(text)
    val n = p.getField("n_tokens").cast("double")
    val meanLen = meanTokenLen(text)
    val symbols = countsKernel(text).getField("n_symbols").cast("double")
    val alphaWords = p.getField("n_alpha").cast("double")
    val wordCountOk = n >= minWords && n <= maxWords
    val meanLenOk = meanLen >= 3.0 && meanLen <= 10.0
    val symbolOk = when(n > 0, symbols / n <= 0.1).otherwise(lit(false))
    val alphaOk = when(n > 0, alphaWords / n >= 0.8).otherwise(lit(false))
    struct(
      n.cast("long").alias("n_words"),
      round(meanLen, 4).alias("mean_word_len"),
      wordCountOk.alias("word_count_ok"),
      meanLenOk.alias("mean_len_ok"),
      symbolOk.alias("symbol_ok"),
      alphaOk.alias("alpha_ok"),
      (wordCountOk && meanLenOk && symbolOk && alphaOk).alias("passes"))
  }

  /** C4 cleaning rules (Raffel et al. 2020 §2.2, the deterministic
    * subset): line-level retention plus page-level gates, as ONE
    * shuffle-free projection — at 100 TB this runs at scan speed with
    * nothing exchanged.
    *
    * Line rules (a line survives iff all hold):
    *  - ends in a terminal punctuation mark (`.` `!` `?` `"`);
    *  - contains at least `minLineWords` whitespace words;
    *  - does not mention "javascript" (case-insensitive).
    *
    * Page rules (the struct's `keep` gate; C4 drops the page):
    *  - no "lorem ipsum" (case-insensitive), no curly brace `{`;
    *  - at least one surviving line.
    *
    * Returns a struct `(clean, n_lines, n_kept, keep)` — `clean` is the
    * surviving lines re-joined with `\n`. The bad-words list and the
    * 5-sentence minimum of the paper are deliberately out of scope
    * (locale-specific wordlists; sentence segmentation is not
    * deterministic across engines) — documented deviation. */
  def c4Filters(text: Column, minLineWords: Int = 3): Column = {
    val lines = split(text, "\n")
    val kept = filter(lines, line =>
      line.rlike("[.!?\"]$") &&
        size(split(trim(line), "\\s+")) >= minLineWords &&
        !lower(line).contains("javascript"))
    val pageOk = !lower(text).contains("lorem ipsum") &&
      !text.contains("{") && size(kept) >= 1
    struct(
      array_join(kept, "\n").alias("clean"),
      size(lines).alias("n_lines"),
      size(kept).alias("n_kept"),
      pageOk.alias("keep"))
  }

  /** Composite quality score in [0,1]: penalize extreme length, high
    * punctuation density, missing stopwords — the shape of a C4/Gopher
    * style filter, deterministic and codegen'd. */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text).cast("double")
    val lenOk = when(n >= lit(5.0) && n <= lit(100000.0), lit(1.0)).otherwise(lit(0.0))
    val punctDensity = punctCount(text).cast("double") / greatest(length(text).cast("double"), lit(1.0))
    val punctOk = when(punctDensity <= 0.2, lit(1.0)).otherwise(lit(0.0))
    val sw = stopwordRatio(text)
    val swOk = when(sw >= 0.01, lit(1.0)).otherwise(lit(0.0))
    round((lenOk + punctOk + swOk) / lit(3.0), 4)
  }

  /** Per-document TF-IDF top-k keyword extraction — the standard
    * corpus-level salience signal (topic tagging, quota keys, query
    * expansion). Tokenization is the shared [[normTokens]] spelling, so
    * terms line up with every other text operator and the oracle SQL.
    *
    * Scoring: `tf * (ln((N + 1) / (df + 1)) + 1)` (smoothed idf),
    * rounded to 4 places; ties break lexicographically on the term so
    * the output is fully deterministic.
    *
    * Scale shape: term frequencies are computed MAP-SIDE by the
    * [[graft.functions.TermCounts]] kernel (counting within one row's
    * token array never needed an exchange — the old explode +
    * `groupBy(id, term)` spelling shuffled the corpus's distinct-
    * terms-per-doc mass and then PERSISTED it for its two consumers).
    * Both consumers now recompute the kernel projection instead — the
    * jaccard/pmi lesson: re-running a codegen'd tokenize scan is cheaper
    * than serializing an InMemoryTable and converting every element back
    * per read. The only exchanges left are the vocabulary-sized
    * document-frequency aggregate (Zipf-bounded, map-side partials), the
    * idf join back on the term key — broadcast-able when the vocabulary
    * fits, shuffle otherwise (unhinted: AQE decides from the measured
    * size) — and the per-doc top-k heap partials (k rows per doc). */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String,
                k: Int = 5): DataFrame = {
    val spark = df.sparkSession
    def tf = df
      .select(col(idCol).alias("id"),
        explode(graft.functions.GraftFunctions.termCounts(spark,
          normTokens(col(textCol)))).alias("tc"))
      .select(col("id"), col("tc.term").alias("term"),
        col("tc.cnt").cast("long").alias("tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).alias("df"))
    val nDocs = broadcast(df.agg(
      count(lit(1)).cast("double").alias("__n")))
    val scored = tf.join(dfreq, Seq("term")).crossJoin(nDocs)
      .withColumn("score", round(col("tf").cast("double") *
        (log((col("__n") + 1.0) / (col("df").cast("double") + 1.0)) + 1.0), 4))
    // per-doc top-k as a bounded-heap aggregate, not a row_number
    // window: the window re-shuffles and fully SORTS every scored row,
    // the aggregate's map-side partials bound the exchange at k rows
    // per document. Ordering contract identical: score desc, term asc.
    scored.groupBy(col("id"))
      .agg(graft.functions.TopKStrAgg.topk(df.sparkSession,
        col("score"), col("term"), k).alias("__top"))
      .select(col("id"), posexplode(col("__top")))
      .select(col("id"), (col("pos") + 1).cast("int").alias("rank"),
        col("col.term").alias("term"), col("col.score").alias("score"))
  }

  /** BM25 retrieval: for each query row, the `k` best corpus documents
    * under Okapi BM25 with the Lucene non-negative idf
    * `ln(1 + (N − df + 0.5)/(df + 0.5))`. The lexical leg of a hybrid
    * retrieval stack (decontamination screens, more-like-this curation,
    * RAG indexing) next to the vector plane in [[graft.ext.Similarity]].
    *
    * Scale shape: `queries` is SMALL BY CONTRACT (the corpus is the
    * 100 TB side) — its term set and the query-term df slice both
    * broadcast, so the corpus is scanned ONCE (term counts + doc length
    * in one codegen'd [[graft.functions.TermCounts]] projection), the
    * only corpus-scale shuffle is the vocabulary-sized df aggregation,
    * and the per-(query, doc) score aggregation + bounded-heap top-k
    * reduce map-side (k·|queries| shuffle rows, the
    * [[graft.functions.TopKAgg]] contract).
    *
    * Determinism: per-term scores are fixed-pointed to micro-units
    * (round half-away-from-zero agrees between engines, see
    * SparkEntry.fxSum) and summed as LONGS — exact under any partial-agg
    * order — so ranking (micro-score desc, doc id asc) is replayable;
    * self-matches (doc == query id) are excluded like the vector plane.
    * Output: `(q_id, rank, doc_id, score)` with `score` the micro-sum
    * at 4 dp. */
  def bm25TopK(docs: DataFrame, queries: DataFrame, idCol: String,
               textCol: String, k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    // spread a narrow scan across the cores: tokenize + the 45M-row
    // scored join + partial aggs all execute ON the scan partitions,
    // and a single-file corpus (one fat row group) otherwise serializes
    // the whole operator on 2 tasks (measured 23.5 s CPU on 2/32 cores
    // at sf1 → 32-way). The shuffle moves raw text once; Catalyst's
    // exchange reuse shares it between the two corpus passes. At
    // 100 TB inputs carry files ≫ cores and this is a no-op.
    val par = spark.sparkContext.defaultParallelism
    val corpus0 = docs.select(col(idCol).cast("long").alias("id"),
      col(textCol).alias("__text"))
    val corpus =
      if (corpus0.rdd.getNumPartitions < par) corpus0.repartition(par)
      else corpus0
    // the sentinel posting: normTokens never emits "" — same collision
    // class as the term hashing below (~2^-64, documented nil). It
    // carries (N, Σdl) through the df aggregation (see tfdl).
    val sentinelTh = xxhash64(lit(""))
    // one corpus projection per pass: per-doc (term-hash, tf) plus the
    // token-length dl summed from the SAME term-count array, plus ONE
    // SENTINEL posting per doc (term "", tf = dl) — the
    // Bm25IndexBuilder sentinel idea turned into a stats carrier, so
    // the global (N, Σdl) aggregate RIDES the df aggregation instead of
    // running a third tokenize pass over the corpus (VERDICT r12 #2:
    // at 100 TB that pass was a full extra tokenize). Terms ride as
    // xxhash64 LONGS from here on — the score plane never needs the
    // string back, and 8-byte join/agg keys run the scored join
    // measurably faster than string keys (the ngram-tier posting
    // trick; collision odds ~|vocab|²/2^65: nil).
    //
    // BM25 is structurally a self-join (per-(term,doc) postings joined
    // with their own per-term df aggregate), so without materializing
    // the token stream the corpus is tokenized exactly TWICE — the
    // scored pass and the df pass, both re-reading the one reused
    // text exchange. The tokenize-ONCE path is the persisted inverted
    // index (Bm25IndexBuilder), which pays it at build time.
    val emptyTc = expr("CAST(array() AS array<struct<term:string,cnt:int>>)")
    def tfdl = corpus
      .select(col("id"),
        graft.functions.GraftFunctions.termCounts(spark,
          normTokens(col("__text"))).alias("tc"))
      .select(col("id"),
        coalesce(graft.functions.GraftFunctions.cntTotal(spark, col("tc")),
          lit(0L)).alias("dl"),
        // null-text docs still emit their sentinel (N counts them,
        // like the oracle's count(*)); dl fits int by the
        // tokens-per-doc contract
        explode(concat(coalesce(col("tc"), emptyTc),
          array(struct(lit("").alias("term"),
            coalesce(graft.functions.GraftFunctions.cntTotal(spark, col("tc")),
              lit(0L)).cast("int").alias("cnt"))))).alias("t"))
      .select(col("id"), col("dl"), xxhash64(col("t.term")).alias("th"),
        col("t.cnt").cast("long").alias("tf"))
    // query terms (termCounts already emits each term once per doc) —
    // broadcast-small by contract; the scored join against qt drops
    // the sentinel postings (no query term hashes to it)
    val qt = broadcast(queries
      .select(col(idCol).cast("long").alias("q_id"),
        explode(graft.functions.GraftFunctions.termCounts(spark,
          normTokens(col(textCol)))).alias("t"))
      .select(col("q_id"), xxhash64(col("t.term")).alias("th")))
    // the ONE per-term aggregation: Catalyst pushes the LeftSemi below
    // the aggregate (PushDownLeftSemiAntiJoin), so the partial agg
    // filters to |query vocab| + 1 groups at the map side — the
    // sentinel group reduces the per-doc stats rows into one partial
    // per partition, and the exchange stays query-sized.
    // collect(): ≤ |query vocab| + 1 rows by the small-query contract
    // (the Bm25IndexBuilder.topK bounded-collect pattern). Re-planning
    // the slice as a LOCAL relation is what guarantees the expensive
    // subtree runs ONCE: its two logical consumers (global stats + the
    // per-term idf slice) would otherwise be split by per-branch column
    // pruning into two differently-pruned aggregations, each
    // re-tokenizing the corpus (measured: the r12 shape ran 3 corpus
    // tokenize passes; this shape runs exactly 2, pinned in
    // PlanShapeSpec).
    val qTerms = qt.select(col("th")).distinct()
      .union(spark.range(1).select(sentinelTh.alias("th")))
    val aggRows = tfdl.groupBy(col("th"))
      .agg(count(lit(1)).alias("df"), sum(col("tf")).alias("__ttf"))
      .join(broadcast(qTerms), Seq("th"), "left_semi")
      .collect()
    // xxhash64("") with the Column function's fixed seed 42 — the
    // sentinel group's (count, Σtf) IS (N docs, Σdl): exact integers,
    // so the avgdl division is the identical double on both engines
    val sentinelHash = org.apache.spark.sql.catalyst.expressions
      .XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(""),
        org.apache.spark.sql.types.StringType, 42L)
    val statsRow = aggRows.find(_.getLong(0) == sentinelHash)
    val n = statsRow.map(_.getLong(1).toDouble).getOrElse(0.0)
    val avgdl = statsRow.map(_.getLong(2).toDouble / n).getOrElse(0.0)
    // idf folds into the VOCABULARY-sized slice, not the scored rows:
    // ln per query term instead of per (query, doc, term) row — and the
    // slice is a local relation, so the scored join is one broadcast
    // hash join with no stats crossJoin (the r12 shape's one-row
    // BroadcastNestedLoopJoin is gone entirely). Spelling order matches
    // the oracle CTE term for term: ln(1 + ((n - df) + 0.5)/(df + 0.5)).
    val qdfLocal = aggRows.iterator
      .filter(_.getLong(0) != sentinelHash)
      .map { r =>
        val df = r.getLong(1).toDouble
        (r.getLong(0), math.log(1.0 + (n - df + 0.5) / (df + 0.5)), avgdl)
      }.toSeq
    val qdf = {
      import spark.implicits._
      broadcast(qdfLocal.toDF("th", "__idf", "__avgdl"))
    }
    // operation ORDER is part of the oracle contract: the SQL twin
    // spells every double op in this exact shape, so the micro-rounded
    // per-term scores are bit-identical
    val lenNorm = col("dl") / col("__avgdl") * b + (1.0 - b)
    val scored = tfdl.join(qt, Seq("th"))
      .filter(col("id") =!= col("q_id"))
      .join(qdf, Seq("th"))
      .select(col("q_id"), col("id"),
        // floor(x + 0.5), not round(x): Spark's Round on DOUBLE routes
        // every row through a BigDecimal setScale; floor is a single
        // codegen'd Math.floor. Identical values by identical SPELLING
        // on both engines (the oracle CTE writes floor(x + 0.5) too) —
        // exact for these non-negative scores
        floor(col("__idf") *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lenNorm * k1) *
          1000000.0 + 0.5).cast("long").alias("__sm"))
    scored.groupBy(col("q_id"), col("id"))
      .agg(sum(col("__sm")).alias("__sm"))
      .groupBy(col("q_id"))
      // ordering key = the exact micro-long (as double: < 2^53 — exact)
      .agg(graft.functions.TopKAgg.topk(spark,
        col("__sm").cast("double"), col("id"), k).alias("__top"))
      .select(col("q_id"), posexplode(col("__top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").alias("rank"),
        col("col.id").alias("doc_id"),
        round(col("col.score") / 1000000.0, 4).alias("score"))
  }

  /** Contiguous word n-grams of [[normTokens]] as space-joined strings —
    * the corpus-statistics spelling (NON-distinct, unlike the dedup
    * shingles: counts need every occurrence). Docs with fewer than `n`
    * tokens contribute nothing; the `size >= n` guard matters because
    * Spark's `sequence(1, 0)` counts DOWN (yielding `[1, 0]`), it is not
    * empty like a half-open range. Empty text contributes nothing
    * either: [[normTokens]] yields `[""]` (size 1 < 2 ≤ n).
    *
    * Compiled as [[graft.functions.NgramStrings]] over one materialized
    * tokenization. The previous HOF spelling
    * (`transform(sequence..., i -> concat_ws(element_at(tk, i+j)...))`)
    * was the round-7 scale-killer: HOFs are CodegenFallback with no
    * subexpression elimination, so every `element_at(tk, ·)` re-ran the
    * whole tokenization — O(tokens²) regex work per document. */
  private[graft] def wordNgrams(text: Column, n: Int): Column = {
    require(n >= 2, s"wordNgrams is for n >= 2, got $n")
    graft.functions.GraftFunctions.ngramStrings(
      org.apache.spark.sql.SparkSession.active, normTokens(text), n)
  }

  /** Corpus-level n-gram frequency table — vocabulary statistics for
    * tokenizer training, boilerplate discovery, and contamination
    * screening. Returns the `topN` most frequent n-grams as
    * `(ngram, count)`, ties broken lexicographically.
    *
    * Scale shape: one codegen'd gram projection + explode, one hash
    * aggregation on the gram key (map-side partial combine does the
    * heavy lifting — the shuffle carries the Zipf-bounded vocabulary,
    * not the corpus), and the global top-N is a `TakeOrdered` over the
    * agg output (no full sort, no single-partition window). */
  def ngramCounts(df: DataFrame, textCol: String, n: Int = 2,
                  topN: Int = 50): DataFrame =
    df.select(explode(wordNgrams(col(textCol), n)).alias("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).alias("count"))
      .orderBy(col("count").desc, col("ngram").asc)
      .limit(topN)

  /** Top PMI bigram collocations — `ln((c12/T2) / ((c1/T1)·(c2/T1)))`
    * over [[normTokens]] unigram/bigram counts, the classic collocation
    * score (Church & Hanks 1990) behind multi-word-expression vocab
    * entries and quota keys. `minCount` floors the bigram count (PMI is
    * noise below it); output is `(w1, w2, count, pmi)`, top `topN` by
    * PMI with a `(w1, w2)` lexicographic tie-break.
    *
    * Scale shape: ONE corpus scan — the [[graft.functions.UniBigramTagged]]
    * kernel emits prefix-tagged unigrams and bigrams in a single explode,
    * so one hash aggregation (vocab-sized output, map-side partial
    * combine) produces both count tables. That table is PERSISTED
    * (memory-and-disk): the five consumers (two unigram joins, the
    * bigram candidates, both corpus totals) read the Zipf-bounded cache,
    * never the corpus — without it Catalyst pushes each branch's kind
    * filter below the aggregation, the branch exchanges stop being
    * identical, exchange reuse is off the table, and the corpus is
    * re-scanned and re-tokenized per branch (the round-7 double-scan,
    * measured; pinned in TextShinglesSpec). The two unigram joins key on
    * the bigram's split words — AQE picks broadcast when the
    * (minCount-filtered) side fits, shuffle-hash otherwise, deliberately
    * unhinted; corpus totals ride a one-row broadcast cross join. The
    * final top-N is a `TakeOrdered`. */
  def pmiBigrams(df: DataFrame, textCol: String, minCount: Int = 5,
                 topN: Int = 50): DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    val tagged = df.select(explode(graft.functions.GraftFunctions
        .uniBigramTagged(spark, normTokens(col(textCol)))).alias("t"))
    val counts = Materialize.cache(tagged.groupBy(col("t")).agg(count(lit(1)).alias("c")))
    val uni = counts.filter(col("t").startsWith("u "))
      .select(expr("substring(t, 3)").alias("term"), col("c").alias("c1"))
    val biAll = counts.filter(col("t").startsWith("b "))
      .select(expr("substring(t, 3)").alias("bigram"), col("c").alias("c12"))
    val bi = biAll.filter(col("c12") >= minCount)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
    // totals BEFORE the minCount filter: T2 is the corpus bigram count,
    // not the frequent-bigram count — the filter only prunes candidates
    val totals = broadcast(
      uni.agg(sum(col("c1")).cast("double").alias("__t1"))
        .crossJoin(biAll.agg(sum(col("c12")).cast("double").alias("__t2"))))
    bi.join(uni.select(col("term").alias("w1"), col("c1").alias("ca")), Seq("w1"))
      .join(uni.select(col("term").alias("w2"), col("c1").alias("cb")), Seq("w2"))
      .crossJoin(totals)
      .withColumn("pmi", round(log(
        (col("c12").cast("double") / col("__t2")) /
          ((col("ca") / col("__t1")) * (col("cb") / col("__t1")))), 4))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(topN)
      .select(col("w1"), col("w2"), col("c12").alias("count"), col("pmi"))
  }

  /** Document fingerprint: md5 of case/punctuation-normalized content —
    * the exact-dedup key that survives formatting noise. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "[^a-z0-9]+", " ").cast("binary"))

  /** PII patterns shared by [[scrubPii]] and [[piiCounts]] — kept to the
    * regex subset that Java's engine and RE2-family engines (DuckDB, Go)
    * interpret identically (no backrefs, no lookaround), so redaction is
    * byte-replayable by the oracle. Order matters: emails first (an email
    * contains dot-runs an IP pattern could nibble), then IPv4, then
    * phones. The phone pattern deliberately requires either a `+`
    * country prefix or the strict NANP 3-3-4 shape, and never accepts
    * `.` as a separator — otherwise ISO/European dates (`2026-08-12`,
    * `10.12.2023`) and version triples would be scrubbed out of ordinary
    * corpus text. */
  private[graft] val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b" -> "<IP>",
    ("(\\+[0-9]{1,3}[- ][0-9]{2,4}[- ][0-9]{2,4}([- ][0-9]{2,4})?" +
      "|\\b[0-9]{3}[- ][0-9]{3}[- ][0-9]{4})\\b") -> "<PHONE>")

  /** Scrub emails / IPv4 addresses / phone numbers from text (the
    * standard pre-training redaction pass, e.g. Dolma's PII filter).
    * A chain of `regexp_replace` — one codegen'd projection, no UDFs,
    * no shuffle: runs at scan speed over 100 TB. */
  /** URL extraction — the curation signal behind domain-level filtering
    * (blocklists, per-domain quotas, provenance mixes). A pure
    * codegen'd regexp projection; pair with [[host]] for the grouping
    * key. */
  def urls(text: Column): Column =
    regexp_extract_all(text, lit("https?://\\S+"), lit(0))

  /** Lowercased host of a URL (the domain-quota/blocklist key). */
  def host(url: Column): Column =
    lower(regexp_extract(url, "https?://([^/\\s:?#]+)", 1))

  def scrubPii(text: Column): Column =
    graft.functions.GraftFunctions.scrubPii(
      org.apache.spark.sql.SparkSession.active, text)

  /** The original `regexp_replace` chain over [[piiPatterns]] — kept as
    * the executable specification of [[scrubPii]]'s compiled scanner
    * ([[graft.functions.PiiScrubber]]); `PiiScrubberSpec` pins their
    * byte equality property-style, and the DuckDB oracle replays this
    * exact chain. */
  private[graft] def scrubPiiRegex(text: Column): Column =
    piiPatterns.foldLeft(text) { case (acc, (pat, repl)) =>
      regexp_replace(acc, pat, repl)
    }

  /** Per-document PII hit counts `(emails, ips, phones)` — the audit
    * signal next to [[scrubPii]]'s redaction. Counts the `<...>` markers
    * in the SCRUBBED text with literal string ops, so counts equal the
    * markers emitted BY CONSTRUCTION — and the expensive part is the one
    * scrub chain, which subexpression elimination shares with a
    * co-projected [[scrubPii]] instead of re-running per-pattern
    * `regexp_extract_all` passes over the full text (8 regex scans/row
    * → 3). Caveat: a source document already containing a literal
    * marker token counts as a hit — acceptable for an audit signal. */
  def piiCounts(text: Column): Column = {
    val scrubbed = scrubPii(text)
    def markers(m: String): Column =
      ((length(scrubbed) - length(replace(scrubbed, lit(m), lit("")))) /
        lit(m.length)).cast("int")
    struct(markers("<EMAIL>").alias("emails"), markers("<IP>").alias("ips"),
      markers("<PHONE>").alias("phones"))
  }

  /** Unigram log-probability quality score — the zero-dependency
    * analogue of the LM-perplexity filter every large training-data
    * pipeline runs (CCNet/Gopher use a 5-gram KenLM; with no model
    * artifact available the corpus's OWN unigram distribution is the
    * standard fallback): per-doc mean `ln p(tok)` with
    * `p(tok) = corpus_count(tok) / corpus_total`. Low scores = token
    * sequences improbable under the corpus itself (boilerplate noise,
    * raw identifiers, foreign-alphabet mojibake) — the removal
    * candidates.
    *
    * Scale shape: ONE token-keyed shuffle builds the vocabulary counts
    * and one token-keyed join scores the corpus — both sides partition
    * on the token, NO broadcast assumption (at 100 TB the vocabulary is
    * billions of rows); the per-doc mean reduces map-side. The log sum
    * rides a fixed-point long sum (order-independent — a raw double sum
    * reassociates differently across engines and runs; same discipline
    * as the suite's fxSum). Docs with zero tokens drop (no
    * distribution to score them under). */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String,
                     scale: Long = 1000000L): DataFrame = {
    // per-doc term frequencies counted MAP-SIDE by the compiled
    // TermCounts kernel (the tfidf lesson): the exchanges carry one row
    // per (doc, DISTINCT term) with its tf, not one row per token
    val spark = df.sparkSession
    val tf = df.select(col(idCol),
        explode(graft.functions.GraftFunctions.termCounts(spark,
          normTokens(col(textCol)))).alias("__tc"))
      .select(col(idCol), col("__tc.term").alias("tok"),
        col("__tc.cnt").cast("long").alias("__tf"))
    val vocab = tf.groupBy(col("tok")).agg(sum(col("__tf")).alias("__c"))
    val total = vocab.agg(sum(col("__c")).cast("double").alias("__n"))
    tf.join(vocab, Seq("tok"))
      .groupBy(col(idCol))
      .agg(sum(col("__tf")).alias("n_tokens"),
        (sum(col("__tf") *
            round(log(col("__c").cast("double")) * scale).cast("long")) /
          scale.toDouble).alias("__sl"))
      .crossJoin(broadcast(total))
      .select(col(idCol), col("n_tokens"),
        round(col("__sl") / col("n_tokens") - log(col("__n")), 4)
          .alias("avg_logprob"))
  }

  /** Score a batch against a PERSISTED unigram vocabulary — the serve
    * half of the train/score split ([[graft.builder.UnigramLmBuilder]]
    * is the train half). [[unigramLogProb]] rebuilds the corpus
    * distribution per call; this scores new documents under counts
    * trained on EARLIER batches — the actual quality-filter deployment
    * shape (train once on the reference corpus, score every crawl
    * batch).
    *
    * Same scale discipline as [[unigramLogProb]]: one token-keyed join
    * against the vocab (both sides partition on the token, NO broadcast
    * assumption — a 100 TB-corpus vocabulary is billions of rows), doc
    * term frequencies counted map-side by the compiled TermCounts
    * kernel, fixed-point log sums for cross-engine replay. Unlike the
    * self-trained variant a scored batch can hold OUT-OF-VOCABULARY
    * tokens: they are tallied per doc (`n_oov` — itself a quality
    * signal: high OOV mass = far from the training distribution) and
    * excluded from the mean (`avg_logprob` = mean ln p over in-vocab
    * tokens; a doc with zero in-vocab tokens scores null — no
    * distribution covers it). `n_tokens` counts ALL tokens. */
  def scoreWithVocab(df: DataFrame, idCol: String, textCol: String,
                     vocab: graft.store.Store,
                     scale: Long = 1000000L): DataFrame = {
    val spark = df.sparkSession
    val v = vocab.df.select(col("tok"), col("c").cast("long").alias("__c"))
    // Σ counts = one column agg over the vocab — cheap at any scale,
    // and always consistent with the exact rows being joined below
    val total = v.agg(sum(col("__c")).cast("double").alias("__n"))
    val tf = df.select(col(idCol),
        explode(graft.functions.GraftFunctions.termCounts(spark,
          normTokens(col(textCol)))).alias("__tc"))
      .select(col(idCol), col("__tc.term").alias("tok"),
        col("__tc.cnt").cast("long").alias("__tf"))
    tf.join(v, Seq("tok"), "left_outer")
      .groupBy(col(idCol))
      .agg(sum(col("__tf")).alias("n_tokens"),
        coalesce(sum(when(col("__c").isNull, col("__tf"))), lit(0L))
          .alias("n_oov"),
        sum(when(col("__c").isNotNull, col("__tf"))).alias("__nin"),
        (sum(when(col("__c").isNotNull,
            col("__tf") * round(log(col("__c").cast("double")) * scale)
              .cast("long"))) / scale.toDouble).alias("__sl"))
      .crossJoin(broadcast(total))
      .select(col(idCol), col("n_tokens"), col("n_oov"),
        round(col("__sl") / col("__nin") - log(col("__n")), 4)
          .alias("avg_logprob"))
  }
}

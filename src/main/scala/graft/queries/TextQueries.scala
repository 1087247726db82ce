package graft
package queries

import graft.api._
import graft.builder._
import graft.ext.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis}
import graft.store.views._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import SparkEntry._

/** The text plane: text statistics and filters, sampling, BPE,
  * similarity search, BM25, PQ/IVF and the multimodal operators. */
private[graft] object TextQueries {
  /** The BPE fixture corpus as a DuckDB subquery: documents.text plus
    * four planted md5-hex words keyed on doc_id. The synthetic corpus
    * has only 31 DISTINCT WORDS (≈108 learnable merges before total
    * exhaustion), so a real-vocab-size training run needs planted
    * lexical diversity — the [[dupCorpus]]/[[piiCorpus]] fixture
    * pattern, byte-replayable on both engines (md5 hex is lowercase on
    * both). */
  private val bpeCorpusSql =
    "(SELECT doc_id, text || ' ' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) " +
      "|| ' ' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8) " +
      "|| ' ' || substr(md5(CAST(doc_id AS VARCHAR)), 17, 8) " +
      "|| ' ' || substr(md5(CAST(doc_id AS VARCHAR)), 25, 8) AS text FROM documents)"

  /** Unrolled BATCHED BPE training replay (shared by the bpe oracle
    * rows): tokenize → word histogram → `ceil(numMerges/batchSize)`
    * rounds, each taking the top `batchSize` pairs by (count DESC,
    * a ASC, b ASC) and applying them IN RANK ORDER as one
    * `list_reduce` replace fold — exactly
    * [[graft.ext.Bpe.trainBatched]]'s round contract (counts recomputed
    * only BETWEEN rounds; the last round's LIMIT shrinks to the
    * remainder so the total merge count is exact). Ends at
    * `enc(word, nsym)` + `wt(doc_id, tok, tf)` for the caller's
    * SELECT. */
  private def bpeOracleCtes(numMerges: Int, batchSize: Int): String = {
    val head =
      s"bpec AS $bpeCorpusSql, " +
        "toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(regexp_replace(lower(text), " +
        "'[^a-z0-9]+', ' ', 'g'), '\\s+'), x -> length(x) > 0)) AS tok FROM bpec), " +
        "wt AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2), " +
        "hist AS (SELECT tok AS word, CAST(sum(tf) AS BIGINT) AS cnt FROM wt GROUP BY 1), " +
        "r0 AS MATERIALIZED (SELECT word, cnt, ' ' || regexp_replace(word, '(.)', ' \\1 ', 'g') || ' ' AS s FROM hist), "
    // MATERIALIZED stops the planner from inlining the round chain
    // into an exponentially-duplicated expression tree
    val rounds = scala.collection.mutable.ArrayBuffer.empty[String]
    var done = 0
    var r = 0
    while (done < numMerges) {
      val k = math.min(batchSize, numMerges - done)
      done += k
      rounds += (
        s"f$r AS (SELECT word, cnt, list_filter(string_split(s, '  '), x -> x <> '') AS f FROM r$r), " +
          s"p$r AS (SELECT f[i] AS a, f[i+1] AS b, sum(cnt) AS n FROM f$r, " +
          s"UNNEST(range(1, len(f))) AS u$r(i) GROUP BY 1, 2), " +
          // the round's ORDERED merge list, packed (a, b) -> 'a\x01b'
          s"m$r AS (SELECT coalesce(list(a || chr(1) || b ORDER BY n DESC, a ASC, b ASC), []) AS ms " +
          s"FROM (SELECT a, b, n FROM p$r ORDER BY n DESC, a ASC, b ASC LIMIT $k)), " +
          s"r${r + 1} AS MATERIALIZED (SELECT word, cnt, " +
          "list_reduce(list_prepend(s, ms), (acc, x) -> replace(acc, " +
          "' ' || split_part(x, chr(1), 1) || '  ' || split_part(x, chr(1), 2) || ' ', " +
          s"' ' || split_part(x, chr(1), 1) || split_part(x, chr(1), 2) || ' ')) AS s FROM r$r, m$r)")
      r += 1
    }
    head + rounds.mkString(", ") +
      s", enc AS (SELECT word, CAST(len(list_filter(string_split(s, '  '), x -> x <> '')) AS BIGINT) AS nsym FROM r$r)"
  }

  /** Engine twin of [[bpeCorpusSql]]: documents.text plus four planted
    * md5-hex words keyed on doc_id (lexical diversity for real-vocab
    * BPE training — the raw corpus has 31 distinct words total). */
  private def bpeCorpus(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(col("doc_id"), concat(col("text"),
      lit(" "), substring(md5(col("doc_id").cast("string")), 1, 8),
      lit(" "), substring(md5(col("doc_id").cast("string")), 9, 8),
      lit(" "), substring(md5(col("doc_id").cast("string")), 17, 8),
      lit(" "), substring(md5(col("doc_id").cast("string")), 25, 8))
      .alias("text"))

  /** documents with synthetic PII planted deterministically (the corpus
    * has none of its own): residue classes 3/5/7 get an email / IPv4 /
    * phone appended. */
  private def piiCorpus(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".1"))).otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit(" call +1 555-014-2222"))
        .otherwise(lit(""))).alias("text"))

  /** documents rebuilt as multi-line pages for the C4 rules: a clean
    * sentence line, the original text as a line, plus planted offender
    * lines (short/no-punctuation, javascript) and page-level poisons
    * (lorem ipsum on every 17th doc, curly brace on every 13th). */
  private def c4Corpus(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(col("doc_id"), concat(
      lit("This is well formed sentence number "),
      col("doc_id").cast("string"), lit(" of the corpus."),
      lit("\n"), col("text"),
      when(col("doc_id") % 4 === 0, lit("\nclick here")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        lit("\nPlease enable javascript to continue.")).otherwise(lit("")),
      when(col("doc_id") % 17 === 0,
        lit("\nGenerated from lorem ipsum filler text.")).otherwise(lit("")),
      when(col("doc_id") % 13 === 0,
        lit("\nfunction f() { return 1; }")).otherwise(lit("")))
      .alias("text"))

  val all: Seq[BenchQuery] = Seq(
    BenchQuery("text_stats", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).alias("n_tokens"),
        length(col("text")).alias("len_chars"),
        TextAnalysis.punctCount(col("text")).alias("n_punct"))
        .orderBy("doc_id")
    }, oracleSql = ("SELECT doc_id, len(regexp_extract_all(text, '\\S+')) AS n_tokens, " +
        "length(text) AS len_chars, " +
        "len(regexp_extract_all(text, '[[:punct:]]')) AS n_punct " +
        "FROM documents ORDER BY doc_id")),

    BenchQuery("text_quality", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).alias("lang_pred"),
        round(TextAnalysis.stopwordRatio(col("text")), 4).alias("sw_ratio"),
        TextAnalysis.qualityScore(col("text")).alias("quality"))
        .orderBy("doc_id")
    }, oracleSql = {
        val Seq(en, de, fr, es) = stopLists.map { case (_, ws) => sqlHits(ws) }
        val n = "len(regexp_extract_all(text, '\\S+'))"
        val sw = s"(CASE WHEN $n > 0 THEN CAST($en AS DOUBLE) / $n ELSE 0.0 END)"
        val punctDen = s"(CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0))"
        val lenOk = s"(CASE WHEN $n >= 5 AND $n <= 100000 THEN 1.0 ELSE 0.0 END)"
        val punctOk = s"(CASE WHEN $punctDen <= 0.2 THEN 1.0 ELSE 0.0 END)"
        val swOk = s"(CASE WHEN $sw >= 0.01 THEN 1.0 ELSE 0.0 END)"
        s"SELECT doc_id, CASE WHEN $en >= $de AND $en >= $fr AND $en >= $es THEN 'en' " +
          s"WHEN $de >= $fr AND $de >= $es THEN 'de' WHEN $fr >= $es THEN 'fr' ELSE 'es' END AS lang_pred, " +
          s"round($sw, 4) AS sw_ratio, round(($lenOk + $punctOk + $swOk) / 3.0, 4) AS quality " +
          "FROM documents ORDER BY doc_id"
      }),

    BenchQuery("text_fingerprint", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).alias("fp"))
        .orderBy("doc_id")
    }, oracleSql = ("SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS fp " +
        "FROM documents ORDER BY doc_id")),

    // Gopher-rule document filter with per-rule attrition flags — one
    // codegen'd projection, no shuffle before the output sort
    BenchQuery("text_gopher_rules", (s, dir) => {
      val g = TextAnalysis.gopherRules(col("text"), minWords = 20)
      t(s, dir, "documents").select(col("doc_id"), g.alias("g"))
        .select(col("doc_id"), col("g.n_words").alias("n_words"),
          col("g.mean_word_len").alias("mean_word_len"),
          col("g.word_count_ok").alias("word_count_ok"),
          col("g.mean_len_ok").alias("mean_len_ok"),
          col("g.symbol_ok").alias("symbol_ok"),
          col("g.alpha_ok").alias("alpha_ok"),
          col("g.passes").alias("passes"))
        .orderBy("doc_id")
    }, oracleSql = {
        val sym = "len(regexp_extract_all(text, '#|\\.\\.\\.|…'))"
        val alpha = "len(regexp_extract_all(lower(text), '\\S*[a-z]\\S*'))"
        val wcOk = "(n >= 20 AND n <= 100000)"
        val mlOk = "(mean_len >= 3.0 AND mean_len <= 10.0)"
        val syOk = "(CASE WHEN n > 0 THEN CAST(syms AS DOUBLE) / n <= 0.1 ELSE FALSE END)"
        val alOk = "(CASE WHEN n > 0 THEN CAST(alpha AS DOUBLE) / n >= 0.8 ELSE FALSE END)"
        "WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS ws, text FROM documents), " +
          "m AS (SELECT doc_id, len(ws) AS n, " +
          "CASE WHEN len(ws) > 0 THEN CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws) ELSE 0.0 END AS mean_len, " +
          s"$sym AS syms, $alpha AS alpha FROM w) " +
          "SELECT doc_id, CAST(n AS BIGINT) AS n_words, round(mean_len, 4) AS mean_word_len, " +
          s"$wcOk AS word_count_ok, $mlOk AS mean_len_ok, $syOk AS symbol_ok, $alOk AS alpha_ok, " +
          s"($wcOk AND $mlOk AND $syOk AND $alOk) AS passes " +
          "FROM m ORDER BY doc_id"
      }),

    // perplexity-proxy quality filter: per-doc mean unigram logprob
    // under the corpus's own distribution (fixed-point log sum so the
    // oracle's reassociated float sum can't hash-diverge)
    BenchQuery("text_unigram_logprob", (s, dir) =>
      TextAnalysis.unigramLogProb(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      oracleSql = ("WITH toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(regexp_replace(lower(text), " +
        "'[^a-z0-9]+', ' ', 'g'), '\\s+'), x -> length(x) > 0)) AS tok FROM documents), " +
        "vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM vocab) " +
        "SELECT doc_id, count(*) AS n_tokens, " +
        "round((CAST(sum(CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) / 1000000.0) " +
        "/ count(*) - ln(tot.n), 4) AS avg_logprob " +
        "FROM toks JOIN vocab USING (tok) CROSS JOIN tot " +
        "GROUP BY doc_id, tot.n ORDER BY doc_id")),

    // model-based quality classifier (the fastText-style curation
    // filter): hashed uni+bigram NB log-odds, trained on the even-id
    // split of the labeled fixture corpus, scoring the odd-id split.
    // md5 bucket hashing + micro-fixed weights so the oracle replays
    // training AND scoring exactly.
    BenchQuery("text_quality_clf", (s, dir) => {
      val docs = clfCorpus(s, dir)
      val model = graft.ext.QualityClassifier.train(
        docs.filter(col("doc_id") % 2 === 0), "text", "label")
      graft.ext.QualityClassifier.score(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", model)
        .orderBy("doc_id")
    },
      // model-based quality classifier + its 2-batch incremental twin:
      // the incremental build must CONVERGE to the from-scratch
      // train-on-evens model, so both rows share the one SQL replay
      oracleSql = clfOracleSql(1024)),

    BenchQuery("text_repetition", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.repetitionRatio(s, col("text"), n = 3).alias("rep_ratio"))
        .orderBy("doc_id"),
      // n-gram multiset vs set sizes — 1 - distinct/total per doc; the
      // gram construction mirrors the dedup shingle CTEs
      oracleSql = ("WITH toks AS (SELECT doc_id, list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), '\\s+'), x -> length(x) > 0) AS tk FROM documents), " +
        "grams AS (SELECT doc_id, concat_ws(' ', tk[n], tk[n+1], tk[n+2]) AS g " +
        "FROM toks, UNNEST(range(1, greatest(len(tk) - 2, 0) + 1)) AS u(n) WHERE len(tk) >= 3 " +
        "UNION ALL SELECT doc_id, array_to_string(tk, ' ') FROM toks WHERE len(tk) < 3) " +
        "SELECT doc_id, round(1.0 - CAST(count(DISTINCT g) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS rep_ratio " +
        "FROM grams GROUP BY doc_id ORDER BY doc_id")),

    // deterministic sampling / mixture ops (training-data curation):
    // md5 hash family so the oracle replays the exact sample membership
    BenchQuery("sample_hash", (s, dir) =>
      Sampling.hashSample(t(s, dir, "documents"), "doc_id", rate = 0.25,
        family = "md5")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id"),
      // md5-family seeded hash (seed 0) on the stringified key — the
      // byte-identical replay of Dedup.seededHash("md5", 0, key)
      oracleSql = {
        val h = "CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
        s"SELECT doc_id, lang, source FROM documents WHERE $h % 10000 < 2500 ORDER BY doc_id"
      }),

    BenchQuery("sample_stratified", (s, dir) =>
      Sampling.stratified(t(s, dir, "documents"), Seq("lang", "source"),
        "doc_id", perStratum = 5, family = "md5")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id"),
      oracleSql = {
        val h = "CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
        "SELECT doc_id, lang, source FROM documents " +
          s"QUALIFY row_number() OVER (PARTITION BY lang, source ORDER BY $h, doc_id) <= 5 " +
          "ORDER BY doc_id"
      }),

    BenchQuery("sample_token_budget", (s, dir) =>
      Sampling.tokenBudgetPack(
        t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).alias("n_tokens")),
        orderCol = "doc_id", tokensCol = "n_tokens", budget = 30000)
        .orderBy("doc_id"),
      oracleSql = ("WITH toks AS (SELECT doc_id, len(regexp_extract_all(text, '\\S+')) AS n_tokens FROM documents) " +
        "SELECT doc_id, n_tokens FROM toks " +
        "QUALIFY sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 30000 " +
        "ORDER BY doc_id")),

    // GPT-style sequence packing: concat-then-chunk ids over the token
    // stream — same distributed prefix sum as sample_token_budget
    BenchQuery("sample_pack_sequences", (s, dir) =>
      Sampling.packSequences(
        t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).alias("n_tokens")),
        orderCol = "doc_id", tokensCol = "n_tokens", seqLen = 2048)
        .orderBy("doc_id"),
      oracleSql = ("WITH toks AS (SELECT doc_id, len(regexp_extract_all(text, '\\S+')) AS n_tokens FROM documents), " +
        // CAST: DuckDB sum(BIGINT) yields HUGEINT, which pandas floats
        "p AS (SELECT doc_id, n_tokens, COALESCE(CAST(sum(n_tokens) OVER " +
        "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS pre FROM toks) " +
        "SELECT doc_id, n_tokens, pre // 2048 AS pack_id, pre % 2048 AS pack_offset FROM p ORDER BY doc_id")),

    // materialized packs: concat each fixed-length sequence's docs in
    // order — the data-loader end of sample_pack_sequences
    BenchQuery("sample_packed_text", (s, dir) => {
      val toks = t(s, dir, "documents").select(col("doc_id"), col("text"),
        TextAnalysis.tokenCount(col("text")).alias("n_tokens"))
      Sampling.materializePacks(
          Sampling.packSequences(toks, "doc_id", "n_tokens", seqLen = 2048),
          "doc_id", "text")
        .select(col("pack_id"), col("n_docs"),
          md5(col("text").cast("binary")).alias("pack_md5"))
        .orderBy("pack_id")
    }, oracleSql = ("WITH toks AS (SELECT doc_id, text, len(regexp_extract_all(text, '\\S+')) AS n_tokens FROM documents), " +
        "p AS (SELECT doc_id, text, COALESCE(CAST(sum(n_tokens) OVER " +
        "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) // 2048 AS pack_id FROM toks) " +
        "SELECT pack_id, count(*) AS n_docs, " +
        "md5(string_agg(text, chr(10) || chr(10) ORDER BY doc_id)) AS pack_md5 " +
        "FROM p GROUP BY pack_id ORDER BY pack_id")),

    // trained subword tokenizer at REAL vocab scale: 1024 merges in 8
    // BATCHED rounds over the word histogram (top-128 pairs per
    // distributed round, applied in rank order — Bpe.trainBatched), then
    // per-doc subword counts via the COMPILED distinct-word encode
    // kernel (graft.functions.BpeCount: flat plan depth at any merge
    // count) + token-keyed join. The oracle replays the full batched
    // merge SEQUENCE as unrolled round CTEs — a drifted round order,
    // batch boundary, or replace semantics hash-diverges immediately.
    BenchQuery("text_bpe_tokens", (s, dir) => {
      val docs = bpeCorpus(s, dir)
      val merges = graft.ext.Bpe.trainBatched(docs, "text",
        numMerges = 1024, batchSize = 128)
      graft.ext.Bpe.bpeTokenCounts(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    },
      // batched BPE at vocab scale: the unrolled 1024-merge (8-round)
      // training replay, then per-doc subword counts via the same
      // distinct-word encode + join
      oracleSql = (s"WITH ${bpeOracleCtes(1024, 128)} " +
        "SELECT w.doc_id, CAST(sum(w.tf * e.nsym) AS BIGINT) AS n_bpe_tokens " +
        "FROM wt w JOIN enc e ON e.word = w.tok GROUP BY 1 ORDER BY 1")),

    // the packing plane re-run on TRAINED subword counts instead of the
    // regex heuristic — token budgets a real pipeline actually packs by
    BenchQuery("sample_pack_bpe", (s, dir) => {
      val docs = bpeCorpus(s, dir)
      val merges = graft.ext.Bpe.trainBatched(docs, "text",
        numMerges = 1024, batchSize = 128)
      Sampling.packSequences(
        graft.ext.Bpe.bpeTokenCounts(docs, "doc_id", "text", merges)
          .select(col("doc_id"), col("n_bpe_tokens").alias("n_tokens")),
        orderCol = "doc_id", tokensCol = "n_tokens", seqLen = 2048)
        .orderBy("doc_id")
    },
      // packing on TRAINED subword counts: same prefix-sum spelling as
      // sample_pack_sequences over the BPE per-doc totals
      oracleSql = (s"WITH ${bpeOracleCtes(1024, 128)}, " +
        "nb AS (SELECT w.doc_id, CAST(sum(w.tf * e.nsym) AS BIGINT) AS n_tokens " +
        "FROM wt w JOIN enc e ON e.word = w.tok GROUP BY 1), " +
        "p AS (SELECT doc_id, n_tokens, COALESCE(CAST(sum(n_tokens) OVER " +
        "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS pre FROM nb) " +
        "SELECT doc_id, n_tokens, pre // 2048 AS pack_id, pre % 2048 AS pack_offset FROM p ORDER BY doc_id")),

    // training-mix dial: per-language sampling rates as one pushdown
    // filter; md5 family so the oracle replays membership exactly
    BenchQuery("sample_weighted_mix", (s, dir) =>
      Sampling.weightedMix(t(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1, family = "md5")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id"),
      oracleSql = {
        val h = "CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
        s"SELECT doc_id, lang, source FROM documents WHERE $h % 10000 < " +
          "(CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500 ELSE 1000 END) " +
          "ORDER BY doc_id"
      }),

    // int8 embedding quantization fidelity: cosine(original, dequantized)
    // per vector — floor-based codes, so the oracle replays exactly
    BenchQuery("emb_quantize_error", (s, dir) => {
      val emb = Similarity.quantizeI8(t(s, dir, "embeddings"), "embedding")
      emb.select(col("vec_id"),
          round(graft.functions.GraftFunctions.cosine(s, col("embedding"),
            Similarity.dequantize(col("q"), col("q_scale"))), 4).alias("qcos"))
        .orderBy("vec_id")
    }, oracleSql = ("WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, " +
        "CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) > 0 " +
        "THEN 127.0 / list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) " +
        "ELSE 1.0 END AS scale FROM embeddings), " +
        "d AS (SELECT vec_id, v, list_transform(v, x -> floor(x * scale + 0.5) / scale) AS dq FROM q) " +
        "SELECT vec_id, round(list_cosine_similarity(v, dq), 4) AS qcos FROM d ORDER BY vec_id")),

    BenchQuery("sim_cosine_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .orderBy("q_id", "rank")
    }, oracleSql = ("SELECT q_id, rank, n_id, sim FROM (SELECT q.vec_id AS q_id, c.vec_id AS n_id, " +
        "round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 4) AS sim, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
        "list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank " +
        "FROM embeddings q, embeddings c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id) " +
        "WHERE rank <= 5 ORDER BY q_id, rank")),

    {
      def topK(family: String): BenchQuery.Plan = (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
          nCentroids = 16, nprobe = 4, family = family)
          .orderBy("q_id", "rank")
      }
      // md5 hash family for the centroid draw: oracle-replayable
      BenchQuery("sim_ivf_topk", topK("md5"),
        // md5-family IVF replayed in SQL: hash-ordered centroid draw,
        // nearest-centroid cells, nprobe probing, exact cosine rerank
        oracleSql = {
          val H = "CAST(('0x' || substr(md5('0:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)"
          val cs = "list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.c_vec AS DOUBLE[]))"
          s"WITH cents AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings " +
            s"ORDER BY $H ASC, vec_id ASC LIMIT 16), " +
            "cells AS (SELECT e.vec_id AS n_id, e.embedding AS n_vec, c.c_id AS cell " +
            s"FROM embeddings e, cents c QUALIFY row_number() OVER (PARTITION BY e.vec_id " +
            s"ORDER BY $cs DESC, c.c_id ASC) <= 1), " +
            "probes AS (SELECT e.vec_id AS q_id, e.embedding AS q_vec, c.c_id AS cell " +
            s"FROM embeddings e, cents c WHERE e.vec_id < 10 QUALIFY row_number() OVER " +
            s"(PARTITION BY e.vec_id ORDER BY $cs DESC, c.c_id ASC) <= 4) " +
            "SELECT q_id, rank, n_id, sim FROM (SELECT p.q_id, cl.n_id, " +
            "round(list_cosine_similarity(CAST(p.q_vec AS DOUBLE[]), CAST(cl.n_vec AS DOUBLE[])), 4) AS sim, " +
            "row_number() OVER (PARTITION BY p.q_id ORDER BY " +
            "list_cosine_similarity(CAST(p.q_vec AS DOUBLE[]), CAST(cl.n_vec AS DOUBLE[])) DESC, cl.n_id) AS rank " +
            "FROM cells cl JOIN probes p USING (cell) WHERE cl.n_id <> p.q_id) " +
            "WHERE rank <= 5 ORDER BY q_id, rank"
        },
        timed = Some(topK("xxh64")))
    },

    BenchQuery("sim_lsh_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), k = 5, dim = 64)
        .orderBy("q_id", "rank")
    },
      // the hyperplane constants are deterministic (fixed-seed JVM
      // Gaussian) — inline them so the oracle replays the exact LSH:
      // signature bits from sign of list_dot_product, candidates by
      // hamming(bit_count∘xor) ≤ 1, exact cosine rerank
      oracleSql = {
        val planes = graft.ext.Similarity.hyperplanes(64, 12)
        def sig(a: String) = planes.zipWithIndex.map { case (p, i) =>
          s"(CASE WHEN list_dot_product(CAST($a.embedding AS DOUBLE[]), " +
            p.mkString("[", ",", "]") + s") >= 0 THEN ${1L << i} ELSE 0 END)"
        }.mkString("(", " + ", ")")
        "SELECT q_id, rank, n_id, sim FROM (SELECT q.vec_id AS q_id, c.vec_id AS n_id, " +
          "round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 4) AS sim, " +
          "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
          "list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank " +
          "FROM embeddings q, embeddings c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id " +
          s"AND bit_count(xor(${sig("q")}, ${sig("c")})) <= 1) " +
          "WHERE rank <= 5 ORDER BY q_id, rank"
      }),

    // Okapi BM25 retrieval — the LEXICAL leg of hybrid search (more-
    // like-this curation, decontamination screens, RAG serving):
    // queries = every 97th document scored against the full corpus;
    // per-term scores fixed-pointed to micro-longs so the ranking
    // replays exactly (TextAnalysis.bm25TopK scaladoc)
    BenchQuery("text_bm25_topk", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.bm25TopK(docs,
          docs.filter(col("doc_id") % 97 === 0 && col("doc_id") < 1000000L),
          "doc_id", "text", k = 10)
        .orderBy("q_id", "rank")
    }, oracleSql = (s"WITH ${bm25OracleCtes()}, " +
        "ranked AS (SELECT q_id, id, sm, row_number() OVER (PARTITION BY q_id " +
        "ORDER BY sm DESC, id ASC) AS rank FROM bm25agg) " +
        "SELECT q_id, rank, id AS doc_id, round(sm / 1000000.0, 4) AS score " +
        "FROM ranked WHERE rank <= 10 ORDER BY q_id, rank")),

    // hybrid retrieval: BM25 lexical top-10 ∪ exact-cosine vector
    // top-10 over the SAME query ids, reciprocal-rank-fused
    // (Σ 1/(60+rank)), per-query top-5 — both retrieval planes composed
    // into the standard hybrid-search serving shape
    BenchQuery("search_hybrid_rrf", (s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val lex = TextAnalysis.bm25TopK(docs,
          docs.filter(col("doc_id") % 97 === 0 && col("doc_id") < 1000000L),
          "doc_id", "text", k = 10)
        .select(col("q_id"), col("doc_id").alias("id"), col("rank"))
      val vec = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") % 97 === 0 && col("vec_id") < 1000000L), k = 10)
        .select(col("q_id"), col("n_id").alias("id"), col("rank"))
      Similarity.rrfFuse(Seq(lex, vec), k = 5)
        .orderBy("q_id", "rank")
    },
      // hybrid RRF: the exact BM25 micro-long ranking (lexical leg) and
      // the raw-cosine ranking (vector leg, sim_cosine_topk spelling)
      // fused as sum(1.0/(60 + rank)) — ≤ 2 double terms per (q, d),
      // order-independent, ties toward the smaller id
      oracleSql = (s"WITH ${bm25OracleCtes()}, " +
        "lex AS (SELECT q_id, id, rank FROM (SELECT q_id, id, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY sm DESC, id ASC) AS rank FROM bm25agg) WHERE rank <= 10), " +
        "vec AS (SELECT q_id, id, rank FROM (SELECT q.vec_id AS q_id, c.vec_id AS id, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
        "list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, " +
        "c.vec_id) AS rank FROM embeddings q, embeddings c " +
        "WHERE q.vec_id % 97 = 0 AND q.vec_id < 1000000 AND c.vec_id <> q.vec_id) WHERE rank <= 10), " +
        "u AS (SELECT * FROM lex UNION ALL SELECT * FROM vec), " +
        "fused AS (SELECT q_id, id, sum(1.0 / (60.0 + rank)) AS rrf FROM u GROUP BY 1, 2), " +
        "franked AS (SELECT q_id, id, rrf, row_number() OVER (PARTITION BY q_id " +
        "ORDER BY rrf DESC, id ASC) AS rank FROM fused) " +
        "SELECT q_id, rank, id, round(rrf, 6) AS rrf FROM franked WHERE rank <= 5 " +
        "ORDER BY q_id, rank")),

    // PQ ADC top-k with UNTRAINED codebooks (iters = 0): the books ARE
    // the md5-ordered seed draw sliced into subspaces, so every stage —
    // draw, encode argmin, LUT, ADC fold — is byte-replayable by the
    // oracle (Lloyd rounds would add distributed-mean float-order
    // nondeterminism; recall under training is spec-verified instead)
    BenchQuery("sim_pq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val books = Similarity.trainPq(emb, m = 8, ksub = 16, iters = 0, family = "md5")
      Similarity.pqTopKWithBooks(emb, emb.filter(col("vec_id") < 10), k = 5, books)
        .orderBy("q_id", "rank")
    },
      // PQ replayed in SQL (iters = 0 → codebooks ARE the md5-ordered
      // seed draw sliced into m=8 subspaces of dsub=8): per-subspace
      // argmin encode, query LUT (subdot / |q|), ADC fold over the code
      // bytes. Every floating-point sum is spelled in the kernel's
      // exact left-associated fold order (t ascending within a
      // subspace, i ascending for |q|, j ascending for the ADC via an
      // ORDER BY j list) so ties and round-4 boundaries agree.
      oracleSql = pqOracleSql(ivf = false)),

    // composed IVF-PQ serving shape: md5 coarse draw routes cells, the
    // same seed draw (sliced) quantizes — codes + LUT + ADC replayed in
    // SQL over the probed cells only
    BenchQuery("sim_ivfpq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
        nCentroids = 16, nprobe = 4, m = 8, ksub = 16, iters = 0, family = "md5")
        .orderBy("q_id", "rank")
    },
      // composed IVF-PQ: the same md5 draw routes coarse cells
      // (cosine-nearest, the sim_ivf_topk spelling) AND quantizes;
      // candidates are the probed cells' codes, ADC-scored
      oracleSql = pqOracleSql(ivf = true)),

    BenchQuery("mm_meta", (s, dir) =>
      Multimodal.pack(t(s, dir, "documents"), "doc_id", col("text"), "text")
        .select(col("media_id"), col("meta.byte_len").alias("byte_len"),
          col("meta.content_md5").alias("content_md5"))
        .orderBy("media_id"),
      oracleSql = ("SELECT doc_id AS media_id, octet_length(encode(text)) AS byte_len, " +
        "md5(text) AS content_md5 FROM documents ORDER BY 1")),

    BenchQuery("mm_frames", (s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.pack(t(s, dir, "documents"), "doc_id", col("text"), "video"))
        .orderBy("media_id", "frame_idx"),
      // data invariant: documents.text is pure ASCII at every SF (verified:
      // octet_length(encode(text)) == length(text) for all rows), so the
      // VARCHAR substring below equals the byte-slice Spark computes
      oracleSql = ("SELECT doc_id AS media_id, (u.n - 1) AS frame_idx, " +
        "md5(substring(text, ((u.n-1)*32+1)::BIGINT, 32)) AS frame_md5 " +
        "FROM documents, UNNEST(range(1, greatest(CAST(ceil(octet_length(encode(text))/32.0) AS BIGINT), 1) + 1)) AS u(n) " +
        "ORDER BY 1, 2")),

    BenchQuery("mm_features", (s, dir) =>
      Multimodal.extractFeatures(
        Multimodal.pack(t(s, dir, "documents").filter(length(col("text")) > 0),
          "doc_id", col("text"), "image"))
        .select((col("media_id") +:
          (0 until 8).map(j => element_at(col("feature"), j + 1).alias(s"f$j")))
          :+ col("decode"): _*)
        .orderBy("media_id"),
      // the stub decode kernel is position-residue byte sums — ANSI-
      // expressible over the (all-ASCII) documents corpus
      oracleSql = "SELECT doc_id AS media_id, CAST(COALESCE(sum(CASE WHEN (u.n-1)%8=0 THEN ord(substr(text, u.n::INT, 1)) END), 0) AS DOUBLE) AS f0, CAST(COALESCE(sum(CASE WHEN (u.n-1)%8=1 THEN ord(substr(text, u.n::INT, 1)) END), 0) AS DOUBLE) AS f1, CAST(COALESCE(sum(CASE WHEN (u.n-1)%8=2 THEN ord(substr(text, u.n::INT, 1)) END), 0) AS DOUBLE) AS f2, CAST(COALESCE(sum(CASE WHEN (u.n-1)%8=3 THEN ord(substr(text, u.n::INT, 1)) END), 0) AS DOUBLE) AS f3, CAST(COALESCE(sum(CASE WHEN (u.n-1)%8=4 THEN ord(substr(text, u.n::INT, 1)) END), 0) AS DOUBLE) AS f4, CAST(COALESCE(sum(CASE WHEN (u.n-1)%8=5 THEN ord(substr(text, u.n::INT, 1)) END), 0) AS DOUBLE) AS f5, CAST(COALESCE(sum(CASE WHEN (u.n-1)%8=6 THEN ord(substr(text, u.n::INT, 1)) END), 0) AS DOUBLE) AS f6, CAST(COALESCE(sum(CASE WHEN (u.n-1)%8=7 THEN ord(substr(text, u.n::INT, 1)) END), 0) AS DOUBLE) AS f7, 'stub' AS decode FROM documents, UNNEST(range(1, length(text)+1)) AS u(n) WHERE length(text) > 0 GROUP BY 1 ORDER BY 1"),

    // REAL image decode + box-filter resize, oracle-replayable: each doc
    // becomes a deterministic grayscale BMP (side 8/16/24 by doc_id%3)
    // whose pixel formula the oracle re-derives arithmetically — the
    // 8x8 luma grid is uniform s x s box averages, bit-identical on
    // both engines (same IEEE fold order, integer box bounds)
    BenchQuery("mm_resize", (s, dir) => {
      import s.implicits._
      val imgs = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val side = 8 * (1 + (id % 3).toInt)
          (id, Multimodal.syntheticBmp(id, side, side))
        }.toDF("doc_id", "img")
      // sort BEFORE the 64× explode: the global range sort over 30k
      // image rows costs a fraction of the same sort over 1.9M cell
      // rows, and the final order is identical — generators emit rows
      // in partition order and cells in position order, so
      // orderBy(media_id) → posexplode ≡ posexplode → orderBy(media_id,
      // cell). Measured sf0.1: 1.5 → 0.9 s.
      Multimodal.resizeImages(Multimodal.pack(imgs, "doc_id", col("img"), "image"))
        .orderBy("media_id")
        .select(col("media_id"), col("width"), col("height"), col("decode"),
          posexplode(col("grid")))
        .select(col("media_id"), col("width"), col("height"),
          col("pos").alias("cell"), round(col("col"), 4).alias("luma"),
          col("decode"))
    },
      // box-filter resize replay: each doc's synthetic BMP pixel
      // formula (gray = (doc_id + y*w + x) mod 256, r=g=b) is
      // re-derived arithmetically per size class (side 8/16/24 by
      // doc_id%3 → uniform s x s boxes); cell sums spelled in the
      // kernel's row-major left-assoc order, luma as 0.299g+0.587g+0.114g
      oracleSql = {
        val branches = (0 until 3).map { sc =>
          val s = sc + 1; val w = 8 * s
          val terms = (for (dy <- 0 until s; dx <- 0 until s) yield {
            val g = s"CAST((d.doc_id + (c.ty*$s + $dy)*$w + (c.tx*$s + $dx)) % 256 AS DOUBLE)"
            s"(0.299*$g + 0.587*$g + 0.114*$g)"
          }).mkString(" + ")
          s"SELECT d.doc_id AS media_id, $w AS width, $w AS height, c.cell, " +
            s"round(($terms) / ${s * s}.0, 4) AS luma, 'image' AS decode " +
            s"FROM documents d, cells c WHERE d.doc_id % 3 = $sc"
        }
        "WITH cells AS (SELECT CAST(ty*8 + tx AS INT) AS cell, ty, tx " +
          "FROM range(8) a(ty), range(8) b(tx)) " +
          branches.mkString(" UNION ALL ") + " ORDER BY media_id, cell"
      }),

    // PII redaction (the Dolma-style pre-training scrub): synthetic
    // emails / IPs / phone numbers are planted deterministically, then
    // scrubbed + counted in one codegen'd projection — no shuffle at all
    // beyond the output sort
    BenchQuery("text_pii_scrub", (s, dir) => {
      val planted = piiCorpus(s, dir)
      val c = TextAnalysis.piiCounts(col("text"))
      planted.select(col("doc_id"),
          c.getField("emails").alias("n_email"),
          c.getField("ips").alias("n_ip"),
          c.getField("phones").alias("n_phone"),
          md5(TextAnalysis.scrubPii(col("text")).cast("binary")).alias("scrub_md5"))
        .orderBy("doc_id")
    },
      // PII scrub replay: identical plant expression, identical RE2/Java-
      // compatible patterns, counts taken on the progressively-scrubbed
      // text exactly as TextAnalysis.piiCounts chains them
      oracleSql = {
        val plant = "text || " +
          "(CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END) || " +
          "(CASE WHEN doc_id % 5 = 0 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' ELSE '' END) || " +
          "(CASE WHEN doc_id % 7 = 0 THEN ' call +1 555-014-2222' ELSE '' END)"
        // NOTE: DuckDB single-quoted strings take backslashes literally,
        // so the Java pattern embeds verbatim — only quotes need escaping
        val pats = graft.ext.TextAnalysis.piiPatterns.map(_._1)
          .map(_.replace("'", "''"))
        val repls = graft.ext.TextAnalysis.piiPatterns.map(_._2)
        s"WITH corpus AS (SELECT doc_id, $plant AS text FROM documents), " +
          s"s1 AS (SELECT doc_id, len(regexp_extract_all(text, '${pats(0)}')) AS n_email, " +
          s"regexp_replace(text, '${pats(0)}', '${repls(0)}', 'g') AS text FROM corpus), " +
          s"s2 AS (SELECT doc_id, n_email, len(regexp_extract_all(text, '${pats(1)}')) AS n_ip, " +
          s"regexp_replace(text, '${pats(1)}', '${repls(1)}', 'g') AS text FROM s1), " +
          s"s3 AS (SELECT doc_id, n_email, n_ip, len(regexp_extract_all(text, '${pats(2)}')) AS n_phone, " +
          s"regexp_replace(text, '${pats(2)}', '${repls(2)}', 'g') AS text FROM s2) " +
          "SELECT doc_id, n_email, n_ip, n_phone, md5(text) AS scrub_md5 FROM s3 ORDER BY doc_id"
      }),

    // domain-level curation signal: URLs planted deterministically (the
    // pii-scrub convention), extracted + grouped by lowercased host —
    // the per-domain quota/blocklist aggregation, one codegen'd
    // projection + one narrow groupBy
    BenchQuery("text_domains", (s, dir) => {
      val planted = t(s, dir, "documents").withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" visit http://example.com/page"),
              col("doc_id").cast("string"), lit(" now")))
            .when(col("doc_id") % 3 === 1,
              lit(" see https://Data.Example.org/x?q=1 there"))
            .otherwise(lit(""))))
      planted
        .select(col("doc_id"), explode(TextAnalysis.urls(col("text"))).alias("url"))
        .groupBy(TextAnalysis.host(col("url")).alias("domain"))
        .agg(count(lit(1)).alias("n_urls"),
          count_distinct(col("doc_id")).alias("n_docs"))
        .orderBy("domain")
    }, oracleSql = ("WITH planted AS (SELECT doc_id, text || CASE " +
        "WHEN doc_id % 3 = 0 THEN ' visit http://example.com/page' || CAST(doc_id AS VARCHAR) || ' now' " +
        "WHEN doc_id % 3 = 1 THEN ' see https://Data.Example.org/x?q=1 there' " +
        "ELSE '' END AS text FROM documents), " +
        "u AS (SELECT doc_id, unnest(regexp_extract_all(text, 'https?://\\S+')) AS url FROM planted) " +
        "SELECT lower(regexp_extract(url, 'https?://([^/\\s:?#]+)', 1)) AS domain, " +
        "count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs " +
        "FROM u GROUP BY 1 ORDER BY 1")),

    // per-doc TF-IDF top-5 keywords: shared normTokens tokenization,
    // smoothed idf, lexicographic tie-break — fully deterministic
    BenchQuery("text_tfidf_topk", (s, dir) =>
      TextAnalysis.tfidfTopK(t(s, dir, "documents"), "doc_id", "text", k = 5)
        .select(col("id").alias("doc_id"), col("rank").cast("long").alias("rank"),
          col("term"), col("score"))
        .orderBy("doc_id", "rank"),
      oracleSql = ("WITH toks AS (SELECT doc_id, list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), '\\s+'), x -> length(x) > 0) AS tk FROM documents), " +
        "terms AS (SELECT doc_id, unnest(tk) AS term FROM toks), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2), " +
        "dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
        "nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents), " +
        "scored AS (SELECT doc_id, term, round(tf * (ln((nd.n + 1) / (df + 1.0)) + 1.0), 4) AS score " +
        "FROM tf JOIN dfreq USING (term) CROSS JOIN nd), " +
        "ranked AS (SELECT doc_id, term, score, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank FROM scored) " +
        "SELECT doc_id, rank, term, score FROM ranked WHERE rank <= 5 ORDER BY doc_id, rank")),

    // corpus bigram frequency table: shared normTokens spelling,
    // NON-distinct grams (counts, not dedup shingles), count-desc +
    // lexicographic tie-break top-40
    BenchQuery("text_ngram_counts", (s, dir) =>
      TextAnalysis.ngramCounts(t(s, dir, "documents"), "text", n = 2, topN = 40)
        .orderBy(col("count").desc, col("ngram").asc),
      oracleSql = ("WITH toks AS (SELECT list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), '\\s+'), x -> length(x) > 0) AS tk FROM documents), " +
        "grams AS (SELECT concat_ws(' ', tk[n], tk[n+1]) AS ngram " +
        "FROM toks, UNNEST(range(1, greatest(len(tk) - 1, 0) + 1)) AS u(n) WHERE len(tk) >= 2) " +
        "SELECT ngram, count(*) AS count FROM grams GROUP BY 1 " +
        "ORDER BY count DESC, ngram ASC LIMIT 40")),

    // PMI bigram collocations: minCount=5 floor, ln((c12/T2)/((c1/T1)^2
    // shape)) rounded to 4, pmi-desc + (w1, w2) tie-break top-40
    BenchQuery("text_pmi_bigrams", (s, dir) =>
      TextAnalysis.pmiBigrams(t(s, dir, "documents"), "text",
          minCount = 5, topN = 40)
        .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc),
      oracleSql = ("WITH toks AS (SELECT list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), '\\s+'), x -> length(x) > 0) AS tk FROM documents), " +
        "terms AS (SELECT unnest(tk) AS term FROM toks), " +
        "uni AS (SELECT term, count(*) AS c1 FROM terms GROUP BY 1), " +
        "bi_all AS (SELECT concat_ws(' ', tk[n], tk[n+1]) AS bigram " +
        "FROM toks, UNNEST(range(1, greatest(len(tk) - 1, 0) + 1)) AS u(n) WHERE len(tk) >= 2), " +
        "biagg AS (SELECT bigram, count(*) AS c12 FROM bi_all GROUP BY 1), " +
        "tot AS (SELECT (SELECT CAST(sum(c1) AS DOUBLE) FROM uni) AS t1, " +
        "(SELECT CAST(sum(c12) AS DOUBLE) FROM biagg) AS t2), " +
        "bi AS (SELECT bigram, c12, string_split(bigram, ' ')[1] AS w1, " +
        "string_split(bigram, ' ')[2] AS w2 FROM biagg WHERE c12 >= 5) " +
        "SELECT w1, w2, c12 AS count, " +
        "round(ln((c12 / t2) / ((ca.c1 / t1) * (cb.c1 / t1))), 4) AS pmi " +
        "FROM bi CROSS JOIN tot JOIN uni ca ON ca.term = bi.w1 JOIN uni cb ON cb.term = bi.w2 " +
        "ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 40")),

    // C4 cleaning rules as one shuffle-free projection: line retention
    // (terminal punctuation, >= 3 words, no "javascript") + page gates
    // (no lorem ipsum, no curly brace, >= 1 surviving line)
    BenchQuery("text_c4_filters", (s, dir) => {
      val c = TextAnalysis.c4Filters(col("text"))
      c4Corpus(s, dir).select(col("doc_id"),
          c.getField("n_lines").cast("long").alias("n_lines"),
          c.getField("n_kept").cast("long").alias("n_kept"),
          c.getField("keep").alias("keep"),
          md5(c.getField("clean").cast("binary")).alias("clean_md5"))
        .orderBy("doc_id")
    }, oracleSql = ("WITH corpus AS (SELECT doc_id, 'This is well formed sentence number ' || CAST(doc_id AS VARCHAR) || ' of the corpus.' || " +
        "chr(10) || text || " +
        "(CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'click here' ELSE '' END) || " +
        "(CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'Please enable javascript to continue.' ELSE '' END) || " +
        "(CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'Generated from lorem ipsum filler text.' ELSE '' END) || " +
        "(CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'function f() { return 1; }' ELSE '' END) AS text FROM documents), " +
        "k AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls, " +
        "list_filter(string_split(text, chr(10)), x -> regexp_matches(x, '[.!?\"]$') " +
        "AND len(string_split_regex(trim(x), '\\s+')) >= 3 " +
        "AND NOT contains(lower(x), 'javascript')) AS kept FROM corpus) " +
        "SELECT doc_id, len(ls) AS n_lines, len(kept) AS n_kept, " +
        "(NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{') AND len(kept) >= 1) AS keep, " +
        "md5(array_to_string(kept, chr(10))) AS clean_md5 " +
        "FROM k ORDER BY doc_id"))
  )
}

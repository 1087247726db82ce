package graft

import graft.api._
import graft.builder._
import graft.ext.{Dedup, TextAnalysis}
import graft.store.views._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries._

/** Driver contract: every operator from SURVEY.md §2 exposed as a named
  * query over the TESTDATA tables, with a DuckDB-equivalent oracle SQL
  * where the semantics are ANSI-expressible.
  *
  * Determinism rules (oracle hash-match): explicit total ORDER BY with
  * unique tie-breaks on every query; float aggregation only through
  * fixed-point scaled-LONG sums (see [[fxSum]] — order-independent exact
  * sums, DOUBLE output, never DECIMAL); `round(x, 4)` only on values
  * whose computation is sequentially-folded identically in both
  * engines; raw `events.ts` (ns in parquet, µs in Spark) never output.
  */
object SparkEntry {

  /** Exact, engine-independent float aggregation: scale each value to a
    * fixed-point LONG (`round` is half-away-from-zero in both Spark
    * [HALF_UP] and DuckDB [std::round], so even exact-tie doubles agree),
    * sum the LONGs (exact, order-independent — safe under partial aggs
    * and AQE re-ordering), then one double division at the end.
    *
    * The output stays DOUBLE — never DECIMAL: a DECIMAL output column is
    * rendered `Decimal("123.40")` by pyarrow reading Spark's parquet but
    * `123.4` (float64) coming out of DuckDB, so the driver's
    * string-hash compare flags it even when the values are identical
    * (root cause of round-1's 8 hash_match failures). */
  private[graft] def fxSum(c: Column, scale: Long): Column =
    sum(round(c * scale).cast("long")) / scale.toDouble

  /** DuckDB twin of [[fxSum]]; outer CAST because DuckDB sum(BIGINT) is
    * HUGEINT, which pandas renders as object — BIGINT/DOUBLE is uniform. */
  private[graft] def fxSumSql(x: String, scale: Long): String =
    s"CAST(sum(CAST(round(($x) * $scale) AS BIGINT)) AS BIGINT) / $scale.0"

  /** Windowed variant: `over` is e.g. "OVER w". */
  private[graft] def fxSumOverSql(x: String, scale: Long, over: String): String =
    s"CAST(sum(CAST(round(($x) * $scale) AS BIGINT)) $over AS BIGINT) / $scale.0"

  private[graft] def t(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")

  /** BM25 replay CTEs shared by the `text_bm25_topk` and
    * `search_hybrid_rrf` oracles: tokenize → tf/dl/df → one-row corpus
    * stats → per-term micro-long scores in the ENGINE'S exact double-op
    * order (see TextAnalysis.bm25TopK) → exact long per-(query, doc)
    * sums in `bm25agg(q_id, id, sm)`. k1 = 1.2, b = 0.75, queries =
    * doc_id % `qmod` bounded to the original-id range (< 1e6): the
    * query WORKLOAD stays fixed while the scale-copy corpus (ids
    * offset by ≥ 3.4M) grows — retrieval cost scales with the corpus,
    * not quadratically with corpus × queries. */
  private[graft] def bm25OracleCtes(qmod: Int = 97, src: String = "documents"): String =
    s"toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(regexp_replace(lower(text), " +
      "'[^a-z0-9]+', ' ', 'g'), '\\s+'), x -> length(x) > 0)) AS term FROM " + src + "), " +
      "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2), " +
      "dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1), " +
      "dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
      s"stats AS (SELECT CAST((SELECT count(*) FROM $src) AS DOUBLE) AS n, " +
      "CAST((SELECT sum(dl) FROM dl) AS DOUBLE) AS sumdl), " +
      s"qt AS (SELECT DISTINCT doc_id AS q_id, term FROM toks WHERE doc_id % $qmod = 0 AND doc_id < 1000000), " +
      "bm25scored AS (SELECT qt.q_id, tf.doc_id AS id, " +
      "CAST(floor(ln(1.0 + (s.n - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1.0)) / " +
      "(tf + (dl.dl / (s.sumdl / s.n) * 0.75 + (1.0 - 0.75)) * 1.2) * 1000000.0 + 0.5) AS BIGINT) AS sm " +
      "FROM tf JOIN qt USING (term) JOIN dfreq USING (term) " +
      "JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s WHERE tf.doc_id <> qt.q_id), " +
      "bm25agg AS (SELECT q_id, id, CAST(sum(sm) AS BIGINT) AS sm FROM bm25scored GROUP BY 1, 2)"

  /** events.ts has shipped as both TIMESTAMP(NANOS) and TIMESTAMP_MICROS
    * across testdata generations, so branch on the loaded type rather
    * than assuming either. NANOS (which Spark 4 refuses to read
    * natively) arrives as LONG under `nanosAsLong` and is truncated to
    * µs with integer division (never float — ns epochs exceed 2^53);
    * MICROS reads natively as a timestamp and is used as-is, matching
    * the DuckDB oracle. Every query over events is designed so µs
    * truncation cannot change results. */
  private[graft] def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** near-duplicate corpus: every 10th doc gets a perturbed twin. */
  private[graft] def nearDupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).alias("doc_id"),
        concat(col("text"), lit(" zzz near dup suffix")).alias("text")))
  }

  /** Presentation sort for BOUNDED result sets (threshold-filtered pair
    * tables): one sorted partition instead of a global orderBy. A range
    * sort SAMPLES its child to pick partition bounds, which re-executes
    * the final stage — for the sketch pipelines that stage is the
    * candidate-pair aggregate/verify join over millions of rows
    * (measured: dedup_ngram_jaccard's 1.78M-row pair aggregate ran
    * twice, +0.5 s at sf0.1; window_sessionize's 100k-event
    * session_window aggregate likewise). Qualifying outputs are small
    * against their child's input — threshold-filtered pairs, session
    * rollups — so the single-partition shuffle+sort is O(output) and
    * cheaper than re-running the child, and the row order is identical
    * to orderBy(cols). Library operators stay unsorted — ordering is
    * this harness's presentation concern only. */
  private[graft] def sortedPairs(df: DataFrame, cols: String*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols.head, cols.tail: _*)

  /** Arithmetic dHash replay of the synthetic-cell-BMP image corpus
    * (shared by `dedup_images` and its streaming twin): cell luma from
    * the md5 formula, the perturbed-twin flip, the 56-bit dHash pack,
    * 4×16-bit band candidates with the 1000-member cap. Ends at
    * `corpus`, `sigs`, `cand` for the caller's hamming verify. */
  private[graft] val imageOracleCtes: String = {
    val g = "CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || " +
      "CAST(c.cell AS VARCHAR)), 1, 15)) AS BIGINT) % 256"
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, (sig >> ${16 * b}) & 65535 AS bucket FROM sigs")
      .mkString(" UNION ALL ")
    "cells AS (SELECT CAST(cy*8 + cx AS INT) AS cell, cy, cx " +
      "FROM range(8) a(cy), range(8) b(cx)), " +
      "corpus AS (SELECT doc_id, doc_id AS seed, FALSE AS pert FROM documents " +
      "UNION ALL SELECT doc_id + 1000000, doc_id, TRUE FROM documents WHERE doc_id % 10 = 0), " +
      s"grid AS (SELECT d.doc_id, c.cy, c.cx, CASE WHEN d.pert AND c.cell = 0 " +
      s"THEN (($g) + 128) % 256 ELSE $g END AS v FROM corpus d, cells c), " +
      "sigs AS (SELECT g1.doc_id, CAST(sum(CASE WHEN g2.v > g1.v " +
      "THEN (CAST(1 AS BIGINT) << (g1.cy*7 + g1.cx)) ELSE 0 END) AS BIGINT) AS sig " +
      "FROM grid g1 JOIN grid g2 ON g2.doc_id = g1.doc_id AND g2.cy = g1.cy " +
      "AND g2.cx = g1.cx + 1 WHERE g1.cx < 7 GROUP BY 1), " +
      s"banded AS ($bandSelects), " +
      "capped AS (SELECT * FROM banded QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 1000), " +
      "cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM capped x " +
      "JOIN capped y USING (band, bucket) WHERE x.doc_id < y.doc_id)"
  }

  /** Labeled quality-classifier corpus: every doc_id % 5 == 0 doc gets
    * a spam suffix planted and label 0; the rest are label 1 (the
    * corpus has no natural quality signal, so the fixture plants one —
    * the piiCorpus pattern). */
  private[graft] def clfCorpus(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(col("doc_id"),
      concat(col("text"), when(col("doc_id") % 5 === 0,
        lit(" click here free win money now")).otherwise(lit("")))
        .alias("text"),
      when(col("doc_id") % 5 === 0, lit(0)).otherwise(lit(1)).alias("label"))

  private[graft] val clfCorpusSql =
    "(SELECT doc_id, text || CASE WHEN doc_id % 5 = 0 THEN " +
      "' click here free win money now' ELSE '' END AS text, " +
      "CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 1 END AS label FROM documents)"

  private[graft] def clfOracleSql(b: Int, corpus: String = clfCorpusSql): String = {
    val bucket = s"CAST(('0x' || substr(md5('0:' || tg), 1, 15)) AS BIGINT) % $b"
    s"WITH clf AS $corpus, " +
      "tok AS (SELECT doc_id, label, list_filter(string_split_regex(" +
      "regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), '\\s+'), " +
      "x -> length(x) > 0) AS ts FROM clf), " +
      // tagged unigrams + adjacent bigrams — the UniBigramTagged kernel
      "tagged AS (SELECT doc_id, label, unnest(list_concat(" +
      "list_transform(ts, x -> 'u ' || x), " +
      "list_transform(range(1, len(ts)), i -> 'b ' || ts[i] || ' ' || ts[i+1]))) AS tg FROM tok), " +
      s"feat AS (SELECT doc_id, label, $bucket AS bucket FROM tagged), " +
      "tf AS (SELECT doc_id, bucket, count(*) AS tf FROM feat GROUP BY 1, 2), " +
      "train AS (SELECT bucket, sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS c0, " +
      "sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS c1 FROM feat WHERE doc_id % 2 = 0 GROUP BY 1), " +
      "tot AS (SELECT CAST(sum(c0) AS DOUBLE) AS t0, CAST(sum(c1) AS DOUBLE) AS t1, " +
      "CAST((SELECT count(*) FROM clf WHERE doc_id % 2 = 0 AND label = 0) AS BIGINT) AS n0, " +
      "CAST((SELECT count(*) FROM clf WHERE doc_id % 2 = 0 AND label = 1) AS BIGINT) AS n1 FROM train), " +
      s"w AS (SELECT bucket, CAST(floor((ln((c1 + 1.0) / (t1 + $b)) - " +
      s"ln((c0 + 1.0) / (t0 + $b))) * 1000000.0 + 0.5) AS BIGINT) AS wl FROM train, tot), " +
      s"cons AS (SELECT CAST(floor(ln((n1 + 1.0) / (n0 + 1.0)) * 1000000.0 + 0.5) AS BIGINT) AS prior, " +
      s"CAST(floor((ln(1.0 / (t1 + $b)) - ln(1.0 / (t0 + $b))) * 1000000.0 + 0.5) AS BIGINT) AS miss FROM tot), " +
      "sc AS (SELECT tf.doc_id, CAST(sum(tf.tf * coalesce(w.wl, cons.miss)) AS BIGINT) AS s " +
      "FROM tf LEFT JOIN w USING (bucket) CROSS JOIN cons WHERE tf.doc_id % 2 = 1 GROUP BY 1) " +
      "SELECT c.doc_id, round((coalesce(sc.s, 0) + cons.prior) / 1000000.0, 4) AS q_score, " +
      "CAST((coalesce(sc.s, 0) + cons.prior) > 0 AS INT) AS pred " +
      "FROM clf c LEFT JOIN sc ON sc.doc_id = c.doc_id CROSS JOIN cons " +
      "WHERE c.doc_id % 2 = 1 ORDER BY c.doc_id"
  }

  /** The `pipeline_curate` corpus: every stage of the curation chain
    * gets a DISCRIMINATIVE planted feature —
    *  - a well-formed ≥20-word lead sentence (so C4/Gopher keep the
    *    page) whose every 13-token window contains a doc-keyed token
    *    (so decontamination only fires on true eval membership);
    *  - the raw text as a terminated line (C4 keeps it; its random
    *    words carry the doc's lexical identity);
    *  - `%4`: an unterminated "click here" junk line (C4 drops the
    *    LINE, keeps the doc); `%17`: lorem ipsum (C4 drops the PAGE);
    *    `%13`: a curly-brace code line (C4 drops the PAGE);
    *  - `%7`: a well-formed spam line + `label = 0` (the classifier
    *    gate's planted negative class);
    *  - `%19 == 2`: the whole page replaced by a constant 25-word
    *    duplicate (exact-dedup's planted group; label 1, no other
    *    plants). */
  private[graft] def curateCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    val idStr = col("doc_id").cast("string")
    val dupPage = lit("This exact duplicated page appears verbatim many " +
      "times across the whole corpus and is intentionally long enough to " +
      "satisfy every heuristic quality gate applied today.")
    val normal = concat(
      lit("This is a well formed and carefully written sentence number "),
      idStr, lit(" of the corpus crafted for document "), idStr,
      lit(" with twenty or more words total."),
      lit("\n"), col("text"), lit(" end."),
      when(col("doc_id") % 4 === 0, lit("\nclick here")).otherwise(lit("")),
      when(col("doc_id") % 17 === 0,
        lit("\nGenerated from lorem ipsum filler text.")).otherwise(lit("")),
      when(col("doc_id") % 13 === 0,
        lit("\nfunction f() { return 1; }")).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        lit("\nWin money free click here now today please fast."))
        .otherwise(lit("")))
    // %23 == 3: a well-formed but SHORT page — C4 keeps it (terminated,
    // ≥3 words, no page poison) and Gopher's 20-word floor drops it,
    // so the heuristic gate is non-vacuous too
    val shortPage = lit("This tiny page is honestly much too short.")
    d.select(col("doc_id"), col("lang"),
      when(col("doc_id") % 19 === 2, dupPage)
        .when(col("doc_id") % 23 === 3, shortPage)
        .otherwise(normal).alias("text"),
      when(col("doc_id") % 7 === 0 && col("doc_id") % 19 =!= 2 &&
          col("doc_id") % 23 =!= 3, lit(0))
        .otherwise(lit(1)).alias("label"))
  }

  /** Byte-identical DuckDB twin of [[curateCorpus]]. */
  private[graft] val curateCorpusSql =
    "(SELECT doc_id, lang, CASE WHEN doc_id % 19 = 2 THEN " +
      "'This exact duplicated page appears verbatim many times across the whole corpus and is intentionally long enough to satisfy every heuristic quality gate applied today.' " +
      "WHEN doc_id % 23 = 3 THEN 'This tiny page is honestly much too short.' " +
      "ELSE 'This is a well formed and carefully written sentence number ' || CAST(doc_id AS VARCHAR) || " +
      "' of the corpus crafted for document ' || CAST(doc_id AS VARCHAR) || ' with twenty or more words total.' || " +
      "chr(10) || text || ' end.' || " +
      "(CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'click here' ELSE '' END) || " +
      "(CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'Generated from lorem ipsum filler text.' ELSE '' END) || " +
      "(CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'function f() { return 1; }' ELSE '' END) || " +
      "(CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'Win money free click here now today please fast.' ELSE '' END) END AS text, " +
      "CASE WHEN doc_id % 7 = 0 AND doc_id % 19 <> 2 AND doc_id % 23 <> 3 THEN 0 ELSE 1 END AS label " +
      "FROM documents)"

  /** The full curation-chain replay (C4 → Gopher → NB classifier gate →
    * exact dedup → 13-gram decontamination → weighted mix → sequence
    * packing), every stage in the engine kernel's exact spelling — the
    * composition of the per-stage oracles already proven row by row
    * (`text_c4_filters`, `text_gopher_rules`, `text_quality_clf`,
    * `dedup_exact`, `decon_ngram_overlap`, `sample_weighted_mix`,
    * `sample_pack_sequences`). */
  private[graft] def curateOracleSql: String = {
    val toks = (src: String) =>
      s"list_filter(string_split_regex(regexp_replace(lower($src), '[^a-z0-9]+', ' ', 'g'), '\\s+'), x -> length(x) > 0)"
    val bucket = s"CAST(('0x' || substr(md5('0:' || tg), 1, 15)) AS BIGINT) % 1024"
    val tags = "unnest(list_concat(list_transform(ts, x -> 'u ' || x), " +
      "list_transform(range(1, len(ts)), i -> 'b ' || ts[i] || ' ' || ts[i+1]))) AS tg"
    val win13 = (0 until 13).map(i => s"tk[n+$i]").mkString(", ")
    val mixHash = "CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    s"WITH cur AS MATERIALIZED $curateCorpusSql, " +
      // stage 1: C4 line retention + page gates; clean text flows on
      "k AS MATERIALIZED (SELECT doc_id, lang, text, list_filter(string_split(text, chr(10)), " +
      "x -> regexp_matches(x, '[.!?\"]$') AND len(string_split_regex(trim(x), '\\s+')) >= 3 " +
      "AND NOT contains(lower(x), 'javascript')) AS kept FROM cur), " +
      "c4 AS MATERIALIZED (SELECT doc_id, lang, array_to_string(kept, chr(10)) AS clean FROM k " +
      "WHERE NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{') AND len(kept) >= 1), " +
      // stage 2: Gopher heuristics over the cleaned text (minWords 20)
      "gm AS (SELECT doc_id, lang, clean, len(ws) AS n, " +
      "CASE WHEN len(ws) > 0 THEN CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws) ELSE 0.0 END AS mean_len, " +
      "len(regexp_extract_all(clean, '#|\\.\\.\\.|…')) AS syms, " +
      "len(regexp_extract_all(lower(clean), '\\S*[a-z]\\S*')) AS alpha " +
      "FROM (SELECT doc_id, lang, clean, regexp_extract_all(lower(clean), '\\S+') AS ws FROM c4)), " +
      "g AS MATERIALIZED (SELECT doc_id, lang, clean FROM gm WHERE (n >= 20 AND n <= 100000) " +
      "AND (mean_len >= 3.0 AND mean_len <= 10.0) " +
      "AND (CASE WHEN n > 0 THEN CAST(syms AS DOUBLE) / n <= 0.1 ELSE FALSE END) " +
      "AND (CASE WHEN n > 0 THEN CAST(alpha AS DOUBLE) / n >= 0.8 ELSE FALSE END)), " +
      // stage 3: NB classifier — train on the raw labeled corpus, score
      // the cleaned survivors, gate on the 4-dp rounded score
      s"ttg AS (SELECT label, $tags FROM (SELECT label, ${toks("text")} AS ts FROM cur)), " +
      s"train AS (SELECT $bucket AS bucket, sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS c0, " +
      "sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS c1 FROM ttg GROUP BY 1), " +
      "tot AS (SELECT CAST(sum(c0) AS DOUBLE) AS t0, CAST(sum(c1) AS DOUBLE) AS t1, " +
      "(SELECT count(*) FROM cur WHERE label = 0) AS n0, (SELECT count(*) FROM cur WHERE label = 1) AS n1 FROM train), " +
      "w AS (SELECT bucket, CAST(floor((ln((c1 + 1.0) / (t1 + 1024)) - ln((c0 + 1.0) / (t0 + 1024))) * 1000000.0 + 0.5) AS BIGINT) AS wl FROM train, tot), " +
      "cons AS (SELECT CAST(floor(ln((n1 + 1.0) / (n0 + 1.0)) * 1000000.0 + 0.5) AS BIGINT) AS prior, " +
      "CAST(floor((ln(1.0 / (t1 + 1024)) - ln(1.0 / (t0 + 1024))) * 1000000.0 + 0.5) AS BIGINT) AS miss FROM tot), " +
      s"stf AS (SELECT doc_id, $bucket AS bucket, count(*) AS tf FROM " +
      s"(SELECT doc_id, $tags FROM (SELECT doc_id, ${toks("clean")} AS ts FROM g)) GROUP BY 1, 2), " +
      "sc AS (SELECT stf.doc_id, CAST(sum(stf.tf * coalesce(w.wl, cons.miss)) AS BIGINT) AS sv " +
      "FROM stf LEFT JOIN w USING (bucket) CROSS JOIN cons GROUP BY 1), " +
      "q AS MATERIALIZED (SELECT g.doc_id, g.lang, g.clean FROM g LEFT JOIN sc ON sc.doc_id = g.doc_id CROSS JOIN cons " +
      "WHERE round((coalesce(sc.sv, 0) + cons.prior) / 1000000.0, 4) > 0.0), " +
      // stage 4: exact content dedup — min doc_id per cleaned text
      "d AS MATERIALIZED (SELECT doc_id, lang, clean FROM q QUALIFY row_number() OVER (PARTITION BY md5(clean) ORDER BY doc_id) = 1), " +
      // stage 5: 13-gram decontamination vs the %37 eval slice (clean
      // text, whole-text window for short docs — the kernel contract)
      "evc AS (SELECT doc_id, array_to_string(kept, chr(10)) AS clean FROM k WHERE doc_id % 37 = 0), " +
      s"evsh AS (SELECT DISTINCT shingle FROM (SELECT concat_ws(' ', $win13) AS shingle " +
      s"FROM (SELECT ${toks("clean")} AS tk FROM evc), UNNEST(range(1, greatest(len(tk) - 12, 0) + 1)) AS u(n) WHERE len(tk) >= 13 " +
      s"UNION SELECT array_to_string(tk, ' ') FROM (SELECT ${toks("clean")} AS tk FROM evc) WHERE len(tk) < 13)), " +
      s"dsh AS (SELECT DISTINCT doc_id, shingle FROM (SELECT doc_id, concat_ws(' ', $win13) AS shingle " +
      s"FROM (SELECT doc_id, ${toks("clean")} AS tk FROM d), UNNEST(range(1, greatest(len(tk) - 12, 0) + 1)) AS u(n) WHERE len(tk) >= 13 " +
      s"UNION SELECT doc_id, array_to_string(tk, ' ') FROM (SELECT doc_id, ${toks("clean")} AS tk FROM d) WHERE len(tk) < 13)), " +
      "dec AS (SELECT * FROM d WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM dsh JOIN evsh USING (shingle))), " +
      // stage 6: weighted mix (md5 membership, en .5 / de .25 / else .1)
      s"m AS (SELECT * FROM dec WHERE $mixHash % 10000 < (CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500 ELSE 1000 END)), " +
      // stage 7: sequence packing by doc_id prefix sums (seqLen 2048)
      "pp AS (SELECT doc_id, lang, len(regexp_extract_all(clean, '\\S+')) AS n_tokens, " +
      "COALESCE(CAST(sum(len(regexp_extract_all(clean, '\\S+'))) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS pre FROM m) " +
      "SELECT doc_id, lang, n_tokens, pre // 2048 AS pack_id, pre % 2048 AS pack_offset FROM pp ORDER BY doc_id"
  }

  // shared language-ID spec so Spark and oracle SQL stay in lockstep
  private[graft] val stopLists = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "sich", "auf"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans", "que", "pour", "qui", "pas"),
    "es" -> Seq("el", "los", "de", "que", "y", "en", "un", "se", "por", "con"))

  private[graft] def swRegex(ws: Seq[String]) = ws.mkString("\\b(", "|", ")\\b")
  private[graft] def sqlHits(ws: Seq[String]) =
    s"len(regexp_extract_all(lower(text), '${swRegex(ws)}'))"

  /** md5-family MinHash pair replay, split as (CTE chain, final pair
    * SELECT without ORDER BY) so the pair query and the cluster-closure
    * query share one definition: 60-bit md5-prefix hashes, 32 min-aggs,
    * 16 band buckets, hot-bucket cap, sig-match verification. */
  private[graft] lazy val minhashOracleParts: (String, String) = minhashOraclePartsWith("")

  /** [[minhashOracleParts]] with an extra candidate-pair predicate —
    * the incremental replay restricts pairs to those touching ≥1 new
    * (batch-B) member. Because batch B's ids carry the +1000000 offset,
    * the bigger id of any ordered pair is the new one, so the predicate
    * is just `y.doc_id >= 1000000` and the batch orientation (old id as
    * `a`, new as `b`; `a < b` within-batch) coincides with the x < y
    * join order — no CASE re-orientation needed. */
  private[graft] def minhashOraclePartsWith(extraCand: String): (String, String) =
    minhashOraclePartsCorpus(
      "corpus AS (SELECT doc_id, text FROM documents UNION ALL " +
        "SELECT doc_id + 1000000, text || ' zzz near dup suffix' FROM documents WHERE doc_id % 10 = 0)",
      extraCand)

  /** The md5-minhash replay CTE chain over a caller-supplied corpus
    * CTE block (must end in a CTE named `corpus` with `(doc_id, text)`)
    * — lets the lu-update oracle replay the same banding over the
    * MUTATED corpus. */
  private[graft] def minhashOraclePartsCorpus(corpusCtes: String,
                                       extraCand: String): (String, String) = {
    val K = 32; val BANDS = 16; val ROWS = K / BANDS
    def H(seed: String, v: String) =
      s"CAST(('0x' || substr(md5($seed || ':' || $v), 1, 15)) AS BIGINT)"
    def H2(j: Int) =
      s"CAST(('0x' || substr(md5('${j / 2}:' || shingle), ${1 + 16 * (j % 2)}, 15)) AS BIGINT)"
    val sigCols = (0 until K).map(j => s"min(${H2(j)}) AS h$j").mkString(", ")
    val bandSelects = (0 until BANDS).map { b =>
      val comps = (0 until ROWS).map(r => s"CAST(h${b * ROWS + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, ${H(b.toString, s"($comps)")} AS bucket FROM sigs"
    }.mkString(" UNION ALL ")
    val estSum = (0 until K).map(j =>
      s"(CASE WHEN sa.h$j = sb.h$j THEN 1 ELSE 0 END)").mkString(" + ")
    val ctes =
      corpusCtes + ", " +
        "toks AS (SELECT doc_id, list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), '\\s+'), x -> length(x) > 0) AS tk FROM corpus), " +
        "sh AS (SELECT DISTINCT doc_id, concat_ws(' ', tk[n], tk[n+1], tk[n+2]) AS shingle " +
        "FROM toks, UNNEST(range(1, greatest(len(tk) - 2, 0) + 1)) AS u(n) WHERE len(tk) >= 3 " +
        "UNION SELECT DISTINCT doc_id, array_to_string(tk, ' ') FROM toks WHERE len(tk) < 3), " +
        s"sigs AS (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id), " +
        s"banded AS ($bandSelects), " +
        "capped AS (SELECT * FROM banded QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 1000), " +
        "cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM capped x " +
        s"JOIN capped y USING (band, bucket) WHERE x.doc_id < y.doc_id$extraCand)"
    val pairSel =
      s"SELECT a, b, round(($estSum) / 32.0, 4) AS est_jaccard FROM cand " +
        "JOIN sigs sa ON sa.doc_id = a JOIN sigs sb ON sb.doc_id = b " +
        s"WHERE ($estSum) / 32.0 >= 0.5"
    (ctes, pairSel)
  }

  /** Shared PQ / IVF-PQ oracle (m=8, dsub=8, ksub=16, k=5, queries
    * `vec_id < 10`, md5 seed draw, untrained books). `ivf = true` adds
    * the coarse-cell routing (nCentroids=16, nprobe=4) so only probed
    * cells' codes are ADC-scored; `false` scores the whole corpus. */
  /** IVF-PQ serving replay. `centsSrc` parametrizes the quantizer-draw
    * domain: the 2-batch incremental replay draws coarse centroids AND
    * codebooks from batch A only (`vec_id % 2 = 0`) while
    * encoding/serving the full corpus — exactly what a second
    * [[graft.builder.AnnIndexBuilder]] run does against the
    * batch-A-persisted quantizer. `corpSrc` parametrizes the ENCODED
    * corpus: the lu-update replay (`ann_index_update`) encodes/serves a
    * MUTATED corpus under the original corpus's frozen quantizer. */
  private[graft] def pqOracleSql(ivf: Boolean, centsSrc: String = "embeddings",
                          corpSrc: String = "embeddings"): String = {
    val H = "CAST(('0x' || substr(md5('0:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    // explicit left-assoc sums mirror the kernels' ascending folds
    val dist = (0 until 8).map(t =>
      s"(e.v[jd.j*8+${t + 1}] - c.cv[jd.j*8+${t + 1}]) * (e.v[jd.j*8+${t + 1}] - c.cv[jd.j*8+${t + 1}])")
      .mkString(" + ")
    val subdot = (0 until 8).map(t =>
      s"q.v[jd.j*8+${t + 1}] * c.cv[jd.j*8+${t + 1}]").mkString(" + ")
    val n2 = (0 until 8).map(t =>
      s"c.cv[jd.j*8+${t + 1}] * c.cv[jd.j*8+${t + 1}]").mkString(" + ")
    val qnorm = (1 to 64).map(i => s"v[$i]*v[$i]").mkString(" + ")
    val cs = "list_cosine_similarity(e.v, c.cv)"
    val candCte =
      if (ivf)
        s"cellsA AS (SELECT e.vec_id AS n_id, c.c_id AS cell FROM corp e, cents c " +
          s"QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY $cs DESC, c.c_id ASC) = 1), " +
          s"probes AS (SELECT e.vec_id AS q_id, c.c_id AS cell FROM corp e, cents c WHERE e.vec_id < 10 " +
          s"QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY $cs DESC, c.c_id ASC) <= 4), " +
          "cand AS (SELECT p.q_id, cl.n_id FROM cellsA cl JOIN probes p USING (cell) WHERE cl.n_id <> p.q_id), "
      else
        "cand AS (SELECT q.q_id, e.vec_id AS n_id FROM corp e, (SELECT vec_id AS q_id FROM corp WHERE vec_id < 10) q " +
          "WHERE e.vec_id <> q.q_id), "
    s"WITH cents AS (SELECT CAST(row_number() OVER (ORDER BY $H ASC, vec_id ASC) - 1 AS INT) AS c, " +
      s"vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv FROM $centsSrc " +
      s"QUALIFY row_number() OVER (ORDER BY $H ASC, vec_id ASC) <= 16), " +
      s"corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $corpSrc), " +
      "jd AS (SELECT CAST(j AS INT) AS j FROM range(8) r(j)), " +
      s"codes AS (SELECT e.vec_id AS n_id, jd.j, c.c FROM corp e, jd, cents c " +
      s"QUALIFY row_number() OVER (PARTITION BY e.vec_id, jd.j ORDER BY ($dist) ASC, c.c ASC) = 1), " +
      s"qn AS (SELECT vec_id AS q_id, v, sqrt($qnorm) AS qn FROM corp WHERE vec_id < 10), " +
      s"luts AS (SELECT q.q_id, jd.j, c.c, ($subdot) / q.qn AS ld, ($n2) AS n2 " +
      "FROM (SELECT q_id, v, qn FROM qn WHERE qn <> 0) q, jd, cents c), " +
      candCte +
      "adc AS (SELECT ca.q_id, ca.n_id, list_sum(list(l.ld ORDER BY l.j)) AS dot, " +
      "list_sum(list(l.n2 ORDER BY l.j)) AS rn2 FROM cand ca " +
      "JOIN codes cd ON cd.n_id = ca.n_id " +
      "JOIN luts l ON l.q_id = ca.q_id AND l.j = cd.j AND l.c = cd.c " +
      "GROUP BY 1, 2) " +
      "SELECT q_id, rank, n_id, sim FROM (SELECT q_id, n_id, round(dot/sqrt(rn2), 4) AS sim, " +
      "row_number() OVER (PARTITION BY q_id ORDER BY dot/sqrt(rn2) DESC, n_id ASC) AS rank " +
      "FROM adc WHERE rn2 <> 0) WHERE rank <= 5 ORDER BY q_id, rank"
  }

  /** Flagship: JointStore lookup join on sf0.001 (driver smoke-checks rows>0). */
  def entry(spark: SparkSession): DataFrame =
    table.find(_.name == "c13_joint_lookup").get.plan(spark, "/root/testdata/sf0.001")

  /** The driver queries, one record per name, plane by plane. */
  private[graft] lazy val table: Seq[BenchQuery] =
    StoreQueries.all ++ BuilderQueries.all ++ TextQueries.all ++ DedupQueries.all ++ StreamQueries.all

  /** Every query's oracle SQL as one JSON object (shared by [[Verify]] and
    * [[Bench]]), optionally restricted to `names` (Bench's SPARK_GRAFT_ONLY
    * filter — the oracle subprocess should only time the queries this run
    * timed). JSON string escape covers backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * break the driver's json.load. */
  def oracleSqlJson(names: Option[Set[String]] = None): String =
    table.map(q => q.name -> q.oracleSql).toMap.filter { case (k, _) => names.forall(_.contains(k)) }
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")

  /** The ngram-tier superlinearity counters over the EXACT corpus and
    * parameters `dedup_ngram_jaccard` times (nearDupCorpus, n=3,
    * t=0.5) — Bench stamps these so the scale gate adjudicates counted
    * pair mass, not wall clock ([[graft.ext.Dedup.ngramJaccardCounters]]). */
  private[graft] def ngramGateCounters(spark: SparkSession,
                                       dir: String): (Long, Long, Long) =
    graft.ext.Dedup.ngramJaccardCounters(nearDupCorpus(spark, dir),
      "doc_id", "text", n = 3, threshold = 0.5)

  /** Per-task shuffle-read row counts of the skew row's reduce stage
    * (VERDICT r14 #7) — the counted skew gate Bench stamps
    * (`skew_counters`). Runs [[DedupQueries.skewDedupPlan]] under a task listener,
    * groups task `shuffleRead.recordsRead` by stage, and reports the
    * heaviest shuffle-consuming stage's `(tasks, max, median)` task row
    * counts. With map-side partial aggregation the hot hash ships ≤ one
    * row per map task, so max/median stays O(1); a regression to a
    * window/row_number shape would ship the full 10 % duplicate mass to
    * ONE task and the ratio explodes (scale-free: ~corpus·0.1 vs
    * corpus·0.9/parallelism at any SF). */
  private[graft] def skewGateCounters(spark: SparkSession,
                                      dir: String): (Int, Long, Long) =
    measureReduceSkew(spark, DedupQueries.skewDedupPlan(spark, dir))

  /** The counted skew gate EXTENDED to the other shuffle-heavy
    * exchanges (VERDICT r15 #7 / r16 #5): per-exchange
    * (tasks, max, median) of the heaviest reduce stage of each named
    * plan, stamped in every bench artifact alongside the original
    * curate-stage-4 gate. The three shapes the verdicts name:
    *  - `curate_dedup_hash`: [[DedupQueries.skewDedupPlan]] — the CurateBuilder
    *    stage-4 `groupBy(content-hash)` under the 10 %-hot-key corpus
    *    (identical fixture to the original gate);
    *  - `minhash_band_join`: the declared `dedup_minhash_lsh` plan —
    *    heaviest stage = the LSH (band, band-hash) bucket exchange;
    *  - `bm25_df_agg`: the declared `text_bm25_topk` plan — heaviest
    *    stage = the postings term aggregation feeding idf. */
  private[graft] def skewGateExchanges(spark: SparkSession,
      dir: String): Seq[(String, (Int, Long, Long))] = Seq(
    "curate_dedup_hash" -> DedupQueries.skewDedupPlan(spark, dir),
    "minhash_band_join" -> table.find(_.name == "dedup_minhash_lsh").get.plan(spark, dir),
    "bm25_df_agg" -> table.find(_.name == "text_bm25_topk").get.plan(spark, dir)
  ).map { case (n, plan) => n -> measureReduceSkew(spark, plan) }

  private def measureReduceSkew(spark: SparkSession,
                                plan: DataFrame): (Int, Long, Long) = {
    val recs = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null && m.shuffleReadMetrics != null &&
            m.shuffleReadMetrics.recordsRead > 0)
          recs.synchronized {
            recs += ((te.stageId, m.shuffleReadMetrics.recordsRead))
          }
      }
    }
    // AQE coalesces the (byte-small, post-combine) reduce exchange to one
    // task at bench SFs, which makes max/median vacuous (1 task = ratio 1
    // whatever the skew) — hold the exchange at full width for the
    // MEASUREMENT so per-task balance is observable; the timed
    // skew_dedup_exact row keeps the production plan untouched
    val prevCoalesce = spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.sparkContext.addSparkListener(listener)
    try {
      plan.write.mode("overwrite").format("noop").save()
      // listener events post asynchronously: wait for the bus to drain
      org.apache.spark.graft.Rdds.drainListeners(spark.sparkContext)
    } finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
        prevCoalesce)
      spark.sparkContext.removeSparkListener(listener)
    }
    val byStage = recs.synchronized { recs.toSeq }.groupBy(_._1)
    if (byStage.isEmpty) return (0, 0L, 0L)
    val (_, rows) = byStage.maxBy { case (_, rs) => rs.map(_._2).sum }
    val sorted = rows.map(_._2).sorted
    (sorted.size, sorted.last, sorted(sorted.size / 2))
  }
}

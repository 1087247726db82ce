package graft

import graft.api._
import graft.builder._
import graft.ext.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis}
import graft.query.{MongoFilter, QueryParams}
import graft.store.{MemoryStore, TableStore}
import graft.store.views._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  private def fxSum(c: Column, scale: Long): Column =
    sum(round(c * scale).cast("long")) / scale.toDouble

  /** DuckDB twin of [[fxSum]]; outer CAST because DuckDB sum(BIGINT) is
    * HUGEINT, which pandas renders as object — BIGINT/DOUBLE is uniform. */
  private def fxSumSql(x: String, scale: Long): String =
    s"CAST(sum(CAST(round(($x) * $scale) AS BIGINT)) AS BIGINT) / $scale.0"

  /** Windowed variant: `over` is e.g. "OVER w". */
  private def fxSumOverSql(x: String, scale: Long, over: String): String =
    s"CAST(sum(CAST(round(($x) * $scale) AS BIGINT)) $over AS BIGINT) / $scale.0"

  private def t(spark: SparkSession, dir: String, table: String): DataFrame =
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
  private def bm25OracleCtes(qmod: Int = 97, src: String = "documents"): String =
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

  /** The BPE fixture corpus as a DuckDB subquery: documents.text plus
    * four planted md5-hex words keyed on doc_id. The synthetic corpus
    * has only 31 DISTINCT WORDS (≈108 learnable merges before total
    * exhaustion), so a real-vocab-size training run needs planted
    * lexical diversity — the [[dupCorpus]]/[[piiCorpus]] fixture
    * pattern, byte-replayable on both engines (md5 hex is lowercase on
    * both). */
  /** The `text_bm25_update` FINAL corpus as a DuckDB subquery: every
    * doc_id % 13 == 0 doc carries batch B's new text (a planted
    * doc-keyed md5 word — byte-replayable, the [[bpeCorpusSql]]
    * pattern). */
  private val bm25UpdCorpusSql =
    "(SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || ' updated ' || " +
      "substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) ELSE text END AS text " +
      "FROM documents)"

  /** The `ann_index_update` FINAL corpus: every vec_id % 17 == 0 vector
    * replaced by its reversal — a same-dimension, SQL-replayable
    * mutation. */
  private val annUpdCorpusSql =
    "(SELECT vec_id, CASE WHEN vec_id % 17 = 0 THEN list_reverse(embedding) " +
      "ELSE embedding END AS embedding FROM embeddings)"

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

  /** events.ts has shipped as both TIMESTAMP(NANOS) and TIMESTAMP_MICROS
    * across testdata generations, so branch on the loaded type rather
    * than assuming either. NANOS (which Spark 4 refuses to read
    * natively) arrives as LONG under `nanosAsLong` and is truncated to
    * µs with integer division (never float — ns epochs exceed 2^53);
    * MICROS reads natively as a timestamp and is used as-is, matching
    * the DuckDB oracle. Every query over events is designed so µs
    * truncation cannot change results. */
  private def events(spark: SparkSession, dir: String): DataFrame = {
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

  /** documents ∪ exact copies of every 10th doc (id+1000000) — the dedup
    * test corpus (the synthetic table has no natural duplicates). */
  private def dupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).alias("doc_id"), col("text")))
  }
  private val dupCorpusSql =
    "(SELECT doc_id, text FROM documents UNION ALL " +
      "SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)"

  /** The ngram-tier superlinearity counters over the EXACT corpus and
    * parameters `dedup_ngram_jaccard` times (nearDupCorpus, n=3,
    * t=0.5) — Bench stamps these so the scale gate adjudicates counted
    * pair mass, not wall clock ([[graft.ext.Dedup.ngramJaccardCounters]]). */
  private[graft] def ngramGateCounters(spark: SparkSession,
                                       dir: String): (Long, Long, Long) =
    graft.ext.Dedup.ngramJaccardCounters(nearDupCorpus(spark, dir),
      "doc_id", "text", n = 3, threshold = 0.5)

  /** Zipf-skew fixture (VERDICT r14 #7): every 10th doc carries ONE
    * constant boilerplate page — a single content hash holding 10 % of
    * the corpus — the rest stay unique (id-suffixed). The exact-dedup
    * shape over it is the skew stress row. */
  private def skewCorpus(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 10 === 0, lit(skewBoiler))
        .otherwise(concat(col("text"), lit(" "), col("doc_id"))).alias("text"))

  private val skewBoiler = "this exact boilerplate page is duplicated " +
    "across ten percent of the whole corpus"

  private val skewCorpusSql =
    "(SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN " +
      s"'$skewBoiler' " +
      "ELSE text || ' ' || CAST(doc_id AS VARCHAR) END AS text FROM documents)"

  /** The skew row's exact-dedup plan — the map-side-combinable
    * `groupBy(hash).agg(min_by)` spelling (the CurateBuilder stage-4
    * shape): partial aggregation collapses the hot hash's 10 %-of-corpus
    * duplicate mass to one row per map task BEFORE the exchange, so no
    * reduce task ever streams the group. [[skewGateCounters]] measures
    * exactly this plan's reduce-side task row counts. */
  private def skewDedupPlan(spark: SparkSession, dir: String): DataFrame =
    skewCorpus(spark, dir)
      .groupBy(md5(col("text").cast("binary")).alias("__h"))
      .agg(min_by(col("doc_id"), col("doc_id")).alias("doc_id"))
      .select(col("doc_id"))

  /** Per-task shuffle-read row counts of the skew row's reduce stage
    * (VERDICT r14 #7) — the counted skew gate Bench stamps
    * (`skew_counters`). Runs [[skewDedupPlan]] under a task listener,
    * groups task `shuffleRead.recordsRead` by stage, and reports the
    * heaviest shuffle-consuming stage's `(tasks, max, median)` task row
    * counts. With map-side partial aggregation the hot hash ships ≤ one
    * row per map task, so max/median stays O(1); a regression to a
    * window/row_number shape would ship the full 10 % duplicate mass to
    * ONE task and the ratio explodes (scale-free: ~corpus·0.1 vs
    * corpus·0.9/parallelism at any SF). */
  private[graft] def skewGateCounters(spark: SparkSession,
                                      dir: String): (Int, Long, Long) =
    measureReduceSkew(spark, skewDedupPlan(spark, dir))

  /** The counted skew gate EXTENDED to the other shuffle-heavy
    * exchanges (VERDICT r15 #7 / r16 #5): per-exchange
    * (tasks, max, median) of the heaviest reduce stage of each named
    * plan, stamped in every bench artifact alongside the original
    * curate-stage-4 gate. The three shapes the verdicts name:
    *  - `curate_dedup_hash`: [[skewDedupPlan]] — the CurateBuilder
    *    stage-4 `groupBy(content-hash)` under the 10 %-hot-key corpus
    *    (identical fixture to the original gate);
    *  - `minhash_band_join`: the declared `dedup_minhash_lsh` plan —
    *    heaviest stage = the LSH (band, band-hash) bucket exchange;
    *  - `bm25_df_agg`: the declared `text_bm25_topk` plan — heaviest
    *    stage = the postings term aggregation feeding idf. */
  private[graft] def skewGateExchanges(spark: SparkSession,
      dir: String): Seq[(String, (Int, Long, Long))] = Seq(
    "curate_dedup_hash" -> skewDedupPlan(spark, dir),
    "minhash_band_join" -> queries("dedup_minhash_lsh")(spark, dir),
    "bm25_df_agg" -> queries("text_bm25_topk")(spark, dir)
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
      // listener events post asynchronously (the bus drain API is
      // private[spark]): poll until the count is stable for 200 ms
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 2 && waited < 5000) {
        val n = recs.synchronized(recs.size)
        if (n == last) stable += 1 else { stable = 0; last = n }
        Thread.sleep(100); waited += 100
      }
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

  /** near-duplicate corpus: every 10th doc gets a perturbed twin. */
  private def nearDupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).alias("doc_id"),
        concat(col("text"), lit(" zzz near dup suffix")).alias("text")))
  }

  /** [[nearDupCorpus]] after a batch of CONTENT MUTATIONS (the
    * `dedup_builder_update` fixture) — three classes exercising every
    * lu-update repair path of [[graft.builder.DedupBuilder.dropChanged]]:
    *  - twins of `doc_id % 20 == 0` originals get UNIQUE replacement
    *    text (every 3-shingle contains the id): the near-dup pair
    *    dissolves, the ex-loser twin must re-enter the canonical view;
    *  - originals with `doc_id % 20 == 10` (which have twins) get unique
    *    replacement text: the cluster's CANONICAL leaves, the surviving
    *    twin must be PROMOTED into the target;
    *  - originals with `doc_id % 10 == 5` copy the text of `doc_id - 5`
    *    exactly: a NEW duplicate edge forms against a stored doc and the
    *    mutated doc must drop out as a loser.
    * Mutated rows carry `lu = 2`, unchanged rows `lu = 1`. */
  private def mutatedNearDupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    def rep(tag: String) = concat(lit(tag + " "), col("doc_id"),
      lit(" alpha "), col("doc_id"), lit(" beta "), col("doc_id"),
      lit(" gamma "), col("doc_id"))
    val isTwinRep = col("doc_id") >= 1000000L &&
      (col("doc_id") - 1000000L) % 20 === 0
    val isOrigRep = col("doc_id") < 1000000L && col("doc_id") % 20 === 10
    val isCopy = col("doc_id") < 1000000L && col("doc_id") % 10 === 5 &&
      col("__copy").isNotNull
    nearDupCorpus(spark, dir)
      .join(d.select((col("doc_id") + 5).alias("doc_id"),
        col("text").alias("__copy")), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(isTwinRep, rep("twinrep"))
          .when(isOrigRep, rep("origrep"))
          .when(isCopy, col("__copy"))
          .otherwise(col("text")).alias("text"),
        when(isTwinRep || isOrigRep || isCopy, lit(2L)).otherwise(lit(1L))
          .alias("lu"))
  }

  /** The [[mutatedNearDupCorpus]] as DuckDB CTEs ending in `corpus` —
    * the lu-update oracle's from-scratch replay substrate. */
  private val mutatedCorpusCtes: String = {
    def rep(tag: String) = s"'$tag ' || b.doc_id || ' alpha ' || b.doc_id " +
      "|| ' beta ' || b.doc_id || ' gamma ' || b.doc_id"
    "base AS (SELECT doc_id, text FROM documents UNION ALL " +
      "SELECT doc_id + 1000000, text || ' zzz near dup suffix' FROM documents WHERE doc_id % 10 = 0), " +
      "corpus AS (SELECT b.doc_id, CASE " +
      s"WHEN b.doc_id >= 1000000 AND (b.doc_id - 1000000) % 20 = 0 THEN ${rep("twinrep")} " +
      s"WHEN b.doc_id < 1000000 AND b.doc_id % 20 = 10 THEN ${rep("origrep")} " +
      "WHEN b.doc_id < 1000000 AND b.doc_id % 10 = 5 AND c.text IS NOT NULL THEN c.text " +
      "ELSE b.text END AS text " +
      "FROM base b LEFT JOIN documents c ON c.doc_id = b.doc_id - 5)"
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
  private def sortedPairs(df: DataFrame, cols: String*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols.head, cols.tail: _*)

  /** Arithmetic dHash replay of the synthetic-cell-BMP image corpus
    * (shared by `dedup_images` and its streaming twin): cell luma from
    * the md5 formula, the perturbed-twin flip, the 56-bit dHash pack,
    * 4×16-bit band candidates with the 1000-member cap. Ends at
    * `corpus`, `sigs`, `cand` for the caller's hamming verify. */
  private val imageOracleCtes: String = {
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

  private val clfCorpusSql =
    "(SELECT doc_id, text || CASE WHEN doc_id % 5 = 0 THEN " +
      "' click here free win money now' ELSE '' END AS text, " +
      "CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 1 END AS label FROM documents)"

  /** NB quality-classifier oracle: hashed uni+bigram counts per class
    * over the EVEN-id training split, per-feature micro-fixed
    * log-count-ratio weights, prior + Σ tf·w over the odd-id scoring
    * split — the [[graft.ext.QualityClassifier]] spelling term for
    * term (md5 bucket hash, add-one smoothing over `b` buckets,
    * floor(x·1e6 + 0.5) fixed-pointing). */
  /** The `text_quality_clf_update` FINAL corpus: every doc_id % 6 == 0
    * training doc re-written (planted md5 word) AND re-labeled (label
    * flip) — byte-replayable on both engines. */
  private val clfUpdCorpusSql =
    "(SELECT doc_id, text || CASE WHEN doc_id % 6 = 0 THEN ' updated ' || " +
      "substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) ELSE '' END AS text, " +
      "CASE WHEN doc_id % 6 = 0 THEN 1 - label ELSE label END AS label " +
      s"FROM $clfCorpusSql base)"

  private def clfOracleSql(b: Int, corpus: String = clfCorpusSql): String = {
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
  private val curateCorpusSql =
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
  private def curateOracleSql: String = {
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

  /** documents with boilerplate footer lines planted: one universal
    * footer (every doc), one on even ids; odd ids get a per-doc unique
    * line instead — the C4 line-dedup test corpus. */
  private def lineCorpus(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(col("doc_id"), concat(col("text"),
      lit("\nSubscribe to our newsletter today"),
      when(col("doc_id") % 2 === 0, lit("\nAll rights reserved"))
        .otherwise(concat(lit("\nunique line "), col("doc_id").cast("string"))))
      .alias("text"))

  /** documents with boilerplate PARAGRAPHS planted (\n\n-separated): one
    * universal share-block, plus a copyright block on every 3rd doc or a
    * per-doc unique paragraph otherwise — the paragraph-dedup corpus. */
  private def paraCorpus(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(col("doc_id"), concat(col("text"),
      lit("\n\nShare this article on social media."),
      when(col("doc_id") % 3 === 0,
        lit("\n\nAll content copyright the original authors."))
        .otherwise(concat(lit("\n\npara unique "),
          col("doc_id").cast("string"))))
      .alias("text"))

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

  /** embeddings ∪ nudged twins of every 10th vector (first component
    * +0.1), all math in doubles — the embedding near-dup corpus shared by
    * `dedup_embedding` and `dedup_semantic`. */
  private def embDupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "embeddings").select(col("vec_id"),
      col("embedding").cast("array<double>").alias("embedding"))
    base.unionByName(base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).alias("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(0.1)).otherwise(x)).alias("embedding")))
  }

  // shared language-ID spec so Spark and oracle SQL stay in lockstep
  private val stopLists = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "sich", "auf"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans", "que", "pour", "qui", "pas"),
    "es" -> Seq("el", "los", "de", "que", "y", "en", "un", "se", "por", "con"))
  private def swRegex(ws: Seq[String]) = ws.mkString("\\b(", "|", ")\\b")
  private def sqlHits(ws: Seq[String]) =
    s"len(regexp_extract_all(lower(text), '${swRegex(ws)}'))"

  /** Flagship: JointStore lookup join on sf0.001 (driver smoke-checks rows>0). */
  def entry(spark: SparkSession): DataFrame =
    queries("c13_joint_lookup")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ----------------------------------------------------------------- S1-S10
    "s1_query_fold" -> ((s, dir) => {
      val store = new TableStore(s, t(s, dir, "orders"), "orders", "o_orderkey", "o_orderdate")
      store.query(QueryParams(
        criteria = Some("""{"o_orderstatus": "O", "o_totalprice": {"$gt": 150000},
          "o_orderpriority": {"$in": ["1-URGENT", "2-HIGH"]}}"""),
        properties = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
        sort = Seq("o_totalprice" -> -1, "o_orderkey" -> 1),
        skip = 10, limit = Some(100)))
    }),

    "s2_query_one" -> ((s, dir) => {
      val store = new TableStore(s, t(s, dir, "orders"), "orders", "o_orderkey", "o_orderdate")
      store.query(QueryParams(
        criteria = Some("""{"o_orderstatus": "F"}"""),
        properties = Seq("o_orderkey", "o_totalprice"),
        sort = Seq("o_totalprice" -> -1, "o_orderkey" -> 1), limit = Some(1)))
    }),

    "s3_count" -> ((s, dir) => {
      val store = new TableStore(s, t(s, dir, "lineitem"), "lineitem", "l_orderkey", "l_shipdate")
      MongoFilter(store.df,
        """{"l_shipdate": {"$gte": {"$date": "1995-01-01T00:00:00Z"}},
           "l_discount": {"$lte": 0.05}}""")
        .agg(count(lit(1)).alias("n"))
    }),

    "s4_distinct" -> ((s, dir) => {
      val store = new TableStore(s, t(s, dir, "customer"), "customer", "c_custkey")
      store.distinct("c_mktsegment", Some("""{"c_acctbal": {"$gt": 0}}"""))
        .orderBy("c_mktsegment")
    }),

    "s4b_distinct_array" -> ((s, dir) => {
      // distinct over an array field unravels it (mongolike.py:176-181)
      val df = t(s, dir, "documents").withColumn("toks", split(col("text"), " "))
      val store = new TableStore(s, df, "docs", "doc_id")
      store.distinct("toks").orderBy("toks")
    }),

    "s5_groupby" -> ((s, dir) => {
      val store = new TableStore(s, t(s, dir, "orders"), "orders", "o_orderkey", "o_orderdate")
      store.groupby(Seq("o_orderstatus", "o_orderpriority"))
        .select(col("o_orderstatus"), col("o_orderpriority"),
          size(col("docs")).alias("n_docs"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    "s9_last_updated" -> ((s, dir) =>
      t(s, dir, "orders").agg(max(col("o_orderdate")).alias("last_updated"))),

    "s10_newer_in" -> ((s, dir) => {
      val ev = events(s, dir)
      val srcStore = new TableStore(s,
        ev.filter(col("event_id") < 800).select(col("event_id"), col("ts").alias("lu")),
        "src", "event_id", "lu")
      val tgtStore = new TableStore(s,
        ev.select(col("event_id"),
          when(col("event_id") % 10 === 0, col("ts") + expr("INTERVAL 1 HOUR"))
            .otherwise(col("ts")).alias("lu")),
        "tgt", "event_id", "lu")
      srcStore.newerIn(tgtStore).orderBy("event_id")
    }),

    // ----------------------------------------------------------- predicates
    "pred_expr_elem_at" -> ((s, dir) => {
      val df = t(s, dir, "orders").withColumn("prio_parts", split(col("o_orderpriority"), "-"))
      MongoFilter(df, """{"$expr": {"$eq": [{"$arrayElemAt": ["$prio_parts", -1]}, "URGENT"]}}""")
        .select(col("o_orderkey")).orderBy("o_orderkey")
    }),

    "pred_regex_in_nin" -> ((s, dir) => {
      MongoFilter(t(s, dir, "part"),
        """{"p_size": {"$in": [1, 5, 9, 13]}, "p_type": {"$regex": "^(ECONOMY|PROMO)"},
           "p_brand": {"$nin": ["Brand#11", "Brand#22"]}}""")
        .select(col("p_partkey")).orderBy("p_partkey")
    }),

    "pred_exists" -> ((s, dir) => {
      val df = t(s, dir, "orders").withColumn("maybe",
        when(col("o_orderkey") % 7 === 0, lit(null)).otherwise(col("o_orderpriority")))
      MongoFilter(df, """{"maybe": {"$exists": false}}""").agg(count(lit(1)).alias("n"))
    }),

    "pred_and_or_range" -> ((s, dir) => {
      MongoFilter(t(s, dir, "lineitem"),
        """{"$or": [{"l_quantity": {"$gte": 45}},
                    {"$and": [{"l_discount": {"$gt": 0.08}}, {"l_returnflag": {"$ne": "N"}}]}]}""")
        .agg(count(lit(1)).alias("n"))
    }),

    "pred_array_contains" -> ((s, dir) => {
      val df = t(s, dir, "documents").withColumn("toks", split(col("text"), " "))
      MongoFilter(df, """{"toks": "spark"}""")
        .select(col("doc_id")).orderBy("doc_id")
    }),

    "pred_elem_match" -> ((s, dir) => {
      val df = t(s, dir, "part").withColumn("arr",
        array(col("p_size").cast("double"), col("p_retailprice")))
      MongoFilter(df, """{"arr": {"$elemMatch": {"$lt": 5}}}""")
        .select(col("p_partkey")).orderBy("p_partkey")
    }),

    "pred_all_size" -> ((s, dir) => {
      val df = t(s, dir, "documents").withColumn("toks", split(col("text"), " "))
      MongoFilter(df, """{"toks": {"$all": ["spark", "data"]}}""")
        .select(col("doc_id"), size(col("toks")).alias("n_toks"))
        .orderBy("doc_id")
    }),

    "pred_dot_path" -> ((s, dir) => {
      val df = t(s, dir, "customer")
        .select(col("c_custkey"), struct(col("c_name"), col("c_acctbal")).alias("cust"))
      val store = new TableStore(s, df, "cust", "c_custkey")
      store.query(QueryParams(
        criteria = Some("""{"cust.c_acctbal": {"$gt": 5000}}"""),
        properties = Seq("c_custkey", "cust.c_acctbal"),
        sort = Seq("c_custkey" -> 1)))
    }),

    // ---------------------------------------------------------------- joins
    "c13_joint_lookup" -> ((s, dir) => {
      val main = new TableStore(s, t(s, dir, "orders"), "orders", "o_custkey", "o_orderdate")
      val cust = new TableStore(s, t(s, dir, "customer"), "customer", "c_custkey")
      new JointStore(main, Seq("cust" -> cust)).df
        .select(col("o_orderkey"), col("o_totalprice"),
          col("cust.c_name").alias("c_name"),
          col("cust.c_mktsegment").alias("c_mktsegment"))
        .orderBy("o_orderkey")
    }),

    "c13_joint_merge_root" -> ((s, dir) => {
      val main = new TableStore(s, t(s, dir, "lineitem"), "lineitem", "l_orderkey", "l_shipdate")
      val ord = new TableStore(s, t(s, dir, "orders"), "orders", "o_orderkey", "o_orderdate")
      new JointStore(main, Seq("ord" -> ord), mergeAtRoot = true).df
        .select(col("l_orderkey"), col("l_linenumber"), col("o_totalprice"),
          col("o_orderstatus"), col("l_shipdate").alias("joint_lu"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "join_anti_orphans" -> ((s, dir) => {
      t(s, dir, "customer").join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey")).orderBy("c_custkey")
    }),

    "join_semi" -> ((s, dir) => {
      t(s, dir, "supplier").join(
          t(s, dir, "lineitem").filter(col("l_shipdate") >= lit("1997-01-01")),
          col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey")).orderBy("s_suppkey")
    }),

    "join_asof" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
      graft.ext.TemporalJoins.asofJoin(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        purchases, keys = Seq("user_id"), tsCol = "ts",
        payload = Map("last_purchase_id" -> "event_id"))
        .select(col("event_id"), col("user_id"), col("last_purchase_id"))
        .orderBy("event_id")
    }),

    "join_asof_forward" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
      graft.ext.TemporalJoins.asofJoin(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        purchases, keys = Seq("user_id"), tsCol = "ts",
        payload = Map("next_purchase_id" -> "event_id"),
        direction = "forward")
        .select(col("event_id"), col("user_id"), col("next_purchase_id"))
        .orderBy("event_id")
    }),

    "join_asof_tolerance" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
      graft.ext.TemporalJoins.asofJoin(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        purchases, keys = Seq("user_id"), tsCol = "ts",
        payload = Map("recent_purchase_id" -> "event_id"),
        toleranceMs = Some(86400000L)) // 1 day
        .select(col("event_id"), col("user_id"), col("recent_purchase_id"))
        .orderBy("event_id")
    }),

    "join_range" -> ((s, dir) => {
      val sampled = t(s, dir, "orders").filter(col("o_orderkey") % 100 === 0)
      graft.ext.TemporalJoins.rangeJoinCount(
        sampled, "o_orderdate", t(s, dir, "lineitem"), "l_shipdate",
        windowMs = 604800000L, lKeyCols = Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),

    // -------------------------------------------------------------- builders
    "b2_copy_builder" -> ((s, dir) => {
      val src = new TableStore(s, t(s, dir, "orders"), "orders", "o_orderkey", "o_orderdate")
      val tgt = new MemoryStore(s, "tgt", "o_orderkey", "o_orderdate")
      CopyBuilder(src, tgt).run()
      tgt.df.select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
        .orderBy("o_orderkey")
    }),

    "b4_group_builder" -> ((s, dir) => {
      val src = new TableStore(s, t(s, dir, "orders"), "orders", "o_orderkey", "o_orderdate")
      val tgt = new MemoryStore(s, "tgt", "grp_id", "o_orderdate")
      new GroupBuilder(src, tgt, Seq("o_orderstatus", "o_orderpriority"),
        aggExprs = Seq(count(lit(1)).alias("n_docs"),
          fxSum(col("o_totalprice"), 100L).alias("sum_price"))).run()
      tgt.df.select(col("o_orderstatus"), col("o_orderpriority"), col("grp_id"),
          col("o_orderdate"), col("n_docs"), col("sum_price"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    "b5_projection_builder" -> ((s, dir) => {
      val sup = new TableStore(s, t(s, dir, "supplier"), "supplier", "s_suppkey")
      val qty = new TableStore(s,
        t(s, dir, "lineitem").groupBy(col("l_suppkey"))
          .agg(fxSum(col("l_quantity"), 100L).alias("qty")),
        "qty", "l_suppkey")
      val tgt = new MemoryStore(s, "tgt", "s_suppkey")
      new ProjectionBuilder(Seq(
        SourceProjection(sup, fields = Seq("s_name", "s_acctbal")),
        SourceProjection(qty, fields = Seq("qty"))), tgt).run()
      tgt.df.select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("qty"))
        .orderBy("s_suppkey")
    }),

    // ---------------------------------------------------------- aggregations
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(fxSum(col("l_quantity"), 100L).alias("sum_qty"),
          fxSum(col("l_extendedprice"), 100L).alias("sum_price"),
          count(lit(1)).alias("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // grouping-set queries pre-aggregate to the base grain BEFORE the
    // Expand: Spark implements rollup/cube by replicating its INPUT once
    // per grouping set, so expanding the raw corpus shuffles |corpus|×
    // |sets| rows while expanding the base-grain pre-aggregate shuffles
    // |distinct groups|×|sets|. count and the fixed-point sum are
    // decomposable (long sums re-aggregate exactly), so results are
    // bit-identical — this is the 100 TB shape for grouping sets.
    "agg_rollup" -> ((s, dir) => {
      val pre = t(s, dir, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).alias("__n"),
          sum(round(col("o_totalprice") * 100L).cast("long")).alias("__fx"))
      pre.rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(col("__n")).alias("n"),
          (sum(col("__fx")) / 100.0d).alias("sum_price"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).alias("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).alias("prio"),
          col("n"), col("sum_price"))
        .orderBy("status", "prio")
    }),

    // exact percentile, spelled as sorted-array interpolation rather
    // than the builtin `percentile` aggregate: the builtin's buffer is
    // an OpenHashMap[boxed value, count] updated per row (generic
    // hashing + boxing on the hot path — measured 3.3 s at sf0.1),
    // while collect_list appends flat unsafe bytes and one final
    // sort_array per group orders them (0.4 s, same output). The
    // interpolation reproduces Spark Percentile.getPercentile
    // bit-for-bit — `(hi−pos)·v[lo] + (pos−lo)·v[hi]` with
    // pos = q·(n−1), NOT the algebraically-equal v[lo]+frac·Δ, which
    // rounds differently — and that formula is the r1 finding that
    // hash-matches DuckDB's quantile_cont. SCALE CAVEAT (unchanged
    // from the builtin): per-group state is all values, unbounded —
    // at 100 TB the documented path is `agg_percentile_approx` below
    // (fixed-size GK sketch, rank error ≤ n/accuracy).
    "agg_percentile" -> ((s, dir) => {
      import graft.functions.GraftFunctions.quantileCont
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(sort_array(collect_list(col("l_quantity").cast("double")))
            .alias("__aq"),
          sort_array(collect_list(col("l_extendedprice").cast("double")))
            .alias("__ap"))
        .select(col("l_returnflag"),
          quantileCont(col("__aq"), 0.5).alias("med_qty"),
          quantileCont(col("__ap"), 0.25).alias("q25_price"),
          quantileCont(col("__ap"), 0.75).alias("q75_price"))
        .orderBy("l_returnflag")
    }),

    // the 100 TB percentile path: approx_percentile's per-group state is
    // a fixed-size Greenwald-Khanna sketch (rank error ≤ n/accuracy =
    // n/10000) instead of the exact variant's all-distinct-values buffer.
    // Oracle-verifiable because the quantile points are chosen OFF the
    // cdf plateau boundaries of the (integer-plateaued) columns: both
    // engines' discrete-quantile ranks land mid-plateau, so the returned
    // DATA VALUES agree exactly even though the sketches differ.
    "agg_percentile_approx" -> ((s, dir) => {
      // both discount quantiles read ONE QuantileSummaries sketch (the
      // array form) instead of building two identical ones — same values
      // (same sketch, same accuracy), one-third less aggregation work
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(l_quantity, 0.51, 10000)").alias("med_qty"),
          expr("approx_percentile(l_discount, array(0.30D, 0.70D), 10000)")
            .alias("__qd"))
        .select(col("l_returnflag"), col("med_qty"),
          col("__qd")(0).alias("q30_disc"), col("__qd")(1).alias("q70_disc"))
        .orderBy("l_returnflag")
    }),

    // pre-aggregate before the cube Expand — see agg_rollup
    "agg_cube" -> ((s, dir) => {
      val pre = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).alias("__n"),
          sum(round(col("l_quantity") * 100L).cast("long")).alias("__fx"))
      pre.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("__n")).alias("n"),
          (sum(col("__fx")) / 100.0d).alias("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).alias("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).alias("ls"),
          col("n"), col("sum_qty"))
        .orderBy("rf", "ls")
    }),

    "agg_time_window" -> ((s, dir) => {
      events(s, dir)
        .groupBy(date_trunc("day", col("ts")).alias("d"), col("event_type"))
        .agg(count(lit(1)).alias("n"),
          fxSum(col("value"), 1000000L).alias("sum_val"))
        .orderBy("d", "event_type")
    }),

    "window_latest_per_user" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      events(s, dir)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"))
        .orderBy("user_id")
    }),

    "window_running" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .select(col("event_id"),
          count(lit(1)).over(w).alias("rn"),
          (sum(round(col("value") * 1000000L).cast("long")).over(w) / 1e6)
            .alias("run_sum"))
        .orderBy("event_id")
    }),

    "window_sessionize" -> ((s, dir) => {
      sortedPairs(
        graft.streaming.Sessionize.sessionsBatch(events(s, dir), gapMs = 3600000)
          .select(col("user_id"), col("n_events"), col("total"),
            unix_millis(col("start_ts")).alias("start_ms"),
            unix_millis(col("end_ts")).alias("end_ms")),
        "user_id", "start_ms")
    }),

    // STREAMING twin of window_sessionize, oracle-checked end-to-end:
    // the events replay through flatMapGroupsWithState (the stateful
    // API, not the windowed-agg one stream_time_window certifies). A
    // far-future flush sentinel per user closes every real session
    // in-batch (a finite stream's trailing sessions otherwise wait on a
    // watermark that never advances past end-of-input); the input is
    // ONE file so a single micro-batch preserves event-time order.
    "stream_sessionize" -> ((s, dir) => {
      val prepared = java.nio.file.Files.createTempDirectory("graft_strs")
        .toString + "/ev"
      val ev = events(s, dir).select(col("user_id"), col("ts"), col("value"))
      val sentinelMs = 7258118400000L // 2200-01-01
      val sentinels = ev.select(col("user_id")).distinct()
        .select(col("user_id"), timestamp_millis(lit(sentinelMs)).alias("ts"),
          lit(0.0).alias("value"))
      ev.unionByName(sentinels).coalesce(1).write.parquet(prepared)
      val sImp = s; import sImp.implicits._
      val stream = s.readStream.schema(ev.schema).parquet(prepared)
        .as[graft.streaming.Sessionize.Event]
      val sess = graft.streaming.Sessionize.sessions(stream, gapMs = 3600000)
      val sink = s"stream_sess_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = sess.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      s.table(sink).filter(col("start_millis") < sentinelMs)
        .select(col("user_id"), col("n_events"), col("total"),
          col("start_millis").alias("start_ms"),
          col("end_millis").alias("end_ms"))
        .orderBy("user_id", "start_ms")
    }),

    "topk" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc)
        .limit(15)
    }),

    // ----------------------------------------------------------------- set ops
    "c14_concat_union" -> ((s, dir) => {
      val ev = events(s, dir)
      val a = new TableStore(s, ev.filter(col("value") < 0.3), "a", "event_id")
      val b = new TableStore(s, ev.filter(col("value") >= 0.7), "b", "event_id")
      new ConcatStore(Seq(a, b)).df
        .groupBy(col("event_type")).agg(count(lit(1)).alias("n"))
        .orderBy("event_type")
    }),

    "setop_except" -> ((s, dir) => {
      val p = t(s, dir, "part")
      p.select(col("p_brand")).distinct()
        .except(p.filter(col("p_size") < 10).select(col("p_brand")))
        .orderBy("p_brand")
    }),

    "setop_intersect" -> ((s, dir) => {
      val p = t(s, dir, "part")
      p.filter(col("p_size") < 10).select(col("p_brand"))
        .intersect(p.filter(col("p_size") > 40).select(col("p_brand")))
        .orderBy("p_brand")
    }),

    // ------------------------------------------------------------ view stores
    "c15_aliasing" -> ((s, dir) => {
      val inner = new TableStore(s, t(s, dir, "orders"), "orders", "o_orderkey", "o_orderdate")
      val aliased = new AliasingStore(inner,
        Map("id" -> "o_orderkey", "price" -> "o_totalprice", "status" -> "o_orderstatus"))
      aliased.query(QueryParams(
        criteria = Some("""{"price": {"$gt": 200000}, "status": "F"}"""),
        properties = Seq("id", "price"), sort = Seq("id" -> 1)))
    }),

    "c16_sandbox" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("sbxn",
        when(col("event_id") % 3 === 0, array(lit("core")))
          .when(col("event_id") % 3 === 1, array(lit("other")))
          .otherwise(lit(null).cast("array<string>")))
      val inner = new TableStore(s, ev, "events", "event_id")
      new SandboxStore(inner, "core").df
        .groupBy(col("event_type")).agg(count(lit(1)).alias("n"))
        .orderBy("event_type")
    }),

    "c8_object_covered" -> ((s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_os").toString
      val os = new graft.store.ObjectStore(s, s"$base/d", s"$base/i",
        key = "o_orderkey", searchableFields = Seq("o_orderstatus"),
        lastUpdatedField = "o_orderdate")
      os.update(t(s, dir, "orders"))
      os.query(QueryParams(criteria = Some("""{"o_orderstatus": "F"}"""),
        properties = Seq("o_orderkey", "o_orderstatus"), sort = Seq("o_orderkey" -> 1)))
    }),

    "c7_blob_latest" -> ((s, dir) => {
      // GridFS-analogue blob plane: zlib-on-write, newest-per-key dedup,
      // metadata.-prefixed criteria, inflate-on-read round trip
      val base = java.nio.file.Files.createTempDirectory("graft_blob").toString
      val bs = new graft.store.BlobStore(s, base, key = "doc_id",
        lastUpdatedField = "lu", searchableFields = Seq("source"),
        compression = true)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"),
          timestamp_millis(col("doc_id") * 1000).alias("lu"))
      bs.put(docs, "text")
      bs.put(docs.filter(col("doc_id") % 10 === 0)
        .withColumn("text", concat(col("text"), lit(" v2")))
        .withColumn("lu", timestamp_millis(col("doc_id") * 1000 + 3600000L)),
        "text")
      bs.inflated(bs.query(QueryParams(criteria =
          Some("""{"length": {"$gt": 0}, "source": {"$exists": true}}"""))))
        .select(col("doc_id"),
          col("metadata.length").alias("length"),
          col("metadata.content_md5").alias("content_md5"),
          col("metadata.compression").alias("compression"),
          col("metadata.source").alias("source"),
          md5(col("payload")).alias("payload_md5"),
          unix_millis(col("metadata.lu")).alias("lu_ms"))
        .orderBy("doc_id")
    }),

    "c10_query_expr" -> ((s, dir) => {
      // C10 pandas-query-string surface: SQL expression filter on a store
      val store = new TableStore(s, t(s, dir, "orders"), "orders", "o_orderkey", "o_orderdate")
      store.queryExpr("o_totalprice > 200000 AND o_orderstatus = 'F'")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    "a12_agg_sql" -> ((s, dir) => {
      // A12 aggregation escape hatch: raw SQL over the store's documents
      val store = new TableStore(s, t(s, dir, "lineitem"), "lineitem", "l_orderkey", "l_shipdate")
      // 100.0D: in Spark SQL text a bare `100.0` parses as DECIMAL(4,1)
      // (unlike the DataFrame API's lit(100.0)=double), which would make
      // the division DECIMAL-typed — the exact rendering trap fxSum avoids
      store.aggregateSql(
        "SELECT l_returnflag, count(*) AS n, " +
        "CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) / 100.0D AS sum_disc " +
        "FROM docs GROUP BY l_returnflag ORDER BY l_returnflag")
    }),

    "s5b_groupby_paged" -> ((s, dir) => {
      // S5 parity params: criteria + properties + sort + skip + limit
      // fold before the grouping
      val store = new TableStore(s, t(s, dir, "orders"), "orders", "o_orderkey", "o_orderdate")
      store.groupby(Seq("o_orderpriority"),
        criteria = Some("""{"o_orderstatus": "O"}"""),
        properties = Seq("o_orderkey", "o_totalprice"),
        sort = Seq("o_orderkey" -> 1), skip = 100, limit = Some(1000))
        .select(col("o_orderpriority"), size(col("docs")).alias("n_docs"),
          aggregate(col("docs"),
            lit(0L), (acc, d) => acc + d.getField("o_orderkey")).alias("sum_keys"))
        .orderBy("o_orderpriority")
    }),

    "c12_opendata_pruned" -> ((s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_od").toString
      val od = new graft.store.OpenDataStore(s, base, Seq("o_orderstatus"),
        key = "o_orderkey", lastUpdatedField = "o_orderdate")
      od.update(t(s, dir, "orders"))
      od.query("""{"o_orderstatus": "O"}""")
        .select(col("o_orderkey")).orderBy("o_orderkey")
    }),

    // C4 JSON store end-to-end: documents rendered to JSONL with a BSON
    // $date-wrapped timestamp, read back through JsonStore ($date →
    // timestamp unwrap), upserted (write-back overlay + last-wins merge),
    // then queried with a $date criteria — the oracle replays the merge
    // arithmetically from the parquet table.
    "c4_json_store" -> ((s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_js").toString + "/docs"
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          struct(date_format(timestamp_millis(col("doc_id") * 1000),
            "yyyy-MM-dd'T'HH:mm:ss.SSSXXX").alias("$date")).alias("lu"))
        .write.json(base)
      val js = new graft.store.JsonStore(s, Seq(base), key = "doc_id",
        lastUpdatedField = "lu", multiLine = false, readOnly = false)
      js.update(t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), lit("xx").alias("lang"), col("source"),
          timestamp_millis(col("doc_id") * 1000 + 60000).alias("lu")))
      js.query(QueryParams(
        criteria = Some("""{"lu": {"$gt": {"$date": "1970-01-01T00:05:00Z"}}}"""),
        properties = Seq("doc_id", "lang", "source", "lu"),
        sort = Seq("doc_id" -> 1)))
    }),

    // C6 FileStore end-to-end: one real file per doc (bounded subset —
    // each doc must be its OWN file for the binaryFile source, so the
    // fixture writes driver-side under an explicit doc_id < 500 cap),
    // sidecar metadata merged by file_id, one orphan metadata row whose
    // file never existed. Every output column is derivable from the
    // parquet table (sizes/md5s/paths), so the oracle replays it all.
    "c6_file_store" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_fsr").toString
      def md5hex(v: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
        .select(col("doc_id"), col("text"), col("lang")).collect() // ≤ 500 by the cap
      docs.foreach { r =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(root, s"d${r.getLong(0)}.txt"),
          r.getString(1).getBytes("UTF-8"))
      }
      val fs = new graft.store.FileStore(s, root)
      val sImp = s; import sImp.implicits._
      val meta = docs.filter(_.getLong(0) % 2 == 0)
        .map(r => (md5hex(s"d${r.getLong(0)}.txt"), r.getString(2))).toSeq
        .:+((md5hex("ghost.txt"), "orphan-tag"))
        .toDF("file_id", "tag")
      fs.update(meta)
      fs.df.select(col("file_id"), col("name"), col("path_relative"),
          col("parent"), col("size"), col("hash"), col("orphan"), col("tag"))
        .orderBy("file_id")
    }),

    // STREAMING twin of agg_time_window, oracle-checked end-to-end: the
    // events parquet replays through Structured Streaming
    // (Trigger.AvailableNow, memory sink, complete mode) and the
    // finished table is returned — certifying the streaming aggregation
    // plane computes exactly what the batch plane and the DuckDB oracle
    // compute. At scale this is the readStream → window-agg → sink shape
    // verbatim; AvailableNow is how a backfill runs it over history.
    "stream_time_window" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val batch = s.read.parquet(s"$dir/events.parquet")
      // FileStreamSource wants a DIRECTORY: stream the sf dir with a
      // glob pinned to the events table file
      val raw = s.readStream.schema(batch.schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val ev = batch.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _: org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw
      }
      val out = ev
        .groupBy(date_trunc("day", col("ts")).alias("d"), col("event_type"))
        .agg(count(lit(1)).alias("n"), fxSum(col("value"), 1000000L).alias("sum_val"))
      val sink = s"stream_tw_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      s.table(sink).orderBy("d", "event_type")
    }),

    "validator_invalid" -> ((s, dir) => {
      val v = new graft.store.DocValidator(Seq(
        graft.store.FieldRule("o_orderkey", required = true),
        graft.store.FieldRule("o_totalprice", max = Some(300000.0))))
      val (_, invalid) = v.split(t(s, dir, "orders"))
      invalid.select(col("o_orderkey")).orderBy("o_orderkey")
    }),

    // ------------------------------------------------------------- API layer
    "api_compile" -> ((s, dir) => {
      val df = t(s, dir, "orders")
      val params = Map(
        "o_totalprice_min" -> "50000", "o_totalprice_max" -> "150000",
        "o_orderstatus" -> "O",
        "_sort_fields" -> "-o_orderdate,o_orderkey",
        "_fields" -> "o_orderkey,o_orderdate,o_totalprice",
        "_page" -> "2", "_per_page" -> "50")
      val qp = QueryOperator.compile(params, Seq(
        new DynamicQuery(df.schema), new SortQuery, new SparseFieldsQuery,
        new PaginationQuery))
      qp(df)
    }),

    "a10_text_facets" -> ((s, dir) => {
      // $text search + facet counts (A10 generate_atlas_search_pipeline).
      // All facets come out of ONE scan: each matching doc explodes into
      // one (facet, value) row per facet dimension, then a single
      // hash-agg counts them — a union of per-facet groupBys would re-run
      // the $text tokenization scan once per facet.
      val m = MongoFilter(t(s, dir, "documents"),
        """{"$text": {"$search": "spark data"}}""")
      m.select(explode(array(
          struct(lit("source").alias("facet"), col("source").alias("value")),
          struct(lit("lang").alias("facet"), col("lang").alias("value"))))
          .alias("fv"))
        .groupBy(col("fv.facet").alias("facet"), col("fv.value").alias("value"))
        .agg(count(lit(1)).alias("n"))
        .orderBy("facet", "value")
    }),

    // A10 compound semantics: quoted phrase (contiguous containment) in
    // the must clause, $mustNot exclusion — the reference's Atlas
    // compound {must, mustNot} operator (api/resource/utils.py:80-82)
    "a10_text_mustnot" -> ((s, dir) =>
      MongoFilter(t(s, dir, "documents"),
        """{"$text": {"$search": "\"table value\"", "$mustNot": "slow"}}""")
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy("doc_id")),

    // top-level scalar pull via the compiled single-pass scanner
    // (property-pinned byte-equal to get_json_object in JsonGetSpec;
    // the builtin's per-row Jackson parser was a 24x constant at sf1)
    "json_scalar_extract" -> ((s, dir) => {
      events(s, dir)
        .select((graft.functions.GraftFunctions.jsonGetTop(s, col("props"), "k")
          .cast("long") % 10).alias("kb"))
        .groupBy("kb").agg(count(lit(1)).alias("n"))
        .orderBy("kb")
    }),

    // ------------------------------------------------------------ extensions
    "text_stats" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).alias("n_tokens"),
        length(col("text")).alias("len_chars"),
        TextAnalysis.punctCount(col("text")).alias("n_punct"))
        .orderBy("doc_id")
    }),

    "text_quality" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).alias("lang_pred"),
        round(TextAnalysis.stopwordRatio(col("text")), 4).alias("sw_ratio"),
        TextAnalysis.qualityScore(col("text")).alias("quality"))
        .orderBy("doc_id")
    }),

    "text_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).alias("fp"))
        .orderBy("doc_id")
    }),

    // Gopher-rule document filter with per-rule attrition flags — one
    // codegen'd projection, no shuffle before the output sort
    "text_gopher_rules" -> ((s, dir) => {
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
    }),

    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(dupCorpus(s, dir), "doc_id", "text")
        .select(col("h"), col("n"), col("keep")).orderBy("h")),

    // Zipf-skew stress row (VERDICT r14 #7): ONE content hash holds 10 %
    // of the corpus; the exact-dedup survivors must compute without any
    // reduce task streaming the hot group (map-side min_by partial agg —
    // Bench stamps the measured per-task shuffle rows as skew_counters)
    "skew_dedup_exact" -> ((s, dir) =>
      skewDedupPlan(s, dir).orderBy("doc_id")),

    "dedup_fingerprint" -> ((s, dir) =>
      Dedup.byFingerprint(dupCorpus(s, dir), "doc_id", "text")
        .select(col("fp"), col("n"), col("keep")).orderBy("fp")),

    "dedup_minhash_lsh" -> ((s, dir) =>
      // md5 hash family: byte-replayable in the DuckDB oracle; k=32 with
      // two components per digest keeps the md5 count at 16/shingle
      sortedPairs(Dedup.minhashLsh(nearDupCorpus(s, dir), "doc_id", "text",
        numHashes = 32, bands = 16, threshold = 0.5, family = "md5"),
        "a", "b")),

    // 2-batch INCREMENTAL LSH — the repeat-build contract (reference
    // `core/store.py:239-275`: process only the unseen): the signature
    // index is built from the original corpus (batch A), then the
    // suffixed near-dup batch (ids >= 1000000) runs through the
    // incremental operator — pairs against the stored index plus within
    // the batch, without re-reading batch-A text. md5 family so the
    // oracle replays batch-B-vs-index banding against the batch-A
    // signature CTE.
    "dedup_minhash_incremental" -> ((s, dir) => {
      val corpus = nearDupCorpus(s, dir)
      val sigsA = Dedup.minhashSignatures(
        corpus.filter(col("doc_id") < 1000000L), "doc_id", "text",
        numHashes = 32, shingleSize = 3, family = "md5")
      sortedPairs(Dedup.minhashLshIncremental(
        corpus.filter(col("doc_id") >= 1000000L), sigsA, "doc_id", "text",
        numHashes = 32, bands = 16, threshold = 0.5, family = "md5"),
        "a", "b")
    }),

    // 2-batch incremental build through the BUILDER plane: batch A
    // (original corpus) trains the signature index + canonical target,
    // batch B (suffixed near-dups) processes ONLY the unseen docs
    // against the persisted state and REPAIRS the target (dethroned
    // canonicals removed). Convergence contract: the repaired target
    // equals the from-scratch canonical view of the full corpus, which
    // the oracle computes via the same md5 minhash replay +
    // recursive-CTE closure + min-id survivors.
    "dedup_builder_incremental" -> ((s, dir) => {
      val corpus = nearDupCorpus(s, dir)
      val src = new graft.store.MemoryStore(s, "dbi_src", "doc_id", "doc_id")
      val tgt = new graft.store.MemoryStore(s, "dbi_tgt", "doc_id", "doc_id")
      val idxRoot = java.nio.file.Files.createTempDirectory("graft_dbi").toString
      def mk() = new graft.builder.DedupBuilder(src, tgt, "text",
        method = "minhash", threshold = 0.5,
        indexStore = Some(new graft.store.ParquetStore(s, idxRoot, "id", "cluster")),
        numHashes = 32, bands = 16, shingleSize = 3, family = "md5")
      src.load(corpus.filter(col("doc_id") < 1000000L))
      mk().run()
      src.load(corpus)
      mk().run()
      tgt.df.select(col("doc_id")).orderBy("doc_id")
    }),

    // lu-UPDATE half of the builder contract (reference
    // `core/store.py:239-275`; VERDICT r14 #2): batch A indexes the full
    // near-dup corpus, batch B MUTATES a slice of it in place (same ids,
    // newer lu — pairs dissolve, canonicals leave, new duplicate edges
    // form; see mutatedNearDupCorpus). The run must drop the stale
    // signatures, re-resolve the touched clusters from stored state,
    // re-index the mutated docs, and repair the target — converging to
    // the from-scratch canonical view of the FINAL corpus, which the
    // oracle replays over the mutated-corpus CTE.
    "dedup_builder_update" -> ((s, dir) => {
      val src = new graft.store.MemoryStore(s, "dbu_src", "doc_id", "lu")
      val tgt = new graft.store.MemoryStore(s, "dbu_tgt", "doc_id", "lu")
      val idxRoot = java.nio.file.Files.createTempDirectory("graft_dbu").toString
      def mk() = new graft.builder.DedupBuilder(src, tgt, "text",
        method = "minhash", threshold = 0.5,
        indexStore = Some(new graft.store.ParquetStore(s, idxRoot, "id", "cluster")),
        numHashes = 32, bands = 16, shingleSize = 3, family = "md5")
      src.load(nearDupCorpus(s, dir).withColumn("lu", lit(1L)))
      mk().run()
      src.load(mutatedNearDupCorpus(s, dir))
      val r2 = mk().run()
      require(r2.updated > 0, s"lu-update run must report updated docs: $r2")
      tgt.df.select(col("doc_id")).orderBy("doc_id")
    }),

    // STREAMING twin of dedup_builder_incremental, oracle-checked
    // end-to-end: the same 2-batch corpus replays through
    // StreamingBuilder.dedupStream as two file-source micro-batches
    // (maxFilesPerTrigger=1; batch A's part file gets an earlier mtime
    // so the source's timestamp order replays A-then-B). Each trigger
    // runs one incremental DedupBuilder round against the persisted
    // signature index, so the final repaired target must equal the
    // from-scratch canonical view — the same convergence contract (and
    // oracle SQL) as the batch-driven builder row.
    "stream_dedup" -> ((s, dir) => {
      val corpus = nearDupCorpus(s, dir).select(col("doc_id"), col("text"))
      val prepared = java.nio.file.Files.createTempDirectory("graft_strd")
        .toString + "/docs"
      corpus.filter(col("doc_id") < 1000000L).coalesce(1).write.parquet(prepared)
      new java.io.File(prepared).listFiles().foreach(f =>
        f.setLastModified(1000000000000L))
      corpus.filter(col("doc_id") >= 1000000L).coalesce(1)
        .write.mode("append").parquet(prepared)
      val stream = s.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1).parquet(prepared)
      val tgt = new graft.store.MemoryStore(s, "strd_tgt", "doc_id", "doc_id")
      val idxRoot = java.nio.file.Files.createTempDirectory("graft_strdidx").toString
      val idx = new graft.store.ParquetStore(s, idxRoot, "id", "cluster")
      val q = graft.streaming.StreamingBuilder.dedupStream(
        stream, "doc_id", "text", tgt, idx,
        method = "minhash", threshold = 0.5,
        numHashes = 32, bands = 16, shingleSize = 3, family = "md5")
      try {
        q.processAllAvailable()
      } finally q.stop()
      tgt.df.select(col("doc_id")).orderBy("doc_id")
    }),

    // STREAMING image near-dup: the multimodal twin of stream_dedup —
    // base images arrive as trigger A, perturbed twins as trigger B;
    // each trigger runs one incremental image-dHash DedupBuilder round
    // against the persisted signature index, and the repaired target
    // must equal the from-scratch canonical view (same convergence
    // contract; oracle replays the dHash arithmetic + banding + CC).
    "stream_dedup_images" -> ((s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").select(col("doc_id")).as[Long]
      val base = ids.map(id => (id, Multimodal.syntheticCellBmp(id)))
        .toDF("doc_id", "img")
      val twins = ids.filter(_ % 10 == 0)
        .map(id => (id + 1000000L, Multimodal.syntheticCellBmp(id, perturbCell = 0)))
        .toDF("doc_id", "img")
      val prepared = java.nio.file.Files.createTempDirectory("graft_strdi")
        .toString + "/imgs"
      base.coalesce(1).write.parquet(prepared)
      new java.io.File(prepared).listFiles().foreach(f =>
        f.setLastModified(1000000000000L))
      twins.coalesce(1).write.mode("append").parquet(prepared)
      val stream = s.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1).parquet(prepared)
      val tgt = new graft.store.MemoryStore(s, "strdi_tgt", "doc_id", "doc_id")
      val idxRoot = java.nio.file.Files.createTempDirectory("graft_strdiidx").toString
      val idx = new graft.store.ParquetStore(s, idxRoot, "id", "cluster")
      val q = graft.streaming.StreamingBuilder.dedupStream(
        stream, "doc_id", "img", tgt, idx, method = "image")
      try {
        q.processAllAvailable()
      } finally q.stop()
      tgt.df.select(col("doc_id")).orderBy("doc_id")
    }),

    // the continuous-rebuild CORE contract (StreamingBuilder §2.7),
    // oracle-checked: two ordered micro-batches upsert into a durable
    // ParquetStore — batch B re-ingests every doc_id % 10 == 0 with
    // amended text, and the merged store must read the amended rows for
    // those keys and the originals elsewhere (upsert-by-key
    // last-write-wins across triggers, the foreachBatch → Store.update
    // path that makes replays idempotent).
    "stream_upsert" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val base = java.nio.file.Files.createTempDirectory("graft_stru").toString
      val prepared = s"$base/docs"
      docs.withColumn("lu", lit(1L)).coalesce(1).write.parquet(prepared)
      new java.io.File(prepared).listFiles().foreach(f =>
        f.setLastModified(1000000000000L))
      docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v2")).alias("text"),
          lit(2L).alias("lu"))
        .coalesce(1).write.mode("append").parquet(prepared)
      val schema = s.read.parquet(prepared).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(prepared)
      val tgt = new graft.store.ParquetStore(s, s"$base/tgt", "doc_id", "lu")
      new graft.streaming.StreamingBuilder(stream, tgt).runOnce()
      tgt.df.select(col("doc_id"), col("text")).orderBy("doc_id")
    }),

    "dedup_simhash" -> ((s, dir) =>
      // md5 hash family: byte-replayable in the DuckDB oracle
      sortedPairs(Dedup.simhashPairs(nearDupCorpus(s, dir), "doc_id", "text",
        maxHamming = 3, family = "md5"), "a", "b")),

    "dedup_ngram_jaccard" -> ((s, dir) =>
      sortedPairs(Dedup.ngramJaccardPairs(nearDupCorpus(s, dir), "doc_id",
        "text", n = 3, threshold = 0.5), "a", "b")),

    // cluster resolution: pairs -> connected components -> one cluster id
    // per member (min id). md5 family so the oracle replays the pair set.
    "dedup_clusters" -> ((s, dir) =>
      Dedup.clusters(
        Dedup.minhashLsh(nearDupCorpus(s, dir), "doc_id", "text",
          numHashes = 32, bands = 16, threshold = 0.5, family = "md5"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // perplexity-proxy quality filter: per-doc mean unigram logprob
    // under the corpus's own distribution (fixed-point log sum so the
    // oracle's reassociated float sum can't hash-diverge)
    "text_unigram_logprob" -> ((s, dir) =>
      TextAnalysis.unigramLogProb(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // 2-batch PERSISTED-LM lifecycle (the train/score split of the
    // perplexity filter): batch A1 (doc_id%4==0) trains the vocab store,
    // batch A2 (doc_id%4==2) arrives as a SECOND incremental builder run
    // — the newer_in watermark (lu) admits only the new docs, and the
    // count MERGE sums into the persisted rows via an O(batch) delta
    // write — then batch B (odd ids) is scored against the PERSISTED
    // counts only. The oracle certifies the whole lifecycle: its vocab
    // CTE is the count over ALL even docs, so a broken watermark
    // (double-counted A1) or a broken merge (last-write-wins clobber)
    // hash-diverges.
    "text_unigram_incr" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val root = java.nio.file.Files.createTempDirectory("graft_ulm").toString
      val src = new graft.store.MemoryStore(s, "ulm_src", "doc_id", "lu")
      val vocab = new graft.store.ParquetStore(s, root, "tok",
        "last_updated", deltaWrites = true)
      def mk() = new graft.builder.UnigramLmBuilder(src, vocab, "text")
      src.load(docs.filter(col("doc_id") % 4 === 0).withColumn("lu", lit(1L)))
      mk().run()
      src.load(docs.filter(col("doc_id") % 2 === 0).withColumn("lu",
        when(col("doc_id") % 4 === 0, lit(1L)).otherwise(lit(2L))))
      mk().run()
      TextAnalysis.scoreWithVocab(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", vocab)
        .orderBy("doc_id")
    }),

    // lu-UPDATE half of the unigram-LM delta contract (the
    // text_bm25_update pattern): batch A trains on the even ids, batch
    // B RE-WRITES every %6==0 doc (planted md5 word, lu bumped). The
    // per-doc contributions store lets run 2 un-count the stale text
    // before re-counting the new — the odd ids then score against the
    // persisted vocab, which must equal the from-scratch train over
    // the FINAL corpus (the oracle's replay). A broken subtract leaves
    // the old tokens in the counts and hash-diverges.
    "text_unigram_update" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val base = java.nio.file.Files.createTempDirectory("graft_ulmu").toString
      val src = new graft.store.MemoryStore(s, "ulmu_src", "doc_id", "lu")
      val vocab = new graft.store.ParquetStore(s, s"$base/vocab", "tok",
        "last_updated", deltaWrites = true)
      val contrib = new graft.store.ParquetStore(s, s"$base/docs", "id",
        "lu", deltaWrites = true)
      def mk() = new graft.builder.UnigramLmBuilder(src, vocab, "text",
        docs = Some(contrib))
      val evens = docs.filter(col("doc_id") % 2 === 0)
      src.load(evens.withColumn("lu", lit(1L)))
      mk().run()
      val mutated = evens.select(col("doc_id"),
        when(col("doc_id") % 6 === 0,
          concat(col("text"), lit(" updated "),
            substring(md5(col("doc_id").cast("string")), 1, 6)))
          .otherwise(col("text")).alias("text"),
        when(col("doc_id") % 6 === 0, lit(2L)).otherwise(lit(1L)).alias("lu"))
      src.load(mutated)
      val r2 = mk().run()
      val changed = evens.filter(col("doc_id") % 6 === 0).count()
      require(r2.updated == changed && r2.processed == changed,
        s"run 2 must re-process exactly the $changed re-written docs: $r2")
      TextAnalysis.scoreWithVocab(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", vocab)
        .orderBy("doc_id")
    }),

    // model-based quality classifier (the fastText-style curation
    // filter): hashed uni+bigram NB log-odds, trained on the even-id
    // split of the labeled fixture corpus, scoring the odd-id split.
    // md5 bucket hashing + micro-fixed weights so the oracle replays
    // training AND scoring exactly.
    "text_quality_clf" -> ((s, dir) => {
      val docs = clfCorpus(s, dir)
      val model = graft.ext.QualityClassifier.train(
        docs.filter(col("doc_id") % 2 === 0), "text", "label")
      graft.ext.QualityClassifier.score(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", model)
        .orderBy("doc_id")
    }),

    // 2-batch PERSISTED-model lifecycle of the classifier: batch A1
    // (doc_id%4==0) trains, batch A2 (other evens) merges in as a
    // second incremental run (newer_in watermark admits only the new
    // docs; per-class counts MERGE additively — the property NB buys),
    // then the odd ids score against the PERSISTED counts only. The
    // oracle is the from-scratch train-on-evens SQL, so a broken
    // watermark or merge hash-diverges.
    // the FULL curation chain as a Runner pipeline spec — the thing a
    // real pretraining-data user actually runs: quality_clf trains the
    // NB model over the labeled corpus, then the curate builder chains
    // C4 cleaning → Gopher gate → classifier gate → exact dedup →
    // 13-gram decontamination vs the %37 eval slice → weighted mix →
    // sequence packing, writing the data-loader manifest. The oracle
    // replays every stage in SQL over the same planted corpus.
    "pipeline_curate" -> ((s, dir) => {
      val cur = curateCorpus(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_curate").toString
      cur.write.parquet(s"$base/docs")
      cur.filter(col("doc_id") % 37 === 0)
        .select(col("doc_id"),
          TextAnalysis.c4Filters(col("text")).getField("clean").alias("text"))
        .write.parquet(s"$base/eval")
      val spec = s"""{
        "stores": {
          "src": {"type": "parquet_table", "path": "$base/docs", "key": "doc_id", "last_updated": "doc_id"},
          "eval": {"type": "parquet_table", "path": "$base/eval", "key": "doc_id", "last_updated": "doc_id"},
          "clf": {"type": "parquet", "root": "$base/clf", "key": "bucket", "last_updated": "last_updated", "delta_writes": true},
          "tgt": {"type": "parquet", "root": "$base/tgt", "key": "doc_id", "last_updated": "pack_id"}
        },
        "builders": [
          {"type": "quality_clf", "source": "src", "model": "clf", "text_field": "text", "label_field": "label"},
          {"type": "curate", "source": "src", "target": "tgt", "model": "clf", "eval": "eval",
           "mix_rates": {"en": 0.5, "de": 0.25}, "mix_default_rate": 0.1, "seq_len": 2048}
        ]
      }"""
      graft.run.Runner.run(s, spec)
      new graft.store.ParquetStore(s, s"$base/tgt", "doc_id", "pack_id").df
        .select("doc_id", "lang", "n_tokens", "pack_id", "pack_offset")
        .orderBy("doc_id")
    }),

    // INCREMENTAL curation (VERDICT r14 #3): the per-doc stages (C4,
    // Gopher, clf score, content hash, decon verdict) run only for docs
    // the facts store hasn't seen — batch A is the even half, batch B
    // the full corpus, so run 2 pays stage-1–5 work for the odd half
    // only while the (manifest-sized, text-free) mix+pack tail re-runs
    // corpus-global. The model is trained ONCE on the full labeled
    // corpus (a fixed dependency of the facts; see CurateBuilder
    // invalidation contract). Convergence: the final manifest equals
    // the from-scratch chain — the SAME oracle SQL as pipeline_curate.
    "pipeline_curate_incr" -> ((s, dir) => {
      val cur = curateCorpus(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_curinc").toString
      val src = new graft.store.MemoryStore(s, "curinc_src", "doc_id", "lu")
      val tgt = new graft.store.MemoryStore(s, "curinc_tgt", "doc_id", "lu")
      val factsStore = new graft.store.ParquetStore(s, s"$base/facts", "doc_id", "lu")
      val clf = new graft.store.ParquetStore(s, s"$base/clf", "bucket",
        "last_updated", deltaWrites = true)
      val evalStore = new graft.store.MemoryStore(s, "curinc_eval", "doc_id", "doc_id")
      evalStore.load(cur.filter(col("doc_id") % 37 === 0)
        .select(col("doc_id"),
          TextAnalysis.c4Filters(col("text")).getField("clean").alias("text")))
      val clfSrc = new graft.store.MemoryStore(s, "curinc_clfsrc", "doc_id", "lu")
      clfSrc.load(cur.withColumn("lu", lit(1L)))
      new graft.builder.QualityClfBuilder(clfSrc, clf, "text", "label").run()
      def mk() = new graft.builder.CurateBuilder(src, tgt,
        model = Some(clf), eval = Some(evalStore), facts = Some(factsStore),
        mixRates = Map("en" -> 0.5, "de" -> 0.25), mixDefaultRate = 0.1,
        seqLen = 2048)
      src.load(cur.filter(col("doc_id") % 2 === 0).withColumn("lu", lit(1L)))
      mk().run()
      src.load(cur.withColumn("lu", lit(1L)))
      val r2 = mk().run()
      require(r2.processed > 0 && r2.updated == 0,
        s"run 2 must examine only the unseen odd half: $r2")
      tgt.df.select("doc_id", "lang", "n_tokens", "pack_id", "pack_offset")
        .orderBy("doc_id")
    }),

    // STREAMING twin of the curation chain: the corpus replays as two
    // ordered file-source micro-batches (evens, then odds); each
    // trigger upserts into the durable source store and re-runs the
    // SAME incremental CurateBuilder — the facts store carries per-doc
    // verdicts across triggers (each trigger pays stage-1–5 work for
    // its own docs only), the manifest tail re-runs over the text-free
    // facts. After the final trigger the manifest equals the
    // from-scratch chain — the SAME oracle SQL as pipeline_curate.
    "stream_curate" -> ((s, dir) => {
      val cur = curateCorpus(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_strcur").toString
      val clf = new graft.store.ParquetStore(s, s"$base/clf", "bucket",
        "last_updated", deltaWrites = true)
      val clfSrc = new graft.store.MemoryStore(s, "strcur_clfsrc", "doc_id", "lu")
      clfSrc.load(cur.withColumn("lu", lit(1L)))
      new graft.builder.QualityClfBuilder(clfSrc, clf, "text", "label").run()
      val evalStore = new graft.store.MemoryStore(s, "strcur_eval", "doc_id", "doc_id")
      evalStore.load(cur.filter(col("doc_id") % 37 === 0)
        .select(col("doc_id"),
          TextAnalysis.c4Filters(col("text")).getField("clean").alias("text")))
      val prepared = s"$base/in"
      val withLu = cur.withColumn("lu", lit(1L))
      withLu.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(prepared)
      new java.io.File(prepared).listFiles().foreach(f =>
        f.setLastModified(1000000000000L))
      withLu.filter(col("doc_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(prepared)
      val stream = s.readStream.schema(withLu.schema)
        .option("maxFilesPerTrigger", 1).parquet(prepared)
      val src = new graft.store.ParquetStore(s, s"$base/src", "doc_id", "lu")
      val tgt = new graft.store.ParquetStore(s, s"$base/tgt", "doc_id", "pack_id")
      val facts = new graft.store.ParquetStore(s, s"$base/facts", "doc_id", "lu")
      val q = graft.streaming.StreamingBuilder.curateStream(stream, "doc_id",
        src, tgt, facts, model = Some(clf), eval = Some(evalStore),
        mixRates = Map("en" -> 0.5, "de" -> 0.25), mixDefaultRate = 0.1,
        seqLen = 2048)
      try q.processAllAvailable() finally q.stop()
      tgt.df.select("doc_id", "lang", "n_tokens", "pack_id", "pack_offset")
        .orderBy("doc_id")
    }),

    "text_quality_clf_incr" -> ((s, dir) => {
      val docs = clfCorpus(s, dir)
      val root = java.nio.file.Files.createTempDirectory("graft_qclf").toString
      val src = new graft.store.MemoryStore(s, "qclf_src", "doc_id", "lu")
      val model = new graft.store.ParquetStore(s, root, "bucket",
        "last_updated", deltaWrites = true)
      def mk() = new graft.builder.QualityClfBuilder(src, model, "text", "label")
      src.load(docs.filter(col("doc_id") % 4 === 0).withColumn("lu", lit(1L)))
      mk().run()
      src.load(docs.filter(col("doc_id") % 2 === 0).withColumn("lu",
        when(col("doc_id") % 4 === 0, lit(1L)).otherwise(lit(2L))))
      mk().run()
      mk().score(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // lu-UPDATE half of the classifier delta contract: batch B both
    // RE-WRITES and RE-LABELS every %6==0 training doc (labeled
    // feedback correcting earlier labels — the real re-train trigger).
    // The contributions store lets run 2 subtract the doc's counts
    // from its OLD class column before re-counting into the new; the
    // persisted model must equal the from-scratch train over the FINAL
    // corpus. A broken subtract leaves phantom counts in the flipped
    // class and hash-diverges the odd-id scores.
    "text_quality_clf_update" -> ((s, dir) => {
      val docs = clfCorpus(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_qclfu").toString
      val src = new graft.store.MemoryStore(s, "qclfu_src", "doc_id", "lu")
      val model = new graft.store.ParquetStore(s, s"$base/model", "bucket",
        "last_updated", deltaWrites = true)
      val contrib = new graft.store.ParquetStore(s, s"$base/docs", "id",
        "lu", deltaWrites = true)
      def mk() = new graft.builder.QualityClfBuilder(src, model, "text",
        "label", docs = Some(contrib))
      val evens = docs.filter(col("doc_id") % 2 === 0)
      src.load(evens.withColumn("lu", lit(1L)))
      mk().run()
      val mutated = evens.select(col("doc_id"),
        when(col("doc_id") % 6 === 0,
          concat(col("text"), lit(" updated "),
            substring(md5(col("doc_id").cast("string")), 1, 6)))
          .otherwise(col("text")).alias("text"),
        when(col("doc_id") % 6 === 0, lit(1) - col("label"))
          .otherwise(col("label")).alias("label"),
        when(col("doc_id") % 6 === 0, lit(2L)).otherwise(lit(1L)).alias("lu"))
      src.load(mutated)
      val r2 = mk().run()
      val changed = evens.filter(col("doc_id") % 6 === 0).count()
      require(r2.updated == changed && r2.processed == changed,
        s"run 2 must re-process exactly the $changed mutated docs: $r2")
      mk().score(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // STREAMING twin of text_quality_clf_incr, oracle-checked end-to-end:
    // the two even-id training batches replay as two file-source
    // micro-batches (%4==0 with the earlier mtime and lu=1, the rest of
    // the evens lu=2), each trigger trains through the SAME
    // QualityClfBuilder (per-class counts merge additively, the watermark
    // admits only the new rows), then the odd ids score against the
    // PERSISTED model — identical to the batch-driven train because
    // streaming state lives in the model store
    "stream_quality_clf" -> ((s, dir) => {
      val docs = clfCorpus(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_strclf").toString
      val prepared = s"$base/docs"
      val evens = docs.filter(col("doc_id") % 2 === 0)
      evens.filter(col("doc_id") % 4 === 0).withColumn("lu", lit(1L))
        .coalesce(1).write.parquet(prepared)
      new java.io.File(prepared).listFiles().foreach(f =>
        f.setLastModified(1000000000000L))
      evens.filter(col("doc_id") % 4 =!= 0).withColumn("lu", lit(2L))
        .coalesce(1).write.mode("append").parquet(prepared)
      val stream = s.readStream
        .schema(evens.withColumn("lu", lit(1L)).schema)
        .option("maxFilesPerTrigger", 1).parquet(prepared)
      val model = new graft.store.ParquetStore(s, s"$base/model", "bucket",
        "last_updated", deltaWrites = true)
      val q = graft.streaming.StreamingBuilder.qualityClfStream(
        stream, "doc_id", "lu", "text", "label", model)
      try q.processAllAvailable() finally q.stop()
      new graft.builder.QualityClfBuilder(
        new TableStore(s, docs, "strclf_src", "doc_id", "lu"), model,
        "text", "label")
        .score(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
        .orderBy("doc_id")
    }),

    "text_repetition" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.repetitionRatio(s, col("text"), n = 3).alias("rep_ratio"))
        .orderBy("doc_id")),

    // deterministic sampling / mixture ops (training-data curation):
    // md5 hash family so the oracle replays the exact sample membership
    "sample_hash" -> ((s, dir) =>
      Sampling.hashSample(t(s, dir, "documents"), "doc_id", rate = 0.25,
        family = "md5")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    "sample_stratified" -> ((s, dir) =>
      Sampling.stratified(t(s, dir, "documents"), Seq("lang", "source"),
        "doc_id", perStratum = 5, family = "md5")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    "sample_token_budget" -> ((s, dir) =>
      Sampling.tokenBudgetPack(
        t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).alias("n_tokens")),
        orderCol = "doc_id", tokensCol = "n_tokens", budget = 30000)
        .orderBy("doc_id")),

    // GPT-style sequence packing: concat-then-chunk ids over the token
    // stream — same distributed prefix sum as sample_token_budget
    "sample_pack_sequences" -> ((s, dir) =>
      Sampling.packSequences(
        t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).alias("n_tokens")),
        orderCol = "doc_id", tokensCol = "n_tokens", seqLen = 2048)
        .orderBy("doc_id")),

    // materialized packs: concat each fixed-length sequence's docs in
    // order — the data-loader end of sample_pack_sequences
    "sample_packed_text" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(col("doc_id"), col("text"),
        TextAnalysis.tokenCount(col("text")).alias("n_tokens"))
      Sampling.materializePacks(
          Sampling.packSequences(toks, "doc_id", "n_tokens", seqLen = 2048),
          "doc_id", "text")
        .select(col("pack_id"), col("n_docs"),
          md5(col("text").cast("binary")).alias("pack_md5"))
        .orderBy("pack_id")
    }),

    // trained subword tokenizer at REAL vocab scale: 1024 merges in 8
    // BATCHED rounds over the word histogram (top-128 pairs per
    // distributed round, applied in rank order — Bpe.trainBatched), then
    // per-doc subword counts via the COMPILED distinct-word encode
    // kernel (graft.functions.BpeCount: flat plan depth at any merge
    // count) + token-keyed join. The oracle replays the full batched
    // merge SEQUENCE as unrolled round CTEs — a drifted round order,
    // batch boundary, or replace semantics hash-diverges immediately.
    "text_bpe_tokens" -> ((s, dir) => {
      val docs = bpeCorpus(s, dir)
      val merges = graft.ext.Bpe.trainBatched(docs, "text",
        numMerges = 1024, batchSize = 128)
      graft.ext.Bpe.bpeTokenCounts(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }),

    // the packing plane re-run on TRAINED subword counts instead of the
    // regex heuristic — token budgets a real pipeline actually packs by
    "sample_pack_bpe" -> ((s, dir) => {
      val docs = bpeCorpus(s, dir)
      val merges = graft.ext.Bpe.trainBatched(docs, "text",
        numMerges = 1024, batchSize = 128)
      Sampling.packSequences(
        graft.ext.Bpe.bpeTokenCounts(docs, "doc_id", "text", merges)
          .select(col("doc_id"), col("n_bpe_tokens").alias("n_tokens")),
        orderCol = "doc_id", tokensCol = "n_tokens", seqLen = 2048)
        .orderBy("doc_id")
    }),

    // training-mix dial: per-language sampling rates as one pushdown
    // filter; md5 family so the oracle replays membership exactly
    "sample_weighted_mix" -> ((s, dir) =>
      Sampling.weightedMix(t(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1, family = "md5")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    // int8 embedding quantization fidelity: cosine(original, dequantized)
    // per vector — floor-based codes, so the oracle replays exactly
    "emb_quantize_error" -> ((s, dir) => {
      val emb = Similarity.quantizeI8(t(s, dir, "embeddings"), "embedding")
      emb.select(col("vec_id"),
          round(graft.functions.GraftFunctions.cosine(s, col("embedding"),
            Similarity.dequantize(col("q"), col("q_scale"))), 4).alias("qcos"))
        .orderBy("vec_id")
    }),

    "sim_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .orderBy("q_id", "rank")
    }),

    "sim_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // md5 hash family for the centroid draw: oracle-replayable
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
        nCentroids = 16, nprobe = 4, family = "md5")
        .orderBy("q_id", "rank")
    }),

    "sim_lsh_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), k = 5, dim = 64)
        .orderBy("q_id", "rank")
    }),

    // Okapi BM25 retrieval — the LEXICAL leg of hybrid search (more-
    // like-this curation, decontamination screens, RAG serving):
    // queries = every 97th document scored against the full corpus;
    // per-term scores fixed-pointed to micro-longs so the ranking
    // replays exactly (TextAnalysis.bm25TopK scaladoc)
    "text_bm25_topk" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.bm25TopK(docs,
          docs.filter(col("doc_id") % 97 === 0 && col("doc_id") < 1000000L),
          "doc_id", "text", k = 10)
        .orderBy("q_id", "rank")
    }),

    // incremental BM25 index, 2-batch lifecycle oracle: batch A (even
    // docs) builds postings + stats, batch B adds ONLY the odd docs
    // (id-based pending), then serving answers from the persisted index
    // — certified equal to the from-scratch BM25 over the union because
    // df/tf are per-(term, doc) facts and N/Σdl merge additively
    "text_bm25_incr" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = java.nio.file.Files.createTempDirectory("graft_bm25").toString
      val src = new graft.store.MemoryStore(s, "bm25_src", "doc_id", "doc_id")
      val idx = new graft.store.ParquetStore(s, s"$base/idx", "id", "term",
        deltaWrites = true)
      val st = new graft.store.ParquetStore(s, s"$base/st", "sid", "sid")
      def mk() = new graft.builder.Bm25IndexBuilder(src, idx, st, "text")
      src.load(docs.filter(col("doc_id") % 2 === 0))
      mk().run() // batch A: evens
      src.load(docs)
      mk().run() // batch B: only the odd ids index
      mk().topK(docs.filter(col("doc_id") % 89 === 0 && col("doc_id") < 1000000L), k = 8)
        .orderBy("q_id", "rank")
    }),

    // the UPDATE half of the reference incremental contract
    // (core/store.py:239-275): batch A indexes the full corpus at lu=1;
    // batch B re-loads it with every doc_id % 13 == 0 carrying NEW text
    // and lu=2 — the builder drops exactly those docs' stale postings,
    // decrements (n_docs, Σdl) by their OLD lengths, and re-indexes
    // them, so serving matches the from-scratch build over the FINAL
    // corpus (the oracle replays BM25 over the mutated corpus in SQL)
    "text_bm25_update" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val mut = docs.withColumn("text",
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" updated "),
          substring(md5(col("doc_id").cast("string")), 1, 6)))
          .otherwise(col("text")))
      val base = java.nio.file.Files.createTempDirectory("graft_bm25u").toString
      val src = new graft.store.MemoryStore(s, "bm25u_src", "doc_id", "lu")
      val idx = new graft.store.ParquetStore(s, s"$base/idx", "id", "term",
        deltaWrites = true)
      val st = new graft.store.ParquetStore(s, s"$base/st", "sid", "sid")
      def mk() = new graft.builder.Bm25IndexBuilder(src, idx, st, "text")
      src.load(docs.withColumn("lu", lit(1L)))
      mk().run() // batch A: the full original corpus at lu=1
      src.load(mut.withColumn("lu",
        when(col("doc_id") % 13 === 0, lit(2L)).otherwise(lit(1L))))
      mk().run() // batch B: only the lu-newer ids drop + re-index
      mk().topK(mut.filter(col("doc_id") % 89 === 0 && col("doc_id") < 1000000L), k = 8)
        .orderBy("q_id", "rank")
    }),

    // hybrid retrieval: BM25 lexical top-10 ∪ exact-cosine vector
    // top-10 over the SAME query ids, reciprocal-rank-fused
    // (Σ 1/(60+rank)), per-query top-5 — both retrieval planes composed
    // into the standard hybrid-search serving shape
    "search_hybrid_rrf" -> ((s, dir) => {
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
    }),

    // PQ ADC top-k with UNTRAINED codebooks (iters = 0): the books ARE
    // the md5-ordered seed draw sliced into subspaces, so every stage —
    // draw, encode argmin, LUT, ADC fold — is byte-replayable by the
    // oracle (Lloyd rounds would add distributed-mean float-order
    // nondeterminism; recall under training is spec-verified instead)
    "sim_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val books = Similarity.trainPq(emb, m = 8, ksub = 16, iters = 0, family = "md5")
      Similarity.pqTopKWithBooks(emb, emb.filter(col("vec_id") < 10), k = 5, books)
        .orderBy("q_id", "rank")
    }),

    // composed IVF-PQ serving shape: md5 coarse draw routes cells, the
    // same seed draw (sliced) quantizes — codes + LUT + ADC replayed in
    // SQL over the probed cells only
    "sim_ivfpq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
        nCentroids = 16, nprobe = 4, m = 8, ksub = 16, iters = 0, family = "md5")
        .orderBy("q_id", "rank")
    }),

    // the INCREMENTAL serving plane end-to-end: build the codes-only
    // index (delta parquet + JSON quantizer) through AnnIndexBuilder,
    // then answer from persisted codes — the oracle is the same IVF-PQ
    // replay, because a single-batch build with the deterministic
    // quantizer answers EXACTLY like the batch operator
    "ann_index_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val base = java.nio.file.Files.createTempDirectory("graft_ann").toString
      val idx = new graft.store.ParquetStore(s, s"$base/idx", "id", "cell",
        deltaWrites = true)
      val qz = new graft.store.ParquetStore(s, s"$base/qz", "qid", "qid")
      val b = new graft.builder.AnnIndexBuilder(
        new TableStore(s, emb, "annsrc", "vec_id", "vec_id"), idx, qz,
        "embedding", nCentroids = 16, m = 8, ksub = 16, iters = 0,
        family = "md5")
      b.run()
      b.topK(emb.filter(col("vec_id") < 10), k = 5, nprobe = 4)
        .orderBy("q_id", "rank")
    }),

    // 2-batch INCREMENTAL ANN serving: batch A (even ids) trains and
    // persists the quantizer; batch B (odd ids) is then encoded against
    // batch A's LOADED quantizer — the delta-append path, not the
    // degenerate single-batch case — and serving reads the persisted
    // codes across both generations. Replayable because the quantizer
    // is the deterministic md5 draw over batch A only.
    "ann_index_incr_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val base = java.nio.file.Files.createTempDirectory("graft_annincr").toString
      val src = new graft.store.MemoryStore(s, "annincr_src", "vec_id", "vec_id")
      val idx = new graft.store.ParquetStore(s, s"$base/idx", "id", "cell",
        deltaWrites = true)
      val qz = new graft.store.ParquetStore(s, s"$base/qz", "qid", "qid")
      def mk() = new graft.builder.AnnIndexBuilder(src, idx, qz, "embedding",
        nCentroids = 16, m = 8, ksub = 16, iters = 0, family = "md5")
      src.load(emb.filter(col("vec_id") % 2 === 0))
      mk().run() // batch A: trains + persists the quantizer, encodes evens
      src.load(emb)
      mk().run() // batch B: only the odd ids encode, against A's quantizer
      mk().topK(emb.filter(col("vec_id") < 10), k = 5, nprobe = 4)
        .orderBy("q_id", "rank")
    }),

    // the UPDATE half of the reference incremental contract for the ANN
    // plane: batch A trains the quantizer on the full ORIGINAL corpus
    // (lu=1) and encodes everything; batch B re-loads it with every
    // vec_id % 17 == 0 carrying a NEW embedding (reversed — SQL-
    // replayable) and lu=2 — the builder drops exactly those ids' stale
    // codes and re-encodes them against the FROZEN quantizer (updates
    // never retrain; staleness is rebuild()'s job), so serving matches
    // a from-scratch encode of the final corpus under batch A's books
    "ann_index_update" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val mut = emb.withColumn("embedding",
        when(col("vec_id") % 17 === 0, reverse(col("embedding")))
          .otherwise(col("embedding")))
      val base = java.nio.file.Files.createTempDirectory("graft_annu").toString
      val src = new graft.store.MemoryStore(s, "annu_src", "vec_id", "lu")
      val idx = new graft.store.ParquetStore(s, s"$base/idx", "id", "cell",
        deltaWrites = true)
      val qz = new graft.store.ParquetStore(s, s"$base/qz", "qid", "qid")
      def mk() = new graft.builder.AnnIndexBuilder(src, idx, qz, "embedding",
        nCentroids = 16, m = 8, ksub = 16, iters = 0, family = "md5")
      src.load(emb.withColumn("lu", lit(1L)))
      mk().run() // batch A: trains on the original corpus, encodes all
      src.load(mut.withColumn("lu",
        when(col("vec_id") % 17 === 0, lit(2L)).otherwise(lit(1L))))
      mk().run() // batch B: only the lu-newer ids drop + re-encode
      mk().topK(mut.filter(col("vec_id") < 10), k = 5, nprobe = 4)
        .orderBy("q_id", "rank")
    }),

    // STREAMING twin of ann_index_incr_topk, oracle-checked end-to-end:
    // the same even/odd split replays through annIndexStream as two
    // file-source micro-batches (evens get the earlier mtime, so the
    // source's timestamp order trains the quantizer on trigger A and
    // encodes trigger B against it), then serving answers from the
    // persisted codes across both generations — the same replay as the
    // batch-driven incremental row, because streaming state lives in
    // the stores, not in the query.
    "stream_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val base = java.nio.file.Files.createTempDirectory("graft_strann").toString
      val prepared = s"$base/vecs"
      emb.filter(col("vec_id") % 2 === 0).coalesce(1).write.parquet(prepared)
      new java.io.File(prepared).listFiles().foreach(f =>
        f.setLastModified(1000000000000L))
      emb.filter(col("vec_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(prepared)
      val stream = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(prepared)
      val idx = new graft.store.ParquetStore(s, s"$base/idx", "id", "cell",
        deltaWrites = true)
      val qz = new graft.store.ParquetStore(s, s"$base/qz", "qid", "qid")
      val q = graft.streaming.StreamingBuilder.annIndexStream(
        stream, "vec_id", "embedding", idx, qz,
        nCentroids = 16, m = 8, ksub = 16, iters = 0, family = "md5")
      try q.processAllAvailable() finally q.stop()
      new graft.builder.AnnIndexBuilder(
        new TableStore(s, emb, "strann_src", "vec_id", "vec_id"), idx, qz,
        "embedding", nCentroids = 16, m = 8, ksub = 16, iters = 0,
        family = "md5")
        .topK(emb.filter(col("vec_id") < 10), k = 5, nprobe = 4)
        .orderBy("q_id", "rank")
    }),

    "dedup_embedding" -> ((s, dir) =>
      // all math in doubles from the start (float->double cast is exact,
      // so the DuckDB twin computes on identical values)
      sortedPairs(Similarity.cosineDupPairs(embDupCorpus(s, dir), dim = 64,
        threshold = 0.9), "a", "b")),

    "mm_meta" -> ((s, dir) =>
      Multimodal.pack(t(s, dir, "documents"), "doc_id", col("text"), "text")
        .select(col("media_id"), col("meta.byte_len").alias("byte_len"),
          col("meta.content_md5").alias("content_md5"))
        .orderBy("media_id")),

    // STREAMING twin of text_bm25_incr, oracle-checked end-to-end: the
    // even/odd doc split replays as two file-source micro-batches
    // (evens get the earlier mtime), each trigger indexes through the
    // SAME Bm25IndexBuilder, and serving answers from the persisted
    // postings + stats across both generations — identical to the
    // batch-driven build because streaming state lives in the stores
    "stream_bm25_topk" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val base = java.nio.file.Files.createTempDirectory("graft_strbm").toString
      val prepared = s"$base/docs"
      docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(prepared)
      new java.io.File(prepared).listFiles().foreach(f =>
        f.setLastModified(1000000000000L))
      docs.filter(col("doc_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(prepared)
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(prepared)
      val idx = new graft.store.ParquetStore(s, s"$base/idx", "id", "term",
        deltaWrites = true)
      val st = new graft.store.ParquetStore(s, s"$base/st", "sid", "sid")
      val q = graft.streaming.StreamingBuilder.bm25IndexStream(
        stream, "doc_id", "text", idx, st)
      try q.processAllAvailable() finally q.stop()
      new graft.builder.Bm25IndexBuilder(
        new TableStore(s, docs, "strbm_src", "doc_id", "doc_id"), idx, st, "text")
        .topK(docs.filter(col("doc_id") % 83 === 0 && col("doc_id") < 1000000L), k = 6)
        .orderBy("q_id", "rank")
    }),

    "mm_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.pack(t(s, dir, "documents"), "doc_id", col("text"), "video"))
        .orderBy("media_id", "frame_idx")),

    "mm_features" -> ((s, dir) =>
      Multimodal.extractFeatures(
        Multimodal.pack(t(s, dir, "documents").filter(length(col("text")) > 0),
          "doc_id", col("text"), "image"))
        .select((col("media_id") +:
          (0 until 8).map(j => element_at(col("feature"), j + 1).alias(s"f$j")))
          :+ col("decode"): _*)
        .orderBy("media_id")),

    // REAL image decode + box-filter resize, oracle-replayable: each doc
    // becomes a deterministic grayscale BMP (side 8/16/24 by doc_id%3)
    // whose pixel formula the oracle re-derives arithmetically — the
    // 8x8 luma grid is uniform s x s box averages, bit-identical on
    // both engines (same IEEE fold order, integer box bounds)
    "mm_resize" -> ((s, dir) => {
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
    }),

    // perceptual-hash image dedup (the missing byte-level image
    // modality next to embedding-space dedup): every doc becomes a
    // deterministic 8x8-cell block BMP (cell gray = md5-draw mod 256,
    // exact under the box filter), every 10th doc gets a twin with ONE
    // cell brightened — REAL imageio decode → resize → dHash → banded
    // hamming pairs, all integer-replayable by the oracle from the cell
    // formula alone
    "dedup_images" -> ((s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").select(col("doc_id")).as[Long]
      val imgs = ids.map(id => (id, Multimodal.syntheticCellBmp(id)))
        .union(ids.filter(_ % 10 == 0)
          .map(id => (id + 1000000L, Multimodal.syntheticCellBmp(id, perturbCell = 0))))
        .toDF("doc_id", "img")
      val sigs = Multimodal.imageHash(
        Multimodal.pack(imgs, "doc_id", col("img"), "image"))
        .select(col("media_id").alias("id"), col("simhash"))
      sortedPairs(Dedup.simhashPairsFromSigs(sigs, maxHamming = 2), "a", "b")
    }),

    // PII redaction (the Dolma-style pre-training scrub): synthetic
    // emails / IPs / phone numbers are planted deterministically, then
    // scrubbed + counted in one codegen'd projection — no shuffle at all
    // beyond the output sort
    "text_pii_scrub" -> ((s, dir) => {
      val planted = piiCorpus(s, dir)
      val c = TextAnalysis.piiCounts(col("text"))
      planted.select(col("doc_id"),
          c.getField("emails").alias("n_email"),
          c.getField("ips").alias("n_ip"),
          c.getField("phones").alias("n_phone"),
          md5(TextAnalysis.scrubPii(col("text")).cast("binary")).alias("scrub_md5"))
        .orderBy("doc_id")
    }),

    // domain-level curation signal: URLs planted deterministically (the
    // pii-scrub convention), extracted + grouped by lowercased host —
    // the per-domain quota/blocklist aggregation, one codegen'd
    // projection + one narrow groupBy
    "text_domains" -> ((s, dir) => {
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
    }),

    // benchmark decontamination: eval set = every 37th doc's text; any
    // corpus doc sharing a word 3-gram with it is flagged with its
    // distinct-shared-gram count (broadcast eval grams, map-side join)
    "decon_ngram_overlap" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Dedup.contamination(d, d.filter(col("doc_id") % 37 === 0),
          "doc_id", "text", n = 3)
        .orderBy("doc_id")
    }),

    // C4-style corpus-wide line dedup: planted boilerplate footers (one
    // universal, one on even ids) exceed the occurrence cap and vanish;
    // per-doc unique lines survive with order preserved
    "dedup_lines" -> ((s, dir) =>
      Dedup.dedupLines(lineCorpus(s, dir), "doc_id", "text",
          maxOccurrences = 10)
        .select(col("doc_id"), md5(col("text").cast("binary")).alias("clean_md5"))
        .orderBy("doc_id")),

    // paragraph-level corpus dedup: the planted boilerplate paragraphs
    // (one universal, one on every 3rd doc) exceed the occurrence cap
    // and vanish; the original text (paragraph 1) and per-doc unique
    // paragraphs survive with order and \n\n joining preserved
    "dedup_paragraphs" -> ((s, dir) =>
      Dedup.dedupParagraphs(paraCorpus(s, dir), "doc_id", "text",
          maxOccurrences = 10)
        .select(col("doc_id"), md5(col("text").cast("binary")).alias("clean_md5"))
        .orderBy("doc_id")),

    // per-doc TF-IDF top-5 keywords: shared normTokens tokenization,
    // smoothed idf, lexicographic tie-break — fully deterministic
    "text_tfidf_topk" -> ((s, dir) =>
      TextAnalysis.tfidfTopK(t(s, dir, "documents"), "doc_id", "text", k = 5)
        .select(col("id").alias("doc_id"), col("rank").cast("long").alias("rank"),
          col("term"), col("score"))
        .orderBy("doc_id", "rank")),

    // corpus bigram frequency table: shared normTokens spelling,
    // NON-distinct grams (counts, not dedup shingles), count-desc +
    // lexicographic tie-break top-40
    "text_ngram_counts" -> ((s, dir) =>
      TextAnalysis.ngramCounts(t(s, dir, "documents"), "text", n = 2, topN = 40)
        .orderBy(col("count").desc, col("ngram").asc)),

    // PMI bigram collocations: minCount=5 floor, ln((c12/T2)/((c1/T1)^2
    // shape)) rounded to 4, pmi-desc + (w1, w2) tie-break top-40
    "text_pmi_bigrams" -> ((s, dir) =>
      TextAnalysis.pmiBigrams(t(s, dir, "documents"), "text",
          minCount = 5, topN = 40)
        .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)),

    // C4 cleaning rules as one shuffle-free projection: line retention
    // (terminal punctuation, >= 3 words, no "javascript") + page gates
    // (no lorem ipsum, no curly brace, >= 1 surviving line)
    "text_c4_filters" -> ((s, dir) => {
      val c = TextAnalysis.c4Filters(col("text"))
      c4Corpus(s, dir).select(col("doc_id"),
          c.getField("n_lines").cast("long").alias("n_lines"),
          c.getField("n_kept").cast("long").alias("n_kept"),
          c.getField("keep").alias("keep"),
          md5(c.getField("clean").cast("binary")).alias("clean_md5"))
        .orderBy("doc_id")
    }),

    // Lee et al. 2022 exact-substring duplication signal: docs holding
    // >= 1 corpus-duplicated 3-token span, with the duplicated fraction
    "dedup_spans" -> ((s, dir) =>
      Dedup.duplicatedSpans(t(s, dir, "documents"), "doc_id", "text", n = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // ...and the removal action: normalized token stream minus every
    // corpus-duplicated 3-token span, md5'd like the lines filter
    "dedup_spans_strip" -> ((s, dir) =>
      Dedup.stripDuplicatedSpans(t(s, dir, "documents"), "doc_id", "text", n = 3)
        .withColumnRenamed("id", "doc_id")
        .select(col("doc_id"), md5(col("text").cast("binary")).alias("clean_md5"))
        .orderBy("doc_id")),

    // SemDeDup-style semantic near-dup pairs: cell partition by nearest
    // deterministic centroid, within-cell cosine ≥ 0.9. md5 family so the
    // oracle replays the centroid draw; xxh64 twin in benchOverrides.
    "dedup_semantic" -> ((s, dir) =>
      sortedPairs(Similarity.semanticDupPairs(embDupCorpus(s, dir),
        nCentroids = 16, threshold = 0.9, family = "md5"), "a", "b"))
  )

  /** Engine-family twins of the md5-replayable sketch queries: identical
    * parameters and plans, hash family = xxh64 (the engine default,
    * codegen'd). [[Bench]] times these — the md5 family exists ONLY so
    * the DuckDB oracle can replay the sketches byte-for-byte (Verify
    * keeps it), and its 16-md5-digests-per-shingle cost is an artifact
    * of that replayability, not the engine's cost. */
  def benchOverrides: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_minhash_lsh" -> ((s, dir) =>
      sortedPairs(Dedup.minhashLsh(nearDupCorpus(s, dir), "doc_id", "text",
        numHashes = 32, bands = 16, threshold = 0.5), "a", "b")),
    "dedup_minhash_incremental" -> ((s, dir) => {
      val corpus = nearDupCorpus(s, dir)
      val sigsA = Dedup.minhashSignatures(
        corpus.filter(col("doc_id") < 1000000L), "doc_id", "text",
        numHashes = 32, shingleSize = 3)
      sortedPairs(Dedup.minhashLshIncremental(
        corpus.filter(col("doc_id") >= 1000000L), sigsA, "doc_id", "text",
        numHashes = 32, bands = 16, threshold = 0.5), "a", "b")
    }),
    "dedup_simhash" -> ((s, dir) =>
      sortedPairs(Dedup.simhashPairs(nearDupCorpus(s, dir), "doc_id", "text",
        maxHamming = 3), "a", "b")),
    "dedup_clusters" -> ((s, dir) =>
      Dedup.clusters(
        Dedup.minhashLsh(nearDupCorpus(s, dir), "doc_id", "text",
          numHashes = 32, bands = 16, threshold = 0.5))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),
    "sim_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
        nCentroids = 16, nprobe = 4)
        .orderBy("q_id", "rank")
    }),
    // the engine twin also rides AUTO quantizer sizing (nCentroids = 0:
    // one cell per 256 docs) — the 100 TB path, where a FIXED k would
    // make within-cell pairing quadratic in corpus size. The md5
    // original keeps k=16 so the external oracle can replay the draw
    // without running the corpus count.
    "dedup_semantic" -> ((s, dir) =>
      sortedPairs(Similarity.semanticDupPairs(embDupCorpus(s, dir),
        nCentroids = 0, threshold = 0.9), "a", "b")))

  /** md5-family MinHash pair replay, split as (CTE chain, final pair
    * SELECT without ORDER BY) so the pair query and the cluster-closure
    * query share one definition: 60-bit md5-prefix hashes, 32 min-aggs,
    * 16 band buckets, hot-bucket cap, sig-match verification. */
  private lazy val minhashOracleParts: (String, String) = minhashOraclePartsWith("")

  /** [[minhashOracleParts]] with an extra candidate-pair predicate —
    * the incremental replay restricts pairs to those touching ≥1 new
    * (batch-B) member. Because batch B's ids carry the +1000000 offset,
    * the bigger id of any ordered pair is the new one, so the predicate
    * is just `y.doc_id >= 1000000` and the batch orientation (old id as
    * `a`, new as `b`; `a < b` within-batch) coincides with the x < y
    * join order — no CASE re-orientation needed. */
  private def minhashOraclePartsWith(extraCand: String): (String, String) =
    minhashOraclePartsCorpus(
      "corpus AS (SELECT doc_id, text FROM documents UNION ALL " +
        "SELECT doc_id + 1000000, text || ' zzz near dup suffix' FROM documents WHERE doc_id % 10 = 0)",
      extraCand)

  /** The md5-minhash replay CTE chain over a caller-supplied corpus
    * CTE block (must end in a CTE named `corpus` with `(doc_id, text)`)
    * — lets the lu-update oracle replay the same banding over the
    * MUTATED corpus. */
  private def minhashOraclePartsCorpus(corpusCtes: String,
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

  /** [[oracleSql]] as one JSON object (shared by [[Verify]] and
    * [[Bench]]). JSON string escape covers backslash, quote, and ALL
    * control chars (<0x20) — a tab or CR in builder-authored SQL would
    * otherwise break the driver's json.load. */
  def oracleSqlJson: String = oracleSqlJson(None)

  /** Optionally restricted to `names` (Bench's SPARK_GRAFT_ONLY filter —
    * the oracle subprocess should only time the queries this run timed). */
  def oracleSqlJson(names: Option[Set[String]]): String =
    oracleSql.filter { case (k, _) => names.forall(_.contains(k)) }
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")

  def oracleSql: Map[String, String] = {
    val Seq(en, de, fr, es) = stopLists.map { case (_, ws) => sqlHits(ws) }
    Map(
      "s1_query_fold" ->
        ("SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders " +
         "WHERE o_orderstatus = 'O' AND o_totalprice > 150000 " +
         "AND o_orderpriority IN ('1-URGENT','2-HIGH') " +
         "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100 OFFSET 10"),
      "s2_query_one" ->
        ("SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F' " +
         "ORDER BY o_totalprice DESC, o_orderkey LIMIT 1"),
      "s3_count" ->
        ("SELECT count(*) AS n FROM lineitem " +
         "WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00' AND l_discount <= 0.05"),
      "s4_distinct" ->
        "SELECT DISTINCT c_mktsegment FROM customer WHERE c_acctbal > 0 ORDER BY 1",
      "s4b_distinct_array" ->
        ("SELECT DISTINCT t.tok AS toks FROM documents, " +
         "UNNEST(string_split(text, ' ')) AS t(tok) ORDER BY 1"),
      "s5_groupby" ->
        ("SELECT o_orderstatus, o_orderpriority, count(*) AS n_docs FROM orders " +
         "GROUP BY 1, 2 ORDER BY 1, 2"),
      "s9_last_updated" ->
        "SELECT max(o_orderdate) AS last_updated FROM orders",
      "s10_newer_in" ->
        ("SELECT t.event_id FROM " +
         "(SELECT event_id, CASE WHEN event_id % 10 = 0 THEN ts + INTERVAL 1 HOUR ELSE ts END AS lu FROM events) t " +
         "LEFT JOIN (SELECT event_id, ts AS lu FROM events WHERE event_id < 800) s " +
         "ON t.event_id = s.event_id WHERE s.lu IS NULL OR t.lu > s.lu ORDER BY 1"),
      "pred_expr_elem_at" ->
        ("SELECT o_orderkey FROM orders " +
         "WHERE (string_split(o_orderpriority, '-'))[-1] = 'URGENT' ORDER BY 1"),
      "pred_regex_in_nin" ->
        ("SELECT p_partkey FROM part WHERE p_size IN (1,5,9,13) " +
         "AND regexp_matches(p_type, '^(ECONOMY|PROMO)') " +
         "AND p_brand NOT IN ('Brand#11','Brand#22') ORDER BY 1"),
      "pred_exists" ->
        "SELECT count(*) AS n FROM orders WHERE o_orderkey % 7 = 0",
      "pred_and_or_range" ->
        ("SELECT count(*) AS n FROM lineitem WHERE l_quantity >= 45 " +
         "OR (l_discount > 0.08 AND l_returnflag <> 'N')"),
      "pred_array_contains" ->
        ("SELECT doc_id FROM documents " +
         "WHERE list_contains(string_split(text, ' '), 'spark') ORDER BY 1"),
      "pred_elem_match" ->
        ("SELECT p_partkey FROM part WHERE len(list_filter(" +
         "[CAST(p_size AS DOUBLE), p_retailprice], x -> x < 5)) > 0 ORDER BY 1"),
      "pred_all_size" ->
        ("SELECT doc_id, len(string_split(text, ' ')) AS n_toks FROM documents " +
         "WHERE list_has_all(string_split(text, ' '), ['spark', 'data']) ORDER BY 1"),
      "pred_dot_path" ->
        ("SELECT c_custkey, c_acctbal AS cust_c_acctbal FROM customer " +
         "WHERE c_acctbal > 5000 ORDER BY 1"),
      "c8_object_covered" ->
        ("SELECT o_orderkey, o_orderstatus FROM orders " +
         "WHERE o_orderstatus = 'F' ORDER BY 1"),
      "c12_opendata_pruned" ->
        "SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O' ORDER BY 1",
      "c4_json_store" ->
        ("WITH base AS (SELECT doc_id, lang, source, epoch_ms(doc_id * 1000) AS lu FROM documents), " +
         "upd AS (SELECT doc_id, 'xx' AS lang, source, epoch_ms(doc_id * 1000 + 60000) AS lu " +
         "FROM documents WHERE doc_id % 10 = 0), " +
         "merged AS (SELECT * FROM base WHERE doc_id NOT IN (SELECT doc_id FROM upd) " +
         "UNION ALL SELECT * FROM upd) " +
         "SELECT doc_id, lang, source, lu FROM merged WHERE lu > epoch_ms(300000) ORDER BY doc_id"),
      "c6_file_store" ->
        ("WITH f AS (SELECT doc_id, 'd' || CAST(doc_id AS VARCHAR) || '.txt' AS name, text, lang " +
         "FROM documents WHERE doc_id < 500), " +
         "files AS (SELECT md5(name) AS file_id, name, name AS path_relative, '' AS parent, " +
         "CAST(octet_length(encode(text)) AS BIGINT) AS size, md5(text) AS hash FROM f), " +
         "meta AS (SELECT md5('d' || CAST(doc_id AS VARCHAR) || '.txt') AS file_id, lang AS tag " +
         "FROM f WHERE doc_id % 2 = 0 UNION ALL SELECT md5('ghost.txt'), 'orphan-tag') " +
         "SELECT coalesce(fi.file_id, m.file_id) AS file_id, fi.name, fi.path_relative, " +
         "fi.parent, fi.size, fi.hash, (fi.file_id IS NULL) AS orphan, m.tag " +
         "FROM files fi FULL OUTER JOIN meta m ON fi.file_id = m.file_id ORDER BY 1"),
      "c7_blob_latest" ->
        ("WITH base AS (SELECT doc_id, text, source, doc_id * 1000 AS lu_ms, 1 AS ver FROM documents), " +
         "upd AS (SELECT doc_id, text || ' v2' AS text, source, doc_id * 1000 + 3600000 AS lu_ms, 2 AS ver " +
         "FROM documents WHERE doc_id % 10 = 0), " +
         "latest AS (SELECT * FROM (SELECT * FROM base UNION ALL SELECT * FROM upd) " +
         "QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY ver DESC) = 1) " +
         "SELECT doc_id, octet_length(encode(text)) AS length, md5(text) AS content_md5, " +
         "'zlib' AS compression, source, md5(text) AS payload_md5, lu_ms " +
         "FROM latest ORDER BY doc_id"),
      "c10_query_expr" ->
        ("SELECT o_orderkey, o_totalprice FROM orders " +
         "WHERE o_totalprice > 200000 AND o_orderstatus = 'F' ORDER BY 1"),
      "a12_agg_sql" ->
        ("SELECT l_returnflag, count(*) AS n, " +
         s"${fxSumSql("l_discount", 100L)} AS sum_disc " +
         "FROM lineitem GROUP BY 1 ORDER BY 1"),
      "s5b_groupby_paged" ->
        ("WITH page AS (SELECT o_orderpriority, o_orderkey FROM orders " +
         "WHERE o_orderstatus = 'O' ORDER BY o_orderkey LIMIT 1000 OFFSET 100) " +
         "SELECT o_orderpriority, count(*) AS n_docs, CAST(sum(o_orderkey) AS BIGINT) AS sum_keys " +
         "FROM page GROUP BY 1 ORDER BY 1"),
      "validator_invalid" ->
        "SELECT o_orderkey FROM orders WHERE o_totalprice > 300000 ORDER BY 1",
      "c13_joint_lookup" ->
        ("SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment " +
         "FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey " +
         "ORDER BY o_orderkey"),
      "c13_joint_merge_root" ->
        ("SELECT l.l_orderkey, l.l_linenumber, o.o_totalprice, o.o_orderstatus, " +
         "greatest(l.l_shipdate, o.o_orderdate) AS joint_lu " +
         "FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey " +
         "ORDER BY 1, 2"),
      "join_anti_orphans" ->
        ("SELECT c_custkey FROM customer c WHERE NOT EXISTS " +
         "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) ORDER BY 1"),
      "join_semi" ->
        ("SELECT s_suppkey FROM supplier s WHERE EXISTS (SELECT 1 FROM lineitem l " +
         "WHERE l.l_suppkey = s.s_suppkey AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00') " +
         "ORDER BY 1"),
      "join_asof" ->
        ("SELECT l.event_id, l.user_id, r.event_id AS last_purchase_id " +
         "FROM events l ASOF LEFT JOIN (SELECT user_id, ts, event_id FROM events " +
         "WHERE event_type = 'purchase') r ON l.user_id = r.user_id AND l.ts >= r.ts " +
         "ORDER BY l.event_id"),
      "join_asof_forward" ->
        ("SELECT l.event_id, l.user_id, r.event_id AS next_purchase_id " +
         "FROM events l ASOF LEFT JOIN (SELECT user_id, ts, event_id FROM events " +
         "WHERE event_type = 'purchase') r ON l.user_id = r.user_id AND l.ts <= r.ts " +
         "ORDER BY l.event_id"),
      "join_asof_tolerance" ->
        ("SELECT l.event_id, l.user_id, CASE WHEN epoch_ms(l.ts) - epoch_ms(r.ts) " +
         "<= 86400000 THEN r.event_id END AS recent_purchase_id " +
         "FROM events l ASOF LEFT JOIN (SELECT user_id, ts, event_id FROM events " +
         "WHERE event_type = 'purchase') r ON l.user_id = r.user_id AND l.ts >= r.ts " +
         "ORDER BY l.event_id"),
      "join_range" ->
        ("SELECT o_orderkey, count(*) AS n_in_range FROM orders o JOIN lineitem l " +
         "ON l.l_shipdate >= o.o_orderdate " +
         "AND epoch_ms(l.l_shipdate) < epoch_ms(o.o_orderdate) + 604800000 " +
         "WHERE o_orderkey % 100 = 0 GROUP BY 1 ORDER BY 1"),
      "b2_copy_builder" ->
        "SELECT o_orderkey, o_totalprice, o_orderdate FROM orders ORDER BY 1",
      "b4_group_builder" ->
        ("SELECT o_orderstatus, o_orderpriority, min(o_orderkey) AS grp_id, " +
         "max(o_orderdate) AS o_orderdate, count(*) AS n_docs, " +
         s"${fxSumSql("o_totalprice", 100L)} AS sum_price " +
         "FROM orders GROUP BY 1, 2 ORDER BY 1, 2"),
      "b5_projection_builder" ->
        ("SELECT COALESCE(s.s_suppkey, q.k) AS s_suppkey, s.s_name, s.s_acctbal, q.qty " +
         "FROM supplier s FULL OUTER JOIN (SELECT l_suppkey AS k, " +
         s"${fxSumSql("l_quantity", 100L)} AS qty FROM lineitem GROUP BY 1) q " +
         "ON s.s_suppkey = q.k ORDER BY 1"),
      "q1_agg" ->
        ("SELECT l_returnflag, l_linestatus, " +
         s"${fxSumSql("l_quantity", 100L)} AS sum_qty, " +
         s"${fxSumSql("l_extendedprice", 100L)} AS sum_price, " +
         "count(*) AS count_order FROM lineitem " +
         "WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00' GROUP BY 1, 2 ORDER BY 1, 2"),
      "agg_rollup" ->
        ("SELECT COALESCE(o_orderstatus, 'ALL') AS status, " +
         "COALESCE(o_orderpriority, 'ALL') AS prio, count(*) AS n, " +
         s"${fxSumSql("o_totalprice", 100L)} AS sum_price " +
         "FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority) ORDER BY 1, 2"),
      "agg_percentile" ->
        ("SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med_qty, " +
         "quantile_cont(l_extendedprice, 0.25) AS q25_price, " +
         "quantile_cont(l_extendedprice, 0.75) AS q75_price " +
         "FROM lineitem GROUP BY 1 ORDER BY 1"),
      "agg_percentile_approx" ->
        ("SELECT l_returnflag, quantile_disc(l_quantity, 0.51) AS med_qty, " +
         "quantile_disc(l_discount, 0.30) AS q30_disc, " +
         "quantile_disc(l_discount, 0.70) AS q70_disc " +
         "FROM lineitem GROUP BY 1 ORDER BY 1"),
      "agg_cube" ->
        ("SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls, " +
         s"count(*) AS n, ${fxSumSql("l_quantity", 100L)} AS sum_qty " +
         "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY 1, 2"),
      "agg_time_window" ->
        ("SELECT date_trunc('day', ts) AS d, event_type, count(*) AS n, " +
         s"${fxSumSql("value", 1000000L)} AS sum_val FROM events " +
         "GROUP BY 1, 2 ORDER BY 1, 2"),
      // the streaming twin computes the identical aggregation
      "stream_time_window" ->
        ("SELECT date_trunc('day', ts) AS d, event_type, count(*) AS n, " +
         s"${fxSumSql("value", 1000000L)} AS sum_val FROM events " +
         "GROUP BY 1, 2 ORDER BY 1, 2"),
      "window_latest_per_user" ->
        ("SELECT user_id, event_id, event_type FROM events QUALIFY " +
         "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1 " +
         "ORDER BY user_id"),
      "window_running" ->
        ("SELECT event_id, count(*) OVER w AS rn, " +
         s"${fxSumOverSql("value", 1000000L, "OVER w")} AS run_sum FROM events " +
         "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
         "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ORDER BY event_id"),
      "window_sessionize" ->
        ("WITH e AS (SELECT user_id, ts, value, CASE WHEN lag(ts) OVER w IS NULL " +
         "OR ts - lag(ts) OVER w > INTERVAL 1 HOUR THEN 1 ELSE 0 END AS nss FROM events " +
         "WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
         "s AS (SELECT *, sum(nss) OVER (PARTITION BY user_id ORDER BY ts " +
         "ROWS UNBOUNDED PRECEDING) AS sid FROM e) " +
         "SELECT user_id, count(*) AS n_events, " +
         s"${fxSumSql("value", 1000000L)} AS total, " +
         "epoch_ms(min(ts)) AS start_ms, epoch_ms(max(ts)) AS end_ms " +
         "FROM s GROUP BY user_id, sid ORDER BY user_id, start_ms"),
      // the stateful streaming twin computes the identical sessions
      // (same ms gap contract, same fixed-point totals)
      "stream_sessionize" ->
        ("WITH e AS (SELECT user_id, ts, value, CASE WHEN lag(ts) OVER w IS NULL " +
         "OR ts - lag(ts) OVER w > INTERVAL 1 HOUR THEN 1 ELSE 0 END AS nss FROM events " +
         "WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
         "s AS (SELECT *, sum(nss) OVER (PARTITION BY user_id ORDER BY ts " +
         "ROWS UNBOUNDED PRECEDING) AS sid FROM e) " +
         "SELECT user_id, count(*) AS n_events, " +
         s"${fxSumSql("value", 1000000L)} AS total, " +
         "epoch_ms(min(ts)) AS start_ms, epoch_ms(max(ts)) AS end_ms " +
         "FROM s GROUP BY user_id, sid ORDER BY user_id, start_ms"),
      "topk" ->
        ("SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem " +
         "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 15"),
      "c14_concat_union" ->
        ("SELECT event_type, count(*) AS n FROM (SELECT * FROM events WHERE value < 0.3 " +
         "UNION ALL SELECT * FROM events WHERE value >= 0.7) GROUP BY 1 ORDER BY 1"),
      "setop_except" ->
        ("SELECT * FROM ((SELECT DISTINCT p_brand FROM part) EXCEPT " +
         "(SELECT p_brand FROM part WHERE p_size < 10)) ORDER BY 1"),
      "setop_intersect" ->
        ("SELECT * FROM ((SELECT p_brand FROM part WHERE p_size < 10) INTERSECT " +
         "(SELECT p_brand FROM part WHERE p_size > 40)) ORDER BY 1"),
      "c15_aliasing" ->
        ("SELECT o_orderkey AS id, o_totalprice AS price FROM orders " +
         "WHERE o_totalprice > 200000 AND o_orderstatus = 'F' ORDER BY 1"),
      "c16_sandbox" ->
        ("SELECT event_type, count(*) AS n FROM events " +
         "WHERE event_id % 3 = 0 OR event_id % 3 = 2 GROUP BY 1 ORDER BY 1"),
      "api_compile" ->
        ("SELECT o_orderkey, o_orderdate, o_totalprice FROM orders " +
         "WHERE o_totalprice >= 50000 AND o_totalprice <= 150000 AND o_orderstatus = 'O' " +
         "ORDER BY o_orderdate DESC, o_orderkey LIMIT 50 OFFSET 50"),
      "a10_text_facets" ->
        ("SELECT 'source' AS facet, source AS value, count(*) AS n FROM documents " +
         "WHERE contains(lower(text), 'spark') AND contains(lower(text), 'data') GROUP BY 2 " +
         "UNION ALL SELECT 'lang', lang, count(*) FROM documents " +
         "WHERE contains(lower(text), 'spark') AND contains(lower(text), 'data') GROUP BY 2 " +
         "ORDER BY 1, 2"),
      "a10_text_mustnot" ->
        ("SELECT doc_id, source, lang FROM documents " +
         "WHERE contains(lower(text), 'table value') " +
         "AND NOT contains(lower(text), 'slow') ORDER BY doc_id"),
      "json_scalar_extract" ->
        ("SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS kb, " +
         "count(*) AS n FROM events GROUP BY 1 ORDER BY 1"),
      "text_stats" ->
        ("SELECT doc_id, len(regexp_extract_all(text, '\\S+')) AS n_tokens, " +
         "length(text) AS len_chars, " +
         "len(regexp_extract_all(text, '[[:punct:]]')) AS n_punct " +
         "FROM documents ORDER BY doc_id"),
      "text_quality" -> {
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
      },
      "text_fingerprint" ->
        ("SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS fp " +
         "FROM documents ORDER BY doc_id"),
      "text_gopher_rules" -> {
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
      },
      "dedup_exact" ->
        (s"SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keep FROM $dupCorpusSql " +
         "GROUP BY 1 HAVING count(*) > 1 ORDER BY 1"),
      // skew stress: min doc_id per content hash over the 10%-hot corpus
      "skew_dedup_exact" ->
        (s"SELECT min(doc_id) AS doc_id FROM $skewCorpusSql " +
         "GROUP BY md5(text) ORDER BY 1"),
      "dedup_fingerprint" ->
        ("SELECT md5(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS fp, " +
         s"count(*) AS n, min(doc_id) AS keep FROM $dupCorpusSql " +
         "GROUP BY 1 HAVING count(*) > 1 ORDER BY 1"),
      "mm_meta" ->
        ("SELECT doc_id AS media_id, octet_length(encode(text)) AS byte_len, " +
         "md5(text) AS content_md5 FROM documents ORDER BY 1"),
      // n-gram multiset vs set sizes — 1 - distinct/total per doc; the
      // gram construction mirrors the dedup shingle CTEs
      "text_repetition" ->
        ("WITH toks AS (SELECT doc_id, list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), '\\s+'), x -> length(x) > 0) AS tk FROM documents), " +
         "grams AS (SELECT doc_id, concat_ws(' ', tk[n], tk[n+1], tk[n+2]) AS g " +
         "FROM toks, UNNEST(range(1, greatest(len(tk) - 2, 0) + 1)) AS u(n) WHERE len(tk) >= 3 " +
         "UNION ALL SELECT doc_id, array_to_string(tk, ' ') FROM toks WHERE len(tk) < 3) " +
         "SELECT doc_id, round(1.0 - CAST(count(DISTINCT g) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS rep_ratio " +
         "FROM grams GROUP BY doc_id ORDER BY doc_id"),
      // md5-family seeded hash (seed 0) on the stringified key — the
      // byte-identical replay of Dedup.seededHash("md5", 0, key)
      "sample_hash" -> {
        val h = "CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
        s"SELECT doc_id, lang, source FROM documents WHERE $h % 10000 < 2500 ORDER BY doc_id"
      },
      "sample_stratified" -> {
        val h = "CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
        "SELECT doc_id, lang, source FROM documents " +
          s"QUALIFY row_number() OVER (PARTITION BY lang, source ORDER BY $h, doc_id) <= 5 " +
          "ORDER BY doc_id"
      },
      "sample_token_budget" ->
        ("WITH toks AS (SELECT doc_id, len(regexp_extract_all(text, '\\S+')) AS n_tokens FROM documents) " +
         "SELECT doc_id, n_tokens FROM toks " +
         "QUALIFY sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 30000 " +
         "ORDER BY doc_id"),
      "sample_pack_sequences" ->
        ("WITH toks AS (SELECT doc_id, len(regexp_extract_all(text, '\\S+')) AS n_tokens FROM documents), " +
         // CAST: DuckDB sum(BIGINT) yields HUGEINT, which pandas floats
         "p AS (SELECT doc_id, n_tokens, COALESCE(CAST(sum(n_tokens) OVER " +
         "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS pre FROM toks) " +
         "SELECT doc_id, n_tokens, pre // 2048 AS pack_id, pre % 2048 AS pack_offset FROM p ORDER BY doc_id"),
      "sample_packed_text" ->
        ("WITH toks AS (SELECT doc_id, text, len(regexp_extract_all(text, '\\S+')) AS n_tokens FROM documents), " +
         "p AS (SELECT doc_id, text, COALESCE(CAST(sum(n_tokens) OVER " +
         "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) // 2048 AS pack_id FROM toks) " +
         "SELECT pack_id, count(*) AS n_docs, " +
         "md5(string_agg(text, chr(10) || chr(10) ORDER BY doc_id)) AS pack_md5 " +
         "FROM p GROUP BY pack_id ORDER BY pack_id"),
      // batched BPE at vocab scale: the unrolled 1024-merge (8-round)
      // training replay, then per-doc subword counts via the same
      // distinct-word encode + join
      "text_bpe_tokens" ->
        (s"WITH ${bpeOracleCtes(1024, 128)} " +
         "SELECT w.doc_id, CAST(sum(w.tf * e.nsym) AS BIGINT) AS n_bpe_tokens " +
         "FROM wt w JOIN enc e ON e.word = w.tok GROUP BY 1 ORDER BY 1"),
      // packing on TRAINED subword counts: same prefix-sum spelling as
      // sample_pack_sequences over the BPE per-doc totals
      "sample_pack_bpe" ->
        (s"WITH ${bpeOracleCtes(1024, 128)}, " +
         "nb AS (SELECT w.doc_id, CAST(sum(w.tf * e.nsym) AS BIGINT) AS n_tokens " +
         "FROM wt w JOIN enc e ON e.word = w.tok GROUP BY 1), " +
         "p AS (SELECT doc_id, n_tokens, COALESCE(CAST(sum(n_tokens) OVER " +
         "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS pre FROM nb) " +
         "SELECT doc_id, n_tokens, pre // 2048 AS pack_id, pre % 2048 AS pack_offset FROM p ORDER BY doc_id"),
      "sample_weighted_mix" -> {
        val h = "CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
        s"SELECT doc_id, lang, source FROM documents WHERE $h % 10000 < " +
          "(CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500 ELSE 1000 END) " +
          "ORDER BY doc_id"
      },
      "emb_quantize_error" ->
        ("WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, " +
         "CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) > 0 " +
         "THEN 127.0 / list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) " +
         "ELSE 1.0 END AS scale FROM embeddings), " +
         "d AS (SELECT vec_id, v, list_transform(v, x -> floor(x * scale + 0.5) / scale) AS dq FROM q) " +
         "SELECT vec_id, round(list_cosine_similarity(v, dq), 4) AS qcos FROM d ORDER BY vec_id"),
      "stream_bm25_topk" ->
        (s"WITH ${bm25OracleCtes(83)}, " +
         "ranked AS (SELECT q_id, id, sm, row_number() OVER (PARTITION BY q_id " +
         "ORDER BY sm DESC, id ASC) AS rank FROM bm25agg) " +
         "SELECT q_id, rank, id AS doc_id, round(sm / 1000000.0, 4) AS score " +
         "FROM ranked WHERE rank <= 6 ORDER BY q_id, rank"),
      "text_bm25_incr" ->
        (s"WITH ${bm25OracleCtes(89)}, " +
         "ranked AS (SELECT q_id, id, sm, row_number() OVER (PARTITION BY q_id " +
         "ORDER BY sm DESC, id ASC) AS rank FROM bm25agg) " +
         "SELECT q_id, rank, id AS doc_id, round(sm / 1000000.0, 4) AS score " +
         "FROM ranked WHERE rank <= 8 ORDER BY q_id, rank"),
      // the lu-update replay: from-scratch BM25 over the FINAL (mutated)
      // corpus — what the 2-batch drop-and-reindex build must equal
      "text_bm25_update" ->
        (s"WITH ${bm25OracleCtes(89, SparkEntry.bm25UpdCorpusSql)}, " +
         "ranked AS (SELECT q_id, id, sm, row_number() OVER (PARTITION BY q_id " +
         "ORDER BY sm DESC, id ASC) AS rank FROM bm25agg) " +
         "SELECT q_id, rank, id AS doc_id, round(sm / 1000000.0, 4) AS score " +
         "FROM ranked WHERE rank <= 8 ORDER BY q_id, rank"),
      "text_bm25_topk" ->
        (s"WITH ${bm25OracleCtes()}, " +
         "ranked AS (SELECT q_id, id, sm, row_number() OVER (PARTITION BY q_id " +
         "ORDER BY sm DESC, id ASC) AS rank FROM bm25agg) " +
         "SELECT q_id, rank, id AS doc_id, round(sm / 1000000.0, 4) AS score " +
         "FROM ranked WHERE rank <= 10 ORDER BY q_id, rank"),
      // hybrid RRF: the exact BM25 micro-long ranking (lexical leg) and
      // the raw-cosine ranking (vector leg, sim_cosine_topk spelling)
      // fused as sum(1.0/(60 + rank)) — ≤ 2 double terms per (q, d),
      // order-independent, ties toward the smaller id
      "search_hybrid_rrf" ->
        (s"WITH ${bm25OracleCtes()}, " +
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
         "ORDER BY q_id, rank"),
      "sim_cosine_topk" ->
        ("SELECT q_id, rank, n_id, sim FROM (SELECT q.vec_id AS q_id, c.vec_id AS n_id, " +
         "round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 4) AS sim, " +
         "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
         "list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank " +
         "FROM embeddings q, embeddings c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id) " +
         "WHERE rank <= 5 ORDER BY q_id, rank"),
      // data invariant: documents.text is pure ASCII at every SF (verified:
      // octet_length(encode(text)) == length(text) for all rows), so the
      // VARCHAR substring below equals the byte-slice Spark computes
      "mm_frames" ->
        ("SELECT doc_id AS media_id, (u.n - 1) AS frame_idx, " +
         "md5(substring(text, ((u.n-1)*32+1)::BIGINT, 32)) AS frame_md5 " +
         "FROM documents, UNNEST(range(1, greatest(CAST(ceil(octet_length(encode(text))/32.0) AS BIGINT), 1) + 1)) AS u(n) " +
         "ORDER BY 1, 2"),
      "dedup_ngram_jaccard" ->
        ("WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL " +
         "SELECT doc_id + 1000000, text || ' zzz near dup suffix' FROM documents WHERE doc_id % 10 = 0), " +
         "toks AS (SELECT doc_id, list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), '\\s+'), x -> length(x) > 0) AS tk FROM corpus), " +
         "sh AS (SELECT DISTINCT doc_id, concat_ws(' ', tk[n], tk[n+1], tk[n+2]) AS shingle " +
         "FROM toks, UNNEST(range(1, greatest(len(tk) - 2, 0) + 1)) AS u(n) WHERE len(tk) >= 3 " +
         "UNION SELECT DISTINCT doc_id, array_to_string(tk, ' ') FROM toks WHERE len(tk) < 3), " +
         "sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), " +
         "capped AS (SELECT * FROM sh QUALIFY count(*) OVER (PARTITION BY shingle) <= 1000), " +
         "common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c " +
         "FROM capped x JOIN capped y ON x.shingle = y.shingle AND x.doc_id < y.doc_id GROUP BY 1, 2) " +
         "SELECT a, b, round(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 4) AS jaccard " +
         "FROM common JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b " +
         "WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.5 ORDER BY 1, 2"),
      // the stub decode kernel is position-residue byte sums — ANSI-
      // expressible over the (all-ASCII) documents corpus
      "mm_features" ->
        "SELECT doc_id AS media_id, CAST(COALESCE(sum(CASE WHEN (u.n-1)%8=0 THEN ord(substr(text, u.n::INT, 1)) END), 0) AS DOUBLE) AS f0, CAST(COALESCE(sum(CASE WHEN (u.n-1)%8=1 THEN ord(substr(text, u.n::INT, 1)) END), 0) AS DOUBLE) AS f1, CAST(COALESCE(sum(CASE WHEN (u.n-1)%8=2 THEN ord(substr(text, u.n::INT, 1)) END), 0) AS DOUBLE) AS f2, CAST(COALESCE(sum(CASE WHEN (u.n-1)%8=3 THEN ord(substr(text, u.n::INT, 1)) END), 0) AS DOUBLE) AS f3, CAST(COALESCE(sum(CASE WHEN (u.n-1)%8=4 THEN ord(substr(text, u.n::INT, 1)) END), 0) AS DOUBLE) AS f4, CAST(COALESCE(sum(CASE WHEN (u.n-1)%8=5 THEN ord(substr(text, u.n::INT, 1)) END), 0) AS DOUBLE) AS f5, CAST(COALESCE(sum(CASE WHEN (u.n-1)%8=6 THEN ord(substr(text, u.n::INT, 1)) END), 0) AS DOUBLE) AS f6, CAST(COALESCE(sum(CASE WHEN (u.n-1)%8=7 THEN ord(substr(text, u.n::INT, 1)) END), 0) AS DOUBLE) AS f7, 'stub' AS decode FROM documents, UNNEST(range(1, length(text)+1)) AS u(n) WHERE length(text) > 0 GROUP BY 1 ORDER BY 1",
      // the hyperplane constants are deterministic (fixed-seed JVM
      // Gaussian) — inline them so the oracle replays the exact LSH:
      // signature bits from sign of list_dot_product, candidates by
      // hamming(bit_count∘xor) ≤ 1, exact cosine rerank
      "sim_lsh_topk" -> {
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
      },
      // same inlined planes; near-dup pairs = same LSH bucket, a < b,
      // exact cosine >= 0.9; bucket cap mirrored in the QUALIFY
      "dedup_embedding" -> {
        val planes = graft.ext.Similarity.hyperplanes(64, 12)
        def sig(a: String) = planes.zipWithIndex.map { case (p, i) =>
          s"(CASE WHEN list_dot_product($a, " + p.mkString("[", ",", "]") +
            s") >= 0 THEN ${1L << i} ELSE 0 END)"
        }.mkString("(", " + ", ")")
        "WITH corpus AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings " +
          "UNION ALL SELECT vec_id + 1000000, " +
          "list_concat([CAST(embedding[1] AS DOUBLE) + 0.1], CAST(embedding[2:] AS DOUBLE[])) " +
          "FROM embeddings WHERE vec_id % 10 = 0), " +
          s"sigs AS (SELECT id, vec, ${sig("vec")} AS sig FROM corpus), " +
          "capped AS (SELECT * FROM sigs QUALIFY count(*) OVER (PARTITION BY sig) <= 10000) " +
          "SELECT x.id AS a, y.id AS b, round(list_cosine_similarity(x.vec, y.vec), 4) AS sim " +
          "FROM capped x JOIN capped y ON x.sig = y.sig AND x.id < y.id " +
          "WHERE list_cosine_similarity(x.vec, y.vec) >= 0.9 ORDER BY 1, 2"
      },
      // SemDeDup replay: centroid draw by the seeded md5 id-hash (same
      // spelling as sim_ivf_topk), nearest-cell assignment via QUALIFY,
      // within-cell pairs with exact cosine verification
      "dedup_semantic" -> {
        val H = "CAST(('0x' || substr(md5('0:' || CAST(id AS VARCHAR)), 1, 15)) AS BIGINT)"
        "WITH corpus AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings " +
          "UNION ALL SELECT vec_id + 1000000, " +
          "list_concat([CAST(embedding[1] AS DOUBLE) + 0.1], CAST(embedding[2:] AS DOUBLE[])) " +
          "FROM embeddings WHERE vec_id % 10 = 0), " +
          s"cents AS (SELECT id AS c_id, vec AS c_vec FROM corpus ORDER BY $H ASC, id ASC LIMIT 16), " +
          "cells AS (SELECT e.id, e.vec, c.c_id AS cell FROM corpus e, cents c " +
          "QUALIFY row_number() OVER (PARTITION BY e.id ORDER BY " +
          "list_cosine_similarity(e.vec, c.c_vec) DESC, c.c_id ASC) <= 1), " +
          // the engine's hot-cell cap (maxCellSize = 10000, drop): cells
          // above the cap contribute no pairs in the oracle either
          "capped AS (SELECT * FROM cells QUALIFY " +
          "count(*) OVER (PARTITION BY cell) <= 10000) " +
          "SELECT x.id AS a, y.id AS b, round(list_cosine_similarity(x.vec, y.vec), 4) AS sim " +
          "FROM capped x JOIN capped y ON x.cell = y.cell AND x.id < y.id " +
          "WHERE list_cosine_similarity(x.vec, y.vec) >= 0.9 ORDER BY 1, 2"
      },
      // PII scrub replay: identical plant expression, identical RE2/Java-
      // compatible patterns, counts taken on the progressively-scrubbed
      // text exactly as TextAnalysis.piiCounts chains them
      "text_pii_scrub" -> {
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
      },
      // decontamination replay: same tokenization/shingle CTE as the
      // n-gram oracle, eval = every 37th doc, distinct shared-gram counts
      "decon_ngram_overlap" ->
        ("WITH toks AS (SELECT doc_id, list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), '\\s+'), x -> length(x) > 0) AS tk FROM documents), " +
         "sh AS (SELECT DISTINCT doc_id, concat_ws(' ', tk[n], tk[n+1], tk[n+2]) AS shingle " +
         "FROM toks, UNNEST(range(1, greatest(len(tk) - 2, 0) + 1)) AS u(n) WHERE len(tk) >= 3 " +
         "UNION SELECT DISTINCT doc_id, array_to_string(tk, ' ') FROM toks WHERE len(tk) < 3), " +
         "ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 37 = 0) " +
         "SELECT doc_id, count(*) AS matched FROM sh JOIN ev USING (shingle) " +
         "GROUP BY doc_id ORDER BY doc_id"),
      // line-dedup replay: same planted footers, occurrence counts over
      // exploded lines, anti-join, ordered string_agg reassembly
      "dedup_lines" ->
        ("WITH corpus AS (SELECT doc_id, text || chr(10) || 'Subscribe to our newsletter today' || " +
         "(CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'All rights reserved' " +
         "ELSE chr(10) || 'unique line ' || CAST(doc_id AS VARCHAR) END) AS text FROM documents), " +
         "la AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM corpus), " +
         "lines AS (SELECT doc_id, u.n AS pos, ls[u.n] AS line FROM la, UNNEST(range(1, len(ls) + 1)) AS u(n)), " +
         "hot AS (SELECT line FROM lines GROUP BY 1 HAVING count(*) > 10) " +
         "SELECT doc_id, md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_md5 " +
         "FROM lines WHERE line NOT IN (SELECT line FROM hot) " +
         "GROUP BY doc_id ORDER BY doc_id"),
      "text_tfidf_topk" ->
        ("WITH toks AS (SELECT doc_id, list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), '\\s+'), x -> length(x) > 0) AS tk FROM documents), " +
         "terms AS (SELECT doc_id, unnest(tk) AS term FROM toks), " +
         "tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2), " +
         "dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
         "nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents), " +
         "scored AS (SELECT doc_id, term, round(tf * (ln((nd.n + 1) / (df + 1.0)) + 1.0), 4) AS score " +
         "FROM tf JOIN dfreq USING (term) CROSS JOIN nd), " +
         "ranked AS (SELECT doc_id, term, score, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank FROM scored) " +
         "SELECT doc_id, rank, term, score FROM ranked WHERE rank <= 5 ORDER BY doc_id, rank"),
      "text_unigram_logprob" ->
        ("WITH toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(regexp_replace(lower(text), " +
         "'[^a-z0-9]+', ' ', 'g'), '\\s+'), x -> length(x) > 0)) AS tok FROM documents), " +
         "vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1), " +
         "tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM vocab) " +
         "SELECT doc_id, count(*) AS n_tokens, " +
         "round((CAST(sum(CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) / 1000000.0) " +
         "/ count(*) - ln(tot.n), 4) AS avg_logprob " +
         "FROM toks JOIN vocab USING (tok) CROSS JOIN tot " +
         "GROUP BY doc_id, tot.n ORDER BY doc_id"),
      "text_unigram_incr" ->
        ("WITH tok_a AS (SELECT unnest(list_filter(string_split_regex(regexp_replace(lower(text), " +
         "'[^a-z0-9]+', ' ', 'g'), '\\s+'), x -> length(x) > 0)) AS tok FROM documents WHERE doc_id % 2 = 0), " +
         "vocab AS (SELECT tok, count(*) AS c FROM tok_a GROUP BY 1), " +
         "tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM vocab), " +
         "tok_b AS (SELECT doc_id, unnest(list_filter(string_split_regex(regexp_replace(lower(text), " +
         "'[^a-z0-9]+', ' ', 'g'), '\\s+'), x -> length(x) > 0)) AS tok FROM documents WHERE doc_id % 2 = 1), " +
         "j AS (SELECT doc_id, c FROM tok_b LEFT JOIN vocab USING (tok)) " +
         "SELECT doc_id, count(*) AS n_tokens, " +
         "count(*) FILTER (WHERE c IS NULL) AS n_oov, " +
         "round((CAST(sum(CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)) " +
         "FILTER (WHERE c IS NOT NULL) AS BIGINT) / 1000000.0) " +
         "/ count(*) FILTER (WHERE c IS NOT NULL) - ln(tot.n), 4) AS avg_logprob " +
         "FROM j CROSS JOIN tot GROUP BY doc_id, tot.n ORDER BY doc_id"),
      // lu-update twin: vocabulary from the FINAL evens corpus (every
      // %6 doc re-written) — stale tokens left by a broken subtract
      // shift ln(c) and the OOV tallies, so the odd-id scores diverge
      "text_unigram_update" ->
        ("WITH corp AS (SELECT doc_id, text || CASE WHEN doc_id % 6 = 0 THEN " +
         "' updated ' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) ELSE '' END AS text " +
         "FROM documents), " +
         "tok_a AS (SELECT unnest(list_filter(string_split_regex(regexp_replace(lower(text), " +
         "'[^a-z0-9]+', ' ', 'g'), '\\s+'), x -> length(x) > 0)) AS tok FROM corp WHERE doc_id % 2 = 0), " +
         "vocab AS (SELECT tok, count(*) AS c FROM tok_a GROUP BY 1), " +
         "tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM vocab), " +
         "tok_b AS (SELECT doc_id, unnest(list_filter(string_split_regex(regexp_replace(lower(text), " +
         "'[^a-z0-9]+', ' ', 'g'), '\\s+'), x -> length(x) > 0)) AS tok FROM corp WHERE doc_id % 2 = 1), " +
         "j AS (SELECT doc_id, c FROM tok_b LEFT JOIN vocab USING (tok)) " +
         "SELECT doc_id, count(*) AS n_tokens, " +
         "count(*) FILTER (WHERE c IS NULL) AS n_oov, " +
         "round((CAST(sum(CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)) " +
         "FILTER (WHERE c IS NOT NULL) AS BIGINT) / 1000000.0) " +
         "/ count(*) FILTER (WHERE c IS NOT NULL) - ln(tot.n), 4) AS avg_logprob " +
         "FROM j CROSS JOIN tot GROUP BY doc_id, tot.n ORDER BY doc_id"),
      // model-based quality classifier + its 2-batch incremental twin:
      // the incremental build must CONVERGE to the from-scratch
      // train-on-evens model, so both rows share the one SQL replay
      "text_quality_clf" -> clfOracleSql(1024),
      // the full curation chain, stage oracles composed (see
      // curateOracleSql) — the end state of the Runner pipeline spec
      "pipeline_curate" -> curateOracleSql,
      // the 2-batch incremental build converges to the identical
      // from-scratch manifest — the same replay adjudicates both
      "pipeline_curate_incr" -> curateOracleSql,
      // streaming twin: two file-source triggers through the same
      // incremental chain converge to the same manifest
      "stream_curate" -> curateOracleSql,
      "text_quality_clf_incr" -> clfOracleSql(1024),
      // lu-update twin: the from-scratch replay over the FINAL corpus
      // (re-written + re-labeled %6 docs) — a broken subtract leaves
      // phantom counts in the flipped class and diverges
      "text_quality_clf_update" -> clfOracleSql(1024, clfUpdCorpusSql),
      // streaming twin: two file-source training triggers must converge
      // to the same from-scratch model, so it shares the replay too
      "stream_quality_clf" -> clfOracleSql(1024),
      "text_ngram_counts" ->
        ("WITH toks AS (SELECT list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), '\\s+'), x -> length(x) > 0) AS tk FROM documents), " +
         "grams AS (SELECT concat_ws(' ', tk[n], tk[n+1]) AS ngram " +
         "FROM toks, UNNEST(range(1, greatest(len(tk) - 1, 0) + 1)) AS u(n) WHERE len(tk) >= 2) " +
         "SELECT ngram, count(*) AS count FROM grams GROUP BY 1 " +
         "ORDER BY count DESC, ngram ASC LIMIT 40"),
      "text_pmi_bigrams" ->
        ("WITH toks AS (SELECT list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), '\\s+'), x -> length(x) > 0) AS tk FROM documents), " +
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
         "ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 40"),
      "dedup_paragraphs" ->
        ("WITH corpus AS (SELECT doc_id, text || chr(10) || chr(10) || 'Share this article on social media.' || " +
         "(CASE WHEN doc_id % 3 = 0 THEN chr(10) || chr(10) || 'All content copyright the original authors.' " +
         "ELSE chr(10) || chr(10) || 'para unique ' || CAST(doc_id AS VARCHAR) END) AS text FROM documents), " +
         "pa AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps FROM corpus), " +
         "paras AS (SELECT doc_id, u.n AS pos, ps[u.n] AS para FROM pa, UNNEST(range(1, len(ps) + 1)) AS u(n)), " +
         "hot AS (SELECT para FROM paras GROUP BY 1 HAVING count(*) > 10) " +
         "SELECT doc_id, md5(string_agg(para, chr(10) || chr(10) ORDER BY pos)) AS clean_md5 " +
         "FROM paras WHERE para NOT IN (SELECT para FROM hot) " +
         "GROUP BY doc_id ORDER BY doc_id"),
      "text_c4_filters" ->
        ("WITH corpus AS (SELECT doc_id, 'This is well formed sentence number ' || CAST(doc_id AS VARCHAR) || ' of the corpus.' || " +
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
         "FROM k ORDER BY doc_id"),
      "text_domains" ->
        ("WITH planted AS (SELECT doc_id, text || CASE " +
         "WHEN doc_id % 3 = 0 THEN ' visit http://example.com/page' || CAST(doc_id AS VARCHAR) || ' now' " +
         "WHEN doc_id % 3 = 1 THEN ' see https://Data.Example.org/x?q=1 there' " +
         "ELSE '' END AS text FROM documents), " +
         "u AS (SELECT doc_id, unnest(regexp_extract_all(text, 'https?://\\S+')) AS url FROM planted) " +
         "SELECT lower(regexp_extract(url, 'https?://([^/\\s:?#]+)', 1)) AS domain, " +
         "count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs " +
         "FROM u GROUP BY 1 ORDER BY 1"),
      // duplicated 3-token spans: per-doc DISTINCT windows (kernel
      // semantics, incl. the short-doc whole-text branch), document
      // frequency >= 2 marks a span duplicated
      "dedup_spans" ->
        ("WITH toks AS (SELECT doc_id, list_filter(string_split_regex(regexp_replace(lower(text), " +
         "'[^a-z0-9]+', ' ', 'g'), '\\s+'), x -> length(x) > 0) AS tk FROM documents), " +
         "sh AS (SELECT DISTINCT doc_id, concat_ws(' ', tk[n], tk[n+1], tk[n+2]) AS shingle " +
         "FROM toks, UNNEST(range(1, greatest(len(tk) - 2, 0) + 1)) AS u(n) WHERE len(tk) >= 3 " +
         "UNION SELECT DISTINCT doc_id, array_to_string(tk, ' ') FROM toks WHERE len(tk) < 3), " +
         "sizes AS (SELECT doc_id, count(*) AS total_spans FROM sh GROUP BY 1), " +
         "dup AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) >= 2), " +
         "hits AS (SELECT s.doc_id, count(*) AS dup_spans FROM sh s " +
         "JOIN dup d ON s.shingle = d.shingle GROUP BY 1) " +
         "SELECT h.doc_id, h.dup_spans, z.total_spans, " +
         "round(CAST(h.dup_spans AS DOUBLE) / z.total_spans, 4) AS dup_fraction " +
         "FROM hits h JOIN sizes z ON z.doc_id = h.doc_id ORDER BY 1"),
      // removal replay: position-aware 0-based windows, covered token
      // positions = union of [s, s+3) over corpus-duplicated windows,
      // survivors reassembled in order (empty docs keep an empty hash);
      // docs shorter than 3 tokens contribute their whole-text window
      // (the detect-side short-doc contract — flagged tiny dups strip)
      "dedup_spans_strip" ->
        ("WITH toks AS (SELECT doc_id, list_filter(string_split_regex(regexp_replace(lower(text), " +
         "'[^a-z0-9]+', ' ', 'g'), '\\s+'), x -> length(x) > 0) AS tk FROM documents), " +
         "w AS (SELECT doc_id, u.s AS s, concat_ws(' ', tk[u.s+1], tk[u.s+2], tk[u.s+3]) AS g " +
         "FROM toks, UNNEST(range(0, greatest(len(tk) - 2, 0))) AS u(s) WHERE len(tk) >= 3 " +
         "UNION ALL SELECT doc_id, 0 AS s, array_to_string(tk, ' ') AS g " +
         "FROM toks WHERE len(tk) BETWEEN 1 AND 2), " +
         "dup AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM w) GROUP BY g HAVING count(*) >= 2), " +
         "cov AS (SELECT DISTINCT w.doc_id, u.i AS i FROM w JOIN dup USING (g), " +
         "UNNEST(range(w.s, w.s + 3)) AS u(i)) " +
         "SELECT t.doc_id, md5(coalesce((SELECT string_agg(t.tk[u.i + 1], ' ' ORDER BY u.i) " +
         "FROM UNNEST(range(0, len(t.tk))) AS u(i) WHERE NOT EXISTS " +
         "(SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.i = u.i)), '')) AS clean_md5 " +
         "FROM toks t ORDER BY 1"),
      // the md5-family MinHash is byte-replayable: 60-bit md5-prefix
      // hashes, 64 min-aggs, 16 band buckets, hot-bucket cap, sig-match
      // verification — all regenerated as SQL from the same parameters
      "dedup_minhash_lsh" -> {
        val (ctes, pairSel) = minhashOracleParts
        s"WITH $ctes $pairSel ORDER BY 1, 2"
      },
      // incremental replay: same signature/banding CTE chain, candidate
      // pairs restricted to those touching a batch-B member (y is the
      // new id by the +1000000 offset — see minhashOraclePartsWith)
      "dedup_minhash_incremental" -> {
        val (ctes, pairSel) = minhashOraclePartsWith(" AND y.doc_id >= 1000000")
        s"WITH $ctes $pairSel ORDER BY 1, 2"
      },
      // builder-plane convergence: the 2-batch incremental target must
      // equal the from-scratch canonical view (min-id survivor per
      // component; unpaired docs survive)
      "dedup_builder_incremental" -> {
        val (ctes, pairSel) = minhashOracleParts
        s"WITH RECURSIVE $ctes, pairs AS ($pairSel), " +
          "edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b AS src, a AS dst FROM pairs), " +
          "reach AS (SELECT src AS id, src AS r FROM edges " +
          "UNION SELECT e.src AS id, rc.r AS r FROM edges e JOIN reach rc ON rc.id = e.dst), " +
          "labels AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id) " +
          "SELECT c.doc_id FROM corpus c LEFT JOIN labels l ON l.id = c.doc_id " +
          "WHERE l.cluster IS NULL OR l.cluster = c.doc_id ORDER BY 1"
      },
      // lu-update convergence: the 2-run (build, mutate-in-place, repair)
      // target must equal the from-scratch canonical view of the MUTATED
      // corpus — same replay chain over the mutated-corpus CTEs
      "dedup_builder_update" -> {
        val (ctes, pairSel) = minhashOraclePartsCorpus(mutatedCorpusCtes, "")
        s"WITH RECURSIVE $ctes, pairs AS ($pairSel), " +
          "edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b AS src, a AS dst FROM pairs), " +
          "reach AS (SELECT src AS id, src AS r FROM edges " +
          "UNION SELECT e.src AS id, rc.r AS r FROM edges e JOIN reach rc ON rc.id = e.dst), " +
          "labels AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id) " +
          "SELECT c.doc_id FROM corpus c LEFT JOIN labels l ON l.id = c.doc_id " +
          "WHERE l.cluster IS NULL OR l.cluster = c.doc_id ORDER BY 1"
      },
      // ordered 2-trigger upsert: later generation wins per re-ingested key
      "stream_upsert" ->
        ("SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN text || ' v2' " +
         "ELSE text END AS text FROM documents ORDER BY 1"),
      // the streaming twin replays the identical 2-batch build through
      // dedupStream micro-batches — same convergence target, same replay
      "stream_dedup" -> {
        val (ctes, pairSel) = minhashOracleParts
        s"WITH RECURSIVE $ctes, pairs AS ($pairSel), " +
          "edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b AS src, a AS dst FROM pairs), " +
          "reach AS (SELECT src AS id, src AS r FROM edges " +
          "UNION SELECT e.src AS id, rc.r AS r FROM edges e JOIN reach rc ON rc.id = e.dst), " +
          "labels AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id) " +
          "SELECT c.doc_id FROM corpus c LEFT JOIN labels l ON l.id = c.doc_id " +
          "WHERE l.cluster IS NULL OR l.cluster = c.doc_id ORDER BY 1"
      },
      // cluster resolution replay: the same pair CTE chain, transitive
      // min-label closure via a recursive CTE (the engine's iterative
      // min-label propagation converges to the identical fixpoint)
      "dedup_clusters" -> {
        val (ctes, pairSel) = minhashOracleParts
        s"WITH RECURSIVE $ctes, pairs AS ($pairSel), " +
          "edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b AS src, a AS dst FROM pairs), " +
          "reach AS (SELECT src AS id, src AS r FROM edges " +
          "UNION SELECT e.src AS id, rc.r AS r FROM edges e JOIN reach rc ON rc.id = e.dst) " +
          "SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id ORDER BY 1"
      },
      // md5-family SimHash replayed in SQL: weighted token-hash bit sums,
      // 64-bit signature pack, 4x16-bit band candidates, hamming verify
      "dedup_simhash" -> {
        def H(seed: String, v: String) =
          s"CAST(('0x' || substr(md5($seed || ':' || $v), 1, 15)) AS BIGINT)"
        val bitSums = (0 until 64).map(i =>
          s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN w ELSE -w END) AS b$i").mkString(", ")
        val pack = (0 until 64).map(i =>
          s"(CASE WHEN b$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)").mkString(" + ")
        val bandSelects = (0 until 4).map(b =>
          s"SELECT doc_id, $b AS band, (sig >> ${16 * b}) & 65535 AS bucket FROM sigs")
          .mkString(" UNION ALL ")
        "WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL " +
          "SELECT doc_id + 1000000, text || ' zzz near dup suffix' FROM documents WHERE doc_id % 10 = 0), " +
          "toks AS (SELECT doc_id, t.tok FROM corpus, UNNEST(regexp_extract_all(lower(text), '\\S+')) AS t(tok)), " +
          "wt AS (SELECT doc_id, tok, count(*) AS w FROM toks GROUP BY 1, 2), " +
          s"hs AS (SELECT doc_id, w, ${H("0", "tok")} AS h FROM wt), " +
          s"bits AS (SELECT doc_id, $bitSums FROM hs GROUP BY 1), " +
          s"sigs AS (SELECT doc_id, ($pack) AS sig FROM bits), " +
          s"banded AS ($bandSelects), " +
          "capped AS (SELECT * FROM banded QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 1000), " +
          "cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM capped x " +
          "JOIN capped y USING (band, bucket) WHERE x.doc_id < y.doc_id) " +
          "SELECT a, b, bit_count(xor(sa.sig, sb.sig)) AS hamming FROM cand " +
          "JOIN sigs sa ON sa.doc_id = a JOIN sigs sb ON sb.doc_id = b " +
          "WHERE bit_count(xor(sa.sig, sb.sig)) <= 3 ORDER BY 1, 2"
      },
      // perceptual-hash image dedup replayed in SQL: the fixture's cell
      // grays are an md5 draw (constant blocks → box average EXACT), so
      // the 56-bit dHash packs from integer comparisons; banding +
      // hamming verify mirror dedup_simhash with maxHamming = 2
      "dedup_images" ->
        (s"WITH $imageOracleCtes " +
          "SELECT a, b, bit_count(xor(sa.sig, sb.sig)) AS hamming FROM cand " +
          "JOIN sigs sa ON sa.doc_id = a JOIN sigs sb ON sb.doc_id = b " +
          "WHERE bit_count(xor(sa.sig, sb.sig)) <= 2 ORDER BY 1, 2"),
      // streaming image-dedup twin: the same dHash replay, pairs at the
      // builder's hamming <= 3 default, transitive min-label closure,
      // canonical (min-id survivor) view — the stream_dedup contract
      "stream_dedup_images" ->
        (s"WITH RECURSIVE $imageOracleCtes, " +
          "pairs AS (SELECT a, b FROM cand JOIN sigs sa ON sa.doc_id = a " +
          "JOIN sigs sb ON sb.doc_id = b WHERE bit_count(xor(sa.sig, sb.sig)) <= 3), " +
          "edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b AS src, a AS dst FROM pairs), " +
          "reach AS (SELECT src AS id, src AS r FROM edges " +
          "UNION SELECT e.src AS id, rc.r AS r FROM edges e JOIN reach rc ON rc.id = e.dst), " +
          "labels AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id) " +
          "SELECT c.doc_id FROM corpus c LEFT JOIN labels l ON l.id = c.doc_id " +
          "WHERE l.cluster IS NULL OR l.cluster = c.doc_id ORDER BY 1"),
      // md5-family IVF replayed in SQL: hash-ordered centroid draw,
      // nearest-centroid cells, nprobe probing, exact cosine rerank
      "sim_ivf_topk" -> {
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
      // PQ replayed in SQL (iters = 0 → codebooks ARE the md5-ordered
      // seed draw sliced into m=8 subspaces of dsub=8): per-subspace
      // argmin encode, query LUT (subdot / |q|), ADC fold over the code
      // bytes. Every floating-point sum is spelled in the kernel's
      // exact left-associated fold order (t ascending within a
      // subspace, i ascending for |q|, j ascending for the ADC via an
      // ORDER BY j list) so ties and round-4 boundaries agree.
      "sim_pq_topk" -> SparkEntry.pqOracleSql(ivf = false),
      // composed IVF-PQ: the same md5 draw routes coarse cells
      // (cosine-nearest, the sim_ivf_topk spelling) AND quantizes;
      // candidates are the probed cells' codes, ADC-scored
      "sim_ivfpq_topk" -> SparkEntry.pqOracleSql(ivf = true),
      // the incremental builder's single-batch build + serve is pinned
      // (PropertySpec/RunnerStreamingSpec) to answer exactly like the
      // batch operator, so it shares the IVF-PQ oracle
      "ann_index_topk" -> SparkEntry.pqOracleSql(ivf = true),
      // 2-batch incremental: quantizer drawn from batch A (even ids)
      // only, corpus encoded/served in full — certifies the
      // encode-batch-B-against-A's-persisted-quantizer path
      "ann_index_incr_topk" -> SparkEntry.pqOracleSql(ivf = true,
        centsSrc = "(SELECT * FROM embeddings WHERE vec_id % 2 = 0)"),
      // the lu-update replay: quantizer frozen on the ORIGINAL corpus
      // (batch A), codes/queries over the FINAL mutated corpus — what
      // the drop-and-re-encode second run must equal
      "ann_index_update" -> SparkEntry.pqOracleSql(ivf = true,
        corpSrc = SparkEntry.annUpdCorpusSql),
      // the streaming twin trains on the same even-id first trigger and
      // serves the same persisted codes — identical replay
      "stream_ann_topk" -> SparkEntry.pqOracleSql(ivf = true,
        centsSrc = "(SELECT * FROM embeddings WHERE vec_id % 2 = 0)"),
      // box-filter resize replay: each doc's synthetic BMP pixel
      // formula (gray = (doc_id + y*w + x) mod 256, r=g=b) is
      // re-derived arithmetically per size class (side 8/16/24 by
      // doc_id%3 → uniform s x s boxes); cell sums spelled in the
      // kernel's row-major left-assoc order, luma as 0.299g+0.587g+0.114g
      "mm_resize" -> {
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
      }
    )
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
  private def pqOracleSql(ivf: Boolean, centsSrc: String = "embeddings",
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
}

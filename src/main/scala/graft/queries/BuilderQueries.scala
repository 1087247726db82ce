package graft
package queries

import graft.api._
import graft.builder._
import graft.ext.TextAnalysis
import graft.store.{MemoryStore, TableStore}
import graft.store.views._
import org.apache.spark.sql.functions._

import SparkEntry._

/** The builder plane: each query runs a builder (or a Runner spec)
  * once, incrementally or after an lu-update, and reads its target. */
private[graft] object BuilderQueries {
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

  val all: Seq[BenchQuery] = Seq(
    BenchQuery("b2_copy_builder", (s, dir) => {
      val src = new TableStore(s, t(s, dir, "orders"), "orders", "o_orderkey", "o_orderdate")
      val tgt = new MemoryStore(s, "tgt", "o_orderkey", "o_orderdate")
      CopyBuilder(src, tgt).run()
      tgt.df.select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
        .orderBy("o_orderkey")
    }, oracleSql = "SELECT o_orderkey, o_totalprice, o_orderdate FROM orders ORDER BY 1"),

    BenchQuery("b4_group_builder", (s, dir) => {
      val src = new TableStore(s, t(s, dir, "orders"), "orders", "o_orderkey", "o_orderdate")
      val tgt = new MemoryStore(s, "tgt", "grp_id", "o_orderdate")
      new GroupBuilder(src, tgt, Seq("o_orderstatus", "o_orderpriority"),
        aggExprs = Seq(count(lit(1)).alias("n_docs"),
          fxSum(col("o_totalprice"), 100L).alias("sum_price"))).run()
      tgt.df.select(col("o_orderstatus"), col("o_orderpriority"), col("grp_id"),
          col("o_orderdate"), col("n_docs"), col("sum_price"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }, oracleSql = ("SELECT o_orderstatus, o_orderpriority, min(o_orderkey) AS grp_id, " +
        "max(o_orderdate) AS o_orderdate, count(*) AS n_docs, " +
        s"${fxSumSql("o_totalprice", 100L)} AS sum_price " +
        "FROM orders GROUP BY 1, 2 ORDER BY 1, 2")),

    BenchQuery("b5_projection_builder", (s, dir) => {
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
    }, oracleSql = ("SELECT COALESCE(s.s_suppkey, q.k) AS s_suppkey, s.s_name, s.s_acctbal, q.qty " +
        "FROM supplier s FULL OUTER JOIN (SELECT l_suppkey AS k, " +
        s"${fxSumSql("l_quantity", 100L)} AS qty FROM lineitem GROUP BY 1) q " +
        "ON s.s_suppkey = q.k ORDER BY 1")),

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
    BenchQuery("text_unigram_incr", (s, dir) => {
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
    }, oracleSql = ("WITH tok_a AS (SELECT unnest(list_filter(string_split_regex(regexp_replace(lower(text), " +
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
        "FROM j CROSS JOIN tot GROUP BY doc_id, tot.n ORDER BY doc_id")),

    // lu-UPDATE half of the unigram-LM delta contract (the
    // text_bm25_update pattern): batch A trains on the even ids, batch
    // B RE-WRITES every %6==0 doc (planted md5 word, lu bumped). The
    // per-doc contributions store lets run 2 un-count the stale text
    // before re-counting the new — the odd ids then score against the
    // persisted vocab, which must equal the from-scratch train over
    // the FINAL corpus (the oracle's replay). A broken subtract leaves
    // the old tokens in the counts and hash-diverges.
    BenchQuery("text_unigram_update", (s, dir) => {
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
    },
      // lu-update twin: vocabulary from the FINAL evens corpus (every
      // %6 doc re-written) — stale tokens left by a broken subtract
      // shift ln(c) and the OOV tallies, so the odd-id scores diverge
      oracleSql = ("WITH corp AS (SELECT doc_id, text || CASE WHEN doc_id % 6 = 0 THEN " +
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
        "FROM j CROSS JOIN tot GROUP BY doc_id, tot.n ORDER BY doc_id")),

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
    BenchQuery("pipeline_curate", (s, dir) => {
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
    },
      // the full curation chain, stage oracles composed (see
      // curateOracleSql) — the end state of the Runner pipeline spec
      oracleSql = curateOracleSql),

    // INCREMENTAL curation (VERDICT r14 #3): the per-doc stages (C4,
    // Gopher, clf score, content hash, decon verdict) run only for docs
    // the facts store hasn't seen — batch A is the even half, batch B
    // the full corpus, so run 2 pays stage-1–5 work for the odd half
    // only while the (manifest-sized, text-free) mix+pack tail re-runs
    // corpus-global. The model is trained ONCE on the full labeled
    // corpus (a fixed dependency of the facts; see CurateBuilder
    // invalidation contract). Convergence: the final manifest equals
    // the from-scratch chain — the SAME oracle SQL as pipeline_curate.
    BenchQuery("pipeline_curate_incr", (s, dir) => {
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
    },
      // the 2-batch incremental build converges to the identical
      // from-scratch manifest — the same replay adjudicates both
      oracleSql = curateOracleSql),

    BenchQuery("text_quality_clf_incr", (s, dir) => {
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
    }, oracleSql = clfOracleSql(1024)),

    // lu-UPDATE half of the classifier delta contract: batch B both
    // RE-WRITES and RE-LABELS every %6==0 training doc (labeled
    // feedback correcting earlier labels — the real re-train trigger).
    // The contributions store lets run 2 subtract the doc's counts
    // from its OLD class column before re-counting into the new; the
    // persisted model must equal the from-scratch train over the FINAL
    // corpus. A broken subtract leaves phantom counts in the flipped
    // class and hash-diverges the odd-id scores.
    BenchQuery("text_quality_clf_update", (s, dir) => {
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
    },
      // lu-update twin: the from-scratch replay over the FINAL corpus
      // (re-written + re-labeled %6 docs) — a broken subtract leaves
      // phantom counts in the flipped class and diverges
      oracleSql = clfOracleSql(1024, clfUpdCorpusSql)),

    // incremental BM25 index, 2-batch lifecycle oracle: batch A (even
    // docs) builds postings + stats, batch B adds ONLY the odd docs
    // (id-based pending), then serving answers from the persisted index
    // — certified equal to the from-scratch BM25 over the union because
    // df/tf are per-(term, doc) facts and N/Σdl merge additively
    BenchQuery("text_bm25_incr", (s, dir) => {
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
    }, oracleSql = (s"WITH ${bm25OracleCtes(89)}, " +
        "ranked AS (SELECT q_id, id, sm, row_number() OVER (PARTITION BY q_id " +
        "ORDER BY sm DESC, id ASC) AS rank FROM bm25agg) " +
        "SELECT q_id, rank, id AS doc_id, round(sm / 1000000.0, 4) AS score " +
        "FROM ranked WHERE rank <= 8 ORDER BY q_id, rank")),

    // the UPDATE half of the reference incremental contract
    // (core/store.py:239-275): batch A indexes the full corpus at lu=1;
    // batch B re-loads it with every doc_id % 13 == 0 carrying NEW text
    // and lu=2 — the builder drops exactly those docs' stale postings,
    // decrements (n_docs, Σdl) by their OLD lengths, and re-indexes
    // them, so serving matches the from-scratch build over the FINAL
    // corpus (the oracle replays BM25 over the mutated corpus in SQL)
    BenchQuery("text_bm25_update", (s, dir) => {
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
    },
      // the lu-update replay: from-scratch BM25 over the FINAL (mutated)
      // corpus — what the 2-batch drop-and-reindex build must equal
      oracleSql = (s"WITH ${bm25OracleCtes(89, bm25UpdCorpusSql)}, " +
        "ranked AS (SELECT q_id, id, sm, row_number() OVER (PARTITION BY q_id " +
        "ORDER BY sm DESC, id ASC) AS rank FROM bm25agg) " +
        "SELECT q_id, rank, id AS doc_id, round(sm / 1000000.0, 4) AS score " +
        "FROM ranked WHERE rank <= 8 ORDER BY q_id, rank")),

    // the INCREMENTAL serving plane end-to-end: build the codes-only
    // index (delta parquet + JSON quantizer) through AnnIndexBuilder,
    // then answer from persisted codes — the oracle is the same IVF-PQ
    // replay, because a single-batch build with the deterministic
    // quantizer answers EXACTLY like the batch operator
    BenchQuery("ann_index_topk", (s, dir) => {
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
    },
      // the incremental builder's single-batch build + serve is pinned
      // (PropertySpec/RunnerStreamingSpec) to answer exactly like the
      // batch operator, so it shares the IVF-PQ oracle
      oracleSql = pqOracleSql(ivf = true)),

    // 2-batch INCREMENTAL ANN serving: batch A (even ids) trains and
    // persists the quantizer; batch B (odd ids) is then encoded against
    // batch A's LOADED quantizer — the delta-append path, not the
    // degenerate single-batch case — and serving reads the persisted
    // codes across both generations. Replayable because the quantizer
    // is the deterministic md5 draw over batch A only.
    BenchQuery("ann_index_incr_topk", (s, dir) => {
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
    },
      // 2-batch incremental: quantizer drawn from batch A (even ids)
      // only, corpus encoded/served in full — certifies the
      // encode-batch-B-against-A's-persisted-quantizer path
      oracleSql = pqOracleSql(ivf = true,
        centsSrc = "(SELECT * FROM embeddings WHERE vec_id % 2 = 0)")),

    // the UPDATE half of the reference incremental contract for the ANN
    // plane: batch A trains the quantizer on the full ORIGINAL corpus
    // (lu=1) and encodes everything; batch B re-loads it with every
    // vec_id % 17 == 0 carrying a NEW embedding (reversed — SQL-
    // replayable) and lu=2 — the builder drops exactly those ids' stale
    // codes and re-encodes them against the FROZEN quantizer (updates
    // never retrain; staleness is rebuild()'s job), so serving matches
    // a from-scratch encode of the final corpus under batch A's books
    BenchQuery("ann_index_update", (s, dir) => {
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
    },
      // the lu-update replay: quantizer frozen on the ORIGINAL corpus
      // (batch A), codes/queries over the FINAL mutated corpus — what
      // the drop-and-re-encode second run must equal
      oracleSql = pqOracleSql(ivf = true,
        corpSrc = annUpdCorpusSql))
  )
}

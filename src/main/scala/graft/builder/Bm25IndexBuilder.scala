package graft.builder

import graft.query.{LocalFrame, MongoFilter, QueryParams}
import graft.store.Store
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental BM25 inverted index + serving — the LEXICAL twin of
  * [[AnnIndexBuilder]], giving the round-12 retrieval plane
  * ([[graft.ext.TextAnalysis.bm25TopK]]) the engine's own
  * train-once/score-batches discipline (reference incremental-build
  * contract, `core/store.py:239-275`).
  *
  * Persisted state:
  *  - `index`: one posting per `(term, id)` — `(term, id, tf, dl)` with
  *    `dl` the doc's token length riding every posting so scoring never
  *    joins a second per-doc table. [[run]] calls `ensureIndex("term")`,
  *    so a ParquetStore-backed index is term-clustered and [[topK]]'s
  *    static query-term IN-predicate prunes row groups before the scan
  *    (the [[AnnIndexBuilder]] probe-cell shape); with `delta_writes`
  *    each batch append is O(batch postings).
  *  - `stats`: one row `(sid, n_docs, sum_dl)` — the only corpus-global
  *    quantities BM25 needs (idf's N and the length-norm avgdl); batch
  *    increments MERGE into it, never recount the corpus.
  *
  * One commit per store per [[run]]: the lu-newer docs and (with
  * `deleteOrphans`) the docs gone from the scoped corpus are found
  * before the write; their postings leave in the same index commit that
  * absorbs the batch's, and their counts fold into the one stats write.
  *
  * Zero-token docs write a SENTINEL posting (`term = ""`, tf 0): the
  * empty term can never match a query term ([[graft.ext.TextAnalysis
  * .normTokens]] emits non-empty tokens only), but it marks the doc as
  * indexed so the id-based pending check cannot re-count it into
  * `n_docs` on every run.
  *
  * Convergence contract: after any split of a corpus into batches,
  * [[topK]] answers EXACTLY what the from-scratch
  * [[graft.ext.TextAnalysis.bm25TopK]] answers over the union — df and
  * tf are per-(term, doc) facts, N/Σdl merge additively, and the
  * micro-long fixed-point scores make ranking order-independent
  * (pinned in RunnerStreamingSpec; oracle row `text_bm25_incr`). */
class Bm25IndexBuilder(
    val source: Store,
    val index: Store,
    val stats: Store,
    val textField: String,
    val k1: Double = 1.2,
    val b: Double = 0.75,
    val criteria: Option[String] = None,
    val deleteOrphans: Boolean = false)
  extends Builder {

  private def spark = source.spark

  private def scoped: DataFrame =
    criteria.map(c => MongoFilter(source.df, c)).getOrElse(source.df)

  /** Same refusal contract as the other index builders: a populated
    * store that is not the posting layout is rejected, not
    * schema-unioned. */
  private def checkIndexLayout(): Boolean = {
    val df = index.df
    val c = df.columns
    val usable = c.contains("term") && c.contains("id") &&
      c.contains("tf") && c.contains("dl")
    if (!usable && c.nonEmpty && !df.isEmpty)
      throw new IllegalArgumentException(
        s"index store contains rows but not the (term, id, tf, dl) BM25 " +
          s"posting layout (columns: ${c.mkString(", ")}) — refusing to mix")
    usable
  }

  /** ONE per-id aggregate of the postings `(id, dl, __ilu)` joined to
    * the scoped corpus's `(id, __slu, __live)`: the lu-newer docs
    * ([[isChanged]]) and, with [[deleteOrphans]] (left-outer join; its
    * ids also serve the unseen anti-join), the orphans ([[isOrphan]]).
    * Otherwise inner, changed rows only; None when the index is empty or
    * the lu discipline does not apply (lu-less source or legacy index). */
  private def docState(): Option[DataFrame] = {
    if (!checkIndexLayout()) return None
    val (postings, corpus, lu) = (index.df, scoped, source.lastUpdatedField)
    val hasLu = postings.columns.contains("lu") && corpus.columns.contains(lu)
    if (!(hasLu || deleteOrphans)) return None
    val state = postings.groupBy(col("id"))
      .agg(max(col("dl")).cast("long").alias("dl"),
        max(if (hasLu) col("lu") else lit(null).cast("long")).alias("__ilu"))
      .join(corpus.select(col(source.key).alias("id"),
        (if (hasLu) col(lu) else lit(null).cast("long")).alias("__slu"),
        lit(true).alias("__live")), Seq("id"), if (deleteOrphans) "left_outer" else "inner")
    Some(if (deleteOrphans) state else state.filter(isChanged))
  }
  private def isChanged = col("__slu") > col("__ilu")
  private def isOrphan = col("__live").isNull

  private def pendingOf(state: Option[DataFrame], changed: Option[DataFrame]): DataFrame =
    if (!checkIndexLayout()) scoped
    else Contributions.pending(source, scoped,
      state.filter(_ => deleteOrphans).getOrElse(index.df), changed)

  /** Docs the index has not absorbed ∪ docs whose source lu is newer
    * than their postings' (the sentinel posting keeps zero-token docs
    * out of here). [[run]] re-indexes the lu-newer ones with their new
    * text, so [[topK]] matches the from-scratch build over the final
    * corpus (oracle row `text_bm25_update`). A source without a lu
    * column degrades to the id-based insert-only behavior. */
  def pendingItems(): DataFrame = {
    val state = docState()
    pendingOf(state, state.map(_.filter(isChanged)))
  }

  /** Postings are the source of truth, the stats row a cache: a torn
    * index/stats pair would leave every later [[topK]] scoring with a
    * silently wrong N/avgdl, so the [[CleanPair]]-gated startup recount
    * rebuilds (n_docs, Σdl) from the index — count of distinct ids and
    * sum of per-doc dl — and rewrites the stats row when it disagrees.
    * Never on the steady-state batch path. */
  private val pair = new CleanPair(index, stats)

  /** Whether the last [[run]] paid the startup recount — test
    * observability for the clean-pair gating (no behavioral use). */
  private[graft] var lastRunReconciled: Boolean = false

  private def reconcileStats(): Unit = {
    if (!checkIndexLayout()) return
    val truth = index.df.groupBy(col("id"))
      .agg(max(col("dl")).cast("long").alias("dl")) // dl constant per doc
      .agg(count(lit(1)).alias("n"), sum(col("dl")).alias("s")).head()
    val n = truth.getLong(0)
    if (n == 0) return
    val sdl = if (truth.isNullAt(1)) 0L else truth.getLong(1)
    if (!loadStats().contains((n, sdl))) writeStats(n, sdl)
  }

  private def writeStats(n: Long, sumDl: Long): Unit = {
    val s = spark
    import s.implicits._
    stats.update(Seq(("bm25", n, sumDl)).toDF("sid", "n_docs", "sum_dl"), Seq("sid"))
  }

  /** The `sid = "bm25"` stats record, read by `stats.query` on its key
    * (every stats store is keyed on `sid`, so a ParquetStore answers it
    * from its driver read with no Spark job; other stores run
    * ONE driver action). A stats store that holds other rows too still
    * answers this record, not an arbitrary one. No `limit(1)`: on a plan
    * a limit scans partition by partition and pays a second job whenever
    * the row is not in the first one. The value is CACHED keyed on the
    * stats store's content token (the AnnIndexBuilder quantizer-cache
    * discipline): any store write changes the token and misses the
    * cache; a token-less store ("" — no cheap change signal) never
    * caches. The cache lives on the instance, so a fresh builder over the
    * same stores pays one read and every later [[topK]]/[[run]] action
    * in its lifetime is free. */
  @volatile private var statsCache: Option[(String, Option[(Long, Long)])] = None

  private[graft] def loadStats(): Option[(Long, Long)] = {
    val tok = stats.contentToken
    statsCache match {
      case Some((t, v)) if t.nonEmpty && t == tok => v
      case _ =>
        val cols = stats.df.columns
        val v =
          if (!cols.contains("n_docs") || !cols.contains("sid")) None
          else stats.query(QueryParams(criteria = Some("""{"sid": "bm25"}""")))
            .select(col("n_docs").cast("long"), col("sum_dl").cast("long"))
            .collect().headOption.map(r => (r.getLong(0), r.getLong(1)))
        statsCache = Some((tok, v))
        v
    }
  }

  /** `(term, id, tf, dl, lu)` postings of a batch — ONE scan through the
    * compiled [[graft.functions.TermCounts]] kernel carries tf and the
    * doc length; `explode_outer` + coalesce emits the zero-token
    * sentinel. `lu` rides every posting (constant per doc, like `dl`) so
    * [[docState]] can compare against the source without a second
    * per-doc table; a lu-less source writes a null long column. A
    * LEGACY populated index built before the lu column keeps its layout
    * (lu stripped) — it stays insert-only rather than failing the
    * append. */
  private def postingsOf(batch: DataFrame): DataFrame = {
    val p = batch.select(col(source.key).alias("id"),
        Contributions.lu(source, batch).alias("lu"),
        graft.functions.GraftFunctions.termCounts(spark,
          graft.ext.TextAnalysis.normTokens(col(textField))).alias("__tc"))
      .select(col("id"), col("lu"),
        coalesce(graft.functions.GraftFunctions.cntTotal(spark, col("__tc")),
          lit(0L)).alias("dl"),
        explode_outer(col("__tc")).alias("__t"))
      .select(coalesce(col("__t.term"), lit("")).alias("term"),
        col("id"),
        coalesce(col("__t.cnt").cast("long"), lit(0L)).alias("tf"),
        col("dl"), col("lu"))
    if (checkIndexLayout() && !index.df.columns.contains("lu")) p.drop("lu")
    else p
  }

  /** Index this run's delta: ONE index commit (the batch's postings in,
    * the changed docs' and orphans' postings out — O(batch) with a
    * delta-write store when nothing leaves) and ONE additive stats
    * write. Report = docs examined (the incremental contract's
    * measure). */
  protected def build(): BuildReport = {
    index.ensureIndex("term")
    // repair a possibly-torn index/stats pair BEFORE computing pending
    // items — skipped when the clean-pair marker still matches (see
    // reconcileStats); a throw anywhere below leaves the marker
    // un-stamped, so the NEXT run recounts
    lastRunReconciled = !pair.clean
    if (lastRunReconciled) reconcileStats()
    // lu-newer docs and orphans resolved up front (see docState)
    val state = docState().map(Materialize.eager(_))
    val r = state.map(_.agg(count_if(isChanged), sum(when(isChanged, col("dl"))),
      count_if(isOrphan), sum(when(isOrphan, col("dl")))).head())
    def at(i: Int) = r.filterNot(_.isNullAt(i)).fold(0L)(_.getLong(i))
    val (updated, updatedDl, orphans, orphanDl) = (at(0), at(1), at(2), at(3))
    // spread: the tokenize+count kernel is CPU-dense per doc and must
    // not inherit a 2-split scan (Materialize.spread)
    val batch = Materialize.spread(pendingOf(state,
      state.map(_.filter(isChanged)).filter(_ => updated > 0)))
    // batch stats in ONE small agg (count + Σdl over the batch), the
    // count also the run's examined docs; null dl (null text) counts
    // the doc, adds nothing — the same accounting as the
    // from-scratch stats row
    val st = batch.select(
        graft.functions.GraftFunctions.cntTotal(spark,
          graft.functions.GraftFunctions.termCounts(spark,
            graft.ext.TextAnalysis.normTokens(col(textField)))).alias("dl"))
      .agg(count(lit(1)).alias("n"), sum(col("dl")).alias("s")).head()
    val (examined, batchS) = (st.getLong(0), if (st.isNullAt(1)) 0L else st.getLong(1))
    // postings first, stats second: a tear between them leaves the
    // stats row diverged from the postings' truth, which the
    // clean-pair-gated recount repairs on the next run
    Builder.commitOnce(index, Some(batch).filter(_ => examined > 0).map(postingsOf),
      state.map(_.filter(isChanged || isOrphan).select(col("id")))
        .filter(_ => updated + orphans > 0), Seq("term", "id"))
    if (examined > 0 || orphans > 0) loadStats() match {
      case Some((n0, s0)) =>
        // ONE additive stats write: the batch increment and the
        // decrement of the changed docs' OLD lengths and the
        // orphans' fold together
        writeStats(n0 + examined - updated - orphans, s0 + batchS - updatedDl - orphanDl)
      case None if updated > 0 || orphans > 0 =>
        // stats row missing/unreadable while postings exist (e.g.
        // truncated externally after the startup recount):
        // decrementing from (0,0) would write NEGATIVE counts —
        // recount from the just-committed postings, the source of
        // truth (they already reflect removals + batch)
        reconcileStats()
      case None => writeStats(examined, batchS)
    }
    // every write pair committed: stamp the marker (a failure above
    // propagates with the marker stale, so the next run recounts)
    pair.stamp()
    BuildReport(examined, 0, orphans, updated = updated)
  }

  /** BM25 top-k over the persisted postings; requires a completed
    * [[run]]. `queries` rows carry `(idCol, textCol)` — defaults to the
    * source's fields. Serving shape: query terms collect driver-side
    * (small by the query contract, the [[AnnIndexBuilder]] probe
    * pattern), the postings are read by `{term: {$in: terms}}` (a
    * term-clustered layout + blooms from `ensureIndex` prune the scan),
    * df for the probed terms falls out of the pruned postings themselves,
    * and scores replay [[graft.ext.TextAnalysis.bm25TopK]]'s micro-long
    * fixed-point arithmetic op for op. When the postings read is a local
    * frame (a ParquetStore driver read), the driver evaluator computes
    * this one plan ([[LocalFrame.fold]]): a request starts no Spark job. */
  def topK(queries: DataFrame, k: Int = 10,
           idCol: Option[String] = None, textCol: Option[String] = None): DataFrame = {
    val (n, sumdl) = loadStats().getOrElse(throw new IllegalStateException(
      "Bm25IndexBuilder.topK before any run(): no stats persisted"))
    if (!index.df.columns.contains("term")) throw new IllegalStateException(
      "Bm25IndexBuilder.topK: the posting index is empty — run() a batch first")
    val qt = queries.select(
        col(idCol.getOrElse(source.key)).cast("long").alias("q_id"),
        explode(graft.functions.GraftFunctions.termCounts(spark,
          graft.ext.TextAnalysis.normTokens(col(textCol.getOrElse(textField))))).alias("__t"))
      .select(col("q_id"), col("__t.term").alias("term"))
    // ≤ |queries| × |query vocab| rows by the small-query contract:
    // collect ONCE, re-plan as a local relation (no leaking checkpoint
    // in a long-lived serving process — the AnnIndexBuilder rationale)
    val qtRows = LocalFrame.collect(qt)
    // no terms: `$in: []` reads no posting, and the plan scores nothing
    val terms = qtRows.map(_.getString(1)).filter(_ != null).distinct.toSeq
    val nD = n.toDouble
    val avgdl = sumdl.toDouble / nD
    // post-prune the postings keep their strings only long enough to
    // hash: the scored join/agg runs on 8-byte xxhash64 keys, and idf
    // folds into the probed-term slice (ln per term, not per scored
    // row) — the bm25TopK spellings, values bit-identical
    val inList = terms.map(graft.api.Json.str).mkString("[", ",", "]")
    val post = index.query(QueryParams(criteria = Some(s"""{"term": {"$$in": $inList}}"""),
        properties = Seq("term", "id", "tf", "dl")))
      .select(xxhash64(col("term")).alias("th"),
        col("id").cast("long").alias("id"),
        col("tf").cast("long").alias("tf"), col("dl").cast("long").alias("dl"))
    // exact df for the probed terms: the prune keeps EVERY posting of a
    // probed term, so this count is the corpus document frequency
    val dfreq = broadcast(post.groupBy(col("th"))
      .agg(count(lit(1)).alias("df"))
      .select(col("th"), log(lit(1.0) + (lit(nD) - col("df") + 0.5) /
        (col("df") + 0.5)).alias("__idf")))
    val qth = spark.createDataFrame(java.util.Arrays.asList(qtRows: _*), qt.schema)
      .select(col("q_id"), xxhash64(col("term")).alias("th"))
    val scored = post.join(broadcast(qth), Seq("th"))
      .filter(col("id") =!= col("q_id"))
      .join(dfreq, Seq("th"))
      .select(col("q_id"), col("id"),
        // floor(x + 0.5): see TextAnalysis.bm25TopK — same spelling in
        // the oracle CTE, one Math.floor instead of a per-row BigDecimal
        floor(col("__idf") *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + (col("dl") / lit(avgdl) * b + (1.0 - b)) * k1) *
          1000000.0 + 0.5).cast("long").alias("__sm"))
    LocalFrame.fold(scored.groupBy(col("q_id"), col("id"))
      .agg(sum(col("__sm")).alias("__sm"))
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.topk(spark,
        col("__sm").cast("double"), col("id"), k).alias("__top"))
      .select(col("q_id"), posexplode(col("__top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").alias("rank"),
        col("col.id").alias("doc_id"),
        round(col("col.score") / 1000000.0, 4).alias("score")))
  }
}

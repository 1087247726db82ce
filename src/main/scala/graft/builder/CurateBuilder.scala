package graft.builder

import graft.ext.{Dedup, Sampling, TextAnalysis}
import graft.query.MongoFilter
import graft.store.Store
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end training-data curation pipeline as ONE builder — the
  * chain a real pretraining-data user runs, composed from the engine's
  * own stage operators in their production order:
  *
  *   1. C4 cleaning gate ([[TextAnalysis.c4Filters]]): line-level
  *      retention + page-level drops; downstream stages see the CLEANED
  *      text, exactly like the reference pipeline feeds filtered text
  *      forward (reference `builders/map_builder.py`'s chained-builder
  *      idiom; C4 rules per Raffel et al. 2020 §2.2).
  *   2. Gopher heuristic gate ([[TextAnalysis.gopherRules]]) over the
  *      cleaned text (Rae et al. 2021 §A1.1).
  *   3. Model-based quality gate: score against a PERSISTED
  *      [[QualityClfBuilder]]-layout count model (`(bucket, c0, c1)`),
  *      keep docs with `q_score > clfThreshold` — the CCNet/LLaMA-style
  *      classifier stage. Skipped when no model store is wired.
  *   4. Exact content dedup: first doc (by key) per cleaned-text hash
  *      survives — a `groupBy(hash).agg(min_by(...))` whose map-side
  *      partial aggregation collapses duplicates BEFORE the exchange,
  *      so a boilerplate page duplicated 10⁷× at 100 TB ships one
  *      pre-reduced row per map task to the reducer instead of
  *      serializing every copy through a single hot task (the
  *      row-number-window spelling it replaces did exactly that).
  *   5. Decontamination ([[Dedup.decontaminate]]): drop docs sharing
  *      any `deconNgram`-token window with the eval store (Lee et al.
  *      2022 / GPT-3 appendix C). Skipped when no eval store is wired.
  *   6. Weighted mix ([[Sampling.weightedMix]]): per-stratum
  *      deterministic hash sampling — pushdown-friendly single filter.
  *   7. Sequence packing ([[Sampling.packSequences]]): distributed
  *      prefix sums assign each survivor its `(pack_id, pack_offset)`.
  *
  * Target rows: `(key, stratum, n_tokens, pack_id, pack_offset)` — the
  * data-loader manifest. SNAPSHOT semantics: the chain is corpus-global
  * (dedup group minima and pack prefix sums shift when any upstream doc
  * changes), so [[run]] rewrites the manifest and, with `deleteOrphans`
  * (default ON here, unlike the incremental builders), removes target
  * keys that no longer survive. Scale shape: stages 1–3 and 6 are
  * shuffle-free scan-speed projections/filters; the only exchanges are
  * the dedup hash shuffle, the decon gram aggregate, and the pack range
  * shuffle — nothing is all-pairs and nothing collects to the driver.
  *
  * ==Incremental mode==
  * With a `facts` store AND a source `lastUpdatedField`, the expensive
  * per-doc stages become INCREMENTAL (reference delta contract,
  * `core/store.py:239-275`): stages 1–3 verdicts, the cleaned-content
  * hash, the token count, and the stage-5 decon verdict are all pure
  * per-doc facts, so each run computes them ONLY for docs the facts
  * table hasn't seen (or whose source lu is newer) and upserts the
  * narrow fact rows `(key, lu, stratum, pass, clean_h, n_tokens,
  * q_score, decon_ok)`; docs gone from the source leave the table. The
  * corpus-global tail (dedup group minima, mix filter, pack prefix
  * sums) then re-runs over the FACTS TABLE ONLY — a handful of narrow
  * columns, no text — so a daily batch on a 100 TB corpus pays
  * stage-1–5 work proportional to the batch plus a manifest-sized
  * re-pack, not a full-corpus re-read. Invalidation contract: the fact
  * rows bake in the model store's counts, `clfBuckets/-Family/-Seed`,
  * the eval store's grams and `deconNgram` at compute time — retraining
  * the model or replacing the eval slice requires clearing the facts
  * store (same as any derived cache); `clfThreshold` and the mix/pack
  * dials are applied at TAIL time and may change freely between runs.
  * Convergence: the incremental manifest equals the from-scratch chain
  * over the final corpus (oracle row `pipeline_curate_incr`; mutation
  * case pinned in RunnerStreamingSpec).
  */
class CurateBuilder(
    val source: Store,
    val target: Store,
    val model: Option[Store] = None,
    val eval: Option[Store] = None,
    val textField: String = "text",
    val stratumField: String = "lang",
    val minLineWords: Int = 3,
    val minWords: Int = 20,
    val clfThreshold: Double = 0.0,
    val clfBuckets: Int = 1024,
    val clfFamily: String = "md5",
    val clfSeed: Int = 0,
    val deconNgram: Int = 13,
    val mixRates: Map[String, Double] = Map.empty,
    val mixDefaultRate: Double = 1.0,
    val mixFamily: String = "md5",
    val mixSeed: Int = 0,
    val seqLen: Long = 2048,
    val criteria: Option[String] = None,
    val deleteOrphans: Boolean = true,
    /** Optional per-doc fact store → incremental mode (see class doc). */
    val facts: Option[Store] = None)
  extends Builder {

  private def scoped: DataFrame =
    criteria.map(c => MongoFilter(source.df, c)).getOrElse(source.df)

  private def incremental: Boolean =
    facts.isDefined && scoped.columns.contains(source.lastUpdatedField)

  /** Fingerprint of everything BAKED INTO fact rows at compute time
    * (class-doc invalidation contract): the model/eval stores'
    * [[graft.store.Store.contentToken]]s plus the compile-time dials.
    * Tail-time dials (`clfThreshold`, mix rates, `seqLen`) are applied
    * per run and excluded on purpose. Stores with no cheap token
    * (`""`) keep the documented MANUAL contract — the fingerprint
    * still guards the params and the other store. */
  private def depFingerprint: String = {
    val s = Seq(model.map(_.contentToken).getOrElse("none"),
      eval.map(_.contentToken).getOrElse("none"),
      clfBuckets, clfFamily, clfSeed, deconNgram, minLineWords, minWords,
      textField, stratumField).mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
  }

  /** True when the facts table was computed under a DIFFERENT
    * dependency fingerprint (model retrained, eval slice replaced, a
    * compile-time dial changed) — or under a mix of fingerprints (a
    * torn previous run): every stored verdict is then suspect and the
    * whole corpus re-enters. One tiny agg over the narrow `__dep`
    * column; facts without the column (pre-fingerprint layout) count
    * as stale. */
  private def factsStale(f: Store): Boolean = {
    val df = f.df
    if (df.columns.isEmpty || df.isEmpty) false
    else if (!df.columns.contains("__dep")) true
    else {
      val r = df.agg(min(col("__dep")), max(col("__dep"))).head()
      r.getString(0) != r.getString(1) || r.getString(0) != depFingerprint
    }
  }

  /** Snapshot mode: everything scoped is pending. Incremental mode:
    * docs the facts table hasn't seen, or whose source lu is newer —
    * or EVERYTHING when the dependency fingerprint changed (automatic
    * invalidation of the derived cache). */
  def pendingItems(): DataFrame =
    if (!incremental) scoped
    else {
      val f = facts.get
      val key = source.key
      if (!f.df.columns.contains(key) || factsStale(f)) scoped
      else scoped
        .join(f.df.select(col(key), col("lu").alias("__flu")),
          Seq(key), "left_outer")
        .filter(col("__flu").isNull ||
          col(source.lastUpdatedField) > col("__flu"))
        .drop("__flu")
    }

  /** The curated manifest as a plan (inspect/test hook; always the
    * SNAPSHOT chain): `(key, stratum, n_tokens, pack_id, pack_offset)`
    * — no caching, so repeated actions re-execute the chain; [[run]]
    * uses the cached variant. Its decontamination and packing steps
    * materialize, so it needs an open [[Materialize.scope]]. */
  def curated(): DataFrame = chain(identity, identity)

  /** The chain with caller-supplied hooks at the post-dedup point (the
    * narrowest frame decontaminate's two legs read) and the post-mix
    * point (read twice by packSequences' prefix + output passes) —
    * [[run]] caches both: re-running the cleaned/gated/deduped chain
    * 4x is strictly worse than two MEMORY_AND_DISK materializations of
    * the survivors at any scale. */
  private def chain(mid: DataFrame => DataFrame,
                    midMix: DataFrame => DataFrame): DataFrame = {
    val key = source.key
    // 1. C4: gate on the page rules, feed the CLEANED text forward
    val c4 = TextAnalysis.c4Filters(col(textField), minLineWords)
    val cleaned = scoped
      .select(col(key), col(stratumField), c4.alias("__c4"))
      .filter(col("__c4").getField("keep"))
      .select(col(key), col(stratumField),
        col("__c4").getField("clean").alias("__clean"))
    // 2. Gopher heuristics over the cleaned text
    val gophered = cleaned.filter(
      TextAnalysis.gopherRules(col("__clean"), minWords).getField("passes"))
    // 3. model-based quality gate (persisted NB counts; the 4-dp
    // rounded score is the gate input on BOTH engine and oracle).
    // r16: the score is a plain FILTER predicate against driver-folded
    // model constants (QualityClassifier.qScoreCol) — the pre-r16
    // score-frame + left_semi join evaluated the whole C4/Gopher
    // subtree TWICE (once per join side) and paid two exchanges
    // (guide §2.4); same kept set, since q_score per doc is
    // bit-identical and keys are unique
    val qualified = model.filter(_.df.columns.contains("bucket")) match {
      case Some(m) =>
        val counts = m.df.select(col("bucket"),
          col("c0").cast("long").alias("c0"),
          col("c1").cast("long").alias("c1"))
        val mc = graft.ext.QualityClassifier.modelConsts(counts, clfBuckets)
        gophered.filter(graft.ext.QualityClassifier.qScoreCol(
          source.spark, col("__clean"), mc, clfFamily, clfSeed) > clfThreshold)
      case None => gophered
    }
    // 4. exact dedup on the cleaned content: min key per hash wins.
    // min_by over groupBy(hash), NOT a row_number window — partial
    // aggregation collapses duplicate groups map-side, so hot hashes
    // (mega-duplicated boilerplate) reduce before the exchange instead
    // of streaming every copy through one reducer task
    val deduped = mid(qualified
      .groupBy(md5(col("__clean").cast("binary")).alias("__h"))
      .agg(min_by(struct(col(key), col(stratumField), col("__clean")),
        col(key)).alias("__w"))
      .select(col(s"__w.$key").alias(key),
        col(s"__w.$stratumField").alias(stratumField),
        col("__w.__clean").alias("__clean")))
    // 5. decontaminate vs the eval store's text (any shared window drops)
    val deconed = eval.filter(e => e.df.columns.contains(e.key)) match {
      case Some(e) =>
        Dedup.decontaminate(deduped,
          e.df.select(col(e.key).alias(key),
            col(textField).alias("__clean")),
          key, "__clean", deconNgram)
      case None => deduped
    }
    // 6. training-mix dial — one pushdown filter, no shuffle
    val mixed =
      if (mixRates.isEmpty && mixDefaultRate >= 1.0) deconed
      else Sampling.weightedMix(deconed, stratumField, key, mixRates,
        mixDefaultRate, family = mixFamily, seed = mixSeed)
    // 7. pack into fixed-length sequences by key order; the token count
    // rides the post-mix hook so pack's two passes read it from cache
    val counted = midMix(mixed
      .withColumn("__nt", TextAnalysis.tokenCount(col("__clean")))
      .select(col(key), col(stratumField), col("__nt")))
    Sampling.packSequences(counted, orderCol = key, tokensCol = "__nt",
        seqLen = seqLen)
      .select(col(key), col(stratumField), col("__nt").alias("n_tokens"),
        col("pack_id"), col("pack_offset"))
  }

  protected def build(): BuildReport =
    if (incremental) runIncremental(facts.get) else runSnapshot()

  private def runSnapshot(): BuildReport = {
    // cache the post-dedup and post-mix survivors (see chain) and
    // materialize the manifest once for its own consumers (write +
    // orphan diff + count)
    val out = Materialize.eager(chain(Materialize.cache(_), Materialize.cache(_)))
    val (kept, orphans) = writeManifest(out)
    BuildReport(kept, 0, orphans)
  }

  /** Incremental run (see class doc): per-doc facts for the delta only,
    * then the corpus-global tail over the narrow facts table. Report:
    * `processed` = docs examined this run (the incremental contract's
    * measure), `updated` = the subset whose facts were REPLACED
    * (source lu newer than the stored fact's). */
  private def runIncremental(f: Store): BuildReport = {
    val key = source.key
    // spread: the C4/Gopher/hash kernels are CPU-dense per doc and must
    // not inherit a 2-split scan (Materialize.spread)
    val pending = Materialize.spread(pendingItems())
    val examined = pending.count()
    val updated =
      if (examined == 0 || !f.df.columns.contains(key)) 0L
      else pending.join(f.df.select(col(key)), Seq(key), "left_semi").count()
    // docs gone from the source leave the facts table in the same
    // commit that absorbs the delta's facts
    val gone = Builder.orphanKeys(f, key, scoped.select(col(key)))
    // ONE kernel pass (C4/Gopher/hash/count) materializes the base
    // facts; the score + decon joins then read it from cache instead
    // of re-running the CPU-dense kernels per consumer
    val base = Some(pending).filter(_ => examined > 0).map(p => Materialize.eager(baseFactsOf(p)))
    val nf = base.map(b => Materialize.eager(enrichFacts(b)))
    Builder.commitOnce(f, nf, gone.map(_._1), Seq(key))
    // a run that changed no fact keeps the manifest when it was
    // written from these facts under these dials (a crash between the
    // two commits or a third-party write changes a token)
    if (examined == 0 && gone.isEmpty && manifestStamp(f).exists(target.getMeta(ManifestKey).contains))
      BuildReport(0, 0)
    else {
      val (_, orphans) = writeManifest(Materialize.eager(manifestFromFacts(f.df)))
      manifestStamp(f).foreach(target.putMeta(ManifestKey, _))
      BuildReport(examined, 0, orphans, updated = updated)
    }
  }

  private val ManifestKey = "graft.curate.manifest"

  /** What the manifest is a function of: the facts' and the target's
    * content tokens, the fact fingerprint and the tail-time dials; None
    * when a store has no cheap token (the manifest is then always
    * rewritten). */
  private def manifestStamp(f: Store): Option[String] = {
    val (ft, tt) = (f.contentToken, target.contentToken)
    if (ft.isEmpty || tt.isEmpty) None
    else Some(Seq(ft, tt, depFingerprint, clfThreshold, mixRates.toSeq.sorted, mixDefaultRate,
      mixFamily, mixSeed, seqLen, deleteOrphans).mkString("|"))
  }

  /** The one kernel pass of [[runIncremental]]: gates 1–2 verdict,
    * cleaned text (carried for the score/decon joins), content hash,
    * token count. */
  private def baseFactsOf(pending: DataFrame): DataFrame = {
    val key = source.key
    val c4 = TextAnalysis.c4Filters(col(textField), minLineWords)
    pending
      .select(col(key), col(source.lastUpdatedField).alias("lu"),
        col(stratumField), c4.alias("__c4"))
      .select(col(key), col("lu"), col(stratumField),
        col("__c4").getField("keep").alias("__keep"),
        col("__c4").getField("clean").alias("__clean"))
      .withColumn("pass", col("__keep") &&
        TextAnalysis.gopherRules(col("__clean"), minWords).getField("passes"))
      .withColumn("clean_h",
        when(col("pass"), md5(col("__clean").cast("binary"))))
      .withColumn("n_tokens",
        when(col("pass"), TextAnalysis.tokenCount(col("__clean"))))
      .drop("__keep")
  }

  /** Stage-3 score and stage-5 decon verdict over the materialized base
    * facts (null columns when the model / eval store is unwired — the
    * tail then skips that gate, matching the snapshot chain's "stage
    * skipped" semantics). */
  private def enrichFacts(base: DataFrame): DataFrame = {
    val key = source.key
    // r16: the score is computed IN the base-facts projection
    // (QualityClassifier.qScoreCol gated on `pass`) — the pre-r16 shape
    // scored a filtered slice and re-attached it with a key join
    // (an exchange pair per incremental run; guide §2.4). Same values:
    // non-pass docs read null exactly like the old left_outer miss
    val withQ = model.filter(_.df.columns.contains("bucket")) match {
      case Some(m) =>
        val counts = m.df.select(col("bucket"),
          col("c0").cast("long").alias("c0"),
          col("c1").cast("long").alias("c1"))
        val mc = graft.ext.QualityClassifier.modelConsts(counts, clfBuckets)
        base.withColumn("q_score", when(col("pass"),
          graft.ext.QualityClassifier.qScoreCol(
            source.spark, col("__clean"), mc, clfFamily, clfSeed)))
      case None => base.withColumn("q_score", lit(null).cast("double"))
    }
    val withD = eval.filter(e => e.df.columns.contains(e.key)) match {
      case Some(e) =>
        // the decon verdict is a pure per-doc fact (shares-any-gram with
        // the eval slice), so computing it pre-dedup here equals the
        // snapshot chain's post-dedup application on the survivors
        val survivors = Dedup.decontaminate(
            withQ.filter(col("pass")).select(col(key), col("__clean")),
            e.df.select(col(e.key).alias(key), col(textField).alias("__clean")),
            key, "__clean", deconNgram)
          .select(col(key)).withColumn("__dok", lit(true))
        withQ.join(survivors, Seq(key), "left_outer")
          .withColumn("decon_ok",
            when(col("pass"), coalesce(col("__dok"), lit(false))))
          .drop("__dok")
      case None => withQ.withColumn("decon_ok", lit(null).cast("boolean"))
    }
    // stamp the dependency fingerprint the verdicts were computed
    // under (constant per run — dictionary-encodes to ~nothing in
    // parquet); factsStale() compares it before trusting the cache
    withD.select(col(key), col("lu"), col(stratumField), col("pass"),
      col("clean_h"), col("n_tokens"), col("q_score"), col("decon_ok"),
      lit(depFingerprint).alias("__dep"))
  }

  /** The corpus-global tail over the narrow facts table — the same
    * stage order as [[chain]] (gates → dedup → decon → mix → pack), so
    * a contaminated dedup CANONICAL still drops its whole group. */
  private def manifestFromFacts(f: DataFrame): DataFrame = {
    val key = source.key
    val qGate =
      if (model.exists(_.df.columns.contains("bucket")))
        col("q_score") > clfThreshold
      else lit(true)
    val eligible = f.filter(col("pass") && qGate)
    val deduped = eligible
      .groupBy(col("clean_h"))
      .agg(min_by(struct(col(key), col(stratumField), col("n_tokens"),
        col("decon_ok")), col(key)).alias("__w"))
      .select(col(s"__w.$key").alias(key),
        col(s"__w.$stratumField").alias(stratumField),
        col("__w.n_tokens").alias("__nt"), col("__w.decon_ok").alias("__dok"))
    val deconed =
      if (eval.exists(e => e.df.columns.contains(e.key)))
        deduped.filter(col("__dok"))
      else deduped
    val mixed =
      if (mixRates.isEmpty && mixDefaultRate >= 1.0) deconed
      else Sampling.weightedMix(deconed, stratumField, key, mixRates,
        mixDefaultRate, family = mixFamily, seed = mixSeed)
    Sampling.packSequences(mixed.select(col(key), col(stratumField),
        col("__nt")), orderCol = key, tokensCol = "__nt", seqLen = seqLen)
      .select(col(key), col(stratumField), col("__nt").alias("n_tokens"),
        col("pack_id"), col("pack_offset"))
  }

  /** Upsert the manifest (keyed by the TARGET's key: a spec may wire a
    * target whose key column differs from the source's — merging on
    * source.key there would dedup on a column the target is not keyed
    * by and the orphan sweep's columns-contains guard would silently
    * skip) with the orphaned manifest rows removed in the same commit.
    * Returns (kept, orphans). */
  private def writeManifest(out: DataFrame): (Long, Long) = {
    val kept = out.count()
    val keyed =
      if (source.key == target.key) out
      else out.withColumnRenamed(source.key, target.key)
    val orphans =
      if (deleteOrphans) Builder.orphanKeys(target, target.key, out.select(col(source.key)))
      else None
    Builder.commitOnce(target, Some(keyed), orphans.map(_._1), Seq(target.key))
    (kept, orphans.fold(0L)(_._2))
  }
}

package graft.builder

import graft.ext.Dedup
import graft.query.MongoFilter
import graft.store.Store
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dedup build: write the canonical (duplicate-free) view of `source`
  * into `target` — the extension stack surfaced through the builder/
  * Runner plane, so a pipeline spec can declare deduplication like any
  * other build step.
  *
  * `method`:
  *  - `"exact"` / `"fingerprint"` — hash-group duplicates, keep min id
  *  - `"minhash"` — MinHash+LSH near-dup pairs → connected components →
  *    min-id survivor per cluster ([[Dedup.keepCanonical]])
  *  - `"simhash"` / `"ngram"` — same, over the respective pair producers
  *  - `"image"` — perceptual near-dup over an image BINARY column
  *    (`textField` names it): [[graft.ext.Multimodal.imageHash]] dHash
  *    signatures fed through the simhash banding/verify machinery (the
  *    signature is one packed long, so the whole incremental plane is
  *    shared)
  *  - `"semantic"` — SemDeDup over an embedding column (`textField`
  *    names the vector column)
  *  - `"lines"` / `"spans"` — content REWRITES of `textField`:
  *    corpus-frequent lines ([[Dedup.dedupLines]]) or corpus-duplicated
  *    token spans ([[Dedup.stripDuplicatedSpans]]) are removed. `lines`
  *    DROPS a doc whose every line was boilerplate (its cleaned text
  *    would be empty); `spans` keeps every row, fully-duplicated docs
  *    ending up with empty text
  *
  * ==Incremental builds==
  * With an `indexStore` (methods `"minhash"`, `"simhash"`, `"image"`,
  * `"ngram"` and `"semantic"`), the build follows the reference's incremental contract
  * (`core/store.py:239-275`): the FIRST run writes every doc's
  * signature + cluster label to the index; each REPEAT run processes
  * ONLY the docs not yet in the index against the persisted state,
  * re-resolves components over (new pairs ∪ stored cluster edges), then
  * repairs the target: old canonicals dethroned by a smaller new id are
  * removed, new survivors upserted. At 100 TB this is the difference
  * between re-hashing the corpus per batch and per-batch work
  * proportional to the batch.
  *
  * The UPDATE half of the same contract ([[dropChanged]], round 15 —
  * the treatment BM25/ANN got in round 14): when the source carries a
  * `lastUpdatedField` and the index rows carry `lu`, each run first
  * drops the stale signatures of docs whose source lu is newer,
  * re-resolves the touched components over the remaining members'
  * stored signatures (edge removal ⇒ labels only increase ⇒ the only
  * target repair is restoring ex-losers whose canonical left), and the
  * dropped docs re-enter the run's batch with their new text — so the
  * repaired target converges to the from-scratch canonical view of the
  * final corpus (oracle row `dedup_builder_update`).
  *
  * Index schema, minhash: `(id, sig, cluster)` with `sig` an array of
  * hash values ([[Dedup.minhashLshIncrementalSigs]] bands the new batch
  * against the stored signatures). Simhash: the same columns with `sig`
  * ONE packed long ([[Dedup.simhashIncrementalSigs]]). Ngram:
  * `(id, grams, cluster)` with `grams` the doc's distinct gram hashes
  * ([[Dedup.ngramJaccardIncrementalSigs]] posts the batch against the
  * stored sets, shared-gram shuffle only) — column NAME and sig TYPE
  * keep the three layouts from being silently mixed.
  * Semantic: `(id, vec, cell, centroid, cluster)` —
  * the first run's deterministic centroid draw is PERSISTED
  * (`centroid = true` rows), so every later batch assigns to the SAME
  * cells with the inlined-argmax projection and compares only against
  * its cell's stored members. In both, `cluster` = min id of the
  * component (self for singletons); stored membership re-enters each
  * resolution as `(cluster → id)` edges — RESTRICTED to the clusters of
  * stored ids this round's pairs touch (min-label monotonicity: no
  * other component's labels can change), so label resolution stays
  * batch-proportional instead of iterating corpus-scale edges every
  * batch — and a new doc chaining into an old cluster through any old
  * member converges to the same labels a from-scratch build would.
  *
  * ==Index scale layout==
  * The semantic index is CELL-CLUSTERED: the builder calls
  * `ensureIndex("cell")`, so a ParquetStore-backed index lays rows out
  * range-partitioned + sorted by cell (S8), and each incremental run
  * reads the stored side through a static `cell IN (batch cells)`
  * predicate (bounded ≤ nCentroids, so it collects) that parquet
  * row-group stats prune on — pairing AND label repair both touch only
  * the row groups of cells the batch lands in (pairs are intra-cell by
  * construction, so components never span cells). The sketch tiers
  * (minhash/simhash/ngram) join on hash VALUES, which no static
  * predicate can pre-select — their stored side is read through the
  * narrow (id, sig|grams) projection and filtered by the broadcast
  * batch band/gram set map-side; the full-scan-per-batch there is
  * inherent to value-keyed sketches, documented, and bounded by column
  * pruning (labels and payloads are not read for pairing).
  *
  * The write follows the standard builder shape: the output plan is
  * materialized once (localCheckpoint), the report count reads the
  * cached blocks, and the upsert consumes them (see MapBuilder.run).
  * Report semantics: full builds report docs written; indexed builds
  * report docs EXAMINED this run (the incremental contract's measure —
  * a repeat run over an unchanged corpus reports 0).
  */
class DedupBuilder(
    val source: Store,
    val target: Store,
    val textField: String,
    val method: String = "minhash",
    val threshold: Double = 0.7,
    val criteria: Option[String] = None,
    val indexStore: Option[Store] = None,
    val nCentroids: Int = 16,
    val maxCellSize: Int = 10000,
    val overCap: String = "drop",
    val targetCellSize: Int = 256,
    /** Sketch parameters (minhash k / LSH bands / shingle length n) and
      * hash family, threaded to the underlying pair producers. `"md5"`
      * makes the sketches externally byte-replayable (the correctness-
      * oracle family); production keeps the `"xxh64"` default. */
    val numHashes: Int = 64,
    val bands: Int = 16,
    val shingleSize: Int = 3,
    val family: String = "xxh64")
  extends Builder {

  require(indexStore.isEmpty || method == "minhash" || method == "simhash" ||
      method == "ngram" || method == "semantic" || method == "image",
    "indexStore (incremental dedup) is only supported for " +
      s"method=minhash|simhash|ngram|semantic|image, got '$method'")
  require(nCentroids >= 0,
    s"nCentroids must be >= 0 (0 = scale-adaptive auto), got $nCentroids")

  private def scoped: DataFrame =
    criteria.map(c => MongoFilter(source.df, c)).getOrElse(source.df)

  /** A usable index needs the full method-specific schema — the single
    * definition shared by [[pendingItems]] and the indexed runs, so a
    * partial/drifted index table (e.g. id-only) cannot make the estimate
    * and the actual build disagree about what counts as "seen". Layouts
    * stay schema-distinguishable WITHOUT reading data: minhash `sig` is
    * an array of hash values, simhash `sig` one packed long, and the
    * ngram tier persists its (also array-typed) gram set under `grams` —
    * banding against the wrong family would silently detect nothing. */
  private def usableIndex(idx: Store): Boolean = {
    val df = idx.df
    val c = df.columns
    c.contains("id") && c.contains("cluster") && (method match {
      case "semantic" => Seq("vec", "cell", "centroid").forall(c.contains)
      case "minhash" => c.contains("sig") && !c.contains("grams") &&
        df.schema("sig").dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]
      case "ngram" => c.contains("grams") && !c.contains("sig") &&
        df.schema("grams").dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]
      case _ /* simhash | image: one packed long */ => c.contains("sig") && !c.contains("grams") &&
        df.schema("sig").dataType == org.apache.spark.sql.types.LongType
    })
  }

  /** Run-time index check: usable → incremental; EMPTY → first run; any
    * other populated layout → refuse. Running full-corpus and upserting
    * this method's rows into a foreign index (e.g. a minhash step and a
    * semantic step sharing one `"index"` store ref) would union the
    * schemas, and the next run would band against null payloads —
    * silently never detecting those docs' duplicates. */
  private def hasCompatibleIndex(idx: Store): Boolean = {
    val usable = usableIndex(idx)
    if (!usable && idx.df.columns.nonEmpty && !idx.df.isEmpty)
      throw new IllegalArgumentException(
        s"indexStore contains rows but not the '$method' index schema " +
          s"(columns: ${idx.df.columns.mkString(", ")}) — refusing to mix index layouts")
    usable
  }

  /** The one definition of "docs the index hasn't seen". */
  private def unseen(df: DataFrame, idx: Store): DataFrame =
    df.join(idx.df.select(col("id").alias(source.key)),
      Seq(source.key), "left_anti")

  /** lu rides each index row (constant per doc, the
    * [[Bm25IndexBuilder]] convention) so [[dropChanged]] can compare
    * against the source without a second per-doc table. A lu-less
    * source writes no lu column (the index stays insert-only); a LEGACY
    * populated index built before the lu column keeps its layout. */
  private def indexCarriesLu(idx: Store): Boolean = {
    val c = idx.df.columns
    if (c.contains("lu")) true
    else c.isEmpty || idx.df.isEmpty // empty store: first run decides
  }

  private def attachLu(rows: DataFrame, batch: DataFrame, idx: Store): DataFrame =
    if (!batch.columns.contains(source.lastUpdatedField) || !indexCarriesLu(idx)) rows
    else rows.join(batch.select(col(source.key).alias("id"),
      col(source.lastUpdatedField).alias("lu")), Seq("id"), "left_outer")

  /** The update half of the reference delta contract
    * (`core/store.py:239-275`), the treatment [[Bm25IndexBuilder]] and
    * [[AnnIndexBuilder]] got in round 14: docs whose source
    * `last_updated` is newer than the lu their signature was indexed
    * with DROP their stale state — signature row removed (so
    * [[pendingItems]]' left-anti re-surfaces them with their new text
    * in the same run), target row removed (it may hold the stale
    * canonical) — and the components they touched are RE-RESOLVED over
    * the remaining members' STORED signatures: removing a doc only
    * removes edges, and components were maximal under the
    * signature-determined pair relation, so no cross-component pair
    * can appear and the repair stays bounded by the touched clusters.
    * Min-label consequence of edge REMOVAL: labels only increase, so an
    * old canonical stays canonical and the only target repair needed is
    * PROMOTION — members whose re-resolved label becomes their own id
    * were losers whose canonical left; their source rows are restored.
    * The removal is VIRTUAL until the end: the remnant is the touched
    * clusters' rows anti-joined with the changed ids, and each store then
    * takes one commit — the target its promoted rows plus the row
    * removals, then the index its relabels plus the signature removals.
    *
    * Caveats, documented: (a) re-banding a component's remnant can see
    * fewer bucket members than the original corpus-wide build, so a
    * hot-bucket cap that fired originally may not fire here (caps are
    * population-dependent; at the default 1000-member cap this needs a
    * pathological bucket to matter). (b) semantic: a changed doc that
    * was a persisted CENTROID loses its quantizer row too — the cell
    * layout shrinks by one anchor (scale-adaptive builds re-draw a
    * replacement from a later batch; fixed-k builds run with k-1 cells
    * until [[runFull]] rebuilds). Returns the number of docs dropped. */
  private def dropChanged(idx: Store): Long = {
    if (!usableIndex(idx) || !idx.df.columns.contains("lu") ||
        !scoped.columns.contains(source.lastUpdatedField)) return 0L
    val k = source.key
    // consumed by count, member semi/anti-joins, 2 removals
    val changed = Materialize.eager(idx.df.select(col("id"), col("cluster"), col("lu"))
      .join(scoped.select(col(k).alias("id"),
        col(source.lastUpdatedField).alias("__slu")), Seq("id"))
      .filter(col("__slu") > col("lu"))
      .select(col("id"), col("cluster")))
    val n = changed.count()
    if (n == 0) return 0L
    // remaining members of the touched components, with stored labels:
    // the changed docs' stale signatures never reach the pair producer;
    // the pair producer reads them 2-3×, the label diff once
    val members = Materialize.eager(idx.df
      .join(changed.select(col("cluster")).distinct(), Seq("cluster"), "left_semi")
      .join(changed.select(col("id")), Seq("id"), "left_anti"))
    val pairs =
      if (method == "semantic") graft.ext.Similarity.cellDupPairs(
        members.select(col("cell"), col("id"), col("vec")), threshold,
        maxCellSize, overCap)
      else sigPairs(members)
    val labels = Dedup.clusters(pairs.select(col("a"), col("b")))
    val relab = members.withColumnRenamed("cluster", "__old")
      .join(labels, Seq("id"), "left_outer")
      .withColumn("cluster", coalesce(col("cluster"), col("id")))
    val delta = Materialize.eager(relab.filter(col("cluster") =!= col("__old")).drop("__old"))
    // promotion repair: new label == own id ⇒ an ex-loser whose
    // canonical left — restore its (current) source row; a member
    // gone from the source has no row to restore (orphan, skipped).
    // ONE target commit with the changed docs' rows (any may be a
    // stale canonical) out — the resolveDeltaAndRepair pattern
    val promoted = delta.filter(col("id") === col("cluster"))
      .select(col("id").alias(k))
    val rows = Materialize.eager(scoped.join(promoted, Seq(k), "left_semi"))
    val stale = changed.select(col("id").alias(target.key))
    Builder.commitOnce(target, Some(rows).filter(_.count() > 0),
      Some(stale), Seq(target.key))
    // ONE index commit, AFTER the target's (its lu is the progress
    // marker: until it commits, the next run repeats this repair)
    idx.updateRemoveKeys(delta, changed.select(col("id")), Seq("id"))
    n
  }

  /** This method's from-scratch pairs over a signature table in the
    * index layout (`(id, sig)`, or `(id, grams)` for ngram): the first
    * indexed run and the repair pass's remnant both pair through it. */
  private def sigPairs(sigs: DataFrame): DataFrame = method match {
    case "minhash" => Dedup.minhashLshFromSigs(sigs.select(col("id"), col("sig")),
      numHashes, bands, threshold = threshold, family = family)
    case "simhash" | "image" => Dedup.simhashPairsFromSigs(
      sigs.select(col("id"), col("sig").alias("simhash")))
    case _ => Dedup.ngramJaccardPairsFromSigs(
      sigs.select(col("id"), col("grams").alias("sig")), threshold = threshold)
  }

  /** The candidate set for this build — the (scoped) source corpus, or
    * with an index the docs the index hasn't seen yet PLUS the docs
    * whose source lu is newer than their indexed signature's (the
    * reference `newer_in` preview covers unseen ∪ updated); run()
    * realizes the same set by dropping stale state before the
    * left-anti. */
  def pendingItems(): DataFrame = indexStore match {
    case Some(idx) if usableIndex(idx) =>
      val base = unseen(scoped, idx)
      if (!idx.df.columns.contains("lu") ||
          !scoped.columns.contains(source.lastUpdatedField)) base
      else base.unionByName(scoped
        .join(idx.df.select(col("id").alias(source.key),
          col("lu").alias("__ilu")), Seq(source.key))
        .filter(col(source.lastUpdatedField) > col("__ilu")).drop("__ilu"))
    case _ => scoped
  }

  /** Shared indexed-run preamble: this round's batch (checkpointed) and
    * its size; `None` means the batch is empty and the run is a no-op. */
  private def indexedBatch(idx: Store, hasIndex: Boolean)
      : Option[(DataFrame, Long)] = {
    // spread so the signature kernels parallelize past the source
    // scan's split count (see Materialize.spread)
    val batch = Materialize.spread(if (hasIndex) unseen(scoped, idx) else scoped)
    val examined = batch.count()
    if (examined == 0) None else Some((batch, examined))
  }

  protected def build(): BuildReport = indexStore match {
    case Some(idx) if method == "semantic" => runSemanticIndexed(idx)
    case Some(idx) => runIndexed(idx) // minhash | simhash | ngram signature index
    case None => runFull()
  }

  private def runFull(): BuildReport = {
    val kept: DataFrame = method match {
      case "exact" | "fingerprint" =>
        val groups =
          if (method == "exact") Dedup.exact(scoped, source.key, textField)
          else Dedup.byFingerprint(scoped, source.key, textField)
        // losers = every group member except the canonical min id
        val losers = groups.select(explode(col("ids")).alias(source.key), col("keep"))
          .filter(col(source.key) =!= col("keep")).select(source.key)
        scoped.join(losers, Seq(source.key), "left_anti")
      case "minhash" =>
        Dedup.keepCanonical(scoped,
          Dedup.minhashLsh(scoped, source.key, textField, numHashes, bands,
            shingleSize, threshold = threshold, family = family),
          source.key)
      case "simhash" =>
        Dedup.keepCanonical(scoped,
          Dedup.simhashPairs(scoped, source.key, textField, family = family),
          source.key)
      case "image" =>
        Dedup.keepCanonical(scoped,
          Dedup.simhashPairsFromSigs(graft.ext.Multimodal.imageHash(
            graft.ext.Multimodal.pack(scoped, source.key, col(textField), "image"))
            .select(col("media_id").alias("id"), col("simhash"))),
          source.key)
      case "ngram" =>
        Dedup.keepCanonical(scoped,
          Dedup.ngramJaccardPairs(scoped, source.key, textField,
            shingleSize, threshold = threshold),
          source.key)
      case "semantic" =>
        // textField names the embedding column here (SemDeDup over
        // vectors; same pairs → components → min-id survivor pipeline)
        Dedup.keepCanonical(scoped,
          graft.ext.Similarity.semanticDupPairs(scoped, nCentroids,
            threshold = threshold, idCol = source.key, vecCol = textField,
            maxCellSize = maxCellSize, overCap = overCap,
            targetCellSize = targetCellSize),
          source.key)
      case "lines" =>
        // content REWRITE, not row filtering: textField is replaced by
        // its boilerplate-filtered version; docs whose every line was
        // corpus-frequent drop out (their cleaned text would be empty)
        val cleaned = Dedup.dedupLines(scoped, source.key, textField)
        scoped.drop(textField).join(cleaned, Seq(source.key))
      case "spans" =>
        // content REWRITE at token granularity: textField becomes the
        // normalized token stream minus corpus-duplicated spans (Lee et
        // al. removal); fully-duplicated docs keep an empty text
        val cleaned = Dedup.stripDuplicatedSpans(scoped, source.key, textField)
          .withColumnRenamed("id", source.key)
        scoped.drop(textField).join(cleaned, Seq(source.key))
      case other => throw new IllegalArgumentException(
        s"unknown dedup method: $other (exact|fingerprint|minhash|simhash|image|ngram|semantic|lines|spans)")
    }
    val mat = Materialize.eager(kept)
    val processed = mat.count()
    if (processed > 0) target.update(mat, Seq(target.key))
    BuildReport(processed, 0)
  }

  /** One incremental round against the signature index (see class doc).
    * Shared by minhash (sig = array of hash values), simhash (sig = one
    * packed long) and ngram (per-doc gram set, persisted as `grams`) —
    * the round differs only in the signature kernel and the pair
    * producer. */
  private def runIndexed(idx: Store): BuildReport = {
    val k = source.key
    val hasIndex = hasCompatibleIndex(idx)
    // lu-newer docs drop their stale signatures + touched-cluster labels
    // FIRST, so the unseen left-anti below re-surfaces them this run
    val updated = if (hasIndex) dropChanged(idx) else 0L
    val (batch, examined) = indexedBatch(idx, hasIndex) match {
      case None => return BuildReport(0, 0)
      case Some(be) => be
    }
    val sigCol = if (method == "ngram") "grams" else "sig"
    // batch signatures: computed once, consumed by banding, verification
    // and the index write
    val newSigs = Materialize.eager(method match {
      case "minhash" => Dedup.minhashSignatures(batch, k, textField,
        numHashes, shingleSize, family)
      case "simhash" => Dedup.simhashSignatures(batch, k, textField, family)
        .withColumnRenamed("simhash", "sig")
      case "image" =>
        // perceptual dHash of the image binary column — one packed
        // long, so everything downstream IS the simhash plane
        graft.ext.Multimodal.imageHash(
          graft.ext.Multimodal.pack(batch, k, col(textField), "image"))
          .select(col("media_id").alias("id"), col("simhash").alias("sig"))
      case _ => Dedup.ngramSignatures(batch, k, textField, shingleSize)
        .withColumnRenamed("sig", "grams")
    })

    def incremental(knownSigs: DataFrame) = method match {
      case "minhash" =>
        Dedup.minhashLshIncrementalSigs(newSigs, knownSigs, numHashes, bands,
          threshold = threshold, family = family)
      case "simhash" | "image" => Dedup.simhashIncrementalSigs(newSigs, knownSigs)
      case _ => Dedup.ngramJaccardIncrementalSigs(
        newSigs.withColumnRenamed("grams", "sig"),
        knownSigs.withColumnRenamed("grams", "sig"), threshold = threshold)
    }
    val (pairs, oldEdges, known) =
      if (!hasIndex) (sigPairs(newSigs), None, None)
      else {
        // lu rides the known rows so a relabeled old row keeps its
        // indexed-at lu through the delta rewrite (see attachLu)
        val luCols =
          if (idx.df.columns.contains("lu")) Seq(col("lu")) else Nil
        val kn = idx.df.select(
          Seq(col("id"), col(sigCol), col("cluster")) ++ luCols: _*)
        (incremental(kn.select(col("id"), col(sigCol))),
          // stored membership re-enters resolution as (cluster → id) edges
          Some(kn.filter(col("cluster") =!= col("id"))
            .select(col("cluster").alias("a"), col("id").alias("b"))),
          Some(kn))
      }
    val r = resolveDeltaAndRepair(idx, batch, examined,
      attachLu(newSigs.select(col("id"), col(sigCol)), batch, idx),
      pairs, oldEdges, known)
    r.copy(updated = updated)
  }

  /** One incremental round against a persisted semantic (cell) index:
    * same contract as the minhash round, but the per-doc state is
    * `(vec, cell, centroid)` and candidate pairs are exact within-cell
    * cosine comparisons (new×stored + new×new) against the FIRST run's
    * persisted centroid draw — so repeated builds assign with the same
    * inlined-argmax projection the batch plane uses and never re-score
    * old×old pairs. */
  private def runSemanticIndexed(idx: Store): BuildReport = {
    import graft.ext.Similarity
    val k = source.key
    // cell-clustered index layout (S8): ParquetStore-backed indexes lay
    // rows out range-partitioned + sorted on `cell`, so the batch-cell
    // IN-filter below prunes the stored-member scan to the row groups
    // of cells this batch actually touches (stores without a clustered
    // layout still get the pushed filter, just without group pruning)
    idx.ensureIndex("cell")
    val hasIndex = hasCompatibleIndex(idx)
    // stale-vector drop before the unseen left-anti (see dropChanged)
    val updated = if (hasIndex) dropChanged(idx) else 0L
    val (batch, examined) = indexedBatch(idx, hasIndex) match {
      case None => return BuildReport(0, 0)
      case Some(be) => be
    }
    // nCentroids = 0 is scale-adaptive auto (one cell per targetCellSize
    // docs): the first run sizes the quantizer from its batch, and every
    // later run GROWS it when stored+batch outgrows the cells — the
    // shortfall is drawn from THIS batch (whose ids are unseen by
    // construction, so draws never collide with stored centroids) and
    // flagged on write like any first-run draw. Stored rows keep their
    // old cell (the layout is monotone; only new docs fill new cells),
    // so per-cell population — and the within-cell quadratic — stays
    // bounded as the index grows instead of growing linearly with it.
    val autoK = nCentroids == 0
    val cents =
      if (hasIndex) {
        val stored = idx.df.filter(col("centroid"))
          .select(col("id").alias("c_id"), col("vec").alias("c_vec"))
        val extra =
          if (!autoK) 0
          else Similarity.autoCentroids(idx.count(None) + examined,
            targetCellSize) - stored.count().toInt
        if (extra <= 0) broadcast(stored)
        else broadcast(stored.unionByName(
          Similarity.centroidDraw(batch, extra, k, textField)))
      } else
        // the ONE deterministic draw shared with the batch plane
        Similarity.centroidDraw(batch,
          if (autoK) Similarity.autoCentroids(examined, targetCellSize)
          else nCentroids, k, textField)
    val newCells = Materialize.eager(
      Similarity.assignToCells(batch, cents, k, textField, keep = 1)
        .select(col("__rid").alias("id"), col("__rvec").alias("vec"), col("cell")))
    // the batch's distinct cell set is ≤ nCentroids BY CONSTRUCTION
    // (argmax over the persisted draw) — a bounded collect, and the
    // static IN-predicate is what parquet row-group stats can prune on
    // (a join/semi-join against the same set could not). `get`, not
    // `getLong`: string-id corpora have string cell ids (the fallback
    // cell assignment keys cells by the centroid doc's id)
    val batchCells = newCells.select(col("cell")).distinct()
      .collect().map(_.get(0)).toSeq
    val spark = newCells.sparkSession
    def cos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.GraftFunctions.cosine(spark, a, b)
    // Hot-cell skew guard (same cap/star machinery as the batch plane,
    // Similarity.cellDupPairs): cell populations are counted over stored
    // ∪ new members, so a cell that crossed the cap in ANY round stops
    // producing quadratic joins. Star mode pairs the cell's min-id
    // representative (across stored ∪ new) with the NEW members; when a
    // new doc DETHRONES the representative, the cell's stored members
    // re-pair against it once — O(cell) pairs on the dethroning round
    // only — so the over-cap cluster stays connected through the new
    // representative (rounds with a stable rep stay batch-proportional).
    // stored members are only PAIR candidates inside a batch cell —
    // the IN-filter keeps every other cell's (wide, vec-carrying) rows
    // out of the scan entirely; label repair reads the narrow
    // (id, cluster) projection separately below
    val storedCells =
      if (hasIndex) Some(idx.df.select(col("cell"), col("id"), col("vec"))
        .filter(col("cell").isin(batchCells: _*)))
      else None
    val allCells = storedCells.foldLeft(
      newCells.select(col("cell"), col("id"), col("vec")))(_ unionByName _)
    val hot = allCells.groupBy(col("cell")).agg(count(lit(1)).alias("__cn"))
      .filter(col("__cn") > maxCellSize).select(col("cell"))
    val cappedNew = newCells.join(broadcast(hot), Seq("cell"), "left_anti")
    val newNew = cappedNew
      .select(col("cell"), col("id").alias("a"), col("vec").alias("va"))
      .join(cappedNew.select(col("cell"), col("id").alias("b"), col("vec").alias("vb")),
        Seq("cell"))
      .filter(col("a") < col("b"))
      .filter(cos(col("va"), col("vb")) >= threshold)
      .select(col("a"), col("b"))
    val underCap =
      if (!hasIndex) newNew
      else newNew.unionByName(
        // old member as a, new as b — disjoint batches need no ordering
        storedCells.get.join(broadcast(hot), Seq("cell"), "left_anti")
          .select(col("cell"), col("id").alias("a"), col("vec").alias("va"))
          .join(cappedNew.select(col("cell"), col("id").alias("b"),
            col("vec").alias("vb")), Seq("cell"))
          .filter(cos(col("va"), col("vb")) >= threshold)
          .select(col("a"), col("b")))
    val pairs =
      if (overCap != "star") underCap
      else {
        val overNew = newCells.join(broadcast(hot), Seq("cell"), "left_semi")
        val reps = allCells.join(broadcast(hot), Seq("cell"), "left_semi")
          .groupBy(col("cell"))
          .agg(min_by(struct(col("id"), col("vec")), col("id")).alias("__r"))
          .select(col("cell"), col("__r.id").alias("a"), col("__r.vec").alias("va"))
        val starNew = overNew.join(broadcast(reps), Seq("cell"))
          .filter(col("id") =!= col("a"))
          .filter(cos(col("va"), col("vec")) >= threshold)
          .select(col("a"), col("id").alias("b"))
        // dethroned representative: stored members meet the NEW rep once
        val starOld = storedCells.map { sc =>
          val newReps = reps.join(newCells.select(col("id").alias("a")),
            Seq("a"), "left_semi")
          sc.join(broadcast(newReps), Seq("cell"))
            .filter(col("id") =!= col("a"))
            .filter(cos(col("va"), col("vec")) >= threshold)
            .select(col("a"), col("id").alias("b"))
        }
        starOld.foldLeft(underCap.unionByName(starNew))(_ unionByName _)
      }
    // pairs only ever form WITHIN a cell, so every component — and hence
    // every row whose label can change this round — lives in a batch
    // cell: label repair reads the same cell-pruned slice, never the
    // full corpus-scale index
    val known =
      if (hasIndex) {
        val luCols =
          if (idx.df.columns.contains("lu")) Seq(col("lu")) else Nil
        Some(idx.df.select(Seq(col("id"), col("vec"), col("cell"),
            col("centroid"), col("cluster")) ++ luCols: _*)
          .filter(col("cell").isin(batchCells: _*)))
      } else None
    val oldEdges = known.map(_.filter(col("cluster") =!= col("id"))
      .select(col("cluster").alias("a"), col("id").alias("b")))
    // first-run centroid rows are flagged; later batches never are
    val newRows = newCells
      .join(cents.select(col("c_id").alias("id")).withColumn("__c", lit(true)),
        Seq("id"), "left_outer")
      .withColumn("centroid", coalesce(col("__c"), lit(false))).drop("__c")
    val r = resolveDeltaAndRepair(idx, batch, examined,
      attachLu(newRows, batch, idx), pairs, oldEdges, known)
    r.copy(updated = updated)
  }

  /** Shared incremental tail (see class doc): min-label components over
    * (new pairs ∪ stored cluster edges), then the batch-proportional
    * index delta — new rows plus old rows whose label CHANGED this
    * round. Min-label monotonicity (labels only decrease) means every
    * other old row is byte-identical in the store already, and every
    * doc whose canonical/loser status changed is in this delta; losers
    * therefore only ever appear inside the delta (a dethroned old
    * canonical has a changed label; an old loser stays a loser and was
    * removed by the run that demoted it). `newRows0` carries
    * `(id, payload…)`, `known` the same payload plus `cluster`. */
  private def resolveDeltaAndRepair(idx: Store, batch: DataFrame,
      examined: Long, newRows0: DataFrame, pairs: DataFrame,
      oldEdges: Option[DataFrame], known: Option[DataFrame]): BuildReport = {
    val k = source.key
    // pairs feed BOTH the edge set and the affected-cluster restriction —
    // materialize once (they are the bounded post-threshold candidate
    // set; clusters() would persist them anyway)
    val p = Materialize.eager(pairs.select(col("a"), col("b")))
    // min-label monotonicity: only components a new pair touches can
    // change labels, so stored edges are restricted to the clusters of
    // stored ids appearing in this round's pairs. Without this the
    // label-propagation rounds iterate over CORPUS-scale edges every
    // batch — the restriction keeps resolution batch-proportional.
    val restrictedOld = (known, oldEdges) match {
      case (Some(kn), Some(oe)) =>
        val pairIds = p.select(col("a").alias("id"))
          .unionByName(p.select(col("b").alias("id"))).distinct()
        val affected = kn.select(col("id"), col("cluster"))
          .join(pairIds, Seq("id"), "left_semi")
          .select(col("cluster").alias("a")).distinct()
        Some(oe.join(affected, Seq("a"), "left_semi"))
      case _ => oldEdges
    }
    val edgeSet = restrictedOld.foldLeft(p)(_ unionByName _)
    val labels = Dedup.clusters(edgeSet) // (id, cluster), checkpointed
    val newRows = newRows0.join(labels, Seq("id"), "left_outer")
      .withColumn("cluster", coalesce(col("cluster"), col("id")))
    val changedOld = known.map(_.withColumnRenamed("cluster", "__old")
        .join(labels, Seq("id"))
        .filter(col("cluster") =!= col("__old"))
        .drop("__old"))
    // allowMissingColumns: a lu-carrying index fed by a source that lost
    // its lu column unions null-lu new rows against lu-carrying old rows
    val delta = Materialize.eager(changedOld.foldLeft(newRows)(
      _.unionByName(_, allowMissingColumns = true)))
    val losers = Materialize.eager(delta.filter(col("id") =!= col("cluster"))
      .select(col("id").alias(k)))
    val mat = Materialize.eager(batch.join(losers, Seq(k), "left_anti"))
    // r17 (VERDICT r16 #3): the loser drop rides the SAME committed
    // write as the survivor upsert — the pre-r17 shape paid an
    // unconditional O(target) removeKeys rewrite (even with zero
    // losers) plus the upsert rewrite, every indexed round.
    // The target commits BEFORE the index (as in dropChanged): the
    // index absorbing the batch is the progress marker, so a crash
    // between the two leaves the batch unseen and the next run repeats
    // it (the target upsert is idempotent); the other order would
    // leave the batch absorbed by the index and missing from the target
    if (mat.count() > 0) target.updateRemoveKeys(mat, losers, Seq(target.key))
    else if (!losers.isEmpty) target.removeKeys(losers)
    idx.update(delta, Seq("id"))
    BuildReport(examined, 0)
  }
}

/** Decontamination build: write `source` minus every doc sharing a word
  * n-gram with `evalStore` (the benchmark-leakage guard) into `target` —
  * [[graft.ext.Dedup.decontaminate]] surfaced through the builder/Runner
  * plane. The eval store is small by contract (its distinct gram hashes
  * broadcast); the corpus-side n-gram pipeline runs once — the
  * contaminated-id set is materialized before the removal anti-join,
  * whose second corpus pass does no gram hashing. */
class DecontaminateBuilder(
    val source: Store,
    val evalStore: Store,
    val target: Store,
    val textField: String = "text",
    val n: Int = 3,
    val criteria: Option[String] = None)
  extends Builder {

  private def scoped: DataFrame =
    criteria.map(c => MongoFilter(source.df, c)).getOrElse(source.df)

  def pendingItems(): DataFrame = scoped

  protected def build(): BuildReport = {
    val clean = Dedup.decontaminate(scoped, evalStore.df,
      source.key, textField, n)
    val mat = Materialize.eager(clean)
    val kept = mat.count()
    if (kept > 0) target.update(mat, Seq(target.key))
    BuildReport(kept, 0)
  }
}

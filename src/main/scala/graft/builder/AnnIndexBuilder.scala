package graft.builder

import com.fasterxml.jackson.databind.ObjectMapper
import graft.ext.Similarity
import graft.query.MongoFilter
import graft.store.Store
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental IVF-PQ ANN index build + serving — the 100 TB embedding
  * serving plane: the persisted index holds `(id, cell, code: binary)`
  * (m BYTES per vector, NO float arrays) and the trained quantizer
  * lives in a one-row JSON store, so repeat builds encode only unseen
  * docs against the FIRST run's quantizer and queries ADC-score the
  * probed cells' codes without ever touching a float vector column.
  *
  * Mirrors the reference's incremental-build contract
  * (`core/store.py:239-275` — process only what the index hasn't seen)
  * composed with the Jégou-et-al IVF-PQ serving shape the batch plane
  * already implements ([[Similarity.ivfPqTopK]]): a SINGLE-batch build
  * followed by [[topK]] answers identically to the batch operator with
  * the same parameters (pinned in RunnerStreamingSpec), and a restart
  * (fresh builder over the same stores) reloads the quantizer and
  * answers from codes alone.
  *
  * Index scale layout: [[run]] calls `ensureIndex("cell")`, so a
  * ParquetStore-backed index is range-partitioned + sorted by cell and
  * [[Similarity.ivfPqTopKFromCodes]]'s static probe-cell IN-predicate
  * prunes row groups before the scan. With `delta_writes` the per-batch
  * index append is O(batch).
  *
  * Quantizer determinism: `iters = 0` (default) keeps the codebooks as
  * the deterministic seed-draw slices, so a rebuilt quantizer from the
  * same first batch is bit-identical; Lloyd refinement (`iters > 0`)
  * trades that for tighter cells — fine for serving, since the
  * quantizer is trained ONCE and every later batch loads it.
  */
class AnnIndexBuilder(
    val source: Store,
    val index: Store,
    val quantizer: Store,
    val vecField: String = "embedding",
    val nCentroids: Int = 16,
    val m: Int = 8,
    val ksub: Int = 256,
    val iters: Int = 0,
    val family: String = "xxh64",
    val criteria: Option[String] = None,
    val deleteOrphans: Boolean = false)
  extends Builder {

  require(nCentroids > 0, s"nCentroids must be positive, got $nCentroids")

  private def spark = source.spark
  private def mapper = AnnIndexBuilder.mapper

  private def scoped: DataFrame =
    criteria.map(c => MongoFilter(source.df, c)).getOrElse(source.df)

  /** Same refusal contract as DedupBuilder's index check: a populated
    * index that is not the `(id, cell, code: binary)` layout (e.g. a
    * semantic-dedup index sharing the store ref) is rejected instead of
    * silently schema-unioned — later batches would otherwise serve
    * null codes as "indexed". */
  private def checkIndexLayout(): Boolean = {
    val df = index.df
    val c = df.columns
    val usable = c.contains("id") && c.contains("cell") && c.contains("code") &&
      df.schema("code").dataType == org.apache.spark.sql.types.BinaryType
    if (!usable && c.nonEmpty && !df.isEmpty)
      throw new IllegalArgumentException(
        s"index store contains rows but not the (id, cell, code) ANN layout " +
          s"(columns: ${c.mkString(", ")}) — refusing to mix index layouts")
    usable
  }

  /** Ids whose source `last_updated` is newer than the lu they were
    * encoded with — the update half of the reference delta contract
    * (`core/store.py:239-275`). The codes table is one row per id, so
    * this is a plain (id, lu) join, without the per-id max-lu aggregate
    * of [[Contributions.changed]]. They re-encode against the FROZEN
    * quantizer (updates never retrain — staleness is [[rebuild]]'s job,
    * signalled by adcDrift); a lu-less source or a legacy lu-less index
    * degrades to insert-only. No removal write: the id-keyed upsert of
    * the re-encoded docs shadows the stale row under the store's
    * last-write-wins merge (df-visible contents are identical; the stale
    * base row is physically dropped at the next compaction). Oracle row
    * `ann_index_update`. */
  private def changedIds(): Option[DataFrame] =
    if (!checkIndexLayout() || !index.df.columns.contains("lu") ||
        !scoped.columns.contains(source.lastUpdatedField)) None
    else Some(index.df.select(col("id"), col("lu"))
      .join(scoped.select(col(source.key).alias("id"),
        col(source.lastUpdatedField).alias("s_lu")), Seq("id"))
      .filter(col("s_lu") > col("lu")).select(col("id")))

  private def pendingOf(changed: Option[DataFrame]): DataFrame =
    if (!checkIndexLayout()) scoped
    else Contributions.pending(source, scoped, index.df, changed)

  /** Unseen ∪ lu-newer docs ([[Contributions.pending]]). */
  def pendingItems(): DataFrame = pendingOf(changedIds())

  /** Per-instance quantizer cache: the quantizer is trained once and
    * immutable thereafter (the class contract), so after the first
    * load/save this instance serves [[topK]] without re-reading and
    * re-parsing the JSON store on every query. [[rebuild]] (the one
    * mutation path) invalidates it; a RESTART is a fresh instance and
    * reloads from the store as before. */
  @volatile private var qzCache: Option[(Array[Array[Array[Double]]], DataFrame)] = None

  /** Load the persisted quantizer, or None before the first run. */
  private[graft] def loadQuantizer()
      : Option[(Array[Array[Array[Double]]], DataFrame)] = {
    if (qzCache.isDefined) return qzCache
    if (!quantizer.df.columns.contains("books") || quantizer.df.isEmpty) return None
    val row = quantizer.df.select(col("books"), col("cents")).head()
    val books = {
      val node = mapper.readTree(row.getString(0))
      Array.tabulate(node.size()) { j =>
        val mid = node.get(j)
        Array.tabulate(mid.size()) { c =>
          val inner = mid.get(c)
          Array.tabulate(inner.size())(inner.get(_).asDouble())
        }
      }
    }
    val centsNode = mapper.readTree(row.getString(1))
    val entries = (0 until centsNode.size()).map { i =>
      val e = centsNode.get(i)
      val vec = e.get("vec")
      (e.get("id"), Array.tabulate(vec.size())(vec.get(_).asDouble()).toSeq)
    }
    val s = spark
    import s.implicits._
    val cents =
      if (entries.forall(_._1.isIntegralNumber))
        entries.map { case (id, v) => (id.asLong(), v) }.toDF("c_id", "c_vec")
      else entries.map { case (id, v) => (id.asText(), v) }.toDF("c_id", "c_vec")
    qzCache = Some((books, cents))
    qzCache
  }

  /** The trained vector dimensionality (m sub-spaces × dsub each), or
    * None before the first run — serving endpoints validate request
    * vectors against this so a wrong-length vector is a 400 at parse
    * time, not a 500 from inside the scoring leg. */
  private[graft] def vectorDim: Option[Int] =
    loadQuantizer().collect {
      case (books, _) if books.nonEmpty && books(0).nonEmpty =>
        books.length * books(0)(0).length
    }

  /** The stored training-batch mean quantization error (drift baseline),
    * or None for a pre-trainerr quantizer row. */
  private[graft] def loadTrainError(): Option[Double] = {
    val df = quantizer.df
    if (!df.columns.contains("trainerr") || df.isEmpty) None
    else Option(df.select(col("trainerr")).head().get(0))
      .map(_.asInstanceOf[Number].doubleValue)
  }

  /** Mean per-row PQ quantization error of `batch` under `books` — ONE
    * small aggregation job (map-side partials, a single double out).
    * None when no row has a usable vector. `books` here is the
    * PRE-round-trip array on the first run: Jackson serializes doubles
    * losslessly, and this is a drift heuristic, not an oracle surface. */
  private def meanQuantError(batch: DataFrame,
                             books: Array[Array[Array[Double]]]): Option[Double] = {
    val r = batch.select(avg(graft.functions.GraftFunctions
      .pqError(spark, col(vecField), books)).alias("e")).head()
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  private def saveQuantizer(books: Array[Array[Array[Double]]],
                            cents: DataFrame,
                            trainErr: Option[Double]): Unit = {
    val booksJson = mapper.writeValueAsString(books)
    val centEntries = cents.collect().map { r => // ≤ nCentroids rows by contract
      val n = mapper.createObjectNode()
      r.get(0) match {
        case l: java.lang.Number => n.put("id", l.longValue())
        case other => n.put("id", String.valueOf(other))
      }
      val arr = n.putArray("vec")
      r.getSeq[Any](1).foreach {
        case f: Float => arr.add(f.toDouble)
        case d: Double => arr.add(d)
        case x: Number => arr.add(x.doubleValue())
        // null elements zero-fill, matching the batch plane (toD in
        // Similarity) — a MatchError here would crash run() on one
        // null-element centroid row with an opaque error
        case null => arr.add(0.0)
      }
      n
    }
    val centsJson = mapper.writeValueAsString(centEntries)
    val s = spark
    import s.implicits._
    quantizer.update(
      Seq(("quantizer", booksJson, centsJson, trainErr))
        .toDF("qid", "books", "cents", "trainerr"),
      Seq("qid"))
    // the next loadQuantizer must see the freshly-written round-tripped
    // JSON (first build and rebuild both re-load after saving)
    qzCache = None
  }

  /** Encode this run's unseen docs and append them to the code table;
    * the first run also trains + persists the quantizer from its batch.
    * Report = docs examined (the incremental contract's measure). */
  protected def build(): BuildReport = {
    index.ensureIndex("cell")
    // lu-newer docs re-enter as pending and their stale code row is
    // SHADOWED by this run's id-keyed upsert (see changedIds — no
    // O(index) removal write); the plan is counted, not materialized
    val changed = changedIds()
    val updated = changed.fold(0L)(_.count())
    // spread: the PQ-encode kernel is CPU-bound per vector and must not
    // inherit a 2-split scan (Materialize.spread)
    val batch = Materialize.spread(pendingOf(changed.filter(_ => updated > 0)))
    val examined = batch.count()
    var batchErr: Option[Double] = None
    val rows = if (examined == 0) None else {
      var trainRunErr: Option[Double] = None
      val (books, cents) = loadQuantizer().getOrElse {
        val b = Similarity.trainPq(batch, m, ksub, iters, source.key, vecField, family)
        val c = Similarity.centroidDraw(batch, nCentroids, source.key, vecField, family)
        trainRunErr = meanQuantError(batch, b)
        saveQuantizer(b, c, trainRunErr)
        // re-load, not reuse: the persisted JSON round-trip is what every
        // later batch (and restart) sees — divergence would surface here
        loadQuantizer().get
      }
      // drift statistic: how well THIS batch quantizes under the frozen
      // codebooks, reported against the stored training-batch baseline —
      // a silently-staling quantizer (drifting corpus at 100 TB) shows
      // up as adcDrift ≫ 1 in every BuildReport instead of only as
      // degraded recall much later. On the TRAINING run itself the
      // statistic was just computed for the baseline (Jackson
      // round-trips doubles losslessly, so pre/post-persist books give
      // the same error) — reuse it instead of re-aggregating the batch
      batchErr = trainRunErr.orElse(meanQuantError(batch, books))
      Some(encode(batch, books, cents))
    }
    // docs gone from the (scoped) corpus leave the index too, in its ONE
    // commit (a delete-only corpus change has an empty batch)
    val orphans =
      if (deleteOrphans) Builder.orphanKeys(index, "id", scoped.select(col(source.key)))
      else None
    Builder.commitOnce(index, rows, orphans.map(_._1), Seq("id"))
    BuildReport(examined, 0, orphans.fold(0L)(_._2), updated = updated,
      adcError = batchErr, trainAdcError = loadTrainError())
  }

  /** `(id, cell, code, lu)` rows of `batch` under the quantizer. */
  private def encode(batch: DataFrame, books: Array[Array[Array[Double]]],
                     cents: DataFrame): DataFrame =
    withLu(Similarity.assignToCells(batch, broadcast(cents),
        source.key, vecField, keep = 1)
      .select(col("__rid").alias("id"), col("cell"),
        graft.functions.GraftFunctions.pqEncode(spark, col("__rvec"), books)
          .alias("code")), batch)

  /** Attach the source lu to the encoded rows — constant per id, one
    * column join against the (already-persisted) batch, O(batch). A
    * lu-less source writes a null long column; a LEGACY populated index
    * built before the lu column keeps its layout and stays
    * insert-only. */
  private def withLu(enc: DataFrame, batch: DataFrame): DataFrame = {
    val legacy = checkIndexLayout() && !index.df.columns.contains("lu")
    if (legacy) enc
    else if (batch.columns.contains(source.lastUpdatedField))
      enc.join(batch.select(col(source.key).alias("id"),
        col(source.lastUpdatedField).alias("lu")), Seq("id"))
    else enc.withColumn("lu", lit(null).cast("long"))
  }

  /** Retrain the quantizer from the CURRENT corpus and re-encode every
    * doc — the staleness escape hatch for a drifted corpus ([[run]]'s
    * `adcDrift` is the trigger signal). The quantizer row and the code
    * table flip through their stores' own versioned-write machinery, so
    * a concurrent [[topK]] reads either the old index or the new one,
    * never a mix of quantizer generations within one query. Stale ids
    * (docs deleted since the last build) leave the index in the same
    * commit that writes the re-encoded codes. */
  def rebuild(): BuildReport = Materialize.scope {
    index.ensureIndex("cell")
    val corpus = Materialize.spread(scoped)
    val n = corpus.count()
    if (n == 0) BuildReport(0)
    else {
      val b = Similarity.trainPq(corpus, m, ksub, iters, source.key, vecField, family)
      val c = Similarity.centroidDraw(corpus, nCentroids, source.key, vecField, family)
      val trainErr = meanQuantError(corpus, b)
      saveQuantizer(b, c, trainErr)
      val (books, cents) = loadQuantizer().get
      val orphans = Builder.orphanKeys(index, "id", corpus.select(col(source.key)))
      Builder.commitOnce(index, Some(encode(corpus, books, cents)),
        orphans.map(_._1), Seq("id"))
      BuildReport(n, 0, orphans.fold(0L)(_._2), adcError = trainErr, trainAdcError = trainErr)
    }
  }

  /** ADC top-k over the persisted codes (see
    * [[Similarity.ivfPqTopKFromCodes]]); requires a completed [[run]]. */
  def topK(queries: DataFrame, k: Int, nprobe: Int = 4): DataFrame = {
    val (books, cents) = loadQuantizer().getOrElse(throw new IllegalStateException(
      "AnnIndexBuilder.topK before any run(): no quantizer persisted"))
    // a quantizer without codes (first run's index write failed, or all
    // docs were orphan-deleted) must fail clearly, not as an
    // unresolved-column crash on the schemaless empty store
    if (!index.df.columns.contains("id")) throw new IllegalStateException(
      "AnnIndexBuilder.topK: the codes index is empty — run() a batch first")
    Similarity.ivfPqTopKFromCodes(index.df, queries, k, books, cents,
      nprobe, source.key, vecField)
  }
}

object AnnIndexBuilder {
  private[builder] lazy val mapper = new ObjectMapper()
}

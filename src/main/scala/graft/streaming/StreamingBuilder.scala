package graft.streaming

import graft.store.Store
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous-rebuild extension (SURVEY §2.7 "Streaming" / §7.2(9)):
  * the reference is incremental-batch only (timestamp deltas, S10); this
  * runs the same builder contract on an unbounded source.
  *
  * Shape: `readStream → [watermark on last_updated] → [transform] →
  * foreachBatch(target.update)` — each micro-batch MERGEs into the
  * target store, so the target converges exactly like repeated
  * incremental MapBuilder runs (upsert-by-key is idempotent on
  * replays → effectively exactly-once on keyed state).
  *
  * Late data beyond `watermarkDelay` may be dropped by stateful
  * operators downstream; the plain copy path tolerates any lateness
  * (upsert is order-safe for distinct keys; within-batch ordering is
  * resolved by [[Store.dedupLastWins]] last-write-wins).
  */
class StreamingBuilder(
    val source: DataFrame,                       // a readStream DataFrame
    val target: Store,
    val transform: DataFrame => DataFrame = identity,
    val watermarkDelay: Option[String] = None,   // e.g. "10 minutes"
    val checkpoint: Option[String] = None,
    val maxFilesPerTrigger: Option[Int] = None) {

  require(source.isStreaming, "StreamingBuilder needs a streaming DataFrame")

  /** The one write-path definition shared by [[start]] and [[runOnce]]
    * (watermark guard → transform → update-mode foreachBatch upsert →
    * checkpoint wiring); only the trigger differs. */
  private def launch(trigger: Option[Trigger]): StreamingQuery = {
    val lu = target.lastUpdatedField
    val watermarked = watermarkDelay match {
      case Some(d) if source.columns.contains(lu) => source.withWatermark(lu, d)
      case _ => source
    }
    StreamingBuilder.foreachNonEmpty(transform(watermarked), checkpoint, trigger)(
      batch => target.update(batch, Seq(target.key)))
  }

  /** Start the continuous build; returns the query handle. */
  def start(): StreamingQuery = launch(None)

  /** Drain all currently-available input then stop (test/backfill mode). */
  def runOnce(): Unit = launch(Some(Trigger.AvailableNow())).awaitTermination()
}

object StreamingBuilder {
  /** The update-mode `foreachBatch` sink every stream plane shares: `f`
    * runs on each NON-EMPTY micro-batch; `checkpoint` wires the query's
    * recovery location and `trigger` (default: as fast as possible) its
    * cadence. */
  private def foreachNonEmpty(stream: DataFrame, checkpoint: Option[String],
                              trigger: Option[Trigger] = None)
                             (f: DataFrame => Unit): StreamingQuery = {
    var writer = stream.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) => if (!batch.isEmpty) f(batch) }
    trigger.foreach(t => writer = writer.trigger(t))
    checkpoint.foreach(c => writer = writer.option("checkpointLocation", c))
    writer.start()
  }

  /** Run ONE builder per query over every non-empty micro-batch. `mk`
    * gets a TableStore whose by-name df reads the CURRENT batch, so the
    * builder built on the first trigger sees each later one. One builder
    * per query, not per batch: per-instance state then lives across
    * triggers — the clean-pair gate (the torn-pair reconcile runs at
    * query start and after a failed write, never per micro-batch), the
    * BM25 stats row cache, the parsed ANN quantizer, the model-empty
    * probe. The batch is key-unique by the docs plane's upsert rule
    * ([[Store.dedupLastWins]], the last row of a key wins): a doc that
    * appears twice in one micro-batch is one source doc, not two (a BM25
    * index would keep both texts' postings and count the doc twice in
    * its stats). */
  private def perQueryBuilder(stream: DataFrame, key: String, lastUpdated: String,
                              checkpoint: Option[String])
                             (mk: Store => graft.builder.Builder): StreamingQuery = {
    var current: DataFrame = null
    var builder: graft.builder.Builder = null
    foreachNonEmpty(stream, checkpoint) { batch =>
      // the key-unique batch is made once per trigger: every plan of the
      // run reads it, and the dedup's shuffle would re-run in each
      graft.builder.Materialize.scope {
        current = graft.builder.Materialize.eager(Store.dedupLastWins(batch, Seq(key)))
        if (builder == null)
          builder = mk(new graft.store.TableStore(batch.sparkSession, current,
            "stream-batch", key, lastUpdated))
        builder.run()
      }
    }
  }

  /** Windowed aggregation over an event-time stream — the watermarked
    * `groupBy(window(...))` shape (Structured Streaming's native
    * replacement for the reference's absent stream processing). Returns
    * a streaming DataFrame ready for `writeStream`. */
  def windowedCounts(stream: DataFrame, tsCol: String, window: String,
                     delay: String, keys: Seq[String] = Nil): DataFrame = {
    val w = stream.withWatermark(tsCol, delay)
    w.groupBy((org.apache.spark.sql.functions.window(col(tsCol), window) +:
        keys.map(col)): _*)
      .agg(count(lit(1)).alias("n"))
  }

  /** Streaming exact dedup: first occurrence per `keys` wins; duplicate
    * state is dropped once the event-time watermark passes (bounded
    * state — the streaming twin of [[graft.ext.Dedup.exact]], which at
    * 10⁸ keys/hour is the difference between O(window) and O(stream)
    * state). Returns a streaming DataFrame ready for `writeStream`. */
  def dedupWithinWatermark(stream: DataFrame, keys: Seq[String],
                           tsCol: String, delay: String): DataFrame =
    stream.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Streaming NEAR-dup dedup across triggers: every micro-batch runs
    * one incremental [[graft.builder.DedupBuilder]] round against the
    * persisted signature index — the batch bands/posts only ITSELF
    * against the stored state ([[graft.ext.Dedup.minhashLshIncrementalSigs]] /
    * [[graft.ext.Dedup.simhashIncrementalSigs]] /
    * [[graft.ext.Dedup.ngramJaccardIncrementalSigs]]), components re-resolve
    * over (new pairs ∪ stored cluster edges), and the target is
    * repaired (dethroned canonicals removed, survivors upserted). The
    * index therefore grows batch-proportionally, duplicate detection
    * spans the whole stream history, and state lives in a STORE, not in
    * streaming memory: a restart resumes against the same index, and
    * replayed batches are idempotent (re-ingested ids: new signature
    * wins, labels monotone).
    *
    * Unlike [[dedupWithinWatermark]] the state is unbounded by design —
    * that is the point: near-dup dedup at corpus scale needs the full
    * signature history, and a signature is 8-512 bytes/doc in a keyed
    * parquet store, not per-executor streaming state. `method` is
    * `"minhash"`, `"simhash"`, `"ngram"`, `"semantic"` (for semantic,
    * `textField` names the embedding column and the first batch's
    * centroid draw is persisted in the index) or `"image"` (`textField`
    * names an image BINARY column; perceptual dHash signatures through
    * the simhash banding — cross-trigger near-dup detection for
    * multimodal corpora). */
  def dedupStream(stream: DataFrame, key: String, textField: String,
                  target: Store, indexStore: Store,
                  method: String = "minhash", threshold: Double = 0.7,
                  nCentroids: Int = 16,
                  numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
                  family: String = "xxh64",
                  checkpoint: Option[String] = None): StreamingQuery = {
    require(stream.isStreaming, "dedupStream needs a streaming DataFrame")
    require(method == "minhash" || method == "simhash" || method == "ngram" ||
        method == "semantic" || method == "image",
      s"dedupStream supports minhash|simhash|ngram|semantic|image, got '$method'")
    foreachNonEmpty(stream, checkpoint) { batch =>
      val src = new graft.store.TableStore(batch.sparkSession, batch,
        "stream-batch", key)
      new graft.builder.DedupBuilder(src, target, textField, method,
        threshold = threshold, indexStore = Some(indexStore),
        nCentroids = nCentroids, numHashes = numHashes, bands = bands,
        shingleSize = shingleSize, family = family).run()
    }
  }

  /** Streaming IVF-PQ index maintenance: one [[graft.builder
    * .AnnIndexBuilder]] round per micro-batch — the first batch trains
    * and persists the quantizer, every later batch (and any restarted
    * query: state lives in the stores) encodes ONLY its own rows
    * against it and appends m-byte codes. The serving side
    * (`AnnIndexBuilder.topK` / [[graft.ext.Similarity
    * .ivfPqTopKFromCodes]]) reads the same index concurrently — the
    * streaming half of the incremental ANN plane. */
  def annIndexStream(stream: DataFrame, key: String, vecField: String,
                     index: Store, quantizer: Store,
                     nCentroids: Int = 16, m: Int = 8, ksub: Int = 256,
                     iters: Int = 0, family: String = "xxh64",
                     checkpoint: Option[String] = None): StreamingQuery = {
    require(stream.isStreaming, "annIndexStream needs a streaming DataFrame")
    perQueryBuilder(stream, key, "last_updated", checkpoint) { src =>
      new graft.builder.AnnIndexBuilder(src, index, quantizer, vecField,
        nCentroids, m, ksub, iters, family)
    }
  }

  /** Streaming twin of the incremental quality classifier
    * ([[graft.builder.QualityClfBuilder]]): each micro-batch of labeled
    * documents trains through the SAME builder, so the per-class bucket
    * counts MERGE additively across triggers (the property naive Bayes
    * buys) and scoring (`QualityClfBuilder.score` over the same model
    * store) answers exactly what a batch-driven train answers. Batches
    * must carry a monotonically increasing `lastUpdated` column — the
    * builder's watermark contract decides which rows are new, exactly as
    * in the batch-incremental path, so a replayed trigger (foreachBatch
    * at-least-once) re-trains nothing. */
  def qualityClfStream(stream: DataFrame, key: String, lastUpdated: String,
                       textField: String, labelField: String,
                       model: Store, buckets: Int = 1024,
                       family: String = "md5", seed: Int = 0,
                       checkpoint: Option[String] = None): StreamingQuery = {
    require(stream.isStreaming, "qualityClfStream needs a streaming DataFrame")
    perQueryBuilder(stream, key, lastUpdated, checkpoint) { src =>
      new graft.builder.QualityClfBuilder(src, model, textField, labelField,
        buckets, family, seed)
    }
  }

  /** Streaming twin of the incremental BM25 index
    * ([[graft.builder.Bm25IndexBuilder]]): each micro-batch indexes
    * through the SAME builder, so postings append O(batch), the stats
    * row merges additively, and serving (`Bm25IndexBuilder.topK` over
    * the same stores) answers exactly what a batch-driven build answers
    * — streaming state lives in the stores, not the query, the contract
    * every streaming plane here shares. */
  def bm25IndexStream(stream: DataFrame, key: String, textField: String,
                      index: Store, stats: Store,
                      k1: Double = 1.2, b: Double = 0.75,
                      checkpoint: Option[String] = None): StreamingQuery = {
    require(stream.isStreaming, "bm25IndexStream needs a streaming DataFrame")
    perQueryBuilder(stream, key, "last_updated", checkpoint) { src =>
      new graft.builder.Bm25IndexBuilder(src, index, stats, textField, k1, b)
    }
  }

  /** Streaming twin of the END-TO-END curation chain
    * ([[graft.builder.CurateBuilder]]): each trigger first UPSERTS the
    * micro-batch into the durable `source` store (the stream_upsert
    * contract — a batch-only source would orphan-sweep every earlier
    * trigger's facts), then re-runs ONE incremental CurateBuilder. The
    * `facts` store carries the per-doc stage verdicts across triggers,
    * so a trigger pays stage-1–5 (C4/Gopher/clf/hash/decon) work for
    * its OWN docs only while the corpus-global manifest tail (dedup
    * minima, mix, pack prefix sums) re-runs over the text-free facts
    * table; after trigger N the target manifest equals the
    * from-scratch chain over every doc absorbed so far (oracle row
    * `stream_curate` pins the 2-trigger convergence). foreachBatch
    * at-least-once replays are safe end-to-end: the source upsert is
    * key-idempotent and the facts delta re-selects nothing when the
    * lu is unchanged. */
  def curateStream(stream: DataFrame, key: String,
                   source: Store, target: Store, facts: Store,
                   model: Option[Store] = None, eval: Option[Store] = None,
                   textField: String = "text", stratumField: String = "lang",
                   clfThreshold: Double = 0.0,
                   mixRates: Map[String, Double] = Map.empty,
                   mixDefaultRate: Double = 1.0, seqLen: Long = 2048,
                   checkpoint: Option[String] = None): StreamingQuery = {
    require(stream.isStreaming, "curateStream needs a streaming DataFrame")
    // ONE builder across triggers: store reads (source/facts/target)
    // are by-path, so every run sees the accumulated state
    var builder: graft.builder.CurateBuilder = null
    foreachNonEmpty(stream, checkpoint) { batch =>
      source.update(batch, Seq(key))
      if (builder == null)
        builder = new graft.builder.CurateBuilder(source, target,
          model = model, eval = eval, textField = textField,
          stratumField = stratumField, clfThreshold = clfThreshold,
          mixRates = mixRates, mixDefaultRate = mixDefaultRate,
          seqLen = seqLen, facts = Some(facts))
      builder.run()
    }
  }
}

package graft
package queries

import graft.api._
import graft.builder._
import graft.ext.{Multimodal, TextAnalysis}
import graft.store.{MemoryStore, TableStore}
import graft.store.views._
import org.apache.spark.sql.functions._

import SparkEntry._

/** The stream plane: each query replays its input through a
  * streaming query (file source, micro-batches) and reads the sink. */
private[graft] object StreamQueries {
  val all: Seq[BenchQuery] = Seq(
    // STREAMING twin of window_sessionize, oracle-checked end-to-end:
    // the events replay through flatMapGroupsWithState (the stateful
    // API, not the windowed-agg one stream_time_window certifies). A
    // far-future flush sentinel per user closes every real session
    // in-batch (a finite stream's trailing sessions otherwise wait on a
    // watermark that never advances past end-of-input); the input is
    // ONE file so a single micro-batch preserves event-time order.
    BenchQuery("stream_sessionize", (s, dir) => {
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
    },
      // the stateful streaming twin computes the identical sessions
      // (same ms gap contract, same fixed-point totals)
      oracleSql = ("WITH e AS (SELECT user_id, ts, value, CASE WHEN lag(ts) OVER w IS NULL " +
        "OR ts - lag(ts) OVER w > INTERVAL 1 HOUR THEN 1 ELSE 0 END AS nss FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
        "s AS (SELECT *, sum(nss) OVER (PARTITION BY user_id ORDER BY ts " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM e) " +
        "SELECT user_id, count(*) AS n_events, " +
        s"${fxSumSql("value", 1000000L)} AS total, " +
        "epoch_ms(min(ts)) AS start_ms, epoch_ms(max(ts)) AS end_ms " +
        "FROM s GROUP BY user_id, sid ORDER BY user_id, start_ms")),

    // STREAMING twin of agg_time_window, oracle-checked end-to-end: the
    // events parquet replays through Structured Streaming
    // (Trigger.AvailableNow, memory sink, complete mode) and the
    // finished table is returned — certifying the streaming aggregation
    // plane computes exactly what the batch plane and the DuckDB oracle
    // compute. At scale this is the readStream → window-agg → sink shape
    // verbatim; AvailableNow is how a backfill runs it over history.
    BenchQuery("stream_time_window", (s, dir) => {
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
    },
      // the streaming twin computes the identical aggregation
      oracleSql = ("SELECT date_trunc('day', ts) AS d, event_type, count(*) AS n, " +
        s"${fxSumSql("value", 1000000L)} AS sum_val FROM events " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),

    // STREAMING twin of dedup_builder_incremental, oracle-checked
    // end-to-end: the same 2-batch corpus replays through
    // StreamingBuilder.dedupStream as two file-source micro-batches
    // (maxFilesPerTrigger=1; batch A's part file gets an earlier mtime
    // so the source's timestamp order replays A-then-B). Each trigger
    // runs one incremental DedupBuilder round against the persisted
    // signature index, so the final repaired target must equal the
    // from-scratch canonical view — the same convergence contract (and
    // oracle SQL) as the batch-driven builder row.
    BenchQuery("stream_dedup", (s, dir) => {
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
    },
      // the streaming twin replays the identical 2-batch build through
      // dedupStream micro-batches — same convergence target, same replay
      oracleSql = {
        val (ctes, pairSel) = minhashOracleParts
        s"WITH RECURSIVE $ctes, pairs AS ($pairSel), " +
          "edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b AS src, a AS dst FROM pairs), " +
          "reach AS (SELECT src AS id, src AS r FROM edges " +
          "UNION SELECT e.src AS id, rc.r AS r FROM edges e JOIN reach rc ON rc.id = e.dst), " +
          "labels AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id) " +
          "SELECT c.doc_id FROM corpus c LEFT JOIN labels l ON l.id = c.doc_id " +
          "WHERE l.cluster IS NULL OR l.cluster = c.doc_id ORDER BY 1"
      }),

    // STREAMING image near-dup: the multimodal twin of stream_dedup —
    // base images arrive as trigger A, perturbed twins as trigger B;
    // each trigger runs one incremental image-dHash DedupBuilder round
    // against the persisted signature index, and the repaired target
    // must equal the from-scratch canonical view (same convergence
    // contract; oracle replays the dHash arithmetic + banding + CC).
    BenchQuery("stream_dedup_images", (s, dir) => {
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
    },
      // streaming image-dedup twin: the same dHash replay, pairs at the
      // builder's hamming <= 3 default, transitive min-label closure,
      // canonical (min-id survivor) view — the stream_dedup contract
      oracleSql = (s"WITH RECURSIVE $imageOracleCtes, " +
         "pairs AS (SELECT a, b FROM cand JOIN sigs sa ON sa.doc_id = a " +
         "JOIN sigs sb ON sb.doc_id = b WHERE bit_count(xor(sa.sig, sb.sig)) <= 3), " +
         "edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b AS src, a AS dst FROM pairs), " +
         "reach AS (SELECT src AS id, src AS r FROM edges " +
         "UNION SELECT e.src AS id, rc.r AS r FROM edges e JOIN reach rc ON rc.id = e.dst), " +
         "labels AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id) " +
         "SELECT c.doc_id FROM corpus c LEFT JOIN labels l ON l.id = c.doc_id " +
         "WHERE l.cluster IS NULL OR l.cluster = c.doc_id ORDER BY 1")),

    // the continuous-rebuild CORE contract (StreamingBuilder §2.7),
    // oracle-checked: two ordered micro-batches upsert into a durable
    // ParquetStore — batch B re-ingests every doc_id % 10 == 0 with
    // amended text, and the merged store must read the amended rows for
    // those keys and the originals elsewhere (upsert-by-key
    // last-write-wins across triggers, the foreachBatch → Store.update
    // path that makes replays idempotent).
    BenchQuery("stream_upsert", (s, dir) => {
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
    },
      // ordered 2-trigger upsert: later generation wins per re-ingested key
      oracleSql = ("SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN text || ' v2' " +
        "ELSE text END AS text FROM documents ORDER BY 1")),

    // STREAMING twin of the curation chain: the corpus replays as two
    // ordered file-source micro-batches (evens, then odds); each
    // trigger upserts into the durable source store and re-runs the
    // SAME incremental CurateBuilder — the facts store carries per-doc
    // verdicts across triggers (each trigger pays stage-1–5 work for
    // its own docs only), the manifest tail re-runs over the text-free
    // facts. After the final trigger the manifest equals the
    // from-scratch chain — the SAME oracle SQL as pipeline_curate.
    BenchQuery("stream_curate", (s, dir) => {
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
    },
      // streaming twin: two file-source triggers through the same
      // incremental chain converge to the same manifest
      oracleSql = curateOracleSql),

    // STREAMING twin of text_quality_clf_incr, oracle-checked end-to-end:
    // the two even-id training batches replay as two file-source
    // micro-batches (%4==0 with the earlier mtime and lu=1, the rest of
    // the evens lu=2), each trigger trains through the SAME
    // QualityClfBuilder (per-class counts merge additively, the watermark
    // admits only the new rows), then the odd ids score against the
    // PERSISTED model — identical to the batch-driven train because
    // streaming state lives in the model store
    BenchQuery("stream_quality_clf", (s, dir) => {
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
    },
      // streaming twin: two file-source training triggers must converge
      // to the same from-scratch model, so it shares the replay too
      oracleSql = clfOracleSql(1024)),

    // STREAMING twin of ann_index_incr_topk, oracle-checked end-to-end:
    // the same even/odd split replays through annIndexStream as two
    // file-source micro-batches (evens get the earlier mtime, so the
    // source's timestamp order trains the quantizer on trigger A and
    // encodes trigger B against it), then serving answers from the
    // persisted codes across both generations — the same replay as the
    // batch-driven incremental row, because streaming state lives in
    // the stores, not in the query.
    BenchQuery("stream_ann_topk", (s, dir) => {
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
    },
      // the streaming twin trains on the same even-id first trigger and
      // serves the same persisted codes — identical replay
      oracleSql = pqOracleSql(ivf = true,
        centsSrc = "(SELECT * FROM embeddings WHERE vec_id % 2 = 0)")),

    // STREAMING twin of text_bm25_incr, oracle-checked end-to-end: the
    // even/odd doc split replays as two file-source micro-batches
    // (evens get the earlier mtime), each trigger indexes through the
    // SAME Bm25IndexBuilder, and serving answers from the persisted
    // postings + stats across both generations — identical to the
    // batch-driven build because streaming state lives in the stores
    BenchQuery("stream_bm25_topk", (s, dir) => {
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
    }, oracleSql = (s"WITH ${bm25OracleCtes(83)}, " +
        "ranked AS (SELECT q_id, id, sm, row_number() OVER (PARTITION BY q_id " +
        "ORDER BY sm DESC, id ASC) AS rank FROM bm25agg) " +
        "SELECT q_id, rank, id AS doc_id, round(sm / 1000000.0, 4) AS score " +
        "FROM ranked WHERE rank <= 6 ORDER BY q_id, rank"))
  )
}

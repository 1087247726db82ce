package graft.run

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.builder._
import graft.store._
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** E5 `mrun` analogue (reference `cli/__init__.py:26-229`): a pipeline
  * spec as JSON → stores + builders → sequential execution. The
  * reference's `-n` procs / `-N` chunks / ZMQ-RabbitMQ distribution
  * (E2-E4) have no analogue by design — Spark's scheduler owns
  * parallelism (SURVEY §2.6).
  *
  * Spec shape (MSONable-config analogue, kept deliberately flat):
  * {{{
  * { "stores": {
  *     "src": {"type": "parquet_table", "path": "...", "key": "id", "last_updated": "lu"},
  *     "tgt": {"type": "parquet", "root": "/tmp/t", "key": "id", "last_updated": "lu"}},
  *   "builders": [
  *     {"type": "copy", "source": "src", "target": "tgt", "criteria": {...},
  *      "delete_orphans": false} ] }
  * }}}
  */
object Runner {

  private val mapper = new ObjectMapper()

  case class RunReport(builders: Seq[(String, BuildReport)])

  def run(spark: SparkSession, specJson: String,
          reporting: Option[Store] = None): RunReport = {
    val spec = mapper.readTree(specJson)
    // materialization policy for this run's builders (Materialize.eager):
    // "materialize": "local" | "reliable" | "persist"; "reliable" needs
    // "checkpoint_dir". Session conf is restored after the run.
    val prevMat = scala.util.Try(
      spark.conf.get("spark.graft.materialize")).toOption
    Option(spec.get("checkpoint_dir")).foreach(d =>
      spark.sparkContext.setCheckpointDir(d.asText()))
    Option(spec.get("materialize")).foreach(m =>
      spark.conf.set("spark.graft.materialize", m.asText()))
    try Materialize.scope(runWith(spark, spec, reporting))
    finally prevMat match {
      case Some(v) => spark.conf.set("spark.graft.materialize", v)
      case None => spark.conf.unset("spark.graft.materialize")
    }
  }

  private def runWith(spark: SparkSession, spec: JsonNode,
                      reporting: Option[Store]): RunReport = {
    val stores: Map[String, Store] = spec.get("stores").fields().asScala.map { e =>
      e.getKey -> buildStore(spark, e.getValue)
    }.toMap

    val reporter = new Reporting(spark, reporting)
    // flush in finally: a failing builder must not discard the telemetry
    // of the builders that already ran, and the failure itself is an
    // event (the E6 ReportingHandler records errors, utils.py:221-263)
    try {
      val results = spec.get("builders").elements().asScala.zipWithIndex.map {
        case (b, i) =>
          val typ = b.get("type").asText()
          val label = s"$typ#$i"
          reporter.event(label, "BUILD_STARTED")
          val report =
            try buildBuilder(b, stores).run()
            catch { case e: Throwable =>
              reporter.event(label, "BUILD_FAILED"); throw e
            }
          reporter.event(label, "BUILD_ENDED", report)
          label -> report
      }.toSeq
      RunReport(results)
    } finally reporter.flush()
  }

  private def opt(n: JsonNode, f: String): Option[JsonNode] =
    Option(n.get(f)).filterNot(_.isNull)
  private def str(n: JsonNode, f: String, dflt: String): String =
    opt(n, f).map(_.asText()).getOrElse(dflt)
  private def criteria(n: JsonNode): Option[String] =
    opt(n, "criteria").map(_.toString)

  private[run] def buildStore(spark: SparkSession, n: JsonNode): Store = {
    val key = str(n, "key", "task_id")
    val lu = str(n, "last_updated", "last_updated")
    n.get("type").asText() match {
      case "memory" => new MemoryStore(spark, str(n, "name", "memory"), key, lu)
      // "delta_writes": true opts the store into merge-on-read delta
      // upserts (batch-proportional index writes + compaction; see
      // ParquetStore) — the layout an incremental dedup "index" ref wants
      case "parquet" => new ParquetStore(spark, n.get("root").asText(), key, lu,
        numPartitions = 0,
        deltaWrites = opt(n, "delta_writes").exists(_.asBoolean()),
        compactAfter = opt(n, "compact_after").map(_.asInt()).getOrElse(8))
      case "parquet_table" =>
        TableStore.parquet(spark, n.get("path").asText(), key, lu)
      case "json" =>
        new JsonStore(spark, opt(n, "paths").map(_.elements().asScala.map(_.asText()).toSeq)
          .getOrElse(Seq(n.get("path").asText())), key, lu)
      case "file" => new FileStore(spark, n.get("root").asText(),
        str(n, "glob", "*"))
      case "object" => new ObjectStore(spark, n.get("data_root").asText(),
        n.get("index_root").asText(), key,
        opt(n, "searchable_fields").map(_.elements().asScala.map(_.asText()).toSeq)
          .getOrElse(Nil), lu)
      case "open_data" => new OpenDataStore(spark, n.get("root").asText(),
        n.get("object_grouping").elements().asScala.map(_.asText()).toSeq, key, lu)
      // schema-validated write path: {"type": "validated", "inner": {...},
      // "schema": <JSON Schema>, "strict": bool, "rejects": {...}}
      case "validated" => new graft.store.views.ValidatingStore(
        buildStore(spark, n.get("inner")),
        new JsonSchemaValidator(n.get("schema").toString,
          opt(n, "strict").exists(_.asBoolean())),
        opt(n, "rejects").map(r => buildStore(spark, r)))
      case other => throw new IllegalArgumentException(s"unknown store type: $other")
    }
  }

  private[run] def buildBuilder(n: JsonNode, stores: Map[String, Store]): Builder = {
    def store(f: String): Store = stores(n.get(f).asText())
    n.get("type").asText() match {
      case "copy" =>
        CopyBuilder(store("source"), store("target"), criteria(n),
          opt(n, "delete_orphans").exists(_.asBoolean()))
      case "map" =>
        // declarative column transform: {"exprs": {"out_col": "sql expr"}}
        val exprs = n.get("exprs").fields().asScala.map { e =>
          e.getKey -> e.getValue.asText()
        }.toSeq
        MapBuilder.columns(store("source"), store("target"),
          df => exprs.foldLeft(df) { case (d, (out, sql)) =>
            d.withColumn(out, org.apache.spark.sql.functions.expr(sql))
          },
          criteria(n),
          projection = opt(n, "projection")
            .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil),
          deleteOrphans = opt(n, "delete_orphans").exists(_.asBoolean()))
      case "group" =>
        new GroupBuilder(store("source"), store("target"),
          n.get("group_by").elements().asScala.map(_.asText()).toSeq,
          aggExprs = opt(n, "agg").map(_.fields().asScala.map { e =>
            org.apache.spark.sql.functions.expr(e.getValue.asText()).alias(e.getKey)
          }.toSeq).getOrElse(Nil),
          criteria = criteria(n))
      case "projection" =>
        new ProjectionBuilder(
          n.get("sources").elements().asScala.map { s =>
            SourceProjection(stores(s.get("store").asText()),
              fields = opt(s, "fields").map(_.elements().asScala.map(_.asText()).toSeq)
                .getOrElse(Nil),
              renames = opt(s, "renames").map(_.fields().asScala.map(e =>
                e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty))
          }.toSeq, store("target"))
      case "dedup" =>
        new DedupBuilder(store("source"), store("target"),
          textField = str(n, "text_field", "text"),
          method = str(n, "method", "minhash"),
          threshold = opt(n, "threshold").map(_.asDouble()).getOrElse(0.7),
          criteria = criteria(n),
          // optional persisted signature/cell index → incremental repeats
          indexStore = opt(n, "index").map(i => stores(i.asText())),
          // n_centroids: 0 = scale-adaptive (ceil(N / target_cell_size))
          nCentroids = opt(n, "n_centroids").map(_.asInt()).getOrElse(16),
          maxCellSize = opt(n, "max_cell_size").map(_.asInt()).getOrElse(10000),
          overCap = str(n, "over_cap", "drop"),
          targetCellSize = opt(n, "target_cell_size").map(_.asInt()).getOrElse(256))
      case "decontaminate" =>
        new DecontaminateBuilder(store("source"), store("eval"),
          store("target"),
          textField = str(n, "text_field", "text"),
          n = opt(n, "ngram").map(_.asInt()).getOrElse(3),
          criteria = criteria(n))
      // incremental IVF-PQ ANN index: "index" holds (id, cell, code)
      // bytes, "quantizer" the one-row trained codebooks+centroids JSON
      case "ann_index" =>
        new AnnIndexBuilder(store("source"), store("index"),
          store("quantizer"),
          vecField = str(n, "vec_field", "embedding"),
          nCentroids = opt(n, "n_centroids").map(_.asInt()).getOrElse(16),
          m = opt(n, "m").map(_.asInt()).getOrElse(8),
          ksub = opt(n, "ksub").map(_.asInt()).getOrElse(256),
          iters = opt(n, "iters").map(_.asInt()).getOrElse(0),
          family = str(n, "family", "xxh64"),
          criteria = criteria(n),
          deleteOrphans = opt(n, "delete_orphans").exists(_.asBoolean()))
      // incremental BM25 inverted index: "index" holds (term, id, tf, dl)
      // postings, "stats" the one-row (n_docs, sum_dl) corpus statistics
      case "bm25_index" =>
        new Bm25IndexBuilder(store("source"), store("index"), store("stats"),
          textField = str(n, "text_field", "text"),
          k1 = opt(n, "k1").map(_.asDouble()).getOrElse(1.2),
          b = opt(n, "b").map(_.asDouble()).getOrElse(0.75),
          criteria = criteria(n),
          deleteOrphans = opt(n, "delete_orphans").exists(_.asBoolean()))
      // train-once BPE tokenizer artifact: "merges" holds the ordered
      // (rank, a, b) merge list TokenizeResource serves from
      case "bpe_train" =>
        new BpeTrainBuilder(store("source"), store("merges"),
          textField = str(n, "text_field", "text"),
          numMerges = opt(n, "num_merges").map(_.asInt()).getOrElse(1024),
          batchSize = opt(n, "batch_size").map(_.asInt()).getOrElse(64),
          force = opt(n, "force").exists(_.asBoolean()),
          criteria = criteria(n))
      // incremental unigram LM: "vocab" holds (token, cnt) counts merged
      // across batches; scoring joins against the persisted counts
      case "unigram_lm" =>
        new UnigramLmBuilder(store("source"), store("vocab"),
          textField = str(n, "text_field", "text"),
          criteria = criteria(n),
          // optional per-doc contributions store → full lu-update
          // support (re-written docs un-count before re-counting)
          docs = opt(n, "docs").map(d => stores(d.asText())))
      // incremental hashed-ngram quality classifier: "model" holds
      // (bucket, w_pos, w_neg) counts merged across batches
      case "quality_clf" =>
        new QualityClfBuilder(store("source"), store("model"),
          textField = str(n, "text_field", "text"),
          labelField = str(n, "label_field", "label"),
          buckets = opt(n, "buckets").map(_.asInt()).getOrElse(1024),
          family = str(n, "family", "md5"),
          seed = opt(n, "seed").map(_.asInt()).getOrElse(0),
          criteria = criteria(n),
          // optional per-doc contributions store → full lu-update
          // support (label flips / re-written docs un-count first)
          docs = opt(n, "docs").map(d => stores(d.asText())))
      // the end-to-end curation chain (C4 → Gopher → clf gate → exact
      // dedup → decontaminate → weighted mix → sequence packing);
      // "model" (QualityClfBuilder counts) and "eval" (decontamination
      // reference) are optional store refs — stages skip when unwired
      case "curate" =>
        new CurateBuilder(store("source"), store("target"),
          model = opt(n, "model").map(m => stores(m.asText())),
          eval = opt(n, "eval").map(e => stores(e.asText())),
          // optional per-doc fact store → incremental stages 1–5
          facts = opt(n, "facts").map(f => stores(f.asText())),
          textField = str(n, "text_field", "text"),
          stratumField = str(n, "stratum_field", "lang"),
          minLineWords = opt(n, "min_line_words").map(_.asInt()).getOrElse(3),
          minWords = opt(n, "min_words").map(_.asInt()).getOrElse(20),
          clfThreshold = opt(n, "clf_threshold").map(_.asDouble()).getOrElse(0.0),
          clfBuckets = opt(n, "clf_buckets").map(_.asInt()).getOrElse(1024),
          clfFamily = str(n, "clf_family", "md5"),
          clfSeed = opt(n, "clf_seed").map(_.asInt()).getOrElse(0),
          deconNgram = opt(n, "decon_ngram").map(_.asInt()).getOrElse(13),
          mixRates = opt(n, "mix_rates").map(_.fields().asScala.map(e =>
            e.getKey -> e.getValue.asDouble()).toMap).getOrElse(Map.empty),
          mixDefaultRate = opt(n, "mix_default_rate").map(_.asDouble()).getOrElse(1.0),
          mixFamily = str(n, "mix_family", "md5"),
          mixSeed = opt(n, "mix_seed").map(_.asInt()).getOrElse(0),
          seqLen = opt(n, "seq_len").map(_.asLong()).getOrElse(2048L),
          criteria = criteria(n),
          deleteOrphans = opt(n, "delete_orphans").forall(_.asBoolean()))
      case other => throw new IllegalArgumentException(s"unknown builder type: $other")
    }
  }
}

/** E6 `ReportingHandler` analogue (reference `utils.py:221-263`):
  * BUILD_STARTED / BUILD_ENDED telemetry docs accumulated and flushed to
  * a reporting store. */
class Reporting(spark: SparkSession, sink: Option[Store]) {
  private val events = scala.collection.mutable.ArrayBuffer[(String, String, Long, Long, Long, Long, Long)]()
  private val buildId = java.util.UUID.randomUUID().toString

  def event(builder: String, kind: String, report: BuildReport = BuildReport()): Unit =
    events += ((builder, kind, report.processed, report.failed,
      report.updated, report.orphansDeleted, System.currentTimeMillis()))

  def flush(): Unit = sink.foreach { st =>
    val s = spark
    import s.implicits._
    val df = events.toSeq.toDF("builder", "event", "processed", "failed",
      "updated", "orphans_deleted", "ts_millis")
      .withColumn("build_id", org.apache.spark.sql.functions.lit(buildId))
      .withColumn("event_id", org.apache.spark.sql.functions.concat_ws("/",
        org.apache.spark.sql.functions.lit(buildId),
        org.apache.spark.sql.functions.col("builder"),
        org.apache.spark.sql.functions.col("event")))
    st.update(df, Seq("event_id"))
  }
}

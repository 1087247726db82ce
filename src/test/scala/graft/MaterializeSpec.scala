package graft

import graft.builder._
import graft.ext.{Bpe, Dedup, Sampling, TextAnalysis}
import graft.store.{MemoryStore, ParquetStore}
import org.apache.spark.TestBlocks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Scoped materialization: every persist, checkpoint and broadcast a
  * builder run or an `ext` call makes is freed by the scope that owns it,
  * on success and on failure. */
class MaterializeSpec extends SparkSpec {
  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Run `body` and assert it left nothing behind: an empty cache
    * manager, no RDD it persisted still registered, and no driver-built
    * broadcast it made still alive. */
  private def released[A](what: String)(body: => A): A = {
    val sc = spark.sparkContext
    spark.catalog.clearCache() // judge only what `body` leaves
    val rdds = sc.getPersistentRDDs.keySet.toSet
    val bcs = TestBlocks.mapBroadcasts(sc)
    val out = body
    assert(spark.sharedState.cacheManager.isEmpty, s"$what: cached frames remain")
    val left = sc.getPersistentRDDs.keySet.toSet -- rdds
    assert(left.isEmpty, s"$what: persisted RDDs remain: ${left.toSeq.sorted}")
    // broadcast removal is asynchronous: wait for it, briefly
    val deadline = System.currentTimeMillis() + 10000
    while ((TestBlocks.mapBroadcasts(sc) -- bcs).nonEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert((TestBlocks.mapBroadcasts(sc) -- bcs).isEmpty, s"$what: broadcasts remain")
    out
  }

  /** A ParquetStore whose writes throw while `armed`. */
  private class Failing(root: String, key: String, lu: String, delta: Boolean = false)
      extends ParquetStore(spark, root, key, lu, deltaWrites = delta) {
    var armed = false
    private def fire(): Unit =
      if (armed) throw new IllegalStateException(s"injected write failure: $root")
    override protected def commit(data: DataFrame): Unit = { fire(); super.commit(data) }
    override protected def upsert(docs: DataFrame, keyFields: Seq[String],
                                  batchUnique: Boolean): Unit = {
      fire(); super.upsert(docs, keyFields, batchUnique)
    }
  }

  private val dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
  private def page(i: Long, v: String = "") =
    s"This is a well formed and carefully written page number $i $v of " +
      "this tiny corpus crafted with twenty or more words in total."
  private def text(i: Long, lu: Long) =
    if (i % 4 == 1) dup else page(i, if (lu > 1) s"version $lu" else "")
  private val cols = Seq("doc_id", "text", "lu", "embedding", "lang", "label")
  private def doc(i: Long, lu: Long) = (i, text(i, lu), new java.sql.Timestamp(1700000000000L + lu),
    Seq(i.toDouble, (i * 7 % 5).toDouble, (i * 3 % 4).toDouble, 1.0),
    if (i % 2 == 0) "en" else "de", if (i % 3 == 0) 1 else 0)

  /** The four runs of one builder over a source that changes between
    * them: insert, lu-update (doc 2 rewritten, doc 13 new, doc 3
    * deleted), no-op, and a run (after doc 14 arrives) whose target
    * write throws. Each must leave nothing behind. */
  private def lifecycle(name: String, target: Failing)(mk: MemoryStore => Builder): Unit = {
    val s = spark; import s.implicits._
    val src = new MemoryStore(spark, s"leak$name", "doc_id", "lu")
    src.load((1L to 12L).map(doc(_, 1L)).toDF(cols: _*))
    released(s"$name insert")(mk(src).run())
    src.update(Seq(doc(2L, 2L), doc(13L, 2L)).toDF(cols: _*))
    src.removeKeys(Seq(3L).toDF("doc_id"))
    released(s"$name lu-update")(mk(src).run())
    released(s"$name no-op")(mk(src).run())
    src.update(Seq(doc(14L, 3L)).toDF(cols: _*))
    target.armed = true
    val e = try released(s"$name throwing write")(intercept[IllegalStateException](mk(src).run()))
      finally target.armed = false
    assert(e.getMessage.startsWith("injected write failure"), s"$name: ${e.getMessage}")
  }

  private lazy val base = tmp("leak_builders")
  private def pq(dir: String, key: String, lu: String = "lu", delta: Boolean = false) =
    new Failing(s"$base/$dir", key, lu, delta)
  private def builderFreesItsRuns(name: String)(body: => Unit): Unit =
    test(s"$name: insert, lu-update, no-op and failing-write runs free what they materialize")(body)

  builderFreesItsRuns("MapBuilder") {
    val t = pq("map", "doc_id", delta = true)
    lifecycle("Map", t)(src => MapBuilder.columns(src, t,
      df => df.select(col("doc_id"), col("lu"), upper(col("text")).alias("up")),
      deleteOrphans = true))
  }
  builderFreesItsRuns("GroupBuilder") {
    val t = pq("group", "doc_id", delta = true)
    lifecycle("Group", t)(src => new GroupBuilder(src, t, Seq("lang"),
      aggExprs = Seq(count(lit(1)).alias("n_docs"))))
  }
  builderFreesItsRuns("ProjectionBuilder") {
    val t = pq("proj", "doc_id")
    lifecycle("Projection", t)(src => new ProjectionBuilder(Seq(
      SourceProjection(src, fields = Seq("text", "lang"))), t))
  }
  builderFreesItsRuns("UnigramLmBuilder") {
    val t = pq("vocab", "tok", "last_updated", delta = true)
    val d = pq("udocs", "id", delta = true)
    lifecycle("UnigramLm", t)(src => new UnigramLmBuilder(src, t, "text", docs = Some(d)))
  }
  builderFreesItsRuns("QualityClfBuilder") {
    val t = pq("model", "bucket", "last_updated", delta = true)
    val d = pq("qdocs", "id", delta = true)
    lifecycle("QualityClf", t)(src =>
      new QualityClfBuilder(src, t, "text", "label", docs = Some(d)))
  }
  builderFreesItsRuns("Bm25IndexBuilder") {
    val t = pq("bm25", "id", "term", delta = true)
    val st = pq("bm25st", "sid", "sid")
    lifecycle("Bm25", t)(src => new Bm25IndexBuilder(src, t, st, "text", deleteOrphans = true))
  }
  builderFreesItsRuns("AnnIndexBuilder (and rebuild)") {
    val t = pq("ann", "id", "cell")
    val qz = pq("annqz", "qid", "qid")
    def mk(src: MemoryStore) = new AnnIndexBuilder(src, t, qz, "embedding",
      nCentroids = 2, m = 2, ksub = 4, family = "md5", deleteOrphans = true)
    var last: MemoryStore = null
    lifecycle("AnnIndex", t) { src => last = src; mk(src) }
    released("AnnIndex rebuild")(mk(last).rebuild())
  }
  for (method <- Seq("minhash", "simhash", "ngram")) builderFreesItsRuns(s"DedupBuilder full $method") {
    val t = pq(s"dedup_$method", "doc_id")
    lifecycle(s"Dedup full $method", t)(src => new DedupBuilder(src, t, "text", method,
      threshold = 0.5))
  }
  for (method <- Seq("minhash", "simhash", "ngram", "semantic"))
    builderFreesItsRuns(s"DedupBuilder indexed $method") {
      val t = pq(s"dedupix_$method", "doc_id", delta = true)
      val idx = pq(s"dedupix_${method}_idx", "id", "cluster", delta = true)
      val field = if (method == "semantic") "embedding" else "text"
      lifecycle(s"Dedup indexed $method", t)(src => new DedupBuilder(src, t, field, method,
        threshold = 0.5, indexStore = Some(idx), nCentroids = 2, family = "md5"))
    }
  builderFreesItsRuns("DecontaminateBuilder") {
    val t = pq("decon", "doc_id")
    val s = spark; import s.implicits._
    val eval = new MemoryStore(spark, "leakEval", "doc_id", "lu")
    eval.load(Seq(doc(1L, 1L)).toDF(cols: _*))
    lifecycle("Decontaminate", t)(src => new DecontaminateBuilder(src, eval, t))
  }
  builderFreesItsRuns("CurateBuilder snapshot") {
    val t = pq("curate_snap", "doc_id", "pack_id")
    lifecycle("Curate snapshot", t)(src => new CurateBuilder(src, t, seqLen = 64))
  }
  builderFreesItsRuns("CurateBuilder incremental") {
    val t = pq("curate_inc", "doc_id", "pack_id")
    val f = pq("curate_facts", "doc_id")
    lifecycle("Curate incremental", t)(src =>
      new CurateBuilder(src, t, seqLen = 64, facts = Some(f)))
  }
  builderFreesItsRuns("BpeTrainBuilder") {
    val t = pq("bpe", "rank", "rank")
    lifecycle("BpeTrain", t)(src => new BpeTrainBuilder(src, t, "text",
      numMerges = 8, batchSize = 4, force = true))
  }

  private def docs = sf("documents").select(col("doc_id"), col("text"), col("lang"))
  private def pairs = { val s = spark; import s.implicits._
    Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b") }
  private def counted = docs.withColumn("n", length(col("text")).cast("long"))
  /** Each public lazy-frame ext call that materializes, consumed inside
    * a scope: the scope's exit frees what it made. */
  private def consumed(what: String)(f: => DataFrame): Unit =
    test(s"ext $what: consumed inside a scope, frees what it materialized")(
      released(what)(Materialize.scope(f.collect())))

  consumed("minhashLsh")(Dedup.minhashLsh(docs, "doc_id", "text"))
  consumed("simhashPairs (star)")(Dedup.simhashPairs(docs, "doc_id", "text",
    maxHamming = 12, maxBucketSize = 2, overCap = "star"))
  consumed("simhashPairsFromSigs (star)")(Dedup.simhashPairsFromSigs(
    Dedup.simhashSignatures(docs, "doc_id", "text"), overCap = "star"))
  consumed("minhashLshIncremental")(Dedup.minhashLshIncremental(
    docs.filter(col("doc_id") % 2 === 0),
    Dedup.minhashSignatures(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text"),
    "doc_id", "text", threshold = 0.3))
  consumed("clusters")(Dedup.clusters(pairs))
  consumed("keepCanonical")(Dedup.keepCanonical(docs, pairs, "doc_id"))
  consumed("ngramJaccardPairs (prefix branch)")(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
    threshold = 0.3, naiveMaxCandidates = 0))
  consumed("ngramJaccardPairsFromSigs (string ids)")(Dedup.ngramJaccardPairsFromSigs(
    Dedup.ngramSignatures(docs.withColumn("doc_id", concat(lit("d"), col("doc_id"))),
      "doc_id", "text", 3), threshold = 0.3))
  consumed("decontaminate")(Dedup.decontaminate(docs,
    docs.filter(col("doc_id") < 5), "doc_id", "text"))
  consumed("pmiBigrams")(TextAnalysis.pmiBigrams(docs, "text", minCount = 2))
  consumed("tokenBudgetPack")(Sampling.tokenBudgetPack(counted, "doc_id", "n", 5000L))
  consumed("packSequences")(Sampling.packSequences(counted, "doc_id", "n", 2048L))
  consumed("CurateBuilder.curated") {
    val src = new MemoryStore(spark, "leakCurated", "doc_id", "lu")
    src.load(docs.withColumn("lu", lit(1L)))
    new CurateBuilder(src, new MemoryStore(spark, "leakCuratedTgt", "doc_id", "pack_id"),
      eval = Some(src), seqLen = 512).curated()
  }

  test("the packing offsets broadcast lives while its scope is open") {
    val sc = spark.sparkContext
    val before = TestBlocks.mapBroadcasts(sc)
    // the leak check above sees this broadcast, so its absence there is real
    released("packSequences")(Materialize.scope {
      Sampling.packSequences(counted, "doc_id", "n", 2048L).collect()
      assert((TestBlocks.mapBroadcasts(sc) -- before).nonEmpty)
    })
  }

  test("a reliable checkpoint's files are deleted when its scope frees it") {
    val s = spark; import s.implicits._
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    val dir = tmp("leak_reliable")
    sc.setCheckpointDir(dir)
    spark.conf.set("spark.graft.materialize", "reliable")
    try {
      val src = new MemoryStore(spark, "leakReliable", "doc_id", "lu")
      src.load((1L to 12L).map(doc(_, 1L)).toDF(cols: _*))
      released("Bm25 reliable")(new Bm25IndexBuilder(src, pq("bm25_reliable", "id", "term", delta = true),
        pq("bm25st_reliable", "sid", "sid"), "text").run())
    } finally {
      spark.conf.unset("spark.graft.materialize")
      prev.foreach(sc.setCheckpointDir)
    }
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    val left = try walk.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("rdd-")).toList
      finally walk.close()
    assert(left.isEmpty, s"reliable checkpoint files remain: $left")
  }

  test("calls that return no frame are run boundaries: they free what they materialize") {
    released("ngramJaccardCounters")(Dedup.ngramJaccardCounters(docs, "doc_id", "text",
      threshold = 0.3))
    released("Bpe.train")(Bpe.train(docs, "text", 4))
    released("Bpe.trainBatched")(Bpe.trainBatched(docs, "text", 8, 4))
  }

  test("a lazy-frame ext call outside any Materialize.scope throws, naming it") {
    // a new thread runs outside every scope: the stack is a plain
    // ThreadLocal, so it does not inherit this test's scope either
    var err: Option[Throwable] = None
    val t = new Thread(() => err = scala.util.Try(Dedup.minhashLsh(docs, "doc_id", "text")).failed.toOption)
    t.start(); t.join()
    assert(err.exists(_.isInstanceOf[IllegalStateException]), s"got $err")
    assert(err.get.getMessage.contains("Materialize.scope"))
  }

  test("a scope releases its frames when its body throws") {
    val s = spark; import s.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    intercept[IllegalStateException](Materialize.scope {
      Materialize.checkpoint(Seq(1, 2, 3).toDF("x")).count()
      Materialize.cache(Seq(4, 5).toDF("y")).count()
      throw new IllegalStateException("boom")
    })
    assert((sc.getPersistentRDDs.keySet.toSet -- before).isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("MemoryStore keeps one previous snapshot: 10 updates leave at most 2 checkpoint RDDs") {
    val s = spark; import s.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val st = new MemoryStore(spark, "gens", "k", "lu")
    // every generation stays referenced, so no GC can reap a snapshot:
    // only the store's own release frees one
    val captured = (1 to 10).map { i =>
      val prior = st.df
      st.update(Seq((i.toLong, s"v$i", i.toLong)).toDF("k", "v", "lu"))
      prior
    }
    val held = sc.getPersistentRDDs.keySet.toSet -- before
    assert(held.size <= 2, s"snapshot RDDs held: ${held.toSeq.sorted}")
    // a plan captured before the last write still reads
    assert(captured.last.count() === 9)
    assert(st.count() === 10)
  }

  /** Lines of `src/main/scala` matching `pattern`, in files `scan` keeps. */
  private def sourceHits(pattern: scala.util.matching.Regex)(scan: java.io.File => Boolean): Seq[String] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    for {
      f <- files(root) if f.getName.endsWith(".scala") && scan(f)
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      if pattern.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
  }

  test("source guard: only Materialize persists, caches, checkpoints or unpersists") {
    val call = """(?<!Materialize)\.(persist|localCheckpoint|checkpoint|unpersist)\(|\.cache\(\)""".r
    val hits = sourceHits(call)(_.getName != "Materialize.scala")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("source guard: no driver copy of a plan's arithmetic (top-k heaps, a hand-built Round)") {
    // a plan's result is computed on the driver by the evaluator
    // (graft.query.LocalFrame), never re-implemented beside the plan
    val copy = """TopK(Str)?Agg\.Heap|\bRound\(""".r
    val hits = sourceHits(copy)(f => !f.getPath.endsWith("functions/TopKAggregate.scala"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("freeing local checkpoints logs no RDD warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Configurator
    import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
    val warns = new java.util.concurrent.atomic.AtomicInteger(0)
    val freed = new java.util.concurrent.atomic.AtomicInteger(0)
    val appender = new AbstractAppender("rdd-warns", null, null, true, Array.empty) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) warns.incrementAndGet()
    }
    appender.start()
    // RDD subclasses log under their own class names, all in this package
    val logger = "org.apache.spark.rdd"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val before = ctx.getConfiguration.getLoggerConfig(logger).getLevel
    val listener = new SparkListener {
      override def onUnpersistRDD(u: SparkListenerUnpersistRDD): Unit = { freed.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    Configurator.setLevel(logger, Level.WARN)
    ctx.getConfiguration.getLoggerConfig(logger).addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    sc.addSparkListener(listener)
    try {
      val t = pq("warn_dedup", "doc_id")
      lifecycle("Dedup warns", t)(src => new DedupBuilder(src, t, "text", "minhash", threshold = 0.5))
      org.apache.spark.TestListenerBus.drain(sc)
    } finally {
      sc.removeSparkListener(listener)
      ctx.getConfiguration.getLoggerConfig(logger).removeAppender("rdd-warns")
      Configurator.setLevel(logger, before)
      appender.stop()
    }
    assert(freed.get > 0, "the runs freed no checkpoint")
    assert(warns.get === 0, s"${warns.get} RDD warnings while freeing checkpoints")
  }
}

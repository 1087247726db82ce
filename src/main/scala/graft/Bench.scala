package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every SparkEntry.table query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Materialization = noop-sink write (computes every
  * output column; `count()` would let Catalyst prune the actual work). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      // let AQE coalesce tiny post-shuffle stages down to minPartitionSize
      // instead of padding to core count: a vocab/label-sized shuffle as
      // 32 near-empty tasks pays 32 scheduler floors per stage (the
      // default true exists for fat-cluster utilization, which local
      // micro-stages never benefit from; big shuffles still split by
      // advisoryPartitionSize)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // with parallelismFirst off, the 64 MB default advisory size
      // serializes any ≤64 MB shuffle onto 1-2 tasks — measured +1.6 s
      // on the 72 MB jaccard pair aggregation (5.6 → 4.0 s). 8 MB keeps
      // vocab-sized micro-stages at one task (minPartitionSize floor)
      // while real shuffles retain ~core-count parallelism
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up: JIT/codegen paths, parquet footers, OS page cache — so the
    // first timed query doesn't absorb one-time JVM session cost
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      Seq("lineitem", "orders", "customer", "supplier", "part",
          "events", "documents", "embeddings").foreach { t =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.read.parquet(s"$sfDir/$t.parquet").count()
      }
      // streaming-runtime init (StreamingQueryManager, state-store
      // providers, microbatch thread pools, temp-checkpoint plumbing) is
      // session-global one-time cost — absorb it with one untimed
      // AvailableNow micro-trigger so it can never land on whichever
      // stream_* query a contended warm pass under-absorbs (VERDICT r11
      // #8: driver artifact read stream_time_window 9.6 s at sf0.1 vs
      // 2.0 s at sf0.3/sf1; isolated re-runs read 2.2-3.1 s).
      val wq = spark.readStream.format("rate").option("numPartitions", "1")
        .load().groupBy().count()
        .writeStream.format("memory").queryName("graft_stream_warm")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // bounded wait: AvailableNow-over-rate wrapper behavior varies
      // across Spark versions — an unbounded await here would hang the
      // whole bench if the trigger ever fails to terminate (the catch
      // below only covers exceptions, not hangs)
      try wq.awaitTermination(60000L) finally wq.stop()
    } catch { case _: Throwable => () }
    // steady-state warm-up: execute every timed plan ONCE untimed, then
    // time the second execution. The sketch pipelines (LSH banding,
    // bounded-collect aggregates, CC rounds) carry ~8-11 s of one-time
    // Janino-compile + JIT cost per plan shape that otherwise lands on
    // whichever query alphabetically runs the shape first (measured:
    // first LSH query 13.9 s cold vs 2.9 s steady state); warming on a
    // smaller SF does NOT absorb it, because AQE picks different
    // physical plans at different sizes and the codegen cache misses.
    // Each run is one Materialize.scope, which frees every block the
    // query cached or checkpointed (one left in the cache manager leaked:
    // the query fails) — only JVM-global state (JIT, codegen cache, page
    // cache) persists, so the timed pass measures the per-query data
    // work, the quantity that scales.
    // Failures return None and are EXCLUDED from every total (and emitted
    // as JSON nulls) — folding a fail-fast latency into the headline sum
    // would misreport both the engine and the warm+timed double execution.
    def time(fn: (SparkSession, String) => DataFrame, name: String): Option[Double] = {
      val t0 = System.nanoTime()
      val ok =
        try {
          graft.builder.Materialize.scope(
            fn(spark, sfDir).write.mode("overwrite").format("noop").save())
          true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      val leaked = !spark.sharedState.cacheManager.isEmpty
      if (leaked) {
        System.err.println(s"[bench] $name failed: cached frames outlived its Materialize.scope")
        spark.catalog.clearCache()
      }
      System.gc() // let ContextCleaner reap shuffle/broadcast state
      if (ok && !leaked) Some(dt) else None
    }
    // headline numbers use the engine hash family (xxh64) for the sketch
    // queries; the md5 family is the oracle-replay artifact Verify keeps.
    // SPARK_GRAFT_ONLY=q1,q2 restricts the run (iteration aid; the
    // headline number is only meaningful on the full set).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val kept = SparkEntry.table.filter(q => keep(q.name)).sortBy(_.name)
    val timedEngine = kept.map(q => q.name -> q.timedPlan)
    // the warm pass doubles as a per-query reference reading for the
    // steal guard below, so its times are kept (first execution: includes
    // one-time Janino/JIT cost, hence only an UPPER-bound sanity bar)
    val warmTimes: Map[String, Double] = timedEngine.map { case (name, fn) =>
      name -> time(fn, s"$name(warm)")
    }.collect { case (n, Some(t)) => n -> t }.toMap
    // Steal guard: this host is a VM with documented noisy-neighbor CPU
    // steal (oracle totals observed swinging 3x across sessions, vmstat
    // st spikes mid-run). Queries built from long chains of small
    // sequential jobs — the streaming/lifecycle rows run ~100 driver-
    // coordinated jobs per execution — amplify a steal window into a
    // 3-10x reading (observed: stream_dedup 12 s steady, 42/86/119/139 s
    // under identical code+data+config, trigger-execution time accounts
    // for the whole wall clock, GC log silent). A timed reading that
    // exceeds BOTH 2x its own warm reading and warm+5s is re-timed (up
    // to twice) and the minimum kept — a genuine regression reproduces
    // on every redo, while a steal window rarely covers three readings.
    def stealSuspect(name: String, t: Double): Boolean =
      warmTimes.get(name).exists(w => t > math.max(2 * w, w + 5.0))
    // every discarded reading lands in the ARTIFACT (steal_redos field),
    // not just stderr: adjudication must be able to distinguish a steal
    // rescue (one inflated outlier among fast redos) from a masked
    // intermittent regression (redos clustered near the discarded value)
    val redoLog = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Double], Double)]
    val results = timedEngine.map { case (name, fn) =>
      var cur = time(fn, name)
      var redo = 0
      val discarded = scala.collection.mutable.ArrayBuffer.empty[Double]
      while (redo < 2 && cur.exists(t => stealSuspect(name, t))) {
        redo += 1
        System.err.println(f"[bench] $name: ${cur.get}%.1f s vs warm ${warmTimes(name)}%.1f s — steal suspect, redo $redo")
        val next = time(fn, s"$name(redo$redo)").getOrElse(cur.get)
        discarded += math.max(cur.get, next)
        cur = Some(math.min(cur.get, next))
      }
      if (discarded.nonEmpty) redoLog += ((name, discarded.toSeq, cur.get))
      name -> cur
    }
    // second pass: the md5-family originals, reported separately so the
    // replayability overhead stays visible but outside the total.
    // Verification scope: the timed xxh64 plans are not themselves
    // byte-replayed by the DuckDB oracle (the md5 family is); the
    // cross-family agreement spec in ExtQualitySpec ("hash families
    // agree") pins that both plans find the same duplicate sets.
    val timedMd5 = kept.filter(_.timed.isDefined).map(q => q.name -> q.plan)
    timedMd5.foreach { case (name, fn) => time(fn, s"$name(warm)") }
    val md5Results = timedMd5.map { case (name, fn) => name -> time(fn, s"$name(md5)") }
    def fmt(rs: Seq[(String, Option[Double])]): String =
      rs.map { case (k, v) =>
        "\"" + k + "\":" + v.map(d => f"$d%.3f").getOrElse("null")
      }.mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    val failed = (results ++ md5Results).collect { case (n, None) => n }.distinct
    // per-query DuckDB oracle seconds alongside the engine timings, so the
    // perf ratio is tracked per query instead of against an aggregate
    // estimate (VERDICT r4 item 8). DuckDB lives driver-side only: this is
    // an optional measurement SUBPROCESS (tools/bench_oracle.py), never a
    // library dependency — fails soft when python3/duckdb is absent.
    // SPARK_GRAFT_SKIP_ORACLE=1: engine-only run for A/B iteration — the
    // DuckDB leg dominates wall-clock at big SFs and its contention noise
    // (observed 3× swings on identical SQL) drowns engine deltas; the
    // headline artifact always keeps the oracle leg.
    val oracleSec: Map[String, Double] = scala.util.Try {
      if (sys.env.get("SPARK_GRAFT_SKIP_ORACLE").contains("1"))
        throw new RuntimeException("oracle skipped")
      val script = java.nio.file.Paths.get(
        sys.props.getOrElse("user.dir", "."), "tools", "bench_oracle.py")
      if (!java.nio.file.Files.exists(script)) throw new RuntimeException("no script")
      val names = kept.map(_.name).toSet
      val tmp = java.nio.file.Files.createTempFile("graft_oracle", ".json")
      // ship only the queries this run timed — the subprocess would
      // otherwise execute the full oracle suite under SPARK_GRAFT_ONLY
      java.nio.file.Files.writeString(tmp, SparkEntry.oracleSqlJson(Some(names)))
      val out =
        try {
          val p = new ProcessBuilder("python3", script.toString, sfDir, tmp.toString).start()
          val o = new String(p.getInputStream.readAllBytes()).trim
          if (p.waitFor() != 0 || !o.startsWith("{")) throw new RuntimeException("oracle bench failed")
          o
        } finally java.nio.file.Files.deleteIfExists(tmp)
      val node = com.fasterxml.jackson.databind.json.JsonMapper.builder().build().readTree(out)
      names.toSeq.sorted.flatMap { n =>
        Option(node.get(n)).filterNot(_.isNull).map(n -> _.asDouble())
      }.toMap
    }.getOrElse(Map.empty)
    val oracleField =
      if (oracleSec.isEmpty) ""
      else ","+"\"oracle_sec\":" + oracleSec.toSeq.sorted
        .map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    // ANN recall@10 vs brute-force ground truth at nprobe ∈ {1, 4, 8} —
    // the quality side of the approximate-search latency trade-off,
    // stamped as a tracked artifact (VERDICT r12 #6; previously only
    // spec-pinned in SubmissionIvfSpec). Deterministic query draw
    // (vec_id % 97, capped) so the number is comparable across rounds;
    // untimed and excluded from the totals — it is a QUALITY row.
    def recallGrid(emb: org.apache.spark.sql.DataFrame,
                   prefix: String): Seq[(String, Double)] = {
      import org.apache.spark.sql.functions.col
      val queries = emb.filter(col("vec_id") % 97 === 0 && col("vec_id") < 6208)
      val truth = graft.ext.Similarity.bruteForceTopK(emb, queries, 10)
        .select(col("q_id"), col("n_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      if (truth.isEmpty) throw new RuntimeException("no queries")
      // nprobe 16 = every cell probed: isolates the PQ-code distortion
      // ceiling from the cell-miss loss the lower nprobes add
      Seq(1, 4, 8, 16).map { np =>
        val got = graft.ext.Similarity.ivfPqTopK(emb, queries, 10,
            nCentroids = 16, nprobe = np, trainIters = 3)
          .select(col("q_id"), col("n_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        s"${prefix}recall_at10_nprobe$np" -> got.intersect(truth).size.toDouble / truth.size
      }
    }
    val annRecall: Seq[(String, Double)] = (if (only.nonEmpty) None else scala.util.Try {
      // two draws (VERDICT r13 #4): the SF's near-random embeddings are
      // the adversarial FLOOR (no cluster structure, cell recall
      // saturates low by construction — a ranking regression and
      // fixture noise look alike there), and a deterministic
      // mixture-of-Gaussians draw tracks the operating point users care
      // about (clustered corpora; recall should sit ≥ ~0.9 @ nprobe 8,
      // so a broken centroid train / ADC shows up as a cliff)
      val random = recallGrid(
        spark.read.parquet(s"$sfDir/embeddings.parquet"), "")
      val clustered = scala.util.Try {
        // planted NEAR-NEIGHBOR FAMILIES, not equidistant blobs: 745
        // families of 11 (center + tiny noise), so each query's true
        // top-10 IS its 10 siblings (cosine ≈ 0.99 in-family vs ≲ 0.4
        // cross-family). A big equidistant cluster was tried first and
        // measures the wrong thing — with 512 near-identical siblings
        // the top-10 among them is ranking quantization noise and
        // recall pins at ~0.25 no matter how healthy the index is.
        // Here a healthy encode/ADC pipeline scores ≈ 1.0 and any
        // encode, LUT, or ADC-fold regression craters the number.
        val nFam = 745; val famSize = 11; val dim = 64; val sigma = 0.02
        val rnd = new scala.util.Random(20260816L)
        def unit(v: Array[Double]): Array[Double] = {
          val nm = math.sqrt(v.map(x => x * x).sum); v.map(_ / nm)
        }
        val centers = Array.fill(nFam)(unit(Array.fill(dim)(rnd.nextGaussian())))
        // driver-built fixture, bounded by construction (8195 × 64
        // floats ≈ 2 MB) — the deterministic seed makes the artifact
        // comparable across rounds and SFs
        val rows = (0 until nFam * famSize).map { i =>
          val c = centers(i / famSize)
          (i.toLong, c.map(x => (x + sigma * rnd.nextGaussian()).toFloat).toSeq)
        }
        val s2 = spark; import s2.implicits._
        recallGrid(rows.toDF("vec_id", "embedding"), "clustered_")
      } match {
        case scala.util.Success(v) => v
        // a broken fixture must be DISTINGUISHABLE from "not run" in
        // adjudication — log before degrading (the quality-cliff signal
        // this leg exists for would otherwise vanish silently)
        case scala.util.Failure(e) =>
          System.err.println(s"[bench] clustered-recall fixture failed: $e")
          Seq.empty
      }
      random ++ clustered
    }.toOption).getOrElse(Seq.empty)
    val recallField =
      if (annRecall.isEmpty) ""
      else ","+"\"ann_recall\":" + annRecall
        .map { case (k, v) => "\"" + k + f"\":$v%.4f" }.mkString("{", ",", "}")
    // ngram-tier superlinearity counters (VERDICT r13 #3): the scale
    // gate in tools/bench_scales.sh adjudicates sf1/sf0.1 growth on
    // COUNTED candidate mass, not wall clock — same corpus and params
    // as the timed dedup_ngram_jaccard row; untimed, outside the totals
    val ngramCounters: Option[(Long, Long, Long)] =
      if (only.nonEmpty) None
      else scala.util.Try(SparkEntry.ngramGateCounters(spark, sfDir)).toOption
    val ngramField = ngramCounters.map { case (g, v, o) =>
      s""","ngram_counters":{"generated":$g,"verify":$v,"output_pairs":$o}"""
    }.getOrElse("")
    // skew gate counters (VERDICT r14 #7): measured per-task shuffle-read
    // rows of the skew row's reduce stage — with map-side combine the
    // 10%-hot hash ships O(map tasks) rows, so max/median stays O(1); a
    // regression to a windowed shape would explode the ratio (scale-free).
    // Untimed, outside the totals, like the ngram counters.
    // r17 (VERDICT r16 #5): the gate now covers the three verdict-named
    // exchanges — curate dedup-hash (the original fixture), the minhash
    // band-bucket exchange, the BM25 df aggregation — each stamped as
    // (tasks, max, median, ratio) with a WARN flag at the guide-§2.5
    // max/median ≥ 5 line. The original skew_counters field (the
    // curate_dedup_hash entry) is kept byte-compatible.
    val skewExchanges: Seq[(String, (Int, Long, Long))] =
      if (only.nonEmpty) Nil
      // one scope, as each timed query has: the minhash plan materializes
      else scala.util.Try(graft.builder.Materialize.scope(SparkEntry.skewGateExchanges(spark, sfDir)))
        .recover { case e =>
          System.err.println(s"skew gate failed, skew_counters/skew_exchanges left out: $e")
          Nil
        }.get
    val skewCounters: Option[(Int, Long, Long)] =
      skewExchanges.collectFirst { case ("curate_dedup_hash", v) => v }
    val skewField = skewCounters.map { case (n, mx, md) =>
      val ratio = if (md > 0) mx.toDouble / md else -1.0
      f""","skew_counters":{"reduce_tasks":$n,"max_task_rows":$mx,"median_task_rows":$md,"ratio":$ratio%.2f}"""
    }.getOrElse("") + (
      if (skewExchanges.isEmpty) ""
      else ","+"\"skew_exchanges\":" + skewExchanges.map { case (nm, (n, mx, md)) =>
        val ratio = if (md > 0) mx.toDouble / md else -1.0
        val warn = md > 0 && ratio >= 5.0
        f""""$nm":{"reduce_tasks":$n,"max_task_rows":$mx,"median_task_rows":$md,"ratio":$ratio%.2f,"warn":$warn}"""
      }.mkString("{", ",", "}"))
    val failedField =
      if (failed.isEmpty) ""
      else ","+"\"failed\":" + failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val redoField =
      if (redoLog.isEmpty) ""
      else ","+"\"steal_redos\":" + redoLog.sortBy(_._1).map { case (n, ds, kept) =>
        "\"" + n + "\":{\"kept\":" + f"$kept%.3f" + ",\"discarded\":" +
          ds.map(d => f"$d%.3f").mkString("[", ",", "]") + "}"
      }.mkString("{", ",", "}")
    val fullLine = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${fmt(results)},"md5_family_sec":${fmt(md5Results)}$oracleField$recallField$ngramField$skewField$failedField$redoField,"sf":"$sfDir"}"""
    // full artifact on disk too — the driver archives only a ~2 KB tail of
    // stdout, which truncated the round-5 line into an unparseable header.
    // FULL runs only: a SPARK_GRAFT_ONLY iteration run would clobber the
    // archived full-suite artifact with a partial one
    if (only.isEmpty) scala.util.Try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(
        sys.props.getOrElse("user.dir", "."), "BENCH_FULL.json"), fullLine + "\n")
    }
    // Compact summary FIRST (human tail-readability): aggregate
    // engine/oracle/ratio plus the per-query [engine, oracle, ratio]
    // triples for the most expensive queries (greedy by max(engine,
    // oracle) until the size budget); the omitted small-query remainder
    // is aggregated, never silently dropped.
    // ratio covers the MATCHED set only: engine queries without an
    // oracle value (missing SQL, null timing) are excluded from BOTH
    // sides — summing them into the numerator alone would inflate the
    // headline ratio exactly when oracle coverage is partial
    val matched = results.collect {
      case (n, Some(e)) if oracleSec.contains(n) => (n, e, oracleSec(n)) }
    val engineMatched = matched.map(_._2).sum
    val oracleTotal = matched.map(_._3).sum
    val ratio = if (oracleTotal > 0) engineMatched / oracleTotal else -1.0
    def triple(n: String, e: Double): String = {
      val o = oracleSec.get(n)
      val r = o.filter(_ > 0).map(ov => f"${e / ov}%.2f").getOrElse("null")
      "\"" + n + f"""\":[$e%.2f,${o.map(v => f"$v%.2f").getOrElse("null")},$r]"""
    }
    val byCost = results.collect { case (n, Some(e)) => (n, e) }
      .sortBy { case (n, e) => -math.max(e, oracleSec.getOrElse(n, 0.0)) }
    val budget = 1500 // chars for the per-query map
    val (entries, omitted) = byCost.foldLeft((Vector.empty[String], Vector.empty[(String, Double)])) {
      case ((acc, om), (n, e)) =>
        val t = triple(n, e)
        if (acc.map(_.length + 1).sum + t.length <= budget) (acc :+ t, om)
        else (acc, om :+ (n -> e))
    }
    val omittedEngine = omitted.map(_._2).sum
    val omittedOracle = omitted.flatMap { case (n, _) => oracleSec.get(n) }.sum
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","engine_sec":$engineMatched%.3f,"oracle_sec":$oracleTotal%.3f,"ratio":$ratio%.3f$failedField,"per_query_eng_orc_ratio":${entries.mkString("{", ",", "}")},"omitted":{"n":${omitted.length},"engine_sec":$omittedEngine%.2f,"oracle_sec":$omittedOracle%.2f},"full":"BENCH_FULL.json"}""")
    // The contract line — {"metric","value","unit","queries",...,"sf"} —
    // goes LAST and byte-identical to BENCH_FULL.json: the driver parses
    // the final stdout line (bare, per build.sbt's StdoutOutput +
    // showSuccess:=false; "[info] "-prefixed output was unparseable in
    // rounds 1-16).
    println(fullLine)
    System.out.flush()
    spark.stop()
    // exit non-zero on any query failure AFTER both JSON lines are out —
    // rc:0 with 11 failures (round 8) read as success to the driver
    if (failed.nonEmpty) sys.exit(2)
  }
}

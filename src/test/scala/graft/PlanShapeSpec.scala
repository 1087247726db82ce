package graft

/** Physical-plan regression guards: the plans we verified by hand
  * (.explain iteration) must stay the plans we ship. */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(q: String): String =
    SparkEntry.table.find(_.name == q).get.plan(spark, dir).queryExecution.executedPlan.toString

  test("c13_joint_lookup broadcasts the dimension side") {
    val p = plan("c13_joint_lookup")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("s1_query_fold compiles to TakeOrderedAndProject with pushed filters (no global sort)") {
    val p = plan("s1_query_fold")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$p")
    assert(!p.contains("rangepartitioning"), s"unexpected global sort:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull"), s"expected pushed filters:\n$p")
  }

  test("q1_agg does map-side partial aggregation and prunes the scan") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum"), s"expected partial aggregation:\n$p")
    // only the 5 referenced columns reach the scan
    val scanLine = p.split("\n").find(_.contains("FileScan parquet")).get
    assert(!scanLine.contains("l_orderkey"), s"scan not pruned:\n$scanLine")
  }

  test("topk is a single TakeOrdered (no shuffle-heavy sort)") {
    val p = plan("topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$p")
  }

  test("IVF corpus-side centroid assignment is a pure projection (no window/sort/shuffle)") {
    import org.apache.spark.sql.functions._
    val emb = sf("embeddings")
    val cents = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").alias("c_id"), col("embedding").alias("c_vec"))
    val p = graft.ext.Similarity.assignToCells(emb, cents, "vec_id", "embedding", keep = 1)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"unexpected window in assignment:\n$p")
    assert(!p.contains("Sort "), s"unexpected sort in assignment:\n$p")
    assert(!p.contains("Exchange"), s"unexpected shuffle in assignment:\n$p")
  }

  test("PQ corpus encode is a pure kernel projection; pqTopK scoring joins BROADCAST query LUTs") {
    import org.apache.spark.sql.functions._
    val s = spark
    val emb = sf("embeddings")
    val books = graft.ext.Similarity.trainPq(emb, m = 4, ksub = 8, iters = 1)
    // corpus side: id + m-byte code, one codegen'd projection — no
    // shuffle, no join; this is the scan that writes the serving table
    val enc = emb.select(col("vec_id"),
      graft.functions.GraftFunctions.pqEncode(s, col("embedding"), books).alias("code"))
      .queryExecution.executedPlan.toString
    assert(enc.contains("graft_pq_encode"), s"kernel missing from encode plan:\n$enc")
    assert(!enc.contains("Exchange"), s"unexpected shuffle in encode:\n$enc")
    // full pqTopK: the only corpus-side join is a BroadcastHashJoin /
    // BroadcastNestedLoopJoin against the query LUTs, and the top-k
    // reduction is the bounded-heap aggregate (no full-width window)
    val p = graft.ext.Similarity.pqTopKWithBooks(
      emb, emb.filter(col("vec_id") < 3), k = 3, books)
      .queryExecution.executedPlan.toString
    assert(p.contains("Broadcast"), s"query side not broadcast:\n$p")
    assert(p.contains("graft_pq_adc"), s"ADC kernel missing:\n$p")
    assert(!p.contains("Window"), s"unexpected window in pqTopK:\n$p")
    assert(p.contains("graft_topk"), s"bounded-heap top-k missing:\n$p")
  }

  test("codes-served ANN scans only (id, cell, code) from the persisted index — no float arrays") {
    import org.apache.spark.sql.functions._
    val s = spark; import s.implicits._
    val emb = sf("embeddings")
    val root = java.nio.file.Files.createTempDirectory("psidx").toString
    val idx = new graft.store.ParquetStore(s, root, "id", "cell")
    val qz = new graft.store.MemoryStore(s, "psqz", key = "qid", lastUpdatedField = "qid")
    val b = new graft.builder.AnnIndexBuilder(
      new graft.store.TableStore(s, emb, "pse", "vec_id", "vec_id"), idx, qz,
      "embedding", nCentroids = 4, m = 4, ksub = 8, iters = 0, family = "md5")
    b.run()
    val plan = b.topK(emb.filter(col("vec_id") < 3), k = 3, nprobe = 2)
      .queryExecution.executedPlan.toString
    // the index scan's ReadSchema carries the code BYTES, never a
    // float/double array — the whole point of the serving shape
    val readSchemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toSeq
    val idxSchemas = readSchemas.filter(_.contains("code"))
    assert(idxSchemas.nonEmpty, s"no index ReadSchema found:\n$plan")
    idxSchemas.foreach(rs =>
      assert(!rs.contains("array<float") && !rs.contains("array<double"),
        s"float vectors leaked into the codes scan: $rs"))
    // probe-cell pruning reaches the scan as a pushed IN filter
    assert(plan.contains("PushedFilters: [In(cell"),
      s"probe-cell IN not pushed to the index scan:\n$plan")
    // broadcast LUT join + bounded-heap reduction, like the batch plane
    assert(plan.contains("Broadcast"), s"query side not broadcast:\n$plan")
    assert(plan.contains("graft_pq_adc"), s"ADC kernel missing:\n$plan")
    assert(plan.contains("graft_topk"), s"bounded-heap top-k missing:\n$plan")
  }

  test("AnnIndexBuilder refuses a populated foreign index layout") {
    val s = spark; import s.implicits._
    val idx = new graft.store.MemoryStore(s, "psfidx", key = "id", lastUpdatedField = "cluster")
    idx.load(Seq((1L, Seq(1.0), 1L, false, 1L)).toDF("id", "vec", "cell", "centroid", "cluster"))
    val qz = new graft.store.MemoryStore(s, "psfqz", key = "qid", lastUpdatedField = "qid")
    val b = new graft.builder.AnnIndexBuilder(
      new graft.store.TableStore(s, sf("embeddings"), "psf", "vec_id", "vec_id"),
      idx, qz, "embedding", nCentroids = 4, m = 2, ksub = 4)
    val e = intercept[IllegalArgumentException] { b.run() }
    assert(e.getMessage.contains("refusing to mix index layouts"))
  }

  test("trained centroids keep the corpus-side assignment a pure projection") {
    import org.apache.spark.sql.functions._
    val emb = sf("embeddings")
    // training runs its own (bounded) jobs up front; the RESULT plan the
    // corpus pays per scan must stay the inlined-argmax projection —
    // identical shape to the untrained pin above
    val cents = graft.ext.Similarity.trainCentroids(emb, nCentroids = 4,
      iters = 2)
    val p = graft.ext.Similarity.assignToCells(emb, cents, "vec_id", "embedding", keep = 1)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"unexpected window in trained assignment:\n$p")
    assert(!p.contains("Sort "), s"unexpected sort in trained assignment:\n$p")
    assert(!p.contains("Exchange"), s"unexpected shuffle in trained assignment:\n$p")
  }

  test("incremental ngram: stored postings semi-join the batch grams via broadcast, kernel lists present") {
    import org.apache.spark.sql.functions._
    val s = spark; import s.implicits._
    val docs = (1L to 6L).map(i => (i, s"alpha beta gamma delta epsilon token$i"))
      .toDF("id", "text")
    val newSigs = graft.ext.Dedup.ngramSignatures(docs.filter(col("id") > 4), "id", "text")
    val oldSigs = graft.ext.Dedup.ngramSignatures(docs.filter(col("id") <= 4), "id", "text")
    val p = graft.ext.Dedup.ngramJaccardIncrementalSigs(newSigs, oldSigs)
      .queryExecution.executedPlan.toString
    // the stored-side gram filter must be a broadcast semi-join (a
    // sort-merge here shuffles corpus-scale postings every batch)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"expected broadcast semi-join on stored postings:\n$p")
    assert(p.contains("graft_bounded_collect"),
      s"expected bounded-collect posting lists:\n$p")
  }

  test("sim_cosine_topk reduces via bounded-heap aggregate, not a full-width window") {
    val p = plan("sim_cosine_topk")
    assert(!p.contains("Window"), s"unexpected window in brute-force top-k:\n$p")
    assert(p.contains("graft_topk"), s"expected graft_topk aggregate:\n$p")
  }

  test("LSH candidate generation is single-shuffle (round 5): bounded-collect, simhash join-free") {
    val ps = plan("dedup_simhash")
    assert(ps.contains("graft_bounded_collect"), s"expected bounded-collect lists:\n$ps")
    // hamming rides the aggregate's aux slot: pair generation + verification
    // need NO join at all — reappearance of one is the 3-shuffle regression
    assert(!ps.contains("Join"), s"unexpected join in simhash pairs:\n$ps")
    val pm = plan("dedup_minhash_lsh")
    assert(pm.contains("graft_bounded_collect"), s"expected bounded-collect candidates:\n$pm")
  }

  test("ngram jaccard shingles via the compiled kernel — no HOF lambda tower, no distinct shuffle") {
    val p = plan("dedup_ngram_jaccard")
    assert(p.contains("graft_ngram_hashes"), s"expected NgramHashes kernel:\n$p")
    // the lambda tower (transform/slice/concat_ws per gram) is interpreted
    // CodegenFallback — its reappearance would be a 4-5x regression
    assert(!p.contains("lambdafunction"), s"unexpected HOF lambdas:\n$p")
    // per-doc set dedup happens inside the kernel: no (id, shingle)
    // distinct aggregate may reappear upstream of the posting join
    assert(!p.contains("HashAggregate(keys=[id"), s"unexpected distinct shuffle:\n$p")
    // naive-branch exchange pins (round 11): both the inverted-index
    // exchange (by gram hash) and the candidate-pair exchange (by a, b)
    // carry explicit REPARTITION_BY_NUM — AQE would coalesce the
    // byte-small shuffles and run the CPU-dense pair stages on 2 cores
    def pinned(key: String): Boolean = p.split("\n").exists(l =>
      l.contains(s"hashpartitioning($key") && l.contains("REPARTITION_BY_NUM"))
    assert(pinned("sh"), s"inverted-index exchange lost its pin:\n$p")
    assert(pinned("a"), s"pair exchange lost its pin:\n$p")
  }

  test("minhash engine family hashes shingles once (kernel), not k string hashes") {
    val p = SparkEntry.table.find(_.name == "dedup_minhash_lsh").get.timed.get(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_ngram_hashes"), s"expected NgramHashes kernel:\n$p")
    // the interpreted per-shingle gram-construction tower must stay gone
    // (lambdas on the SMALL candidate set — zip_with verification, band
    // hashing over 32-long sigs — are fine; per-corpus-row grams are not)
    assert(!p.contains("concat_ws( , slice("), s"gram lambda tower is back:\n$p")
  }

  test("simhash engine signatures are a pure projection — no explode, no shuffle") {
    val p = graft.ext.Dedup.simhashSignatures(sf("documents"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_simhash64"), s"expected SimHash64 kernel:\n$p")
    assert(!p.contains("Exchange"), s"unexpected shuffle in signature stage:\n$p")
    assert(!p.contains("Generate"), s"unexpected explode in signature stage:\n$p")
  }

  test("md5-family spread fires on bare scans, skipped on already-spread batches") {
    import org.apache.spark.sql.functions.col
    val docs = sf("documents").select(col("doc_id"), col("text"))
    def roundRobins(p: String): Int =
      p.split("Exchange RoundRobinPartitioning").length - 1
    // bare scan: the md5 replay family earns exactly one round-robin
    // spread past the scan's split count (the kernels are 10-20× the
    // engine family's hashing cost and otherwise run on 2/32 cores)
    val bare = graft.ext.Dedup
      .simhashSignatures(docs, "doc_id", "text", family = "md5")
      .queryExecution.executedPlan.toString
    assert(roundRobins(bare) == 1, s"expected the family spread exchange:\n$bare")
    // REAL builder-shaped input — Materialize.spread itself, which
    // checkpoints AFTER its repartition and hands downstream a bare
    // LogicalRDD with ≥ core partitions (no Repartition node left in the
    // plan). The guard must recognize the materialized spread and NOT
    // stack an exchange — that re-shipped the corpus per signature call
    // and doubled the 2-batch builder lifecycle (16 → 33 s) when the
    // round-11 guard only looked for plan-carried Repartition nodes.
    // (the test's scope frees it)
    val batch = graft.builder.Materialize.spread(docs)
    assert(batch.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism,
      "precondition: Materialize.spread output must be core-wide")
    val p = graft.ext.Dedup
      .simhashSignatures(batch, "doc_id", "text", family = "md5")
      .queryExecution.executedPlan.toString
    assert(roundRobins(p) == 0,
      s"family spread must not re-exchange a materialized builder batch, found ${roundRobins(p)}:\n$p")
    // plan-carried shape (narrow ops above an explicit repartition): the
    // batch's own exchange is reused, never stacked
    val spread = docs.localCheckpoint(true)
      .repartition(spark.sparkContext.defaultParallelism)
    try {
      val p = graft.ext.Dedup
        .simhashSignatures(spread, "doc_id", "text", family = "md5")
        .queryExecution.executedPlan.toString
      assert(roundRobins(p) == 1,
        s"family spread must reuse the batch's own exchange, found ${roundRobins(p)}:\n$p")
    } finally spread.unpersist()
  }

  test("LSH banded-bucket exchange is pinned at core count (not AQE-coalesced)") {
    import org.apache.spark.sql.functions.col
    val docs = sf("documents").select(col("doc_id"), col("text"))
    // the bucket collect + pair-kernel explode + verify all execute
    // map-side ON the list partitions; left adaptive, AQE sizes the
    // byte-small banded shuffle to 1-2 tasks and the CPU-dense stages
    // run on 2/32 cores (round 11: 3.47 → 2.2 s on ngram's twin pin)
    val p = graft.ext.Dedup
      .minhashLsh(docs, "doc_id", "text", numHashes = 32, bands = 16,
        threshold = 0.5)
      .queryExecution.executedPlan.toString
    val pinned = p.split("\n").exists(l =>
      l.contains("hashpartitioning(band") && l.contains("REPARTITION_BY_NUM"))
    assert(pinned, s"banded exchange lost its explicit repartition pin:\n$p")
  }

  test("sample_hash is a pure filter — no shuffle, no aggregate") {
    val p = plan("sample_hash")
    assert(!p.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$p")
    assert(!p.contains("HashAggregate"), s"unexpected aggregate:\n$p")
    assert(p.contains("Filter"), s"expected a filter plan:\n$p")
  }

  test("builders run their transform plan exactly once (BuilderSpec accumulator pins it)") {
    // shape-level guard: MapBuilder.run must keep the localCheckpoint —
    // the accumulator test in BuilderSpec is the behavioral pin; here we
    // assert the plan the builder writes is the checkpointed one (scan of
    // cached blocks, not a re-derived join)
    val src = new graft.store.TableStore(spark, sf("orders"), "orders",
      "o_orderkey", "o_orderdate")
    val tgt = new graft.store.MemoryStore(spark, "t", key = "o_orderkey",
      lastUpdatedField = "o_orderdate")
    graft.builder.CopyBuilder(src, tgt).run()
    // target contents come from an eagerly-materialized batch: its plan
    // must not re-reference the source parquet scan
    val p = tgt.df.queryExecution.executedPlan.toString
    assert(!p.contains("FileScan parquet"), s"target plan re-reads source:\n$p")
  }

  test("text_pii_scrub is a pure projection — no shuffle before the output sort") {
    val p = plan("text_pii_scrub")
    // exactly one exchange: the deterministic output ORDER BY
    assert(p.split("Exchange").length - 1 <= 1, s"scrub plan shuffles:\n$p")
    assert(!p.contains("HashAggregate"), s"unexpected aggregate:\n$p")
  }

  test("decontamination joins the corpus against BROADCAST eval grams") {
    val p = plan("decon_ngram_overlap")
    assert(p.contains("BroadcastHashJoin"), s"eval grams not broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"expected partial aggregation of match counts:\n$p")
  }

  test("dedup_lines: AQE converts the unhinted hot-line anti-join to broadcast at runtime") {
    val df = SparkEntry.table.find(_.name == "dedup_lines").get.plan(spark, dir)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), s"hot-line removal not an anti-join:\n$p")
    // small hot set -> AQE picks broadcast; a huge one would legitimately
    // shuffle instead (the join is deliberately NOT hinted)
    assert(p.contains("BroadcastHashJoin"),
      s"expected AQE broadcast conversion at this scale:\n$p")
  }

  test("text kernels never re-inline into a Filter (InferFiltersFromGenerate guard)") {
    import org.apache.spark.sql.functions._
    val docs = sf("documents").select(col("doc_id"), col("text"))
    // the explode_outer spelling keeps Catalyst's inferred size>0 filter
    // from re-inlining the regex+shingle kernel into a Filter condition
    // (pre-fix: THREE kernel evals per row — filter twice, project once).
    // A kernel may appear once per plan BRANCH (self-join shapes scan
    // their posting projection twice), but never inside a Filter.
    def kernelInFilter(p: String, kernel: String): Boolean =
      p.linesIterator.exists(l =>
        l.trim.startsWith("+- Filter") && l.contains(kernel)) ||
      p.linesIterator.exists(l =>
        l.trim.startsWith("Filter") && l.contains(kernel))
    val jp = graft.ext.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .queryExecution.executedPlan.toString
    // round 9 (revised): the naive branch STREAMS the postings — no
    // persist; an InMemoryTableScan of fat array<struct> lists measured
    // slower than recomputing the codegen'd pipeline. The kernel must
    // appear at exactly one evaluation site and never inside a Filter
    assert(!kernelInFilter(jp, "graft_ngram_hashes"),
      s"jaccard kernel re-inlined into a Filter:\n$jp")
    assert(!jp.contains("InMemoryTableScan"),
      s"naive jaccard branch must stream, not cache (round-9 regression):\n$jp")
    // every kernel occurrence must be the SAME node — a second distinct
    // evaluation site is the regression this guards
    val sites = jp.linesIterator.filter(_.contains("graft_ngram_hashes"))
      .map(_.replaceAll("^[\\s:+|-]+", "").replaceAll("#\\d+|plan_id=\\d+", ""))
      .toSet
    assert(sites.size <= 1,
      s"jaccard kernel evaluated at ${sites.size} distinct sites:\n$jp")
    val sp = graft.ext.Dedup.duplicatedSpans(docs, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(!kernelInFilter(sp, "graft_ngram_hashes"),
      s"span-detect kernel re-inlined into a Filter:\n$sp")
    val st = graft.ext.Dedup.stripDuplicatedSpans(docs, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(!kernelInFilter(st, "regexp_replace"),
      s"strip normTokens re-inlined into a Filter:\n$st")
  }

  test("semanticDupPairs corpus assignment stays the inlined-argmax projection") {
    import org.apache.spark.sql.functions._
    val emb = sf("embeddings").select(col("vec_id"),
      col("embedding").cast("array<double>").alias("embedding"))
    val p = graft.ext.Similarity.semanticDupPairs(emb, nCentroids = 8,
      threshold = 0.9).queryExecution.executedPlan.toString
    // round 9: the hot-cell cap rides a count window over the cell
    // partition (its exchange doubles as the join partitioning; the two
    // identical join-side stages dedup at runtime under AQE) — the old
    // shape's separate cap aggregation + broadcast anti-join must not
    // resurface
    assert(p.contains("Window [count(1)"), s"expected windowed cell cap:\n$p")
    assert(!p.contains("LeftAnti"), s"cap anti-join resurfaced:\n$p")
    val exchanges = p.split("\n")
      .filter(_.contains("Exchange hashpartitioning"))
      .map(l => l.substring(l.indexOf("Exchange")).replaceAll("#\\d+|plan_id=\\d+", ""))
      .distinct
    assert(exchanges.length === 1,
      s"expected one canonical corpus shuffle, got ${exchanges.length}:\n$p")
    // centroid vectors were collected (bounded by contract) and inlined:
    // assignment is the compiled argmax kernel over the centroid-matrix
    // literal (round 9: NearestCell replaced the k-way greatest(struct)
    // tower, which dropped to interpreted eval past a few dozen cells)
    assert(p.contains("graft_nearest_cell"), s"assignment not the argmax kernel:\n$p")
    // round 7: pair scoring is dot/(na*nb) with norms computed once per
    // row BELOW the self-join — the fused cosine stays in the centroid
    // argmax (per row) but must never run per PAIR (va/vb operands)
    assert(p.contains("graft_dot(va"), s"pair scoring not on the dot kernel:\n$p")
    assert(!p.contains("graft_cosine(va"), s"per-pair cosine resurfaced:\n$p")
  }

  test("rangeJoinCount pre-aggregates the right side below the band join") {
    val p = plan("join_range")
    // the per-timestamp count aggregate must sit under the join: two
    // aggregates total (pre-count + final sum), and the join's streamed
    // side reads the aggregated (ts, count) rows, not raw lineitem rows
    val joinIdx = p.indexOf("Join")
    assert(joinIdx > 0, s"expected a join:\n$p")
    assert(p.indexOf("HashAggregate", joinIdx) > 0 &&
      p.substring(joinIdx).contains("partial_count"),
      s"right side not pre-aggregated below the join:\n$p")
    assert(p.contains("sum"), s"final aggregate must SUM pre-counts:\n$p")
  }

  test("window_sessionize is one session-window aggregation, no row_number/lag window") {
    val p = plan("window_sessionize")
    assert(p.contains("session_window") || p.contains("MergingSessions"),
      s"expected session-window aggregation:\n$p")
    assert(!p.contains("Window "), s"unexpected window operator (the old " +
      s"lag+running-sum spelling carried a second exchange):\n$p")
  }

  test("grouping-set queries expand the pre-aggregate, not the corpus") {
    for (q <- Seq("agg_cube", "agg_rollup")) {
      val p = plan(q)
      // Expand must sit ABOVE a partial aggregation of the base grain:
      // the scan feeds HashAggregate before any Expand appears
      val expandIdx = p.indexOf("Expand")
      val aggBelow = p.indexOf("HashAggregate", expandIdx)
      assert(expandIdx > 0, s"$q expected a grouping-set Expand:\n$p")
      assert(aggBelow > 0, s"$q: no aggregate below the Expand — " +
        s"grouping sets are replicating the corpus:\n$p")
    }
  }

  test("tfidf top-k reduces via the bounded string heap, not a row_number window") {
    val p = plan("text_tfidf_topk")
    assert(p.contains("graft_topk_str"), s"expected TopKStrAgg:\n$p")
    assert(!p.contains("row_number"), s"unexpected row_number window:\n$p")
  }

  test("exact percentile aggregates flat collect_list buffers, not the builtin percentile map") {
    val p = plan("agg_percentile")
    assert(p.contains("collect_list"), s"expected collect_list spelling:\n$p")
    assert(!p.contains("percentile("), s"builtin percentile crept back:\n$p")
  }

  test("ObjectStore first build + covered read stay inside the job budget") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions._
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val base = java.nio.file.Files.createTempDirectory("ps_jobs").toString
    val os = new graft.store.ObjectStore(spark, s"$base/d", s"$base/i",
      key = "o_orderkey", searchableFields = Seq("o_orderstatus"),
      lastUpdatedField = "o_orderdate")
    val orders = sf("orders")
    spark.sparkContext.addSparkListener(l)
    try {
      os.update(orders)
      Thread.sleep(300) // let listener events drain (listenerBus is private)
      // first build = dedup + write fused per plane, no checkpoint. AQE
      // materializes each plane's dedup shuffle as its own job, so the
      // budget is 2 jobs/plane × 2 planes = 4; a checkpoint (one extra
      // up-front action + its AQE stage) pushes this to 5+.
      val updateJobs = jobs.get()
      assert(updateJobs <= 4, s"ObjectStore first-build update ran " +
        s"$updateJobs jobs (budget 4: AQE shuffle + write, per plane)")
      jobs.set(0)
      val out = os.query(graft.query.QueryParams(
        criteria = Some("""{"o_orderstatus": "F"}"""),
        properties = Seq("o_orderkey", "o_orderstatus"),
        sort = Seq("o_orderkey" -> 1))).collect()
      Thread.sleep(300) // let listener events drain (listenerBus is private)
      // covered read answers from the slim index alone: one first-touch
      // schema/footer job (memoized per version by ParquetStore — a
      // REPEAT read pays zero), then range-sampling for the global sort,
      // the AQE-materialized shuffle, and the result job — 4. More means
      // the read left the index (data-plane join), grew an extra
      // exchange, or the read memoization regressed.
      val readJobs = jobs.get()
      assert(out.nonEmpty)
      assert(readJobs <= 4, s"covered read ran $readJobs jobs (budget 4)")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("count-model builders: insert, lu-update and no-op runs stay at their job pins; pendingItems previews exactly the processed ids") {
    import org.apache.spark.TestListenerBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions._
    import graft.builder.{AnnIndexBuilder, Bm25IndexBuilder, Builder, QualityClfBuilder,
      UnigramLmBuilder}
    import graft.store.{MemoryStore, ParquetStore, Store}
    val s = spark; import s.implicits._
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val base = java.nio.file.Files.createTempDirectory("ps_countjobs").toString
    val texts = Seq("alpha beta alpha gamma", "beta gamma delta", "win money free now",
      "nice article about science", "", "great science text today",
      "delta epsilon zeta", "alpha zeta money")
    def vec(i: Long) = Seq(i.toDouble, (i * 7 % 5).toDouble, (i * 3 % 4).toDouble, 1.0)
    val run1 = texts.zipWithIndex.map { case (t, i) => (i + 1L, t, i % 2, 1L, vec(i + 1L)) }
    // run 2: doc 2 is re-written (and relabeled), doc 9 is new
    val run2 = Seq((2L, "beta science news", 0, 2L, vec(5L)),
      (9L, "fresh gamma words", 1, 2L, vec(9L)))
    val cols = Seq("doc_id", "text", "label", "lu", "embedding")
    // per-doc max lu the contributions (or postings) carry — a run
    // processed exactly the ids whose entry appeared or changed
    def absorbed(st: Store): Map[Long, Long] =
      if (!st.df.columns.contains("lu")) Map.empty
      else st.df.groupBy(col("id")).agg(max(col("lu")).cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // `pins` are the Spark jobs of the insert, lu-update and no-op runs —
    // a pin moves only with a deliberate change to a builder's job plan
    def check(name: String, src: MemoryStore, contrib: Store, mk: () => Builder,
              pins: Seq[Int]): Unit = {
      src.load(run1.toDF(cols: _*))
      val got = Seq(None, Some(run2), None).map { delta =>
        delta.foreach(d => src.update(d.toDF(cols: _*)))
        val pending = mk().pendingItems().select(col("doc_id")).as[Long]
          .collect().toSet
        val before = absorbed(contrib)
        TestListenerBus.drain(spark.sparkContext)
        jobs.set(0)
        val report = mk().run()
        TestListenerBus.drain(spark.sparkContext)
        val n = jobs.get()
        val after = absorbed(contrib)
        val processed = after.keySet.filter(k => before.get(k) != after.get(k))
        assert(pending === processed, s"$name: pendingItems previewed " +
          s"${pending.toSeq.sorted}, the run processed ${processed.toSeq.sorted}")
        assert(report.processed === pending.size.toLong, s"$name: report")
        n
      }
      assert(got === pins, s"$name: jobs per run (insert, lu-update, no-op)")
    }
    spark.sparkContext.addSparkListener(l)
    try {
      locally {
        val src = new MemoryStore(spark, "pjUlmSrc", "doc_id", "lu")
        val vocab = new ParquetStore(spark, s"$base/vocab", "tok", "last_updated",
          deltaWrites = true)
        val contrib = new ParquetStore(spark, s"$base/udocs", "id", "lu",
          deltaWrites = true)
        check("UnigramLm", src, contrib,
          () => new UnigramLmBuilder(src, vocab, "text", docs = Some(contrib)),
          Seq(7, 25, 14))
      }
      locally {
        val src = new MemoryStore(spark, "pjClfSrc", "doc_id", "lu")
        val model = new ParquetStore(spark, s"$base/model", "bucket", "last_updated",
          deltaWrites = true)
        val contrib = new ParquetStore(spark, s"$base/qdocs", "id", "lu",
          deltaWrites = true)
        check("QualityClf", src, contrib,
          () => new QualityClfBuilder(src, model, "text", "label", docs = Some(contrib)),
          Seq(7, 28, 11))
      }
      locally {
        val src = new MemoryStore(spark, "pjBmSrc", "doc_id", "lu")
        val index = new ParquetStore(spark, s"$base/idx", "id", "term",
          deltaWrites = true)
        val stats = new ParquetStore(spark, s"$base/st", "sid", "sid")
        check("Bm25", src, index,
          () => new Bm25IndexBuilder(src, index, stats, "text"), Seq(9, 20, 9))
      }
      locally {
        val src = new MemoryStore(spark, "pjAnnSrc", "doc_id", "lu")
        val index = new ParquetStore(spark, s"$base/ann", "id", "cell",
          deltaWrites = true)
        val qz = new ParquetStore(spark, s"$base/qz", "qid", "qid")
        check("AnnIndex", src, index,
          () => new AnnIndexBuilder(src, index, qz, "embedding", nCentroids = 2,
            m = 2, ksub = 4, family = "md5"), Seq(18, 18, 13))
      }
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("DedupBuilder (minhash, md5, indexed): insert, lu-update and no-op runs stay at their job pins; pendingItems previews exactly the processed ids") {
    import org.apache.spark.TestListenerBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions._
    import graft.builder.DedupBuilder
    import graft.store.{MemoryStore, ParquetStore}
    val s = spark; import s.implicits._
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val base = java.nio.file.Files.createTempDirectory("ps_dedupjobs").toString
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val other = "another standalone document body with its own phrasing"
    val texts = Seq(dup, dup, "totally different words entirely here now for sure",
      other, other, "nice article about science and its methods today",
      "win money free now with this one simple trick", dup)
    val run1 = texts.zipWithIndex.map { case (t, i) => (i + 1L, t, 1L) }
    // run 2: doc 1 (the canonical of {1, 2, 8}) is re-written, so 2 is
    // promoted by the repair pass; doc 9 is new and joins {4, 5}
    val run2 = Seq((1L, "entirely novel replacement content appearing once only", 2L),
      (9L, other, 2L))
    val cols = Seq("doc_id", "text", "lu")
    val src = new MemoryStore(spark, "pjDedupSrc", "doc_id", "lu")
    val idx = new ParquetStore(spark, s"$base/idx", "id", "cluster", deltaWrites = true)
    val tgt = new ParquetStore(spark, s"$base/tgt", "doc_id", "lu", deltaWrites = true)
    def mk() = new DedupBuilder(src, tgt, "text", "minhash", threshold = 0.5,
      indexStore = Some(idx), family = "md5")
    // per-doc lu the index rows carry — a run processed exactly the ids
    // whose row appeared or changed lu (a relabel keeps the row's lu)
    def absorbed(): Map[Long, Long] =
      if (!idx.df.columns.contains("lu")) Map.empty
      else idx.df.select(col("id"), col("lu")).as[(Long, Long)].collect().toMap
    src.load(run1.toDF(cols: _*))
    spark.sparkContext.addSparkListener(l)
    val got = try Seq(None, Some(run2), None).map { delta =>
      delta.foreach(d => src.update(d.toDF(cols: _*)))
      val pending = mk().pendingItems().select(col("doc_id")).as[Long].collect().toSet
      val before = absorbed()
      TestListenerBus.drain(spark.sparkContext)
      jobs.set(0)
      val report = mk().run()
      TestListenerBus.drain(spark.sparkContext)
      val n = jobs.get()
      val after = absorbed()
      val processed = after.keySet.filter(k => before.get(k) != after.get(k))
      assert(pending === processed, s"pendingItems previewed ${pending.toSeq.sorted}, " +
        s"the run processed ${processed.toSeq.sorted}")
      assert(report.processed === pending.size.toLong, "report")
      n
    } finally spark.sparkContext.removeSparkListener(l)
    // the repair promoted 2; the target is the from-scratch canonical view
    assert(tgt.df.select("doc_id").as[Long].collect().sorted === Array(1L, 2L, 3L, 4L, 6L, 7L))
    // a pin moves only with a deliberate change to the builder's job plan
    assert(got === Seq(33, 85, 12), "jobs per run (insert, lu-update, no-op)")
  }

  test("text-profile queries ride the compiled kernels, not regex scans") {
    val g = plan("text_gopher_rules")
    assert(g.contains("graft_text_profile") || g.contains("profileLower"),
      s"gopher rules not on the compiled kernel:\n$g")
    assert(!g.contains("aggregate(") && !g.contains("regexp_extract_all"),
      s"gopher rules still carry HOF/regex passes:\n$g")
    val st = plan("text_stats")
    assert(st.contains("graft_text_counts"),
      s"text_stats not on the compiled counts kernel:\n$st")
  }

  test("bm25TopK: query legs broadcast, no sort-merge join") {
    val p = plan("text_bm25_topk")
    // every query-side join (query terms, the local idf/avgdl slice) is
    // a broadcast — the corpus never shuffles for a join. The df
    // aggregation itself runs eagerly (semi-pruned to query terms +
    // sentinel via PushDownLeftSemiAntiJoin, collected as a
    // contract-small local slice) and so does not appear here; the
    // posting INDEX (Bm25IndexBuilder) remains the real 100 TB path.
    assert(!p.contains("SortMergeJoin"), s"unexpected sort-merge join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
  }

  test("bm25TopK: ONE corpus tokenize pass in the returned plan; stats ride the df agg") {
    // BM25 is a self-join (postings ⋈ per-term df), so the corpus
    // tokenizes exactly TWICE in total: once in the eager df/stats
    // aggregation (collected as a query-sized local slice — carrying
    // (N, Σdl) on the per-doc sentinel posting, NOT a third tokenize
    // pass like the r12 shape), and once in the returned scored plan.
    // The RETURNED plan must therefore contain exactly ONE corpus-side
    // tokenize: the scored pass plus the (contract-small) query leg.
    val p = plan("text_bm25_topk")
    val gens = p.split("\n").count(l =>
      l.contains("Generate") && l.contains("graft_term_counts"))
    assert(gens <= 2,
      s"expected ≤2 tokenize passes in the served plan (1 corpus + 1 query), got $gens:\n$p")
    // the idf/avgdl slice is a local relation broadcast — no stats
    // crossJoin, so no BroadcastNestedLoopJoin around the score kernel
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"stats crossJoin reappeared (breaks whole-stage codegen):\n$p")
  }

  test("Bm25 (deleteOrphans): insert, update+delete and no-op runs stay at their job pins; pendingItems previews exactly the processed ids") {
    import org.apache.spark.TestListenerBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions._
    import graft.builder.Bm25IndexBuilder
    import graft.store.{MemoryStore, ParquetStore}
    val s = spark; import s.implicits._
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val base = java.nio.file.Files.createTempDirectory("ps_bm25orph").toString
    val texts = Seq("alpha beta alpha gamma", "beta gamma delta", "win money free now",
      "nice article about science", "", "great science text today",
      "delta epsilon zeta", "alpha zeta money")
    val cols = Seq("doc_id", "text", "lu")
    val src = new MemoryStore(spark, "pjBmOrphSrc", "doc_id", "lu")
    val index = new ParquetStore(spark, s"$base/idx", "id", "term", deltaWrites = true)
    val stats = new ParquetStore(spark, s"$base/st", "sid", "sid")
    def mk() = new Bm25IndexBuilder(src, index, stats, "text", deleteOrphans = true)
    // per-doc max lu the postings carry — a run processed exactly the
    // ids whose entry appeared or changed
    def absorbed(): Map[Long, Long] =
      if (!index.df.columns.contains("lu")) Map.empty
      else index.df.groupBy(col("id")).agg(max(col("lu")).cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    src.load(texts.zipWithIndex.map { case (t, i) => (i + 1L, t, 1L) }.toDF(cols: _*))
    // run 2: doc 2 is re-written, doc 9 is new, doc 3 is deleted
    val round2 = () => {
      src.update(Seq((2L, "beta science news", 2L), (9L, "fresh gamma words", 2L))
        .toDF(cols: _*))
      src.removeKeys(Seq(3L).toDF("doc_id"))
    }
    spark.sparkContext.addSparkListener(l)
    val got = try Seq(None, Some(round2), None).map { round =>
      round.foreach(_())
      val pending = mk().pendingItems().select(col("doc_id")).as[Long].collect().toSet
      val before = absorbed()
      TestListenerBus.drain(spark.sparkContext)
      jobs.set(0)
      val report = mk().run()
      TestListenerBus.drain(spark.sparkContext)
      val n = jobs.get()
      val after = absorbed()
      val processed = after.keySet.filter(k => before.get(k) != after.get(k))
      assert(pending === processed, s"pendingItems previewed ${pending.toSeq.sorted}, " +
        s"the run processed ${processed.toSeq.sorted}")
      assert(report.processed === pending.size.toLong, "report")
      n
    } finally spark.sparkContext.removeSparkListener(l)
    assert(absorbed().keySet === Set(1L, 2L, 4L, 5L, 6L, 7L, 8L, 9L))
    assert(mk().loadStats().map(_._1) === Some(8L))
    // a pin moves only with a deliberate change to the builder's job plan
    // (the orphan removal and the stats decrement ride the run's one
    // index and one stats write: the two-commit sweep measured 14/34/12)
    assert(got === Seq(9, 20, 9), "jobs per run (insert, update+delete, no-op)")
  }

  test("serving reads over ParquetStores run 0 Spark jobs: a search, a lexical BM25 query and a byKey") {
    import org.apache.spark.TestListenerBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.api._
    import graft.builder.Bm25IndexBuilder
    import graft.store.ParquetStore
    val s = spark; import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("ps_serve").toString
    val cols = Seq("id", "crystal_system", "band_gap", "chemsys", "description", "last_updated")
    def docs(ids: Seq[Long], lu: Long) = ids.map(i => (i, Seq("cubic", "hexagonal")((i % 2).toInt),
      (i % 7) * 0.5, s"Fe-O${i % 3}", s"oxide crystal number ${i % 11} band metal", lu)).toDF(cols: _*)
    val store = new ParquetStore(spark, s"$base/docs", "id", "last_updated", deltaWrites = true)
    store.update(docs(1L to 400L, 1L))
    val lex = new Bm25IndexBuilder(store, new ParquetStore(spark, s"$base/idx", "id", "lu"),
      new ParquetStore(spark, s"$base/st", "sid", "sid"), "description")
    lex.run()
    store.update(docs(395L to 410L, 2L)) // a pending delta, as a stream leaves it
    lex.run()
    val read = new ReadResource(store, Seq(new PaginationQuery(10, 100), new SortQuery(),
      new SparseFieldsQuery(), new DynamicQuery(store.df.schema), new FacetQuery("chemsys", 5)))
    val search = new SearchResource(lex)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsOf(body: => Any): Int = {
      TestListenerBus.drain(spark.sparkContext)
      jobs.set(0)
      body
      TestListenerBus.drain(spark.sparkContext)
      jobs.get()
    }
    spark.sparkContext.addSparkListener(l)
    val got = try (1 to 2).flatMap { _ => Seq(
      jobsOf(read.search(Map("crystal_system" -> "cubic", "band_gap_min" -> "1.0",
        "_sort_fields" -> "-band_gap,id", "_skip" -> "10", "_limit" -> "20",
        "_fields" -> "id,chemsys,band_gap"))),
      jobsOf(search.search("""{"text": "oxide number 7 metal", "k": 10}""".getBytes("UTF-8"))),
      jobsOf(read.byKey("403")))
    } finally spark.sparkContext.removeSparkListener(l)
    assert(got === Seq(0, 0, 0, 0, 0, 0), "jobs (search, bm25, byKey) x 2")
  }
}

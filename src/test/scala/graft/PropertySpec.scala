package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._

/** Randomized properties over the operator surface (ScalaCheck's own sbt
  * framework). Each property evaluates a BATCH of generated inputs as one
  * DataFrame, so a run costs a handful of Spark jobs, not hundreds;
  * iteration count is trimmed accordingly. */
object PropertySpec extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = SparkSpec.session

  property("zlib and gzip codecs round-trip arbitrary binary payloads") =
    forAll(Gen.nonEmptyListOf(Gen.nonEmptyListOf(
      Gen.chooseNum(Byte.MinValue, Byte.MaxValue)))) { payloads =>
      val s = spark; import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val df = payloads.map(_.toArray).zipWithIndex
        .map { case (b, i) => (i, b) }.toDF("i", "b")
      val rows = df.selectExpr(
        "zlib_inflate(zlib_deflate(b)) AS z",
        "gzip_decompress(gzip_compress(b)) AS g", "b").collect()
      rows.forall { r =>
        java.util.Arrays.equals(r.getAs[Array[Byte]]("z"), r.getAs[Array[Byte]]("b")) &&
        java.util.Arrays.equals(r.getAs[Array[Byte]]("g"), r.getAs[Array[Byte]]("b"))
      }
    }

  property("hashSample and its complement partition any key set at any rate") =
    forAll(Gen.chooseNum(0.0, 1.0), Gen.nonEmptyListOf(Gen.chooseNum(-1000000L, 1000000L))) {
      (rate, keys) =>
        val s = spark; import s.implicits._
        val df = keys.distinct.toDF("k")
        val in = graft.ext.Sampling.hashSample(df, "k", rate)
          .collect().map(_.getLong(0)).toSet
        val out = graft.ext.Sampling.hashSampleComplement(df, "k", rate)
          .collect().map(_.getLong(0)).toSet
        in.intersect(out).isEmpty && (in ++ out) == keys.distinct.toSet
    }

  property("quantileCont is bit-identical to the builtin percentile aggregate") =
    forAll(
      Gen.nonEmptyListOf(Gen.chooseNum(-1e6, 1e6)),
      Gen.chooseNum(0.0, 1.0)) { (values, q) =>
      val s = spark; import s.implicits._
      val df = values.toDF("v")
      val row = df.agg(
        expr(s"percentile(v, $q)").alias("builtin"),
        graft.functions.GraftFunctions.quantileCont(
          sort_array(collect_list(col("v"))), q).alias("sorted")).collect()(0)
      // exact bit agreement, not tolerance — the oracle gate hashes values
      java.lang.Double.doubleToLongBits(row.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(row.getDouble(1))
    }

  property("TopKStrAgg equals the row_number window spelling incl. ties") =
    forAll(Gen.chooseNum(1, 6), Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(0, 5), Gen.oneOf("alpha", "beta", "gamma", "delta", "x"),
      Gen.chooseNum(0, 3)))) { (k, rows) =>
      val s = spark; import s.implicits._
      // coarse score grid + term collisions force tie-break coverage
      val df = rows.map { case (g, t, sc) => (g, t, sc.toDouble) }
        .toDF("g", "term", "score").distinct()
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
        .orderBy(col("score").desc, col("term").asc)
      val win = df.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("g"), col("rank"), col("term"), col("score"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSet
      val agg = df.groupBy(col("g"))
        .agg(graft.functions.TopKStrAgg.topk(s, col("score"), col("term"), k).alias("t"))
        .select(col("g"), posexplode(col("t")))
        .select(col("g"), (col("pos") + 1).cast("int").alias("rank"),
          col("col.term"), col("col.score"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSet
      win == agg
    }

  property("int8 quantization preserves cosine >= 0.98 for bounded vectors") =
    forAll(Gen.nonEmptyListOf(
      Gen.listOfN(16, Gen.chooseNum(-1.0, 1.0)).suchThat(_.exists(x => math.abs(x) > 0.1)))) {
      vecs =>
        val s = spark; import s.implicits._
        val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toDF("vec_id", "embedding")
        val q = graft.ext.Similarity.quantizeI8(df, "embedding")
        val worst = q.select(graft.functions.GraftFunctions.cosine(s,
            col("embedding"),
            graft.ext.Similarity.dequantize(col("q"), col("q_scale"))).alias("c"))
          .agg(min(col("c"))).collect()(0).getDouble(0)
        worst >= 0.98
    }

  property("asofJoin backward/forward with tolerance matches the naive per-row reference") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 1000L))),
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 1000L))),
      Gen.oneOf("backward", "forward"),
      Gen.option(Gen.chooseNum(0L, 300L))) { (ls, rs0, dir, tol) =>
      val s = spark; import s.implicits._
      val ts = (m: Long) => new java.sql.Timestamp(m)
      // payload = the right row's own ts, so equal-(key,ts) right rows are
      // interchangeable and ties can't make the check flaky
      val rs = rs0.distinct
      val left = ls.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, ts(t)) }
        .toDF("event_id", "user_id", "ts")
      val right = rs.map { case (k, t) => (k, ts(t), t) }
        .toDF("user_id", "ts", "rts")
      val got = graft.ext.TemporalJoins.asofJoin(left, right, Seq("user_id"),
          "ts", Map("matched" -> "rts"), direction = dir, toleranceMs = tol)
        .collect()
        .map(r => r.getAs[Long]("event_id") ->
          Option(r.getAs[Any]("matched")).map(_.asInstanceOf[Long])).toMap
      val want = ls.zipWithIndex.map { case ((k, t), i) =>
        val cands = rs.collect { case (rk, rt) if rk == k &&
          (if (dir == "backward") rt <= t else rt >= t) => rt }
        val m = (if (dir == "backward") cands.sorted.lastOption
                 else cands.sorted.headOption)
          .filter(rt => tol.forall(tm => math.abs(t - rt) <= tm))
        i.toLong -> m
      }.toMap
      got == want
    }

  property("incremental dedup (minhash|simhash|ngram) converges to the from-scratch canonical set") =
    forAll(
      Gen.chooseNum(4, 14).flatMap(n => Gen.listOfN(n,
        Gen.listOfN(8, Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon",
          "zeta", "eta", "theta")).map(_.mkString(" ")))),
      Gen.oneOf("minhash", "simhash", "ngram"),
      Gen.chooseNum(0.0, 1.0)) { (texts, method, splitFrac) =>
      val s = spark; import s.implicits._
      import graft.builder.DedupBuilder
      import graft.store.MemoryStore
      val t0 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t, t0) }
      val cut = math.max(1, (docs.size * splitFrac).toInt)
      val uid = java.util.UUID.randomUUID().toString.take(8)
      val src = new MemoryStore(s, s"psrc$uid", key = "doc_id", lastUpdatedField = "lu")
      val tgt = new MemoryStore(s, s"ptgt$uid", key = "doc_id", lastUpdatedField = "lu")
      val idx = new MemoryStore(s, s"pidx$uid", key = "id", lastUpdatedField = "cluster")
      def builder() = new DedupBuilder(src, tgt, "text", method,
        threshold = 0.5, indexStore = Some(idx))
      // two incremental batches...
      src.load(docs.take(cut).toDF("doc_id", "text", "lu"))
      builder().run()
      if (docs.size > cut) {
        src.update(docs.drop(cut).toDF("doc_id", "text", "lu"))
        builder().run()
      }
      val incremental = tgt.df.select("doc_id").collect().map(_.getLong(0)).toSet
      // ...must land exactly where one from-scratch build does (the ext
      // calls materialize into the scope that consumes their frame)
      val all = docs.toDF("doc_id", "text", "lu")
      val scratch = graft.builder.Materialize.scope {
        val pairs = method match {
          case "minhash" => graft.ext.Dedup.minhashLsh(all, "doc_id", "text", threshold = 0.5)
          case "simhash" => graft.ext.Dedup.simhashPairs(all, "doc_id", "text")
          case _ => graft.ext.Dedup.ngramJaccardPairs(all, "doc_id", "text", threshold = 0.5)
        }
        graft.ext.Dedup.keepCanonical(all, pairs, "doc_id")
          .select("doc_id").collect().map(_.getLong(0)).toSet
      }
      incremental == scratch
    }

  property("duplicatedSpans equals the naive window-frequency reference") =
    forAll(Gen.chooseNum(2, 10).flatMap(n => Gen.listOfN(n,
      Gen.chooseNum(1, 8).flatMap(len => Gen.listOfN(len,
        Gen.oneOf("red", "blue", "green", "gold"))).map(_.mkString(" "))))) { texts =>
      val s = spark; import s.implicits._
      val n = 3
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.ext.Dedup.duplicatedSpans(docs, "doc_id", "text", n = n)
        .collect().map(r => r.getAs[Long]("id") ->
          (r.getAs[Long]("dup_spans"), r.getAs[Long]("total_spans"))).toMap
      // naive reference mirrors the kernel contract: normalized tokens,
      // per-doc DISTINCT windows, whole text as one window when short
      def windows(t: String): Set[String] = {
        val tk = t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
          .split("\\s+").filter(_.nonEmpty)
        if (tk.length < n) Set(tk.mkString(" "))
        else tk.sliding(n).map(_.mkString(" ")).toSet
      }
      val perDoc = texts.zipWithIndex.map { case (t, i) => i.toLong -> windows(t) }
      val df = perDoc.flatMap(_._2).groupBy(identity).view.mapValues(_.size)
      val want = perDoc.flatMap { case (id, ws) =>
        val dup = ws.count(w => df(w) >= 2)
        if (dup > 0) Some(id -> (dup.toLong, ws.size.toLong)) else None
      }.toMap
      got == want
    }

  property("PQ encode/ADC kernels equal an independent driver-side reference") =
    forAll(
      Gen.chooseNum(1, 3),                 // m subspaces
      Gen.chooseNum(2, 5),                 // ksub centroids per book
      Gen.chooseNum(1, 3),                 // dsub dims per subspace
      Gen.nonEmptyListOf(Gen.chooseNum(-10.0, 10.0))) { (m, ksub, dsub, flat) =>
      val s = spark; import s.implicits._
      val dim = m * dsub
      // deterministic codebooks derived from the generated stream
      val books: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
        Array.tabulate(ksub) { c =>
          Array.tabulate(dsub)(t =>
            flat((j * ksub * dsub + c * dsub + t) % flat.length) + 0.1 * j - 0.2 * c)
        }
      }
      val vecs = flat.indices.take(8).map { i =>
        i.toLong -> Seq.tabulate(dim)(d => flat((i * 7 + d * 3) % flat.length).toFloat)
      }
      val df = vecs.toDF("vec_id", "embedding")
      // reference: nearest-L2 per subspace, then exact ADC cosine from
      // the reconstructed codes — plain Scala, no kernel code shared
      def refCode(v: Seq[Float]): Array[Int] = Array.tabulate(m) { j =>
        (0 until ksub).minBy { c =>
          val d = (0 until dsub).map { t =>
            val x = v(j * dsub + t).toDouble - books(j)(c)(t); x * x
          }.sum
          (d, c) // ties toward smallest code, like the kernel
        }
      }
      val enc = df.select(col("vec_id"), graft.functions.GraftFunctions
          .pqEncode(s, col("embedding"), books, asInts = true).alias("c"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
      val codesOk = vecs.forall { case (id, v) => enc(id).sameElements(refCode(v)) }
      // ADC property: query q against every encoded row matches the
      // reference cosine between q and the RECONSTRUCTED vector
      val q = vecs.head._2.map(x => x + 0.25f)
      val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
      def refAdc(code: Array[Int]): Option[Double] = {
        val recon = code.zipWithIndex.flatMap { case (c, j) => books(j)(c) }
        val rn = math.sqrt(recon.map(x => x * x).sum)
        if (qn == 0.0 || rn == 0.0) None
        else Some(recon.zip(q).map { case (r, x) => r * x.toDouble }.sum / (qn * rn))
      }
      val queries = Seq((999L, q)).toDF("vec_id", "embedding")
      val adc = graft.ext.Similarity
        .pqTopKWithBooks(df, queries, k = vecs.size, books)
        .select(col("n_id"), col("sim")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val adcOk = vecs.forall { case (id, _) =>
        refAdc(enc(id)) match {
          case None => !adc.contains(id)
          // topKPerQuery rounds sims to 4 decimals on output
          case Some(ref) => adc.get(id).exists(v => math.abs(v - ref) < 5e-5)
        }
      }
      codesOk && adcOk
    }

  property("codes-served IVF-PQ equals the batch operator on arbitrary corpora") =
    forAll(Gen.chooseNum(8, 40), Gen.chooseNum(1, 6), Gen.chooseNum(0L, 1000L)) {
      (n, dimQuarter, salt) =>
        val s = spark; import s.implicits._
        val dim = dimQuarter * 4
        // deterministic pseudo-random vectors from (id, salt) — varied
        // but replayable inputs without driver RNG state
        def vec(i: Long): Seq[Double] =
          Seq.tabulate(dim)(d => math.sin(0.7 * i + 1.3 * d + salt) + 0.01 * (i % 7))
        val corpus = (1L to n.toLong).map(i => (i, vec(i))).toDF("vec_id", "embedding")
        val queries = corpus.filter(col("vec_id") <= 3)
        val batch = graft.ext.Similarity.ivfPqTopK(corpus, queries, k = 3,
            nCentroids = 4, nprobe = 2, m = 2, ksub = 4, iters = 0, family = "md5")
          .orderBy("q_id", "rank")
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
        val src = new graft.store.TableStore(s, corpus, "pc", "vec_id", "vec_id")
        val idx = new graft.store.MemoryStore(s, "pcidx", key = "id", lastUpdatedField = "cell")
        val qz = new graft.store.MemoryStore(s, "pcqz", key = "qid", lastUpdatedField = "qid")
        val b = new graft.builder.AnnIndexBuilder(src, idx, qz, "embedding",
          nCentroids = 4, m = 2, ksub = 4, iters = 0, family = "md5")
        b.run()
        val served = b.topK(queries, k = 3, nprobe = 2).orderBy("q_id", "rank")
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
        served == batch
    }

  property("MongoFilter range/membership criteria equal the native predicate") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(-1000L, 1000L)), Gen.chooseNum(-1000L, 1000L)) {
      (vals, pivot) =>
        val s = spark; import s.implicits._
        val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("k", "v")
        val gt = graft.query.MongoFilter(df, s"""{"v": {"$$gt": $pivot}}""")
          .collect().map(_.getLong(1)).toSeq.sorted
        val nativeGt = vals.filter(_ > pivot).sorted
        val inSet = vals.take(3)
        val innerIn = graft.query.MongoFilter(df,
            s"""{"v": {"$$in": [${inSet.mkString(",")}]}}""")
          .collect().map(_.getLong(1)).toSeq.sorted
        val nativeIn = vals.filter(inSet.contains).sorted
        gt == nativeGt && innerIn == nativeIn
    }
}

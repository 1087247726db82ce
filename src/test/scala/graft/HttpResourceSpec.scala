package graft

import graft.api._
import graft.store.TableStore

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** A11/A13 transport layer: real HTTP round-trips against the JDK-server
  * host (reference `read_resource.py` / `post_resource.py` behavior). */
class HttpResourceSpec extends SparkSpec {

  private lazy val store =
    new TableStore(spark, sf("orders"), "orders", "o_orderkey", "o_orderdate")
  private lazy val resource = new ReadResource(store, Seq(
    new PaginationQuery(defaultLimit = 5, maxLimit = 100),
    new SortQuery(),
    new SparseFieldsQuery(defaultFields = Seq("o_orderkey", "o_totalprice")),
    new DynamicQuery(sf("orders").schema)))
  private lazy val server = GraftHttp.serve(Map("orders" -> resource))
  private lazy val base = s"http://localhost:${server.getAddress.getPort}/orders"
  private val client = HttpClient.newHttpClient()

  private def get(url: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  private def post(url: String, body: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  override def afterAll(): Unit = { server.stop(0); super.afterAll() }

  test("GET search: pagination + sort + sparse fields + meta.total_doc") {
    val (st, body) = get(s"$base/?_limit=3&_sort_fields=-o_totalprice")
    assert(st === 200)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
    assert(node.get("data").size() === 3)
    assert(node.get("meta").get("total_doc").asLong() === store.count())
    val prices = (0 until 3).map(i => node.get("data").get(i).get("o_totalprice").asDouble())
    assert(prices === prices.sorted.reverse)
    // sparse default projection: exactly the two default fields
    val names = node.get("data").get(0).fieldNames()
    val fields = Iterator.continually(names).takeWhile(_ => names.hasNext).map(_.next()).toSet
    assert(fields === Set("o_orderkey", "o_totalprice"))
  }

  test("GET search: dynamic numeric filter narrows results and total_doc") {
    val (st, body) = get(s"$base/?o_totalprice_min=300000&_limit=100")
    assert(st === 200)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
    val expected = store.count(Some("""{"o_totalprice": {"$gte": 300000}}"""))
    assert(node.get("meta").get("total_doc").asLong() === expected)
    assert(node.get("data").size().toLong === math.min(expected, 100L))
  }

  test("GET /{key}: typed key lookup; 404 on absent; 400 on non-numeric") {
    val someKey = store.query(graft.query.QueryParams(limit = Some(1)))
      .collect()(0).getAs[Long]("o_orderkey")
    val (st, body) = get(s"$base/$someKey")
    assert(st === 200 && body.contains(s""""o_orderkey":$someKey"""))
    assert(get(s"$base/999999999")._1 === 404)
    assert(get(s"$base/not-a-number")._1 === 400)
  }

  test("GET search: 400 over max limit, 405 on unsupported method") {
    val (st, body) = get(s"$base/?_limit=101")
    assert(st === 400 && body.contains("exceeds max"))
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"$base/"))
        .method("DELETE", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() === 405)
  }

  test("POST search (A13): JSON body params compile like query params") {
    val (st, body) = post(s"$base/",
      """{"_limit": 2, "_sort_fields": "-o_totalprice", "o_orderstatus": "F"}""")
    assert(st === 200)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
    assert(node.get("data").size() === 2)
    assert(node.get("meta").get("total_doc").asLong() ===
      store.count(Some("""{"o_orderstatus": "F"}""")))
    // a malformed body is the client's error, not a 500
    assert(post(s"$base/", "{not json")._1 === 400)
  }

  test("BlobResource (A15 analogue): payload bytes + ETag, /meta JSON, 404") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("blobhttp").toString
    val bs = new graft.store.BlobStore(spark, dir, key = "blob_id",
      compression = true)
    bs.put(Seq(
      ("b1", "payload-one".getBytes("UTF-8"), new java.sql.Timestamp(1000L)),
      ("b2", "payload-two".getBytes("UTF-8"), new java.sql.Timestamp(2000L)))
      .toDF("blob_id", "content", "last_updated"))
    val srv = GraftHttp.serve(Map.empty, blobs = Map("blob" -> new BlobResource(bs)))
    try {
      val url = s"http://localhost:${srv.getAddress.getPort}/blob"
      val r = client.send(HttpRequest.newBuilder(URI.create(s"$url/b1")).GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(r.statusCode() === 200)
      assert(new String(r.body(), "UTF-8") === "payload-one")
      assert(r.headers().firstValue("ETag").isPresent)
      val (ms, mb) = get(s"$url/b2/meta")
      assert(ms === 200 && mb.contains("\"content_md5\""))
      assert(get(s"$url/nope")._1 === 404)
    } finally srv.stop(0)
  }

  test("slow query is cancelled at the deadline -> 504 (read_resource.py:256-267)") {
    import org.apache.spark.sql.functions.{col, udf}
    val sleepy = udf((x: Long) => { Thread.sleep(20); x }).asNondeterministic()
    val slowDf = spark.range(2000).select(col("id"), sleepy(col("id")).alias("slow"))
    val st = new TableStore(spark, slowDf, "slow", "id", "id")
    val res = new ReadResource(st, Seq(new PaginationQuery(5, 100)),
      defaultCriteria = Some("""{"slow": {"$gte": 0}}"""), timeoutMs = 400)
    val t0 = System.nanoTime()
    val e = intercept[ApiError](res.search(Map.empty))
    assert(e.status === 504)
    // the watchdog cancelled the job group — we did NOT sit out the scan
    assert((System.nanoTime() - t0) / 1e9 < 20.0)
    // and the same surfaces over HTTP as status 504
    val srv = GraftHttp.serve(Map("slow" -> res))
    try assert(get(s"http://localhost:${srv.getAddress.getPort}/slow/")._1 === 504)
    finally srv.stop(0)
  }

  test("AnnResource: POST vector serves top-k from persisted codes; 400s; 405; 504 deadline") {
    import org.apache.spark.sql.functions._
    import graft.builder.AnnIndexBuilder
    import graft.store.MemoryStore
    val emb = sf("embeddings").select(col("vec_id"), col("embedding"))
    val src = new MemoryStore(spark, "annrsrc", "vec_id", "vec_id"); src.load(emb)
    val idx = new MemoryStore(spark, "annridx", "id", "cell")
    val qz = new MemoryStore(spark, "annrqz", "qid", "qid")
    val b = new AnnIndexBuilder(src, idx, qz, "embedding",
      nCentroids = 8, m = 8, ksub = 16, iters = 0, family = "md5")
    b.run()
    val res = new AnnResource(b, defaultK = 5, maxK = 10)
    val srv = GraftHttp.serve(Map.empty, anns = Map("ann" -> res))
    try {
      val url = s"http://localhost:${srv.getAddress.getPort}/ann/"
      val vec = emb.filter(col("vec_id") === 5L).head().getSeq[Float](1)
      val body = s"""{"vector": [${vec.mkString(",")}], "k": 3}"""
      val (st, resp) = post(url, body)
      assert(st === 200, resp)
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(resp)
      assert(node.get("data").size() === 3)
      assert(node.get("meta").get("k").asInt() === 3)
      assert(node.get("meta").get("returned").asInt() === 3)
      // the sentinel query id means the exact corpus copy is NOT a
      // self-match — the vector finds itself at rank 1
      assert(node.get("data").get(0).get("id").asLong() === 5L)
      assert(node.get("data").get(0).get("rank").asInt() === 1)
      // k capped at maxK, not trusted from the client
      val (stBig, respBig) = post(url, s"""{"vector": [${vec.mkString(",")}], "k": 9999}""")
      assert(stBig === 200)
      assert(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(respBig).get("meta").get("k").asInt() === 10)
      // 400 contract
      assert(post(url, """{"k": 3}""")._1 === 400)
      assert(post(url, "not json")._1 === 400)
      assert(post(url, """{"vector": ["a"]}""")._1 === 400)
      assert(post(url, """{"vector": []}""")._1 === 400)
      // a vector of the wrong dimension is refused, not ranked
      assert(b.vectorDim.exists(_ != 2))
      assert(post(url, """{"vector": [1.0, 2.0]}""")._1 === 400)
      // 405: ANN serving is POST-only
      assert(this.get(url)._1 === 405)
      // 504: a deadline-exceeding codes scan is cancelled by the shared
      // watchdog, same contract as every read resource
      val sleepy = udf((x: Long) => { Thread.sleep(20); x }).asNondeterministic()
      val slowIdx = new MemoryStore(spark, "annrslow", "id", "cell")
      slowIdx.load(idx.df.withColumn("cell", sleepy(col("cell"))))
      val slowB = new AnnIndexBuilder(src, slowIdx, qz, "embedding",
        nCentroids = 8, m = 8, ksub = 16, iters = 0, family = "md5")
      val slowRes = new AnnResource(slowB, timeoutMs = 400)
      val slowSrv = GraftHttp.serve(Map.empty, anns = Map("slowann" -> slowRes))
      try {
        val t0 = System.nanoTime()
        val (st504, _) = post(
          s"http://localhost:${slowSrv.getAddress.getPort}/slowann/", body)
        assert(st504 === 504)
        assert((System.nanoTime() - t0) / 1e9 < 20.0)
      } finally slowSrv.stop(0)
    } finally srv.stop(0)
  }

  test("SearchResource: POST text serves BM25 top-k; +vector fuses via RRF; 400 contract") {
    import org.apache.spark.sql.functions._
    import graft.builder.{AnnIndexBuilder, Bm25IndexBuilder}
    import graft.store.MemoryStore
    val docs = sf("documents").select(col("doc_id"), col("text"))
    val emb = sf("embeddings").select(col("vec_id"), col("embedding"))
    val dsrc = new MemoryStore(spark, "hsrc", "doc_id", "doc_id"); dsrc.load(docs)
    val pidx = new MemoryStore(spark, "hpidx", "id", "term")
    val pst = new MemoryStore(spark, "hpst", "sid", "sid")
    val lex = new Bm25IndexBuilder(dsrc, pidx, pst, "text")
    lex.run()
    val vsrc = new MemoryStore(spark, "hvsrc", "vec_id", "vec_id"); vsrc.load(emb)
    val vidx = new MemoryStore(spark, "hvidx", "id", "cell")
    val vqz = new MemoryStore(spark, "hvqz", "qid", "qid")
    val ann = new AnnIndexBuilder(vsrc, vidx, vqz, "embedding",
      nCentroids = 8, m = 8, ksub = 16, iters = 0, family = "md5")
    ann.run()
    val res = new SearchResource(lex, Some(ann), defaultK = 5, maxK = 10)
    val srv = GraftHttp.serve(Map.empty, anns = Map("search" -> res))
    try {
      val url = s"http://localhost:${srv.getAddress.getPort}/search/"
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      // lexical-only: querying with doc 7's own text must hit doc 7 at
      // rank 1 (the sentinel query id never self-excludes a corpus doc)
      val qtext = docs.filter(col("doc_id") === 7L).head().getString(1)
      val (st1, r1) = post(url, mapper.writeValueAsString(
        mapper.createObjectNode().put("text", qtext).put("k", 3)))
      assert(st1 === 200, r1)
      val n1 = mapper.readTree(r1)
      assert(n1.get("meta").get("legs").asInt() === 1)
      assert(n1.get("data").size() === 3)
      assert(n1.get("data").get(0).get("id").asLong() === 7L)
      // hybrid: doc 7's text + vector 7's embedding — both legs rank
      // id 7 first, so the fused rank 1 is 7 with rrf = 2/(60+1)
      val vec = emb.filter(col("vec_id") === 7L).head().getSeq[Float](1)
      val bodyNode = mapper.createObjectNode().put("text", qtext).put("k", 3)
      val arr = bodyNode.putArray("vector"); vec.foreach(f => arr.add(f.toDouble))
      val (st2, r2) = post(url, mapper.writeValueAsString(bodyNode))
      assert(st2 === 200, r2)
      val n2 = mapper.readTree(r2)
      assert(n2.get("meta").get("legs").asInt() === 2)
      assert(n2.get("data").get(0).get("id").asLong() === 7L)
      assert(math.abs(n2.get("data").get(0).get("rrf").asDouble() - 2.0 / 61) < 1e-6)
      // 400 contract
      assert(post(url, """{"k": 3}""")._1 === 400)                  // no text
      assert(post(url, "not json")._1 === 400)
      assert(post(url, """{"text": "x", "vector": ["a"]}""")._1 === 400)
      // nprobe and vector dimension are validated at parse time — a
      // 400, never a 500 from inside the ANN leg
      assert(post(url, """{"text": "x", "nprobe": 0}""")._1 === 400)
      assert(post(url, """{"text": "x", "nprobe": -3}""")._1 === 400)
      assert(post(url, """{"text": "x", "vector": [1.0, 2.0]}""")._1 === 400)
      // vector posted to a lexical-only endpoint → 400, not a crash
      val lexOnly = GraftHttp.serve(Map.empty,
        anns = Map("lex" -> new SearchResource(lex)))
      try assert(post(s"http://localhost:${lexOnly.getAddress.getPort}/lex/",
        mapper.writeValueAsString(bodyNode))._1 === 400)
      finally lexOnly.stop(0)
    } finally srv.stop(0)
  }

  test("TokenizeResource: POST text counts/encodes under persisted merges; Runner bpe_train wires it") {
    import org.apache.spark.sql.functions._
    import graft.store.MemoryStore
    val s = spark; import s.implicits._
    val docs = sf("documents").select(col("doc_id"), col("text"))
    // the Runner "bpe_train" spec type trains and persists the merges
    val base = java.nio.file.Files.createTempDirectory("bpe_run").toString
    docs.write.parquet(s"$base/src.parquet")
    val spec =
      s"""{
         |  "stores": {
         |    "src": {"type": "parquet_table", "path": "$base/src.parquet",
         |            "key": "doc_id", "last_updated": "doc_id"},
         |    "merges": {"type": "parquet", "root": "$base/merges",
         |               "key": "rank", "last_updated": "rank"}
         |  },
         |  "builders": [
         |    {"type": "bpe_train", "source": "src", "merges": "merges",
         |     "num_merges": 64, "batch_size": 16}
         |  ]
         |}""".stripMargin
    assert(graft.run.Runner.run(spark, spec).builders.head._2.processed === 64)
    // a repeat run over the trained store SKIPS (train-once artifact)
    assert(graft.run.Runner.run(spark, spec).builders.head._2.processed === 0)
    val mst = new graft.store.ParquetStore(spark, s"$base/merges", "rank", "rank")
    val res = new TokenizeResource(mst)
    val srv = GraftHttp.serve(Map.empty, anns = Map("tokenize" -> res))
    try {
      val url = s"http://localhost:${srv.getAddress.getPort}/tokenize/"
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val sample = docs.filter(col("doc_id") === 7L).head().getString(1)
      val (st1, r1) = post(url, mapper.writeValueAsString(
        mapper.createObjectNode().put("text", sample).put("encode", true)))
      assert(st1 === 200, r1)
      val n1 = mapper.readTree(r1)
      // served count == the engine's distributed bpeTokenCounts on the
      // same doc under the same persisted merges (bit-identical kernel)
      val merges = graft.ext.Bpe.loadMerges(mst)
      val engineN = graft.ext.Bpe.bpeTokenCounts(
        docs.filter(col("doc_id") === 7L), "doc_id", "text", merges)
        .head().getLong(1)
      assert(n1.get("data").get("n_tokens").asLong() === engineN)
      assert(n1.get("meta").get("n_merges").asInt() === 64)
      // encoded symbols concat back to the normalized words
      val syms = (0 until n1.get("data").get("tokens").size())
        .map(n1.get("data").get("tokens").get(_).asText()).mkString
      val normed = sample.toLowerCase.replaceAll("[^a-z0-9]+", "")
      assert(syms === normed)
      // 400 contract
      assert(post(url, "not json")._1 === 400)
      assert(post(url, """{"encode": true}""")._1 === 400)
    } finally srv.stop(0)
  }

  test("context matching is exact: /ordersfoo is 404, not a key lookup on /orders") {
    assert(get(s"${base}foo")._1 === 404)
    assert(get(s"${base}foo/42")._1 === 404)
  }

  test("serve() rejects a name present in both resources and blobs") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("blobdup").toString
    val bs = new graft.store.BlobStore(spark, dir, key = "blob_id")
    val e = intercept[IllegalArgumentException] {
      GraftHttp.serve(Map("orders" -> resource),
        blobs = Map("orders" -> new BlobResource(bs)))
    }
    assert(e.getMessage.contains("disjoint") && e.getMessage.contains("orders"))
  }

  test("A1 hooks: postProcess transforms docs, meta carries facet counts") {
    import org.apache.spark.sql.functions._
    val tagging = new QueryOperator {
      def query(params: Map[String, String]) = graft.query.QueryParams.empty
      override def postProcess(results: org.apache.spark.sql.DataFrame,
                               params: Map[String, String]) =
        results.withColumn("served_by", lit("graft"))
    }
    val res = new ReadResource(store, Seq(
      new PaginationQuery(5, 100), tagging, new FacetQuery("o_orderstatus")),
      responseHeaders = Map("X-Graft-Resource" -> "orders"))
    val srv = GraftHttp.serve(Map("orders" -> res))
    try {
      val url = s"http://localhost:${srv.getAddress.getPort}/orders/?_limit=2"
      val r = client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 200)
      assert(r.headers().firstValue("X-Graft-Resource").orElse("") === "orders")
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body())
      assert(node.get("data").get(0).get("served_by").asText() === "graft")
      val facets = node.get("meta").get("facet_o_orderstatus")
      assert(facets !== null)
      assert(facets.get("F").asLong() ===
        store.count(Some("""{"o_orderstatus": "F"}""")))
    } finally srv.stop(0)
  }

  test("facet meta: two facets cost the same job count as one (single-scan serving path)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { counter.incrementAndGet(); () }
    }
    // poll until the async listener bus has drained (counter stable 300ms)
    def settled(): Int = {
      var last = -1; var cur = counter.get(); var spins = 0
      while (cur != last && spins < 20) {
        last = cur; Thread.sleep(300); cur = counter.get(); spins += 1
      }
      cur
    }
    def jobsFor(facets: Seq[FacetQuery]): (Int, com.fasterxml.jackson.databind.JsonNode) = {
      val res = new ReadResource(store, Seq(new PaginationQuery(5, 100)) ++ facets)
      val srv = GraftHttp.serve(Map("orders" -> res))
      try {
        val url = s"http://localhost:${srv.getAddress.getPort}/orders/?_limit=2"
        spark.sparkContext.addSparkListener(listener)
        counter.set(0)
        val r = client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() === 200)
        val n = settled()
        (n, new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body()).get("meta"))
      } finally {
        spark.sparkContext.removeSparkListener(listener); srv.stop(0)
      }
    }
    val (jobs1, _) = jobsFor(Seq(new FacetQuery("o_orderstatus")))
    val (jobs2, meta2) = jobsFor(Seq(
      new FacetQuery("o_orderstatus"), new FacetQuery("o_orderpriority", topK = 3)))
    // the second facet must not add a Spark job: all facets ride one
    // explode-struct aggregation (FacetQuery.combinedMeta)
    assert(jobs2 === jobs1)
    // payload identical to the per-facet meta hook
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val perField = new FacetQuery("o_orderstatus").meta(store.df, Map.empty) ++
      new FacetQuery("o_orderpriority", topK = 3).meta(store.df, Map.empty)
    perField.foreach { case (k, v) =>
      assert(meta2.get(k) === om.readTree(v), s"facet $k")
    }
  }

  test("A14 submission routes: POST intake, dup -> 409, PATCH appends state, GET reflects it") {
    val inner = new graft.store.MemoryStore(spark, "subs",
      key = "submission_id", lastUpdatedField = "last_updated")
    val sub = new SubmissionStore(inner, duplicateFields = Seq("name"))
    val res = new SubmissionResource(sub, Seq(new PaginationQuery(10, 100)))
    val srv = GraftHttp.serve(Map("submissions" -> res))
    try {
      val url = s"http://localhost:${srv.getAddress.getPort}/submissions"
      val (c1, b1) = post(s"$url/", """{"name": "alpha", "payload": 1}""")
      assert(c1 === 201 && b1.contains(""""accepted": 1"""))
      // duplicate on the configured field -> 409 (submission.py:121-139)
      val (c2, b2) = post(s"$url/", """{"name": "alpha", "payload": 2}""")
      assert(c2 === 409 && b2.contains("duplicate"))
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val doc = om.readTree(get(s"$url/")._2).get("data").get(0)
      val sid = doc.get("submission_id").asText()
      assert(doc.get("current_state").asText() === "submitted")
      // PATCH appends to the state history (submission.py:289-321)
      val pr = client.send(HttpRequest.newBuilder(URI.create(s"$url/$sid?state=approved"))
        .method("PATCH", HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(pr.statusCode() === 200 && pr.body().contains("approved"))
      val after = om.readTree(get(s"$url/$sid")._2).get("data").get(0)
      assert(after.get("current_state").asText() === "approved")
      assert(after.get("state_history").size() === 2)
      // PATCH on an unknown id -> 404
      val p404 = client.send(HttpRequest.newBuilder(URI.create(s"$url/nope?state=x"))
        .method("PATCH", HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(p404.statusCode() === 404)
      // PATCH with a malformed body -> 400
      val pBad = client.send(HttpRequest.newBuilder(URI.create(s"$url/$sid"))
        .method("PATCH", HttpRequest.BodyPublishers.ofString("{not json")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(pBad.statusCode() === 400)
    } finally srv.stop(0)
  }

  test("concurrent requests are served in parallel (per-request threads)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec = scala.concurrent.ExecutionContext.global
    val results = Await.result(
      Future.sequence((1 to 6).map(i => Future(get(s"$base/?_limit=$i")))),
      60.seconds)
    assert(results.forall(_._1 == 200))
    val sizes = results.map { case (_, body) =>
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(body).get("data").size()
    }
    assert(sizes.sorted === (1 to 6))
  }

  test("count cache: repeat search fires no count job; injected cap is marked in meta") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { counter.incrementAndGet(); () }
    }
    def settled(): Int = {
      var last = -1; var cur = counter.get(); var spins = 0
      while (cur != last && spins < 20) {
        last = cur; Thread.sleep(300); cur = counter.get(); spins += 1
      }
      cur
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // no PaginationQuery → the 1000-row safety cap is injected and must
    // be visible in meta; criteria via defaultCriteria → real count job.
    // Caching is opt-in (countTtlMs defaults to 0, matching the
    // reference's per-request recompute), so this resource opts in.
    val res = new ReadResource(store, Seq(),
      defaultCriteria = Some("""{"o_orderstatus": "O"}"""), countTtlMs = 30000)
    spark.sparkContext.addSparkListener(listener)
    try {
      counter.set(0)
      val first = mapper.readTree(res.search(Map.empty))
      val j1 = settled()
      counter.set(0)
      val second = mapper.readTree(res.search(Map.empty))
      val j2 = settled()
      // the repeat search reuses the cached count → strictly fewer jobs
      assert(j2 < j1, s"expected fewer jobs on the cached search, got $j1 then $j2")
      assert(second.get("meta").get("total_doc").asLong() ===
        first.get("meta").get("total_doc").asLong())
      // injected-cap marker: applied limit + truncation flag
      assert(first.get("meta").get("limit").asLong() === 1000L)
      val total = first.get("meta").get("total_doc").asLong()
      assert(first.get("meta").get("truncated").asBoolean() ===
        (total > first.get("data").size()))
      // default countTtlMs = 0 → no cache: both searches pay the count
      val live = new ReadResource(store, Seq(),
        defaultCriteria = Some("""{"o_orderstatus": "O"}"""))
      live.search(Map.empty)
      counter.set(0)
      live.search(Map.empty)
      val jLive = settled()
      assert(jLive > j2, s"uncached resource must still fire the count job ($jLive vs $j2)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("opt-in count cache is invalidated by a store write (contentToken)") {
    import org.apache.spark.sql.functions._
    val mem = new graft.store.MemoryStore(spark, "cachemem", "o_orderkey", "o_orderdate")
    mem.load(sf("orders").limit(10).localCheckpoint(true))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // long TTL: without token invalidation the stale count would persist
    val res = new ReadResource(mem, Seq(new PaginationQuery(5, 100)),
      countTtlMs = 600000)
    val before = mapper.readTree(res.search(Map.empty))
      .get("meta").get("total_doc").asLong()
    assert(before === 10L)
    // builder-style write: 5 fresh keys land in the store
    mem.update(sf("orders").orderBy(desc("o_orderkey")).limit(5)
      .localCheckpoint(true))
    val after = mapper.readTree(res.search(Map.empty))
      .get("meta").get("total_doc").asLong()
    assert(after === 15L,
      s"total_doc must reflect the write inside the TTL window, got $after")
  }

  test("GET /{key} on an indexed ParquetStore reads one row group, not the store") {
    val s = spark; import s.implicits._
    // serving-path proof of the S8 key-clustered layout: the /{key}
    // criteria compiles to an equality the parquet reader prunes on, so
    // a point lookup's input is ONE row group's rows — compared against
    // an unindexed (hash-layout) twin, where footer min/max can't prune
    // and every group is scanned. 4 shuffle partitions x 2500 rows each.
    def mkStore(indexed: Boolean): graft.store.ParquetStore = {
      val root = java.nio.file.Files.createTempDirectory(
        s"pq_serve_$indexed").toString
      val st = new graft.store.ParquetStore(spark, root, key = "k",
        lastUpdatedField = "lu")
      if (indexed) st.ensureIndex("k")
      st.update((1L to 10000L).map(k => (k, 1L)).toDF("k", "lu"))
      st
    }
    val records = new java.util.concurrent.atomic.AtomicLong(0)
    val tasksDone = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (te.taskMetrics != null)
          records.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
        tasksDone.incrementAndGet()
      }
    }
    def settledRecords(): Long = { // listener events are async
      var last = -1L; var spins = 0
      while (records.get() != last && spins < 40) {
        last = records.get(); Thread.sleep(200); spins += 1
      }
      records.get()
    }
    def lookupRecords(st: graft.store.ParquetStore): Long = {
      val res = new ReadResource(st, Seq(new PaginationQuery(5, 100)))
      records.set(0)
      assert(res.byKey("7777").isDefined)
      settledRecords()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val indexed = lookupRecords(mkStore(indexed = true))
      val unindexed = lookupRecords(mkStore(indexed = false))
      // clustered: only the one candidate group contributes rows
      // (~10000/4, with slack for repartitionByRange's sampled splits)
      assert(indexed <= 3500,
        s"indexed lookup read $indexed records — pruning not effective")
      // the unindexed twin demonstrates the counterfactual: every group's
      // range covers the key, so (modulo reader batch granularity and the
      // limit-1 short-circuit) it reads a multiple of the pruned input
      assert(unindexed >= 2 * indexed,
        s"unindexed lookup read $unindexed vs indexed $indexed — not probative")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a point lookup on an indexed ParquetStore is pruned to one row group, by the plan and by the point read") {
    val s = spark; import s.implicits._
    // 4 shuffle partitions x 2500 rows each, as in the test above
    def mkStore(indexed: Boolean): graft.store.ParquetStore = {
      val st = new graft.store.ParquetStore(spark,
        java.nio.file.Files.createTempDirectory(s"pq_prune_$indexed").toString, key = "k",
        lastUpdatedField = "lu")
      if (indexed) st.ensureIndex("k")
      st.update((1L to 10000L).map(k => (k, 1L)).toDF("k", "lu"))
      st
    }
    val records = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) records.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    // the plan path: a `$eq` criteria is not `{key: scalar}`, so it runs
    // as a scan whose pushed equality parquet prunes by row-group min/max
    def planRecords(st: graft.store.ParquetStore): Long = {
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      records.set(0)
      assert(st.query("""{"k": {"$eq": 7777}}""").count() === 1L)
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      records.get()
    }
    val (indexed, unindexed) = (mkStore(indexed = true), mkStore(indexed = false))
    spark.sparkContext.addSparkListener(listener)
    try {
      val (i, u) = (planRecords(indexed), planRecords(unindexed))
      assert(i > 0 && i <= 3500, s"indexed scan read $i records, not one row group")
      assert(u >= 2 * i, s"unindexed scan read $u records vs indexed $i, not probative")
    } finally spark.sparkContext.removeSparkListener(listener)
    // the point read: the indexed store's key statistics leave one
    // ~2500-row group, which is decoded on the driver with no job; the
    // unindexed store's groups all cover the key, 10000 rows are over
    // the point read's row ceiling, and the lookup takes the plan
    val want = s"""{"k":7777,"lu":1}"""
    val res = (st: graft.store.ParquetStore) => new ReadResource(st, Seq(new PaginationQuery(5, 100)))
    assert(jobsIn(res(indexed).byKey("7777")) === (Some(want), 0))
    val (got, n) = jobsIn(res(unindexed).byKey("7777"))
    assert(got === Some(want) && n >= 1, s"unindexed lookup ran $n jobs")
  }

  test("defaultCriteria is $and-merged into every search and key lookup") {
    val guarded = new ReadResource(store, Seq(new PaginationQuery(5, 100)),
      defaultCriteria = Some("""{"o_orderstatus": "O"}"""))
    val n = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(guarded.search(Map.empty)).get("meta").get("total_doc").asLong()
    assert(n === store.count(Some("""{"o_orderstatus": "O"}""")))
    val fKey = store.query("""{"o_orderstatus": "F"}""")
      .collect()(0).getAs[Long]("o_orderkey")
    assert(guarded.byKey(fKey.toString).isEmpty)
  }

  /** `body`'s result and the Spark jobs started while it ran. */
  private def jobsIn[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("GET /{key} on a ParquetStore with a pending delta runs no Spark job right after a commit") {
    import org.apache.spark.sql.functions.col
    val s = spark; import s.implicits._
    val st = new graft.store.ParquetStore(spark,
      java.nio.file.Files.createTempDirectory("pq_bykey_jobs").toString, key = "k",
      lastUpdatedField = "lu", deltaWrites = true)
    def row(k: Long, v: String) = (k, v, new java.sql.Timestamp(k * 1000L))
    st.update((1L to 200L).map(k => row(k, s"v$k")).toDF("k", "v", "lu"))
    val srv = GraftHttp.serve(Map("docs" -> new ReadResource(st, Seq(new PaginationQuery(5, 100)))))
    try {
      val url = s"http://localhost:${srv.getAddress.getPort}/docs"
      def served(k: Long): (Int, String) = {
        val ((status, body), n) = jobsIn(get(s"$url/$k"))
        assert(n === 0, s"GET /docs/$k started $n Spark jobs")
        (status, body)
      }
      for ((k, v) <- Seq(7L -> "seven", 150L -> "late", 7L -> "again")) {
        st.update(Seq(row(k, v)).toDF("k", "v", "lu")) // a commit: one more pending delta
        val want = st.df.filter(col("k") === k).toJSON.collect().toSeq
        assert(want.size === 1 && want.head.contains(v))
        assert(served(k) === (200, s"""{"data": [${want.head}]}"""))
      }
      assert(st.contentToken.contains(";d_1,d_2,d_3"))
      val base = st.df.filter(col("k") === 8L).toJSON.collect().head
      assert(served(8L) === (200, s"""{"data": [$base]}"""))
      assert(served(999L)._1 === 404)
    } finally srv.stop(0)
  }

  test("BlobResource fetch and meta select by key with no Spark job; bytes and md5 unchanged") {
    import org.apache.spark.sql.functions.col
    val s = spark; import s.implicits._
    val bs = new graft.store.BlobStore(spark,
      java.nio.file.Files.createTempDirectory("blob_jobs").toString, key = "blob_id",
      compression = true)
    def put(id: String, text: String) = bs.put(Seq((id, text.getBytes("UTF-8"),
      new java.sql.Timestamp(1000L))).toDF("blob_id", "content", "last_updated"))
    put("b1", "payload-one")
    put("b2", "payload-two")
    put("b2", "payload-two, rewritten") // left pending as a delta
    val res = new BlobResource(bs)
    def md5(text: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    for ((id, text) <- Seq("b1" -> "payload-one", "b2" -> "payload-two, rewritten")) {
      val (got, n) = jobsIn(res.fetch(id))
      assert(n === 0, s"fetch($id) started $n Spark jobs")
      val (bytes, sum) = got.get
      assert(new String(bytes, "UTF-8") === text && sum === md5(text))
      val (meta, m) = jobsIn(res.meta(id))
      assert(m === 0, s"meta($id) started $m Spark jobs")
      assert(meta.toSeq === bs.df.filter(col("blob_id") === id)
        .select(col("blob_id"), col("metadata.*")).toJSON.collect().toSeq)
    }
    assert(jobsIn(res.fetch("nope")) === (None, 0))
  }

  test("BlobResource meta decodes no payload: over the point read's byte ceiling, fetch takes the plan and meta runs no job") {
    import org.apache.spark.sql.functions.col
    val s = spark; import s.implicits._
    val bs = new graft.store.BlobStore(spark,
      java.nio.file.Files.createTempDirectory("blob_bytes").toString, key = "blob_id")
    // three incompressible 2 MiB payloads: 6 MiB of payload in the row
    // groups a lookup of any of them has to consider
    val rnd = new scala.util.Random(7)
    val blobs = Seq("b1", "b2", "b3").map(id => id -> Array.fill(2 << 20)(rnd.nextInt().toByte))
    bs.put(blobs.map { case (id, b) => (id, b, new java.sql.Timestamp(1000L)) }
      .toDF("blob_id", "content", "last_updated"))
    val res = new BlobResource(bs)
    val (got, n) = jobsIn(res.fetch("b2"))
    assert(got.map(_._1.toSeq) === Some(blobs(1)._2.toSeq) && n >= 1,
      s"fetch over the byte ceiling ran $n jobs")
    val (meta, m) = jobsIn(res.meta("b2"))
    assert(m === 0, s"meta(b2) started $m Spark jobs")
    assert(meta.toSeq === bs.df.filter(col("blob_id") === "b2")
      .select(col("blob_id"), col("metadata.*")).toJSON.collect().toSeq)
  }
}

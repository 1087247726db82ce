package graft

import graft.ext.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Recall/quality properties of the approximate operators (the judge of
  * "does the LSH path actually find what the exact path finds"). */
class ExtQualitySpec extends SparkSpec {

  private lazy val docs = sf("documents")

  test("minhashLsh finds injected near-duplicates (recall >= 0.9)") {
    val base = docs.select(col("doc_id"), col("text"))
    val twins = base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 500000).alias("doc_id"),
        concat(col("text"), lit(" tiny suffix")).alias("text"))
    val corpus = base.unionByName(twins)
    val expected = twins.count()
    val pairs = Dedup.minhashLsh(corpus, "doc_id", "text", threshold = 0.5)
    val found = pairs.filter(col("b") === col("a") + 500000).count()
    assert(found >= (expected * 0.9).toLong,
      s"found $found of $expected injected near-dup pairs")
  }

  test("simhash: exact duplicates have hamming 0") {
    val base = docs.select(col("doc_id"), col("text")).limit(50)
    val copies = base.select((col("doc_id") + 500000).alias("doc_id"), col("text"))
    val pairs = Dedup.simhashPairs(base.unionByName(copies), "doc_id", "text")
    val exact = pairs.filter(col("b") === col("a") + 500000)
    assert(exact.count() === 50)
    assert(exact.agg(max(col("hamming"))).collect()(0).getInt(0) === 0)
  }

  test("ngramJaccard: identical docs score 1.0; unrelated pairs absent") {
    val s = spark; import s.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "completely different words entirely here")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3, threshold = 0.5)
      .collect()
    assert(pairs.length === 1)
    assert(pairs(0).getAs[Long]("a") === 1L && pairs(0).getAs[Long]("b") === 2L)
    assert(pairs(0).getAs[Double]("jaccard") === 1.0)
  }

  test("ngramJaccard: prefix-filtered branch equals the naive branch pair-for-pair") {
    val s = spark; import s.implicits._
    // randomized corpus with heavy gram sharing: small vocab, planted
    // near-dups (suffix edits) and exact dups — the shape that makes
    // prefix filtering non-trivial (shared grams across many docs)
    val rnd = new scala.util.Random(20260814L)
    val vocab = Vector("red", "blue", "green", "gold", "ash", "oak", "elm",
      "iron", "salt", "mist", "dawn", "dusk")
    val base = (1L to 120L).map { i =>
      (i, (0 until (6 + rnd.nextInt(20))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val nearDups = base.filter(_._1 % 4 == 0).map { case (i, t) => (i + 10000L, t + " zz tail edit") }
    val exactDups = base.filter(_._1 % 7 == 0).map { case (i, t) => (i + 20000L, t) }
    val corpus = (base ++ nearDups ++ exactDups).toDF("doc_id", "text")
    def run(naiveMax: Long) =
      Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3, threshold = 0.5,
          naiveMaxCandidates = naiveMax)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val naive = run(Long.MaxValue)
    val prefix = run(0L)           // forces the prefix-filtered join
    assert(naive.nonEmpty, "degenerate test corpus: no pairs at all")
    assert(prefix === naive,
      s"branch divergence: only-naive=${naive -- prefix}, only-prefix=${prefix -- naive}")
    // the superlinearity counters run the SAME prefix plan: the funnel
    // is monotone (generated >= verify >= output) and the output count
    // is exactly the operator's pair count
    val (generated, verify, output) =
      Dedup.ngramJaccardCounters(corpus, "doc_id", "text", n = 3, threshold = 0.5)
    assert(generated >= verify && verify >= output)
    assert(output === naive.size.toLong)
  }

  test("duplicatedSpans flags cross-doc n-token windows with exact counts") {
    val s = spark; import s.implicits._
    // docs 1/2 share the window "the quick brown" (and "quick brown fox"
    // only in 1/3); doc 4 shares nothing
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "said the quick brown dog"),
      (3L, "a quick brown fox appears"),
      (4L, "completely unrelated text here")
    ).toDF("doc_id", "text")
    val out = graft.ext.Dedup.duplicatedSpans(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("dup_spans"), r.getAs[Long]("total_spans"))).toMap
    // doc 1: windows {the quick brown, quick brown fox} duplicated (3 total)
    assert(out(1L) === (2L, 3L))
    // doc 2: {the quick brown} of its 3 windows
    assert(out(2L) === (1L, 3L))
    // doc 3: {quick brown fox}
    assert(out(3L) === (1L, 3L))
    // doc 4: clean — absent from the output
    assert(!out.contains(4L))
    // keyed-store contract (unique ids) is REQUIRED: with it, the
    // kernel's per-doc distinct grams make plain count(1) the df and
    // both aggregates skip the distinct-aggregate expand phase. A
    // re-ingested duplicate row therefore self-duplicates — pin the
    // documented failure mode so the contract change is visible
    val dupRows = docs.filter(col("doc_id") === 4L)
      .unionByName(docs.filter(col("doc_id") === 4L))
    assert(graft.ext.Dedup.duplicatedSpans(dupRows, "doc_id", "text", n = 3)
      .count() === 1)
  }

  test("urls/host: extraction, host lowering, query/fragment/port stripped") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "see http://A.Example.COM:8080/x?q=1 and https://b.org/y#f done"),
      (2L, "no links here")).toDF("doc_id", "text")
    val hosts = df.select(explode(graft.ext.TextAnalysis.urls(col("text"))).alias("u"))
      .select(graft.ext.TextAnalysis.host(col("u")).alias("h"))
      .collect().map(_.getString(0)).sorted
    assert(hosts.toSeq === Seq("a.example.com", "b.org"))
  }

  test("stripDuplicatedSpans removes covered tokens; short docs share the detect contract") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "The quick brown fox jumps high"),
      (2L, "said the QUICK brown dog"),
      (3L, "tiny doc"),
      (4L, "the quick brown"),
      (5L, "wee!"),
      (6L, "WEE")
    ).toDF("doc_id", "text")
    val out = graft.ext.Dedup.stripDuplicatedSpans(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getString(1)).toMap
    // "the quick brown" is shared by docs 1/2/4 (normalization folds case)
    assert(out(1L) === "fox jumps high")   // tokens 0-2 covered
    assert(out(2L) === "said dog")         // tokens 1-3 covered
    // a UNIQUE short doc survives whole — its whole-text window has df=1
    assert(out(3L) === "tiny doc")
    assert(out(4L) === "")                 // fully duplicated -> empty
    // duplicated tiny docs strip via the whole-text window — the same
    // contract duplicatedSpans reports them under (dup_fraction = 1.0),
    // so detect and act agree on short docs
    assert(out(5L) === "" && out(6L) === "")
  }

  test("lshTopK finds genuinely-near neighbors (perturbed twins, recall >= 0.7)") {
    // random vectors have no angularly-close neighbors, so recall there is
    // meaningless for hyperplane LSH; inject twins at cosine ~0.995 instead
    val emb = sf("embeddings")
    val twins = emb.filter(col("vec_id") < 20).select(
      (col("vec_id") + 500000).alias("vec_id"),
      expr("transform(embedding, (x, i) -> x + float(0.02 * cos(double(i))))")
        .alias("embedding"), col("label"))
    val corpus = emb.unionByName(twins)
    val queries = emb.filter(col("vec_id") < 20)
    val approx = Similarity.lshTopK(corpus, queries, k = 5, dim = 64, h = 12,
      probeHamming = 1)
    val hits = approx.filter(col("n_id") === col("q_id") + 500000).count()
    assert(hits >= 14, s"LSH found twin for only $hits/20 queries")
    // ranks are dense and correctly ordered per query
    val ranks = approx.groupBy("q_id")
      .agg(max("rank").alias("mr"), count(lit(1)).alias("n")).collect()
    ranks.foreach(r => assert(r.getAs[Int]("mr") === r.getAs[Long]("n")))
  }

  test("cosineDupPairs finds exact-copy embeddings at sim ~1.0") {
    val emb = sf("embeddings").limit(100)
    val copies = emb.select((col("vec_id") + 500000).alias("vec_id"),
      col("embedding"), col("label"))
    val pairs = Similarity.cosineDupPairs(emb.unionByName(copies), dim = 64,
      threshold = 0.999)
    assert(pairs.filter(col("b") === col("a") + 500000).count() === 100)
  }

  test("simhashPairs hot-bucket cap bounds boilerplate fan-out") {
    val s = spark; import s.implicits._
    // 60 identical docs: one signature, so every band bucket holds all 60
    // — the quadratic blow-up case the cap exists for
    val boiler = (1L to 60L).map(i => (i, "the same boilerplate text repeated"))
      .toDF("doc_id", "text")
    assert(Dedup.simhashPairs(boiler, "doc_id", "text", maxBucketSize = 10)
      .count() === 0, "hot buckets above the cap must be dropped")
    assert(Dedup.simhashPairs(boiler, "doc_id", "text").count() === 60L * 59 / 2)
  }

  test("cosineDupPairs hot-bucket cap drops degenerate buckets") {
    val emb = sf("embeddings").limit(50)
    val copies = emb.select((col("vec_id") + 500000).alias("vec_id"),
      col("embedding"), col("label"))
    val corpus = emb.unionByName(copies)
    // every copy shares its original's signature bucket (size >= 2 > 1)
    assert(Similarity.cosineDupPairs(corpus, dim = 64, threshold = 0.999,
      maxBucketSize = 1).filter(col("b") === col("a") + 500000).count() === 0)
  }

  test("over-cap buckets in star mode keep giant clusters connected (ADVICE r2)") {
    val s = spark; import s.implicits._
    val boiler = (1L to 60L).map(i => (i, "the same boilerplate text repeated"))
      .toDF("doc_id", "text")
    // drop mode: zero pairs (recall loss documented); star mode: 59 pairs
    // — min id (1) paired with every other member, cluster connected
    val star = Dedup.simhashPairs(boiler, "doc_id", "text", maxBucketSize = 10,
      overCap = "star").collect()
    assert(star.length === 59)
    assert(star.forall(r => r.getAs[Long]("a") === 1L))
    assert(star.map(_.getAs[Long]("b")).sorted.toSeq === (2L to 60L))
    // same for embedding near-dup
    val emb = sf("embeddings").limit(20)
    val copies = emb.select((col("vec_id") + 500000).alias("vec_id"),
      col("embedding"), col("label"))
    val starPairs = Similarity.cosineDupPairs(emb.unionByName(copies), dim = 64,
      threshold = 0.999, maxBucketSize = 1, overCap = "star")
    assert(starPairs.filter(col("b") === col("a") + 500000).count() === 20)
  }

  test("topKPerQuery id-type contract: int ids ride the heap, string ids fall back (ADVICE r2)") {
    val s = spark; import s.implicits._
    val vecs = (1 to 30).map(i =>
      (i, Array.tabulate(8)(d => math.cos(i * (d + 1)).toFloat)))
    // IntegerType ids (the heap path casts long and back)
    val intDf = vecs.toDF("vec_id", "embedding")
    val intTop = Similarity.bruteForceTopK(intDf, intDf.limit(3), k = 4)
    assert(intTop.count() === 12)
    assert(intTop.schema("n_id").dataType ===
      org.apache.spark.sql.types.IntegerType)
    // StringType ids (window fallback — correct, documented slower)
    val strDf = vecs.map { case (i, v) => (s"doc-$i", v) }.toDF("vec_id", "embedding")
    val strTop = Similarity.bruteForceTopK(strDf, strDf.limit(3), k = 4)
    assert(strTop.count() === 12)
    val sameK = intTop.select(col("q_id").cast("string"), col("rank"),
      col("n_id").cast("string"), col("sim")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSet
    val strSet = strTop.collect()
      .map(r => (r.getString(0).stripPrefix("doc-"), r.getInt(1),
        r.getString(2).stripPrefix("doc-"), r.getDouble(3))).toSet
    assert(sameK === strSet)
    // string-id IVF exercises the non-numeric assignToCells fallback
    val strIvf = Similarity.ivfTopK(strDf, strDf.limit(3), k = 2, nCentroids = 4)
    assert(strIvf.count() > 0)
  }

  test("SimHash64 kernel is bit-identical to the explode+aggregate spelling") {
    import graft.ext.TextAnalysis
    val base = docs.select(col("doc_id"), col("text")).limit(100)
    val kernel = Dedup.simhashSignatures(base, "doc_id", "text") // xxh64 kernel path
    // the pre-kernel spelling: explode + xxhash64(lit(0), tok) + 64 sums
    val toks = base.select(col("doc_id").alias("id"),
        explode(TextAnalysis.tokens(col("text"))).alias("tok"))
      .withColumn("h", xxhash64(lit(0), col("tok")))
    val bitSums = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, lit(1L))
        .otherwise(lit(-1L))).alias(s"b$i"))
    val agg = toks.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map(i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    val want = agg.select(col("id"), sig.alias("want"))
    val joined = kernel.join(want, Seq("id"))
    assert(joined.count() === 100)
    assert(joined.filter(col("simhash") =!= col("want")).count() === 0)
  }

  test("hash families agree: xxh64 and md5 minhash/simhash find the same pair sets") {
    // the bench times the xxh64 family while the oracle byte-replays the
    // md5 family — this pins that both plans find the same duplicates on
    // the bench-style corpus (ADVICE r2: cross-family check)
    val base = docs.select(col("doc_id"), col("text"))
    val twins = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).alias("doc_id"),
        concat(col("text"), lit(" zzz near dup suffix")).alias("text"))
    val corpus = base.unionByName(twins)
    def pairSet(family: String): Set[(Long, Long)] =
      Dedup.minhashLsh(corpus, "doc_id", "text", threshold = 0.5, family = family)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (xx, md) = (pairSet("xxh64"), pairSet("md5"))
    val overlap = (xx intersect md).size.toDouble / math.max(xx.size, md.size)
    assert(overlap >= 0.9, s"family agreement $overlap (xx=${xx.size}, md5=${md.size})")
    // simhash signatures are family-dependent, so borderline (hamming≈max)
    // pairs legitimately differ; the cross-family invariant is recall of
    // ground-truth duplicates, not equality of the noise tail
    val truth = twins.count()
    def shTwinRecall(family: String): Double =
      Dedup.simhashPairs(corpus, "doc_id", "text", family = family)
        .filter(col("b") === col("a") + 1000000).count().toDouble / truth
    val (rx, rm) = (shTwinRecall("xxh64"), shTwinRecall("md5"))
    assert(rx >= 0.6 && rm >= 0.6, s"simhash twin recall degenerate: xx=$rx md5=$rm")
    assert(math.abs(rx - rm) <= 0.15,
      s"families diverge: xxh64 recall $rx vs md5 recall $rm")
  }

  test("minhashLshIncremental: new batch vs signature table, any id order, within-batch pairs") {
    val s = spark; import s.implicits._
    // old ids start at 1 so new id 0 is genuinely OUTSIDE the old range
    // (an id on both sides exercises re-ingest, tested separately below)
    val base = docs.select(col("doc_id"), col("text"))
      .filter(col("doc_id") >= 1 && col("doc_id") < 50)
    val oldSigs = Dedup.minhashSignatures(base, "doc_id", "text")
      .localCheckpoint(true) // the persisted signature table
    val t7 = base.filter(col("doc_id") === 7).select("text").collect()(0).getString(0)
    // new ids BOTH below and above the old range: the old-vs-new join must
    // not order-filter (old 7 > new 0 is still a pair)
    val newBatch = Seq(
      (0L, t7 + " tiny suffix"),          // near-dup of OLD doc 7, new id < old id
      (600001L, t7), (600002L, t7)        // identical pair WITHIN the batch
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshIncremental(newBatch, oldSigs, "doc_id", "text",
      threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((7L, 0L)), s"old-vs-new (old>new id) pair missing: $pairs")
    assert(pairs.contains((600001L, 600002L)), s"within-batch pair missing: $pairs")
    // b side is always a new-batch id
    assert(pairs.forall { case (_, b) => b == 0L || b >= 600001L })
    // re-ingest: an id on BOTH sides — the stale table signature is
    // dropped (new wins), so the replacement text pairs with nothing and
    // there is no duplicate verification fan-out
    val reBatch = Seq((7L, "totally different replacement text entirely"))
      .toDF("doc_id", "text")
    val rePairs = Dedup.minhashLshIncremental(reBatch, oldSigs, "doc_id", "text",
      threshold = 0.5).collect()
    assert(rePairs.isEmpty, s"stale signature leaked: ${rePairs.mkString(",")}")
  }

  test("quantizeI8 round-trip: tinyint codes, cosine fidelity >= 0.999") {
    val rt = Similarity.quantizeI8(sf("embeddings"), "embedding")
      .select(col("vec_id"), col("q"),
        graft.functions.GraftFunctions.cosine(spark,
          col("embedding"), Similarity.dequantize(col("q"), col("q_scale"))).alias("c"))
    // codes are REAL int8 (tinyint array — the 4x storage claim)
    assert(rt.schema("q").dataType ===
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType))
    val bounds = rt.select(array_max(col("q")).alias("mx"),
      array_min(col("q")).alias("mn"))
      .agg(max(col("mx")), min(col("mn"))).collect()(0)
    assert(bounds.getByte(0) <= 127 && bounds.getByte(1) >= -127)
    // 64-dim int8 keeps cosine essentially intact
    assert(rt.agg(min(col("c"))).collect()(0).getDouble(0) >= 0.999)
  }

  test("clusters: min-label connected components converge over chains and stars") {
    val s = spark; import s.implicits._
    // two components: a CHAIN 1-2-3-4 (diameter 3 — exercises multi-round
    // propagation, not just one-hop star merges) and the pair {10, 11}
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val got = Dedup.clusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
    // survivors (id == cluster) = one per component
    assert(got.count { case (id, c) => id == c } === 2)
  }

  test("repetitionRatio: 0 for all-unique grams, rises with duplicated spans") {
    val s = spark; import s.implicits._
    import graft.ext.TextAnalysis
    val df = Seq(
      (1L, "one two three four five six"),            // all 3-grams unique
      (2L, "spam spam spam spam spam spam spam"),     // one distinct 3-gram
      (3L, "ab")                                      // < n tokens: single gram
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
      TextAnalysis.repetitionRatio(spark, col("text")).alias("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) === 0.0)
    assert(got(2L) === 0.8)   // 5 grams, 1 distinct -> 1 - 1/5
    assert(got(3L) === 0.0)
  }

  test("keepCanonical: survivors = one per component plus untouched docs") {
    val s = spark; import s.implicits._
    val corpus = (1L to 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val kept = Dedup.keepCanonical(corpus, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // components {1,2,3} -> keep 1; {5,6} -> keep 5; 4,7..10 untouched
    assert(kept === Set(1L, 4L, 5L, 7L, 8L, 9L, 10L))
  }

  test("hashSample: deterministic, disjoint complement, append-stable membership") {
    import graft.ext.Sampling
    val sample = Sampling.hashSample(docs, "doc_id", 0.3)
    val a = sample.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.hashSample(docs, "doc_id", 0.3).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(a === b)                                     // reproducible
    val comp = Sampling.hashSampleComplement(docs, "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((a intersect comp).isEmpty)
    assert(a.size + comp.size === docs.count())          // exact partition
    // membership is per-key: a doc keeps its fate when the corpus grows
    val bigger = docs.unionByName(docs.select((col("doc_id") + 900000).alias("doc_id"),
      col("text"), col("lang"), col("source"), col("n_chars")))
    val a2 = Sampling.hashSample(bigger, "doc_id", 0.3)
      .filter(col("doc_id") < 900000).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a2 === a)
  }

  test("stratified: exact per-stratum quota in deterministic hash order") {
    import graft.ext.Sampling
    val got = Sampling.stratified(docs, Seq("lang"), "doc_id", perStratum = 7)
    val counts = got.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val avail = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    avail.foreach { case (lang, n) =>
      assert(counts(lang) === math.min(n, 7L), s"stratum $lang")
    }
  }

  test("tokenBudgetPack: distributed prefix sum equals the naive global window") {
    import graft.ext.Sampling
    val s = spark; import s.implicits._
    val rows = (1L to 1000L).map(i => (i, (i * 13 % 50) + 1)).toDF("k", "toks")
    val got = Sampling.tokenBudgetPack(rows, "k", "toks", budget = 5000,
      numPartitions = 8).select("k").collect().map(_.getLong(0)).toSet
    // naive oracle: running sum in k order, single pass
    var acc = 0L
    val want = (1L to 1000L).takeWhile { i =>
      acc += (i * 13 % 50) + 1; acc <= 5000
    }.toSet
    assert(got === want)
    assert(got.nonEmpty && got.size < 1000)
  }

  test("scrubPii redacts emails/IPs/phones and piiCounts matches the markers") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "reach me at jane.doe+spam@mail.example.org or 192.168.001.42 thanks"),
      (2L, "call +44 020 7946-0958 today"),
      (3L, "no pii here at all"),
      (4L, "released 2026-08-12 as v10.12.2023 or 10-12-2023"),
      (5L, "dial 555-014-2222 now")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      graft.ext.TextAnalysis.scrubPii(col("text")).alias("clean"),
      graft.ext.TextAnalysis.piiCounts(col("text")).alias("c"))
      .orderBy("doc_id").collect()
    assert(out(0).getAs[String]("clean") === "reach me at <EMAIL> or <IP> thanks")
    assert(out(1).getAs[String]("clean") === "call <PHONE> today")
    assert(out(2).getAs[String]("clean") === "no pii here at all")
    // dates and version triples must survive the phone pattern untouched
    assert(out(3).getAs[String]("clean") === "released 2026-08-12 as v10.12.2023 or 10-12-2023")
    assert(out(4).getAs[String]("clean") === "dial <PHONE> now") // NANP 3-3-4
    val c0 = out(0).getStruct(2)
    assert(c0.getAs[Int]("emails") === 1 && c0.getAs[Int]("ips") === 1
      && c0.getAs[Int]("phones") === 0)
    val c2 = out(2).getStruct(2)
    assert(c2.getAs[Int]("emails") === 0 && c2.getAs[Int]("ips") === 0
      && c2.getAs[Int]("phones") === 0)
    assert(out(3).getStruct(2).getAs[Int]("phones") === 0)
  }

  test("c4Filters keeps punctuated 3-word lines and gates poisoned pages") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "A good first sentence.\nclick here\nAnother proper line!"),
      (2L, "Enable javascript to proceed.\nShort.\nnope"),
      (3L, "Fine sentence here.\nBut lorem ipsum poisons the page."),
      (4L, "Uses a brace { in code.\nOtherwise a fine sentence."),
      (5L, "no terminal punctuation at all")).toDF("doc_id", "text")
    val c = graft.ext.TextAnalysis.c4Filters(col("text"))
    val out = df.select(col("doc_id"), c.getField("clean").alias("clean"),
        c.getField("n_kept").alias("nk"), c.getField("keep").alias("keep"))
      .orderBy("doc_id").collect()
    assert(out(0).getAs[String]("clean") ===
      "A good first sentence.\nAnother proper line!")
    assert(out(0).getAs[Boolean]("keep"))
    // javascript line and <3-word lines dropped -> nothing kept -> page gated
    assert(out(1).getAs[Int]("nk") === 0 && !out(1).getAs[Boolean]("keep"))
    assert(out(2).getAs[Int]("nk") === 2 && !out(2).getAs[Boolean]("keep")) // lorem ipsum
    assert(!out(3).getAs[Boolean]("keep")) // curly brace
    assert(out(4).getAs[Int]("nk") === 0 && !out(4).getAs[Boolean]("keep"))
  }

  test("dedupParagraphs drops corpus-hot paragraphs, keeps order and separator") {
    val s = spark; import s.implicits._
    val boiler = "Subscribe now."
    val rows = (1 to 30).map { i =>
      (i.toLong, s"unique opener $i\n\n$boiler\n\nunique closer $i")
    }
    val df = rows.toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(df, "doc_id", "text", maxOccurrences = 10)
      .orderBy("doc_id").collect()
    assert(out.length === 30)
    assert(out(0).getAs[String]("text") === "unique opener 1\n\nunique closer 1")
    // under the cap nothing is dropped
    val out2 = Dedup.dedupParagraphs(df, "doc_id", "text", maxOccurrences = 50)
      .orderBy("doc_id").collect()
    assert(out2(0).getAs[String]("text") === rows.head._2)
  }

  test("tfidfTopK ranks corpus-rare terms above ubiquitous ones, ties on term") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "alpha alpha alpha common"),
      (2L, "beta common common"),
      (3L, "gamma delta common")).toDF("doc_id", "text")
    val out = graft.ext.TextAnalysis.tfidfTopK(df, "doc_id", "text", k = 2)
      .orderBy("id", "rank").collect()
    // doc 1: 'alpha' (tf=3, df=1) far above 'common' (df=3, idf=1)
    assert(out(0).getAs[String]("term") === "alpha" && out(0).getAs[Int]("rank") === 1)
    assert(out(1).getAs[String]("term") === "common")
    // doc 3: gamma and delta tie on score -> lexicographic: delta first
    val d3 = out.filter(_.getAs[Long]("id") == 3L).map(_.getAs[String]("term"))
    assert(d3.toSeq === Seq("delta", "gamma"))
    // scores are deterministic and rounded
    assert(out.forall(r => r.getAs[Double]("score") ==
      math.rint(r.getAs[Double]("score") * 10000) / 10000))
  }

  test("ngramCounts: non-distinct bigrams; short and empty docs contribute nothing") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "the cat sat"), // "the cat", "cat sat"
      (2L, "The  cat!"),   // normalizes to "the cat"
      (3L, "solo"),        // < 2 tokens
      (4L, "")             // normTokens -> [""], size 1
    ).toDF("doc_id", "text")
    val out = graft.ext.TextAnalysis.ngramCounts(df, "text", n = 2, topN = 10)
      .collect().map(r => (r.getAs[String]("ngram"), r.getAs[Long]("count")))
    assert(out.toSeq === Seq("the cat" -> 2L, "cat sat" -> 1L))
  }

  test("pmiBigrams ranks exclusive collocations above promiscuous ones") {
    val s = spark; import s.implicits._
    // "zig zag" is exclusive; "the" spreads over two partners
    val df = (1 to 5).flatMap(i => Seq(
      (i * 3 + 0, "zig zag"), (i * 3 + 1, "the cat"), (i * 3 + 2, "the end")))
      .toDF("doc_id", "text")
    val out = graft.ext.TextAnalysis.pmiBigrams(df, "text", minCount = 2, topN = 10)
      .collect()
    // T1=30 tokens, T2=15 bigrams: pmi(zig zag)=ln(12), pmi(the *)=ln(6)
    assert((out(0).getAs[String]("w1"), out(0).getAs[String]("w2")) === ("zig", "zag"))
    assert(out(0).getAs[Double]("pmi") === math.rint(math.log(12.0) * 10000) / 10000)
    assert(out.length === 3 && out(0).getAs[Long]("count") === 5L)
    assert(out.drop(1).forall(r =>
      r.getAs[Double]("pmi") === math.rint(math.log(6.0) * 10000) / 10000))
    // tie between the two "the" bigrams breaks on w2: cat before end
    assert(out.map(_.getAs[String]("w2")).toSeq === Seq("zag", "cat", "end"))
  }

  test("compiled text-profile kernels equal the regex twins on the corpus") {
    import graft.ext.TextAnalysis._
    val diff = docs.select(
        tokenCount(col("text")).alias("k_tok"),
        tokenCountRegex(col("text")).alias("r_tok"),
        punctCount(col("text")).alias("k_punct"),
        punctCountRegex(col("text")).alias("r_punct"),
        round(meanTokenLen(col("text")), 6).alias("k_mean"),
        round(meanTokenLenRegex(col("text")), 6).alias("r_mean"),
        round(stopwordRatio(col("text")), 6).alias("k_sw"),
        round(when(tokenCountRegex(col("text")) > 0,
          hitsRegex(col("text"), stopwords.head._2).cast("double") /
            tokenCountRegex(col("text")).cast("double"))
          .otherwise(lit(0.0)), 6).alias("r_sw"))
      .filter(col("k_tok") =!= col("r_tok") ||
        col("k_punct") =!= col("r_punct") ||
        col("k_mean") =!= col("r_mean") || col("k_sw") =!= col("r_sw"))
      .count()
    assert(diff === 0L)
  }

  test("compiled PII scanner equals the regexp_replace chain on the corpus") {
    // the scanner projection and the executable regex specification must
    // agree on every real document (with the oracle's planted PII mixed
    // in) — the DuckDB gate replays the regex chain, so this equality IS
    // the correctness contract at corpus scale
    val planted = docs.withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".1"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" call +1 555-014-2222"))
          .otherwise(lit(""))))
    val diff = planted.select(
        graft.ext.TextAnalysis.scrubPii(col("text")).alias("fast"),
        graft.ext.TextAnalysis.scrubPiiRegex(col("text")).alias("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(diff === 0L)
  }

  test("contamination flags n-gram overlap with the eval set; decontaminate drops it") {
    val s = spark; import s.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "entirely unrelated training material goes here"),
      (3L, "we saw a quick brown fox yesterday evening")).toDF("doc_id", "text")
    val eval = Seq((100L, "quick brown fox")).toDF("doc_id", "text")
    val hits = Dedup.contamination(corpus, eval, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.keySet === Set(1L, 3L)) // both contain "quick brown fox"
    assert(hits(1L) === 1L && hits(3L) === 1L)
    val clean = Dedup.decontaminate(corpus, eval, "doc_id", "text", n = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean === Set(2L))
  }

  test("dedupLines removes corpus-frequent lines, keeps per-doc order") {
    val s = spark; import s.implicits._
    val footer = "subscribe now"
    val docs = (1L to 20L).map(i =>
      (i, s"body of doc $i\n$footer\nclosing line $i")).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, "doc_id", "text", maxOccurrences = 10)
      .orderBy("doc_id").collect()
    assert(out.length === 20)
    assert(out(0).getAs[String]("text") === "body of doc 1\nclosing line 1")
    // a doc made ENTIRELY of boilerplate drops out
    val all = docs.unionByName(Seq((999L, footer)).toDF("doc_id", "text"))
    val ids = Dedup.dedupLines(all, "doc_id", "text", maxOccurrences = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(999L) && ids.size === 20)
  }

  test("semanticDupPairs finds perturbed twins inside their cell") {
    val emb = sf("embeddings")
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").alias("embedding"))
    val twins = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).alias("vec_id"),
        expr("transform(embedding, (x, i) -> if(i = 0, x + 0.1d, x))")
          .alias("embedding"))
    val pairs = Similarity.semanticDupPairs(base.unionByName(twins),
      nCentroids = 16, threshold = 0.9)
    val twinPairs = pairs.filter(col("b") === col("a") + 1000000L).count()
    val expected = twins.count()
    // a twin pair is only missed if the nudge flips its nearest centroid
    assert(twinPairs >= (expected * 0.8).toLong,
      s"found $twinPairs of $expected twin pairs")
    // every reported pair genuinely clears the cosine threshold
    assert(pairs.filter(col("sim") < 0.9).count() === 0)
  }

  test("packSequences: distributed pack ids equal the naive global prefix sum") {
    import graft.ext.Sampling
    val s = spark; import s.implicits._
    val rows = (1L to 500L).map(i => (i, (i * 7 % 40) + 1)).toDF("k", "toks")
    val got = Sampling.packSequences(rows, "k", "toks", seqLen = 128,
      numPartitions = 8)
      .select("k", "pack_id", "pack_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    var acc = 0L
    val want = (1L to 500L).map { i =>
      val start = acc; acc += (i * 7 % 40) + 1
      (i, start / 128, start % 128)
    }
    assert(got.toSeq === want)
    // a doc straddling a boundary belongs to the pack of its FIRST token
    assert(got.map(_._2).distinct.length > 1)
    // materialization: each pack concatenates its rows in key order
    val rows2 = (1L to 500L).map(i => (i, (i * 7 % 40) + 1, s"d$i"))
      .toDF("k", "toks", "text")
    val packs = Sampling.materializePacks(
      Sampling.packSequences(rows2, "k", "toks", seqLen = 128, numPartitions = 8),
      "k", "text", sep = "|").collect()
      .map(r => r.getAs[Long]("pack_id") -> r.getAs[String]("text")).toMap
    val wantPacks = want.groupBy(_._2).map { case (p, ds) =>
      p -> ds.map(d => s"d${d._1}").mkString("|")
    }
    assert(packs === wantPacks)
  }

  test("weightedMix: per-stratum rates within tolerance, membership append-stable") {
    import graft.ext.Sampling
    val s = spark; import s.implicits._
    val rows = (1L to 4000L).map(i =>
      (i, if (i % 2 == 0) "en" else "de")).toDF("k", "lang")
    val mix = Sampling.weightedMix(rows, "lang", "k",
      Map("en" -> 0.5, "de" -> 0.1))
    val byLang = mix.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(byLang("en") - 1000L) < 150, s"en rate off: $byLang")
    assert(math.abs(byLang("de") - 200L) < 80, s"de rate off: $byLang")
    // append stability: membership of the first half is unchanged when
    // the corpus doubles (a doc's fate depends only on its own key)
    val half = Sampling.weightedMix(rows.filter(col("k") <= 2000),
      "lang", "k", Map("en" -> 0.5, "de" -> 0.1))
      .select("k").collect().map(_.getLong(0)).toSet
    val fullFirstHalf = mix.filter(col("k") <= 2000)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(half === fullFirstHalf)
  }

  test("gopherRules: per-rule flags gate word count, mean length, symbols, alpha") {
    val s = spark; import s.implicits._
    val good = ("w" + "ord ") * 30 // 30 four-letter words
    val df = Seq(
      (1L, good.trim),
      (2L, ""),                                  // empty: everything fails
      (3L, ("#### " * 30).trim),                 // symbol-heavy, no alpha
      (4L, ("a " * 30).trim)                     // mean word length 1 < 3
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        graft.ext.TextAnalysis.gopherRules(col("text"), minWords = 10).alias("g"))
      .orderBy("doc_id").collect().map(_.getStruct(1))
    assert(out(0).getAs[Boolean]("passes"))
    assert(out(0).getAs[Long]("n_words") === 30)
    assert(out(0).getAs[Double]("mean_word_len") === 4.0)
    assert(!out(1).getAs[Boolean]("passes") && out(1).getAs[Long]("n_words") === 0)
    assert(!out(2).getAs[Boolean]("symbol_ok") && !out(2).getAs[Boolean]("alpha_ok"))
    assert(!out(3).getAs[Boolean]("mean_len_ok") && out(3).getAs[Boolean]("alpha_ok"))
  }

  test("dedup pair producers accept STRING ids via the join-based fallback") {
    val s = spark; import s.implicits._
    val corpus = Seq(
      ("doc-a", "alpha beta gamma delta epsilon zeta eta"),
      ("doc-b", "alpha beta gamma delta epsilon zeta eta"),
      ("doc-z", "completely different material over here instead")
    ).toDF("doc_id", "text")
    val mh = Dedup.minhashLsh(corpus, "doc_id", "text", threshold = 0.5)
      .collect()
    assert(mh.length === 1 &&
      mh(0).getString(0) === "doc-a" && mh(0).getString(1) === "doc-b")
    val sh = Dedup.simhashPairs(corpus, "doc_id", "text").collect()
    assert(sh.length === 1 && sh(0).getAs[Int]("hamming") === 0)
    val ng = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", threshold = 0.5)
      .collect()
    assert(ng.length === 1 && ng(0).getAs[Double]("jaccard") === 1.0)
    // star mode exercises the fallback hot-key path
    val star = Dedup.simhashPairs(corpus, "doc_id", "text",
      maxBucketSize = 1, overCap = "star").collect()
    assert(star.exists(r => r.getString(0) === "doc-a" && r.getString(1) === "doc-b"))
    // incremental banding against an existing string-id signature table
    val newSigs = Dedup.minhashSignatures(
      corpus.filter(col("doc_id") === "doc-b"), "doc_id", "text")
    val oldSigs = Dedup.minhashSignatures(
      corpus.filter(col("doc_id") =!= "doc-b"), "doc_id", "text")
    val inc = Dedup.minhashLshIncrementalSigs(newSigs, oldSigs, threshold = 0.5)
      .collect()
    assert(inc.length === 1 &&
      inc(0).getString(0) === "doc-a" && inc(0).getString(1) === "doc-b")
  }

  test("candidate branches agree under a hot bucket: kernel == string-id fallback, incremental == from-scratch over old ∪ new") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.DataFrame
    val rnd = new scala.util.Random(20261019L)
    val vocab = Vector("red", "blue", "green", "gold", "ash", "oak", "elm", "iron",
      "salt", "mist", "dawn", "dusk", "fern", "moss", "reed", "wren", "lark", "hawk",
      "pine", "sage", "flint", "clay", "tide", "reef", "dune", "vale", "glen", "brook",
      "cliff", "crag")
    def words(n: Int) = (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (1L to 40L).map(i => (i, words(10 + rnd.nextInt(10))))
    val near = base.filter(_._1 % 5 == 0).map { case (i, t) => (i + 100L, t + " " + words(1)) }
    // the planted hot bucket: 9 identical docs plus 3 one-word variants.
    // The cap is 6 and new ids are `id % 3 == 0`, so the 9 identical docs
    // split 6 old / 3 new: each side alone is within the cap, only the
    // union exceeds it
    val boiler = "the same boilerplate text repeated over and over again on every page"
    val hot = (200L to 208L).map(i => (i, boiler)) ++
      (210L to 212L).map(i => (i, s"$boiler footer$i"))
    val rows = base ++ near ++ hot
    val cap = 6
    def isNew(i: Long) = i % 3 == 0
    // the same corpus under integral and string ids; zero-padding keeps
    // the string order equal to the numeric order, so `a < b` agrees
    def corpus(str: Boolean): DataFrame =
      if (str) rows.map { case (i, t) => (f"d$i%04d", t) }.toDF("id", "text")
      else rows.toDF("id", "text")
    def newIds(str: Boolean): Seq[Any] =
      rows.map(_._1).filter(isNew).map(i => if (str) f"d$i%04d" else i)
    def idOf(x: Any): Long = x match {
      case l: Long => l
      case t: String => t.drop(1).toLong
    }
    def pairSet(df: DataFrame, score: String): Set[(Long, Long, Double)] =
      df.collect().map(r => (idOf(r.get(r.fieldIndex("a"))), idOf(r.get(r.fieldIndex("b"))),
        r.getAs[Number](score).doubleValue)).toSet
    def unordered(ps: Set[(Long, Long, Double)]) =
      ps.map { case (a, b, x) => (math.min(a, b), math.max(a, b), x) }
    // batch(sigs, cap) and incremental(new, old, cap) over one family's
    // signature table, checked under both id types
    def check(name: String, score: String, sigsOf: DataFrame => DataFrame,
              batch: (DataFrame, Int) => DataFrame,
              incremental: Option[(DataFrame, DataFrame, Int) => DataFrame]): Unit = {
      val byType = Seq(false, true).map { str =>
        val sigs = sigsOf(corpus(str)).localCheckpoint(true)
        val isN = col("id").isin(newIds(str): _*)
        val full = pairSet(batch(sigs, cap), score)
        val inc = incremental.map(f =>
          unordered(pairSet(f(sigs.filter(isN), sigs.filter(!isN), cap), score)))
        if (!str) {
          // non-vacuous: the cap fired, and pairs remain
          assert(full.nonEmpty, s"$name: no pairs")
          assert(full !== pairSet(batch(sigs, 1000), score),
            s"$name: the planted hot bucket did not reach the cap")
        }
        inc.foreach { ps =>
          val expected = unordered(full).filter { case (a, b, _) => isNew(a) || isNew(b) }
          assert(ps === expected, s"$name (${if (str) "string" else "long"} ids): " +
            s"incremental ${ps.toSeq.sorted} != from-scratch ${expected.toSeq.sorted}")
          assert(ps.nonEmpty, s"$name: no incremental pairs")
        }
        (full, inc)
      }
      assert(byType(0) === byType(1), s"$name: kernel and string-id fallback disagree")
    }
    check("minhash", "est_jaccard",
      Dedup.minhashSignatures(_, "id", "text", 32, 3),
      (sg, c) => Dedup.minhashLshFromSigs(sg, 32, 16, 0.5, c),
      Some((n, o, c) => Dedup.minhashLshIncrementalSigs(n, o, 32, 16, 0.5, c)))
    check("simhash drop", "hamming",
      Dedup.simhashSignatures(_, "id", "text"),
      (sg, c) => Dedup.simhashPairsFromSigs(sg, 3, c, "drop"),
      Some((n, o, c) => Dedup.simhashIncrementalSigs(n.withColumnRenamed("simhash", "sig"),
        o.withColumnRenamed("simhash", "sig"), 3, c)))
    check("simhash star", "hamming",
      Dedup.simhashSignatures(_, "id", "text"),
      (sg, c) => Dedup.simhashPairsFromSigs(sg, 3, c, "star"), None)
    check("ngram naive", "jaccard",
      Dedup.ngramSignatures(_, "id", "text", 3),
      (sg, c) => Dedup.ngramJaccardPairsFromSigs(sg, 0.5, c),
      Some((n, o, c) => Dedup.ngramJaccardIncrementalSigs(n, o, 0.5, c)))
    check("ngram prefix", "jaccard",
      Dedup.ngramSignatures(_, "id", "text", 3),
      (sg, c) => Dedup.ngramJaccardPairsFromSigs(sg, 0.5, c, naiveMaxCandidates = 0L),
      None)
  }

  test("planRowUpperBound: footer bound on parquet plans, None on row-multiplying or unknown plans") {
    val s = spark; import s.implicits._
    val docs = sf("documents")
    // plain scan: bound = footer rows, a true upper bound
    val exact = docs.count()
    assert(Dedup.planRowUpperBound(docs) === Some(exact))
    // filters/projections only shrink — the bound stays the footer count
    assert(Dedup.planRowUpperBound(
      docs.filter(col("doc_id") % 7 === 0).select("doc_id")) === Some(exact))
    // a union counts both branches (over-counts the filtered one: safe side)
    assert(Dedup.planRowUpperBound(
      docs.unionByName(docs.filter(col("doc_id") < 5))) === Some(2 * exact))
    // generators multiply rows — scan counts no longer bound the output
    assert(Dedup.planRowUpperBound(
      docs.select(explode(split(col("text"), " ")))) === None)
    // joins likewise
    assert(Dedup.planRowUpperBound(
      docs.join(docs.select(col("doc_id")), Seq("doc_id"))) === None)
    // local relations are exactly sized
    assert(Dedup.planRowUpperBound(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      === Some(2L))
  }

  test("Bpe: deterministic merge sequence, greedy encode, persistence round-trip") {
    val s = spark; import s.implicits._
    import graft.ext.Bpe
    // the classic BPE fixture (Sennrich et al.): merge order is fully
    // hand-derivable — (e,s) wins its 9-count tie with (s,t) on the
    // lexicographic tiebreak, then (es,t), then the 7-count ties resolve
    // (l,o) before (lo,w)
    val hist = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("word", "cnt")
    val merges = Bpe.trainFromHistogram(hist, 4)
    assert(merges === Seq(Bpe.Merge("e", "s"), Bpe.Merge("es", "t"),
      Bpe.Merge("l", "o"), Bpe.Merge("lo", "w")))
    // greedy left-to-right encode of an UNSEEN word under those merges:
    // lowest → low + est
    val n = Seq(Tuple1("lowest")).toDF("word")
      .select(Bpe.bpeCount(col("word"), merges).alias("n")).head().getInt(0)
    assert(n === 2)
    // overlap semantics: merge (e,s) on "esses" must be non-overlapping
    // left-to-right — e s s e s → es s es → 3 symbols under (e,s) alone
    val n2 = Seq(Tuple1("esses")).toDF("word")
      .select(Bpe.bpeCount(col("word"), merges.take(1)).alias("n")).head().getInt(0)
    assert(n2 === 3)
    // per-doc counts ride the distinct-word encode + token-keyed join
    val docs = Seq((1L, "low lower"), (2L, "newest widest lowest")).toDF("doc_id", "text")
    val counts = Bpe.bpeTokenCounts(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // low → [low] = 1, lower → [low,e,r] = 3; newest → [n,e,w,est] = 4,
    // widest → [w,i,d,est] = 4, lowest → [low,est] = 2
    assert(counts === Map(1L -> 4L, 2L -> 10L))
    // persistence: ordered round-trip through a store
    val st = new graft.store.MemoryStore(spark, "bpem", key = "rank",
      lastUpdatedField = "rank")
    Bpe.saveMerges(st, merges)
    assert(Bpe.loadMerges(st) === merges)
    // early exhaustion: single-char words yield no pairs, training stops
    assert(Bpe.trainFromHistogram(Seq(("a", 3L), ("b", 1L)).toDF("word", "cnt"), 5)
      === Seq.empty)
  }

  test("Bpe: compiled encoder kernel == chained-replace spelling, property-style") {
    val s = spark; import s.implicits._
    import graft.ext.Bpe
    // train a real merge table on a mixed-alphabet corpus: natural-ish
    // repetition plus hex diversity (the bpeCorpus fixture shape)
    val rng = new scala.util.Random(421)
    val base = Seq("low", "lower", "lowest", "newest", "widest", "esses",
      "aaaa", "abababab", "banana")
    val words = base ++ (0 until 400).map(_ =>
      java.lang.Long.toHexString(rng.nextLong()).take(2 + rng.nextInt(7)))
    val hist = words.groupBy(identity).map { case (w, g) =>
      (w, g.size.toLong + (w.length % 3)) }.toSeq.toDF("word", "cnt")
    val merges = Bpe.trainBatchedFromHistogram(hist, numMerges = 96,
      batchSize = 16)
    assert(merges.size === 96)
    // EQUIVALENCE CONTRACT: the kernel must reproduce the chained
    // replace column (the oracle's spelling) on every trained word AND
    // on unseen words (held-out hex + adversarial repeats)
    val unseen = (0 until 200).map(_ =>
      java.lang.Long.toHexString(rng.nextLong()).take(1 + rng.nextInt(8))) ++
      Seq("eeeee", "ababa", "lowlow", "stst")
    val probe = (words ++ unseen).distinct.toDF("word")
    val diverged = probe.select(col("word"),
        Bpe.bpeCount(col("word"), merges).alias("ref"),
        Bpe.bpeCountCompiled(s, col("word"), merges).alias("got"))
      .filter(col("ref") =!= col("got"))
    assert(diverged.isEmpty, s"kernel diverged: ${diverged.collect().toSeq}")
    // the encode expression agrees with the count (and symbols concat
    // back to the word)
    val enc = probe.select(col("word"),
        Bpe.bpeEncodeCompiled(s, col("word"), merges).alias("syms"))
      .filter(concat_ws("", col("syms")) =!= col("word") ||
        size(col("syms")) =!= Bpe.bpeCountCompiled(s, col("word"), merges))
    assert(enc.isEmpty, s"encode diverged: ${enc.collect().toSeq}")
    // batched training honours the exact-count contract mid-round
    assert(Bpe.trainBatchedFromHistogram(hist, numMerges = 21,
      batchSize = 16).size === 21)
    // and the first round of batched == the top-k pairs the sequential
    // trainer would pick one at a time ONLY where disjoint — sanity: the
    // very first merge always agrees
    assert(Bpe.trainBatchedFromHistogram(hist, 1, 16)
      === Bpe.trainFromHistogram(hist, 1))
  }

  test("QualityClassifier: NB log-odds separate planted spam; incremental builder converges") {
    val s = spark; import s.implicits._
    import graft.ext.QualityClassifier
    val docs = sf("documents").select(col("doc_id"),
      concat(col("text"), when(col("doc_id") % 5 === 0,
        lit(" click here free win money now")).otherwise(lit(""))).alias("text"),
      when(col("doc_id") % 5 === 0, lit(0)).otherwise(lit(1)).alias("label"))
    val model = QualityClassifier.train(
      docs.filter(col("doc_id") % 2 === 0), "text", "label")
    // the bounded-model property: ≤ buckets + 1 rows whatever the vocab
    assert(model.count() <= 1024 + 1)
    val scores = QualityClassifier.score(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", model)
    // the classifier must actually SEPARATE: every held-out spam doc
    // scores below every held-out clean doc (the planted signal is
    // strong and the corpus otherwise homogeneous)
    val rows = scores.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getInt(2)))
    val (spam, clean) = rows.partition(_._1 % 5 == 0)
    assert(spam.nonEmpty && clean.nonEmpty)
    assert(spam.map(_._2).max < clean.map(_._2).min,
      s"no separation: spam max ${spam.map(_._2).max} vs clean min ${clean.map(_._2).min}")
    assert(spam.forall(_._3 == 0) && clean.forall(_._3 == 1))
    // incremental: two builder batches over the evens == one-shot train
    val src = new graft.store.MemoryStore(spark, "qcsrc", "doc_id", "lu")
    val root = java.nio.file.Files.createTempDirectory("qclf").toString
    val store = new graft.store.ParquetStore(spark, root, "bucket",
      "last_updated", deltaWrites = true)
    def mk() = new graft.builder.QualityClfBuilder(src, store, "text", "label")
    src.load(docs.filter(col("doc_id") % 4 === 0).withColumn("lu", lit(1L)))
    assert(mk().run().processed > 0)
    src.load(docs.filter(col("doc_id") % 2 === 0).withColumn("lu",
      when(col("doc_id") % 4 === 0, lit(1L)).otherwise(lit(2L))))
    assert(mk().run().processed > 0)
    assert(mk().run().processed === 0) // unchanged corpus: zero work
    val persisted = store.df.select(col("bucket"), col("c0"), col("c1"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val direct = model.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(persisted === direct)
    // and scoring off the store equals scoring off the direct model
    val viaStore = mk().score(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text").collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(viaStore === rows.map(r => (r._1, r._2)).sorted.toSeq)
  }

  test("clf kernels: ClfBucketTf/ClfScoreMicro match the composable md5/xxh64 spelling bit-for-bit") {
    val s = spark; import s.implicits._
    import graft.ext.QualityClassifier
    // adversarial texts: null, empty, punct-only, single token, unicode,
    // repeated tokens (tf > 1 per bucket), long doc — plus the corpus
    val weird = Seq(
      (9000001L, null.asInstanceOf[String], 0),
      (9000002L, "", 1),
      (9000003L, "!!! ... ???", 0),
      (9000004L, "word", 1),
      (9000005L, "héllo wörld ünïcode — naïve café 東京", 0),
      (9000006L, "dup dup dup dup dup other dup dup", 1),
      (9000007L, ("lorem ipsum " * 200).trim, 0)
    ).toDF("doc_id", "text", "label")
    val docs = sf("documents").select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 5 === 0,
          lit(" spam suffix")).otherwise(lit(""))).alias("text"),
        when(col("doc_id") % 5 === 0, lit(0)).otherwise(lit(1)).alias("label"))
      .unionByName(weird)
    for (family <- Seq("md5", "xxh64"); buckets <- Seq(64, 1024)) {
      // features: exact row-set equality vs the explode+md5-chain+groupBy spec
      val got = QualityClassifier.features(docs, "doc_id", "text",
        buckets, family, seed = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val want = QualityClassifier.featuresComposable(docs, "doc_id", "text",
        buckets, family, seed = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(got === want, s"features diverged (family=$family buckets=$buckets)")
      // train off the kernel == per-class sums of the composable features
      val gotTrain = QualityClassifier.train(docs, "text", "label",
        buckets, family, seed = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val wantTrain = QualityClassifier.featuresComposable(docs, "doc_id",
          "text", buckets, family, seed = 3)
        .join(docs.select(col("doc_id"), col("label")), Seq("doc_id"))
        .groupBy(col("bucket"))
        .agg(sum(when(col("label") === 0, col("tf")).otherwise(0L)).alias("c0"),
          sum(when(col("label") === 1, col("tf")).otherwise(0L)).alias("c1"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(gotTrain === wantTrain, s"train diverged (family=$family buckets=$buckets)")
    }
    // score: the one-projection kernel plan replays the pre-r16
    // broadcast-join spelling exactly (incl. StrictMath.log weights,
    // prior-only nulls/zero-token docs, 4-dp rounding and pred)
    val model = QualityClassifier.train(
      docs.filter(col("doc_id") % 2 === 0), "text", "label")
    val got = QualityClassifier.score(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", model).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).sorted.toSeq
    val want = {
      // the pre-r16 spelling, verbatim (Spark-side log/floor arithmetic)
      val t = model.agg(
        sum(when(col("bucket") >= 0, col("c0"))).alias("t0"),
        sum(when(col("bucket") >= 0, col("c1"))).alias("t1"),
        sum(when(col("bucket") === -1, col("c0"))).alias("n0"),
        sum(when(col("bucket") === -1, col("c1"))).alias("n1")).head()
      val t0 = t.getLong(0).toDouble + 1024
      val t1 = t.getLong(1).toDouble + 1024
      val priorMicro = math.floor(
        math.log((t.getLong(3) + 1.0) / (t.getLong(2) + 1.0)) * 1000000.0 + 0.5).toLong
      val missMicro = math.floor(
        (math.log(1.0 / t1) - math.log(1.0 / t0)) * 1000000.0 + 0.5).toLong
      val w = broadcast(model.filter(col("bucket") >= 0)
        .select(col("bucket"),
          floor((log((col("c1") + 1.0) / t1) - log((col("c0") + 1.0) / t0)) *
            1000000.0 + 0.5).cast("long").alias("__wl")))
      val odd = docs.filter(col("doc_id") % 2 === 1)
      val scored = QualityClassifier.featuresComposable(odd, "doc_id", "text")
        .filter(col("bucket") >= 0)
        .join(w, Seq("bucket"), "left_outer")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf") * coalesce(col("__wl"), lit(missMicro))).alias("__s"))
      odd.select(col("doc_id"))
        .join(scored, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          round((coalesce(col("__s"), lit(0L)) + priorMicro) / 1000000.0, 4)
            .alias("q_score"),
          ((coalesce(col("__s"), lit(0L)) + priorMicro) > 0).cast("int")
            .alias("pred"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).sorted.toSeq
    }
    assert(got === want, "score diverged from the pre-r16 broadcast-join spelling")
  }

  test("graft_topk bounded heap matches sort-based top-k with ties toward smaller id") {
    val s = spark; import s.implicits._
    val rows = (1L to 500L).map(i => (1L, i, ((i * 37) % 97).toDouble / 97.0)) ++
      Seq((1L, 900L, 0.9), (1L, 901L, 0.9)) // exact score tie
    val df = rows.toDF("q_id", "n_id", "sim").repartition(7)
    val got = df.groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.topk(spark, col("sim"), col("n_id"), 10).alias("t"))
      .select(posexplode(col("t")))
      .select(col("col.id"), col("col.score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = rows.sortBy { case (_, id, sc) => (-sc, id) }.take(10)
      .map { case (_, id, sc) => (id, sc) }
    assert(got === want)
  }

  test("bm25TopK: hand-computed scores on a 3-doc corpus, self excluded") {
    import spark.implicits._
    // corpus: doc 1 = "apple banana", doc 2 = "apple apple cherry",
    // doc 3 = "durian". query (id 1) = doc 1's text.
    val docs = Seq((1L, "apple banana"), (2L, "apple apple cherry"),
      (3L, "durian")).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis
      .bm25TopK(docs, docs.filter(col("doc_id") === 1), "doc_id", "text", k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // hand BM25 (k1=1.2, b=0.75): N=3, dl = 2/3/1, avgdl = 2.0.
    // only doc 2 shares a term ("apple": df=2, tf=2, dl=3).
    val idf = math.log(1.0 + (3.0 - 2 + 0.5) / (2 + 0.5))
    val den = 2 + (3 / 2.0 * 0.75 + 0.25) * 1.2
    val sm = math.round(idf * (2 * 2.2) / den * 1000000.0)
    assert(got.toSeq === Seq((1L, 1, 2L,
      BigDecimal(sm / 1000000.0).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }

  test("rrfFuse: cross-list sums, equal-rank ties toward smaller id") {
    import spark.implicits._
    // q1: doc 10 is rank 1 in BOTH lists (fused 2/61); docs 20 and 30
    // are rank-2 singletons in different lists (identical 1/62 — tie,
    // id order); doc 40 rank 3 lexical only
    val lex = Seq((1L, 10L, 1), (1L, 30L, 2), (1L, 40L, 3)).toDF("q_id", "id", "rank")
    val vec = Seq((1L, 10L, 1), (1L, 20L, 2)).toDF("q_id", "id", "rank")
    val got = graft.ext.Similarity.rrfFuse(Seq(lex, vec), k = 5)
      .collect().map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq === Seq((1, 10L), (2, 20L), (3, 30L), (4, 40L)))
  }
}

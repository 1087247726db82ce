package graft

import graft.api.{DynamicQuery, FacetQuery, PaginationQuery, ReadResource, SearchResource,
  SortQuery, SparseFieldsQuery}
import graft.builder.Bm25IndexBuilder
import graft.query.LocalFrame
import graft.store.{MemoryStore, ParquetStore, TableStore}
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import java.util.SplittableRandom

/** Serving reads finished on the driver equal the plans they replace:
  * the BM25 top-k scored from a ParquetStore driver read, the RRF fuse
  * of a driver-served leg, and a search over a ParquetStore against the
  * same rows in a plan-served store. */
class ServeOnDriverSpec extends SparkSpec {
  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def jobsIn[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    TestListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      TestListenerBus.drain(spark.sparkContext)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private val vocab = IndexedSeq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
    "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi", "rho", "sigma",
    "tau", "upsilon", "phi", "chi", "psi", "omega", "crystal", "oxide", "metal", "band")

  /** 150 seeded docs: repeated texts (score ties), zero-token texts. */
  private def corpus(rng: SplittableRandom): Seq[(Long, String, Long)] =
    (1L to 150L).map { id =>
      val text =
        if (id % 37 == 0) "!!! ..."
        else if (id % 10 == 3) "alpha beta gamma twin text"
        else Seq.fill(3 + rng.nextInt(12))(vocab(math.min(rng.nextInt(vocab.size),
          rng.nextInt(vocab.size)))).mkString(" ")
      (id, text, 1L)
    }

  /** (q_id, rank, doc_id, score bits) — every bit of the score compared. */
  private def ranked(d: DataFrame): Seq[(Long, Int, Long, Long)] =
    d.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq.sorted

  private def checkTopK(lex: Bm25IndexBuilder, rng: SplittableRandom, queries: Int): Unit = {
    val s = spark; import s.implicits._
    (1 to queries).foreach { i =>
      val words = Seq.fill(rng.nextInt(5))(
        if (rng.nextInt(6) == 0) s"unknown${rng.nextInt(3)}" else vocab(rng.nextInt(vocab.size)))
      val text = if (i % 17 == 0) "?? !!" else words.mkString(" ")
      val k = Seq(1, 3, 10, 500)(rng.nextInt(4))
      // some query ids equal a doc id: the self-match is excluded
      val qs = Seq((rng.nextInt(160).toLong, text), (1000L + i, vocab(i % vocab.size) + " " + text))
        .toDF("q_id", "q_text")
      val (local, n) = jobsIn {
        val d = lex.topK(qs, k, Some("q_id"), Some("q_text"))
        assert(LocalFrame.isLocal(d), s"query '$text' took the plan")
        ranked(d)
      }
      assert(n === 0, s"query '$text' started $n Spark jobs")
      val plan = ranked(lex.topK(qs.repartition(2), k, Some("q_id"), Some("q_text")))
      assert(local === plan, s"driver vs plan for '$text', k=$k")
    }
  }

  test("Bm25IndexBuilder.topK on the driver is bit-identical to the plan over 60 seeded queries") {
    val s = spark; import s.implicits._
    val rng = new SplittableRandom(7)
    val docs = corpus(rng)
    val src = new MemoryStore(spark, "sodBm25Src", "doc_id", "lu")
    src.load(docs.take(100).toDF("doc_id", "text", "lu"))
    val base = tmp("sod_bm25")
    val lex = new Bm25IndexBuilder(src, new ParquetStore(spark, s"$base/idx", "id", "term"),
      new ParquetStore(spark, s"$base/st", "sid", "sid"), "text")
    lex.run()
    checkTopK(lex, rng, 30)
    // a second batch: new docs and a rewritten one
    src.update((docs.drop(100) :+ ((5L, "omega omega crystal rewritten", 2L))).toDF("doc_id", "text", "lu"))
    lex.run()
    checkTopK(lex, rng, 30)
  }

  test("Bm25IndexBuilder.topK on the driver matches the plan over a delta-write index") {
    val s = spark; import s.implicits._
    val rng = new SplittableRandom(11)
    val docs = corpus(rng)
    val src = new MemoryStore(spark, "sodBm25Delta", "doc_id", "lu")
    val base = tmp("sod_bm25d")
    val lex = new Bm25IndexBuilder(src,
      new ParquetStore(spark, s"$base/idx", "id", "term", deltaWrites = true, compactAfter = 4),
      new ParquetStore(spark, s"$base/st", "sid", "sid", deltaWrites = true), "text")
    docs.grouped(50).foreach { batch =>
      src.update(batch.toDF("doc_id", "text", "lu"))
      lex.run()
    }
    checkTopK(lex, rng, 20)
  }

  test("SearchResource fuses a driver-served BM25 leg with 0 jobs, to the body the plan fuse returns") {
    val s = spark; import s.implicits._
    val docs = corpus(new SplittableRandom(5)).toDF("doc_id", "text", "lu")
    val src = new MemoryStore(spark, "sodSearchSrc", "doc_id", "lu"); src.load(docs)
    val base = tmp("sod_search")
    val onDriver = new Bm25IndexBuilder(src, new ParquetStore(spark, s"$base/idx", "id", "term"),
      new ParquetStore(spark, s"$base/st", "sid", "sid"), "text")
    onDriver.run()
    val planned = new Bm25IndexBuilder(src, new MemoryStore(spark, "sodSearchIdx", "id", "term"),
      new MemoryStore(spark, "sodSearchSt", "sid", "sid"), "text")
    planned.run()
    for (text <- Seq("alpha beta", "crystal oxide metal band", "twin text gamma", "nothing", "")) {
      val body = s"""{"text": "$text", "k": 7}""".getBytes("UTF-8")
      val (got, n) = jobsIn(new SearchResource(onDriver).search(body))
      assert(n === 0, s"'$text' started $n Spark jobs")
      assert(got === new SearchResource(planned).search(body), text)
    }
  }

  test("ReadResource.search on a small ParquetStore returns the TableStore body, with 0 jobs") {
    val s = spark; import s.implicits._
    val rng = new SplittableRandom(9)
    val systems = IndexedSeq("cubic", "hexagonal", "monoclinic", null)
    val rows = (1L to 300L).map { id =>
      (id, systems(rng.nextInt(systems.size)), math.round(rng.nextDouble() * 40) / 10.0,
        s"Fe-O${rng.nextInt(4)}", rng.nextInt(5).toLong)
    }
    val df = rows.toDF("id", "crystal_system", "band_gap", "chemsys", "nsites")
    val pq = new ParquetStore(spark, tmp("sod_read"), "id", "id", deltaWrites = true)
    pq.update(df.filter(col("id") <= 250))
    pq.update(df.filter(col("id") > 240)) // a delta re-stating 10 keys
    val table = new TableStore(spark, df, "sodTable", "id", "id")
    def ops = Seq(new PaginationQuery(10, 100), new SortQuery(), new SparseFieldsQuery(),
      new DynamicQuery(df.schema), new FacetQuery("chemsys", 3), new FacetQuery("crystal_system"))
    val cases = Seq(
      Map("crystal_system" -> "cubic", "_sort_fields" -> "-band_gap,id"),
      Map("band_gap_min" -> "1.5", "_sort_fields" -> "nsites,-id", "_skip" -> "10", "_limit" -> "20",
        "_fields" -> "id,band_gap,chemsys"),
      Map("nsites_eq_any" -> "1,3", "_sort_fields" -> "crystal_system,id", "_limit" -> "100"),
      Map("chemsys_not_eq" -> "Fe-O1", "_sort_fields" -> "id", "_skip" -> "95"),
      Map("_sort_fields" -> "-id"))
    cases.foreach { params =>
      val (got, n) = jobsIn(new ReadResource(pq, ops).search(params))
      assert(n === 0, s"$params started $n Spark jobs")
      assert(got === new ReadResource(table, ops).search(params), s"$params")
    }
  }
}

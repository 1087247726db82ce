package graft

import graft.builder.{CurateBuilder, DedupBuilder}
import graft.store.{MemoryStore, ParquetStore}
import org.apache.spark.sql.DataFrame

/** Which store an incremental builder commits first decides what a crash
  * between two commits leaves behind, and a run with nothing to do
  * commits nothing. */
class CommitOrderSpec extends SparkSpec {
  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def dirs(s: ParquetStore): Set[String] =
    new java.io.File(s.root).listFiles.map(_.getName).filter(_.startsWith("v_")).toSet

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(df.col): _*).collect().map(_.toString).sorted.toSeq

  test("DedupBuilder: a failure at the index commit of an insert round leaves a state the next run repairs") {
    val s = spark; import s.implicits._
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val other = "another standalone document body with its own phrasing"
    val texts = Seq(dup, "totally different words entirely here now for sure", other,
      "nice article about science and its methods today")
    val cols = Seq("doc_id", "text", "lu")
    // the index's upsert of the round's delta throws once: before
    // committing, or right after it
    for (afterCommit <- Seq(false, true)) {
      val base = tmp("co_dedup")
      val src = new MemoryStore(spark, s"coDedupSrc$afterCommit", "doc_id", "lu")
      src.load(texts.zipWithIndex.map { case (t, i) => (i + 1L, t, 1L) }.toDF(cols: _*))
      var armed = false
      val idx = new ParquetStore(spark, s"$base/idx", "id", "cluster") {
        override def update(docs: DataFrame, keyFields: Seq[String]): Unit = {
          val fire = armed
          armed = false
          if (fire && !afterCommit) throw new IllegalStateException("injected")
          super.update(docs, keyFields)
          if (fire) throw new IllegalStateException("injected")
        }
      }
      val tgt = new ParquetStore(spark, s"$base/tgt", "doc_id", "lu")
      def mk(i: ParquetStore, t: ParquetStore) = new DedupBuilder(src, t, "text",
        "minhash", threshold = 0.5, indexStore = Some(i), family = "md5")
      mk(idx, tgt).run()
      // an insert round: doc 5 duplicates doc 1, docs 6 and 7 are new
      src.update(Seq((5L, dup, 2L), (6L, "fresh words that nobody wrote before", 2L),
        (7L, other, 2L)).toDF(cols: _*))
      armed = true
      intercept[IllegalStateException](mk(idx, tgt).run())
      mk(idx, tgt).run()
      val fi = new ParquetStore(spark, s"$base/fidx", "id", "cluster")
      val ft = new ParquetStore(spark, s"$base/ftgt", "doc_id", "lu")
      mk(fi, ft).run()
      assert(rows(tgt.df) === rows(ft.df), s"target (failure after commit: $afterCommit)")
      assert(rows(idx.df) === rows(fi.df), s"index (failure after commit: $afterCommit)")
      assert(tgt.df.select("doc_id").as[Long].collect().sorted === Array(1L, 2L, 3L, 4L, 6L))
    }
  }

  test("CurateBuilder (incremental): a no-op run adds no version dir to the facts or the target") {
    val s = spark; import s.implicits._
    def page(i: Long) = s"This is a well formed and carefully written page number $i of " +
      "this tiny corpus crafted with twenty or more words in total."
    val src = new MemoryStore(spark, "coCurSrc", "doc_id", "lu")
    src.load((1L to 6L).map(i => (i, page(i), 1L, "en")).toDF("doc_id", "text", "lu", "lang"))
    val base = tmp("co_curate")
    val facts = new ParquetStore(spark, s"$base/facts", "doc_id", "lu")
    val tgt = new ParquetStore(spark, s"$base/tgt", "doc_id", "pack_id")
    def mk(seqLen: Long = 64) = new CurateBuilder(src, tgt, seqLen = seqLen, facts = Some(facts))
    mk().run()
    val before = (dirs(facts), dirs(tgt), rows(tgt.df))
    val r = mk().run()
    assert(r.processed === 0, s"$r")
    assert((dirs(facts), dirs(tgt), rows(tgt.df)) === before)
    // a tail-time dial the facts do not carry still rewrites the manifest
    mk(seqLen = 128).run()
    assert(dirs(tgt) !== before._2)
    val fresh = new ParquetStore(spark, s"$base/fresh", "doc_id", "pack_id")
    new CurateBuilder(src, fresh, seqLen = 128,
      facts = Some(new ParquetStore(spark, s"$base/ffacts", "doc_id", "lu"))).run()
    assert(rows(tgt.df) === rows(fresh.df))
  }
}

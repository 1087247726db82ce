package graft

import graft.builder.{AnnIndexBuilder, Bm25IndexBuilder, CurateBuilder, DedupBuilder,
  GroupBuilder, MapBuilder}
import graft.store.{MemoryStore, ParquetStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** An incremental builder run commits each store it writes at most once:
  * orphan and stale-row removals ride the run's single write. Each case
  * runs a round that inserts, rewrites and deletes docs, checks that
  * every ParquetStore the builder writes gained exactly one version dir,
  * and that the stores equal a from-scratch build over the final source. */
class OneCommitSpec extends SparkSpec {
  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Version and delta dirs (`v_n`, `v_n.d_k`) — one per committed write. */
  private def dirs(s: ParquetStore): Set[String] =
    new java.io.File(s.root).listFiles.map(_.getName).filter(_.startsWith("v_")).toSet

  /** Sorted rows of `df` (columns sorted, binary as hex) without `drop`. */
  private def rows(df: DataFrame, drop: String*): Seq[String] = {
    val d = df.drop(drop: _*)
    val cs = d.columns.sorted.map(c =>
      if (d.schema(c).dataType == BinaryType) hex(col(c)).alias(c) else col(c))
    d.select(cs: _*).collect().map(_.toString).sorted.toSeq
  }

  /** Run `round` and assert each store in `stores` gained one version dir. */
  private def oneCommitEach(stores: ParquetStore*)(round: => Unit): Unit = {
    val before = stores.map(dirs)
    round
    stores.zip(before).foreach { case (st, b) =>
      val added = dirs(st) -- b
      assert(added.size === 1,
        s"${st.root}: expected one new version dir, got ${added.toSeq.sorted}")
    }
  }

  private def page(i: Long, v: String = "") =
    s"This is a well formed and carefully written page number $i $v of " +
      "this tiny corpus crafted with twenty or more words in total."
  private val cols = Seq("doc_id", "text", "lu", "embedding", "lang")
  private def vec(i: Long) = Seq(i.toDouble, (i * 7 % 5).toDouble, (i * 3 % 4).toDouble, 1.0)
  private def doc(i: Long, lu: Long, v: String = "") = (i, page(i, v), lu, vec(i * lu), "en")

  /** Docs 1–8, then the round: doc 2 rewritten, doc 9 new, doc 3 deleted. */
  private def corpus(name: String): (MemoryStore, () => Unit) = {
    val s = spark; import s.implicits._
    val src = new MemoryStore(spark, name, "doc_id", "lu")
    src.load((1L to 8L).map(doc(_, 1L)).toDF(cols: _*))
    (src, () => {
      src.update(Seq(doc(2L, 2L, "rewritten"), doc(9L, 2L)).toDF(cols: _*))
      src.removeKeys(Seq(3L).toDF("doc_id"))
    })
  }

  test("MapBuilder (deleteOrphans): a round that inserts, rewrites and deletes commits the target once") {
    val (src, round) = corpus("ocMapSrc")
    val base = tmp("oc_map")
    val fn: DataFrame => DataFrame = df =>
      df.select(col("doc_id"), col("lu"), upper(col("text")).alias("up"))
    def tgt(dir: String) = new ParquetStore(spark, s"$base/$dir", "doc_id", "lu",
      deltaWrites = true)
    val t = tgt("t")
    MapBuilder.columns(src, t, fn, deleteOrphans = true).run()
    round()
    oneCommitEach(t) {
      val r = MapBuilder.columns(src, t, fn, deleteOrphans = true).run()
      assert(r.processed === 2 && r.orphansDeleted === 1, s"$r")
    }
    val fresh = tgt("fresh")
    MapBuilder.columns(src, fresh, fn, deleteOrphans = true).run()
    assert(rows(t.df, "_bt") === rows(fresh.df, "_bt"))
  }

  test("Bm25IndexBuilder (deleteOrphans): a round that inserts, rewrites and deletes commits index and stats once each") {
    val (src, round) = corpus("ocBmSrc")
    val base = tmp("oc_bm25")
    def stores(dir: String) = (
      new ParquetStore(spark, s"$base/$dir/idx", "id", "term", deltaWrites = true),
      new ParquetStore(spark, s"$base/$dir/st", "sid", "sid"))
    val (idx, st) = stores("inc")
    def mk() = new Bm25IndexBuilder(src, idx, st, "text", deleteOrphans = true)
    mk().run()
    round()
    oneCommitEach(idx, st) {
      val r = mk().run()
      assert(r.processed === 2 && r.updated === 1 && r.orphansDeleted === 1, s"$r")
    }
    val (bi, bs) = (dirs(idx), dirs(st))
    assert(mk().run().processed === 0)
    assert(dirs(idx) === bi && dirs(st) === bs, "a no-op run writes nothing")
    val (fi, fs) = stores("fresh")
    new Bm25IndexBuilder(src, fi, fs, "text", deleteOrphans = true).run()
    assert(rows(idx.df) === rows(fi.df))
    assert(rows(st.df) === rows(fs.df))
  }

  test("AnnIndexBuilder (deleteOrphans): run and rebuild commit the code index once each") {
    val s = spark; import s.implicits._
    val (src, round) = corpus("ocAnnSrc")
    val base = tmp("oc_ann")
    val idx = new ParquetStore(spark, s"$base/idx", "id", "cell")
    val qz = new ParquetStore(spark, s"$base/qz", "qid", "qid")
    def mk(i: ParquetStore, q: graft.store.Store) = new AnnIndexBuilder(src, i, q,
      "embedding", nCentroids = 2, m = 2, ksub = 4, family = "md5", deleteOrphans = true)
    mk(idx, qz).run()
    round()
    oneCommitEach(idx) {
      val r = mk(idx, qz).run()
      assert(r.processed === 2 && r.updated === 1 && r.orphansDeleted === 1, s"$r")
    }
    // from scratch under the SAME quantizer (training depends on the
    // first batch, so a fresh quantizer would encode differently)
    val qzCopy = new MemoryStore(spark, "ocAnnQz", "qid", "qid")
    qzCopy.load(qz.df)
    val fresh = new ParquetStore(spark, s"$base/fresh", "id", "cell")
    mk(fresh, qzCopy).run()
    assert(rows(idx.df) === rows(fresh.df))
    // rebuild: the re-encoded codes and the stale ids' removal, one commit
    src.removeKeys(Seq(4L).toDF("doc_id"))
    oneCommitEach(idx) { assert(mk(idx, qz).rebuild().orphansDeleted === 1) }
    assert(idx.df.select("id").as[Long].collect().sorted ===
      src.df.select("doc_id").as[Long].collect().sorted)
  }

  test("CurateBuilder (incremental, deleteOrphans): a round that inserts, rewrites and deletes commits facts and manifest once each") {
    val (src, round) = corpus("ocCurSrc")
    val base = tmp("oc_curate")
    def stores(dir: String) = (
      new ParquetStore(spark, s"$base/$dir/facts", "doc_id", "lu"),
      new ParquetStore(spark, s"$base/$dir/tgt", "doc_id", "pack_id"))
    val (facts, tgt) = stores("inc")
    def mk() = new CurateBuilder(src, tgt, seqLen = 64, facts = Some(facts))
    mk().run()
    round()
    oneCommitEach(facts, tgt) {
      val r = mk().run()
      assert(r.processed === 2 && r.updated === 1 && r.orphansDeleted === 1, s"$r")
    }
    val (ff, ft) = stores("fresh")
    new CurateBuilder(src, ft, seqLen = 64, facts = Some(ff)).run()
    assert(rows(facts.df) === rows(ff.df))
    assert(rows(tgt.df) === rows(ft.df))
  }

  test("GroupBuilder: a run that moves no member between groups appends a delta, not a rewrite") {
    val s = spark; import s.implicits._
    val src = new MemoryStore(spark, "ocGrpSrc", key = "k", lastUpdatedField = "lu")
    def lu(i: Long) = new java.sql.Timestamp(1700000000000L + i * 1000)
    src.load(Seq((1L, "g", lu(1)), (2L, "h", lu(1)), (3L, "g", lu(1))).toDF("k", "a", "lu"))
    val tgt = new ParquetStore(spark, tmp("oc_group"), "kgrp", "lu", deltaWrites = true)
    def build() = new GroupBuilder(src, tgt, Seq("a"),
      aggExprs = Seq(count(lit(1)).alias("n_docs"))).run()
    build()
    assert(dirs(tgt) === Set("v_0"))
    // doc 4 joins group g above its min key: the group keeps key 1
    src.update(Seq((4L, "g", lu(2))).toDF("k", "a", "lu"))
    assert(build().processed === 1)
    assert(dirs(tgt) === Set("v_0", "v_0.d_1"))
    assert(tgt.df.select("kgrp", "ks", "n_docs").as[(Long, Seq[Long], Long)]
      .collect().sortBy(_._1).toSeq === Seq((1L, Seq(1L, 3L, 4L), 3L), (2L, Seq(2L), 1L)))
  }

  test("DedupBuilder: a failure at the repair pass's index commit leaves a state the next run repairs") {
    val s = spark; import s.implicits._
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val other = "another standalone document body with its own phrasing"
    val texts = Seq(dup, dup, "totally different words entirely here now for sure",
      other, other, "nice article about science and its methods today",
      "win money free now with this one simple trick", dup)
    val dcols = Seq("doc_id", "text", "lu")
    // the index commit throws once: before committing (a crash between
    // the target's and the index's commits) or after it (a crash right
    // after the index's commit)
    for (afterCommit <- Seq(false, true)) {
      val base = tmp("oc_dedup")
      val src = new MemoryStore(spark, s"ocDedupSrc$afterCommit", "doc_id", "lu")
      src.load(texts.zipWithIndex.map { case (t, i) => (i + 1L, t, 1L) }.toDF(dcols: _*))
      var armed = false
      val idx = new ParquetStore(spark, s"$base/idx", "id", "cluster", deltaWrites = true) {
        override def updateRemoveKeys(docs: DataFrame, removals: DataFrame,
                                      keyFields: Seq[String]): Unit = {
          val fire = armed
          armed = false
          if (fire && !afterCommit) throw new IllegalStateException("injected")
          super.updateRemoveKeys(docs, removals, keyFields)
          if (fire) throw new IllegalStateException("injected")
        }
      }
      val tgt = new ParquetStore(spark, s"$base/tgt", "doc_id", "lu", deltaWrites = true)
      def mk(i: ParquetStore, t: ParquetStore) = new DedupBuilder(src, t, "text",
        "minhash", threshold = 0.5, indexStore = Some(i), family = "md5")
      mk(idx, tgt).run()
      // doc 1, the canonical of {1, 2, 8}, is rewritten: the repair
      // pass promotes 2; doc 9 is new and joins {4, 5}
      src.update(Seq((1L, "entirely novel replacement content appearing once only", 2L),
        (9L, other, 2L)).toDF(dcols: _*))
      armed = true
      intercept[IllegalStateException](mk(idx, tgt).run())
      mk(idx, tgt).run()
      val fi = new ParquetStore(spark, s"$base/fidx", "id", "cluster")
      val ft = new ParquetStore(spark, s"$base/ftgt", "doc_id", "lu")
      mk(fi, ft).run()
      assert(rows(tgt.df) === rows(ft.df), s"target (failure after commit: $afterCommit)")
      assert(rows(idx.df) === rows(fi.df), s"index (failure after commit: $afterCommit)")
      assert(tgt.df.select("doc_id").as[Long].collect().sorted ===
        Array(1L, 2L, 3L, 4L, 6L, 7L))
    }
  }
}

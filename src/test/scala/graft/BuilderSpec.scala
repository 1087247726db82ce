package graft

import graft.builder._
import graft.store.MemoryStore
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Ports the reference's incremental-builder executable spec
  * (`tests/builders/test_copy_builder.py:54-144`,
  * `test_group_builder.py:63-78`, `test_projection_builder.py`). */
class BuilderSpec extends SparkSpec {

  private val now  = Timestamp.valueOf("2024-06-01 00:00:00")
  private val now1 = Timestamp.valueOf("2024-06-01 00:00:01")

  /** old_docs: k=0..19 v=old @now; new_docs: k=0..9 v=new @now+1s. */
  private def fixtures(): (MemoryStore, MemoryStore, MemoryStore) = {
    val s = spark; import s.implicits._
    val oldDocs = (0L to 19L).map(k => (k, "old", now)).toDF("k", "v", "lu")
    val newDocs = (0L to 9L).map(k => (k, "new", now1)).toDF("k", "v", "lu")
    val src = new MemoryStore(spark, "src", key = "k", lastUpdatedField = "lu")
    src.load(oldDocs)
    val srcNew = new MemoryStore(spark, "srcNew", key = "k", lastUpdatedField = "lu")
    srcNew.load(oldDocs.filter(col("k") >= 10).unionByName(newDocs))
    val tgt = new MemoryStore(spark, "tgt", key = "k", lastUpdatedField = "lu")
    (src, srcNew, tgt)
  }

  test("CopyBuilder: full build then incremental no-op (test_copy_builder.py:54-76)") {
    val (src, _, tgt) = fixtures()
    val b = CopyBuilder(src, tgt)
    assert(b.pendingKeys().count() === 20)
    val r1 = b.run()
    assert(r1.processed === 20)
    assert(tgt.count() === 20)
    // second run: delta must be empty (convergence)
    assert(CopyBuilder(src, tgt).pendingKeys().count() === 0)
  }

  test("CopyBuilder: detects 10 updated docs (newer lu)") {
    val (src, srcNew, tgt) = fixtures()
    CopyBuilder(src, tgt).run()
    val b2 = CopyBuilder(srcNew, tgt)
    assert(b2.pendingKeys().count() === 10)
    b2.run()
    assert(tgt.count(Some("""{"v": "new"}""")) === 10)
  }

  test("criteria-scoped build (test_copy_builder.py:91-99)") {
    val (src, _, tgt) = fixtures()
    val b = CopyBuilder(src, tgt, criteria = Some("""{"k": {"$lt": 11}}"""))
    assert(b.run().processed === 11)
    assert(tgt.count() === 11)
  }

  test("deleteOrphans removes target keys absent from source (:120-133)") {
    val (src, _, tgt) = fixtures()
    CopyBuilder(src, tgt).run()
    src.removeDocs("""{"k": {"$gte": 15}}""")
    val r = CopyBuilder(src, tgt, deleteOrphans = true).run()
    assert(r.orphansDeleted === 5)
    assert(tgt.count() === 15)
  }

  test("deleteOrphans on a never-written target sweeps nothing") {
    val (src, _, tgt) = fixtures()
    val pq = new graft.store.ParquetStore(spark,
      java.nio.file.Files.createTempDirectory("graft-orph").toString,
      key = "k", lastUpdatedField = "lu")
    for (target <- Seq(tgt, pq)) {
      val r = CopyBuilder(src, target, criteria = Some("""{"k": 99}"""),
        deleteOrphans = true).run()
      assert(r === BuildReport(0, 0, 0))
    }
  }

  test("docs plane: per-row error capture -> failed docs land in target (map_builder.py:144-155)") {
    val (src, _, tgt) = fixtures()
    val fn: String => String = { doc =>
      val m = MapBuilder.mapper.readTree(doc)
      if (m.get("k").asLong() % 5 == 0) throw new RuntimeException("boom " + m.get("k"))
      val o = m.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      o.put("v2", m.get("v").asText().toUpperCase); MapBuilder.mapper.writeValueAsString(o)
    }
    val r = MapBuilder.docs(src, tgt, fn).run()
    assert(r.processed === 20 && r.failed === 4)
    assert(tgt.count(Some("""{"state": "failed"}""")) === 4)
    assert(tgt.count(Some("""{"state": "successful", "v2": "OLD"}""")) === 16)
    assert(tgt.df.columns.contains("_process_time") && tgt.df.columns.contains("_bt"))
    // retry_failed: failed keys re-enter the pending set (map_builder.py:110-116)
    val b2 = MapBuilder.docs(src, tgt, fn, retryFailed = true)
    assert(b2.pendingKeys().count() === 4)
  }

  test("docs plane: timeout produces failed doc") {
    val (src, _, tgt) = fixtures()
    val fn: String => String = { doc =>
      if (MapBuilder.mapper.readTree(doc).get("k").asLong() == 7) Thread.sleep(5000)
      doc
    }
    val r = new MapBuilder(src, tgt, Right(fn), timeoutMs = 500).run()
    assert(r.failed === 1)
    assert(tgt.query("""{"state": "failed"}""").collect()(0)
      .getAs[String]("error").contains("timed out"))
  }

  test("GroupBuilder: groups, plural keys, max(lu), convergence (test_group_builder.py:63-78)") {
    val s = spark; import s.implicits._
    val docs = (0L to 19L).map(k => (k, k % 3, s"d$k",
      new Timestamp(now.getTime + k * 1000))).toDF("k", "a", "b", "lu")
    val src = new MemoryStore(spark, "src", key = "k", lastUpdatedField = "lu")
    src.load(docs)
    val tgt = new MemoryStore(spark, "tgt", key = "kgrp", lastUpdatedField = "lu")
    val b = new GroupBuilder(src, tgt, Seq("a"),
      aggExprs = Seq(count(lit(1)).alias("n_docs")),
      criteria = Some("""{"k": {"$ne": 3}}"""))
    assert(b.pendingIds().count() === 19)
    val r = b.run()
    assert(r.processed === 3)           // a ∈ {0,1,2}
    assert(tgt.count() === 3)
    val g0 = tgt.query("""{"a": 0}""").collect()(0)
    assert(g0.getAs[Seq[Long]]("ks") === Seq(0L, 6L, 9L, 12L, 15L, 18L)) // k=3 excluded
    assert(g0.getAs[Long]("n_docs") === 6)
    assert(g0.getAs[Timestamp]("lu") === new Timestamp(now.getTime + 18000))
    // re-run → zero pending
    assert(new GroupBuilder(src, tgt, Seq("a"), Seq(count(lit(1)).alias("n_docs")),
      criteria = Some("""{"k": {"$ne": 3}}""")).pendingIds().count() === 0)
  }

  test("GroupBuilder: re-merged group under a NEW min key removes the stale group doc") {
    val s = spark; import s.implicits._
    val src = new MemoryStore(spark, "gsk", key = "k", lastUpdatedField = "lu")
    src.load(Seq((5L, "g", now), (7L, "g", now)).toDF("k", "a", "lu"))
    val tgt = new MemoryStore(spark, "gst", key = "kgrp", lastUpdatedField = "lu")
    def build() = new GroupBuilder(src, tgt, Seq("a"),
      aggExprs = Seq(count(lit(1)).alias("n_docs"))).run()
    build()
    assert(tgt.df.select("kgrp").collect()(0).getLong(0) === 5L)
    // a new member with a SMALLER key joins the group: the group re-merges
    // under key 3 and the stale doc at key 5 must go
    src.update(Seq((3L, "g", now1)).toDF("k", "a", "lu"))
    build()
    val rows = tgt.df.collect()
    assert(rows.length === 1, s"stale group doc survived: ${rows.mkString}")
    assert(rows(0).getAs[Long]("kgrp") === 3L)
    assert(rows(0).getAs[Seq[Long]]("ks") === Seq(3L, 5L, 7L))
    assert(rows(0).getAs[Long]("n_docs") === 3L)
  }

  test("prechunk carries the builder's own criteria into every chunk") {
    val s = spark; import s.implicits._
    val src = new MemoryStore(spark, "pcc", key = "k", lastUpdatedField = "lu")
    src.load((0L to 99L).map(k => (k, if (k % 2 == 0) "x" else "y", now))
      .toDF("k", "t", "lu"))
    val tgt = new MemoryStore(spark, "pct", key = "k", lastUpdatedField = "lu")
    val b = CopyBuilder(src, tgt, criteria = Some("""{"t": "x"}"""))
    val chunks = b.prechunk(2)
    assert(chunks.forall(_.contains(""""t": "x"""")),
      s"chunk lost the build scope: $chunks")
    // a scoped run per chunk converges to the same target as one run
    chunks.foreach(c => MapBuilder.columns(src, tgt, identity,
      criteria = Some(c)).run())
    assert(tgt.df.count() === 50) // only t=x docs, never the y half
  }

  test("ProjectionBuilder: field selection, rename, later-wins merge") {
    val s = spark; import s.implicits._
    val s1 = new MemoryStore(spark, "s1", key = "k", lastUpdatedField = "lu")
    s1.load(Seq((1L, "a1", 10, now), (2L, "a2", 20, now)).toDF("k", "a", "b", "lu"))
    val s2 = new MemoryStore(spark, "s2", key = "k", lastUpdatedField = "lu")
    s2.load(Seq((2L, "B2", now), (3L, "B3", now)).toDF("k", "b2", "lu"))
    val tgt = new MemoryStore(spark, "tgt", key = "k", lastUpdatedField = "lu")
    new ProjectionBuilder(Seq(
      SourceProjection(s1, fields = Seq("a", "b")),
      SourceProjection(s2, renames = Map("newb" -> "b2"))
    ), tgt).run()
    assert(tgt.count() === 3)   // key universe = union {1,2,3}
    val r2 = tgt.query("""{"k": 2}""").collect()(0)
    assert(r2.getAs[String]("a") === "a2" && r2.getAs[String]("newb") === "B2")
    val r3 = tgt.query("""{"k": 3}""").collect()(0)
    assert(r3.getAs[Any]("a") === null && r3.getAs[String]("newb") === "B3")
  }

  test("MapBuilder projection: only requested + key/lu columns scanned (map_builder.py:120-123)") {
    val (src, _, tgt) = fixtures()
    val b = MapBuilder.columns(src, tgt, identity, projection = Seq("v"))
    assert(b.pendingItems().columns.toSet === Set("v", "k", "lu"))
  }

  test("GroupBuilder projection: grouping keys + key/lu forced in (group_builder.py:113-117)") {
    val s = spark; import s.implicits._
    val docs = (0L to 5L).map(k => (k, k % 2, s"d$k", s"x$k", now)).toDF("k", "a", "b", "c", "lu")
    val src = new MemoryStore(spark, "src", key = "k", lastUpdatedField = "lu")
    src.load(docs)
    val tgt = new MemoryStore(spark, "tgt", key = "kgrp", lastUpdatedField = "lu")
    val b = new GroupBuilder(src, tgt, Seq("a"), Seq(count(lit(1)).alias("n")),
      projection = Seq("b"))
    assert(b.pendingItems().columns.toSet === Set("b", "a", "k", "lu"))
    assert(b.run().processed === 2)
  }

  test("GroupBuilder doc plane: collect_list(struct) group merge (group_builder.py:125-155)") {
    val s = spark; import s.implicits._
    val docs = (0L to 5L).map(k => (k, k % 2, s"d$k", now)).toDF("k", "a", "b", "lu")
    val src = new MemoryStore(spark, "src", key = "k", lastUpdatedField = "lu")
    src.load(docs)
    val tgt = new MemoryStore(spark, "tgt", key = "kgrp", lastUpdatedField = "lu")
    new GroupBuilder(src, tgt, Seq("a"), GroupBuilder.collectDocs(Seq("k", "b"))).run()
    val g0 = tgt.query("""{"a": 0}""").collect()(0)
    val members = g0.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("docs")
      .map(_.getAs[String]("b")).sorted
    assert(members === Seq("d0", "d2", "d4"))
  }

  test("GroupBuilder retryFailed re-enqueues failed groups (group_builder.py:205-212)") {
    val s = spark; import s.implicits._
    val docs = (0L to 5L).map(k => (k, k % 2, now)).toDF("k", "a", "lu")
    val src = new MemoryStore(spark, "src", key = "k", lastUpdatedField = "lu")
    src.load(docs)
    val tgt = new MemoryStore(spark, "tgt", key = "kgrp", lastUpdatedField = "lu")
    new GroupBuilder(src, tgt, Seq("a"), Seq(count(lit(1)).alias("n"))).run()
    // flip one group to failed; retryFailed must re-enqueue its members
    tgt.update(tgt.df.filter(col("a") === 0).withColumn("state", lit("failed")),
      Seq("kgrp"))
    val b = new GroupBuilder(src, tgt, Seq("a"), Seq(count(lit(1)).alias("n")),
      retryFailed = true)
    assert(b.pendingIds().count() === 3)   // k = 0, 2, 4
    assert(new GroupBuilder(src, tgt, Seq("a"), Seq(count(lit(1)).alias("n")))
      .pendingIds().count() === 0)
  }

  test("prechunk(2) splits the delta into disjoint covering criteria (test_copy_builder.py:137-144)") {
    val (src, _, tgt) = fixtures()
    val chunks = CopyBuilder(src, tgt).prechunk(2)
    assert(chunks.size === 2)
    // per-chunk scoped builds cover the whole delta exactly once
    chunks.foreach(c => CopyBuilder(src, tgt, criteria = Some(c)).run())
    assert(tgt.count() === 20)
    assert(CopyBuilder(src, tgt).pendingKeys().count() === 0)
  }

  test("GroupBuilder doc-function plane: per-group error capture (group_builder.py:125-155)") {
    val s = spark; import s.implicits._
    val docs = (0L to 8L).map(k => (k, k % 3, s"d$k", now)).toDF("k", "a", "b", "lu")
    val src = new MemoryStore(spark, "src", key = "k", lastUpdatedField = "lu")
    src.load(docs)
    val tgt = new MemoryStore(spark, "tgt", key = "kgrp", lastUpdatedField = "lu")
    val fn: String => String = { docsJson =>
      val arr = MapBuilder.mapper.readTree(docsJson)
      require(arr.isArray, "expected a JSON array of docs")
      val it = arr.elements()
      var n = 0; var joined = List.empty[String]
      while (it.hasNext) {
        val d = it.next(); n += 1
        if (d.get("a").asLong() == 1) throw new RuntimeException("bad group " + d.get("a"))
        joined = d.get("b").asText() :: joined
      }
      s"""{"n_docs": $n, "merged": ${"\"" + joined.sorted.mkString(",") + "\""}}"""
    }
    val r = GroupBuilder.docs(src, tgt, Seq("a"), fn).run()
    assert(r.processed === 3 && r.failed === 1)
    // the failed group keeps its envelope (key, membership) so retries find it
    val bad = tgt.query("""{"state": "failed"}""").collect()(0)
    assert(bad.getAs[String]("error").contains("bad group"))
    assert(bad.getAs[Long]("kgrp") === 1L)
    assert(bad.getAs[Seq[Long]]("ks") === Seq(1L, 4L, 7L))
    val g0 = tgt.query("""{"state": "successful", "kgrp": 0}""").collect()(0)
    assert(g0.getAs[Long]("n_docs") === 3 && g0.getAs[String]("merged") === "d0,d3,d6")
    assert(tgt.df.columns.contains("_process_time") && tgt.df.columns.contains("_bt"))
    // retryFailed re-enqueues exactly the failed group's members
    assert(GroupBuilder.docs(src, tgt, Seq("a"), fn, retryFailed = true)
      .pendingIds().count() === 3)
  }

  test("GroupBuilder.prechunk: disjoint covering chunks converge to the unchunked result (group_builder.py:93-105)") {
    val s = spark; import s.implicits._
    val docs = (0L to 19L).map(k => (k, k % 5, now)).toDF("k", "a", "lu")
    val src = new MemoryStore(spark, "src", key = "k", lastUpdatedField = "lu")
    src.load(docs)
    def builder(tgt: MemoryStore, crit: Option[String] = None) =
      new GroupBuilder(src, tgt, Seq("a"), Seq(count(lit(1)).alias("n")), crit)
    val whole = new MemoryStore(spark, "whole", key = "kgrp", lastUpdatedField = "lu")
    builder(whole).run()
    val chunked = new MemoryStore(spark, "chunked", key = "kgrp", lastUpdatedField = "lu")
    val chunks = builder(chunked).prechunk(2)
    assert(chunks.size === 2)
    chunks.foreach(c => builder(chunked, Some(c)).run())
    // union covers every group exactly once, same result as one run
    assert(chunked.count() === 5)
    assert(builder(chunked).pendingIds().count() === 0)
    val a = whole.df.select("a", "kgrp", "n").collect().map(_.toSeq).toSet
    val b = chunked.df.select("a", "kgrp", "n").collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("builder transform plan executes exactly once per row (VERDICT r2 #1)") {
    val (src, _, tgt) = fixtures()
    val acc = spark.sparkContext.longAccumulator("xform-rows")
    val bump = udf { (k: Long) => acc.add(1); k }.asNondeterministic()
    val r = MapBuilder.columns(src, tgt, df => df.withColumn("k2", bump(col("k")))).run()
    assert(r.processed === 20)
    // before the localCheckpoint fix this was 40-60: report count, failed
    // count and the upsert write each re-ran the transform plan
    assert(acc.value === 20)
  }

  test("ProjectionBuilder: rename replaces identity pick of the same name (no ambiguity)") {
    val s = spark; import s.implicits._
    val s1 = new MemoryStore(spark, "s1", key = "k", lastUpdatedField = "lu")
    s1.load(Seq((1L, "va", "vb", now)).toDF("k", "a", "b", "lu"))
    val tgt = new MemoryStore(spark, "tgt", key = "k", lastUpdatedField = "lu")
    // take all fields, but output "a" should come from column b
    new ProjectionBuilder(Seq(
      SourceProjection(s1, renames = Map("a" -> "b"))), tgt).run()
    val r = tgt.query("""{"k": 1}""").collect()(0)
    assert(r.getAs[String]("a") === "vb" && r.getAs[String]("b") === "vb")
  }

  test("doc-plane fns run exactly once per row/group (inference pass reads the checkpoint)") {
    val s = spark; import s.implicits._
    val rowCalls = spark.sparkContext.longAccumulator("doc_fn_calls")
    val src = new MemoryStore(spark, "src", key = "k", lastUpdatedField = "lu")
    src.load((1L to 5L).map(i => (i, s"v$i", now)).toDF("k", "v", "lu"))
    val tgt = new MemoryStore(spark, "tgt", key = "k", lastUpdatedField = "lu")
    MapBuilder.docs(src, tgt, { doc => rowCalls.add(1); doc }).run()
    // spark.read.json schema inference is its own pass — without the
    // string checkpoint this was 10 (inference + materialization)
    assert(rowCalls.value === 5)
    val grpCalls = spark.sparkContext.longAccumulator("grp_fn_calls")
    val gsrc = new MemoryStore(spark, "gsrc", key = "k", lastUpdatedField = "lu")
    gsrc.load(Seq((1L, "a", now), (2L, "a", now), (3L, "b", now))
      .toDF("k", "g", "lu"))
    val gtgt = new MemoryStore(spark, "gtgt", key = "g", lastUpdatedField = "lu")
    GroupBuilder.docs(gsrc, gtgt, Seq("g"),
      { docs => grpCalls.add(1); s"""{"n": ${docs.count(_ == '{')}}""" }).run()
    assert(grpCalls.value === 2)
  }

  test("CurateBuilder exact-dedup: planted mega-duplicate collapses map-side (no hot reducer)") {
    val s = spark; import s.implicits._
    // one boilerplate page duplicated 100k× + 50 distinct docs: the
    // skewed-key shape VERDICT r14 #1 flagged. Long enough text to pass
    // the C4/Gopher gates (>= 20 words, terminal punctuation per line).
    val boiler = ("this is a perfectly ordinary boilerplate paragraph that " +
      "keeps repeating across the crawl and easily clears the minimum word " +
      "count gate for curation purposes today.")
    val uniq = (0 until 50).map(i =>
      (1000000L + i, s"document number $i carries its own unique sentence " +
        s"payload number $i so the content hash differs across all of the " +
        "fifty distinct documents in this fixture corpus.", "en"))
    val rows = (0L until 100000L).map(k => (k, boiler, "en")) ++ uniq
    val src = new MemoryStore(spark, "cskew_src", key = "k", lastUpdatedField = "k")
    src.load(rows.toDF("k", "text", "lang"))
    val tgt = new MemoryStore(spark, "cskew_tgt", key = "k", lastUpdatedField = "k")
    val b = new CurateBuilder(src, tgt)
    val manifest = b.curated()
    // the dedup exchange must be preceded by a PARTIAL min_by aggregate —
    // map-side combine collapses the 100k duplicates to one row per map
    // task before any shuffle, so no single reducer streams the hot hash
    val plan = manifest.queryExecution.executedPlan.toString
    assert(plan.contains("partial_min_by"),
      s"expected map-side partial min_by below the dedup exchange:\n$plan")
    val kept = manifest.select("k").collect().map(_.getLong(0)).toSet
    assert(kept.contains(0L), "min-key survivor of the duplicate group")
    assert(!kept.exists(k => k > 0L && k < 100000L), "all other copies dropped")
    assert(kept.count(_ >= 1000000L) === 50, "distinct docs all survive")
  }

  test("CurateBuilder: target keyed by a different column still converges (no stale manifest rows)") {
    val s = spark; import s.implicits._
    val rows = (0 until 30).map(i =>
      (i.toLong, s"document number $i carries its own unique sentence " +
        s"payload number $i so the content hash differs across all of the " +
        "thirty distinct documents in this fixture corpus.", "en"))
    val src = new MemoryStore(spark, "ckey_src", key = "k", lastUpdatedField = "k")
    src.load(rows.toDF("k", "text", "lang"))
    // target keyed by a DIFFERENT column name: the upsert must alias the
    // manifest's key to it, or the orphan sweep silently skips (ADVICE r14)
    val tgt = new MemoryStore(spark, "ckey_tgt", key = "doc_key", lastUpdatedField = "doc_key")
    new CurateBuilder(src, tgt).run()
    assert(tgt.df.columns.contains("doc_key"))
    assert(tgt.count() === 30)
    // shrink the corpus: the re-run must sweep the orphaned manifest rows
    src.load(rows.take(10).toDF("k", "text", "lang"))
    val r2 = new CurateBuilder(src, tgt).run()
    assert(r2.orphansDeleted === 20, s"orphan sweep must fire on the aliased key: $r2")
    assert(tgt.count() === 10)
  }

  test("DedupBuilder semantic method: duplicate vector collapses to the min-id twin") {
    val s = spark; import s.implicits._
    // 20 vectors in 4 angular clusters (hot dim i%4, spread dim 4+i%4);
    // same-cluster mates stay below cos 0.999, so with threshold 0.9999
    // only the exact duplicate (id 21 = copy of id 1) pairs
    def vec(i: Int): Seq[Double] =
      Seq.tabulate(8)(d =>
        if (d == i % 4) 1.0 else if (d == 4 + i % 4) 0.02 * i else 0.0)
    val rows = (1 to 20).map(i => (i.toLong, vec(i), now)) :+ ((21L, vec(1), now))
    val src = new MemoryStore(spark, "src", key = "vec_id", lastUpdatedField = "lu")
    src.load(rows.toDF("vec_id", "embedding", "lu"))
    val tgt = new MemoryStore(spark, "tgt", key = "vec_id", lastUpdatedField = "lu")
    val r = new DedupBuilder(src, tgt, textField = "embedding",
      method = "semantic", threshold = 0.9999).run()
    assert(r.processed === 20)
    val kept = tgt.df.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(1L) && !kept.contains(21L) && kept.size === 20)
  }
}
package graft

import graft.query.QueryParams
import graft.store.{MemoryStore, ParquetStore, TableStore}
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Store-surface assertions mirroring `tests/stores/test_mongolike.py`
  * (query/count/distinct/groupby/update-upsert/remove/newer_in). */
class StoreSpec extends SparkSpec {

  private def mkStore(key: String = "k"): MemoryStore = {
    val s = spark; import s.implicits._
    val st = new MemoryStore(spark, key = key, lastUpdatedField = "lu")
    st.load(Seq(
      (0L, "a", 1.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, "b", 2.0, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
      (2L, "a", 3.0, java.sql.Timestamp.valueOf("2024-01-03 00:00:00")),
      (3L, "c", 4.0, java.sql.Timestamp.valueOf("2024-01-04 00:00:00"))
    ).toDF("k", "d", "v", "lu"))
    st
  }

  test("query: criteria + projection + sort + limit") {
    val st = mkStore()
    val out = st.query(QueryParams(
      criteria = Some("""{"v": {"$gt": 1.5}}"""),
      properties = Seq("k", "d"), sort = Seq("k" -> -1), limit = Some(2)))
    assert(out.collect().map(_.getLong(0)).toSeq === Seq(3L, 2L))
  }

  test("queryOne / count") {
    val st = mkStore()
    assert(st.count() === 4)
    assert(st.count(Some("""{"d": "a"}""")) === 2)
    assert(st.queryOne(QueryParams(sort = Seq("k" -> 1))).get.getLong(0) === 0L)
  }

  test("distinct incl. missing field → empty") {
    val st = mkStore()
    assert(st.distinct("d").collect().map(_.getString(0)).sorted.toSeq === Seq("a", "b", "c"))
    assert(st.distinct("d", Some("""{"v": {"$lt": 2.5}}""")).count() === 2)
  }

  test("distinct unravels array fields (mongolike.py:176-181)") {
    val s = spark; import s.implicits._
    val st = new MemoryStore(spark, key = "k")
    st.load(Seq((1L, Seq("mp-0", "mp-1")), (2L, Seq("mp-1", "mp-2"))).toDF("k", "ids"))
    assert(st.distinct("ids").count() === 3)
  }

  test("groupby returns key + docs array (sizes 2/1/1)") {
    val st = mkStore()
    val g = st.groupby(Seq("d")).collect()
    assert(g.length === 3)
    val sizes = g.map(r => r.getString(0) -> r.getSeq[Any](1).size).toMap
    assert(sizes === Map("a" -> 2, "b" -> 1, "c" -> 1))
  }

  test("distinct on array fields keeps null-valued docs (explode_outer)") {
    val s = spark; import s.implicits._
    val st = new MemoryStore(spark, "dn", key = "k")
    st.load(Seq((1L, Seq("a", "b")), (2L, null)).toDF("k", "f"))
    val vals = st.distinct("f").collect().map(r =>
      Option(r.getString(0)).getOrElse("<null>")).toSet
    assert(vals === Set("a", "b", "<null>"))
  }

  test("groupby with dot-path properties references the projected flat names") {
    val s = spark; import s.implicits._
    val st = new MemoryStore(spark, "gp", key = "k")
    st.load(Seq((1L, "g1", 10L), (2L, "g1", 20L), (3L, "g2", 30L)).toDF("k", "g", "n")
      .select(col("k"), col("g"), struct(col("n").alias("x")).alias("nested")))
    val grouped = st.groupby(Seq("g"), properties = Seq("nested.x", "k"))
      .orderBy("g").collect()
    assert(grouped.length === 2)
    val docs = grouped(0).getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("docs")
    assert(docs.size === 2)
    // projected dotted property surfaces under its flat alias; docs
    // carry properties ∪ group keys (reference $project shape)
    assert(docs.head.schema.fieldNames.toSet === Set("nested_x", "k", "g"))
  }

  test("update = upsert by key; last-write-wins within batch") {
    val s = spark; import s.implicits._
    val st = mkStore()
    st.update(Seq(
      (1L, "B", 20.0, java.sql.Timestamp.valueOf("2024-02-01 00:00:00")),
      (9L, "z", 9.0, java.sql.Timestamp.valueOf("2024-02-01 00:00:00")),
      (9L, "zz", 99.0, java.sql.Timestamp.valueOf("2024-02-02 00:00:00"))
    ).toDF("k", "d", "v", "lu"))
    assert(st.count() === 5)
    assert(st.query("""{"k": 1}""").collect()(0).getAs[String]("d") === "B")
    assert(st.query("""{"k": 9}""").collect()(0).getAs[String]("d") === "zz")
  }

  test("update with compound key (test_mongolike.py:130-159)") {
    val s = spark; import s.implicits._
    val st = mkStore()
    st.update(Seq((0L, "a", 100.0, java.sql.Timestamp.valueOf("2024-03-01 00:00:00")))
      .toDF("k", "d", "v", "lu"), keyFields = Seq("k", "d"))
    assert(st.count() === 4)
    assert(st.query("""{"k": 0}""").collect()(0).getAs[Double]("v") === 100.0)
  }

  test("removeDocs keeps non-matching incl. null-predicate rows") {
    val st = mkStore()
    st.removeDocs("""{"d": "a"}""")
    assert(st.count() === 2)
  }

  test("lastUpdated = max(lu)") {
    val st = mkStore()
    assert(st.lastUpdated.get === java.sql.Timestamp.valueOf("2024-01-04 00:00:00"))
  }

  test("newerIn exhaustive: new + updated keys (core/store.py:239-275)") {
    val s = spark; import s.implicits._
    val src = mkStore()
    val tgt = new MemoryStore(spark, key = "k", lastUpdatedField = "lu")
    tgt.load(Seq(
      (0L, "a", 1.0, java.sql.Timestamp.valueOf("2024-05-01 00:00:00")),  // newer
      (1L, "b", 2.0, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),  // same
      (7L, "n", 7.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))   // new key
    ).toDF("k", "d", "v", "lu"))
    val delta = src.newerIn(tgt).collect().map(_.getLong(0)).sorted
    assert(delta.toSeq === Seq(0L, 7L))
    // fast path: max(src.lu)=01-04 → only key 0 (05-01) qualifies
    val fast = src.newerIn(tgt, exhaustive = false).collect().map(_.getLong(0))
    assert(fast.toSeq === Seq(0L))
  }

  test("ParquetStore: durable upsert + removeKeys round-trip") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toString
    val st = new ParquetStore(spark, dir, key = "k", lastUpdatedField = "lu")
    assert(st.isEmpty)
    st.update(Seq((1L, "x", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("k", "d", "lu"))
    st.update(Seq(
      (1L, "x2", java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
      (2L, "y", java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))).toDF("k", "d", "lu"))
    assert(st.count() === 2)
    assert(st.query("""{"k": 1}""").collect()(0).getAs[String]("d") === "x2")
    st.removeKeys(Seq(1L).toDF("k"))
    assert(st.count() === 1)
    // fresh handle sees the committed version
    val st2 = new ParquetStore(spark, dir, key = "k", lastUpdatedField = "lu")
    assert(st2.count() === 1)
  }

  test("updateRemoveKeys: fused remove+upsert == the two-call sequence, ONE version flip") {
    val s = spark; import s.implicits._
    // ParquetStore, compound-key upsert (the lu-update builder shape):
    // remove doc 1's rows and upsert a batch re-stating doc 1 + adding
    // doc 3 — compare against the sequential reference contents
    def seed(st: ParquetStore): Unit =
      st.update(Seq((1L, "a", 2L), (1L, "b", 1L), (2L, "a", 5L))
        .toDF("id", "tok", "cnt"), Seq("id", "tok"))
    val batch = Seq((1L, "c", 7L), (3L, "a", 9L)).toDF("id", "tok", "cnt")
    val removals = Seq(1L).toDF("id")
    val d1 = java.nio.file.Files.createTempDirectory("graft-urk1").toString
    val fused = new ParquetStore(spark, d1, key = "id", lastUpdatedField = "cnt")
    seed(fused)
    val vBefore = fused.contentToken
    fused.updateRemoveKeys(batch, removals, Seq("id", "tok"))
    // exactly one committed version flip (v_n -> v_{n+1})
    assert(fused.contentToken === "v_" + (vBefore.drop(2).toLong + 1))
    val d2 = java.nio.file.Files.createTempDirectory("graft-urk2").toString
    val seq2 = new ParquetStore(spark, d2, key = "id", lastUpdatedField = "cnt")
    seed(seq2)
    seq2.removeKeys(removals)
    seq2.update(batch, Seq("id", "tok"))
    def contents(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "tok", "cnt").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(contents(fused.df) === contents(seq2.df))
    assert(contents(fused.df) ===
      Set((1L, "c", 7L), (2L, "a", 5L), (3L, "a", 9L)))
    // MemoryStore: same fused contract, one checkpointed plan
    val m = new MemoryStore(spark, key = "id")
    m.update(Seq((1L, "a", 2L), (1L, "b", 1L), (2L, "a", 5L))
      .toDF("id", "tok", "cnt"), Seq("id", "tok"))
    m.updateRemoveKeys(batch, removals, Seq("id", "tok"))
    assert(contents(m.df) === contents(fused.df))
    // empty-store degenerate: behaves as a plain update
    val d3 = java.nio.file.Files.createTempDirectory("graft-urk3").toString
    val e = new ParquetStore(spark, d3, key = "id", lastUpdatedField = "cnt")
    e.updateRemoveKeys(batch, removals, Seq("id", "tok"))
    assert(contents(e.df) === Set((1L, "c", 7L), (3L, "a", 9L)))
  }

  test("ParquetStore deltaWrites: O(batch) upserts, merge-on-read last-wins, compaction") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mor").toString
    def dirs() = new java.io.File(dir).listFiles.map(_.getName)
      .filter(_.startsWith("v_")).sorted.toSeq
    val st = new ParquetStore(spark, dir, key = "k", lastUpdatedField = "lu",
      deltaWrites = true, compactAfter = 2)
    st.update(Seq((1L, "a"), (2L, "b")).toDF("k", "d"))
    assert(dirs() === Seq("v_0")) // first write is a plain base
    // delta 1: restate key 2, add key 3 — base dir untouched, only the
    // batch is written
    st.update(Seq((2L, "b2"), (3L, "c")).toDF("k", "d"))
    assert(dirs() === Seq("v_0", "v_0.d_1"))
    assert(spark.read.parquet(s"$dir/v_0.d_1").count() === 2) // O(batch)
    assert(spark.read.parquet(s"$dir/v_0").count() === 2)     // base as-was
    // merge-on-read: later generation wins per key
    val rows = st.df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows === Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    assert(st.count() === 3) // delta-aware count (footer path would say 4)
    // a fresh handle reads the same manifest
    assert(new ParquetStore(spark, dir, key = "k", deltaWrites = true)
      .count() === 3)
    // delta 2 hits compactAfter=2 → fold to one base
    st.update(Seq((1L, "a3")).toDF("k", "d"))
    assert(dirs() === Seq("v_0", "v_0.d_1", "v_0.d_2", "v_1") || dirs() === Seq("v_1"),
      s"unexpected layout ${dirs()}")
    assert(st.contentToken === "v_1") // manifest reset, no pending deltas
    val after = st.df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after === Map(1L -> "a3", 2L -> "b2", 3L -> "c"))
    // delete paths compact-first (full rewrite semantics preserved)
    st.update(Seq((4L, "d")).toDF("k", "d")) // v_1.d_1
    st.removeKeys(Seq(2L).toDF("k"))
    assert(st.contentToken === "v_2")
    assert(st.df.select("k").collect().map(_.getLong(0)).sorted === Array(1L, 3L, 4L))
  }

  test("TableStore over TESTDATA parquet") {
    val st = TableStore.parquet(spark, "/root/testdata/sf0.001/orders.parquet",
      key = "o_orderkey", lastUpdated = "o_orderdate")
    assert(st.count(Some("""{"o_totalprice": {"$gt": 100000}}""")) > 0)
    assert(st.distinct("o_orderstatus").count() <= 3)
  }

  test("groupby parity params: properties/sort/skip/limit fold before grouping (core/store.py:147-172)") {
    val st = mkStore()
    // sort by k asc, skip 1, limit 2 → docs k=1 (d=b), k=2 (d=a)
    val g = st.groupby(Seq("d"), sort = Seq("k" -> 1), skip = 1,
      limit = Some(2), properties = Seq("v"))
    val rows = g.collect()
    val sizes = rows.map(r => r.getString(0) -> r.getSeq[Any](1).size).toMap
    assert(sizes === Map("a" -> 1, "b" -> 1))
    // projected docs carry properties ∪ keys (mongolike.py:219-221)
    val docFields = g.schema("docs").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSet
    assert(docFields === Set("v", "d"))
    // reference cardinalities (test_mongolike.py:162-180)
    val s = spark; import s.implicits._
    val st2 = new MemoryStore(spark, key = "f")
    st2.load(Seq((7L, 9L, 9L), (7L, 9L, 10L), (8L, 9L, 11L), (9L, 10L, 12L))
      .toDF("e", "d", "f"))
    assert(st2.groupby(Seq("d")).count() === 2)
    assert(st2.groupby(Seq("e", "d")).count() === 3)
  }

  test("queryExpr string filter (open_data.py:69-81) + aggregateSql escape hatch (api/resource/aggregation.py)") {
    val st = mkStore()
    assert(st.queryExpr("v > 1.5 AND d = 'a'").collect().map(_.getLong(0)).toSeq === Seq(2L))
    val agg = st.aggregateSql("SELECT d, count(*) AS n FROM docs GROUP BY d ORDER BY d")
    assert(agg.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("a", 2L), ("b", 1L), ("c", 1L)))
  }

  test("ParquetStore no-criteria count is footer-metadata only (zero Spark jobs)") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cnt").toString
    val st = new ParquetStore(spark, dir, key = "k")
    st.update(Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "d"))
    Thread.sleep(300) // let the update's job events drain
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).toSet
    assert(st.count() === 3)
    Thread.sleep(500) // listener-bus drain window before re-reading
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).toSet
    assert(after === before,
      s"footer count must launch no Spark job, saw ${(after -- before).toSeq.sorted}")
    // criteria path still scans and agrees
    assert(st.count(Some("""{"d": {"$ne": "x"}}""")) === 2)
  }

  test("ParquetStore flips _current by atomic rename, leaving no tmp file") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-atomic")
    val st = new ParquetStore(spark, dir.toString, key = "k", lastUpdatedField = "lu")
    st.update(Seq((1L, "a")).toDF("k", "d"))
    val cur = dir.resolve("_current")
    val ino = java.nio.file.Files.getAttribute(cur, "unix:ino")
    st.update(Seq((2L, "b")).toDF("k", "d"))
    st.putMeta("marker", "x")
    // a rename installs a new inode; an in-place rewrite keeps the old one
    assert(java.nio.file.Files.getAttribute(cur, "unix:ino") !== ino)
    assert(java.nio.file.Files.readString(cur) === "v_1")
    assert(st.getMeta("marker") === Some("x"))
    assert(!dir.toFile.list().exists(_.endsWith(".tmp")))
  }

  test("ParquetStore writes _indexkeys only when the index keys change") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-indexkeys")
    val st = new ParquetStore(spark, dir.toString, key = "k", lastUpdatedField = "lu")
    st.update(Seq((1L, "a")).toDF("k", "d"))
    st.update(Seq((2L, "b")).toDF("k", "d"))
    val keys = dir.resolve("_indexkeys")
    assert(!java.nio.file.Files.exists(keys))
    st.ensureIndex("k")
    assert(java.nio.file.Files.readString(keys) === "k")
    val ino = java.nio.file.Files.getAttribute(keys, "unix:ino")
    st.update(Seq((3L, "c")).toDF("k", "d"))
    assert(java.nio.file.Files.getAttribute(keys, "unix:ino") === ino)
    // a restarted instance still knows the layout
    assert(new ParquetStore(spark, dir.toString, key = "k", lastUpdatedField = "lu")
      .ensureIndex("k"))
    assert(java.nio.file.Files.getAttribute(keys, "unix:ino") === ino)
    assert(st.count() === 3)
  }

  // ---------------------------------------------------------------
  // point reads: ParquetStore answers {key: scalar} from its footers
  // ---------------------------------------------------------------

  /** `body`'s result and the Spark jobs started while it ran. */
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

  private def json(d: DataFrame): Seq[String] =
    d.select(to_json(struct(col("*")))).collect().map(_.getString(0)).toSeq.sorted

  /** `st.query(params)` as JSON, checked against the plan over `df`
    * (rendered by `toJSON`). The query runs first, on cold caches, and
    * `jobs` is the Spark jobs it may start (0: the fast path served it). */
  private def keyRead(st: ParquetStore, params: QueryParams, jobs: Int = 0): Seq[String] = {
    val (got, n) = jobsIn(json(st.query(params)))
    val want = params(st.df).toJSON.collect().toSeq.sorted
    assert(got === want, s"fast path vs plan for ${params.criteria}")
    if (jobs == 0) assert(n === 0, s"${params.criteria} started $n Spark jobs")
    else assert(n >= jobs, s"${params.criteria} started $n Spark jobs, so it did not fall back")
    got
  }
  private def keyRead(st: ParquetStore, criteria: String): Seq[String] =
    keyRead(st, QueryParams(criteria = Some(criteria)))

  private def deltaStore(name: String, compactAfter: Int = 8): ParquetStore =
    new ParquetStore(spark, java.nio.file.Files.createTempDirectory(name).toString,
      key = "k", lastUpdatedField = "lu", deltaWrites = true, compactAfter = compactAfter)

  private def fill(st: ParquetStore): Unit = {
    val s = spark; import s.implicits._
    st.update((1L to 60L).map(k => (k, s"d$k", k * 0.5)).toDF("k", "d", "v"))
  }

  test("point read, base only: the footer schema is the inferred one; 0 jobs") {
    val st = deltaStore("pr-base")
    fill(st)
    assert(keyRead(st, """{"k": 7}""") === Seq("""{"k":7,"d":"d7","v":3.5}"""))
    assert(st.df.schema === spark.read.parquet(s"${st.root}/v_0").schema)
    // a compound-key upsert leaves repeated keys: every row is returned
    val s = spark; import s.implicits._
    st.update(Seq((7L, "e7", 9.0)).toDF("k", "d", "v"), Seq("k", "d"))
    assert(keyRead(st, """{"k": 7}""").size === 2)
  }

  test("point read with 1 and 2 pending deltas that re-state the key") {
    val s = spark; import s.implicits._
    val st = deltaStore("pr-deltas")
    fill(st)
    st.update(Seq((7L, "x1", 1.0), (8L, "y1", 1.0)).toDF("k", "d", "v"))
    assert(keyRead(st, """{"k": 7}""") === Seq("""{"k":7,"d":"x1","v":1.0}"""))
    st.update(Seq((7L, "x2", 2.0)).toDF("k", "d", "v"))
    assert(st.contentToken === "v_0;d_1,d_2")
    assert(keyRead(st, """{"k": 7}""") === Seq("""{"k":7,"d":"x2","v":2.0}"""))
    assert(keyRead(st, """{"k": 8}""") === Seq("""{"k":8,"d":"y1","v":1.0}"""))
    assert(keyRead(st, """{"k": 9}""") === Seq("""{"k":9,"d":"d9","v":4.5}"""))
  }

  test("point read of a key present only in a delta, and after compaction") {
    val s = spark; import s.implicits._
    val st = deltaStore("pr-compact", compactAfter = 2)
    fill(st)
    st.update(Seq((99L, "new", 1.0)).toDF("k", "d", "v"))
    assert(keyRead(st, """{"k": 99}""") === Seq("""{"k":99,"d":"new","v":1.0}"""))
    st.update(Seq((7L, "x2", 2.0)).toDF("k", "d", "v"))
    assert(st.contentToken === "v_1") // the second delta compacted
    assert(keyRead(st, """{"k": 99}""") === Seq("""{"k":99,"d":"new","v":1.0}"""))
    assert(keyRead(st, """{"k": 7}""") === Seq("""{"k":7,"d":"x2","v":2.0}"""))
  }

  test("point read of a missing key is empty, with and without deltas") {
    val s = spark; import s.implicits._
    val st = deltaStore("pr-missing")
    fill(st)
    assert(keyRead(st, """{"k": 12345}""").isEmpty)
    st.update(Seq((7L, "x1", 1.0)).toDF("k", "d", "v"))
    assert(keyRead(st, """{"k": 12345}""").isEmpty)
    assert(keyRead(st, """{"k": -1}""").isEmpty)
  }

  test("point read: int literal on long and int key columns; string key") {
    val s = spark; import s.implicits._
    val longs = deltaStore("pr-long")
    fill(longs)
    assert(keyRead(longs, """{"k": 60}""") === Seq("""{"k":60,"d":"d60","v":30.0}"""))
    val ints = deltaStore("pr-int")
    ints.update((1 to 40).map(k => (k, s"i$k")).toDF("k", "d"))
    ints.update(Seq((5, "i5b")).toDF("k", "d"))
    assert(keyRead(ints, """{"k": 5}""") === Seq("""{"k":5,"d":"i5b"}"""))
    assert(keyRead(ints, """{"k": 6}""") === Seq("""{"k":6,"d":"i6"}"""))
    val strs = new ParquetStore(spark,
      java.nio.file.Files.createTempDirectory("pr-str").toString, key = "sid",
      lastUpdatedField = "sid", deltaWrites = true)
    strs.update((1 to 40).map(i => (s"s$i", i.toLong)).toDF("sid", "n"))
    strs.update(Seq(("s3", 33L), ("new", 1L)).toDF("sid", "n"))
    assert(keyRead(strs, """{"sid": "s3"}""") === Seq("""{"sid":"s3","n":33}"""))
    assert(keyRead(strs, """{"sid": "s4"}""") === Seq("""{"sid":"s4","n":4}"""))
    assert(keyRead(strs, """{"sid": "s"}""").isEmpty)
  }

  test("point read through a delta that adds a column") {
    val s = spark; import s.implicits._
    val st = deltaStore("pr-widen")
    fill(st)
    st.update(Seq((7L, "x1", 1.0, "extra")).toDF("k", "d", "v", "note"))
    assert(st.df.columns.toSeq === Seq("k", "d", "v", "note"))
    assert(keyRead(st, """{"k": 7}""") === Seq("""{"k":7,"d":"x1","v":1.0,"note":"extra"}"""))
    assert(keyRead(st, """{"k": 8}""") === Seq("""{"k":8,"d":"d8","v":4.0}"""))
  }

  test("point read runs the query's projection and limit on the local frame") {
    val s = spark; import s.implicits._
    val st = deltaStore("pr-project")
    fill(st)
    st.update(Seq((7L, "x1", 1.0)).toDF("k", "d", "v"))
    val qp = QueryParams(criteria = Some("""{"k": 7}"""), properties = Seq("d"),
      limit = Some(1))
    assert(keyRead(st, qp) === Seq("""{"d":"x1"}"""))
    assert(keyRead(st, qp.copy(skip = 1)).isEmpty)
  }

  test("point read decodes only the columns the query reads; over the byte ceiling it falls back") {
    val s = spark; import s.implicits._
    val st = deltaStore("pr-wide")
    // 40 distinct 500 KB strings: every lookup's candidate groups carry
    // MiBs of `big`, over the point read's byte ceiling
    st.update((1L to 40L).map(k => (k, s"d$k", s"$k" + "x" * 500000)).toDF("k", "d", "big"))
    st.update(Seq((7L, "x1", "small")).toDF("k", "d", "big"))
    val narrow = QueryParams(criteria = Some("""{"k": 8}"""), properties = Seq("D"))
    assert(keyRead(st, narrow).map(_.toLowerCase) === Seq("""{"d":"d8"}"""))
    assert(keyRead(st, narrow.copy(criteria = Some("""{"k": 7}"""), properties = Seq("k", "big")))
      === Seq("""{"k":7,"big":"small"}"""))
    // a sorted field is read too, and the sort runs on the driver
    assert(keyRead(st, narrow.copy(criteria = Some("""{"k": 7}"""), sort = Seq("big" -> 1)))
      .map(_.toLowerCase) === Seq("""{"d":"x1"}"""))
    assert(keyRead(st, QueryParams(criteria = Some("""{"k": 8}""")), jobs = 1).size === 1)
  }

  test("$and and $gt criteria on a small store are served on the driver") {
    val s = spark; import s.implicits._
    val st = deltaStore("pr-fallback")
    fill(st)
    st.update(Seq((7L, "x1", 1.0)).toDF("k", "d", "v"))
    assert(keyRead(st, QueryParams(criteria =
      Some("""{"$and": [{"k": 7}, {"v": {"$gt": 0}}]}""")))
      === Seq("""{"k":7,"d":"x1","v":1.0}"""))
    assert(keyRead(st, QueryParams(criteria = Some("""{"k": {"$gt": 58}}""")))
      === Seq("""{"k":59,"d":"d59","v":29.5}""", """{"k":60,"d":"d60","v":30.0}"""))
    // a literal that does not cast to the key type prunes nothing
    assert(keyRead(st, QueryParams(criteria = Some("""{"k": 7.5}"""))).isEmpty)
  }

  // ---------------------------------------------------------------
  // driver reads: any criteria over small candidate row groups
  // ---------------------------------------------------------------

  /** `keyRead` with the page's row ORDER checked too (a total-order sort). */
  private def orderedRead(st: ParquetStore, params: QueryParams): Seq[String] = {
    val (got, n) = jobsIn(st.query(params).select(to_json(struct(col("*"))))
      .collect().map(_.getString(0)).toSeq)
    assert(got === params(st.df).toJSON.collect().toSeq, s"driver read vs plan for $params")
    assert(n === 0, s"$params started $n Spark jobs")
    got
  }

  /** Docs with a struct, an array, nulls, NaN, -0.0 and repeated values. */
  private def docStore(name: String): ParquetStore = {
    val s = spark; import s.implicits._
    val st = deltaStore(name)
    st.update((1L to 30L).map { k =>
      (k, if (k % 7 == 0) null else s"t${k % 4}",
        if (k == 5) Double.NaN else if (k == 6) -0.0 else (k % 5) * 0.5,
        Seq(s"x${k % 3}", s"y${k % 2}"), (k % 3, s"g$k"))
    }.toDF("k", "d", "v", "tags", "g"))
    st
  }

  private val criteriaCases = Seq(
    """{"d": "t1"}""", """{"d": {"$eq": "t2"}}""", """{"d": {"$ne": "t1"}}""",
    """{"v": {"$gt": 1.0}}""", """{"v": {"$gte": 1.0}}""", """{"v": {"$lt": 1.0}}""",
    """{"v": {"$lte": 0.0}}""", """{"k": {"$in": [3, 9, 27, 300]}}""",
    """{"d": {"$nin": ["t1", null]}}""", """{"d": {"$in": ["t3", null]}}""",
    """{"d": {"$exists": true}}""", """{"d": {"$exists": false}}""", """{"d": null}""",
    """{"missing": null}""", """{"missing": {"$ne": 1}}""", """{"d": {"$regex": "^t[12]$"}}""",
    """{"tags": "x1"}""", """{"tags": {"$all": ["x1", "y0"]}}""", """{"tags": {"$size": 2}}""",
    """{"tags": {"$elemMatch": {"$in": ["x2"]}}}""", """{"g._1": 2}""", """{"g._2": {"$gte": "g3"}}""",
    """{"$or": [{"k": 1}, {"v": {"$gt": 1.5}}]}""", """{"$nor": [{"d": "t1"}, {"d": "t2"}]}""",
    """{"$and": [{"k": {"$gt": 10}}, {"d": {"$not": {"$eq": "t3"}}}]}""",
    """{"$not": {"k": {"$lt": 20}}}""", """{"$expr": {"$gt": ["$k", "$v"]}}""",
    """{"$text": {"$search": "t1", "$field": "d"}}""")

  test("driver read equals the plan over df: criteria operators, base only and with deltas; 0 jobs") {
    val s = spark; import s.implicits._
    val st = docStore("dr-ops")
    def check(): Unit = criteriaCases.foreach(c => keyRead(st, c))
    check()
    // a delta re-stating keys (one moves out of and one into a match set)
    st.update(Seq((3L, "t1", 9.0, Seq("x9"), (2L, "g3b")), (40L, "t1", 0.5, Seq("x1"), (1L, "g40")))
      .toDF("k", "d", "v", "tags", "g"))
    check()
    // a second delta that adds a column
    st.update(Seq((9L, "t3", 1.0, Seq("x1", "y0"), (0L, "g9b"), "n9"))
      .toDF("k", "d", "v", "tags", "g", "note"))
    assert(st.contentToken === "v_0;d_1,d_2")
    check()
    keyRead(st, """{"note": {"$exists": true}}""")
    keyRead(st, """{"note": null}""")
  }

  test("driver read equals the plan over df: total-order sorts, skip/limit, dot-path projections") {
    val s = spark; import s.implicits._
    val st = docStore("dr-sort")
    st.update(Seq((3L, null: String, Double.NaN, Seq("x9"), (2L, "g3b"))).toDF("k", "d", "v", "tags", "g"))
    val sorts = Seq(Seq("v" -> 1, "k" -> 1), Seq("v" -> -1, "k" -> -1), Seq("d" -> 1, "k" -> -1),
      Seq("d" -> -1, "k" -> 1), Seq("g._1" -> -1, "g._2" -> 1), Seq("k" -> -1))
    for (sort <- sorts; (skip, limit) <- Seq((0, None), (0, Some(5)), (4, Some(3)), (28, Some(5)))) {
      orderedRead(st, QueryParams(sort = sort, skip = skip, limit = limit))
      orderedRead(st, QueryParams(criteria = Some("""{"v": {"$gte": 0.5}}"""),
        properties = Seq("k", "g._2", "v"), sort = sort, skip = skip, limit = limit))
    }
  }

  test("driver read: $in on the key and on the leading index field prune row groups; over the row ceiling it falls back") {
    val s = spark; import s.implicits._
    // 80k narrow rows in 8 term-ordered row groups: more rows than the
    // driver read takes, while the groups of a few terms fit
    val st = new ParquetStore(spark, java.nio.file.Files.createTempDirectory("dr-prune").toString,
      key = "id", lastUpdatedField = "id", numPartitions = 8)
    st.update(spark.range(80000).select(col("id"), format_string("w%03d", col("id") % 800).alias("term"),
      (col("id") % 7).alias("tf")))
    st.ensureIndex("term")
    val terms = QueryParams(criteria = Some("""{"term": {"$in": ["w001", "w450", "nope"]}}"""),
      properties = Seq("term", "id", "tf"))
    assert(keyRead(st, terms).size === 200)
    assert(keyRead(st, QueryParams(criteria = Some("""{"term": "w799"}"""))).size === 100)
    assert(keyRead(st, QueryParams(criteria = Some("""{"id": {"$in": [5, 79999, 100000]}}"""))).size === 2)
    // nothing prunes a range criteria: the plan takes it
    assert(keyRead(st, QueryParams(criteria = Some("""{"term": {"$gte": "w790"}}""")), jobs = 1)
      .size === 1000)
  }

  /** The codec of every column chunk of every `.parquet` file under
    * `dir`, read from the footers. */
  private def codecs(dir: String): Set[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty, s"no parquet file under $dir")
    files.toSet.flatMap { (f: java.io.File) =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), conf))
      try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet
      finally r.close()
    }
  }

  test("ParquetStore writes zstd column chunks: a version, a delta dir and a compacted base") {
    val s = spark; import s.implicits._
    val st = deltaStore("zstd-files", compactAfter = 2)
    // the session default (snappy) does not reach store files
    assert(spark.conf.get("spark.sql.parquet.compression.codec") === "snappy")
    fill(st)
    assert(codecs(s"${st.root}/v_0") === Set("ZSTD"))
    st.update(Seq((7L, "x1", 1.0)).toDF("k", "d", "v"))
    assert(codecs(s"${st.root}/v_0.d_1") === Set("ZSTD"))
    st.update(Seq((8L, "y1", 1.0)).toDF("k", "d", "v"))
    assert(st.contentToken === "v_1") // the second delta compacted
    assert(codecs(s"${st.root}/v_1") === Set("ZSTD"))
  }

  test("a snappy-written store takes a zstd delta, serves df, a driver query and a byKey, then compacts") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snappy-store").toString
    // v_0 as a store written with the session's snappy codec leaves it
    (1L to 60L).map(k => (k, s"d$k", k * 0.5)).toDF("k", "d", "v")
      .write.option("compression", "snappy").parquet(s"$dir/v_0")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "_current"), "v_0")
    assert(codecs(s"$dir/v_0") === Set("SNAPPY"))
    val st = new ParquetStore(spark, dir, key = "k", lastUpdatedField = "lu",
      deltaWrites = true, compactAfter = 8)
    val want = scala.collection.mutable.Map((1L to 60L).map(k => k -> (s"d$k", k * 0.5)): _*)
    def check(): Unit = {
      assert(st.df.as[(Long, String, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
        === want.toMap)
      for (k <- Seq(7L, 99L, 12L)) {
        val row = want.get(k).map { case (d, v) => s"""{"k":$k,"d":"$d","v":$v}""" }.toSeq
        assert(keyRead(st, s"""{"k": $k}""") === row)
        assert(new graft.api.ReadResource(st, Nil).byKey(k.toString) === row.headOption)
      }
    }
    check()
    st.update(Seq((7L, "x1", 1.0), (99L, "new", 2.0)).toDF("k", "d", "v"))
    assert(st.contentToken === "v_0;d_1")
    assert(codecs(s"$dir/v_0.d_1") === Set("ZSTD"))
    want ++= Seq(7L -> ("x1", 1.0), 99L -> ("new", 2.0))
    check()
    st.compact()
    assert(st.contentToken === "v_1")
    assert(codecs(s"$dir/v_1") === Set("ZSTD"))
    check()
  }
}

package graft

import graft.store._
import graft.store.views.{ConcatStore, JointStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One write contract run over every writable store kind: upsert,
  * compound-key upsert, removeDocs, removeKeys, the fused
  * updateRemoveKeys and removals on an empty store must leave the same
  * contents whichever backend holds them. Read-only views refuse all
  * four writes. */
class StoreWriteContractSpec extends SparkSpec {

  /** A store kind: `fresh()` opens a new empty store; `compound` says
    * whether it upserts on a compound key. */
  private case class Kind(name: String, compound: Boolean, fresh: () => Store)

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  private val kinds = Seq(
    Kind("MemoryStore", compound = true,
      () => new MemoryStore(spark, key = "k")),
    Kind("ParquetStore", compound = true,
      () => new ParquetStore(spark, tmp("wc-pq"), key = "k")),
    Kind("ParquetStore deltaWrites", compound = true,
      () => new ParquetStore(spark, tmp("wc-pqd"), key = "k",
        deltaWrites = true, compactAfter = 2)),
    Kind("JsonStore", compound = true, { () =>
      val f = java.nio.file.Paths.get(tmp("wc-json"), "docs.json")
      java.nio.file.Files.writeString(f, "[]")
      new JsonStore(spark, Seq(f.toString), key = "k", readOnly = false)
    }),
    Kind("OpenDataStore", compound = true,
      () => new OpenDataStore(spark, tmp("wc-od"), objectGrouping = Seq("d"),
        key = "k", writeShards = 1)),
    Kind("FileStore sidecar", compound = false,
      () => new FileStore(spark, tmp("wc-fs"))))

  private def docs(st: Store, rows: (String, String, Option[Long])*): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF(st.key, "d", "v")
  }

  /** a (d=x), b (d=y), c (d=x, v null). */
  private def seeded(kind: Kind): Store = {
    val st = kind.fresh()
    st.update(docs(st, ("a", "x", Some(1L)), ("b", "y", Some(2L)), ("c", "x", None)))
    st
  }

  private def contents(st: Store): Set[(String, String, Option[Long])] =
    if (!Seq(st.key, "d", "v").forall(st.df.columns.contains)) Set.empty
    else st.df.select(col(st.key), col("d"), col("v").cast("long")).collect()
      .map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet

  for (kind <- kinds) {
    test(s"${kind.name}: upsert is last-write-wins within a batch") {
      val st = seeded(kind)
      st.update(docs(st, ("b", "y", Some(20L)), ("d", "y", Some(3L)),
        ("d", "y", Some(30L))))
      assert(contents(st) === Set(("a", "x", Some(1L)), ("b", "y", Some(20L)),
        ("c", "x", None), ("d", "y", Some(30L))))
    }

    if (kind.compound) test(s"${kind.name}: compound-key upsert") {
      val st = seeded(kind)
      st.update(docs(st, ("a", "x", Some(10L)), ("a", "y", Some(11L))),
        Seq(st.key, "d"))
      assert(contents(st) === Set(("a", "x", Some(10L)), ("a", "y", Some(11L)),
        ("b", "y", Some(2L)), ("c", "x", None)))
    }

    test(s"${kind.name}: removeDocs keeps rows whose predicate is null") {
      val st = seeded(kind)
      st.removeDocs("""{"v": {"$gt": 1}}""")
      assert(contents(st) === Set(("a", "x", Some(1L)), ("c", "x", None)))
    }

    test(s"${kind.name}: removeKeys takes the first column, whatever its name") {
      val s = spark; import s.implicits._
      val st = seeded(kind)
      st.removeKeys(Seq("a", "z").toDF("other_name"))
      assert(contents(st) === Set(("b", "y", Some(2L)), ("c", "x", None)))
    }

    test(s"${kind.name}: updateRemoveKeys == removeKeys then update") {
      val s = spark; import s.implicits._
      val fused = seeded(kind)
      val seq = seeded(kind)
      val removals = Seq("a", "b").toDF("id")
      def batch(st: Store) = docs(st, ("a", "y", Some(5L)), ("e", "x", Some(6L)))
      fused.updateRemoveKeys(batch(fused), removals)
      seq.removeKeys(removals)
      seq.update(batch(seq))
      assert(contents(fused) === contents(seq))
      assert(contents(fused) === Set(("a", "y", Some(5L)), ("c", "x", None),
        ("e", "x", Some(6L))))
    }

    test(s"${kind.name}: removals on an empty store are no-ops") {
      val s = spark; import s.implicits._
      val st = kind.fresh()
      st.removeDocs("""{"v": 1}""")
      st.removeKeys(Seq("a").toDF("k"))
      assert(contents(st) === Set.empty)
      st.updateRemoveKeys(docs(st, ("a", "x", Some(1L))), Seq("a").toDF("k"))
      assert(contents(st) === Set(("a", "x", Some(1L))))
    }

    test(s"${kind.name}: a store emptied by removals reads empty and takes upserts") {
      val s = spark; import s.implicits._
      val st = seeded(kind)
      st.removeKeys(Seq("a", "b", "c").toDF("k"))
      assert(contents(st) === Set.empty)
      st.update(docs(st, ("d", "y", Some(4L))))
      assert(contents(st) === Set(("d", "y", Some(4L))))
    }
  }

  test("TableStore, JointStore and ConcatStore refuse all four writes") {
    val s = spark; import s.implicits._
    val base = seeded(kinds.head)
    val views = Seq(
      new TableStore(spark, base.df, "table", "k"),
      new JointStore(base, Seq("other" -> base)),
      new ConcatStore(Seq(base)))
    val batch = docs(base, ("z", "x", Some(9L)))
    val keys = Seq("a").toDF("k")
    for (v <- views) {
      intercept[UnsupportedOperationException](v.update(batch))
      intercept[UnsupportedOperationException](v.removeDocs("""{"k": "a"}"""))
      intercept[UnsupportedOperationException](v.removeKeys(keys))
      intercept[UnsupportedOperationException](v.updateRemoveKeys(batch, keys))
    }
    assert(contents(base).size === 3)
  }
}

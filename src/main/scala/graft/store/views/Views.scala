package graft.store.views

import graft.builder.Materialize
import graft.query.MongoFilter
import graft.store.{ReadOnlyStore, Store}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** C13 `JointStore` (reference `stores/compound_stores.py:14-314`):
  * read-only left-outer equi-join of N stores on a shared key.
  *
  * Two merge modes, mirroring the reference's `$lookup` post-processing
  * (`compound_stores.py:160-218`):
  *  - nested (default, = non-merge): each non-main store's document
  *    appears as a struct column named after the store
  *  - `mergeAtRoot`: the other stores' columns are merged into the root
  *    document, main-store values winning on collision (the reference's
  *    `$replaceRoot{$mergeObjects}` merges main last)
  *
  * The combined `greatest`-of-all-stores timestamp OVERWRITES the main
  * store's `lastUpdatedField` itself (reference
  * `$addFields {last_updated_field: $max[...]}`,
  * `compound_stores.py:201-204`) — criteria/sort on the original field
  * name see the combined value, exactly as in the reference.
  *
  * Scale: the join shuffles on the shared key; when the non-main stores
  * are dimension-sized the planner broadcast-hashes them (AQE) — exactly
  * the 100 TB shape we want. No driver materialization anywhere.
  */
class JointStore(
    val main: Store,
    val others: Seq[(String, Store)],
    val mergeAtRoot: Boolean = false)
  extends ReadOnlyStore {

  def spark: SparkSession = main.spark
  def key: String = main.key
  /** The main store's field name, always: [[df]] overwrites it with the
    * combined `greatest`-of-all-stores timestamp, so `lastUpdated`/
    * `newerIn` see updates landing in a NON-main store without a synthetic
    * column — and the getter is pure metadata (no member-`df` forcing;
    * JSON-backed members would pay schema inference on a name lookup). */
  override def lastUpdatedField: String = main.lastUpdatedField
  val name: String = s"joint:${(main.name +: others.map(_._1)).mkString("+")}"

  def df: DataFrame = {
    val lus = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Column]()
    var acc = main.df
    if (acc.columns.contains(main.lastUpdatedField))
      lus += col(main.lastUpdatedField)
    for ((oname, o) <- others) {
      val odf = o.df
      if (mergeAtRoot) {
        // merge-at-root: bring other columns up; main wins on collision
        val dup = odf.columns.toSet
          .intersect(acc.columns.toSet) - key
        val renamedLu =
          if (odf.columns.contains(o.lastUpdatedField)) {
            lus += col(s"__lu_$oname")
            odf.withColumnRenamed(o.lastUpdatedField, s"__lu_$oname")
          } else odf
        val pruned = dup.foldLeft(renamedLu)((d, c) =>
          if (c == o.lastUpdatedField) d else d.drop(c))
        acc = acc.join(pruned.withColumnRenamed(o.key, key), Seq(key), "left_outer")
      } else {
        val structed = odf.select(
          col(o.key).alias(key),
          struct(odf.columns.filterNot(_ == o.key).map(col): _*).alias(oname))
        acc = acc.join(structed, Seq(key), "left_outer")
        if (odf.columns.contains(o.lastUpdatedField))
          lus += col(oname).getField(o.lastUpdatedField)
      }
    }
    // overwrite the main field IN PLACE (reference semantics): queries
    // filtering or sorting on main.lastUpdatedField see the combined max
    val out =
      if (lus.size > 1) acc.withColumn(main.lastUpdatedField, greatest(lus.toSeq: _*))
      else if (lus.size == 1) acc.withColumn(main.lastUpdatedField, lus.head)
      else acc
    out.drop(others.map(o => s"__lu_${o._1}"): _*)
  }
}

/** C14 `ConcatStore` (reference `stores/compound_stores.py:317-522`):
  * union-all view over stores. The reference documents sort/skip/limit as
  * broken across sub-stores (`:446`); here the union is a single plan so
  * every query operator applies correctly over the whole — count =
  * `count` over the union, distinct = set-union, groupby = native
  * (the reference gathers all groups in driver memory, `:478-500`; this
  * design keeps it distributed).
  */
class ConcatStore(val stores: Seq[Store], val name: String = "concat")
  extends ReadOnlyStore {
  require(stores.nonEmpty, "ConcatStore needs at least one store")
  def spark: SparkSession = stores.head.spark
  def key: String = stores.head.key
  override def lastUpdatedField: String = stores.head.lastUpdatedField
  def df: DataFrame =
    stores.map(_.df).reduce(_.unionByName(_, allowMissingColumns = true))
}

/** C15 `AliasingStore` (reference `stores/advanced_stores.py:198-388`):
  * column-rename view. `aliases` maps external → internal names. Reads
  * surface external names; writes translate back to internal before
  * delegating (dot-path internal names supported on read via `col()`).
  */
class AliasingStore(val inner: Store, val aliases: Map[String, String])
  extends Store {
  def spark: SparkSession = inner.spark
  private val internalToExternal: Map[String, String] = aliases.map(_.swap)
  // the contract fields surface EXTERNAL names, like every read: an
  // aliased key/timestamp otherwise breaks key-addressed operations
  // (newerIn/groupby would reference a column df does not expose)
  def key: String = internalToExternal.getOrElse(inner.key, inner.key)
  override def lastUpdatedField: String =
    internalToExternal.getOrElse(inner.lastUpdatedField, inner.lastUpdatedField)
  val name: String = s"alias:${inner.name}"

  def df: DataFrame = {
    val d = inner.df
    val aliased = aliases.toSeq.map { case (ext, int) => col(int).alias(ext) }
    val passthrough = d.columns.toSeq
      .filterNot(c => internalToExternal.contains(c))
      .map(col)
    d.select(passthrough ++ aliased: _*)
  }

  override def update(docs: DataFrame, keyFields: Seq[String]): Unit = {
    // reverse-substitute external → internal on the write path
    // (reference `advanced_stores.py:311-320`)
    val renamed = aliases.foldLeft(docs) { case (d, (ext, int)) =>
      if (d.columns.contains(ext)) d.withColumnRenamed(ext, int) else d
    }
    inner.update(renamed, keyFields.map(k => aliases.getOrElse(k, k)))
  }
  override def removeDocs(criteria: String): Unit = {
    // criteria arrives in external names; rewrite FIELD KEYS to internal
    // via the JSON tree — a string replace would also rewrite matching
    // value strings and delete the wrong documents
    val mapper = graft.builder.MapBuilder.mapper
    def rename(n: com.fasterxml.jackson.databind.JsonNode)
        : com.fasterxml.jackson.databind.JsonNode = n match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode =>
        val out = mapper.createObjectNode()
        o.fields().asScala.foreach { e =>
          val k =
            if (e.getKey.startsWith("$")) e.getKey
            else aliases.getOrElse(e.getKey, e.getKey)
          out.set[com.fasterxml.jackson.databind.JsonNode](k, rename(e.getValue))
        }
        out
      case a: com.fasterxml.jackson.databind.node.ArrayNode =>
        val out = mapper.createArrayNode()
        a.elements().asScala.foreach(e =>
          out.add(rename(e)))
        out
      case other => other
    }
    inner.removeDocs(mapper.writeValueAsString(rename(mapper.readTree(criteria))))
  }
  override def removeKeys(keys: DataFrame): Unit = {
    // keys arrive under the EXTERNAL key name; translate for the inner
    val renamed =
      if (key != inner.key && keys.columns.contains(key))
        keys.withColumnRenamed(key, inner.key)
      else keys
    inner.removeKeys(renamed)
  }
}

/** C16 `SandboxStore` (reference `stores/advanced_stores.py:391-546`):
  * row-security view. Every read sees only docs tagged with this sandbox
  * (`sbxn` array contains it) or — unless `exclusive` — untagged docs
  * (`sbxn` null/absent); mirrors the injected
  * `{"$or":[{sbxn:{$in:[sbx]}},{sbxn:{$exists:false}}]}` predicate
  * (`advanced_stores.py:422-429`). Writes tag documents with the sandbox
  * (`array_union`, `advanced_stores.py:503-507`).
  */
class SandboxStore(val inner: Store, val sandbox: String,
                   val exclusive: Boolean = false)
  extends Store {
  def spark: SparkSession = inner.spark
  def key: String = inner.key
  override def lastUpdatedField: String = inner.lastUpdatedField
  val name: String = s"sandbox[$sandbox]:${inner.name}"

  def df: DataFrame = {
    val d = inner.df
    if (!d.columns.contains("sbxn")) {
      if (exclusive) d.limit(0) else d
    } else {
      val tagged = array_contains(col("sbxn"), sandbox)
      if (exclusive) d.filter(coalesce(tagged, lit(false)))
      else d.filter(coalesce(tagged, lit(false)) || col("sbxn").isNull)
    }
  }

  override def update(docs: DataFrame, keyFields: Seq[String]): Unit = {
    val tagged =
      if (docs.columns.contains("sbxn"))
        docs.withColumn("sbxn",
          array_union(coalesce(col("sbxn"), array()), array(lit(sandbox))))
      else docs.withColumn("sbxn", array(lit(sandbox)))
    inner.update(tagged, keyFields)
  }
  // deletes are sandbox-scoped like reads: resolving the criteria against
  // the FILTERED view and deleting by key means a sandbox can never
  // remove another sandbox's (or, in exclusive mode, untagged) documents
  override def removeDocs(criteria: String): Unit =
    inner.removeKeys(MongoFilter(df, criteria).select(col(key)))
  override def removeKeys(keys: DataFrame): Unit =
    inner.removeKeys(keys.join(df.select(col(key)), Seq(key), "left_semi"))
}

/** Validator-attached store (reference `core/store.py` `validator`
  * attribute + `stores/mongolike.py:378-391`): every `update` batch runs
  * through the contract first — invalid documents are NOT stored. Strict
  * validators abort the write (the reference's raised ValidationError);
  * non-strict ones route invalid docs to the optional `rejects` sink
  * (with their `_validation_errors`) and store the rest, the
  * log-and-drop analogue with an auditable trail. Validation is one
  * distributed filter pass ([[graft.store.RowValidator]]) — never a
  * per-doc driver loop. */
class ValidatingStore(val inner: Store, val contract: graft.store.RowValidator,
                      val rejects: Option[Store] = None)
  extends Store {
  def spark: SparkSession = inner.spark
  def key: String = inner.key
  override def lastUpdatedField: String = inner.lastUpdatedField
  val name: String = s"validated:${inner.name}"
  def df: DataFrame = inner.df

  override def update(docs: DataFrame, keyFields: Seq[String]): Unit = {
    // one materialization: the strict probe, the rejects write and the
    // inner write must not each re-run the batch plan (builder rule)
    Materialize.scope {
      val annotated = Materialize.checkpoint(contract.annotate(docs))
      val invalid = annotated.filter(col("_validation_errors").isNotNull)
      if (contract.strict) {
        val bad = invalid.limit(1).collect()
        if (bad.nonEmpty) throw new IllegalArgumentException(
          s"validation failed (strict): ${bad.head.getAs[Seq[String]]("_validation_errors").mkString("; ")}")
      }
      rejects.foreach { sink =>
        val flat = invalid.withColumn("_validation_errors",
          concat_ws("; ", col("_validation_errors")))
        if (!flat.isEmpty) sink.update(flat, keyFields)
      }
      val valid = annotated.filter(col("_validation_errors").isNull)
        .drop("_validation_errors")
      if (!valid.isEmpty) inner.update(valid, keyFields)
    }
  }
  override def removeDocs(criteria: String): Unit = inner.removeDocs(criteria)
  override def removeKeys(keys: DataFrame): Unit = inner.removeKeys(keys)
  override def ensureIndex(field: String, unique: Boolean = false): Boolean =
    inner.ensureIndex(field, unique)
}

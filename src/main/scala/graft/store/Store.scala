package graft.store

import graft.query.{MongoFilter, QueryParams}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** The uniform keyed-document-collection interface (reference
  * `core/store.py:33-328`), re-expressed over DataFrames.
  *
  * A Store is a (possibly writable) collection of documents with a
  * distinguished unique `key` column and a `lastUpdatedField` timestamp
  * column. All read operators are **plan constructors** — nothing is
  * collected driver-side; `newerIn`, `groupby`, `distinct` all stay
  * distributed (the reference materializes these in driver memory,
  * `core/store.py:254-267` — that is the scale bottleneck this design
  * removes, SURVEY §7.5(7)).
  */
trait Store {
  def spark: SparkSession
  def key: String
  def lastUpdatedField: String = "last_updated"
  def name: String

  /** Current contents as a DataFrame (the "collection"). */
  def df: DataFrame

  /** Cheap driver-side freshness token: changes whenever the store's
    * contents change, WITHOUT running a Spark action. Serving-tier
    * caches (e.g. [[graft.api.ReadResource]]'s `total_doc` cache) key on
    * it so a builder write invalidates cached derived values immediately
    * instead of waiting out a TTL. Stores with no cheap signal return
    * `""` (token never changes — TTL alone governs). */
  private[graft] def contentToken: String = ""

  // ---------------------------------------------------------------
  // builder metadata (markers): small key→value strings builders
  // persist ALONGSIDE the store — e.g. the clean-pair reconcile
  // fingerprint the count-merging builders stamp after a fully
  // committed run (UnigramLm/QualityClf/Bm25: skip the
  // O(contributions) startup reconcile when the pair tokens still
  // match). Durable stores override with a sidecar so the marker
  // survives the process like the data does; the default is
  // instance-local (matching the lifetime of an in-memory store's
  // contents).
  // ---------------------------------------------------------------
  private[this] val metaMap =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def putMeta(k: String, v: String): Unit = metaMap.put(k, v)
  private[graft] def getMeta(k: String): Option[String] = Option(metaMap.get(k))

  // -------------------------------------------------------------------
  // read surface (S1-S5, S9, S10)
  // -------------------------------------------------------------------

  /** S1 `query`: filter + project + sort + skip + limit. */
  def query(params: QueryParams = QueryParams.empty): DataFrame = params(df)

  def query(criteria: String): DataFrame = query(QueryParams(criteria = Some(criteria)))

  /** S2 `query_one`. */
  def queryOne(params: QueryParams = QueryParams.empty): Option[Row] =
    params.copy(limit = Some(1))(df).collect().headOption

  /** S3 `count`. */
  def count(criteria: Option[String] = None): Long =
    criteria.map(c => MongoFilter(df, c)).getOrElse(df).count()

  /** S4 `distinct`: distinct values of a (dot-path) field under criteria;
    * array-typed fields are unravelled first (reference
    * `stores/mongolike.py:176-181`). Missing field → empty; null values
    * are included (reference `tests/stores/test_mongolike.py:110-115`). */
  def distinct(field: String, criteria: Option[String] = None): DataFrame = {
    val base = criteria.map(c => MongoFilter(df, c)).getOrElse(df)
    val isArray = fieldIsArray(base, field)
    // missing field (flat or dot-path) → empty result, not an analysis
    // error (reference: distinct of a missing key yields [],
    // tests/stores/test_mongolike.py:110-115)
    val present =
      if (field.contains(".")) resolvePath(base, field)
      else base.columns.contains(field)
    if (!present)
      return spark.emptyDataFrame.withColumn(field.replace('.', '_'), lit(null)).limit(0)
    val proj =
      // explode_outer: a doc whose array VALUE is null contributes null
      // (the documented "null values are included" contract — plain
      // explode would drop the row entirely)
      if (isArray) base.select(explode_outer(col(field)).alias(field.replace('.', '_')))
      else base.select(col(field).alias(field.replace('.', '_')))
    proj.distinct()
  }

  /** Resolve a dot-path against the schema (None = absent). */
  private def pathType(d: DataFrame, path: String)
      : Option[org.apache.spark.sql.types.DataType] =
    scala.util.Try {
      path.split('.').foldLeft(d.schema: org.apache.spark.sql.types.DataType) {
        case (s: org.apache.spark.sql.types.StructType, p) => s(p).dataType
        case (other, _) => throw new IllegalArgumentException(s"$other has no $path")
      }
    }.toOption

  private def resolvePath(d: DataFrame, path: String): Boolean =
    pathType(d, path).isDefined

  private def fieldIsArray(d: DataFrame, path: String): Boolean =
    pathType(d, path).exists(_.isInstanceOf[ArrayType])

  /** Approximate-distinct extension (SURVEY S4 note): HyperLogLog++
    * cardinality — one pass, constant memory, no shuffle of values. */
  def distinctApprox(field: String, criteria: Option[String] = None,
                     rsd: Double = 0.05): Long = {
    val base = criteria.map(c => MongoFilter(df, c)).getOrElse(df)
    base.agg(approx_count_distinct(col(field), rsd)).collect()(0).getLong(0)
  }

  /** Typed read surface: the query fold decoded to a case class
    * (`Dataset[T]` where type safety helps — engine metadata records,
    * fixed-schema pipelines). */
  def queryAs[T: org.apache.spark.sql.Encoder](params: QueryParams): org.apache.spark.sql.Dataset[T] =
    params(df).as[T]

  /** S5 `groupby`: group docs by key(s) → (key columns, `docs` array of
    * structs), full parity surface (reference `core/store.py:147-172`):
    * `criteria`/`properties`/`sort`/`skip`/`limit` fold over the document
    * stream BEFORE grouping (the `$match→$sort→$skip→$limit→$group`
    * pipeline shape); projected docs carry `properties ∪ keys` (the
    * reference's `$project`, `stores/mongolike.py:219-221`). Null group
    * keys group together (Mongo `$group` semantics). Spill-safe: Spark's
    * external aggregation replaces Mongo's `allowDiskUse`. */
  def groupby(keys: Seq[String], criteria: Option[String] = None,
              properties: Seq[String] = Nil,
              sort: Seq[(String, Int)] = Nil,
              skip: Int = 0, limit: Option[Int] = None): DataFrame = {
    val docProps =
      if (properties.nonEmpty) (properties ++ keys).distinct else Nil
    val base = QueryParams(criteria, docProps, sort, skip, limit)(df)
    // the QueryParams projection aliases dot-paths to flat leaf names
    // ("a.b" → "a_b"); group keys and doc columns must reference those
    // POST-projection names or dotted properties fail resolution
    val flat = (s: String) => if (docProps.nonEmpty) s.replace('.', '_') else s
    val docCols = if (docProps.nonEmpty) docProps.map(flat) else base.columns.toSeq
    base.groupBy(keys.map(k => col(flat(k))): _*)
      .agg(collect_list(struct(docCols.map(col): _*)).alias("docs"))
  }

  /** C10 pandas-`query()`-string analogue (reference
    * `stores/open_data.py:69-81`): filter this store with a SQL boolean
    * expression — the string surface for users who think in expressions
    * rather than Mongo criteria. Compiles through `expr()`, so predicate
    * pushdown and column pruning apply exactly as for column filters. */
  def queryExpr(sqlExpr: String): DataFrame = df.filter(expr(sqlExpr))

  /** A12 aggregation escape hatch (reference
    * `api/resource/aggregation.py:18-111`, which forwards raw Mongo
    * pipelines): run arbitrary Spark SQL over this store's documents,
    * registered under `viewName`. The full declarative surface — joins,
    * windows, CTEs — with Catalyst optimizing the composite plan. */
  def aggregateSql(sql: String, viewName: String = "docs"): DataFrame = {
    df.createOrReplaceTempView(viewName)
    spark.sql(sql)
  }

  /** S9 `last_updated`: max of the timestamp column (agg, not
    * sort-desc-limit-1 — same result, no global sort). */
  def lastUpdated: Option[java.sql.Timestamp] = {
    if (!df.columns.contains(lastUpdatedField)) return None
    df.agg(max(col(lastUpdatedField))).collect().headOption
      .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[java.sql.Timestamp]))
  }

  /** S10 `newer_in`: keys of `target` that are new or newer than in this
    * store — the incremental-delta primitive (reference
    * `core/store.py:239-275`).
    *
    * Exhaustive mode = distributed full-outer timestamp anti-join (the
    * reference builds per-key python dicts in driver memory; at 100 TB the
    * join is the only shape that survives). Fast mode = scalar max(lu)
    * then filter — one broadcastable scalar, one scan.
    */
  def newerIn(target: Store, criteria: Option[String] = None,
              exhaustive: Boolean = true): DataFrame = {
    // an uninitialized schema-on-write target has nothing newer: empty
    // delta with the right column name (guard BEFORE resolving columns)
    if (!target.df.columns.contains(target.key) ||
        !target.df.columns.contains(target.lastUpdatedField))
      return spark.range(0).select(col("id").alias(target.key))
    val tgt0 = criteria.map(c => MongoFilter(target.df, c)).getOrElse(target.df)
    val tgt = tgt0.select(col(target.key).alias("k"),
                          col(target.lastUpdatedField).alias("t_lu"))
    // empty/uninitialized self (schema-on-write store): everything is new
    if (!df.columns.contains(key) || !df.columns.contains(lastUpdatedField))
      return tgt.select(col("k").alias(target.key))
    if (exhaustive) {
      val self = df.select(col(key).alias("k"), col(lastUpdatedField).alias("s_lu"))
      tgt.join(self, Seq("k"), "left_outer")
        .filter(col("s_lu").isNull || col("t_lu") > col("s_lu"))
        .select(col("k").alias(target.key))
    } else {
      lastUpdated match {
        case Some(lu) => tgt.filter(col("t_lu") > lit(lu)).select(col("k").alias(target.key))
        case None     => tgt.select(col("k").alias(target.key))
      }
    }
  }

  // -------------------------------------------------------------------
  // write surface (S6, S7)
  // -------------------------------------------------------------------

  /** S6 `update`: upsert by key (single or compound). Within-batch
    * duplicates resolve last-write-wins (matches the reference's
    * sequential ReplaceOne loop, `stores/mongolike.py:372-406`). */
  def update(docs: DataFrame, keyFields: Seq[String] = Seq(key)): Unit

  /** S7 `remove_docs`. */
  def removeDocs(criteria: String): Unit

  /** Remove by key set (orphan-deletion path, `map_builder.py:185-196`):
    * distributed anti-join — the key set is a DataFrame, never a driver
    * list. First column of `keys` is taken as the key. */
  def removeKeys(keys: DataFrame): Unit

  /** Fused remove+upsert: semantically exactly
    * `removeKeys(removals); update(docs, keyFields)`, but a versioned
    * store commits BOTH in one version flip — one O(store) rewrite
    * where the two-call sequence pays two (the dominant cost of the
    * lu-update builder rows, whose every run drops changed docs' rows
    * and re-absorbs the batch; VERDICT r16 #3). Rows removed by
    * `removals` and re-stated by `docs` land with the batch's values.
    * First column of `removals` is taken as the key (the [[removeKeys]]
    * contract). Default = the two-call sequence, for stores without a
    * cheaper fused write. */
  def updateRemoveKeys(docs: DataFrame, removals: DataFrame,
                       keyFields: Seq[String] = Seq(key)): Unit = {
    removeKeys(removals)
    update(docs, keyFields)
  }

  /** S8 `ensure_index`: layout hint. No-op by default — Catalyst + parquet
    * statistics replace secondary indexes; writable stores may override to
    * repartition/sort on write. */
  def ensureIndex(field: String, unique: Boolean = false): Boolean = true
}

/** A store whose every write commits a whole new snapshot of its
  * contents. It supplies [[snapshot]], the single [[commit]] point and
  * optionally a [[writing]] scope; the four writes are defined once
  * here, each one plan feeding one `commit`. */
trait SnapshotStore extends Store {
  /** The committed contents; None when nothing is committed. */
  protected def snapshot: Option[DataFrame]
  /** Make `next` the store's contents. */
  protected def commit(next: DataFrame): Unit
  /** Wraps each whole write (a lock, a refusal): nothing is planned outside it. */
  protected def writing[T](body: => T): T = body

  /** The upsert behind [[update]]; a store with a cheaper path (a delta
    * append, a partition merge) overrides it and calls `super` to
    * rewrite. `batchUnique` asserts `docs` is already key-unique. */
  protected def upsert(docs: DataFrame, keyFields: Seq[String], batchUnique: Boolean): Unit =
    commit(snapshot.fold(if (batchUnique) docs else Store.dedupLastWins(docs, keyFields))(
      Store.upsertPlan(_, docs, keyFields, batchUnique)))

  override def update(docs: DataFrame, keyFields: Seq[String] = Seq(key)): Unit =
    writing { upsert(docs, keyFields, batchUnique = false) }

  // a row whose predicate is null (field absent) does not match: kept
  override def removeDocs(criteria: String): Unit = writing {
    snapshot.foreach(t => commit(t.filter(
      !coalesce(MongoFilter.compile(criteria, Some(t.schema)), lit(false)))))
  }

  override def removeKeys(keys: DataFrame): Unit =
    writing { snapshot.foreach(t => commit(Store.withoutKeys(t, keys, key))) }

  /** Fused remove+upsert: one plan, one commit. */
  override def updateRemoveKeys(docs: DataFrame, removals: DataFrame,
                                keyFields: Seq[String] = Seq(key)): Unit = writing {
    snapshot match {
      case None    => upsert(docs, keyFields, batchUnique = false)
      case Some(t) => commit(Store.upsertPlan(Store.withoutKeys(t, removals, key), docs, keyFields))
    }
  }
}

/** A view that refuses every write (joins, unions, frames); the
  * inherited `updateRemoveKeys` refuses through `removeKeys`. */
trait ReadOnlyStore extends Store {
  private def refuse(): Nothing = throw new UnsupportedOperationException(
    s"${getClass.getSimpleName} $name is read-only")
  override def update(docs: DataFrame, keyFields: Seq[String]): Unit = refuse()
  override def removeDocs(criteria: String): Unit = refuse()
  override def removeKeys(keys: DataFrame): Unit = refuse()
}

object Store {
  /** Replace a pointer or sidecar file atomically: write a `_…tmp`
    * sibling in the target's directory, then rename it over the target.
    * A process crash leaves the old or the new contents, never a
    * truncated file. The `_` prefix keeps the tmp file out of Spark's
    * file listings (FileStore scans its root with binaryFile). */
  private[store] def writeFileAtomic(target: java.nio.file.Path, content: String): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val tmp = target.resolveSibling(s"_${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    try {
      Files.writeString(tmp, content)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  /** `t` without the rows whose key appears in `keys` — a distributed
    * anti-join; the first column of `keys` is taken as the key. */
  private[graft] def withoutKeys(t: DataFrame, keys: DataFrame, key: String): DataFrame =
    t.join(keys.select(col(keys.columns.head).alias(key)), Seq(key), "left_anti")

  /** Pure-Spark MERGE emulation: anti-join out matched target rows, union
    * the deduped batch (allowMissingColumns both ways). Shared by every
    * writable store. Batch dedup = last-write-wins by ingestion order.
    * `batchUnique = true` asserts the batch is already key-unique
    * (e.g. [[dedupLastWins]] ran upstream and was materialized) — the
    * inner dedup shuffle is skipped; the caller owns the contract. */
  private[graft] def upsertPlan(target: DataFrame, batch: DataFrame,
                                keyFields: Seq[String],
                                batchUnique: Boolean = false): DataFrame = {
    val deduped = if (batchUnique) batch else dedupLastWins(batch, keyFields)
    val kept = target.join(
      deduped.select(keyFields.map(col): _*).distinct(),
      keyFields, "left_anti")
    kept.unionByName(deduped, allowMissingColumns = true)
  }

  /** Hash-aggregate (`max_by` on ingestion order), not a sort-window:
    * partial aggregation runs map-side, so at scale the shuffle carries
    * one row per key instead of the whole batch sorted. */
  private[graft] def dedupLastWins(batch: DataFrame, keyFields: Seq[String]): DataFrame = {
    val cols = batch.columns
    val ord = batch.withColumn("__ord", monotonically_increasing_id())
    ord.groupBy(keyFields.map(col): _*)
      .agg(max_by(struct(cols.map(col): _*), col("__ord")).alias("__doc"))
      .select(col("__doc.*"))
  }

  /** True when re-evaluating `df` is guaranteed to enumerate the same
    * rows in the same order within the same partitions — deterministic
    * narrow ops (project/filter) over leaf relations only. This is the
    * precondition for letting TWO independent consumers each run
    * [[dedupLastWins]] (which keys on `monotonically_increasing_id`,
    * i.e. partition + intra-partition position) and still pick the same
    * winners. Any shuffle breaks it: reducers fetch map outputs in
    * nondeterministic order, so a repartition/aggregate/join upstream
    * can reorder rows between evaluations and a batch with duplicate
    * keys would resolve differently per consumer (data/index plane
    * divergence). Conservative by construction — unrecognized nodes
    * report unstable and callers fall back to dedup-once-and-share. */
  private[graft] def orderStable(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, Project}
    !df.queryExecution.optimizedPlan.exists {
      case p: Project  => p.projectList.exists(!_.deterministic)
      case f: Filter   => !f.condition.deterministic
      case _: LeafNode => false
      case _           => true
    }
  }
}

package graft.builder

import graft.query.MongoFilter
import graft.store.Store
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.util.Try

/** Incremental many→one grouped merge (reference `GroupBuilder`,
  * `builders/group_builder.py:18-236`).
  *
  * Semantics reproduced:
  *  - ids to process = source keys not yet covered by the target's plural
  *    `{key}s` membership arrays, ∪ `newer_in` delta, ∪ failed retries
  *    (`group_builder.py:183-212`) — all as distributed set algebra
  *    (`explode` + anti-join), never driver-side python sets
  *  - pending ids resolve to their distinct grouping-key tuples; whole
  *    groups are then re-fetched and re-merged (`group_builder.py:214-236`)
  *  - each output doc carries: target key = min(source key) of the group
  *    (the reference takes `keys[0]`; min pins determinism), the plural
  *    `{key}s` sorted membership array (`group_builder.py:66,146`),
  *    `max(last_updated)`, `state`, `_bt` (`group_builder.py:142-155`)
  *
  * Two merge planes:
  *  - declarative (`aggExprs`): a map of output column → aggregation
  *    expression over the grouped docs, so the whole build is one shuffle
  *    on the grouping keys with partial (map-side) aggregation — the
  *    shape that survives 100 TB. Always `state = "successful"` —
  *    expression failure is a job failure, not a per-group state.
  *  - doc-function ([[GroupBuilder.docs]]): an arbitrary `String => String`
  *    over each group's docs as a JSON ARRAY (the `unary_function`
  *    analogue, `group_builder.py:125-155`) under per-group `Try` +
  *    optional timeout — a failing group emits `state: "failed"` + `error`
  *    instead of failing the job, mirroring [[MapBuilder.docs]].
  */
class GroupBuilder(
    val source: Store,
    val target: Store,
    val groupingKeys: Seq[String],
    val aggExprs: Seq[Column],
    val criteria: Option[String] = None,
    val retryFailed: Boolean = false,
    val docFn: Option[String => String] = None,
    val timeoutMs: Long = 0,
    val storeProcessTime: Boolean = true,
    val projection: Seq[String] = Nil)
  extends Builder {

  private def spark = source.spark
  private def pluralKeys = s"${source.key}s"

  private def scopedSource: DataFrame =
    criteria.map(c => MongoFilter(source.df, c)).getOrElse(source.df)

  /** Source keys needing (re)processing (`group_builder.py:183-212`). */
  def pendingIds(): DataFrame = {
    val srcKeys = scopedSource.select(col(source.key))
    val processed: DataFrame =
      if (target.df.columns.contains(pluralKeys))
        target.df.select(explode(col(pluralKeys)).alias(source.key))
      else spark.emptyDataFrame.withColumn(source.key, lit(null)).limit(0)

    var pending = srcKeys.join(processed, Seq(source.key), "left_anti")

    // newer_in fast path: docs updated since the target's GLOBAL high
    // watermark — reference-faithful (group_builder.py:183-212 uses the
    // same store-level watermark): an update whose lu is out-of-order
    // below the global max is missed, exactly as in the reference; use
    // MapBuilder's exhaustive per-key delta when that matters
    target.lastUpdated.foreach { lu =>
      val updated = scopedSource
        .filter(col(source.lastUpdatedField) > lit(lu))
        .select(col(source.key))
      pending = pending.unionByName(updated)
    }
    if (retryFailed && target.df.columns.contains("state")) {
      val failed = target.df.filter(col("state") === "failed")
        .select(explode(col(pluralKeys)).alias(source.key))
      pending = pending.unionByName(failed)
    }
    pending.distinct()
  }

  /** Whole groups touching any pending id (distinct grouping tuples →
    * left-semi re-fetch, `group_builder.py:214-236`). `projection`
    * prunes the fetched columns like the reference (`:113-117`), always
    * forced to include grouping keys + key + lu. */
  def pendingItems(): DataFrame = {
    val src0 = scopedSource
    val src =
      if (projection.isEmpty) src0
      else {
        val want = (projection ++ groupingKeys :+ source.key :+
          source.lastUpdatedField).distinct
        src0.select(want.map(col): _*)
      }
    val pendingTuples = src
      .join(pendingIds(), Seq(source.key), "left_semi")
      .select(groupingKeys.map(col): _*).distinct()
    src.join(pendingTuples, groupingKeys, "left_semi")
  }

  /** `prechunk(n)` analogue for group builds (reference
    * `group_builder.py:93-105` splits the pending grouping tuples for
    * external distribution). Range-based split on the FIRST grouping key
    * from approximate quantiles of the pending groups — O(n) driver
    * memory, like [[MapBuilder.prechunk]]. Numeric first-grouping-key
    * only (range semantics). Chunk boundaries sit ON the grouping key,
    * so every group lands wholly inside exactly one chunk; each returned
    * JSON is a valid `criteria` for a scoped builder run and their union
    * covers the pending set exactly. */
  def prechunk(n: Int): Seq[String] = {
    require(n > 0, "prechunk needs n > 0")
    val gk = groupingKeys.head
    val tuples = pendingItems().select(col(gk)).distinct()
    val cuts = tuples.stat.approxQuantile(gk,
      (1 until n).map(_.toDouble / n).toArray, 0.001).distinct.sorted
    Prechunk.rangeCriteria(gk, cuts.toSeq, criteria)
  }

  protected def build(): BuildReport = {
    val items = pendingItems()
    val out = docFn match {
      case None =>
        val aggs = Seq(
          min(col(source.key)).alias(target.key),
          sort_array(collect_list(col(source.key))).alias(pluralKeys),
          max(col(source.lastUpdatedField)).alias(source.lastUpdatedField)
        ) ++ aggExprs
        items.groupBy(groupingKeys.map(col): _*)
          .agg(aggs.head, aggs.tail: _*)
          .withColumn("state", lit("successful"))
          .withColumn("_bt", current_timestamp())
      case Some(fn) => docMerge(items, fn)
    }
    // materialize once: the report count and the upsert write are separate
    // actions; without this the whole group-agg (the expensive part of the
    // build) would execute twice (see MapBuilder.run for the full note) —
    // and the checkpoint also pins a user doc-fn to one invocation per
    // group, so a nondeterministic fn cannot make the report disagree
    // with what is written
    val mat = Materialize.eager(out)
    val hasState = mat.columns.contains("state")
    val counts = mat.agg(
      count(lit(1)).alias("n"),
      (if (hasState) count_if(col("state") === "failed") else lit(0L)).alias("f")
    ).head()
    val processed = counts.getLong(0)
    val failed = counts.getLong(1)
    if (processed > 0) {
      // a re-merged group can land under a NEW target key (a new member
      // with a smaller source key joins): the old group doc — stale
      // membership, stale aggregates — must not survive next to the new
      // one. Stale docs = old target keys whose plural membership
      // intersects this batch's membership under a DIFFERENT key.
      // COST: batch-proportional on the new side, but TARGET-proportional
      // on the old side — the whole target's membership is exploded and
      // scanned every run (there is no member→group index to consult;
      // the reference re-reads whole groups per run too). The scan stays
      // shuffle-free when it matters: newPairs derives from the
      // checkpointed batch, so AQE sees its real (small) size and
      // broadcasts it, leaving the target side a single pass.
      if (target.df.columns.contains(pluralKeys) &&
          mat.columns.contains(pluralKeys)) {
        val newPairs = mat.select(col(target.key).alias("__nk"),
          explode(col(pluralKeys)).alias("__m"))
        val oldPairs = target.df.select(col(target.key).alias("__ok"),
          explode(col(pluralKeys)).alias("__m"))
        // counted, then the write's removal set
        val stale = Materialize.eager(oldPairs.join(newPairs, Seq("__m"))
          .filter(col("__ok") =!= col("__nk"))
          .select(col("__ok").alias(target.key)).distinct())
        // the stale-group drop rides the SAME committed write as the
        // batch upsert; with no stale group it is a plain update, so a
        // delta-write target appends O(batch) instead of rewriting
        Builder.commitOnce(target, Some(mat),
          Some(stale).filter(_.count() > 0), Seq(target.key))
      }
      else target.update(mat, Seq(target.key))
    }
    BuildReport(processed, failed)
  }

  /** The doc-function plane: each group's docs as a JSON array → user fn
    * under `Try`/timeout → JSON object back through schema inference.
    * Engine fields (target key = min source key, plural membership,
    * max lu) ride a to_json envelope and are attached only when the fn's
    * output doesn't already carry them (`group_builder.py:142-150`); a
    * failed group keeps the envelope so retries can find it. */
  private def docMerge(items: DataFrame, fn: String => String): DataFrame = {
    val s = spark
    import s.implicits._
    val tMs = timeoutMs
    val keepPt = storeProcessTime

    val grouped = items.groupBy(groupingKeys.map(col): _*)
      .agg(
        min(col(source.key)).alias("__tk"),
        sort_array(collect_list(col(source.key))).alias("__pk"),
        max(col(source.lastUpdatedField)).alias("__lu"),
        collect_list(to_json(struct(items.columns.map(col): _*))).alias("__docs"))
    val envelope = to_json(struct(
      col("__tk").alias(target.key),
      col("__pk").alias(pluralKeys),
      col("__lu").alias(source.lastUpdatedField)))
    val pairs = grouped.select(envelope.alias("env"), col("__docs").alias("docs"))
      .as[(String, Seq[String])]

    val outJson = pairs.map { case (env, docs) =>
      val mapper = MapBuilder.mapper
      val t0 = System.nanoTime()
      // parse of the fn's output belongs INSIDE the Try: malformed JSON
      // from one group must become a failed doc, not a task failure
      val res = Try {
        val outDoc = TimeLimited(fn, docs.mkString("[", ",", "]"), tMs)
        mapper.readTree(outDoc) match {
          case o: com.fasterxml.jackson.databind.node.ObjectNode => o
          case other => throw new IllegalArgumentException(
            s"group function must return a JSON object, got: ${String.valueOf(other).take(80)}")
        }
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val node = res match {
        case scala.util.Success(o) =>
          o.put("state", "successful"); o
        case scala.util.Failure(e) =>
          val o = mapper.createObjectNode()
          o.put("state", "failed")
          o.put("error", String.valueOf(e.getMessage)); o
      }
      val it = mapper.readTree(env).fields()
      while (it.hasNext) {
        val e = it.next()
        if (!node.has(e.getKey))
          node.set[com.fasterxml.jackson.databind.JsonNode](e.getKey, e.getValue)
      }
      if (keepPt) node.put("_process_time", dt)
      mapper.writeValueAsString(node)
    }
    // checkpoint the STRINGS before read.json: schema inference is its
    // own pass, so an unmaterialized fn would run once for inference and
    // again downstream (see MapBuilder.docs — same pin)
    val jsonMat = Materialize.eager(outJson)
    val inferred = spark.read.json(jsonMat).withColumn("_bt", current_timestamp())
    // the JSON round-trip stringifies lu; restore the source's type so the
    // target's watermark (`lastUpdated`) stays a real timestamp
    val luName = source.lastUpdatedField
    if (inferred.columns.contains(luName))
      inferred.withColumn(luName,
        col(luName).cast(items.schema(luName).dataType))
    else inferred
  }
}

object GroupBuilder {
  /** The doc-plane merge: materialize each group's docs as an array of
    * structs (the reference hands `list[dict]` to `unary_function`). */
  def collectDocs(columns: Seq[String]): Seq[Column] =
    Seq(collect_list(struct(columns.map(col): _*)).alias("docs"))

  /** Arbitrary group-merge function plane (per-group error capture +
    * timeout): `fn` receives the group's docs as a JSON array string and
    * returns one JSON object (the reference `unary_function`,
    * `group_builder.py:125-155`). */
  def docs(source: Store, target: Store, groupingKeys: Seq[String],
           fn: String => String, criteria: Option[String] = None,
           retryFailed: Boolean = false, timeoutMs: Long = 0): GroupBuilder =
    new GroupBuilder(source, target, groupingKeys, Nil, criteria, retryFailed,
      Some(fn), timeoutMs)
}

/** Shared range-split criteria emission for `prechunk` (MapBuilder splits
  * pending keys, GroupBuilder splits pending grouping tuples). `scope` is
  * the builder's own criteria: each chunk must carry it ($and-composed),
  * or a scoped chunked run would process every doc in its key range —
  * a superset of the delta the build was meant to touch. */
private[builder] object Prechunk {
  def rangeCriteria(field: String, cuts: Seq[Double],
                    scope: Option[String] = None): Seq[String] = {
    val bounds: Seq[Option[Double]] = (None +: cuts.map(Option(_))) :+ None
    val ranges = bounds.sliding(2).map {
      case Seq(None, None)        => "{}"
      case Seq(None, Some(hi))    => s"""{"$field": {"$$lt": $hi}}"""
      case Seq(Some(lo), None)    => s"""{"$field": {"$$gte": $lo}}"""
      case Seq(Some(lo), Some(hi)) =>
        s"""{"$field": {"$$gte": $lo, "$$lt": $hi}}"""
    }.toSeq
    ranges.map {
      case r if scope.isEmpty => r
      case "{}"               => scope.get
      case r                  => s"""{"$$and": [${scope.get}, $r]}"""
    }
  }
}

package graft.api

import graft.query.{LocalFrame, QueryParams}
import org.apache.spark.sql.types.{NumericType, StringType, StructType}

/** REST-parameter → query compilation layer (reference `maggma.api`
  * query operators, SURVEY §2.5). Each operator consumes URL-style
  * params (`Map[String, String]`) and emits a [[QueryParams]] fragment;
  * fragments merge criteria via `$and`, concat properties, last-wins for
  * sort/skip/limit (reference `merge_queries`, `api/utils.py:37-52`).
  *
  * The canonical execution order `$match → $sort → $project → $skip →
  * $limit` (`api/resource/utils.py:42-66`) is [[QueryParams.apply]].
  */
trait QueryOperator {
  /** Parse params → fragment. Throws [[ApiError]] on invalid input
    * (the 400-response analogue). */
  def query(params: Map[String, String]): QueryParams

  /** A1 `post_process` hook (reference `api/query_operator/core.py:25-31`):
    * transform the result frame after the canonical fold, before
    * serialization. Default: identity. */
  def postProcess(results: org.apache.spark.sql.DataFrame,
                  params: Map[String, String]): org.apache.spark.sql.DataFrame = results

  /** A1 `meta` hook (reference `api/query_operator/core.py:33-38`):
    * contribute entries to the response `meta` envelope. Keys are JSON
    * field names; values are raw JSON fragments. `filtered` is the
    * criteria-filtered (pre-sort/skip/limit) frame so aggregate meta
    * (facet counts etc.) can be computed over the full match set —
    * implementations must keep any collect bounded (limit/topK). */
  def meta(filtered: org.apache.spark.sql.DataFrame,
           params: Map[String, String]): Map[String, String] = Map.empty
}

case class ApiError(status: Int, message: String)
  extends RuntimeException(message)

/** A2 `PaginationQuery` (`api/query_operator/pagination.py:7-85`):
  * `_page`/`_per_page` or `_skip`/`_limit`, defaults and hard max. */
class PaginationQuery(val defaultLimit: Int = 100, val maxLimit: Int = 1000)
  extends QueryOperator {
  private def intParam(params: Map[String, String], k: String): Option[Int] =
    params.get(k).map { v =>
      val n = try v.toInt catch {
        case _: NumberFormatException => throw ApiError(400, s"$k must be an integer, got '$v'")
      }
      if (n < 0) throw ApiError(400, s"$k cannot be negative")
      n
    }
  def query(params: Map[String, String]): QueryParams = {
    val page = intParam(params, "_page")
    val perPage = intParam(params, "_per_page")
    val skip = intParam(params, "_skip")
    val limit = intParam(params, "_limit")
    val lim = perPage.orElse(limit).getOrElse(defaultLimit)
    if (lim > maxLimit)
      throw ApiError(400, s"requested limit $lim exceeds max $maxLimit")
    val off = page.map(p => (math.max(p, 1) - 1) * lim).orElse(skip).getOrElse(0)
    QueryParams(skip = off, limit = Some(lim))
  }
}

/** A3 `SortQuery` (`api/query_operator/sorting.py:8-54`):
  * `_sort_fields=f1,-f2` — `-` prefix = descending. */
class SortQuery(val allowed: Set[String] = Set.empty, val maxFields: Int = 10)
  extends QueryOperator {
  def query(params: Map[String, String]): QueryParams =
    params.get("_sort_fields").filter(_.nonEmpty) match {
      case None => QueryParams.empty
      case Some(s) =>
        val fields = s.split(",").toSeq.filter(_.nonEmpty)
        if (fields.size > maxFields)
          throw ApiError(400, s"too many sort fields (max $maxFields)")
        val pairs = fields.map { f =>
          val (name, dir) = if (f.startsWith("-")) (f.drop(1), -1) else (f, 1)
          if (allowed.nonEmpty && !allowed.contains(name))
            throw ApiError(400, s"sorting not allowed on '$name'")
          name -> dir
        }
        QueryParams(sort = pairs)
    }
}

/** A4 `SparseFieldsQuery` (`api/query_operator/sparse_fields.py:9-71`):
  * `_fields=a,b,c` projection; `_all_fields=true` clears it. */
class SparseFieldsQuery(val defaultFields: Seq[String] = Nil)
  extends QueryOperator {
  def query(params: Map[String, String]): QueryParams = {
    if (params.get("_all_fields").exists(_.toBoolean)) QueryParams.empty
    else params.get("_fields").filter(_.nonEmpty) match {
      case Some(s) => QueryParams(properties = s.split(",").toSeq.filter(_.nonEmpty))
      case None    => QueryParams(properties = defaultFields)
    }
  }
}

/** A5/A6 `NumericQuery`/`StringQueryOperator`
  * (`api/query_operator/dynamic.py:108-248`): for each model field,
  * auto-generate filter params —
  * numeric: `f`, `f_not_eq`, `f_min`(`$gte`), `f_max`(`$lte`),
  * `f_eq_any`($in csv), `f_neq_any`($nin csv);
  * string: `f`, `f_not_eq`, `f_eq_any`, `f_neq_any`.
  * The "model" is the table schema itself (schema-driven, like the
  * reference derives params from the pydantic model).
  */
class DynamicQuery(val schema: StructType, val excluded: Set[String] = Set.empty)
  extends QueryOperator {

  private def quote(field: String, raw: String): String = {
    val isNum = schema.fields.find(_.name == field).exists(_.dataType.isInstanceOf[NumericType])
    if (isNum) {
      // reject non-numeric input for numeric fields (400 analogue)
      try { raw.toDouble; raw } catch {
        case _: NumberFormatException => throw ApiError(400, s"$field expects a number, got '$raw'")
      }
    } else "\"" + raw.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  }
  private def csv(field: String, raw: String): String =
    raw.split(",").map(v => quote(field, v)).mkString("[", ",", "]")

  def query(params: Map[String, String]): QueryParams = {
    // operator fragments grouped per field — one JSON key per field
    // (duplicate keys in a JSON object silently drop all but the last)
    val perField = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.ArrayBuffer[String]]()
    def add(f: String, frag: String): Unit =
      perField.getOrElseUpdate(f, scala.collection.mutable.ArrayBuffer()) += frag
    val names = schema.fields.map(_.name).toSet -- excluded
    params.foreach { case (k, v) =>
      def field(suffix: String): Option[String] = {
        val f = k.stripSuffix(suffix)
        if (k.endsWith(suffix) && names.contains(f)) Some(f) else None
      }
      if (names.contains(k)) add(k, s""""$$eq": ${quote(k, v)}""")
      else field("_not_eq").foreach(f => add(f, s""""$$ne": ${quote(f, v)}"""))
      field("_min").foreach(f => add(f, s""""$$gte": ${quote(f, v)}"""))
      field("_max").foreach(f => add(f, s""""$$lte": ${quote(f, v)}"""))
      field("_eq_any").foreach(f => add(f, s""""$$in": ${csv(f, v)}"""))
      field("_neq_any").foreach(f => add(f, s""""$$nin": ${csv(f, v)}"""))
    }
    if (perField.isEmpty) QueryParams.empty
    else QueryParams(criteria = Some(perField.map { case (f, frags) =>
      s""""$f": ${frags.mkString("{", ",", "}")}"""
    }.mkString("{", ",", "}")))
  }
}

/** Facet contributor (the reference surfaces facet counts through the
  * `meta` hook): value→count for `field` over the full filtered match
  * set, top-`topK` by count (count ties break on the string rendering of
  * the value — the same order the serving path's combined scan uses).
  * Pure meta — contributes no criteria.
  *
  * [[ReadResource.search]] does NOT call `meta` once per facet: all
  * FacetQuery operators on a resource are folded into ONE explode-struct
  * aggregation per request ([[FacetQuery.combinedMeta]], the
  * `a10_text_facets` plan shape) — n facets cost one scan + one job, not
  * n. The per-instance `meta` here serves custom operator stacks that
  * call it directly. */
class FacetQuery(val field: String, val topK: Int = 10) extends QueryOperator {
  import org.apache.spark.sql.functions._
  def query(params: Map[String, String]): QueryParams = QueryParams.empty
  override def meta(filtered: org.apache.spark.sql.DataFrame,
                    params: Map[String, String]): Map[String, String] = {
    if (!filtered.columns.contains(field)) return Map.empty
    // bounded collect: topK rows of a count aggregate
    val counts = LocalFrame.collect(filtered.groupBy(col(field).cast("string").alias("value")).count()
      .orderBy(desc("count"), col("value")).limit(topK))
    val obj = counts.map { r =>
      s"${Json.str(String.valueOf(r.get(0)))}: ${r.getLong(1)}"
    }.mkString("{", ", ", "}")
    Map(s"facet_$field" -> obj)
  }
}

object FacetQuery {
  import org.apache.spark.sql.functions._

  /** All facets in ONE plan: each matching doc explodes into one
    * (facet, value) row per facet dimension, a single hash-agg counts
    * them, and one window keeps the per-facet top-K — the serving-path
    * form of the oracle-checked `a10_text_facets` plan. Over a local
    * frame (a ParquetStore driver read) the driver evaluator computes it
    * ([[LocalFrame.collect]]), else it is one Spark job. The collect is
    * bounded by Σ topK rows. Values are compared/rendered as strings
    * (the explode array must be uniformly typed); count ties therefore
    * break on the string form, matching [[FacetQuery.meta]]. */
  def combinedMeta(filtered: org.apache.spark.sql.DataFrame,
                   facets: Seq[FacetQuery]): Seq[(String, String)] = {
    // one facet per DISTINCT field of `filtered`, the widest topK, in
    // first-appearance order: a duplicate operator would emit each doc's
    // (facet, value) row twice, and its `facet_<field>` meta key collides
    val fields = facets.filter(f => filtered.columns.contains(f.field))
    val present = fields.map(_.field).distinct.map(fld => fields.filter(_.field == fld).maxBy(_.topK))
    if (present.isEmpty) return Nil
    val structs = present.map(f =>
      struct(lit(f.field).alias("facet"), col(f.field).cast("string").alias("value")))
    val counts = filtered.select(explode(array(structs: _*)).alias("fv"))
      .groupBy(col("fv.facet").alias("facet"), col("fv.value").alias("value"))
      .agg(count(lit(1)).alias("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("facet")).orderBy(desc("n"), col("value"))
    val maxK = present.map(_.topK).max
    val top = LocalFrame.collect(counts.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxK))
    present.map { f =>
      s"facet_${f.field}" -> top.filter(_.getString(0) == f.field).sortBy(_.getInt(3)).take(f.topK)
        .map(r => s"${Json.str(String.valueOf(r.getString(1)))}: ${r.getLong(2)}")
        .mkString("{", ", ", "}")
    }
  }
}

object QueryOperator {
  /** A8 `merge_queries` (`api/utils.py:37-52`): criteria `$and`-merge,
    * properties concat, sort/skip/limit last-wins. */
  def merge(fragments: Seq[QueryParams]): QueryParams = {
    val criteria = fragments.flatMap(_.criteria)
    QueryParams(
      criteria =
        if (criteria.isEmpty) None
        else if (criteria.size == 1) Some(criteria.head)
        else Some(criteria.mkString("""{"$and": [""", ",", "]}")),
      properties = fragments.flatMap(_.properties).distinct,
      sort = fragments.map(_.sort).filter(_.nonEmpty).lastOption.getOrElse(Nil),
      skip = fragments.map(_.skip).filter(_ != 0).lastOption.getOrElse(0),
      limit = fragments.flatMap(_.limit).lastOption)
  }

  /** A11 `ReadOnlyResource.search` compile path: params → operators →
    * merged QueryParams (execution = `params(df)`). */
  def compile(params: Map[String, String], ops: Seq[QueryOperator]): QueryParams =
    merge(ops.map(_.query(params)))
}

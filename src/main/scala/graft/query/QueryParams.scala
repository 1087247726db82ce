package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The STORE_PARAMS bundle of the reference (`api/utils.py:18-34`):
  * criteria / properties / sort / skip / limit, plus the canonical
  * execution order `\$match → \$sort → \$project → \$skip → \$limit`
  * (`api/resource/utils.py:42-66`).
  *
  * `sort` values follow the Mongo convention: 1 ascending, -1 descending.
  * Mongo sorts missing/null first in ascending order — pinned here with
  * `asc_nulls_first` / `desc_nulls_last` (SURVEY §7.5(5)).
  *
  * At scale: sort+limit compiles to Catalyst `TakeOrderedAndProject`
  * (no global sort materialization); skip uses Spark ≥3.4 `offset`.
  */
case class QueryParams(
    criteria: Option[String] = None,        // Mongo-dialect JSON
    properties: Seq[String] = Nil,          // projection (dot-paths allowed)
    sort: Seq[(String, Int)] = Nil,         // field → ±1, ordered
    skip: Int = 0,
    limit: Option[Int] = None) {

  def withCriteria(json: String): QueryParams = copy(criteria = Some(json))

  def sortColumns: Seq[Column] = sort.map { case (f, dir) =>
    if (dir >= 0) col(f).asc_nulls_first else col(f).desc_nulls_last
  }

  /** Projection columns; dot-paths are aliased to their leaf-path name so
    * results keep addressable flat names (mirrors Mongo's projected doc
    * shape closely enough for the engine's own consumers). */
  def projection: Seq[Column] =
    properties.map(p => if (p.contains(".")) col(p).alias(p.replace('.', '_')) else col(p))

  /** Canonical fold: match → sort → project → skip → limit. Over a
    * local frame the whole fold is evaluated on the driver
    * ([[LocalFrame]]) by whoever collects it. */
  def apply(df: DataFrame): DataFrame = {
    var out = criteria.map(MongoFilter(df, _)).getOrElse(df)
    if (sort.nonEmpty) out = out.orderBy(sortColumns: _*)
    if (properties.nonEmpty) out = out.select(projection: _*)
    if (skip > 0) out = out.offset(skip)
    limit.foreach(n => out = out.limit(n))
    out
  }
}

object QueryParams {
  val empty: QueryParams = QueryParams()
}

package graft.query

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Frames whose OPTIMIZED plan is a local relation. Catalyst folds a
  * filter, projection, offset or limit over a local relation on the
  * driver (`ConvertToLocalRelation`), so such a frame is already its
  * rows, and collecting it starts no Spark job. `Dataset.isLocal` checks
  * the unoptimized plan, which a filter over a local relation is not.
  * Sorts and aggregates do not fold; [[sorted]] sorts on the driver. */
private[graft] object LocalFrame {
  // the analyzed plan's leaves are checked first: it is already built,
  // while optimizing a plan over files costs time for nothing
  private def relation(d: DataFrame): Option[LocalRelation] =
    if (!d.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else Some(d.queryExecution.optimizedPlan).collect { case l: LocalRelation => l }

  def isLocal(d: DataFrame): Boolean = relation(d).isDefined

  /** `d`'s rows when it is local (no Spark job), else None. */
  def rows(d: DataFrame): Option[Array[Row]] = relation(d).map(_ => d.collect())

  /** `rows` as a local frame of `schema`. */
  def of(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** `d.orderBy(order)` computed on the driver when `d` is local: the
    * analyzed sort's own `SortOrder`s through Catalyst's ordering, so
    * nulls, NaN and -0.0 order exactly as the plan's sort orders them.
    * None when `d` is not local. */
  def sorted(d: DataFrame, order: Seq[Column]): Option[DataFrame] =
    relation(d).flatMap { l =>
      d.orderBy(order: _*).queryExecution.analyzed match {
        case Sort(so, true, _, _) =>
          val ordering = new InterpretedOrdering(so, l.output)
          val toRow = CatalystTypeConverters.createToScalaConverter(d.schema)
          Some(of(d.sparkSession,
            l.data.sorted(ordering).map(r => toRow(r).asInstanceOf[Row]), d.schema))
        case _ => None
      }
    }
}

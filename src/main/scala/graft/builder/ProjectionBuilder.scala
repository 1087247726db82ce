package graft.builder

import graft.query.MongoFilter
import graft.store.Store
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-source projection spec: which fields to take, with optional
  * renames `newName -> oldName` (reference `projection_builder.py:141-184`;
  * `fields_to_project` list/dict forms). Empty `fields` = take all. */
case class SourceProjection(
    store: Store,
    fields: Seq[String] = Nil,
    renames: Map[String, String] = Map.empty,
    criteria: Option[String] = None)

/** Multi-source key-join/coalesce (reference `Projection_Builder`,
  * `builders/projection_builder.py:12-241`): for every key across N
  * sources, project chosen fields, merge per-key docs with **later
  * sources overwriting earlier** (`projection_builder.py:186-219`),
  * write one summary doc per key.
  *
  * Spark shape: N-way `full_outer` join on the key with per-source
  * aliased projections, then `coalesce` in later-wins order per output
  * column. One shuffle per join stage; with all sources bucketed on the
  * key it is shuffle-free at cluster scale. The key universe = union of
  * source key sets — never a driver-side `distinct(key)` list
  * (`projection_builder.py:127-135` materializes it in memory; we don't).
  */
class ProjectionBuilder(
    val sources: Seq[SourceProjection],
    val target: Store)
  extends Builder {

  require(sources.nonEmpty, "ProjectionBuilder needs at least one source")
  private def spark = target.spark

  def pendingItems(): DataFrame = merged()

  private case class Sided(df: DataFrame, outCols: Seq[String])

  private def side(sp: SourceProjection, idx: Int): Sided = {
    val base = sp.criteria.map(c => MongoFilter(sp.store.df, c)).getOrElse(sp.store.df)
    val all = base.columns.toSeq.filterNot(c => c == sp.store.key || c == sp.store.lastUpdatedField)
    // renames REPLACE identity picks of the same output name (dict-form
    // semantics, projection_builder.py:141-184) — a collision would emit
    // two identically-aliased internal columns
    val identity =
      (if (sp.fields.nonEmpty) sp.fields.map(f => f -> f) else all.map(c => c -> c))
        .filterNot { case (out, _) => sp.renames.contains(out) }
    val picks: Seq[(String, String)] =  // (outName, srcCol)
      identity ++ sp.renames.toSeq.map { case (nw, old) => nw -> old }
    val outNames = picks.map(_._1).distinct
    val proj = base.select(
      (col(sp.store.key).alias("__key") +:
        lit(true).alias(s"__p$idx") +:
        picks.map { case (nw, old) => col(old).alias(s"__s${idx}_$nw") }): _*)
    Sided(proj, outNames)
  }

  private def merged(): DataFrame = {
    val sided = sources.zipWithIndex.map { case (sp, i) => side(sp, i) }
    val joined = sided.map(_.df).reduce((a, b) => a.join(b, Seq("__key"), "full_outer"))
    val outNames = sided.flatMap(_.outCols).distinct
    // later-wins dict.update semantics: the LAST source holding a row for
    // the key supplies the value — even a null one. Row presence (the
    // full-outer `__p` flag), not value non-nullness, decides.
    val outCols = outNames.map { nm =>
      val cases = sided.zipWithIndex.collect {
        case (s, i) if s.outCols.contains(nm) =>
          (col(s"__p$i").isNotNull, col(s"__s${i}_$nm"))
      }.reverse
      cases.tail.foldLeft(when(cases.head._1, cases.head._2)) {
        case (acc, (p, v)) => acc.when(p, v)
      }.alias(nm)
    }
    joined.select((col("__key").alias(target.key) +: outCols): _*)
  }

  protected def build(): BuildReport = {
    val out = merged()
      .withColumn("state", lit("successful"))
      .withColumn("_bt", current_timestamp())
    // materialize once: count + write are separate actions; without this
    // the N-way full-outer join runs twice (see MapBuilder.run)
    val mat = Materialize.eager(out)
    val processed = mat.count()
    if (processed > 0) target.update(mat, Seq(target.key))
    BuildReport(processed, 0)
  }
}

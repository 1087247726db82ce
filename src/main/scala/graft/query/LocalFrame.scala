package graft.query

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate,
  ImperativeAggregate}
import org.apache.spark.sql.catalyst.optimizer.{ReplaceExpressions, RewriteWithExpression}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.graft.LocalRows
import org.apache.spark.sql.types._

/** The driver evaluator: a plan over local relations only is interpreted
  * on the driver (its analyzed form after `ReplaceExpressions` and
  * `RewriteWithExpression`: optimizing costs more than evaluating a few
  * thousand rows), so one definition serves a request with no Spark job
  * and a distributed run alike. Nodes: LocalRelation, Project, Filter,
  * GlobalLimit, Offset, global Sort, Aggregate (declarative and imperative
  * functions such as `graft_topk`; float keys normalized as the plan's),
  * Generate, Join (inner, cross, left outer/semi/anti: a nested loop),
  * Union, Window (`row_number`), ResolvedHint, SubqueryAlias. Any other
  * node (`repartition` asks for the plan), a non-deterministic or
  * unevaluable expression, a subquery, a distinct aggregate, a binary or
  * nested key, or past [[MaxRows]] rows (join pairs) runs the plan. */
private[graft] object LocalFrame {
  /** The driver read's row ceiling (a ParquetStore read narrowed by statistics). */
  val MaxRows: Int = 65536

  private type Rows = IndexedSeq[InternalRow]

  /** `d` is its own rows, as [[fold]] and a ParquetStore driver read return. */
  def isLocal(d: DataFrame): Boolean = d.queryExecution.analyzed.isInstanceOf[LocalRelation]

  /** `d`'s rows computed on the driver, or None when the plan must run
    * (also when the walk throws: the plan then reports the fault). */
  def rows(d: DataFrame): Option[Array[Row]] = internalRows(d).map { rs =>
    val toRow = CatalystTypeConverters.createToScalaConverter(d.schema)
    rs.map(toRow(_).asInstanceOf[Row]).toArray
  }

  /** `d.collect()`, computed on the driver when [[rows]] can. */
  def collect(d: DataFrame): Array[Row] = rows(d).getOrElse(d.collect())

  /** `d` as a local frame of its rows computed on the driver, or `d` itself. */
  def fold(d: DataFrame): DataFrame =
    internalRows(d).fold(d)(LocalRows.frame(d.sparkSession, d.schema, _))

  private def internalRows(d: DataFrame): Option[Rows] = {
    val plan = d.queryExecution.analyzed
    if (!plan.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else try eval(RewriteWithExpression(ReplaceExpressions(plan)))
    catch { case scala.util.control.NonFatal(_) => None }
  }

  private def eval(p: LogicalPlan): Option[Rows] =
    if (!p.expressions.forall(evaluable)) None
    else (p match {
      case l: LocalRelation => Some(l.data.toIndexedSeq)
      case ResolvedHint(c, _) => eval(c)
      case SubqueryAlias(_, c) => eval(c)
      case Project(es, c) => eval(c).map(_.map(projection(es, c.output)))
      case Filter(cond, c) => eval(c).map(_.filter(predicate(cond, c.output)))
      case GlobalLimit(n, LocalLimit(_, c)) => eval(c).map(_.take(n.eval().asInstanceOf[Int]))
      case Offset(n, c) => eval(c).map(_.drop(n.eval().asInstanceOf[Int]))
      case s: Sort if s.global => eval(s.child).map(_.sorted(new InterpretedOrdering(s.order, s.child.output)))
      case a: Aggregate => eval(a.child).flatMap(aggregate(a, _))
      case g: Generate => eval(g.child).map(generate(g, _))
      case j: Join => for (l <- eval(j.left); r <- eval(j.right); out <- join(j, l, r)) yield out
      case u: Union =>
        val parts = u.children.map(eval)
        if (parts.forall(_.isDefined)) Some(parts.flatten.flatten.toIndexedSeq) else None
      case w: Window => eval(w.child).flatMap(window(w, _))
      case _ => None
    }).filter(_.length <= MaxRows)

  /** Aggregate, window and sort wrappers are taken apart by their nodes. */
  private def evaluable(e: Expression): Boolean = e match {
    case _: SubqueryExpression => false
    case a: AggregateExpression => !a.isDistinct && a.aggregateFunction.deterministic &&
      a.aggregateFunction.children.forall(evaluable) && a.filter.forall(evaluable)
    case WindowExpression(_: RowNumber, spec) =>
      spec.partitionSpec.forall(evaluable) && spec.orderSpec.forall(evaluable)
    case s: SortOrder => evaluable(s.child)
    case _: Attribute => true
    case _: Unevaluable => false
    case _ => e.deterministic && e.children.forall(evaluable)
  }

  private def bind[E <: Expression](e: E, in: Seq[Attribute]): E =
    BindReferences.bindReference(e, AttributeSeq(in))

  private def predicate(cond: Expression, in: Seq[Attribute]): InternalRow => Boolean =
    Predicate.createInterpreted(bind(cond, in)).eval

  private def projection(es: Seq[Expression], in: Seq[Attribute]): InternalRow => InternalRow = {
    val bound = es.map(bind(_, in)).toArray
    r => new GenericInternalRow(bound.map(_.eval(r)))
  }

  /** Grouping (window partition) keys, floats normalized as the plan's
    * hash keys are; None for a type (binary, nested) whose row equality
    * is not value equality. */
  private def keys(es: Seq[Expression], in: Seq[Attribute]): Option[InternalRow => InternalRow] =
    if (!es.forall(_.dataType match {
      case _: NumericType | _: StringType | BooleanType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    })) None
    else Some(projection(es, in).andThen(k => new GenericInternalRow(k.toSeq(es.map(_.dataType)).map {
      case d: Double => if (d.isNaN) Double.NaN else if (d == 0.0) 0.0 else d
      case f: Float => if (f.isNaN) Float.NaN else if (f == 0.0f) 0.0f else f
      case v => v
    }.toArray)))

  private def aggregate(a: Aggregate, rs: Rows): Option[Rows] =
    keys(a.groupingExpressions, a.child.output).map { keyOf =>
      val aggs = a.aggregateExpressions.flatMap(_.collect { case e: AggregateExpression => e })
      val results = aggs.map(result(_, a.child.output))
      val groups = if (a.groupingExpressions.isEmpty) Map(InternalRow.empty -> rs) else rs.groupBy(keyOf)
      // each output expression over (key values ++ aggregate results)
      val nKeys = a.groupingExpressions.length
      val out = a.aggregateExpressions.map(_.transformDown {
        case e: AggregateExpression => BoundReference(nKeys + aggs.indexWhere(_ eq e), e.dataType, e.nullable)
        case e if a.groupingExpressions.exists(_.semanticEquals(e)) =>
          BoundReference(a.groupingExpressions.indexWhere(_.semanticEquals(e)), e.dataType, e.nullable)
      })
      groups.map { case (key, group) =>
        val row = new JoinedRow(key, new GenericInternalRow(results.map(_(group)).toArray))
        new GenericInternalRow(out.map(_.eval(row)).toArray): InternalRow
      }.toIndexedSeq
    }

  /** One aggregate's value over a group's rows, as the plan's
    * complete-mode aggregate computes it. */
  private def result(e: AggregateExpression, in: Seq[Attribute]): Rows => Any = {
    val keep = e.filter.map(predicate(_, in))
    def kept(rs: Rows) = keep.fold(rs)(rs.filter)
    e.aggregateFunction match {
      case f: DeclarativeAggregate =>
        val init = new InterpretedMutableProjection(f.initialValues)
        val update = new InterpretedMutableProjection(f.updateExpressions, f.aggBufferAttributes ++ in)
        val value = bind(f.evaluateExpression, f.aggBufferAttributes)
        rs => {
          val buf = new GenericInternalRow(f.aggBufferAttributes.length)
          init.target(buf)(InternalRow.empty)
          update.target(buf)
          val joined = new JoinedRow(buf, InternalRow.empty)
          kept(rs).foreach(r => update(joined.withRight(r)))
          value.eval(buf)
        }
      case f: ImperativeAggregate =>
        val bound = bind(f: Expression, in).asInstanceOf[ImperativeAggregate].withNewMutableAggBufferOffset(0)
        rs => {
          val buf = new GenericInternalRow(bound.aggBufferAttributes.length)
          bound.initialize(buf)
          kept(rs).foreach(bound.update(buf, _))
          bound.eval(buf)
        }
    }
  }

  private def generate(g: Generate, rs: Rows): Rows = {
    val gen = bind(g.generator: Expression, g.child.output).asInstanceOf[Generator]
    val kept = projection(g.requiredChildOutput, g.child.output)
    val nulls = new GenericInternalRow(g.generatorOutput.length)
    rs.flatMap { r =>
      val out = gen.eval(r).iterator.map(new JoinedRow(kept(r), _): InternalRow).toSeq
      if (out.isEmpty && g.outer) Seq(new JoinedRow(kept(r), nulls)) else out
    }
  }

  private def join(j: Join, l: Rows, r: Rows): Option[Rows] =
    if (l.length.toLong * r.length > MaxRows) None
    else {
      val cond = j.condition.map(predicate(_, j.left.output ++ j.right.output))
      def pairs(a: InternalRow) =
        r.iterator.map(new JoinedRow(a, _): InternalRow).filter(p => cond.forall(_(p)))
      val nulls = new GenericInternalRow(j.right.output.length)
      Some(j.joinType).collect {
        case Inner | Cross => l.flatMap(pairs)
        case LeftOuter => l.flatMap { a =>
          val m = pairs(a).toSeq
          if (m.isEmpty) Seq(new JoinedRow(a, nulls)) else m
        }
        case LeftSemi => l.filter(pairs(_).hasNext)
        case LeftAnti => l.filterNot(pairs(_).hasNext)
      }
    }

  /** `row_number()`, the only window function [[evaluable]] admits. */
  private def window(w: Window, rs: Rows): Option[Rows] = keys(w.partitionSpec, w.child.output).map { keyOf =>
    val order = new InterpretedOrdering(w.orderSpec, w.child.output)
    rs.groupBy(keyOf).values.toIndexedSeq.flatMap(_.sorted(order).zipWithIndex.map { case (r, i) =>
      new JoinedRow(r, new GenericInternalRow(Array.fill[Any](w.windowExpressions.length)(i + 1))): InternalRow
    })
  }
}

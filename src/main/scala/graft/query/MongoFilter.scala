package graft.query

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

import scala.jdk.CollectionConverters._

/** Compiles the reference's Mongo-dialect criteria documents into Catalyst
  * [[Column]] predicates.
  *
  * Dialect per SURVEY.md §2.2 (reference:
  * `docs/getting_started/query_101.md:113-134` plus operators used in-tree):
  * implicit `\$eq`, `\$eq/\$ne/\$not`, `\$gt/\$gte/\$lt/\$lte`, `\$in/\$nin`,
  * `\$exists`, `\$and/\$or/\$nor`, `\$regex`, `\$expr` + `\$arrayElemAt`
  * (`api/query_operator/submission.py:27-31`), dot-path field addressing.
  *
  * The compiler is pure plan construction — it emits only built-in
  * expressions, so every predicate participates in Catalyst pushdown and
  * whole-stage codegen (important at 100 TB: these predicates must reach
  * the parquet scan as `PushedFilters`).
  *
  * Mongo-vs-Spark semantics notes:
  *  - `\$exists: true` → column is present in schema AND value non-null;
  *    `false` → absent OR null. Spark has no missing-vs-null distinction at
  *    the row level, so schema presence is resolved against the DataFrame
  *    schema when available (the `schema` parameter).
  *  - equality on an array-typed field matches Mongo's element-containment
  *    (`{f: v}` matches docs where `f` is an array containing `v`).
  */
object MongoFilter {

  private val mapper = new ObjectMapper()

  /** Parse a JSON criteria string and compile to a Column predicate. */
  def compile(criteriaJson: String, schema: Option[StructType] = None): Column =
    compileNode(mapper.readTree(criteriaJson), schema)

  /** Compile against a DataFrame (schema-aware `\$exists` / array equality). */
  def apply(df: DataFrame, criteriaJson: String): DataFrame =
    if (criteriaJson == null || criteriaJson.trim.isEmpty || criteriaJson.trim == "{}") df
    else df.filter(compile(criteriaJson, Some(df.schema)))

  /** Field names referenced by a criteria document (recursing through
    * `$and`/`$or`/`$nor`) — used for covering-index / partition-pruning
    * routing decisions. */
  def topLevelFields(criteriaJson: String): Seq[String] = {
    def walk(n: JsonNode): Seq[String] =
      if (!n.isObject) Nil
      else n.fields().asScala.flatMap { e =>
        e.getKey match {
          case "$and" | "$or" | "$nor" =>
            e.getValue.elements().asScala.flatMap(walk).toSeq
          case k if k.startsWith("$") => Nil
          case field => Seq(field)
        }
      }.toSeq
    if (criteriaJson == null || criteriaJson.trim.isEmpty) Nil
    else walk(mapper.readTree(criteriaJson)).distinct
  }

  /** Every field a criteria document reads, through `$and`/`$or`/`$nor`
    * and a top-level `$not`; None when it names fields inside values
    * (`$expr`, `$text`) or does not parse, so a reader must keep every
    * column. */
  def fieldsRead(criteriaJson: String): Option[Seq[String]] = {
    def all[T](xs: Iterator[T])(f: T => Option[Seq[String]]): Option[Seq[String]] =
      xs.foldLeft(Option(Seq.empty[String]))((acc, x) => acc.flatMap(a => f(x).map(a ++ _)))
    def walk(n: JsonNode): Option[Seq[String]] =
      if (!n.isObject) None
      else all(n.fields().asScala) { e =>
        e.getKey match {
          case "$and" | "$or" | "$nor" if e.getValue.isArray => all(e.getValue.elements().asScala)(walk)
          case "$not" => walk(e.getValue)
          case k if k.startsWith("$") => None
          case field => Some(Seq(field))
        }
      }
    if (criteriaJson == null || criteriaJson.trim.isEmpty) Some(Nil)
    else scala.util.Try(walk(mapper.readTree(criteriaJson))).toOption.flatten
  }

  // ---------------------------------------------------------------------
  // compiler
  // ---------------------------------------------------------------------

  private def compileNode(n: JsonNode, schema: Option[StructType]): Column = {
    require(n.isObject, s"criteria must be a JSON object, got: $n")
    val clauses = n.fields().asScala.map { e =>
      e.getKey match {
        case "$and" => combine(e.getValue, schema, _ && _, lit(true))
        case "$or"  => combine(e.getValue, schema, _ || _, lit(false))
        // Mongo $not/$nor keep docs where the inner predicate is false OR
        // null-valued (missing fields match) — null-safe negation required
        case "$nor" => !coalesce(combine(e.getValue, schema, _ || _, lit(false)), lit(false))
        case "$not" => !coalesce(compileNode(e.getValue, schema), lit(false))
        case "$expr" => compileExpr(e.getValue)
        case "$text" => compileText(e.getValue)
        case field   => compileField(field, e.getValue, schema)
      }
    }.toSeq
    if (clauses.isEmpty) lit(true) else clauses.reduce(_ && _)
  }

  private def combine(arr: JsonNode, schema: Option[StructType],
                      op: (Column, Column) => Column, identity: Column): Column = {
    require(arr.isArray, s"$$and/$$or/$$nor take an array, got: $arr")
    // Mongo rejects empty $and/$or; be permissive with the proper fold
    // identities: empty-AND = true, empty-OR = false
    arr.elements().asScala.map(compileNode(_, schema)).reduceOption(op)
      .getOrElse(identity)
  }

  /** BSON extended-JSON wrappers (`{"$date": …}`, `{"$oid": …}`) are
    * literal VALUES, not operator docs — direct equality against them
    * must not route through the operator dispatch. */
  private def isExtendedLiteral(v: JsonNode): Boolean =
    v.isObject && v.size() == 1 && (v.has("$date") || v.has("$oid"))

  /** One field → value-or-operator-doc. */
  private def compileField(field: String, v: JsonNode,
                           schema: Option[StructType]): Column = {
    if (v.isObject && !isExtendedLiteral(v)
        && v.fieldNames().asScala.exists(_.startsWith("$"))) {
      v.fields().asScala.map { e =>
        compileOp(field, e.getKey, e.getValue, schema)
      }.reduce(_ && _)
    } else eqMatch(field, v, schema)
  }

  /** Is the (dot-path) field absent from a KNOWN schema? Mongo treats a
    * missing field as null-valued: `{missing: null}` matches every doc,
    * `{missing: v}` none, negative operators match all. Without a schema
    * we cannot tell and let resolution fail loudly. */
  private def absent(schema: Option[StructType], field: String): Boolean =
    schema.isDefined && !hasPath(schema.get, field)

  /** Implicit equality; on array-typed fields Mongo matches containment. */
  private def eqMatch(field: String, v: JsonNode,
                      schema: Option[StructType]): Column = {
    val c = col(field)
    if (absent(schema, field)) { if (v.isNull) lit(true) else lit(false) }
    else if (v.isNull) c.isNull
    else fieldType(schema, field) match {
      case Some(_: ArrayType) if !v.isArray => array_contains(c, lit(literal(v)))
      case _ => c === lit(literal(v))
    }
  }

  private def compileOp(field: String, op: String, v: JsonNode,
                        schema: Option[StructType]): Column = {
    val c = col(field)
    // missing field ≡ null value: positive comparisons match nothing,
    // negative ones everything ($exists has its own handling below)
    if (absent(schema, field) && op != "$exists")
      return op match {
        // missing ≡ null, so a null operand flips the negative operators:
        // {m: {$ne: null}} and {m: {$nin: [null,…]}} match NOTHING
        case "$ne" => if (v.isNull) lit(false) else lit(true)
        case "$nin" =>
          if (v.isArray && v.elements().asScala.exists(_.isNull)) lit(false)
          else lit(true)
        // $not recurses: the absent branches of the inner operators emit
        // pure literals, so no unresolvable column reference is built
        case "$not" => !coalesce(compileField(field, v, schema), lit(false))
        case "$eq" => eqMatch(field, v, schema)
        case _ => lit(false)
      }
    op match {
      case "$eq"  => eqMatch(field, v, schema)
      case "$ne"  =>
        if (v.isNull) c.isNotNull
        else fieldType(schema, field) match {
          // array field: containment-negation (dual of $eq); null/missing
          // arrays match (they contain nothing)
          case Some(_: ArrayType) if !v.isArray =>
            !coalesce(array_contains(c, lit(literal(v))), lit(false))
          case _ => !(c <=> lit(literal(v)))
        }
      case "$gt"  => c > lit(literal(v))
      case "$gte" => c >= lit(literal(v))
      case "$lt"  => c < lit(literal(v))
      case "$lte" => c <= lit(literal(v))
      case "$in" =>
        val vs = values(v)
        fieldType(schema, field) match {
          case Some(_: ArrayType) =>
            // Mongo $in on an array field: any element ∈ vs
            arrays_overlap(c, array(vs.map(lit): _*))
          case _ =>
            // null in the list matches null values (Mongo); strip it
            // from isin so three-valued logic can't poison the rest
            val nonNull = vs.filterNot(_ == null)
            val base =
              if (nonNull.nonEmpty) coalesce(c.isin(nonNull: _*), lit(false))
              else lit(false)
            if (vs.contains(null)) base || c.isNull else base
        }
      case "$nin" =>
        val vs = values(v)
        fieldType(schema, field) match {
          case Some(_: ArrayType) =>
            // null arrays overlap nothing → they match $nin
            !coalesce(arrays_overlap(c, array(vs.map(lit): _*)), lit(false))
          case _ =>
            // value ∉ list; null values match UNLESS null ∈ list
            val nonNull = vs.filterNot(_ == null)
            val notIn =
              if (nonNull.nonEmpty) !coalesce(c.isin(nonNull: _*), lit(false))
              else lit(true)
            if (vs.contains(null)) notIn && c.isNotNull else notIn
        }
      case "$exists" =>
        val present = schema.forall(hasPath(_, field))
        val want = v.asBoolean()
        if (want) { if (present) c.isNotNull else lit(false) }
        else      { if (present) c.isNull    else lit(true)  }
      case "$regex"       => c.rlike(v.asText())
      case "$not"         => !coalesce(compileField(field, v, schema), lit(false))
      case "$size"        => size(c) === lit(v.asInt())
      case "$elemMatch"   =>
        // exists(arr, x -> pred(x)) — pred compiled with `x` as the root
        val pred = compileElemPred(v)
        exists(c, pred)
      case "$all" =>
        // $all: [] matches nothing (Mongo semantics)
        values(v).map(x => array_contains(c, lit(x)))
          .reduceOption(_ && _).getOrElse(lit(false))
      case other => throw new IllegalArgumentException(
        s"unsupported criteria operator: $other (field $field)")
    }
  }

  /** `$elemMatch` body: operator doc applied to the lambda element. */
  private def compileElemPred(doc: JsonNode): Column => Column = { x =>
    doc.fields().asScala.map { e =>
      e.getKey match {
        case "$eq"  => x === lit(literal(e.getValue))
        case "$ne"  => x =!= lit(literal(e.getValue))
        case "$gt"  => x > lit(literal(e.getValue))
        case "$gte" => x >= lit(literal(e.getValue))
        case "$lt"  => x < lit(literal(e.getValue))
        case "$lte" => x <= lit(literal(e.getValue))
        case "$in"  => x.isin(values(e.getValue): _*)
        case k if k.startsWith("$") => throw new IllegalArgumentException(
          s"unsupported $$elemMatch operator: $k")
        // non-$ key: struct-element field equality
        case k      => x.getField(k) === lit(literal(e.getValue))
      }
    }.reduce(_ && _)
  }

  /** `$expr` subset used by the reference: comparisons over
    * `$arrayElemAt: ["$field", idx]` and field refs
    * (`api/query_operator/submission.py:27-31`). */
  private def compileExpr(n: JsonNode): Column = {
    def operand(v: JsonNode): Column = {
      if (v.isTextual && v.asText().startsWith("$")) col(v.asText().drop(1))
      else if (v.isObject && v.has("$arrayElemAt")) {
        val args = v.get("$arrayElemAt")
        val arr = operand(args.get(0))
        val idx = args.get(1).asInt()
        // Mongo: -1 = last; Spark element_at is 1-based with -1 = last
        element_at(arr, if (idx >= 0) idx + 1 else idx)
      } else lit(literal(v))
    }
    val (op, args) = n.fields().asScala.next() match { case e => (e.getKey, e.getValue) }
    val (a, b) = (operand(args.get(0)), operand(args.get(1)))
    op match {
      case "$eq"  => a === b
      case "$ne"  => a =!= b
      case "$gt"  => a > b
      case "$gte" => a >= b
      case "$lt"  => a < b
      case "$lte" => a <= b
      case other  => throw new IllegalArgumentException(s"unsupported $$expr op: $other")
    }
  }

  /** `$text: {$search: "...", $field: "col", $mustNot: "..."}` —
    * case-insensitive containment over the named text column (default
    * `text`), the A10 `generate_atlas_search_pipeline` analogue
    * (reference `api/resource/utils.py:69-97` builds a compound
    * `{must: [...], mustNot: [...]}` `$search` operator).
    *
    * Clause dialect, applied to both `$search` (must) and `$mustNot`:
    * double-quoted segments are PHRASES (the whole quoted string must
    * appear contiguously — Atlas `phrase` operator analogue); bare
    * words are independent token-containment clauses (Atlas `text`).
    * `$mustNot` takes one clause string or an array of them; a doc
    * matches when every must clause holds AND no mustNot clause does.
    * A null/missing text field fails must clauses (nothing contained)
    * and SATISFIES mustNot clauses (nothing to prohibit) — compound
    * filter semantics, not three-valued SQL null. */
  private def compileText(n: JsonNode): Column = {
    val field = if (n.has("$field")) n.get("$field").asText() else "text"
    val phraseRe = "\"([^\"]*)\"".r
    def clauses(s: String): Seq[Column] = {
      val phrases = phraseRe.findAllMatchIn(s).map(_.group(1).trim).toSeq
      val tokens = phraseRe.replaceAllIn(s, " ").split("\\s+").filter(_.nonEmpty).toSeq
      (phrases.filter(_.nonEmpty) ++ tokens)
        .map(t => lower(col(field)).contains(t.toLowerCase))
    }
    val must = clauses(n.get("$search").asText())
    val mustNot: Seq[Column] = Option(n.get("$mustNot")).toSeq.flatMap { mn =>
      val texts =
        if (mn.isArray) mn.elements().asScala.map(_.asText()).toSeq
        else Seq(mn.asText())
      texts.flatMap(clauses)
    }.map(c => !coalesce(c, lit(false)))
    (must ++ mustNot).reduceOption(_ && _).getOrElse(lit(true))
  }

  // ---------------------------------------------------------------------
  // JSON value → Scala literal
  // ---------------------------------------------------------------------

  private[query] def literal(v: JsonNode): Any = v match {
    case null => null
    case _ if v.isNull => null
    case _ if v.isBoolean => v.asBoolean()
    case _ if v.isInt || v.isLong => v.asLong()
    case _ if v.isDouble || v.isFloat || v.isBigDecimal => v.asDouble()
    case _ if v.isTextual => v.asText()
    case a: ArrayNode => a.elements().asScala.map(literal).toSeq
    case o: ObjectNode if o.has("$date") =>
      java.sql.Timestamp.from(java.time.Instant.parse(o.get("$date").asText()))
    case o: ObjectNode if o.has("$oid") => o.get("$oid").asText()
    case other => throw new IllegalArgumentException(s"unsupported literal: $other")
  }

  private def values(v: JsonNode): Seq[Any] = {
    require(v.isArray, s"$$in/$$nin/$$all take an array, got: $v")
    v.elements().asScala.map(literal).toSeq
  }

  // ---------------------------------------------------------------------
  // schema helpers (dot-path aware)
  // ---------------------------------------------------------------------

  private def fieldType(schema: Option[StructType], path: String): Option[DataType] =
    schema.flatMap(resolve(_, path.split('.').toList))

  private def resolve(dt: DataType, parts: List[String]): Option[DataType] =
    (dt, parts) match {
      case (t, Nil) => Some(t)
      case (s: StructType, p :: rest) =>
        s.fields.find(_.name == p).flatMap(f => resolve(f.dataType, rest))
      case _ => None
    }

  private def hasPath(schema: StructType, path: String): Boolean =
    resolve(schema, path.split('.').toList).isDefined
}

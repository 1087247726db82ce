package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** Plain-Scala answers to the served requests, computed from the
  * generator's documents alone. */
final class Oracle(docs: Seq[Doc]) {
  import Oracle._

  private val byId: Map[Long, Doc] = docs.iterator.map(d => d.id -> d).toMap

  // BM25 over the same tokens the engine sees: the generator writes
  // lower-case alphabetic words separated by single spaces
  private val tokens: Map[Long, Array[String]] = docs.iterator.map(d => d.id -> d.description.split(' ')).toMap
  private val postings: Map[String, Seq[(Long, Long)]] = tokens.toSeq
    .flatMap { case (id, ts) => ts.groupBy(identity).map { case (t, xs) => (t, (id, xs.length.toLong)) } }
    .groupMap(_._1)(_._2)
  private val nDocs = docs.size.toDouble
  private val avgdl = tokens.valuesIterator.map(_.length.toLong).sum.toDouble / nDocs

  /** Top-k ids for a BM25 query: the engine's fixed-point score (micro
    * units, rounded per term), highest first, ties to the smaller id. */
  def bm25(text: String, k: Int): Seq[Long] = {
    val (k1, b) = (1.2, 0.75)
    val scores = scala.collection.mutable.HashMap[Long, Long]()
    text.split(' ').filter(_.nonEmpty).distinct.foreach { term =>
      val ps = postings.getOrElse(term, Nil)
      val df = ps.size.toDouble
      val idf = StrictMath.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
      ps.foreach { case (id, tf0) =>
        val tf = tf0.toDouble
        val dl = tokens(id).length.toDouble
        val s = Math.floor(idf * (tf * (k1 + 1.0)) /
          (tf + (dl / avgdl * b + (1.0 - b)) * k1) * 1000000.0 + 0.5).toLong
        scores(id) = scores.getOrElse(id, 0L) + s
      }
    }
    scores.toSeq.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
  }

  /** Differences between a served response and the oracle's answer. */
  def diff(r: Resp): Seq[String] = {
    lazy val node = mapper.readTree(r.body)
    val where = s"${r.req.kind} ${r.req.path}${r.req.body.getOrElse("")}"
    def fail(msg: String) = Seq(s"$where: $msg")
    if (r.status != 200) fail(s"status ${r.status}: ${r.body.take(200)}")
    else r.req.kind match {
      case "bykey" =>
        val d = byId(r.req.key)
        val got = node.get("data").get(0)
        docFields(d).collect { case (f, v) if !same(got.get(f), v) => s"$f=${got.get(f)} expected $v" } match {
          case Nil => Nil
          case errs => fail(errs.mkString(", "))
        }
      case "bm25" =>
        val q = mapper.readTree(r.req.body.get)
        val want = bm25(q.get("text").asText(), q.get("k").asInt())
        val got = node.get("data").elements().asScala.map(_.get("id").asLong()).toSeq
        if (got != want) fail(s"ids $got expected $want") else Nil
      case "search" => searchDiff(r, node).flatMap(fail)
    }
  }

  private def searchDiff(r: Resp, node: JsonNode): Seq[String] = {
    val p = java.net.URI.create("http://x" + r.req.path).getRawQuery.split('&').map { kv =>
      val i = kv.indexOf('=')
      kv.take(i) -> java.net.URLDecoder.decode(kv.drop(i + 1), "UTF-8")
    }.toMap
    val matched = docs.filter(d => d.crystalSystem == p("crystal_system") &&
      d.bandGap >= p("band_gap_min").toDouble)
    val ordered = p("_sort_fields").split(',').reverse.foldLeft(matched.sortBy(_.id)) { (ds, f) =>
      val desc = f.startsWith("-")
      val key: Doc => Double = f.stripPrefix("-") match {
        case "band_gap" => _.bandGap
        case "energy_above_hull" => _.eAboveHull
        case "formation_energy_per_atom" => _.eForm
        case "id" => _.id.toDouble
      }
      ds.sortBy(d => if (desc) -key(d) else key(d)) // stable: earlier keys win
    }
    val page = ordered.slice(p("_skip").toInt, p("_skip").toInt + p("_limit").toInt)
    val fields = p("_fields").split(',').toSeq
    val data = node.get("data").elements().asScala.toSeq
    val meta = node.get("meta")
    val facet = meta.get("facet_chemsys").fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toSeq
    val wantFacet = matched.groupBy(_.chemsys).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (v, n) => (-n, v) }.take(5)
    val errs = Seq.newBuilder[String]
    if (meta.get("total_doc").asLong() != matched.size)
      errs += s"total_doc ${meta.get("total_doc")} expected ${matched.size}"
    if (facet != wantFacet) errs += s"facet $facet expected $wantFacet"
    if (data.size != page.size) errs += s"${data.size} rows expected ${page.size}"
    data.zip(page).foreach { case (got, d) =>
      val want = docFields(d).filter { case (f, _) => fields.contains(f) }
      if (got.size != fields.size) errs += s"row ${d.id} has fields ${got.fieldNames().asScala.toSeq}"
      want.foreach { case (f, v) => if (!same(got.get(f), v)) errs += s"row ${d.id} $f=${got.get(f)} expected $v" }
    }
    errs.result()
  }
}

object Oracle {
  val mapper = new ObjectMapper()

  /** The fields a served document must carry, as generated. */
  def docFields(d: Doc): Seq[(String, Any)] = Seq(
    "id" -> d.id, "material_id" -> s"mp-${d.id}", "version" -> d.version,
    "formula_pretty" -> d.formula, "chemsys" -> d.chemsys, "band_gap" -> d.bandGap,
    "energy_above_hull" -> d.eAboveHull, "formation_energy_per_atom" -> d.eForm,
    "crystal_system" -> d.crystalSystem, "description" -> d.description,
    "elements" -> d.elements)

  def same(n: JsonNode, v: Any): Boolean = n != null && (v match {
    case x: Long => n.isIntegralNumber && n.asLong() == x
    case x: Int => n.isIntegralNumber && n.asLong() == x.toLong
    case x: Double => n.isNumber && n.asDouble() == x
    case x: String => n.isTextual && n.asText() == x
    case xs: Seq[_] => n.isArray && n.elements().asScala.map(_.asText()).toSeq == xs
    case _ => false
  })
}

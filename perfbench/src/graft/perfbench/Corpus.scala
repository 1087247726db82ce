package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.util.SplittableRandom

/** One Materials-Project-flavoured summary document. `version` counts the
  * generator's rewrites of the doc; `luSec` is its logical `last_updated`
  * (epoch seconds, from the generator's clock — never the wall clock). */
final case class Doc(
    id: Long, version: Int, luSec: Long, formula: String,
    elements: Seq[String], nsites: Int, volume: Double, density: Double,
    bandGap: Double, eAboveHull: Double, eForm: Double,
    crystalSystem: String, spacegroup: Int, description: String) {

  def chemsys: String = elements.sorted.mkString("-")
  def isStable: Boolean = eAboveHull == 0.0

  def row: Row = Row(id, s"mp-$id", version, new java.sql.Timestamp(luSec * 1000L),
    formula, elements, elements.size, chemsys, nsites, volume, density, bandGap,
    eAboveHull, eForm, isStable, crystalSystem, spacegroup, description)

  /** The doc as one JSON line, fields in [[Corpus.schema]] order. */
  def json: String = {
    val lu = java.time.Instant.ofEpochSecond(luSec).toString
    val els = elements.map(e => "\"" + e + "\"").mkString("[", ",", "]")
    s"""{"id":$id,"material_id":"mp-$id","version":$version,"last_updated":"$lu",""" +
      s""""formula_pretty":"$formula","elements":$els,"nelements":${elements.size},""" +
      s""""chemsys":"$chemsys","nsites":$nsites,"volume":$volume,"density":$density,""" +
      s""""band_gap":$bandGap,"energy_above_hull":$eAboveHull,""" +
      s""""formation_energy_per_atom":$eForm,"is_stable":$isStable,""" +
      s""""crystal_system":"$crystalSystem","spacegroup_number":$spacegroup,""" +
      s""""description":"$description"}"""
  }
}

/** Seeded generator of the benchmark corpus and of its change stream.
  * Equal seeds give byte-identical documents and deltas; every size and
  * count is fixed by the caller, so two seeds differ only in content. */
final class Corpus(seed: Long, initialDocs: Int) {
  import Corpus._

  private val rng = new SplittableRandom(seed)
  private var nextId = 1L
  private var clock = T0

  /** Live documents by id (insertion order kept for seeded sampling). */
  val live = scala.collection.mutable.LinkedHashMap[Long, Doc]()
  /** Last version of every deleted document. */
  val deleted = scala.collection.mutable.LinkedHashMap[Long, Doc]()

  (0 until initialDocs).foreach { _ => val d = fresh(); live(d.id) = d }

  /** Live documents plus the last version of every deleted one. */
  def everSeen: Seq[Doc] = (live.values ++ deleted.values).toSeq.sortBy(_.id)

  private def uniform(n: Int): Int = rng.nextInt(n)
  private def round3(x: Double): Double = math.round(x * 1000.0) / 1000.0

  private def zipf(cdf: Array[Double]): Int = {
    val u = rng.nextDouble() * cdf.last
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  private def words(n: Int): Seq[String] = Seq.fill(n)(Vocab(zipf(VocabCdf)))

  private def fresh(): Doc = {
    val id = nextId; nextId += 1
    val nel = 1 + zipf(NelementsCdf)
    val els = Iterator.continually(Elements(zipf(ElementCdf))).distinct.take(nel).toSeq
    val counts = els.map(_ => 1 + uniform(4))
    val formula = els.zip(counts).map { case (e, c) => if (c == 1) e else s"$e$c" }.mkString
    val nsites = counts.sum * (1 + uniform(4))
    val gap = if (rng.nextDouble() < 0.35) 0.0 else round3(rng.nextDouble() * 6.0)
    val ehull = if (rng.nextDouble() < 0.3) 0.0 else round3(rng.nextDouble() * 0.4)
    val text = words(DescWordsMin + uniform(DescWordsSpan)).mkString(" ")
    Doc(id, 1, clock, formula, els, nsites, round3(10.0 + rng.nextDouble() * 400.0),
      round3(1.0 + rng.nextDouble() * 9.0), gap, ehull,
      round3(-4.0 + rng.nextDouble() * 4.0), CrystalSystems(zipf(CrystalCdf)),
      1 + uniform(230), text)
  }

  private def rewrite(d: Doc): Doc = {
    val text = d.description.split(' ')
    (0 until 3).foreach(_ => text(uniform(text.length)) = Vocab(zipf(VocabCdf)))
    d.copy(version = d.version + 1, luSec = clock,
      bandGap = round3(d.bandGap + rng.nextDouble() * 0.5),
      eAboveHull = round3(rng.nextDouble() * 0.2), description = text.mkString(" "))
  }

  private def pickLive(n: Int, exclude: Set[Long]): Seq[Long] = {
    val ids = live.keysIterator.filterNot(exclude).toArray
    // partial Fisher-Yates: n distinct ids
    (0 until n).map { i =>
      val j = i + uniform(ids.length - i)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
      ids(i)
    }
  }

  /** Advance the clock one tick and apply a change of exactly `nNew` new,
    * `nUpd` rewritten and `nDel` deleted documents to [[live]]. Returns
    * the upserted docs and the deleted ids. */
  def delta(nNew: Int, nUpd: Int, nDel: Int): (Seq[Doc], Seq[Long]) = {
    clock += TickSec
    val upd = pickLive(nUpd, Set.empty).map(id => rewrite(live(id)))
    val del = pickLive(nDel, upd.map(_.id).toSet)
    val add = Seq.fill(nNew)(fresh())
    del.foreach { id => deleted(id) = live(id); live.remove(id) }
    (upd ++ add).foreach(d => live(d.id) = d)
    (upd ++ add, del)
  }
}

object Corpus {
  val T0: Long = 1767225600L // 2026-01-01T00:00:00Z
  val TickSec = 3600L
  val DescWordsMin = 30
  val DescWordsSpan = 30

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("material_id", StringType),
    StructField("version", IntegerType),
    StructField("last_updated", TimestampType),
    StructField("formula_pretty", StringType),
    StructField("elements", ArrayType(StringType)),
    StructField("nelements", IntegerType),
    StructField("chemsys", StringType),
    StructField("nsites", IntegerType),
    StructField("volume", DoubleType),
    StructField("density", DoubleType),
    StructField("band_gap", DoubleType),
    StructField("energy_above_hull", DoubleType),
    StructField("formation_energy_per_atom", DoubleType),
    StructField("is_stable", BooleanType),
    StructField("crystal_system", StringType),
    StructField("spacegroup_number", IntegerType),
    StructField("description", StringType)))

  def frame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(docs.map(_.row): _*), schema)

  def jsonBytes(docs: Iterable[Doc]): Long =
    docs.iterator.map(_.json.getBytes("UTF-8").length.toLong).sum

  private def cdf(weights: Seq[Double]): Array[Double] = weights.scanLeft(0.0)(_ + _).tail.toArray
  private def zipfCdf(n: Int, s: Double): Array[Double] = cdf((1 to n).map(r => 1.0 / math.pow(r, s)))

  val Elements: IndexedSeq[String] = IndexedSeq("O", "Li", "Fe", "Mn", "Co", "Ni",
    "Si", "S", "P", "F", "Cu", "Zn", "Ti", "V", "Cr", "Mg", "Na", "K", "Ca", "Al",
    "N", "C", "B", "Se", "Te", "Sn", "Bi", "Sr", "Ba", "La", "Mo", "W", "Nb", "Zr")
  val ElementCdf: Array[Double] = zipfCdf(Elements.size, 0.8)
  val NelementsCdf: Array[Double] = cdf(Seq(0.1, 0.4, 0.35, 0.15))
  val CrystalSystems: IndexedSeq[String] = IndexedSeq("orthorhombic", "monoclinic",
    "triclinic", "cubic", "tetragonal", "trigonal", "hexagonal")
  val CrystalCdf: Array[Double] = zipfCdf(CrystalSystems.size, 0.6)

  /** Lower-case alphabetic words only, so the engine tokenizer (lower-cased
    * alphanumeric runs) splits a description exactly on its spaces. */
  val Vocab: IndexedSeq[String] = {
    val seedWords = IndexedSeq("structure", "phase", "stable", "oxide", "lattice",
      "perovskite", "spinel", "layered", "cathode", "anode", "electrolyte",
      "magnetic", "ferromagnetic", "antiferromagnetic", "insulator", "metal",
      "semiconductor", "bandgap", "polymorph", "octahedral", "tetrahedral",
      "vacancy", "dopant", "thermoelectric", "photovoltaic", "catalyst",
      "intercalation", "battery", "voltage", "conductivity", "elastic", "dielectric",
      "piezoelectric", "hull", "formation", "energy", "relaxed", "calculation",
      "functional", "hubbard", "spin", "polarized", "symmetry", "space", "group")
    val syl = IndexedSeq("ka", "ri", "mo", "ten", "lu", "sa", "vo", "ne", "chi",
      "pra", "dor", "fel", "gi", "ox", "zu", "bel", "tam", "qui", "res", "nol")
    val synth = for (a <- syl; b <- syl; c <- syl.take(5)) yield a + b + c
    (seedWords ++ synth).distinct
  }
  val VocabCdf: Array[Double] = zipfCdf(Vocab.size, 1.0)
}

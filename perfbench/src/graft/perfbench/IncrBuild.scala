package graft.perfbench

import graft.builder._
import graft.store.Store
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** maggma's core contract: each round applies a 1 % delta (new, rewritten
  * and deleted docs) to a ParquetStore source, then runs the builder chain
  * Map → Bm25(delete orphans). The Group, UnigramLm and Dedup builders are
  * left out: on a 4-core host their incremental runs cost about 160 Spark
  * jobs a round, three times the two kept, and the run budget cannot hold
  * them (see the README). */
final class IncrBuild(ctx: Ctx) extends Workload {
  import IncrBuild._
  import Workload._

  private val spark = ctx.spark
  private val tr = ctx.tr
  private val rounds = roundCount(ctx.seconds)
  private val corpus = new Corpus(ctx.seed, Docs)

  private val src = ctx.store("source", "id", "last_updated")
  private val chain = Chain(ctx.store _)

  private var processed = Map.empty[String, Long]
  private var changedDocs = 0L

  def setup(): Unit = {
    src.update(Corpus.frame(spark, corpus.live.values.toSeq))
    chain.run(src, tr)
  }

  private def round(): (Double, Map[String, BuildReport], Seq[Doc]) = {
    val (ups, dels) = corpus.delta(NewPerRound, UpdPerRound, DelPerRound)
    tr.span("gen.write")(src.updateRemoveKeys(Corpus.frame(spark, ups), ids(dels)))
    val (reports, dt) = time(chain.run(src, tr))
    (dt, reports, ups)
  }

  private def ids(xs: Seq[Long]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(xs.map(Row(_)): _*),
      StructType(Seq(StructField("id", LongType, nullable = false))))

  def warmup(): Unit = round()

  def run(): Measured = {
    var snap = ctx.snapshot()
    var written = 0L
    var changedJson = 0L
    val lat = (1 to rounds).map { _ =>
      val (dt, reports, ups) = round()
      val (b, s) = ctx.newBytes(snap); snap = s; written += b
      changedJson += Corpus.jsonBytes(ups)
      changedDocs += ups.size
      processed = reports.foldLeft(processed) { case (m, (k, r)) =>
        m.updated(k, m.getOrElse(k, 0L) + r.processed) }
      dt
    }
    val busy = lat.sum
    val live = Disk.bytes(ctx.roots)
    Measured(
      Map(
        // the mean round from totals: too few rounds for a percentile
        "latency_ms" -> Metric(busy / rounds, "ms", lat.size),
        "docs_per_s" -> Metric(changedDocs / (busy / 1000.0), "1/s", changedDocs),
        "write_amp" -> Metric(written.toDouble / changedJson, "ratio", rounds),
        "space_amp" -> Metric(live.toDouble / Corpus.jsonBytes(corpus.live.values), "ratio", 1)),
      attempted = rounds.toLong * Chain.names.size, failed = 0, busyMs = busy,
      layers = Chain.names.map(n => s"$n.reprocess_ratio" ->
        processed.getOrElse(n, 0L).toDouble / math.max(1L, changedDocs)).toMap +
        ("store.live_bytes" -> live.toDouble))
  }

  /** Every target against a from-scratch build of the same chain over
    * the final inputs: the source as it is now for the source readers
    * (Map, Bm25), so deletes must have propagated where a builder deletes
    * orphans; the Map builder keeps orphans by contract, so its scratch
    * input also holds the last version of each deleted doc. */
  def check(): Seq[String] = {
    val scratch = new Ctx(spark, new Tracer(spark, Mode.Off), ctx.dir.resolve(s"scratch-${System.nanoTime()}"), ctx.seed, ctx.seconds)
    val fresh = Chain(scratch.store _)
    val srcNow = scratch.store("source_now", "id", "last_updated")
    srcNow.update(Corpus.frame(spark, corpus.live.values.toSeq))
    val srcEver = scratch.store("source_ever", "id", "last_updated")
    srcEver.update(Corpus.frame(spark, corpus.everSeen))
    fresh.run(srcNow, scratch.tr, mapSource = Some(srcEver))
    val mine = chain.hashes
    val ref = fresh.hashes
    val diff = mine.keys.toSeq.sorted.filter(k => mine(k) != ref(k))
      .map(k => s"incr_build: $k differs from the from-scratch build (${mine(k)} vs ${ref(k)})")
    val mappedIds = chain.stores("mapped").df.select("id").collect().map(_.getLong(0)).toSet
    val everIds = corpus.everSeen.map(_.id).toSet
    val statsDocs = chain.stores("bm25_stats").df.select(col("n_docs").cast("long")).head().getLong(0)
    diff ++
      (if (mappedIds != everIds) Seq(s"incr_build: mapped holds ${mappedIds.size} ids, generator ${everIds.size}") else Nil) ++
      (if (statsDocs != corpus.live.size) Seq(s"incr_build: bm25 n_docs $statsDocs != live docs ${corpus.live.size}") else Nil)
  }

  def hashes(): Map[String, String] = chain.hashes

  /** Test hook for the self-test: corrupt one output row. */
  def corrupt(): Unit = {
    val m = chain.stores("mapped")
    m.removeKeys(m.df.select("id").limit(1))
  }
}

object IncrBuild {
  val Docs = 1000
  val NewPerRound = 5
  val UpdPerRound = 3
  val DelPerRound = 2

  def roundCount(seconds: Int): Int = math.max(3, seconds / 7)
}

/** The builder chain over its stores. */
final class Chain(val stores: Map[String, Store]) {
  def hashes: Map[String, String] = stores.map { case (k, s) => k -> Workload.tableHash(s.df) }

  def run(src: Store, tr: Tracer, mapSource: Option[Store] = None): Map[String, BuildReport] = {
    val mapped = stores("mapped")
    val builders: Seq[(String, Builder)] = Seq(
      "builder.map" -> MapBuilder.columns(mapSource.getOrElse(src), mapped, Chain.transform),
      "builder.bm25" -> new Bm25IndexBuilder(src, stores("bm25_index"), stores("bm25_stats"),
        "description", deleteOrphans = true))
    builders.map { case (name, b) =>
      val (r, dt) = Workload.time(tr.span(name)(b.run()))
      Main.log(f"$name: $dt%.0f ms, processed ${r.processed}")
      name -> r
    }.toMap
  }
}

object Chain {
  val names: Seq[String] = Seq("builder.map", "builder.bm25")

  def apply(store: (String, String, String, Boolean, Int) => Store): Chain = new Chain(Map(
    "mapped" -> store("mapped", "id", "last_updated", false, 8),
    "bm25_index" -> store("bm25_index", "id", "lu", false, 8),
    "bm25_stats" -> store("bm25_stats", "sid", "sid", false, 8)))

  /** The Map step: a declarative projection with derived fields. */
  val transform: DataFrame => DataFrame = df => df.select(
    col("id"), col("material_id"), col("last_updated"), col("chemsys"),
    col("formula_pretty"), col("nelements"), col("crystal_system"),
    col("band_gap"), col("energy_above_hull"), col("formation_energy_per_atom"),
    (col("volume") / col("nsites")).alias("volume_per_atom"),
    (col("band_gap") === 0.0).alias("is_metal"), col("description"))
}

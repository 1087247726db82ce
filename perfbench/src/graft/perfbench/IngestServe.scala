package graft.perfbench

import graft.builder.Bm25IndexBuilder
import graft.streaming.StreamingBuilder
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

/** Writes beside reads. Each cycle the generator drops one JSON file of
  * new and rewritten docs into a file-source directory; a
  * `StreamingBuilder` upserts it into a delta-write doc store and
  * `StreamingBuilder.bm25IndexStream` indexes it, and the cycle waits on
  * `processAllAvailable` for both. Then a fixed set of reads runs —
  * `byKey` of just-written keys, a search and a BM25 query, sent by one
  * closed-loop client — so every read follows a fresh commit and never
  * overlaps a write. */
final class IngestServe(ctx: Ctx) extends Workload {
  import IngestServe._
  import Workload._

  private val spark = ctx.spark
  private val tr = ctx.tr
  private val cycles = cycleCount(ctx.seconds)
  private val corpus = new Corpus(ctx.seed, Docs)
  private val rng = new SplittableRandom(ctx.seed * 31L + 5L)
  private val docs = ctx.store("docs", "id", "last_updated", deltaWrites = true, compactAfter = CompactAfter)
  private val index = ctx.store("bm25_index", "id", "lu")
  private val stats = ctx.store("bm25_stats", "sid", "sid")
  private val inbox = ctx.dir.resolve("inbox")
  private val staging = ctx.dir.resolve("staging")
  private var queries: Seq[StreamingQuery] = Nil
  private var serving: Serving = _
  private var fileNo = 0
  /** Each read with the number of the generator state it was served from. */
  private val reads = scala.collection.mutable.ArrayBuffer[(Resp, Int)]()
  /** The generator's live documents after each cycle's commit. */
  private val states = scala.collection.mutable.ArrayBuffer[Seq[Doc]]()

  def setup(): Unit = {
    Files.createDirectories(inbox); Files.createDirectories(staging)
    docs.update(Corpus.frame(spark, corpus.live.values.toSeq))
    val lexical = new Bm25IndexBuilder(docs, index, stats, "description")
    lexical.run()
    serving = new Serving(docs, lexical, tr)
    def stream() = spark.readStream.schema(Corpus.schema).json(inbox.toString)
    queries = tr.span("stream")(Seq(
      new StreamingBuilder(stream(), docs, checkpoint = Some(ctx.dir.resolve("ckpt_docs").toString)).start(),
      StreamingBuilder.bm25IndexStream(stream(), "id", "description", index, stats,
        checkpoint = Some(ctx.dir.resolve("ckpt_bm25").toString))))
  }

  /** Writes one file, waits for both streams to commit it, then reads:
    * two `byKey` of just-written keys and, alternating by cycle, a search
    * or a BM25 query (the warm-up cycle, number 0, sends both). */
  private def cycle(n: Int): (Double, IndexedSeq[Resp], Seq[Doc]) = {
    val t0 = System.nanoTime()
    val (ups, _) = corpus.delta(NewPerCycle, UpdPerCycle, 0)
    fileNo += 1
    val name = f"batch-$fileNo%05d.json"
    Files.write(staging.resolve(name), ups.map(_.json).mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.move(staging.resolve(name), inbox.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    queries.foreach(_.processAllAvailable())
    val fresh = ms(t0)
    val written = ups.map(_.id).toIndexedSeq
    val search = n % 2 == 1 || n == 0
    val bm25 = n % 2 == 0
    val reqs = (0 until KeyReads).map(_ => Serving.byKey(written(rng.nextInt(written.size)))) ++
      (if (search) Seq(searchReq(rng)) else Nil) ++
      (if (bm25) Seq(Serving.bm25(ups(rng.nextInt(ups.size)).description
        .split(' ').take(3).mkString(" "), 10)) else Nil)
    val rs = serving.closedLoop(reqs)
    states += corpus.live.values.toSeq
    rs.foreach(r => reads += (r -> (states.size - 1)))
    Main.log(f"cycle $n: fresh $fresh%.0f ms, reads ${rs.map(r => f"${r.rttMs}%.0f").mkString(" ")} ms")
    (fresh, rs, ups)
  }

  def warmup(): Unit = { cycle(0); reads.clear(); states.clear() }

  def run(): Measured = {
    var snap = ctx.snapshot()
    var written = 0L; var json = 0L; var nDocs = 0L
    val fresh = scala.collection.mutable.ArrayBuffer[Double]()
    val lat = scala.collection.mutable.ArrayBuffer[Double]()
    var firstRead = 0.0
    (1 to cycles).foreach { n =>
      val (f, rs, ups) = cycle(n)
      val (b, s) = ctx.newBytes(snap); snap = s; written += b
      json += Corpus.jsonBytes(ups); nDocs += ups.size
      fresh += f; lat ++= rs.map(_.rttMs); firstRead += rs.head.rttMs
    }
    val live = Disk.bytes(ctx.roots)
    Measured(
      Map(
        // means from totals: every read kind, search and BM25 too, moves it
        "latency_ms" -> Metric(lat.sum / lat.size, "ms", lat.size),
        "freshness_s" -> Metric(fresh.sum / fresh.size / 1000.0, "s", fresh.size),
        "docs_per_s" -> Metric(nDocs / (fresh.sum / 1000.0), "1/s", nDocs),
        "write_amp" -> Metric(written.toDouble / json, "ratio", cycles),
        "space_amp" -> Metric(live.toDouble / Corpus.jsonBytes(corpus.live.values), "ratio", 1)),
      attempted = cycles.toLong + lat.size, failed = reads.count(_._1.status != 200).toLong,
      busyMs = fresh.sum + lat.sum,
      layers = Map("api.client_ms" -> lat.sum, "api.first_read_ms" -> firstRead,
        "store.live_bytes" -> live.toDouble))
  }

  /** Every read equals the plain-Scala oracle over the generator's state
    * at that cycle — so each `byKey` of a just-written key returned the
    * version written — and the final stores equal the generator's state:
    * the doc store row for row, the BM25 stores against a from-scratch
    * index of the same docs. */
  def check(): Seq[String] = {
    val oracles = states.map(new Oracle(_))
    val wrong = reads.flatMap { case (r, i) => oracles(i).diff(r) }.map("ingest_serve: " + _)
    val scratch = new Ctx(spark, new Tracer(spark, Mode.Off), ctx.dir.resolve(s"scratch-${System.nanoTime()}"), ctx.seed, ctx.seconds)
    val ref = scratch.store("docs", "id", "last_updated")
    ref.update(Corpus.frame(spark, corpus.live.values.toSeq))
    val refIndex = scratch.store("bm25_index", "id", "lu")
    val refStats = scratch.store("bm25_stats", "sid", "sid")
    new Bm25IndexBuilder(ref, refIndex, refStats, "description").run()
    val pairs = Seq("docs" -> (docs, ref), "bm25_index" -> (index, refIndex), "bm25_stats" -> (stats, refStats))
    wrong.toSeq ++ pairs.flatMap { case (n, (mine, want)) =>
      val (a, b) = (tableHash(mine.df), tableHash(want.df))
      if (a != b) Seq(s"ingest_serve: $n differs from the generator's state ($a vs $b)") else Nil
    }
  }

  def hashes(): Map[String, String] = Map(
    "docs" -> tableHash(docs.df), "bm25_index" -> tableHash(index.df),
    "bm25_stats" -> tableHash(stats.df),
    "responses" -> reads.map(_._1.body).mkString("\n").hashCode.toString)

  /** Self-test hook: make one byKey read carry an older version. */
  def corruptRead(): Unit = {
    val i = reads.indexWhere(_._1.req.kind == "bykey")
    val (r, k) = reads(i)
    val v = states(k).find(_.id == r.req.key).get.version
    reads(i) = (r.copy(body = r.body.replace(s""""version":$v""", s""""version":${v - 1}""")), k)
  }

  /** Self-test hook: drop one document from the served store. */
  def corruptStore(): Unit = docs.removeKeys(docs.df.select("id").limit(1))

  override def close(): Unit = {
    queries.foreach(_.stop())
    if (serving != null) serving.close()
  }
}

object IngestServe {
  val Docs = 1000
  val NewPerCycle = 6
  val UpdPerCycle = 4
  /** Every second delta write compacts: the warm-up write leaves a delta
    * pending, then timed cycles 1 and 3 compact and cycle 2 reads merge
    * one delta. */
  val CompactAfter = 2
  val KeyReads = 2

  def cycleCount(seconds: Int): Int = math.max(3, seconds / 7)

  private val sorts = IndexedSeq("-band_gap,id", "energy_above_hull,id", "id",
    "-formation_energy_per_atom,id")
  private val fields = "id,material_id,formula_pretty,chemsys,band_gap,energy_above_hull," +
    "formation_energy_per_atom,crystal_system"

  /** A `ReadResource` search: Mongo criteria, sort, skip/limit, a field
    * projection and the `chemsys` facet, parameters drawn from `rng`. */
  def searchReq(rng: SplittableRandom): Req = {
    def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.size))
    Serving.search(Seq(
      "crystal_system" -> pick(Corpus.CrystalSystems),
      "band_gap_min" -> pick(IndexedSeq("0.0", "0.5", "1.0", "1.5")),
      "_sort_fields" -> pick(sorts),
      "_skip" -> pick(IndexedSeq("0", "10", "20")),
      "_limit" -> pick(IndexedSeq("10", "20")),
      "_fields" -> fields))
  }
}

package graft.perfbench

import graft.store.{ParquetStore, Store}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}

/** What one pass of a workload runs with. Operation counts derive from
  * `seconds` by a fixed formula, never from the clock, so two commits run
  * with the same `--seconds` do identical work. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val dir: Path,
                val seed: Long, val seconds: Int) {
  Files.createDirectories(dir)
  private val rootsBuf = scala.collection.mutable.ArrayBuffer[Path]()
  def roots: Seq[Path] = rootsBuf.toSeq

  /** A fresh ParquetStore under this pass's directory, wrapped in a
    * [[TracedStore]] when the pass is fully traced. */
  def store(name: String, key: String, lu: String, deltaWrites: Boolean = false,
            compactAfter: Int = 8): Store = {
    val root = dir.resolve(name)
    rootsBuf += root
    val s = new ParquetStore(spark, root.toString, key, lu,
      deltaWrites = deltaWrites, compactAfter = compactAfter)
    if (tr.mode == Mode.Full) new TracedStore(s, tr, root) else s
  }

  /** Bytes of files that appeared under the store roots since `prev`. */
  def newBytes(prev: Map[Path, Map[String, Long]]): (Long, Map[Path, Map[String, Long]]) = {
    val now = roots.map(r => r -> Disk.files(r)).toMap
    val added = now.iterator.map { case (r, fs) =>
      val old = prev.getOrElse(r, Map.empty)
      fs.iterator.collect { case (f, n) if !old.contains(f) => n }.sum
    }.sum
    (added, now)
  }
  def snapshot(): Map[Path, Map[String, Long]] = roots.map(r => r -> Disk.files(r)).toMap
}

/** A metric as printed: value, unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, samples: Long)

/** The timed phase's outcome. `metrics` are the end-to-end figures;
  * `layers` are workload-specific per-layer figures for traced passes. */
final case class Measured(
    metrics: Map[String, Metric],
    attempted: Long,
    failed: Long,
    /** Σ of the unit operations' wall time — the trace-overhead base. */
    busyMs: Double,
    layers: Map[String, Double] = Map.empty)

trait Workload {
  def setup(): Unit
  /** Runs every plan shape of the timed phase once, untimed. */
  def warmup(): Unit
  def run(): Measured
  /** Failed-check messages; empty when every output is correct. */
  def check(): Seq[String]
  /** Order-independent hashes of the outputs, for pass-to-pass equality. */
  def hashes(): Map[String, String]
  def close(): Unit = ()
}

object Workload {
  val names: Seq[String] = Seq("incr_build", "ingest_serve")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "incr_build"   => new IncrBuild(ctx)
    case "ingest_serve" => new IngestServe(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def time[T](body: => T): (T, Double) = { val t0 = System.nanoTime(); val r = body; (r, ms(t0)) }

  /** Order-independent content hash: row count and the sum of per-row
    * 64-bit hashes over the sorted non-volatile columns. */
  def tableHash(df: DataFrame, exclude: Set[String] = Volatile): String = {
    val cols = df.columns.filterNot(exclude).sorted
    if (cols.isEmpty) "empty"
    else {
      val r = df.select(xxhash64(cols.map(col): _*).cast("decimal(38,0)").alias("h"))
        .agg(count(lit(1)), sum(col("h"))).head()
      s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
    }
  }

  /** Build-time columns that differ between two runs of the same build. */
  val Volatile: Set[String] = Set("_bt", "_process_time")

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

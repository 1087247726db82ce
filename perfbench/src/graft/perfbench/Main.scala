package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The benchmark's entry point.
  *
  * {{{
  * Main --workload <incr_build|ingest_serve> --seed <n>
  *      --seconds <n> --trace <0|1> --dir <scratch dir>
  * Main --selftest --dir <scratch dir>
  * }}}
  *
  * `--trace 0` sets up three times (reporting the median of the last two,
  * as the first also loads and compiles the code), warms every
  * plan shape once, then times a fixed number of operations with nothing
  * instrumented. `--trace 1` runs the workload twice on the same seed: a
  * coarse pass that only counts Spark jobs per top-level call, then a
  * fully traced pass; it prints the per-layer metrics and fails unless both
  * passes ran the same jobs per call and produced the same outputs. The
  * last stdout line is the result JSON. */
object Main {
  /** Timed set-ups, after one untimed cold set-up: two keep a run within
    * the benchmark's time budget. */
  val Setups = 2

  final case class Opts(workload: String = "", seed: Long = 1, seconds: Int = 10,
                        trace: Boolean = false, dir: Path = Path.of("."), selftest: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: rest => parse(rest, o.copy(workload = v))
    case "--seed" :: v :: rest     => parse(rest, o.copy(seed = v.toLong))
    case "--seconds" :: v :: rest  => parse(rest, o.copy(seconds = v.toInt))
    case "--trace" :: v :: rest    => parse(rest, o.copy(trace = v == "1"))
    case "--dir" :: v :: rest      => parse(rest, o.copy(dir = Path.of(v).toAbsolutePath))
    case "--selftest" :: rest      => parse(rest, o.copy(selftest = true))
    case Nil                       => o
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  def session(dir: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      // the graft.Bench session settings
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.ui.enabled", "false")
      // threads a span starts (stream executions, HTTP handlers) keep a
      // copy of the span property instead of a live view of the parent's
      .config("spark.localProperties.clone", "true")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    Files.createDirectories(o.dir)
    val spark = session(o.dir)
    val code =
      try {
        if (o.selftest) SelfTest.run(spark, o.dir)
        else {
          require(Workload.names.contains(o.workload),
            s"--workload must be one of ${Workload.names.mkString(", ")}")
          if (o.trace) traced(spark, o) else untraced(spark, o)
        }
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    try spark.stop() catch { case _: Throwable => () }
    sys.exit(code)
  }

  private val started = System.nanoTime()
  /** Progress on stderr, so a slow phase can be found from a run's log. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - started) / 1e9}%.1fs] $msg")

  def fullGc(): Unit = System.gc()

  /** Heap in use after full GCs. The pause lets Spark's context cleaner
    * drop the broadcasts and shuffles the first collection released. */
  def heapMb(): Double = {
    (1 to 2).foreach { _ => fullGc(); Thread.sleep(300) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).iterator.asScala.foreach(Files.delete(_))
    finally walk.close()
  }

  /** End-to-end run: a cold set-up, the median of [[Setups]] more, warm-up,
    * timed phase. */
  def untraced(spark: SparkSession, o: Opts): Int = {
    val load = Host.loadAvg()
    var w: Workload = null
    var prevDir: Path = null
    val setupMs = (0 to Setups).map { i =>
      if (w != null) { w.close(); deleteTree(prevDir) }
      prevDir = o.dir.resolve(s"setup$i")
      val ctx = new Ctx(spark, new Tracer(spark, Mode.Off), prevDir, o.seed, o.seconds)
      fullGc()
      val (wk, dt) = Workload.time { val x = Workload(o.workload, ctx); x.setup(); x }
      w = wk
      log(f"setup $i: $dt%.0f ms")
      dt
    }.tail
    w.warmup()
    log("warm-up done")
    fullGc()
    val h0 = Host.sample(); val gc0 = Host.gcMs(); val t0 = System.nanoTime()
    val m = w.run()
    val wallMs = Workload.ms(t0); val h1 = Host.sample(); val gc1 = Host.gcMs()
    val heap = heapMb()
    log(f"timed phase: $wallMs%.0f ms")
    val failures = w.check()
    log("check done")
    w.close()
    val (steal, other) = Host.noise(h0, h1)
    val metrics = m.metrics ++ Map(
      "setup_s" -> Metric(Workload.quantile(setupMs, 0.5) / 1000.0, "s", Setups),
      "live_heap_mb" -> Metric(heap, "MB", 1))
    val noise = Map("load_avg_1m" -> load, "host.steal_ms" -> steal,
      "host.other_cpu_frac" -> other, "spark.gc_ms" -> (gc1 - gc0).toDouble,
      "timed_wall_ms" -> wallMs)
    report(o, metrics, noise, m.attempted, m.failed, failures, EndToEnd)
  }

  /** The end-to-end metrics every workload reports on the result line. */
  val EndToEnd: Seq[String] = Seq("setup_s", "latency_ms", "docs_per_s", "write_amp",
    "space_amp", "live_heap_mb")

  final case class Pass(w: Workload, tr: Tracer, jobs: JobListener, streams: StreamListener,
                        m: Measured, t0: Long, t1: Long,
                        host: (Double, Double), gcMs: Long, hashes: Map[String, String])

  private def pass(spark: SparkSession, o: Opts, mode: Mode, tag: String): Pass = {
    val tr = new Tracer(spark, mode)
    val jobs = new JobListener(tr)
    val streams = new StreamListener(tr)
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(streams)
    val w = Workload(o.workload, new Ctx(spark, tr, o.dir.resolve(tag), o.seed, o.seconds))
    w.setup()
    w.warmup()
    fullGc()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val h0 = Host.sample(); val gc0 = Host.gcMs()
    tr.recording = true
    val t0 = System.currentTimeMillis()
    val m = w.run()
    val t1 = System.currentTimeMillis()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    tr.recording = false
    val h1 = Host.sample(); val gc1 = Host.gcMs()
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(streams)
    Pass(w, tr, jobs, streams, m, t0, t1, Host.noise(h0, h1), gc1 - gc0, w.hashes())
  }

  /** Traced run: a coarse pass, then a fully traced pass on the same seed. */
  def traced(spark: SparkSession, o: Opts): Int = {
    val load = Host.loadAvg()
    val a = pass(spark, o, Mode.Coarse, "coarse")
    a.w.close()
    val b = pass(spark, o, Mode.Full, "full")
    val failures = b.w.check()
    b.w.close()
    val jobsA = a.jobs.jobsByTop; val jobsB = b.jobs.jobsByTop
    val transparency =
      (if (jobsA != jobsB) Seq(s"traced jobs per call differ: untraced $jobsA, traced $jobsB") else Nil) ++
      (if (a.hashes != b.hashes) Seq(s"traced outputs differ: untraced ${a.hashes}, traced ${b.hashes}") else Nil)
    val layers = Layers(b, a.m.busyMs)
    val noise = Map("load_avg_1m" -> load, "untraced_busy_ms" -> a.m.busyMs,
      "traced_busy_ms" -> b.m.busyMs) ++
      jobsB.map { case (k, v) => s"jobs[$k]" -> v.toDouble }
    report(o, layers.map { case (k, (v, u)) => k -> Metric(v, u, 1) }, noise,
      b.m.attempted, b.m.failed, failures ++ transparency, Layers.names)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  /** Prints a readable table, a detail JSON line, then the result line. */
  def report(o: Opts, metrics: Map[String, Metric], noise: Map[String, Double],
             attempted: Long, failed: Long, failures: Seq[String], keys: Seq[String]): Int = {
    println(s"perfbench workload=${o.workload} seed=${o.seed} seconds=${o.seconds} " +
      s"trace=${if (o.trace) 1 else 0}")
    metrics.toSeq.sortBy(_._1).foreach { case (k, m) =>
      println(f"  $k%-34s ${m.value}%14.4f ${m.unit}%-6s n=${m.samples}")
    }
    noise.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"  $k%-34s $v%14.4f") }
    failures.foreach(f => println(s"  CHECK FAILED: $f"))
    val detail = (metrics.toSeq.sortBy(_._1).map { case (k, m) =>
      s""""$k": {"value": ${num(m.value)}, "unit": "${m.unit}", "samples": ${m.samples}}"""
    } ++ noise.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${num(v)}""" })
      .mkString("{", ", ", "}")
    println(s"detail $detail")
    val correct = failures.isEmpty
    val shown = keys.map { k =>
      val m = metrics.getOrElse(k, throw new IllegalStateException(s"metric $k was not measured"))
      s""""$k": {"value": ${num(m.value)}, "unit": "${m.unit}"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $shown}""")
    System.out.flush()
    if (correct && failed == 0) 0 else 1
  }
}

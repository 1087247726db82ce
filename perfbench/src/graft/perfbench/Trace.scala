package graft.perfbench

import graft.api.{QueryOperator, ReadResource, SearchResource}
import graft.builder.Bm25IndexBuilder
import graft.query.QueryParams
import graft.store.Store
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.{DataFrame, Encoder, Row, SparkSession}

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import scala.jdk.CollectionConverters._

/** How much a pass instruments. `Off` adds nothing. `Coarse` only tags each
  * top-level call (a builder run, a request, the streams) with a Spark
  * local property so Spark jobs can be counted per call. `Full` also
  * records nested spans, store wrappers, per-task Spark metrics and
  * streaming progress. */
sealed trait Mode
object Mode {
  case object Off extends Mode
  case object Coarse extends Mode
  case object Full extends Mode
}

/** Spans live in memory, keyed by their path (`builder.map/store.write`):
  * the Spark local property [[Tracer.Key]] carries the path, so every job
  * a span submits — on its own thread or on a thread it starts — is
  * attributed to it by [[JobListener]]. Nothing is recorded while
  * [[recording]] is false (set-up, warm-up and checks). */
final class Tracer(spark: SparkSession, val mode: Mode) {
  import Tracer._
  private val sc = spark.sparkContext
  @volatile var recording = false

  private val spanNs = new ConcurrentHashMap[String, LongAdder]()
  private val spanCalls = new ConcurrentHashMap[String, LongAdder]()
  private val counters = new ConcurrentHashMap[String, LongAdder]()

  private def adder(m: ConcurrentHashMap[String, LongAdder], k: String): LongAdder =
    m.computeIfAbsent(k, _ => new LongAdder)

  def span[T](name: String)(body: => T): T = mode match {
    case Mode.Off => body
    case Mode.Coarse =>
      if (sc.getLocalProperty(Key) != null) body
      else {
        sc.setLocalProperty(Key, name)
        try body finally sc.setLocalProperty(Key, null)
      }
    case Mode.Full =>
      val parent = sc.getLocalProperty(Key)
      val path = pathOf(name)
      sc.setLocalProperty(Key, path)
      val t0 = System.nanoTime()
      try body
      finally {
        if (recording) {
          adder(spanNs, path).add(System.nanoTime() - t0)
          adder(spanCalls, path).increment()
        }
        sc.setLocalProperty(Key, parent)
      }
  }

  /** The path a span `name` opened now on this thread would have. */
  def pathOf(name: String): String = {
    val parent = sc.getLocalProperty(Key)
    if (parent == null) name else s"$parent/$name"
  }

  /** Adds `v` to counter `name` of the span at `path`. */
  def add(path: String, name: String, v: Long): Unit =
    if (mode == Mode.Full && recording) adder(counters, s"$path#$name").add(v)

  /** Takes `ns` the benchmark spent on its own bookkeeping beside span
    * `path` out of the times of the spans enclosing it. */
  def exclude(path: String, ns: Long): Unit =
    if (mode == Mode.Full && recording) {
      val parts = path.split('/')
      (1 until parts.length).foreach(i => adder(spanNs, parts.take(i).mkString("/")).add(-ns))
    }

  private def sumOf(m: ConcurrentHashMap[String, LongAdder], p: String => Boolean): Long =
    m.asScala.iterator.collect { case (k, v) if p(k) => v.sum() }.sum

  def ms(p: String => Boolean): Double = sumOf(spanNs, p) / 1e6
  def calls(p: String => Boolean): Long = sumOf(spanCalls, p)
  def counter(name: String, p: String => Boolean): Long =
    counters.asScala.iterator.collect {
      case (k, v) if k.endsWith("#" + name) && p(k.dropRight(name.length + 1)) => v.sum()
    }.sum
}

object Tracer {
  val Key = "perfbench.span"
  /** The path is the span `name` itself, or a span nested inside it. */
  def top(name: String): String => Boolean = p => p == name || p.startsWith(name + "/")
  /** The last segment of the path is `leaf`, optionally under `prefix`. */
  def leaf(leaf: String, prefix: String = ""): String => Boolean = p =>
    (p == leaf || p.endsWith("/" + leaf)) && (prefix.isEmpty || p.startsWith(prefix + "/"))
}

/** Attributes Spark jobs to the span named in their [[Tracer.Key]]
  * property. Coarse passes only count jobs; full passes also collect
  * stages, tasks, task time, shuffle bytes and the jobs' wall intervals. */
final class JobListener(tr: Tracer) extends SparkListener {
  private val stageToPath = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val tables = Seq("jobs", "stages", "tasks", "task_ms", "shuffle_bytes")
    .map(_ -> new ConcurrentHashMap[String, LongAdder]()).toMap

  private def add(t: String, path: String, v: Long): Unit =
    tables(t).computeIfAbsent(path, _ => new LongAdder).add(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tr.recording) {
    val path = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key))).getOrElse("-")
    add("jobs", path, 1)
    e.stageIds.foreach(s => stageToPath.put(s, path))
    jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = jobStart.remove(e.jobId)
    if (t0 != null) intervals.add((t0.longValue, e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val p = stageToPath.get(e.stageInfo.stageId)
    if (p != null) add("stages", p, 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val p = stageToPath.get(e.stageId)
    if (p != null && e.taskMetrics != null) {
      add("tasks", p, 1)
      add("task_ms", p, e.taskMetrics.executorRunTime)
      add("shuffle_bytes", p, e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
  }

  def total(t: String, p: String => Boolean): Long =
    tables(t).asScala.iterator.collect { case (k, v) if p(k) => v.sum() }.sum
  /** Jobs per top-level span: the figure both pass kinds can compare. */
  def jobsByTop: Map[String, Long] =
    tables("jobs").asScala.toSeq.map { case (k, v) => k.takeWhile(_ != '/') -> v.sum() }
      .groupMapReduce(_._1)(_._2)(_ + _)
  /** Wall time inside [t0, t1] (ms) covered by at least one job. */
  def coveredMs(t0: Long, t1: Long): Long = {
    val iv = intervals.asScala.toSeq.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }
}

/** Per-trigger durations of the streaming queries, from progress events. */
final class StreamListener(tr: Tracer) extends StreamingQueryListener {
  private val sums = new ConcurrentHashMap[String, LongAdder]()
  private def add(k: String, v: Long): Unit = sums.computeIfAbsent(k, _ => new LongAdder).add(v)
  def get(k: String): Long = Option(sums.get(k)).map(_.sum()).getOrElse(0L)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (tr.recording && p.numInputRows > 0) {
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      add("trigger_ms", d("triggerExecution"))
      add("add_batch_ms", d("addBatch"))
      add("planning_ms", d("queryPlanning"))
      add("commit_ms", d("walCommit") + d("commitOffsets"))
      add("rows", p.numInputRows)
    }
  }
}

/** Delegating [[Store]] that times every call into the store layer. Eager
  * writes are timed whole and report the versions, bytes and compactions
  * they left under the store's root; lazy calls (`df`, `query`, `newerIn`,
  * …) are timed for plan construction only. Every member forwards to the
  * wrapped store, including the `private[graft]` token and marker calls. */
final class TracedStore(val inner: Store, tr: Tracer, root: Path) extends Store {
  def spark: SparkSession = inner.spark
  def key: String = inner.key
  override def lastUpdatedField: String = inner.lastUpdatedField
  def name: String = inner.name

  def df: DataFrame = tr.span("store.df")(inner.df)

  override private[graft] def contentToken: String = inner.contentToken
  override private[graft] def putMeta(k: String, v: String): Unit = inner.putMeta(k, v)
  override private[graft] def getMeta(k: String): Option[String] = inner.getMeta(k)

  override def query(params: QueryParams): DataFrame = tr.span("query.compile")(inner.query(params))
  override def query(criteria: String): DataFrame = tr.span("query.compile")(inner.query(criteria))
  override def queryOne(params: QueryParams): Option[Row] = tr.span("store.read")(inner.queryOne(params))
  override def count(criteria: Option[String]): Long = tr.span("store.count")(inner.count(criteria))
  override def distinct(field: String, criteria: Option[String]): DataFrame =
    tr.span("store.plan")(inner.distinct(field, criteria))
  override def distinctApprox(field: String, criteria: Option[String], rsd: Double): Long =
    tr.span("store.read")(inner.distinctApprox(field, criteria, rsd))
  override def queryAs[T: Encoder](params: QueryParams): org.apache.spark.sql.Dataset[T] =
    tr.span("query.compile")(inner.queryAs[T](params))
  override def groupby(keys: Seq[String], criteria: Option[String], properties: Seq[String],
                       sort: Seq[(String, Int)], skip: Int, limit: Option[Int]): DataFrame =
    tr.span("store.plan")(inner.groupby(keys, criteria, properties, sort, skip, limit))
  override def queryExpr(sqlExpr: String): DataFrame = tr.span("store.plan")(inner.queryExpr(sqlExpr))
  override def aggregateSql(sql: String, viewName: String): DataFrame =
    tr.span("store.plan")(inner.aggregateSql(sql, viewName))
  override def lastUpdated: Option[java.sql.Timestamp] = tr.span("store.read")(inner.lastUpdated)
  override def newerIn(target: Store, criteria: Option[String], exhaustive: Boolean): DataFrame =
    tr.span("store.plan")(inner.newerIn(target, criteria, exhaustive))

  override def update(docs: DataFrame, keyFields: Seq[String]): Unit =
    write("store.write")(inner.update(docs, keyFields))
  override def removeDocs(criteria: String): Unit = write("store.write")(inner.removeDocs(criteria))
  override def removeKeys(keys: DataFrame): Unit = write("store.write")(inner.removeKeys(keys))
  override def updateRemoveKeys(docs: DataFrame, removals: DataFrame, keyFields: Seq[String]): Unit =
    write("store.write")(inner.updateRemoveKeys(docs, removals, keyFields))
  override def ensureIndex(field: String, unique: Boolean): Boolean =
    write("store.index")(inner.ensureIndex(field, unique))

  /** Times `body` as span `span`. The directory walks and token reads that
    * count what it wrote run outside that span, and their time is taken
    * out of the enclosing spans. */
  private def write[T](span: String)(body: => T): T =
    if (!tr.recording) tr.span(span)(body)
    else {
      val path = tr.pathOf(span)
      val t0 = System.nanoTime()
      val before = Disk.files(root)
      val tok0 = inner.contentToken
      val t1 = System.nanoTime()
      val r = tr.span(span)(body)
      val t2 = System.nanoTime()
      val after = Disk.files(root)
      val fresh = after.keySet -- before.keySet
      tr.add(path, "bytes_written", fresh.iterator.map(after).sum)
      // a version or delta is a new `v_*` directory; sidecars are not
      val top = (p: String) => p.takeWhile(_ != '/')
      tr.add(path, "versions_written",
        (fresh.map(top) -- before.keySet.map(top)).count(_.startsWith("v_")).toLong)
      val tok1 = inner.contentToken
      if (tok0.contains(';') && !tok1.contains(';') && tok0 != tok1) tr.add(path, "compactions", 1)
      tr.exclude(path, (t1 - t0) + (System.nanoTime() - t2))
      r
    }
}

/** Wraps a query operator so its parameter compile is a `query.compile`
  * span. Facet operators are never wrapped: the read resource folds them
  * by type. */
final class TracedOp(inner: QueryOperator, tr: Tracer) extends QueryOperator {
  def query(params: Map[String, String]): QueryParams = tr.span("query.compile")(inner.query(params))
  override def postProcess(results: DataFrame, params: Map[String, String]): DataFrame =
    inner.postProcess(results, params)
  override def meta(filtered: DataFrame, params: Map[String, String]): Map[String, String] =
    inner.meta(filtered, params)
}

final class TracedReadResource(store: Store, ops: Seq[QueryOperator], tr: Tracer)
  extends ReadResource(store, ops) {
  override def search(params: Map[String, String]): String = tr.span("api.search")(super.search(params))
  override def byKey(key: String): Option[String] = tr.span("api.bykey")(super.byKey(key))
}

final class TracedSearchResource(lexical: Bm25IndexBuilder, tr: Tracer)
  extends SearchResource(lexical) {
  override def search(body: Array[Byte]): String = tr.span("api.bm25")(super.search(body))
}

/** File sizes under a store root, keyed by path relative to the root. */
object Disk {
  def files(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally walk.close()
    }
  def bytes(roots: Seq[Path]): Long = roots.iterator.map(r => files(r).values.sum).sum
}

/** Host noise from `/proc`: whole-host CPU jiffies, this process's CPU
  * jiffies, and the load average. */
final case class HostSample(total: Long, busy: Long, steal: Long, self: Long)

object Host {
  def sample(): HostSample = {
    val cpu = Files.readAllLines(Path.of("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal (guest time is inside user)
    val Seq(user, nice, system, idle, iowait, irq, softirq, steal) = cpu.take(8).toSeq
    val self = Files.readString(Path.of("/proc/self/stat")).split("\\) ", 2)(1).split(' ')
    // fields 14 and 15 of /proc/self/stat (utime, stime); index 11/12 after the comm field
    HostSample(user + nice + system + idle + iowait + irq + softirq + steal,
      user + nice + system + irq + softirq, steal, self(11).toLong + self(12).toLong)
  }
  def loadAvg(): Double = Files.readString(Path.of("/proc/loadavg")).trim.split("\\s+")(0).toDouble
  /** (steal ms, other processes' share of host CPU) between two samples. */
  def noise(a: HostSample, b: HostSample): (Double, Double) = {
    val total = math.max(1L, b.total - a.total)
    val other = (b.busy - a.busy) - (b.self - a.self)
    ((b.steal - a.steal) * 10.0, math.max(0.0, other.toDouble / total))
  }
  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.iterator.map(g => math.max(0L, g.getCollectionTime)).sum
}

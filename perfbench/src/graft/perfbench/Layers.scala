package graft.perfbench

import Tracer.{leaf, top}

/** The per-layer metrics of a fully traced pass. Layers are graft's
  * modules — builder, store, query, api, streaming — plus the Spark engine
  * and the host underneath. Times are summed over the timed phase; counts
  * are totals. Layers a workload does not use read 0. */
object Layers {
  val builders: Seq[String] = Seq("map", "bm25")

  private val builderKeys = Seq("ms" -> "ms", "jobs" -> "count", "tasks" -> "count",
    "shuffle_bytes" -> "bytes", "store_writes" -> "count", "store_write_ms" -> "ms",
    "bytes_written" -> "bytes", "reprocess_ratio" -> "ratio")

  val units: Seq[(String, String)] =
    builders.flatMap(b => builderKeys.map { case (k, u) => s"builder.$b.$k" -> u }) ++ Seq(
      "store.write_calls" -> "count", "store.write_ms" -> "ms", "store.versions_written" -> "count",
      "store.bytes_written" -> "bytes", "store.df_calls" -> "count", "store.df_ms" -> "ms",
      "store.compactions" -> "count", "store.live_bytes" -> "bytes",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_ms" -> "ms", "spark.shuffle_bytes" -> "bytes", "spark.driver_gap_ms" -> "ms",
      "spark.busy_frac" -> "ratio", "spark.gc_ms" -> "ms",
      "api.search.ms" -> "ms", "api.search.jobs" -> "count", "api.bykey.ms" -> "ms",
      "api.bykey.jobs" -> "count", "api.bm25.ms" -> "ms", "api.bm25.jobs" -> "count",
      "api.search.count_ms" -> "ms", "api.http_ms" -> "ms", "api.first_read_ms" -> "ms",
      "query.compile_ms" -> "ms",
      "stream.trigger_ms" -> "ms", "stream.add_batch_ms" -> "ms", "stream.planning_ms" -> "ms",
      "stream.commit_ms" -> "ms", "stream.jobs" -> "count", "stream.store_writes" -> "count",
      "stream.bytes_written" -> "bytes", "stream.rows" -> "count",
      "host.steal_ms" -> "ms", "host.other_cpu_frac" -> "ratio", "trace_overhead" -> "ratio")

  val names: Seq[String] = units.map(_._1)

  def apply(p: Main.Pass, untracedBusyMs: Double): Map[String, (Double, String)] = {
    val tr = p.tr; val j = p.jobs; val l = p.m.layers
    val all: String => Boolean = _ => true
    val builderVals = builders.flatMap { b =>
      val name = s"builder.$b"
      Seq(
        s"$name.ms" -> tr.ms(_ == name),
        s"$name.jobs" -> j.total("jobs", top(name)).toDouble,
        s"$name.tasks" -> j.total("tasks", top(name)).toDouble,
        s"$name.shuffle_bytes" -> j.total("shuffle_bytes", top(name)).toDouble,
        s"$name.store_writes" -> tr.calls(leaf("store.write", name)).toDouble,
        s"$name.store_write_ms" -> tr.ms(leaf("store.write", name)),
        s"$name.bytes_written" -> tr.counter("bytes_written", top(name)).toDouble,
        s"$name.reprocess_ratio" -> l.getOrElse(s"$name.reprocess_ratio", 0.0))
    }
    val apiMs = Seq("search", "bykey", "bm25").map(k => tr.ms(_ == s"api.$k")).sum
    val wall = math.max(1L, p.t1 - p.t0).toDouble
    val cores = Runtime.getRuntime.availableProcessors
    val taskMs = j.total("task_ms", all).toDouble
    val values: Map[String, Double] = (builderVals ++ Seq(
      "store.write_calls" -> tr.calls(leaf("store.write")).toDouble,
      "store.write_ms" -> tr.ms(leaf("store.write")),
      "store.versions_written" -> tr.counter("versions_written", all).toDouble,
      "store.bytes_written" -> tr.counter("bytes_written", all).toDouble,
      "store.df_calls" -> tr.calls(leaf("store.df")).toDouble,
      "store.df_ms" -> tr.ms(leaf("store.df")),
      "store.compactions" -> tr.counter("compactions", all).toDouble,
      "store.live_bytes" -> l.getOrElse("store.live_bytes", 0.0),
      "spark.jobs" -> j.total("jobs", all).toDouble,
      "spark.stages" -> j.total("stages", all).toDouble,
      "spark.tasks" -> j.total("tasks", all).toDouble,
      "spark.task_ms" -> taskMs,
      "spark.shuffle_bytes" -> j.total("shuffle_bytes", all).toDouble,
      "spark.driver_gap_ms" -> (wall - j.coveredMs(p.t0, p.t1)),
      "spark.busy_frac" -> taskMs / (wall * cores),
      "spark.gc_ms" -> p.gcMs.toDouble,
      "api.search.ms" -> tr.ms(_ == "api.search"),
      "api.search.jobs" -> j.total("jobs", top("api.search")).toDouble,
      "api.bykey.ms" -> tr.ms(_ == "api.bykey"),
      "api.bykey.jobs" -> j.total("jobs", top("api.bykey")).toDouble,
      "api.bm25.ms" -> tr.ms(_ == "api.bm25"),
      "api.bm25.jobs" -> j.total("jobs", top("api.bm25")).toDouble,
      "api.search.count_ms" -> tr.ms(leaf("store.count", "api.search")),
      "api.http_ms" -> math.max(0.0, l.getOrElse("api.client_ms", 0.0) - apiMs),
      "api.first_read_ms" -> l.getOrElse("api.first_read_ms", 0.0),
      "query.compile_ms" -> tr.ms(leaf("query.compile")),
      "stream.trigger_ms" -> p.streams.get("trigger_ms").toDouble,
      "stream.add_batch_ms" -> p.streams.get("add_batch_ms").toDouble,
      "stream.planning_ms" -> p.streams.get("planning_ms").toDouble,
      "stream.commit_ms" -> p.streams.get("commit_ms").toDouble,
      "stream.jobs" -> j.total("jobs", top("stream")).toDouble,
      "stream.store_writes" -> tr.calls(leaf("store.write", "stream")).toDouble,
      "stream.bytes_written" -> tr.counter("bytes_written", top("stream")).toDouble,
      "stream.rows" -> p.streams.get("rows").toDouble,
      "host.steal_ms" -> p.host._1,
      "host.other_cpu_frac" -> p.host._2,
      "trace_overhead" -> p.m.busyMs / math.max(1e-9, untracedBusyMs))).toMap
    units.map { case (k, u) => k -> (values(k), u) }.toMap
  }
}

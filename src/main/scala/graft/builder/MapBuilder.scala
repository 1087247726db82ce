package graft.builder

import graft.query.MongoFilter
import graft.store.Store
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import scala.util.Try

/** Incremental 1:1 map with per-row error capture (reference `MapBuilder`,
  * `builders/map_builder.py:16-207`).
  *
  * Semantics reproduced:
  *  - keys to process = target.newer_in(source, exhaustive) ∪ previously
  *    `failed` keys when `retryFailed` (`map_builder.py:100-116`)
  *  - optional `criteria` scopes the build; `projection` pushes column
  *    pruning into the source scan (`map_builder.py:120-133`)
  *  - the user transform runs under per-row `Try` with an optional
  *    timeout: a bad document emits `{key, state: "failed", error}` into
  *    the target instead of failing the job (`map_builder.py:135-170`) —
  *    core observable behavior, and the Spark-native inversion of "tasks
  *    fail whole-partition" (SURVEY §7.5(3))
  *  - engine columns on every output doc: `state`, `error`,
  *    `_process_time` (seconds), `_bt` build timestamp
  *    (`map_builder.py:147-178`)
  *  - `deleteOrphans`: target keys absent from the source are deleted in
  *    finalize (`map_builder.py:185-196`) — expressed as a distributed
  *    anti-join, never a driver-side key list
  *
  * Two transform planes:
  *  - [[MapBuilder.columns]] — declarative `DataFrame => DataFrame`:
  *    whole-stage-codegen friendly, no per-row error capture (use for
  *    expression-only transforms; at 100 TB this is the fast path)
  *  - [[MapBuilder.docs]] — arbitrary JSON-doc function `String => String`
  *    (the `unary_function` analogue): schema-fluid, per-row Try + timeout,
  *    output schema re-inferred from the emitted docs (schema-on-read,
  *    exactly like the reference's dict-in/dict-out)
  */
class MapBuilder(
    val source: Store,
    val target: Store,
    transform: Either[DataFrame => DataFrame, String => String],
    val criteria: Option[String] = None,
    val projection: Seq[String] = Nil,
    val retryFailed: Boolean = false,
    val deleteOrphans: Boolean = false,
    val timeoutMs: Long = 0,
    val storeProcessTime: Boolean = true)
  extends Builder {

  private def spark = source.spark

  /** Delta keys: new/updated in source vs target (+ failed retries). */
  def pendingKeys(): DataFrame = {
    val srcScoped = criteria.map(c => MongoFilter(source.df, c)).getOrElse(source.df)
    val src = new graft.store.TableStore(spark, srcScoped, "scoped", source.key,
      source.lastUpdatedField)
    var keys = target.newerIn(src, exhaustive = true)
    if (retryFailed && target.df.columns.contains("state")) {
      val failed = target.df.filter(col("state") === "failed")
        .select(col(target.key).alias(source.key))
      keys = keys.unionByName(failed).distinct()
    }
    keys
  }

  def pendingItems(): DataFrame = {
    val scoped = criteria.map(c => MongoFilter(source.df, c)).getOrElse(source.df)
    val cols =
      if (projection.isEmpty) scoped
      else { // forced to include key + lu like the reference (map_builder.py:120-123)
        val want = (projection :+ source.key :+ source.lastUpdatedField).distinct
        scoped.select(want.map(col): _*)
      }
    // first-build fast path: an uninitialized (schema-on-write) target
    // has no watermark and no failed rows — EVERYTHING is pending, so
    // the delta semi-join (newerIn's own short-circuit still builds a
    // join of the source against its full key set) is an identity that
    // costs a corpus-wide join per build. Same condition newerIn's
    // empty-self guard tests.
    val tgtUninitialized = !target.df.columns.contains(target.key) ||
      !target.df.columns.contains(target.lastUpdatedField)
    if (tgtUninitialized && !(retryFailed && target.df.columns.contains("state"))) cols
    else cols.join(pendingKeys(), Seq(source.key), "left_semi")
  }

  /** `prechunk(n)` analogue (reference `core/builder.py:55-72`,
    * `map_builder.py:88-98`): split the pending delta into n disjoint
    * criteria for external work distribution. The reference materializes
    * the key list and emits `$in` chunks; here the split is range-based
    * from approximate quantiles of the pending key column — O(n)
    * driver memory instead of O(keys). Numeric keys only (range
    * semantics); each returned JSON is a valid `criteria` for a scoped
    * builder run, and their union covers the delta exactly. */
  def prechunk(n: Int): Seq[String] = {
    require(n > 0, "prechunk needs n > 0")
    val keys = pendingKeys()
    val cuts = keys.stat.approxQuantile(source.key,
      (1 until n).map(_.toDouble / n).toArray, 0.001).distinct.sorted
    Prechunk.rangeCriteria(source.key, cuts.toSeq, criteria)
  }

  protected def build(): BuildReport = {
    val items = pendingItems()
    val out = transform match {
      case Left(colFn) =>
        val t = colFn(items)
        // re-attach target key name when source/target keys differ
        // (reference `map_builder.py:156-165`)
        val keyed =
          if (source.key != target.key && t.columns.contains(source.key) &&
              !t.columns.contains(target.key))
            t.withColumnRenamed(source.key, target.key)
          else t
        keyed
          .withColumn("state", lit("successful"))
          .withColumn("_bt", current_timestamp())
      case Right(docFn) =>
        docTransform(items, docFn)
    }
    // Materialize the output plan exactly once: report counts and the
    // upsert write are separate actions, and without the checkpoint each
    // would re-run the delta join + transform (2-3 executions per build —
    // at 100 TB the report doubles the build). The checkpointed blocks
    // also pin the user doc-fn to one invocation per row, so a
    // nondeterministic/timing-out fn cannot make the report disagree with
    // what is written. (upsertPlan references the batch subtree twice, so
    // Dataset.observe would double-count — checkpoint is the safe shape.)
    val mat = Materialize.eager(out)
    val hasState = mat.columns.contains("state")
    // one combined agg over cached blocks instead of two counting actions
    val counts = mat.agg(
      count(lit(1)).alias("n"),
      (if (hasState) count_if(col("state") === "failed") else lit(0L)).alias("f")
    ).head()
    val processed = counts.getLong(0)
    val failed = counts.getLong(1)
    // live keys = the FULL source, not the criteria scope (reference
    // `map_builder.py`); the orphans ride the batch's one commit
    val orphans =
      if (deleteOrphans)
        Builder.orphanKeys(target, target.key, source.df.select(col(source.key)))
      else None
    Builder.commitOnce(target, Some(mat).filter(_ => processed > 0),
      orphans.map(_._1), Seq(target.key))
    BuildReport(processed, failed, orphans.fold(0L)(_._2))
  }

  /** The schema-fluid doc plane: rows → JSON → user fn under Try/timeout →
    * JSON back through schema inference. Key and lu are re-attached from
    * the input (the reference strips source key/lu and re-attaches target
    * key, `map_builder.py:156-165`). */
  private def docTransform(items: DataFrame, fn: String => String): DataFrame = {
    val s = spark
    import s.implicits._
    val keyName = source.key
    val tgtKey = target.key
    val luName = source.lastUpdatedField
    val tMs = timeoutMs
    val keepPt = storeProcessTime

    val inJson: Dataset[String] =
      items.select(to_json(struct(items.columns.map(col): _*))).as[String]

    val outJson: Dataset[String] = inJson.map { doc =>
      val t0 = System.nanoTime()
      val mapper = MapBuilder.mapper
      // parse of the fn's output belongs INSIDE the Try: malformed JSON
      // from one row must become a failed doc, not a task failure
      val res = Try {
        val outDoc = TimeLimited(fn, doc, tMs)
        mapper.readTree(outDoc) match {
          case o: com.fasterxml.jackson.databind.node.ObjectNode => o
          case other => throw new IllegalArgumentException(
            s"doc function must return a JSON object, got: ${String.valueOf(other).take(80)}")
        }
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val inNode = mapper.readTree(doc)
      res match {
        case scala.util.Success(node) =>
          node.set[com.fasterxml.jackson.databind.JsonNode](tgtKey, inNode.get(keyName))
          if (inNode.has(luName)) node.set[com.fasterxml.jackson.databind.JsonNode](luName, inNode.get(luName))
          node.put("state", "successful")
          if (keepPt) node.put("_process_time", dt)
          mapper.writeValueAsString(node)
        case scala.util.Failure(e) =>
          val node = mapper.createObjectNode()
          node.set[com.fasterxml.jackson.databind.JsonNode](tgtKey, inNode.get(keyName))
          if (inNode.has(luName)) node.set[com.fasterxml.jackson.databind.JsonNode](luName, inNode.get(luName))
          node.put("state", "failed")
          node.put("error", String.valueOf(e.getMessage))
          if (keepPt) node.put("_process_time", dt)
          mapper.writeValueAsString(node)
      }
    }
    // checkpoint the STRINGS before read.json: schema inference is its own
    // pass over the dataset, so an unmaterialized fn would execute once
    // for inference and again downstream — side effects and
    // _process_time would double, and a field emitted only in the second
    // pass would be silently dropped (absent from the inferred schema)
    val jsonMat = Materialize.eager(outJson)
    val inferred = spark.read.json(jsonMat).withColumn("_bt", current_timestamp())
    // the JSON round-trip stringifies lu; restore the source's type so the
    // target's watermark (`lastUpdated`) stays a real timestamp
    if (inferred.columns.contains(luName) && items.columns.contains(luName))
      inferred.withColumn(luName, col(luName).cast(items.schema(luName).dataType))
    else inferred
  }
}

object MapBuilder {
  /** Shared Jackson mapper for doc-plane transforms (public: doc functions
    * authored by engine users typically need JSON access too). */
  lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Declarative (codegen-friendly) transform plane. */
  def columns(source: Store, target: Store, fn: DataFrame => DataFrame,
              criteria: Option[String] = None, projection: Seq[String] = Nil,
              retryFailed: Boolean = false, deleteOrphans: Boolean = false): MapBuilder =
    new MapBuilder(source, target, Left(fn), criteria, projection, retryFailed, deleteOrphans)

  /** Arbitrary doc-function plane (per-row error capture + timeout). */
  def docs(source: Store, target: Store, fn: String => String,
           criteria: Option[String] = None, projection: Seq[String] = Nil,
           retryFailed: Boolean = false, deleteOrphans: Boolean = false,
           timeoutMs: Long = 0): MapBuilder =
    new MapBuilder(source, target, Right(fn), criteria, projection, retryFailed,
      deleteOrphans, timeoutMs)
}

/** Identity MapBuilder — store sync (reference `CopyBuilder`,
  * `builders/map_builder.py:210-219`). */
object CopyBuilder {
  def apply(source: Store, target: Store, criteria: Option[String] = None,
            deleteOrphans: Boolean = false): MapBuilder =
    MapBuilder.columns(source, target, identity, criteria,
      deleteOrphans = deleteOrphans)
}

/** Interruptible per-row time limit (the SIGALRM `Timeout` analogue,
  * reference `utils.py:175-200`): one reusable worker thread per executor
  * thread; `get(timeout)` + interrupt on overrun. Zero overhead when
  * timeoutMs == 0. */
private[builder] object TimeLimited {
  private val pool = new java.util.concurrent.ConcurrentHashMap[Long, java.util.concurrent.ExecutorService]()

  def apply(fn: String => String, doc: String, timeoutMs: Long): String = {
    if (timeoutMs <= 0) return fn(doc)
    val exec = pool.computeIfAbsent(Thread.currentThread().getId,
      _ => java.util.concurrent.Executors.newSingleThreadExecutor { r =>
        val t = new Thread(r, "graft-timelimit"); t.setDaemon(true); t
      })
    val fut = exec.submit(new java.util.concurrent.Callable[String] {
      def call(): String = fn(doc)
    })
    try fut.get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    catch {
      case e: java.util.concurrent.TimeoutException =>
        fut.cancel(true)
        // evict this worker: if the fn ignores interruption it would
        // occupy the single thread and cascade timeouts onto every
        // subsequent row; a fresh executor is created for the next call
        pool.remove(Thread.currentThread().getId)
        exec.shutdownNow()
        throw new RuntimeException(s"process timed out after ${timeoutMs}ms")
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    }
  }
}

package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.query.{LocalFrame, QueryParams}
import graft.store.Store
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct, to_json}

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8

/** Shared 504 machinery for every HTTP resource: run `body` under a
  * per-request job group with a cancellation deadline. Job groups are
  * thread-local, so concurrent requests on different server threads
  * cancel independently. `cancelJobGroupAndFutureJobs` (not plain
  * cancel) closes the between-actions window: a request that is on the
  * driver between two Spark actions when the deadline fires still has
  * its NEXT action killed. The 504 decision keys on the watchdog's
  * fired flag, not wall clock, so a genuine post-deadline failure still
  * surfaces as 500 and a marginally-early cancellation still maps to
  * 504. */
private[api] trait TimedActions {
  protected def actionSpark: org.apache.spark.sql.SparkSession
  def timeoutMs: Long

  protected def timed[T](body: => T): T = {
    if (timeoutMs <= 0) return body
    val sc = actionSpark.sparkContext
    val group = s"graft-http-${Thread.currentThread().getId}-${System.nanoTime()}"
    sc.setJobGroup(group, "graft http request", interruptOnCancel = true)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val cancel = new java.util.TimerTask {
      // NEVER let a throw escape: an uncaught exception (e.g. cancelling
      // on a stopped SparkContext) kills the shared Timer thread, after
      // which every timed request fails at schedule()
      def run(): Unit =
        try { fired.set(true); sc.cancelJobGroupAndFutureJobs(group) }
        catch { case _: Throwable => () }
    }
    ReadResource.watchdog.schedule(cancel, timeoutMs)
    try body
    catch {
      case e: Throwable if fired.get() =>
        throw ApiError(504, s"query exceeded ${timeoutMs}ms")
    } finally {
      cancel.cancel(); sc.clearJobGroup()
    }
  }
}

/** JSON string literals (quote, backslash and ALL control chars < 0x20 escaped). */
private[graft] object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Shared: a configured ObjectMapper is thread-safe for reads. */
  private[api] val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}

/** A request's JSON body: the one place a body turns into a 400. An empty
  * body reads as `{}`; malformed JSON and non-object bodies are refused
  * here, and each accessor refuses a bad value of its field. A missing
  * required field answers with `usage`, the endpoint's body shape. */
private[api] final class JsonBody(bytes: Array[Byte],
                                  usage: String = "request body must be a JSON object") {
  import com.fasterxml.jackson.databind.JsonNode
  import scala.jdk.CollectionConverters._

  private val node: JsonNode =
    if (bytes.isEmpty) Json.mapper.createObjectNode()
    else try Json.mapper.readTree(bytes)
    catch { case _: java.io.IOException => throw ApiError(400, "body is not valid JSON") }
  if (node == null || !node.isObject) throw ApiError(400, usage)

  private def field(f: String): Option[JsonNode] = Option(node.get(f)).filterNot(_.isNull)

  /** Every field as a query parameter: strings as-is, other values as
    * their JSON text (the POST-search and PATCH parameter maps). */
  def params: Map[String, String] = node.fields().asScala.map { e =>
    e.getKey -> (if (e.getValue.isTextual) e.getValue.asText() else e.getValue.toString)
  }.toMap

  /** The required `"text"` string. */
  def text: String =
    field("text").filter(_.isTextual).map(_.asText()).getOrElse(throw ApiError(400, usage))

  def bool(f: String): Boolean = field(f).exists(_.asBoolean(false))

  private def positive(f: String, default: Int): Int = {
    val n = field(f).fold(default)(_.asInt(default))
    if (n <= 0) throw ApiError(400, s"$f must be positive")
    n
  }

  /** `"k"`, capped at `max` (the PaginationQuery `max_limit` discipline:
    * the rows a reply collects stay bounded whatever the client asks). */
  def k(default: Int, max: Int): Int = math.min(max, positive("k", default))

  def nprobe(default: Int): Int = positive("nprobe", default)

  /** The optional `"vector"`: a non-empty number array of the index's
    * dimension `dim` (None = the index does not know it yet). `dim` is
    * read only when a vector is sent — checked here, so a wrong-length
    * vector is a 400, never a ranking computed from the wrong input. */
  def vector(dim: => Option[Int]): Option[Seq[Double]] = field("vector").map { vn =>
    if (!vn.isArray || vn.isEmpty)
      throw ApiError(400, "vector must be a non-empty number array")
    val v = (0 until vn.size()).map { i =>
      val e = vn.get(i)
      if (!e.isNumber) throw ApiError(400, s"vector[$i] is not a number")
      e.asDouble()
    }
    for (d <- dim if v.length != d)
      throw ApiError(400, s"vector has ${v.length} dimensions, the index expects $d")
    v
  }
}

/** A11/A13: the HTTP resource layer (reference
  * `api/resource/read_resource.py:123-280`, `post_resource.py:18-130`)
  * served by the JDK's built-in `com.sun.net.httpserver` — no framework
  * dependency. The compile path is [[QueryOperator.compile]]; this class
  * only adds transport: URL/body params in, `{"data": [...], "meta":
  * {"total_doc": N, ...}}` out (the reference's `Response[model]`
  * envelope, `api/models.py`). Operators contribute result transforms
  * and meta entries through the A1 `postProcess`/`meta` hooks.
  *
  * Driver-side materialization here is bounded BY CONTRACT: every search
  * passes through [[PaginationQuery]] whose `maxLimit` caps the rows a
  * response may carry; `total_doc` is a count aggregate, not a collect —
  * except over a local frame, whose rows the store has already bounded
  * (the ParquetStore driver read's ceilings).
  *
  * `timeoutMs > 0` bounds every Spark action a request runs (reference
  * `read_resource.py:256-267` aborts long queries with 504): the request
  * thread gets its own job group, a watchdog cancels the group at the
  * deadline, and the caller sees `504`. Without it one pathological
  * criteria (e.g. `$regex` over a huge store) wedges the serving thread
  * indefinitely.
  */
class ReadResource(
    val store: Store,
    val ops: Seq[QueryOperator],
    val defaultCriteria: Option[String] = None,
    val timeoutMs: Long = 0,
    val responseHeaders: Map[String, String] = Map.empty,
    val countTtlMs: Long = 0) extends TimedActions {

  private def withDefault(qp: QueryParams): QueryParams = defaultCriteria match {
    case None => qp
    case Some(dc) => qp.copy(criteria = qp.criteria match {
      case None => Some(dc)
      case Some(c) => Some(s"""{"$$and": [$dc, $c]}""")
    })
  }

  protected def actionSpark: org.apache.spark.sql.SparkSession = store.spark

  /** `total_doc` with an OPT-IN short-TTL cache keyed on the (merged)
    * criteria JSON. The default (`countTtlMs = 0`) matches the
    * reference — `total_doc` recomputed per request (`read_resource.py`)
    * — because a default-on cache silently serves stale totals after a
    * builder write. At scale a full count per request is a tail-latency
    * cliff, so deployments may opt in with `countTtlMs > 0`; cached
    * entries are additionally keyed on the store's [[Store.contentToken]]
    * freshness signal, so a committed write (ParquetStore version flip,
    * MemoryStore generation bump) invalidates them immediately even
    * inside the TTL. No-criteria counts still route through
    * `store.count(None)`'s ParquetStore footer-metadata fast path on a
    * miss. The map is bounded crudely (clear past 1024 distinct
    * criteria) — a TTL cache, not an LRU, on purpose: entries are tiny
    * and the serving tier restarts far more often than 1024 distinct hot
    * criteria accumulate. */
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, String, Long)]()
  private def cachedCount(criteria: Option[String], count: => Long): Long = {
    if (countTtlMs <= 0) return count
    val k = criteria.getOrElse("")
    val now = System.nanoTime()
    val token = store.contentToken
    val hit = countCache.get(k)
    if (hit != null && hit._1 > now && hit._2 == token) hit._3
    else {
      val v = count
      if (countCache.size > 1024) countCache.clear()
      countCache.put(k, (now + countTtlMs * 1000000L, token, v))
      v
    }
  }

  /** GET/POST search: params → operator compile → `{data, meta}`. When
    * the store serves the criteria-matched rows as a local frame (a
    * ParquetStore driver read), `total_doc` is its row count and the page
    * its fold; page and facets collect through the driver evaluator
    * ([[LocalFrame.collect]]), so such a request starts no Spark job. */
  def search(params: Map[String, String]): String = timed {
    val qp0 = withDefault(QueryOperator.compile(params, ops))
    // the bounded-collect contract must hold even for a resource built
    // WITHOUT a PaginationQuery: an uncapped search would collect the
    // whole store onto the serving driver
    val capInjected = qp0.limit.isEmpty
    val qp = if (capInjected) qp0.copy(limit = Some(ReadResource.injectedCap)) else qp0
    // meta hooks see the criteria-filtered (pre-pagination) frame;
    // qp.criteria already carries the merged default — no re-wrap
    val filtered = store.query(QueryParams(criteria = qp.criteria))
    val local = LocalFrame.isLocal(filtered)
    val total = cachedCount(qp.criteria,
      if (local) LocalFrame.collect(filtered).length else store.count(qp.criteria))
    // limit ≤ maxLimit by PaginationQuery contract → bounded collect
    val page = if (local) qp.copy(criteria = None)(filtered) else store.query(qp)
    val rows = ReadResource.jsonRows(ops.foldLeft(page)((d, op) => op.postProcess(d, params)))
    val facetMeta = FacetQuery.combinedMeta(filtered, ops.collect { case f: FacetQuery => f })
    // a silently-injected cap is not silent to the client: the applied
    // limit and a truncation flag land in the meta, so "data shorter
    // than total" is detectable without length arithmetic
    val capMeta =
      if (capInjected)
        Seq(s""""limit": ${ReadResource.injectedCap}""",
          s""""truncated": ${total > rows.length}""")
      else Nil
    val metaEntries = (s""""total_doc": $total""" +:
      (ops.filterNot(_.isInstanceOf[FacetQuery])
        .flatMap(_.meta(filtered, params).toSeq) ++ facetMeta).map {
        case (k, v) => s"${Json.str(k)}: $v"
      }) ++ capMeta
    s"""{"data": ${rows.mkString("[", ",", "]")}, "meta": ${metaEntries.mkString("{", ", ", "}")}}"""
  }

  /** GET `/{key}`: single doc by primary key (reference `get_by_key`).
    * The key literal is typed from the store schema. Rendered with
    * `to_json(struct(*))`, which a local frame (the ParquetStore point
    * read) evaluates without a Spark job. */
  def byKey(key: String): Option[String] = timed {
    val numeric = store.df.schema.fields.find(_.name == store.key)
      .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    val lit = if (numeric) {
      if (!key.matches("-?\\d+(\\.\\d+)?"))
        throw ApiError(400, s"key '${key.take(64)}' is not numeric")
      key
    } else Json.str(key)
    val qp = withDefault(QueryParams(
      criteria = Some(s"""{${Json.str(store.key)}: $lit}"""), limit = Some(1)))
    ReadResource.jsonRows(store.query(qp)).headOption
  }
}

object ReadResource {
  /** One shared daemon scheduler for every request deadline — per-request
    * Timer construction would churn an OS thread per call. */
  private[api] val watchdog = new java.util.Timer("graft-http-watchdog", true)

  /** Safety cap injected when a resource is built without a
    * PaginationQuery — the one definition both the query limit and the
    * response-meta marker read (reference `max_limit` default). */
  val injectedCap: Int = 1000

  /** Each row as one JSON object — the bytes `toJSON` renders —
    * collected through the driver evaluator ([[LocalFrame.collect]]). */
  private[api] def jsonRows(d: DataFrame): Array[String] =
    LocalFrame.collect(d.select(to_json(struct(col("*"))))).map(_.getString(0))
}

/** A14 serving plane (reference `api/resource/submission.py:21-390`):
  * `POST /{name}` submits documents with duplicate rejection (all-dup
  * batch → 409), `PATCH /{name}/{submission_id}` appends to the state
  * history, and the inherited GET routes serve the live view with
  * `current_state` resolved from the history's last entry. */
class SubmissionResource(
    val sub: SubmissionStore,
    ops: Seq[QueryOperator],
    timeoutMs: Long = 0,
    responseHeaders: Map[String, String] = Map.empty)
  extends ReadResource(
    // by-name frame: every read sees the live submissions
    new graft.store.TableStore(sub.inner.spark, sub.withCurrentState,
      s"${sub.inner.name}-submissions", "submission_id"),
    // countTtlMs = 0: a live intake view must reflect every submission
    // in total_doc immediately — no cached counts
    ops, None, timeoutMs, responseHeaders, countTtlMs = 0) {

  /** POST intake: body = one JSON object or an array of objects. */
  def submit(body: String): (Int, String) = timed {
    val spark = sub.inner.spark
    import spark.implicits._
    val trimmed = body.trim
    if (trimmed.isEmpty) throw ApiError(400, "empty submission body")
    val df = spark.read.json(Seq(trimmed).toDS())
    if (df.columns.contains("_corrupt_record"))
      throw ApiError(400, "submission body is not valid JSON")
    val (accepted, rejected) = sub.submit(df)
    if (accepted == 0 && rejected > 0)
      (409, s"""{"error": "duplicate submission", "accepted": 0, "rejected": $rejected}""")
    else (201, s"""{"accepted": $accepted, "rejected": $rejected}""")
  }

  /** PATCH `/{id}`: append `state` to the submission's history. */
  def patchState(id: String, state: String): (Int, String) = timed {
    if (state.isEmpty) throw ApiError(400, "missing 'state'")
    val n = sub.advance(s"""{"submission_id": ${Json.str(id)}}""", state)
    if (n == 0) (404, """{"error": "submission not found"}""")
    else (200, s"""{"matched": $n, "state": ${Json.str(state)}}""")
  }
}

/** A15 `S3URLResource` analogue (reference `api/resource/s3_url.py`):
  * the reference answers `GET /{key}` with a presigned S3 URL; with no
  * external object store (zero-egress build) the equivalent contract —
  * "hand the caller the blob behind this key" — is served directly:
  * `GET /{name}/{key}` → decompressed payload bytes
  * (`application/octet-stream`, `ETag` = content md5),
  * `GET /{name}/{key}/meta` → the metadata document as JSON. */
class BlobResource(val store: graft.store.BlobStore) {
  /** The `cols` of the blob under `key`, selected through `store.query`
    * (the ParquetStore driver read: no Spark job, and only `cols` decoded). */
  private def byKey(key: String, cols: String*): DataFrame = store.query(QueryParams(
    criteria = Some(s"""{${Json.str(store.key)}: ${Json.str(key)}}"""), properties = cols,
    limit = Some(1)))

  /** (payload bytes, md5) — single-key lookup, payload inflated. */
  def fetch(key: String): Option[(Array[Byte], String)] =
    store.inflated(byKey(key, "payload", "metadata"))
      .select(col("payload"), col("metadata.content_md5"))
      .collect().headOption
      .map(r => (r.getAs[Array[Byte]](0), r.getString(1)))

  /** The metadata document under `key`; the payload column is not read. */
  def meta(key: String): Option[String] =
    ReadResource.jsonRows(byKey(key, store.key, "metadata")
      .select(col(store.key), col("metadata.*"))).headOption
}

/** A POST-body search endpoint: the contract the `/name` ann/search
  * routes in [[GraftHttp.serve]] host (request bytes → response JSON,
  * errors via [[ApiError]]). */
trait BodySearchResource {
  def search(body: Array[Byte]): String
  def responseHeaders: Map[String, String]
}

/** ANN serving over HTTP — the A11 analogue for the extension plane
  * (envelope/timeout semantics per reference
  * `api/resource/read_resource.py:232-267`): `POST /{name}` with body
  * `{"vector": [...], "k": 5, "nprobe": 4}` answers the IVF-PQ top-k
  * from the [[graft.builder.AnnIndexBuilder]]-backed PERSISTED codes
  * index — the query path never touches a float vector column
  * ([[graft.ext.Similarity.ivfPqTopKFromCodes]]). Same `{data, meta}`
  * envelope and 504 watchdog as every read resource; `k` is capped at
  * `maxK`. */
class AnnResource(
    val builder: graft.builder.AnnIndexBuilder,
    val defaultK: Int = 10,
    val maxK: Int = 100,
    val defaultNprobe: Int = 4,
    val timeoutMs: Long = 0,
    val responseHeaders: Map[String, String] = Map.empty)
  extends TimedActions with BodySearchResource {

  protected def actionSpark: org.apache.spark.sql.SparkSession =
    builder.source.spark

  /** POST body → response JSON. */
  def search(body: Array[Byte]): String = timed {
    val usage = """body must be {"vector": [numbers], "k"?, "nprobe"?}"""
    val req = new JsonBody(body, usage)
    val vec = req.vector(builder.vectorDim).getOrElse(throw ApiError(400, usage))
    val k = req.k(defaultK, maxK)
    val nprobe = req.nprobe(defaultNprobe)
    val spark = actionSpark
    import spark.implicits._
    // sentinel query id: topK excludes self-matches by id equality, so
    // the query row must not collide with a corpus id — and it must
    // MATCH the corpus id TYPE (a long sentinel against string ids would
    // null out the comparison and drop every row)
    val idIsString = scala.util.Try(
      builder.index.df.schema("id").dataType ==
        org.apache.spark.sql.types.StringType).getOrElse(false)
    val q =
      if (idIsString) Seq(("\u0000graft-ann-query\u0000", vec))
        .toDF(builder.source.key, builder.vecField)
      else Seq((Long.MinValue, vec)).toDF(builder.source.key, builder.vecField)
    val rows = builder.topK(q, k, nprobe).orderBy("rank")
      .select("rank", "n_id", "sim")
      .collect() // ≤ k rows by contract
    val data = rows.map { r =>
      val id = r.get(1) match {
        case n: java.lang.Number => n.toString
        case other => Json.str(String.valueOf(other))
      }
      s"""{"rank": ${r.getInt(0)}, "id": $id, "sim": ${r.getDouble(2)}}"""
    }.mkString("[", ",", "]")
    s"""{"data": $data, "meta": {"k": $k, "nprobe": $nprobe, "returned": ${rows.length}}}"""
  }
}

/** Hybrid retrieval endpoint: POST `{"text": "...", "vector"?: [...],
  * "k"?, "nprobe"?}` → BM25 top-k over the persisted posting index
  * ([[graft.builder.Bm25IndexBuilder.topK]]), reciprocal-rank-fused
  * with the ANN leg ([[graft.builder.AnnIndexBuilder.topK]]) when a
  * vector rides the request and a vector builder is configured
  * ([[graft.ext.Similarity.rrfFuse]]) — the serving face of the
  * round-12 retrieval plane, same `{data, meta}` envelope and 504
  * watchdog as every resource. */
class SearchResource(
    val lexical: graft.builder.Bm25IndexBuilder,
    val vector: Option[graft.builder.AnnIndexBuilder] = None,
    val defaultK: Int = 10,
    val maxK: Int = 100,
    val defaultNprobe: Int = 4,
    val fuseC: Int = 60,
    val timeoutMs: Long = 0,
    val responseHeaders: Map[String, String] = Map.empty)
  extends TimedActions with BodySearchResource {

  protected def actionSpark: org.apache.spark.sql.SparkSession =
    lexical.source.spark

  def search(body: Array[Byte]): String = timed {
    val req = new JsonBody(body,
      """body must be {"text": "...", "vector"?: [numbers], "k"?, "nprobe"?}""")
    val text = req.text
    val k = req.k(defaultK, maxK)
    val nprobe = req.nprobe(defaultNprobe)
    val vec = req.vector(vector.map(_.vectorDim).getOrElse(
      throw ApiError(400, "no vector index is configured on this endpoint")))
    val spark = actionSpark
    import spark.implicits._
    // sentinel query id (the AnnResource contract): must not collide
    // with a corpus id, so the self-match exclusion never drops a hit
    val lex = lexical.topK(
        Seq((Long.MinValue, text)).toDF("q_id", "q_text"),
        k, idCol = Some("q_id"), textCol = Some("q_text"))
      .select(col("q_id"), col("doc_id").alias("id"), col("rank"))
    val legs = lex +: vec.toSeq.map { v =>
      val vb = vector.get
      vb.topK(Seq((Long.MinValue, v)).toDF(vb.source.key, vb.vecField), k, nprobe)
        .select(col("q_id"), col("n_id").alias("id"), col("rank"))
    }
    // all-local legs (a driver-served BM25 leg alone) fuse on the driver
    val rows = LocalFrame.collect(graft.ext.Similarity.rrfFuse(legs, k, fuseC)
        .orderBy("rank")
        .select(col("rank"), col("id"), col("rrf"))) // ≤ k rows by contract
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val data = rows.map { case (rank, id, rrf) =>
      s"""{"rank": $rank, "id": $id, "rrf": $rrf}"""
    }.mkString("[", ",", "]")
    s"""{"data": $data, "meta": {"k": $k, "legs": ${legs.length}, "returned": ${rows.length}}}"""
  }
}

/** Tokenizer serving endpoint — closes the tokenizer loop: train once
  * ([[graft.ext.Bpe.trainBatched]] → [[graft.ext.Bpe.saveMerges]], or
  * the Runner `bpe_train` spec type), serve forever. POST
  * `{"text": "...", "encode"?: true}` → BPE token count per word and
  * in total under the PERSISTED merge list; `encode: true` additionally
  * returns the symbol sequence.
  *
  * Serving shape: the merge list loads ONCE per resource (bounded by
  * the numMerges contract) into the compiled
  * [[graft.functions.BpeCodec]] table, and each request encodes
  * DRIVER-SIDE — a request is one text, and spinning a Spark job per
  * HTTP call would serialize the serving path on the scheduler. The
  * tokenizer is the same kernel the engine's distributed encode uses
  * ([[graft.functions.TokenizeRuns]] + BpeCodec), so served counts are
  * bit-identical to `text_bpe_tokens`. Same `{data, meta}` envelope as
  * every resource. */
class TokenizeResource(
    val merges: graft.store.Store,
    val maxTextBytes: Int = 1 << 20,
    val timeoutMs: Long = 0,
    val responseHeaders: Map[String, String] = Map.empty)
  extends TimedActions with BodySearchResource {

  protected def actionSpark: org.apache.spark.sql.SparkSession = merges.spark

  /** Loaded once: merge stores are write-once training artifacts; a
    * retrained tokenizer is a NEW store (and a new resource) by
    * contract — the AnnIndexBuilder quantizer-cache discipline. */
  private lazy val table: graft.functions.BpeTable =
    graft.functions.BpeTable.parse(graft.ext.Bpe.mergesSpec(
      graft.ext.Bpe.loadMerges(merges)))

  def search(body: Array[Byte]): String = timed {
    if (body.length > maxTextBytes)
      throw ApiError(400, s"text exceeds $maxTextBytes bytes")
    val req = new JsonBody(body, """body must be {"text": "...", "encode"?: bool}""")
    val encode = req.bool("encode")
    val text = req.text
    // the engine tokenizer (lower → alnum runs), driver-side
    val toks = graft.functions.TokenizeRuns.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(text)
        .toLowerCase)
    val words = (0 until toks.numElements())
      .map(i => toks.getUTF8String(i).toString).filter(_.nonEmpty)
    val encoded = words.map(w => graft.functions.BpeCodec.encode(table, w))
    val nTokens = encoded.iterator.map(_.length).sum
    val tokensField =
      if (!encode) ""
      else encoded.flatten.map(Json.str).mkString(", \"tokens\": [", ",", "]")
    s"""{"data": {"n_tokens": $nTokens, "n_words": ${words.length}$tokensField}, """ +
      s""""meta": {"n_merges": ${table.size}}}"""
  }
}

/** Minimal multi-resource HTTP host. `serve(Map("orders" -> res), 0)`
  * binds an ephemeral port (see `getAddress.getPort`); stop with
  * `.stop(0)`. Resource and blob names must be disjoint (each owns the
  * `/{name}` root). Every endpoint is one [[host]]ed route table; JDK
  * context matching is prefix-based, so the host re-checks that the path
  * is exactly `/{name}` or starts with `/{name}/` — `/ordersfoo` is a
  * 404, not a key lookup on `orders`. */
object GraftHttp {

  private[api] def parseQuery(raw: String): Map[String, String] =
    Option(raw).filter(_.nonEmpty).toSeq
      .flatMap(_.split("&").toSeq).filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        if (i < 0) URLDecoder.decode(kv, UTF_8) -> ""
        else URLDecoder.decode(kv.take(i), UTF_8) ->
          URLDecoder.decode(kv.drop(i + 1), UTF_8)
      }.toMap

  /** Path below `/{name}`, or None if the request doesn't actually belong
    * to this context (JDK prefix matching hands `/ordersfoo` to the
    * `/orders` handler). */
  private def subPath(ex: HttpExchange, name: String): Option[String] = {
    val p = ex.getRequestURI.getPath
    if (p == s"/$name") Some("")
    else if (p.startsWith(s"/$name/"))
      Some(p.drop(name.length + 2).stripSuffix("/"))
    else None
  }

  private final case class Reply(status: Int, body: Array[Byte],
    contentType: String = "application/json", headers: Map[String, String] = Map.empty)
  private def json(status: Int, body: String): Reply = Reply(status, body.getBytes(UTF_8))
  private def json(r: (Int, String)): Reply = json(r._1, r._2)
  private def error(status: Int, msg: String): Reply = json(status, s"""{"error": ${Json.str(msg)}}""")
  private def body(ex: HttpExchange): Array[Byte] = ex.getRequestBody.readAllBytes()

  /** Serve `/{name}` from `route`, a table of (method, subpath) → reply.
    * The behaviour every endpoint shares lives here: 404 outside
    * `/{name}`, 405 for an unrouted method, [[ApiError]] → its status and
    * any other throwable → 500, and `Content-Type` plus the resource's
    * `headers` (the A16 HeaderProcessor analogue) on every reply. */
  private def host(server: HttpServer, name: String, headers: Map[String, String])
                  (route: HttpExchange => PartialFunction[(String, String), Reply]): Unit =
    server.createContext(s"/$name", (ex: HttpExchange) => {
      val reply =
        try subPath(ex, name) match {
          case None => error(404, "not found")
          case Some(sub) => route(ex).applyOrElse((ex.getRequestMethod, sub),
            (r: (String, String)) => error(405, s"method ${r._1} not allowed"))
        } catch {
          case ApiError(status, msg) => error(status, msg)
          case e: Throwable => error(500, String.valueOf(e.getMessage).take(500))
        }
      val h = ex.getResponseHeaders
      h.set("Content-Type", reply.contentType)
      (headers ++ reply.headers).foreach { case (k, v) => h.set(k, v) }
      ex.sendResponseHeaders(reply.status, reply.body.length.toLong)
      ex.getResponseBody.write(reply.body)
      ex.close()
    })

  def serve(resources: Map[String, ReadResource], port: Int = 0,
            blobs: Map[String, BlobResource] = Map.empty,
            anns: Map[String, BodySearchResource] = Map.empty): HttpServer = {
    val shared = (resources.keySet.intersect(blobs.keySet) ++
      resources.keySet.intersect(anns.keySet) ++
      blobs.keySet.intersect(anns.keySet))
    require(shared.isEmpty,
      s"resource, blob and ann names must be disjoint; shared: ${shared.toSeq.sorted.mkString(", ")}")
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    anns.foreach { case (name, res) =>
      host(server, name, res.responseHeaders) { ex => {
        case ("POST", "" | "search") => json(200, res.search(body(ex)))
      }}
    }
    blobs.foreach { case (name, res) =>
      host(server, name, Map.empty) { _ => {
        case ("GET", k) if k.endsWith("/meta") =>
          res.meta(k.stripSuffix("/meta")).fold(error(404, "blob not found"))(json(200, _))
        case ("GET", k) if k.nonEmpty =>
          res.fetch(k).fold(error(404, "blob not found")) { case (bytes, md5) =>
            Reply(200, bytes, "application/octet-stream", Map("ETag" -> md5))
          }
      }}
    }
    resources.foreach { case (name, res) =>
      val intake = Some(res).collect { case sr: SubmissionResource => sr }
      host(server, name, res.responseHeaders) { ex => {
        case ("GET", "") => json(200, res.search(parseQuery(ex.getRequestURI.getRawQuery)))
        case ("POST", "") if intake.isDefined => // A14 intake
          json(intake.get.submit(new String(body(ex), UTF_8)))
        case ("POST", "" | "search") => // A13 post resource
          json(200, res.search(new JsonBody(body(ex)).params))
        case ("PATCH", id) if id.nonEmpty && intake.isDefined =>
          // state from ?state=... or the JSON body
          val params = parseQuery(ex.getRequestURI.getRawQuery) ++ new JsonBody(body(ex)).params
          json(intake.get.patchState(id, params.getOrElse("state", "")))
        case ("GET", key) =>
          res.byKey(key).fold(error(404, "document not found"))(doc => json(200, s"""{"data": [$doc]}"""))
      }}
    }
    // without an executor the JDK server dispatches EVERY request on its
    // single dispatcher thread — concurrent clients would serialize (and
    // one slow query would block all others despite the 504 machinery).
    // A cached daemon pool gives each request its own thread, which is
    // also what the per-thread job-group cancellation design assumes.
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool { r =>
      val t = new Thread(r, "graft-http"); t.setDaemon(true); t
    })
    server.start()
    server
  }
}

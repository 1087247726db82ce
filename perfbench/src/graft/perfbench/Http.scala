package graft.perfbench

import graft.api._
import graft.builder.Bm25IndexBuilder
import graft.store.Store

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** One HTTP request of a workload's read mix. `kind` is `search`, `bykey`
  * or `bm25`; `key` is the document a `bykey` asks for. */
final case class Req(kind: String, path: String, body: Option[String] = None, key: Long = 0L)

/** A served response with its client-side round-trip time. */
final case class Resp(req: Req, status: Int, body: String, rttMs: Double)

/** The serving plane: a read resource over the document store and a BM25
  * search resource, hosted by `GraftHttp.serve` on a loopback port. */
final class Serving(docs: Store, lexical: Bm25IndexBuilder, tr: Tracer) {
  private val ops: Seq[QueryOperator] = {
    val plain = Seq(new PaginationQuery(10, 100), new SortQuery(), new SparseFieldsQuery(),
      new DynamicQuery(docs.df.schema, excluded = Set("description", "elements")))
    // facet operators are folded by type, so they are never wrapped
    (if (tr.mode == Mode.Full) plain.map(new TracedOp(_, tr)) else plain) :+
      new FacetQuery("chemsys", 5)
  }
  private val read =
    if (tr.mode == Mode.Off) new ReadResource(docs, ops) else new TracedReadResource(docs, ops, tr)
  private val search =
    if (tr.mode == Mode.Off) new SearchResource(lexical) else new TracedSearchResource(lexical, tr)
  private val server = GraftHttp.serve(Map("materials" -> read), 0, anns = Map("search" -> search))
  private val base = s"http://127.0.0.1:${server.getAddress.getPort}"
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  def send(r: Req): Resp = {
    val b = HttpRequest.newBuilder(URI.create(base + r.path))
    val req = r.body match {
      case Some(json) => b.POST(HttpRequest.BodyPublishers.ofString(json))
        .header("Content-Type", "application/json").build()
      case None => b.GET().build()
    }
    val t0 = System.nanoTime()
    try {
      val res = client.send(req, HttpResponse.BodyHandlers.ofString())
      Resp(r, res.statusCode, res.body, Workload.ms(t0))
    } catch {
      // a request that never got an answer counts as failed
      case e: java.io.IOException => Resp(r, -1, String.valueOf(e.getMessage), Workload.ms(t0))
    }
  }

  /** Closed loop with one client: each request is sent after the previous
    * one answered. */
  def closedLoop(reqs: IndexedSeq[Req]): IndexedSeq[Resp] = reqs.map(send)

  def close(): Unit = server.stop(0)
}

object Serving {
  def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")

  def byKey(id: Long): Req = Req("bykey", s"/materials/$id", key = id)

  def bm25(text: String, k: Int): Req =
    Req("bm25", "/search", Some(s"""{"text": "$text", "k": $k}"""))

  def search(params: Seq[(String, String)]): Req =
    Req("search", "/materials?" + params.map { case (k, v) => s"$k=${enc(v)}" }.mkString("&"))
}

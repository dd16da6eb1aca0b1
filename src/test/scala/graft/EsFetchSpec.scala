package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.HttpExchange

import graft.sources.{EsFetch, EsResponse, Loopback}

/** Entry point 1 exercised over REAL HTTP (VERDICT.md round-5 item 4):
  * an in-process stub server reproduces the reference endpoint's
  * behavior — POST bool query, 303 whose BODY carries the redirect URL,
  * GET that URL for the page (`make_uuids_tsv.py:41-59`) — and the
  * fetcher's landed pages flow through the same `pagedDatasets`
  * validation gate as pre-fetched snapshots. No network egress: the
  * server binds a loopback ephemeral port.
  */
class EsFetchSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  /** The corpus the stub serves: 5 datasets, one donor concept each. */
  private def hitJson(i: Int): String =
    s"""{"_source": {"uuid": "u$i", "hubmap_id": "HBM$i",
       |  "origin_samples_unique_mapped_organs": ["Heart"],
       |  "donor": {"metadata": {"organ_donor_data": [
       |    {"grouping_concept_preferred_term": "Age",
       |     "data_value": "${40 + i}", "preferred_term": "years"}]}}}}""".stripMargin
  private val NDatasets = 5

  private def pageBody(from: Int, size: Int): String = {
    val hits = (from until math.min(from + size, NDatasets)).map(hitJson)
    s"""{"hits": {"total": {"value": $NDatasets, "relation": "eq"},
       |  "hits": [${hits.mkString(",")}]}}""".stripMargin
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  test("HTTP fetch: POST + 303 body-redirect + pagination land a complete product") {
    val posts = new AtomicInteger(0)
    val redirectGets = new AtomicInteger(0)
    val server = Loopback.httpServer()
    val port = server.getAddress.getPort
    server.createContext("/v3/search", (ex: HttpExchange) => {
      posts.incrementAndGet()
      require(ex.getRequestMethod == "POST", s"expected POST, got ${ex.getRequestMethod}")
      val q = mapper.readTree(new String(
        ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      // the query itself must survive the from/size injection
      require(q.path("query").path("bool").path("must").size() == 1,
        "bool query lost in from/size injection")
      val (from, size) = (q.path("from").asInt(-1), q.path("size").asInt(-1))
      require(from >= 0 && size > 0, s"missing from/size: $from/$size")
      // reference behavior: answer 303 with the redirect URL as the BODY
      respond(ex, 303, s"http://127.0.0.1:$port/landed?from=$from&size=$size")
    })
    server.createContext("/landed", (ex: HttpExchange) => {
      redirectGets.incrementAndGet()
      val params = ex.getRequestURI.getQuery.split("&")
        .map(_.split("=")).map(kv => kv(0) -> kv(1).toInt).toMap
      respond(ex, 200, pageBody(params("from"), params("size")))
    })
    server.start()
    try {
      val landDir = Files.createTempDirectory("graft-es-fetch")
      val query = """{"query": {"bool": {"must": [
                    |  {"match": {"entity_type": "Dataset"}}]}}}""".stripMargin
      val pages = EsFetch.fetchAll(
        s"http://127.0.0.1:$port/v3/search", query, landDir, pageSize = 2)

      // 5 datasets at size 2 → 3 pages, each POSTed then redirect-GETted
      assert(pages.map(p => (p.from, p.nHits)) === Seq((0, 2), (2, 2), (4, 1)))
      assert(pages.forall(_.total == NDatasets))
      assert(posts.get() === 3)
      assert(redirectGets.get() === 3)

      // the landed snapshots pass the engine-side completeness gate and
      // pivot into the product shape
      val product = EsResponse.pagedDatasets(spark, pages.map(_.path))
        .orderBy("uuid").select("uuid", "hubmap_id", "organ", "age").collect()
      // the one-call form lands + validates + pivots identically
      val viaDiscover = EsFetch.discover(spark,
        s"http://127.0.0.1:$port/v3/search", query,
        Files.createTempDirectory("graft-es-discover"), pageSize = 2)
      assert(viaDiscover.count() === NDatasets)
      assert(product.length === NDatasets)
      assert(product.map(_.getString(0)).toSeq === (0 until 5).map(i => s"u$i"))
      assert(product.map(_.getDouble(3)).toSeq === Seq(40.0, 41.0, 42.0, 43.0, 44.0))
    } finally server.stop(0)
  }

  test("HTTP fetch: non-200/303 statuses and short-served totals fail loudly") {
    val server = Loopback.httpServer()
    val port = server.getAddress.getPort
    // an endpoint that 500s
    server.createContext("/err", (ex: HttpExchange) => respond(ex, 500, "boom"))
    // an endpoint that claims 10 hits but serves none: the empty-page
    // guard must fire instead of looping or landing a truncated product
    server.createContext("/short", (ex: HttpExchange) => {
      ex.getRequestBody.readAllBytes()
      respond(ex, 200, """{"hits": {"total": {"value": 10}, "hits": []}}""")
    })
    server.start()
    try {
      val landDir = Files.createTempDirectory("graft-es-fetch-err")
      val query = """{"query": {"bool": {"must": []}}}"""
      val e1 = intercept[IllegalStateException](EsFetch.fetchAll(
        s"http://127.0.0.1:$port/err", query, landDir, pageSize = 2))
      assert(e1.getMessage.contains("500"))
      val e2 = intercept[IllegalStateException](EsFetch.fetchAll(
        s"http://127.0.0.1:$port/short", query, landDir, pageSize = 2))
      assert(e2.getMessage.contains("empty page"))
    } finally server.stop(0)
  }
}

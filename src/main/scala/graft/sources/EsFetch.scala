package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper

/** Driver-side Elasticsearch discovery fetch — the HTTP half of
  * SURVEY.md §2 A.2 `scan_rest_es`, completing the declared ingestion
  * boundary that [[EsResponse]] consumes.
  *
  * Reference behavior (`make_uuids_tsv.py:41-59`): POST the bool query
  * to the search endpoint; on 200 consume the JSON body; on 303 the
  * BODY TEXT is a redirect URL — GET it and consume that response;
  * anything else is an error. The reference pins `from: 0, size: 10000`
  * (`:24-25`), silently capping discovery at 10k datasets; this fetcher
  * instead pages `from`/`size` windows until `hits.total.value` rows
  * have been landed, so no product is ever silently truncated.
  *
  * Deliberately DRIVER-SIDE: discovery responses are dim-sized (one hit
  * per dataset, ≤ thousands). Each page lands verbatim as one JSON file;
  * the engine side ([[EsResponse.pagedDatasets]]) re-validates totals
  * and completeness on the rows it collects, so a bug here fails loudly
  * there.
  */
object EsFetch {

  /** One page landed to disk. */
  final case class LandedPage(from: Int, path: String, nHits: Int, total: Long)

  private val mapper = new ObjectMapper()

  /** POST `queryJson` with `from`/`size` injected; follow a 303 body-URL
    * redirect; return the response body. Fails loudly on any other
    * status (the reference logs-and-returns-empty, which would silently
    * produce an empty product — an engine must not). */
  def fetchPage(client: HttpClient, endpoint: String, queryJson: String,
      from: Int, size: Int): String = {
    val root = mapper.readTree(queryJson).asInstanceOf[
      com.fasterxml.jackson.databind.node.ObjectNode]
    root.put("from", from)
    root.put("size", size)
    val post = HttpRequest.newBuilder(URI.create(endpoint))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(root)))
      .build()
    val resp = client.send(post, HttpResponse.BodyHandlers.ofString())
    resp.statusCode() match {
      case 200 => resp.body()
      case 303 =>
        // the redirect target arrives in the BODY, not a Location header
        val url = resp.body().trim
        val redirected = client.send(
          HttpRequest.newBuilder(URI.create(url)).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        require(redirected.statusCode() == 200,
          s"redirect target $url answered ${redirected.statusCode()}")
        redirected.body()
      case other =>
        throw new IllegalStateException(
          s"search endpoint answered $other: ${resp.body().take(200)}")
    }
  }

  /** One-call discovery: fetch every page of `queryJson` from
    * `endpoint`, land the snapshots under `landDir`, and return the
    * validated, pivoted dataset dimension via
    * [[EsResponse.pagedDatasets]] (totals-consistency + completeness
    * gates included). The landed files remain on disk as the audit
    * trail / re-run input. */
  def discover(spark: org.apache.spark.sql.SparkSession, endpoint: String,
      queryJson: String, landDir: Path, pageSize: Int = 10000)
      : org.apache.spark.sql.DataFrame = {
    val pages = fetchAll(endpoint, queryJson, landDir, pageSize)
    EsResponse.pagedDatasets(spark, pages.map(_.path))
  }

  /** Page through the query until every hit is landed. Returns the page
    * files in fetch order; feed them to [[EsResponse.pagedDatasets]].
    * `maxPages` bounds a runaway loop against a server that keeps
    * reporting more hits than it serves. */
  def fetchAll(endpoint: String, queryJson: String, landDir: Path,
      pageSize: Int, maxPages: Int = 1000): Seq[LandedPage] = {
    require(pageSize > 0, s"pageSize must be positive, got $pageSize")
    val client = HttpClient.newHttpClient()
    Files.createDirectories(landDir)
    val pages = Seq.newBuilder[LandedPage]
    var from = 0
    var total = Long.MaxValue
    var n = 0
    while (from < total) {
      require(n < maxPages,
        s"$maxPages pages fetched but hits.total still reports $total — " +
          "server is serving fewer hits than it claims; aborting")
      val body = fetchPage(client, endpoint, queryJson, from, pageSize)
      val tree = mapper.readTree(body)
      val hits = tree.path("hits")
      total = hits.path("total").path("value").asLong(0L)
      val nHits = hits.path("hits").size()
      val path = landDir.resolve(f"page_$from%08d.json")
      Files.write(path, body.getBytes(StandardCharsets.UTF_8))
      pages += LandedPage(from, path.toString, nHits, total)
      n += 1
      if (nHits == 0 && from < total)
        throw new IllegalStateException(
          s"empty page at from=$from with hits.total=$total — " +
            "a page is missing server-side; product would be truncated")
      from += nHits
    }
    pages.result()
  }
}

package graft.sources

import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.HttpExchange
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entry point 1 as ONE registered end-to-end query (VERDICT r12
  * item 8): the reference's discovery pipeline — POST the ES bool query,
  * follow the 303 body-URL redirect, page past the 10k cap, land the
  * snapshots, validate totals/completeness, extract `hits.hits[]._source`
  * and pivot the donor concept structs to fixed columns
  * (`make_uuids_tsv.py:41-59` fetch, `:67-142` extract + pivot) — the
  * same way entry point 3 has `flagship_product_build`.
  *
  * The endpoint is an in-process loopback stub serving a DETERMINISTIC
  * 6-dataset corpus (no network egress; same protocol shape EsFetchSpec
  * pins, incl. the 303-body-redirect and 3 pages at size 2), so the
  * registered query exercises the real fetch → land → validate → parse →
  * pivot lineage on every gate run. The stub comes from
  * [[Loopback.httpServer]], so its responses do not wait on the
  * client's delayed ACK, and [[EsResponse.pagedDatasets]] parses,
  * projects and collects the landed pages in one Spark job, then runs
  * the totals, de-duplication and completeness checks on the collected
  * rows. The corpus covers the reference's
  * edge cases: laterality-suffixed organs (strip per
  * `bin/concatenate.py:28`), `living_donor_data` vs `organ_donor_data`
  * vs both (`make_uuids_tsv.py:105,124`), an all-null donor block, a
  * non-numeric `data_value` (pandas.to_numeric coercion → null,
  * `bin/concatenate.py:110`), and both arrays present at once.
  *
  * Oracled at the concept level: the DuckDB replay takes the SAME
  * concept rows as literals and re-derives laterality strip + pivot +
  * numeric coercion, so the pivot semantics are cross-engine-checked;
  * the HTTP/JSON plumbing upstream is protocol-pinned in EsFetchSpec.
  */
object Discovery {

  /** (uuid, hubmap_id, organ, source_array, concept, data_value,
    * preferred_term) — one row per donor concept; concept null = the
    * dataset's donor block is entirely absent. */
  private val corpus: Seq[(String, String, String, String, String, String, String)] = Seq(
    ("u0", "HBM0", "Heart", "organ", "Age", "61", "years"),
    ("u0", "HBM0", "Heart", "organ", "Sex", "F", "Female"),
    ("u0", "HBM0", "Heart", "organ", "Height", "172.5", "cm"),
    ("u0", "HBM0", "Heart", "organ", "Weight", "64.2", "kg"),
    ("u0", "HBM0", "Heart", "organ", "Body Mass Index", "21.6", "kg/m^2"),
    ("u0", "HBM0", "Heart", "organ", "Cause of Death", "X", "Anoxia"),
    ("u0", "HBM0", "Heart", "organ", "Race", "Y", "Asian"),
    ("u1", "HBM1", "Kidney (Left)", "organ", "Age", "48", "years"),
    ("u1", "HBM1", "Kidney (Left)", "organ", "Sex", "M", "Male"),
    ("u2", "HBM2", "Lung", "living", "Age", "35", "years"),
    ("u2", "HBM2", "Lung", "living", "Race", "Z", "White"),
    ("u3", "HBM3", "Spleen", null, null, null, null),
    ("u4", "HBM4", "Kidney (Right)", "organ", "Age", "candidate", "years"),
    ("u4", "HBM4", "Kidney (Right)", "living", "Sex", "F", "Female"),
    ("u5", "HBM5", "Heart", "organ", "Weight", "80.0", "kg"))

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** The corpus as the reference's ES response shape, one hit per
    * dataset, datasets in uuid order (paging slices this list). */
  private lazy val hitJsons: Seq[String] = corpus.groupBy(_._1).toSeq
    .sortBy(_._1).map { case (uuid, rows) =>
      val (_, hubmap, organ, _, _, _, _) = rows.head
      def arr(tag: String): String = rows
        .filter(r => r._4 == tag && r._5 != null)
        .map(r => s"""{"grouping_concept_preferred_term": ${jsonStr(r._5)},
           | "data_value": ${jsonStr(r._6)},
           | "preferred_term": ${jsonStr(r._7)}}""".stripMargin)
        .mkString("[", ",", "]")
      val donor =
        if (rows.forall(_._4 == null)) "null"
        else s"""{"metadata": {"organ_donor_data": ${arr("organ")},
             | "living_donor_data": ${arr("living")}}}""".stripMargin
      s"""{"_source": {"uuid": ${jsonStr(uuid)},
         | "hubmap_id": ${jsonStr(hubmap)},
         | "origin_samples_unique_mapped_organs": [${jsonStr(organ)}],
         | "donor": $donor}}""".stripMargin
    }

  /** Datasets in the corpus (the `hits.total.value` every page reports). */
  private[graft] def corpusSize: Int = hitJsons.size

  /** The search response for the `from`/`size` window of the corpus. */
  private[graft] def pageBody(from: Int, size: Int): String = {
    val page = hitJsons.slice(from, from + size)
    s"""{"hits": {"total": {"value": $corpusSize, "relation": "eq"},
       | "hits": [${page.mkString(",")}]}}""".stripMargin
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Spin the loopback stub, run the full fetch→land→validate→pivot
    * pipeline against it, tear it down. Eager: [[EsResponse
    * .pagedDatasets]] returns local rows, so the server's lifetime
    * covers every read. */
  def discoverFromStub(spark: SparkSession): DataFrame = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val server = Loopback.httpServer()
    val port = server.getAddress.getPort
    server.createContext("/v3/search", (ex: HttpExchange) => {
      // reference endpoint behavior: the 303's BODY carries the
      // redirect URL (make_uuids_tsv.py:49-59)
      val q = mapper.readTree(new String(
        ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      val (from, size) = (q.path("from").asInt(-1), q.path("size").asInt(-1))
      respond(ex, 303, s"http://127.0.0.1:$port/landed?from=$from&size=$size")
    })
    server.createContext("/landed", (ex: HttpExchange) => {
      val params = ex.getRequestURI.getQuery.split("&")
        .map(_.split("=")).map(kv => kv(0) -> kv(1).toInt).toMap
      respond(ex, 200, pageBody(params("from"), params("size")))
    })
    server.start()
    val landDir = java.nio.file.Files.createTempDirectory("graft-discovery")
    try {
      val query = """{"query": {"bool": {"must": [
                    |  {"match": {"entity_type": "Dataset"}}]}}}""".stripMargin
      EsFetch.discover(spark, s"http://127.0.0.1:$port/v3/search",
        query, landDir, pageSize = 2)
    } finally {
      server.stop(0)
      // the returned rows are LOCAL (pagedDatasets materializes before
      // this method returns — see the class doc), so the landing dir is
      // dead weight the moment discover() is back; without this delete
      // every bench/gate pass leaked one temp dir per invocation
      // (ADVICE r13)
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p)) {
          val s = java.nio.file.Files.list(p)
          try s.iterator().forEachRemaining(rm) finally s.close()
        }
        java.nio.file.Files.deleteIfExists(p)
      }
      // UncheckedIOException too (ADVICE r14): Files.list stream
      // iteration inside rm throws it, and an escape from this finally
      // block would mask the primary exception from discover()
      try rm(landDir) catch {
        case _: java.io.IOException | _: java.io.UncheckedIOException => ()
      }
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "discovery_donor_pivot" -> ((s, _) =>
      discoverFromStub(s).orderBy("uuid")))

  /** Concept-level replay: the same corpus rows as VALUES, the same
    * laterality strip, first-per-concept pivot, and TRY_CAST numeric
    * coercion (pandas.to_numeric / non-ANSI cast-to-null). */
  val oracles: Map[String, String] = Map(
    "discovery_donor_pivot" -> {
      val values = corpus.map { case (u, h, o, _, c, dv, pt) =>
        def q(s: String) =
          if (s == null) "NULL" else "'" + s.replace("'", "''") + "'"
        s"(${q(u)}, ${q(h)}, ${q(o)}, ${q(c)}, ${q(dv)}, ${q(pt)})"
      }.mkString(",\n        |    ")
      s"""WITH c(uuid, hubmap_id, organ, concept, data_value, preferred_term)
        |  AS (VALUES
        |    $values)
        |SELECT uuid, hubmap_id, organ,
        |  regexp_replace(organ, ' \\((Left|Right)\\)$$', '') AS organ_base,
        |  TRY_CAST(max(CASE WHEN concept = 'Age' THEN data_value END)
        |    AS DOUBLE) AS age,
        |  max(CASE WHEN concept = 'Sex' THEN preferred_term END) AS sex,
        |  TRY_CAST(max(CASE WHEN concept = 'Height' THEN data_value END)
        |    AS DOUBLE) AS height,
        |  TRY_CAST(max(CASE WHEN concept = 'Weight' THEN data_value END)
        |    AS DOUBLE) AS weight,
        |  TRY_CAST(max(CASE WHEN concept = 'Body Mass Index'
        |    THEN data_value END) AS DOUBLE) AS bmi,
        |  max(CASE WHEN concept = 'Cause of Death' THEN preferred_term END)
        |    AS cause_of_death,
        |  max(CASE WHEN concept = 'Race' THEN preferred_term END) AS race
        |FROM c GROUP BY uuid, hubmap_id, organ
        |ORDER BY uuid""".stripMargin
    })
}

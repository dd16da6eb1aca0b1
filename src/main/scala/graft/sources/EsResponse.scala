package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Nested search-response extraction — SURVEY.md §2 A.6
  * (`nested_extract_hits`) + A.4 (`pivot_donor_concepts`).
  *
  * The reference discovers datasets by POSTing an Elasticsearch bool query
  * and unpacking `hits.hits[]._source` with null-safe `.get` chains, then
  * pivots `organ_donor_data[]` / `living_donor_data[]` concept/value
  * structs into fixed donor columns (`make_uuids_tsv.py:67-142`). Engine
  * equivalent: the HTTP fetch stays a driver-side ingestion step that
  * lands the raw JSON; everything after is one map-only projection per
  * hit — struct field access (missing fields become null automatically)
  * and, per donor column, the first matching concept picked from the
  * hit's own arrays ([[donorColumns]]). No explode of the concepts, no
  * shuffle.
  */
object EsResponse {

  /** Schema of the slice of the ES response the reference consumes
    * (explicit — schema-on-read inference is a full extra scan). */
  val schema: StructType = {
    val donorItem =
      "array<struct<grouping_concept_preferred_term: string, " +
        "data_value: string, preferred_term: string>>"
    StructType.fromDDL(
      s"""hits struct<
         |  total: struct<value: bigint, relation: string>,
         |  hits: array<struct<_source: struct<
         |  uuid: string,
         |  hubmap_id: string,
         |  origin_samples_unique_mapped_organs: array<string>,
         |  donor: struct<metadata: struct<
         |    organ_donor_data: $donorItem,
         |    living_donor_data: $donorItem>>
         |>>>>""".stripMargin)
  }

  /** Output column, concept, and the field holding its value: numeric
    * `data_value` vs categorical `preferred_term`
    * (`make_uuids_tsv.py:109-121`). Numeric columns are doubles. */
  private val donorConcepts = Seq(
    ("age", "Age", "data_value"),
    ("sex", "Sex", "preferred_term"),
    ("height", "Height", "data_value"),
    ("weight", "Weight", "data_value"),
    ("bmi", "Body Mass Index", "data_value"),
    ("cause_of_death", "Cause of Death", "preferred_term"),
    ("race", "Race", "preferred_term"))

  /** One `hits.hits[]` element → the dataset's dimension columns
    * (uuid, hubmap_id, organ, organ_base, age, sex, height, weight, bmi,
    * cause_of_death, race).
    *
    * Each donor column is the FIRST entry, in array order, whose concept
    * matches and whose value field is non-null; `organ_donor_data` comes
    * before `living_donor_data` (they are mutually exclusive in
    * practice; both present is handled). The picks use `try_element_at`
    * and `try_cast`, so an absent concept, an empty organ list or a
    * non-numeric value (pandas.to_numeric coercion,
    * `bin/concatenate.py:110`) is null under ANSI mode too, where
    * `element_at`, `getItem` and `cast` would throw. */
  def donorColumns(hit: Column): Seq[Column] = {
    val src = hit.getField("_source")
    val meta = src.getField("donor").getField("metadata")
    val donor = concat(
      coalesce(meta.getField("organ_donor_data"), array()),
      coalesce(meta.getField("living_donor_data"), array()))
    val organ =
      try_element_at(src.getField("origin_samples_unique_mapped_organs"), lit(1))
    def pick(concept: String, field: String): Column =
      try_element_at(filter(donor, d =>
        d.getField("grouping_concept_preferred_term") === concept &&
          d.getField(field).isNotNull), lit(1)).getField(field)
    Seq(src.getField("uuid").as("uuid"),
      src.getField("hubmap_id").as("hubmap_id"),
      organ.as("organ"),
      // str_strip_laterality (bin/concatenate.py:28): "Lung (Left)" →
      // "Lung" so organ joins the 54-code dimension regardless of laterality
      regexp_replace(organ, " \\((Left|Right)\\)$", "").as("organ_base")) ++
      donorConcepts.map { case (name, concept, field) =>
        val v = pick(concept, field)
        (if (field == "data_value") v.try_cast(DoubleType) else v).as(name)
      }
  }

  private def read(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(schema).option("multiLine", "true").json(paths: _*)

  /** Discovery extraction from one raw JSON response document: its hits,
    * de-duplicated by uuid, projected by [[donorColumns]]. */
  def datasetsFromResponse(spark: SparkSession, jsonPath: String): DataFrame =
    read(spark, Seq(jsonPath))
      .select(explode(col("hits.hits")).as("hit"))
      .withColumn("uuid", col("hit._source.uuid"))
      .dropDuplicates("uuid")
      .select(donorColumns(col("hit")): _*)

  /** Multi-page snapshot merge — the discovery path past the reference's
    * single-page bound (`make_uuids_tsv.py:24-25` pins `from: 0,
    * size: 10000`, silently capping a product at 10k datasets). The HTTP
    * paging loop (incl. the 303-redirect follow, `:49-59`) stays a
    * driver-side ingestion step that lands one JSON snapshot per page;
    * this merges the landed pages and VALIDATES completeness:
    *  - every page must report the same `hits.total.value` (pages
    *    fetched across an index change disagree → error, re-fetch);
    *  - distinct uuids across pages must equal that total (a missed or
    *    truncated page → error, never a silently smaller product);
    *  - overlapping pages (re-fetched from/size windows) dedup by uuid,
    *    keeping the first occurrence in scan order.
    *
    * ONE Spark job, map-only: the multiLine JSON scan, `explode_outer`
    * of each page's hits next to the page's total (a page with zero
    * hits still yields one row, so its total still counts), and the
    * [[donorColumns]] projection. `collect()` brings back one row per
    * hit — the same dimension-sized set (≤ one row per dataset, plus
    * overlap duplicates and empty-page rows) the final pivot used to
    * collect — and the three checks run on the driver over those rows.
    * The result is a local DataFrame: nothing stays cached, and the
    * page files may be deleted as soon as this returns. */
  def pagedDatasets(spark: SparkSession, pagePaths: Seq[String]): DataFrame = {
    require(pagePaths.nonEmpty, "no page snapshots")
    val hits = read(spark, pagePaths)
      .select(col("hits.total.value").as("total"),
        explode_outer(col("hits.hits")).as("hit"))
      .select(col("total") +: col("hit").isNotNull.as("is_hit") +:
        donorColumns(col("hit")): _*)
    val rows = hits.collect()
    val totals = rows.filterNot(_.isNullAt(0)).map(_.getLong(0)).distinct.sorted
    require(totals.length == 1,
      s"page snapshots disagree on hits.total (${totals.mkString(", ")}) — " +
        "pages were fetched across an index change; re-fetch the set")
    val datasets = rows.filter(_.getBoolean(1))
      .map(r => Row.fromSeq(r.toSeq.drop(2))).distinctBy(_.get(0))
    val n = datasets.length
    require(n == totals.head,
      s"paged snapshot incomplete: $n distinct datasets vs " +
        s"hits.total ${totals.head} — a page is missing or truncated")
    spark.createDataFrame(datasets.toSeq.asJava, StructType(hits.schema.drop(2)))
  }
}

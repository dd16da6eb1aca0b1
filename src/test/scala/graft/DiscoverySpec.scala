package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Discovery, EsResponse}

/** Miniature search responses shared by the discovery tests. */
object DiscoveryFixtures {

  /** One response (make_uuids_tsv.py:67-142): an organ donor (Age/Sex via
    * different value sources), a living donor, and a hit with no donor
    * metadata at all. */
  val response: String =
    """{"hits": {"hits": [
      |  {"_source": {"uuid": "u1", "hubmap_id": "HBM1",
      |    "origin_samples_unique_mapped_organs": ["Lung (Left)"],
      |    "donor": {"metadata": {"organ_donor_data": [
      |      {"grouping_concept_preferred_term": "Age", "data_value": "61", "preferred_term": "years"},
      |      {"grouping_concept_preferred_term": "Sex", "data_value": "1", "preferred_term": "Female"}]}}}},
      |  {"_source": {"uuid": "u2", "hubmap_id": "HBM2",
      |    "origin_samples_unique_mapped_organs": ["Heart"],
      |    "donor": {"metadata": {"living_donor_data": [
      |      {"grouping_concept_preferred_term": "Body Mass Index", "data_value": "27.5", "preferred_term": "kg/m^2"}]}}}},
      |  {"_source": {"uuid": "u3", "hubmap_id": "HBM3",
      |    "origin_samples_unique_mapped_organs": ["Heart"]}}
      |]}}""".stripMargin

  /** One page reporting `total`, one Age-50 organ donor per uuid. */
  def page(total: Int, uuids: Seq[String]): String = {
    val hits = uuids.map(u =>
      s"""{"_source": {"uuid": "$u", "hubmap_id": "HBM-$u",
         |  "origin_samples_unique_mapped_organs": ["Heart"],
         |  "donor": {"metadata": {"organ_donor_data": [
         |    {"grouping_concept_preferred_term": "Age",
         |     "data_value": "50", "preferred_term": "years"}]}}}}""".stripMargin)
      .mkString(",\n")
    s"""{"hits": {"total": {"value": $total, "relation": "eq"},
       |  "hits": [$hits]}}""".stripMargin
  }

  /** A donor block that repeats concepts: two `Age` entries with
    * different values, and a `Sex` whose first entry has a null term. */
  val repeatedConcepts: String =
    """{"hits": {"total": {"value": 1, "relation": "eq"}, "hits": [
      |  {"_source": {"uuid": "r1", "hubmap_id": "HBM-r1",
      |    "origin_samples_unique_mapped_organs": ["Kidney (Right)"],
      |    "donor": {"metadata": {
      |      "organ_donor_data": [
      |        {"grouping_concept_preferred_term": "Age", "data_value": "61", "preferred_term": "years"},
      |        {"grouping_concept_preferred_term": "Sex", "data_value": "F", "preferred_term": null},
      |        {"grouping_concept_preferred_term": "Age", "data_value": "62", "preferred_term": "years"}],
      |      "living_donor_data": [
      |        {"grouping_concept_preferred_term": "Age", "data_value": "70", "preferred_term": "years"},
      |        {"grouping_concept_preferred_term": "Sex", "data_value": "M", "preferred_term": "Male"}]}}}}
      |]}}""".stripMargin
}

/** The discovery projection: parity with the explode/groupBy pivot it
  * replaced, determinism, ANSI safety, and one Spark job per paged
  * discovery. */
class DiscoverySpec extends SparkSpec {
  import DiscoveryFixtures._

  private val tmp = Files.createTempDirectory("graft-discovery-spec")

  private def write(name: String, body: String): String = {
    val p = tmp.resolve(name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, body).toString
  }

  /** The six-dataset stub corpus landed as three pages of size 2, the
    * way `Discovery.discoverFromStub` fetches it. */
  private lazy val corpusPages: Seq[String] =
    (0 until Discovery.corpusSize by 2).map(from =>
      write(f"corpus/page_$from%08d.json", Discovery.pageBody(from, 2)))

  private def raw(s: SparkSession, paths: Seq[String]): DataFrame =
    s.read.schema(EsResponse.schema).option("multiLine", "true").json(paths: _*)

  /** The pivot this engine ran before the per-hit projection: explode
    * the hits, explode the concepts, then `groupBy` + `first(ignoreNulls)`
    * per concept. De-duplicates by uuid before the pivot, as the paged
    * path did. */
  private def referencePivot(raw: DataFrame): DataFrame = {
    val hits = raw.select(explode(col("hits.hits")).as("hit"))
      .select(
        col("hit._source.uuid").as("uuid"),
        col("hit._source.hubmap_id").as("hubmap_id"),
        col("hit._source.origin_samples_unique_mapped_organs").getItem(0)
          .as("organ"),
        coalesce(
          concat(
            coalesce(col("hit._source.donor.metadata.organ_donor_data"),
              array()),
            coalesce(col("hit._source.donor.metadata.living_donor_data"),
              array())),
          array()).as("donor_data"))
      .dropDuplicates("uuid")
    val organBase = regexp_replace(col("organ"), " \\((Left|Right)\\)$", "")
    val exploded = hits.select(col("uuid"), col("hubmap_id"), col("organ"),
      organBase.as("organ_base"),
      explode_outer(col("donor_data")).as("d"))
      .select(col("uuid"), col("hubmap_id"), col("organ"), col("organ_base"),
        col("d.grouping_concept_preferred_term").as("concept"),
        col("d.data_value").as("data_value"),
        col("d.preferred_term").as("preferred_term"))
    def pick(concept: String, src: String) =
      first(when(col("concept") === concept, col(src)), ignoreNulls = true)
    exploded.groupBy("uuid", "hubmap_id", "organ", "organ_base").agg(
      pick("Age", "data_value").cast("double").as("age"),
      pick("Sex", "preferred_term").as("sex"),
      pick("Height", "data_value").cast("double").as("height"),
      pick("Weight", "data_value").cast("double").as("weight"),
      pick("Body Mass Index", "data_value").cast("double").as("bmi"),
      pick("Cause of Death", "preferred_term").as("cause_of_death"),
      pick("Race", "preferred_term").as("race"))
  }

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.head.toString)

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) ===
      want.schema.map(f => (f.name, f.dataType)))
    assert(sortedRows(got) === sortedRows(want))
  }

  test("per-hit projection equals the explode/groupBy pivot " +
    "(golden fixtures and the six-dataset stub corpus)") {
    val one = write("golden/es_response.json", response)
    assertSame(EsResponse.datasetsFromResponse(spark, one),
      referencePivot(raw(spark, Seq(one))))

    val overlapping = Seq(
      write("golden/p0.json", page(3, Seq("u1", "u2"))),
      write("golden/p1.json", page(3, Seq("u2", "u3"))))
    assertSame(EsResponse.pagedDatasets(spark, overlapping),
      referencePivot(raw(spark, overlapping)))

    // all-null donor, both arrays present, a non-numeric age and
    // laterality suffixes
    val corpus = EsResponse.pagedDatasets(spark, corpusPages)
    assertSame(corpus, referencePivot(raw(spark, corpusPages)))
    assert(corpus.count() === Discovery.corpusSize)
  }

  test("pagedDatasets over the three landed corpus pages starts one Spark job") {
    val group = s"discovery-jobs-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
          e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "pagedDatasets job count")
    try {
      EsResponse.pagedDatasets(spark, corpusPages)
      GraftBusDrain.drain(sc)
      assert(jobs.get() === 1)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a page with zero hits still counts toward the totals check") {
    val pages = Seq(
      write("empty/p0.json", page(3, Seq("u1", "u2"))),
      write("empty/p1.json", page(3, Seq("u3"))))
    val sameTotal = write("empty/p2.json", page(3, Nil))
    assert(EsResponse.pagedDatasets(spark, pages :+ sameTotal).count() === 3)
    val otherTotal = write("empty/p3.json", page(4, Nil))
    val skew = intercept[IllegalArgumentException](
      EsResponse.pagedDatasets(spark, pages :+ otherTotal))
    assert(skew.getMessage.contains("disagree on hits.total (3, 4)"))
  }

  test("a repeated concept picks its first non-null entry in array order") {
    val p = write("repeated.json", repeatedConcepts)
    val want = Seq[Any]("r1", "HBM-r1", "Kidney (Right)", "Kidney",
      61.0, "Male", null, null, null, null, null)
    for (df <- Seq(EsResponse.datasetsFromResponse(spark, p),
        EsResponse.pagedDatasets(spark, Seq(p))))
      assert(df.collect().map(_.toSeq).toSeq === Seq(want))
  }

  test("absent concepts and non-numeric values are null under ANSI mode") {
    val ansi = spark.newSession()
    ansi.conf.set("spark.sql.ansi.enabled", "true")
    val one = write("ansi/es_response.json", response)
    val u3 = EsResponse.datasetsFromResponse(ansi, one)
      .filter(col("uuid") === "u3").collect().map(_.toSeq).toSeq
    assert(u3 === Seq(Seq[Any]("u3", "HBM3", "Heart", "Heart",
      null, null, null, null, null, null, null)))

    // the corpus includes an all-null donor and a non-numeric age
    val corpus = EsResponse.pagedDatasets(ansi, corpusPages)
    assertSame(corpus, EsResponse.pagedDatasets(spark, corpusPages))
    assert(corpus.filter(col("uuid") === "u4").select("age").head().isNullAt(0))
  }
}

package graft.operators

import graft.sources.ProductSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's flagship flow (`pipeline.cwl` → `bin/concatenate.py:
  * 119-152`) as ONE public API a reference user calls instead of the
  * CWL pipeline: annotate per-modality matrices, outer-union them,
  * restrict to cells present in every modality (`mu.pp.intersect_obs`),
  * attach donor metadata, write the partitioned product + metadata
  * sidecar.
  *
  * Inputs are long-form fact tables (SURVEY.md §1.4: sparse X as COO —
  * absent entry = 0, exactly AnnData sparse semantics), one DataFrame
  * per modality with columns (cell_id, dataset, feature_id, value).
  * [[Pipeline.flagship]] is this flow inlined over the synthetic star
  * schema; GoldenPipelineSpec drives THIS entry point end-to-end.
  *
  * Scale shape: modality tagging and union are map-only; the
  * intersection aggregates the narrow key projection (map-side combine)
  * and semi-joins the fact against it (the fact side is shuffled for
  * that semi-join at every scale, see [[unionIntersect]]); the donor
  * join broadcasts the dim; the write is hash-partitioned by
  * (modality, dataset) for downstream partition pruning.
  */
object ProductBuild {

  /** Tag + outer-union the modalities, then keep only cells present in
    * ALL of them (`anndata.concat(join="outer")` + `intersect_obs`,
    * `bin/concatenate.py:99-102,138-139`). Cell identity is
    * (dataset, cell_id): raw AnnData barcodes are only unique within a
    * dataset until the annotate step prefixes them
    * (`bin/concatenate.py:71-76`), so intersecting on cell_id alone
    * would conflate same-barcode cells from different datasets. */
  def unionIntersect(modalities: Map[String, DataFrame]): DataFrame = {
    require(modalities.nonEmpty, "at least one modality")
    val tagged = modalities.map { case (name, df) =>
      df.select(col("cell_id"), col("dataset"), col("feature_id"),
        col("value").cast("double").as("value"))
        .withColumn("modality", lit(name))
    }
    val fact = tagged.reduce(_ unionByName _)
    // Partial-aggregated key set + left-semi join (same shape as
    // Pipeline.flagship): the key aggregation shuffles only the narrow
    // (dataset, cell_id) projection with map-side combine. The semi-join
    // is NOT shuffle-free at small scale: the static plan is a sort-merge
    // semi-join, so each modality's full fact rows are exchanged on the
    // null-safe keys (coalesce/isnull) first, and AQE turns the join into
    // a broadcast only after those shuffle stages have run. The final
    // plan of a product build keeps full-fact ShuffleQueryStages under
    // the broadcast semi-join. Each h5ad file is also decoded twice, once
    // for the key set and once for the fact. A collect_set window here
    // would shuffle AND sort the full fact.
    //
    // Null-SAFE join keys (<=>): groupBy buckets null keys together, and
    // a plain equi-semi-join would then silently drop every null-keyed
    // row — with <=> a null-keyed "cell" survives exactly when its group
    // spans all modalities, the same semantics the window formulation
    // had. Caller-supplied frames do contain such rows (unparseable
    // barcodes); dropping them is a QC decision, not a join artifact.
    val qualified = fact.select("dataset", "cell_id", "modality")
      .groupBy("dataset", "cell_id")
      .agg(countDistinct(col("modality")).as("__nmod"))
      .filter(col("__nmod") === modalities.size)
      .select(col("dataset").as("q_dataset"), col("cell_id").as("q_cell_id"))
    fact.join(qualified,
      fact("dataset") <=> col("q_dataset") &&
        fact("cell_id") <=> col("q_cell_id"), "left_semi")
  }

  /** Attach donor metadata by dataset uuid (inner broadcast join — cells
    * with unknown uuid drop, `bin/concatenate.py:105-111`) and coerce
    * the numeric donor fields (`pd.to_numeric`, `:110`). */
  def annotateDonors(fact: DataFrame, donors: DataFrame): DataFrame = {
    val dim = broadcast(donors.withColumn("age", col("age").cast("double")))
    fact.join(dim, fact("dataset") === dim("uuid"), "inner")
      .drop("uuid")
  }

  /** Full build: returns the annotated fact and writes the partitioned
    * product + metadata sidecar via [[graft.sources.ProductSink]]. The
    * product is persisted (MEMORY_AND_DISK) because the sink consumes it
    * twice (parquet write + metadata aggregation) and callers usually act
    * on the returned frame too — without it the union + window + join DAG
    * would re-execute for each consumer. Callers may `unpersist()` when
    * done. */
  def build(modalities: Map[String, DataFrame], donors: DataFrame,
      outDir: String): DataFrame = {
    val product = annotateDonors(unionIntersect(modalities), donors)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ProductSink.writeProduct(product, outDir)
    product
  }
}

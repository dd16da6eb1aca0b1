package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkEntry
import graft.operators.ProductBuild
import graft.sources.{Discovery, H5ad, ProductSink}

/** One operation of a workload. `construct` builds what `exec` runs (for
  * a query: the DataFrame; for a product step: the frames it writes), so
  * the two phases are timed apart. `exec` returns the values the output
  * check reads. `save`, where given, writes the constructed result to a
  * directory for the output check instead of running `exec`. `module` is
  * the engine module the operation lives in. */
final case class Op(name: String, module: String,
    construct: () => AnyRef, exec: AnyRef => Map[String, Any],
    save: Option[(AnyRef, String) => Unit] = None)

object Workloads {
  /** A registered query: construction through `SparkEntry.queries`, then
    * a full execution into the noop sink. */
  def query(spark: SparkSession, dataDir: String, name: String): Op = {
    val fn = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"no query named $name"))
    Op(name, moduleOf(fn),
      () => fn(spark, dataDir),
      df => {
        df.asInstanceOf[DataFrame].write.format("noop").mode("overwrite").save()
        Map.empty
      },
      Some((df, dir) => df.asInstanceOf[DataFrame].coalesce(1)
        .write.mode("overwrite").parquet(dir)))
  }

  /** The engine package that defines a query's function: the package of
    * the class the lambda was compiled into. */
  def moduleOf(fn: AnyRef): String =
    fn.getClass.getName.split('.').toSeq match {
      case Seq("graft", pkg, _, _*) => pkg
      case _ => "graft"
    }

  private val donorSchema = StructType(
    Seq("uuid", "hubmap_id", "age", "sex").map(StructField(_, StringType)))

  /** The paper's pipeline: discover donors, ingest h5ad and build the
    * product, read it back, refresh one dataset, compact one partition. */
  def product(spark: SparkSession, inputDir: String, runDir: String,
      bigDataset: String, refreshDataset: String): Seq[Op] = {
    val manifest = Files.readAllLines(Paths.get(inputDir, "manifest.txt")).asScala
      .map(_.trim).filter(_.nonEmpty).toSeq
    def inputs(v2: Boolean) = manifest.filter(_.endsWith(".v2") == v2).map { n =>
      val Array(ds, mod) = n.split('.').take(2)
      H5ad.H5adInput(s"$inputDir/$n.h5ad", ds, mod)
    }
    val out = s"$runDir/product"
    def donors() = ProductSink.readTsv(spark, s"$inputDir/donors.tsv", donorSchema)
    Seq(
      Op("discover", "sources", () => None,
        _ => Map("rows" -> Discovery.discoverFromStub(spark).count())),
      Op("build", "operators",
        () => (H5ad.scanModalities(spark, inputs(v2 = false)), donors()),
        v => {
          val (mods, d) = v.asInstanceOf[(Map[String, DataFrame], DataFrame)]
          ProductBuild.build(mods, d, out).unpersist()
          Map.empty
        }),
      Op("read_back", "sources", () => ProductSink.readProduct(spark, out),
        v => {
          val f = v.asInstanceOf[DataFrame]
          Map("rows" -> f.count(),
            "pruned_rows" -> f.filter(col("modality") === "gene" &&
              col("dataset") === bigDataset).count())
        }),
      Op("refresh", "sources",
        () => ProductBuild.annotateDonors(ProductBuild.unionIntersect(
          H5ad.scanModalities(spark, inputs(v2 = true))), donors()),
        v => {
          ProductSink.overwritePartitions(v.asInstanceOf[DataFrame], s"$out/fact",
            Seq("modality", "dataset"))
          Map.empty
        }),
      Op("compact", "sources", () => None,
        _ => {
          val (before, after) = ProductSink.compact(spark,
            s"$out/fact/modality=bin/dataset=$bigDataset")
          Map("files_before" -> before, "files_after" -> after)
        }))
  }
}

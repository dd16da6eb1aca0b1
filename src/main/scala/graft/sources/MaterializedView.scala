package graft.sources

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Tables, U}
import graft.plans.{MvDef, MvRegistry}

/** Builder for the lineitem pricing summary the [[graft.plans.MvRewrite]]
  * optimizer rule serves: per (l_returnflag, l_linestatus) —
  * `count(*)`, exact-decimal sums of quantity and extended price, and
  * the shipdate min/max. Built once per (data dir, content signature)
  * as a [[PartitionedData]] derived layout (the same memo, SHA-256
  * source-dir tag, atomic publish and stale-generation sweep), and
  * registered into [[MvRegistry]] so ANY subsumed rollup in the session
  * accelerates transparently.
  *
  * At 100 TB the build is one partial+final aggregation of the fact
  * (the scan you were going to do anyway, amortized over every
  * dashboard query after it); the summary is |groups| rows.
  */
object MaterializedView {
  /** Build (if stale/missing) + register the pricing summary for
    * `d`'s lineitem. Idempotent and cheap after the first call. */
  def ensure(spark: SparkSession, d: String): MvDef = {
    val src = java.nio.file.Paths.get(d, "lineitem.parquet")
      .toAbsolutePath
    val out = PartitionedData.derivedLayout(d, "mv_lineitem_pricing",
        "lineitem") { tmp =>
      Tables.t(spark, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum(U.dec4(col("l_quantity"))).as("sum_l_quantity"),
          sum(U.dec4(col("l_extendedprice")))
            .as("sum_l_extendedprice"),
          min(col("l_shipdate")).as("min_l_shipdate"),
          max(col("l_shipdate")).as("max_l_shipdate"))
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    }
    val mv = MvDef(
      name = s"lineitem_pricing:${src.toString}",
      sourcePath = src.toString,
      mvPath = out,
      groupCols = Set("l_returnflag", "l_linestatus"),
      dec4Sums = Map(
        "l_quantity" -> "sum_l_quantity",
        "l_extendedprice" -> "sum_l_extendedprice"),
      cntCol = "cnt",
      mins = Map("l_shipdate" -> "min_l_shipdate"),
      maxs = Map("l_shipdate" -> "max_l_shipdate"),
      sourceSig = U.dirSignature(src))
    MvRegistry.register(mv)
    mv
  }
}

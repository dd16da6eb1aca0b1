package graft

import org.apache.spark.sql.functions._

import graft.operators.CoreOps

/** Lifecycle semantics of the shared derived-layout machinery
  * (PartitionedData.derivedLayout), pinned after the round-12 review:
  * the stale-generation sweep must spare a CONCURRENT process's live
  * .tmp-<pid> build and must drop legacy-tag generations; in-place
  * (manifest-backed) builds are only READY once the post-build
  * completion marker exists, so a crash between manifest commits
  * rebuilds instead of serving the half-built table forever.
  */
class DerivedLayoutSpec extends SparkSpec {

  private val base = java.nio.file.Paths.get("target", "graft-derived")
    .toAbsolutePath

  /** Fresh source dir holding a copy of the sf0.001 orders table —
    * unique per call so the (dir, signature) memo key never collides
    * with other tests' builds. */
  private def freshSource(): String = {
    val d = java.nio.file.Files.createTempDirectory("dlsrc").toString
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .write.parquet(s"$d/orders.parquet")
    d
  }

  private def mkdir(name: String): java.nio.file.Path = {
    val p = base.resolve(name)
    java.nio.file.Files.createDirectories(p)
    java.nio.file.Files.write(p.resolve("payload"), Array[Byte](1))
    p
  }

  test("sweep: legacy-tag and dead-pid leftovers are dropped, a live " +
    "builder's tmp dir survives") {
    val d = freshSource()
    // legacy 32-bit-hashCode-tag generation (tag 'ab' — a length the
    // 16-hex SHA tag can never produce)
    val legacy = mkdir("orders_merged_ab_stalegen")
    // crashed builder's tmp (pid 999999999 does not exist)
    val dead = mkdir("orders_merged_ab_x.tmp-999999999")
    // concurrent builder's tmp, impersonated by a pid that is VISIBLE,
    // ALIVE, and OLDER than the tmp dir: our own parent (the sbt/test
    // JVM launcher). PID 1 (ADVICE r12) may be invisible under PID
    // namespaces with restricted /proc, and our own pid is excluded by
    // design (a same-pid leftover is by definition from a dead prior
    // process). Skip the liveness assertion if no parent is visible.
    val parentPid = java.lang.ProcessHandle.current().parent()
      .map[java.lang.Long](p => java.lang.Long.valueOf(p.pid()))
    val live = parentPid.map[java.nio.file.Path](pp =>
      mkdir(s"orders_merged_ab_y.tmp-$pp"))
    // a tmp claiming a live pid that STARTED AFTER the tmp's last write
    // cannot belong to that process (OS pid reuse): backdate an
    // impersonated tmp far before every live process's start. The
    // write-recency evidence is the newest mtime in the WHOLE tree
    // (ADVICE r13 — a deep part-file write must count as recent), so
    // the fixture backdates every entry, not just the dir.
    val reused = mkdir("orders_merged_ab_z.tmp-" +
      parentPid.orElse(java.lang.Long.valueOf(999999998L)))
    val backdate = java.nio.file.attribute.FileTime.fromMillis(1000L)
    java.nio.file.Files.setLastModifiedTime(reused.resolve("payload"),
      backdate)
    java.nio.file.Files.setLastModifiedTime(reused, backdate)
    // first access builds the layout and runs the sweep
    val out = java.nio.file.Paths.get(
      sources.PartitionedData.ordersMergedManifestTable(spark, d))
    assert(java.nio.file.Files.exists(out.resolve("_GRAFT_COMPLETE")))
    assert(!java.nio.file.Files.exists(legacy),
      "legacy-tag generation must be swept")
    assert(!java.nio.file.Files.exists(dead),
      "dead builder's tmp must be swept")
    assert(!java.nio.file.Files.exists(reused),
      "a pre-pid-start (reused-pid) tmp must be swept")
    if (live.isPresent) {
      assert(java.nio.file.Files.exists(live.get),
        "LIVE builder's tmp must survive the sweep")
      // clean the fake live tmp so it doesn't linger for real runs
      java.nio.file.Files.delete(live.get.resolve("payload"))
      java.nio.file.Files.delete(live.get)
    }
  }

  test("in-place readiness: a build that crashed between manifest " +
    "commits (marker missing) is rebuilt, not served") {
    val d = freshSource()
    val q = CoreOps.queries("scan_manifest_merge")
    val want = q(spark, d).collect().map(_.toString).sorted.toSeq
    val out = java.nio.file.Paths.get(
      sources.PartitionedData.ordersMergedManifestTable(spark, d))
    val marker = out.resolve("_GRAFT_COMPLETE")
    assert(java.nio.file.Files.exists(marker))
    // simulate the mid-sequence crash: commits exist, marker does not
    java.nio.file.Files.delete(marker)
    // a fresh JVM starts with an empty memo: drop it so the re-access
    // exercises the on-disk readiness probe
    Artifacts.clear()
    val again = q(spark, d).collect().map(_.toString).sorted.toSeq
    assert(java.nio.file.Files.exists(marker),
      "re-access must rebuild and re-mark the layout")
    assert(again === want)
  }

  test("MV layouts of hashCode-colliding sibling dirs (Aa/BB) both stay live") {
    // "Aa" and "BB" hash alike in any position, so the two lineitem
    // paths collide under a 32-bit hashCode dir tag
    val root = java.nio.file.Files.createTempDirectory("mvtag").toString
    val (aa, bb) = (s"$root/Aa", s"$root/BB")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    li.write.parquet(s"$aa/lineitem.parquet")
    li.filter(col("l_orderkey") % 2 === 0).write.parquet(s"$bb/lineitem.parquet")
    assert(s"$aa/lineitem.parquet".hashCode == s"$bb/lineitem.parquet".hashCode)
    val q = operators.Pruning.queries("scan_mv_rewrite")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    // the raw aggregate: no summary is registered for Aa yet
    val raw = rows(Tables.t(spark, aa, "lineitem")
      .filter(col("l_linestatus") === "F")
      .groupBy("l_returnflag")
      .agg(U.dsum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        max(col("l_shipdate")).as("latest_ship"))
      .orderBy("l_returnflag"))
    assert(rows(q(spark, aa)) === raw)
    assert(rows(q(spark, bb)) !== raw)
    val again = q(spark, aa)
    assert(again.inputFiles.exists(_.contains("mv_lineitem_pricing")),
      "Aa must still be served from its summary")
    assert(rows(again) === raw)
  }
}

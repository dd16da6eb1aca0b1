package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The shared artifact memo's contract: re-entrant producers, nothing
  * cached on failure, one produce per key under contention, Dataset
  * values unpersisted on clear, and — for every dataset-derived kind —
  * no stale serve after the source table is rewritten in place.
  */
class ArtifactsSpec extends SparkSpec {

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  test("a producer may get another kind (many keys, shared hash bins)") {
    val d = tmpDir("artifacts-nested")
    val outer = new Artifacts.Kind[Int]("test_outer", "t")
    val inner = new Artifacts.Kind[Int]("test_inner", "t")
    // 512 outer keys, each producing through a nested inner key: far
    // more keys than the map's bins, so nested inserts land in the
    // bin of the key being produced
    (0 until 512).foreach { i =>
      val v = Artifacts.get(outer, d, i)(Artifacts.get(inner, d, i)(i * 2) + 1)
      assert(v == i * 2 + 1)
    }
    assert(Artifacts.get(inner, d, 7)(-1) == 14, "inner cached")
    assert(Artifacts.get(outer, d, 7)(-1) == 15, "outer cached")
  }

  test("a producer that throws caches nothing; the next call produces") {
    val d = tmpDir("artifacts-throw")
    val kind = new Artifacts.Kind[String]("test_throw", "t")
    val calls = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      Artifacts.get(kind, d) {
        calls.incrementAndGet(); throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(Artifacts.get(kind, d) { calls.incrementAndGet(); "ok" } == "ok")
    assert(Artifacts.get(kind, d) { calls.incrementAndGet(); "again" } == "ok")
    assert(calls.get == 2)
    assert(Artifacts.last(kind).contains("ok"))
  }

  test("concurrent callers of one key produce exactly once") {
    val d = tmpDir("artifacts-race")
    val kind = new Artifacts.Kind[Array[Int]]("test_race", "t")
    val calls = new AtomicInteger()
    val n = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val futures = (0 until n).map(_ => pool.submit(() => {
        start.await()
        Artifacts.get(kind, d) {
          calls.incrementAndGet(); Thread.sleep(100); Array(1, 2, 3)
        }
      }))
      start.countDown()
      val got = futures.map(_.get(60, TimeUnit.SECONDS))
      assert(calls.get == 1)
      assert(got.forall(_ eq got.head), "every caller shares one value")
    } finally pool.shutdownNow()
  }

  test("clear() drops every artifact and unpersists cached DataFrames") {
    val d = tmpDir("artifacts-clear")
    val kind = new Artifacts.Kind[org.apache.spark.sql.DataFrame](
      "test_df", "t")
    val df = spark.range(10).toDF("id").persist()
    df.count()
    assert(Artifacts.get(kind, d)(df) eq df)
    assert(df.storageLevel != StorageLevel.NONE)
    Artifacts.clear()
    assert(df.storageLevel == StorageLevel.NONE)
    assert(Artifacts.last(kind).isEmpty)
    val fresh = spark.range(3).toDF("id")
    assert(Artifacts.get(kind, d)(fresh) eq fresh, "cleared key produces")
  }

  test("every artifact kind re-produces after its source table is rewritten") {
    val dir = tmpDir("artifacts-stale")
    // version A is the sf0.001 table, version B every other row of it;
    // `keyed` names the column the B filter halves on
    val keyed = Map("documents" -> "doc_id", "orders" -> "o_orderkey",
      "lineitem" -> "l_orderkey")
    def write(half: Boolean): Unit = keyed.foreach { case (t, k) =>
      val src = spark.read.parquet(s"$sfDir/$t.parquet")
      (if (half) src.filter(col(k) % 2 === 0) else src)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    // kind → its artifact of `dir`, in a comparable (structural) form
    val kinds: Seq[(String, () => Any)] = Seq(
      "bpe" -> (() => functions.Bpe.trainRules(spark, dir)),
      "bytebpe" -> (() => functions.ByteBpe.trainRules(spark, dir)),
      "wordpiece" -> (() => functions.WordPiece.model(spark, dir)),
      "unigram" -> (() => functions.Unigram.model(spark, dir)),
      "gmm" -> (() => ml.Gmm.params(spark, dir)),
      "logreg" -> (() => ml.Logreg.weights(spark, dir).toSeq),
      "ridge" -> (() => ml.Ridge.weights(spark, dir)),
      "vocab" -> (() => functions.TextOps.vocabDf(spark, dir)
        .collect().map(_.toString).sorted.toSeq),
      "rows" -> (() => operators.Aggregates.tableRows(spark, dir, "orders")))
    write(half = false)
    val onA = kinds.map { case (k, f) => k -> f() }.toMap
    write(half = true)
    val onB = kinds.map { case (k, f) => k -> f() }.toMap
    Artifacts.clear()
    val fresh = kinds.map { case (k, f) => k -> f() }.toMap
    kinds.foreach { case (k, _) =>
      assert(onA(k) != fresh(k), s"$k: the rewrite must change the artifact")
      assert(onB(k) == fresh(k), s"stale $k served after the rewrite")
    }
  }
}

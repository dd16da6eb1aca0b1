package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** Benchmark client: one closed loop, one operation at a time.
  *
  * `stage <config>` writes the staged h5ad inputs and exits; it starts no
  * session. `probe <config>` does exactly the set-up of `run` (session,
  * then the operation list), records when it was ready and exits; run.py
  * uses it for extra set-up samples.
  * `run <config>` sets up, runs one cold pass, one untimed settling pass
  * that also writes each query's result for the output check, then warm
  * passes until the measured time is used, and reports raw timings,
  * counters and spans as JSON. All arithmetic on them is done by run.py.
  */
object Main {
  private val mapper = new ObjectMapper()

  /** Scala values to plain Java collections for Jackson. */
  private def j(x: Any): AnyRef = x match {
    case m: collection.Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, v) => o.put(k.toString, j(v)) }
      o
    case s: Iterable[_] => s.map(j).toSeq.asJava
    case Some(v) => j(v)
    case None | null => null
    case v: AnyRef => v
    case v => v.asInstanceOf[AnyRef]
  }

  private def write(path: String, v: Any): Unit =
    mapper.writeValue(new java.io.File(path), j(v))

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds on the monotonic clock. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new java.io.File(args(1)))
    if (args(0) == "stage") Gen.writeH5ad(cfg.get("data_dir").asText)
    else setUp(args(0), cfg)
  }

  /** Set-up as timed by `setup_s`: session, then the operation list. A
    * probe stops there; a run goes on to measure. */
  private def setUp(mode: String, cfg: JsonNode): Unit = {
    val jvms = Proc.otherJvms()
    val s0 = now()
    val spark = GraftSession.local(cfg.get("cores").asText)
    val sessionMs = now() - s0
    try {
      val traced = mode == "run" && cfg.get("trace").asBoolean
      val tracer = new Tracer
      if (traced) {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      val ops = operations(spark, cfg)
      val ready = now()
      mode match {
        case "probe" =>
          write(cfg.get("out").asText, Map("ready_ms" -> ready, "session_start_ms" -> sessionMs))
        case "run" => run(spark, cfg, ops, tracer, traced, ready, sessionMs, jvms)
      }
    } finally spark.stop()
  }

  /** The workload's operations, in their fixed order. */
  private def operations(spark: SparkSession, cfg: JsonNode): Seq[Op] = {
    val dataDir = cfg.get("data_dir").asText
    if (cfg.get("workload").asText == "product_build")
      Workloads.product(spark, dataDir, cfg.get("run_dir").asText,
        cfg.get("big_dataset").asText, cfg.get("refresh_dataset").asText)
    else cfg.get("ops").elements().asScala.map(n => Workloads.query(spark, dataDir, n.asText)).toSeq
  }

  private def run(spark: SparkSession, cfg: JsonNode, ops: Seq[Op], tracer: Tracer,
      traced: Boolean, ready: Double, sessionMs: Double, jvms: Seq[String]): Unit = {
    val names = ops.map(_.name)

    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    def drain(): Unit = if (traced) PerfbenchBus.drain(spark.sparkContext)

    def runPass(pass: Int, trace: Boolean): Unit = {
      tracer.enabled = trace
      val cpu0 = Proc.cpu()
      val (gc0, jit0) = (Proc.gcMs(), Proc.jitMs())
      var wall = 0.0
      ops.foreach { op =>
        val c = new Counters
        val (opId, cId, eId) =
          if (trace) (tracer.newId(), tracer.newId(), tracer.newId()) else (-1, -1, -1)
        tracer.beginOp(c, opId, cId, eId)
        var error: String = null
        var result: Map[String, Any] = Map.empty
        val t0 = now()
        val built = try op.construct() catch { case e: Throwable => error = e.toString; null }
        val t1 = now()
        tracer.beginExec(t1)
        if (error == null)
          try result = op.exec(built) catch { case e: Throwable => error = e.toString }
        val t2 = now()
        drain()
        tracer.endOp()
        wall += t2 - t0
        if (trace) Seq(Span(opId, "op", t0, t2, -1, opId),
            Span(cId, "construct", t0, t1, opId, opId),
            Span(eId, "exec", t1, t2, opId, opId)).foreach(tracer.record)
        if (error != null) System.err.println(s"[perfbench] ${op.name} failed: $error")
        records += Map("pass" -> pass, "op" -> op.name, "module" -> op.module,
          "span" -> opId, "construct_ms" -> (t1 - t0),
          "exec_ms" -> (t2 - t1), "ok" -> (error == null), "error" -> Option(error),
          "result" -> result, "traced" -> trace,
          "counters" -> (if (trace) c.v.toMap else Map.empty))
        spark.catalog.clearCache()
      }
      val cpu1 = Proc.cpu()
      passes += Map("pass" -> pass, "wall_ms" -> wall, "traced" -> trace,
        "other_cpu_ms" -> Proc.otherCpuMs(cpu0, cpu1), "steal_ms" -> Proc.stealMs(cpu0, cpu1),
        "gc_ms" -> (Proc.gcMs() - gc0), "jit_ms" -> (Proc.jitMs() - jit0),
        "codecache_mb" -> Proc.codeCacheMb())
      System.gc()
    }

    runPass(0, traced)
    val derived = Proc.du(Paths.get("target/graft-derived"))

    // One untimed settling pass between the cold pass and the measured
    // ones, so JIT compilation of the operations' code paths mostly lands
    // outside the warm windows. It doubles as the output check material:
    // each query's result as parquet. Product steps run as usual and their
    // results are checked like every pass's.
    val checks = mutable.LinkedHashMap.empty[String, String]
    val checkDir = cfg.get("check_dir").asText
    Files.createDirectories(Paths.get(checkDir))
    ops.foreach { op =>
      var error: String = null
      var result: Map[String, Any] = Map.empty
      try {
        val built = op.construct()
        op.save match {
          case Some(save) => save(built, s"$checkDir/${op.name}")
          case None => result = op.exec(built)
        }
      } catch { case e: Throwable => error = e.toString; checks(op.name) = error }
      records += Map("pass" -> -1, "op" -> op.name, "module" -> op.module, "span" -> -1,
        "construct_ms" -> 0.0, "exec_ms" -> 0.0, "ok" -> (error == null),
        "error" -> Option(error), "result" -> result, "traced" -> false,
        "counters" -> Map.empty)
      spark.catalog.clearCache()
    }
    // Read after the queries ran: some oracles only exist once their query
    // has trained its model.
    write(s"$checkDir/oracle_sql.json",
      SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) })
    System.gc()

    val minWarm = cfg.get("min_warm").asInt
    val windowMs = cfg.get("seconds").asDouble * 1000
    val w0 = now()
    var pass = 1
    // Traced runs alternate traced and untraced warm passes in ABBA order,
    // so a steady drift across passes cancels out of trace.overhead_frac.
    while (pass <= minWarm || now() - w0 < windowMs) {
      runPass(pass, traced && pass % 4 <= 1)
      pass += 1
    }
    tracer.enabled = false

    val productBytes = Proc.du(Paths.get(cfg.get("run_dir").asText, "product"))
    write(cfg.get("out").asText, Map(
      "ready_ms" -> ready, "session_start_ms" -> sessionMs,
      "other_jvms" -> jvms, "cores" -> spark.sparkContext.defaultParallelism,
      "derived_layout_bytes" -> derived, "product_bytes" -> productBytes,
      "peak_rss_mb" -> Proc.peakRssMb(),
      "check_errors" -> checks, "passes" -> passes, "ops" -> records,
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "parent" -> s.parent, "op" -> s.op))))
  }
}

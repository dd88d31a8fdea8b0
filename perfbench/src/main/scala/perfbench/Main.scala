package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.SparkLayers
import graft.LocalSession

/** The benchmark's JVM entry point (run through perfbench/run.py):
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --root DIR [--record 1]
  *
  * Builds the session `setup_repeats` times (the last one is kept), times
  * operations for S seconds, checks every output, and prints one JSON
  * object as the last line of stdout: end-to-end metrics with --trace 0,
  * per-layer metrics with --trace 1. A detail record with the host stamp,
  * sample counts, failures and (traced) self times goes to DIR/.out. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload"); val seed = a("seed").toLong
    val seconds = a("seconds").toDouble; val trace = a.getOrElse("trace", "0") == "1"
    val root = a("root"); val record = a.get("record").contains("1")
    val cfg = Config.load(s"$root/config.json")
    val nproc = Runtime.getRuntime.availableProcessors()
    val w: Workload = workload match {
      case "api_lookup" => new ApiLookup(cfg, seed, math.min(cfg.int(workload, "callers"), nproc))
      case "batch_analytics" => new BatchAnalytics(cfg, seed)
      case "index_ingest" => new IndexIngest(cfg, seed)
      case other => System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    // inputs are cached per seed and per workload parameters
    val params = Integer.toHexString(cfg.node("workloads", workload).toString.hashCode)
    val dir = s"$root/.cache/$workload/seed-$seed-$params"
    if (!new java.io.File(dir, "_READY").exists()) {
      val gen = LocalSession.build(nproc.toString, "perfbench-generate")
      try w.prepare(gen, dir) finally stop(gen)
    }

    val tr = new Tracer(trace)
    val layers = new SparkLayers
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val setupS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val rounds = cfg.global("setup_repeats").asInt()
    var spark: SparkSession = null
    for (k <- 0 until rounds) {
      val t0 = System.nanoTime()
      spark = tr.span("LocalSession.build")(LocalSession.build(nproc.toString, "perfbench"))
      if (trace && k == rounds - 1) spark.sparkContext.addSparkListener(layers)
      failures ++= w.setup(spark, dir, tr, k).map(f => s"set-up $k: $f")
      setupS += (System.nanoTime() - t0) / 1e9
      if (k < rounds - 1) stop(spark)
    }

    val expected = s"$root/expected/$workload.json"
    val recorded = readExpected(expected)
    recorded.get(seed.toString).foreach { exp =>
      exp.foreach { case (op, d) =>
        if (!w.digests.get(op).contains(d))
          failures += s"$op: digest ${w.digests.getOrElse(op, "missing")} != recorded $d"
      }
    }
    if (record) writeExpected(expected, recorded + (seed.toString -> w.digests))

    Workload.flushPageCache()
    val heap = new HeapPeak
    val cg0 = codegen()
    val m = w.measure(spark, tr, System.nanoTime() + (seconds * 1e9).toLong)
    val cg1 = codegen()
    heap.stop()
    failures ++= m.failures

    val (tail, tailPct) = Stats.tail(m.latMs)
    val e2e = Seq(
      "setup_s" -> (Stats.median(setupS.toSeq), "s"),
      "op_p50_ms" -> (Stats.median(m.latMs), "ms"),
      "op_tail_ms" -> (tail, "ms"),
      "ops_per_s" -> (m.work / m.wallS, "1/s"))
    val tol = cfg.global("reconcile_tolerance").asDouble()
    val (perLayer, layerDetail): (Seq[(String, (Double, String))], Map[String, Any]) =
      if (!trace) (Nil, Map.empty) else {
      layers.drain(spark.sparkContext)
      val extra = m.extra + ("jvm.heap_after_gc_peak_mb" -> heap.peakMb) ++ (w match {
        case b: BatchAnalytics => Map("Dedup.verified_per_candidate" -> b.verifiedPerCandidate(spark, dir),
          "quality.near_dup_recall" -> b.nearDupRecall)
        case _ => Map.empty[String, Double]
      })
      val (vals, detail) = Layers.compute(tr, layers, m.ops, m.latMs.size,
        ((cg1._1 - cg0._1).toDouble, (cg1._2 - cg0._2) / 1e6), extra, tol)
      (Layers.names.map(n => n -> (vals(n), Layers.units(n))), detail)
    }
    val reconcile = perLayer.find(_._1 == "trace.reconcile_err").map(_._2._1).getOrElse(0.0)
    if (reconcile > tol) failures += f"trace: self times miss op wall time by $reconcile%.4f (tolerance $tol)"

    val host = hostStamp(spark, nproc)
    val metrics = if (trace) perLayer else e2e
    val failed = failures.size
    val attempted = m.attempted + rounds
    val detail = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "host" -> host, "setup_s_rounds" -> setupS.toSeq,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "samples" -> Map("latency" -> m.latMs.size, "tail_percentile" -> tailPct),
      "latencies_ms" -> m.latMs, "workload_counts" -> (m.extra ++ (w match {
        case b: BatchAnalytics => Map("quality.near_dup_recall" -> b.nearDupRecall)
        case _ => Map.empty[String, Double]
      })),
      "failures" -> failures.toSeq, "digests" -> w.digests,
      "per_layer" -> perLayer.map { case (k, (v, _)) => k -> v }.toMap,
      "spans" -> tr.all.sortBy(_.id).map(x => Seq(x.id, x.name, x.op, x.parent, x.startNs, x.endNs))) ++
      layerDetail
    val out = new java.io.File(s"$root/.out"); out.mkdirs()
    val f = new java.io.File(out, s"$workload-seed$seed-trace${if (trace) 1 else 0}.json")
    java.nio.file.Files.writeString(f.toPath, Json(detail) + "\n")

    failures.foreach(x => System.err.println(s"FAILED $x"))
    System.err.println("host " + Json(host))
    e2e.foreach { case (k, (v, u)) => System.err.println(f"$k%-12s $v%.4f $u") }
    stop(spark)
    val result = Map[String, Any]("correct" -> failures.isEmpty, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }.toMap)
    println(Json(scala.collection.immutable.ListMap(result.toSeq.sortBy(kv =>
      Seq("correct", "attempted", "failed", "metrics").indexOf(kv._1)): _*)))
    System.out.flush()
    sys.exit(0)
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  /** (compile count, compile ns) of generated code, process-wide. */
  private def codegen(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  private def hostStamp(spark: SparkSession, nproc: Int): Map[String, Any] = Map(
    "nproc" -> nproc,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
    "spark" -> spark.version, "java" -> System.getProperty("java.version"),
    "master" -> spark.sparkContext.master,
    "local_dir" -> sys.env.getOrElse("SPARK_LOCAL_DIRS", spark.sparkContext.getConf.get("spark.local.dir", "")),
    "warehouse" -> spark.conf.get("spark.sql.warehouse.dir"))

  private def readExpected(path: String): Map[String, Map[String, String]] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      root.fieldNames().asScala.map { s =>
        s -> root.get(s).fieldNames().asScala.map(op => op -> root.get(s).get(op).asText()).toMap
      }.toMap
    }
  }

  private def writeExpected(path: String, m: Map[String, Map[String, String]]): Unit = {
    val sorted = scala.collection.immutable.ListMap(m.toSeq.sortBy(_._1.toLong).map { case (s, ops) =>
      s -> scala.collection.immutable.ListMap(ops.toSeq.sortBy(_._1): _*) }: _*)
    new java.io.File(path).getParentFile.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(path).toPath,
      sorted.map { case (s, ops) => "  " + Json.str(s) + ": " + Json(ops) }.mkString("{\n", ",\n", "\n}\n"))
  }
}

/** Peak heap occupancy right after a collection, sampled while the timed
  * operations run. */
final class HeapPeak {
  @volatile private var running = true
  @volatile var peak = 0L
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported)
  private val t = new Thread(() => while (running) {
    peak = math.max(peak, pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum)
    Thread.sleep(50)
  }, "heap-peak")
  t.setDaemon(true); t.start()
  def stop(): Unit = { running = false; t.join() }
  def peakMb: Double = peak / 1048576.0
}

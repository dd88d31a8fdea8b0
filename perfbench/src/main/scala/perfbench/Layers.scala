package perfbench

import org.apache.spark.sql.perfbench.SparkLayers

/** Turns the traced run's spans and Spark events into the per-layer
  * metrics, normalized per unit of work (request, pass or batch). */
object Layers {
  val GraphOps = Seq("pageRank", "hits", "labelPropagation", "shortestPaths", "kCorePeel")

  /** Every per-layer metric name; each traced run reports all of them
    * (0 where the workload does not reach the layer). */
  val names: Seq[String] = Seq(
    "LocalSession.build_ms", "Tables.resolve_ms", "Engine.call_ms", "sink_ms",
    "spark.catalyst.analysis_ms", "spark.catalyst.optimization_ms",
    "spark.catalyst.planning_ms", "GraftExtensions.rule_ms",
    "spark.codegen.compiles", "spark.codegen.compile_ms",
    "spark.exec.jobs", "spark.exec.stages", "spark.exec.tasks",
    "spark.exec.sched_wait_ms", "spark.exec.driver_gap_ms",
    "spark.exec.task_cpu_ms", "spark.exec.task_run_ms", "spark.exec.gc_ms",
    "spark.exec.shuffle_write_mb", "spark.exec.shuffle_read_mb",
    "spark.exec.spill_mb", "spark.exec.skew") ++
    GraphOps.flatMap(o => Seq(s"Graph.$o.call_ms", s"Graph.$o.sink_ms", s"Graph.$o.jobs_in_call")) ++
    Seq("Dedup.corpus_ms", "Dedup.verified_per_candidate", "Dedup.embedding_ms",
      "Similarity.knn_ms", "TextOps.bm25_ms",
      "Dedup.probe_ms", "Dedup.probe_input_mb", "Dedup.append_ms",
      "Dedup.compact_ms", "Similarity.ivf_append_ms",
      "index.files_per_bucket_max", "index.bytes_written_mb", "index.accept_ratio",
      "index.write_amp", "index.space_amp", "quality.near_dup_recall", "jvm.heap_after_gc_peak_mb",
      "share.catalyst_codegen_gap", "share.operators", "share.index_write",
      "trace.reconcile_err", "trace.ops")

  def units(name: String): String =
    if (name.endsWith("_ms")) "ms" else if (name.endsWith("_mb")) "MB"
    else if (name.startsWith("share.") || name.endsWith("_err") || name.endsWith("skew") ||
      name.endsWith("_ratio") || name.endsWith("_amp") || name.endsWith("per_candidate") ||
      name.endsWith("_recall")) "ratio"
    else "count"

  /** @param ops timed operations (each with its own job group)
    * @param nUnits units of work the ops form (requests, passes, batches)
    * @param codegen (compiles, compile ms) over the timed phase
    * @param extra workload-specific values (index.*, Dedup ratios, heap)
    * @param tolerance the reconciliation tolerance, for the detail record */
  def compute(tr: Tracer, sl: SparkLayers, ops: Seq[OpRecord], nUnits: Int,
              codegen: (Double, Double), extra: Map[String, Double],
              tolerance: Double): (Map[String, Double], Map[String, Any]) = {
    val spans = tr.all
    val byOp = ops.map(o => o.id -> o).toMap
    val u = math.max(nUnits, 1).toDouble
    def opOf(group: Option[String]): Option[OpRecord] =
      group.flatMap(g => scala.util.Try(g.toLong).toOption).flatMap(byOp.get)
    val jobsByOp = sl.allJobs.flatMap(j => opOf(j.group).map(_.id -> j)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }
    val execsByOp = sl.allExecs.flatMap(x => opOf(x.group).map(_.id -> x)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }
    val opJobs = jobsByOp.values.flatten.toSeq
    val stageIds = opJobs.flatMap(_.stages).distinct
    val st = stageIds.flatMap(id => Option(sl.stages.get(id)))
    val tot = stageIds.flatMap(id => Option(sl.stageTotals.get(id)))
    val execs = execsByOp.values.flatten.toSeq
    val wallMs = ops.map(o => (o.endNs - o.startNs) / 1e6).sum
    val gapMs = ops.map { o =>
      val js = jobsByOp.getOrElse(o.id, Nil).map(j =>
        (math.max(j.startMs, o.startMs), math.min(j.endMs, o.endMs)))
      (o.endMs - o.startMs) - tr.union(js)
    }.sum.toDouble
    // skew: per op, the worst stage's max/median task time (stages with ≥2 tasks)
    val skews = ops.flatMap { o =>
      val ss = jobsByOp.getOrElse(o.id, Nil).flatMap(_.stages).distinct
        .flatMap(id => Option(sl.stages.get(id))).filter(_.taskMs.size >= 2)
        .map(s => s.taskMs.max.toDouble / math.max(Stats.median(s.taskMs.map(_.toDouble).toSeq), 1.0))
      if (ss.isEmpty) None else Some(ss.max)
    }
    def spanSum(p: String => Boolean): Double = spans.filter(s => p(s.name) && s.op > 0).map(_.ms).sum
    def per(p: String => Boolean): Double = spanSum(p) / u
    def setupMedian(n: String): Double = Stats.median(spans.filter(_.name == n).map(_.ms)) match {
      case x if x.isNaN => 0.0
      case x => x
    }
    val graph = GraphOps.flatMap { o =>
      val callOps = spans.filter(_.name == s"Graph.$o.call")
      val jobsInCall = callOps.map { c =>
        jobsByOp.getOrElse(c.op, Nil).count { j =>
          val t = j.startMs * 1000000L
          byOp.get(c.op).exists { op =>
            val base = op.startMs * 1000000L - op.startNs // ms clock ↔ ns clock
            t - base >= c.startNs - 2000000L && t - base <= c.endNs + 2000000L
          }
        }
      }
      Seq(s"Graph.$o.call_ms" -> per(_ == s"Graph.$o.call"),
        s"Graph.$o.sink_ms" -> per(_ == s"Graph.$o.sink"),
        s"Graph.$o.jobs_in_call" -> jobsInCall.sum.toDouble / u)
    }
    // the layer spans' self times (the op's own root span left out) must
    // add up to the ops' wall time; time in no layer counts as error
    val opSpans = spans.filter(s => byOp.contains(s.op))
    val self = tr.selfTimes(opSpans)
    val layerMs = opSpans.filter(_.parent != 0).map(s => self(s.id)).sum
    val reconcileErr = if (wallMs > 0) math.abs(layerMs - wallMs) / wallMs else 0.0
    val catalyst = execs.map(x => x.analysisMs + x.optimizationMs + x.planningMs).sum
    val operatorMs = spanSum(n => Seq("Graph.", "Dedup.", "Similarity.", "TextOps.").exists(n.startsWith) &&
      (n.endsWith(".call") || n.endsWith(".sink")))
    val indexWrite = spanSum(n => n == "Dedup.append" || n == "Dedup.compact" ||
      n == "Similarity.ivf_append" || n == "Dedup.emb_append")
    def share(x: Double) = if (wallMs > 0) x / wallMs else 0.0
    val m = Map(
      "LocalSession.build_ms" -> setupMedian("LocalSession.build"),
      "Tables.resolve_ms" -> setupMedian("Tables.resolve"),
      "Engine.call_ms" -> per(_ == "Engine.call"),
      "sink_ms" -> per(n => n == "sink" || n.endsWith(".sink")),
      "spark.catalyst.analysis_ms" -> execs.map(_.analysisMs).sum / u,
      "spark.catalyst.optimization_ms" -> execs.map(_.optimizationMs).sum / u,
      "spark.catalyst.planning_ms" -> execs.map(_.planningMs).sum / u,
      "GraftExtensions.rule_ms" -> execs.map(_.graftRuleMs).sum / u,
      "spark.codegen.compiles" -> codegen._1 / u,
      "spark.codegen.compile_ms" -> codegen._2 / u,
      "spark.exec.jobs" -> opJobs.size / u,
      "spark.exec.stages" -> stageIds.size / u,
      "spark.exec.tasks" -> tot.map(_.tasks).sum / u,
      "spark.exec.sched_wait_ms" -> st.filter(s => s.firstLaunchMs != Long.MaxValue && s.submitMs > 0)
        .map(s => math.max(0L, s.firstLaunchMs - s.submitMs)).sum / u,
      "spark.exec.driver_gap_ms" -> gapMs / u,
      "spark.exec.task_cpu_ms" -> tot.map(_.cpuNs).sum / 1e6 / u,
      "spark.exec.task_run_ms" -> tot.map(_.runMs).sum / u,
      "spark.exec.gc_ms" -> tot.map(_.gcMs).sum / u,
      "spark.exec.shuffle_write_mb" -> tot.map(_.shuffleWrite).sum / 1048576.0 / u,
      "spark.exec.shuffle_read_mb" -> tot.map(_.shuffleRead).sum / 1048576.0 / u,
      "spark.exec.spill_mb" -> tot.map(_.spill).sum / 1048576.0 / u,
      "spark.exec.skew" -> (if (skews.isEmpty) 0.0 else skews.sum / skews.size),
      "Dedup.corpus_ms" -> per(_.startsWith("Dedup.dedupCorpus.")),
      "Dedup.embedding_ms" -> per(_.startsWith("Dedup.embeddingNearDups.")),
      "Similarity.knn_ms" -> per(n => n.startsWith("Similarity.ivfKnn.") || n.startsWith("Similarity.lshKnn.")),
      "TextOps.bm25_ms" -> per(_.startsWith("TextOps.bm25TopK.")),
      "Dedup.probe_ms" -> per(n => n == "Dedup.readIndex" || n == "Dedup.probe"),
      "Dedup.append_ms" -> per(n => n == "Dedup.append" || n == "Dedup.emb_append"),
      "Dedup.compact_ms" -> per(_ == "Dedup.compact"),
      "Similarity.ivf_append_ms" -> per(_ == "Similarity.ivf_append"),
      "share.catalyst_codegen_gap" -> share(catalyst + codegen._2 + gapMs),
      "share.operators" -> share(operatorMs),
      "share.index_write" -> share(indexWrite),
      "trace.reconcile_err" -> reconcileErr,
      "trace.ops" -> ops.size.toDouble
    ) ++ graph
    val probeOps = spans.filter(_.name == "Dedup.probe").map(_.op).toSet
    val probeInput = jobsByOp.filter(kv => probeOps.contains(kv._1)).values.flatten
      .flatMap(_.stages).toSeq.distinct.flatMap(id => Option(sl.stageTotals.get(id)))
      .map(_.inputBytes).sum / 1048576.0 / u
    val all = names.map(n => n -> 0.0).toMap ++ m ++ extra +
      ("Dedup.probe_input_mb" -> probeInput)
    val detail = Map[String, Any](
      "op_wall_ms_total" -> wallMs,
      "self_ms_by_span" -> opSpans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum },
      "units" -> nUnits,
      "reconcile_tolerance" -> tolerance)
    (names.map(n => n -> all(n)).toMap, detail)
  }
}

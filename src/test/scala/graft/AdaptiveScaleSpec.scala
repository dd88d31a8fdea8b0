package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Runtime-adaptive scale machinery: proves the engine's 100 TB skew story
  * is not just documentation. The suite runs a deliberately skewed shuffle
  * join under AQE with test-sized thresholds and asserts the FINAL adaptive
  * plan actually split the skewed partition (OptimizeSkewedJoin), and that
  * a selective join injects a runtime Bloom filter on the fact side
  * (InjectRuntimeFilter) — the two Spark-native mechanisms that complement
  * the repo's deterministic salting (Joins.saltedJoin) and hand-built
  * Bloom semi-join (q195): salting for KNOWN hot keys at write time, AQE
  * for skew discovered at RUN time. */
class AdaptiveScaleSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    // newSession() isolation: every conf below is a RUNTIME SQL conf, so
    // setting it on a cloned session never leaks into the shared session
    // other suites hold (suites run in parallel threads in one JVM —
    // getOrCreate-with-configs would race).
    val base = SparkSession.builder()
      .master("local[4]")
      .appName("AdaptiveScaleSpec")
      .config("spark.ui.enabled", "false")
      .config(LocalSession.codegenCacheConf)
      .getOrCreate()
    base.sparkContext.setLogLevel("WARN")
    val s = base.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // test-sized thresholds: production defaults (256 MB) would need GBs
    // of synthetic skew to trip; the MECHANISM under test is identical
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "64KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "0")
    s.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "100MB")
    s
  }

  /** collect() does not descend into AQE query stages (their executed
    * subtree is an innerChild, not a child) — flatten explicitly. */
  private def flatten(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    p +: (p.children ++ (p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case _ => Seq.empty
    })).flatMap(flatten)

  test("AQE splits a runtime-skewed join partition (OptimizeSkewedJoin)") {
    // 280k of 300k left rows share key 0 — one shuffle partition carries
    // ~93% of the data. Correct result AND a skew-split final plan.
    val left = spark.range(0, 300000)
      .select(when(col("id") < 280000, lit(0L)).otherwise(col("id")).as("k"),
        col("id").as("v"))
    val right = spark.range(0, 64).select(col("id").as("k"))
    val j = left.join(right, "k")
    // execute through THIS QueryExecution — count()/write() would spawn a
    // fresh one and the adaptive plan here would never run
    assert(j.collect().length == 280000) // only k=0 matches
    val adaptive = j.queryExecution.executedPlan
    assert(adaptive.isInstanceOf[AdaptiveSparkPlanExec],
      s"expected an adaptive plan, got ${adaptive.nodeName}")
    val fin = adaptive.asInstanceOf[AdaptiveSparkPlanExec].executedPlan
    val skewJoins = flatten(fin).filter {
      case s: SortMergeJoinExec => s.isSkewJoin
      case s: ShuffledHashJoinExec => s.isSkewJoin
      case _ => false
    }
    assert(skewJoins.nonEmpty,
      s"expected OptimizeSkewedJoin to mark the join as skew-split\n${fin.toString.take(3000)}")
  }

  test("selective dim join injects a runtime Bloom filter on the fact side") {
    val fact = spark.range(0, 500000)
      .select((col("id") % 10000).as("k"), col("id").as("v"))
    val dim = spark.range(0, 10000).filter(col("id") < 20)
      .select(col("id").as("k"))
    val j = fact.join(dim, "k")
    val optimized = j.queryExecution.optimizedPlan.toString
    assert(optimized.contains("bloom_filter") ||
      optimized.contains("BloomFilter"),
      s"expected InjectRuntimeFilter to add a bloom probe:\n${optimized.take(3000)}")
    assert(j.count() == 20L * 50)
  }
}

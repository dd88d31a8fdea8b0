package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Storage-partitioned join through the bucketed GeoJSONL connector: two
  * lakes laid out `pkey=N/…` and read with `bucketed=true` report
  * KeyGroupedPartitioning (SupportsReportPartitioning + HasPartitionKey),
  * and with `spark.sql.sources.v2.bucketing.enabled` Spark joins them
  * with ZERO shuffle exchanges — the Iceberg-style SPJ contract proven
  * live on the engine's own connector. The negative arm (bucketing conf
  * off) must shuffle, pinning that the zero-exchange plan really comes
  * from the reported partitioning and not from plan degeneration. */
class StoragePartitionedJoinSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val base = SparkSession.builder()
      .master("local[4]")
      .appName("StoragePartitionedJoinSpec")
      .config("spark.ui.enabled", "false")
      .config(LocalSession.codegenCacheConf)
      .getOrCreate()
    base.sparkContext.setLogLevel("WARN")
    val s = base.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // join keys (pkey, id) are a SUPERSET of the partition keys (pkey);
    // with the default require-all-cluster-keys, EnsureRequirements only
    // recognizes co-partitioning when they match exactly
    s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    // a broadcast join would sidestep the partitioning question entirely
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  private def writeLake(rows: Seq[(String, String, Int)]): String = {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_geojson_spj").toString
    rows.toDF("id", "name", "pkey")
      .select(col("pkey"), expr(
        "concat('{\"type\":\"Feature\",\"id\":\"', id, '\",\"geometry\":" +
          "{\"type\":\"Polygon\",\"coordinates\":[[[0,0],[1,0],[1,1]," +
          "[0,0]]]},\"properties\":{\"name\":\"', name, '\"}}')")
        .as("value"))
      .repartition(col("pkey"))
      .write.partitionBy("pkey").mode("overwrite").text(root)
    root
  }

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect() // materialize so AQE finalizes the plan
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: (p.children ++ (p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case _ => Seq.empty
      })).flatMap(walk)
    walk(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeExec])
  }

  test("co-bucketed lakes join with zero exchanges; conf off shuffles") {
    val left = writeLake((0 until 64).map(i =>
      (s"c$i", s"left$i", i % 8)))
    val right = writeLake((0 until 64).map(i =>
      (s"c$i", s"right$i", i % 8)))
    def lake(p: String) = spark.read.format("graft-geojson")
      .option("bucketed", "true").load(p)
    val joined = lake(left).as("l")
      .join(lake(right).as("r"), Seq("pkey", "id"))
      .select(col("pkey"), col("id"),
        element_at(col("l.props"), "name").as("ln"),
        element_at(col("r.props"), "name").as("rn"))
    assert(joined.count() == 64)
    assert(shuffles(joined) == 0,
      "storage-partitioned join must plan no shuffle on either side")
    // sanity on content through the SPJ path
    val row = joined.filter(col("id") === "c11").collect().head
    assert(row.getString(2) == "left11" && row.getString(3) == "right11")

    // negative arm: same query, bucketing disabled → real exchanges
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def lake2(p: String) = s2.read.format("graft-geojson")
      .option("bucketed", "true").load(p)
    val j2 = lake2(left).join(lake2(right), Seq("pkey", "id"))
      .select(col("pkey"), col("id"))
    assert(shuffles(j2) > 0)
  }

  test("runtime filtering prunes whole shard directories from the scan") {
    import spark.implicits._
    val root = writeLake((0 until 64).map(i => (s"p$i", s"n$i", i % 8)))
    // fresh session with defaults: broadcast ON (DPP rides the broadcast)
    val s2 = spark.newSession()
    val fact = s2.read.format("graft-geojson")
      .option("bucketed", "true").load(root)
    // DPP needs a LIKELY-SELECTIVE predicate on the dim side (IsNotNull
    // doesn't qualify), and the dim must be a real SOURCE — a local
    // collection constant-folds, erasing the Filter the rule looks for
    val dimPath = java.nio.file.Files
      .createTempDirectory("graft_spj_dim").toString
    (0 until 8).map(k => (k, if (k == 1 || k == 4) "keep" else "drop"))
      .toDF("pkey", "tag").write.mode("overwrite").parquet(dimPath)
    val dim = s2.read.parquet(dimPath)
      .filter(col("tag") === "keep").select(col("pkey"))
    val joined = fact.join(dim, Seq("pkey"))
      .agg(count(lit(1)).as("n"), countDistinct(col("pkey")).as("k"))
    val Array(row) = joined.collect()
    assert(row.getLong(0) == 16L && row.getLong(1) == 2L)
    // the executed scan must hold only the two surviving buckets' files
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: (p.children ++ (p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case _ => Seq.empty
      })).flatMap(walk)
    val scans = walk(joined.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    // the optimizer attached a dynamic-pruning runtime filter to the scan…
    assert(scans.head.toString.contains("dynamicpruningexpression"),
      s"no runtime filter on the scan: ${scans.head}")
    // …and at execution the connector received the dim's key set and kept
    // only those buckets' shard files (inputPartitions reports the
    // UNFILTERED list; the connector's own pruning state is the witness)
    val pruned = scans.head.scan
      .asInstanceOf[graft.sources.GeoJsonBucketedScan].prunedKeys
    assert(pruned.contains(Set(1, 4)),
      s"expected buckets {1,4} to survive pruning, got $pruned")
  }

  test("pkey arrives as a real column and groupBy(pkey) is also exchange-free") {
    val root = writeLake((0 until 48).map(i => (s"g$i", s"n$i", i % 6)))
    val df = spark.read.format("graft-geojson")
      .option("bucketed", "true").load(root)
    val agg = df.groupBy(col("pkey")).agg(count(lit(1)).as("n"))
    val got = agg.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == (0 until 6).map(_ -> 8L).toMap)
    // aggregation on the partitioning key reuses the reported layout
    assert(shuffles(agg) == 0,
      "groupBy on the reported partition key must not re-shuffle")
  }
}

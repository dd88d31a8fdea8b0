package graft.tools

/** Plan-audit tool: print the FORMATTED plan and, after one execution, the
  * AQE-final executed plan of the named SparkEntry queries — the evidence
  * trail for PLANS.md's exchange-reuse and pushdown claims (ReusedExchange /
  * ReusedSubquery only become visible on the executed plan once AQE has
  * finalized stages). */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.LocalSession.build(cpus, "graft-explain")
    val names = if (args.nonEmpty) args.toSeq else Seq("q36_neardup_jaccard")
    for (name <- names) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      println(s"==== $name: formatted (pre-execution) ====")
      df.explain("formatted")
      val n = df.count()
      println(s"==== $name: executed plan after count()=$n (AQE final) ====")
      println(df.queryExecution.executedPlan.toString.take(20000))
    }
    spark.stop()
  }
}

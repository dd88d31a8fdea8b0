package graft.tools

import org.apache.spark.sql.SparkSession

/** Focused repeat-bench: run the named SparkEntry queries N times each in one
  * JVM and print per-iteration seconds — the only reliable way to time on a
  * noisy shared host (compare medians within one process, never across runs). */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt
    val names = if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.LocalSession.build(cpus, "graft-microbench")
    for (name <- names; i <- 1 to iters) {
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(name)(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[micro] $name%-24s iter=$i $sec%8.2f s  rows=$n")
    }
    spark.stop()
  }
}

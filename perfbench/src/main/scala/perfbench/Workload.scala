package perfbench

import org.apache.spark.sql.SparkSession

/** What one workload's timed phase produced. `latMs` are the latencies of
  * its unit of work (request, pass, batch); `work` the items completed
  * (requests, jobs, documents) in `wallS` seconds. */
final case class Measured(latMs: Seq[Double], work: Double, wallS: Double,
                          ops: Seq[OpRecord], attempted: Int, failures: Seq[String],
                          extra: Map[String, Double])

/** A workload: seeded inputs, a set-up the benchmark can repeat, a timed
  * phase and the output checks. */
trait Workload {
  def name: String
  /** Generate this seed's inputs under `dir` unless they are cached. */
  def prepare(spark: SparkSession, dir: String): Unit
  /** Resolve tables, build what the timed phase needs, warm up and check
    * the warm-up results. `round` numbers the repeated set-ups. Returns
    * failures found by the checks. */
  def setup(spark: SparkSession, dir: String, tr: Tracer, round: Int): Seq[String]
  /** Operations until `deadlineNs`, each timed from the call into the
    * layer until its full result is in hand. */
  def measure(spark: SparkSession, tr: Tracer, deadlineNs: Long): Measured
  /** Digests of the checked operations, for the per-seed record. */
  def digests: Map[String, String]
}

object Workload {
  /** Run `body` as a timed operation and record it. */
  def timedOp[T](spark: SparkSession, tr: Tracer, kind: String)(body: => T): (OpRecord, Either[Throwable, T]) = {
    val id = tr.newOp()
    val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    val r = try Right(tr.inOp(spark.sparkContext, id, kind)(body))
            catch { case e: Throwable if scala.util.control.NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    val ms1 = ms0 + (t1 - t0) / 1000000L
    (OpRecord(id, kind, ms0, ms1, t0, t1, r.isRight), r)
  }

  def describe(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300).replace('\n', ' ')

  def cached(dir: String)(write: => Unit): Unit = {
    val ready = new java.io.File(dir, "_READY")
    if (!ready.exists()) {
      deleteRecursively(new java.io.File(dir))
      new java.io.File(dir).mkdirs()
      write
      ready.createNewFile(): Unit
    }
  }

  /** Write dirty pages back now (set-up output, generated inputs), so
    * their writeback does not overlap the timed phase. */
  def flushPageCache(): Unit =
    try { new ProcessBuilder("sync").inheritIO().start().waitFor(): Unit }
    catch { case e: java.io.IOException => System.err.println(s"sync unavailable: ${e.getMessage}") }

  def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles(); if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Rows → DataFrame in `parts` parquet files under `path`. */
  def writeParquet(spark: SparkSession, rows: Seq[org.apache.spark.sql.Row],
                   schema: org.apache.spark.sql.types.StructType, path: String, parts: Int): Unit = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema).repartition(parts)
      .write.mode("overwrite").parquet(path)
  }
}

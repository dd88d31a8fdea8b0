package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.operators.{Dedup, Similarity, TextOps}

/** One caller ingests seeded batches into the persisted text-dedup index
  * and the embedding/IVF lists: read the index, dedup the batch against
  * it, append the accepted documents, and compact every k-th batch. The
  * generator knows which documents are new, so every batch's accepted set
  * is checked exactly. */
final class IndexIngest(cfg: Config, seed: Long) extends Workload {
  val name = "index_ingest"
  private def n(k: String) = cfg.int(name, k)
  private val rng = new Rng(seed)
  private val dim = n("embedding_dim")
  private val buckets = n("buckets")
  private val every = n("compact_every")
  private val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false), StructField("vec", ArrayType(DoubleType))))

  /** A batch: its rows, the ids the generator made new (to be accepted),
    * and the exact and near duplicates of earlier documents. */
  final case class Batch(rows: Seq[Row], fresh: Set[Long], exact: Set[Long], near: Set[Long]) {
    lazy val textBytes: Long = rows.map(_.getString(1).getBytes("UTF-8").length.toLong).sum
  }

  private val (base, batches): (Seq[Row], IndexedSeq[Batch]) = {
    val r = rng.fork("ingest"); val z = new Zipf(n("vocabulary"), 0.8)
    def vec() = { val v = Array.fill(dim)(r.gaussian()); val l = math.sqrt(v.map(x => x * x).sum); v.map(_ / l).toSeq }
    val base = (0 until n("base_documents")).map(i => Row(i.toLong, Text.doc(r, z, n("doc_tokens")), vec()))
    val pool = scala.collection.mutable.ArrayBuffer.from(base)
    val bs = n("batch_documents"); val exact = cfg.dbl(name, "exact_dup_rate")
    val near = exact + cfg.dbl(name, "near_dup_rate")
    val out = (0 until n("batches_generated")).map { b =>
      val rows = (0 until bs).map { j =>
        val id = (base.size + b * bs + j).toLong
        val x = r.nextDouble()
        if (x < near) {
          val src = pool(r.nextInt(pool.size))
          val t = if (x < exact) Text.exactDup(r, src.getString(1)) else Text.nearDup(r, z, src.getString(1))
          (Row(id, t, src.getSeq[Double](2).map(_ + 0.001 * r.gaussian())), if (x < exact) 'e' else 'n')
        } else (Row(id, Text.doc(r, z, n("doc_tokens")), vec()), 'f')
      }
      pool ++= rows.filter(_._2 == 'f').map(_._1)
      def ids(k: Char) = rows.filter(_._2 == k).map(_._1.getLong(0)).toSet
      Batch(rows.map(_._1), ids('f'), ids('e'), ids('n'))
    }
    (base, out)
  }
  private val centroids = Similarity.seededCentroids(n("ivf_cells"), dim)

  def prepare(spark: SparkSession, dir: String): Unit = Workload.cached(dir) {
    Workload.writeParquet(spark, base, schema, s"$dir/documents.parquet", 4)
  }

  private var prefix = ""; private var embPrefix = ""; private var ivfPath = ""
  private var nextBatch = 0
  private val accepted = scala.collection.mutable.ArrayBuffer.empty[Long]
  private val recorded = scala.collection.mutable.LinkedHashMap.empty[String, String]
  def digests: Map[String, String] = recorded.toMap
  private var baseText = 0L

  private def frame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** One ingest cycle; returns the ids the dedup accepted. */
  private def ingest(spark: SparkSession, tr: Tracer, b: Batch, batchNo: Int): Seq[Long] = {
    val df = tr.span("input")(frame(spark, b.rows))
    val idx = tr.span("Dedup.readIndex")(Dedup.readIndex(spark, prefix))
    val ids = tr.span("Dedup.probe") {
      Dedup.dedupAgainstIndex(idx, df.select("doc_id", "text"), "doc_id", "text")
        .select("doc_id").collect().map(_.getLong(0)).toSeq
    }
    val acc = df.filter(col("doc_id").isin(ids: _*))
    tr.span("Dedup.append")(Dedup.appendIndex(acc.select("doc_id", "text"), "doc_id", "text", prefix, buckets = buckets))
    tr.span("Dedup.emb_append")(Dedup.appendEmbIndex(acc.select("doc_id", "vec"), "doc_id", "vec", dim,
      embPrefix, buckets = buckets))
    tr.span("Similarity.ivf_append")(Similarity.appendIvfLists(acc.select("doc_id", "vec"), "doc_id", "vec",
      centroids, ivfPath))
    if (batchNo % every == 0) tr.span("Dedup.compact") {
      Dedup.compactIndex(spark, prefix)
      Dedup.compactEmbIndex(spark, embPrefix)
      Similarity.compactIvfLists(spark, ivfPath, Similarity.ivfCells(spark, ivfPath))
    }
    ids
  }

  /** New documents must all be accepted and exact duplicates never; the
    * LSH stage may miss a near duplicate, which is counted toward
    * `quality.near_dup_recall` rather than failed. */
  private def check(b: Batch, ids: Seq[Long], batchNo: Int): Option[String] = {
    val got = ids.toSet
    nearPlanted += b.near.size; nearMissed += (got & b.near).size
    val rejected = b.fresh -- got; val exactIn = got & b.exact
    if (rejected.isEmpty && exactIn.isEmpty && got.size == ids.size) None
    else Some(s"batch $batchNo: new docs rejected: ${rejected.toSeq.sorted.take(5).mkString(" ")}; " +
      s"exact duplicates accepted: ${exactIn.toSeq.sorted.take(5).mkString(" ")}; ids ${ids.size}/${got.size}")
  }
  private var nearPlanted = 0; private var nearMissed = 0

  def setup(spark: SparkSession, dir: String, tr: Tracer, round: Int): Seq[String] = {
    prefix = s"ingest_idx_$round"; embPrefix = s"ingest_emb_$round"
    ivfPath = new java.io.File(s"ivf_lists_$round").getAbsolutePath
    val corpus = tr.span("Tables.resolve")(Tables.load(spark, dir, "documents"))
    tr.span("Dedup.writeIndex") {
      Dedup.writeIndex(corpus.select("doc_id", "text"), "doc_id", "text", prefix, buckets = buckets)
      Dedup.writeEmbIndex(corpus.select("doc_id", "vec"), "doc_id", "vec", dim, embPrefix,
        nBands = 8, rowsPerBand = 6, buckets = buckets)
      Similarity.writeIvfLists(corpus.select("doc_id", "vec"), "doc_id", "vec", centroids, ivfPath)
    }
    baseText = base.map(_.getString(1).getBytes("UTF-8").length.toLong).sum
    val fpDigest = Digest.ofRows(spark.table(s"${prefix}_fp").collect())
    // the warm-up is the sequence's first batch
    accepted.clear()
    val ids = ingest(spark, tr, batches(0), 0)
    accepted ++= ids; nextBatch = 1
    val d = Seq(fpDigest, Digest.of(ids.map(Seq(_)))).mkString("|")
    val prev = recorded.put("build+batch0", d)
    (prev.filter(_ != d).map(p => s"build+batch0: digest $d differs from set-up round 0 ($p)") ++
      check(batches(0), ids, 0)).toSeq
  }

  private def fsWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  def measure(spark: SparkSession, tr: Tracer, deadlineNs: Long): Measured = {
    val ops = Seq.newBuilder[OpRecord]; val lat = Seq.newBuilder[Double]
    val failures = Seq.newBuilder[String]
    var attempted = 0; var docs = 0L; var text = 0L; var fresh = 0L
    nearPlanted = 0; nearMissed = 0
    val w0 = fsWritten()
    val start = System.nanoTime()
    // whole compaction cycles (batch 0, the warm-up, ended with a
    // compaction; batches 1..k end with the next), so every run weighs
    // appends and compactions alike
    do {
      val b = batches(nextBatch); val no = nextBatch
      nextBatch += 1; attempted += 1
      val (op, r) = Workload.timedOp(spark, tr, "ingest.batch")(ingest(spark, tr, b, no))
      ops += op; lat += (op.endNs - op.startNs) / 1e6
      r match {
        case Left(e) => failures += s"batch $no: ${Workload.describe(e)}"
        case Right(ids) =>
          accepted ++= ids; docs += b.rows.size; text += b.textBytes; fresh += ids.size
          check(b, ids, no).foreach(failures += _)
      }
    } while (((nextBatch - 1) % every != 0 || System.nanoTime() < deadlineNs) && nextBatch < batches.size)
    val wallS = (System.nanoTime() - start) / 1e9
    val written = fsWritten() - w0
    val filesPerBucket = Seq(s"${prefix}_fp", s"${prefix}_bands", s"${prefix}_sets",
      s"${embPrefix}_bands", s"${embPrefix}_vecs").map(t => maxFilesPerBucket(spark, t)).max
    failures ++= finalChecks(spark)
    val indexBytes = (Seq(s"${prefix}_fp", s"${prefix}_bands", s"${prefix}_sets", s"${embPrefix}_bands",
      s"${embPrefix}_vecs").map(t => location(spark, t)) :+ ivfPath).map(p => du(new java.io.File(p))).sum
    val indexedText = baseText + accepted.flatMap(id => textOf.get(id)).map(_.getBytes("UTF-8").length.toLong).sum
    val l = lat.result()
    Measured(l, docs.toDouble, wallS, ops.result(), attempted, failures.result(), Map(
      "index.files_per_bucket_max" -> filesPerBucket.toDouble,
      "index.bytes_written_mb" -> written / 1048576.0 / math.max(l.size, 1),
      "index.accept_ratio" -> (if (docs > 0) fresh.toDouble / docs else 0.0),
      "quality.near_dup_recall" -> (if (nearPlanted > 0) 1.0 - nearMissed.toDouble / nearPlanted else 0.0),
      "index.write_amp" -> (if (text > 0) written.toDouble / text else 0.0),
      "index.space_amp" -> indexBytes.toDouble / indexedText))
  }

  private lazy val textOf: Map[Long, String] =
    (base ++ batches.flatMap(_.rows)).map(r => r.getLong(0) -> r.getString(1)).toMap

  /** Invariant 1: the index fingerprints are exactly those of the base
    * corpus plus every accepted document. Invariant 2: no accepted
    * document duplicates an earlier one (its fingerprint is new). */
  private def finalChecks(spark: SparkSession): Seq[String] = {
    import spark.implicits._
    spark.catalog.refreshTable(s"${prefix}_fp")
    val inIndex = spark.table(s"${prefix}_fp").as[String].collect().sorted.toSeq
    val docsIn = (base.map(_.getLong(0)) ++ accepted).map(id => (id, textOf(id)))
    val fps = docsIn.toDF("doc_id", "text").select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .as[(Long, String)].collect().toMap
    val want = docsIn.map(d => fps(d._1)).sorted
    val inv1 = if (inIndex == want) None
      else Some(s"index fingerprints (${inIndex.size}) differ from base+accepted docs (${want.size})")
    val seen = scala.collection.mutable.HashSet.from(base.map(r => fps(r.getLong(0))))
    val dupes = accepted.count(id => !seen.add(fps(id)))
    val inv2 = if (dupes == 0) None else Some(s"$dupes accepted documents duplicate an earlier one")
    (inv1 ++ inv2).toSeq
  }

  private def location(spark: SparkSession, table: String): String =
    new java.io.File(new java.net.URI(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).location.toString)).getPath

  private def du(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L) else f.length()

  private val BucketFile = """.*_(\d{5})(?:\.c\d+)?\..*""".r
  private def maxFilesPerBucket(spark: SparkSession, table: String): Int = {
    val files = Option(new java.io.File(location(spark, table)).listFiles()).getOrElse(Array.empty)
    val byBucket = files.map(_.getName).collect { case BucketFile(b) => b }.groupBy(identity)
    if (byBucket.isEmpty) 0 else byBucket.values.map(_.length).max
  }
}

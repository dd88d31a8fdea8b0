package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.operators.{Dedup, Graph, Similarity, TextOps}

/** One caller runs a fixed, seeded job list per pass: the iterative graph
  * operators over the customer–supplier co-purchase graph, corpus and
  * embedding near-dup detection, two ANN searches and BM25 retrieval.
  * Timed passes sink every result through `write.format("noop")`; the
  * warm-up pass of each set-up collects the same results and checks them. */
final class BatchAnalytics(cfg: Config, seed: Long) extends Workload {
  val name = "batch_analytics"
  private def n(k: String) = cfg.int(name, k)
  private val rng = new Rng(seed)
  private val dim = n("embedding_dim")

  // ---- generated inputs -------------------------------------------------------
  private val orderRows: Array[Row] = {
    val r = rng.fork("orders"); val z = new Zipf(n("customers"), 0.8)
    Array.tabulate(n("orders"))(i => Row(i.toLong + 1, z.sample(r).toLong + 1))
  }
  private val lineRows: Array[Row] = {
    val r = rng.fork("lineitem"); val z = new Zipf(n("suppliers"), 0.8)
    orderRows.flatMap { o =>
      Seq.fill(1 + r.nextInt(n("lineitems_per_order_max")))(Row(o.getLong(0), z.sample(r).toLong + 1))
    }
  }
  private val (docRows, docOriginals, nExact, nNear): (Array[Row], Int, Int, Int) = {
    val r = rng.fork("docs"); val z = new Zipf(n("vocabulary"), 0.8)
    val base = Array.fill(n("documents"))(Text.doc(r, z, n("doc_tokens")))
    val exact = Array.fill((base.length * cfg.dbl(name, "doc_exact_dup_rate")).toInt)(base(r.nextInt(base.length)))
    val near = Array.fill((base.length * cfg.dbl(name, "doc_near_dup_rate")).toInt)(
      Text.nearDup(r, z, base(r.nextInt(base.length))))
    ((base ++ exact ++ near).zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, base.length,
      exact.length, near.length)
  }
  private val (embRows, plantedPairs): (Array[Row], Set[(Long, Long)]) = {
    val r = rng.fork("emb")
    def unit(v: Array[Double]) = { val l = math.sqrt(v.map(x => x * x).sum); v.map(_ / l) }
    val base = Array.fill(n("embeddings"))(unit(Array.fill(dim)(r.gaussian())))
    val noise = cfg.dbl(name, "embedding_noise")
    val dups = Array.fill((base.length * cfg.dbl(name, "embedding_near_dup_rate")).toInt) {
      val src = r.nextInt(base.length)
      (src, unit(base(src).map(_ + noise * r.gaussian())))
    }
    val rows = base.zipWithIndex.map { case (v, i) => Row(i.toLong, v.toSeq) } ++
      dups.zipWithIndex.map { case ((_, v), j) => Row((base.length + j).toLong, v.toSeq) }
    (rows, dups.zipWithIndex.map { case ((src, _), j) => (src.toLong, (base.length + j).toLong) }.toSet)
  }
  private val knnIds: Seq[Long] = {
    val r = rng.fork("knn"); Seq.fill(n("knn_queries"))(r.nextInt(n("embeddings")).toLong).distinct
  }
  private val bm25Queries: Seq[(Long, String)] = {
    val r = rng.fork("bm25")
    (1 to n("bm25_queries")).map { q =>
      val toks = docRows(r.nextInt(docOriginals)).getString(1).split(" ")
      (q.toLong, Seq.fill(3)(toks(r.nextInt(toks.length))).mkString(" "))
    }
  }

  def prepare(spark: SparkSession, dir: String): Unit = Workload.cached(dir) {
    Workload.writeParquet(spark, orderRows.toSeq, StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType))), s"$dir/orders.parquet", 4)
    Workload.writeParquet(spark, lineRows.toSeq, StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_suppkey", LongType))), s"$dir/lineitem.parquet", 4)
    Workload.writeParquet(spark, docRows.toSeq, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))), s"$dir/documents.parquet", 4)
    Workload.writeParquet(spark, embRows.toSeq, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType)))), s"$dir/embeddings.parquet", 4)
  }

  // ---- the job list -------------------------------------------------------------
  private var jobs: Seq[(String, String, () => DataFrame)] = Nil

  private def buildJobs(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir); val o = Tables.orders(spark, dir)
    // customer k ↦ node 2k, supplier k ↦ node 2k+1
    def pairs = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select((col("o_custkey") * 2L).as("src"), (col("l_suppkey") * 2L + 1L).as("dst")).distinct()
    def edges = pairs.select(explode(array(struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    def weighted = edges.withColumn("w", pmod(col("src") + col("dst"), lit(7L)) + 1L)
    def seeds = edges.select(col("src").as("node")).distinct()
      .filter(pmod(xxhash64(col("node"), lit(seed)), lit(n("sssp_seed_modulus").toLong)) === 0)
    def docs = Tables.spread(spark, Tables.documents(spark, dir))
    def emb = Tables.spread(spark, Tables.embeddings(spark, dir))
    def queries = emb.filter(col("vec_id").isin(knnIds: _*))
    val qs = bm25Queries.toDF("query_id", "query_text")
    jobs = Seq(
      ("Graph", "pageRank", () => Graph.pageRank(edges, iters = n("pagerank_iters"), d = 0.85)),
      ("Graph", "hits", () => Graph.hits(edges, iters = n("hits_iters"))),
      ("Graph", "labelPropagation", () => Graph.labelPropagation(edges, rounds = n("label_rounds"))),
      ("Graph", "shortestPaths", () => Graph.shortestPaths(weighted, seeds, rounds = n("sssp_rounds"))),
      ("Graph", "kCorePeel", () => Graph.kCorePeel(edges, k = n("kcore_k"), rounds = n("kcore_rounds"))),
      ("Dedup", "dedupCorpus", () => Dedup.dedupCorpus(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.5, maxDf = 100).select("doc_id")),
      ("Dedup", "embeddingNearDups", () => Dedup.embeddingNearDups(emb, "vec_id", "embedding",
        dim = dim, threshold = 0.9, nBands = 8, rowsPerBand = 6)),
      ("Similarity", "ivfKnn", () => Similarity.ivfKnn(emb, queries, "vec_id", "embedding",
        k = 10, nCentroids = 16, nprobe = 2, dim = dim)),
      ("Similarity", "lshKnn", () => Similarity.lshKnn(emb, queries, "vec_id", "embedding",
        dim = dim, nPlanes = 6, k = 10)),
      ("TextOps", "bm25TopK", () => TextOps.bm25TopK(docs, "doc_id", "text", qs,
        "query_id", "query_text", k = 10)))
  }

  private val recorded = scala.collection.mutable.LinkedHashMap.empty[String, String]
  def digests: Map[String, String] = recorded.toMap

  /** Invariants that hold for any seed, from what the generator planted.
    * The near-dup stages are LSH-based: a missed planted near duplicate
    * lowers `quality.near_dup_recall`; a dropped original, a surviving
    * exact copy or an unverified pair is a failure. */
  private def invariant(job: String, rows: Array[Row]): Option[String] = job match {
    case "dedupCorpus" =>
      val kept = rows.map(_.getLong(0)).toSet
      val lost = (0L until docOriginals).filterNot(kept)
      val exactKept = (docOriginals.toLong until docOriginals + nExact).filter(kept)
      nearPlanted += nNear; nearMissed += (docOriginals + nExact until docRows.length).count(i => kept(i.toLong))
      if (lost.isEmpty && exactKept.isEmpty) None
      else Some(s"dedupCorpus dropped originals ${lost.take(5).mkString(" ")}; kept exact copies ${exactKept.take(5).mkString(" ")}")
    case "embeddingNearDups" =>
      val got = rows.map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1)))).toSet
      nearPlanted += plantedPairs.size; nearMissed += (plantedPairs -- got).size
      val low = rows.filter(_.getDouble(2) < 0.9)
      if (low.isEmpty) None else Some(s"embeddingNearDups returned ${low.length} pairs below the threshold")
    case _ => if (rows.nonEmpty) None else Some(s"$job returned no rows")
  }
  var nearPlanted = 0; var nearMissed = 0
  def nearDupRecall: Double = if (nearPlanted > 0) 1.0 - nearMissed.toDouble / nearPlanted else 0.0

  def setup(spark: SparkSession, dir: String, tr: Tracer, round: Int): Seq[String] = {
    tr.span("Tables.resolve") {
      Seq("orders", "lineitem", "documents", "embeddings").foreach(t => Tables.load(spark, dir, t))
      buildJobs(spark, dir)
    }
    jobs.flatMap { case (_, job, f) =>
      try {
        val rows = f().collect()
        val d = Digest.ofRows(rows)
        val prev = recorded.put(job, d)
        prev.filter(_ != d).map(p => s"$job: digest $d differs from set-up round 0 ($p)")
          .orElse(invariant(job, rows))
      } catch { case e: Throwable if scala.util.control.NonFatal(e) => Some(s"$job: ${Workload.describe(e)}") }
    }
  }

  def measure(spark: SparkSession, tr: Tracer, deadlineNs: Long): Measured = {
    val ops = Seq.newBuilder[OpRecord]; val passes = Seq.newBuilder[Double]
    val failures = Seq.newBuilder[String]
    var attempted = 0; var done = 0
    val start = System.nanoTime()
    do {
      val p0 = System.nanoTime()
      jobs.foreach { case (layer, job, f) =>
        attempted += 1
        val (op, r) = Workload.timedOp(spark, tr, s"batch.$job") {
          val df = tr.span(s"$layer.$job.call")(f())
          tr.span(s"$layer.$job.sink")(df.write.format("noop").mode("overwrite").save())
        }
        ops += op
        r match {
          case Left(e) => failures += s"$job: ${Workload.describe(e)}"
          case Right(_) => done += 1
        }
      }
      passes += (System.nanoTime() - p0) / 1e6
    } while (System.nanoTime() < deadlineNs)
    val wallS = (System.nanoTime() - start) / 1e9
    Measured(passes.result(), done.toDouble, wallS, ops.result(), attempted, failures.result(), Map.empty)
  }

  /** Candidate vs verified pairs of the corpus dedup (traced runs only). */
  def verifiedPerCandidate(spark: SparkSession, dir: String): Double = {
    val docs = Tables.spread(spark, Tables.documents(spark, dir))
    val cand = Dedup.minhashCandidates(docs, "doc_id", "text", 3, 100).count()
    val ver = Dedup.minhashVerifiedPairs(docs, "doc_id", "text", 3, 0.5, 100).count()
    if (cand > 0) ver.toDouble / cand else 0.0
  }
}

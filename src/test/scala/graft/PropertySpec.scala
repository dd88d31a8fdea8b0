package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import graft.operators.{Dedup, Relational => R}

/** SURVEY §5.3 — property-based invariants (ScalaCheck): pagination
  * partitions the ordered set exactly; bbox contains all inputs; validation
  * predicates; dedup idempotence; minhash determinism. Generators drive the
  * *parameters*; Spark executes once per case on small literal data. */
object PropertySpec extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("PropertySpec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(LocalSession.codegenCacheConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  import scala.language.reflectiveCalls

  property("pagination partitions [1..n] exactly") =
    Prop.forAll(Gen.choose(0, 40), Gen.choose(1, 12)) { (n: Int, size: Int) =>
      import spark.implicits._
      val df = (1 to n).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      val pages = math.ceil(n.toDouble / size).toInt.max(1)
      val seen = (1 to pages).flatMap(p =>
        R.page(df, p, size, col("k").asc).select("k").as[Long].collect())
      val meta = R.paginationMeta(df, size).as[(Long, Long)].collect().head
      seen == (1L to n.toLong) &&
        meta._1 == n.toLong &&
        meta._2 == math.ceil(n.toDouble / size).toLong
    }

  property("bbox aggregate bounds every generated point") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(-180.0, 180.0), Gen.choose(-90.0, 90.0)))) { ps =>
      import spark.implicits._
      val df = ps.map { case (lo, la) => ("g", lo, la) }.toDF("g", "lon", "lat")
      val Array(bb) = R.bboxAgg(df, Seq("g"), col("lon"), col("lat"))
        .select("min_lon", "max_lon", "min_lat", "max_lat")
        .as[(Double, Double, Double, Double)].collect()
      ps.forall { case (lo, la) =>
        lo >= bb._1 && lo <= bb._2 && la >= bb._3 && la <= bb._4 }
    }

  property("exact dedup is idempotent") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d"))) { texts =>
      import spark.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val once = Dedup.exactDedup(df, "doc_id", col("text"))
      val kept = once.select(col("keep_id").as("doc_id"), col("key").as("text"))
      val twice = Dedup.exactDedup(kept, "doc_id", col("text"))
      twice.filter(col("n_dups") > 1).count() == 0 &&
        twice.count() == once.count()
    }

  property("minhash signature deterministic, fixed length, mod-P bounded") =
    Prop.forAll(Gen.listOfN(6, Gen.alphaLowerStr.suchThat(_.nonEmpty))) { words =>
      import spark.implicits._
      val text = (words ++ words).mkString(" ")
      val df = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
      val sigs = Dedup.minhashSignatureAgg(df, "doc_id", "text", shingleN = 1)
        .select("sig").as[Seq[Long]].collect()
      sigs.length == 2 && sigs(0) == sigs(1) &&
        sigs(0).length == Dedup.NumHashes &&
        sigs(0).forall(v => v >= 0 && v < Dedup.P)
    }

  property("hyperplane_bands matches the driver-side sign computation") =
    Prop.forAll(Gen.listOfN(8, Gen.choose(-5.0, 5.0))) { v =>
      import spark.implicits._
      import graft.operators.Similarity
      val got = Seq(Tuple1(v)).toDF("a")
        .select(Similarity.bandBuckets(col("a"), 8, 2, 3).as("b"))
        .as[Seq[String]].collect().head
      val want = (0 until 2).map { b =>
        (0 until 3).map { r =>
          val p = b * 3 + r
          val s = v.zipWithIndex
            .map { case (x, i) => x * Similarity.planeWeight(p, i) }
            .foldLeft(0.0)(_ + _)
          if (s >= 0) '1' else '0'
        }.mkString
      }
      got == want
    }

  property("topDotIndices returns top-n by inner product, ties to lower index") =
    Prop.forAll(
      Gen.listOfN(6, Gen.listOfN(4, Gen.choose(-3.0, 3.0))),
      Gen.listOfN(4, Gen.choose(-3.0, 3.0)),
      Gen.choose(1, 6)) { (m, v, n) =>
      import spark.implicits._
      import graft.operators.Similarity
      val matrix = m.map(_.toArray).toArray
      val got = Seq(Tuple1(v)).toDF("v")
        .select(Similarity.topDotIndices(col("v"), matrix, n).as("idx"))
        .as[Seq[Int]].collect().head
      val scores = matrix.map(row =>
        row.zip(v).map { case (a, b) => a * b }.foldLeft(0.0)(_ + _))
      val want = scores.zipWithIndex.sortBy { case (s, i) => (-s, i) }
        .take(n).map(_._2).toSeq
      got == want
    }

  property("coordinate validation accepts exactly the in-range domain") =
    Prop.forAll(Gen.choose(-400.0, 400.0), Gen.choose(-200.0, 200.0)) { (lon, lat) =>
      import spark.implicits._
      val got = Seq((lon, lat)).toDF("lon", "lat")
        .select(R.validCoords(col("lon"), col("lat")).as("ok"))
        .as[Boolean].collect().head
      got == (lat >= -90 && lat <= 90 && lon >= -180 && lon <= 180)
    }

  property("simhash32 expression matches an independent scala model") =
    Prop.forAll(Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr, Gen.const(""), Gen.const("düne ✓")))) { toks =>
      import spark.implicits._
      val got = Seq(Tuple1(toks)).toDF("toks")
        .select(Dedup.simhash32(col("toks")).as("h")).as[Long].collect().head
      // independent model: first 4 md5 bytes unsigned; strict sign rule
      val sums = new Array[Int](32)
      toks.foreach { t =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8"))
        val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        (0 until 32).foreach(j =>
          if (((h >>> j) & 1L) == 1L) sums(j) += 1 else sums(j) -= 1)
      }
      val want = (0 until 32).map(j => if (sums(j) > 0) 1L << j else 0L).sum
      got == want
    }

  property("dot_product expression is bit-identical to the HOF aggregate form") =
    Prop.forAll(
      Gen.listOfN(6, Gen.choose(-10.0, 10.0)),
      Gen.listOfN(6, Gen.choose(-10.0, 10.0))) { (a, b) =>
      import spark.implicits._
      import graft.operators.Similarity
      val df = Seq((a, b)).toDF("a", "b")
      val Array((native, hof)) = df.select(
        Similarity.dotU(col("a"), col("b"), 6).as("n"),
        Similarity.dot(col("a"), col("b")).as("h"))
        .as[(Double, Double)].collect()
      java.lang.Double.doubleToLongBits(native) ==
        java.lang.Double.doubleToLongBits(hof)
    }

  // random convex-ish polygons: a center plus sorted angular offsets with
  // varying radii — always simple (non-self-intersecting), 3-7 vertices
  private val polyGen: Gen[Seq[Seq[Double]]] = for {
    cx <- Gen.choose(-50.0, 50.0)
    cy <- Gen.choose(-50.0, 50.0)
    n <- Gen.choose(3, 7)
    radii <- Gen.listOfN(n, Gen.choose(1.0, 15.0))
  } yield radii.zipWithIndex.map { case (r, i) =>
    val th = 2 * math.Pi * i / n
    Seq(cx + r * math.cos(th), cy + r * math.sin(th))
  }

  property("polygons_overlap: symmetric; far-translated copies are disjoint; near copies overlap") =
    Prop.forAll(polyGen, polyGen) { (a, b) =>
      import spark.implicits._
      import graft.operators.Spatial
      GraftExtensions.register(spark)
      // max radius 15 around centers within ±50 → +1000 is far disjoint;
      // a (0.1, 0.0731) nudge is well under the ≥0.39 center-to-boundary
      // floor of these star polygons, so interiors genuinely overlap (the
      // odd direction avoids exactly-parallel collinear edge contact,
      // which the predicate's strict crossing test deliberately excludes)
      val far = a.map(p => Seq(p.head + 1000.0, p(1)))
      val near = a.map(p => Seq(p.head + 0.1, p(1) + 0.0731))
      val df = Seq((a, b, far, near)).toDF("a", "b", "far", "near")
      val Array((ab, ba, fr, nr)) = df.select(
        Spatial.polygonsOverlap(col("a"), col("b")).as("ab"),
        Spatial.polygonsOverlap(col("b"), col("a")).as("ba"),
        Spatial.polygonsOverlap(col("a"), col("far")).as("fr"),
        Spatial.polygonsOverlap(col("a"), col("near")).as("nr"))
        .as[(Boolean, Boolean, Boolean, Boolean)].collect()
      ab == ba && !fr && nr
    }

  // random tiny corpora from a 6-word vocabulary force heavy tf/df/tie
  // structure; the distributed BM25 must equal a sequential reference model
  private val vocab = Vector("a", "b", "c", "d", "e", "f")
  private val docGen = Gen.listOfN(8, Gen.choose(1, 6).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf(vocab)))).map(_.map(_.mkString(" ")))

  property("bm25TopK equals a sequential reference model on random corpora") =
    Prop.forAll(docGen, Gen.someOf(vocab)) { (texts, qterms0) =>
      import spark.implicits._
      import graft.operators.TextOps
      val qterms = qterms0.toSeq.distinct.sorted
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val qs = Seq((1L, qterms.mkString(" "))).toDF("query_id", "query_text")
      val got = TextOps.bm25TopK(docs, "doc_id", "text", qs, "query_id", "query_text", k = 4)
        .orderBy("rank").select("doc_id", "score").as[(Long, Double)].collect().toSeq
      // sequential reference
      val toks = texts.map(_.split(" ").filter(_.nonEmpty).toSeq)
      val n = texts.size.toDouble
      val tf = toks.zipWithIndex.flatMap { case (ts, i) =>
        ts.groupBy(identity).map { case (t, g) => ((i.toLong, t), g.size.toLong) } }.toMap
      val df_ = toks.flatMap(_.distinct).groupBy(identity).map { case (t, g) => (t, g.size.toLong) }
      val dls = toks.zipWithIndex.collect { case (ts, i) if ts.nonEmpty => (i.toLong, ts.size.toLong) }.toMap
      val avgdl = if (dls.isEmpty) 0.0 else dls.values.sum.toDouble / dls.size
      val expected = dls.keys.toSeq.map { d =>
        val s = qterms.filter(t => tf.contains((d, t))).map { t =>
          val idf = math.log((n - df_(t) + 0.5) / (df_(t) + 0.5) + 1.0)
          val raw = idf * (tf((d, t)) * 2.2) / (tf((d, t)) + 1.2 * (0.25 + 0.75 * dls(d) / avgdl))
          // Spark's Round(double) goes through BigDecimal.valueOf (shortest
          // string repr), not the exact binary expansion — mirror that
          BigDecimal(java.math.BigDecimal.valueOf(raw)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        }.sum
        (d, s.toDouble)
      }.filter(_._2 > 0).sortBy { case (d, s) => (-s, d) }.take(4)
      got == expected
    }

  property("editDistancePairs == brute force (banding has no holes)") =
    Prop.forAll(Gen.choose(2, 8), Gen.listOfN(24, Gen.choose(3, 40))) { (maxDist, lens) =>
      import spark.implicits._
      // strings over a 2-letter alphabet at varied lengths: plenty of
      // near-misses around the band boundaries
      val docs = lens.zipWithIndex.map { case (len, i) =>
        (i.toLong, "b", Seq.tabulate(len)(j => if ((j * 7 + i) % 3 == 0) "a" else "b").mkString)
      }
      val df = docs.toDF("doc_id", "lang", "text")
      val got = Dedup.editDistancePairs(df, "doc_id", "text", "lang", maxDist)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      def lev(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0 }
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        d(a.length)(b.length)
      }
      val want = (for {
        (ida, la, ta) <- docs.map(d => (d._1, d._3.length, d._3))
        (idb, lb, tb) <- docs.map(d => (d._1, d._3.length, d._3))
        if ida < idb && math.abs(la - lb) <= maxDist && lev(ta, tb) <= maxDist
      } yield (ida, idb)).toSet
      got == want
    }

  property("radiusJoin == brute-force haversine (wrap/pole candidates complete)") =
    Prop.forAll(Gen.choose(50.0, 2000.0), Gen.choose(0L, 1000000L)) { (radius, seed) =>
      import spark.implicits._
      // deterministic pseudo-random points biased toward the seam and poles
      def pt(i: Long): (Double, Double) = {
        val h = (i * 2654435761L + seed) & 0x7fffffffL
        val lon = (h % 3600) / 10.0 - 180.0
        val lat = ((h / 3600) % 1800) / 10.0 - 90.0
        (if (i % 3 == 0) math.signum(lon) * math.min(180.0, math.abs(lon) + 150) else lon,
         if (i % 4 == 0) math.signum(lat) * math.min(90.0, math.abs(lat) + 70) else lat)
      }
      val pts = (0L until 30L).map(i => { val (lo, la) = pt(i); (i, lo, la) })
      val qs = (100L until 110L).map(i => { val (lo, la) = pt(i); (i, lo, la) })
      val got = graft.operators.Spatial.radiusJoin(
          pts.toDF("pid", "lon", "lat"), "pid", "lon", "lat",
          qs.toDF("qid", "qlon", "qlat"), "qid", "qlon", "qlat", radius, cellDeg = 10.0)
        .select("qid", "pid").as[(Long, Long)].collect().toSet
      def hav(lo1: Double, la1: Double, lo2: Double, la2: Double): Double = {
        val (p1, p2) = (math.toRadians(la1), math.toRadians(la2))
        val (dp, dl) = ((p2 - p1) / 2, (math.toRadians(lo2) - math.toRadians(lo1)) / 2)
        2 * 6371.0088 * math.asin(math.sqrt(
          math.sin(dp) * math.sin(dp) + math.cos(p1) * math.cos(p2) * math.sin(dl) * math.sin(dl)))
      }
      val want = (for {
        (qid, qlo, qla) <- qs; (pid, plo, pla) <- pts
        d = BigDecimal(java.math.BigDecimal.valueOf(hav(plo, pla, qlo, qla)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if d <= radius
      } yield (qid, pid)).toSet
      got == want
    }

  property("paretoClass matches the single-pass reference classification") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(1, 500)), Gen.choose(2, 7)) {
      (vals: List[Int], groups: Int) =>
      import spark.implicits._
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v.toDouble) }
        .toDF("k", "v")
      val got = graft.operators.Analyses.paretoClass(df, "k", "v", groups)
        .select("k", "abc_class").as[(Long, String)].collect().toMap
      // reference: exact cumulative over (v desc, k asc) with integer cents
      val sorted = vals.zipWithIndex
        .map { case (v, i) => (i.toLong, BigDecimal(v).setScale(2)) }
        .sortBy { case (k, v) => (-v, k) }
      val total = sorted.map(_._2).sum
      var cum = BigDecimal(0)
      val want = sorted.map { case (k, v) =>
        cum += v
        k -> (if (cum * 10 <= total * 8) "A"
              else if (cum * 100 <= total * 95) "B" else "C")
      }.toMap
      got == want
    }

  property("setSimilarityJoin equals the brute-force pair scan") =
    Prop.forAll(
      Gen.listOfN(6, Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d", "e", "f", "g"))),
      Gen.oneOf((1, 3), (1, 2), (2, 3), (3, 4))) { (sets, t) =>
      import spark.implicits._
      val (tn, td) = t
      val rows = sets.zipWithIndex.flatMap { case (toks, i) =>
        toks.map(w => (s"e$i", w)) }
      val df = rows.toDF("e", "tok")
      val got = Dedup.setSimilarityJoin(df, "e", "tok", tn, td)
        .select("e1", "e2", "n_common").as[(String, String, Long)]
        .collect().toSet
      val asSets = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val keys = asSets.keys.toSeq.sorted
      val want = (for {
        i <- keys; j <- keys if i < j
        inter = (asSets(i) & asSets(j)).size
        union = (asSets(i) | asSets(j)).size
        if inter > 0 && inter.toLong * td >= union.toLong * tn
      } yield (i, j, inter.toLong)).toSet
      got == want
    }

  property("maxConcurrent equals the brute-force sweep on integer intervals") =
    Prop.forAll(Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0, 20), Gen.choose(1, 10)))) { iv =>
      import spark.implicits._
      val rows = iv.map { case (st, len) => ("k", st.toLong, (st + len).toLong) }
      val df = rows.toDF("key", "s", "e")
      val got = graft.operators.Analyses.maxConcurrent(df,
          "key", col("s"), col("e"))
        .as[(String, Long)].collect().head._2
      // brute force: concurrency at every interval start
      val want = rows.map { case (_, s, _) =>
        rows.count { case (_, s2, e2) => s2 <= s && s < e2 }.toLong }.max
      got == want
    }
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.metrics.source.CodegenMetrics
import graft.operators.{Dedup, Graph}

/** SURVEY §2.12 — iterative graph analytics: PageRank against a sequential
  * reference model with the identical rounding contract. */
class GraphSpec extends SparkSuite {
  import spark.implicits._

  /** Sequential PR mirroring the operator's determinism contract:
    * contributions rounded to 12 dp and summed exactly, teleport+damping in
    * doubles, result rounded to 12 dp. */
  private def refPageRank(edges: Seq[(String, String)], iters: Int,
                          d: Double): Map[String, Double] = {
    val out = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val in = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    def r12(x: Double): Double =
      BigDecimal(java.math.BigDecimal.valueOf(x))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      r = nodes.map { v =>
        val inflow = in.getOrElse(v, Nil)
          .map(u => BigDecimal(java.math.BigDecimal.valueOf(r12(r(u) / out(u)))))
          .sum.toDouble
        v -> r12((1.0 - d) / n + d * inflow)
      }.toMap
    }
    r
  }

  test("pageRank matches the sequential reference on a small undirected graph") {
    // path a-b-c-d plus a hub e connected to everyone
    val und = Seq("a" -> "b", "b" -> "c", "c" -> "d",
      "e" -> "a", "e" -> "b", "e" -> "c", "e" -> "d")
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = Graph.pageRank(edges, iters = 5, d = 0.85)
      .as[(String, Double)].collect().toMap
    val want = refPageRank(und ++ und.map(_.swap), iters = 5, d = 0.85)
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-12, s"$k: got $v want ${want(k)}")
    }
    // the hub out-ranks the path ends; total mass stays <= 1 (no dangling)
    assert(got("e") > got("a") && got("e") > got("d"))
    assert(math.abs(got.values.sum - 1.0) < 1e-6)
  }

  test("bfsHops: shortest distances, unreachable excluded, maxHops bound") {
    // chain a->b->c->d->e plus shortcut a->c; f->g disconnected
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e",
      "a" -> "c", "f" -> "g").toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val got = Graph.bfsHops(edges, seeds, maxHops = 3)
      .as[(String, Int)].collect().toMap
    // a=0, b=1, c=1 (via shortcut, NOT 2), d=2, e=3; f/g unreachable
    assert(got == Map("a" -> 0, "b" -> 1, "c" -> 1, "d" -> 2, "e" -> 3), s"got $got")
    // maxHops truncates: e (distance 3) drops at maxHops=2
    val g2 = Graph.bfsHops(edges, seeds, maxHops = 2)
      .as[(String, Int)].collect().toMap
    assert(g2 == Map("a" -> 0, "b" -> 1, "c" -> 1, "d" -> 2))
    // multi-seed: min over seeds; a cycle must not loop forever
    val cyc = Seq("x" -> "y", "y" -> "z", "z" -> "x").toDF("src", "dst")
    val g3 = Graph.bfsHops(cyc, Seq("x", "z").toDF("node"), maxHops = 5)
      .as[(String, Int)].collect().toMap
    assert(g3 == Map("x" -> 0, "z" -> 0, "y" -> 1))
  }

  test("triangleCounts: hand-computed goldens on K4 + pendant + disjoint edge") {
    // K4 on {1,2,3,4} (4 triangles, each node in 3), pendant 5-1 (no
    // triangle), disjoint edge 6-7; duplicate/reversed inputs collapse
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 2L), (2L, 3L), // duplicates in both orientations
      (5L, 1L), (6L, 7L)).toDF("src", "dst")
    val got = Graph.triangleCounts(edges)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val want = Map(
      1L -> ((4L, 3L)), 2L -> ((3L, 3L)), 3L -> ((3L, 3L)), 4L -> ((3L, 3L)),
      5L -> ((1L, 0L)), 6L -> ((1L, 0L)), 7L -> ((1L, 0L)))
    assert(got == want, s"got $got")
    // self-loops never create triangles
    val loop = Seq((1L, 1L), (1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val lg = Graph.triangleCounts(loop).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(lg == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("labelPropagation: components converge to min id within round bound") {
    // two components {1,2,3} (path) and {7,8}; diameter 2 -> 3 rounds plenty
    val und = Seq((1L, 2L), (2L, 3L), (7L, 8L))
    val edges = (und ++ und.map(e => (e._2, e._1))).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L),
      s"got $got")
    // one round only reaches direct neighbors: 3 still labeled 2
    val one = Graph.labelPropagation(edges, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(one(3L) == 2L && one(1L) == 1L, s"got $one")
  }

  test("shortestPaths: weighted relax beats hop count, unreached absent") {
    // 1 -2-> 2 -2-> 3 and 1 -10-> 3: cheaper 2-hop path must win; 9 isolated
    val und = Seq((1L, 2L, 2L), (2L, 3L, 2L), (1L, 3L, 10L), (8L, 9L, 1L))
    val edges = (und ++ und.map(e => (e._2, e._1, e._3))).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    val got = Graph.shortestPaths(edges, seeds, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 2L, 3L -> 4L), s"got $got")
    // one round can't reach node 3 via the cheap path: direct edge wins
    val one = Graph.shortestPaths(edges, seeds, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(one(3L) == 10L, s"got $one")
  }

  test("a warm re-run of the graph and dedup job list reuses its compiled classes") {
    // The job list generates more distinct classes than Spark's default
    // codegen cache of 100 holds; with LocalSession.CodegenCacheMaxEntries
    // the second run finds every class the first one compiled. The residual
    // is generated code that inlines per-call values, so it differs between
    // runs: measured 0-14 warm against 214-238 cold, while at Spark's
    // default bound the warm run recompiled 269.
    val warmCompileResidual = 30L
    val li = Tables.lineitem(spark, sf)
    val o = Tables.orders(spark, sf)
    // customer k -> node 2k, supplier k -> node 2k+1
    val und = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select((col("o_custkey") * 2L).as("src"), (col("l_suppkey") * 2L + 1L).as("dst"))
      .distinct()
    val edges = und.union(und.select(col("dst").as("src"), col("src").as("dst")))
    val weighted = edges.withColumn("w", pmod(col("src") + col("dst"), lit(7L)) + 1L)
    val seeds = edges.select(col("src").as("node")).distinct()
      .filter(pmod(col("node"), lit(13L)) === 0)
    val docs = Tables.documents(spark, sf)
    val jobs = Seq[() => org.apache.spark.sql.DataFrame](
      () => Graph.pageRank(edges, iters = 2),
      () => Graph.hits(edges, iters = 2),
      () => Graph.labelPropagation(edges, rounds = 2),
      () => Graph.shortestPaths(weighted, seeds, rounds = 2),
      () => Graph.kCorePeel(edges, k = 2, rounds = 2),
      () => Dedup.dedupCorpus(docs, "doc_id", "text", shingleN = 3, threshold = 0.5))
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def runAll(): Long = {
      val c0 = compiles()
      jobs.foreach(job => assert(job().collect().nonEmpty))
      compiles() - c0
    }
    val cold = runAll()
    val warm = runAll()
    info(s"compiles: cold run $cold, warm run $warm")
    assert(warm <= warmCompileResidual, s"warm run recompiled $warm classes (cold run $cold)")
  }
}

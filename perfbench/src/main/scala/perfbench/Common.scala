package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row

/** Deterministic randomness: every input of a run derives from the seed
  * through splitmix64 streams, so the same seed gives the same inputs. */
final class Rng(seed: Long) {
  private var s = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def gaussian(): Double = {
    val u1 = math.max(nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * nextDouble())
  }
  def chance(p: Double): Boolean = nextDouble() < p
  def pick[T](xs: IndexedSeq[T]): T = xs(nextInt(xs.length))
  /** A child stream, independent of how much of this one was consumed. */
  def fork(tag: String): Rng = new Rng(seed * 31 + tag.hashCode.toLong)
}

/** Zipf(s) over ranks 0..n-1 by inverse-CDF lookup; rank 0 is hottest. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(r: Rng): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** Order-insensitive result digest: row count plus a wrapping sum of a
  * 64-bit hash over every column of every row. Doubles are compared at
  * nine significant digits so a changed summation order cannot flip it. */
object Digest {
  def norm(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d == 0.0) "0" else f"$d%.9g"
    case f: Float => norm(f.toDouble)
    case t: java.sql.Timestamp => "t" + t.getTime
    case i: Int => i.toString
    case b: java.math.BigDecimal => norm(b.doubleValue)
    case r: Row => r.toSeq.map(norm).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case a: Array[_] => a.toSeq.map(norm).mkString("[", ",", "]")
    case x => x.toString
  }
  def rowHash(values: Seq[Any]): Long = {
    val s = values.map(norm).mkString("\u0001")
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1234)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x7abc)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }
  def of(rows: Iterable[Seq[Any]]): String = {
    var n = 0L; var sum = 0L
    rows.foreach { r => n += 1; sum += rowHash(r) }
    f"$n:$sum%016x"
  }
  def ofRows(rows: Array[Row]): String = of(rows.toSeq.map(_.toSeq))
}

/** Latency summaries as defined in config.json's tail rule. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** Highest percentile with at least ten samples beyond it; returns
    * (value, percentile). Fewer than 11 samples: the maximum. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted; val n = s.length
    if (n == 0) (Double.NaN, 0.0)
    else if (n < 11) (s.last, 100.0)
    else {
      val idx = n - 11 // ten samples lie above index n-11
      (s(idx), 100.0 * (idx + 1) / n)
    }
  }
}

/** Minimal JSON writer: numbers print with all their digits. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case o => str(o.toString)
  }
}

/** Read-only view of perfbench/config.json. */
final class Config(root: JsonNode) {
  def node(path: String*): JsonNode = path.foldLeft(root)(_.get(_))
  def int(w: String, k: String): Int = node("workloads", w, k).asInt()
  def dbl(w: String, k: String): Double = node("workloads", w, k).asDouble()
  def global(k: String): JsonNode = root.get(k)
}
object Config {
  def load(path: String): Config =
    new Config(new ObjectMapper().readTree(new java.io.File(path)))
}

/** Synthetic text: tokens from a Zipf-skewed synthetic vocabulary. */
object Text {
  def word(i: Int): String = "w" + Integer.toString(i, 36)
  def doc(r: Rng, z: Zipf, tokens: Int): String =
    Iterator.fill(tokens)(word(z.sample(r))).mkString(" ")
  /** A near duplicate: one or two extra tokens appended (Jaccard over
    * 3-shingles stays above 0.95, far over the 0.5 threshold). */
  def nearDup(r: Rng, z: Zipf, text: String): String =
    text + " " + Iterator.fill(1 + r.nextInt(2))(word(z.sample(r))).mkString(" ")
  /** An exact duplicate after fingerprint normalization (case, spacing). */
  def exactDup(r: Rng, text: String): String =
    if (r.chance(0.5)) text.toUpperCase(java.util.Locale.ROOT) else "  " + text.replace(" ", "   ") + " "
}

package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** One timed interval: a layer call or a whole operation. `op` groups the
  * spans of one operation; `parent` is the enclosing span id (0 = none). */
final case class Span(id: Int, name: String, op: Long, parent: Int,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** An operation of the timed phase: its id, kind and wall interval. */
final case class OpRecord(id: Long, kind: String, startMs: Long, endMs: Long,
                          startNs: Long, endNs: Long, ok: Boolean)

/** Spans kept in memory and written out when the run ends. With tracing
  * off, `span` only runs its body, so timed runs pay nothing for it. */
final class Tracer(val enabled: Boolean) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val opIds = new AtomicLong(0)
  private val stack = new ThreadLocal[List[(Int, Long)]] {
    override def initialValue(): List[(Int, Long)] = Nil
  }

  def newOp(): Long = opIds.incrementAndGet()

  /** Run `body` as operation `op` of the calling thread; Spark jobs it
    * submits carry the op id as their job group. */
  def inOp[T](sc: org.apache.spark.SparkContext, op: Long, name: String)(body: => T): T = {
    sc.setJobGroup(op.toString, name, interruptOnCancel = false)
    val saved = stack.get()
    stack.set(Nil)
    try span(name, op)(body)
    finally { stack.set(saved); sc.clearJobGroup() }
  }

  def span[T](name: String, opOverride: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val st = stack.get()
      val (parent, op) = st.headOption.getOrElse((0, opOverride))
      val id = ids.incrementAndGet()
      stack.set((id, if (opOverride >= 0) opOverride else op) :: st)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(st)
        spans.add(Span(id, name, if (opOverride >= 0) opOverride else op, parent, t0, t1))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span: duration minus the union of its children's
    * intervals. */
  def selfTimes(ss: Seq[Span]): Map[Int, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> ((s.endNs - s.startNs - covered) / 1e6)
    }.toMap
  }

  /** Total length of the union of intervals (ns). */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

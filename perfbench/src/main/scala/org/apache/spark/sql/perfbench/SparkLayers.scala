package org.apache.spark.sql.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** What the scheduler and the SQL layer did, recorded per job group.
  *
  * Lives in Spark's package for two things Spark keeps package-private:
  * draining the listener bus before reading the counts, and the
  * QueryExecution carried by the SQL-execution-end event (its
  * QueryPlanningTracker holds the analysis/optimization/planning phase
  * times and the per-rule times). Everything is kept in memory; the
  * benchmark attributes it to operations once the run ends. */
final class SparkLayers extends SparkListener {
  final case class Job(id: Int, group: Option[String], startMs: Long,
                       var endMs: Long, stages: Seq[Int])
  final case class Stage(id: Int, var submitMs: Long, var firstLaunchMs: Long,
                         taskMs: mutable.ArrayBuffer[Long])
  final case class Exec(id: Long, group: Option[String], startMs: Long,
                        var endMs: Long, var analysisMs: Double,
                        var optimizationMs: Double, var planningMs: Double,
                        var graftRuleMs: Double)
  final class Totals {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var inputBytes = 0L
  }

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, Stage]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val execs = new ConcurrentHashMap[Long, Exec]()
  /** Task totals per stage. */
  val stageTotals = new ConcurrentHashMap[Int, Totals]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID)))
    jobs.put(e.jobId, Job(e.jobId, g, e.time, e.time, e.stageIds))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val st = stages.computeIfAbsent(e.stageInfo.stageId,
      id => Stage(id, 0L, Long.MaxValue, mutable.ArrayBuffer.empty))
    st.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.computeIfAbsent(e.stageId,
      id => Stage(id, 0L, Long.MaxValue, mutable.ArrayBuffer.empty))
    st.firstLaunchMs = math.min(st.firstLaunchMs, e.taskInfo.launchTime)
    st.taskMs += e.taskInfo.duration
    val t = stageTotals.computeIfAbsent(e.stageId, _ => new Totals)
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime; t.cpuNs += m.executorCpuTime; t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
    }
  }
  override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, Exec(s.executionId, s.jobGroupId, s.time, s.time, 0, 0, 0, 0))
    case e: SparkListenerSQLExecutionEnd =>
      Option(execs.get(e.executionId)).foreach { x =>
        x.endMs = e.time
        Option(e.qe).foreach { qe =>
          val ph = qe.tracker.phases
          def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
          x.analysisMs = ms("analysis"); x.optimizationMs = ms("optimization")
          x.planningMs = ms("planning")
          x.graftRuleMs = qe.tracker.rules.collect {
            case (name, r) if name.startsWith("graft.") => r.totalTimeNs
          }.sum / 1e6
        }
      }
    case _ =>
  }

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def allJobs: Seq[Job] = jobs.values().asScala.toSeq
  def allExecs: Seq[Exec] = execs.values().asScala.toSeq
}

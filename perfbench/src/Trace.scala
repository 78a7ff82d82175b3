package org.apache.spark.sql.graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** A timed interval at a layer boundary. `op` ties every span of one
  * operation together; `parent` is the enclosing span (-1 for the root).
  */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String, startNs: Long, endNs: Long) {
  def durMs: Double = (endNs - startNs) / 1e6
}

/** Counters one operation accumulates, attributed through its job group. */
final class OpCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var busyMs = 0L; var schedDelayMs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var planMs = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
}

object Intervals {
  /** Total length covered by the union of [start, end) intervals. */
  def union(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}

/** Spark listener behind the benchmark. It always records the plan that
  * fed each write sink (the materialisation guard reads it); with
  * `traced` it also attributes job, stage, task and planning counters to
  * the operation whose job group started them.
  */
final class Tracer(traced: Boolean) extends SparkListener {
  /** Output column names of the plan each write consumed, in order. */
  val writes = new ConcurrentLinkedQueue[Seq[String]]()
  private val counters = new ConcurrentHashMap[String, OpCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, (String, Long)]()
  @volatile var currentOp: String = ""

  def of(group: String): OpCounters = counters.computeIfAbsent(group, _ => new OpCounters)

  private def sinkInput(plan: SparkPlan): Option[Seq[String]] = plan match {
    case w: V2TableWriteExec => Some(w.query.output.map(_.name))
    case w: DataWritingCommandExec =>
      // WriteFilesExec outputs commit messages, not rows: its child feeds the files
      Some((w.child match { case f: WriteFilesExec => f.child; case c => c }).output.map(_.name))
    case c: CommandResultExec => sinkInput(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => sinkInput(a.executedPlan)
    case q: QueryStageExec => sinkInput(q.plan)
    case p => p.children.iterator.map(sinkInput).collectFirst { case Some(s) => s }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionEnd if e.qe != null =>
      sinkInput(e.qe.executedPlan).foreach(writes.add)
      if (traced && currentOp.nonEmpty) {
        val c = of(currentOp)
        c.synchronized { c.planMs += e.qe.tracker.phases.values.map(_.durationMs).sum }
      }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      jobGroup.put(e.jobId, (g, e.time))
      e.stageIds.foreach(stageGroup.put(_, g))
      val c = of(g); c.synchronized { c.jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) {
    Option(jobGroup.remove(e.jobId)).foreach { case (g, start) =>
      val c = of(g); c.synchronized { c.jobIntervals += ((start, e.time)) }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (traced) {
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val c = of(g); c.synchronized { c.stages += 1 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced) {
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val c = of(g)
      val m = e.taskMetrics
      val info = e.taskInfo
      c.synchronized {
        c.tasks += 1
        if (e.reason != Success) c.failedTasks += 1
        if (m != null) {
          c.busyMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.diskBytesSpilled
          if (info != null && info.finishTime > 0)
            c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime)
        }
      }
    }
  }

  def counterGroups: Map[String, OpCounters] = counters.asScala.toMap
}

package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Collects the progress report of every streaming trigger, from any
  * session: progress events travel on the SparkContext listener bus, so
  * the replays' cloned sessions are seen too. Installed in every run,
  * because per-trigger latency is an end-to-end metric.
  */
final class Progress extends SparkListener {
  private val seen = mutable.ArrayBuffer[StreamingQueryProgress]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      synchronized { seen += p.progress }
    case _ =>
  }

  /** Returns and forgets the progress reports received so far. */
  def take(): Seq[StreamingQueryProgress] = synchronized {
    val r = seen.toList; seen.clear(); r
  }
}

/** Span accounting for the traced run. The harness opens a span by job
  * group; jobs, stages and tasks are attributed to the span whose group
  * they carry. Streaming queries run their jobs under their own run id,
  * so a query started while a span is open is attributed to that span.
  * Writes are counted from the write command's SQL metrics (files, bytes,
  * rows), which the driver posts once per committed write. A traced
  * iteration attaches the tracer and drains the listener bus around every
  * span, so events are read while their span is still open.
  */
final class Tracer extends SparkListener {
  final class Acc {
    var jobs, tasks, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
    var rowsOut, files, bytesWritten = 0L
    var wallS = 0.0
    val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  }

  private val accs = mutable.LinkedHashMap[String, Acc]()
  private val stageSpan = mutable.Map[Int, String]()
  private val streamRuns = mutable.Map[String, String]()
  private val writeAccums = mutable.Map[Long, (String, String)]()
  /** Stages of jobs outside every span, labelled by group and description. */
  private val strayStages = mutable.Map[Int, String]()
  val stray = mutable.Map[String, Long]()
  @volatile private var active: String = null
  private var unattributed = 0L

  def open(span: String): Unit = synchronized {
    accs.getOrElseUpdate(span, new Acc); active = span
  }
  /** Closes the open span, adding `wallS` seconds to it. */
  def close(wallS: Double): Unit = synchronized {
    accs(active).wallS += wallS
    active = null
  }

  def spans: Seq[(String, Acc)] = synchronized { accs.toList }
  def unattributedTasks: Long = synchronized { unattributed }

  /** Largest ratio of slowest to median task time over the span's stages
    * that ran at least two tasks (1 when no stage did).
    */
  def skew(a: Acc): Double = synchronized {
    val per = a.taskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
    if (per.isEmpty) 1.0 else per.max
  }

  private def spanOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(g => if (accs.contains(g)) Some(g) else streamRuns.get(g))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties) match {
      case Some(s) =>
        accs(s).jobs += 1
        e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, s))
      case None =>
        val p = Option(e.properties)
        val label = Seq("spark.jobGroup.id", "spark.job.description")
          .map(k => p.flatMap(x => Option(x.getProperty(k))).getOrElse("-"))
          .mkString(":")
        e.stageIds.foreach(id => strayStages(id) = label)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId) match {
      case None =>
        unattributed += 1
        val label = strayStages.getOrElse(e.stageId, s"stage ${e.stageId}")
        stray(label) = stray.getOrElse(label, 0L) + 1
      case Some(s) =>
        val a = accs(s)
        a.tasks += 1
        a.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
          e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.diskBytesSpilled
        }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case q: StreamingQueryListener.QueryStartedEvent if active != null =>
        streamRuns(q.runId.toString) = active
      case s: SparkListenerSQLExecutionStart if active != null =>
        registerWrites(s.sparkPlanInfo, active)
      // adaptive re-planning gives the write command fresh accumulators
      case s: SparkListenerSQLAdaptiveExecutionUpdate if active != null =>
        registerWrites(s.sparkPlanInfo, active)
      case u: SparkListenerDriverAccumUpdates =>
        u.accumUpdates.foreach { case (id, v) =>
          writeAccums.get(id).foreach { case (span, kind) =>
            val a = accs(span)
            kind match {
              case "files" => a.files += v
              case "bytes" => a.bytesWritten += v
              case _ => a.rowsOut += v
            }
          }
        }
      case _ =>
    }
  }

  private def registerWrites(p: SparkPlanInfo, span: String): Unit = {
    if (p.nodeName.contains("InsertIntoHadoopFsRelationCommand"))
      p.metrics.foreach { m =>
        val kind = m.name match {
          case "number of written files" => Some("files")
          case "written output" => Some("bytes")
          case "number of output rows" => Some("rows")
          case _ => None
        }
        kind.foreach(k => writeAccums(m.accumulatorId) = (span, k))
      }
    p.children.foreach(registerWrites(_, span))
  }
}

package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-runtime counters of one key execution. Times are in the units
  * Spark reports them in: ms, except `cpuNs`. */
final class Counters {
  var jobs, stages, stagesRetried, tasks, tasksFailed = 0L
  var runMs, cpuNs, gcMs, deserMs = 0L
  var shWriteBytes, shWriteRecs, shReadBytes, fetchWaitMs = 0L
  var spillMemBytes, spillDiskBytes = 0L
  var inBytes, inRecs, outBytes, outRecs = 0L
  var analysisMs, optimizerMs, physicalMs, queries = 0L
  private[graftbench] val jobSpans = mutable.Map.empty[Int, (Long, Long)]
  private[graftbench] val taskRunMs =
    mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  /** Wall time covered by at least one job: the union of the job
    * intervals, so overlapping jobs (broadcasts, streaming batches) are
    * not counted twice. */
  def inJobsMs: Long = {
    val spans = jobSpans.values.filter { case (s, e) => e >= s }.toSeq.sortBy(_._1)
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    spans.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    total + (curE - curS)
  }

  /** Largest per-stage ratio of the slowest task to the median task;
    * 1.0 when no stage ran two or more tasks. */
  def taskSkew: Double = taskRunMs.values.filter(_.size >= 2).map { ts =>
    val s = ts.sorted
    s.last.toDouble / math.max(1L, s(s.size / 2))
  }.foldLeft(1.0)(_ max _)
}

/** Attributes Spark jobs, stages and tasks to the key that caused them.
  *
  * The benchmark thread sets [[Trace.KeyProp]] as a local property before
  * each key; jobs (and the jobs of streaming threads the key starts, which
  * inherit local properties) carry it in their start event. Query
  * executions carry no properties, so their planning phases go to
  * [[current]], which the benchmark thread only changes after draining the
  * listener bus.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  @volatile var current: String = null
  private val byTag = new ConcurrentHashMap[String, Counters]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobTag = new ConcurrentHashMap[Int, String]()

  private def of(tag: String): Counters =
    byTag.computeIfAbsent(tag, _ => new Counters)
  private def tagOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(q => Option(q.getProperty(Trace.KeyProp)))

  /** The counters of `tag`, removed from the trace. */
  def take(tag: String): Counters =
    Option(byTag.remove(tag)).getOrElse(new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    tagOf(e.properties).foreach { t =>
      jobTag.put(e.jobId, t)
      e.stageIds.foreach(stageTag.put(_, t))
      val c = of(t)
      c.synchronized { c.jobs += 1; c.jobSpans(e.jobId) = (e.time, -1L) }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobTag.remove(e.jobId)).foreach { t =>
      val c = of(t)
      c.synchronized {
        c.jobSpans.get(e.jobId).foreach { case (s, _) => c.jobSpans(e.jobId) = (s, e.time) }
      }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    tagOf(e.properties).orElse(Option(stageTag.get(e.stageInfo.stageId))).foreach { t =>
      stageTag.put(e.stageInfo.stageId, t)
      val c = of(t)
      c.synchronized {
        c.stages += 1
        if (e.stageInfo.attemptNumber() > 0) c.stagesRetried += 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageTag.get(e.stageId)).foreach { t =>
      val c = of(t)
      c.synchronized {
        c.tasks += 1
        if (e.reason != Success) c.tasksFailed += 1
        Option(e.taskMetrics).foreach { m =>
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.deserMs += m.executorDeserializeTime
          c.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shWriteRecs += m.shuffleWriteMetrics.recordsWritten
          c.shReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.spillMemBytes += m.memoryBytesSpilled
          c.spillDiskBytes += m.diskBytesSpilled
          c.inBytes += m.inputMetrics.bytesRead
          c.inRecs += m.inputMetrics.recordsRead
          c.outBytes += m.outputMetrics.bytesWritten
          c.outRecs += m.outputMetrics.recordsWritten
          c.taskRunMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
            mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
        }
      }
    }

  private def planned(qe: QueryExecution): Unit = Option(current).foreach { t =>
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val c = of(t)
    c.synchronized {
      c.queries += 1
      c.analysisMs += ms(QueryPlanningTracker.ANALYSIS)
      c.optimizerMs += ms(QueryPlanningTracker.OPTIMIZATION)
      c.physicalMs += ms(QueryPlanningTracker.PLANNING)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)
}

object Trace {
  val KeyProp = "graftbench.key"
}

package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Dev probe: run graded keys IN ORDER in one JVM with Bench's session,
  * warm-up and per-key mechanics ([[Bench.timeKey]]), and report where
  * each key's wall goes. Usage:
  *   tools/run.sh graft.Probe <sfDir> [--explain] <key> [key ...]
  *
  * Two passes over the keys; pass 2 is steady-state (fixtures and JIT
  * warm). One line per key and pass: rows, wall, scheduled jobs, seconds
  * inside jobs (the union of job intervals), and shuffle write bytes,
  * records and the peak of any one task. The listener bus is drained
  * around every key, so a key's counts are exactly its own events.
  * `--explain` then prints each key's formatted physical plan, after both
  * passes so that pass 1 stays cold. A failing key prints its error and
  * makes the exit status 1.
  */
object Probe {

  /** Counters of the key in flight, zeroed by a fresh instance per key. */
  private final class Counts {
    val jobStart = new ConcurrentHashMap[Int, Long]()
    val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()
    @volatile var jobs, shuffleBytes, shuffleRecords, peakTaskBytes = 0L

    /** Seconds during which at least one job ran. */
    def inJobsSeconds: Double = jobSpans.toArray(Array.empty[(Long, Long)])
      .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
        (sum + (e - (s max reach)).max(0L), reach max e)
      }._1 / 1e3
  }

  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.toSeq.partition(_.startsWith("--"))
    require(rest.length >= 2 && flags.forall(_ == "--explain"),
      "usage: graft.Probe <sfDir> [--explain] <key> [key ...]")
    val (sfDir, keys) = (rest.head, rest.tail)
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")
    val spark = Sessions.local(Sessions.cpus())
    Bench.warmUp(spark)
    @volatile var c = new Counts
    // the bus delivers on one thread, so the listener's updates never race
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = {
        c.jobs += 1; c.jobStart.put(s.jobId, s.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(c.jobStart.remove(e.jobId)).foreach(t0 => c.jobSpans.add((t0, e.time)))
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).map(_.shuffleWriteMetrics).foreach { w =>
          c.shuffleBytes += w.bytesWritten
          c.shuffleRecords += w.recordsWritten
          c.peakTaskBytes = c.peakTaskBytes max w.bytesWritten
        }
    })
    var failed = false
    for (pass <- 1 to 2; key <- keys) {
      GraftListenerBus.drain(spark.sparkContext)
      c = new Counts
      val (outcome, wall) = Bench.timeKey(spark, key, sfDir)
      GraftListenerBus.drain(spark.sparkContext)
      val result = outcome.fold(err => { failed = true; s"FAILED $err" },
        rows => f"rows=$rows jobs=${c.jobs} in_jobs=${c.inJobsSeconds}%.3f s " +
          s"shuffle_bytes=${c.shuffleBytes} shuffle_records=${c.shuffleRecords} " +
          s"peak_task_bytes=${c.peakTaskBytes}")
      println(f"[probe] $key pass$pass wall=$wall%.3f s $result")
    }
    // after the timed passes: constructing a key runs its eager writes
    // and fixture builds, which would otherwise land before pass 1
    if (flags.nonEmpty)
      keys.foreach(k => SparkEntry.queries(k)(spark, sfDir).explain("formatted"))
    spark.stop()
    if (failed) sys.exit(1)
  }
}

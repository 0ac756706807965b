package graft.tools

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-query stage/task/shuffle metrics collector — the Spark-native analogue
  * of the reference's per-bolt profiler
  * (`confidentialstorm/host/src/main/java/ch/usi/inf/confidentialstorm/host/profiling/BoltProfiler.java`:
  * per-bolt ECALL timings, tuple counters, lifecycle CSVs). On Spark the
  * scheduler already measures every stage and task, so parity is an attribution
  * problem, not a measurement one: the bench runs each query inside
  * [[QueryProfiler.inEntry]] and this listener buckets each completed stage
  * under the entry of the job that submitted it.
  *
  * Attribution is PER RUN: a bench entry executes its workload once per
  * lap (`SPARK_GRAFT_BENCH_REPEATS` laps, interleaved with the other arms
  * of its receipt group) and reports the MIN wall, so accumulating metrics
  * across laps would make task time exceed wall×cores by an order of
  * magnitude (a slow cold first lap folded into the same counters as the
  * reported fast one). The bench closes a run with
  * [[endRun]] after draining the listener bus; the snapshot keeps the metrics
  * of the run whose wall MATCHES the reported number — the min — so
  * `task_time_ms ≤ wall × cores` holds for every entry by construction
  * (asserted in the bench harness).
  *
  * Scale note: the listener keeps one small accumulator per query name plus
  * one kept-run record (a few counters each), independent of data size or
  * task count — safe at any scale.
  */
final class QueryProfiler extends SparkListener {
  import QueryProfiler.QueryMetrics

  private val stageGroup = mutable.Map[Int, String]() // stageId -> entry
  // metrics of the run currently executing per group (no endRun yet)
  private val live = mutable.Map[String, QueryMetrics]()
  // per group: the kept (min-wall successful) run, with the total run count
  private val kept = mutable.Map[String, QueryMetrics]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty(QueryProfiler.EntryProperty)))
      .getOrElse("")
    if (group.nonEmpty) e.stageIds.foreach(stageGroup(_) = group)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageGroup.remove(si.stageId).foreach { group =>
      val acc = live.getOrElseUpdate(group, QueryMetrics())
      acc.stages += 1
      acc.tasks += si.numTasks
      val m = si.taskMetrics
      if (m != null) {
        acc.taskTimeMs += m.executorRunTime
        acc.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        acc.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        acc.inputBytes += m.inputMetrics.bytesRead
        acc.outputRows += m.outputMetrics.recordsWritten
        acc.spilledBytes += m.memoryBytesSpilled
      }
    }
  }

  /** Close the run that just finished for `group` at `wallSec` (negative =
    * the run failed). Call after `ListenerBridge.waitUntilEmpty` so the
    * run's async stage events have drained into the live accumulator. The
    * kept record for the group becomes the SUCCESSFUL run with the smallest
    * wall so far — the one whose wall the bench reports. */
  def endRun(group: String, wallSec: Double): Unit = synchronized {
    val m = live.remove(group).getOrElse(QueryMetrics())
    m.wallSec = wallSec
    val prev = kept.get(group)
    val better = wallSec >= 0 &&
      prev.forall(p => p.wallSec < 0 || wallSec < p.wallSec)
    val next = if (better) m else prev.getOrElse(m)
    next.runs = prev.map(_.runs).getOrElse(0) + 1
    kept(group) = next
  }

  /** Immutable copy of the per-query metrics: for groups with closed runs,
    * the min-wall successful run (plus the total run count); for groups
    * still live (never [[endRun]]'d), whatever has accumulated. Call
    * `ListenerBridge.waitUntilEmpty` first so async events have drained. */
  def snapshot: Map[String, QueryMetrics] = synchronized {
    val liveOnly = live.view.filterKeys(!kept.contains(_))
    (kept ++ liveOnly).map { case (k, v) => k -> v.copy() }.toMap
  }
}

object QueryProfiler {

  /** One entry's metrics: the stages and tasks of its jobs and their
    * summed task metrics. */
  final case class QueryMetrics(
      var stages: Int = 0,
      var tasks: Int = 0,
      var taskTimeMs: Long = 0L,
      var shuffleReadBytes: Long = 0L,
      var shuffleWriteBytes: Long = 0L,
      var inputBytes: Long = 0L,
      var outputRows: Long = 0L,
      var spilledBytes: Long = 0L,
      var wallSec: Double = -1.0,
      var runs: Int = 0) {
    def jsonFields: String =
      s""""stages":$stages,"tasks":$tasks,"task_time_ms":$taskTimeMs,""" +
        s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""input_bytes":$inputBytes,"spilled_bytes":$spilledBytes,"runs":$runs"""
  }

  /** Local property naming the bench entry a job belongs to. A thread
    * started inside an entry inherits it with the other local properties —
    * a streaming query's execution thread included, whose job group Spark
    * sets to the query's run id. */
  val EntryProperty = "graft.bench.entry"

  /** Run `body` as entry `name`: its jobs, and those of every thread it
    * starts, are attributed to `name`. */
  def inEntry[A](sc: SparkContext, name: String)(body: => A): A = {
    sc.setLocalProperty(EntryProperty, name)
    try body finally sc.setLocalProperty(EntryProperty, null)
  }
}

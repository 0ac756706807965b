package dpbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Task metrics of one stage, summed over its tasks. */
final class StageAgg {
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecordsWritten = 0L
  var fetchWaitMs = 0L
  var wallMs = 0L
  val taskMs = mutable.ArrayBuffer.empty[Double]
}

/** Per-layer totals over the stages attributed to the layer. */
final case class LayerStages(tasks: Int, cpuS: Double, gcS: Double, shuffleWriteMb: Double,
    fetchWaitS: Double, recordsWritten: Long, stageWallS: Double, taskSkew: Double)

/** Attributes Spark stages to layers. A batch layer runs its jobs under a job
  * group named after the layer; a streaming micro-batch runs as one job whose
  * stages, in stage-id order, are the stream's layers (one per shuffle
  * boundary). Only read after the listener bus is drained. */
final class StageTracker(streamLayers: Seq[String]) extends SparkListener {
  private val stageLayer = mutable.HashMap.empty[Int, String]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  /** Stage count of every streaming micro-batch job, to check the mapping. */
  val streamJobStageCounts = mutable.ArrayBuffer.empty[Int]

  private def agg(stageId: Int) = stages.getOrElseUpdate(stageId, new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val streaming = props.exists(p => p.getProperty("sql.streaming.queryId") != null)
    if (streaming) {
      // a job of another shape is counted but not attributed
      val ids = e.stageIds.sorted
      streamJobStageCounts += ids.length
      if (ids.length == streamLayers.length) ids.zip(streamLayers).foreach { case (id, l) => stageLayer(id) = l }
    } else group.foreach(g => e.stageIds.foreach(id => stageLayer(id) = g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(e.stageId)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRecordsWritten += m.shuffleWriteMetrics.recordsWritten
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.taskMs += e.taskInfo.duration.toDouble
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) agg(i.stageId).wallMs += c - s
  }

  def reset(): Unit = synchronized {
    stageLayer.clear(); stages.clear(); streamJobStageCounts.clear()
  }

  /** Stages of layer `name`. */
  def layer(name: String): LayerStages = synchronized {
    val mine = stages.collect { case (id, a) if stageLayer.get(id).contains(name) => a }.toSeq
    val heaviest = if (mine.isEmpty) None else Some(mine.maxBy(_.runMs))
    val skew = heaviest.filter(_.taskMs.nonEmpty).map { h =>
      val med = Stats.median(h.taskMs.toSeq)
      if (med > 0) h.taskMs.max / med else 1.0
    }.getOrElse(0.0)
    LayerStages(mine.map(_.tasks).sum, mine.map(_.cpuNs).sum / 1e9, mine.map(_.gcMs).sum / 1e3,
      mine.map(_.shuffleWriteBytes).sum / 1048576.0, mine.map(_.fetchWaitMs).sum / 1e3,
      mine.map(_.shuffleRecordsWritten).sum, mine.map(_.wallMs).sum / 1e3, skew)
  }
}

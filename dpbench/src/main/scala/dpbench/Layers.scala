package dpbench

import org.apache.spark.DpbenchBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import graft.operators.CoreOps

import scala.collection.mutable

/** Per-layer metrics of one traced lap. `wallS` is the lap's wall time. */
final case class TracedOut(wallS: Double, metrics: Map[String, Double], layersRun: Seq[String],
    detail: Map[String, Any], spans: Seq[Span])

object Layers {

  private def stageMetrics(l: String, s: LayerStages): Seq[(String, Double)] = Seq(
    s"$l.cpu_s" -> s.cpuS, s"$l.gc_s" -> s.gcS, s"$l.shuffle_write_mb" -> s.shuffleWriteMb,
    s"$l.shuffle_fetch_wait_s" -> s.fetchWaitS, s"$l.tasks" -> s.tasks.toDouble,
    s"$l.task_skew" -> s.taskSkew)

  /** rows_in of each layer is rows_out of the layer before it that ran. */
  private def rowChain(first: Long, out: Seq[(String, Long)]): Seq[(String, Double)] =
    out.foldLeft((first, Seq.empty[(String, Double)])) { case ((in, acc), (l, o)) =>
      (o, acc ++ Seq(s"$l.rows_in" -> in.toDouble, s"$l.rows_out" -> o.toDouble))
    }._2

  private def coverage(m: mutable.Map[String, Double], layers: Seq[String], processCpuS: Double): Unit =
    m("trace.cpu_coverage") = if (processCpuS > 0) layers.map(l => m(s"$l.cpu_s")).sum / processCpuS else 0.0

  def batch(w: ReplayT100, tracker: StageTracker, ledger: Main.Ledger): TracedOut = {
    tracker.reset()
    val tracer = new Tracer
    val probe = new Traced(w.spark, tracer)
    val cpu = new Env.CpuWindow
    var frames: Seq[DataFrame] = Nil
    val r = ledger.run("traced")(tracer.span("lap") { val (r, f) = w.lap(probe); frames = f; r })
    if (frames.isEmpty) return TracedOut(r.wallS, Map.empty, Nil, Map("failures" -> r.failures), tracer.spans)
    val Seq(bounded, a2, released) = frames
    val truth = bounded.groupBy("key").agg(sum("value").cast("long").as("count"))
    val util = probe.layer("utility")(CoreOps.utilityMetrics(released, truth)).head()
    val (processCpuS, _) = cpu.close()
    DpbenchBridge.drainListeners(w.spark.sparkContext)

    val spans = tracer.spans
    val self = Tracer.selfTimes(spans)
    val byName = spans.groupBy(_.name).view.mapValues(_.head).toMap
    val ran = Metrics.layers.filter(byName.contains)
    val out = probe.rowsOut
    val m = mutable.LinkedHashMap.empty[String, Double]
    ran.foreach { l =>
      val s = byName(l)
      m(s"$l.wall_s") = s.durationNs / 1e9
      m(s"$l.self_s") = self(s.id) / 1e9
      m ++= stageMetrics(l, tracker.layer(l))
    }
    m ++= rowChain(w.inputRecords, ran.map(l => l -> out(l)))
    m("b1.clipped_share") = 1.0 - m("b1.rows_out") / m("b1.rows_in")
    m("a2.partial_agg_ratio") = PlanMetrics.partialAggRatio(probe.plans("a2")).getOrElse(0.0)
    m("mechanism.keys") = a2.select("key").distinct().count().toDouble
    m("mechanism.released_keys") = out("sink").toDouble
    m("mechanism.agg_time_s") = PlanMetrics.timeS(probe.plans("mechanism"), Set("aggTime", "sortTime"))
    coverage(m, ran, processCpuS)
    val utility = Map("l0" -> util.getLong(0), "linf" -> util.getDouble(1), "l1" -> util.getDouble(2),
      "l2" -> util.getDouble(3))
    TracedOut(byName("lap").durationNs / 1e9, m.toMap, ran,
      Map("utility" -> utility, "process_cpu_s" -> processCpuS), spans)
  }

  /** The stream's traced lap. Its layers are the stages of each micro-batch
    * job, which do not nest, so a layer's self time is its wall time. The lap
    * fails if the envelope's route and replay rejections differ from the
    * injected faults, or if a micro-batch job does not have one stage per
    * layer; then no stage metric is reported. */
  def stream(w: StreamSealed, tracker: StageTracker, ledger: Main.Ledger): TracedOut = {
    tracker.reset()
    val tracer = new Tracer
    val log = new ProgressLog
    val aggTimeS = mutable.HashMap.empty[Long, Double]
    val ran = StreamSealed.layers
    val m = mutable.LinkedHashMap.empty[String, Double]
    def oneStagePerLayer = tracker.streamJobStageCounts.distinct.toSeq == Seq(ran.size)
    def accepted(r: LapResult) = r.detail.getOrElse("accepted", 0L).asInstanceOf[Long]
    val cpu = new Env.CpuWindow
    val r = ledger.run("traced") {
      val r = tracer.span("lap")(w.lap(log = Some(log), afterEpoch = q => {
        val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
        if (exec != null) aggTimeS(exec.currentBatchId) =
          PlanMetrics.timeSAboveExchange(exec.executedPlan, Set("aggTime", "sortTime"))
      }))
      DpbenchBridge.drainListeners(w.spark.sparkContext)
      val routed = tracker.layer("source").recordsWritten
      val (route, replay) = (w.inputRecords - routed, routed - accepted(r))
      m ++= Seq("envelope.accepted_share" -> accepted(r).toDouble / w.inputRecords,
        "envelope.rejected_route" -> route.toDouble, "envelope.rejected_replay" -> replay.toDouble)
      val failures = Seq(
        if (!oneStagePerLayer) Some(s"micro-batch jobs had ${tracker.streamJobStageCounts.distinct} stages, " +
          s"not one per layer ($ran)") else None,
        if (route != w.injectedRoute) Some(s"rejected_route $route != injected ${w.injectedRoute}") else None,
        if (replay != w.injectedReplay) Some(s"rejected_replay $replay != injected ${w.injectedReplay}") else None,
      ).flatten
      if (failures.isEmpty) r else r.copy(failed = r.ops, failures = r.failures ++ failures)
    }
    val (processCpuS, _) = cpu.close()

    val attributed = oneStagePerLayer
    val st = ran.map(l => l -> tracker.layer(l)).toMap
    if (attributed) {
      ran.foreach { l =>
        m(s"$l.wall_s") = st(l).stageWallS
        m(s"$l.self_s") = st(l).stageWallS
        m ++= stageMetrics(l, st(l))
      }
      m ++= rowChain(w.inputRecords,
        ran.map(l => l -> (if (l == "mechanism") r.detail.getOrElse("releases", 0).asInstanceOf[Int].toLong
          else st(l).recordsWritten)))
      coverage(m, ran, processCpuS)
    }
    val bounded = r.detail.getOrElse("bounded", 0L).asInstanceOf[Long]
    m ++= Seq(
      "b1.clipped_share" -> (if (accepted(r) > 0) 1.0 - bounded.toDouble / accepted(r) else 0.0),
      "mechanism.released_keys" -> r.detail.getOrElse("released_keys", 0).asInstanceOf[Int].toDouble,
      "mechanism.agg_time_s" -> aggTimeS.values.sum)

    val events = log.synchronized(log.events.toList)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Metrics.streamPhases.foreach { p =>
      m(s"stream.${p}_ms") = med(events.flatMap(e => Option(e.durationMs.get(p)).map(_.doubleValue)))
    }
    val ops = events.map(_.stateOperators.toSeq).filter(_.size == StreamSealed.stateOps.size)
    StreamSealed.stateOps.zipWithIndex.foreach { case (s, i) =>
      ops.lastOption.foreach { last =>
        m(s"state.$s.rows_total") = last(i).numRowsTotal.toDouble
        m(s"state.$s.memory_mb") = last(i).memoryUsedBytes / 1048576.0
      }
      m(s"state.$s.commit_ms") = med(ops.map(_(i).commitTimeMs.toDouble))
      m(s"state.$s.updates_ms") = med(ops.map(_(i).allUpdatesTimeMs.toDouble))
    }
    m("mechanism.keys") = m.getOrElse("state.mechanism.rows_total", 0.0)
    TracedOut(r.wallS, m.toMap, if (attributed) ran else Nil,
      Map("process_cpu_s" -> processCpuS, "progress_events" -> events.size,
        "stages_per_batch" -> tracker.streamJobStageCounts.distinct.toSeq,
        "state_operator_names" -> ops.headOption.map(_.map(_.operatorName)).getOrElse(Nil)),
      tracer.spans)
  }
}

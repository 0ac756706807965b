package dpbench

import scala.collection.mutable

/** Names and units of every metric the benchmark reports. BENCHMARK.json
  * declares the same lists (checked by HarnessSpec). */
object Metrics {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "throughput_gb_s" -> "GB/s", "cpu_s" -> "s",
    "epoch_latency_p50_ms" -> "ms", "epoch_latency_p90_ms" -> "ms")

  /** The paper pipeline's layers, in data-flow order. */
  val layers: Seq[String] = Seq("source", "envelope", "b1", "a2", "mechanism", "sink", "utility")

  val layerStats: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "self_s" -> "s", "cpu_s" -> "s", "gc_s" -> "s",
    "shuffle_write_mb" -> "MB", "shuffle_fetch_wait_s" -> "s",
    "rows_in" -> "count", "rows_out" -> "count", "tasks" -> "count", "task_skew" -> "ratio")

  val specific: Seq[(String, String)] = Seq(
    "envelope.accepted_share" -> "ratio", "envelope.rejected_route" -> "count",
    "envelope.rejected_replay" -> "count", "b1.clipped_share" -> "ratio",
    "a2.partial_agg_ratio" -> "ratio", "mechanism.keys" -> "count",
    "mechanism.released_keys" -> "count", "mechanism.agg_time_s" -> "s",
    "dp.key_setup_us" -> "us", "dp.epoch_step_us" -> "us")

  val streamPhases: Seq[String] =
    Seq("addBatch", "queryPlanning", "getBatch", "latestOffset", "walCommit", "commitOffsets")

  val stateOperators: Seq[String] = Seq("replay", "b1", "a2", "mechanism")

  val stateStats: Seq[(String, String)] =
    Seq("rows_total" -> "count", "memory_mb" -> "MB", "commit_ms" -> "ms", "updates_ms" -> "ms")

  val harness: Seq[(String, String)] =
    Seq("trace.overhead_s" -> "s", "trace.cpu_coverage" -> "ratio", "single_core.wall_s" -> "s")

  val perLayer: Seq[(String, String)] =
    (for (l <- layers; (m, u) <- layerStats) yield s"$l.$m" -> u) ++ specific ++
      streamPhases.map(p => s"stream.${p}_ms" -> "ms") ++
      (for (s <- stateOperators; (m, u) <- stateStats) yield s"state.$s.$m" -> u) ++ harness

  /** Values in catalog order; a metric of a layer that did not run is 0. */
  def emit(catalog: Seq[(String, String)], values: collection.Map[String, Double]): mutable.LinkedHashMap[String, Any] = {
    val unknown = values.keySet.toSet -- catalog.map(_._1)
    require(unknown.isEmpty, s"metrics missing from the catalog: $unknown")
    mutable.LinkedHashMap(catalog.map { case (n, u) =>
      n -> Map("value" -> values.getOrElse(n, 0.0), "unit" -> u)
    }: _*)
  }
}

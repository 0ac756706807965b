package dpbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dp.{DpKeyState, DpParams, NoiseSource, TreeSpec}
import graft.operators.CoreOps

import scala.collection.mutable

/** Runs one workload of the DP-SQLP pipeline benchmark and prints, as its
  * last stdout line, {"correct", "attempted", "failed", "metrics"}.
  *
  * {{{
  * dpbench.Main --workload <replay_t100|stream_sealed>
  *              --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Untraced (--trace 0), laps run back to back for `seconds` and the
  * end-to-end metrics are medians over laps. Traced (--trace 1), one lap runs
  * untraced and one traced, then the σ = 0 check, the single-thread DP step
  * timings and a local[1] pass; the per-layer metrics come from the traced
  * lap. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  val workloads = Seq("replay_t100", "stream_sealed")

  /** The reference's micro-batch tuple footprint (BASELINE.md). */
  val BytesPerRecord = 31.0

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val o = Opts(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toInt, m.getOrElse("trace", "0") == "1", m.getOrElse("work", "dpbench/work"))
    require(workloads.contains(o.workload), s"--workload must be one of ${workloads.mkString(", ")}")
    require(o.seconds > 0, "--seconds must be positive")
    o
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("dpbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A workload over one session: batch or stream. */
  sealed trait Subject {
    def params: DpParams
    /** The workload's A2 rows (key, epoch, delta_v, prev_counts). */
    def a2: DataFrame
    def records: Long
    def materialize(): Unit
    def load(): Unit
    def lap(): LapResult
    /** Laps that warm the JVM before timing; a partial lap's digest is not
      * compared. */
    def warmup(ledger: Ledger): Unit
  }
  final case class BatchSubject(w: ReplayT100) extends Subject {
    def params: DpParams = w.params
    def a2: DataFrame = w.preAgg(w.bounded(Untraced))
    def records: Long = w.inputRecords
    def materialize(): Unit = w.materialize()
    def load(): Unit = w.load()
    def lap(): LapResult = w.lap(Untraced)._1
    def warmup(ledger: Ledger): Unit = (1 to 5).foreach(_ => ledger.run("warmup")(lap()))
  }
  final case class StreamSubject(w: StreamSealed) extends Subject {
    def params: DpParams = w.params
    /** The batch A2 over the stream's routed input, bounded by the batch B1. */
    def a2: DataFrame = CoreOps.preAggregatePrevEpoch(
      CoreOps.boundContributions(w.spark.read.parquet(w.inputPath).where(not(col("misrouted")))
        .select(col("key"), col("epoch"), col("user"), col("seq"), lit(1.0).as("value")),
        "user", "seq", Params.C.toLong),
      "key", "epoch", "user", "value")
    def records: Long = w.inputRecords
    def materialize(): Unit = w.materialize()
    def load(): Unit = w.load()
    def lap(): LapResult = w.lap()
    def warmup(ledger: Ledger): Unit = ledger.run("warmup")(w.lap(feed = 10).copy(digest = ""))
  }

  def subject(name: String, spark: SparkSession, seed: Long, work: String): Subject = name match {
    case "replay_t100" => BatchSubject(new ReplayT100(spark, seed, work))
    case "stream_sealed" => StreamSubject(new StreamSealed(spark, seed, work))
  }

  /** One lap as run: its result, the process's CPU seconds and the
    * machine's other load. */
  final case class Lap(kind: String, r: LapResult, cpuS: Double, external: Option[Double])

  /** Laps run, in order. */
  final class Ledger {
    val laps = mutable.ArrayBuffer.empty[Lap]
    def run(kind: String)(body: => LapResult): LapResult = {
      val w = new Env.CpuWindow
      val r = try body catch {
        case e: Exception =>
          LapResult(0.0, Nil, 1, 1, "", Seq(s"$kind lap threw: $e"), Map.empty)
      }
      val (cpu, ext) = w.close()
      laps += Lap(kind, r, cpu, ext)
      r
    }
    def attempted: Int = laps.map(_.r.ops).sum
    def failed: Int = laps.map(_.r.failed).sum
    def failures: Seq[String] = laps.flatMap(_.r.failures).toSeq
    def report: Seq[Map[String, Any]] = laps.map { l =>
      Map("kind" -> l.kind, "wall_s" -> l.r.wallS, "cpu_s" -> l.cpuS,
        "external_cpu_share" -> l.external, "ops" -> l.r.ops, "failed" -> l.r.failed,
        "digest" -> l.r.digest, "failures" -> l.r.failures, "detail" -> l.r.detail)
    }.toSeq
  }

  def main(args: Array[String]): Unit = {
    val o = try parse(args) catch {
      case e: Exception => System.err.println(s"dpbench: ${e.getMessage}"); sys.exit(2)
    }
    val work = new File(o.work, o.workload).getAbsolutePath
    deleteRecursively(new File(work))
    new File(work).mkdirs()
    val loadBefore = Env.loadavg
    val cores = Env.nproc

    val t0 = System.nanoTime()
    var spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val conf = spark.conf.getAll
    val stateStore = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    val subj = subject(o.workload, spark, o.seed, work)

    // set-up: materialize the seeded input three times (median), then load
    // it and run the warm-up laps
    val materializeS = (1 to 3).map { _ =>
      val s = System.nanoTime(); subj.materialize(); (System.nanoTime() - s) / 1e9
    }
    val ledger = new Ledger
    val w0 = System.nanoTime()
    subj.load()
    subj.warmup(ledger)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(materializeS) + warmupS

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val extra = mutable.LinkedHashMap.empty[String, Any]
    if (!o.trace) {
      val deadline = System.nanoTime() + o.seconds * 1000000000L
      do ledger.run("timed")(subj.lap()) while (System.nanoTime() < deadline)
      // a lap that threw has no timings
      val timed = ledger.laps.filter(l => l.kind == "timed" && l.r.epochLatencyMs.nonEmpty)
      if (timed.isEmpty) {
        System.err.println(s"dpbench: no lap completed: ${ledger.failures.mkString("; ")}")
        sys.exit(1)
      }
      val ok = timed.filter(_.r.failed == 0)
      val lat = timed.flatMap(_.r.epochLatencyMs).toSeq
      val wall = Stats.median(timed.map(_.r.wallS).toSeq)
      metrics ++= Seq(
        "setup_s" -> setupS,
        "wall_s" -> wall,
        "throughput_gb_s" -> subj.records * BytesPerRecord / (1L << 30) / wall,
        "cpu_s" -> Stats.median(timed.map(_.cpuS).toSeq),
        "epoch_latency_p50_ms" -> Stats.median(lat),
        "epoch_latency_p90_ms" -> Stats.nearestRank(lat, 0.9))
      extra ++= Seq("laps_ok" -> ok.size, "epoch_latency_samples" -> lat.size,
        "epoch_latency_p90_samples_beyond" -> Stats.beyond(lat.size, 0.9),
        "epoch_latency_highest_supported_percentile" -> Stats.highestSupported(lat.size))
    } else {
      val untraced = ledger.run("untraced")(subj.lap())
      val tracker = new StageTracker(StreamSealed.layers)
      spark.sparkContext.addSparkListener(tracker)
      val traced = subj match {
        case BatchSubject(w) => Layers.batch(w, tracker, ledger)
        case StreamSubject(w) => Layers.stream(w, tracker, ledger)
      }
      spark.sparkContext.removeSparkListener(tracker)
      metrics ++= traced.metrics
      metrics("trace.overhead_s") = traced.wallS - untraced.wallS
      extra("layers_run") = traced.layersRun
      extra("trace_detail") = traced.detail
      extra("spans") = traced.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))

      subj match {
        case BatchSubject(w) =>
          ledger.run("sigma0") {
            val check = w.sigmaZeroCheck()
            LapResult(0.0, Nil, 1, check.size, "", check.toSeq, Map.empty)
          }
        case _ =>
      }
      val (setupUs, stepUs, sampled) = dpStepTimings(a2Sample(subj.a2), subj.params, o.seed)
      metrics ++= Seq("dp.key_setup_us" -> setupUs, "dp.epoch_step_us" -> stepUs)
      extra("dp_sample_rows") = sampled

      // single-thread baseline over the same on-disk input
      spark.stop()
      spark = session(1, work)
      val single = subject(o.workload, spark, o.seed, work)
      single.load()
      // the stream's B1 admits a user's first C contributions in arrival
      // order, which depends on partitioning, so a local[1] stream may
      // release different (equally valid) counts: its digest is not compared
      val singleLap = ledger.run("single_core") {
        val r = single.lap()
        if (o.workload == "stream_sealed") r.copy(digest = "") else r
      }
      metrics("single_core.wall_s") = singleLap.wallS
    }

    // the seeded digest must agree across laps of this run and across runs
    val digests = ledger.laps.map(_.r.digest).filter(_.nonEmpty).distinct
    val store = Paths.get(o.work, "..", "out", "digests", s"${o.workload}_seed${o.seed}").normalize()
    val previous = if (Files.exists(store)) Some(new String(Files.readAllBytes(store)).trim) else None
    val digestFailures = Seq(
      if (digests.size > 1) Some(s"digest differs across laps: $digests") else None,
      previous.filter(p => digests.nonEmpty && p != digests.head).map(p => s"digest ${digests.head} != earlier run's $p"),
    ).flatten
    if (previous.isEmpty && digests.size == 1) {
      Files.createDirectories(store.getParent)
      Files.write(store, digests.head.getBytes)
    }

    val failures = ledger.failures ++ digestFailures
    val failed = ledger.failed + (if (digestFailures.nonEmpty) 1 else 0)
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace, "seconds" -> o.seconds,
      "env" -> Map("nproc" -> cores, "loadavg_before" -> loadBefore, "loadavg_after" -> Env.loadavg,
        "jvm" -> Env.jvm, "spark" -> spark.version,
        "state_store_provider" -> stateStore),
      "spark_conf" -> conf,
      "setup" -> Map("session_s" -> sessionS, "materialize_s" -> materializeS, "warmup_s" -> warmupS),
      "input_records" -> subj.records,
      "digest" -> digests.headOption, "failures" -> failures,
      "laps" -> ledger.report) ++ extra
    spark.stop()
    Files.createDirectories(Paths.get(o.work, "..", "out"))
    Files.write(Paths.get(o.work, "..", "out", s"${o.workload}_seed${o.seed}_trace${if (o.trace) 1 else 0}.json"),
      Json(report).getBytes)
    report.remove("spans")
    println(Json(Map("report" -> report)))

    val catalog = if (o.trace) Metrics.perLayer else Metrics.endToEnd
    println(Json(mutable.LinkedHashMap[String, Any](
      "correct" -> failures.isEmpty, "attempted" -> ledger.attempted, "failed" -> failed,
      "metrics" -> Metrics.emit(catalog, metrics))))
  }

  /** A fixed sample of A2 rows: every row of the 500 smallest keys. */
  def a2Sample(a2: DataFrame): Seq[(String, Seq[(Int, Double, Seq[(Int, Long)])])] = {
    val keys = a2.select("key").distinct().orderBy("key").limit(500)
    a2.join(keys, "key").collect().toSeq.map { r =>
      val prev = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("prev_counts")).map(p => (p.getInt(0), p.getLong(1)))
      (r.getAs[String]("key"), (r.getAs[Int]("epoch"), r.getAs[Double]("delta_v"), prev))
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, rs) => k -> rs.map(_._2).sortBy(_._1) }
  }

  /** Single-thread driver-side timings over the sample: µs per
    * `new DpKeyState` and per `processEpochPrevCounts` step, median of 5. */
  def dpStepTimings(sample: Seq[(String, Seq[(Int, Double, Seq[(Int, Long)])])], params: DpParams,
      seed: Long): (Double, Double, Int) = {
    def newState(key: String) = new DpKeyState(params,
      TreeSpec(params.maxTimeSteps, params.sigmaKey, NoiseSource.seeded(NoiseSource.seedFor(seed, key, "key"))),
      TreeSpec(params.maxTimeSteps, params.sigmaHist, NoiseSource.seeded(NoiseSource.seedFor(seed, key, "hist"))))
    val steps = sample.map(_._2.size).sum
    val reps = (1 to 5).map { _ =>
      val s0 = System.nanoTime()
      val states = sample.map { case (k, _) => newState(k) }
      val s1 = System.nanoTime()
      sample.zip(states).foreach { case ((_, rows), st) =>
        rows.foreach { case (e, dv, prev) => st.processEpochPrevCounts(e, prev, dv, appeared = true) }
      }
      val s2 = System.nanoTime()
      ((s1 - s0) / 1e3 / math.max(1, sample.size), (s2 - s1) / 1e3 / math.max(1, steps))
    }
    (Stats.median(reps.map(_._1)), Stats.median(reps.map(_._2)), steps)
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}

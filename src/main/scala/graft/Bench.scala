package graft

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.bench.{BenchContext, BenchEntries, Entry, Gigabytes, InnerLaps, Lap, Timed}
import graft.tools.{BenchReport, QueryProfiler}
import graft.tools.BenchReport.r3

import scala.collection.mutable
import scala.util.control.NonFatal

/** Per-round benchmark main: times every declared query on
  * `SPARK_GRAFT_SF_DIR` plus the synthetic entries of [[BenchEntries]],
  * which mirror the reference's benchmark harnesses (BASELINE.md) — the
  * §5.1 DP workload at reduced scale and the byte-budget micro-batch grid
  * (GB/s = size/duration) — and carry the in-sweep A/B receipts.
  *
  * Lap protocol: every entry runs `SPARK_GRAFT_BENCH_REPEATS` laps
  * (default 2) and reports the min of its laps, or -1 when any lap failed
  * ([[BenchReport.lapSummary]]). The arms of a receipt group run
  * interleaved, one lap each in turn ([[Bench.Harness.runGroup]]). How many
  * laps an entry gets never depends on its readings, on the machine's load
  * or on files in the working directory. `bench.json` keeps each lap's wall
  * seconds (`runs_detail`), this process's CPU seconds over the same timed
  * body (`cpu_detail`) and the share of the machine other processes used
  * (`ext_cpu`, recorded only).
  *
  * Measurement notes:
  *   - each query is forced with a `noop`-format write
  *     ([[BenchContext.force]]);
  *   - per-query stage/task/shuffle metrics are collected by [[QueryProfiler]]
  *     (job-group attribution) and emitted under `"profile"` — the K5
  *     per-bolt-profiler parity;
  *   - the one-line JSON result is printed to stdout AND written to
  *     `bench.json` (override with `SPARK_GRAFT_BENCH_OUT`) so the driver
  *     never has to fish it out of sbt log noise.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    val repeats = sys.env.get("SPARK_GRAFT_BENCH_REPEATS").map(_.toInt).getOrElse(2).max(1)
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadPre = osBean.getSystemLoadAverage

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val profiler = new QueryProfiler
    spark.sparkContext.addSparkListener(profiler)
    val harness = new Harness(spark, profiler)
    val ctx = new BenchContext(spark, sfDir, cpus.toInt)
    import ctx.force

    // Optional comma-separated workload filter for local iteration
    // (unset in the driver's per-round run → full suite).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    def wanted(name: String): Boolean = only.forall(_.contains(name))

    // Unrecorded JVM warmup: the first entries of a cold sbt-launched JVM
    // read 5-8x slow (codegen compilation, parquet footer reads, shuffle
    // machinery spin-up). One pass over each base table with a small
    // shuffle warms the common path; nothing is recorded or compared.
    locally {
      val w0 = System.nanoTime()
      force(Tables.documents(spark, sfDir).groupBy("source").count())
      force(Tables.events(spark, sfDir).groupBy("event_type")
        .agg(sum(col("value")).as("v")))
      force(Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count())
      force(Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), size(col("embedding")).as("w")).limit(1000))
      System.err.println(
        f"[bench] warmup ${(System.nanoTime() - w0) / 1e9}%.1f s (unrecorded)")
    }

    def gate(name: String): Entry = Entry(name)(_.timed(force(SparkEntry.queries(name)(spark, sfDir))))
    val queryTimes = SparkEntry.queries.keys.toSeq.sorted.filter(wanted).map { name =>
      name -> harness.record(name, harness.runGroup(Seq(gate(name)), repeats).head._2)
    }

    // ---- synthetic entries, receipt groups interleaved ----
    val entries = BenchEntries.all(ctx).filter(e => wanted(e.name))
    val byName = entries.map(e => e.name -> e).toMap
    // receipt-group membership restricted to groups with >= 2 present arms
    // (a filtered run with one arm runs it on its own)
    val groupOf: Map[String, Seq[Entry]] = BenchReport.receiptGroups
      .map(_.flatMap(byName.get))
      .filter(_.size >= 2)
      .flatMap(g => g.map(_.name -> g)).toMap
    val ran = mutable.Set.empty[String]
    val results = entries.flatMap { e =>
      if (ran.contains(e.name)) Nil
      else harness.runGroup(groupOf.getOrElse(e.name, Seq(e)), repeats).map { case (name, laps, value) =>
        ran += name
        (name, harness.record(name, laps), value)
      }
    }
    ctx.dropTables()
    val synthetic = results.map { case (name, sec, _) => name -> sec }

    // ---- cross-sf scaling guard ----
    // Re-times the most expensive oracled gates at the 10×-smaller testdata
    // dir and reports runtime ratios: a gate whose big/small ratio exceeds
    // SuperLinearFlagRatio (20 = 2× headroom over the 10× data growth) has
    // a super-linear plan — the automatic alarm that replaces judge
    // eyeballing of per-entry scale behavior. Fixed job overhead inflates
    // the SMALL side, so ratios read conservative (under-, never
    // over-flagging needs the big side to be slow for real). Skipped under
    // a local filter or at the small sf itself.
    val SuperLinearFlagRatio = 20.0
    val scaling: Option[(Seq[(String, Double, Double, Double)], Seq[String])] = {
      val smallDir = "/root/testdata/sf0.01"
      val enabled = only.isEmpty && sfDir != smallDir && new java.io.File(smallDir).isDirectory
      if (!enabled) None
      else {
        val top = queryTimes.filter(_._2 > 1.0).sortBy(-_._2).take(10)
        val rows = top.map { case (name, big) =>
          val small = harness.lap(Entry(s"scaling_$name")(
            _.timed(force(SparkEntry.queries(name)(spark, smallDir)))))._1.wall
          val ratio = if (small > 0) big / small else -1.0
          System.err.println(f"[bench] scaling '$name': $big%.2f s @ sf0.1 vs $small%.2f s @ sf0.01 (ratio ${ratio}%.1f)")
          (name, big, small, ratio)
        }
        val flagged = rows.collect { case (n, _, _, r) if r > SuperLinearFlagRatio => n }
        Some((rows, flagged))
      }
    }

    // results derived from entry values: GB/s of the byte-budget entries,
    // and the in-entry A/B's steady-state per-epoch latency (mean of the
    // standing query's lap epochs — post-startup by construction), whose
    // raw inner-lap seconds go to runs_detail as two rows
    val gbps = results.collect { case (name, sec, Some(Gigabytes(gb))) if sec > 0 => (name + "_gbps", gb / sec) }
    val innerLaps = results.collect { case (_, _, Some(il: InnerLaps)) => il }
    val innerEntries = innerLaps.map { il =>
      harness.runDetail(il.fast) = il.pairs.map(_._1)
      harness.runDetail(il.slowDetail) = il.pairs.map(_._2)
      il.fast -> il.pairs.map(_._1).sum / il.pairs.size
    }

    ListenerBridge.waitUntilEmpty(spark.sparkContext)
    val profSnap = profiler.snapshot
    val profile = profSnap.toSeq.sortBy(_._1)
      .map { case (name, m) => "\"" + name + "\":{" + m.jsonFields + "}" }
      .mkString("{", ",", "}")

    // ---- same-sweep receipt evaluation ----
    // Each claim compares its arms' interleaved laps of this sweep and their
    // min-wall profiler runs (BenchReport.receipt); an in-entry A/B
    // compares its own inner laps.
    val receipts = BenchReport.receiptClaims.flatMap { case (fast, slow, metric) =>
      for { lf <- harness.runDetail.get(fast); ls <- harness.runDetail.get(slow) }
      yield BenchReport.receipt(fast, slow, metric, lf, ls, profSnap.get(fast), profSnap.get(slow))
    } ++ innerLaps.map(il => BenchReport.innerReceipt(il.receipt, il.pairs))
    receipts.filterNot(_.ok).foreach(r => System.err.println(r.badLine))
    val receiptsJson = receipts.map(_.json).mkString("{", ",", "}")
    val receiptsBad = receipts.filterNot(_.ok).map(_.key)

    val all = queryTimes ++ synthetic ++ gbps ++ innerEntries
    // Profiler sanity: the per-entry profile is the min-wall run's
    // metrics, so task time can never exceed wall × cores (25% slack + 1 s
    // for sub-second jitter and stage events that straddle a run
    // boundary). A violation is an attribution bug in the harness, never a
    // plan property — surface it loudly and in the artifact.
    val wallByName = all.toMap
    val profileViolations = profSnap.toSeq.sortBy(_._1).flatMap { case (name, m) =>
      wallByName.get(name).filter(_ > 0).flatMap { wall =>
        val cap = wall * cpus.toInt * 1.25 + 1.0
        if (m.taskTimeMs / 1000.0 > cap)
          Some(f"$name task=${m.taskTimeMs / 1000.0}%.1fs wall=$wall%.1fs")
        else None
      }
    }
    profileViolations.foreach(v =>
      System.err.println(s"[bench] PROFILE BAD: task time exceeds wall x cores: $v"))
    val loadPost = osBean.getSystemLoadAverage
    // Failed (-1) entries live ONLY in "failed": a consumer summing "queries"
    // then always gets back "value".
    val qs = all.collect { case (k, v) if v >= 0 => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val total = all.map(_._2).filter(_ >= 0).sum
    val failed = all.collect { case (k, v) if v < 0 => "\"" + k + "\"" }.mkString("[", ",", "]")
    def lapsJson(detail: collection.Map[String, Seq[Double]]): String = detail
      .map { case (k, ts) => "\"" + k + "\":[" + ts.map(r3).mkString(",") + "]" }
      .mkString("{", ",", "}")
    // per-lap external-CPU shares, only for entries where contamination was
    // non-negligible — keeps the file readable; a missing key means <5% of
    // the machine went to other processes during every lap
    val extJson = lapsJson(harness.extDetail.filter { case (_, es) => es.exists(_ >= 0.05) })
    // Compact stdout summary, HARD-CAPPED to fit the driver's ~2000-char
    // output-tail window (a full per-query map once grew past it and the
    // captured text began mid-line). The BASELINE.md-comparable workloads
    // always make the line; the rest of the suite fills the remaining
    // budget slowest-first, and the complete result is always in bench.json.
    val scalingJson = scaling.map { case (rows, flagged) =>
      val ratios = rows.map { case (n, b, s, r) =>
        "\"" + n + s"""\":{"sf01":${r3(b)},"sf001":${r3(s)},"ratio":${r3(r)}}"""
      }.mkString("{", ",", "}")
      s"""{"data_ratio":10.0,"flag_above":${r3(SuperLinearFlagRatio)},""" +
        s""""ratios":$ratios,"flagged":${flagged.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    }.getOrElse("null")
    val headline = synthetic.map(_._1) ++ gbps.map(_._1) ++ innerEntries.map(_._1)
    // the bad-receipt and scaling-flag lists must reach the captured
    // per-round summary, which is the compact line — keep both short and
    // always present
    val compactExtra =
      s""""receipts_bad":${receiptsBad.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""scaling_flagged":${scaling.map(_._2.map("\"" + _ + "\"").mkString("[", ",", "]")).getOrElse("null")}"""
    val compact = BenchReport.compactLine(all, headline, sfDir,
      runs = repeats, load = Seq(loadPre, loadPost), extra = compactExtra)
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,""" +
        s""""repeats":$repeats,"runs_detail":${lapsJson(harness.runDetail)},""" +
        s""""cpu_detail":${lapsJson(harness.cpuDetail)},"load":[${r3(loadPre)},${r3(loadPost)}],""" +
        s""""ext_cpu":$extJson,""" +
        s""""receipts":$receiptsJson,""" +
        s""""scaling":$scalingJson,""" +
        s""""profile_violations":${profileViolations.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""profile":$profile,"sf":"$sfDir"}"""

    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[bench] full JSON (with profile) written to $outPath")
    spark.stop()
    // The compact line is the VERY LAST stdout write (after spark.stop so no
    // Spark shutdown chatter can land after it in the captured tail).
    println(compact)
  }

  /** One recorded lap: wall seconds (-1 = failed), this process's CPU
    * seconds over the same timed body, and the external-CPU share of the
    * machine over the whole lap. */
  final case class LapStat(wall: Double, cpu: Double, ext: Double)

  /** The lap protocol over one session: times entry laps as profiler runs
    * and keeps every recorded lap for the report. */
  final class Harness(spark: SparkSession, profiler: QueryProfiler) {
    private val sc = spark.sparkContext
    private val sunBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }

    /** CPU fraction consumed by processes other than this JVM since the
      * last call (interval-based; the first call primes the counters).
      * Loadavg cannot tell this JVM's busy cores from a concurrent
      * process's; systemCpu − processCpu can. */
    private def externalCpu(): Double = sunBean.map { b =>
      val sys = b.getCpuLoad
      val proc = b.getProcessCpuLoad
      if (sys.isNaN || proc.isNaN) 0.0 else math.max(0.0, sys - proc)
    }.getOrElse(0.0)
    externalCpu()

    /** This JVM's cumulative CPU seconds (-1 when the platform has no
      * process CPU counter). */
    private def processCpuSec(): Double =
      sunBean.map(_.getProcessCpuTime).filter(_ >= 0).map(_ / 1e9).getOrElse(-1.0)

    // every recorded lap of every entry, in lap order
    val runDetail = mutable.LinkedHashMap.empty[String, Seq[Double]]
    val cpuDetail = mutable.LinkedHashMap.empty[String, Seq[Double]]
    val extDetail = mutable.LinkedHashMap.empty[String, Seq[Double]]

    /** One lap of `e`. Its timed body runs as the profiler's entry `e.name`,
      * and every lap closes ONE profiler run (after draining the listener
      * bus), so the emitted profile is the min-wall run's metrics, not an
      * accumulation over laps. The run is closed only after the audit and,
      * for an `agree` arm, the comparison with `partner` (the name and value
      * of the arm that ran before it in this lap), so the bench result and
      * the profiler never disagree about whether a lap succeeded. Frames
      * the entry kept are released at the end of the lap, also when it
      * failed. Failures are reported on stderr, never silently -1'd away. */
    def lap(e: Entry, partner: Option[(String, Any)] = None): (LapStat, Option[Any]) = {
      externalCpu()
      var bodyCpu = -1.0
      val kept = mutable.ArrayBuffer.empty[DataFrame]
      val handle = new Lap {
        def keep(df: DataFrame): DataFrame = {
          val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          kept += p
          p
        }
        def timedAudited[R](body: => R)(audit: R => Unit): Timed[R] = {
          val c0 = processCpuSec()
          val (t, value) = QueryProfiler.inEntry(sc, e.name) {
            try {
              val t0 = System.nanoTime()
              val r = body
              ((System.nanoTime() - t0) / 1e9, Some(r))
            } catch {
              case NonFatal(ex) =>
                System.err.println(s"[bench] query '${e.name}' FAILED: ${ex.getClass.getName}: ${ex.getMessage}")
                (-1.0, None)
            }
          }
          bodyCpu = if (c0 < 0) -1.0 else processCpuSec() - c0
          ListenerBridge.waitUntilEmpty(sc)
          val wall = value.fold(t) { r =>
            try {
              audit(r)
              partner.foreach { case (pn, pv) =>
                require(r == pv, s"A/B arms disagree: ${e.name}=$r $pn=$pv")
                System.err.println(s"[bench] ${e.name} agrees with $pn")
              }
              t
            } catch {
              case NonFatal(ex) =>
                System.err.println(s"[bench] query '${e.name}' equality audit failed: ${ex.getMessage}")
                -1.0
            }
          }
          profiler.endRun(e.name, wall)
          Timed(wall, value.filter(_ => wall >= 0))
        }
      }
      val timed = try e.run(handle) catch {
        case NonFatal(ex) =>
          System.err.println(s"[bench] query '${e.name}' FAILED: ${ex.getClass.getName}: ${ex.getMessage}")
          Timed(-1.0, None)
      } finally kept.foreach(_.unpersist())
      (LapStat(timed.wall, bodyCpu, externalCpu()), timed.value)
    }

    /** `arms` (one entry, or the present arms of a receipt group) run
      * `laps` laps each — the first arm's own lap count when it sets one —
      * interleaved one lap each in turn, so each per-lap ratio compares
      * samples taken close together. Within a lap, each `agree` arm is
      * compared with the first `agree` arm that succeeded before it, and
      * fails on a different value; an `agree` arm without a partner in the
      * group is timed uncompared. Returns each arm's laps and the value of
      * its last lap. */
    def runGroup(arms: Seq[Entry], laps: Int): Seq[(String, Seq[LapStat], Option[Any])] = {
      val paired = arms.count(_.agree) >= 2
      val byLap = (1 to arms.head.laps.getOrElse(laps)).map { _ =>
        arms.foldLeft((Vector.empty[(LapStat, Option[Any])], Option.empty[(String, Any)])) {
          case ((done, partner), arm) =>
            if (arm.agree && !paired)
              System.err.println(s"[bench] ${arm.name} uncompared: its A/B partner did not run")
            val (stat, value) = lap(arm, if (arm.agree) partner else None)
            val next = if (arm.agree && partner.isEmpty) value.map(arm.name -> _) else partner
            (done :+ ((stat, value)), next)
        }._1
      }
      arms.zipWithIndex.map { case (arm, i) =>
        (arm.name, byLap.map(_(i)._1), byLap.lastOption.flatMap(_(i)._2))
      }
    }

    /** Record an entry's laps and return its reported value. */
    def record(name: String, laps: Seq[LapStat]): Double = {
      runDetail(name) = laps.map(_.wall)
      cpuDetail(name) = laps.map(_.cpu)
      extDetail(name) = laps.map(_.ext)
      BenchReport.lapSummary(laps.map(_.wall))
    }
  }
}

package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.Locale

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.dp._
import graft.operators.{CoreOps, DpHistogram}
import graft.sources.SyntheticSource

/** The reference's α × composition-mode utility comparison grid
  * (UtilityBenchmarkTest.java:78-171): every (α, composition) cell is one
  * calibration of the same §5.1 workload, and the CSV matches the
  * reference's committed `benchmark/utility` CSVs column-for-column —
  * `T,alpha,composition,mu,run,l0_mean,l_inf_mean,l1_mean,l2_mean,
  * sec_per_run,eps_round,delta_round,sigma_key,sigma_hist,beta,
  * threshold_quantile,tau_at_last_step` — so rows diff directly against
  * the reference's own tables (α=0.5 rows land inside its committed
  * bands; the α sweep reproduces the knob the reference exposes via
  * -Dbenchmark.alpha).
  *
  * The workload (and its prev-epoch pre-aggregation) is generated ONCE
  * per seed and shared across all grid cells, exactly as the reference
  * shares `generateBatches` output across configs — cells differ only in
  * calibration, so the grid isolates the α/composition effect.
  *
  * Run: sbt 'runMain graft.tools.UtilityGrid [T] [numUsers] [numKeys]
  *   [numRuns] [csvPath]'
  * Defaults: T=100 at the paper's full scale (10 M users, 1 M keys),
  * α ∈ {0.25, 0.5, 0.75} × {DWORK_ANALYTICAL, OPTIMAL_KOV, ZCDP_LINEAR}.
  */
object UtilityGrid {

  private val Alphas = Seq(0.25, 0.5, 0.75)
  private val Modes: Seq[(String, CompositionMode)] = Seq(
    "DWORK_ANALYTICAL" -> CompositionMode.DworkAnalytical,
    "OPTIMAL_KOV" -> CompositionMode.OptimalKov,
    "ZCDP_LINEAR" -> CompositionMode.ZcdpLinear)

  /** Diagnostic τ at the last step (UtilityBenchmarkTest.java:466-485):
    * κ = ceil(log2 T), Honaker node variance σ²/(2(1−2^−κ)),
    * τ = sqrt(κ · nodeVar) · Φ⁻¹(1−β). */
  def tauAtLastStep(sigmaKey: Double, thresholdQuantile: Double, t: Int): Double = {
    val kappa = math.ceil(math.log(t) / math.log(2))
    val nodeVar = sigmaKey * sigmaKey / (2.0 * (1.0 - math.pow(2.0, -kappa)))
    math.sqrt(kappa * nodeVar) * thresholdQuantile
  }

  private def csvRow(t: Int, alpha: Double, mode: String, mu: Long, run: Int,
      metrics: Array[Double], sec: Double, cal: DpCalibration): String =
    String.format(Locale.ROOT,
      "%d,%.4f,%s,%d,%d,%.6f,%.6f,%.6f,%.6f,%.6f,%.6e,%.6e,%.6f,%.6f,%.6e,%.6f,%.6f",
      Int.box(t), Double.box(alpha), mode, Long.box(mu), Int.box(run),
      Double.box(metrics(0)), Double.box(metrics(1)), Double.box(metrics(2)),
      Double.box(metrics(3)), Double.box(sec),
      Double.box(cal.epsilonKeyRound), Double.box(cal.deltaKeyRound),
      Double.box(cal.sigmaKey), Double.box(cal.sigmaHist), Double.box(cal.beta),
      Double.box(cal.thresholdQuantile),
      Double.box(tauAtLastStep(cal.sigmaKey, cal.thresholdQuantile, t)))

  def main(args: Array[String]): Unit = {
    val t = args.headOption.map(_.toInt).getOrElse(100)
    val numUsers = args.lift(1).map(_.toInt).getOrElse(10000000)
    val numKeys = args.lift(2).map(_.toInt).getOrElse(1000000)
    val numRuns = args.lift(3).map(_.toInt).getOrElse(1)
    val csvPath = args.lift(4).getOrElse(s"benchmark/utility/benchmark_T${t}_spark.csv")
    val c = 32L
    val mu = 0L

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Calibration depends only on (mode, α, T) — compute every cell once
    // up front, as the reference does (UtilityBenchmarkTest.java:228-232).
    val cells = for (alpha <- Alphas; (modeName, mode) <- Modes) yield {
      val cal = Calibration.calibrate(mode, 3.0, 2.0 / 3.0 * 1e-9, 3.0, 1.0 / 3.0 * 1e-9,
        c, t, perRecordClamp = 1.0, thresholdFailureFraction = alpha)
      System.err.println(f"[grid] alpha=$alpha%.2f $modeName%-17s eps_round=${cal.epsilonKeyRound}%.6f " +
        f"sigma_key=${cal.sigmaKey}%.4f beta=${cal.beta}%.3e quantile=${cal.thresholdQuantile}%.4f")
      (alpha, modeName, cal)
    }

    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    val perCell = scala.collection.mutable.Map.empty[(Double, String), List[(Array[Double], Double)]]
        .withDefaultValue(Nil)

    for (run <- 0 until numRuns) {
      val runSeed = 42L + run
      val contributions = SyntheticSource.workload(spark, numUsers, numKeys, t, runSeed, c, cpus.toInt * 4)
      contributions.cache()
      val nContrib = contributions.count()
      val preAgg = CoreOps.preAggregatePrevEpoch(contributions, "key", "epoch", "user_id", "value")
      preAgg.cache()
      preAgg.count()
      val truth = contributions.groupBy("key").agg(sum("value").cast("long").as("count"))
      truth.cache()
      truth.count()
      System.err.println(s"[grid] run=$run seed=$runSeed contributions=$nContrib (workload shared across ${cells.size} cells)")

      for ((alpha, modeName, cal) <- cells) {
        val params = DpParams(cal.sigmaKey, cal.sigmaHist, cal.thresholdQuantile, t, mu, c)
        val t0 = System.nanoTime()
        val dp = DpHistogram.run(spark, preAgg, params, runSeed)
        val m = CoreOps.utilityMetrics(dp, truth).collect()(0)
        val sec = (System.nanoTime() - t0) / 1e9
        val metrics = Array(m.getLong(0).toDouble, m.getDouble(1), m.getDouble(2), m.getDouble(3))
        System.err.println(f"[grid]   alpha=$alpha%.2f $modeName%-17s l0=${metrics(0)}%.0f " +
          f"linf=${metrics(1)}%.0f l1=${metrics(2)}%.0f l2=${metrics(3)}%.1f ($sec%.1fs)")
        rows += csvRow(t, alpha, modeName, mu, run, metrics, sec, cal)
        perCell((alpha, modeName)) = (metrics, sec) :: perCell((alpha, modeName))
      }
      truth.unpersist()
      preAgg.unpersist()
      contributions.unpersist()
    }

    // Summary row per cell (run = -1), reference format.
    for ((alpha, modeName, cal) <- cells) {
      val runs = perCell((alpha, modeName))
      val mean = Array.tabulate(4)(i => runs.map(_._1(i)).sum / runs.size)
      val meanSec = runs.map(_._2).sum / runs.size
      rows += csvRow(t, alpha, modeName, mu, -1, mean, meanSec, cal)
    }

    val path = Paths.get(csvPath)
    Option(path.getParent).foreach(Files.createDirectories(_))
    val header = "T,alpha,composition,mu,run,l0_mean,l_inf_mean,l1_mean,l2_mean,sec_per_run," +
      "eps_round,delta_round,sigma_key,sigma_hist,beta,threshold_quantile,tau_at_last_step"
    Files.write(path, (header +: rows.toSeq).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    println(s"""{"bench":"utility_grid_t$t","cells":${cells.size},"runs":$numRuns,"csv":"$csvPath"}""")
    spark.stop()
  }
}

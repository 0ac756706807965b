package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.dp._
import graft.operators.{CoreOps, DpHistogram}
import graft.sources.SyntheticSource

/** Paper §5.1 utility benchmark at full scale — the reference's committed
  * comparable (BASELINE.md): 10 M users, 1 M keys, key ~ ZipfMandelbrot(1M,
  * q=1000, s=1.4), per-user budget ~ min(ZipfMandelbrot(1e5, 26, 6.738), 32),
  * contributions uniform over T batches; ε=6, δ=1e-9 (ε_k=ε_h=3,
  * δ_k=2δ/3, δ_h=δ/3), C=32, L_m=1, μ=0, α=0.5, ZCDP_LINEAR
  * (UtilityBenchmarkTest.java:25-70).
  *
  * Reference numbers to beat (pure-JVM single-thread, T=100):
  * sec_per_run 545–1062 s; l0≈32.1k, l∞≈1.0–1.1k, l1≈16.89M, l2≈44.5k.
  *
  * Run: sbt 'runMain graft.tools.UtilityBench [T] [numUsers] [numKeys] [runSeed]'
  * Prints one JSON line with metrics + wall-clock.
  */
object UtilityBench {

  def main(args: Array[String]): Unit = {
    val t = args.headOption.map(_.toInt).getOrElse(100)
    val numUsers = args.lift(1).map(_.toInt).getOrElse(10000000)
    val numKeys = args.lift(2).map(_.toInt).getOrElse(1000000)
    val runSeed = args.lift(3).map(_.toLong).getOrElse(42L)
    val c = 32L

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // CsvCompat on purpose: UTILITY.md compares l0/l1/l2/linf against the
    // reference's committed CSV bands, which embody this calibration (σ_key
    // 27.8508 at T=100). The privacy-sound default is CompositionMode.
    // ZcdpLinear (linear ρ share, σ_key 30.79) — see Calibration.scala.
    val params = DpParams.calibrated(CompositionMode.ZcdpLinearCsvCompat,
      3.0, 2.0 / 3.0 * 1e-9, 3.0, 1.0 / 3.0 * 1e-9,
      maxTimeSteps = t, mu = 0L, maxContributionsPerUser = c,
      perRecordClamp = 1.0, thresholdFailureFraction = 0.5)
    System.err.println(s"[utility] sigmaKey=${params.sigmaKey} sigmaHist=${params.sigmaHist} " +
      s"quantile=${params.thresholdQuantile} T=$t users=$numUsers keys=$numKeys")

    val t0 = System.nanoTime()

    val contributions = SyntheticSource.workload(spark, numUsers, numKeys, t, runSeed, c, cpus.toInt * 4)

    contributions.cache()
    val nContrib = contributions.count()

    val preAgg = CoreOps.preAggregatePrevEpoch(contributions, "key", "epoch", "user_id", "value")
    val dp = DpHistogram.run(spark, preAgg, params, runSeed)

    val truth = contributions.groupBy("key").agg(sum("value").cast("long").as("count"))
    val metrics = CoreOps.utilityMetrics(dp, truth).collect()(0)
    val elapsed = (System.nanoTime() - t0) / 1e9

    println(s"""{"bench":"utility_t$t","users":$numUsers,"keys":$numKeys,"contributions":$nContrib,""" +
      s""""l0":${metrics.getLong(0)},"linf":${metrics.getDouble(1)},"l1":${metrics.getDouble(2)},""" +
      s""""l2":${metrics.getDouble(3)},"sec_per_run":$elapsed,""" +
      s""""reference_sec_per_run":"545-1062 (T=100, single-thread JVM)"}""")
    spark.stop()
  }
}

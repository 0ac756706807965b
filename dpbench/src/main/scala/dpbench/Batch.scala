package dpbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dp.{CompositionMode, DpParams}
import graft.operators.{CoreOps, DpHistogram}

/** The §5.1 calibration the reference's utility CSVs embody (ZCDP
  * CSV-compat): ε = 6 split evenly between key selection and histogram,
  * δ = 1e-9 split 2:1, C = 32, L_m = 1, μ = 0, α = 0.5. */
object Params {
  val C = 32
  def calibrated(t: Int): DpParams = DpParams.calibrated(CompositionMode.ZcdpLinearCsvCompat,
    3.0, 2.0 / 3.0 * 1e-9, 3.0, 1.0 / 3.0 * 1e-9,
    maxTimeSteps = t, mu = 0L, maxContributionsPerUser = C.toLong,
    perRecordClamp = 1.0, thresholdFailureFraction = 0.5)
}

/** One operation's outcome. `failures` names each failed check. */
final case class LapResult(wallS: Double, epochLatencyMs: Seq[Double], ops: Int, failed: Int,
    digest: String, failures: Seq[String], detail: Map[String, Any])

/** Batch DP-SQLP replay of the §5.1 workload at reduced scale:
  * parquet → B1 → A2 → DpHistogram.run → sink, all through the program's
  * public operators. The envelope is bypassed. */
final class ReplayT100(val spark: SparkSession, val seed: Long, val work: String) {
  val t = 100
  val users = 40000
  val keys = 5000
  var inputRecords = 0L

  val inputPath = s"$work/input.parquet"
  lazy val params: DpParams = Params.calibrated(t)

  /** Generates the seeded input and writes it under the work directory. */
  def materialize(): Unit =
    Gen.replayInput(spark, seed, users, keys, t, Params.C, Env.nproc)
      .write.mode("overwrite").parquet(inputPath)

  /** Reads the input's count back from disk. */
  def load(): Unit = inputRecords = spark.read.parquet(inputPath).count()

  /** source → B1, ready for A2 as (key, epoch, user, value). */
  def bounded(p: Probe): DataFrame = {
    val src = p.layer("source")(spark.read.parquet(inputPath))
    p.layer("b1")(CoreOps.boundContributions(src, "user", "seq", Params.C.toLong))
  }

  def preAgg(b: DataFrame): DataFrame =
    CoreOps.preAggregatePrevEpoch(b, "key", "epoch", "user", "value")

  /** Runs one lap; the wall clock covers on-disk input to released
    * histogram. Also returns the bounded, A2 and released frames. */
  def lap(p: Probe): (LapResult, Seq[DataFrame]) = {
    val t0 = System.nanoTime()
    val b = bounded(p)
    val a2 = p.layer("a2")(preAgg(b))
    val released = p.layer("mechanism")(DpHistogram.run(spark, a2, params, seed))
    val rows = p.sink(released)
    val wall = (System.nanoTime() - t0) / 1e9
    val digest = Stats.digest(rows.map(r => Seq(r.getString(0), r.getLong(1))))
    (LapResult(wall, Seq.fill(t)(wall * 1e3), 1, 0, digest, Nil, Map("released_keys" -> rows.length)),
      Seq(b, a2, released))
  }

  /** σ = 0 pass: with no noise the mechanism must release exactly the
    * per-key sums of the bounded input, as an independent groupBy gives them. */
  def sigmaZeroCheck(): Option[String] = {
    val b = bounded(Untraced).localCheckpoint(eager = true)
    val released = DpHistogram.run(spark, preAgg(b), DpParams.zeroNoise(t, 0L, Params.C.toLong), seed)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sums = b.groupBy("key").agg(sum("value").as("s")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // a sum within 1e-6 of a .5 boundary may round either way under a
    // different summation order
    val bad = (released.keySet ++ sums.keySet).filterNot { k =>
      val s = sums.getOrElse(k, 0.0)
      val near = math.abs(s - math.floor(s) - 0.5) < 1e-6
      released.get(k).exists(v => v == math.max(0L, math.round(s)) || (near && math.abs(v - s) <= 0.5 + 1e-6))
    }
    if (bad.isEmpty) None else Some(s"sigma0: ${bad.size} keys differ from groupBy, e.g. ${bad.take(3)}")
  }
}

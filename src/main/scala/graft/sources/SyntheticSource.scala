package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.dp.{Mix, ZipfMandelbrot}
import graft.streaming.Contribution

/** Synthetic DP-SQLP workload generator — Spark-native restatement of the
  * reference's SyntheticSpout (S3,
  * examples/synthetic-benchmark-confidential/host/.../SyntheticSpout.java:30-174)
  * and the byte-budget micro-batch source (S4,
  * examples/microbatch-benchmark-baseline/.../MicroBatchBaselineSpout.java:53-316).
  *
  * Paper §5.1 parameters: key ~ ZipfMandelbrot(numKeys, q=1000, s=1.4),
  * per-user contribution budget ~ ZipfMandelbrot(1e5, q=26, s=6.738).
  *
  * Scale design: `spark.range(n)` partitions the id space; every sampled
  * value derives from `mix64(seed, rowId)` so the output is deterministic
  * under any partitioning and any task retry — no per-partition RNG state.
  * The Zipf CDF (O(numKeys) doubles) is built once per partition inside
  * `mapPartitions`, not per row. The reference's BEGIN/END/ZooKeeper batch
  * protocol (≈900 LoC) maps to "one Spark job per batch": duration = job
  * wall-clock.
  */
object SyntheticSource {

  val KeyDistQ = 1000.0
  val KeyDistS = 1.4
  val UserDistN = 100000
  val UserDistQ = 26.0
  val UserDistS = 6.738

  /** `numRows` keyed unit contributions over `numEpochs` epochs. */
  def zipfContributions(
      spark: SparkSession,
      numRows: Long,
      numUsers: Int,
      numKeys: Int,
      numEpochs: Int,
      seed: Long = 42L,
      partitions: Int = 32): Dataset[Contribution] = {
    import spark.implicits._
    spark.range(0, numRows, 1, partitions).mapPartitions { ids =>
      val keyDist = new ZipfMandelbrot(numKeys, KeyDistQ, KeyDistS)
      ids.map { id =>
        val uKey = Mix.uniform01(Mix.mix64(seed ^ Mix.mix64(id)))
        val uUser = Mix.uniform01(Mix.mix64(seed ^ Mix.mix64(id + numRows)))
        // >>> 33 leaves a non-negative 31-bit value, so % is enough
        val epoch = (Mix.mix64(seed ^ Mix.mix64(id + 2 * numRows)) >>> 33).toInt % numEpochs
        Contribution(
          key = keyDist.sample(uKey).toString,
          epoch = epoch,
          userId = (1 + (uUser * numUsers).toInt.min(numUsers - 1)).toString,
          value = 1.0)
      }
    }
  }

  /** Paper §5.1 workload at arbitrary scale: one (key, epoch, user_id,
    * value) row per contribution, key ~ [[KeyDistQ]]/[[KeyDistS]] Zipf, per-user
    * budget ~ min(ZipfMandelbrot([[UserDistN]], …), c), epochs uniform over T.
    * All randomness derives per (user, contribution-index) — deterministic
    * under retries and any partitioning. */
  def workload(spark: SparkSession, numUsers: Int, numKeys: Int, t: Int,
      runSeed: Long, c: Long, partitions: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, numUsers, 1, partitions).mapPartitions { users =>
      val budgetDist = new ZipfMandelbrot(UserDistN, UserDistQ, UserDistS)
      val keyDist = new ZipfMandelbrot(numKeys, KeyDistQ, KeyDistS)
      users.flatMap { u =>
        val budget = math.min(budgetDist.sample(Mix.uniform01(Mix.mix64(runSeed ^ Mix.mix64(u)))), c).toInt
        (0 until budget).iterator.map { ci =>
          val h = Mix.mix64(runSeed ^ Mix.mix64(u * 64L + ci + 1))
          val epoch = math.floorMod(h, t)
          val key = keyDist.sample(Mix.uniform01(Mix.mix64(h)))
          (key.toString, epoch.toInt, u.toString, 1.0)
        }
      }
    }.toDF("key", "epoch", "user_id", "value")
  }

  /** Byte-budget batch sizing: the reference measures 31 B/tuple
    * (MicroBatchConfig.java:219-231); records = ceil(GB · 2^30 / 31). */
  def recordsForGb(gb: Double): Long = math.ceil(gb * (1L << 30) / 31.0).toLong
}

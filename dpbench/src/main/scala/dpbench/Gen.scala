package dpbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generator of the benchmark. It is independent of the
  * program's own sources so that a change there cannot change what is
  * measured. Every value is a pure function of (seed, record index), so the
  * output does not depend on how Spark partitions the generation. */
object Gen {

  /** SplitMix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0, 1) from the top 53 bits. */
  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))

  def hash(seed: Long, stream: Long, index: Long): Long = mix(mix(seed ^ mix(stream)) + index)

  /** Zipf–Mandelbrot over ranks 1..n with P(k) ∝ 1/(k+q)^s (paper §5.1),
    * sampled by inverse transform on the CDF. */
  final class ZipfMandelbrot(val n: Int, q: Double, s: Double) extends Serializable {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => math.pow(i + 1 + q, -s))
      val total = w.sum
      var run = 0.0
      val out = w.map { x => run += x; run / total }
      out(n - 1) = 1.0
      out
    }
    def sample(u: Double): Int = {
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo + 1
    }
  }

  /** §5.1 key shape: ZipfMandelbrot(keys, q = 1000, s = 1.4). */
  def keyDist(keys: Int) = new ZipfMandelbrot(keys, 1000.0, 1.4)
  /** §5.1 per-user contribution budget: ZipfMandelbrot(1e5, q = 26, s = 6.738). */
  def budgetDist() = new ZipfMandelbrot(100000, 26.0, 6.738)

  final case class ReplayRow(key: String, epoch: Int, user: String, value: Double, seq: Long)

  /** The §5.1 workload for one user: min(budget, c) contributions, epochs
    * uniform over t, keys Zipf-Mandelbrot, value 1. `seq` orders a user's
    * contributions for B1. */
  def replayUser(seed: Long, user: Long, t: Int, c: Int, keys: ZipfMandelbrot,
      budgets: ZipfMandelbrot): Iterator[ReplayRow] = {
    val budget = math.min(budgets.sample(unit(hash(seed, 1, user))), c)
    Iterator.range(0, budget).map { ci =>
      val h = hash(seed, 2, user * 64 + ci)
      ReplayRow(keys.sample(unit(mix(h))).toString, java.lang.Math.floorMod(h, t.toLong).toInt,
        user.toString, 1.0, user * 64 + ci)
    }
  }

  /** One micro-batch record at 31 B/tuple in the reference's accounting:
    * (key, count, user, routing key), plus its producer and sequence number
    * and the two injected faults. A record is misrouted (sealed for the wrong
    * stage) or replayed (delivered twice), never both. */
  final case class BatchRecord(seq: Long, producer: String, key: String, count: Double,
      user: String, routing: String, misrouted: Boolean, replayed: Boolean, epoch: Int)

  def batchRecord(seed: Long, i: Long, users: Int, keys: ZipfMandelbrot, producers: Int,
      faultPerMille: Int, epoch: Int): BatchRecord = {
    val h = hash(seed, 3, i)
    val user = java.lang.Math.floorMod(mix(h ^ 1), users.toLong)
    val fault = java.lang.Math.floorMod(mix(h ^ 2), 1000L).toInt
    BatchRecord(i, s"p${i % producers}", keys.sample(unit(mix(h ^ 3))).toString,
      2.0 * unit(mix(h ^ 4)), user.toString, s"r${user % 64}",
      misrouted = fault < faultPerMille, replayed = fault >= faultPerMille && fault < 2 * faultPerMille,
      epoch)
  }

  def replayInput(spark: SparkSession, seed: Long, users: Int, keys: Int, t: Int, c: Int,
      partitions: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, users.toLong, 1, partitions).mapPartitions { it =>
      val kd = keyDist(keys)
      val bd = budgetDist()
      it.flatMap(u => replayUser(seed, u, t, c, kd, bd))
    }.toDF()
  }

  /** `records` micro-batch records spread evenly over `epochs` epochs. */
  def batchInput(spark: SparkSession, seed: Long, records: Long, users: Int, keys: Int,
      producers: Int, faultPerMille: Int, epochs: Int, partitions: Int): DataFrame = {
    import spark.implicits._
    val perEpoch = math.max(1L, records / epochs)
    spark.range(0, records, 1, partitions).mapPartitions { it =>
      val kd = keyDist(keys)
      it.map(i => batchRecord(seed, i, users, kd, producers, faultPerMille,
        math.min(epochs - 1L, i / perEpoch).toInt))
    }.toDF()
  }
}

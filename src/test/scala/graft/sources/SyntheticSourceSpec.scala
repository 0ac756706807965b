package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Generator determinism and distribution-shape checks (the reference pins
  * its Zipf workload by seed — SyntheticSpout.java:64-119, seed 42). */
class SyntheticSourceSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("generator is deterministic under repartitioning (retry-safe)") {
    val a = SyntheticSource.zipfContributions(spark, 20000L, 1000, 500, 4, partitions = 4)
      .collect().sortBy(c => (c.key, c.userId, c.epoch))
    val b = SyntheticSource.zipfContributions(spark, 20000L, 1000, 500, 4, partitions = 13)
      .collect().sortBy(c => (c.key, c.userId, c.epoch))
    assert(a.toSeq === b.toSeq)
  }

  test("key distribution is Zipf-shaped: head ranks dominate") {
    val freq = SyntheticSource.zipfContributions(spark, 100000L, 1000, 500, 4).toDF()
      .groupBy("key").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0).toInt, r.getLong(1))).toMap
    // with q=1000, s=1.4 over N=500 the distribution is mildly skewed;
    // rank 1 must beat deep-tail ranks on average
    val head = (1 to 50).flatMap(freq.get).sum
    val tail = (451 to 500).flatMap(freq.get).sum
    assert(head > tail, s"head=$head tail=$tail")
  }

  test("golden pin: seed-42 frequency head is stable across code changes") {
    // pins the exact generator output (any RNG/derivation change breaks this
    // deliberately — the s3_zipf_freq query has no SQL oracle)
    val top = SyntheticSource.zipfContributions(spark, 100000L, 1000, 500, 4).toDF()
      .groupBy("key").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("key"))
      .limit(3).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(top === Seq(("55", 293L), ("37", 292L), ("14", 288L)))
  }

  test("epochs cover the requested range uniformly-ish") {
    val epochs = SyntheticSource.zipfContributions(spark, 20000L, 1000, 500, 8).toDF()
      .groupBy("epoch").count().collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(epochs.keySet === (0 until 8).toSet)
    assert(epochs.values.min > 1000L)
  }

  test("user budgets follow the capped reference distribution") {
    // a user's budget is its contribution count in the §5.1 workload
    val c = 32
    val budgets = SyntheticSource.workload(spark, 5000, 100, 4, 42L, c, 4)
      .groupBy("user_id").count().collect().map(_.getLong(1))
    assert(budgets.length === 5000)
    assert(budgets.forall(b => b >= 1 && b <= c))
    val dist = new graft.dp.ZipfMandelbrot(
      SyntheticSource.UserDistN, SyntheticSource.UserDistQ, SyntheticSource.UserDistS)
    val theory = (1 to dist.n).map(k => dist.pmf(k) * math.min(k, c)).sum
    val empirical = budgets.map(_.toDouble).sum / budgets.length
    assert(math.abs(empirical - theory) / theory < 0.1, s"empirical=$empirical theory=$theory")
  }

  test("byte-budget sizing matches the reference's 31 B/tuple accounting") {
    assert(SyntheticSource.recordsForGb(1.0) === math.ceil((1L << 30) / 31.0).toLong)
    assert(SyntheticSource.recordsForGb(0.5) === math.ceil(0.5 * (1L << 30) / 31.0).toLong)
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dp.DpParams

/** Pins [[CoreOps.preAggregatePrevEpoch]] (windows over raw rows, then one
  * (key, epoch, prev) aggregate) to the per-user formulation it replaced:
  * aggregate per (key, epoch, user) first, then `lag(epoch)` per
  * (key, user). That formulation lives only here, as the reference. */
class PrevEpochPreAggSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def reference(df: DataFrame): DataFrame = {
    val perUser = df
      .select(col("key"), col("epoch").cast("int").as("epoch"), col("user"), col("value").as("__v"))
      .repartition(col("key"), col("user"))
      .groupBy(col("key"), col("epoch"), col("user"))
      .agg(sum(col("__v")).as("user_sum"))
    val w = Window.partitionBy(col("key"), col("user")).orderBy(col("epoch"))
    perUser
      .withColumn("prev", coalesce(lag(col("epoch"), 1).over(w), lit(-1)))
      .groupBy(col("key"), col("epoch"), col("prev"))
      .agg(sum(col("user_sum")).as("v_part"), count(lit(1)).as("n"))
      .groupBy(col("key"), col("epoch"))
      .agg(sum(col("v_part")).as("delta_v"),
        collect_list(struct(col("prev"), col("n"))).as("prev_counts"))
  }

  /** (key, epoch) → (delta_v, prev_counts sorted by prev). */
  private def rows(preAgg: DataFrame): Map[(String, Int), (Double, Seq[(Int, Long)])] =
    preAgg.collect().map { r =>
      val prev = r.getSeq[Row](r.fieldIndex("prev_counts")).map(p => (p.getInt(0), p.getLong(1))).sortBy(_._1)
      (r.getAs[String]("key"), r.getAs[Int]("epoch")) -> (r.getAs[Double]("delta_v"), prev)
    }.toMap

  /** Exact on epochs, prevs and user counts; ΔV exact when `exactValues`,
    * else within 1e-9 relative (the two sum in different orders). */
  private def assertEquivalent(input: DataFrame, exactValues: Boolean): Unit = {
    val got = rows(CoreOps.preAggregatePrevEpoch(input, "key", "epoch", "user", "value"))
    val want = rows(reference(input))
    assert(got.keySet === want.keySet)
    for ((k, (dv, prev)) <- want) {
      val (gotDv, gotPrev) = got(k)
      assert(gotPrev === prev, s"prev_counts differ at $k")
      if (exactValues) assert(gotDv === dv, s"delta_v differs at $k")
      else assert(math.abs(gotDv - dv) <= 1e-9 * math.max(1.0, math.abs(dv)), s"delta_v $gotDv vs $dv at $k")
    }
  }

  // key a: u1 repeats within epochs and appears out of order (3, 0, 0, 5);
  // u2 returns after a gap; u3 arrives late. key b: u1 returns after a
  // six-epoch gap; u4 repeats within one epoch. Rows are listed out of
  // epoch order and spread round-robin over three partitions.
  private val handwritten = Seq(
    ("a", 3, "u1", 0.25), ("a", 0, "u1", 1.5), ("a", 5, "u3", 2.0), ("a", 0, "u1", 0.75),
    ("a", 0, "u2", 1.0), ("a", 5, "u1", 0.5), ("a", 5, "u2", 3.25), ("a", 5, "u1", 0.125),
    ("b", 7, "u1", 1.0), ("b", 1, "u1", 2.0), ("b", 2, "u4", 0.5), ("b", 1, "u1", 1.0),
    ("b", 2, "u4", 0.5), ("b", 1, "u1", 0.1), ("b", 7, "u4", 4.0))

  test("handwritten rows: repeats, out-of-order epochs and returning users match the per-user formulation") {
    import spark.implicits._
    val input = handwritten.toDF("key", "epoch", "user", "value").repartition(3)
    assertEquivalent(input, exactValues = false)
    // spot-check the semantics the reference encodes
    val got = rows(CoreOps.preAggregatePrevEpoch(input, "key", "epoch", "user", "value"))
    assert(got(("a", 5))._2 === Seq((-1, 1L), (0, 1L), (3, 1L)))
    assert(got(("b", 7))._2 === Seq((1, 1L), (2, 1L)))
    assert(got(("b", 1))._2 === Seq((-1, 1L)))
  }

  test("seeded random rows match the per-user formulation, integer and fractional values") {
    import spark.implicits._
    val rnd = new scala.util.Random(20303)
    val raw = (0 until 6000).map { _ =>
      // skewed keys: key 0 takes about half the rows
      val key = if (rnd.nextBoolean()) "k0" else s"k${rnd.nextInt(25)}"
      (key, rnd.nextInt(12), s"u${rnd.nextInt(400)}", rnd.nextInt(5), rnd.nextDouble() * 3.0)
    }
    val integral = raw.map(r => (r._1, r._2, r._3, r._4.toDouble)).toDF("key", "epoch", "user", "value").repartition(5)
    assertEquivalent(integral, exactValues = true)
    val fractional = raw.map(r => (r._1, r._2, r._3, r._5)).toDF("key", "epoch", "user", "value").repartition(5)
    assertEquivalent(fractional, exactValues = false)
  }

  test("round reset: the mechanism releases the same histogram from either formulation") {
    import spark.implicits._
    // mu = 2: key a releases at epoch 0 (u1, u2) and its round restarts, so
    // u1's return at epoch 3 counts as new again; the values are integers,
    // so the releases must be bit-identical
    val input = handwritten.map { case (k, e, u, v) => (k, e, u, math.ceil(v)) }
      .toDF("key", "epoch", "user", "value")
    for (params <- Seq(DpParams.zeroNoise(8, mu = 2),
        DpParams(3.0, 6.0, graft.dp.Stats.inverseNormalCdf(1 - 1e-2), 8, 2, 10))) {
      val viaWindows = DpHistogram.run(spark,
        CoreOps.preAggregatePrevEpoch(input, "key", "epoch", "user", "value"), params, 11L).collect().toSeq
      val viaPerUser = DpHistogram.run(spark, reference(input), params, 11L).collect().toSeq
      assert(viaWindows === viaPerUser)
    }
    val released = DpHistogram.run(spark,
      CoreOps.preAggregatePrevEpoch(input, "key", "epoch", "user", "value"), DpParams.zeroNoise(8, mu = 2))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(released.get("a").contains(handwritten.filter(_._1 == "a").map(r => math.ceil(r._4)).sum.toLong))
  }
}

package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.Tables
import graft.dp.DpParams
import graft.operators.{CoreOps, DpHistogram}

/** transformWithState (RocksDB-backed) variant of the DP operator: must agree
  * with the batch operator on replay, and its timer path must fire pending
  * Algo-3 predicted releases for keys that never reappear. */
class TransformWithStateSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.checkpointLocation", s"/tmp/graft_tws_ckpt_${System.nanoTime()}")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("transformWithState DP histogram equals batch operator on epoch replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val params = DpParams(3.0, 6.0, graft.dp.Stats.inverseNormalCdf(1 - 1e-3), 32, 20, 50)

    val contributions = Tables.events(spark, sfDir)
      .select(col("event_type"), dayofmonth(col("ts")).cast("int"), col("user_id").cast("string"), col("value"))
      .collect()
      .map(r => Contribution(r.getString(0), r.getInt(1), r.getString(2), r.getDouble(3)))
      .toSeq

    val mem = MemoryStream[Contribution]
    val releases = DpStatefulProcessor.dpHistogram(mem.toDS(), params)
    val q = releases.writeStream.outputMode("append").format("memory").queryName("tws").start()
    try {
      contributions.groupBy(_.epoch).toSeq.sortBy(_._1).foreach { case (_, rows) =>
        mem.addData(rows)
        q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = spark.table("tws").orderBy(col("epoch")).collect()
      .foldLeft(Map.empty[String, Long]) { (acc, r) => acc + (r.getString(0) -> r.getLong(2)) }

    val events = Tables.events(spark, sfDir)
      .select(col("event_type").as("key"), dayofmonth(col("ts")).cast("int").as("epoch"),
        col("user_id").cast("string").as("user_id"), col("value"))
    val batch = DpHistogram.run(spark, CoreOps.preAggregatePrevEpoch(events, "key", "epoch", "user_id", "value"), params)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap

    assert(streamed === batch)
  }

  /** Runs `body` with a query over [[DpStatefulProcessor.dpHistogram]] fed
    * by `feed(rows)` (one trigger, drained), reading the sink with `sink()`. */
  private def withEagerQuery(params: DpParams, runSeed: Long, name: String)(
      body: (Seq[Contribution] => Unit, () => Seq[(String, Int, Long)]) => Unit): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Contribution]
    val q = DpStatefulProcessor.dpHistogram(mem.toDS(), params, runSeed)
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    try body(
      rows => { mem.addData(rows); q.processAllAvailable() },
      () => spark.table(name).collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq)
    finally q.stop()
  }

  test("timer fires a pending predicted release for a key that never reappears") {
    val T = 16
    val params = DpParams(sigmaKey = 5.0, sigmaHist = 0.0,
      thresholdQuantile = graft.dp.Stats.inverseNormalCdf(1 - 0.4), maxTimeSteps = T,
      mu = 2, maxContributionsPerUser = 32)
    // a seed where the single-shot key is NOT selected at epoch 0 but
    // Algo 3 predicts a noise-alone release at a later epoch (probed with
    // the single-node state machine: same seeds, same trees)
    val (seed, p) = (0L until 400L).view.flatMap { seed =>
      val probe = graft.dp.DpKeyState.seeded(params, seed, "cold")
      val first = probe.processEpoch(0, Seq("u1"), 3.0, appeared = true)
      if (first.isEmpty) probe.predictedRelease.filter(_ < T - 1).map(seed -> _) else None
    }.headOption.getOrElse(fail("no seed produced a prediction scenario"))

    withEagerQuery(params, seed, "twstimer") { (feed, sink) =>
      def cold = sink().filter(_._1 == "cold")
      feed(Seq(Contribution("cold", 0, "u1", 3.0)))
      // later epochs arrive as rows of another key; the prediction for p
      // fires exactly when epoch p + 1 is fed, i.e. when epoch p closes
      (1 to p).foreach { e =>
        feed(Seq(Contribution("pad", e, "v", 1.0)))
        assert(cold.isEmpty, s"release surfaced at epoch $e, before epoch $p closed")
      }
      feed(Seq(Contribution("pad", p + 1, "v", 1.0)))
      assert(cold === Seq(("cold", p, 3L))) // sigmaHist=0: exact buffered sum
      // a late row (epoch p < watermark epoch p + 1) is dropped
      feed(Seq(Contribution("cold", p, "u2", 5.0)))
      feed(Seq(Contribution("pad", p + 2, "v", 1.0)))
      assert(cold === Seq(("cold", p, 3L)))
    }
  }

  test("a key reappearing before its prediction keeps its data: the batch value, nothing early") {
    import spark.implicits._
    val params = DpParams(3.0, 6.0, graft.dp.Stats.inverseNormalCdf(0.7), 32, 20, 50)
    val seed = 1L
    val epoch0 = (0 until 19).map(u => Contribution("lonely", 0, s"u$u", 1.0))
    val epoch1 = (19 until 79).map(u => Contribution("lonely", 1, s"u$u", 1.0))
    // 19 users stay below the gate and Algorithm 3 predicts a later epoch
    val probe = graft.dp.DpKeyState.seeded(params, seed, "lonely")
    probe.appear(0, Seq((-1, 19L)), 19.0)
    assert(probe.currentSum.isEmpty && probe.predictedRelease.exists(_ > 1), probe.predictedRelease)

    val batch = DpHistogram.run(spark, CoreOps.preAggregatePrevEpoch(
        (epoch0 ++ epoch1).toDF(), "key", "epoch", "userId", "value"), params, seed)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    withEagerQuery(params, seed, "twsreappear") { (feed, sink) =>
      feed(epoch0)
      assert(sink().isEmpty, "a release surfaced while the stream was still at epoch 0")
      feed(epoch1)
      feed(Seq(Contribution("pad", 2, "v", 1.0)))
      val lonely = sink().filter(_._1 == "lonely")
      assert(lonely.map(_._2) === Seq(1), lonely)
      assert(Map("lonely" -> lonely.head._3) === batch)
    }
  }
}

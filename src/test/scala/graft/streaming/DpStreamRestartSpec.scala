package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dp.{DpParams, Stats}
import graft.operators.SealedColumns

import scala.jdk.CollectionConverters._
import scala.util.Random

/** Privacy under a restart of the sealed streaming DP pipeline
  * (unsealContributions → boundContributions → a DP operator): a query
  * stopped after epoch k and restarted from the same checkpoint must release
  * exactly what an uninterrupted run releases, never release a (key, epoch)
  * twice, never admit a user more than C times, and still reject a sealed
  * tuple replayed after the restart. Run for the lazy operator on the default
  * state store and for the watermark-eager one on RocksDB, whose timers fire
  * data-free releases on both sides of the stop. */
class DpStreamRestartSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val Epochs = 8
  private val C = 3L
  private val params = DpParams(sigmaKey = 1.0, sigmaHist = 2.0,
    thresholdQuantile = Stats.inverseNormalCdf(1 - 0.3), maxTimeSteps = Epochs, mu = 1,
    maxContributionsPerUser = C)
  private val runSeed = 5L
  // a loose gate (β = 0.45) on a wide selection noise, so Algorithm 3
  // predicts noise-alone releases for the sparse keys
  private val eagerParams = DpParams(sigmaKey = 3.0, sigmaHist = 2.0,
    thresholdQuantile = Stats.inverseNormalCdf(1 - 0.45), maxTimeSteps = Epochs, mu = 3,
    maxContributionsPerUser = C)
  private val eagerSeed = 2L

  /** (json, seq, producer) per epoch: six pool users on four keys, a heavy
    * user "h" on its own key every epoch (it reaches C across the restart),
    * and a one-off user "r" whose sealed tuple is replayed later. */
  private val epochs: IndexedSeq[Seq[(String, Long, String)]] = {
    val rnd = new Random(17)
    var seq = 0L
    def record(key: String, e: Int, user: String, v: Double) = {
      seq += 1
      (s"""{"key":"$key","epoch":$e,"userId":"$user","value":$v}""", seq, s"p${seq % 2}")
    }
    IndexedSeq.tabulate(Epochs) { e =>
      val pool = (0 until 6).map(_ => record(s"k${rnd.nextInt(4)}", e, s"u${rnd.nextInt(30)}", 1.0 + rnd.nextInt(3)))
      val extra = if (e == 1) Seq(record("k0", e, "r", 2.0)) else Nil
      pool ++ extra :+ record("solo", e, "h", 1.0)
    }
  }
  private val replayed = epochs(1).find(_._1.contains("\"r\"")).get

  /** Runs the pipeline with DP operator `dp` over all epochs, stopping the
    * query after epoch `stopAfter` and restarting it from its checkpoint;
    * the replayed tuple is fed again right after the stop point. Returns
    * every release with the last epoch fed before it was emitted, and the
    * (user, key, epoch) of every admitted contribution. */
  private def run(dp: Dataset[Contribution] => Dataset[Release], stopAfter: Int,
      restart: Boolean): (Seq[(Int, (String, Int, Long))], Seq[(String, String, Int)]) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = graft.crypto.SealedPayload.testKey
    val codec = new SealedColumns.Codec(key, "aes-gcm")
    val admitted = spark.sparkContext.collectionAccumulator[(String, String, Int)]
    val released = new java.util.concurrent.ConcurrentLinkedQueue[(Int, (String, Int, Long))]()
    var fed = -1
    val mem = MemoryStream[(String, Long, String)]
    val sealedStream = mem.toDS().toDF("plainJson", "seq", "producer")
      .select(SealedColumns.sealColumn(col("plainJson"), col("seq"), "spout", "dp", col("producer"), codec)
        .as("payload"))
    val bounded = StreamingPipelines.boundContributions(
        StreamingPipelines.unsealContributions(sealedStream, key, "aes-gcm", "spout", "dp"), C)
      .map { c => admitted.add((c.userId, c.key, c.epoch)); c }
    val releases = dp(bounded)
    val ckpt = s"/tmp/graft_restart_ckpt_${System.nanoTime()}"
    def start() = releases.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch((b: Dataset[Release], id: Long) =>
        b.collect().foreach(r => released.add((fed, (r.key, r.epoch, r.count)))))
      .start()

    var q = start()
    try {
      epochs.zipWithIndex.foreach { case (rows, e) =>
        fed = e
        mem.addData(if (e == stopAfter + 1) replayed +: rows else rows)
        q.processAllAvailable()
        if (e == stopAfter && restart) {
          q.stop()
          q = start()
        }
      }
    } finally q.stop()
    (released.asScala.toSeq, admitted.value.asScala.toSeq)
  }

  /** The four restart assertions; returns the restarted run's releases
    * (with the epoch fed before each) and admitted contributions. */
  private def checkRestart(dp: Dataset[Contribution] => Dataset[Release], stopAfter: Int)
      : (Seq[(Int, (String, Int, Long))], Seq[(String, String, Int)]) = {
    val (plain, plainAdmitted) = run(dp, stopAfter, restart = false)
    val (restarted, restartedAdmitted) = run(dp, stopAfter, restart = true)

    assert(plain.nonEmpty)
    assert(restarted.map(_._2).sorted === plain.map(_._2).sorted)
    restarted.groupBy(r => (r._2._1, r._2._2)).foreach { case (ke, rs) =>
      assert(rs.size === 1, s"$ke released ${rs.size} times")
    }
    val perUser = restartedAdmitted.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(perUser.values.max <= C, perUser)
    assert(perUser("h") === C) // "h" contributes every epoch: its cap spans the restart
    assert(perUser("r") === 1L, "the sealed tuple replayed after the restart was admitted")
    assert(restartedAdmitted.sorted === plainAdmitted.sorted)
    (restarted, restartedAdmitted)
  }

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"

  test("restart after epoch k releases what an uninterrupted run releases, once each, within C") {
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    checkRestart(StreamingPipelines.dpHistogram(_, params, runSeed), stopAfter = 1)
  }

  test("watermark-eager restart on RocksDB: timers fire on both sides of the stop, once each") {
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stopAfter = 3
    val (restarted, admitted) = try checkRestart(
        DpStatefulProcessor.dpHistogram(_, eagerParams, eagerSeed), stopAfter)
      finally spark.conf.unset(providerKey)
    // data-free releases: a key released at an epoch it had no data in
    val fedAt = admitted.map(a => (a._2, a._3)).toSet
    val dataFree = restarted.filterNot { case (_, (k, e, _)) => fedAt((k, e)) }
    val (before, after) = dataFree.partition(_._1 <= stopAfter)
    assert(before.nonEmpty && after.nonEmpty,
      s"data-free releases before the stop: $before, after it: $after")
    // a prediction that fired before the stop does not fire again after it
    before.foreach { case (_, (k, e, _)) =>
      assert(restarted.count(r => r._2._1 == k && r._2._2 == e) === 1, s"($k, $e) fired again")
    }
  }
}

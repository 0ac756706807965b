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
  * (unsealContributions → boundContributions → dpHistogram) on the default
  * state store: a query stopped after epoch k and restarted from the same
  * checkpoint must release exactly what an uninterrupted run releases, never
  * release a (key, epoch) twice, never admit a user more than C times, and
  * still reject a sealed tuple replayed after the restart. */
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

  /** Runs the pipeline over all epochs, stopping the query after epoch
    * `stopAfter` and restarting it from its checkpoint; the replayed tuple
    * is fed again right after the stop point. Returns the releases and the
    * user id of every admitted contribution. */
  private def run(stopAfter: Int, restart: Boolean): (Seq[(String, Int, Long)], Seq[String]) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = graft.crypto.SealedPayload.testKey
    val codec = new SealedColumns.Codec(key, "aes-gcm")
    val admitted = spark.sparkContext.collectionAccumulator[String]
    val released = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long)]()
    val mem = MemoryStream[(String, Long, String)]
    val sealedStream = mem.toDS().toDF("plainJson", "seq", "producer")
      .select(SealedColumns.sealColumn(col("plainJson"), col("seq"), "spout", "dp", col("producer"), codec)
        .as("payload"))
    val bounded = StreamingPipelines.boundContributions(
        StreamingPipelines.unsealContributions(sealedStream, key, "aes-gcm", "spout", "dp"), C)
      .map { c => admitted.add(c.userId); c }
    val releases = StreamingPipelines.dpHistogram(bounded, params, runSeed)
    val ckpt = s"/tmp/graft_restart_ckpt_${System.nanoTime()}"
    def start() = releases.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch((b: Dataset[Release], id: Long) =>
        b.collect().foreach(r => released.add((r.key, r.epoch, r.count))))
      .start()

    var q = start()
    try {
      epochs.zipWithIndex.foreach { case (rows, e) =>
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

  test("restart after epoch k releases what an uninterrupted run releases, once each, within C") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    val stopAfter = 1
    val (plain, plainAdmitted) = run(stopAfter, restart = false)
    val (restarted, restartedAdmitted) = run(stopAfter, restart = true)

    assert(plain.nonEmpty)
    assert(restarted.sorted === plain.sorted)
    restarted.groupBy(r => (r._1, r._2)).foreach { case (ke, rs) =>
      assert(rs.size === 1, s"$ke released ${rs.size} times")
    }
    val perUser = restartedAdmitted.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(perUser.values.max <= C, perUser)
    assert(perUser("h") === C) // "h" contributes every epoch: its cap spans the restart
    assert(perUser("r") === 1L, "the sealed tuple replayed after the restart was admitted")
    assert(restartedAdmitted.sorted === plainAdmitted.sorted)
  }
}

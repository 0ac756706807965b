package dpbench

import org.apache.spark.sql.{SparkSession, functions => F}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.util.{AccumulatorV2, LongAccumulator}
import graft.operators.SealedColumns
import graft.streaming.StreamingPipelines

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Counts per key on the executors, merged on the driver. */
final class CountByKey extends AccumulatorV2[String, java.util.HashMap[String, java.lang.Long]] {
  private val m = new java.util.HashMap[String, java.lang.Long]()
  def isZero: Boolean = m.isEmpty
  def copy(): CountByKey = { val c = new CountByKey; c.m.putAll(m); c }
  def reset(): Unit = m.clear()
  def add(k: String): Unit = m.merge(k, 1L, (a, b) => a + b)
  def merge(o: AccumulatorV2[String, java.util.HashMap[String, java.lang.Long]]): Unit =
    o.value.forEach((k, v) => m.merge(k, v, (a, b) => a + b))
  def value: java.util.HashMap[String, java.lang.Long] = m
}

/** Progress events of one named query, gathered by a listener. */
final class ProgressLog extends StreamingQueryListener {
  @volatile var queryName = ""
  val events = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.name == queryName) synchronized { events += e.progress }
  def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** One record as the client feeds it. A misrouted record is sealed for the
  * wrong destination stage. */
final case class Fed(plainJson: String, seq: Long, producer: String, misrouted: Boolean)

/** One epoch as the client feeds it, with the faults injected into it. */
final case class Epoch(records: Seq[Fed], misrouted: Int, replayed: Int) {
  /** Records the envelope must pass: all but the injected faults. */
  def expectedAccepted: Int = records.size - misrouted - replayed
}

/** The Structured Streaming form of the sealed pipeline, run as a closed loop
  * with one client: epoch k+1 is fed only after epoch k's releases are in the
  * memory sink. Path: MemoryStream → seal (source stage) →
  * unsealContributions (replay-window state) → boundContributions (per-user
  * state) → markPrevEpoch → dpHistogramPrevMarked → memory sink. */
object StreamSealed {
  private val laps = new java.util.concurrent.atomic.AtomicInteger
  /** Stage order of one micro-batch job: a shuffle separates each layer. */
  val layers = Seq("source", "envelope", "b1", "a2", "mechanism")
  /** Stateful operators as Spark lists them: outermost first. */
  val stateOps = Seq("mechanism", "a2", "b1", "replay")

  /** The client's queue, from generated records. A replayed record is
    * delivered again at the start of the next epoch, so that only the replay
    * window's stored state can reject it; the last epoch's replays are
    * delivered again at its end. */
  def queue(rows: Seq[Gen.BatchRecord], epochs: Int): Array[Epoch] = {
    def fed(r: Gen.BatchRecord) = Fed(
      s"""{"key":"${r.key}","epoch":${r.epoch},"userId":"${r.user}","value":1.0}""",
      r.seq, r.producer, r.misrouted)
    val byEpoch = rows.sortBy(_.seq).groupBy(_.epoch)
    Array.tabulate(epochs) { e =>
      val own = byEpoch.getOrElse(e, Nil)
      val before = byEpoch.getOrElse(e - 1, Nil).filter(_.replayed)
      val after = if (e == epochs - 1) own.filter(_.replayed) else Nil
      Epoch((before ++ own ++ after).map(fed), own.count(_.misrouted), before.size + after.size)
    }
  }
}

final class StreamSealed(val spark: SparkSession, val seed: Long, val work: String) {
  /** The mechanism's horizon; a lap feeds the first `epochs` of it. */
  val t = 100
  val epochs = 20
  val perEpoch = 1000
  val users = 600
  val keys = 20
  val producers = 8
  /** Per mille of records misrouted, and the same again replayed. */
  val faultPerMille = 5
  val inputPath = s"$work/input.parquet"
  lazy val params = Params.calibrated(t)
  val keyBytes: Array[Byte] = Array.tabulate(32)(i => Gen.hash(seed, 5, i).toByte)
  private val codec = new SealedColumns.Codec(keyBytes, "aes-gcm")

  private var epochQueue: Array[Epoch] = Array.empty
  /** Records a full lap feeds, replays included. */
  def inputRecords: Long = epochQueue.map(_.records.size.toLong).sum
  def injectedRoute: Long = epochQueue.map(_.misrouted.toLong).sum
  def injectedReplay: Long = epochQueue.map(_.replayed.toLong).sum

  def materialize(): Unit =
    Gen.batchInput(spark, seed, epochs.toLong * perEpoch, users, keys, producers, faultPerMille,
      epochs, Env.nproc).write.mode("overwrite").parquet(inputPath)

  /** Loads the epochs into driver memory: the client's queue. */
  def load(): Unit = {
    import spark.implicits._
    epochQueue = StreamSealed.queue(spark.read.parquet(inputPath).as[Gen.BatchRecord].collect().toSeq, epochs)
    require(epochQueue.forall(_.records.nonEmpty), s"expected records in each of $epochs epochs")
  }

  /** Runs a fresh query over the first `feed` epochs. Each epoch is one
    * operation; it fails if the envelope does not reject exactly its
    * injected misrouted and replayed records, if a user has passed B1 with
    * more than C contributions by its end, or if a (key, epoch) it released
    * is released twice. */
  def lap(feed: Int = epochs, log: Option[ProgressLog] = None,
      afterEpoch: StreamingQuery => Unit = _ => ()): LapResult = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lapNo = StreamSealed.laps.incrementAndGet()
    val name = s"dpbench_stream_$lapNo"
    val accepted = new LongAccumulator
    val perUser = new CountByKey
    spark.sparkContext.register(accepted)
    spark.sparkContext.register(perUser)

    val mem = MemoryStream[Fed]
    def seal(destination: String) = SealedColumns.sealColumn(F.col("plainJson"), F.col("seq"),
      "spout", destination, F.col("producer"), codec)
    val sealedIn = mem.toDF().select(
      F.when(F.col("misrouted"), seal("bounding")).otherwise(seal("dp")).as("payload"))
    val unsealed = StreamingPipelines.unsealContributions(sealedIn, keyBytes, "aes-gcm", "spout", "dp")
      .map { c => accepted.add(1); c }
    val bounded = StreamingPipelines.boundContributions(unsealed, Params.C.toLong)
      .map { c => perUser.add(c.userId); c }
    val released = StreamingPipelines.dpHistogramPrevMarked(
      StreamingPipelines.markPrevEpoch(bounded), params, seed)
    log.foreach { l => l.queryName = name; spark.streams.addListener(l) }
    val q = released.writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", s"$work/checkpoint_$lapNo").start()

    val latencies = mutable.ArrayBuffer.empty[Double]
    val misfiltered = mutable.ArrayBuffer.empty[(Int, Long, Int)]
    val overLimit = mutable.ArrayBuffer.empty[Int]
    val t0 = System.nanoTime()
    try epochQueue.take(feed).zipWithIndex.foreach { case (ep, e) =>
      val before = accepted.value.longValue
      val s = System.nanoTime()
      mem.addData(ep.records)
      q.processAllAvailable()
      latencies += (System.nanoTime() - s) / 1e6
      afterEpoch(q)
      val got = accepted.value.longValue - before
      if (got != ep.expectedAccepted) misfiltered += ((e, got, ep.expectedAccepted))
      if (perUser.value.values.asScala.exists(_ > Params.C)) overLimit += e
    } finally q.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    log.foreach { l =>
      org.apache.spark.DpbenchBridge.drainListeners(spark.sparkContext)
      spark.streams.removeListener(l)
    }

    val out = spark.table(name).as[(String, Int, Long)].collect().toSeq
    val twice = out.groupBy(r => (r._1, r._2)).collect { case (ke, rs) if rs.size > 1 => ke }
    val failedEpochs = (misfiltered.map(_._1) ++ overLimit ++ twice.map(_._2)).toSet
    val failures = Seq(
      if (misfiltered.nonEmpty) Some(s"envelope accepted (epoch, got, expected) ${misfiltered.take(5)}") else None,
      if (overLimit.nonEmpty) Some(s"users over C=${Params.C} after epochs ${overLimit.take(5)}") else None,
      if (twice.nonEmpty) Some(s"${twice.size} (key, epoch) released twice, e.g. ${twice.take(3)}") else None,
    ).flatten
    val detail = Map[String, Any]("accepted" -> accepted.value.longValue,
      "bounded" -> perUser.value.values.asScala.map(_.longValue).sum,
      "releases" -> out.size, "released_keys" -> out.map(_._1).distinct.size,
      "epoch_latency_ms" -> latencies.map(x => math.round(x * 10) / 10.0).toSeq)
    LapResult(wall, latencies.toSeq, feed, failedEpochs.size, Stats.digest(out.map(r => Seq(r._1, r._2, r._3))),
      failures, detail)
  }
}

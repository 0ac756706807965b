package graft.tools

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.dp.DpParams
import graft.operators.{CoreOps, DpHistogram}
import graft.sources.SyntheticSource
import graft.streaming.{Contribution, DpStatefulProcessor, Release, StreamingPipelines}

/** Timing harness for the two Algorithm-3 release policies on one seeded
  * replay workload:
  *
  *   - watermark-eager ([[DpStatefulProcessor.dpHistogram]]): a silent key's
  *     predicted release surfaces when the epoch watermark passes its epoch;
  *   - lazy ([[StreamingPipelines.dpHistogram]]): it surfaces at the key's
  *     next appearance, or in the batch replay.
  *
  * Both arms run the same [[StreamingPipelines.markPrevEpoch]] stage in
  * front of their per-key DP state and the same RocksDB state store, feed
  * every epoch up front and drain the query with one `processAllAvailable`,
  * so the comparison isolates how silent releases surface.
  *
  * The eager arm's releases are checked against the batch
  * [[DpHistogram.timeline]] on the same rows ([[timelineMismatch]]).
  */
object EagerBench {

  /** Seeded params exercising the silent-release machinery: sigmaKey > 0 so
    * Algorithm 3 actually predicts, sigmaHist = 0 so release values stay
    * exact. */
  def params(t: Int): DpParams = DpParams(
    sigmaKey = 5.0, sigmaHist = 0.0,
    thresholdQuantile = graft.dp.Stats.inverseNormalCdf(1 - 0.4),
    maxTimeSteps = t, mu = 2, maxContributionsPerUser = 32)

  /** Deterministic replay workload, grouped by epoch in replay order. */
  def workload(spark: SparkSession, n: Long, numUsers: Int, numKeys: Int,
      t: Int): Seq[(Int, Seq[Contribution])] =
    SyntheticSource.zipfContributions(spark, n, numUsers, numKeys, t)
      .collect().toSeq.groupBy(_.epoch).toSeq.sortBy(_._1)

  /** The watermark-eager arm's releases. */
  def runEager(spark: SparkSession, byEpoch: Seq[(Int, Seq[Contribution])],
      t: Int, runSeed: Long): Seq[Release] =
    drain(spark, byEpoch, "eager")(DpStatefulProcessor.dpHistogram(_, params(t), runSeed))

  /** The lazy arm's releases. */
  def runLazy(spark: SparkSession, byEpoch: Seq[(Int, Seq[Contribution])],
      t: Int, runSeed: Long): Seq[Release] =
    drain(spark, byEpoch, "lazy")(StreamingPipelines.dpHistogram(_, params(t), runSeed))

  /** Feeds every epoch into a fresh query on the RocksDB state store, drains
    * it once, and returns what its memory sink holds. */
  private def drain(spark: SparkSession, byEpoch: Seq[(Int, Seq[Contribution])], tag: String)(
      op: Dataset[Contribution] => Dataset[Release]): Seq[Release] = withRocksDb(spark) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Contribution]
    val name = s"eager_${tag}bench_${System.nanoTime()}"
    val q = op(mem.toDS())
      .writeStream.outputMode("append").format("memory").queryName(name)
      .option("checkpointLocation", s"/tmp/graft_eagerbench_${tag}_${System.nanoTime()}").start()
    try {
      byEpoch.foreach { case (_, rows) => mem.addData(rows) }
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name).as[Release].collect().toSeq
  }

  private def withRocksDb[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  /** The batch per-epoch timeline of the same rows and seed. */
  def timeline(spark: SparkSession, byEpoch: Seq[(Int, Seq[Contribution])],
      t: Int, runSeed: Long): Seq[Release] = {
    import spark.implicits._
    val rows = byEpoch.flatMap(_._2).toDF()
    DpHistogram.timeline(spark,
        CoreOps.preAggregatePrevEpoch(rows, "key", "epoch", "userId", "value"), params(t), runSeed)
      .select("key", "epoch", "count").as[Release].collect().toSeq
  }

  /** Why `eager` is not the batch `timeline` of a stream fed up to epoch
    * `lastFed`, or None. Below `lastFed` the two must be equal; at `lastFed`
    * the eager releases must be a subset of the timeline's, because a
    * data-free prediction for the last epoch waits for data of a later one.
    * Both sides are compared as multisets, so a duplicated release counts. */
  def timelineMismatch(eager: Seq[Release], timeline: Seq[Release], lastFed: Int): Option[String] = {
    def counts(rs: Seq[Release]) = rs.groupBy(identity).view.mapValues(_.size).toMap
    val (eagerBelow, eagerLast) = eager.partition(_.epoch < lastFed)
    val (timelineBelow, timelineLast) = timeline.partition(_.epoch < lastFed)
    val below = counts(eagerBelow)
    val belowRef = counts(timelineBelow)
    val lastRef = counts(timelineLast)
    val extraAtLast = counts(eagerLast).filter { case (r, n) => n > lastRef.getOrElse(r, 0) }
    if (below != belowRef) {
      val diff = (below.keySet ++ belowRef.keySet).filter(r => below.get(r) != belowRef.get(r))
      Some(s"${diff.size} releases below epoch $lastFed differ, e.g. " +
        diff.toSeq.sortBy(r => (r.epoch, r.key)).take(3).map(r =>
          s"$r eager=${below.getOrElse(r, 0)} timeline=${belowRef.getOrElse(r, 0)}").mkString("; "))
    } else if (extraAtLast.nonEmpty)
      Some(s"${extraAtLast.size} releases at epoch $lastFed are not in the timeline, e.g. " +
        extraAtLast.keys.toSeq.sortBy(_.key).take(3).mkString("; "))
    else None
  }
}

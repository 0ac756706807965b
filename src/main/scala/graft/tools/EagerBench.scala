package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.dp.DpParams
import graft.sources.SyntheticSource
import graft.streaming.{Contribution, DpStatefulProcessor, StreamingPipelines}

/** A/B harness for the two EAGER Algorithm-3 implementations — the designs
  * that surface a silent predicted release mid-stream instead of deferring
  * it to the key's next appearance:
  *
  *   - sharded state + [[StreamingPipelines.EpochTick]] barrier
  *     ([[StreamingPipelines.dpHistogramEager]]): the driver feeds one tick
  *     per epoch AFTER that epoch's data is processed, so the replay runs
  *     2 synchronous barriers (`processAllAvailable`) per epoch — the
  *     coordination cost is part of the design and is measured here;
  *   - per-key `transformWithState` + processing-time timers
  *     ([[DpStatefulProcessor.dpHistogram]] with `timers = true`): no
  *     barrier at all — epochs are fed without synchronization, the engine
  *     triggers itself while timers are pending, and the run ends when the
  *     sink quiesces. Timer latency and continuous trigger evaluation are
  *     that design's cost, equally part of the measurement.
  *
  * Every arm, the lazy floor included, runs the same
  * [[StreamingPipelines.markPrevEpoch]] stage in front of its per-key DP
  * state, so the A/B compares only how silent releases surface.
  *
  * Each run returns the release count so the caller can cross-check that
  * both designs emitted the same number of releases (identical params and
  * seeds ⇒ identical release sets; equality of values is pinned by
  * StreamingSpec/TransformWithStateSpec, the bench only compares counts).
  */
object EagerBench {

  /** Seeded params exercising the silent-release machinery: sigmaKey > 0 so
    * Algorithm 3 actually predicts, sigmaHist = 0 so release values stay
    * exact across designs. */
  def params(t: Int): DpParams = DpParams(
    sigmaKey = 5.0, sigmaHist = 0.0,
    thresholdQuantile = graft.dp.Stats.inverseNormalCdf(1 - 0.4),
    maxTimeSteps = t, mu = 2, maxContributionsPerUser = 32)

  /** Deterministic replay workload, grouped by epoch in replay order. */
  def workload(spark: SparkSession, n: Long, numUsers: Int, numKeys: Int,
      t: Int): Seq[(Int, Seq[Contribution])] =
    SyntheticSource.zipfContributions(spark, n, numUsers, numKeys, t)
      .collect().toSeq.groupBy(_.epoch).toSeq.sortBy(_._1)

  private def ckptDir(tag: String): String =
    s"/tmp/graft_eagerbench_${tag}_${System.nanoTime()}"

  /** All three arms run under the SAME state-store backend (RocksDB) so the
    * A/B isolates operator design from provider choice — runSharded on the
    * session-default HDFS-backed store while the other arms pinned RocksDB
    * would conflate the two. */
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

  def runSharded(spark: SparkSession, byEpoch: Seq[(Int, Seq[Contribution])],
      t: Int, runSeed: Long, numShards: Int): Long = withRocksDb(spark) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Contribution]
    val ticks = MemoryStream[StreamingPipelines.EpochTick]
    val name = s"eager_sharded_${System.nanoTime()}"
    val q = StreamingPipelines.dpHistogramEager(mem.toDS(), ticks.toDS(), params(t), runSeed, numShards)
      .writeStream.outputMode("append").format("memory").queryName(name)
      .option("checkpointLocation", ckptDir("sharded")).start()
    try {
      byEpoch.foreach { case (e, rows) =>
        mem.addData(rows)
        q.processAllAvailable()
        ticks.addData(StreamingPipelines.EpochTick(e))
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.table(name).count()
  }

  /** Lazy comparator: same per-key operator with timers OFF (silent releases
    * defer to the key's next appearance / the batch replay), fed without
    * barriers — the floor that the eager designs' coordination overhead is
    * measured against. */
  def runLazy(spark: SparkSession, byEpoch: Seq[(Int, Seq[Contribution])],
      t: Int, runSeed: Long): Long = withRocksDb(spark) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Contribution]
    val name = s"eager_lazy_${System.nanoTime()}"
    val q = DpStatefulProcessor.dpHistogram(mem.toDS(), params(t), runSeed, timers = false)
      .writeStream.outputMode("append").format("memory").queryName(name)
      .option("checkpointLocation", ckptDir("lazy")).start()
    try {
      byEpoch.foreach { case (_, rows) => mem.addData(rows) }
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name).count()
  }

  /** Thrown when the tws arm cannot produce a CONVERGED measurement inside
    * its deadline. The caller's `timed` wrapper turns this into a failed
    * (-1) bench entry — a timeout must never sit in `queries` looking like
    * a converged time: a deadline exit measures the harness, not the
    * operator. */
  final class NotConverged(msg: String) extends IllegalStateException(msg)

  def runTwsTimers(spark: SparkSession, byEpoch: Seq[(Int, Seq[Contribution])],
      t: Int, runSeed: Long, deadlineMs: Long = 180000L): Long = withRocksDb(spark) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Contribution]
    val name = s"eager_tws_${System.nanoTime()}"
    // Consumption is tracked by a listener that sees EVERY progress event,
    // never by q.recentProgress: that is a bounded ring (default 100
    // entries) which wraps under the continuous timer-trigger cadence
    // (empty micro-batches complete in ~10 ms while timers are pending), so
    // deltas summed from it undercount and the wait spins to its deadline.
    val consumed = new java.util.concurrent.atomic.AtomicLong(0L)
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == name) {
          consumed.addAndGet(e.progress.numInputRows)
          batches.incrementAndGet()
        }
      override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val q = DpStatefulProcessor.dpHistogram(mem.toDS(), params(t), runSeed, timers = true)
      .writeStream.outputMode("append").format("memory").queryName(name)
      .option("checkpointLocation", ckptDir("tws")).start()
    try {
      // no barrier: the engine consumes at its own cadence (with timers
      // pending it triggers continuously, so processAllAvailable would
      // never settle — poll the sink for quiescence instead)
      byEpoch.foreach { case (_, rows) => mem.addData(rows) }
      val totalFed = byEpoch.iterator.map(_._2.size.toLong).sum
      val start = System.currentTimeMillis()
      val deadline = start + deadlineMs
      var lastReport = start
      def report(phase: String, sink: Long): Unit = {
        val now = System.currentTimeMillis()
        if (now - lastReport >= 5000) {
          lastReport = now
          System.err.println(f"[eagerbench] $phase t=${(now - start) / 1000.0}%.1fs " +
            s"batches=${batches.get} consumed=${consumed.get}/$totalFed sink=$sink")
        }
      }
      // Phase 1: block until the engine has CONSUMED every fed row — only
      // then may quiescence be judged; otherwise an EMPTY sink that is
      // stable before the first micro-batch completes reads as finished.
      while (consumed.get < totalFed && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
        report("consume", -1L)
      }
      if (consumed.get < totalFed)
        throw new NotConverged(s"deadline (${deadlineMs}ms) hit with input only partially " +
          s"consumed (${consumed.get} of $totalFed rows, ${batches.get} batches)")
      // Phase 2: sink quiescence — and a zero count NEVER counts as stable
      // (params() guarantees releases: sigmaKey > 0 with a 0.4 failure
      // quantile), so a slow timer flush cannot masquerade as completion.
      var last = -1L
      var stable = 0
      while (stable < 5 && System.currentTimeMillis() < deadline) {
        Thread.sleep(300)
        val c = spark.table(name).count()
        if (c == last && c > 0) stable += 1 else { stable = 0; last = c }
        report("drain", c)
      }
      if (stable < 5)
        // fail closed: a deadline exit means the count (and the wall-clock)
        // is not a converged measurement — it must never look like one
        throw new NotConverged(s"quiescence deadline (${deadlineMs}ms) hit; " +
          s"sink count still moving or zero (last=$last, batches=${batches.get})")
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
    spark.table(name).count()
  }
}

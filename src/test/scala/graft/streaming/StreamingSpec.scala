package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.Tables
import graft.dp.DpParams
import graft.operators.{CoreOps, DpHistogram}

/** Streaming/batch agreement: the streaming DP pipeline replayed epoch-by-
  * epoch must produce the same final histogram as the batch operator — the
  * invariant the reference pins with its zero-noise tests, plus seeded-noise
  * equality (same trees, same noise, same releases). */
class StreamingSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.checkpointLocation", s"/tmp/graft_ckpt_${System.nanoTime()}")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def eventContributions(): Seq[Contribution] = {
    Tables.events(spark, sfDir)
      .select(col("event_type"), dayofmonth(col("ts")).cast("int"), col("user_id").cast("string"), col("value"))
      .collect()
      .map(r => Contribution(r.getString(0), r.getInt(1), r.getString(2), r.getDouble(3)))
      .toSeq
  }

  private def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally spark.conf.unset(key)
  }

  /** Feeds each (epoch, rows) group as one drained trigger of
    * [[DpStatefulProcessor.dpHistogram]]; returns every release with the
    * largest epoch fed when it was emitted. */
  private def eagerReleases(params: DpParams, runSeed: Long, queryName: String,
      triggers: Seq[(Int, Seq[Contribution])]): Seq[(Int, Release)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Contribution]
    val q = DpStatefulProcessor.dpHistogram(mem.toDS(), params, runSeed)
      .writeStream.outputMode("append").format("memory").queryName(queryName).start()
    var seen = 0
    val out = Seq.newBuilder[(Int, Release)]
    try triggers.foreach { case (fed, rows) =>
      mem.addData(rows)
      q.processAllAvailable()
      val all = spark.table(queryName).as[Release].collect()
      all.drop(seen).foreach(r => out += (fed -> r))
      seen = all.length
    } finally q.stop()
    out.result()
  }

  private def streamHistogram(params: DpParams, contributions: Seq[Contribution],
      queryName: String): Map[String, Long] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Contribution]
    val releases = StreamingPipelines.dpHistogram(mem.toDS(), params)
    val q = StreamingPipelines.carryForwardSink(releases, queryName)
    try {
      contributions.groupBy(_.epoch).toSeq.sortBy(_._1).foreach { case (_, rows) =>
        mem.addData(rows)
        q.processAllAvailable()
      }
    } finally q.stop()
    // carry-forward: latest release per key
    spark.table(queryName)
      .orderBy(col("epoch"))
      .collect()
      .foldLeft(Map.empty[String, Long]) { (acc, r) => acc + (r.getString(0) -> r.getLong(2)) }
  }

  test("streaming sigma=0 mu=0 equals batch DP histogram") {
    val params = DpParams.zeroNoise(32)
    val contrib = eventContributions()
    val streamed = streamHistogram(params, contrib, "s0")

    val events = Tables.events(spark, sfDir)
      .select(col("event_type").as("key"), dayofmonth(col("ts")).cast("int").as("epoch"),
        col("user_id").cast("string").as("user_id"), col("value"))
    val preAgg = CoreOps.preAggregatePrevEpoch(events, "key", "epoch", "user_id", "value")
    val batch = DpHistogram.run(spark, preAgg, params)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap

    assert(streamed === batch)
  }

  test("streaming seeded noise with mu gate equals batch run (same trees, same releases)") {
    val params = DpParams(3.0, 6.0, graft.dp.Stats.inverseNormalCdf(1 - 1e-3), 32, 20, 50)
    val contrib = eventContributions()
    val streamed = streamHistogram(params, contrib, "s1")

    val events = Tables.events(spark, sfDir)
      .select(col("event_type").as("key"), dayofmonth(col("ts")).cast("int").as("epoch"),
        col("user_id").cast("string").as("user_id"), col("value"))
    val preAgg = CoreOps.preAggregatePrevEpoch(events, "key", "epoch", "user_id", "value")
    val batch = DpHistogram.run(spark, preAgg, params)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap

    assert(streamed === batch)
  }

  test("two-level streaming (prev-epoch marking, no user ids in key state) equals batch") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{AppendColumns, EventTimeWatermark, FlatMapGroupsWithState, TransformWithState}
    implicit val sqlCtx = spark.sqlContext
    // Plan: a (key, userId)-keyed marking operator, then a key-keyed DP
    // operator whose input carries no userId column.
    val lazyPlan = StreamingPipelines.dpHistogram(MemoryStream[Contribution].toDS(), DpParams.zeroNoise(8))
      .queryExecution.analyzed
    val fmgws = lazyPlan.collect { case f: FlatMapGroupsWithState => f }
    assert(fmgws.size === 2, lazyPlan.treeString)
    val Seq(keyLevel, marking) = fmgws
    assert(keyLevel.child.find(_ eq marking).isDefined, "marking must feed the key-level operator")
    def groupingKey(f: FlatMapGroupsWithState, row: Any): Any =
      f.child match { case a: AppendColumns => a.func(row); case other => fail(s"unexpected ${other.nodeName}") }
    assert(groupingKey(marking, Contribution("k", 3, "u", 1.0)) === (("k", "u")))
    assert(groupingKey(keyLevel, PrevMarked("k", 3, -1, 1.0)) === "k")
    assert(keyLevel.dataAttributes.map(_.name) === Seq("key", "epoch", "prev", "value"))
    assert(!keyLevel.child.output.exists(_.name == "userId"))
    // the watermark-eager arm consumes the same marked rows: an event-time
    // transformWithState over the epoch watermark over the marking operator
    val twsPlan = DpStatefulProcessor.dpHistogram(MemoryStream[Contribution].toDS(), DpParams.zeroNoise(8))
      .queryExecution.analyzed
    assert(twsPlan.collect {
      case t: TransformWithState if t.timeMode == org.apache.spark.sql.streaming.TimeMode.EventTime() =>
        "TransformWithState(EventTime)"
      case _: EventTimeWatermark => "EventTimeWatermark"
      case _: FlatMapGroupsWithState => "FlatMapGroupsWithState"
    } === Seq("TransformWithState(EventTime)", "EventTimeWatermark", "FlatMapGroupsWithState"),
      twsPlan.treeString)

    val contrib = eventContributions()
    val events = Tables.events(spark, sfDir)
      .select(col("event_type").as("key"), dayofmonth(col("ts")).cast("int").as("epoch"),
        col("user_id").cast("string").as("user_id"), col("value"))
    val preAgg = CoreOps.preAggregatePrevEpoch(events, "key", "epoch", "user_id", "value")
    // zero noise and a seeded-noise + mu-gate run (releases + round resets)
    for ((params, name) <- Seq(
        (DpParams.zeroNoise(32), "tl0"),
        (DpParams(3.0, 6.0, graft.dp.Stats.inverseNormalCdf(1 - 1e-3), 32, 20, 50), "tl1"))) {
      val streamed = streamHistogram(params, contrib, name)
      val batch = DpHistogram.run(spark, preAgg, params)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(streamed === batch, s"two-level mismatch in $name")
    }
  }

  test("eager Algo-3: a silent key releases at its predicted epoch mid-stream, matching batch") {
    import spark.implicits._
    import graft.dp._
    implicit val sqlCtx = spark.sqlContext
    val T = 32
    // loose threshold (β = 0.3) so the noise-alone curve plausibly crosses
    // the gate within T epochs — predictions are a noise phenomenon
    val params = DpParams(3.0, 6.0, Stats.inverseNormalCdf(1 - 0.3), T, 20, 50)

    // Probe (pure Scala, same seeds as the operator): find a seed and a
    // below-gate user count whose single appearance at epoch 0 leaves a
    // pending Algorithm-3 prediction — so the scenario provably exercises
    // the eager path.
    val (runSeed, nUsers, predicted) = (1L to 200L).view.flatMap { seed =>
      (1 to 19).view.flatMap { n =>
        val st = new DpKeyState(params,
          TreeSpec(T, params.sigmaKey, NoiseSource.seeded(NoiseSource.seedFor(seed, "lonely", "key"))),
          TreeSpec(T, params.sigmaHist, NoiseSource.seeded(NoiseSource.seedFor(seed, "lonely", "hist"))))
        val released = st.processEpochPrevCounts(0, Seq((-1, n.toLong)), n.toDouble, appeared = true)
        if (released.isEmpty) st.predictedRelease.map(p => (seed, n, p)) else None
      }
    }.headOption.getOrElse(fail("no (seed, users, prediction) combination found — tune params"))
    assert(predicted > 0 && predicted < T)

    // Stream: the key appears ONCE at epoch 0; later epochs arrive only as
    // rows of another key, one trigger each.
    val emitted = withRocksDb {
      eagerReleases(params, runSeed, "eager",
        Seq(0 -> (0 until nUsers).map(u => Contribution("lonely", 0, s"u$u", 1.0))) ++
          (1 until T).map(e => e -> Seq(Contribution("pad", e, "v", 1.0))))
    }
    val streamed = emitted.collect { case (fed, r) if r.key == "lonely" => (fed, r) }
    // the silent release fired mid-stream at exactly the predicted epoch,
    // in the trigger that closed it
    assert(streamed.exists { case (fed, r) => r.epoch == predicted && fed == predicted + 1 },
      s"no mid-stream release at predicted epoch $predicted; got $streamed")
    assert(streamed.forall { case (fed, r) => r.epoch < fed || r.epoch == 0 }, streamed)

    // and the final histogram equals the exact batch replay
    val preAgg = CoreOps.preAggregatePrevEpoch(
      (0 until nUsers).map(u => ("lonely", 0, s"u$u", 1.0)).toDF("key", "epoch", "user_id", "value"),
      "key", "epoch", "user_id", "value")
    val batch = DpHistogram.run(spark, preAgg, params, runSeed)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val streamedFinal = streamed.map(_._2).sortBy(_.epoch).foldLeft(Map.empty[String, Long]) {
      (acc, r) => acc + (r.key -> r.count)
    }
    assert(streamedFinal === batch)
  }

  test("eager Algo-3: one trigger and one trigger per epoch give the same releases, the batch timeline's") {
    val t = 8
    val byEpoch = graft.tools.EagerBench.workload(spark, 4000L, 400, 200, t)
    val perEpoch = withRocksDb(eagerReleases(graft.tools.EagerBench.params(t), 42L, "eagerPerEpoch", byEpoch))
    val oneTrigger = withRocksDb(eagerReleases(graft.tools.EagerBench.params(t), 42L, "eagerOneTrigger",
      Seq(byEpoch.last._1 -> byEpoch.flatMap(_._2))))
    def sorted(rs: Seq[Release]) = rs.sortBy(r => (r.key, r.epoch, r.count))
    assert(sorted(perEpoch.map(_._2)) === sorted(oneTrigger.map(_._2)))
    // the batch replay's timeline, up to the predictions still waiting on
    // a later epoch than the last one fed; some releases are data-free
    val timeline = graft.tools.EagerBench.timeline(spark, byEpoch, t, 42L)
    assert(graft.tools.EagerBench.timelineMismatch(oneTrigger.map(_._2), timeline, byEpoch.last._1) === None)
    val fedKeys = byEpoch.flatMap { case (e, rows) => rows.map(r => (r.key, e)) }.toSet
    assert(oneTrigger.exists { case (_, r) => !fedKeys.contains((r.key, r.epoch)) },
      "no data-free release: the workload does not exercise Algorithm 3")
  }

  test("M1 dummy shaping: constant cadence, equal ciphertext sizes, dummies discarded at merge") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = graft.crypto.SealedPayload.testKey
    val rel = MemoryStream[Release]
    val ticks = MemoryStream[StreamingPipelines.EpochTick]
    val shaped = DummyTraffic.shapeConstantRate(rel.toDS(), ticks.toDS(), key, numShards = 3, padTo = 512)
    val q = shaped.writeStream.outputMode("append").format("memory").queryName("shaped").start()
    try {
      rel.addData(Seq(Release("alpha", 0, 5L), Release("beta", 0, 7L)))
      ticks.addData(StreamingPipelines.EpochTick(0)); q.processAllAvailable()
      // epochs 1..3: no real data anywhere — the channel still emits
      (1 to 3).foreach { e => ticks.addData(StreamingPipelines.EpochTick(e)); q.processAllAvailable() }
      rel.addData(Seq(Release("alpha", 4, 9L)))
      ticks.addData(StreamingPipelines.EpochTick(4)); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("shaped").collect()

    // constant cadence: exactly numShards emissions per epoch, one per producer
    val perEpoch = rows.groupBy(_.getInt(1)).view.mapValues(_.length).toMap
    assert(perEpoch === (0 to 4).map(_ -> 3).toMap)
    rows.groupBy(r => (r.getString(0), r.getInt(1))).foreach { case (pe, g) =>
      assert(g.length === 1, s"producer/epoch $pe emitted ${g.length} partials")
    }
    // size-indistinguishable: every ciphertext (real or dummy) has one length
    assert(rows.map(_.getAs[Array[Byte]]("ciphertext").length).toSet.size === 1)

    // merge discards dummies and recovers exactly the real releases
    val merged = DummyTraffic.mergeShapedPartials(spark.table("shaped"), key)
      .collect().map(r => (r.key, r.epoch, r.count)).toSet
    assert(merged === Set(("alpha", 0, 5L), ("beta", 0, 7L), ("alpha", 4, 9L)))
  }

  test("M1 padding: every payload length is an exact multiple of padTo") {
    val dummy = DummyTraffic.payloadJson(Nil, 256)
    val real = DummyTraffic.payloadJson(Seq(Release("alpha", 0, 5L), Release("beta", 1, 7L)), 256)
    assert(dummy.length === 256)
    assert(real.length === 256)
    // the boundary window (padTo-10, padTo] must round up, not leak raw:
    // base = 45 + keyLen = 250 here, and 250 + 10 > 256
    val nearBoundary = DummyTraffic.payloadJson(Seq(Release("k" * 205, 0, 1L)), 256)
    assert(nearBoundary.length === 512, s"got ${nearBoundary.length}")
    // oversized payloads land on the next multiple — never truncated,
    // never an exact length
    val big = DummyTraffic.payloadJson(Seq.tabulate(50)(i => Release(s"k$i", i, i.toLong)), 64)
    assert(big.length % 64 === 0 && big.length > 64)
  }

  test("watermarked window agg: windows finalize once, late data beyond the watermark is dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, String, Double)]
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:30:00")
    val agg = StreamingPipelines.windowedAggregate(
      mem.toDF().toDF("ts", "key", "user", "value"), "ts", "key", "user", "value",
      windowLength = "1 hour", watermarkDelay = "30 minutes")
    val q = agg.writeStream.outputMode("append").format("memory").queryName("winagg").start()
    try {
      mem.addData(Seq((ts(0), "a", "u1", 1.0), (ts(0), "a", "u2", 2.0), (ts(1), "b", "u1", 5.0)))
      q.processAllAvailable()
      // advance the watermark far past hour 0 and 1 → both windows finalize
      mem.addData(Seq((ts(6), "c", "u3", 1.0)))
      q.processAllAvailable()
      // LATE: hour-0 row arrives with watermark at ~05:30 → dropped, no update
      mem.addData(Seq((ts(0), "a", "u9", 100.0)))
      q.processAllAvailable()
      mem.addData(Seq((ts(9), "c", "u3", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("winagg").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    // each finalized window emitted exactly once, late row absent everywhere
    assert(rows.count(r => r._2 == "a") === 1)
    assert(rows.find(r => r._2 == "a").get === (("2026-01-01 00:00:00.0", "a", 2L, 3.0, 2L)))
    assert(rows.find(r => r._2 == "b").map(_._3) === Some(1L))
    assert(!rows.exists(_._4 == 100.0), s"late row leaked into $rows")
  }

  test("streaming dedup: in-window duplicates dropped, state evicted after the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:00:00")
    val deduped = StreamingPipelines.dedupDocuments(
      mem.toDF().toDF("ts", "text"), "ts", "text", watermarkDelay = "1 hour")
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("dedupstream").start()
    try {
      // duplicate within the same batch and a fresh doc
      mem.addData(Seq((ts(0), "alpha"), (ts(0), "alpha"), (ts(0), "beta")))
      q.processAllAvailable()
      // duplicate across batches, still inside the watermark window
      mem.addData(Seq((ts(1), "alpha"), (ts(1), "gamma")))
      q.processAllAvailable()
      // push the watermark far ahead -> alpha's fingerprint state evicts
      mem.addData(Seq((ts(12), "delta")))
      q.processAllAvailable()
      // same content re-appearing AFTER eviction emits again (bounded-state
      // trade-off, documented on the operator)
      mem.addData(Seq((ts(13), "alpha")))
      q.processAllAvailable()
    } finally q.stop()
    val texts = spark.table("dedupstream").select("text").as[String].collect()
    assert(texts.count(_ == "alpha") === 2, s"expected pre+post-eviction alpha: ${texts.toSeq}")
    assert(texts.count(_ == "beta") === 1 && texts.count(_ == "gamma") === 1)
    assert(texts.length === 5, s"unexpected rows: ${texts.toSeq}")
  }

  test("streaming sessionization: gap merges events, sessions finalize once after the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    def ts(h: Int, m: Int = 0) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val sess = StreamingPipelines.sessionize(
      mem.toDF().toDF("ts", "user"), "ts", "user",
      gap = "30 minutes", watermarkDelay = "10 minutes")
    val q = sess.writeStream.outputMode("append").format("memory")
      .queryName("sessstream").start()
    try {
      // u1: 1:00, 1:20 chain (gap 20m < 30m); 2:30 opens a second session
      mem.addData(Seq((ts(1), "u1"), (ts(1, 20), "u1"), (ts(2, 30), "u1")))
      q.processAllAvailable()
      // advance watermark far past everything -> all sessions finalize
      // (watermark moves at end of batch; the NEXT batch emits the closures)
      mem.addData(Seq((ts(9), "zz")))
      q.processAllAvailable()
      mem.addData(Seq((ts(11), "zz")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sessstream")
      .select("key", "n_events").as[(String, Long)].collect()
      .filter(_._1 == "u1").sortBy(-_._2)
    assert(rows.toSeq === Seq(("u1", 2L), ("u1", 1L)),
      s"expected one 2-event and one 1-event session: ${rows.toSeq}")
  }

  test("exactly-once sink: a replayed batchId overwrites instead of duplicating") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = s"/tmp/graft_eos_${System.nanoTime()}"
    val mem = MemoryStream[(Long, String)]
    val q = ExactlyOnceSink.start(mem.toDF().toDF("id", "v"), s"$dir/out", s"$dir/ckpt")
    try {
      mem.addData(Seq((1L, "a"), (2L, "b")))
      q.processAllAvailable()
      mem.addData(Seq((3L, "c")))
      q.processAllAvailable()
    } finally q.stop()
    val before = spark.read.parquet(s"$dir/out").collect().map(_.toSeq).toSet
    assert(before.size === 3)
    // simulate the engine redelivering batch 1 after a failure: same id,
    // same data -> sink contents must be unchanged
    ExactlyOnceSink.writeBatch(Seq((3L, "c")).toDF("id", "v"), 1L, s"$dir/out")
    val after = spark.read.parquet(s"$dir/out").collect().map(_.toSeq).toSet
    assert(after === before, "replayed batch duplicated or mutated the sink")
  }

  test("sessionization: streaming session_window output equals the batch operator on a replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // deterministic replay; no inter-event gap is exactly == maxGap, where
    // the two formulations legitimately differ (batch merges at diff == gap,
    // session_window's [ts, ts+gap) windows no longer overlap there)
    val events: Seq[(String, Long)] = Seq(
      "a" -> 0L, "a" -> 10L, "a" -> 25L, "a" -> 100L, "a" -> 129L, "a" -> 250L,
      "b" -> 5L, "b" -> 40L, "b" -> 66L, "b" -> 300L,
      "c" -> 7L)
    val gapSec = 30L

    val batch = graft.operators.Sessionize.sessions(
        events.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }.toDF("key", "ts", "id"),
        "key", "ts", "id", gapSec)
      .select("key", "session_start", "session_end", "n_events")
      .as[(String, Long, Long, Long)].collect().toSet

    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val sess = StreamingPipelines.sessionize(
      mem.toDF().toDF("ts", "key"), "ts", "key",
      gap = "30 seconds", watermarkDelay = "0 seconds")
    val q = sess.writeStream.outputMode("append").format("memory").queryName("sesseq").start()
    try {
      mem.addData(events.map { case (k, t) => (new java.sql.Timestamp(t * 1000), k) })
      q.processAllAvailable()
      // two flush batches: the first advances the watermark past every real
      // event, the second emits the finalized sessions
      mem.addData(Seq((new java.sql.Timestamp(100000L * 1000), "zz")))
      q.processAllAvailable()
      mem.addData(Seq((new java.sql.Timestamp(200000L * 1000), "zz")))
      q.processAllAvailable()
    } finally q.stop()

    // session_window's end is last-event + gap; map back to the batch form
    val streamed = spark.table("sesseq")
      .where(col("key") =!= "zz")
      .select(col("key"), col("session_start").cast("long"),
        col("session_end").cast("long") - gapSec, col("n_events"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(streamed === batch, s"streaming $streamed != batch $batch")
  }

  test("conversations: streaming transcripts equal the batch operator on a replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // same no-boundary-gap caveat as the session equivalence test; events
    // fed to the stream in SHUFFLED order inside one batch so the sorted-
    // struct assembly (not arrival order) must pin the transcript
    val events: Seq[(String, Long)] = Seq(
      "a" -> 0L, "a" -> 10L, "a" -> 25L, "a" -> 100L, "a" -> 129L, "a" -> 250L,
      "b" -> 5L, "b" -> 40L, "b" -> 66L, "b" -> 300L,
      "c" -> 7L)
    val labeled = events.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong, s"e$i") }

    val batch = graft.operators.Sessionize.conversations(
        labeled.toDF("key", "ts", "id", "label"),
        "key", "ts", "id", "label", maxGap = 30L, minTurns = 2)
      .select("key", "n_turns", "transcript")
      .as[(String, Long, String)].collect().toSet
    assert(batch.nonEmpty)

    val mem = MemoryStream[(java.sql.Timestamp, String, Long, String)]
    val conv = StreamingPipelines.conversationStream(
      mem.toDF().toDF("ts", "key", "id", "label"), "ts", "key", "id", "label",
      gap = "30 seconds", watermarkDelay = "0 seconds", minTurns = 2)
    val q = conv.writeStream.outputMode("append").format("memory")
      .queryName("conveq").start()
    try {
      val shuffled = scala.util.Random.shuffle(labeled)
      mem.addData(shuffled.map { case (k, t, id, l) =>
        (new java.sql.Timestamp(t * 1000), k, id, l) })
      q.processAllAvailable()
      mem.addData(Seq((new java.sql.Timestamp(100000L * 1000), "zz", -1L, "x")))
      q.processAllAvailable()
      mem.addData(Seq((new java.sql.Timestamp(200000L * 1000), "zz", -2L, "x")))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("conveq")
      .where(col("key") =!= "zz")
      .select(col("key"), col("n_turns"), col("transcript"))
      .as[(String, Long, String)].collect().toSet
    assert(streamed === batch, s"streaming $streamed != batch $batch")
  }

  test("drift monitor: streamed epoch histograms + psiFromHistograms equal batch psiDrift") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // baseline skews low bins, the epoch skews high; group t only in epoch
    val baseline = Seq(("s", 0L), ("s", 0L), ("s", 1L), ("s", 2L)).toDF("g", "bin")
    val epochRows = Seq(("s", 2L), ("s", 3L), ("s", 3L), ("t", 1L))
    val batch = graft.operators.CoreOps.psiDrift(
        baseline, epochRows.toDF("g", "bin"), "g", "bin", numBins = 4)
      .select("g", "n_a", "n_b", "psi")
      .as[(String, Long, Long, Double)].collect().toSet

    val mem = MemoryStream[(java.sql.Timestamp, String, Long)]
    val hist = StreamingPipelines.epochHistogramStream(
      mem.toDF().toDF("ts", "g", "bin"), "ts", "g", "bin",
      epochWindow = "60 seconds", watermarkDelay = "0 seconds")
    val q = hist.writeStream.outputMode("append").format("memory")
      .queryName("drifteq").start()
    try {
      // the whole epoch lands inside one 60 s window, split across batches
      mem.addData(epochRows.take(2).map { case (g, b) =>
        (new java.sql.Timestamp(10L * 1000), g, b) })
      q.processAllAvailable()
      mem.addData(epochRows.drop(2).map { case (g, b) =>
        (new java.sql.Timestamp(20L * 1000), g, b) })
      q.processAllAvailable()
      mem.addData(Seq((new java.sql.Timestamp(100000L * 1000), "zz", 0L)))
      q.processAllAvailable()
      mem.addData(Seq((new java.sql.Timestamp(200000L * 1000), "zz", 0L)))
      q.processAllAvailable()
    } finally q.stop()

    val epochHist = spark.table("drifteq").where(col("g") =!= "zz")
      .select(col("g"), col("__bin"), col("cnt"))
    val baseHist = graft.operators.CoreOps.psiHistogram(baseline, "g", "bin", 4)
    val streamed = graft.operators.CoreOps.psiFromHistograms(
        baseHist, epochHist, "g", numBins = 4)
      .select("g", "n_a", "n_b", "psi")
      .as[(String, Long, Long, Double)].collect().toSet
    assert(streamed === batch, s"streaming $streamed != batch $batch")
  }

  test("retrieval monitor: streamed match scores + bm25TopK equal batch bm25Search on a replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextOps
    val sfDocs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val corpus = sfDocs.where(col("doc_id") % 5 =!= 0)
    val epoch = sfDocs.where(col("doc_id") % 5 === 0)

    val batch = TextOps.bm25Search(corpus, epoch,
        "doc_id", "text", "doc_id", "text", k = 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(batch.nonEmpty)

    val (tfdl, dfreq, nDocs, totalDl) = TextOps.bm25Index(corpus, "doc_id", "text")
    val tfdlP = tfdl.persist(); val dfreqP = dfreq.persist()
    tfdlP.count(); dfreqP.count()
    try {
      val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
      val scoresStream = StreamingPipelines.retrievalScoreStream(
        mem.toDF().toDF("ts", "doc_id", "text"), "ts", "doc_id", "text",
        tfdlP, dfreqP, nDocs, totalDl, watermarkDelay = "0 seconds")
      val q = scoresStream.writeStream.outputMode("append").format("memory")
        .queryName("retreq").start()
      try {
        val rows = epoch.select("doc_id", "text").as[(Long, String)].collect()
        val (b1, b2) = rows.splitAt(rows.length / 2)
        mem.addData(b1.map { case (id, t) => (new java.sql.Timestamp(10L * 1000), id, t) }.toSeq)
        q.processAllAvailable()
        mem.addData(b2.map { case (id, t) => (new java.sql.Timestamp(20L * 1000), id, t) }.toSeq)
        q.processAllAvailable()
        mem.addData(Seq((new java.sql.Timestamp(100000L * 1000), -1L, "flush")))
        q.processAllAvailable()
        mem.addData(Seq((new java.sql.Timestamp(200000L * 1000), -2L, "flush")))
        q.processAllAvailable()
      } finally q.stop()
      val streamed = TextOps.bm25TopK(
          spark.table("retreq").where(col("query_id") >= 0), k = 3)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(streamed === batch,
        s"streaming retrieval diverged: ${streamed.size} vs ${batch.size} rows")
    } finally { tfdlP.unpersist(); dfreqP.unpersist(); () }
  }

  test("asset dedup: streamed signature join equals the batch canonical rule on an epoch replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{MediaAsset, Multimodal}
    val docs = Tables.documents(spark, sfDir)
    // small corpus (seeds 0..9 only) so the wider epoch carries BOTH
    // repeated seeds (duplicates) and unseen seeds (novel assets)
    val corpus = Multimodal.syntheticMixedAssets(spark, docs.where(col("doc_id") < 10))
    val epoch = Multimodal.syntheticMixedAssets(spark, docs.where(col("doc_id") >= 10))
      .collect().toSeq
    assert(epoch.nonEmpty)

    val idx = StreamingPipelines.assetSignatureIndex(corpus).cache()
    idx.count()
    try {
      // batch replica of the canonical rule over the same index
      val batch = StreamingPipelines.assetDedupStream(
          spark.createDataset(epoch), idx)
        .as[(Long, String, String, Option[Long], Boolean)].collect().toSet
      assert(batch.exists(!_._5) && batch.exists(_._5),
        "epoch must contain both duplicates and novel assets for the test to bite")

      val mem = MemoryStream[MediaAsset]
      val out = StreamingPipelines.assetDedupStream(mem.toDS(), idx)
      val q = out.writeStream.outputMode("append").format("memory")
        .queryName("assetdedup").start()
      try {
        val (b1, b2) = epoch.splitAt(epoch.length / 2)
        mem.addData(b1); q.processAllAvailable()
        mem.addData(b2); q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.table("assetdedup")
        .as[(Long, String, String, Option[Long], Boolean)].collect().toSet
      assert(streamed === batch,
        s"streaming asset dedup diverged: ${streamed.size} vs ${batch.size}")
    } finally { idx.unpersist(); () }
  }

  test("index deletes: lexical signature index and semantic cell index equal rebuilds after delete") {
    import graft.operators.Similarity
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val removals = docs.where(col("doc_id") % 7 === 3).select("doc_id")
      .union(docs.sparkSession.range(999999999L, 999999999L + 1)
        .select(col("id").as("doc_id"))) // absent id must be a no-op
    // lexical (buckets, sets)
    val (b0, s0) = StreamingPipelines.dedupIndex(docs, "doc_id", "text",
      k = 3, numHashes = 8, numBands = 4)
    val (bd, sd) = StreamingPipelines.dedupIndexDelete(b0, s0, removals, "doc_id")
    val (br, sr) = StreamingPipelines.dedupIndex(docs.where(col("doc_id") % 7 =!= 3),
      "doc_id", "text", k = 3, numHashes = 8, numBands = 4)
    assert(bd.collect().map(_.toSeq).toSet === br.collect().map(_.toSeq).toSet)
    assert(sd.collect().map(_.toSeq).toSet === sr.collect().map(_.toSeq).toSet)
    // semantic cell index under frozen centroids
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = Similarity.trainIvfCentroids(emb, nlist = 4, dim = 64)
    val c0 = Similarity.assignToCells(emb, centroids)
      .select(col("cluster"), col("vec_id").as("c_id"), col("nemb").as("c_nemb"))
    val cd = graft.tools.SemanticMaintenance.deletedIndex(c0,
      emb.where(col("vec_id") % 7 === 3).select("vec_id"), "vec_id")
    val cr = Similarity.assignToCells(emb.where(col("vec_id") % 7 =!= 3), centroids)
      .select(col("cluster"), col("vec_id").as("c_id"), col("nemb").as("c_nemb"))
    // nemb is a pure per-row function of the embedding (identical on both
    // sides by construction); membership is the thing the delete changes
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select("cluster", "c_id").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(cells(cd) === cells(cr))
  }

  test("mixture monitor: streamed frozen-model losses merged into accumulators equal batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextOps
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"), col("source"))
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val epoch = docs.where(col("doc_id") % 5 === 0)
    val (bigram, ctx, vocab) = TextOps.bigramModel(corpus, "doc_id", "text")
    val bigramP = bigram.persist(); val ctxP = ctx.persist()
    bigramP.count(); ctxP.count()
    try {
      def rollup(d: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] =
        TextOps.bigramNllUnder(d, "doc_id", "text", bigramP, ctxP, vocab)
          .join(d.select(col("doc_id"), col("source")), "doc_id")
          .groupBy("source")
          .agg(sum(col("sum_nll_q6")).as("s"), sum(col("n_trans")).as("n"))
          .as[(String, Long, Long)].collect()
          .map { case (s, sv, n) => s -> ((sv, n)) }.toMap
      val batchAcc = rollup(corpus.union(epoch))
      val baseAcc = rollup(corpus)

      val mem = MemoryStream[(java.sql.Timestamp, Long, String, String)]
      val losses = StreamingPipelines.mixtureLossStream(
        mem.toDF().toDF("ts", "doc_id", "text", "source"),
        "ts", "doc_id", "text", "source", bigramP, ctxP, vocab,
        watermarkDelay = "0 seconds")
      val q = losses.writeStream.outputMode("append").format("memory")
        .queryName("mixmon").start()
      try {
        val rows = epoch.select("doc_id", "text", "source")
          .as[(Long, String, String)].collect()
        val (b1, b2) = rows.splitAt(rows.length / 2)
        mem.addData(b1.map { case (id, t, s) => (new java.sql.Timestamp(10L * 1000), id, t, s) }.toSeq)
        q.processAllAvailable()
        mem.addData(b2.map { case (id, t, s) => (new java.sql.Timestamp(20L * 1000), id, t, s) }.toSeq)
        q.processAllAvailable()
        mem.addData(Seq((new java.sql.Timestamp(100000L * 1000), -1L, "flush one", "__flush")))
        q.processAllAvailable()
        mem.addData(Seq((new java.sql.Timestamp(200000L * 1000), -2L, "flush two", "__flush")))
        q.processAllAvailable()
      } finally q.stop()
      val streamedRows = spark.table("mixmon")
        .where(col("source") =!= "__flush")
        .as[(String, Long, Long)].collect()
      val merged = streamedRows.foldLeft(baseAcc) { case (acc, (s, n, sv)) =>
        val (s0, n0) = acc.getOrElse(s, (0L, 0L))
        acc.updated(s, (s0 + sv, n0 + n))
      }
      assert(merged === batchAcc,
        "accumulators after the streamed epoch must equal the batch rollup")
      def loss(m: Map[String, (Long, Long)]) =
        m.toSeq.map { case (s, (sv, n)) => (s, sv / n) }.sortBy(_._1)
      assert(TextOps.egMixtureRows(loss(merged), 8, 1000000L, 50) ===
        TextOps.egMixtureRows(loss(batchAcc), 8, 1000000L, 50),
        "EG weights from the maintained accumulators must equal batch")
    } finally { bigramP.unpersist(); ctxP.unpersist(); () }
  }

  test("split-leakage monitor: streaming stream-static form equals batch splitLeakage on a replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
    val split = CoreOps.hashSplit(docs, "doc_id",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
    val train = split.where(col("split") === "train")
    val testDocs = split.where(col("split") === "test")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq

    val batch = graft.operators.Dedup.splitLeakage(train, testDocs.toDF("doc_id", "text"),
        "doc_id", "text", n = 8)
      .select("doc_id", "n_windows", "n_leaked", "leak_frac")
      .as[(Long, Long, Long, Double)].collect().toSet

    // materialized index, as a long-lived monitor would hold it
    val idx = graft.operators.Dedup.windowHashIndex(train, "doc_id", "text", n = 8).cache()
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val audited = StreamingPipelines.splitLeakageStream(
      mem.toDF().toDF("doc_id", "text", "ts"), idx, "doc_id", "text",
      "ts", watermarkDelay = "0 seconds", n = 8)
    val q = audited.writeStream.outputMode("append").format("memory")
      .queryName("leakmon").start()
    try {
      // two epochs, then a flush row to push the watermark past them
      val (a, b) = testDocs.splitAt(testDocs.size / 2)
      mem.addData(a.map { case (id, t) => (id, t, new java.sql.Timestamp(1000L)) })
      q.processAllAvailable()
      mem.addData(b.map { case (id, t) => (id, t, new java.sql.Timestamp(2000L)) })
      q.processAllAvailable()
      mem.addData(Seq((-1L, "flush", new java.sql.Timestamp(100000L * 1000))))
      q.processAllAvailable()
      mem.addData(Seq((-2L, "flush", new java.sql.Timestamp(200000L * 1000))))
      q.processAllAvailable()
    } finally { q.stop(); idx.unpersist() }

    val streamed = spark.table("leakmon")
      .where(col("doc_id") >= 0)
      .select("doc_id", "n_windows", "n_leaked", "leak_frac")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(streamed === batch, s"streaming $streamed != batch $batch")
    assert(batch.nonEmpty)
  }

  test("incremental dedup: streaming stream-static form equals batch d12 on a replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "an entirely different corpus document about spark shuffles and joins"),
      (2L, "duplicate pair inside the corpus is not this operator's business")
    ).toDF("doc_id", "text")
    val incomingRows = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"), // dup of 0
      (11L, "a genuinely novel incoming document with fresh unseen content here"),
      (12L, "an entirely different corpus document about spark shuffles and tricks") // near-dup of 1
    )

    val batch = graft.operators.Dedup.incrementalDedup(
        corpus, incomingRows.toDF("doc_id", "text"), "doc_id", "text",
        k = 3, numHashes = 8, numBands = 4, threshold = 0.5)
      .select("doc_id", "dup_of", "best_jaccard", "keep")
      .as[(Long, Option[Long], Option[Double], Boolean)].collect().toSet

    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val deduped = StreamingPipelines.incrementalDedupStream(
      mem.toDF().toDF("doc_id", "text", "ts"), corpus, "doc_id", "text",
      "ts", watermarkDelay = "0 seconds",
      k = 3, numHashes = 8, numBands = 4, threshold = 0.5)
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("incdedup").start()
    try {
      mem.addData(incomingRows.map { case (id, t) => (id, t, new java.sql.Timestamp(1000L)) })
      q.processAllAvailable()
      // flush batches: advance the watermark past the real docs, then emit
      mem.addData(Seq((99L, "flush", new java.sql.Timestamp(100000L * 1000))))
      q.processAllAvailable()
      mem.addData(Seq((98L, "flush", new java.sql.Timestamp(200000L * 1000))))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("incdedup")
      .where(col("doc_id") < 90)
      .select("doc_id", "dup_of", "best_jaccard", "keep")
      .as[(Long, Option[Long], Option[Double], Boolean)].collect().toSet
    assert(streamed === batch, s"streaming $streamed != batch $batch")
    assert(batch.exists { case (id, dup, _, keep) => id == 10L && dup.contains(0L) && !keep })
    assert(batch.exists { case (id, dup, _, keep) => id == 11L && dup.isEmpty && keep })
  }

  test("streaming corpus build: stateless quality/lang gate + incremental dedup equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextOps
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "an entirely different corpus document about spark shuffles and joins")
    ).toDF("doc_id", "text")
    val incomingRows = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"), // dup of 0 → keep=false
      (11L, "it is a story of the sea and of the ships that sail it every day"), // novel en → keep=true
      (12L, "spam spam spam spam spam spam spam"), // low quality → gated out
      (13L, "der hund und die katze sind in das haus und ist ein freund")) // German → gated out
    // the stateless corpus-build gate: pure projections, applies unchanged
    // to a batch frame and to a streaming frame BEFORE the watermark
    def gate(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.where(TextOps.predictedLangCol(col("text")) === "en" &&
        TextOps.qualityCol(col("text")) >= 0.3)

    val batch = graft.operators.Dedup.incrementalDedup(
        corpus, gate(incomingRows.toDF("doc_id", "text")), "doc_id", "text",
        k = 3, numHashes = 8, numBands = 4, threshold = 0.5)
      .select("doc_id", "dup_of", "keep")
      .as[(Long, Option[Long], Boolean)].collect().toSet
    // the gate dropped 12/13 before dedup ever saw them
    assert(batch.map(_._1) === Set(10L, 11L))

    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val built = StreamingPipelines.incrementalDedupStream(
      gate(mem.toDF().toDF("doc_id", "text", "ts")), corpus, "doc_id", "text",
      "ts", watermarkDelay = "0 seconds",
      k = 3, numHashes = 8, numBands = 4, threshold = 0.5)
    val q = built.writeStream.outputMode("append").format("memory")
      .queryName("corpusbuild").start()
    try {
      mem.addData(incomingRows.map { case (id, t) => (id, t, new java.sql.Timestamp(1000L)) })
      q.processAllAvailable()
      // flush docs must PASS the gate (a filtered row never reaches the
      // watermark operator, so it could not advance the watermark)
      mem.addData(Seq((99L,
        "it is the end of the run and this text is here to move the clock",
        new java.sql.Timestamp(100000L * 1000))))
      q.processAllAvailable()
      mem.addData(Seq((98L,
        "it is the end of the run and this text is here to move the clock",
        new java.sql.Timestamp(200000L * 1000))))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("corpusbuild")
      .where(col("doc_id") < 90)
      .select("doc_id", "dup_of", "keep")
      .as[(Long, Option[Long], Boolean)].collect().toSet
    assert(streamed === batch, s"streaming $streamed != batch $batch")
    assert(batch.exists { case (id, dup, keep) => id == 10L && dup.contains(0L) && !keep })
    assert(batch.exists { case (id, dup, keep) => id == 11L && dup.isEmpty && keep })
  }

  test("incremental corpus maintenance over replayed epochs: materialized corpus equals batch survivors after every epoch") {
    import spark.implicits._
    import graft.operators.Dedup
    // batch comparator: the d10b survivor rule (LSH -> verify -> components
    // -> component minima + singletons) over every document seen so far
    def batchSurvivors(rows: Seq[(Long, String)]): Set[Long] = {
      val all = rows.toDF("doc_id", "text")
      val sigs = Dedup.minHashSignatures(all, "doc_id", "text", 3, 8)
      val cands = Dedup.lshCandidatePairs(sigs, 8, 8)
      val pairs = Dedup.verifyCandidatesJaccard(all, "doc_id", "text", 3, cands, 0.5)
      val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .select(col("doc_id").as("cid"), col("component"))
      all.join(comp, col("doc_id") === col("cid"), "left")
        .where(col("component").isNull || col("doc_id") === col("component"))
        .select("doc_id").as[Long].collect().toSet
    }

    val corpus0 = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "an entirely different corpus document about spark shuffles and joins"))
    // epoch 1's near-dup (12) targets a doc ADMITTED in epoch 0 (11): the
    // corpus the second run joins against must already contain it — the
    // property that makes this maintenance, not one-shot dedup. Batches are
    // internally dup-free (a real pipeline bootstraps intra-batch dups with
    // batch d10b first), so the streamed corpus must equal batch survivors
    // after every epoch.
    val epochs = Seq(
      Seq((10L, "the quick brown fox jumps over the lazy dog again and again tonight"),
        (11L, "it is a story of the sea and of the ships that sail it every day")),
      Seq((12L, "it is a story of the sea and of the ships that sail it every night"),
        (13L, "alpine meadows and mountain weather patterns make a completely fresh subject here")))

    val sinkDir = s"/tmp/graft_corpus_maint_${System.nanoTime()}"
    var corpusRows = corpus0
    for ((batch, i) <- epochs.zipWithIndex) {
      val admitted = graft.tools.CorpusMaintenance.runEpoch(
        spark, corpusRows.toDF("doc_id", "text"), batch, i, sinkDir,
        k = 3, numHashes = 8, numBands = 8, threshold = 0.5)
      corpusRows = corpusRows ++ batch.filter { case (id, _) => admitted.contains(id) }
      val seen = corpus0 ++ epochs.take(i + 1).flatten
      assert(corpusRows.map(_._1).toSet === batchSurvivors(seen),
        s"epoch $i: maintained corpus diverged from batch survivors")
    }
    assert(corpusRows.map(_._1).toSet === Set(0L, 1L, 11L, 13L))

    // exactly-once: replaying epoch 0's micro-batch write (same batchId)
    // leaves the materialized corpus unchanged
    val before = spark.read.parquet(s"$sinkDir/epoch=0")
      .where(col("doc_id") < graft.tools.CorpusMaintenance.FlushIdBase)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // materialize the batch before rewriting (cannot overwrite a path that
    // is lazily being read from)
    val src = spark.read.parquet(s"$sinkDir/epoch=0/batch_id=0")
    val replay = spark.createDataFrame(
      spark.sparkContext.parallelize(src.collect().toSeq), src.schema)
    ExactlyOnceSink.writeBatch(replay, 0L, s"$sinkDir/epoch=0")
    val after = spark.read.parquet(s"$sinkDir/epoch=0")
      .where(col("doc_id") < graft.tools.CorpusMaintenance.FlushIdBase)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(before === after)
  }

  test("stream-stream interval join: in-window pairs matched, out-of-window and late rows never join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(java.sql.Timestamp, String, String)]
    val clicks = MemoryStream[(java.sql.Timestamp, String, String)]
    def ts(h: Int, m: Int = 0) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val joined = StreamingPipelines.intervalJoin(
      imps.toDF().toDF("imp_ts", "imp_user", "imp_id"),
      clicks.toDF().toDF("clk_ts", "clk_user", "clk_id"),
      "imp_user", "clk_user", "imp_ts", "clk_ts",
      joinWindow = "1 hour", watermarkDelay = "30 minutes")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ssjoin").start()
    try {
      imps.addData(Seq((ts(1), "u1", "i1"), (ts(1), "u2", "i2")))
      clicks.addData(Seq(
        (ts(1, 30), "u1", "c1"), // in window -> match
        (ts(3), "u2", "c2"), // 2h after imp -> outside window
        (ts(1, 15), "u9", "c3"))) // no impression for u9
      q.processAllAvailable()
      // advance both watermarks far ahead (watermark moves at END of batch)...
      imps.addData(Seq((ts(9), "zz", "i9")))
      clicks.addData(Seq((ts(9), "zz", "c9")))
      q.processAllAvailable()
      // ...then a click that WOULD match i1 arrives behind the watermark ->
      // i1's buffered state is already evicted, the row is dropped
      clicks.addData(Seq((ts(1, 45), "u1", "late")))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("ssjoin")
      .select("imp_id", "clk_id").as[(String, String)].collect().toSet
    assert(pairs.contains(("i1", "c1")))
    assert(pairs.contains(("i9", "c9")))
    assert(!pairs.exists(_._2 == "c2"), s"out-of-window click joined: $pairs")
    assert(!pairs.exists(_._2 == "late"), s"late click joined after eviction: $pairs")
    assert(pairs.size === 2, s"unexpected pairs: $pairs")
  }

  test("streaming contribution bounding admits exactly C per user across epochs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Contribution]
    val bounded = StreamingPipelines.boundContributions(mem.toDS(), c = 3)
    val q = bounded.writeStream.outputMode("append").format("memory").queryName("bnd").start()
    try {
      mem.addData(Seq(
        Contribution("k1", 0, "u1", 1.0), Contribution("k2", 0, "u1", 1.0),
        Contribution("k1", 0, "u2", 1.0)))
      q.processAllAvailable()
      mem.addData(Seq(
        Contribution("k3", 1, "u1", 1.0), Contribution("k4", 1, "u1", 1.0),
        Contribution("k5", 1, "u2", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val admitted = spark.table("bnd").collect()
    val perUser = admitted.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(perUser("u1") === 3) // 2 in epoch 0 + first 1 of epoch 1
    assert(perUser("u2") === 2)
  }

  test("confidential streaming pipeline: sealed tuples -> route-validate -> unseal -> dp equals plaintext run") {
    import spark.implicits._
    import graft.operators.SealedColumns
    implicit val sqlCtx = spark.sqlContext
    val params = graft.dp.DpParams.zeroNoise(8)
    val contrib = Seq(
      Contribution("spark", 0, "u1", 2.0), Contribution("storm", 0, "u2", 1.0),
      Contribution("spark", 1, "u3", 3.0))
    val codec = new SealedColumns.Codec(graft.crypto.SealedPayload.testKey, "aes-gcm")

    val mem = MemoryStream[(String, Long)] // (json contribution, seq)
    val sealedStream = mem.toDS().toDF("plainJson", "seq")
      .select(SealedColumns.sealColumn(col("plainJson"), col("seq"), "spout", "dp",
        concat(lit("p"), col("seq") % 2), codec).as("payload"))
    val pipeline = StreamingPipelines.dpHistogram(
      StreamingPipelines.unsealContributions(sealedStream,
        graft.crypto.SealedPayload.testKey, "aes-gcm", "spout", "dp"), params)
    val q = StreamingPipelines.carryForwardSink(pipeline, "sealedwc")
    try {
      contrib.groupBy(_.epoch).toSeq.sortBy(_._1).foreach { case (_, rows) =>
        mem.addData(rows.zipWithIndex.map { case (c, i) =>
          (s"""{"key":"${c.key}","epoch":${c.epoch},"userId":"${c.userId}","value":${c.value}}""",
            c.epoch * 100L + i)
        })
        q.processAllAvailable()
      }
    } finally q.stop()
    val hist = spark.table("sealedwc").orderBy(col("epoch")).collect()
      .foldLeft(Map.empty[String, Long]) { (acc, r) => acc + (r.getString(0) -> r.getLong(2)) }
    assert(hist === Map("spark" -> 5L, "storm" -> 1L))
  }

  test("replayed sealed tuples are dropped mid-stream; histogram matches batch replay-filter semantics") {
    import spark.implicits._
    import graft.operators.SealedColumns
    implicit val sqlCtx = spark.sqlContext
    val params = graft.dp.DpParams.zeroNoise(8)
    val codec = new SealedColumns.Codec(graft.crypto.SealedPayload.testKey, "aes-gcm")

    // (key, epoch, user, value, producer, seq); seqs repeat across batches —
    // only the first delivery of each (producer, seq) may count
    val rows = Seq(
      ("spark", 0, "u1", 2.0, "p0", 0L), ("storm", 0, "u2", 1.0, "p1", 0L),
      ("spark", 1, "u3", 3.0, "p0", 1L), ("flink", 1, "u4", 4.0, "p1", 1L))

    val mem = MemoryStream[(String, Long, String)] // (json, seq, producer)
    val sealedStream = mem.toDS().toDF("plainJson", "seq", "producer")
      .select(SealedColumns.sealColumn(col("plainJson"), col("seq"), "spout", "dp",
        col("producer"), codec).as("payload"))
    val pipeline = StreamingPipelines.dpHistogram(
      StreamingPipelines.unsealContributions(sealedStream,
        graft.crypto.SealedPayload.testKey, "aes-gcm", "spout", "dp"), params)
    val q = StreamingPipelines.carryForwardSink(pipeline, "replaydp")
    try {
      rows.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (_, rs) =>
        val batchRows = rs.map { case (k, e, u, v, prod, seq) =>
          (s"""{"key":"$k","epoch":$e,"userId":"$u","value":$v}""", seq, prod)
        }
        // every sealed tuple delivered twice within the batch AND re-delivered
        // in a later batch: byte-identical replays, all must be dropped
        mem.addData(batchRows ++ batchRows)
        q.processAllAvailable()
        mem.addData(batchRows.take(1)) // cross-batch replay of an old tuple
        q.processAllAvailable()
      }
    } finally q.stop()
    val hist = spark.table("replaydp").orderBy(col("epoch")).collect()
      .foldLeft(Map.empty[String, Long]) { (acc, r) => acc + (r.getString(0) -> r.getLong(2)) }
    // equals the batch replay-filter semantics: first occurrence per
    // (producer, seq) survives -> each logical contribution counted once
    assert(hist === Map("spark" -> 5L, "storm" -> 1L, "flink" -> 4L))
  }

  test("streaming word-count pipeline end to end (tokenize -> bound -> dp)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Int, String)]
    val pipeline = StreamingPipelines.dpHistogram(
      StreamingPipelines.boundContributions(
        StreamingPipelines.tokenize(mem.toDS()), c = 100),
      DpParams.zeroNoise(8))
    val q = StreamingPipelines.carryForwardSink(pipeline, "wc")
    try {
      mem.addData(("spark makes storms look easy", 0, "alice"))
      q.processAllAvailable()
      mem.addData(("spark spark again", 1, "bob"))
      q.processAllAvailable()
    } finally q.stop()
    val hist = spark.table("wc").orderBy(col("epoch")).collect()
      .foldLeft(Map.empty[String, Long]) { (acc, r) => acc + (r.getString(0) -> r.getLong(2)) }
    assert(hist("spark") === 3L)
    assert(hist("easy") === 1L)
    assert(hist("again") === 1L)
  }

  test("semantic incremental dedup: streaming equals batch; epoch-appended index catches cross-epoch dups") {
    import spark.implicits._
    import graft.operators.Similarity
    import graft.tools.SemanticMaintenance
    val thr = 0.4
    val emb = Tables.embeddings(spark, sfDir)
    val corpus = emb.where(col("vec_id") % 5 =!= 0)
    val (centroids, cellIndex0) = Similarity.semanticIndex(corpus)
    val cellIndex = cellIndex0.cache()
    val epoch1 = emb.where(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    assert(epoch1.nonEmpty)

    // epoch 1: stream == batch, value for value
    val batch1 = Similarity.incrementalSemanticDedup(
        epoch1.toDF("vec_id", "embedding"), centroids, cellIndex, thr)
      .select("vec_id", "dup_of", "best_cos", "keep")
      .as[(Long, Option[Long], Option[Double], Boolean)].collect().toSet
    val stream1 = SemanticMaintenance.runEpoch(
      spark, centroids, cellIndex, epoch1, thr, "semdedup1").toSet
    assert(stream1 === batch1, s"epoch-1 streaming $stream1 != batch $batch1")
    val admitted1 = stream1.collect { case (id, _, _, true) => id }
    assert(admitted1.nonEmpty, "need novel epoch-1 vectors for the maintenance half")
    assert(stream1.exists(!_._4), "need at least one epoch-1 duplicate too")

    // maintain the index BETWEEN queries: admitted assignments appended
    val admittedDf = epoch1.filter(e => admitted1.contains(e._1))
      .toDF("vec_id", "embedding")
    val cellIndex2 = SemanticMaintenance.appendedIndex(cellIndex, admittedDf, centroids).cache()

    // epoch 2: exact copies of every epoch-1 vector under new ids. Every
    // copy must be rejected — and a copy of an ADMITTED original's only
    // within-threshold match can be the original itself when the original
    // was novel, so dup_of pins the maintenance precisely.
    val epoch2 = epoch1.map { case (id, e) => (id + 100000L, e) }
    val batch2 = Similarity.incrementalSemanticDedup(
        epoch2.toDF("vec_id", "embedding"), centroids, cellIndex2, thr)
      .select("vec_id", "dup_of", "best_cos", "keep")
      .as[(Long, Option[Long], Option[Double], Boolean)].collect().toSet
    val stream2 = SemanticMaintenance.runEpoch(
      spark, centroids, cellIndex2, epoch2, thr, "semdedup2").toSet
    assert(stream2 === batch2, s"epoch-2 streaming $stream2 != batch $batch2")
    assert(stream2.forall(!_._4), "an exact copy of an indexed vector was admitted")
    for (id <- admitted1)
      assert(stream2.exists { case (cid, dup, cos, _) =>
        cid == id + 100000L && dup.contains(id) && cos.contains(1.0) },
        s"copy of admitted vector $id did not dedup against the appended index")
    cellIndex.unpersist(); cellIndex2.unpersist()
  }

  test("maintained reduced-dimension index: stream == batch; append == rebuild; delete == rebuild") {
    import spark.implicits._
    import graft.operators.Similarity
    import graft.tools.SemanticMaintenance
    val thr = 0.4
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val corpus = emb.where(col("vec_id") % 5 =!= 0)
    // the FROZEN model trains once on the base corpus
    val model = Similarity.trainReducedModel(corpus)
    val idx = Similarity.reducedIndexOf(corpus, model).cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("cell", "r_id", "r_nemb")
        .as[(Int, Long, Seq[Double])].collect().toSet
    val epoch1 = emb.where(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    assert(epoch1.nonEmpty)

    // epoch 1: stream == batch, value for value
    val batch1 = Similarity.incrementalReducedDedup(
        epoch1.toDF("vec_id", "embedding"), model, idx, thr)
      .select("vec_id", "dup_of", "best_cos", "keep")
      .as[(Long, Option[Long], Option[Double], Boolean)].collect().toSet
    val stream1 = SemanticMaintenance.runReducedEpoch(
      spark, model, idx, epoch1, thr, "reddedup1").toSet
    assert(stream1 === batch1, s"epoch-1 streaming $stream1 != batch $batch1")
    val admitted1 = stream1.collect { case (id, _, _, true) => id }
    assert(admitted1.nonEmpty, "need novel epoch-1 vectors for the maintenance half")

    // APPEND == REBUILD under the frozen model, row for row (incl. the
    // normalized full embedding the verification path reads)
    val admittedDf = epoch1.filter(e => admitted1.contains(e._1))
      .toDF("vec_id", "embedding")
    val idx2 = Similarity.reducedIndexAppend(idx, admittedDf, model).cache()
    assert(rows(idx2) === rows(Similarity.reducedIndexOf(
        corpus.unionByName(admittedDf), model)),
      "append != rebuild over corpus ∪ admitted")

    // epoch 2: exact copies of epoch 1 under new ids — all rejected, and a
    // copy of an admitted original pins dup_of to that original
    val epoch2 = epoch1.map { case (id, e) => (id + 100000L, e) }
    val batch2 = Similarity.incrementalReducedDedup(
        epoch2.toDF("vec_id", "embedding"), model, idx2, thr)
      .select("vec_id", "dup_of", "best_cos", "keep")
      .as[(Long, Option[Long], Option[Double], Boolean)].collect().toSet
    val stream2 = SemanticMaintenance.runReducedEpoch(
      spark, model, idx2, epoch2, thr, "reddedup2").toSet
    assert(stream2 === batch2, s"epoch-2 streaming $stream2 != batch $batch2")
    assert(stream2.forall(!_._4), "an exact copy of an indexed vector was admitted")
    for (id <- admitted1)
      assert(stream2.exists { case (cid, dup, cos, _) =>
        cid == id + 100000L && dup.contains(id) && cos.contains(1.0) },
        s"copy of admitted vector $id did not dedup against the appended index")

    // DELETE == REBUILD: forget half the admitted epoch (broadcast
    // anti-join) and the surviving rows equal a from-scratch build over
    // the filtered corpus exactly
    val removals = admitted1.toSeq.sorted.take(math.max(1, admitted1.size / 2))
    val idx3 = Similarity.reducedIndexDelete(idx2, removals.toDF("vec_id"), "vec_id")
    val rebuilt3 = Similarity.reducedIndexOf(
      corpus.unionByName(admittedDf).where(!col("vec_id").isin(removals: _*)), model)
    assert(rows(idx3) === rows(rebuilt3), "delete != rebuild over the filtered corpus")
    idx.unpersist(); idx2.unpersist()
  }

  test("incremental block dedup: streaming equals batch; appended index catches cross-epoch repeats") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val bt = 4
    val corpus = Seq(
      (0L, "a1 a2 a3 a4 b1 b2 b3 b4"),  // blocks A, B
      (1L, "c1 c2 c3 c4")               // block C
    ).toDF("doc_id", "text")
    val idx = Dedup.blockHashIndex(corpus, "doc_id", "text", bt).cache()
    val epoch1 = Seq(
      (10L, "a1 a2 a3 a4 n1 n2 n3 n4"), // A repeated from corpus + novel N
      (11L, "m1 m2 m3 m4 m5"))          // all novel (incl. trailing partial)

    val batch1 = Dedup.incrementalBlockDedupAgainst(
        epoch1.toDF("doc_id", "text"), idx, "doc_id", "text", bt)
      .select("doc_id", "n_blocks", "n_dropped", "dropped")
      .as[(Long, Long, Long, Seq[Int])].collect().toSet
    assert(batch1 === Set((10L, 2L, 1L, Seq(0)), (11L, 2L, 0L, Seq())))

    // ADVICE r11: the per-occurrence STORAGE form (h repeated per
    // occurrence) must be accepted as the index too — duplicate h rows
    // must not multiply matched blocks and inflate n_dropped
    val occForm = Dedup.blockOccurrences(
      corpus.unionByName(corpus.withColumn("doc_id", col("doc_id") + 100)),
      "doc_id", "text", bt)
    val batchOcc = Dedup.incrementalBlockDedupAgainst(
        epoch1.toDF("doc_id", "text"), occForm, "doc_id", "text", bt)
      .select("doc_id", "n_blocks", "n_dropped", "dropped")
      .as[(Long, Long, Long, Seq[Int])].collect().toSet
    assert(batchOcc === batch1, s"occurrence-form index diverged: $batchOcc")

    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = StreamingPipelines.blockDedupStream(
      mem.toDF().toDF("doc_id", "text", "ts"), idx, "doc_id", "text",
      "ts", watermarkDelay = "0 seconds", blockTokens = bt)
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("blockdedup").start()
    try {
      mem.addData(epoch1.map { case (id, t) => (id, t, new java.sql.Timestamp(1000L)) })
      q.processAllAvailable()
      mem.addData(Seq((99L, "flush", new java.sql.Timestamp(100000L * 1000))))
      q.processAllAvailable()
      mem.addData(Seq((98L, "flush", new java.sql.Timestamp(200000L * 1000))))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("blockdedup")
      .where(col("doc_id") < 90)
      .select("doc_id", "n_blocks", "n_dropped", "dropped")
      .as[(Long, Long, Long, Seq[Int])].collect().toSet
    assert(streamed === batch1, s"streaming $streamed != batch $batch1")

    // streaming against the per-occurrence index form (same ADVICE r11
    // guard as the batch operator): duplicate h rows must not multiply
    // matched probe rows
    val mem2 = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream2 = StreamingPipelines.blockDedupStream(
      mem2.toDF().toDF("doc_id", "text", "ts"), occForm, "doc_id", "text",
      "ts", watermarkDelay = "0 seconds", blockTokens = bt)
    val q2 = stream2.writeStream.outputMode("append").format("memory")
      .queryName("blockdedup_occ").start()
    try {
      mem2.addData(epoch1.map { case (id, t) => (id, t, new java.sql.Timestamp(1000L)) })
      q2.processAllAvailable()
      mem2.addData(Seq((99L, "flush", new java.sql.Timestamp(100000L * 1000))))
      q2.processAllAvailable()
      mem2.addData(Seq((98L, "flush", new java.sql.Timestamp(200000L * 1000))))
      q2.processAllAvailable()
    } finally q2.stop()
    val streamedOcc = spark.table("blockdedup_occ")
      .where(col("doc_id") < 90)
      .select("doc_id", "n_blocks", "n_dropped", "dropped")
      .as[(Long, Long, Long, Seq[Int])].collect().toSet
    assert(streamedOcc === batch1, s"occurrence-form streaming $streamedOcc != batch $batch1")

    // maintain BETWEEN epochs: append the admitted epoch, then a later
    // epoch repeating epoch-1's novel block must be cut — and the
    // appended index must equal a from-scratch rebuild over the union
    val idx2 = Dedup.blockIndexAppend(idx, epoch1.toDF("doc_id", "text"),
      "doc_id", "text", bt).cache()
    val rebuilt = Dedup.blockHashIndex(
      corpus.unionByName(epoch1.toDF("doc_id", "text")), "doc_id", "text", bt)
    assert(idx2.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet ===
      rebuilt.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet,
      "append != rebuild")
    val epoch2 = Seq((20L, "n1 n2 n3 n4 x1 x2")).toDF("doc_id", "text")
    val under1 = Dedup.incrementalBlockDedupAgainst(epoch2, idx, "doc_id", "text", bt)
      .select("doc_id", "n_dropped").as[(Long, Long)].collect().toSet
    val under2 = Dedup.incrementalBlockDedupAgainst(epoch2, idx2, "doc_id", "text", bt)
      .select("doc_id", "n_dropped").as[(Long, Long)].collect().toSet
    assert(under1 === Set((20L, 0L)), "pre-append index should not know epoch-1 blocks")
    assert(under2 === Set((20L, 1L)), "appended index must catch the cross-epoch repeat")
    idx.unpersist(); idx2.unpersist()
  }

  test("web-ingest stream: url/extract/blocklist/content decisions, zero stateful ops, stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // standing crawl: one admitted page (url + clean-text fingerprint)
    val corpusClean = "the original article body text"
    val urlIdx = Seq("https://example.com/a?x=1").toDF("canonical_url").cache()
    val cIdx = spark.sql(
      s"SELECT md5('$corpusClean') AS fingerprint, CAST(0 AS BIGINT) AS rep_id").cache()
    val incoming = Seq(
      // re-crawl: a spelling variant of the indexed URL → url_dup, dropped
      (10L, "https://WWW.example.com:443/a?x=1&utm_s=z#f", "<p>whatever fresh text</p>"),
      // content dup: new URL, chrome-wrapped copy of the admitted body
      (11L, "https://example.com/b", s"<html><body><p>$corpusClean</p><script>x();</script></body></html>"),
      // spam: new URL, blocklisted token inside chrome
      (12L, "https://example.com/c", "<p>buy zzspamword now</p>"),
      // clean: new URL, novel body → the only keeper
      (13L, "https://example.com/d", "<p>a genuinely novel page body</p>"))
    def decisions(df: org.apache.spark.sql.DataFrame)
        : Set[(String, Long, Boolean, Boolean, Option[Long], Long, Boolean)] =
      df.select("canonical_url", "doc_id", "url_dup", "spam", "dup_of", "n_tokens", "keep")
        .as[(String, Long, Boolean, Boolean, Option[Long], Long, Boolean)]
        .collect().toSet
    val batch = decisions(StreamingPipelines.webIngestStream(
      incoming.toDF("doc_id", "url", "page"), urlIdx, cIdx,
      "doc_id", "url", "page", Seq("zzspamword")))
    def row(id: Long) = batch.find(_._2 == id).get
    assert(row(10L)._3 && !row(10L)._7, "re-crawl must flag url_dup and drop")
    assert(row(11L)._5.contains(0L) && !row(11L)._7, "chrome-wrapped copy must content-dup")
    assert(row(12L)._4 && !row(12L)._7, "blocklisted page must flag spam")
    assert(!row(13L)._3 && !row(13L)._4 && row(13L)._5.isEmpty && row(13L)._7)
    val mem = MemoryStream[(Long, String, String)]
    val out = StreamingPipelines.webIngestStream(
      mem.toDF().toDF("doc_id", "url", "page"), urlIdx, cIdx,
      "doc_id", "url", "page", Seq("zzspamword"))
    // zero stateful operators: the whole ingest is projections + two
    // stream-static joins, so append mode needs no watermark
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("webingest").start()
    try { mem.addData(incoming); q.processAllAvailable() } finally q.stop()
    assert(decisions(spark.table("webingest")) === batch)
    urlIdx.unpersist(); cIdx.unpersist()
  }

  test("url-rule filter + card redaction run unchanged as streaming stages: stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // both r16 ops are pure zero-shuffle projections, so the SAME function
    // runs on a streaming frame with no watermark and no state — the
    // webIngestStream stage contract
    val pages = Seq(
      (1L, "https://x.com/p/1", "pay 4242424242424242 now"),
      (2L, "https://x.com/p/12", "ref 1234567890123456"),
      (3L, "https://x.com/other", "clean"))
    val rules = Seq("/p/1" -> false, "/p/12" -> true)
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.operators.TextOps.urlRuleFilter(df, "doc_id", "url", rules)
        .join(graft.operators.TextOps.redactCards(df, "doc_id", "text"), "doc_id")
        .select("doc_id", "path", "allowed", "n_cards", "redacted")
    val batch = run(pages.toDF("doc_id", "url", "text"))
      .as[(Long, String, Boolean, Long, String)].collect().toSet
    assert(batch === Set(
      (1L, "/p/1", false, 1L, "pay <CARD> now"),
      (2L, "/p/12", true, 0L, "ref 1234567890123456"),
      (3L, "/other", true, 0L, "clean")))
    val mem = MemoryStream[(Long, String, String)]
    val q = run(mem.toDF().toDF("doc_id", "url", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("urlrules_cards").start()
    try { mem.addData(pages); q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("urlrules_cards")
      .as[(Long, String, Boolean, Long, String)].collect().toSet
    assert(streamed === batch, "a stateless projection must be stream/batch identical")
  }

  test("per-domain url rules run unchanged as a streaming stage: stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the per-domain joined form is a stream-static broadcast join + a
    // zero-shuffle election — no watermark, no state, so the SAME
    // function runs on a streaming ingest frame (the webIngestStream
    // stage contract); the rule dim is the maintained static side
    val urls = Seq(
      (1L, "https://a.one.com/p/1", "one.com"),
      (2L, "https://two.com/p/1", "two.com"),
      (3L, "https://norules.com/x", "norules.com"),
      (4L, "https://192.0.2.1/p/1", null: String))
    val dim = Seq(("one.com", "/p/1", true), ("two.com", "/p/1", false))
      .toDF("domain", "rule", "allow")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.operators.TextOps.urlRuleFilterPerDomain(
        df, "doc_id", "url", "dom", dim)
    val batch = run(urls.toDF("doc_id", "url", "dom"))
      .select("doc_id", "path", "matched_rule", "allowed")
      .as[(Long, String, Option[String], Boolean)].collect().toSet
    assert(batch === Set(
      (1L, "/p/1", Some("/p/1"), true),
      (2L, "/p/1", Some("/p/1"), false),
      (3L, "/x", None, true),
      (4L, "/p/1", None, true)))
    val mem = MemoryStream[(Long, String, String)]
    val q = run(mem.toDF().toDF("doc_id", "url", "dom"))
      .select("doc_id", "path", "matched_rule", "allowed")
      .writeStream.outputMode("append").format("memory")
      .queryName("urlrules_perdomain").start()
    try { mem.addData(urls); q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("urlrules_perdomain")
      .as[(Long, String, Option[String], Boolean)].collect().toSet
    assert(streamed === batch,
      "a stream-static join + projection must be stream/batch identical")
  }

  test("STORED positional index maintained per epoch: on-disk tree == from-scratch build; replay idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = s"/tmp/graft_stored_idx_${System.nanoTime()}"
    val nBuckets = 16
    val e1 = Seq((1L, "slow hash batch"), (2L, "a b a"))
    val e2 = Seq((3L, "slow hash"), (4L, ""))
    val e3 = Seq((5L, "batch slow hash batch"))
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.operators.TextOps.positionalIndexEpochWrite(
          b, "doc_id", "text", id, s"$dir/idx", nBuckets))
      .start()
    try {
      Seq(e1, e2, e3).foreach { e => mem.addData(e); q.processAllAvailable() }
    } finally q.stop()
    def postings(df: org.apache.spark.sql.DataFrame) =
      df.select("term", "doc_id", "pos")
        .as[(String, Long, Long)].collect().toSeq.sorted
    val stored = spark.read.parquet(s"$dir/idx")
    val scratch = graft.operators.TextOps.positionalPostingsIndex(
      (e1 ++ e2 ++ e3).toDF("doc_id", "text"), "doc_id", "text")
    // append == rebuild ON DISK: the maintained tree holds exactly the
    // postings a from-scratch build over the unioned epochs produces
    assert(postings(stored) === postings(scratch))
    // the streamed tree serves the stored probe unchanged (both partition
    // columns survive partition discovery; bucket pruning still applies)
    assert(graft.operators.TextOps
      .phraseStoredSearch(stored, Seq("slow", "hash"), nBuckets)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap === Map(1L -> ((1L, 0L)), 3L -> ((1L, 0L)), 5L -> ((1L, 1L))))
    // exactly-once: redelivering epoch 1 (same batchId, same data) must
    // leave the tree unchanged
    graft.operators.TextOps.positionalIndexEpochWrite(
      e2.toDF("doc_id", "text"), "doc_id", "text", 1L, s"$dir/idx", nBuckets)
    assert(postings(spark.read.parquet(s"$dir/idx")) === postings(scratch),
      "a replayed epoch duplicated or mutated the stored index")
    graft.tools.CorpusMaintenance.deleteRecursively(dir)
  }

  test("DURABLE recrawl stats maintained per epoch: on-disk fold == from-scratch rebuild; replay idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = s"/tmp/graft_recrawl_idx_${System.nanoTime()}"
    // three time-disjoint ingest epochs over two urls: u1 changes at the
    // e1→e2 boundary (a→b) and inside e3 (b→c), u2 never changes, u3
    // appears only in the last epoch (one-sided)
    val e1 = Seq(("u1", 1L, "a"), ("u2", 2L, "x"))
    val e2 = Seq(("u1", 4L, "b"), ("u2", 5L, "x"))
    val e3 = Seq(("u1", 7L, "b"), ("u1", 9L, "c"), ("u3", 8L, "z"))
    val mem = MemoryStream[(String, Long, String)]
    val q = mem.toDF().toDF("url", "epoch", "fp").writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.operators.TextOps.recrawlStatsEpochWrite(
          b, "url", "epoch", "fp", id, s"$dir/stats"))
      .start()
    try {
      Seq(e1, e2, e3).foreach { e => mem.addData(e); q.processAllAvailable() }
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("url", "n_fetches", "first_fetch", "last_fetch",
          "n_changes", "first_fp", "last_fp")
        .as[(String, Long, Long, Long, Long, String, String)]
        .collect().toSeq.sorted
    val folded = graft.operators.TextOps.recrawlStatsFromEpochs(
      spark.read.parquet(s"$dir/stats"))
    val scratch = graft.operators.TextOps.recrawlStatsFull(
      (e1 ++ e2 ++ e3).toDF("url", "epoch", "fp"), "url", "epoch", "fp")
    // append == rebuild ON DISK: the folded tree equals a from-scratch
    // build over the unioned raw log (boundary changes counted across
    // epoch files, internal changes within them)
    assert(rows(folded) === rows(scratch))
    assert(rows(folded).find(_._1 == "u1").get ===
      (("u1", 4L, 1L, 9L, 2L, "a", "c")))
    // exactly-once: REDELIVERING epoch 1 (same batchId, same data) must
    // leave the folded table unchanged — the overwrite-by-batchId sink
    // replaces the epoch's own output (contrast recrawlStatsAppend,
    // whose in-memory replay guard can only fail loudly)
    graft.operators.TextOps.recrawlStatsEpochWrite(
      e2.toDF("url", "epoch", "fp"), "url", "epoch", "fp", 1L, s"$dir/stats")
    // re-read: the replay rewrote batch_id=1's files, so the pre-replay
    // frame's file listing is stale by design (overwrite semantics)
    val refolded = graft.operators.TextOps.recrawlStatsFromEpochs(
      spark.read.parquet(s"$dir/stats"))
    assert(rows(refolded) === rows(scratch),
      "a replayed epoch double-counted the stored stats")
    // the delete step composes on the folded table (the full lifecycle:
    // durable epochs → fold → url purge == rebuild over the filtered log)
    assert(rows(graft.operators.TextOps.recrawlStatsDelete(
      refolded, Seq("u1").toDF("url"), "url")) ===
      rows(graft.operators.TextOps.recrawlStatsFull(
        (e1 ++ e2 ++ e3).filterNot(_._1 == "u1").toDF("url", "epoch", "fp"),
        "url", "epoch", "fp")))
    // the folded standing table serves the scheduler unchanged
    val pr = graft.operators.TextOps.recrawlPriority(
      Seq("u1", "u2").toDF("u"),
      refolded.drop("first_fetch", "first_fp", "last_fp"),
      "u", now = 10L)
    val got = pr.select("url", "priority_q6")
      .as[(String, Long)].collect().toMap
    assert(got("u1") === (10L - 9L) * (2L * 1000000L / 3L))
    assert(got("u2") === 0L)
    graft.tools.CorpusMaintenance.deleteRecursively(dir)
  }

  test("DURABLE link graph maintained per epoch: on-disk sum-fold == rebuild; replay idempotent; delete composes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = s"/tmp/graft_linkgraph_idx_${System.nanoTime()}"
    // three ingest epochs' edge lists; (a,b) accumulates across epochs
    val e1 = Seq(("a", "b", 2L), ("a", "c", 1L))
    val e2 = Seq(("a", "b", 3L), ("b", "c", 1L))
    val e3 = Seq(("c", "a", 4L))
    val mem = MemoryStream[(String, String, Long)]
    val q = mem.toDF().toDF("src_domain", "dst_domain", "n_links").writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.operators.GraphOps.linkGraphEpochWrite(b, id, s"$dir/graph"))
      .start()
    try {
      Seq(e1, e2, e3).foreach { e => mem.addData(e); q.processAllAvailable() }
    } finally q.stop()
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.select("src_domain", "dst_domain", "n_links")
        .as[(String, String, Long)].collect().toSeq.sorted
    val want = Seq(("a", "b", 5L), ("a", "c", 1L), ("b", "c", 1L), ("c", "a", 4L))
    assert(edges(graft.operators.GraphOps.linkGraphFromEpochs(
      spark.read.parquet(s"$dir/graph"))) === want)
    // exactly-once: redelivering epoch 1 (same batchId) is a no-op
    graft.operators.GraphOps.linkGraphEpochWrite(
      e2.toDF("src_domain", "dst_domain", "n_links"), 1L, s"$dir/graph")
    val refolded = graft.operators.GraphOps.linkGraphFromEpochs(
      spark.read.parquet(s"$dir/graph"))
    assert(edges(refolded) === want,
      "a replayed epoch double-counted the stored graph")
    // the durable fold composes with the delete step (the full lifecycle)
    assert(edges(graft.operators.GraphOps.linkGraphDelete(refolded,
      Seq(("a", "b", 5L), ("a", "c", 1L))
        .toDF("src_domain", "dst_domain", "n_links"))) ===
      Seq(("b", "c", 1L), ("c", "a", 4L)))
    graft.tools.CorpusMaintenance.deleteRecursively(dir)
  }

  test("recrawl priority probes the maintained fetch-stats table: stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the scheduler's probe stage is pure projections + one
    // stream-static join against the MAINTAINED (url → stats) table, so
    // the SAME function scores a streaming epoch of discovered URLs
    val log = Seq(
      ("https://a.com/x", 1L, "f1"), ("https://a.com/x", 5L, "f2"),
      ("https://a.com/x", 9L, "f2"),                     // 2 changes? f1→f2 (1), f2→f2 (0)
      ("https://b.com/y", 2L, "g1"), ("https://b.com/y", 8L, "g1"),
      ("https://c.com/z", 4L, "h1"))                     // single fetch → prior
      .toDF("url", "epoch", "fp")
    val stats = graft.operators.TextOps.recrawlStats(log, "url", "epoch", "fp")
    val epoch = Seq(Tuple1("https://a.com/x"), Tuple1("https://b.com/y"),
      Tuple1("https://c.com/z"), Tuple1("https://new.com/n"))
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.operators.TextOps.recrawlPriority(df, stats, "u", now = 10L)
        .select("url", "never_fetched", "age", "change_rate_q6", "priority_q6")
    val batch = run(epoch.toDF("u"))
      .as[(String, Boolean, Option[Long], Option[Long], Option[Long])]
      .collect().toSet
    assert(batch === Set(
      // 1 change over 2 intervals → rate 500000; age 10-9=1
      ("https://a.com/x", false, Some(1L), Some(500000L), Some(500000L)),
      // unchanged → rate 0, priority 0 however stale
      ("https://b.com/y", false, Some(2L), Some(0L), Some(0L)),
      // single fetch → the unknown-rate prior
      ("https://c.com/z", false, Some(6L), Some(500000L), Some(3000000L)),
      // never fetched → NULL score, must outrank everything in the queue
      ("https://new.com/n", true, None, None, None)))
    val mem = MemoryStream[String]
    val q = run(mem.toDF().toDF("u"))
      .writeStream.outputMode("append").format("memory")
      .queryName("recrawl_priority").start()
    try { mem.addData(epoch.map(_._1)); q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("recrawl_priority")
      .as[(String, Boolean, Option[Long], Option[Long], Option[Long])]
      .collect().toSet
    assert(streamed === batch,
      "a stream-static probe of the stats table must be stream/batch identical")
  }

  test("domain-budget stream: over-budget domains flagged, new hosts never over, stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // maintained tables: PSL dimension over the STANDING host set + the
    // per-domain admitted counts (budget 3)
    // dimension keys are CANONICAL hosts (the standing corpus's
    // canonical-URL hosts — www already stripped), matching what the
    // probe's own canonicalization produces
    val dim = graft.operators.TextOps.registrableDomainMap(
      Seq("example.com", "big.example.com", "small.site.org")
        .toDF("host"), "host").cache()
    val counts = Seq(("example.com", 5L), ("site.org", 1L))
      .toDF("registrable_domain", "n_pages").cache()
    val incoming = Seq(
      (20L, "https://WWW.example.com/a?x=1"),   // example.com at 5 >= 3 → over
      (21L, "https://big.example.com/b"),       // same domain via subdomain → over
      (22L, "https://small.site.org/c"),        // site.org at 1 < 3 → under
      (23L, "https://brand.new.io/d"))          // host absent from the dim → never over
    def decisions(df: org.apache.spark.sql.DataFrame)
        : Set[(Long, String, Option[String], Long, Boolean)] =
      df.select("doc_id", "host", "registrable_domain", "domain_pages", "over_budget")
        .as[(Long, String, Option[String], Long, Boolean)].collect().toSet
    val batch = decisions(StreamingPipelines.domainBudgetStream(
      incoming.toDF("doc_id", "url"), dim, counts, "doc_id", "url", budget = 3L))
    def row(id: Long) = batch.find(_._1 == id).get
    assert(row(20L)._3 === Some("example.com") && row(20L)._4 === 5L && row(20L)._5)
    assert(row(21L)._3 === Some("example.com") && row(21L)._5,
      "a subdomain spelling must charge the same registrable domain")
    assert(row(22L)._4 === 1L && !row(22L)._5)
    assert(row(23L)._3.isEmpty && row(23L)._4 === 0L && !row(23L)._5,
      "a host the dimension has not seen is a new site: zero pages, never over")
    val mem = MemoryStream[(Long, String)]
    val out = StreamingPipelines.domainBudgetStream(
      mem.toDF().toDF("doc_id", "url"), dim, counts, "doc_id", "url", budget = 3L)
    // stateless: projections + two stream-static joins, append needs no watermark
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("domainbudget").start()
    try { mem.addData(incoming); q.processAllAvailable() } finally q.stop()
    assert(decisions(spark.table("domainbudget")) === batch)
    dim.unpersist(); counts.unpersist(); ()
  }

  test("link-frontier stream: known domains score, unseen hosts cold-start at 0, stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // maintained tables: PSL dim over the STANDING host set + the standing
    // domain-endorsement (PageRank) table
    val dim = graft.operators.TextOps.registrableDomainMap(
      Seq("hot.example.com", "example.com", "cold.org").toDF("host"), "host")
      .cache()
    val rank = Seq(("example.com", 777000L))
      .toDF("registrable_domain", "pr_q6").cache()
    val incoming = Seq(
      (1L, "https://src.net/p/1",
        """<a href="https://HOT.example.com/x?utm_z=1">endorsed</a> <a href="/local">self</a>"""),
      (2L, "https://src.net/p/2",
        """<a href="//cold.org/y">known host, unendorsed domain</a> <a href="https://brand.new.io/z">unseen</a>"""))
    def probe(df: org.apache.spark.sql.DataFrame)
        : Set[(Long, Long, String, Option[String], Long, Boolean)] =
      df.select("doc_id", "link_no", "url", "registrable_domain",
          "target_rank_q6", "known_domain")
        .as[(Long, Long, String, Option[String], Long, Boolean)].collect().toSet
    val run = (df: org.apache.spark.sql.DataFrame) =>
      StreamingPipelines.linkFrontierStream(df, dim, rank, "doc_id", "page", "url")
    val batch = probe(run(incoming.toDF("doc_id", "url", "page")))
    assert(batch === Set(
      // canonicalization composes: host lowercased, tracking param cut
      (1L, 0L, "https://hot.example.com/x", Some("example.com"), 777000L, true),
      // root-relative resolves against the page's own host — unseen by the dim
      (1L, 1L, "https://src.net/local", None, 0L, false),
      // protocol-relative; host in the dim but its domain is unendorsed
      (2L, 0L, "https://cold.org/y", Some("cold.org"), 0L, false),
      (2L, 1L, "https://brand.new.io/z", None, 0L, false)))
    val mem = MemoryStream[(Long, String, String)]
    val q = run(mem.toDF().toDF("doc_id", "url", "page"))
      .writeStream.outputMode("append").format("memory")
      .queryName("linkfrontier").start()
    try { mem.addData(incoming); q.processAllAvailable() } finally q.stop()
    val streamed = probe(spark.table("linkfrontier"))
    assert(streamed === batch, "stateless probe must be stream/batch identical")
    dim.unpersist(); rank.unpersist(); ()
  }

  test("url-frontier stream: endorsement + per-domain robots + budget in one pass, stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // maintained dimensions: PSL over the standing hosts, the standing
    // PageRank table, each domain's OWN robots rules (packed), and the
    // standing per-domain admitted counts
    val dim = graft.operators.TextOps.registrableDomainMap(
      Seq("hot.example.com", "example.com", "full.com", "cold.org")
        .toDF("host"), "host").cache()
    val rank = Seq(("example.com", 777000L), ("full.com", 5000L))
      .toDF("registrable_domain", "pr_q6").cache()
    val rules = graft.operators.TextOps.urlRulesPacked(
      Seq(("example.com", "/x", false), ("cold.org", "/x", true))
        .toDF("domain", "rule", "allow")).cache()
    val counts = Seq(("full.com", 30L), ("example.com", 3L))
      .toDF("registrable_domain", "n_pages").cache()
    val incoming = Seq(
      (1L, "https://src.net/p/1",
        """<a href="https://HOT.example.com/x?utm_z=1">endorsed but robots-blocked</a> <a href="https://example.com/ok">endorsed, allowed</a>"""),
      (2L, "https://src.net/p/2",
        """<a href="//cold.org/xyz">its own robots ALLOW /x</a> <a href="https://full.com/q">over budget</a>"""))
    def rows(df: org.apache.spark.sql.DataFrame)
        : Set[(String, Option[String], Long, Boolean, Boolean, Boolean)] =
      df.select("url", "registrable_domain", "target_rank_q6",
          "allowed", "over_budget", "eligible")
        .as[(String, Option[String], Long, Boolean, Boolean, Boolean)]
        .collect().toSet
    val run = (df: org.apache.spark.sql.DataFrame) =>
      StreamingPipelines.urlFrontierStream(df, dim, rank, rules, counts,
        "doc_id", "page", "url", budget = 30L)
    val batch = rows(run(incoming.toDF("doc_id", "url", "page")))
    assert(batch === Set(
      // example.com's own robots disallow /x — endorsement can't save it
      ("https://hot.example.com/x", Some("example.com"), 777000L, false, false, false),
      ("https://example.com/ok", Some("example.com"), 777000L, true, false, true),
      // the SAME /x path is allowed by cold.org's OWN rules (per-domain)
      ("https://cold.org/xyz", Some("cold.org"), 0L, true, false, true),
      // allowed by (absent) robots but the domain is at its crawl budget
      ("https://full.com/q", Some("full.com"), 5000L, true, true, false)))
    val mem = MemoryStream[(Long, String, String)]
    val q = run(mem.toDF().toDF("doc_id", "url", "page"))
      .writeStream.outputMode("append").format("memory")
      .queryName("urlfrontier").start()
    try { mem.addData(incoming); q.processAllAvailable() } finally q.stop()
    val streamed = rows(spark.table("urlfrontier"))
    assert(streamed === batch,
      "the composed frontier is stateless — stream == batch must hold")
    // AGENT-SCOPED admissibility streams through the SAME frontier
    // (r19): the RFC 9309 group election happens at dimension-build
    // time, so swapping in urlRulesPackedForAgent changes ONLY the
    // packed rows — here example.com's `mybot` group REPLACES its `*`
    // group (the /x disallow vanishes, a /ok disallow appears), and the
    // decisions flip accordingly, stream == batch
    val agentRules = graft.operators.TextOps.urlRulesPackedForAgent(
      Seq(("example.com", "*", "/x", false),
        ("example.com", "mybot", "/ok", false),
        ("cold.org", "*", "/x", true))
        .toDF("domain", "agent", "rule", "allow"), "mybot/1.0").cache()
    val runAgent = (df: org.apache.spark.sql.DataFrame) =>
      StreamingPipelines.urlFrontierStream(df, dim, rank, agentRules, counts,
        "doc_id", "page", "url", budget = 30L)
    val agentBatch = rows(runAgent(incoming.toDF("doc_id", "url", "page")))
    assert(agentBatch === Set(
      // the * group's /x disallow no longer applies to mybot…
      ("https://hot.example.com/x", Some("example.com"), 777000L, true, false, true),
      // …and its own group's /ok disallow does
      ("https://example.com/ok", Some("example.com"), 777000L, false, false, false),
      ("https://cold.org/xyz", Some("cold.org"), 0L, true, false, true),
      ("https://full.com/q", Some("full.com"), 5000L, true, true, false)))
    val mem2 = MemoryStream[(Long, String, String)]
    val q2 = runAgent(mem2.toDF().toDF("doc_id", "url", "page"))
      .writeStream.outputMode("append").format("memory")
      .queryName("urlfrontier_agent").start()
    try { mem2.addData(incoming); q2.processAllAvailable() } finally q2.stop()
    assert(rows(spark.table("urlfrontier_agent")) === agentBatch,
      "agent-scoped admissibility must stream identically")
    agentRules.unpersist()
    dim.unpersist(); rank.unpersist(); rules.unpersist(); counts.unpersist(); ()
  }

  test("phrase-decontam stream: forbidden sequence flagged at ingest, stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val phrase = Seq("eval", "answer", "key")
    val incoming = Seq(
      (1L, "benign text with eval answer but no key match"),
      (2L, "leaked eval answer key mid document eval answer key"),  // 2 hits
      (3L, "eval answer key"),                                      // exact-length doc
      (4L, "short"))
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    val batch = hits(StreamingPipelines.phraseDecontamStream(
      incoming.toDF("doc_id", "text"), "doc_id", "text", phrase))
    assert(batch === Set((2L, 2L, 1L), (3L, 1L, 0L)))
    // and the batch form agrees with the maintained-index probe — the
    // two independent implementations meet at the same rows
    val idx = graft.operators.TextOps.positionalPostingsIndex(
      incoming.toDF("doc_id", "text"), "doc_id", "text")
    assert(hits(graft.operators.TextOps.phraseIndexSearch(idx, phrase)) === batch)
    val mem = MemoryStream[(Long, String)]
    val q = StreamingPipelines.phraseDecontamStream(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", phrase)
      .writeStream.outputMode("append").format("memory")
      .queryName("phrasedecontam").start()
    try { mem.addData(incoming); q.processAllAvailable() } finally q.stop()
    assert(hits(spark.table("phrasedecontam")) === batch,
      "stateless scan must be stream/batch identical")
  }

  test("positional-postings maintenance: streamed epoch postings == batch epoch index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the index's APPEND side under streaming: postings are a stateless
    // per-document projection, so the epoch increment the maintenance
    // sink unions into the standing (term, doc, pos) table can be
    // produced by the ingest query itself — streamed rows must equal the
    // batch build of the same epoch exactly (positionalIndexAppend is
    // then a pure union either way)
    val incoming = Seq((10L, "slow hash batch"), (11L, ""), (12L, "a slow a"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("term", "doc_id", "pos")
        .as[(String, Long, Long)].collect().toSeq.sorted
    val batch = rows(graft.operators.TextOps.positionalPostingsIndex(
      incoming.toDF("doc_id", "text"), "doc_id", "text"))
    val mem = MemoryStream[(Long, String)]
    val q = graft.operators.TextOps.positionalPostingsIndex(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.outputMode("append").format("memory")
      .queryName("positional_epoch").start()
    try { mem.addData(incoming); q.processAllAvailable() } finally q.stop()
    assert(rows(spark.table("positional_epoch")) === batch,
      "streamed postings must equal the batch epoch build")
  }

  test("bulk phrase-decontam stream: whole phrase table per batch, stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val phrases = Seq((1L, "eval answer key"), (2L, "answer"), (3L, "zz_never"))
      .toDF("phrase_id", "ptext").cache()
    val incoming = Seq(
      (1L, "benign text"),
      (2L, "leaked eval answer key here"),
      (3L, "answer answer"))
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long)].collect().toSet
    val batch = hits(StreamingPipelines.phraseDecontamStreamAll(
      incoming.toDF("doc_id", "text"), "doc_id", "text",
      phrases, "phrase_id", "ptext"))
    assert(batch === Set((1L, 2L, 1L, 1L), (2L, 2L, 1L, 2L), (2L, 3L, 2L, 0L)))
    val mem = MemoryStream[(Long, String)]
    val q = StreamingPipelines.phraseDecontamStreamAll(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        phrases, "phrase_id", "ptext")
      .writeStream.outputMode("append").format("memory")
      .queryName("phrasebulk").start()
    try { mem.addData(incoming); q.processAllAvailable() } finally q.stop()
    assert(hits(spark.table("phrasebulk")) === batch,
      "stateless bulk scan must be stream/batch identical")
    phrases.unpersist(); ()
  }

  test("exact dedup stream: stateless ingest vs the fingerprint index; NFC variants dedup; stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val composed = "caf\u00e9 menu item"      // precomposed U+00E9
    val decomposed = "cafe\u0301 menu item"   // e + combining U+0301
    val corpus = Seq((0L, composed), (1L, "a corpus doc")).toDF("doc_id", "text")
    val idx = StreamingPipelines.contentFingerprintIndex(corpus, "doc_id", "text").cache()
    val incomingRows = Seq(
      (10L, decomposed),        // NFC variant of doc 0 → dup_of 0
      (11L, "a genuinely novel document"))
    val batch = StreamingPipelines.exactDedupStream(
        incomingRows.toDF("doc_id", "text"), idx, "doc_id", "text")
      .as[(Long, String, Option[Long], Boolean)].collect().toSet
    assert(batch.exists { case (id, _, dup, keep) => id == 10L && dup.contains(0L) && !keep })
    assert(batch.exists { case (id, _, dup, keep) => id == 11L && dup.isEmpty && keep })

    val mem = MemoryStream[(Long, String)]
    val out = StreamingPipelines.exactDedupStream(
      mem.toDF().toDF("doc_id", "text"), idx, "doc_id", "text")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("exactdedup").start()
    try {
      mem.addData(incomingRows)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("exactdedup")
      .as[(Long, String, Option[Long], Boolean)].collect().toSet
    assert(streamed === batch, s"streaming $streamed != batch $batch")
    idx.unpersist()
  }

  test("block index delete: anti-join on occurrences == rebuild; representatives re-elected") {
    import spark.implicits._
    import graft.operators.Dedup
    val bt = 4
    val docs = Seq(
      (0L, "a1 a2 a3 a4"),              // block A — rep for A
      (1L, "a1 a2 a3 a4 b1 b2 b3 b4"),  // A again + B
      (2L, "c1 c2 c3 c4")               // C
    ).toDF("doc_id", "text")
    val occ = Dedup.blockOccurrences(docs, "doc_id", "text", bt)
    // delete doc 0 (the A representative) and doc 2 (C's only holder)
    val removals = Seq(0L, 2L).toDF("doc_id")
    val deleted = Dedup.blockIndexFromOccurrences(
        Dedup.blockIndexDelete(occ, removals, "doc_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val rebuilt = Dedup.blockHashIndex(
        docs.where(!col("doc_id").isin(0L, 2L)), "doc_id", "text", bt)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(deleted === rebuilt, s"delete $deleted != rebuild $rebuilt")
    // A re-elected to doc 1 (next-smallest surviving occurrence); C gone
    assert(deleted.map(x => (x._2, x._3)) === Set((1L, 0), (1L, 1)))
    assert(deleted.size === 2)
  }

  test("hybrid incremental dedup: streaming equals batch; each signal fires independently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Dedup, Similarity}
    // one-hot embeddings make the semantic signal fully controllable:
    // same basis vector → cos 1.0, different → cos 0.0
    def oneHot(i: Int): Seq[Float] = Seq.tabulate(64)(j => if (j == i) 1f else 0f)
    val corpusDocs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "an entirely different corpus document about spark shuffles and joins"),
      (2L, "a third corpus document that talks about watermarks and event time")
    ).toDF("doc_id", "text")
    val corpusEmb = Seq((0L, oneHot(0)), (1L, oneHot(1)), (2L, oneHot(2)))
      .toDF("vec_id", "embedding")
    val incoming = Seq(
      // lexical dup of 0, semantically novel
      (10L, "the quick brown fox jumps over the lazy dog again and again today", oneHot(40)),
      // textually novel, semantic dup of 1
      (11L, "completely fresh words that never appeared in the standing corpus", oneHot(1)),
      // both signals fire (text of 2, embedding of 2)
      (12L, "a third corpus document that talks about watermarks and event time", oneHot(2)),
      // both novel → the only admit
      (13L, "genuinely new content with a genuinely new embedding vector here", oneHot(41)))

    val centroids = Similarity.trainIvfCentroids(corpusEmb, nlist = 2, dim = 64)
    val cellIndex = Similarity.assignToCells(corpusEmb, centroids)
      .select(col("cluster"), col("vec_id").as("c_id"), col("nemb").as("c_nemb")).cache()
    val (k, nh, nb, jThr, cThr) = (3, 8, 4, 0.5, 0.4)

    val batch = Dedup.hybridIncrementalDedup(
        corpusDocs, incoming.map(r => (r._1, r._2)).toDF("doc_id", "text"),
        incoming.map(r => (r._1, r._3)).toDF("vec_id", "embedding"),
        centroids, cellIndex, "doc_id", "text", k, nh, nb, jThr, cThr)
      .select("doc_id", "lex_dup_of", "best_jaccard", "sem_dup_of", "best_cos", "keep")
      .as[(Long, Option[Long], Option[Double], Option[Long], Option[Double], Boolean)]
      .collect().toSet

    val idx = StreamingPipelines.dedupIndex(corpusDocs, "doc_id", "text", k, nh, nb)
    val mem = MemoryStream[(Long, String, Seq[Float], java.sql.Timestamp)]
    val out = StreamingPipelines.hybridDedupStream(
      mem.toDF().toDF("doc_id", "text", "embedding", "ts"),
      idx, centroids, cellIndex,
      "doc_id", "text", "embedding", "ts",
      watermarkDelay = "0 seconds", k, nh, nb, jThr, cThr)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("hybriddedup").start()
    val flushVec: Seq[Float] = 1f +: Seq.fill(63)(0f)
    try {
      mem.addData(incoming.map { case (id, t, e) => (id, t, e, new java.sql.Timestamp(1000L)) })
      q.processAllAvailable()
      mem.addData(Seq((998L, "flush one", flushVec, new java.sql.Timestamp(100000L * 1000))))
      q.processAllAvailable()
      mem.addData(Seq((999L, "flush two", flushVec, new java.sql.Timestamp(200000L * 1000))))
      q.processAllAvailable()
    } finally { q.stop(); cellIndex.unpersist() }

    val streamed = spark.table("hybriddedup")
      .where(col("doc_id") < 900)
      .select("doc_id", "lex_dup_of", "best_jaccard", "sem_dup_of", "best_cos", "keep")
      .as[(Long, Option[Long], Option[Double], Option[Long], Option[Double], Boolean)]
      .collect().toSet
    assert(streamed === batch, s"streaming $streamed != batch $batch")
    // the planted scenario: each signal must fire exactly where designed
    def row(id: Long) = batch.find(_._1 == id).get
    assert(row(10L)._2.contains(0L) && row(10L)._4.isEmpty && !row(10L)._6,
      s"10 should be a lexical-only dup: ${row(10L)}")
    assert(row(11L)._2.isEmpty && row(11L)._4.contains(1L) && !row(11L)._6,
      s"11 should be a semantic-only dup: ${row(11L)}")
    assert(row(12L)._2.contains(2L) && row(12L)._4.contains(2L) && !row(12L)._6,
      s"12 should trip both signals: ${row(12L)}")
    assert(row(13L)._2.isEmpty && row(13L)._4.isEmpty && row(13L)._6,
      s"13 should be admitted: ${row(13L)}")
  }

  test("vocab-drift monitor: streaming OOV equals batch bpeOovStats on a replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextOps
    val trainDocs = Seq((0L, "alpha beta gamma alpha delta"), (1L, "beta delta epsilon"))
      .toDF("doc_id", "text")
    val (_, model) = TextOps.bpeTrainAuto(TextOps.bpeWordFreq(trainDocs, "text"), 20)
    val modelCached = model.cache()
    val incoming = Seq(
      (10L, "alpha zork beta quux"),     // 2 misses
      (11L, "beta delta epsilon"),       // fully in vocab
      (12L, "totally novel words only")) // all misses (space-prefixed forms unseen)
    val batch = TextOps.bpeOovStats(incoming.toDF("doc_id", "text"), "doc_id", "text", modelCached)
      .as[(Long, Long, Long, Long, Double)].collect().toSet

    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val drift = StreamingPipelines.vocabDriftStream(
      mem.toDF().toDF("doc_id", "text", "ts"), modelCached,
      "doc_id", "text", "ts", watermarkDelay = "0 seconds")
    val q = drift.writeStream.outputMode("append").format("memory")
      .queryName("vocabdrift").start()
    try {
      mem.addData(incoming.map { case (id, t) => (id, t, new java.sql.Timestamp(1000L)) })
      q.processAllAvailable()
      mem.addData(Seq((998L, "flush", new java.sql.Timestamp(100000L * 1000))))
      q.processAllAvailable()
      mem.addData(Seq((999L, "flush", new java.sql.Timestamp(200000L * 1000))))
      q.processAllAvailable()
    } finally { q.stop(); modelCached.unpersist() }

    val streamed = spark.table("vocabdrift")
      .where(col("doc_id") < 900)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(streamed === batch, s"streaming $streamed != batch $batch")
    // the planted drift must actually read as drift
    assert(batch.exists { case (id, _, oov, _, _) => id == 12L && oov > 0 })
    assert(batch.exists { case (id, _, oov, _, frac) => id == 11L && oov == 0 && frac == 0.0 })
  }

  test("hybrid leakage monitor: streaming equals batch q_split_leakage_hybrid on a replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{CoreOps, Dedup, Similarity}
    val thr = 0.4
    val splits = Seq("train" -> 80, "val" -> 10, "test" -> 10)
    val batch = graft.SparkEntry.queries("q_split_leakage_hybrid")(spark, sfDir)
      .select("doc_id", "n_leaked", "n_near", "leaked")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(batch.nonEmpty)

    // the monitor's standing state: train window index + full-corpus
    // centroids + train cell index, all materialized once per snapshot
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val docSplit = CoreOps.hashSplit(docs, "doc_id", splits)
    val embSplit = CoreOps.hashSplit(emb, "vec_id", splits)
    val train = docSplit.where(col("split") === "train")
    val winIdx = Dedup.windowHashIndex(train, "doc_id", "text", n = 8).cache()
    val centroids = Similarity.trainIvfCentroids(emb, nlist = 16, dim = 64)
    val trainCell = Similarity.assignToCells(
        embSplit.where(col("split") === "train"), centroids)
      .select(col("cluster"), col("vec_id").as("c_id"), col("nemb").as("c_nemb"))
      .cache()
    // incoming test docs carry text AND embedding (1:1 by id)
    val testRows = docSplit.where(col("split") === "test").select("doc_id", "text")
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
      .as[(Long, String, Seq[Float])].collect().toSeq
    assert(testRows.nonEmpty)

    val mem = MemoryStream[(Long, String, Seq[Float], java.sql.Timestamp)]
    val audited = StreamingPipelines.hybridLeakageStream(
      mem.toDF().toDF("doc_id", "text", "embedding", "ts"),
      winIdx, centroids, trainCell,
      "doc_id", "text", "embedding", "ts",
      watermarkDelay = "0 seconds", n = 8, threshold = thr)
    val q = audited.writeStream.outputMode("append").format("memory")
      .queryName("hybridleak").start()
    val flushVec: Seq[Float] = 1f +: Seq.fill(63)(0f)
    try {
      // two epochs, then flushes to finalize the watermark
      val (a, b) = testRows.splitAt(testRows.size / 2)
      mem.addData(a.map { case (id, t, e) => (id, t, e, new java.sql.Timestamp(1000L)) })
      q.processAllAvailable()
      mem.addData(b.map { case (id, t, e) => (id, t, e, new java.sql.Timestamp(2000L)) })
      q.processAllAvailable()
      mem.addData(Seq((-1L, "flush", flushVec, new java.sql.Timestamp(100000L * 1000))))
      q.processAllAvailable()
      mem.addData(Seq((-2L, "flush", flushVec, new java.sql.Timestamp(200000L * 1000))))
      q.processAllAvailable()
    } finally { q.stop(); winIdx.unpersist(); trainCell.unpersist() }

    val streamed = spark.table("hybridleak")
      .where(col("doc_id") >= 0)
      .select("doc_id", "n_leaked", "n_near", "leaked")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(streamed === batch, s"streaming $streamed != batch $batch")
    // both signals must actually fire somewhere for the pin to mean much
    assert(batch.exists(_._2 > 0) || batch.exists(_._3 > 0))
  }

  test("preference comparisons: streaming keyed-state derivation equals batch on a replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.events(spark, sfDir).withColumn("ts_us", expr("ts_ns div 1000"))
    val batch = graft.operators.Preference.comparisonsFromEvents(
        ev, "user_id", "ts_us", "event_id", "event_type", "value")
      .as[(String, String, Long)].collect().toSet
    assert(batch.nonEmpty)

    val rows = ev.select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type"), col("value"))
      .as[(Long, Long, Long, String, Double)].collect()
      .map { case (u, t, id, it, v) => StreamingPipelines.PrefEvent(u, t, id, it, v) }
    // split mid-stream by time so many users' consecutive pairs STRADDLE
    // the micro-batch boundary — the case the carried state exists for
    val cut = rows.map(_.tsUs).sorted.apply(rows.length / 2)
    val (b1, b2) = rows.partition(_.tsUs <= cut)
    assert(b1.map(_.userId).toSet.intersect(b2.map(_.userId).toSet).nonEmpty)

    val mem = MemoryStream[StreamingPipelines.PrefEvent]
    val comps = StreamingPipelines.comparisonStream(mem.toDS())
    val q = comps.writeStream.outputMode("append").format("memory")
      .queryName("prefcomps").start()
    try {
      mem.addData(b1.toSeq); q.processAllAvailable()
      mem.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("prefcomps")
      .groupBy("winner", "loser").agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect().toSet
    assert(streamed === batch, s"streaming $streamed != batch $batch")
  }
}

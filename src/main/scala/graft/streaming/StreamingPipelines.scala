package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.dp._

import scala.collection.mutable

/** A bounded, clamped contribution flowing through the streaming pipeline. */
final case class Contribution(key: String, epoch: Int, userId: String, value: Double)

/** A released histogram update: the key's new noisy sum as of `epoch`. */
final case class Release(key: String, epoch: Int, count: Long)

/** Stage-A output of the two-level DP design: one row per (key, user, epoch)
  * carrying the user's previous-appearance epoch on this key (−1 = first
  * ever) — user identity itself goes no further. */
final case class PrevMarked(key: String, epoch: Int, prev: Int, value: Double)

/** Structured Streaming restatement of the reference topology (SURVEY §3.1):
  *
  * {{{
  * source → tokenize → boundContributions (keyed by user)
  *        → dpHistogram (keyed by aggregation key) → sink carry-forward
  * }}}
  *
  * The driver's micro-batch barrier replaces the reference's entire ZooKeeper
  * epoch coordination (EpochBarrierCoordinator.java:40-271) — every trigger is
  * a globally-consistent epoch. Keyed state replaces per-enclave state:
  *
  *   - contribution bounding: `flatMapGroupsWithState` keyed by user holding
  *     one Long (contributions used) — the streaming form of
  *     UserContributionLimiter (B1);
  *   - DP histogram: [[markPrevEpoch]] keyed by (key, user) holding one
  *     Int, then a per-key operator holding a [[graft.dp.DpKeyState]]
  *     (selection + histogram trees, Algo 1-3) that sees only previous-
  *     appearance epochs, never user identities. Epochs ride on the data
  *     (`Contribution.epoch`), so batch replay and live triggers agree. The
  *     three per-key operators differ only in when a silent key's Algo-3
  *     predicted release surfaces: lazily at its next appearance
  *     ([[dpHistogram]]), on a processing-time timer
  *     ([[DpStatefulProcessor.dpHistogram]]), or on a data-carried epoch
  *     tick ([[dpHistogramEager]]).
  *
  * Emitted [[Release]] rows are deltas; the sink keeps the carried-forward
  * full histogram (SURVEY §7.5.4 — at key cardinality, driver-side is cheap).
  */
object StreamingPipelines {

  private implicit def stateEncoder: Encoder[BoundingState] = Encoders.kryo[BoundingState]
  private implicit def dpStateEncoder: Encoder[DpKeyState] = Encoders.kryo[DpKeyState]
  private implicit def lastSeenEncoder: Encoder[LastSeen] = Encoders.kryo[LastSeen]
  private implicit def shardStatesEncoder: Encoder[ShardStates] = Encoders.kryo[ShardStates]
  private implicit def replayWindowEncoder: Encoder[graft.crypto.ReplayWindow] =
    Encoders.kryo[graft.crypto.ReplayWindow]

  final case class BoundingState(var used: Long)

  /** Stage-A state: the last epoch this (key, user) pair contributed. */
  final case class LastSeen(var epoch: Int)

  /** Streaming contribution bounding: admits each user's first `c`
    * contributions across the whole stream (cross-epoch, like the reference's
    * never-resetting limiter — UserContributionLimiter.java:12). */
  def boundContributions(input: Dataset[Contribution], c: Long): Dataset[Contribution] = {
    import input.sparkSession.implicits._
    input
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[Contribution], state: GroupState[BoundingState]) => {
          val st = state.getOption.getOrElse(BoundingState(0L))
          val admitted = rows.toSeq.sortBy(r => (r.epoch, r.value)).iterator.takeWhile { _ =>
            if (st.used < c) { st.used += 1; true } else false
          }.toList
          state.update(st)
          admitted.iterator
        })
  }

  /** Streaming DP-SQLP histogram over data-carried epochs:
    * [[markPrevEpoch]] then [[dpHistogramPrevMarked]]. Feed triggers in
    * epoch order (one or more epochs per trigger); emits a [[Release]] for
    * every epoch at which a key's noisy sum is (re)released. */
  def dpHistogram(input: Dataset[Contribution], params: DpParams, runSeed: Long = 42L): Dataset[Release] =
    dpHistogramPrevMarked(markPrevEpoch(input), params, runSeed)

  /** Stage A of the two-level exact-dedup design (the hot-key fix): keyed
    * state on (key, user) holding ONE int — the pair's last-seen epoch. Each
    * (key, user, epoch) emits a [[PrevMarked]] row carrying that previous
    * epoch, so stage B (per-key DP state) never receives user identities and
    * its state stays O(T) regardless of how many users a Zipf-hot key has;
    * the (key, user) state itself spreads across the state store by user.
    * Semantically: `prev < roundStart ⟺ user not seen since the key's last
    * release` — exactly the reference's per-round `observedUsers` dedup
    * (StreamingDPMechanism.java:377-390), kept EXACT as the sensitivity-1
    * guarantee requires. */
  def markPrevEpoch(input: Dataset[Contribution]): Dataset[PrevMarked] = {
    import input.sparkSession.implicits._
    input
      .groupByKey(c => (c.key, c.userId))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (ku: (String, String), rows: Iterator[Contribution], state: GroupState[LastSeen]) => {
          val st = state.getOption.getOrElse(LastSeen(-1))
          val out = rows.toSeq.groupBy(_.epoch).toSeq.sortBy(_._1).map { case (epoch, rs) =>
            val prev = st.epoch
            if (epoch > st.epoch) st.epoch = epoch
            PrevMarked(ku._1, epoch, prev, rs.map(_.value).sum)
          }
          state.update(st)
          out.iterator
        })
  }

  /** Stage B: per-key DP state fed with [[PrevMarked]] rows, so it never
    * holds a user identity and stays O(T) per key.
    *
    * Algo 3 silent releases are caught up lazily: a key's pending predicted
    * release fires when the key is next observed (the reference discards or
    * consumes predictions the same way when a key reappears —
    * StreamingDPMechanism.java:331-365). A key that never reappears
    * releases only in the batch replay ([[graft.operators.DpHistogram]]);
    * [[DpStatefulProcessor]] (timers) and [[dpHistogramEagerPrevMarked]]
    * (ticks) surface it mid-stream. No `GroupStateTimeout` here: registering
    * timeouts makes the micro-batch engine trigger continuously even with no
    * data. */
  def dpHistogramPrevMarked(input: Dataset[PrevMarked], params: DpParams, runSeed: Long = 42L): Dataset[Release] = {
    import input.sparkSession.implicits._
    input
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[PrevMarked], state: GroupState[DpKeyState]) => {
          val st = state.getOption.getOrElse(DpKeyState.seeded(params, runSeed, key))
          val out = Seq.newBuilder[Release]
          appear(st, key, rows, out)
          state.update(st)
          out.result().iterator
        })
  }

  /** Steps `key` through its [[PrevMarked]] rows epoch by epoch with the
    * [[DpKeyState]] driver; each row is one distinct user with its previous
    * epoch. */
  private[streaming] def appear(st: DpKeyState, key: String, rows: Iterator[PrevMarked],
      out: mutable.Builder[Release, Seq[Release]]): Unit =
    rows.toSeq.groupBy(_.epoch).toSeq.sortBy(_._1).foreach { case (epoch, rs) =>
      st.appear(epoch, rs.map(r => (r.prev, 1L)), rs.map(_.value).sum, emitTo(key, out))
    }

  private[streaming] def emitTo(key: String, out: mutable.Builder[Release, Seq[Release]]): DpKeyState.Emit =
    (epoch, count) => out += Release(key, epoch, count)

  /** Epoch-completion marker, fed once per epoch by the source/driver — the
    * data form of the reference's micro-batch marker flush (M4) / epoch
    * barrier (M2): tick(e) asserts "epoch e's data is complete". */
  final case class EpochTick(epoch: Int)

  /** Shard count for [[dpHistogramEagerPrevMarked]] balancing two bounds:
    * the state store re-serializes a WHOLE shard per update, so shards
    * should hold ≈`targetKeysPerShard` keys each (two O(T) trees per key ⇒
    * tens of KB per shard at T=100) — but the stateful stage's parallelism
    * IS the shard count, so it must not drop below the cluster's task
    * slots either (`minShards`, default sized for a 32-core local run;
    * pass executors×cores on a cluster). Callers know the expected key
    * cardinality; the operator, mid-stream, cannot — so sizing is
    * explicit: pass `shardsForKeys(expectedKeys)`. */
  def shardsForKeys(expectedKeys: Long, targetKeysPerShard: Int = 1000,
      minShards: Int = 64): Int =
    math.max(minShards.toLong, math.min(65536L,
      (expectedKeys + targetKeysPerShard - 1) / targetKeysPerShard)).toInt

  /** Internal row of the sharded DP stage: data and ticks share one stream. */
  final case class ShardRow(shard: Int, row: PrevMarked, tick: Boolean)

  /** Per-shard state: every resident key's DP state machine. */
  final case class ShardStates(states: mutable.HashMap[String, DpKeyState])

  /** [[dpHistogramPrevMarked]] with EAGER Algorithm-3 silent releases: a key
    * that never reappears still releases at its predicted epoch MID-STREAM,
    * matching the reference's force-processing of predicted keys at each
    * epoch (StreamingDPMechanism.java:331-340) — the lazy variant defers
    * those to the batch replay.
    *
    * Why sharded state + a tick stream: `flatMapGroupsWithState` only
    * invokes keys PRESENT in the batch, so per-key state cannot act on a
    * silent key, and registering processing-time timeouts makes the
    * micro-batch engine trigger continuously even with no data. The
    * reference's own unit of state is not the key but the TASK — one
    * StreamingDPMechanism holds every key routed to it and the epoch barrier
    * forces predicted keys through `snapshot()`. This operator restates
    * exactly that: the group key is a shard (hash of the aggregation key),
    * shard state holds its keys' state machines, and one [[EpochTick]] row
    * per epoch — replicated to all shards, `numShards` rows per epoch,
    * negligible — plays the barrier: on tick(e), every resident key fires
    * its predictions due at or before e.
    *
    * Trade-off vs per-key state: the state store serializes a whole shard on
    * every update — size `numShards` via [[shardsForKeys]] (≈ keys/1000);
    * hot shards spread by key hash. Use this form when silent releases must
    * fire at DETERMINISTIC points in epoch terms: its tick is data, so a
    * replay fires them at exactly the same epochs, whereas
    * [[DpStatefulProcessor]]'s timers are wall-clock. [[graft.tools.EagerBench]]
    * (bench entries `eager_dp_*_t20`) tracks the cost of each form. */
  def dpHistogramEagerPrevMarked(input: Dataset[PrevMarked], ticks: Dataset[EpochTick],
      params: DpParams, runSeed: Long = 42L, numShards: Int = 64): Dataset[Release] = {
    import input.sparkSession.implicits._
    val data = input.map(p => ShardRow(math.floorMod(p.key.hashCode, numShards), p, tick = false))
    val tickRows = ticks.flatMap(t =>
      (0 until numShards).iterator.map(s => ShardRow(s, PrevMarked("", t.epoch, -1, 0.0), tick = true)))
    data.union(tickRows)
      .groupByKey(_.shard)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Int, rows: Iterator[ShardRow], state: GroupState[ShardStates]) => {
          val st = state.getOption.getOrElse(ShardStates(mutable.HashMap.empty))
          val out = Seq.newBuilder[Release]
          rows.toSeq.groupBy(_.row.epoch).toSeq.sortBy(_._1).foreach { case (epoch, rs) =>
            // data first: an appearance at its predicted epoch consumes it
            rs.filter(!_.tick).map(_.row).groupBy(_.key).toSeq.sortBy(_._1).foreach { case (key, krs) =>
              appear(st.states.getOrElseUpdate(key, DpKeyState.seeded(params, runSeed, key)), key, krs.iterator, out)
            }
            // the barrier: every resident key's predictions due by `epoch` fire now
            if (rs.exists(_.tick))
              st.states.toSeq.sortBy(_._1).foreach { case (key, ks) => ks.fireDue(epoch + 1, emitTo(key, out)) }
          }
          state.update(st)
          out.result().iterator
        })
  }

  /** [[dpHistogramEagerPrevMarked]] over raw contributions (stage A + B). */
  def dpHistogramEager(input: Dataset[Contribution], ticks: Dataset[EpochTick],
      params: DpParams, runSeed: Long = 42L, numShards: Int = 64): Dataset[Release] =
    dpHistogramEagerPrevMarked(markPrevEpoch(input), ticks, params, runSeed, numShards)

  /** An authenticated-but-not-yet-replay-checked record: producer and seq
    * come from the AEAD-verified AAD, plain is the unsealed payload. */
  final case class UnsealedEnvelope(producer: String, seq: Long, plain: String)

  /** Confidential mode, streaming: sealed (aad, nonce, ciphertext) payloads
    * carrying JSON contributions are route-validated and unsealed mid-stream
    * by the native [[graft.expressions.GraftExpressions.unseal]] expression,
    * then replay-filtered per producer, then parsed declaratively.
    *
    *   - invalid routes / failed authentication become nulls and are dropped
    *     (the reference's discard-on-SecurityException behavior);
    *   - a [[graft.crypto.ReplayWindow]] in keyed state per `producer_id`
    *     (state = maxSeen + window bits, O(windowSize) per producer) drops
    *     replayed sealed tuples MID-STREAM, like the reference's per-producer
    *     check inside the enclave (ReplayWindow.java:44-105, wired at
    *     ConfidentialBoltService.java:178-183,236-279). producer/seq are read
    *     from the AAD only AFTER authentication, so a forged seq cannot
    *     displace the window.
    *
    * Everything downstream (bounding, DP) is the plaintext pipeline. */
  def unsealContributions(sealedStream: org.apache.spark.sql.DataFrame,
      keyBytes: Array[Byte], scheme: String,
      expectedSource: String, expectedDestination: String,
      replayWindowSize: Int = 128): Dataset[Contribution] = {
    import sealedStream.sparkSession.implicits._
    import org.apache.spark.sql.functions._
    val unsealed = sealedStream
      .withColumn("plain", graft.expressions.GraftExpressions.unseal(
        col("payload"), keyBytes, scheme, expectedSource, expectedDestination))
      .where(col("plain").isNotNull)
      .select(
        get_json_object(col("payload").getField("aad").cast("string"), "$.producer_id").as("producer"),
        get_json_object(col("payload").getField("aad").cast("string"), "$.seq").cast("long").as("seq"),
        col("plain"))
      .as[UnsealedEnvelope]
    val accepted = unsealed
      .groupByKey(_.producer)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[UnsealedEnvelope], state: GroupState[graft.crypto.ReplayWindow]) => {
          val w = state.getOption.getOrElse(new graft.crypto.ReplayWindow(replayWindowSize))
          val out = rows.filter(r => w.accept(r.seq)).map(_.plain).toList
          state.update(w)
          out.iterator
        })
    accepted.toDF("plain")
      .select(from_json(col("plain"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "key STRING, epoch INT, userId STRING, value DOUBLE")).as("c"))
      .select(col("c.key"), col("c.epoch"), col("c.userId"), col("c.value"))
      .as[Contribution]
  }

  /** Event-time tumbling-window aggregation with watermark-bounded state:
    * per (window, key) count / sum / exact unique users, late rows beyond
    * the watermark dropped and window state evicted once the watermark
    * passes — the wall-clock-time form of the epoch histogram (the DP
    * pipeline carries epochs ON the data instead precisely so replay and
    * live runs agree; use this one for operational analytics over
    * unbounded streams where state must not grow with stream length).
    * Append mode: a window's single final row emits only after the
    * watermark passes its end — the micro-batch form of the reference's
    * epoch close.
    *
    * Users are HLL-approximate here: Spark refuses exact distinct over
    * streaming aggregates (unbounded per-group state). When the EXACT count
    * is the point — it is for the DP sensitivity-1 guarantee — use the
    * keyed-state pipeline ([[markPrevEpoch]] + [[dpHistogramPrevMarked]]),
    * which counts new users exactly in O(T) state. */
  def windowedAggregate(events: org.apache.spark.sql.DataFrame,
      tsCol: String, keyCol: String, userCol: String, valueCol: String,
      windowLength: String = "1 day", watermarkDelay: String = "1 day"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLength).as("win"), col(keyCol).as("key"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col(valueCol)).as("value_sum"),
        approx_count_distinct(col(userCol)).as("approx_users"))
      .select(col("win.start").as("window_start"), col("key"),
        col("cnt"), col("value_sum"), col("approx_users"))
  }

  /** Streaming gap-based sessionization — the unbounded form of batch
    * [[graft.operators.Sessionize]]: Spark's `session_window` merges events
    * of one key into a window that extends `gap` past the latest event and
    * closes when the watermark passes it (append mode emits each session
    * exactly once, finalized). State per key is the open session only —
    * bounded by the watermark horizon like every operator in this file. */
  def sessionize(events: org.apache.spark.sql.DataFrame, tsCol: String,
      keyCol: String, gap: String, watermarkDelay: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap).as("win"), col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("win.start").as("session_start"), col("win.end").as("session_end"),
        col("key"), col("n_events"))
  }

  /** Streaming conversation assembly — the unbounded form of batch
    * [[graft.operators.Sessionize.conversations]]: `session_window` merges
    * a key's events into gap sessions, each session's labels join into one
    * transcript in (ts, id) order (sorted structs, so the transcript is
    * identical under any batch arrival order), and sessions shorter than
    * `minTurns` drop. Append mode emits each finalized transcript exactly
    * once when the watermark closes its session; state per key is the open
    * session's own events — bounded by session length and the watermark
    * horizon, not the stream. */
  def conversationStream(events: org.apache.spark.sql.DataFrame, tsCol: String,
      keyCol: String, idCol: String, labelCol: String,
      gap: String, watermarkDelay: String, minTurns: Int = 2): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap).as("win"), col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_turns"),
        array_join(
          transform(
            sort_array(collect_list(struct(col(tsCol), col(idCol), col(labelCol).as("l")))),
            s => s.getField("l")),
          " ").as("transcript"))
      .where(col("n_turns") >= minTurns)
      .select(col("win.start").as("session_start"), col("key"),
        col("n_turns"), col("transcript"))
  }

  /** Stream-stream interval join with bounded state: each left event joins
    * right events of the same key whose event time lies in
    * [left.ts, left.ts + joinWindow] — the streaming form of
    * [[graft.operators.RangeJoin]] (attribution: impression → click).
    *
    * BOTH sides carry a watermark and the join condition bounds event-time
    * distance in BOTH directions, which is what lets Spark evict buffered
    * rows: a right row is held only until the watermark says no future left
    * row can still reach back to it (and vice versa), so state is
    * O(rows per watermark+window horizon), not O(stream). Inner join:
    * unmatched rows simply age out.
    *
    * Column naming: pass disjoint column names on the two sides (Spark
    * stream-stream joins reject ambiguous references).
    */
  def intervalJoin(lhs: org.apache.spark.sql.DataFrame, rhs: org.apache.spark.sql.DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      joinWindow: String, watermarkDelay: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val l = lhs.withWatermark(leftTs, watermarkDelay)
    val r = rhs.withWatermark(rightTs, watermarkDelay)
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $joinWindow"))
  }

  /** Streaming exact dedup with BOUNDED state — the unbounded-stream form of
    * batch d1 ([[graft.operators.Dedup.exactDuplicateGroups]]).
    *
    * `dropDuplicatesWithinWatermark` keeps a fingerprint in state only until
    * the watermark passes its event time + delay, then evicts it; rows older
    * than the watermark are dropped outright. The guarantee is therefore
    * scoped: duplicates arriving within `watermarkDelay` of the original are
    * suppressed, a copy arriving later than that re-emits (its state is
    * gone). That scope is what makes 100 TB/day streams feasible — state is
    * O(rows per watermark window), not O(all fingerprints ever) — and
    * near-dup copies in crawl/training feeds cluster in time. For global
    * exactness run batch d1 over the deduped sink.
    */
  def dedupDocuments(docs: org.apache.spark.sql.DataFrame, tsCol: String,
      textCol: String, watermarkDelay: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    docs.withColumn("fingerprint", md5(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("fingerprint")
  }

  /** Streaming cross-corpus dedup — the streaming form of batch d12
    * ([[graft.operators.Dedup.incrementalDedup]]): a stream of incoming
    * documents is deduplicated against a STATIC standing corpus.
    *
    * The streaming-specific design: the incoming doc's MinHash band buckets
    * are computed ROW-WISE with higher-order functions (array_min over the
    * permuted shingle hashes — identical values to the batch explode+groupBy
    * form, but needing no streaming aggregation), so candidate generation is
    * a STATELESS stream-static left-outer equi-join on (band, bucket)
    * against the corpus's precomputed buckets. Exact Jaccard verification is
    * another stream-static join (corpus shingle sets), also stateless. The
    * ONLY stateful operator is the final per-document min/max aggregation,
    * bounded by the watermark. Duplicate candidates from multiple band hits
    * need no dedup: verification is deterministic per pair, and min/max are
    * multiplicity-insensitive.
    *
    * Output per incoming doc (emitted when the watermark passes its event
    * time): `doc_id`, `dup_of`, `best_jaccard`, `keep` — the batch d12
    * columns. At 100 TB the static side is the corpus's stored signature
    * index (computed once at ingest); the stream never shuffles text, and
    * per-trigger state is O(docs in the watermark window). */
  /** The standing corpus's dedup index — banded MinHash buckets plus
    * per-document shingle hash sets — as the two join-ready frames
    * [[incrementalDedupStream]] consumes. The static side of a
    * stream-static join re-evaluates EVERY micro-batch, so callers running
    * a long-lived ingest query should build this once per corpus snapshot
    * and persist (or read it from a maintained signature table — at 100 TB
    * the index is materialized storage, never a per-batch recompute) and
    * pass it via `staticIndex`. */
  def dedupIndex(corpus: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int, numHashes: Int, numBands: Int,
      seed: Long = 42L): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    import graft.expressions.GraftExpressions
    val buckets = Dedup.bandBuckets(
        Dedup.minHashSignatures(corpus, idCol, textCol, k, numHashes, seed),
        numHashes, numBands)
      .select(col("doc_id").as("c_id"), col("band"), col("bucket"))
    val sets = corpus.select(col(idCol).cast("long").as("c_set_id"),
      GraftExpressions.shingleHashSet(col(textCol), k).as("hs_c"))
    (buckets, sets)
  }

  /** DELETE maintenance of the lexical signature index — the
    * right-to-be-forgotten step for [[dedupIndex]]'s (buckets, sets) pair:
    * removal ids broadcast into one anti-join per table. Equals
    * [[dedupIndex]] over the filtered corpus exactly (spec-pinned),
    * because both tables are pure per-document functions of the text —
    * no cross-document state to repair. With BM25
    * (`TextOps.bm25IndexDelete`) and the semantic cell index
    * (`SemanticMaintenance.deletedIndex`), every maintained index now
    * supports both appends and deletes without rebuild. */
  def dedupIndexDelete(buckets: org.apache.spark.sql.DataFrame,
      sets: org.apache.spark.sql.DataFrame, removeIds: org.apache.spark.sql.DataFrame,
      idCol: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    val rem = broadcast(removeIds.select(col(idCol).cast("long").as("__rid")).distinct())
    (buckets.join(rem, buckets("c_id") === rem("__rid"), "left_anti"),
      sets.join(rem, sets("c_set_id") === rem("__rid"), "left_anti"))
  }

  def incrementalDedupStream(incoming: org.apache.spark.sql.DataFrame,
      corpus: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      tsCol: String, watermarkDelay: String, k: Int, numHashes: Int,
      numBands: Int, threshold: Double, seed: Long = 42L,
      staticIndex: Option[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)] = None)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    require(numHashes % numBands == 0, "numHashes must divide into equal bands")
    val rowsPerBand = numHashes / numBands

    // row-wise signature via the native codegen expressions — value-
    // identical to Dedup.minHashSignatures; band buckets are md5 over the
    // signature slice in j order, exactly Dedup.bandBuckets' string. A
    // document with < k tokens has a null signature → null buckets → never
    // joins → surfaces as keep=true, matching batch d12.
    import graft.expressions.GraftExpressions
    val bucketStructs = (0 until numBands).map { b =>
      struct(lit(b).as("band"),
        when(col("__sig").isNotNull,
          md5(concat_ws(",", ((b * rowsPerBand) until ((b + 1) * rowsPerBand))
            .map(j => element_at(col("__sig"), j + 1).cast("string")): _*))).as("bucket"))
    }

    val (staticBuckets, staticSets) = staticIndex.getOrElse(
      dedupIndex(corpus, idCol, textCol, k, numHashes, numBands, seed))

    val exploded = incoming
      .select(col(idCol).cast("long").as("doc_id"), col(tsCol).as("__ts"),
        GraftExpressions.shingleHashSet(col(textCol), k).as("hs"),
        GraftExpressions.minhashShingleSigs(col(textCol), k, numHashes, seed).as("__sig"))
      .select(col("doc_id"), col("__ts"), col("hs"),
        explode(array(bucketStructs: _*)).as("bb"))
      .select(col("doc_id"), col("__ts"), col("hs"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .withWatermark("__ts", watermarkDelay)

    exploded
      .join(staticBuckets, Seq("band", "bucket"), "left_outer")
      .join(staticSets, col("c_id") === col("c_set_id"), "left_outer")
      .withColumn("inter", size(array_intersect(col("hs"), col("hs_c"))).cast("long"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("hs")) + size(col("hs_c")) - col("inter")).cast("double"), 6))
      .withColumn("dup_id", when(col("jaccard") >= threshold, col("c_id")))
      .withColumn("dup_j", when(col("jaccard") >= threshold, col("jaccard")))
      .groupBy(col("doc_id"), col("__ts"))
      .agg(min(col("dup_id")).as("dup_of"), max(col("dup_j")).as("best_jaccard"))
      .withColumn("keep", col("dup_of").isNull)
      .select("doc_id", "dup_of", "best_jaccard", "keep")
  }

  /** Streaming cross-split leakage monitor — the streaming form of
    * [[graft.operators.Dedup.splitLeakage]]: incoming documents are
    * audited against a STATIC train-split window index as they arrive, so
    * a contaminated ingest batch alarms at ingest time instead of at the
    * next full-corpus audit. Output per document (emitted when the
    * watermark passes its event time): `doc_id`, `n_windows`, `n_leaked`,
    * `leak_frac` — the batch columns.
    *
    * Stateless until the end: window hashes are a row-wise projection
    * (the identical md5-over-token-slice expression as the batch
    * windower), `explode_outer`'d so zero-window documents still emit one
    * null-hash probe row; the train index joins stream-static left-outer
    * on the hash — hashes only, never text; the ONLY stateful operator is
    * the per-(doc, event-time) hit count, bounded by the watermark. At
    * 100 TB the index is [[graft.operators.Dedup.windowHashIndex]]
    * materialized once per split snapshot (the static side of a
    * stream-static join re-evaluates per micro-batch otherwise — same
    * contract as [[dedupIndex]]). */
  def splitLeakageStream(incoming: org.apache.spark.sql.DataFrame,
      trainIndex: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, tsCol: String, watermarkDelay: String,
      n: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.TextOps
    val toks = TextOps.tokens(col(textCol))
    val winHashes = when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => md5(concat_ws(" ", slice(toks, i + lit(1), lit(n))))))
      .otherwise(array().cast("array<string>"))
    val probes = incoming
      .select(col(idCol).cast("long").as("doc_id"), col(tsCol).as("__ts"),
        winHashes.as("__wins"))
      .select(col("doc_id"), col("__ts"),
        size(col("__wins")).cast("long").as("n_windows"),
        explode_outer(col("__wins")).as("h"))
      .withWatermark("__ts", watermarkDelay)
    probes
      .join(trainIndex.select(col("h"), lit(1).as("__hit")), Seq("h"), "left_outer")
      .groupBy(col("doc_id"), col("__ts"), col("n_windows"))
      .agg(count(col("__hit")).as("n_leaked"))
      .withColumn("leak_frac",
        when(col("n_windows") === 0, lit(0.0))
          .otherwise(TextOps.round4(col("n_leaked").cast("double") /
            col("n_windows").cast("double"))))
      .select("doc_id", "n_windows", "n_leaked", "leak_frac")
  }

  /** Streaming SEMANTIC dedup — the vector-space form of
    * [[incrementalDedupStream]], and the streaming consumer of the
    * maintained semantic index ([[graft.operators.Similarity
    * .semanticIndex]]): incoming vectors are assigned to the standing
    * k-means cells by [[graft.operators.Similarity.assignToCells]]' pure
    * projection (exported centroids — NO retraining per epoch), candidates
    * come from a STATELESS stream-static left-outer equi-join on the cell,
    * exact cosine verifies row-wise, and the only stateful operator is the
    * watermark-bounded per-(vector, event-time) min/max aggregate. Output
    * per vector: `vec_id`, `dup_of` (smallest corpus id within cosine
    * `threshold`, null when novel), `best_cos`, `keep` — exactly the batch
    * [[graft.operators.Similarity.incrementalSemanticDedup]] columns
    * (value-equal on a replay; StreamingSpec pins it, including an
    * epoch-appended index catching cross-epoch duplicates).
    *
    * At 100 TB the `cellIndex` side is the maintained index on storage
    * (appended BETWEEN queries with the admitted vectors' assignments —
    * same contract as [[dedupIndex]]); candidate pairing stays confined to
    * cells, and embeddings never shuffle — the cell join is the stream's
    * only wide edge and it carries (id, cell, normalized vector) rows. */
  def semanticDedupStream(incoming: org.apache.spark.sql.DataFrame,
      centroids: Array[Array[Double]], cellIndex: org.apache.spark.sql.DataFrame,
      tsCol: String, watermarkDelay: String, threshold: Double)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val inc = Similarity.assignToCells(incoming, centroids, carry = Seq(tsCol))
      .withColumnRenamed(tsCol, "__ts")
      .withWatermark("__ts", watermarkDelay)
    inc.join(cellIndex, Seq("cluster"), "left_outer")
      .withColumn("cos", when(col("c_nemb").isNotNull,
        round(graft.expressions.GraftExpressions.dot(col("nemb"), col("c_nemb")), 6)))
      .withColumn("dup_id", when(col("cos") >= threshold, col("c_id")))
      .withColumn("dup_c", when(col("cos") >= threshold, col("cos")))
      .groupBy(col("vec_id"), col("__ts"))
      .agg(min(col("dup_id")).as("dup_of"), max(col("dup_c")).as("best_cos"))
      .withColumn("keep", col("dup_of").isNull)
      .select("vec_id", "dup_of", "best_cos", "keep")
  }

  /** Streaming dedup against the MAINTAINED REDUCED-dimension index — the
    * streaming consumer of [[graft.operators.Similarity.reducedIndexOf]]
    * under its FROZEN model ([[graft.operators.Similarity
    * .trainReducedModel]]): incoming vectors PCA-project and assign to
    * reduced cells row-wise (8-dim argmin arithmetic — the cheap path the
    * reduced index exists for), candidates come from a stateless
    * stream-static left-outer join on the cell, the exact FULL-dimension
    * normalized dot verifies, and the only stateful operator is the
    * watermark-bounded per-(vector, event-time) min/max aggregate. Output
    * columns equal batch [[graft.operators.Similarity
    * .incrementalReducedDedup]] exactly (value-equal on a replay —
    * StreamingSpec pins it, including epoch-append and delete==rebuild).
    *
    * At 100 TB the index side is maintained storage appended between
    * queries ([[graft.operators.Similarity.reducedIndexAppend]]); the
    * model (rotation + reduced centroids) rides the closure as broadcast
    * literals and retrains only on scheduled full rebuilds. */
  def reducedDedupStream(incoming: org.apache.spark.sql.DataFrame,
      model: graft.operators.Similarity.ReducedModel,
      index: org.apache.spark.sql.DataFrame,
      tsCol: String, watermarkDelay: String, threshold: Double)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val inc = Similarity.reducedAssign(
        incoming.withColumn("__rn", Similarity.normalizedEmbedding(col("embedding"))),
        model, carry = Seq("__rn", tsCol))
      .withColumnRenamed(tsCol, "__ts")
      .withWatermark("__ts", watermarkDelay)
    inc.join(index, Seq("cell"), "left_outer")
      .withColumn("cos", when(col("r_nemb").isNotNull,
        round(graft.expressions.GraftExpressions.dot(col("__rn"), col("r_nemb")), 6)))
      .withColumn("dup_id", when(col("cos") >= threshold, col("r_id")))
      .withColumn("dup_c", when(col("cos") >= threshold, col("cos")))
      .groupBy(col("vec_id"), col("__ts"))
      .agg(min(col("dup_id")).as("dup_of"), max(col("dup_c")).as("best_cos"))
      .withColumn("keep", col("dup_of").isNull)
      .select("vec_id", "dup_of", "best_cos", "keep")
  }

  /** Streaming HYBRID cross-split leakage monitor — [[splitLeakageStream]]
    * (verbatim n-gram windows) plus the SEMANTIC signal (embedding-cosine
    * near-train, [[graft.operators.Similarity.semanticSplitLeakage]]'s
    * rule) in ONE query: a test document leaks if EITHER signal fires,
    * exactly batch `q_split_leakage_hybrid`'s columns (doc_id, n_leaked,
    * n_near, leaked) on a replay (StreamingSpec pins it).
    *
    * Both signals reduce to probe rows unioned into ONE watermark-bounded
    * aggregate — no stream-stream join: window-hash probes left-join the
    * train window index ([[graft.operators.Dedup.windowHashIndex]]), cell
    * probes left-join the train CELL index (the full-corpus-trained
    * centroids' assignments restricted to the train split — the
    * [[graft.operators.Similarity.semanticIndex]] shape), and one
    * groupBy(doc, event-time) counts each signal's hits from its own
    * column. Text and embeddings stay row-wise; only (id, hash) and
    * (id, cell, normalized vector) rows reach the joins. */
  def hybridLeakageStream(incoming: org.apache.spark.sql.DataFrame,
      windowIndex: org.apache.spark.sql.DataFrame,
      centroids: Array[Array[Double]], trainCellIndex: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, embCol: String, tsCol: String,
      watermarkDelay: String, n: Int, threshold: Double)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.{Similarity, TextOps}
    val toks = TextOps.tokens(col(textCol))
    val winHashes = when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => md5(concat_ws(" ", slice(toks, i + lit(1), lit(n))))))
      .otherwise(array().cast("array<string>"))
    // n-gram probes: (doc, ts, h) left-joined to the window index
    val lex = incoming
      .select(col(idCol).cast("long").as("doc_id"), col(tsCol).as("__ts"),
        explode_outer(winHashes).as("h"))
      .join(windowIndex.select(col("h"), lit(1).as("__lex_hit")), Seq("h"), "left_outer")
      .select(col("doc_id"), col("__ts"),
        col("__lex_hit"), lit(null).cast("int").as("__sem_hit"))
    // semantic probes: assignment projection, cell left-join, cosine gate
    val sem = Similarity.assignToCells(
        incoming.select(col(idCol).cast("long").as("vec_id"),
          col(embCol).as("embedding"), col(tsCol).as("__ts")),
        centroids, carry = Seq("__ts"))
      .join(trainCellIndex, Seq("cluster"), "left_outer")
      .withColumn("cos", when(col("c_nemb").isNotNull,
        round(graft.expressions.GraftExpressions.dot(col("nemb"), col("c_nemb")), 6)))
      .select(col("vec_id").as("doc_id"), col("__ts"),
        lit(null).cast("int").as("__lex_hit"),
        when(col("cos") >= threshold, lit(1)).cast("int").as("__sem_hit"))
    lex.unionByName(sem)
      .withWatermark("__ts", watermarkDelay)
      .groupBy(col("doc_id"), col("__ts"))
      .agg(count(col("__lex_hit")).as("n_leaked"), count(col("__sem_hit")).as("n_near"))
      .withColumn("leaked", col("n_leaked") > 0 || col("n_near") > 0)
      .select("doc_id", "n_leaked", "n_near", "leaked")
  }

  /** Streaming HYBRID incremental dedup — ONE ingest query consulting BOTH
    * maintained indexes: the lexical signature index
    * ([[incrementalDedupStream]]'s row-wise MinHash → bucket join → exact
    * Jaccard machinery) and the semantic cell index
    * ([[semanticDedupStream]]'s exported-centroid assignment → cell join →
    * cosine). Both signals reduce to probe rows unioned into one
    * watermark-bounded aggregate (the [[hybridLeakageStream]] move applied
    * to dedup — no stream-stream join); output per document is exactly
    * batch [[graft.operators.Dedup.hybridIncrementalDedup]]'s columns
    * (lex_dup_of, best_jaccard, sem_dup_of, best_cos, keep = both null),
    * value-equal on a replay (StreamingSpec).
    *
    * At 100 TB both static sides are maintained storage (the signature
    * index and the cell index, appended between queries); text and
    * embeddings stay row-wise — the joins carry (id, band, bucket,
    * shingle-hash set) and (id, cell, normalized vector) rows only. */
  def hybridDedupStream(incoming: org.apache.spark.sql.DataFrame,
      staticIndex: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame),
      centroids: Array[Array[Double]], cellIndex: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, embCol: String, tsCol: String,
      watermarkDelay: String, k: Int, numHashes: Int, numBands: Int,
      jaccardThreshold: Double, cosThreshold: Double, seed: Long = 42L)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.expressions.GraftExpressions
    import graft.operators.Similarity
    require(numHashes % numBands == 0, "numHashes must divide into equal bands")
    val rowsPerBand = numHashes / numBands
    val bucketStructs = (0 until numBands).map { b =>
      struct(lit(b).as("band"),
        when(col("__sig").isNotNull,
          md5(concat_ws(",", ((b * rowsPerBand) until ((b + 1) * rowsPerBand))
            .map(j => element_at(col("__sig"), j + 1).cast("string")): _*))).as("bucket"))
    }
    val (staticBuckets, staticSets) = staticIndex
    val lex = incoming
      .select(col(idCol).cast("long").as("doc_id"), col(tsCol).as("__ts"),
        GraftExpressions.shingleHashSet(col(textCol), k).as("hs"),
        GraftExpressions.minhashShingleSigs(col(textCol), k, numHashes, seed).as("__sig"))
      .select(col("doc_id"), col("__ts"), col("hs"),
        explode(array(bucketStructs: _*)).as("bb"))
      .select(col("doc_id"), col("__ts"), col("hs"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .join(staticBuckets, Seq("band", "bucket"), "left_outer")
      .join(staticSets, col("c_id") === col("c_set_id"), "left_outer")
      .withColumn("inter", size(array_intersect(col("hs"), col("hs_c"))).cast("long"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("hs")) + size(col("hs_c")) - col("inter")).cast("double"), 6))
      .select(col("doc_id"), col("__ts"),
        when(col("jaccard") >= jaccardThreshold, col("c_id")).as("lex_dup_id"),
        when(col("jaccard") >= jaccardThreshold, col("jaccard")).as("lex_j"),
        lit(null).cast("long").as("sem_dup_id"),
        lit(null).cast("double").as("sem_cos"))
    val sem = Similarity.assignToCells(
        incoming.select(col(idCol).cast("long").as("vec_id"),
          col(embCol).as("embedding"), col(tsCol).as("__ts")),
        centroids, carry = Seq("__ts"))
      .join(cellIndex, Seq("cluster"), "left_outer")
      .withColumn("cos", when(col("c_nemb").isNotNull,
        round(graft.expressions.GraftExpressions.dot(col("nemb"), col("c_nemb")), 6)))
      .select(col("vec_id").as("doc_id"), col("__ts"),
        lit(null).cast("long").as("lex_dup_id"),
        lit(null).cast("double").as("lex_j"),
        when(col("cos") >= cosThreshold, col("c_id")).as("sem_dup_id"),
        when(col("cos") >= cosThreshold, col("cos")).as("sem_cos"))
    lex.unionByName(sem)
      .withWatermark("__ts", watermarkDelay)
      .groupBy(col("doc_id"), col("__ts"))
      .agg(min(col("lex_dup_id")).as("lex_dup_of"), max(col("lex_j")).as("best_jaccard"),
        min(col("sem_dup_id")).as("sem_dup_of"), max(col("sem_cos")).as("best_cos"))
      .withColumn("keep", col("lex_dup_of").isNull && col("sem_dup_of").isNull)
      .select("doc_id", "lex_dup_of", "best_jaccard", "sem_dup_of", "best_cos", "keep")
  }

  /** Streaming vocabulary-drift monitor — the ingest-time form of
    * [[graft.operators.TextOps.bpeOovStats]]: incoming documents are
    * scored against the EXPORTED tokenizer model (word → n_tokens) as
    * they arrive, so a drifting source (new language, new domain, format
    * change) alarms on its OOV rate at ingest instead of at the next full
    * retokenization audit. Output per document: the batch columns
    * (n_pretokens, n_oov, n_invocab_tokens, oov_frac), value-equal on a
    * replay (StreamingSpec).
    *
    * Stateless until the end: pre-tokens explode row-wise, the
    * vocabulary-cardinality model joins broadcast LEFT (misses explicit),
    * and the only stateful operator is the watermark-bounded per-(doc,
    * event-time) aggregate. Text never shuffles. */
  def vocabDriftStream(incoming: org.apache.spark.sql.DataFrame,
      model: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      tsCol: String, watermarkDelay: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.TextOps
    incoming
      .select(col(idCol).cast("long").as("doc_id"), col(tsCol).as("__ts"),
        explode(regexp_extract_all(lower(col(textCol)),
          lit(TextOps.BpePretokenPattern), lit(0))).as("word"))
      .withWatermark("__ts", watermarkDelay)
      .join(broadcast(model.select("word", "n_tokens")), Seq("word"), "left_outer")
      .groupBy(col("doc_id"), col("__ts"))
      .agg(count(lit(1)).as("n_pretokens"),
        count(when(col("n_tokens").isNull, lit(1))).as("n_oov"),
        coalesce(sum("n_tokens"), lit(0L)).as("n_invocab_tokens"))
      .withColumn("oov_frac", TextOps.round4(
        col("n_oov").cast("double") / col("n_pretokens").cast("double")))
      .select("doc_id", "n_pretokens", "n_oov", "n_invocab_tokens", "oov_frac")
  }

  /** Streaming epoch histograms — the ingest half of a distribution-drift
    * monitor: incoming rows (already binned, e.g. `least(floor(quality*10),
    * 9)`) aggregate to finalized per-(event-time window, group, bin) counts
    * in append mode, each histogram cell emitted exactly once when the
    * watermark closes its window. Composing the materialized epoch
    * histogram against a baseline via
    * [[graft.operators.CoreOps.psiFromHistograms]] then yields the SAME
    * per-group PSI as batch `psiDrift` over the epoch's rows (equivalence
    * pinned in StreamingSpec) — so drift alarms fire per ingest epoch
    * without re-scanning the corpus. State is one count per open
    * (window × group × bin) cell — histogram cardinality, never rows. */
  def epochHistogramStream(incoming: org.apache.spark.sql.DataFrame,
      tsCol: String, groupCol: String, binCol: String,
      epochWindow: String, watermarkDelay: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    incoming
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), epochWindow).as("win"),
        col(groupCol), col(binCol).cast("long").as("__bin"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("win.start").as("epoch_start"), col(groupCol),
        col("__bin"), col("cnt"))
  }

  /** Streaming retrieval-at-ingest — incoming documents scored as BM25
    * queries against a MATERIALIZED corpus index the moment they arrive
    * (the contamination/near-source alarm a curation pipeline wants at the
    * door, not at the next full audit): per incoming document, finalized
    * exact q6 match scores against every corpus document sharing a term.
    * Compose top-k with [[graft.operators.TextOps.bm25TopK]] over the
    * materialized output; the result equals batch
    * [[graft.operators.TextOps.bm25Search]] on a replay (StreamingSpec) —
    * both sides share the [[graft.operators.TextOps.bm25TermScoreQ6]]
    * expression, so equality holds by construction.
    *
    * Scale shape: per-document DISTINCT terms come from `array_distinct`
    * in the row projection (never a stateful stream distinct); the posting
    * and df tables join stream-static; the only stateful operator is the
    * watermark-bounded per-(document, match) sum. Text never shuffles —
    * terms are 60-bit hashes before the first join. */
  def retrievalScoreStream(incoming: org.apache.spark.sql.DataFrame,
      tsCol: String, idCol: String, textCol: String,
      tfdl: org.apache.spark.sql.DataFrame, dfreq: org.apache.spark.sql.DataFrame,
      nDocs: Long, totalDl: Long, watermarkDelay: String,
      k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.TextOps
    incoming
      .select(col(idCol).cast("long").as("query_id"), col(tsCol).as("__ts"),
        explode(array_distinct(filter(split(col(textCol), " "),
          t => t =!= ""))).as("__t"))
      .select(col("query_id"), col("__ts"),
        conv(substring(md5(col("__t")), 1, 15), 16, 10).cast("long").as("th"))
      .withWatermark("__ts", watermarkDelay)
      .join(tfdl, Seq("th"))
      .where(col("doc_id") =!= col("query_id"))
      .join(dfreq, Seq("th"))
      .withColumn("n_docs", lit(nDocs))
      .withColumn("total_dl", lit(totalDl))
      .withColumn("__t_q6", TextOps.bm25TermScoreQ6(k1, b))
      .groupBy(col("query_id"), col("__ts"), col("doc_id"))
      .agg(sum(col("__t_q6")).as("__s_q6"))
      .select("query_id", "doc_id", "__s_q6")
  }

  /** Per-user carry-over for [[comparisonStream]]: the user's latest event,
    * so a comparison can bridge a batch boundary. */
  final case class LastEvent(tsUs: Long, eventId: Long, item: String, value: Double)

  /** An event row for streaming preference derivation. */
  final case class PrefEvent(userId: Long, tsUs: Long, eventId: Long,
      item: String, value: Double)

  /** Streaming preference-comparison derivation — the ingest-time form of
    * [[graft.operators.Preference.comparisonsFromEvents]]: per user, each
    * consecutive event pair (by time, then id) emits one (winner, loser)
    * comparison with the identical value/tie rules, with `flatMapGroupsWithState`
    * carrying the user's LAST event across micro-batches so adjacency
    * survives batch boundaries. Feed batches in per-user event order (the
    * epoch-replay contract every keyed-state pipeline here shares); the
    * multiset of comparisons then equals the batch operator's on a replay
    * (StreamingSpec).
    *
    * Scale shape: one user-keyed state partitioning (the same single
    * corpus-scale shuffle as the batch window); state is ONE event per
    * user; downstream (winner, loser) aggregation stays at item²
    * cardinality. */
  def comparisonStream(events: Dataset[PrefEvent]): org.apache.spark.sql.DataFrame = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[PrefEvent], state: GroupState[LastEvent]) => {
          val evs = rows.toSeq.sortBy(e => (e.tsUs, e.eventId))
          var prev = state.getOption
          val out = Seq.newBuilder[(String, String)]
          for (e <- evs) {
            prev match {
              case Some(p) if p.item != e.item =>
                if (e.value > p.value) out += ((e.item, p.item))
                else if (e.value < p.value) out += ((p.item, e.item))
                else if (e.item < p.item) out += ((e.item, p.item))
                else out += ((p.item, e.item))
              case _ =>
            }
            prev = Some(LastEvent(e.tsUs, e.eventId, e.item, e.value))
          }
          prev.foreach(state.update)
          out.result().iterator
        })
      .toDF("winner", "loser")
  }

  /** Per-signature canonical representative of a mixed-modality asset
    * corpus — the maintained index [[assetDedupStream]] joins against,
    * the asset-side sibling of [[dedupIndex]] (lexical) and the d18 cell
    * index (semantic). One row per distinct signature: (sig, rep_id), the
    * MIN asset id carrying it. Production materializes this once per
    * snapshot and appends admitted signatures between ingest queries. */
  def assetSignatureIndex(corpus: org.apache.spark.sql.Dataset[graft.operators.MediaAsset])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    graft.operators.Multimodal.assetSignature(corpus)
      .groupBy("sig").agg(min(col("doc_id")).as("rep_id"))
  }

  /** Streaming mixed-modality asset dedup: incoming assets are signed with
    * the SAME kind-dispatched map as batch `e2e_asset_dedup` (decode +
    * hash inside the map — payloads never leave it) and joined
    * stream-static against a maintained signature index. Because
    * signature equality is exact (not a similarity), the pipeline is
    * STATELESS end-to-end: no watermark, no aggregation — one projection
    * and one left join per micro-batch, so ingest latency is join-probe
    * latency. Output per asset: (doc_id, kind, sig, dup_of, keep).
    *
    * Scale shape: the index is (sig, rep_id) rows — one per DISTINCT
    * signature, not per asset; the stream side shuffles (id, kind, sig)
    * strings only. Equals the batch canonical rule (dup_of = min corpus
    * id with the signature) by construction; spec-pinned per epoch. */
  def assetDedupStream(incoming: org.apache.spark.sql.Dataset[graft.operators.MediaAsset],
      sigIndex: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    graft.operators.Multimodal.assetSignature(incoming)
      .join(sigIndex, Seq("sig"), "left_outer")
      .select(col("doc_id"), col("kind"), col("sig"),
        col("rep_id").as("dup_of"), col("rep_id").isNull.as("keep"))
  }

  /** Per-fingerprint canonical representative of a document corpus under
    * NFC-normalized content ([[graft.operators.Dedup
    * .normalizedExactDuplicateGroups]]'s fingerprint): (fingerprint,
    * rep_id) — one row per distinct canonical content, the maintained
    * index [[exactDedupStream]] joins against (the text sibling of
    * [[assetSignatureIndex]]). */
  def contentFingerprintIndex(corpus: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    corpus.select(
        md5(graft.expressions.GraftExpressions.nfcNormalize(col(textCol)))
          .as("fingerprint"),
        col(idCol).cast("long").as("doc_id"))
      .groupBy("fingerprint").agg(min(col("doc_id")).as("rep_id"))
  }

  /** Streaming EXACT dedup at ingest against a maintained
    * [[contentFingerprintIndex]]: incoming documents are fingerprinted
    * over NFC-canonicalized content (composition-form variants of indexed
    * content dedup too — the d1b rule at ingest) and left-joined
    * stream-static. Because fingerprint equality is exact, the pipeline
    * is STATELESS end-to-end (the [[assetDedupStream]] contract): no
    * watermark, no aggregation — ingest latency is join-probe latency.
    * Output per document: (doc_id, fingerprint, dup_of, keep).
    *
    * Scale shape: the index is one (16-byte fingerprint, id) row per
    * DISTINCT content; the stream side shuffles (id, fingerprint) only —
    * text never leaves its projection. The maintenance loop appends
    * admitted fingerprints between ingest cycles, and delete is the
    * per-row anti-join every maintained index here shares. */
  def exactDedupStream(incoming: org.apache.spark.sql.DataFrame,
      index: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    incoming.select(col(idCol).cast("long").as("doc_id"),
        md5(graft.expressions.GraftExpressions.nfcNormalize(col(textCol)))
          .as("fingerprint"))
      .join(index, Seq("fingerprint"), "left_outer")
      .select(col("doc_id"), col("fingerprint"),
        col("rep_id").as("dup_of"), col("rep_id").isNull.as("keep"))
  }

  /** Streaming WEB-INGEST — the steady-state form of the `e2e_web_ingest`
    * gate: each incoming raw page is canonical-URL-checked against the
    * standing crawl (re-crawl suppression BEFORE any content work),
    * HTML→text extracted, blocklist-flagged, and exact-content-probed
    * against the admitted corpus' fingerprint index. One decision row per
    * page: `keep` ⇔ not a re-crawl, not spam, content unseen; the
    * maintenance sink appends kept pages' (canonical_url) and
    * (fingerprint, doc_id) rows to the two indexes before the next cycle
    * (the d12/d18 maintained-index loop for a crawl frontier).
    *
    * Every stage is the BATCH pipeline's single definition
    * ([[graft.operators.TextOps.canonicalizeUrl]] /
    * `extractHtmlText` / [[graft.operators.TextOps.blocklistFlagCol]] /
    * the same md5 fingerprint), so stream == batch holds by construction —
    * the function itself runs unchanged on a batch frame (spec-pinned).
    *
    * Scale shape: extraction, canonicalization, flagging, and token
    * accounting are pure codegen projections; the ONLY joins are two
    * stream-static equi-joins on (canonical_url) and (fingerprint) against
    * maintained indexes; there is NO stateful operator at all — per-batch
    * cost is O(batch), state lives in the indexes. */
  def webIngestStream(incoming: org.apache.spark.sql.DataFrame,
      urlIndex: org.apache.spark.sql.DataFrame,
      contentIndex: org.apache.spark.sql.DataFrame,
      idCol: String, urlCol: String, pageCol: String,
      blocklist: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    incoming.select(col(idCol).cast("long").as("doc_id"),
        graft.operators.TextOps.canonicalizeUrl(col(urlCol)).as("canonical_url"),
        graft.operators.TextOps.extractHtmlText(col(pageCol)).as("__clean"))
      .withColumn("spam",
        graft.operators.TextOps.blocklistFlagCol(col("__clean"), blocklist))
      .withColumn("fingerprint", md5(col("__clean")))
      .withColumn("n_tokens",
        size(graft.operators.TextOps.tokens(col("__clean"))).cast("long"))
      // distinct: accept either the (canonical_url) view or a per-page
      // crawl log whose repeated urls would multiply probe rows (the
      // blockDedupStream ADVICE r11 guard)
      .join(urlIndex.select(col("canonical_url")).distinct()
        .withColumn("__uhit", lit(1)), Seq("canonical_url"), "left_outer")
      .join(contentIndex.select(col("fingerprint"), col("rep_id")),
        Seq("fingerprint"), "left_outer")
      .select(col("doc_id"), col("canonical_url"),
        col("__uhit").isNotNull.as("url_dup"), col("spam"),
        col("fingerprint"), col("rep_id").as("dup_of"), col("n_tokens"),
        (col("__uhit").isNull && !col("spam") && col("rep_id").isNull)
          .as("keep"))
  }

  /** Streaming per-domain crawl-BUDGET gate — the steady-state form of
    * the q_domain_cap curation rule ("one site must not dominate the
    * corpus"): each incoming page canonicalizes, resolves its host, and
    * probes TWO maintained tables stream-static — the host →
    * registrable-domain PSL dimension
    * ([[graft.operators.TextOps.registrableDomainMap]] computed over the
    * STANDING host set; the maintenance sink adds newly-seen hosts each
    * cycle) and the per-domain admitted-page counts. A page is
    * `over_budget` when its domain has already admitted ≥ `budget`
    * pages. Deliberately STATELESS (the [[webIngestStream]] contract):
    * incoming pages never count against each other within an epoch — the
    * sink folds the admitted epoch into the counts before the next
    * cycle, so budget enforcement is exact at epoch granularity. A host
    * absent from the dimension (a NEW site, or one whose host IS a
    * public suffix) carries a NULL domain, matches no count row, and is
    * never over budget.
    *
    * Works identically on a batch frame (all stages are stateless
    * projections + stream-static-shaped equi-joins), which is how the
    * `q_domain_budget` gate oracles it.
    *
    * Scale shape: canonicalize/host are codegen projections; both joins
    * are broadcast-ready dimensions (site and domain cardinality);
    * per-batch cost O(batch), zero stateful operators. */
  def domainBudgetStream(incoming: org.apache.spark.sql.DataFrame,
      pslDim: org.apache.spark.sql.DataFrame,
      domainCounts: org.apache.spark.sql.DataFrame,
      idCol: String, urlCol: String, budget: Long)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    incoming.select(col(idCol).cast("long").as("doc_id"),
        graft.operators.TextOps.canonicalizeUrl(col(urlCol)).as("canonical_url"))
      .withColumn("host",
        graft.operators.TextOps.urlHost(col("canonical_url")))
      // distinct on both dimensions: accept either the curated view or a
      // storage table with repeated rows (the blockDedupStream ADVICE
      // r11 guard)
      .join(pslDim.select(col("host"), col("registrable_domain")).distinct(),
        Seq("host"), "left_outer")
      .join(domainCounts.select(col("registrable_domain"), col("n_pages"))
          .distinct(),
        Seq("registrable_domain"), "left_outer")
      .withColumn("domain_pages", coalesce(col("n_pages"), lit(0L)))
      .select(col("doc_id"), col("canonical_url"), col("host"),
        col("registrable_domain"), col("domain_pages"),
        (col("domain_pages") >= budget).as("over_budget"))
  }

  /** Streaming link-frontier probe — the ingest form of the link-graph
    * family: each incoming page's anchors are extracted
    * ([[graft.operators.TextOps.extractLinks]]), resolved against the
    * page's own URL, canonicalized, and scored stream-static against TWO
    * maintained dimensions — the PSL host→eTLD+1 map and the standing
    * domain-endorsement table (`q_link_pagerank` output, refreshed by the
    * maintenance sink each cycle with the epoch's edges folded in via the
    * `q_link_graph_append` identity). The crawl read: which of this
    * batch's newly-discovered URLs to enqueue first.
    *
    * Deliberately STATELESS (the [[domainBudgetStream]] contract): links
    * in one epoch never rescore each other; the sink folds the epoch's
    * edges into the standing graph before the next cycle. A target whose
    * domain the standing graph has never endorsed (a new site, or an IP
    * literal with a NULL domain) probes to rank 0 / `known_domain` false —
    * the frontier's cold-start arm.
    *
    * Works identically on a batch frame (projections + stream-static
    * equi-joins only), which is how the `q_link_frontier_probe` gate
    * oracles it. Scale shape: extraction/resolution are codegen
    * projections on the page bytes; both dimensions are broadcast-ready
    * (site and domain cardinality); per-batch cost O(batch links), zero
    * stateful operators. */
  def linkFrontierStream(incoming: org.apache.spark.sql.DataFrame,
      pslDim: org.apache.spark.sql.DataFrame,
      domainRank: org.apache.spark.sql.DataFrame,
      idCol: String, htmlCol: String, baseUrlCol: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val pages = incoming.select(col(idCol).cast("long").as("doc_id"),
      graft.operators.TextOps.canonicalizeUrl(col(baseUrlCol)).as("base"),
      col(htmlCol).as("__page"))
    graft.operators.TextOps.extractLinks(pages, "__page")
      .withColumn("url", graft.operators.TextOps.canonicalizeUrl(
        graft.operators.TextOps.resolveLink(col("base"), col("href"))))
      .withColumn("dst_host", graft.operators.TextOps.urlHost(col("url")))
      .join(pslDim.select(col("host").as("dst_host"),
          col("registrable_domain")).distinct(),
        Seq("dst_host"), "left_outer")
      .join(domainRank.select(col("registrable_domain"),
          col("pr_q6")).distinct(),
        Seq("registrable_domain"), "left_outer")
      .select(col("doc_id"), col("link_no"), col("url"), col("dst_host"),
        col("registrable_domain"),
        coalesce(col("pr_q6"), lit(0L)).as("target_rank_q6"),
        col("pr_q6").isNotNull.as("known_domain"))
  }

  /** Streaming per-URL FRONTIER — the composed ingest form of the crawl
    * queue (VERDICT r17 #6), one function for all three per-link
    * decision arms the `e2e_url_frontier` gate consumes:
    *   1. ENDORSEMENT — [[linkFrontierStream]]'s anchor extraction,
    *      resolution, canonicalization, and the stream-static PSL +
    *      standing-PageRank probes;
    *   2. ADMISSIBILITY — the target domain's OWN robots rules
    *      ([[graft.operators.TextOps.urlRulesPacked]] dimension,
    *      broadcast at domain cardinality, zero-shuffle election);
    *   3. BUDGET — the standing per-domain admitted-page counts vs the
    *      crawl cap.
    * Emits one row per EXTRACTED LINK with (doc_id, link_no, url,
    * dst_host, registrable_domain, target_rank_q6, known_domain,
    * allowed, over_budget, eligible). The per-EPOCH novelty election
    * (first discoverer per url) and the global fetch_rank are BATCH
    * compositions over an epoch's rows — the gate applies them on top of
    * THIS function's output, so the gate's decision columns equal the
    * streaming form's by construction (they are the same plan).
    *
    * Deliberately STATELESS (the [[domainBudgetStream]] contract): pure
    * projections + stream-static broadcast-ready joins; links in one
    * epoch never affect each other; the maintenance sink folds the
    * epoch's edges/counts into the standing dimensions between cycles.
    * Works identically on a batch frame (spec-pinned). */
  def urlFrontierStream(incoming: org.apache.spark.sql.DataFrame,
      pslDim: org.apache.spark.sql.DataFrame,
      domainRank: org.apache.spark.sql.DataFrame,
      rulesPacked: org.apache.spark.sql.DataFrame,
      domainCounts: org.apache.spark.sql.DataFrame,
      idCol: String, htmlCol: String, baseUrlCol: String,
      budget: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    linkFrontierStream(incoming, pslDim, domainRank, idCol, htmlCol, baseUrlCol)
      .join(broadcast(rulesPacked),
        col("registrable_domain") === col("domain"), "left")
      .withColumn("allowed", graft.operators.TextOps
        .urlRuleDecisionFromPacked(col("url"), col("rules"))
        .getField("allowed"))
      .drop("domain", "rules")
      .join(broadcast(domainCounts
          .select(col("registrable_domain"), col("n_pages")).distinct()),
        Seq("registrable_domain"), "left_outer")
      .withColumn("over_budget", coalesce(col("n_pages") >= budget, lit(false)))
      .drop("n_pages")
      .withColumn("eligible", col("allowed") && !col("over_budget"))
  }

  /** Streaming phrase-decontamination probe — the ingest form of the
    * positional phrase family: each incoming document is scanned for a
    * FORBIDDEN exact phrase (benchmark decontamination at ingest — the
    * moment to catch a leaked eval sequence is BEFORE it joins the
    * corpus) via [[graft.operators.TextOps.phraseScanMatches]], the
    * index-free O(len·k) per-document form that is bit-equal to the
    * maintained-index probe (spec-pinned). Emits (idCol, n_matches,
    * first_pos) for HITS only — admitted-clean documents pass through
    * the ingest path untouched.
    *
    * Deliberately STATELESS (the [[domainBudgetStream]] contract): a
    * pure projection, so append mode needs no watermark and stream ==
    * batch holds by construction; works identically on a batch frame.
    * Scale shape: per-batch cost O(batch tokens · phrase length), zero
    * joins, zero stateful operators. */
  def phraseDecontamStream(incoming: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, phrase: Seq[String])
      : org.apache.spark.sql.DataFrame =
    graft.operators.TextOps.phraseScanMatches(incoming, idCol, textCol, phrase)

  /** BULK streaming decontamination — [[phraseDecontamStream]] for a
    * whole (broadcast) phrase table at once, the realistic ingest shape:
    * a benchmark is thousands of phrases, not one. Delegates to
    * [[graft.operators.TextOps.phraseScanMatchesAll]], a stateless
    * crossJoin-projection, so append mode needs no watermark and
    * stream == batch holds by construction; the at-rest bulk form over a
    * standing corpus is `phraseSearchAll` (postings join). Emits
    * (phrase_id, doc_id, n_matches, first_pos) for hits only. */
  def phraseDecontamStreamAll(incoming: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      phrases: org.apache.spark.sql.DataFrame,
      phraseIdCol: String, phraseTextCol: String)
      : org.apache.spark.sql.DataFrame =
    graft.operators.TextOps.phraseScanMatchesAll(incoming, idCol, textCol,
      phrases, phraseIdCol, phraseTextCol)

  /** Streaming first-occurrence BLOCK dedup — the ingest form of
    * [[graft.operators.Dedup.incrementalBlockDedup]]: incoming documents'
    * 16-token blocks are hashed row-wise (the identical md5-over-slice
    * expression as the batch operator) and probed stream-static against a
    * maintained [[graft.operators.Dedup.blockHashIndex]]; blocks whose
    * content the standing corpus already holds are reported as cut.
    * Output per document (on watermark passage): (doc_id, n_blocks,
    * n_dropped, dropped) — the batch decision columns; the maintenance
    * sink reassembles clean text locally from `dropped` and appends the
    * admitted epoch via [[graft.operators.Dedup.blockIndexAppend]] before
    * the next ingest cycle (the d12/d18 maintained-index loop, one level
    * below documents).
    *
    * Scale shape: block hashing is a pure projection (text never leaves
    * it); the index joins stream-static on the 128-bit hash; the ONLY
    * stateful operator is the watermark-bounded per-(doc, event-time)
    * collect of cut indexes, bounded by blocks-per-document. */
  def blockDedupStream(incoming: org.apache.spark.sql.DataFrame,
      index: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      tsCol: String, watermarkDelay: String, blockTokens: Int = 16)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val b = blockTokens
    // the block count and per-block fingerprint are Dedup's SINGLE
    // definitions — stream == batch by construction, not by copy
    val probes = incoming
      .select(col(idCol).cast("long").as("doc_id"), col(tsCol).as("__ts"),
        graft.operators.TextOps.tokens(col(textCol)).as("__toks"))
      .withColumn("__nb", graft.operators.Dedup.blockCountCol(b))
      .select(col("doc_id"), col("__ts"), col("__nb"),
        posexplode_outer(graft.operators.Dedup.blockHashesCol(b)).as(Seq("bi", "h")))
      .withWatermark("__ts", watermarkDelay)
    probes
      // distinct: accept EITHER index form — the (h, rep) view or the
      // per-occurrence storage table, whose repeated h rows would
      // otherwise multiply matched probe rows (ADVICE r11, the same
      // guard as Dedup.incrementalBlockDedupAgainst)
      .join(index.select(col("h")).distinct().withColumn("__hit", lit(1)),
        Seq("h"), "left_outer")
      .withColumn("__cut", when(col("__hit").isNotNull, col("bi")))
      .groupBy(col("doc_id"), col("__ts"), col("__nb"))
      .agg(sort_array(collect_list(col("__cut"))).as("dropped"))
      .select(col("doc_id"), col("__nb").as("n_blocks"),
        size(col("dropped")).cast("long").as("n_dropped"), col("dropped"))
  }

  /** Streaming mixture-loss monitor — the ingest half of a maintained
    * DoReMi loop: incoming documents are scored under a FROZEN bigram
    * model ([[graft.operators.TextOps.bigramModel]] held as maintained
    * storage; unseen transitions smooth via the LEFT-join zero path of
    * [[graft.operators.TextOps.bigramNllUnder]]) and the exact q6 NLL
    * mass rolls up per (source, event-time) — rows a monitor ADDS into
    * its per-source (Σnll, Σtrans) accumulators, then feeds
    * `TextOps.egMixtureRows` to refresh the mixture weights after each
    * epoch. Stream == batch holds because scoring is per-document under a
    * frozen model and the accumulator merge is long addition (spec-pinned).
    *
    * Scale shape: transitions are a row-wise explode (no stateful
    * distinct); the model joins are stream-static at bigram-vocabulary
    * cardinality; the only stateful operator is the watermark-bounded
    * (source, ts) aggregation at source cardinality. */
  def mixtureLossStream(incoming: org.apache.spark.sql.DataFrame, tsCol: String,
      idCol: String, textCol: String, sourceCol: String,
      bigram: org.apache.spark.sql.DataFrame, ctx: org.apache.spark.sql.DataFrame,
      vocabSize: Double, watermarkDelay: String,
      addK: Double = 0.5): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val trans = incoming
      .select(col(sourceCol).as("source"), col(tsCol).as("__ts"),
        graft.operators.TextOps.tokens(col(textCol)).as("toks"))
      .select(col("source"), col("__ts"),
        explode(when(size(col("toks")) >= 2,
            expr("transform(sequence(2, size(toks)), i -> struct(toks[i-2] AS v, toks[i-1] AS w))"))
          .otherwise(expr("array()"))).as("t"))
      .select(col("source"), col("__ts"), col("t.v").as("v"), col("t.w").as("w"))
      .withWatermark("__ts", watermarkDelay)
    val p = (coalesce(col("c_vw"), lit(0L)).cast("double") + lit(addK)) /
      (coalesce(col("c_v"), lit(0L)).cast("double") + lit(addK) * lit(vocabSize))
    trans
      .join(bigram, Seq("v", "w"), "left")
      .join(ctx, Seq("v"), "left")
      // graft_ln_strict — must produce the same longs as the batch scorer
      // (stream==batch contract) and be bit-stable across executions
      .withColumn("nll_q6",
        floor(-graft.expressions.GraftExpressions.lnStrict(p)
          * lit(1000000.0) + lit(0.5)).cast("long"))
      .groupBy(col("source"), col("__ts"))
      .agg(count(lit(1)).as("n_trans"), sum(col("nll_q6")).as("sum_nll_q6"))
      .select("source", "n_trans", "sum_nll_q6")
  }

  /** Tokenize a raw text stream into contributions (P1 streaming form). */
  def tokenize(lines: Dataset[(String, Int, String)]): Dataset[Contribution] = {
    import lines.sparkSession.implicits._
    lines.flatMap { case (text, epoch, userId) =>
      text.toLowerCase.split("\\W+").iterator.filter(_.nonEmpty)
        .map(w => Contribution(w, epoch, userId, 1.0))
    }
  }

  /** Runs the full streaming pipeline over a memory-sink query and returns the
    * carried-forward histogram map maintained at the sink. Intended for tests
    * and local replays (epoch-ordered feeding). */
  def carryForwardSink(releases: Dataset[Release], queryName: String): org.apache.spark.sql.streaming.StreamingQuery =
    releases.writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(queryName)
      .start()
}

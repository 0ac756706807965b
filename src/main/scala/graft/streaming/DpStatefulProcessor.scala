package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._
import graft.dp._

/** `transformWithState` implementation of the DP-SQLP keyed operator — the
  * preferred Spark 4.x architecture (SURVEY §4.3.1): per-key value state plus
  * real timers, which close the one gap of the `flatMapGroupsWithState` form:
  * an Algorithm-3 predicted release for a key that never reappears fires
  * from [[handleExpiredTimer]] instead of waiting for the batch replay.
  *
  * It consumes the [[PrevMarked]] rows of [[StreamingPipelines.markPrevEpoch]],
  * so its per-key state is a [[DpKeyState]] and never a user identity.
  *
  * Why this is the default eager path: the state store writes one key's
  * state per update, where the sharded form
  * ([[StreamingPipelines.dpHistogramEagerPrevMarked]]) re-serializes a whole
  * shard, and a timer costs less than the sharded form's two synchronous
  * barriers per epoch. [[graft.tools.EagerBench]] (bench entries
  * `eager_dp_*_t20`, every arm on the RocksDB store) tracks that cost and
  * checks that both forms emit the same number of releases. Keep the sharded
  * form where release timing must be DETERMINISTIC in epoch terms (its tick
  * is data, so a replay fires silents at exactly the same points; timers are
  * wall-clock).
  *
  * Requires the RocksDB state store provider
  * (`spark.sql.streaming.stateStore.providerClass =
  * org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`),
  * which also gives the engine incremental-checkpoint state handling at
  * 1M-key scale (SURVEY §7.5.1).
  *
  * Timer policy: when a key finishes a batch with a pending prediction, a
  * short processing-time timer is registered; on expiry every pending
  * predicted epoch fires (the prediction's epoch index drives the tree leaf,
  * so wall-clock only decides *when* the release is surfaced, matching the
  * reference where the tick thread plays that role —
  * AbstractDataPerturbationBolt.java:156-166).
  */
final class DpStatefulProcessor(params: DpParams, runSeed: Long, useTimers: Boolean)
    extends StatefulProcessor[String, PrevMarked, Release] {

  @transient private var state: ValueState[DpKeyState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[DpKeyState]("dpState", Encoders.kryo[DpKeyState], TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[PrevMarked],
      timerValues: TimerValues): Iterator[Release] = {
    val st = if (state.exists()) state.get() else DpKeyState.seeded(params, runSeed, key)
    val out = Seq.newBuilder[Release]
    StreamingPipelines.appear(st, key, rows, out)
    if (useTimers && st.predictedRelease.isDefined)
      getHandle.registerTimer(timerValues.getCurrentProcessingTimeInMs() + DpStatefulProcessor.TimerDelayMs)
    state.update(st)
    out.result().iterator
  }

  override def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[Release] = {
    if (!state.exists()) return Iterator.empty
    val st = state.get()
    val out = Seq.newBuilder[Release]
    st.fireDue(params.maxTimeSteps, StreamingPipelines.emitTo(key, out))
    state.update(st)
    out.result().iterator
  }
}

object DpStatefulProcessor {
  /** Delay from a key's last batch to the timer that fires its predictions. */
  private val TimerDelayMs = 100L

  /** Wires [[StreamingPipelines.markPrevEpoch]] and the processor into a
    * stream. Caller must enable the RocksDB state store provider on the
    * session.
    *
    * `timers = true` enables eager Algo-3 silent releases via processing-time
    * timers, at the cost of continuous trigger evaluation while timers are
    * pending (the engine re-triggers to check expiry — fine under
    * `Trigger.ProcessingTime`, pathological with the default ASAP trigger in
    * synchronous replay harnesses). With `timers = false` (default) the
    * operator behaves like [[StreamingPipelines.dpHistogram]]: silent
    * releases catch up lazily when the key next appears. */
  def dpHistogram(input: Dataset[Contribution], params: DpParams, runSeed: Long = 42L,
      timers: Boolean = false): Dataset[Release] = {
    import input.sparkSession.implicits._
    StreamingPipelines.markPrevEpoch(input).groupByKey(_.key)
      .transformWithState(new DpStatefulProcessor(params, runSeed, timers),
        if (timers) TimeMode.ProcessingTime() else TimeMode.None(), OutputMode.Append())
  }
}

package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.{col, timestamp_seconds}
import org.apache.spark.sql.streaming._
import graft.dp._

import scala.collection.mutable

/** Watermark-eager form of the DP-SQLP keyed operator: `transformWithState`
  * in event time, holding one [[DpKeyState]] and at most one timer per key.
  *
  * The epoch is the event time. A row of epoch e carries the timestamp
  * e + 1 seconds and the watermark trails the largest by one second, so
  * once the stream has seen epoch E the watermark is E seconds and a row of
  * epoch p is late iff p < E (the `+ 1` keeps epoch 0 above the initial
  * watermark of 0). A key's Algorithm-3 prediction for epoch p is an
  * event-time timer at (p + 1) seconds: it fires exactly when rows of
  * epoch p become late, which is epoch p's barrier in the reference
  * (StreamingDPMechanism.java:331-340), and releases at epoch p. Release
  * points are therefore fixed in epoch terms, whatever the grouping of
  * epochs into triggers; a prediction for the last epoch fed waits for data
  * of a later epoch. Late rows are dropped by the watermark before they
  * reach the state.
  *
  * It consumes the [[PrevMarked]] rows of [[StreamingPipelines.markPrevEpoch]],
  * so its per-key state never holds a user identity.
  *
  * Requires the RocksDB state store provider
  * (`spark.sql.streaming.stateStore.providerClass =
  * org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`),
  * which also gives the engine incremental-checkpoint state handling at
  * 1M-key scale (SURVEY §7.5.1).
  */
final class DpStatefulProcessor(params: DpParams, runSeed: Long)
    extends StatefulProcessor[String, PrevMarked, Release] {

  @transient private var state: ValueState[DpKeyState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[DpKeyState]("dpState", Encoders.kryo[DpKeyState], TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[PrevMarked],
      timerValues: TimerValues): Iterator[Release] = {
    val st = if (state.exists()) state.get() else DpKeyState.seeded(params, runSeed, key)
    step(st)(out => StreamingPipelines.appear(st, key, rows, out))
  }

  override def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[Release] = {
    val st = state.get()
    val until = DpStatefulProcessor.epochClosedAt(expiredTimerInfo.getExpiryTimeInMs())
    step(st)(out => st.fireDue(until, StreamingPipelines.emitTo(key, out)))
  }

  /** Runs `body` on the key's state, stores it, and re-arms the key's one
    * timer at its pending prediction. */
  private def step(st: DpKeyState)(body: mutable.Builder[Release, Seq[Release]] => Unit): Iterator[Release] = {
    val out = Seq.newBuilder[Release]
    body(out)
    state.update(st)
    getHandle.listTimers().toList.foreach(getHandle.deleteTimer)
    st.predictedRelease.foreach(p => getHandle.registerTimer(DpStatefulProcessor.closeOf(p)))
    out.result().iterator
  }
}

object DpStatefulProcessor {
  /** Event time (ms) at which epoch `p`'s rows become late. */
  private def closeOf(p: Int): Long = (p + 1) * 1000L

  /** The epoch bound passed to `fireDue` by a timer set at [[closeOf]]`(p)`:
    * p + 1, so exactly the prediction for p fires. */
  private def epochClosedAt(ms: Long): Int = (ms / 1000L).toInt

  /** Wires [[StreamingPipelines.markPrevEpoch]], the epoch watermark and the
    * processor into a stream. Feed triggers in epoch order (one or more
    * epochs per trigger); the caller must enable the RocksDB state store
    * provider on the session. */
  def dpHistogram(input: Dataset[Contribution], params: DpParams, runSeed: Long = 42L): Dataset[Release] = {
    import input.sparkSession.implicits._
    StreamingPipelines.markPrevEpoch(input)
      .withColumn("ts", timestamp_seconds(col("epoch") + 1))
      .withWatermark("ts", "1 second")
      .as[PrevMarked]
      .groupByKey(_.key)
      .transformWithState(new DpStatefulProcessor(params, runSeed), TimeMode.EventTime(), OutputMode.Append())
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

import graft.crypto.{Aad, Nonces, Scheme, SealedPayload}

import scala.collection.mutable

/** One sealed partial-histogram emission: what an observer of the
  * perturbation→aggregation link sees. Real and dummy partials share the
  * AEAD scheme, key, AAD structure (source/destination/producer/epoch/seq)
  * and — when `padTo` is respected — ciphertext length. */
final case class ShapedPartial(producer: String, epoch: Int, seq: Long,
    aad: Array[Byte], nonce: Array[Byte], ciphertext: Array[Byte])

/** M1: dummy-traffic shaping — the reference's constant-rate emission of
  * sealed `__dummy` partials whenever a perturbation task has no real
  * snapshot ready (AbstractDataPerturbationBolt.java:293-308,
  * AbstractDataPerturbationServiceProvider.java:256-288), so an observer of
  * the emission channel learns nothing from WHEN a task emits. Dummies are
  * discarded at the aggregation merge after decryption
  * (AbstractHistogramAggregationServiceProvider.java:134-144).
  *
  * Spark restatement: emitters are shards of the release stream (the task
  * analogue), the cadence clock is the [[StreamingPipelines.EpochTick]]
  * stream (the M4 marker / epoch barrier in data form). On every tick each shard emits EXACTLY ONE
  * sealed partial: its buffered real releases if any, else
  * `{"__dummy":true}` — sealed with the same key, scheme and AAD structure.
  *
  * Strengthening over the reference: payloads are PADDED to `padTo` bytes
  * before sealing, so real and dummy ciphertexts also match in LENGTH (the
  * reference matches envelope structure only; a length-observer could still
  * distinguish a 2-key partial from a dummy there). Payloads that fit seal
  * at exactly `padTo`; oversized ones round up to the next multiple of
  * `padTo` (bucketed padding — never truncated, never an exact-length
  * leak). Size `padTo` to the max releases per shard per epoch so the
  * single-bucket guarantee holds.
  */
object DummyTraffic {

  /** Marker key identifying a dummy partial after decryption — wire-format
    * compatible with the reference (DUMMY_MARKER_KEY,
    * AbstractDataPerturbationServiceProvider.java:32). */
  val DummyMarkerKey = "__dummy"

  private implicit def shaperStateEncoder: Encoder[ShaperState] = Encoders.kryo[ShaperState]

  final case class ShaperState(buffer: mutable.ArrayBuffer[Release], var nextSeq: Long)

  /** Internal union row (public: Spark's generated deserializer needs
    * constructor access). */
  final case class ShapeRow(shard: Int, key: String, epoch: Int, count: Long, tick: Boolean)

  /** JSON payload for one emission; `_pad` fills the plaintext to exactly
    * `padTo` bytes (ASCII payloads, so chars == bytes) — or, when the
    * payload cannot fit, to the next MULTIPLE of `padTo` (bucketed
    * padding): every emission length is k·padTo, so an oversized batch
    * leaks only its coarse size bucket, never an exact byte length. A
    * previous form emitted payloads in (padTo−10, padTo] unpadded — nine
    * distinguishable lengths right at the boundary. */
  private[streaming] def payloadJson(releases: Seq[Release], padTo: Int): String = {
    val base =
      if (releases.isEmpty) s"""{"$DummyMarkerKey":true}"""
      else releases.map(r => s"""{"key":${Aad.jsonString(r.key)},"epoch":${r.epoch},"count":${r.count}}""")
        .mkString("""{"releases":[""", ",", "]}")
    // `,"_pad":"…"}` replaces the closing `}`: net added length is
    // 10 + padLen (9 for `,"_pad":"`, 2 for `"}`, minus the replaced `}`)
    val target = ((base.length + 10 + padTo - 1) / padTo) * padTo
    val padLen = target - base.length - 10
    base.dropRight(1) + ",\"_pad\":\"" + "#" * padLen + "\"}"
  }

  /** Shapes a release stream to constant rate: one sealed partial per shard
    * per [[StreamingPipelines.EpochTick]], dummy when the shard has nothing
    * buffered. Releases are buffered between ticks (the tick asserts "emit
    * now"), sequence numbers are per-producer monotonic, and nonces derive
    * from (seed, producer, seq) — [[graft.crypto.Nonces.derive]]. */
  def shapeConstantRate(releases: Dataset[Release], ticks: Dataset[StreamingPipelines.EpochTick],
      keyBytes: Array[Byte], scheme: String = "aes-gcm",
      source: String = "perturbation", destination: String = "aggregation",
      numShards: Int = 4, padTo: Int = 1024, nonceSeed: Long = 42L): Dataset[ShapedPartial] = {
    import releases.sparkSession.implicits._
    val sealScheme = Scheme.parse(scheme)
    val data = releases.map(r =>
      ShapeRow(math.floorMod(r.key.hashCode, numShards), r.key, r.epoch, r.count, tick = false))
    val tickRows = ticks.flatMap(t =>
      (0 until numShards).iterator.map(s => ShapeRow(s, "", t.epoch, 0L, tick = true)))
    data.union(tickRows)
      .groupByKey(_.shard)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (shard: Int, rows: Iterator[ShapeRow], state: GroupState[ShaperState]) => {
          val st = state.getOption.getOrElse(ShaperState(mutable.ArrayBuffer.empty, 0L))
          val producer = s"shard-$shard"
          val payload = new SealedPayload(keyBytes, sealScheme)
          val out = Seq.newBuilder[ShapedPartial]

          rows.toSeq.sortBy(r => (r.epoch, r.tick, r.key)).foreach { r =>
            if (!r.tick) st.buffer += Release(r.key, r.epoch, r.count)
            else {
              val plain = payloadJson(st.buffer.toSeq.sortBy(x => (x.epoch, x.key)), padTo)
              val seq = st.nextSeq
              val aad = Aad(source = Some(source), destination = Some(destination),
                producerId = Some(producer), seq = Some(seq), epoch = Some(r.epoch.toLong))
              val ev = payload.sealWithNonce(plain.getBytes("UTF-8"), aad,
                Nonces.derive(nonceSeed, producer, seq))
              out += ShapedPartial(producer, r.epoch, seq, ev.associatedData, ev.nonce, ev.ciphertext)
              st.nextSeq += 1
              st.buffer.clear()
            }
          }
          state.update(st)
          out.result().iterator
        })
  }

  private val PartialSchema = StructType.fromDDL(
    s"$DummyMarkerKey BOOLEAN, releases ARRAY<STRUCT<key: STRING, epoch: INT, count: BIGINT>>, _pad STRING")

  /** Aggregation-side merge: authenticate + route-validate each partial with
    * the native unseal expression, DISCARD dummies (the reference's
    * post-decryption marker check), and explode real releases. Works on the
    * shaped stream or its batch capture. */
  def mergeShapedPartials(shaped: DataFrame, keyBytes: Array[Byte], scheme: String = "aes-gcm",
      source: String = "perturbation", destination: String = "aggregation"): Dataset[Release] = {
    import shaped.sparkSession.implicits._
    shaped
      .withColumn("plain", graft.expressions.GraftExpressions.unseal(
        struct(col("aad"), col("nonce"), col("ciphertext")), keyBytes, scheme, source, destination))
      .where(col("plain").isNotNull)
      .select(from_json(col("plain"), PartialSchema).as("p"))
      .where(not(coalesce(col(s"p.$DummyMarkerKey"), lit(false))))
      .select(explode(col("p.releases")).as("r"))
      .select(col("r.key"), col("r.epoch"), col("r.count"))
      .as[Release]
  }
}

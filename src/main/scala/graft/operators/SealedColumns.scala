package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.crypto._

/** Confidential-mode column operators: AEAD-sealed `binary` columns with
  * AAD-bound routing validation — the Spark-native form of the reference's
  * sealed tuple envelope (P6/P7/P8, SURVEY §2.2). Payloads move between
  * pipeline stages as (aad, nonce, ciphertext) struct columns; every stage
  * verifies the AAD route before unsealing, exactly like
  * ConfidentialBoltService.verify (ConfidentialBoltService.java:191-281).
  *
  * Both directions run as native codegen Catalyst expressions
  * ([[graft.expressions.AeadSeal]] / [[graft.expressions.AeadUnseal]]) — a
  * method invocation inside whole-stage codegen, no UDF serialization. One
  * [[SealedPayload]] codec per executor via lazy transient init.
  *
  * Replay protection in batch mode is relational: a record is accepted if it
  * is the first occurrence of its (producer, seq) — semantically the
  * reference's per-producer window with an unbounded horizon
  * (ReplayWindow.java:44-105); the streaming form keeps the actual bounded
  * window in keyed state.
  */
object SealedColumns {

  /** Serializable codec factory; the Cipher machinery is per-JVM transient. */
  final class Codec(val keyBytes: Array[Byte], val schemeName: String) extends Serializable {
    private val scheme = Scheme.parse(schemeName)
    @transient lazy val payload: SealedPayload = new SealedPayload(keyBytes, scheme)
  }

  /** Seals a string column into an (aad, nonce, ciphertext) struct with
    * routing AAD. Nonce is derived deterministically from
    * (seed, producer, seq) — at scale this keeps sealing retry-idempotent;
    * mixing the producer (and route, via the seed) into the derivation means
    * two producers with overlapping seq ranges under the same key never reuse
    * a (nonce, key) pair, the catastrophic AES-GCM/ChaCha20 failure mode.
    * Uniqueness of seq WITHIN one producer remains the caller's contract, as
    * with any counter-based AEAD nonce. */
  def sealColumn(text: Column, seq: Column, source: String, destination: String,
      producer: Column, codec: Codec, nonceSeed: Long = 42L): Column =
    graft.expressions.GraftExpressions.seal(text, seq, producer,
      codec.keyBytes, codec.schemeName, source, destination, nonceSeed)

  /** Route-validates and unseals; returns null for invalid routes or failed
    * authentication (callers filter, mirroring the reference's drop-on-
    * SecurityException behavior). */
  def unsealColumn(sealedCol: Column, expectedSource: String, expectedDestination: String,
      codec: Codec): Column =
    graft.expressions.GraftExpressions.unseal(sealedCol,
      codec.keyBytes, codec.schemeName, expectedSource, expectedDestination)

  /** Unseals for a named pipeline stage, accepting any upstream the route
    * topology registers for it: a record is valid iff its AAD destination is
    * `stage` and its AAD source is one of `topology.upstream(stage)` — the
    * reference's per-bolt check against the decrypted topology graph
    * (ConfidentialBoltService.java:216-234 consulting
    * EncryptedTopologyProvider.java:37-64). A stage absent from the graph has
    * no upstreams, so every record drops: fail-closed, like the reference's
    * refusal to start without its topology resource. */
  def unsealForStage(sealedCol: Column, stage: String, codec: Codec,
      topology: PipelineTopology): Column = {
    val ups = topology.upstream(stage)
    if (ups.isEmpty) lit(null).cast("string")
    else coalesce(ups.map(u => unsealColumn(sealedCol, u, stage, codec)): _*)
  }

  /** Batch replay filter: keeps the first occurrence of each (producer, seq),
    * dropping duplicates/replays deterministically (earliest by `orderCol`). */
  def replayFilter(df: DataFrame, producerCol: String, seqCol: String, orderCol: String): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(col(producerCol), col(seqCol)).orderBy(col(orderCol))))
      .where(col("__rn") === 1)
      .drop("__rn")
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.dp._

/** Distributed batch execution of the DP-SQLP mechanism over an epoched
  * dataset — the Spark-native restatement of the reference's
  * DataPerturbation → HistogramAggregation stages (SURVEY §2.4/§2.5).
  *
  * Plan shape, B1 → A2 → [[run]]: four exchanges, in order
  * `hashpartitioning(user)` (B1), `hashpartitioning(key, epoch, prev)` fed
  * by a partial aggregate, `hashpartitioning(key)`, and `SinglePartition`
  * for the release order. The invariants that hold it there:
  *
  *  1. [[CoreOps.preAggregatePrevEpoch]] — per (key, epoch): ΔV plus the
  *     previous-appearance-epoch histogram of its users. Its windows need
  *     only clustering on (key, user), which B1's user partitioning already
  *     gives; its output is hash-partitioned by `key` into a fixed number of
  *     partitions. Every exchange up to there runs at (key, user) or finer
  *     granularity or ships map-side partials, so a Zipf-hot key spreads
  *     across partitions; the terminal row is O(T), never O(users) — no user
  *     identity reaches per-key state.
  *  2. The mechanism groups on the existing `key` COLUMN (not a derived
  *     key), so it reuses that partitioning: no `AppendColumns`, no
  *     exchange. Each key's ≤T epoch rows are folded through the
  *     [[graft.dp.DpKeyState]] driver (`appear`, then `fireDue(T)`) in
  *     epoch order (exact new-user counting against the round-start epoch).
  *     The per-key timeline (tree state, Algo 3 predicted silent-epoch
  *     releases) is processed entirely inside the group, so no driver-side
  *     loop and no cross-key coordination — the reference's ZooKeeper epoch
  *     barrier (EpochBarrierCoordinator.java) has no residue here.
  *  3. The release holds at most one row per key, so it is ordered in one
  *     partition by a local sort. A range-partitioned `orderBy` would run a
  *     sampling job that executes the whole mechanism a second time.
  *
  * State is O(keys × T); data volume only affects stage 1, which scales
  * linearly and shuffles pre-aggregated rows.
  */
object DpHistogram {

  private type EpochRow = (String, Int, Double, Seq[(Int, Long)])

  private def toEpochRows(preAgg: DataFrame) =
    preAgg.select(col("key").cast("string"), col("epoch").cast("int"),
      col("delta_v").cast("double"), col("prev_counts").cast("array<struct<prev:int,n:bigint>>"))

  /** Final released histogram after running all epochs: (key, count), count
    * desc / key asc, negatives clamped — matching
    * StreamingDPMechanism.produceHistogram (:517-531).
    *
    * @param preAgg  output of [[CoreOps.preAggregatePrevEpoch]]:
    *                (key, epoch, delta_v, prev_counts)
    * @param params  calibrated or zero-noise DP parameters
    * @param runSeed seed for deterministic noise (ignored when σ=0)
    */
  def run(spark: SparkSession, preAgg: DataFrame, params: DpParams, runSeed: Long = 42L): DataFrame = {
    import spark.implicits._
    releaseOrder(foldByKey[EpochRow, (String, Long)](toEpochRows(preAgg)) { (key, rows) =>
      released(key, DpKeyState.replay(params, runSeed, key, rows)(_._2)((st, r) => st.appear(r._2, r._4, r._3)))
    }.toDF("key", "count"))
  }

  /** [[run]] over the identity-carrying pre-aggregation
    * ([[CoreOps.preAggregate]]: (key, epoch, delta_v, users)): per-key state
    * dedups user IDENTITIES against the round's observed set — O(round
    * users) state, the design [[CoreOps.preAggregatePrevEpoch]] replaced as
    * the scale default because a Zipf-hot key's row carries every user
    * string. Kept as the small-data fast path (one aggregation, no lag
    * window) and as the A/B comparator the bench tracks; mechanism
    * semantics and released values are identical. */
  def runUsers(spark: SparkSession, preAgg: DataFrame, params: DpParams, runSeed: Long = 42L): DataFrame = {
    import spark.implicits._
    val userRows = preAgg.select(col("key").cast("string"), col("epoch").cast("int"),
      col("delta_v").cast("double"), col("users").cast("array<string>"))
    releaseOrder(foldByKey[(String, Int, Double, Seq[String]), (String, Long)](userRows) { (key, rows) =>
      released(key, DpKeyState.replay(params, runSeed, key, rows)(_._2)((st, r) => st.appearUsers(r._2, r._4, r._3)))
    }.toDF("key", "count"))
  }

  /** Per-epoch released timeline: (epoch, key, count) for every epoch at which
    * the key's released sum changes — the batch replay of what the streaming
    * pipeline emits per trigger. */
  def timeline(spark: SparkSession, preAgg: DataFrame, params: DpParams, runSeed: Long = 42L): DataFrame = {
    import spark.implicits._
    foldByKey[EpochRow, (Int, String, Long)](toEpochRows(preAgg)) { (key, rows) =>
      val out = Seq.newBuilder[(Int, String, Long)]
      val emit: DpKeyState.Emit = (epoch, count) => out += ((epoch, key, count))
      DpKeyState.replay(params, runSeed, key, rows, emit)(_._2)((st, r) => st.appear(r._2, r._4, r._3, emit))
      out.result()
    }.toDF("epoch", "key", "count")
  }

  private def released(key: String, state: DpKeyState): Option[(String, Long)] =
    state.currentSum.map(s => (key, DpKeyState.releasedCount(s)))

  /** Folds each `key` group of `rows` with `f`. Grouping on the existing
    * `key` column, not on a key derived from the rows, lets the plan reuse
    * an input already hash-partitioned by `key` (as
    * [[CoreOps.preAggregatePrevEpoch]]'s output is). */
  private def foldByKey[T: Encoder, U: Encoder](rows: DataFrame)(
      f: (String, Iterator[T]) => IterableOnce[U]): Dataset[U] =
    rows.groupBy(col("key")).as[String, T](Encoders.STRING, implicitly[Encoder[T]]).flatMapGroups(f)

  /** Count desc, key asc, in one partition: a release has at most one row
    * per key, so a local sort suffices and no range-partitioning sampling
    * job re-runs the mechanism. */
  private def releaseOrder(released: DataFrame): DataFrame =
    released.repartition(1).sortWithinPartitions(col("count").desc, col("key"))
}

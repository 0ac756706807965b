package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hot-key (skew) mitigation operators.
  *
  * What is NOT here, deliberately: a "salted sum/count" — Spark's partial
  * (map-side) aggregation already collapses a hot key to one row per task
  * before the shuffle, so salting decomposable aggregates buys nothing.
  * Salting pays exactly where partial aggregation cannot compress:
  *   - JOINS: every row of a hot key lands on one reducer
  *     ([[saltedJoin]]; AQE's skew-join split covers sort-merge joins at
  *     runtime, but only per-partition — salting also spreads a single
  *     monster key and works for any join shape);
  *   - EXACT DISTINCT: count_distinct keeps every distinct value in the
  *     hot key's single aggregation state ([[saltedDistinctCount]]).
  *
  * The DP pipeline's per-key exact unique-user counts (SURVEY §2 A6) are
  * the in-repo motivation: one viral key at 100 TB must not serialize all
  * its users through one task.
  */
object SkewOps {

  /** Equi-join where `large`'s hot keys are spread over `salts` reducers:
    * each large row gets a deterministic pseudo-random salt (xxhash64 of
    * the whole row — layout-independent), and `small` is replicated once
    * per salt value, so the join key becomes (keys..., salt) and a hot
    * key's rows split across `salts` tasks. Use when the small side is too
    * big to broadcast but the large side has keys hot enough to break a
    * task. `joinType` is from `large`'s perspective ("inner", "left").
    * Replication multiplies the small side's shuffle volume by `salts` —
    * size it to the skew factor, not higher.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, keys: Seq[String],
      salts: Int, joinType: String = "inner"): DataFrame = {
    require(salts > 0, "salts must be positive")
    require(Set("inner", "left", "left_outer").contains(joinType),
      s"unsupported joinType $joinType: small-side rows are replicated, so " +
        "right/full outer would duplicate unmatched small rows")
    val l = large.withColumn("__salt",
      pmod(xxhash64(large.columns.map(col): _*), lit(salts)).cast("int"))
    val s = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    l.join(s, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Runs `body` with AQE skew-join thresholds lowered so bench/spec-scale
    * hot partitions count as skewed (the production defaults — 256 MB — are
    * right at 100 TB and fire on their own there). Restores prior values. */
  def withSkewTuning[A](spark: org.apache.spark.sql.SparkSession,
      skewThreshold: String, advisorySize: String)(body: => A): A =
    graft.SessionConf.withConf(spark,
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> skewThreshold,
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisorySize)(body)

  /** The skew A/B workload: a fact side where key 0 owns ~60 % of all rows
    * (default 20 M — the hot task must dominate the stage for the A/B to
    * measure the straggler, not fixed overheads), sort-merge-joined
    * (broadcast disabled by the caller) to a 100 k-key dim side, then
    * aggregated. Deterministic — the skew comes from the id space, not
    * rand(). */
  def skewBenchJoin(spark: org.apache.spark.sql.SparkSession,
      rows: Long = 20000000L): DataFrame = {
    val fact = spark.range(0, rows)
      .select(when(col("id") % 10 < 6, 0L).otherwise(col("id") % 100000).as("k"),
        col("id").as("payload"))
    val dim = spark.range(0, 100000L).select(col("id").as("k"), (col("id") * 2).as("dval"))
    fact.join(dim, "k")
      .groupBy(col("k") % 64)
      .agg(sum(col("payload") + col("dval")).as("s"), count(lit(1)).as("n"))
  }

  /** Runtime-bloom-filter A/B configs: lowered injection thresholds so the
    * optimizer's `InjectRuntimeFilter` rule fires at bench scale (the 10 GB
    * application-side default is sized for production scans — at 100 TB the
    * stock thresholds fire on their own, exactly like the AQE skew
    * defaults). Restores previous values after `body`. */
  def withBloomTuning[A](spark: org.apache.spark.sql.SparkSession, enabled: Boolean)(body: => A): A =
    graft.SessionConf.withConf(spark,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> enabled.toString,
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1MB",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "64MB")(body)

  /** The bloom A/B workload: a 20 M-row fact side shuffle-joined (broadcast
    * disabled by the caller) to a dim side whose selective predicate keeps
    * 1 % of keys. With the runtime bloom filter on, the optimizer builds a
    * bloom over the surviving dim keys and injects `might_contain` on the
    * fact side BELOW its shuffle, so ~99 % of fact rows never hit the wire
    * — the semi-join reduction that decides selective fact⋈dim joins at
    * 100 TB. Deterministic: selectivity comes from the id space. */
  def bloomBenchJoin(spark: org.apache.spark.sql.SparkSession,
      rows: Long = 20000000L): DataFrame = {
    // xxhash64 payloads: pseudo-random bytes so the fact shuffle does not
    // compress away — the A/B measures wire reduction, not lz4 luck. The
    // dim's key is a HASH of its row id while the predicate column is a
    // direct function of the id: were the predicate any deterministic
    // function of the join key itself, Catalyst's constraint propagation
    // would prune the fact side statically and no runtime filter could
    // ever matter (verified — it rewrites even hash-wrapped predicates).
    val fact = spark.range(0, rows)
      .select(pmod(xxhash64(col("id")), lit(1000000L)).as("k"),
        xxhash64(col("id"), lit(1)).as("p1"), xxhash64(col("id"), lit(2)).as("p2"))
    val dim = spark.range(0, 1000000L)
      .select(pmod(xxhash64(col("id")), lit(1000000L)).as("k"), (col("id") % 100).as("cat"))
      .where(col("cat") === 7)
    fact.join(dim, "k")
      .groupBy("cat")
      // reduce mod a small base before summing: full-range longs overflow
      // an ANSI sum; the payloads still cross the wire uncompressed
      .agg(count(lit(1)).as("n"),
        sum(pmod(col("p1"), lit(1000003L)) + pmod(col("p2"), lit(1000003L))).as("s"))
  }

  /** Exact distinct count per key that never concentrates a key's values in
    * one task: stage 1 groups by (keys..., hash(value) % shards) and counts
    * distinct values within the shard, stage 2 sums the shard counts. Each
    * distinct value maps to exactly ONE shard, so the sum is exact — unlike
    * salting with a random salt, which would double-count a value appearing
    * under two salts. Output column is named `out`.
    */
  def saltedDistinctCount(df: DataFrame, keys: Seq[String], valueCol: String,
      shards: Int, out: String): DataFrame = {
    require(shards > 0, "shards must be positive")
    df.withColumn("__shard", pmod(xxhash64(col(valueCol)), lit(shards)).cast("int"))
      .groupBy((keys :+ "__shard").map(col): _*)
      .agg(count_distinct(col(valueCol)).as("__n"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__n")).as(out))
  }
}

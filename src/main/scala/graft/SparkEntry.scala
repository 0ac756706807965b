package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dp.DpParams
import graft.oracle.{IndexOracles, ModelOracles}
import graft.operators.{AsOfJoin, CoreOps, Dedup, DpHistogram, GraphOps, Multimodal, RangeJoin, Sessionize, Similarity, SkewOps, TextOps}

/** Driver contract: one entry per implemented operator from SURVEY §2, each
  * paired (where SQL-expressible) with an equivalent DuckDB oracle query in
  * [[graft.oracle.OracleSql.all]]. All queries are fully deterministic: zero-noise
  * (or seeded) DP modes, total ORDER BY on both sides, and decimal-exact
  * aggregation wherever a double sum would be association-order sensitive.
  */
object SparkEntry {

  // Pipeline constants shared by Spark queries and oracle SQL.
  private[graft] val BoundC = 50L // per-user contribution bound (B1)
  private[graft] val ClampL = 100.0 // per-record clamp (P3)
  private[graft] val MuGate = 72L // unique-user release threshold for the T=1 gate query
  private val Epochs = 32 // day-of-month epochs for events (1..30 used)
  private[graft] val RangeWindowUs = 21600000000L // 6h attribution window for j2 (µs)
  private[graft] val SessionGapUs = 43200000000L // 12h inactivity gap for s4 (µs)

  /** Flagship on sf0.001 (driver smoke-checks rows > 0): the full σ=0 DP-SQLP
    * word-count pipeline — tokenize → bound → clamp → epoched DP histogram. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val words = CoreOps.tokenize(docs, "text")
      .select(col("word"), col("doc_id").cast("string").as("user_id"),
        (col("doc_id") % 8).cast("int").as("epoch"), lit(1.0).as("value"))
    val bounded = CoreOps.boundContributions(words, "user_id", "word", 1000L)
      .withColumn("value", CoreOps.clamp(col("value"), 1.0))
    val preAgg = CoreOps.preAggregatePrevEpoch(bounded, "word", "epoch", "user_id", "value")
    DpHistogram.run(spark, preAgg, DpParams.zeroNoise(8))
  }

  /** day-of-month epoch for the events table, cast long on both sides. */
  private def withEpoch(events: DataFrame): DataFrame =
    events.withColumn("epoch", dayofmonth(col("ts")).cast("long"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = coreQueries ++ llmQueries

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- P1: tokenizer flatMap over documents ----
    "p1_tokenize_wordcount" -> ((s, d) => {
      CoreOps.tokenize(Tables.documents(s, d), "text")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy("word")
    }),

    // ---- P3: per-record clamp then aggregate ----
    "p3_clamp_histogram" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(round(sum(CoreOps.clamp(col("value"), ClampL)), 2).as("clamped_sum"))
        .orderBy("event_type")
    }),

    // ---- P4: SHA-256 routing keys ----
    "p4_routing_hash" -> ((s, d) => {
      Tables.events(s, d).select(col("event_type")).distinct()
        .withColumn("routing_key", CoreOps.wordRoutingKey(col("event_type")))
        .orderBy("event_type")
    }),

    // ---- P5: JSON payload parsing ----
    "p5_json_extract" -> ((s, d) => {
      Tables.events(s, d)
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("k").agg(count(lit(1)).as("cnt"))
        .orderBy("k")
    }),

    // ---- B1: contribution bounding (batch row_number semantics) ----
    "b1_bounding_histogram" -> ((s, d) => {
      CoreOps.boundContributions(Tables.events(s, d), "user_id", "event_id", BoundC)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("value_sum"))
        .orderBy("event_type")
    }),

    // C/L_m sweep variant (SURVEY §7.3): tighter bound + non-negative clamp
    "b1_bounding_sweep_c10" -> ((s, d) => {
      CoreOps.boundContributions(Tables.events(s, d), "user_id", "event_id", 10L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          round(sum(CoreOps.clampNonNegative(col("value"), 50.0)), 2).as("clamped_sum"))
        .orderBy("event_type")
    }),

    "b1_user_admitted_counts" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(least(count(lit(1)), lit(BoundC)).as("admitted"))
        .orderBy("user_id")
    }),

    // ---- A2: per-(key, epoch) pre-aggregation with exact distinct users ----
    "a2_preagg" -> ((s, d) => {
      withEpoch(Tables.events(s, d))
        .groupBy(col("event_type").as("key"), col("epoch"))
        .agg(round(sum(col("value")), 2).as("delta_v"),
          countDistinct(col("user_id")).as("unique_users"))
        .orderBy("key", "epoch")
    }),

    // ---- A6: exact unique-user statistic ----
    "a6_unique_users" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("event_type").agg(countDistinct(col("user_id")).as("unique_users"))
        .orderBy("event_type")
    }),

    // ---- A1-A4 composed: full DP pipeline, sigma=0, mu=0, day epochs ----
    "dp_sigma0_mu0_histogram" -> ((s, d) => {
      val bounded = CoreOps.boundContributions(Tables.events(s, d), "user_id", "event_id", BoundC)
        .withColumn("value", CoreOps.clamp(col("value"), ClampL))
      val preAgg = CoreOps.preAggregatePrevEpoch(withEpoch(bounded), "event_type", "epoch", "user_id", "value")
      DpHistogram.run(s, preAgg, DpParams.zeroNoise(Epochs))
    }),

    // ---- Algo 1 gate: sigma=0, T=1, mu: released iff distinct users >= mu ----
    "dp_sigma0_mu_gate" -> ((s, d) => {
      val keyed = Tables.events(s, d)
        .select(get_json_object(col("props"), "$.k").cast("long").cast("string").as("key"),
          col("user_id").cast("string").as("user_id"), lit(0L).as("epoch"), lit(1.0).as("value"))
      val preAgg = CoreOps.preAggregatePrevEpoch(keyed, "key", "epoch", "user_id", "value")
      DpHistogram.run(s, preAgg, DpParams.zeroNoise(1, mu = MuGate))
        // key is numeric-as-string; order numerically for a stable compare
        .select(col("key").cast("long").as("key"), col("count"))
        .orderBy(col("count").desc, col("key"))
    }),

    // ---- carried-forward per-epoch timeline (sigma=0 mu=0 streaming replay) ----
    "dp_carryforward_timeline" -> ((s, d) => {
      val preAgg = withEpoch(Tables.events(s, d))
        .groupBy(col("event_type").as("key"), col("epoch"))
        .agg(sum(col("value")).as("delta_v"))
      CoreOps.carryForwardTimeline(preAgg)
        .withColumn("cum_sum", round(col("cum_sum"), 2))
        .orderBy("epoch", "key")
    }),

    // ---- A3/A4 timeline operator: per-epoch released sums (sigma=0 mu=0 ⇒
    //      every epoch with data releases the cumulative sum) ----
    "dp_timeline_releases" -> ((s, d) => {
      // unit counts (not `value`): fractional sums can land exactly on a .5
      // rounding boundary where a 1-ulp cross-engine difference flips the
      // integer — integer-valued sums are exact in both engines
      val unit = withEpoch(Tables.events(s, d)).withColumn("one", lit(1.0))
      val preAgg = CoreOps.preAggregatePrevEpoch(unit, "event_type", "epoch", "user_id", "one")
      DpHistogram.timeline(s, preAgg, DpParams.zeroNoise(Epochs))
        .orderBy("epoch", "key")
    }),

    // ---- M3: partial-histogram merge (two-phase aggregation) ----
    "m3_partial_merge" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type").as("key"), (col("user_id") % 4).as("shard"))
        .agg(count(lit(1)).as("pc"))
        .groupBy("key").agg(sum(col("pc")).as("count"))
        .orderBy("key")
    }),

    // ---- T1/T2: histogram sort + top-k ----
    "t2_topk_words" -> ((s, d) => {
      CoreOps.tokenize(Tables.documents(s, d), "text")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(20)
    }),

    // ---- §2.7: utility metrics L0/Linf/L1/L2 via full-outer join ----
    "utility_metrics" -> ((s, d) => {
      // floor(x+0.5) on BOTH sides: pins one rounding semantics (java
      // Math.round) — SQL round() half-away-from-zero can differ on
      // negative .5 sums between engines
      val bounded = CoreOps.boundContributions(Tables.events(s, d), "user_id", "event_id", BoundC)
        .withColumn("value", CoreOps.clamp(col("value"), ClampL))
        .groupBy(col("event_type").as("key"))
        .agg(floor(sum(col("value")) + lit(0.5)).cast("long").as("count"))
      val truth = Tables.events(s, d)
        .groupBy(col("event_type").as("key"))
        .agg(floor(sum(col("value")) + lit(0.5)).cast("long").as("count"))
      CoreOps.utilityMetrics(bounded, truth)
        .select(col("l0"), round(col("linf"), 2).as("linf"),
          round(col("l1"), 2).as("l1"), round(col("l2"), 4).as("l2"))
    }),

    // ---- relational surface: aggregation, joins, windows, pushdown ----
    "q_tpch1_pricing" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q_join_mktsegment_revenue" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = broadcast(Tables.customer(s, d))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy("c_mktsegment")
    }),

    "q_semi_anti_counts" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).select(col("o_custkey")).distinct()
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .agg(sum(when(col("o_custkey").isNotNull, 1L).otherwise(0L)).as("with_orders"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("without_orders"))
    }),

    "q_window_running_qty" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // (l_orderkey, l_linenumber) is NOT unique in this synthetic data —
      // the window order lists every payload column so the cumulative sum is
      // well-defined as a multiset, and the final sort appends running_qty to
      // break remaining full-duplicate ties deterministically.
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_partkey"))
      Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity").cast("decimal(18,2)")).over(w).cast("double").as("running_qty"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("running_qty"))
    }),

    "q_pushdown_filtered_agg" -> ((s, d) => {
      Tables.lineitem(s, d)
        .where(col("l_returnflag") === "A")
        .groupBy(year(col("l_shipdate")).cast("long").as("yr"),
          month(col("l_shipdate")).cast("long").as("mo"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
        .orderBy("yr", "mo")
    }),

    "q_rollup_order_priority" -> ((s, d) => {
      Tables.orders(s, d)
        .rollup(year(col("o_orderdate")).cast("long").as("yr"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy(col("yr").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    }),

    // ---- deterministic per-key sampling: at most 5 events per user ----
    "q_capped_sample" -> ((s, d) => {
      CoreOps.sampleDeterministicPerKey(Tables.events(s, d), "user_id", "event_id", 5L)
        .select("user_id", "event_id")
        .orderBy("user_id", "event_id")
    }),

    // ---- deterministic train/val/test split by id hash ----
    "q_hash_split" -> ((s, d) => {
      CoreOps.hashSplit(Tables.documents(s, d), "doc_id",
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .groupBy("split").agg(count(lit(1)).as("cnt"))
        .orderBy("split")
    }),

    // ---- deterministic contiguous global row index without a global sort ----
    "q_global_index" -> ((s, d) => {
      CoreOps.globalRowIndex(
          Tables.orders(s, d).select("o_orderkey", "o_totalprice"), Seq("o_orderkey"))
        .select(col("o_orderkey"), col("idx"))
        .orderBy("o_orderkey")
    }),

    // ---- key-level upsert (incremental corpus refresh) ----
    "q_upsert" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val updates = docs.where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), concat(lit("updated-"), col("doc_id").cast("string")).as("text"))
      CoreOps.upsertByKey(docs, updates, Seq("doc_id"))
        .orderBy("doc_id")
    }),

    // ---- corpus snapshot diff: recover the add/remove/change delta
    //      between two materialized snapshots (the audit step of an
    //      incremental build; q_upsert APPLIES a delta, this recovers one) ----
    "q_corpus_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val oldSnap = docs.where(col("doc_id") % 13 =!= 0)
      val newSnap = docs.where(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0,
            concat(lit("updated-"), col("doc_id").cast("string")))
            .otherwise(col("text")).as("text"))
      CoreOps.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- deterministic negative sampling (contrastive pairs; same-label
    //      pairs are the forbidden positives) ----
    "q_negative_pairs" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 10)
      val positives = queries.select(col("vec_id").as("ql"), col("label"))
        .join(emb.select(col("vec_id").as("pr"), col("label")), "label")
        .select(col("ql"), col("pr"))
      CoreOps.negativeSamples(queries, "vec_id", emb, "vec_id",
          positives, "ql", "pr", k = 8)
        .orderBy("query_id", "slot", "neg_id")
    }),

    // ---- stratified Bernoulli sampling (training-mix balancing) ----
    "q_stratified_sample" -> ((s, d) => {
      CoreOps.stratifiedSample(Tables.documents(s, d), "lang", "doc_id",
          Map("en" -> 50), defaultPct = 10)
        .groupBy("lang").agg(count(lit(1)).as("cnt"))
        .orderBy("lang")
    }),

    // ---- temperature-flattened source mixing: n_i = ⌊N·√c_i / Σ√c⌋ slots
    //      per source (α = ½ multinomial re-weighting), slots filled by the
    //      shared deterministic md5-rank; the allocation itself is exact
    //      integer math over q6-fixed square roots ----
    "q_temperature_mix" -> ((s, d) => {
      CoreOps.temperatureMixSample(Tables.documents(s, d), "source", "doc_id", 200L)
        .orderBy("source", "doc_id")
    }),

    // ---- weighted sampling without replacement (Efraimidis–Spirakis
    //      A-ES): k docs drawn ∝ n_chars via deterministic md5-exponential
    //      keys — the size-biased sample a token-budgeted mix draws ----
    "q_weighted_sample" -> ((s, d) => {
      CoreOps.weightedSample(Tables.documents(s, d), "doc_id", "n_chars", 100)
        .orderBy("rank")
    }),

    // ---- per-group winsorization (outlier-robust feature clamping) ----
    "q_winsorize" -> ((s, d) => {
      val w = CoreOps.winsorize(Tables.events(s, d).select("event_type", "value"),
        "event_type", "value", 0.05, 0.95)
      w.groupBy("event_type").agg(
          count(lit(1)).as("cnt"), min("value").as("min_v"), max("value").as("max_v"))
        .orderBy("event_type")
    }),

    // ---- sequence packing: doc → training-chunk provenance map. Tokens
    //      are whitespace tokens (x1 accounting); 128-token chunks. ----
    "q_pack_sequences" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      CoreOps.packSequences(docs, "doc_id", "n_tokens", chunkTokens = 128L)
        .orderBy("doc_id")
    }),

    // ---- event-type pivot features per user: one shuffle, map-side
    //      partials; conditional aggregation instead of N self-joins ----
    "q_pivot_event_features" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(
          count(when(col("event_type") === "click", 1)).as("n_click"),
          count(when(col("event_type") === "view", 1)).as("n_view"),
          count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
          count(when(col("event_type") === "signup", 1)).as("n_signup"),
          count(when(col("event_type") === "error", 1)).as("n_error"),
          sum(when(col("event_type") === "purchase", col("value"))).as("purchase_value"))
        .orderBy("user_id")
    }),

    // ---- token-budget corpus selection: best-quality docs fully inside
    //      the first 20k tokens of the quality-ordered concatenation ----
    "q_budget_select" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val scored = TextOps.qualityScore(docs, "doc_id", "text").select("doc_id", "quality")
        .join(docs.select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens")), "doc_id")
      CoreOps.selectUnderTokenBudget(scored, "doc_id", "quality", "n_tokens", 20000L)
        .orderBy(col("quality").desc, col("doc_id"))
    }),

    // ---- global quality cut: keep the top-20% quality documents. The
    //      threshold is ONE broadcast scalar, so the corpus is never
    //      sorted — at 100 TB swap percentile → approx_percentile (same
    //      plan shape, sketch-mergeable); exact here for the oracle. ----
    "q_quality_cut" -> ((s, d) => {
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.qualityCol(col("text")).as("quality"))
      val thr = scored.agg(percentile(col("quality"), lit(0.8)).as("thr"))
      scored.crossJoin(broadcast(thr))
        .where(col("quality") >= col("thr"))
        .select("doc_id", "quality")
        .orderBy("doc_id")
    }),

    // ---- vocabulary coverage: the smallest vocabulary (by frequency rank,
    //      lexicographic tiebreak) covering ≥95% of token occurrences — the
    //      tokenizer-design question, on the same single-task-free global
    //      prefix sum as q_budget_select; all-integer math, no float
    //      cumulative shares. ----
    "q_vocab_coverage" -> ((s, d) => {
      val counts = Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
      val (withCum, total) = CoreOps.globalPrefixSumWithTotal(counts,
        Seq(col("cnt").desc, col("token")), "cnt", "cum_before")
      // minimal prefix reaching ⌈95% of total⌉, all-integer on both engines
      val need = (95L * total + 99L) / 100L
      withCum.where(col("cum_before") < need)
        .select("token", "cnt", "cum_before")
        .orderBy(col("cnt").desc, col("token"))
    }),

    // ---- language-balanced training mix: deterministic cap per PREDICTED
    //      language — the signal (x3) feeds the sampler (q_capped_sample's
    //      operator) directly in one projection, no doc_id join ----
    "q_language_mix" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.predictedLangCol(col("text")).as("lang"))
      CoreOps.sampleDeterministicPerKey(docs, "lang", "doc_id", 40L)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // ---- z-order clustering key (multi-dimensional layout locality) ----
    "q_zorder_keys" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
      li.select(col("l_orderkey"), col("l_partkey"),
          operators.ZOrder.normalizedZValue(li, Seq("l_orderkey", "l_partkey"), 16).as("z"))
        .orderBy("l_orderkey", "l_partkey", "z")
    }),

    // ---- exact interpolated percentiles (monitoring/quality dashboards) ----
    "q_value_percentiles" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          percentile(col("value"), lit(0.25)).as("p25"),
          percentile(col("value"), lit(0.5)).as("p50"),
          percentile(col("value"), lit(0.95)).as("p95"))
        .orderBy("event_type")
    }),

    // ---- gap-based sessionization over the event log ----
    "s4_sessionize" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
        .select("event_id", "user_id", "ts_us")
      Sessionize.sessions(ev, "user_id", "ts_us", "event_id", SessionGapUs)
        .orderBy("user_id", "session_id")
    }),

    // ---- interval×interval overlap join: click attention windows (6 h)
    //      overlapping error windows (3 h) per user, via block equi-join
    //      with overlap-start block ownership (no distinct pass) ----
    "j3_overlap_intervals" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("c_event_id"), col("user_id"),
          col("ts_us").as("c_start"), (col("ts_us") + 21600000000L).as("c_end"))
      val errors = ev.where(col("event_type") === "error")
        .select(col("event_id").as("e_event_id"), col("user_id"),
          col("ts_us").as("e_start"), (col("ts_us") + 10800000000L).as("e_end"))
      RangeJoin.intervalOverlapJoin(clicks, errors, Seq("user_id"),
          "c_start", "c_end", "e_start", "e_end", blockWidth = 21600000000L)
        .select("user_id", "c_event_id", "e_event_id")
        .orderBy("user_id", "c_event_id", "e_event_id")
    }),

    // ---- rolling per-key window features (order-exact: lag/count/min/max;
    //      no float re-association across engines) ----
    "q_rolling_user_stats" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val w3 = w.rowsBetween(-2, Window.currentRow)
      Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("n_last3", count(lit(1)).over(w3))
        .withColumn("min_last3", min(col("value")).over(w3))
        .withColumn("max_last3", max(col("value")).over(w3))
        .drop("value")
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // ---- skew-safe exact distinct: per-type unique users via value shards ----
    "q_salted_distinct_users" -> ((s, d) => {
      SkewOps.saltedDistinctCount(Tables.events(s, d), Seq("event_type"),
          "user_id", shards = 16, out = "unique_users")
        .orderBy("event_type")
    }),

    // ---- temporal as-of join: each click ⇒ most recent prior purchase ----
    // µs longs on BOTH engines (`div`/`//` exact integer truncation): the
    // double-division path in Tables.events.ts loses ns precision above 2^53.
    "j1_asof_click_purchase" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      // unique right rows per (user, instant): keep the max event_id, so the
      // match is deterministic in both engines
      val w = Window.partitionBy(col("user_id"), col("p_ts_us"))
        .orderBy(col("p_event_id").desc)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("p_event_id"), col("user_id"),
          col("ts_us").as("p_ts_us"), col("value").as("p_value"))
        .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
      AsOfJoin.backward(clicks, purchases, Seq("user_id"), "ts_us", "p_ts_us")
        .orderBy("event_id")
    }),

    // ---- bucketed range join: clicks within 6h after each error event ----
    "j2_range_clicks_near_error" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"))
      val errors = ev.where(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          col("ts_us").as("start_us"), (col("ts_us") + RangeWindowUs).as("end_us"))
      val pairs = RangeJoin.pointsInIntervals(clicks, errors, Seq("user_id"),
        "ts_us", "start_us", "end_us", RangeWindowUs)
      errors.join(pairs.groupBy("err_id").agg(count(lit(1)).as("n")), Seq("err_id"), "left_outer")
        .select(col("err_id"), col("user_id"), col("start_us"),
          coalesce(col("n"), lit(0L)).as("n_clicks"))
        .orderBy("err_id")
    })
  )

  // LLM-training-data pipeline operators over documents/embeddings.
  private[graft] val ShingleK = 3
  private val LrPrThresholds: Seq[Long] =
    Seq(-2000000L, -1000000L, -500000L, 0L, 500000L, 1000000L, 2000000L)
  private[graft] val NumMinHashes = 8
  private[graft] val NumBands = 4
  private[graft] val JaccardThreshold = 0.5
  // skew guard for d4: shingles in more docs than this generate no candidates
  // (verification still uses full sets — see Dedup.jaccardPairs)
  private[graft] val JaccardMaxDf = 10L
  /** d28's max(cont_a, cont_b) cut, mirrored in its oracle SQL. */
  private[graft] val ContainmentThreshold = 0.9
  private[graft] val CosineNearDupThreshold = 0.4
  private[graft] val HeavyHitterThreshold = 300L
  private[graft] val TopK = 5
  /** ivfTopK's nprobe default, mirrored in the IVF oracle SQL. */
  private[graft] val IvfNprobe = 4
  /** d26 margin-mining neighborhood size, mirrored in its oracle SQL. */
  private[graft] val MarginK = 8

  /** The composed cleaning pipeline behind `e2e_clean_corpus_build` — see
    * the gate's comment for the stage list. The gate persists the
    * twice-cleaned relation (it feeds MinHash signatures, Jaccard
    * verification, and the md5 projection — the single-cluster analogue of
    * the materialization a real 100 TB pipeline does between cleaning and
    * dedup stages); PlanShapeSpec passes `persistCleaned = false` so the
    * exchange audit sees the FULL uncached plan — an InMemoryRelation
    * would hide the cleaning stages' internals from the formatted explain. */
  private[graft] def cleanCorpusBuild(s: SparkSession, d: String,
      persistCleaned: Boolean): DataFrame = {
    val docs = Tables.documents(s, d)
    val evalSet = docs.where(col("doc_id") % 11 === 0)
    val corpus = docs.where(col("doc_id") % 11 =!= 0)
    val decon = Dedup.stripSpans(corpus, "doc_id", "text",
        Dedup.contaminationSpans(corpus, evalSet, "doc_id", "text", n = 8))
      .withColumnRenamed("clean_text", "text")
    val cleanedPlan = Dedup.stripDuplicateSpans(decon, "doc_id", "text", n = 8)
      .withColumnRenamed("clean_text", "text")
    val cleaned =
      if (persistCleaned) cleanedPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else cleanedPlan
    val sigs = Dedup.minHashSignatures(cleaned, "doc_id", "text", ShingleK, NumMinHashes)
    val candidates = Dedup.lshCandidatePairs(sigs, NumMinHashes, NumBands)
    val pairs = Dedup.verifyCandidatesJaccard(cleaned, "doc_id", "text", ShingleK,
      candidates, JaccardThreshold)
    val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("doc_id").as("cid"), col("component"))
    val members = comp.groupBy("component").agg(count(lit(1)).as("n_members"))
      .withColumnRenamed("component", "mcomp")
    // md5 is projected BEFORE the survivor join so the join (and every
    // exchange after it) carries (doc_id, clean_md5) — never the cleaned
    // text itself.
    cleaned.select(col("doc_id"), md5(col("text")).as("clean_md5"))
      .join(comp, col("doc_id") === col("cid"), "left")
      .where(col("component").isNull || col("doc_id") === col("component"))
      .join(members, col("doc_id") === col("mcomp"), "left")
      .withColumn("n_members", coalesce(col("n_members"), lit(1L)))
      .transform(CoreOps.hashSplit(_, "doc_id", Seq("train" -> 80, "val" -> 10, "test" -> 10)))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("source"), col("n_members"), col("split"),
        col("clean_md5"))
      .orderBy("doc_id")
  }

  private def llmQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- exact dedup: content-fingerprint groups ----
    "d1_exact_dedup_groups" -> ((s, d) => {
      Dedup.exactDuplicateGroups(Tables.documents(s, d), "doc_id", "text")
        .orderBy("fingerprint")
    }),

    // ---- MinHash signatures (long format) ----
    "d2_minhash_signatures" -> ((s, d) => {
      Dedup.minHashSignatures(Tables.documents(s, d), "doc_id", "text", ShingleK, NumMinHashes)
        .orderBy("doc_id", "j")
    }),

    // ---- MinHash + LSH banding + candidates-only exact-Jaccard verification ----
    "d2_minhash_lsh_pairs" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", ShingleK, NumMinHashes)
      val candidates = Dedup.lshCandidatePairs(sigs, NumMinHashes, NumBands)
      Dedup.verifyCandidatesJaccard(docs, "doc_id", "text", ShingleK, candidates, JaccardThreshold)
        .orderBy("doc_a", "doc_b")
    }),

    // ---- dedup survivor selection: components over verified LSH pairs ----
    "d10_dedup_components" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", ShingleK, NumMinHashes)
      val candidates = Dedup.lshCandidatePairs(sigs, NumMinHashes, NumBands)
      val pairs = Dedup.verifyCandidatesJaccard(docs, "doc_id", "text", ShingleK,
        candidates, JaccardThreshold)
      Dedup.connectedComponents(pairs, "doc_a", "doc_b").orderBy("doc_id")
    }),

    // ---- the deduplicated corpus itself: survivors = component minima +
    //      all untouched singletons. The step a pipeline actually
    //      materializes; components join back ids-only (left join on the
    //      id, survivors pass where the label is absent or equals self) ----
    "d10b_dedup_survivors" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", ShingleK, NumMinHashes)
      val candidates = Dedup.lshCandidatePairs(sigs, NumMinHashes, NumBands)
      val pairs = Dedup.verifyCandidatesJaccard(docs, "doc_id", "text", ShingleK,
        candidates, JaccardThreshold)
      val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .select(col("doc_id").as("cid"), col("component"))
      docs.join(comp, col("doc_id") === col("cid"), "left")
        .where(col("component").isNull || col("doc_id") === col("component"))
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // ---- quality-aware survivor selection: keep the LONGEST doc of each
    //      near-dup cluster (ties to lowest id) instead of the min-id — the
    //      keep-the-best rule that stops a truncated copy shadowing its
    //      full original; singletons pass through ----
    "d10c_quality_survivors" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", ShingleK, NumMinHashes)
      val candidates = Dedup.lshCandidatePairs(sigs, NumMinHashes, NumBands)
      val pairs = Dedup.verifyCandidatesJaccard(docs, "doc_id", "text", ShingleK,
        candidates, JaccardThreshold)
      Dedup.bestSurvivors(docs, pairs, "doc_id", "doc_a", "doc_b", "n_chars")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // ---- leakage-safe split: near-dup components never straddle splits ----
    "q_leakage_safe_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", ShingleK, NumMinHashes)
      val candidates = Dedup.lshCandidatePairs(sigs, NumMinHashes, NumBands)
      val pairs = Dedup.verifyCandidatesJaccard(docs, "doc_id", "text", ShingleK,
        candidates, JaccardThreshold)
      Dedup.leakageSafeSplit(docs.select("doc_id"), "doc_id", pairs, "doc_a", "doc_b",
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .select("doc_id", "split")
        .orderBy("doc_id")
    }),

    // ---- the FULL near-dup pipeline a 100 TB corpus actually runs, as ONE
    //      composed query: MinHash signatures (zero-shuffle native) → LSH
    //      band-bucket candidates → exact Jaccard verify (ids+hash-sets
    //      only) → connected components → survivors (component minima +
    //      singletons, with member counts) → deterministic split. Text
    //      never shuffles at any stage (pinned by PlanShapeSpec); the
    //      DuckDB oracle re-derives every stage including the recursive
    //      component closure. ----
    "e2e_neardup_build" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", ShingleK, NumMinHashes)
      val candidates = Dedup.lshCandidatePairs(sigs, NumMinHashes, NumBands)
      val pairs = Dedup.verifyCandidatesJaccard(docs, "doc_id", "text", ShingleK,
        candidates, JaccardThreshold)
      val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .select(col("doc_id").as("cid"), col("component"))
      val members = comp.groupBy("component").agg(count(lit(1)).as("n_members"))
        .withColumnRenamed("component", "mcomp")
      docs.join(comp, col("doc_id") === col("cid"), "left")
        .where(col("component").isNull || col("doc_id") === col("component"))
        .join(members, col("doc_id") === col("mcomp"), "left")
        .withColumn("n_members", coalesce(col("n_members"), lit(1L)))
        // survivors are their own component representative, so the id-keyed
        // split IS the leakage-safe assignment (a component's one survivor
        // carries the whole component)
        .transform(CoreOps.hashSplit(_, "doc_id", Seq("train" -> 80, "val" -> 10, "test" -> 10)))
        .select("doc_id", "source", "n_members", "split")
        .orderBy("doc_id")
    }),

    // ---- the FULL cleaning pipeline a real 100 TB training-data build
    //      runs, composed end-to-end as ONE query: span-level eval-set
    //      decontamination (d15's windows, stripped rather than reported) →
    //      duplicate-span stripping (d14b, computed ON the decontaminated
    //      text) → MinHash/LSH near-dup dedup over the twice-cleaned text →
    //      connected components → survivor selection → deterministic
    //      id-keyed split (survivors are component representatives, so the
    //      id split IS leakage-safe) — with the final cleaned text pinned
    //      by md5 in the output. The DuckDB oracle re-derives every stage,
    //      including both strip passes and the recursive component
    //      closure; PlanShapeSpec pins that neither text nor token arrays
    //      enter any exchange at any stage. ----
    "e2e_clean_corpus_build" -> ((s, d) => cleanCorpusBuild(s, d, persistCleaned = true)),

    // ---- MinHash Jaccard estimator over LSH candidates (the cheap
    //      pre-verification threshold a production dedup applies first) ----
    "d13_minhash_estimate" -> ((s, d) => {
      val sigs = Dedup.minHashSignatures(Tables.documents(s, d), "doc_id", "text",
        ShingleK, NumMinHashes)
      val candidates = Dedup.lshCandidatePairs(sigs, NumMinHashes, NumBands)
      Dedup.estimateJaccard(sigs, candidates, NumMinHashes)
        .orderBy("doc_a", "doc_b")
    }),

    // ---- duplicate-SPAN detection (substring-level dedup): maximal runs
    //      of 8-token windows recurring >= 2 times corpus-wide — the
    //      boilerplate/license regions document-level dedup cannot see ----
    "d14_duplicate_spans" -> ((s, d) => {
      Dedup.duplicateSpans(Tables.documents(s, d), "doc_id", "text",
          n = 8, minOccurrences = 2)
        .orderBy("doc_id", "span_start")
    }),

    // ---- span-dedup remediation: duplicated spans cut out of the text,
    //      whitespace-normalized; full strings hash-compared ----
    "d14b_strip_spans" -> ((s, d) => {
      Dedup.stripDuplicateSpans(Tables.documents(s, d), "doc_id", "text",
          n = 8, minOccurrences = 2)
        .orderBy("doc_id")
    }),

    // ---- span-level decontamination: corpus regions whose 8-token
    //      windows appear verbatim in the eval split (doc_id % 11 == 0 —
    //      sized so real contamination exists at every gate scale),
    //      merged to maximal spans ----
    "d15_decontaminate_spans" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationSpans(
          docs.where(col("doc_id") % 11 =!= 0), docs.where(col("doc_id") % 11 === 0),
          "doc_id", "text", n = 8)
        .orderBy("doc_id", "span_start")
    }),

    // ---- per-document contamination coverage: the fraction of each corpus
    //      doc's token positions inside some eval-set-matched span — the
    //      metric a pipeline thresholds to choose strip-vs-drop; every
    //      corpus doc gets a row (0.0 when clean) ----
    "d15b_contamination_fraction" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationFraction(
          docs.where(col("doc_id") % 11 =!= 0), docs.where(col("doc_id") % 11 === 0),
          "doc_id", "text", n = 8)
        .orderBy("doc_id")
    }),

    // ---- SimHash fingerprints ----
    "d3_simhash" -> ((s, d) => {
      Dedup.simHash(Tables.documents(s, d), "doc_id", "text").orderBy("doc_id")
    }),

    // ---- SimHash Hamming near-dup pairs via the multi-index pigeonhole
    //      join: 60-bit native fingerprints, 4×15-bit block buckets
    //      (candidates = equi-join, never all-pairs), exact bit_count
    //      verify at candidate cardinality. The bucket-frequency cap (50)
    //      is the jaccardPairs df-cap pattern — inert at this sf (max
    //      bucket 27), load-bearing on chrome-heavy corpora. ----
    "d3b_hamming_neardup_pairs" -> ((s, d) => {
      Dedup.simHashHammingPairs(Tables.documents(s, d), "doc_id", "text",
          radius = 3, maxBlockFrequency = 50L)
        .orderBy("doc_a", "doc_b")
    }),

    // ---- n-gram Jaccard near-dup pairs (exact values, df-capped candidates) ----
    "d4_jaccard_pairs" -> ((s, d) => {
      Dedup.jaccardPairs(Tables.documents(s, d), "doc_id", "text", ShingleK, JaccardThreshold,
          maxDocFrequency = JaccardMaxDf)
        .orderBy("doc_a", "doc_b")
    }),

    // ---- shingle containment (the asymmetric near-dup Jaccard misses):
    //      every % 9 doc gets a planted EXCERPT (its first half) whose
    //      Jaccard vs the original is ~0.5 but whose containment is
    //      exactly 1 — the quotation/concatenation family ----
    "d28_containment_pairs" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val nTok = size(split(col("text"), " "))
      val excerpts = docs.where(col("doc_id") % 9 === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          array_join(slice(split(col("text"), " "), lit(1),
            greatest(lit(6), (nTok / lit(2)).cast("int"))), " ").as("text"))
      Dedup.containmentPairs(docs.unionByName(excerpts), "doc_id", "text",
          ShingleK, ContainmentThreshold, maxDocFrequency = JaccardMaxDf)
        .orderBy("doc_a", "doc_b")
    }),

    // ---- containment edges CONSUMED (d28's remediation): survivors over
    //      the Jaccard ∪ containment edge closure — the planted excerpts
    //      land in their original's component and are REMOVED, which plain
    //      Jaccard dedup provably does not do at the same threshold ----
    "d29_containment_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val nTok = size(split(col("text"), " "))
      val excerpts = docs.where(col("doc_id") % 9 === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          array_join(slice(split(col("text"), " "), lit(1),
            greatest(lit(6), (nTok / lit(2)).cast("int"))), " ").as("text"))
      Dedup.survivorsWithContainment(docs.unionByName(excerpts), "doc_id", "text",
          ShingleK, NumMinHashes, NumBands, JaccardThreshold, ContainmentThreshold,
          maxDocFrequency = JaccardMaxDf)
        .orderBy("doc_id")
    }),

    // ---- containment remediation, STRIP form (d29's drop
    //      alternative): every % 9 doc gets a planted HOST — its full
    //      text quoted verbatim plus a 12-token novel commentary trailer.
    //      The host survives with the quote cut (only the trailer
    //      remains); the quoted original survives intact — drop-vs-strip
    //      is the pipeline decision this gate pins against d29. ----
    "d29b_containment_strip" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val trailer = concat_ws(" ", "abcdefghijkl".map(c =>
        concat(lit(s"zzq$c"), col("doc_id").cast("string"))): _*)
      val hosts = docs.where(col("doc_id") % 9 === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          concat(col("text"), lit(" "), trailer).as("text"))
      Dedup.stripContainedSpans(docs.unionByName(hosts), "doc_id", "text",
          ShingleK, ContainmentThreshold, maxDocFrequency = JaccardMaxDf, n = 8)
        .orderBy("doc_id")
    }),

    // ---- brute-force cosine top-k (ANN correctness baseline) ----
    "d5_cosine_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.bruteForceTopK(emb, queries, TopK)
        .orderBy("query_id", "rank")
    }),

    // ---- margin-based aligned-pair mining (Artetxe–Schwenk ratio margin,
    //      mutual-best): even-id vectors are the source side, odd-id the
    //      target — the cross-corpus alignment step of a parallel-data
    //      pipeline. Margins are one IEEE division of exact q6 longs. ----
    "d26_margin_pairs" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val a = emb.where(col("vec_id") % 2 === 0).select(col("vec_id"), col("embedding"))
      val b = emb.where(col("vec_id") % 2 === 1).select(col("vec_id"), col("embedding"))
      Similarity.marginMinedPairs(a, b, MarginK).orderBy("src_id")
    }),

    // ---- robust per-source quality calibration: (x − median)/MAD with
    //      BOTH medians exact via the quantized-histogram trick — outlier-
    //      resistant cross-source score normalization, zero corpus sorts.
    //      MAD = 0 sources emit NULL z by contract. ----
    "q_robust_quality_z" -> ((s, d) => {
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          TextOps.qualityCol(col("text")).as("quality"))
        .localCheckpoint() // three consumers (median, MAD, final join)
      CoreOps.robustZScore(scored, "source", "quality")
        .select("doc_id", "source", "quality", "median", "mad", "robust_z")
        .orderBy("doc_id")
    }),

    // ---- label-collision-free contrastive batches: at most one row per
    //      label per batch (the in-batch-negatives validity condition —
    //      a same-label batchmate is a false negative), deterministic
    //      two-level layer/chunk scheme, batches of ≤16. ----
    "q_contrastive_batches" -> ((s, d) => {
      CoreOps.contrastiveBatches(Tables.embeddings(s, d), "vec_id", "label",
          batchSize = 16)
        .orderBy("vec_id")
    }),

    // ---- dimension-truncation recall (Matryoshka design measurement):
    //      recall@k of prefix-dimension cosine ranking vs the full-dim
    //      exact ranking, per budget {8,16,32,64} — decides how many
    //      dimensions the index must store and ship; the full budget
    //      anchors at 1.0. ----
    "q_dim_truncation_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.dimTruncationRecall(emb, queries, Seq(8, 16, 32, 64), TopK)
        .orderBy("k_dim")
    }),

    // ---- chance-corrected agreement between two quality signals: Cohen's
    //      kappa over the heuristic-quality quartile vs the bigram-LM
    //      difficulty quartile (both via the exact integer NTILE) — the
    //      redundant-or-complementary decision for a signal ensemble;
    //      kappa's numerator/denominator are exact longs ----
    "q_signal_kappa" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val qa = CoreOps.curriculumPhases(
          docs.select(col("doc_id"), TextOps.qualityCol(col("text")).as("q")),
          Seq("q", "doc_id"), 4)
        .select(col("doc_id"), col("phase").as("phase_a"))
      val qb = CoreOps.curriculumPhases(
          TextOps.bigramPerplexity(docs, "doc_id", "text").select("doc_id", "avg_nll"),
          Seq("avg_nll", "doc_id"), 4)
        .select(col("doc_id"), col("phase").as("phase_b"))
      CoreOps.agreementKappa(qa, qb, "doc_id", "phase_a", "phase_b")
    }),

    // ---- c-TF-IDF cluster topic labeling (BERTopic-style): each k-means
    //      cluster treated as one pseudo-document, terms ranked by
    //      tf_cw · ln(1 + avg_tokens_per_cluster / f_w) — the step that
    //      names semantic clusters after curation; scores are exact long
    //      products of a q6-fixed per-word idf ----
    oracled("q_cluster_topics") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val centroids = ivfCentroids(emb)
      val labels = Similarity.kmeansAssign(emb, centroids)
        .select(col("vec_id").as("doc_id"), col("cluster"))
      (TextOps.classTfidfTopTerms(Tables.documents(s, d), "doc_id", "text",
          labels, nClasses = 16, topM = 3)
        .orderBy("cluster", "rank"), IndexOracles.ivfOracleSql(centroids))
    },

    // ---- ANALYZE for the vector side: per-dimension mean/variance/min/
    //      max from the same exact q6-long moment sums as the PCA trainer
    //      — the diagnostic that motivates (or retires) a trained
    //      rotation ----
    "q_embedding_profile" -> ((s, d) => {
      Similarity.embeddingProfile(Tables.embeddings(s, d), 64).orderBy("dim")
    }),

    // ---- in-engine PCA: top-8 principal components trained over the
    //      embedding corpus (exact q6-long moment sums via treeAggregate,
    //      driver-side power iteration at dim² cardinality — the x12/x13
    //      train-in-engine contract); projection is a pure zero-shuffle
    //      map over broadcast-literal model arrays ----
    oracled("q_pca_project") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val (mean, comps) = Similarity.trainPca(emb, 64, 8)
      (Similarity.pcaProject(emb, mean, comps).orderBy("vec_id", "pc"),
        IndexOracles.pcaOracleSql(mean, comps))
    },

    // ---- the measurement PCA exists for: recall@k of the 8-dim LEARNED
    //      rotation vs the naive 8-dim prefix truncation, both against the
    //      full-dim exact ranking — the "train a rotation or not" decision
    //      for a reduced-dimension index ----
    oracled("q_pca_recall") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (mean, comps) = Similarity.trainPca(emb, 64, 8)
      (Similarity.pcaVsPrefixRecall(emb, queries, mean, comps, TopK).orderBy("method"),
        IndexOracles.pcaOracleSql(mean, comps))
    },

    // ---- the composed reduced-dimension ANN index (the 100 TB build
    //      recipe): PCA-project → IVF coarse-quantize IN THE PROJECTED
    //      SPACE → candidates from nprobe projected cells → EXACT
    //      full-dim rescore; both trained models exported to the oracle ----
    oracled("d22_reduced_ivf_topk") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val model = Similarity.trainReducedModel(emb)
      (Similarity.reducedProbeTopK(emb, Similarity.reducedIndexOf(emb, model), model,
          queries, TopK, IvfNprobe).orderBy("query_id", "rank"),
        IndexOracles.reducedIvfOracleSql(model))
    },

    // ---- recall@k of the reduced-dimension index against the exact
    //      ranking — the acceptance measurement for the composed design ----
    oracled("q_reduced_ivf_recall") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val model = Similarity.trainReducedModel(emb)
      (annRecall(emb, queries, Similarity.reducedProbeTopK(emb,
          Similarity.reducedIndexOf(emb, model), model, queries, TopK, IvfNprobe)),
        IndexOracles.reducedIvfOracleSql(model))
    },

    // ---- MAINTAINED reduced-dimension index lifecycle in one query
    //      (the d18 treatment for d22): the model
    //      (PCA rotation + reduced centroids) trains ONCE on the pre-epoch
    //      base and FREEZES; the index is built, an ingest epoch APPENDED
    //      (frozen-model assignment — no retraining), a right-to-be-
    //      forgotten set DELETED (one broadcast anti-join), and ANN probes
    //      served against the maintained rows. The oracle recomputes
    //      assignment over the filtered corpus from the EXPORTED frozen
    //      model, so the gate proves append==rebuild AND delete==rebuild
    //      end-to-end — the q_bm25_delete_search pattern for the vector
    //      side. ----
    oracled("d23_maintained_reduced_topk") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val base = emb.where(col("vec_id") % 7 =!= 3)
      val epoch = emb.where(col("vec_id") % 7 === 3)
      val model = Similarity.trainReducedModel(base)
      val idx = Similarity.reducedIndexDelete(
        Similarity.reducedIndexAppend(
          Similarity.reducedIndexOf(base, model), epoch, model),
        emb.where(col("vec_id") % 11 === 5).select("vec_id"), "vec_id")
      (Similarity.reducedProbeTopK(emb, idx, model,
          emb.where(col("vec_id") < 10)
            .select(col("vec_id").as("query_id"), col("embedding")),
          k = TopK, nprobe = IvfNprobe)
        .orderBy("query_id", "rank"), IndexOracles.maintainedReducedOracleSql(model))
    },

    // ---- MAINTAINED rotated-PQ index lifecycle (the d23 treatment for
    //      d9e): rotation + codebooks train ONCE on the pre-epoch base
    //      and FREEZE; the index stores m-byte codes per vector; an
    //      ingest epoch's codes APPEND (frozen-codebook encoding — pure
    //      per-row), a right-to-be-forgotten set DELETES, and ADC probes
    //      rank the maintained codes with exact full-dim rescore. The
    //      oracle re-encodes the filtered corpus from the exported frozen
    //      model — append==rebuild AND delete==rebuild proven end-to-end. ----
    oracled("d24_maintained_pq_topk") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val base = emb.where(col("vec_id") % 7 =!= 3)
      val epoch = emb.where(col("vec_id") % 7 === 3)
      val model = Similarity.trainReducedPqModel(base)
      val idx = Similarity.reducedPqIndexDelete(
        Similarity.reducedPqIndexAppend(
          Similarity.reducedPqIndexOf(base, model), epoch, model),
        emb.where(col("vec_id") % 11 === 5).select("vec_id"), "vec_id")
      (Similarity.reducedPqProbeTopK(emb, idx, model,
          emb.where(col("vec_id") < 10)
            .select(col("vec_id").as("query_id"), col("embedding")),
          k = TopK)
        .orderBy("query_id", "rank"), IndexOracles.maintainedPqOracleSql(model))
    },

    // ---- frozen-model STALENESS measurement for the maintained reduced
    //      index: the rebuild-trigger number the
    //      "retrains only on scheduled rebuilds" contract leaves open.
    //      The model freezes on the pre-drift base; two APPENDED epochs
    //      carry a deterministic distribution shift (coordinate-reversed
    //      embeddings — reversal preserves within-population cosines, so
    //      drifted queries' true neighbors are drifted vectors, while the
    //      base-trained rotation no longer concentrates their variance);
    //      probe recall@k on drifted queries is measured for the
    //      MAINTAINED (stale-model) index vs a FRESH full rebuild, both
    //      against the exact full-dim ranking. The reported gap is what an
    //      operator alarms on to schedule the rebuild. Oracle: built at
    //      gate time from BOTH exported models (frozen + fresh), replaying
    //      drift, assignment, probes, exact truth, and the recall rollup. ----
    oracled("q_reduced_index_staleness")(reducedStalenessArms),

    // ---- the same staleness measurement for the maintained rotated-PQ
    //      CODES index (d24): frozen rotation+codebooks on the pre-drift
    //      base, two drifted epochs appended as codes, ADC probe recall@k
    //      vs a fresh full retrain+re-encode — the rebuild trigger for the
    //      quantized index family. Oracle built at gate time from BOTH
    //      exported models (rotation, codebooks), replaying drift,
    //      encoding, ADC ranking, rescore, exact truth, and the rollup. ----
    oracled("q_pq_index_staleness")(pqStalenessArms),

    // ---- staleness-triggered REBUILD POLICY (the decision operator on
    //      top of the two measurements): one row per maintained ANN index
    //      family with both arms' recalls, the hit-count gap, and the
    //      rebuild decision — gap ≥ 10% of the expected neighbor mass, as
    //      an exact integer comparison ((fresh−stale)·10 ≥ expected), so
    //      the alarm an operator pages on can never flip on a rounding
    //      boundary. Composes the two existing measurements verbatim;
    //      oracle nests both staleness oracles as derived tables. ----
    //      WALL-TIME ATTRIBUTION: this gate runs
    //      alphabetically BEFORE the two staleness gates, so its first
    //      evaluation pays BOTH shared-arm trainings for the whole
    //      staleness family (their once-per-(JVM, sf) memo) — in a
    //      full sweep its wall reads train+probe while task_time shows
    //      only the probe; the staleness gates later in the same sweep
    //      read probe-only. Not a regression signal.
    oracled("q_index_rebuild_policy") { (s, d) =>
      val (red, redOracle) = reducedStalenessArms(s, d)
      val (pq, pqOracle) = pqStalenessArms(s, d)
      def decide(name: String, arms: DataFrame): DataFrame = {
        val stale = arms.where(col("arm") === "maintained_stale")
          .select(col("n_hits").as("stale_hits"), col("n_expected"))
        val fresh = arms.where(col("arm") === "fresh_rebuild")
          .select(col("n_hits").as("fresh_hits"))
        stale.crossJoin(fresh).select(
          lit(name).as("index_family"),
          col("stale_hits"), col("fresh_hits"), col("n_expected"),
          (col("fresh_hits") - col("stale_hits")).as("gap_hits"),
          (col("stale_hits").cast("double") / col("n_expected").cast("double"))
            .as("stale_recall"),
          (col("fresh_hits").cast("double") / col("n_expected").cast("double"))
            .as("fresh_recall"),
          ((col("fresh_hits") - col("stale_hits")) * lit(10L) >= col("n_expected"))
            .as("rebuild"))
      }
      (decide("reduced", red).unionByName(decide("rotated_pq", pq))
        .orderBy("index_family"), IndexOracles.rebuildPolicyOracleSql(redOracle, pqOracle))
    },

    // ---- OPQ-style ROTATED product quantization: codes trained in the
    //      PCA-rotated space (variance concentrated → better cells for
    //      the same code budget), rotated-ADC candidate ranking, exact
    //      full-dim rescore — completes the quantization matrix ----
    oracled("d9e_reduced_pq_topk") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val model = Similarity.trainReducedPqModel(emb)
      (Similarity.reducedPqProbeTopK(emb, Similarity.reducedPqIndexOf(emb, model), model,
          queries, TopK).orderBy("query_id", "rank"),
        IndexOracles.reducedPqOracleSql(model))
    },

    // ---- recall@k of the rotated-PQ index against the exact ranking —
    //      the acceptance measurement for the d9e design ----
    oracled("q_reduced_pq_recall") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val model = Similarity.trainReducedPqModel(emb)
      (annRecall(emb, queries, Similarity.reducedPqProbeTopK(emb,
          Similarity.reducedPqIndexOf(emb, model), model, queries, TopK)),
        IndexOracles.reducedPqOracleSql(model))
    },

    // ---- MMR diversified re-ranking: greedy λ·rel − (1−λ)·max-sim over
    //      the dense top-20, the redundancy-suppressing re-rank for RAG
    //      context assembly; every greedy round's q6 score and tiebreak
    //      replayed inductively by the oracle ----
    "q_mmr_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.mmrRerank(emb, queries, candK = 20, k = 5)
        .orderBy("query_id", "sel_rank")
    }),

    // ---- ANN quality evaluation: recall@k of the LSH index against the
    //      exact brute-force ranking — the measurement that decides whether
    //      an approximate index is good enough to replace the exact scan;
    //      recall is hits/k over bit-agreed rankings, so it needs no
    //      rounding at all ----
    "q_ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      annRecall(emb, queries, Similarity.lshBucketTopK(emb, queries, TopK))
    }),

    // ---- ANN quality evaluation, IVF variant: recall@k of the trained
    //      coarse quantizer (cells + nprobe) against the exact ranking ----
    oracled("q_ann_recall_ivf") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val centroids = ivfCentroids(emb)
      (annRecall(emb, queries, Similarity.ivfTopK(emb, queries, TopK, centroids, IvfNprobe)),
        IndexOracles.ivfOracleSql(centroids))
    },

    // ---- hard-negative mining: nearest different-label vectors ----
    "q_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"), col("label"))
      Similarity.hardNegatives(emb, queries, TopK)
        .orderBy("query_id", "rank")
    }),

    // ---- embedding-cosine near-dup pairs via LSH buckets (scale path) ----
    "d6_cosine_neardup_pairs" -> ((s, d) => {
      Similarity.cosineNearDupPairs(Tables.embeddings(s, d), CosineNearDupThreshold)
        .orderBy("vec_a", "vec_b")
    }),

    // ---- token statistics ----
    "x1_token_stats" -> ((s, d) => {
      TextOps.tokenStats(Tables.documents(s, d), "doc_id", "text").orderBy("doc_id")
    }),

    // ---- BPE-ish pre-token counting (training-token accounting) ----
    "x6_bpe_token_count" -> ((s, d) => {
      TextOps.bpeTokenCount(Tables.documents(s, d), "doc_id", "text").orderBy("doc_id")
    }),

    // ---- in-engine BPE merge TRAINING (count → learn → apply): the merge
    //      rules are learned from the corpus itself (pair-count aggregate
    //      at pair-vocabulary cardinality → deterministic argmax → merge,
    //      TextOps.bpeTrain — the x12 train-in-engine pattern) and the
    //      final (word, n_tokens) model is exported per-JVM; the gate then
    //      tokenizes the corpus by joining pre-tokens against the
    //      broadcast model, and the DuckDB oracle replays that
    //      tokenization from the SAME exported model (the s3/d8
    //      materialization pattern). Training itself is pinned against a
    //      from-scratch single-node replica in BpeTrainSpec. ----
    oracled("x13_bpe_train") { (s, d) =>
      val (path, _) = bpeModel(s, d)
      val words = Tables.documents(s, d).select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")),
          lit(TextOps.BpePretokenPattern), lit(0))).as("word"))
      (words.join(broadcast(s.read.parquet(path).select("word", "n_tokens")), "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_pretokens"), sum("n_tokens").as("n_bpe_tokens"))
        .orderBy("doc_id"), ModelOracles.bpeOracleSql(path))
    },

    // ---- UNIGRAM-LM (SentencePiece-style) tokenizer TRAINING (Kudo
    //      2018): the LM-based trainer next to
    //      x13's merges-based BPE, completing the tokenizer-design
    //      family. Pieces are a unigram distribution trained by
    //      deterministic hard EM over the SAME word-frequency table
    //      (substring seeding → one E-step → prune to the vocab budget →
    //      fixed-vocab EM with Viterbi segmentation; likelihood monotone,
    //      spec-asserted); the exported (word, n_tokens, freq, tokens)
    //      model is the x13 SCHEMA, so the apply path (broadcast model
    //      join, per-doc token accounting) and the DuckDB oracle replay
    //      are the shared shapes. Training cost: the corpus collapses to
    //      (word, freq) in ONE distributed aggregate; EM runs driver-side
    //      at word-table cardinality (the bpeTrainAuto local-arm
    //      contract — single-node is where real tokenizer trainers run) ----
    oracled("x21_unigram_train") { (s, d) =>
      val (path, _) = unigramModel(s, d)
      val words = Tables.documents(s, d).select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")),
          lit(TextOps.BpePretokenPattern), lit(0))).as("word"))
      (words.join(broadcast(s.read.parquet(path).select("word", "n_tokens")), "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_pretokens"),
          sum("n_tokens").as("n_unigram_tokens"))
        .orderBy("doc_id"), ModelOracles.unigramOracleSql(path))
    },

    // ---- TOKENIZER-DESIGN comparison: the two trained tokenizers
    //      — x13's merges-based BPE and x21's unigram LM — side by side
    //      per source: token cost and fertility under EACH model over
    //      the same pre-tokens. THE read a tokenizer-design run ends on:
    //      which trainer compresses this corpus mix better, and is the
    //      answer uniform across sources or does one source favor one
    //      model (the multilingual-balance question). Both vocabulary
    //      models broadcast; ONE pre-token explode feeds both joins; the
    //      aggregate lands at source cardinality map-side ----
    oracled("q_tokenizer_compare") { (s, d) =>
      val (bpePath, _) = bpeModel(s, d)
      val (uniPath, _) = unigramModel(s, d)
      val words = Tables.documents(s, d).select(col("source"),
        explode(regexp_extract_all(lower(col("text")),
          lit(TextOps.BpePretokenPattern), lit(0))).as("word"))
      (words
        .join(broadcast(s.read.parquet(bpePath)
          .select(col("word"), col("n_tokens").as("__bpe"))), "word")
        .join(broadcast(s.read.parquet(uniPath)
          .select(col("word"), col("n_tokens").as("__uni"))), "word")
        .groupBy("source")
        .agg(count(lit(1)).as("n_pretokens"),
          sum("__bpe").as("n_bpe_tokens"),
          sum("__uni").as("n_unigram_tokens"))
        .withColumn("bpe_fertility", TextOps.round4(
          col("n_bpe_tokens").cast("double") / col("n_pretokens").cast("double")))
        .withColumn("unigram_fertility", TextOps.round4(
          col("n_unigram_tokens").cast("double") / col("n_pretokens").cast("double")))
        .orderBy("source"), ModelOracles.tokenizerCompareOracleSql(bpePath, uniPath))
    },

    // ---- per-source tokenizer fertility under the TRAINED merges: BPE
    //      tokens per pre-token and chars per BPE token, by source — the
    //      balance metric multilingual/multisource corpus builds read
    //      before setting mixture weights (a source whose text costs 2×
    //      the tokens is half as cheap per document). Pre-tokens explode,
    //      the vocabulary model broadcasts, and the aggregate lands at
    //      SOURCE cardinality map-side — text never shuffles. ----
    oracled("q_tokenizer_fertility") { (s, d) =>
      val (path, _) = bpeModel(s, d)
      val words = Tables.documents(s, d).select(col("doc_id"), col("source"),
        explode(regexp_extract_all(lower(col("text")),
          lit(TextOps.BpePretokenPattern), lit(0))).as("word"))
      (words.join(broadcast(s.read.parquet(path).select("word", "n_tokens")), "word")
        .groupBy("source")
        .agg(sum("n_tokens").as("n_bpe_tokens"),
          sum(length(col("word")).cast("long")).as("n_pretoken_chars"),
          count(lit(1)).as("n_pretokens"))
        .withColumn("fertility", TextOps.round4(
          col("n_bpe_tokens").cast("double") / col("n_pretokens").cast("double")))
        .withColumn("chars_per_token", TextOps.round4(
          col("n_pretoken_chars").cast("double") / col("n_bpe_tokens").cast("double")))
        .orderBy("source"), ModelOracles.bpeOracleSql(path))
    },

    // ---- vocabulary generalization: the OOV rate a tokenizer trained on
    //      one corpus snapshot shows on UNSEEN data. The model trains on
    //      doc_id % 5 ≠ 0 only; every held-out document reports its
    //      pretoken count, how many pretokens fall outside the trained
    //      vocabulary, the round4 OOV fraction, and the in-vocab BPE token
    //      cost. Same broadcast-model shape as x13 — the left join makes
    //      misses explicit instead of dropping them. ----
    oracled("q_tokenizer_oov") { (s, d) =>
      val path = bpeModelSplit(s, d)
      (TextOps.bpeOovStats(Tables.documents(s, d).where(col("doc_id") % 5 === 0),
          "doc_id", "text", s.read.parquet(path))
        .orderBy("doc_id"), ModelOracles.oovOracleSql(path))
    },

    // ---- tokenizer vocabulary-SIZE selection: fertility as a function of
    //      merge budget (first-k-merges token cost of every corpus word,
    //      budgets 0..150) — the curve whose flattening point answers "how
    //      many merges are worth training". Corpus words aggregate at
    //      vocab cardinality BEFORE joining the vocab×|grid| export. ----
    oracled("q_tokenizer_size_curve") { (s, d) =>
      val path = bpeCurveModel(s, d)
      val words = Tables.documents(s, d)
        .select(explode(regexp_extract_all(lower(col("text")),
          lit(TextOps.BpePretokenPattern), lit(0))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c"))
      (words.join(s.read.parquet(path).select("word", "k", "n_tokens"), Seq("word"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_words"),
          sum("c").as("n_pretokens"),
          sum(col("c") * col("n_tokens")).as("total_tokens"))
        .select(col("k"), col("n_words"), col("n_pretokens"), col("total_tokens"),
          (floor(col("total_tokens").cast("double") / col("n_pretokens").cast("double")
            * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("fertility"))
        .orderBy("k"), ModelOracles.sizeCurveOracleSql(path))
    },

    // ---- the tokenizer-design pipeline end-to-end: learn the merges from
    //      the corpus (x13's trained model), derive the TRAINED token
    //      vocabulary's frequency table (token frequency = Σ word freq ×
    //      multiplicity — a vocabulary-cardinality explode, never the
    //      corpus), and answer the design question q_vocab_coverage asks —
    //      the smallest learned-token vocabulary covering ≥95% of token
    //      occurrences — on the same single-task-free global prefix sum.
    //      The oracle replays everything from the exported model. ----
    oracled("e2e_tokenizer_vocab") { (s, d) =>
      val (path, _) = bpeModel(s, d)
      val counts = s.read.parquet(path)
        .select(explode(col("tokens")).as("token"), col("freq"))
        .groupBy("token").agg(sum("freq").as("cnt"))
      val (withCum, total) = CoreOps.globalPrefixSumWithTotal(counts,
        Seq(col("cnt").desc, col("token")), "cnt", "cum_before")
      val need = (95L * total + 99L) / 100L
      (withCum.where(col("cum_before") < need)
        .select("token", "cnt", "cum_before")
        .orderBy(col("cnt").desc, col("token")), ModelOracles.bpeOracleSql(path))
    },

    // ---- per-source unigram Jensen–Shannon divergence vs the corpus:
    //      the source-mix drift diagnostic (batch counterpart of the
    //      streaming vocabulary-drift monitor). Absent-vocabulary mass is
    //      the exact-long closed form ln2·(N−Σc_w)/N, so only occurring
    //      (source, word) pairs ever join; per-word terms are q6-quantized
    //      longs (the x11 trick) so the sums are float-order-immune. ----
    "q_source_divergence" -> ((s, d) => {
      TextOps.sourceDivergence(Tables.documents(s, d), "source", "text")
        .orderBy("source")
    }),

    // ---- Bradley–Terry preference ratings TRAINED IN THE ENGINE: per-user
    //      consecutive-event comparisons (one user-keyed window pass over
    //      the log — the only corpus-scale shuffle) aggregate to an
    //      item²-cardinality matrix; Hunter's MM iterations run on that
    //      collected matrix (documented item²-bounded driver collect, the
    //      x12 pattern) and the trained ratings export for the oracle,
    //      which re-derives winner/loser/wins/losses from the raw events in
    //      SQL and joins the export — so a hash match proves the whole
    //      comparison-derivation path, while PreferenceSpec pins the MM
    //      training against the 2-item closed form. ----
    oracled("q_bt_ratings") { (s, d) =>
      val path = btModel(s, d)
      (s.read.parquet(path)
        .select(col("item"), col("wins"), col("losses"), col("n_comparisons"),
          (floor(col("rating") * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("rating"))
        .orderBy("item"), ModelOracles.btOracleSql(path))
    },

    // ---- cross-document boilerplate removal: spans of 8-token windows
    //      occurring in ≥3 DISTINCT documents are cut (document frequency,
    //      not occurrence count — a self-repetitive document never flags
    //      its own refrain). The RefinedWeb-style shared-chrome rule at
    //      token-window granularity. ----
    "q_boilerplate_strip" -> ((s, d) => {
      Dedup.stripBoilerplate(Tables.documents(s, d), "doc_id", "text",
          n = 8, minDocFrequency = 3)
        .orderBy("doc_id")
    }),

    // ---- first-occurrence-wins BLOCK dedup (MassiveText-style): the
    //      corpus in 16-token blocks, each block content kept exactly once
    //      corpus-wide (globally smallest (doc, idx) occurrence), later
    //      copies cut from the reassembled text — dedup semantics (content
    //      survives once), vs boilerplate's cut-everywhere chrome rule ----
    "d20_block_dedup" -> ((s, d) => {
      Dedup.blockDedup(Tables.documents(s, d), "doc_id", "text", blockTokens = 16)
        .orderBy("doc_id")
    }),

    // ---- the round-11 operators composed as ONE query: first-occurrence
    //      block dedup → Kneser–Ney perplexity over the CLEANED text →
    //      per-language exact-median predictability gate → capped
    //      temperature mix of the kept set; the oracle replays all four
    //      stages (cleaned text pinned by md5) ----
    "e2e_block_kn_mix" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cleaned = Dedup.blockDedup(docs, "doc_id", "text", blockTokens = 16)
        .select(col("doc_id"), col("clean_text"))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .localCheckpoint() // consumed by KN scoring, the gate join, and md5
      val scored = TextOps.knPerplexity(cleaned, "doc_id", "clean_text")
        .select(col("doc_id"), (-col("avg_nll")).as("pred"))
        .join(cleaned, "doc_id")
      val kept = CoreOps.perGroupMedianFilter(scored, "lang", "pred")
      val mixed = CoreOps.cappedTemperatureMix(kept, "lang", "doc_id",
        totalN = 100L, capPct = 25, maxRounds = 2)
      mixed.join(kept.select(col("doc_id"), col("pred"),
          md5(col("clean_text")).as("clean_md5")), "doc_id")
        .select(col("lang"), col("doc_id"), col("n_alloc"), col("pred"), col("clean_md5"))
        .orderBy("lang", "doc_id")
    }),

    // ---- temperature mix under a hard 25% per-language cap: the skewed
    //      'en' share is pinned at the cap and its excess redistributes
    //      among the other languages by their √ masses (one capping round
    //      converges here; the loop is general) — the data-constrained
    //      scaling constraint production mixtures carry ----
    "q_capped_mix" -> ((s, d) => {
      CoreOps.cappedTemperatureMix(Tables.documents(s, d), "lang", "doc_id",
          totalN = 200L, capPct = 25, maxRounds = 2)
        .orderBy("lang", "doc_id")
    }),

    // ---- NFC-normalized exact dedup: fingerprints over Unicode-
    //      canonicalized text (native graft_nfc expression — composed and
    //      decomposed forms of the same content collide); equals d1 on
    //      ASCII input, diverges exactly where composition forms differ ----
    "d1b_nfc_dedup_groups" -> ((s, d) => {
      Dedup.normalizedExactDuplicateGroups(Tables.documents(s, d), "doc_id", "text")
        .orderBy("fingerprint")
    }),

    // ---- AGGRESSIVE canonicalized dedup (the MassiveText/CCNet tier):
    //      fingerprints over NFKD + accent-strip + lowercase +
    //      punctuation-collapse text (native graft_canon expression) —
    //      case/punctuation/ligature/accent variants of the same content
    //      collide; on this ASCII corpus the oracle replays it with
    //      lower/strip_accents/regexp_replace, the Unicode semantics are
    //      spec-pinned on constructed fixtures ----
    "d1c_canonical_dedup_groups" -> ((s, d) => {
      Dedup.canonicalExactDuplicateGroups(Tables.documents(s, d), "doc_id", "text")
        .orderBy("fingerprint")
    }),

    // ---- incremental first-occurrence block dedup: the held-out fifth's
    //      blocks probed against the other fifths' maintained block-hash
    //      index (the sub-document d12); blocks the standing corpus
    //      already holds are cut from the reassembled text ----
    "d21_incremental_block_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalBlockDedup(docs.where(col("doc_id") % 5 =!= 0),
          docs.where(col("doc_id") % 5 === 0), "doc_id", "text", blockTokens = 16)
        .drop("dropped")
        .orderBy("doc_id")
    }),

    // ---- k-center greedy coreset selection (geometric data pruning): the
    //      k vectors that best cover the embedding space, each round one
    //      shuffle-free map+reduce; the dist² column is the covering-radius
    //      curve. The oracle re-derives EVERY greedy step inductively from
    //      raw embeddings. ----
    oracled("q_coreset_select") { (s, d) =>
      val path = kCenterModel(s, d)
      (s.read.parquet(path)
        .select(col("rank"), col("vec_id"),
          (floor(col("dist2") * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("dist2"))
        .orderBy("rank"), ModelOracles.kCenterOracleSql(path))
    },

    // ---- multi-suite decontamination in ONE pass: eval windows tagged by
    //      suite (doc_id%3 over the held-out eleventh), corpus windows
    //      hashed once, spans merged per (document, suite) — the audit a
    //      production run does against all benchmarks simultaneously. ----
    "q_multi_suite_decontam" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = docs.where(col("doc_id") % 11 === 0)
        .withColumn("suite", concat(lit("suite"), pmod(col("doc_id"), lit(3))))
      Dedup.contaminationSpansBySuite(docs.where(col("doc_id") % 11 =!= 0), bench,
          "doc_id", "text", "suite", n = 8)
        .orderBy("doc_id", "suite", "span_start")
    }),

    // ---- per-document memorization-risk audit: max distinct-document
    //      frequency among the doc's 8-token windows, plus how many of its
    //      windows the corpus repeats (df ≥ 3) — the signal for content a
    //      model will likely memorize because the corpus keeps saying it. ----
    "q_memorization_risk" -> ((s, d) => {
      Dedup.memorizationRisk(Tables.documents(s, d), "doc_id", "text",
          n = 8, hotDf = 3)
        .orderBy("doc_id")
    }),

    // ---- fill-in-the-middle transformation (PSM order) with md5-derived
    //      deterministic cut points — the infilling data-prep step, as a
    //      pure zero-shuffle projection. ----
    "q_fim_transform" -> ((s, d) => {
      TextOps.fimTransform(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- per-SOURCE boilerplate strip: chrome must repeat within its OWN
    //      source (df ≥ 2 distinct docs of the same source) — the
    //      domain-scoped rule real web curation applies, so one site's nav
    //      never censors another's prose. ----
    "q_source_boilerplate_strip" -> ((s, d) => {
      Dedup.stripBoilerplateBySource(Tables.documents(s, d), "doc_id", "text",
          "source", n = 8, minDocFrequency = 2)
        .orderBy("doc_id")
    }),

    // ---- the web-curation pipeline composed as ONE query: boilerplate
    //      strip (df ≥ 3) → drop emptied docs → quality-score the CLEANED
    //      text and keep the top quintile (exact interpolated percentile)
    //      → exact-dedup the cleaned content (min-id survivor per distinct
    //      clean text, a WindowGroupLimit rank over 128-bit fingerprints).
    //      The cleaned+scored relation is checkpointed once because the
    //      threshold aggregate and the main stream both consume it — the
    //      sourceDivergence lesson; after that only (id, md5, scalars)
    //      rows move. The oracle replays all four stages. ----
    "e2e_web_pipeline" -> ((s, d) => {
      val cleaned = Dedup.stripBoilerplate(Tables.documents(s, d), "doc_id", "text",
          n = 8, minDocFrequency = 3)
        .where(size(TextOps.tokens(col("clean_text"))) > 0)
        .select(col("doc_id"),
          TextOps.qualityCol(col("clean_text")).as("quality"),
          md5(col("clean_text")).as("clean_md5"),
          size(TextOps.tokens(col("clean_text"))).cast("long").as("n_clean_tokens"))
        .localCheckpoint()
      val thr = cleaned.agg(percentile(col("quality"), lit(0.8)).as("thr"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("clean_md5").orderBy("doc_id")
      cleaned.crossJoin(broadcast(thr))
        .where(col("quality") >= col("thr"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("doc_id", "n_clean_tokens", "quality", "clean_md5")
        .orderBy("doc_id")
    }),

    // ---- web-INGEST pipeline composed as ONE query: HTML→text
    //      extraction → vocabulary-blocklist filter → exact content
    //      dedup (min-id survivor) → token accounting — the crawl ops
    //      chained the way a crawl ingest runs them. The planted chrome
    //      extracts back to the ORIGINAL text, so a (wrapped, plain)
    //      duplicate pair collapses to one survivor post-extraction ----
    "e2e_web_ingest" -> ((s, d) => {
      // URL dedup FIRST — the real crawl order: every doc_id % 10 == 1 page
      // is a re-crawl of its % 10 == 0 neighbor under a different URL
      // spelling (www + default port + tracking param + fragment), so
      // canonical-URL dedup drops it before any content work is paid
      val res = when(col("doc_id") % 10 === 1, col("doc_id") - lit(1L))
        .otherwise(col("doc_id")).cast("string")
      val rawUrl = when(col("doc_id") % 10 === 1,
          concat(lit("https://www.example.com:443/page/"), res, lit("?x=1&utm_source=z#top")))
        .otherwise(concat(lit("https://example.com/page/"), res, lit("?x=1")))
      val uw = org.apache.spark.sql.expressions.Window
        .partitionBy("canonical_url").orderBy("doc_id")
      val crawled = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          TextOps.canonicalizeUrl(rawUrl).as("canonical_url"))
        .withColumn("urn", row_number().over(uw)).where(col("urn") === 1)
      val spam = when(col("doc_id") % 13 === 0,
        concat(col("text"), lit(" zzspamword"))).otherwise(col("text"))
      val page = when(col("doc_id") % 7 === 0, concat(
        lit("<html><body><p>"), spam,
        lit("</p><script>drop();</script>&nbsp;</body></html>"))).otherwise(spam)
      val clean = crawled
        .select(col("doc_id"), TextOps.extractHtmlText(page).as("clean"))
      val kept = TextOps.blocklistFilter(clean, "doc_id", "clean", Seq("zzspamword"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("clean_md5").orderBy("doc_id")
      kept.select(col("doc_id"), col("clean"), md5(col("clean")).as("clean_md5"))
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("doc_id"), col("clean_md5"),
          size(TextOps.tokens(col("clean"))).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // ---- crawl-CURATION pipeline composed as ONE query (a
    //      crawl-curation user runs cap + memorization audit in the
    //      same pass, where the web pipelines stop at strip→quality→
    //      dedup): URL canonicalize → host → PSL registrable domain
    //      (broadcast dimension) → per-domain longest-first cap (rank
    //      rides WindowGroupLimit) → per-document memorization-risk
    //      audit over the POST-CAP corpus (the corpus a training run
    //      would actually see). Kept ids broadcast back to the text
    //      table, so document text never crosses an exchange
    //      (PlanShapeSpec-pinned); the audit itself moves (doc_id, h)
    //      pair rows only. ----
    "e2e_crawl_curation" -> ((s, d) => {
      val (kept, keptDocs) = crawlCurationStages(s, d)
      val audit = Dedup.memorizationRisk(keptDocs, "doc_id", "text",
        n = 8, hotDf = 3)
      kept.join(audit, Seq("doc_id"), "left") // <8-token docs have no windows
        .select(col("registrable_domain"), col("rank_in_domain"),
          col("doc_id"), col("n_toks"),
          coalesce(col("max_df"), lit(0L)).as("max_df"),
          coalesce(col("n_hot"), lit(0L)).as("n_hot"),
          (coalesce(col("hot_frac"), lit(0.0)) >= 0.5).as("memorization_flag"))
        .orderBy("registrable_domain", "rank_in_domain")
    }),

    // ---- DPO-style preference-pair table: every aggregated (winner,
    //      loser) comparison annotated with the trained Bradley–Terry
    //      expected win probability r_w/(r_w+r_l) and rating margin — the
    //      table a preference-tuning run consumes, with the model's
    //      self-consistency visible per pair. Ratings join broadcast at
    //      item cardinality. ----
    oracled("q_preference_pairs") { (s, d) =>
      val path = btModel(s, d)
      val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
      val comps = graft.operators.Preference.comparisonsFromEvents(
        ev, "user_id", "ts_us", "event_id", "event_type", "value")
      val r = s.read.parquet(path).select(col("item"), col("rating"))
      (comps
        .join(broadcast(r.select(col("item").as("winner"), col("rating").as("r_w"))), Seq("winner"))
        .join(broadcast(r.select(col("item").as("loser"), col("rating").as("r_l"))), Seq("loser"))
        .select(col("winner"), col("loser"), col("n").as("n_comparisons"),
          (floor(col("r_w") / (col("r_w") + col("r_l")) * lit(10000.0) + lit(0.5)) / lit(10000.0))
            .as("p_win_expected"),
          (floor((col("r_w") - col("r_l")) * lit(10000.0) + lit(0.5)) / lit(10000.0))
            .as("rating_margin"))
        .orderBy("winner", "loser"), ModelOracles.btOracleSql(path))
    },

    // ---- best-of-n rejection sampling: per (user, event_type) keep the
    //      single highest-valued event with its margin over the runner-up
    //      (the RLHF best-of-n selection step; ties break to the smaller
    //      id, margin null for singleton groups). One exchange+sort. ----
    "q_best_of_n" -> ((s, d) => {
      graft.operators.Preference.bestOfN(Tables.events(s, d),
          Seq("user_id", "event_type"), "event_id", "value")
        .orderBy("user_id", "event_type")
    }),

    // ---- population-stability-index drift between corpus halves: the
    //      quality-score distribution of snapshot A (even doc_id) vs B
    //      (odd) per source over 10 bins, add-one smoothed, q6-quantized
    //      terms (float-order-immune). The epoch-over-epoch distribution
    //      drift monitor; everything after the two histogram aggregates
    //      runs at (source × bin) cardinality. ----
    "q_quality_drift_psi" -> ((s, d) => {
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          least(floor(TextOps.qualityCol(col("text")) * lit(10.0)).cast("long"), lit(9L))
            .as("bin"))
      CoreOps.psiDrift(
          scored.where(col("doc_id") % 2 === 0), scored.where(col("doc_id") % 2 =!= 0),
          "source", "bin", numBins = 10)
        .orderBy("source")
    }),

    // ---- ANALYZE-style table profile: per numeric lineitem column, the
    //      non-null count, exact distinct count, and min/max in ONE scan
    //      (multiple exact distincts ride one Expand) — the statistics
    //      sheet a platform publishes per table release. ----
    "q_table_profile" -> ((s, d) => {
      CoreOps.numericProfile(Tables.lineitem(s, d),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("column")
    }),

    // ---- BM25 top-k retrieval: every 50th document as a query against the
    //      rest of the corpus (the decontamination-by-retrieval shape) —
    //      Lucene-form scoring over 60-bit term hashes, q6-quantized term
    //      scores summed as longs, ranking on the EXACT q6 sum. Query
    //      terms and the matched-term df table broadcast; the corpus
    //      shuffles only (id, hash) longs. ----
    "q_bm25_search" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextOps.bm25Search(docs, docs.where(col("doc_id") % 50 === 0),
          "doc_id", "text", "doc_id", "text", k = 5)
        .orderBy("query_id", "rank")
    }),

    // ---- hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    //      top-20 and the dense cosine top-20 into one top-10 per query —
    //      q6-quantized reciprocal terms summed as longs, ranked on the
    //      exact sum. Runs on the documents∩embeddings intersection (both
    //      signals need both representations; 1:1 at sf0.01, first-2000
    //      at sf0.1). Fusion cost is result-set cardinality — the corpus-
    //      sized work lives in the two (separately bounded) retrievers. ----
    "q_rrf_fusion" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val docs = Tables.documents(s, d)
        .join(emb.select(col("vec_id").as("doc_id")), "doc_id")
      val lex = TextOps.bm25Search(docs, docs.where(col("doc_id") < 10),
        "doc_id", "text", "doc_id", "text", k = 20)
      val dense = Similarity.bruteForceTopK(emb,
        emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding")), k = 20)
      TextOps.rrfFusion(
          lex.select("query_id", "rank", "doc_id"),
          dense.select(col("query_id"), col("rank"),
            col("neighbor_id").as("doc_id")), k = 10)
        .orderBy("query_id", "rank")
    }),

    // ---- graded-relevance nDCG@10 of the BM25 retriever: relevance =
    //      min(3, distinct shared words with the query doc), gain 2^rel−1,
    //      q6-fixed discounts spliced identically into plan and oracle —
    //      the position-weighted ranking-quality metric completing
    //      recall@k (membership) and RBO (list agreement) ----
    "q_ndcg_eval" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextOps.ndcgAt(docs, docs.where(col("doc_id") % 50 === 0),
          "doc_id", "text", "doc_id", "text", k = 10, maxGrade = 7, gradeDiv = 4)
        .orderBy("query_id")
    }),

    // ---- rank-biased overlap between the lexical and dense top-20 lists
    //      per query (p = 0.9, depth 20): the redundancy measure that
    //      justifies (or retires) RRF fusion — NO transcendentals, the
    //      geometric weight is an integer floor-div recurrence and every
    //      depth term is long arithmetic, so RBO is bit-identical across
    //      engines. Runs on the documents∩embeddings intersection. ----
    "q_rbo_overlap" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val docs = Tables.documents(s, d)
        .join(emb.select(col("vec_id").as("doc_id")), "doc_id")
      val lex = TextOps.bm25Search(docs, docs.where(col("doc_id") < 10),
        "doc_id", "text", "doc_id", "text", k = 20)
      val dense = Similarity.bruteForceTopK(emb,
        emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding")), k = 20)
      TextOps.rankBiasedOverlap(
          lex.select("query_id", "rank", "doc_id"),
          dense.select(col("query_id"), col("rank"),
            col("neighbor_id").as("doc_id")), k = 20)
        .orderBy("query_id")
    }),

    // ---- retrieval-assisted decontamination: BM25 retrieves each eval
    //      item's top-20 lexically-closest corpus docs, EXACT 8-token
    //      window verification runs on those candidate pairs only — the
    //      per-eval-release audit whose cost is independent of corpus
    //      size past the index probe (candidate ids broadcast back so the
    //      window explode touches ≤ |eval|·k docs). ----
    "e2e_retrieval_decontam" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.retrievalDecontam(docs.where(col("doc_id") % 50 =!= 0),
          docs.where(col("doc_id") % 50 === 0), "doc_id", "text", k = 20, n = 8)
        .orderBy("eval_id")
    }),

    // ---- right-to-be-forgotten audit: removal requests (doc_id % 37 == 5)
    //      broadcast-marked in the scan projection, then ONE map-side
    //      aggregate emits the per-(source, shard) rewrite plan — dirty
    //      shards with surviving token mass to copy; clean shards are
    //      untouched by the compliance pass. No corpus shuffle. ----
    "q_deletion_audit" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs.join(
        TextOps.tokenStats(docs, "doc_id", "text").select("doc_id", "n_tokens"),
        "doc_id")
      CoreOps.deletionAudit(base,
          docs.where(col("doc_id") % 37 === 5).select("doc_id"),
          "doc_id", "source", "n_tokens", nShards = 16)
        .orderBy("source", "shard")
    }),

    // ---- BM25 index DELETE maintenance: the materialized index has the
    //      removal set (doc_id % 7 == 3) deleted incrementally (anti-join
    //      postings, df decrement at removed-term cardinality, closed-form
    //      stats) — NEVER rebuilt — then serves top-5 retrieval; the
    //      oracle rebuilds from the filtered corpus, so the gate proves
    //      delete-maintenance == rebuild end-to-end. ----
    "q_bm25_delete_search" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (tfdl, dfreq, n, tdl) = TextOps.bm25Index(docs, "doc_id", "text")
      val (t2, d2, n2, tdl2) = TextOps.bm25IndexDelete(tfdl, dfreq, n, tdl,
        docs.where(col("doc_id") % 7 === 3).select("doc_id"), "doc_id")
      val qTerms = TextOps.bm25TermRows(
        docs.where(col("doc_id") % 50 === 0 && col("doc_id") % 7 =!= 3),
        "doc_id", "query_id", "text").distinct()
      TextOps.bm25TopK(TextOps.bm25MatchScores(qTerms, t2, d2, n2, tdl2), 5)
        .orderBy("query_id", "rank")
    }),

    // ---- anchor-text retrieval enrichment: the
    //      extracted link graph's anchors union into the BM25 index as
    //      weighted postings on their TARGET documents (the classic
    //      anchor-text ranking signal — what the web calls a page),
    //      targets resolved by the canonical url→doc dimension a crawl's
    //      dedup maintains anyway (representative = min doc_id;
    //      self-endorsement dropped). Queries over the anchor vocabulary
    //      surface documents whose own body never says "guide"/"visit".
    //      Oracle: full replay of plant → extraction → resolution → the
    //      combined body+2·anchor postings → q6 scores → top-5 ----
    "q_bm25_anchor_search" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val links = linkGraphStages(s, d)._1
      val urlDoc = docs.select(
          TextOps.canonicalizeUrl(crawlPlantUrl).as("url"), col("doc_id"))
        .groupBy("url").agg(min(col("doc_id")).as("target_doc"))
      val anchors = links.join(broadcast(urlDoc), Seq("url"))
        .where(col("doc_id") =!= col("target_doc"))
        .select(col("target_doc"), col("anchor"))
      val (tfdl, dfreq, n, tdl) = TextOps.bm25IndexWithAnchors(
        docs, "doc_id", "text", anchors, "target_doc", "anchor", weight = 2)
      val queries = Seq((9000001L, "guide"), (9000002L, "review news"),
        (9000003L, "visit h3")).toDF("qid", "qtext")
      val qTerms = TextOps.bm25TermRows(queries, "qid", "query_id", "qtext")
        .distinct()
      TextOps.bm25TopK(TextOps.bm25MatchScores(qTerms, tfdl, dfreq, n, tdl), 5)
        .orderBy("query_id", "rank")
    }),

    // ---- distributional word centrality: Perron eigenvector of the
    //      PPMI-weighted word co-occurrence graph by quantized power
    //      iteration (8 rounds, pure long arithmetic, L1 renormalization —
    //      no sqrt; PPMI's ln is the one exact-input transcendental).
    //      PMI discounts global frequency, so the axis concentrates on the
    //      strongest collocation community — template/duplicated-passage
    //      vocabulary, not stopword glue. ----
    oracled("x14_word_centrality") { (s, d) =>
      val (ranked, ppmi) = GraphOps.ppmiCentralityWithEdges(Tables.documents(s, d), "text",
          iterations = 8, k = 20)
      val out = ranked.orderBy("rank")
      // The oracle splices the engine's q6 PPMI edge rows, read from the
      // same materialized localCheckpoint blocks the power iteration
      // consumed, so no re-read window separates them from the output.
      // Sorted for a byte-reproducible oracle_sql.json.
      val edges = ppmi.collect().map { r =>
        val v = r.getString(0).replace("'", "''")
        val w = r.getString(1).replace("'", "''")
        s"('$v', '$w', ${r.getLong(2)})"
      }.sorted.mkString(", ")
      (out, ModelOracles.ppmiOracleSql(out, edges))
    },

    // ---- DoReMi-style mixture reweighting: per-source bigram-LM per-token
    //      NLL (exact q6 long rollup) → 8 exponentiated-gradient rounds
    //      (all-longs except one exact-input exp) up-weighting sources with
    //      above-mixture loss → largest-remainder EXACT integer token
    //      allocation of a 1M budget. The EG loop runs on the source-
    //      cardinality table; the corpus-sized work is the loss rollup. ----
    oracled("q_doremi_mix") { (s, d) =>
      val (weights, losses, trace) =
        TextOps.doremiMixTraced(Tables.documents(s, d), "doc_id", "text", "source")
      val out = weights.orderBy("source")
      // The oracle splices the exact driver scalars this call's EG loop
      // consumed. The per-source losses are the gate's OUTPUT `loss_q6`
      // column: splicing them removes the live cross-engine `ln` in the
      // loss rollup, which could flip a below-mean source's output without
      // dropping trace-join rows. The trace carries the post-floor BIGINT
      // weights u, NEVER the IEEE exp factor: a DOUBLE literal in a VALUES
      // splice is the one surface a differently-versioned DuckDB parses
      // 1 ulp off.
      (out, ModelOracles.egOracleSql(out,
        losses.map { case (src, l) =>
          s"('${src.replace("'", "''")}', CAST($l AS BIGINT))"
        }.mkString(", "),
        trace.map { case (round, src, excess, u) =>
          s"($round, '${src.replace("'", "''")}', CAST($excess AS BIGINT), CAST($u AS BIGINT))"
        }.mkString(", ")))
    },

    // ---- document centrality in the shared-rare-phrase graph: q6
    //      fixed-point PageRank (floor division on longs — bit-identical
    //      across engines), 5 iterations, over the df-capped rare-shingle
    //      candidate pairs. High-centrality docs share rare phrases with
    //      many others — the template/boilerplate-hub signature a curation
    //      pass inspects first. O(edges) per iteration; only (long, long)
    //      rows shuffle. ----
    "q_graph_centrality" -> ((s, d) => {
      GraphOps.quantizedPageRank(
          Dedup.rareShingleCandidatePairs(Tables.documents(s, d),
            "doc_id", "text", ShingleK, JaccardMaxDf),
          "doc_a", "doc_b", iterations = 5)
        .orderBy("doc_id")
    }),

    // ---- length-bucketed dynamic batching: documents banded by token
    //      count (16-token bands), chunked into 16-doc batches within each
    //      band in (tokens, id) order — per-batch composition and padding
    //      waste (batch·max − Σ) as the data-loader plan. Global order via
    //      the O(P) two-phase index, never a single-task window. ----
    "q_length_bucket_batches" -> ((s, d) => {
      val toks = TextOps.tokenStats(Tables.documents(s, d), "doc_id", "text")
        .select("doc_id", "n_tokens").where(col("n_tokens") > 0)
      CoreOps.lengthBucketBatches(toks, "doc_id", "n_tokens", bandWidth = 16, batchSize = 16)
        .groupBy("bucket", "batch_in_bucket")
        .agg(count(lit(1)).as("n_docs"), max(col("n_tokens")).as("max_tokens"),
          sum(col("n_tokens")).as("sum_tokens"))
        .withColumn("padding_waste", col("n_docs") * col("max_tokens") - col("sum_tokens"))
        .orderBy("bucket", "batch_in_bucket")
    }),

    // ---- rank-fusion quality ensemble: each weak signal (length, TTR,
    //      stopword ratio) becomes its per-source percentile rank — exact,
    //      via (source × round4-value) histograms, never a corpus sort —
    //      and the ensemble is the round4 mean of ranks. The scale-free
    //      fusion that stops any single heuristic from dominating. ----
    "q_quality_rank_ensemble" -> ((s, d) => {
      val (ls, ttr, sr) = TextOps.qualityComponents(col("text"), TextOps.DefaultStopwords, 50)
      val scored = Tables.documents(s, d).select(col("doc_id"), col("source"),
        TextOps.round4(ls).as("length_score"),
        TextOps.round4(ttr).as("type_token_ratio"),
        TextOps.round4(sr).as("stopword_ratio"))
      CoreOps.percentileRankEnsemble(scored, "source",
          Seq("length_score", "type_token_ratio", "stopword_ratio"))
        .orderBy("doc_id")
    }),

    // ---- sessions assembled into ordered interaction transcripts (the
    //      SFT conversation-extraction step): event-type labels joined in
    //      (ts, id) order per session, sessions with ≥3 turns; transcript
    //      order pinned by sorted structs, so identical under any
    //      partitioning. ----
    "q_session_conversations" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
        .select("event_id", "user_id", "event_type", "ts_us")
      graft.operators.Sessionize.conversations(ev, "user_id", "ts_us", "event_id",
          "event_type", SessionGapUs, minTurns = 3)
        .orderBy("user_id", "session_id")
    }),

    // ---- quality scoring ----
    "x2_quality_score" -> ((s, d) => {
      TextOps.qualityScore(Tables.documents(s, d), "doc_id", "text").orderBy("doc_id")
    }),

    // ---- language identification (stopword profiles) ----
    "x3_language_id" -> ((s, d) => {
      TextOps.languageId(Tables.documents(s, d), "doc_id", "text").orderBy("doc_id")
    }),

    // ---- Unicode-script mix (the model-free writing-system signal next
    //      to x3's n-gram language ID): % 26 docs become pure Cyrillic
    //      (dominant flips), % 13 get a Cyrillic phrase appended (mixed,
    //      dominant stays latin), % 17 a CJK phrase — catches mixed-script
    //      spam / wrong-script routing at scan speed ----
    "x18_script_mix" -> ((s, d) => {
      val planted = Tables.documents(s, d)
        .withColumn("mixed",
          when(col("doc_id") % 26 === 0, expr("repeat('привет мир ', 30)"))
          .when(col("doc_id") % 13 === 0, concat(col("text"), lit(" привет мир")))
          .otherwise(col("text")))
        .withColumn("mixed",
          when(col("doc_id") % 17 === 0, concat(col("mixed"), lit(" 你好世界")))
            .otherwise(col("mixed")))
      TextOps.scriptMix(planted, "doc_id", "mixed").orderBy("doc_id")
    }),

    // ---- content fingerprint ----
    "x4_fingerprint" -> ((s, d) => {
      TextOps.fingerprint(Tables.documents(s, d), "doc_id", "text").orderBy("doc_id")
    }),

    // ---- winnowing fingerprints (rolling-hash local dedup keys) ----
    "x5_winnowing_fingerprints" -> ((s, d) => {
      TextOps.winnowingFingerprints(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id", "fingerprint")
    }),

    // ---- exact heavy hitters via count-min-sketch candidates: the CMS
    //      (never undercounts) prunes the vocabulary BEFORE the exact-count
    //      shuffle; exact verification makes the result exact, so the
    //      oracle is plain SQL ----
    "t3_heavy_hitters" -> ((s, d) => {
      TextOps.heavyHitters(Tables.documents(s, d), "text", HeavyHitterThreshold)
        .orderBy("word")
    }),

    // ---- PII scrubbing: planted emails/digit runs masked at scan speed ----
    "x7_redact_pii" -> ((s, d) => {
      val dirty = Tables.documents(s, d).withColumn("dirty",
        when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" contact u"), col("doc_id") % 100,
            lit("@mail.example.com or call 12345678")))
          .otherwise(col("text")))
      dirty.select(col("doc_id"), TextOps.redactPii(col("dirty")).as("clean"))
        .orderBy("doc_id")
    }),

    // ---- Luhn-validated card redaction: of the planted 13-19 digit
    //      runs, only checksum-VALID card numbers redact to <CARD> (the
    //      invalid ref number survives — the precision rule x7's blanket
    //      digit mask lacks); the Luhn check is the native graft_luhn
    //      codegen expression, replayed digit-for-digit by the oracle ----
    "x19_card_redact" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 9 === 0,
          concat(col("text"), lit(" card 4242424242424242 ok")))
        .when(col("doc_id") % 9 === 4,
          concat(col("text"), lit(" ref 1234567890123456 x")))
        .when(col("doc_id") % 9 === 7,
          concat(col("text"), lit(" pay 4111111111111111 and 378282246310005 thx")))
        .otherwise(col("text")).as("text"))
      TextOps.redactCards(planted, "doc_id", "text")
        .select(col("doc_id"), col("n_digit_runs"), col("n_cards"),
          md5(col("redacted")).as("redacted_md5"))
        .orderBy("doc_id")
    }),

    // ---- TF-IDF top terms (keyword extraction / relevance primitive) ----
    "x8_tfidf_topterms" -> ((s, d) => {
      TextOps.tfIdfTopTerms(Tables.documents(s, d), "doc_id", "text", TopK)
        .orderBy("doc_id", "rank")
    }),

    // ---- benchmark decontamination: corpus docs sharing >= 2 distinct
    //      shingles with an eval-set document (doc_id % 97 == 0 plays the
    //      benchmark side) ----
    "d11_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationPairs(
          docs.where(col("doc_id") % 97 =!= 0), docs.where(col("doc_id") % 97 === 0),
          "doc_id", "text", ShingleK, minOverlap = 2L)
        .orderBy("doc_id", "bench_id")
    }),

    // ---- incremental dedup: the 20% newest-by-id docs arrive as a batch
    //      and are deduped AGAINST the other 80% (the standing corpus) ----
    "d12_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalDedup(
          docs.where(col("doc_id") % 10 < 8), docs.where(col("doc_id") % 10 >= 8),
          "doc_id", "text", ShingleK, NumMinHashes, NumBands, JaccardThreshold)
        .orderBy("doc_id")
    }),

    // ---- repetition statistics (Gopher-style duplicate-content filter) ----
    "x9_repetition_stats" -> ((s, d) => {
      TextOps.repetitionStats(Tables.documents(s, d), "doc_id", "text").orderBy("doc_id")
    }),

    // ---- bigram-LM perplexity scoring (CCNet-style quality filter): add-k
    //      smoothed bigram model over the corpus's own transitions; per-doc
    //      NLL summed in exact q6 fixed-point ----
    "x11_bigram_perplexity" -> ((s, d) => {
      TextOps.bigramPerplexity(Tables.documents(s, d), "doc_id", "text").orderBy("doc_id")
    }),

    // ---- interpolated Kneser–Ney bigram perplexity: absolute-discount
    //      smoothing with continuation-unigram backoff (the KenLM/CCNet
    //      model family), every probability an exact rational over integer
    //      counts in oracle-identical IEEE op order, NLL q6-summed ----
    "x15_kn_perplexity" -> ((s, d) => {
      TextOps.knPerplexity(Tables.documents(s, d), "doc_id", "text").orderBy("doc_id")
    }),

    // ---- CCNet head/middle/tail partition: per-language KN-perplexity
    //      terciles, thresholds derived EXACTLY from the per-GRID-value
    //      histogram (the quantized-histogram-median trick, so no
    //      full-corpus sort) and assignment by threshold comparison (ties
    //      can never straddle a bucket). The canonical LM-quality
    //      partition a CCNet-style pipeline materializes before choosing
    //      what to train on. ----
    oracled("q_ppl_buckets") { (s, d) =>
      val docs = Tables.documents(s, d)
      val lang = TextOps.knPerplexity(docs, "doc_id", "text")
        .select(col("doc_id"), col("n_trans"), col("sum_nll_q6"))
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        // exact long floor division — the rational avg would need
        // cross-multiplication to compare; the micro-quantized floor is
        // identical in both engines and monotone in the true average
        .select(col("doc_id"), col("lang"),
          expr("sum_nll_q6 div n_trans").as("avg_nll_micro"))
        // milli-nat grid for THRESHOLD derivation: the
        // micro average has ~doc-count distinct values, so a per-value
        // histogram window degenerates to one task per language on a
        // monolingual corpus; div 1000 bounds the grid by the score
        // RANGE in milli-nats (thousands of cells, data-independent).
        // Assignment compares the SAME grid value, so grid-resolution
        // ties still never straddle a bucket, and bucket ranges on the
        // micro value stay disjoint (div is monotone).
        .withColumn("kg", expr("avg_nll_micro div 1000"))
        // materialize ids+scalars ONCE (doc-cardinality, no text): the
        // oracle splice below and the returned plan consume the same
        // rows — the x14 no-re-read-window contract
        .localCheckpoint()
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("kg")
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      val th = lang.groupBy("lang", "kg").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wOrd))
        .withColumn("tot", sum(col("c")).over(wAll))
        .groupBy("lang").agg(
          min(when(col("cum") * 3 >= col("tot"), col("kg"))).as("t1"),
          min(when(col("cum") * 3 >= col("tot") * 2, col("kg"))).as("t2"))
      val out = lang.join(broadcast(th), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("avg_nll_micro"),
          when(col("kg") <= col("t1"), "head")
            .when(col("kg") <= col("t2"), "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id")
      // The oracle splices the engine's per-doc micro averages (from the
      // checkpointed rows) as a pure-BIGINT VALUES table: the KN chain's
      // `ln` runs through LnStrict engine-side, but DuckDB's libm is a
      // different 1-ulp implementation, and a doc landing within an ulp of
      // the q6 floor flips its avg — which the tercile thresholds then
      // amplify to the whole language. The oracle recomputes its own chain
      // and FAILS CLOSED (±1 micro, identical support); the collect is the
      // verification-harness oracle export at doc cardinality, not the
      // operator's data path.
      (out, ModelOracles.pplOracleSql(out, lang.select("doc_id", "avg_nll_micro")
        .collect().map(r => s"(${r.getLong(0)}, ${r.getLong(1)})")
        .sorted.mkString(", ")))
    },

    // ---- vocabulary-blocklist audit (C4 bad-words gate): planted banned
    //      terms caught per doc via a broadcast token join (never a regex
    //      alternation scan); the % 22 docs plant a DUPLICATE hit to pin
    //      the distinct-per-doc rule ----
    "x16_blocklist_hits" -> ((s, d) => {
      val planted = Tables.documents(s, d)
        .withColumn("dirty", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" zzbadalpha"))).otherwise(col("text")))
        .withColumn("dirty", when(col("doc_id") % 22 === 0,
          concat(col("dirty"), lit(" zzbadbeta zzbadalpha"))).otherwise(col("dirty")))
      TextOps.blocklistHits(planted, "doc_id", "dirty",
        Seq("zzbadalpha", "zzbadbeta", "zzbadgamma"))
        .orderBy("doc_id")
    }),

    // ---- HTML→text extraction (the WET step): planted page chrome
    //      (head/style/script/entities) stripped at scan speed; the
    //      script body deliberately contains '<' and '&&' to pin the
    //      element-before-tag-strip order, and '&amp;amp;' pins the
    //      single-pass entity decode ----
    "x17_html_extract" -> ((s, d) => {
      val page = when(col("doc_id") % 7 === 0, concat(
        lit("<html><head><title>T</title><style type=\"text/css\">p { color: red; }</style></head><body><p class=\"main\">"),
        col("text"),
        lit("</p><script>var x = 1 < 2 && 2 > 1;</script><br/>&lt;tag&gt; &amp;amp; &quot;q&#39; x&nbsp;end</body></html>")))
        .otherwise(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.extractHtmlText(page).as("clean"))
        .orderBy("doc_id")
    }),

    // ---- URL canonicalization + URL-keyed page accounting: every doc gets
    //      a planted spelling variant of its resource's URL (host case, www,
    //      default port, fragment, trailing slash, tracking params, param
    //      order, scheme-less) — canonicalization collapses each resource's
    //      spellings to ONE group key, the identity rule BEFORE any
    //      URL-level dedup or frequency count on a crawl ----
    "q_url_canonical" -> ((s, d) => {
      val r = (col("doc_id") % 40).cast("string")
      val raw =
        when(col("doc_id") % 6 === 0, concat(lit("https://EXAMPLE.com/docs/"), r, lit("?b=2&a=1")))
        .when(col("doc_id") % 6 === 1, concat(lit("https://www.example.com:443/docs/"), r, lit("?a=1&b=2#frag")))
        .when(col("doc_id") % 6 === 2, concat(lit("HTTPS://example.com/docs/"), r, lit("/?a=1&utm_source=feed&b=2")))
        .when(col("doc_id") % 6 === 3, concat(lit("https://example.com/docs/"), r, lit("?utm_campaign=x&fbclid=zz&a=1&b=2")))
        .when(col("doc_id") % 6 === 4, concat(lit("https://example.com/docs/"), r, lit("?b=2&ref=home&a=1")))
        .otherwise(concat(lit("example.com/docs/"), r, lit("?a=1&b=2")))
      Tables.documents(s, d)
        .select(col("doc_id"), raw.as("url"))
        .select(col("doc_id"), col("url"),
          TextOps.canonicalizeUrl(col("url")).as("canonical_url"))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_pages"),
          countDistinct(col("url")).as("n_spellings"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("canonical_url")
    }),

    // ---- per-HOST crawl accounting: canonicalized pages rolled up by
    //      authority (pages, distinct canonical resources, token mass) —
    //      the per-site table crawl curation reads to keep/cap/block a
    //      domain; host collapses spelling variants ACROSS schemes ----
    "q_domain_stats" -> ((s, d) =>
      domainStatsPages(s, d)
        .groupBy("host")
        .agg(count(lit(1)).as("n_pages"),
          countDistinct(col("canonical_url")).as("n_resources"),
          sum(col("n_toks")).as("n_tokens"))
        .orderBy("host")),

    // ---- the same per-host crawl rollup with the distinct-resource
    //      count as a GROUPED HLL SKETCH next to the exact one: at 100 TB the exact countDistinct is the expensive
    //      arm (a value-cardinality shuffle per host); the register
    //      sketch ships ONE m-byte row per (partition, host) and merges
    //      by bytewise max. Kept integer-exact cross-engine: the
    //      harmonic-mean denominator Σ 2^(39−ρ) over all m buckets as a
    //      q39 long (the q_hll_distinct surface, here per host), with
    //      the exact distinct riding along as the in-gate error receipt
    //      — est-vs-exact in one row ----
    "q_domain_stats_hll" -> ((s, d) =>
      domainStatsPages(s, d)
        .groupBy("host")
        .agg(count(lit(1)).as("n_pages"),
          countDistinct(col("canonical_url")).as("exact_resources"),
          graft.expressions.GraftExpressions
            .hllRegisters(col("canonical_url"), 10).as("__regs"))
        .select(col("host"), col("n_pages"), col("exact_resources"),
          size(col("__regs")).cast("long").as("m"),
          size(filter(col("__regs"), r => r > 0)).cast("long").as("n_buckets_hit"),
          expr("aggregate(__regs, CAST(0 AS BIGINT), " +
            "(acc, r) -> acc + shiftleft(CAST(1 AS BIGINT), 39 - r))").as("inv_q39"))
        .orderBy("host")),

    // ---- registrable-domain (eTLD+1) crawl rollup: q_domain_stats' host column capped at the public-suffix
    //      list's registrable domain — www/news subdomains fold into
    //      their site, while each *.blogspot.com blog stays its own
    //      operator decision and co.uk exercises a multi-label suffix.
    //      The PSL mapping is a DISTINCT-host-cardinality dimension
    //      broadcast back to the page stats. ----
    //      The distinct-host count also ships
    //      as a GROUPED HLL SKETCH next to the exact one — the
    //      q_domain_stats_hll est+exact pattern on the LARGER (eTLD+1)
    //      groups, where the exact countDistinct is the expensive arm at
    //      100 TB: p=10 registers per domain, q39 harmonic denominator
    //      as exact longs, exact distinct riding along as the in-gate
    //      error receipt.
    "q_registrable_domain_stats" -> ((s, d) => {
      val raw = crawlPlantUrl
      val pages = Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.canonicalizeUrl(raw).as("canonical_url"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
        .select(col("canonical_url"),
          TextOps.urlHost(col("canonical_url")).as("host"), col("n_toks"))
      val dim = TextOps.registrableDomainMap(pages.select("host"), "host",
        rules = TextOps.PublicSuffixRulesFull)
      pages.join(broadcast(dim), Seq("host"))
        .groupBy("registrable_domain")
        .agg(countDistinct(col("host")).as("n_hosts"),
          count(lit(1)).as("n_pages"),
          sum(col("n_toks")).as("n_tokens"),
          graft.expressions.GraftExpressions
            .hllRegisters(col("host"), 10).as("__regs"))
        .select(col("registrable_domain"), col("n_hosts"), col("n_pages"),
          col("n_tokens"),
          size(col("__regs")).cast("long").as("m"),
          size(filter(col("__regs"), r => r > 0)).cast("long").as("n_buckets_hit"),
          expr("aggregate(__regs, CAST(0 AS BIGINT), " +
            "(acc, r) -> acc + shiftleft(CAST(1 AS BIGINT), 39 - r))").as("inv_q39"))
        .orderBy("registrable_domain")
    }),

    // ---- per-registrable-domain crawl CAP (the curation rule the eTLD+1
    //      rollup exists to drive): keep at most K pages per registrable
    //      domain, longest-first (token count, doc_id tiebreak) — the
    //      "don't let one site dominate the corpus" gate. The rank+filter
    //      rides WindowGroupLimit (per-partition top-K heaps, plan
    //      spec-pinned), never a full per-domain sort; the PSL dimension
    //      broadcasts. ----
    "q_domain_cap" -> ((s, d) => {
      val raw = crawlPlantUrl
      val pages = Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.urlHost(TextOps.canonicalizeUrl(raw)).as("host"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
      val dim = TextOps.registrableDomainMap(pages.select("host"), "host",
        rules = TextOps.PublicSuffixRulesFull)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("registrable_domain")
        .orderBy(col("n_toks").desc, col("doc_id"))
      pages.join(broadcast(dim), Seq("host"))
        .withColumn("rank_in_domain", row_number().over(w).cast("long"))
        .where(col("rank_in_domain") <= 8)
        .select("registrable_domain", "rank_in_domain", "doc_id", "n_toks")
        .orderBy("registrable_domain", "rank_in_domain")
    }),

    // ---- robots.txt-style URL path-rule filter (prefix rules, documented
    //      robots precedence: longest match wins, allow beats disallow on
    //      the identical pattern, no match → allowed). Planted rules hit
    //      the /p/1-vs-/p/12 longest-match pair and the /p/3 family over
    //      the shared crawl corpus; a pure zero-shuffle literal-array
    //      projection (plan spec-pinned). ----
    "q_url_rules_filter" -> ((s, d) => {
      val pages = Tables.documents(s, d).select(col("doc_id"),
        TextOps.canonicalizeUrl(crawlPlantUrl).as("url"))
      TextOps.urlRuleFilter(pages, "doc_id", "url", CrawlUrlRules)
        .orderBy("doc_id")
    }),

    // ---- PER-DOMAIN robots rules as a JOINED dimension: each site's own robots.txt probed per URL — the same
    //      longest-match/allow-beats-disallow election as the global
    //      form, but scoped to the URL's registrable domain, with
    //      CONFLICTING rules planted across domains (/p/1 allowed on
    //      h1.com, a disallow on h3.com) and no-rule-set / NULL-domain
    //      URLs implicitly allowed. The rule dim packs to domain
    //      cardinality and broadcasts (plan spec-pinned); the URL side
    //      never shuffles ----
    "q_url_rules_per_domain" -> ((s, d) => {
      import s.implicits._
      val urls = Tables.documents(s, d).select(col("doc_id"),
          TextOps.canonicalizeUrl(crawlPlantUrl).as("url"))
        .withColumn("host", TextOps.urlHost(col("url")))
      val dim = TextOps.registrableDomainMap(
        urls.select("host"), "host", rules = TextOps.PublicSuffixRulesFull)
      val withDom = urls.join(broadcast(dim), Seq("host"))
      TextOps.urlRuleFilterPerDomain(withDom, "doc_id", "url",
          "registrable_domain",
          CrawlDomainRules.toDF("domain", "rule", "allow"))
        .orderBy("doc_id")
    }),

    // ---- robots USER-AGENT GROUPS (RFC 9309 §2.2.1):
    //      the per-domain dimension gains its agent scope. The crawl
    //      (CrawlAgent = graftbot/1.0) first elects each site's most
    //      specific matching agent group — exact token > prefix token >
    //      `*`, groups REPLACE (never merge with) `*` — then runs the
    //      SAME longest-match election over only that group's rules.
    //      Planted cross-agent conflicts: h1.com allows /p/1 for `*` but
    //      its graftbot group disallows it (same domain, same path,
    //      flipped by WHO asks); h2.com's graftbot/1.0 group outranks
    //      its graftbot group; h0.com's otherbot-only group never
    //      matches → implicit allow. Agent election is domain-cardinality
    //      dimension prep; the per-URL probe plan is byte-identical to
    //      the agentless gate's (broadcast join + codegen election) ----
    "q_url_rules_agent_groups" -> ((s, d) => {
      import s.implicits._
      val urls = Tables.documents(s, d).select(col("doc_id"),
          TextOps.canonicalizeUrl(crawlPlantUrl).as("url"))
        .withColumn("host", TextOps.urlHost(col("url")))
      val dim = TextOps.registrableDomainMap(
        urls.select("host"), "host", rules = TextOps.PublicSuffixRulesFull)
      val withDom = urls.join(broadcast(dim), Seq("host"))
      TextOps.urlRuleFilterForAgent(withDom, "doc_id", "url",
          "registrable_domain",
          CrawlDomainAgentRules.toDF("domain", "agent", "rule", "allow"),
          CrawlAgent)
        .orderBy("doc_id")
    }),

    // ---- RECRAWL / freshness scheduling (Cho & Garcia-Molina
    //      2000): per-URL re-fetch priority = age since
    //      last fetch × observed change rate, exact longs. The planted
    //      fetch log (standing % 5 != 0 docs; epoch = doc_id) gives each
    //      URL a fingerprint history with three regimes by path class —
    //      changes-every-fetch, never-changes, slow epoch-boundary
    //      changes — plus single-fetch URLs (unknown rate → the 0.5
    //      prior) and NEVER-FETCHED URLs (the h0.* universe, % 5 == 0
    //      only), which outrank everything. fetch_rank rides the O(P)
    //      two-phase prefix pass, never a single-task window ----
    "q_recrawl_schedule" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (logd, now) = recrawlFetchLog(s, d)
      val discovered = docs
        .select(TextOps.canonicalizeUrl(crawlPlantUrl).as("url")).distinct()
      val pr = TextOps.recrawlPriority(discovered,
        TextOps.recrawlStats(logd, "url", "doc_id", "fp"), "url", now)
      CoreOps.globalPrefixSum(pr.withColumn("__one", lit(1L)),
          Seq(col("never_fetched").desc, col("priority_q6").desc_nulls_last,
            col("url")), "__one", "__before")
        .select(col("url"), col("never_fetched"), col("n_fetches"),
          col("last_fetch"), col("n_changes"), col("age"),
          col("change_rate_q6"), col("priority_q6"),
          (col("__before") + lit(1L)).as("fetch_rank"))
        .orderBy("url")
    }),

    // ---- per-domain crawl BUDGET, steady-state probe form (the batch
    //      oracle of StreamingPipelines.domainBudgetStream): the % 5 == 0
    //      docs arrive as an ingest epoch and probe the standing corpus's
    //      maintained PSL dimension + per-domain admitted counts; with
    //      budget 30 the two-host .com domains (~40 standing pages each
    //      at sf0.01) are over while blogspot/co.uk (~20) stay under ----
    "q_domain_budget" -> ((s, d) => {
      val raw = crawlPlantUrl
      val docs = Tables.documents(s, d).select(col("doc_id"), raw.as("url"))
      val hosts = docs
        .select(TextOps.urlHost(TextOps.canonicalizeUrl(col("url"))).as("host"))
      val dim = TextOps.registrableDomainMap(hosts, "host",
        rules = TextOps.PublicSuffixRulesFull)
      val counts = docs.where(col("doc_id") % 5 =!= 0)
        .select(TextOps.urlHost(TextOps.canonicalizeUrl(col("url"))).as("host"))
        .join(broadcast(dim), Seq("host"))
        .groupBy("registrable_domain").agg(count(lit(1)).as("n_pages"))
      graft.streaming.StreamingPipelines.domainBudgetStream(
          docs.where(col("doc_id") % 5 === 0), dim, counts,
          "doc_id", "url", budget = 30L)
        .orderBy("doc_id")
    }),

    // ---- anchor/outlink extraction (the crawl's link-side WET step):
    //      planted absolute / root-relative / protocol-relative hrefs
    //      extracted at scan speed, resolved against the doc's own
    //      canonical base, and canonicalized — zero-shuffle codegen
    //      end-to-end ----
    "x20_link_extract" -> ((s, d) => linkGraphStages(s, d)._1
      .select("doc_id", "link_no", "href", "url", "dst_host", "anchor")
      .orderBy("doc_id", "link_no")),

    // ---- registrable-domain link graph: extracted outlinks rolled to
    //      (src eTLD+1 → dst eTLD+1, multiplicity), self-domain and
    //      IP-literal endpoints excluded — the edge list a frontier
    //      scheduler and a link-quality prior both consume; the only wide
    //      exchange is the domain-pair count ----
    "q_host_link_graph" -> ((s, d) => linkGraphStages(s, d)._2
      .orderBy("src_domain", "dst_domain")),

    // ---- link-endorsement rank over the domain graph: directed WEIGHTED
    //      q6 PageRank (floor-div longs, bit-identical cross-engine) — the
    //      PageRank-as-crawl-priority signal (Cho et al. 1998); per
    //      iteration one O(edges) join + aggregate on (domain, long) rows ----
    "q_link_pagerank" -> ((s, d) => GraphOps.weightedPageRankDirected(
        linkGraphStages(s, d)._2, "src_domain", "dst_domain", "n_links",
        iterations = 4)
      .orderBy("node")),

    // ---- per-domain anchor-text rollup: what the web CALLS each domain
    //      (the classic anchor-text relevance signal) — top-3 anchor terms
    //      per dst eTLD+1 via one count + ranked window at (domain, term)
    //      cardinality ----
    "q_anchor_topterms" -> ((s, d) => {
      // checkpoint the extracted links: the anchor-term rollup and
      // the PSL dim both read them — one extraction pass, not two
      val links0 = extractedLinksFrom(Tables.documents(s, d)).localCheckpoint()
      val (links, dim0) = (links0, linkHostDim(links0))
      val dim = dim0.toDF("dst_host", "registrable_domain")
      val terms = links.join(broadcast(dim), Seq("dst_host"))
        .where(col("registrable_domain").isNotNull)
        .select(col("registrable_domain"),
          explode(TextOps.tokens(col("anchor"))).as("term"))
        .groupBy("registrable_domain", "term").agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("registrable_domain").orderBy(col("n").desc, col("term"))
      terms.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
        .orderBy("registrable_domain", "rank")
    }),

    // ---- KMV approximate-distinct sketch over the corpus vocabulary:
    //      the deterministic answer to "how many distinct values at
    //      100 TB" (distinct URLs/users/tokens) without an exact
    //      value-cardinality shuffle; the exact count rides along as the
    //      in-gate error receipt ----
    "q_kmv_distinct" -> ((s, d) => {
      val words = CoreOps.tokenize(Tables.documents(s, d), "text").select("word")
      CoreOps.kmvDistinct(words, "word", 256)
        .crossJoin(words.agg(countDistinct(col("word")).as("exact_distinct")))
    }),

    // ---- HLL register sketch (native TypedImperativeAggregate): the
    //      MERGEABLE distinct-count sketch — map-side partials ship ONE
    //      m-byte register row per partition instead of the value stream
    //      (kmvDistinct, by contrast, needs a global ordered-limit);
    //      registers are hash-exact integers the oracle reproduces from
    //      the shared md5 contract ----
    "q_hll_registers" -> ((s, d) => {
      val words = CoreOps.tokenize(Tables.documents(s, d), "text").select("word")
      words.agg(graft.expressions.GraftExpressions
          .hllRegisters(col("word"), 10).as("regs"))
        .select(posexplode(col("regs")).as(Seq("bucket", "rho")))
        .where(col("rho") > 0)
        .select(col("bucket").cast("long").as("bucket"),
          col("rho").cast("long").as("max_rho"))
        .orderBy("bucket")
    }),

    // ---- the sketch's estimate surface, kept integer-exact: the
    //      harmonic-mean denominator Σ 2^(39−ρ_j) over ALL m buckets as a
    //      q39 long (HLL's one IEEE step, α·m²·2^39/inv, is a single
    //      division away — asserted statistically in the spec), with the
    //      exact distinct riding along as the in-gate error receipt ----
    "q_hll_distinct" -> ((s, d) => {
      val words = CoreOps.tokenize(Tables.documents(s, d), "text").select("word")
      val regs = words
        .agg(graft.expressions.GraftExpressions
          .hllRegisters(col("word"), 10).as("regs"))
        .select(posexplode(col("regs")).as(Seq("bucket", "rho")))
      regs.agg(
          count(lit(1)).as("m"),
          sum(when(col("rho") > 0, 1L).otherwise(0L)).as("n_buckets_hit"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), 39 - rho)")).as("inv_q39"))
        .crossJoin(words.agg(countDistinct(col("word")).as("exact_distinct")))
    }),

    // ---- maintained link-graph index, append == rebuild: the standing
    //      corpus's domain edge list plus an ingest epoch's increment,
    //      merged by SUMMING multiplicities — the d23/d24 maintenance
    //      identity, here proven CROSS-ENGINE: the oracle rebuilds the
    //      graph from scratch over the full corpus, so a hash match IS the
    //      append==rebuild proof. Increment cost is the epoch's edges,
    //      never the standing graph ----
    "q_link_graph_append" -> ((s, d) => {
      // ONE extraction pass + ONE PSL dim (guide §2.4)
      // over the full corpus, split AFTER extraction by the doc_id
      // predicate the links row already carries — the old form re-ran the
      // whole extract/canonicalize/PSL chain once per split. Row-identical:
      // the host→domain map is a pure per-host function, so a shared dim
      // built over the superset of hosts elects the same domain per host.
      val links = extractedLinksFrom(Tables.documents(s, d)).localCheckpoint()
      val dim = linkHostDim(links).localCheckpoint()
      val standing = linkEdgesFrom(links.where(col("doc_id") % 5 =!= 0), dim)
      val epoch = linkEdgesFrom(links.where(col("doc_id") % 5 === 0), dim)
      standing.unionByName(epoch)
        .groupBy("src_domain", "dst_domain").agg(sum(col("n_links")).as("n_links"))
        .orderBy("src_domain", "dst_domain")
    }),

    // ---- per-domain link reciprocity — the link-farm signal (public
    //      web-spam literature: farms inflate rank with mutual links, so
    //      a high reciprocated share of out-edges is the flag a curation
    //      pass reads next to PageRank): per src domain, out-edge count
    //      and how many are reciprocated. One self-join of the edge list
    //      on the reversed pair, at domain-pair cardinality ----
    "q_link_reciprocity" -> ((s, d) => {
      // localCheckpoint: the edge list feeds BOTH sides of the
      // reversed-pair self-join — without it the whole extraction + PSL +
      // edge-aggregation lineage runs twice (guide §2.4). Domain-pair
      // cardinality, so the materialization is tiny at any scale.
      val edges = linkGraphStages(s, d)._2.localCheckpoint()
      val rev = edges.select(col("dst_domain").as("src_domain"),
        col("src_domain").as("dst_domain"), lit(1L).as("__rec"))
      edges.join(rev, Seq("src_domain", "dst_domain"), "left")
        .groupBy(col("src_domain").as("domain"))
        .agg(count(lit(1)).as("n_out_edges"),
          sum(coalesce(col("__rec"), lit(0L))).as("n_reciprocal"))
        .orderBy("domain")
    }),

    // ---- grouped HLL: one register sketch PER SOURCE via the same
    //      native aggregate under groupBy — the partial-merge path that
    //      makes per-tenant/per-source distinct accounting one pass at
    //      100 TB (each partition ships one m-byte row per source) ----
    "q_hll_per_source" -> ((s, d) => {
      CoreOps.tokenize(Tables.documents(s, d), "text")
        .groupBy("source")
        .agg(graft.expressions.GraftExpressions
          .hllRegisters(col("word"), 8).as("regs"))
        .select(col("source"), posexplode(col("regs")).as(Seq("bucket", "rho")))
        .where(col("rho") > 0)
        .select(col("source"), col("bucket").cast("long").as("bucket"),
          col("rho").cast("long").as("max_rho"))
        .orderBy("source", "bucket")
    }),

    // ---- HLL STORED-SKETCH MERGE identity, proven cross-engine (the
    //      q_link_graph_append pattern): per-partition register sketches
    //      materialize as a stored sketch table (the daily-sketch shape),
    //      then merge by per-bucket max — the oracle sketches the UNION
    //      directly and never sees the split, so the driver's hash match
    //      IS the mergeability proof. This is the 100 TB accounting
    //      pattern: monthly distinct = a max-merge of stored daily
    //      sketch rows, no re-scan of the data ----
    "q_hll_merge_union" -> ((s, d) => {
      val words = CoreOps.tokenize(Tables.documents(s, d), "text")
      val stored = words.groupBy((col("doc_id") % 2).as("part"))
        .agg(graft.expressions.GraftExpressions
          .hllRegisters(col("word"), 10).as("regs"))
        .select(col("part"), posexplode(col("regs")).as(Seq("bucket", "rho")))
      stored.groupBy("bucket").agg(max(col("rho")).as("rho"))
        .where(col("rho") > 0)
        .select(col("bucket").cast("long").as("bucket"),
          col("rho").cast("long").as("max_rho"))
        .orderBy("bucket")
    }),

    // ---- streaming link-frontier probe, batch oracle form (the
    //      linkFrontierStream contract): the % 5 == 0 docs arrive as an
    //      ingest epoch; their extracted outlinks probe the STANDING
    //      corpus's maintained PSL dimension and domain-endorsement
    //      (PageRank) table — which discovered URLs to enqueue first;
    //      unseen/IP targets probe to rank 0 (the cold-start arm) ----
    "q_link_frontier_probe" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // one standing extraction pass; the dim is broadcast by the
      // probe and would otherwise recompute the extraction per consumer
      val standingLinks =
        extractedLinksFrom(docs.where(col("doc_id") % 5 =!= 0)).localCheckpoint()
      val dim = linkHostDim(standingLinks).localCheckpoint()
      val sedges = linkEdgesFrom(standingLinks, dim)
      val rank = GraphOps.weightedPageRankDirected(sedges,
          "src_domain", "dst_domain", "n_links", iterations = 4)
        .select(col("node").as("registrable_domain"), col("pr_q6"))
      val epoch = docs.where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), crawlPlantUrl.as("base0"), linkPlantPage.as("page"))
      graft.streaming.StreamingPipelines.linkFrontierStream(epoch, dim, rank,
          "doc_id", "page", "base0")
        .orderBy("doc_id", "link_no")
    }),

    // ---- composed crawl-frontier scheduling: the budget arm (standing
    //      per-domain page counts vs the crawl cap) joined with the
    //      priority arm (directed-weighted PageRank endorsement over the
    //      extracted link graph) — over-budget domains are parked, the
    //      rest get a fetch order by endorsement. The global rank rides
    //      the O(P) two-phase prefix pass, never a single-task window;
    //      everything else is broadcast dims + domain-cardinality rows ----
    "e2e_crawl_frontier" -> ((s, d) => {
      val st = crawlFrontierStage(s, d)
      val under = st.where(!col("over_budget"))
        .select(col("domain"), col("pr_q6"), lit(1L).as("__one"))
      val ranked = CoreOps.globalPrefixSum(under,
          Seq(col("pr_q6").desc, col("domain")), "__one", "__before")
        .select(col("domain"), (col("__before") + lit(1L)).as("fetch_rank"))
      st.join(ranked, Seq("domain"), "left").orderBy("domain")
    }),

    // ---- per-URL frontier fetch order: the composed
    //      read a crawler actually dequeues. Three arms over the % 5 == 0
    //      ingest epoch's DISCOVERED urls: (1) endorsement — each url's
    //      target domain probed against the standing corpus's PageRank
    //      table (the q_link_frontier_probe arm); (2) admissibility — the
    //      robots rule election spliced in as a zero-shuffle struct
    //      column; (3) budget — the standing per-domain page counts vs
    //      the crawl cap (over-budget domains parked). Novelty: one row
    //      per url (first discoverer kept, discovery multiplicity rides
    //      along); fetch_rank over admissible+under-budget urls by
    //      (endorsement DESC, url) via the O(P) two-phase prefix pass —
    //      never a single-task window (plan spec-pinned); PSL, rank, and
    //      budget dims all broadcast ----
    "e2e_url_frontier" -> ((s, d) => {
      // localCheckpoint: the decision table feeds BOTH the eligible
      // rank arm and the final left join — without it the whole standing
      // pipeline (extraction, PSL, PageRank, probe, novelty) runs twice
      // (guide §2.4). URL cardinality, narrow columns.
      val st = urlFrontierDecisions(s, d).localCheckpoint()
      val eligible = st.where(col("allowed") && !col("over_budget"))
        .select(col("url"), col("target_rank_q6"), lit(1L).as("__one"))
      val ranked = CoreOps.globalPrefixSum(eligible,
          Seq(col("target_rank_q6").desc, col("url")), "__one", "__before")
        .select(col("url"), (col("__before") + lit(1L)).as("fetch_rank"))
      st.join(ranked, Seq("url"), "left")
        .select(col("url"), col("src_doc"), col("src_link"),
          col("registrable_domain"), col("target_rank_q6"),
          col("known_domain"), col("n_discoveries"), col("allowed"),
          col("over_budget"), col("fetch_rank"))
        .orderBy("url")
    }),

    // ---- MAINTAINED recrawl stats: append == rebuild (the seventh
    //      maintained-index family): the standing per-URL fetch stats
    //      absorb a later epoch's log in O(epoch) — per-side sums and
    //      extremes plus ONE boundary term (standing last_fp vs epoch
    //      first_fp), which is why the stats carry the boundary
    //      fingerprints. The oracle rebuilds the stats from the WHOLE
    //      log and never sees the split, so the hash match proves
    //      append == rebuild cross-engine (the q_link_graph_append /
    //      q_phrase_index_search pattern) ----
    "q_recrawl_stats_append" -> ((s, d) => {
      val (logd, now) = recrawlFetchLog(s, d)
      val split = now / 2
      TextOps.recrawlStatsAppend(
          TextOps.recrawlStatsFull(
            logd.where(col("doc_id") < split), "url", "doc_id", "fp"),
          logd.where(col("doc_id") >= split), "url", "doc_id", "fp")
        .orderBy("url")
    }),

    // ---- recrawl stats DELETE == REBUILD:
    //      a purged url's whole fetch history leaves the maintained
    //      index via a broadcast anti-join — EXACT by construction
    //      because the stats table is one row per url. The removal set
    //      (urls fetched by % 7 == 2 docs — which includes urls OTHER
    //      docs also fetched, so survivors keep their full history) is
    //      planted; the oracle rebuilds from the log minus those urls
    //      and never sees the delete path, so the hash match proves
    //      delete == rebuild cross-engine ----
    "q_recrawl_stats_delete" -> ((s, d) => {
      val (logd, _) = recrawlFetchLog(s, d)
      val standing = TextOps.recrawlStatsFull(logd, "url", "doc_id", "fp")
      val rm = logd.where(col("doc_id") % 7 === 2).select("url")
      TextOps.recrawlStatsDelete(standing, rm, "url").orderBy("url")
    }),

    // ---- link graph DELETE == REBUILD:
    //      removing documents subtracts their edge contributions — the
    //      append's sum-merge mirrored with negative multiplicities
    //      (edges reaching zero drop; exceeding the standing
    //      multiplicity raises). The oracle rebuilds the graph over the
    //      complement corpus and never sees the subtraction ----
    "q_link_graph_delete" -> ((s, d) => {
      // same one-extraction/one-dim treatment as q_link_graph_append
      val links = extractedLinksFrom(Tables.documents(s, d)).localCheckpoint()
      val dim = linkHostDim(links).localCheckpoint()
      val standing = linkEdgesFrom(links, dim)
      val removed = linkEdgesFrom(links.where(col("doc_id") % 7 === 2), dim)
      GraphOps.linkGraphDelete(standing, removed)
        .orderBy("src_domain", "dst_domain")
    }),

    // ---- the UNIFIED fetch queue (the operationally-complete
    //      crawl read composing BOTH schedulers): one ranked queue over
    //      (a) the epoch's eligible DISCOVERIES that the standing fetch
    //      history has never seen — never-fetched, so they outrank
    //      everything, ordered by standing-domain endorsement — and
    //      (b) every KNOWN url scored for re-fetch by the freshness
    //      policy (age × observed change rate). A discovered url the
    //      corpus has already fetched is NOT new (broadcast anti-join
    //      against the stats index): it re-enters through the recrawl
    //      arm at its own priority. The recrawl arm's robots/budget
    //      re-check happens at dequeue time by contract (rules can
    //      change between fetches; recrawls add no pages to the budget).
    //      Rank rides the O(P) two-phase prefix pass ----
    "e2e_fetch_queue" -> ((s, d) => {
      val st = urlFrontierDecisions(s, d)
      val (logd, now) = recrawlFetchLog(s, d)
      // checkpoint: the stats index feeds BOTH queue arms (priority
      // join + novelty anti-join); one row per url
      val stats = TextOps.recrawlStats(logd, "url", "doc_id", "fp")
        .localCheckpoint()
      val known = TextOps.recrawlPriority(
          logd.select("url").distinct(), stats, "url", now)
        .select(col("url"), lit(false).as("is_new"),
          col("priority_q6").as("score_q6"))
      val newArm = st.where(col("allowed") && !col("over_budget"))
        .join(broadcast(stats.select("url")), Seq("url"), "left_anti")
        .select(col("url"), lit(true).as("is_new"),
          col("target_rank_q6").as("score_q6"))
      val queue = known.unionByName(newArm).withColumn("__one", lit(1L))
      CoreOps.globalPrefixSum(queue,
          Seq(col("is_new").desc, col("score_q6").desc, col("url")),
          "__one", "__before")
        .select(col("url"), col("is_new"), col("score_q6"),
          (col("__before") + lit(1L)).as("fetch_rank"))
        .orderBy("url")
    }),

    // ---- POLITENESS-aware fetch queue:
    //      a dequeuing crawler must not hammer one host back-to-back, so
    //      the pure-priority order (e2e_fetch_queue, kept as the
    //      documented contrast) gains a per-site interleave: rank WITHIN
    //      each politeness key (registrable domain; the raw host for
    //      IP-literal urls the PSL maps to NULL) by the queue's own
    //      priority order, then order globally by (within_domain_rank,
    //      priority) — every site's first url dequeues before any site's
    //      second, round-robining hosts while preserving priority inside
    //      each round. The per-key window partitions by domain (bounded
    //      by per-domain queue depth, never a single task); the global
    //      rank rides the O(P) prefix pass ----
    "e2e_fetch_queue_polite" -> ((s, d) => {
      val queue = politeFetchQueueStage(s, d)
      CoreOps.globalPrefixSum(queue.withColumn("__one", lit(1L)),
          Seq(col("within_domain_rank"), col("is_new").desc,
            col("score_q6").desc, col("url")),
          "__one", "__before")
        .select(col("url"), col("politeness_key"), col("is_new"),
          col("score_q6"), col("within_domain_rank"),
          (col("__before") + lit(1L)).as("fetch_rank"))
        .orderBy("url")
    }),

    // ---- SITEMAP ingestion (sitemaps.org protocol, the crawl's
    //      SECOND discovery arm): each % 5 == 0 doc publishes a urlset;
    //      <url> entries extract at scan speed (loc required — the
    //      loc-less entry drops per protocol; <lastmod> optional), locs
    //      run the SHARED canonicalization chain, and each entry probes
    //      the standing fetch-stats index: known_url + the freshness
    //      read a sitemap exists for — modified_since_fetch = the
    //      published lastmod epoch-day vs OUR last fetch of that url
    //      (both polarities planted; NULL when the url is unknown or
    //      lastmod absent). Extraction is zero-shuffle codegen; the
    //      stats index broadcasts ----
    "q_sitemap_ingest" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (logd, _) = recrawlFetchLog(s, d)
      val stats = TextOps.recrawlStats(logd, "url", "doc_id", "fp")
      val sm = docs.where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), sitemapPlantXml.as("xml"))
      TextOps.extractSitemapUrls(sm, "xml")
        .withColumn("url", TextOps.canonicalizeUrl(col("loc")))
        .join(broadcast(stats.select(col("url"), col("last_fetch"))),
          Seq("url"), "left")
        .select(col("doc_id"), col("url_no"), col("url"), col("lastmod_day"),
          col("last_fetch").isNotNull.as("known_url"),
          when(col("last_fetch").isNotNull && col("lastmod_day").isNotNull,
            col("lastmod_day") > col("last_fetch")).as("modified_since_fetch"))
        .orderBy("doc_id", "url_no")
    }),

    // ---- seen-URL BLOOM filter: the frontier novelty test's
    //      scale path — at 100 TB the seen-set outgrows the broadcast
    //      anti-join, and the classical crawler answer is a packed
    //      Bloom seen-test: "definitely new" is CERTAIN (no false
    //      negatives, spec-asserted), maybe-seen falls back to the
    //      exact index at FP cardinality. The filter is built as the
    //      bit_or MERGE of two half blooms (split by crc32 parity), and
    //      the oracle builds from the WHOLE standing set — the hash
    //      match proves merge == rebuild cross-engine. All md5-derived
    //      exact integers; 62-bit words so no shift overflows a signed
    //      long on either engine; the exact membership rides along as
    //      the in-gate receipt (the est+exact pattern) ----
    "q_url_seen_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val urlC = TextOps.canonicalizeUrl(crawlPlantUrl)
      val standing = docs.where(col("doc_id") % 5 =!= 0)
        .select(urlC.as("url")).distinct()
      val half = (p: Int) => standing
        .where(pmod(crc32(col("url").cast("binary")), lit(2L)) === p)
      val bloom = TextOps.urlBloomMerge(
        TextOps.urlBloomBuild(half(0), "url", UrlBloomBits, UrlBloomK),
        TextOps.urlBloomBuild(half(1), "url", UrlBloomBits, UrlBloomK))
      val candidates = docs.select(urlC.as("url")).distinct()
      TextOps.urlBloomProbe(candidates, "url", bloom, UrlBloomBits, UrlBloomK)
        .join(standing.withColumn("__seen", lit(true)), Seq("url"), "left")
        .select(col("url"), col("maybe_seen"),
          coalesce(col("__seen"), lit(false)).as("actually_seen"))
        .orderBy("url")
    }),

    // ---- exact phrase search via positional postings, rarest-term-first
    //      intersection (the indexed retrieval path BM25 lacks — quote
    //      attribution and exact-sequence decontamination need consecutive
    //      positions, not bags); candidates bounded by the rarest term's
    //      df, postings filtered to the phrase AT SCAN ----
    "q_phrase_search" -> ((s, d) => {
      TextOps.phraseSearch(Tables.documents(s, d), "doc_id", "text",
          Seq("slow", "hash", "batch"))
        .orderBy("doc_id")
    }),

    // ---- MAINTAINED positional-postings index (the sixth
    //      maintained-index family): the standing corpus indexed
    //      once, an ingest epoch APPENDED (postings are per-doc local —
    //      the merge is a pure union), a removal set DELETED (broadcast
    //      anti-join), then the phrase probed against the maintained
    //      index — the probe plan never touches document text
    //      (spec-pinned). The oracle rebuilds postings from scratch over
    //      the corpus minus the removals, so a hash match proves
    //      append == rebuild AND delete == rebuild cross-engine (the
    //      q_link_graph_append pattern) ----
    "q_phrase_index_search" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val standing = TextOps.positionalPostingsIndex(
        docs.where(col("doc_id") % 5 =!= 0), "doc_id", "text")
      val merged = TextOps.positionalIndexAppend(standing,
        docs.where(col("doc_id") % 5 === 0), "doc_id", "text")
      val maintained = TextOps.positionalIndexDelete(merged,
        docs.where(col("doc_id") % 7 === 2).select("doc_id"), "doc_id")
      TextOps.phraseIndexSearch(maintained, Seq("slow", "hash", "batch"))
        .orderBy("doc_id")
    }),

    // ---- BATCHED multi-phrase probe of the positional index (bulk
    //      decontamination: thousands of phrases, one plan): phrase terms
    //      join postings by term, a start matches iff all k offsets are
    //      present (count-distinct-offsets == k — the group-count form of
    //      positional intersection); no per-phrase driver election, no
    //      per-phrase job. Four planted phrase shapes: the 3-term quote,
    //      its 2-term prefix, a single term, and a missing-term phrase
    //      that must yield nothing ----
    "q_phrase_multi_search" -> ((s, d) => {
      import s.implicits._
      val idx = TextOps.positionalPostingsIndex(
        Tables.documents(s, d), "doc_id", "text")
      TextOps.phraseSearchAll(idx, BulkPhrases.toDF("phrase_id", "ptext"),
          "phrase_id", "ptext")
        .orderBy("phrase_id", "doc_id")
    }),

    // ---- the SAME bulk probe as a STATELESS per-row scan (the
    //      streaming-ingest shape: crossJoin a broadcast phrase table,
    //      per-row forall over candidate starts — zero state, zero
    //      aggregation, runs unchanged under append mode). Shares the
    //      multi-search gate's oracle VERBATIM, so the two hash gates
    //      together prove scan == postings-join == SQL three ways ----
    "q_phrase_bulk_scan" -> ((s, d) => {
      import s.implicits._
      TextOps.phraseScanMatchesAll(Tables.documents(s, d), "doc_id", "text",
          BulkPhrases.toDF("phrase_id", "ptext"), "phrase_id", "ptext")
        .orderBy("phrase_id", "doc_id")
    }),

    // ---- LSH banding auto-tuner: the S-curve (b, r) choice BEFORE a
    //      100 TB dedup run (q_lsh_candidate_quality measures it after);
    //      repeated-multiplication folds + per-term q6, no libm pow ----
    "q_lsh_param_tuning" -> ((s, _) =>
      Dedup.lshParameterSweep(s, NumMinHashes, 800000L).orderBy("b")),

    // ---- model-based quality filter TRAINED IN THE ENGINE: full-batch
    //      logistic regression over hashed bag-of-tokens features with
    //      exact fixed-point gradient sums (bit-deterministic training),
    //      distilling the stopword-share heuristic; the oracle rescores
    //      with the exported weights, and the prediction is the sign of
    //      the EXACT q6 linear score ----
    oracled("x12_lr_quality") { (s, d) =>
      val (scored, model) = scoredQualityLr(s, d)
      (scored.orderBy("doc_id"), ModelOracles.lrOracleSql(model))
    },

    // ---- operating-point sweep for the trained quality filter: P/R/F1
    //      at each candidate z-threshold, from exact integer confusion
    //      counts (one pass over the scored corpus) — the number that
    //      decides WHERE to cut before filtering 100 TB; x12 pins the
    //      scores, this gate pins the choice ----
    oracled("q_lr_pr_curve") { (s, d) =>
      import s.implicits._
      val (scored, model) = scoredQualityLr(s, d)
      val thr = broadcast(LrPrThresholds.toDF("thr_q6"))
      val pos = (col("z_q6") >= col("thr_q6"))
      (scored.select(col("label"), col("z_q6")).crossJoin(thr)
        .groupBy("thr_q6")
        .agg(
          sum(when(pos && col("label") === 1, 1L).otherwise(0L)).as("tp"),
          sum(when(pos && col("label") === 0, 1L).otherwise(0L)).as("fp"),
          sum(when(!pos && col("label") === 1, 1L).otherwise(0L)).as("fn"),
          sum(when(!pos && col("label") === 0, 1L).otherwise(0L)).as("tn"))
        .select(col("thr_q6"), col("tp"), col("fp"), col("fn"), col("tn"),
          when(col("tp") + col("fp") === 0, lit(null).cast("double"))
            .otherwise(TextOps.round4(col("tp").cast("double") /
              (col("tp") + col("fp")).cast("double"))).as("prec4"),
          when(col("tp") + col("fn") === 0, lit(null).cast("double"))
            .otherwise(TextOps.round4(col("tp").cast("double") /
              (col("tp") + col("fn")).cast("double"))).as("rec4"),
          when(lit(2L) * col("tp") + col("fp") + col("fn") === 0, lit(null).cast("double"))
            .otherwise(TextOps.round4((lit(2.0) * col("tp").cast("double")) /
              (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"))).as("f14"))
        .orderBy("thr_q6"), ModelOracles.lrOracleSql(model))
    },

    // ---- curriculum phase assignment: corpus cut into 4 near-equal
    //      easy→hard groups by LM difficulty (x11's avg NLL), via the
    //      range-partitioned global index — never a single-task ntile ----
    "q_curriculum_phases" -> ((s, d) => {
      val scored = TextOps.bigramPerplexity(Tables.documents(s, d), "doc_id", "text")
        .select("doc_id", "avg_nll")
      CoreOps.curriculumPhases(scored, Seq("avg_nll", "doc_id"), 4)
        .orderBy("doc_id")
    }),

    // ---- LSH index quality evaluation: precision/recall of the band-
    //      bucket candidate set against d4's exact df-capped Jaccard pairs
    //      — the measurement that tunes (bands, rows) before a 100 TB
    //      dedup run ----
    "q_lsh_candidate_quality" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", ShingleK, NumMinHashes)
      val cands = Dedup.lshCandidatePairs(sigs, NumMinHashes, NumBands)
      val truth = Dedup.jaccardPairs(docs, "doc_id", "text", ShingleK,
          JaccardThreshold, maxDocFrequency = JaccardMaxDf)
        .select("doc_a", "doc_b")
      cands.agg(count(lit(1)).as("n_cands"))
        .crossJoin(truth.agg(count(lit(1)).as("n_true")))
        .crossJoin(cands.join(truth, Seq("doc_a", "doc_b")).agg(count(lit(1)).as("n_hit")))
        .select(col("n_cands"), col("n_true"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_cands").cast("double")).as("precision"),
          (col("n_hit").cast("double") / col("n_true").cast("double")).as("recall"))
    }),

    // ---- Hamming index quality: precision/recall of the SimHash
    //      pigeonhole-blocked candidate pairs against the same exact
    //      df-capped Jaccard truth as q_lsh_candidate_quality — the
    //      measurement that picks between the MinHash/LSH and
    //      SimHash/Hamming dedup indexes before a 100 TB run ----
    "q_hamming_candidate_quality" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cands = Dedup.simHashHammingPairs(docs, "doc_id", "text",
          radius = 3, maxBlockFrequency = 50)
        .select("doc_a", "doc_b")
      val truth = Dedup.jaccardPairs(docs, "doc_id", "text", ShingleK,
          JaccardThreshold, maxDocFrequency = JaccardMaxDf)
        .select("doc_a", "doc_b")
      cands.agg(count(lit(1)).as("n_cands"))
        .crossJoin(truth.agg(count(lit(1)).as("n_true")))
        .crossJoin(cands.join(truth, Seq("doc_a", "doc_b")).agg(count(lit(1)).as("n_hit")))
        .select(col("n_cands"), col("n_true"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_cands").cast("double")).as("precision"),
          (col("n_hit").cast("double") / col("n_true").cast("double")).as("recall"))
    }),

    // ---- DSIR data selection (importance resampling toward a target
    //      domain): hashed-bigram log-likelihood-ratio weights, exact long
    //      sums, deterministic md5-Gumbel top-k ----
    "q_dsir_select" -> ((s, d) => {
      TextOps.dsirSelect(Tables.documents(s, d), "doc_id", "text",
          col("lang") === "en", numBuckets = 256, k = 100)
        .orderBy("rank")
    }),

    // ---- the TARGET-DOMAIN selection pipeline a fine-tune data build
    //      runs, composed as ONE query: in-engine-trained model-based
    //      quality filter (keep pred = z ≥ 0) → DSIR importance selection
    //      toward the target domain OVER THE KEPT SUBSET (the n-gram
    //      models retrain on what survived the filter) → deterministic
    //      hash split. The oracle rescores the filter from the exported
    //      weights and replays DSIR rooted on the kept relation. ----
    oracled("e2e_quality_dsir_select") { (s, d) =>
      val docs = Tables.documents(s, d)
      val (scored, model) = scoredQualityLr(s, d)
      val kept = scored.where(col("pred")).select(col("doc_id").as("__kept"))
      val filtered = docs.join(kept, col("doc_id") === col("__kept")).drop("__kept")
      val selected = TextOps.dsirSelect(filtered, "doc_id", "text",
        col("lang") === "en", numBuckets = 256, k = 100)
      (CoreOps.hashSplit(selected, "doc_id", Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .select("rank", "doc_id", "w_q6", "g_q6", "split")
        .orderBy("rank"), ModelOracles.lrOracleSql(model))
    },

    // ---- dataset card: the per-source release summary, composing token
    //      accounting, exact-dup detection, language id, and quality in ONE
    //      aggregation pass over per-doc stats. Quality is summed in
    //      fixed-point (q4 = quality·10⁴, an exact long) so the aggregate
    //      never depends on float summation order; the mean is a single
    //      exact division at the end. ----
    "q_dataset_card" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val perDoc = docs.select(col("source"), col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
          md5(col("text")).as("fp"))
        .join(TextOps.languageId(docs, "doc_id", "text").select(col("doc_id"), col("predicted_lang")), "doc_id")
        .join(TextOps.qualityScore(docs, "doc_id", "text")
          .select(col("doc_id"),
            // floor(+0.5), not a bare cast: quality ≈ n/10⁴ carries binary
            // representation error, and bare double→long casts also differ
            // across engines (truncate vs round)
            floor(col("quality") * 10000 + lit(0.5)).cast("long").as("q4")), "doc_id")
      perDoc.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          count_distinct(col("fp")).as("n_unique_texts"),
          count(when(col("predicted_lang") === "en", 1)).as("n_en"),
          sum(col("q4")).as("sum_quality_q4"),
          (sum(col("q4")).cast("double") / (count(lit(1)) * 10000).cast("double")).as("mean_quality"))
        .orderBy("source")
    }),

    // ---- the release summary with the unique-text count as a GROUPED
    //      HLL SKETCH next to the exact one (the q_domain_stats_hll
    //      receipt pattern on the dataset card): at
    //      100 TB the exact count-distinct over content fingerprints is
    //      the card's expensive arm — the register sketch ships one
    //      m-byte row per (partition, source) and merges by bytewise
    //      max; est-vs-exact side by side is the in-gate error receipt,
    //      and the stored-sketch merge identity (q_hll_merge_union)
    //      means monthly cards fold from daily sketch rows without a
    //      re-scan ----
    "q_dataset_card_hll" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("source"), md5(col("text")).as("fp"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          countDistinct(col("fp")).as("exact_unique_texts"),
          graft.expressions.GraftExpressions
            .hllRegisters(col("fp"), 10).as("__regs"))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          col("exact_unique_texts"),
          size(col("__regs")).cast("long").as("m"),
          size(filter(col("__regs"), r => r > 0)).cast("long").as("n_buckets_hit"),
          expr("aggregate(__regs, CAST(0 AS BIGINT), " +
            "(acc, r) -> acc + shiftleft(CAST(1 AS BIGINT), 39 - r))").as("inv_q39"))
        .orderBy("source")
    }),

    // ---- end-to-end corpus build: exact dedup + language filter + quality
    //      threshold + token accounting + split, as ONE declarative plan.
    //      Every per-doc signal is a projection over the same scan and the
    //      dedup survivor rule is a window min over the content fingerprint,
    //      so the whole pipeline pays exactly one shuffle (by fingerprint)
    //      before the ORDER BY — no self-joins on doc_id. ----
    "e2e_corpus_build" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.predictedLangCol(col("text")).as("predicted_lang"),
          TextOps.qualityCol(col("text")).as("quality"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
          min(col("doc_id")).over(Window.partitionBy(md5(col("text")))).as("keep_id"))
        .where(col("doc_id") === col("keep_id") &&
          col("predicted_lang") === "en" && col("quality") >= 0.5)
        .transform(CoreOps.hashSplit(_, "doc_id", Seq("train" -> 80, "val" -> 10, "test" -> 10)))
        .select("doc_id", "predicted_lang", "quality", "n_tokens", "split")
        .orderBy("doc_id")
    }),

    // ---- sliding-window chunking (retrieval/context prep): 64-token
    //      chunks every 48 tokens, content pinned by digest ----
    "x10_chunk_documents" -> ((s, d) => {
      TextOps.chunkDocuments(Tables.documents(s, d), "doc_id", "text",
          chunkTokens = 64, stride = 48)
        .orderBy("doc_id", "chunk_idx")
    }),

    // ---- multimodal: binary column metadata (decode-free relational path) ----
    "mm_binary_meta" -> ((s, d) => {
      val assets = Multimodal.syntheticAssets(s, Tables.documents(s, d)).toDF()
      Multimodal.binaryMeta(assets)
        .withColumn("header_hex", lower(col("header_hex")))
        .orderBy("asset_id")
    }),

    // ---- multimodal: batched decode + feature extraction (stubbed codec) ----
    "mm_features" -> ((s, d) => {
      val assets = Multimodal.syntheticAssets(s, Tables.documents(s, d))
      Multimodal.extractFeatures(s, assets).toDF()
        .select(col("asset_id"), col("media_type"), col("n_bytes"), col("sha"))
        .orderBy("asset_id")
    }),

    // ---- multimodal: REAL image decode (javax.imageio). Payloads are
    //      genuine constant-color PNGs whose dims/color are closed-form in
    //      the asset id; the gate derives width/height/channel means from
    //      the DECODED PIXELS, the oracle recomputes them from metadata —
    //      a hash match proves the decode path actually ran. Channel means
    //      are reported ×255 (the exact constant) to keep float→double
    //      comparison exact. ----
    "mm_image_decode" -> ((s, d) => {
      val assets = Multimodal.syntheticImageAssets(s, Tables.documents(s, d))
      Multimodal.extractFeatures(s, assets).toDF()
        .select(col("asset_id"),
          element_at(col("feature"), 1).cast("int").as("decoded_width"),
          element_at(col("feature"), 2).cast("int").as("decoded_height"),
          round(element_at(col("feature"), 3) * 255).cast("int").as("r255"),
          round(element_at(col("feature"), 4) * 255).cast("int").as("g255"),
          round(element_at(col("feature"), 5) * 255).cast("int").as("b255"))
        .orderBy("asset_id")
    }),

    // ---- multimodal: perceptual-hash image dedup over REAL decoded
    //      pixels. Payloads are genuine 8×8 gradient PNGs keyed by
    //      id mod 17, so colliding ids are pixel-identical; the gate
    //      average-hashes the DECODED grid (exact integer threshold) and
    //      groups by hash — the oracle recomputes every pixel, hash, and
    //      group from the id formula. Dedup shuffles (id, 8-byte hash),
    //      never pixels. ----
    "mm_phash_dedup" -> ((s, d) => {
      val hashes = Multimodal.perceptualHash(
        Multimodal.syntheticPatternImageAssets(s, Tables.documents(s, d)))
      val groups = hashes.groupBy("phash")
        .agg(count(lit(1)).as("group_n"), min(col("doc_id")).as("__canon"))
      hashes.join(groups, Seq("phash"))
        .select(col("doc_id"), col("phash"), col("group_n"),
          (col("doc_id") === col("__canon")).as("keep"))
        .orderBy("doc_id")
    }),

    // ---- multimodal curation composed end-to-end: perceptual-hash image
    //      dedup over REAL decoded pixels gates the asset side, the
    //      per-source median quality gate filters the caption side,
    //      and the surviving (asset, caption) pairs — 1:1 by id — are the
    //      training pairs a CLIP-style run ingests. Asset dedup shuffles
    //      (id, 8-byte hash), caption thresholds broadcast, the final
    //      pairing is ids+scalars. ----
    "e2e_asset_text_pairs" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val hashes = Multimodal.perceptualHash(
        Multimodal.syntheticPatternImageAssets(s, docs))
      val canon = hashes.groupBy("phash").agg(min(col("doc_id")).as("__canon"))
      val surv = hashes.join(canon, Seq("phash"))
        .where(col("doc_id") === col("__canon"))
        .select("doc_id", "phash")
      val scored = docs.select(col("doc_id"), col("source"),
        TextOps.qualityCol(col("text")).as("quality"))
      val kept = CoreOps.perGroupMedianFilter(scored, "source", "quality")
      surv.join(kept, Seq("doc_id"))
        .select("doc_id", "phash", "source", "quality")
        .orderBy("doc_id")
    }),

    // ---- multimodal: frame-sequence signature dedup over REAL decoded
    //      video frames. Payloads are genuine 4-frame animated GIFs keyed
    //      by id mod 7, so colliding ids are frame-identical; the gate
    //      rolls each DECODED frame's exact mean gray (plus the frame
    //      count) into a mod-(2³¹−1) polynomial hash and groups by
    //      signature — the oracle recomputes every frame gray from the id
    //      formula. Dedup shuffles (id, 8-byte signature), never
    //      frames. ----
    "mm_video_signature_dedup" -> ((s, d) => {
      val sigs = Multimodal.videoSignature(
        Multimodal.syntheticPatternVideoAssets(s, Tables.documents(s, d)))
      val groups = sigs.groupBy("vsig")
        .agg(count(lit(1)).as("group_n"), min(col("doc_id")).as("__canon"))
      sigs.join(groups, Seq("vsig"))
        .select(col("doc_id"), col("vsig"), col("group_n"),
          (col("doc_id") === col("__canon")).as("keep"))
        .orderBy("doc_id")
    }),

    // ---- multimodal: ONE dedup across ALL modalities. A mixed asset table
    //      (kind = id mod 3 → keyed-pattern PNG / WAV / animated GIF) flows
    //      through a single kind-dispatched signature map (image aHash,
    //      audio envelope fingerprint, video frame-sequence hash, each
    //      namespaced `kind:hash`) and ONE signature-equality grouping —
    //      the d17 unification move applied to assets. The oracle replays
    //      every signature from the id formulas, per kind. Only (id, kind,
    //      signature) rows shuffle; payloads never leave their scan
    //      partitions (plan-spec-pinned). ----
    "e2e_asset_dedup" -> ((s, d) => {
      // localCheckpoint (guide §2.4): the signature table feeds BOTH
      // the canonical-pick aggregate and the final join — without it the
      // payload DECODE (the expensive stage) runs twice. (id, kind, hash)
      // rows only; payloads never persist.
      val sigs = Multimodal.assetSignature(
        Multimodal.syntheticMixedAssets(s, Tables.documents(s, d)))
        .localCheckpoint()
      val groups = sigs.groupBy("sig")
        .agg(count(lit(1)).as("group_n"), min(col("doc_id")).as("__canon"))
      sigs.join(groups, Seq("sig"))
        .select(col("doc_id"), col("kind"), col("sig"), col("group_n"),
          (col("doc_id") === col("__canon")).as("keep"))
        .orderBy("doc_id")
    }),

    // ---- multimodal: energy-envelope fingerprint dedup over REAL decoded
    //      PCM samples. Payloads are genuine WAVs keyed by id mod 13, so
    //      colliding ids are sample-identical; the gate fingerprints the
    //      DECODED stream (64-window exact-integer envelope hash) and
    //      groups by hash — the oracle recomputes every window sum from
    //      the id formula. Dedup shuffles (id, 8-byte hash), never
    //      samples. ----
    "mm_audio_fingerprint_dedup" -> ((s, d) => {
      // localCheckpoint: two consumers — the real PCM decode +
      // envelope fingerprint would otherwise run twice (guide §2.4)
      val hashes = Multimodal.audioFingerprint(
        Multimodal.syntheticPatternAudioAssets(s, Tables.documents(s, d)))
        .localCheckpoint()
      val groups = hashes.groupBy("ahash")
        .agg(count(lit(1)).as("group_n"), min(col("doc_id")).as("__canon"))
      hashes.join(groups, Seq("ahash"))
        .select(col("doc_id"), col("ahash"), col("group_n"),
          (col("doc_id") === col("__canon")).as("keep"))
        .orderBy("doc_id")
    }),

    // ---- multimodal: REAL audio decode (javax.sound.sampled). Payloads
    //      are genuine WAVs (±c square waves) whose frame count, sample
    //      rate, and amplitude are closed-form in the asset id; the gate
    //      derives frames/rate/RMS from the DECODED SAMPLES, the oracle
    //      recomputes them from metadata — a hash match proves the decode
    //      path actually ran. The RMS of a ±c square wave is exactly c
    //      (IEEE sqrt(c²) = c bit-exactly), so the int cast is lossless. ----
    "mm_audio_decode" -> ((s, d) => {
      val assets = Multimodal.syntheticAudioAssets(s, Tables.documents(s, d))
      Multimodal.extractFeatures(s, assets).toDF()
        .select(col("asset_id"),
          element_at(col("feature"), 1).cast("int").as("decoded_frames"),
          element_at(col("feature"), 2).cast("int").as("decoded_rate"),
          element_at(col("feature"), 3).cast("int").as("rms_amp"))
        .orderBy("asset_id")
    }),

    // ---- multimodal: REAL video decode (javax.imageio multi-frame GIF).
    //      Payloads are genuine animated GIFs whose frame count, dims, and
    //      per-frame gray level are closed-form in the asset id; the gate
    //      derives frame count + first/last-frame means from the DECODED
    //      FRAME SEQUENCE (the last-frame stat forces iterating every
    //      frame), the oracle recomputes them from metadata — a hash match
    //      proves whole-video decode actually ran. ----
    "mm_video_decode" -> ((s, d) => {
      val assets = Multimodal.syntheticVideoAssets(s, Tables.documents(s, d))
      Multimodal.extractFeatures(s, assets).toDF()
        .select(col("asset_id"),
          element_at(col("feature"), 1).cast("int").as("decoded_frames"),
          element_at(col("feature"), 2).cast("int").as("decoded_width"),
          element_at(col("feature"), 3).cast("int").as("decoded_height"),
          round(element_at(col("feature"), 4) * 255).cast("int").as("first_gray"),
          round(element_at(col("feature"), 5) * 255).cast("int").as("last_gray"))
        .orderBy("asset_id")
    }),

    // ---- multimodal: frame sampling over binary payloads ----
    "mm_frame_sample" -> ((s, d) => {
      val assets = Multimodal.syntheticAssets(s, Tables.documents(s, d))
      Multimodal.sampleFrames(s, assets, frameBytes = 64, stride = 2)
        .orderBy("asset_id", "frame_idx")
    }),

    // ---- P6+P7+P1 composed: confidential word count. Documents are sealed
    //      with routing AAD (spout→split), route-validated, unsealed, then
    //      tokenized — the sigma=0 pipeline is the identity through the
    //      crypto layer, so the plaintext word-count SQL is the oracle and
    //      the DuckDB gate itself verifies the AEAD roundtrip. ----
    "p6_confidential_wordcount" -> ((s, d) => {
      val codec = new operators.SealedColumns.Codec(graft.crypto.SealedPayload.testKey, "aes-gcm")
      val sealedDocs = Tables.documents(s, d).select(
        col("doc_id"),
        operators.SealedColumns.sealColumn(col("text"), col("doc_id"), "spout", "split",
          concat(lit("p"), col("doc_id") % 4), codec).as("payload"))
      val unsealed = sealedDocs.select(col("doc_id"),
        operators.SealedColumns.unsealColumn(col("payload"), "spout", "split", codec).as("text"))
        .where(col("text").isNotNull)
      CoreOps.tokenize(unsealed, "text")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy("word")
    }),

    // ---- P7: routes resolved from the sealed topology graph; negative paths
    //      are a stage absent from the graph (fail-closed, no upstreams) and
    //      a registered stage the payload is not addressed to ----
    "p7_route_validation" -> ((s, d) => {
      val codec = new operators.SealedColumns.Codec(graft.crypto.SealedPayload.testKey, "aes-gcm")
      val topoKey = graft.crypto.SealedPayload.testKey
      val sealedTopo = graft.crypto.PipelineTopology(
        "spout" -> Seq("split"), "split" -> Seq("bounding"), "bounding" -> Seq("aggregation"))
        .sealWith(topoKey)
      val topo = graft.crypto.PipelineTopology.loadSealed(sealedTopo, topoKey)
      val sealedDocs = Tables.documents(s, d).select(
        col("doc_id"),
        operators.SealedColumns.sealColumn(col("text"), col("doc_id"), "spout", "split",
          concat(lit("p"), col("doc_id") % 4), codec).as("payload"))
      val good = operators.SealedColumns.unsealForStage(col("payload"), "split", codec, topo)
      val unknownStage = operators.SealedColumns.unsealForStage(col("payload"), "perturbation", codec, topo)
      val wrongStage = operators.SealedColumns.unsealForStage(col("payload"), "bounding", codec, topo)
      sealedDocs.agg(
        sum(when(good.isNotNull, 1L).otherwise(0L)).as("valid_route"),
        sum(when(unknownStage.isNotNull, 1L).otherwise(0L)).as("invalid_route"),
        sum(when(wrongStage.isNotNull, 1L).otherwise(0L)).as("wrong_stage"))
    }),

    // ---- P8: replay filter (first occurrence per producer+seq survives) ----
    "p8_replay_filter" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(
        concat(lit("p"), col("doc_id") % 4).as("producer"),
        (col("doc_id") % 100).as("seq"), col("doc_id"))
      val replayed = docs.union(docs) // every record delivered twice
      operators.SealedColumns.replayFilter(replayed, "producer", "seq", "doc_id")
        .groupBy("producer").agg(count(lit(1)).as("accepted"))
        .orderBy("producer")
    }),

    // ---- S3: seeded Zipf-Mandelbrot synthetic workload. The generator has
    //      no input table, so the gate MATERIALIZES its seeded output to
    //      parquet and aggregates the materialized copy; the DuckDB oracle
    //      reads the same parquet (ModelOracles.s3OracleSql) and re-derives the frequency
    //      ranking — the d8-centroid pattern: only deterministic generator
    //      output crosses the boundary, the aggregation is re-derived in
    //      SQL. Distribution shape itself stays golden-pinned in
    //      SyntheticSourceSpec. ----
    oracled("s3_zipf_freq") { (s, d) =>
      // The write is a ONE-TIME side effect per (JVM, sf) — repeat
      // constructions (bench repeats, re-runs) reuse the materialized
      // parquet, so only the first timed run pays the generator I/O
      // (min-of-repeats then measures the read+aggregate path).
      val path = exported("s3_zipf_input", d)(
        graft.sources.SyntheticSource.zipfContributions(s, 100000L, 1000, 500, 4).toDF())
      (s.read.parquet(path)
        .groupBy("key").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("key"))
        .limit(50), ModelOracles.s3OracleSql(path))
    },

    // ---- ANN LSH top-k (approximate; DuckDB oracle mirrors the md5-derived
    //      hyperplanes, buckets, and candidate scoring; recall floor vs brute
    //      force is additionally pinned in OperatorsSpec) ----
    "d7_ann_lsh_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.lshBucketTopK(emb, queries, TopK)
        .orderBy("query_id", "rank")
    }),

    // ---- ANN IVF top-k (trained coarse quantizer; oracle gets the trained
    //      centroids as a VALUES table — see IndexOracles.ivfOracleSql — and re-derives
    //      assignment/probing/ranking in SQL; training itself is pinned by
    //      OperatorsSpec determinism+recall) ----
    oracled("d8_ann_ivf_topk") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding"))
      val centroids = ivfCentroids(emb)
      (Similarity.ivfTopK(emb, queries, TopK, centroids, IvfNprobe)
        .orderBy("query_id", "rank"), IndexOracles.ivfOracleSql(centroids))
    },

    // ---- semantic corpus clustering: nearest trained centroid + exact
    //      squared distance per vector (assignment agrees with d8's IVF
    //      cells; the oracle re-derives it from the exported centroids) ----
    oracled("q_kmeans_assign") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val centroids = ivfCentroids(emb)
      (Similarity.kmeansAssign(emb, centroids).orderBy("vec_id"),
        IndexOracles.ivfOracleSql(centroids))
    },

    // ---- cluster-balanced (diversity) sampling: deterministic md5-rank
    //      cap per semantic cluster — the curation step that keeps a
    //      training mix from collapsing into its dominant topics ----
    oracled("q_cluster_balanced_sample") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val centroids = ivfCentroids(emb)
      (CoreOps.sampleDeterministicPerKey(
          Similarity.kmeansAssign(emb, centroids), "cluster", "vec_id", 10L)
        .select("cluster", "vec_id")
        .orderBy("cluster", "vec_id"), IndexOracles.ivfOracleSql(centroids))
    },

    // ---- semantic split-leakage audit: test-split vectors with a train
    //      vector within cosine threshold — the paraphrase leakage the
    //      verbatim n-gram audit (q_split_leakage_ngram) cannot see ----
    oracled("q_split_leakage_semantic") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val centroids = ivfCentroids(emb)
      (Similarity.semanticSplitLeakage(emb, centroids, CosineNearDupThreshold)
        .orderBy("vec_id"), IndexOracles.ivfOracleSql(centroids))
    },

    // ---- hybrid split-leakage audit: a test doc is leaked if EITHER the
    //      verbatim n-gram signal OR the embedding-cosine signal fires —
    //      the audit-side completion of d17's hybrid dedup (documents and
    //      embeddings are 1:1 by id, and the shared md5 split assigns
    //      both sides identically) ----
    oracled("q_split_leakage_hybrid") { (s, d) =>
      val split = CoreOps.hashSplit(Tables.documents(s, d), "doc_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      val lex = Dedup.splitLeakage(
          split.where(col("split") === "train"), split.where(col("split") === "test"),
          "doc_id", "text", n = 8)
        .select(col("doc_id"), col("n_leaked"))
      val emb = Tables.embeddings(s, d)
      val centroids = ivfCentroids(emb)
      val sem = Similarity.semanticSplitLeakage(emb, centroids, CosineNearDupThreshold)
        .select(col("vec_id").as("doc_id"), col("n_near"))
      (lex.join(sem, Seq("doc_id"))
        .select(col("doc_id"), col("n_leaked"), col("n_near"),
          (col("n_leaked") > 0 || col("n_near") > 0).as("leaked"))
        .orderBy("doc_id"), IndexOracles.ivfOracleSql(centroids))
    },

    // ---- SemDeDup: semantic near-dup pruning — exact-cosine pairs scored
    //      WITHIN k-means clusters only, transitive closure, min-id
    //      survivor per duplicate group (the embedding-space dedup that
    //      catches paraphrases MinHash misses) ----
    oracled("d16_semantic_dedup") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val centroids = ivfCentroids(emb)
      (Similarity.semanticDedup(emb, centroids, CosineNearDupThreshold)
        .orderBy("vec_id"), IndexOracles.ivfOracleSql(centroids))
    },

    // ---- batch incremental SemDeDup (the vector-space d12): a held-out
    //      fifth of the embeddings deduplicates against the other four
    //      fifths' maintained CELL INDEX under the full-corpus centroids —
    //      the corpus is never self-joined, and the streaming form
    //      (StreamingPipelines.semanticDedupStream) is value-identical on
    //      a replay (StreamingSpec). Centroids deliberately train on the
    //      full table with the default model so the exported-centroid
    //      oracle replays assignment for BOTH sides. ----
    oracled("d18_incremental_semantic_dedup") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val centroids = ivfCentroids(emb)
      val cellIndex = Similarity.assignToCells(emb.where(col("vec_id") % 5 =!= 0), centroids)
        .select(col("cluster"), col("vec_id").as("c_id"), col("nemb").as("c_nemb"))
      (Similarity.incrementalSemanticDedup(
          emb.where(col("vec_id") % 5 === 0), centroids, cellIndex, CosineNearDupThreshold)
        .orderBy("vec_id"), IndexOracles.ivfOracleSql(centroids))
    },

    // ---- HYBRID incremental dedup (d17's either-signal rule at ingest):
    //      the held-out fifth is admitted only when BOTH maintained
    //      indexes say novel — lexical MinHash/Jaccard vs the corpus text
    //      AND within-cell cosine vs the corpus embeddings (1:1 by id,
    //      same % 5 split as d18, so the oracle composes the d12 and d18
    //      CTE stacks through one final id join). ----
    oracled("d19_hybrid_incremental_dedup") { (s, d) =>
      // both signals need both representations, so the gate runs on the
      // documents∩embeddings intersection (1:1 at sf0.01; at sf0.1 only
      // the first 2000 documents carry embeddings) — the same restriction
      // streaming_hybrid_epoch applies
      val emb = Tables.embeddings(s, d)
      val docs = Tables.documents(s, d)
        .join(emb.select(col("vec_id").as("doc_id")), "doc_id")
      val centroids = ivfCentroids(emb)
      val cellIndex = Similarity.assignToCells(emb.where(col("vec_id") % 5 =!= 0), centroids)
        .select(col("cluster"), col("vec_id").as("c_id"), col("nemb").as("c_nemb"))
      (Dedup.hybridIncrementalDedup(
          docs.where(col("doc_id") % 5 =!= 0), docs.where(col("doc_id") % 5 === 0),
          emb.where(col("vec_id") % 5 === 0), centroids, cellIndex,
          "doc_id", "text", ShingleK, NumMinHashes, NumBands,
          JaccardThreshold, CosineNearDupThreshold)
        .orderBy("doc_id"), IndexOracles.ivfOracleSql(centroids))
    },

    // ---- the embedding-side curation pipeline composed as ONE query:
    //      k-means assignment → outlier removal (3 farthest per cluster)
    //      → SemDeDup over the retained vectors → md5-rank diversity cap
    //      (10 per cluster) — all stages sharing one full-corpus model ----
    oracled("e2e_semantic_curation") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val centroids = ivfCentroids(emb)
      (Similarity.semanticCuration(emb, centroids, CosineNearDupThreshold,
          outlierK = 3, capPerCluster = 10L)
        .orderBy("cluster", "vec_id"), IndexOracles.ivfOracleSql(centroids))
    },

    // ---- hybrid dedup: lexical (MinHash/LSH-verified Jaccard — the
    //      EXPLICIT default generator of Dedup.lexicalNearDupPairs; the
    //      Hamming pigeonhole is the measured-recall-0.52 opt-in) and
    //      semantic (within-cluster cosine) near-dup edges UNIONED into one
    //      component closure — a doc is a duplicate if EITHER signal says
    //      so (the embeddings table is 1:1 with documents by id) ----
    oracled("d17_hybrid_dedup") { (s, d) =>
      val docs = Tables.documents(s, d)
      val lexical = Dedup.lexicalNearDupPairs(docs, "doc_id", "text",
          ShingleK, NumMinHashes, NumBands, JaccardThreshold)
        .select("doc_a", "doc_b")
      val emb = Tables.embeddings(s, d)
      val centroids = ivfCentroids(emb)
      val semantic = Similarity.semanticNearDupPairs(emb, centroids, CosineNearDupThreshold)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      val comp = Dedup.connectedComponents(lexical.unionByName(semantic), "doc_a", "doc_b")
        .select(col("doc_id").as("cid"), col("component"))
      (docs.join(comp, col("doc_id") === col("cid"), "left")
        .where(col("component").isNull || col("doc_id") === col("component"))
        .select("doc_id", "source")
        .orderBy("doc_id"), IndexOracles.ivfOracleSql(centroids))
    },

    // ---- canonical-shingle near-dup: MassiveText/
    //      CCNet canonicalize BEFORE MinHash shingling, so case/punct
    //      variants of near-dup docs are caught lexically. The gate plants
    //      a deterministic variant per doc_id%17==2 document (uppercased,
    //      ' -- ' interleaved between tokens — canon-identical, raw-
    //      shingle-DISJOINT) and runs lexicalNearDupPairs both ways over
    //      documents ∪ variants: every planted pair must be caught under
    //      canonical shingles and missed under raw ones. The oracle
    //      replays variants, canon (the d1c lower/strip_accents/
    //      regexp_replace replay), signatures, banding, and Jaccard for
    //      the planted pairs. ----
    "d25_canonical_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val eligible = docs
        .where(col("doc_id") % 17 === 2 &&
          size(split(col("text"), " ")) >= ShingleK)
        .select(col("doc_id"), col("text"))
      val variants = eligible.select(
        (col("doc_id") + 100000L).as("doc_id"),
        expr("upper(replace(text, ' ', ' -- '))").as("text"))
      val corpus = docs.select("doc_id", "text").unionByName(variants)
      def plantedCaught(pairs: DataFrame, flag: String) =
        pairs.select(col("doc_a").as("doc_id"), col("doc_b").as("variant_id"),
          lit(true).as(flag))
      val canonical = plantedCaught(Dedup.lexicalNearDupPairs(corpus, "doc_id",
        "text", ShingleK, NumMinHashes, NumBands, JaccardThreshold,
        canonicalize = true), "caught_canonical")
      val raw = plantedCaught(Dedup.lexicalNearDupPairs(corpus, "doc_id",
        "text", ShingleK, NumMinHashes, NumBands, JaccardThreshold),
        "caught_raw")
      eligible.select(col("doc_id"), (col("doc_id") + 100000L).as("variant_id"))
        .join(canonical, Seq("doc_id", "variant_id"), "left")
        .join(raw, Seq("doc_id", "variant_id"), "left")
        .select(col("doc_id"), col("variant_id"),
          coalesce(col("caught_canonical"), lit(false)).as("caught_canonical"),
          coalesce(col("caught_raw"), lit(false)).as("caught_raw"))
        .orderBy("doc_id")
    }),

    // ---- chunk→document embedding pooling: element-wise fixed-point mean
    //      per group (10 chunks per synthetic document), long format ----
    "q_chunk_mean_pool" -> ((s, d) => {
      val chunks = Tables.embeddings(s, d)
        .select(expr("vec_id div 10").as("doc_group"), col("embedding"))
      Similarity.meanPoolQ6(chunks, "doc_group", "embedding")
        .orderBy("group_id", "pos")
    }),

    // ---- int8-style scalar quantization + exact rescoring ----
    "d9_quantized_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.quantizedTopK(emb, queries, TopK, rescoreFactor = 4)
        .orderBy("query_id", "rank")
    }),

    // ---- quantized ranking over LSH-bucketed candidates — the composed
    //      form a 100 TB corpus uses: the bucket join bounds candidates,
    //      int8 codes rank them, exact cosine rescores the survivors ----
    "d9b_quantized_lsh_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding"))
      val cands = Similarity.lshCandidates(emb, queries)
      Similarity.quantizedTopK(emb, queries, TopK, rescoreFactor = 4, candidates = Some(cands))
        .orderBy("query_id", "rank")
    }),

    // ---- same quantized scorer over the trained IVF cells ----
    oracled("d9c_quantized_ivf_topk") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding"))
      val centroids = ivfCentroids(emb)
      val cands = Similarity.ivfCandidates(emb, queries, centroids, IvfNprobe)
      (Similarity.quantizedTopK(emb, queries, TopK, rescoreFactor = 4, candidates = Some(cands))
        .orderBy("query_id", "rank"), IndexOracles.ivfOracleSql(centroids))
    },

    // ---- product quantization: m-byte codes + ADC lookup ranking + exact
    //      rescore — completes the quantized family (d9 scalar, d9b LSH,
    //      d9c IVF, d9d product) ----
    oracled("d9d_pq_topk") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding"))
      val books = Similarity.trainPqCodebooks(emb, dim = 64, m = 16, ksub = 16)
      (Similarity.pqTopK(emb, queries, TopK, books, rescoreCands = 20)
        .orderBy("query_id", "rank"), IndexOracles.pqOracleSql(books))
    },

    // ---- 1-bit sign quantization: Hamming ranking over packed sign bits
    //      (8 B/vector — the binary-hash tier below int8 and PQ), exact
    //      cosine rescore of the survivors fetched by id. Signatures are
    //      sign projections of the RAW floats (scale-invariant), so the
    //      index build is scan-speed with zero training and no rounding
    //      contract for two engines to disagree on ----
    "d27_signbit_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.signBitTopK(emb, queries, TopK, rescoreFactor = 4)
        .orderBy("query_id", "rank")
    }),

    // ---- semantic outlier pruning: the 3 vectors farthest from their
    //      cluster centroid per cluster — the embedding-space noise filter
    //      (garbage scrapes sit far from every centroid) ----
    oracled("q_semantic_outliers") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val centroids = ivfCentroids(emb)
      (Similarity.semanticOutliers(emb, centroids, k = 3)
        .orderBy("cluster", "out_rank"), IndexOracles.ivfOracleSql(centroids))
    },

    // ---- deterministic near-balanced output sharding: size-sorted
    //      round-robin into 8 shards — the writer-side step that cuts a
    //      curated corpus into near-equal training files ----
    "q_balanced_shards" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      CoreOps.balancedShards(docs, "doc_id", "n_tok", shards = 8)
        .orderBy("doc_id")
    }),

    // ---- per-shard writer manifest: doc count, token sum, and an
    //      ORDER-FREE content checksum (sum of md5-derived per-row longs —
    //      exact long addition commutes, so any partitioning/task order
    //      produces identical bytes) for each balanced shard — the
    //      integrity record a 100 TB writer emits beside every training
    //      file so a reader can verify shards without re-reading payloads.
    //      Aggregates at SHARD cardinality map-side on top of the one
    //      range repartition the sharding already pays. ----
    "q_shard_manifest" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      // per-row checksum reduced mod 1e6+3 BEFORE summing: the raw
      // 13-hex-digit value is ~2^52, so a shard of ~4100 docs would
      // overflow the long sum — and Spark's non-ANSI sum wraps silently
      // while DuckDB's HUGEINT sum then errors on the BIGINT cast. The
      // reduced sum stays exact to ~10^12 docs per shard.
      CoreOps.balancedShards(docs, "doc_id", "n_tok", shards = 8)
        .withColumn("__ck",
          conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10).cast("long")
            % lit(1000003L))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
          sum(col("__ck")).as("checksum"))
        .orderBy("shard")
    }),

    // ---- inter-source duplication matrix: distinct 8-token windows each
    //      source pair shares verbatim — the syndication/mirror diagnostic
    //      a build reads before choosing which domains to collapse ----
    "q_source_overlap_matrix" -> ((s, d) => {
      Dedup.sourceOverlapMatrix(Tables.documents(s, d), "text", "source", n = 8)
        .orderBy("source_a", "source_b")
    }),

    // ---- epoch-repetition plan (data-constrained scaling, Muennighoff
    //      et al.): sources ranked by their exact median quality into 4
    //      tiers; tier-1 sources repeat 4 epochs, tier-4 once — the
    //      repeat-good-data-under-token-constraints recipe. The ranking
    //      window runs over the SOURCE-cardinality threshold table (tiny
    //      by definition), the tier map broadcasts, and the expansion is
    //      a pure explode. ----
    "q_epoch_repetition_plan" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val scored = docs.select(col("doc_id"), col("source"),
        TextOps.qualityCol(col("text")).as("quality"))
      val hist = scored.groupBy(col("source"), col("quality")).agg(count(lit(1)).as("c"))
      val thr = hist
        .withColumn("cum", sum(col("c")).over(
          Window.partitionBy(col("source")).orderBy(col("quality"))))
        .withColumn("tot", sum(col("c")).over(Window.partitionBy(col("source"))))
        .where(col("cum") >= expr("(tot + 1) div 2"))
        .groupBy(col("source")).agg(min(col("quality")).as("q_med"))
      // no-partition window: thr is at source cardinality (tiny), never corpus
      val tiers = thr
        .withColumn("idx", row_number().over(
          Window.orderBy(col("q_med").desc, col("source"))) - 1)
        .crossJoin(broadcast(thr.agg(count(lit(1)).as("ns"))))
        .withColumn("tier", expr(
          """CAST(CASE WHEN idx < (ns % 4) * (ns div 4 + 1)
            |THEN idx div (ns div 4 + 1)
            |ELSE (ns % 4) + (idx - (ns % 4) * (ns div 4 + 1)) div (ns div 4)
            |END + 1 AS INT)""".stripMargin))
        .select("source", "tier")
      docs.select("doc_id", "source").join(broadcast(tiers), Seq("source"))
        .withColumn("epoch", explode(sequence(lit(1), lit(5) - col("tier"))))
        .select("doc_id", "source", "tier", "epoch")
        .orderBy("doc_id", "epoch")
    }),

    // ---- per-source dynamic quality thresholding: keep each source's
    //      upper half by the x2 quality blend — exact median WITHOUT a
    //      corpus sort (round4 quantization → histogram median) ----
    "q_quality_median_filter" -> ((s, d) => {
      val scored = Tables.documents(s, d).select(col("doc_id"), col("source"),
        TextOps.qualityCol(col("text")).as("quality"))
        // (id, source, quality) is text-free and tiny; its two consumers
        // inside the filter (threshold histogram + kept-row side) must
        // not each re-run the quality regex chain over the corpus
        // (a re-run per consumer measured 16.4× wall on 10× data)
        .localCheckpoint()
      CoreOps.perGroupMedianFilter(scored, "source", "quality")
        .select("doc_id", "source", "quality")
        .orderBy("doc_id")
    }),

    // ---- cross-split n-gram leakage audit: for every test-split doc, the
    //      fraction of its 8-token windows appearing verbatim in train —
    //      the post-split QA gate that alarms when upstream dedup slips ----
    "q_split_leakage_ngram" -> ((s, d) => {
      val split = CoreOps.hashSplit(Tables.documents(s, d), "doc_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      Dedup.splitLeakage(
          split.where(col("split") === "train"), split.where(col("split") === "test"),
          "doc_id", "text", n = 8)
        .orderBy("doc_id")
    }),

    // ---- the TRAINING-ORDER manifest a packed curriculum run feeds its
    //      data loader, composed end-to-end as ONE query: per-source median
    //      quality gate (r9's histogram-exact threshold) → temperature-
    //      flattened source mixing (α=½, 150 slots) over the kept docs →
    //      bigram-LM difficulty RETRAINED on the selected subset →
    //      curriculum phases (exact integer NTILE over the range-
    //      partitioned global index) → 128-token sequence packing in
    //      (phase, difficulty, id) order via the two-phase O(P) prefix sum.
    //      Every stage is ids+scalars once text-derived scores exist; the
    //      only corpus-sized shuffles are the per-source rank window and
    //      the packing range-repartition. ----
    "e2e_training_manifest" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val scored = docs.select(col("doc_id"), col("source"),
        TextOps.qualityCol(col("text")).as("quality"))
      val kept = CoreOps.perGroupMedianFilter(scored, "source", "quality")
      val mixed = CoreOps.temperatureMixSample(
        kept.select("source", "doc_id"), "source", "doc_id", 150L)
      val sel = docs.join(mixed.select("doc_id"), Seq("doc_id"))
      // difficulty model retrained on the selected subset (the mix defines
      // the distribution the curriculum should order)
      val diff = TextOps.bigramPerplexity(sel, "doc_id", "text")
        .select("doc_id", "avg_nll")
      val phased = CoreOps.curriculumPhases(diff, Seq("avg_nll", "doc_id"), 4)
      val withTok = phased.join(
        docs.select(col("doc_id"), size(TextOps.tokens(col("text"))).cast("long").as("n_tokens")),
        Seq("doc_id"))
      CoreOps.globalPrefixSum(withTok,
          Seq(col("phase"), col("avg_nll"), col("doc_id")), "n_tokens", "tok_start")
        .withColumn("chunk_start", expr("tok_start DIV 128L"))
        .withColumn("chunk_end",
          when(col("n_tokens") === 0, col("chunk_start"))
            .otherwise(expr("(tok_start + n_tokens - 1) DIV 128L")))
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
        .select("doc_id", "source", "phase", "avg_nll", "n_tokens",
          "tok_start", "chunk_start", "chunk_end")
        .orderBy("doc_id")
    })
  )

  /** A gate whose DuckDB oracle is a function of what `body` trained or
    * computed: `body` returns the gate's output and an oracle builder's
    * gate→SQL map ([[IndexOracles]], [[ModelOracles]]), and this gate's
    * entry is frozen into [[SpliceStore]] as `sql:<name>` in the same call,
    * so no later training can change it. A builder that refused to emit an
    * oracle (an IEEE-bearing VALUES splice) freezes nothing. */
  private def oracled(name: String)(
      body: (SparkSession, String) => (DataFrame, Map[String, String]))
      : (String, (SparkSession, String) => DataFrame) =
    name -> ((s, d) => {
      val (out, oracles) = body(s, d)
      oracles.get(name).foreach(sql => SpliceStore.put(s"sql:$name", sql))
      out
    })

  /** Train-once memo of every model an oracle reads and of the shared
    * staleness measurements, keyed by (family, sf dir): the first gate
    * needing one trains it, and every later gate — and every later run of
    * a gate in a bench sweep — reuses it. The sf dir is in the key because
    * the bench's cross-sf scaling rerun runs gates at a second sf in the
    * same JVM and must retrain there rather than reuse the big-sf model. */
  private val trained = new java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]()

  private def trainOnce[M <: AnyRef](family: String, d: String)(train: => M): M =
    Option(trained.get((family, d))).getOrElse {
      val m = train
      trained.put((family, d), m)
      m
    }.asInstanceOf[M]

  /** recall@[[TopK]] per query of the ANN ranking `ann` (query_id,
    * neighbor_id, …) against the exact full-dim ranking. */
  private def annRecall(emb: DataFrame, queries: DataFrame, ann: DataFrame): DataFrame =
    Similarity.bruteForceTopK(emb, queries, TopK).select("query_id", "neighbor_id")
      .join(ann.select(col("query_id"), col("neighbor_id"), lit(1).as("__hit")),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("__hit")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        (col("n_hits").cast("double") / lit(TopK.toDouble)).as("recall"))
      .orderBy("query_id")

  /** The full-corpus IVF centroids every k-means/IVF gate trains (nlist 16,
    * dim 64, seed 42) — the model [[IndexOracles.ivfOracleSql]] replays. */
  private def ivfCentroids(emb: DataFrame): Array[Array[Double]] =
    Similarity.trainIvfCentroids(emb, nlist = 16, dim = 64)

  /** The q_reduced_index_staleness measurement (frozen-model decay vs a
    * fresh rebuild on a drifted corpus) and its oracle, built from both of
    * its models: (two-arm recall table, oracle). Trained once per (JVM,
    * sf): [[q_index_rebuild_policy]] composes both staleness measurements
    * verbatim, so a sweep running the two staleness gates and the policy
    * gate would otherwise pay each arm's PCA/OPQ training twice. Training
    * collects to the driver at construction; the returned DataFrame
    * replays only the probes per action, so sharing the pair shares
    * exactly the redundant trains. */
  private def reducedStalenessArms(s: SparkSession, d: String): (DataFrame, Map[String, String]) =
    trainOnce("reduced_staleness", d) {
      val emb = Tables.embeddings(s, d)
      val base = emb.where(col("vec_id") % 5 < 3)
      val drifted = emb.where(col("vec_id") % 5 >= 3)
        .withColumn("embedding", reverse(col("embedding")))
      val corpus = base.unionByName(drifted)
      val frozen = Similarity.trainReducedModel(base)
      val stale = Similarity.reducedIndexAppend(
        Similarity.reducedIndexAppend(
          Similarity.reducedIndexOf(base, frozen),
          drifted.where(col("vec_id") % 2 === 0), frozen),
        drifted.where(col("vec_id") % 2 === 1), frozen)
      val fresh = Similarity.trainReducedModel(corpus)
      val freshIdx = Similarity.reducedIndexOf(corpus, fresh)
      val queries = drifted.where(col("vec_id") < 25)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val exact = Similarity.bruteForceTopK(corpus, queries, TopK)
        .select("query_id", "neighbor_id")
      val out = stalenessRecall(exact, "fresh_rebuild",
          Similarity.reducedProbeTopK(corpus, freshIdx, fresh, queries, TopK, IvfNprobe))
        .unionByName(stalenessRecall(exact, "maintained_stale",
          Similarity.reducedProbeTopK(corpus, stale, frozen, queries, TopK, IvfNprobe)))
        .orderBy("arm")
      (out, IndexOracles.stalenessOracleSql(frozen, fresh))
    }

  /** The q_pq_index_staleness measurement, the [[reducedStalenessArms]]
    * protocol against the frozen rotation+codebooks index. */
  private def pqStalenessArms(s: SparkSession, d: String): (DataFrame, Map[String, String]) =
    trainOnce("pq_staleness", d) {
      val emb = Tables.embeddings(s, d)
      val base = emb.where(col("vec_id") % 5 < 3)
      val drifted = emb.where(col("vec_id") % 5 >= 3)
        .withColumn("embedding", reverse(col("embedding")))
      val corpus = base.unionByName(drifted)
      val frozen = Similarity.trainReducedPqModel(base)
      val stale = Similarity.reducedPqIndexAppend(
        Similarity.reducedPqIndexAppend(
          Similarity.reducedPqIndexOf(base, frozen),
          drifted.where(col("vec_id") % 2 === 0), frozen),
        drifted.where(col("vec_id") % 2 === 1), frozen)
      val fresh = Similarity.trainReducedPqModel(corpus)
      val freshIdx = Similarity.reducedPqIndexOf(corpus, fresh)
      val queries = drifted.where(col("vec_id") < 25)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val exact = Similarity.bruteForceTopK(corpus, queries, TopK)
        .select("query_id", "neighbor_id")
      // rescoreCands widened to 50 for the staleness measurement: at the
      // probe default (20) BOTH arms bottom out on the drifted corpus and
      // the decay signal compresses; 50 candidates keeps the ADC ranking
      // decisive while giving the rescue rescore room to show the gap
      val out = stalenessRecall(exact, "fresh_rebuild",
          Similarity.reducedPqProbeTopK(corpus, freshIdx, fresh, queries, TopK,
            rescoreCands = 50))
        .unionByName(stalenessRecall(exact, "maintained_stale",
          Similarity.reducedPqProbeTopK(corpus, stale, frozen, queries, TopK,
            rescoreCands = 50)))
        .orderBy("arm")
      (out, IndexOracles.pqStalenessOracleSql(frozen, fresh))
    }

  private def stalenessRecall(exact: DataFrame, arm: String, ann: DataFrame): DataFrame =
    exact.join(
        ann.select(col("query_id"), col("neighbor_id"), lit(1).as("__hit")),
        Seq("query_id", "neighbor_id"), "left")
      .agg(count(col("__hit")).as("n_hits"), count(lit(1)).as("n_expected"))
      .select(lit(arm).as("arm"), col("n_hits"), col("n_expected"),
        (col("n_hits").cast("double") / col("n_expected").cast("double"))
          .as("recall"))

  /** Base dir for every model/generator parquet a DuckDB oracle reads by
    * absolute path. [[Verify]] points this at `<outDir>/_models` BEFORE
    * running any gate, so the paths baked into the dumped `oracle_sql.json`
    * outlive the JVM — a later replay (the driver's DuckDB pass, or
    * `tools/check_oracle.py` against the committed dump) still finds its
    * model tables, which pid-scoped `/tmp` files would not outlive.
    * Unset (bench and
    * spec JVMs, where nothing replays the dumped SQL later) → the /tmp
    * pid-scoped contract with a dead-JVM debris sweep. */
  @volatile var modelExportDir: Option[String] = None

  /** Export path for oracle-referenced model `family` (optionally
    * variant-`suffix`ed) trained at sf-dir `d`. Under [[modelExportDir]]
    * the name is pid-FREE — stable across JVMs, so a fresh full Verify run
    * retrains and overwrites in place while a post-mortem DuckDB replay of
    * the previous dump still resolves; under /tmp it is pid-scoped
    * (concurrent Verify/Bench JVMs must not clobber each other) and dead
    * JVMs' leftovers of the same family are swept first. The sf tag stays
    * in the name in BOTH modes: the bench's cross-sf scaling rerun must
    * retrain at the small sf rather than silently reuse the big-sf model. */
  private def modelExportPath(family: String, d: String,
      suffix: String = ""): String = {
    val sf = d.replaceAll("[^a-zA-Z0-9.]", "_")
    val tail = if (suffix.isEmpty) "" else s"${suffix}_"
    modelExportDir match {
      case Some(base) =>
        new java.io.File(base).mkdirs()
        // "model_"-prefixed PLAIN FILE directly in the out-dir: the
        // correctness check reads every top-level DIRECTORY as a gate
        // output, so a _models/ dir would surface as a phantom no-oracle
        // row; top-level files are invisible to that scan. NO
        // leading underscore — Spark's parquet reader treats "_"/"."
        // prefixed files as hidden metadata and refuses to read them back
        s"$base/model_${family}_$tail$sf.parquet"
      case None =>
        val path = s"/tmp/graft_${family}_${ProcessHandle.current().pid()}_$tail$sf.parquet"
        // sweep dead-JVM debris only BEFORE this family's first write —
        // once the file exists, repeat constructions (timed bench loops)
        // must not pay a /tmp listing per call
        if (!new java.io.File(path).exists())
          Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
            // (_.*)? also matches the older suffix-less s3 name, so old
            // debris from earlier builds is swept too
            .filter(_.getName.matches(s"graft_${family}_\\d+(_.*)?\\.parquet"))
            .foreach { f =>
              val pid = f.getName.stripPrefix(s"graft_${family}_")
                .takeWhile(_.isDigit).toLong
              val alive = ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false)
              if (!alive) graft.tools.CorpusMaintenance.deleteRecursively(f.getPath)
            }
        path
    }
  }

  /** Write a model/generator export as ONE PLAIN PARQUET FILE at `path`:
    * stage dir → move the single part file onto `path` → drop the stage.
    * Models are model-cardinality small, so coalesce(1) is the contract,
    * not a bottleneck; a single file keeps the export invisible to the
    * correctness check's per-directory scan while DuckDB's `read_parquet('<path>')` and `spark.read.parquet` consume
    * it unchanged in both the /tmp and out-dir modes. */
  private def writeModelParquet(df: DataFrame, path: String): Unit = {
    val stage = path + ".stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val parts = Option(new java.io.File(stage).listFiles).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(parts.length == 1,
      s"expected exactly one part file in $stage, found ${parts.length}")
    // Atomicity: a FILE at `path` is replaced by the move's
    // own REPLACE_EXISTING — no delete-then-move window in the steady
    // state, so a crash leaves either the old export or the new one. Only
    // the legacy case (an older PRE-single-file run left a DIRECTORY at
    // `path`, which a file move cannot replace) still deletes first, and
    // Verify sweeps `*.stage` leftovers at startup so even a crash inside
    // that one-time window cannot surface a phantom correctness row.
    val target = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.isDirectory(target))
      graft.tools.CorpusMaintenance.deleteRecursively(path)
    java.nio.file.Files.move(parts.head.toPath, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    graft.tools.CorpusMaintenance.deleteRecursively(stage)
    ()
  }

  /** The export at [[modelExportPath]]`(family, d, suffix)` of `model`,
    * written once per (JVM, sf); returns its path. */
  private def exported(family: String, d: String, suffix: String = "")(
      model: => DataFrame): String =
    trainOnce(s"$family/$suffix", d) {
      val path = modelExportPath(family, d, suffix)
      writeModelParquet(model, path)
      path
    }

  /** Merge budget of the x13 BPE training gate (shared by gate + specs). */
  val X13NumMerges = 150

  /** The BPE model trained on the corpus at `d` (x13, the e2e tokenizer
    * gate and the size curve share it): [[graft.operators.TextOps.bpeTrain]]
    * over the word-frequency table, exported as the (word, n_tokens, freq,
    * tokens) parquet the gates AND the DuckDB oracles read. Returns (export
    * path, learned merge list). */
  private[graft] def bpeModel(s: SparkSession, d: String): (String, Seq[(String, String)]) =
    trainOnce("x13_bpe_model", d) {
      val path = modelExportPath("x13_bpe_model", d)
      val (merges, wordTokens) =
        TextOps.bpeTrainAuto(TextOps.bpeWordFreq(Tables.documents(s, d), "text"),
          numMerges = X13NumMerges)
      writeModelParquet(wordTokens, path)
      (path, merges)
    }

  /** Vocabulary budget of the x21 unigram-LM training gate (shared by
    * gate + specs). */
  val X21VocabSize = 400

  /** The unigram-LM model of the x21 gate: hard-EM unigram training over
    * the SAME word-frequency table the BPE family trains on, exported in
    * the x13 schema so the apply path and the DuckDB oracle are shared
    * shapes. Returns (export path, likelihood trace). */
  private[graft] def unigramModel(s: SparkSession, d: String): (String, Seq[Double]) =
    trainOnce("x21_unigram_model", d) {
      val path = modelExportPath("x21_unigram_model", d)
      val (_, model, trace) = TextOps.unigramTrain(
        TextOps.bpeWordFreq(Tables.documents(s, d), "text"),
        vocabSize = X21VocabSize)
      writeModelParquet(model, path)
      (path, trace)
    }

  /** Held-out variant for the OOV gate: the model trains on doc_id % 5 ≠ 0
    * ONLY, so the held-out fifth genuinely contains unseen words. */
  private def bpeModelSplit(s: SparkSession, d: String): String =
    exported("x13_bpe_model", d, suffix = "split")(
      TextOps.bpeTrainAuto(
        TextOps.bpeWordFreq(Tables.documents(s, d).where(col("doc_id") % 5 =!= 0), "text"),
        numMerges = X13NumMerges)._2)

  /** Merge-budget grid of the tokenizer size-selection curve. */
  val BpeCurveGrid: Seq[Int] = Seq(0, 25, 50, 75, 100, 125, 150)

  /** Size-curve export: the x13 merges applied at every budget in
    * [[BpeCurveGrid]] over the word-frequency table. */
  private def bpeCurveModel(s: SparkSession, d: String): String =
    exported("bpe_curve", d)(
      TextOps.bpeSizeCurve(TextOps.bpeWordFreq(Tables.documents(s, d), "text"),
        bpeModel(s, d)._2, BpeCurveGrid))

  /** Center count of the k-center coreset gate (shared with specs). */
  val KCenterK = 16

  /** k-center selection export shared by the q_coreset_select gate and its
    * DuckDB oracle. The oracle re-derives every greedy step from raw
    * embeddings using only the EARLIER-ranked rows of this export as the
    * prior set, so the export is an induction hypothesis, not a trusted
    * answer. */
  private def kCenterModel(s: SparkSession, d: String): String = {
    import s.implicits._
    exported("kcenter", d)(
      graft.operators.Similarity.kCenterGreedy(Tables.embeddings(s, d), KCenterK)
        .toDF("rank", "vec_id", "dist2"))
  }

  /** MM iteration count of the Bradley–Terry gate (shared with specs). */
  val BtIters = 50

  /** Bradley–Terry ratings export shared by the q_bt_ratings and
    * q_preference_pairs gates and their DuckDB oracles. */
  private def btModel(s: SparkSession, d: String): String =
    exported("bt_ratings", d) {
      val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
      val comps = graft.operators.Preference.comparisonsFromEvents(
        ev, "user_id", "ts_us", "event_id", "event_type", "value")
      graft.operators.Preference.btRatings(s, comps, iters = BtIters)
    }

  /** The quality-LR gates' scores under ONE model per (JVM, sf), returned
    * with that model: the first gate trains it (bit-deterministic, so
    * whichever gate trains first yields the same model x12 would), and
    * every later one scores via the pure projection with zero training
    * stages. */
  private def scoredQualityLr(s: SparkSession, d: String): (DataFrame, TextOps.QualityLr) = {
    val docs = Tables.documents(s, d)
    val model = trainOnce("quality_lr", d)(TextOps.trainQualityLr(docs, "doc_id", "text"))
    (TextOps.scoreQualityLr(docs, "doc_id", "text", model), model)
  }

  /** The planted phrase table of the two bulk-phrase gates (engine side
    * mirrors it as a literal DataFrame): the 3-term quote, its 2-term
    * prefix, a single term, and a missing-term phrase. */
  private[graft] val BulkPhrases: Seq[(Long, String)] = Seq(
    (1L, "slow hash batch"), (2L, "slow hash"),
    (3L, "batch"), (4L, "batch zz_missing"))

  /** The multi-spelling page projection of the `q_domain_stats` pair —
    * (canonical_url, host, n_toks) over the four planted raw-URL arms
    * (www prefix, default port, scheme-less, trailing slash), ONE
    * definition for the exact and HLL gates so their est-vs-exact
    * comparison reads the identical page set. */
  private def domainStatsPages(s: SparkSession, d: String): DataFrame = {
    val hostN = (col("doc_id") % 5).cast("string")
    val res = (col("doc_id") % 20).cast("string")
    val raw =
      when(col("doc_id") % 4 === 0,
        concat(lit("https://WWW.h"), hostN, lit(".com/p/"), res, lit("?a=1")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("https://h"), hostN, lit(".com:443/p/"), res, lit("?a=1&utm_x=1")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("h"), hostN, lit(".com/p/"), res, lit("?a=1")))
      .otherwise(
        concat(lit("https://h"), hostN, lit(".com/p/"), res, lit("/?a=1")))
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextOps.canonicalizeUrl(raw).as("canonical_url"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
      .select(col("canonical_url"),
        TextOps.urlHost(col("canonical_url")).as("host"), col("n_toks"))
  }

  /** The planted multi-suffix crawl URL shared by the three eTLD+1 gates
    * (`q_registrable_domain_stats`, `q_domain_cap`, `q_domain_budget`) —
    * ONE definition, mirrored by [[graft.oracle.CrawlOracles.crawlPslCtes]]'s `raw` CTE on the
    * oracle side, so a plant change hits every consumer or none. */
  private def crawlPlantUrl: Column =
    concat(lit("https://"), crawlPlantHost(col("doc_id")), lit("/p/"),
      (col("doc_id") % 20).cast("string"), lit("?a=1"))

  /** The planted crawl HOST as a function of an arbitrary long key — the
    * one host universe shared by the doc's own URL ([[crawlPlantUrl]],
    * key = doc_id) and the link plant's anchor targets ([[linkPlantPage]],
    * keys derived from doc_id), so the link graph's nodes are exactly the
    * crawl gates' domains. Mirrored in SQL by [[graft.oracle.CrawlOracles.crawlHostSql]]. */
  private def crawlPlantHost(k: Column): Column = {
    val hostN = (k % 5).cast("string")
    // sparse IP-literal plants: a bracketed IPv6
    // authority with a non-default port and a bare dotted IPv4 — both
    // map to a NULL registrable domain under the PSL (IP literals have
    // none), exercising the NULL group/order path in all consumers
    when(k % 19 === 3, lit("[2001:db8::1]:8080"))
      .when(k % 19 === 7, lit("192.0.2.1"))
      .when(k % 4 === 0, concat(lit("WWW.h"), hostN, lit(".com")))
      .when(k % 4 === 1, concat(lit("news.h"), hostN, lit(".com")))
      .when(k % 4 === 2, concat(lit("h"), hostN, lit(".blogspot.com")))
      .otherwise(concat(lit("a.h"), hostN, lit(".co.uk")))
  }

  /** Anchor-vocabulary keyword for link key `k` — keeps the planted
    * anchor text a 3-term vocabulary so the per-domain anchor rollup has
    * a meaningful term distribution. SQL mirror: [[graft.oracle.CrawlOracles.linkKindSql]]. */
  private def linkKindWord(k: Column): Column =
    when(k % 3 === 0, lit("guide"))
      .when(k % 3 === 1, lit("review"))
      .otherwise(lit("news"))

  /** The planted HTML page with outgoing anchors — the link-graph
    * family's input, built over the SAME host universe as
    * [[crawlPlantUrl]] so extracted edges land on the crawl gates'
    * domains. Three anchor forms, one per href resolution arm of
    * [[graft.operators.TextOps.resolveLink]]:
    *
    *   - a1 (every doc): ABSOLUTE href to host key 3·doc_id+1, carrying a
    *     tracking param so resolution composes with canonicalization;
    *   - a2 (every doc): ROOT-RELATIVE `/q/…` — resolves against the
    *     doc's own authority (a self-domain edge, visible in
    *     `x20_link_extract`, excluded from the domain graph);
    *   - a3 (doc_id % 3 == 0): PROTOCOL-RELATIVE `//host/…` to host key
    *     5·doc_id+2 — resolves with the base's scheme.
    *
    * SQL mirror: [[graft.oracle.CrawlOracles.linkPageSql]] (char-for-char the same page string). */
  private def linkPlantPage: Column = {
    val d = col("doc_id")
    val k1 = d * 3 + 1
    val k3 = d * 5 + 2
    val a1 = concat(lit("<a href=\"https://"), crawlPlantHost(k1), lit("/p/"),
      (k1 % 20).cast("string"), lit("?a=1&utm_l=9\">visit h"),
      (k1 % 5).cast("string"), lit(" "), linkKindWord(k1), lit("</a>"))
    val a2 = concat(lit("<a href=\"/q/"), (d % 10).cast("string"),
      lit("\">more "), linkKindWord(d), lit("</a>"))
    val a3 = when(d % 3 === 0, concat(lit(" <a href=\"//"), crawlPlantHost(k3),
      lit("/p/"), (k3 % 20).cast("string"), lit("\">visit h"),
      (k3 % 5).cast("string"), lit(" "), linkKindWord(k3), lit("</a>")))
      .otherwise(lit(""))
    concat(lit("<html><body><p>"), col("text"), lit("</p>"), a1, lit(" "), a2,
      a3, lit("</body></html>"))
  }

  /** The sitemap plant of `q_sitemap_ingest` (SQL mirror inline in its
    * oracle): each % 5 == 0 doc "publishes" a sitemaps.org urlset with
    * (a) its OWN canonical url WITHOUT `<lastmod>` — the crawl-plant
    *     CRT classes put every %5==0 doc's (host, path) outside the
    *     standing fetch log (path % 5 == 0 never standing-fetched), so
    *     this is the DISCOVERY arm: known_url false, lastmod NULL;
    * (b) the link plant's k1 target in its CANONICAL '?a=1' spelling —
    *     k1 % 5 == 1, a STANDING-fetched class — carrying a `<lastmod>`
    *     planted at epoch-day `doc_id + (doc_id % 3 − 1)·200`: far
    *     enough either side of the url's standing last fetch that
    *     modified_since_fetch exercises BOTH polarities;
    * (c) a loc-less entry the protocol drops.
    * Epoch-days keep the freshness algebra in exact longs: `<lastmod>`
    * is the ISO date of epoch-day e, and parsing it back yields exactly
    * e on both engines. */
  private def sitemapPlantXml: Column = {
    val d = col("doc_id")
    val k1 = d * 3 + 1
    val lmDay = (d + (d % 3 - 1) * 200).cast("int")
    val own = concat(lit("<url><loc>https://"), crawlPlantHost(d), lit("/p/"),
      (d % 20).cast("string"), lit("?a=1</loc></url>"))
    val other = concat(lit("<url><loc>https://"), crawlPlantHost(k1),
      lit("/p/"), (k1 % 20).cast("string"), lit("?a=1</loc><lastmod>"),
      date_format(date_add(to_date(lit("1970-01-01")), lmDay), "yyyy-MM-dd"),
      lit("</lastmod></url>"))
    concat(lit("<?xml version=\"1.0\"?><urlset>"), own, other,
      lit("<url><lastmod>1999-12-31</lastmod></url></urlset>"))
  }

  /** The link-graph family's two shared stages: `links` — every planted
    * anchor extracted, resolved against the doc's own canonical base, and
    * canonicalized (doc_id, link_no, href, url, dst_host, anchor, base);
    * `edges` — the registrable-domain (eTLD+1) link graph
    * (src_domain, dst_domain, n_links), self-domain and NULL-domain (IP
    * literal) endpoints excluded. Scale shape: extraction + resolution are
    * zero-shuffle codegen projections; the PSL dimension is built at
    * DISTINCT-host cardinality and BROADCAST back twice (src and dst
    * sides); the only wide exchange is the final (domain, domain) count —
    * domain-pair cardinality, never page cardinality. */
  private[graft] def linkGraphStages(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) =
    linkGraphStagesFrom(Tables.documents(s, d))

  /** [[linkGraphStages]] over an arbitrary documents frame — the
    * maintenance gates run it on standing/epoch splits. Returns
    * (links, edges, dim): `dim` is the (host, registrable_domain) PSL
    * dimension over BOTH endpoints' hosts — returned so every consumer
    * (anchor rollup, frontier, probe) joins the SAME dimension instead of
    * re-deriving its own copy. */
  private[graft] def linkGraphStagesFrom(docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val links = extractedLinksFrom(docs)
    val dim = linkHostDim(links)
    (links, linkEdgesFrom(links, dim), dim)
  }

  /** Extraction stage of [[linkGraphStagesFrom]]: every planted anchor
    * extracted, resolved, canonicalized — a zero-shuffle codegen
    * projection over the documents scan. Split out so queries that need the SAME extracted links under several
    * doc-split predicates can run the extraction once and filter the
    * (doc_id-carrying) result, instead of re-running the whole regex/
    * canonicalization chain per split. */
  private[graft] def extractedLinksFrom(docs: DataFrame): DataFrame = {
    val pages = docs.select(col("doc_id"),
      TextOps.canonicalizeUrl(crawlPlantUrl).as("base"),
      linkPlantPage.as("page"))
    TextOps.extractLinks(pages, "page")
      .withColumn("url",
        TextOps.canonicalizeUrl(TextOps.resolveLink(col("base"), col("href"))))
      .withColumn("dst_host", TextOps.urlHost(col("url")))
      .select("doc_id", "link_no", "href", "url", "dst_host", "anchor", "base")
  }

  /** PSL dimension over BOTH endpoints' hosts of an extracted link table —
    * the (host, registrable_domain) map every consumer joins. */
  private[graft] def linkHostDim(links: DataFrame): DataFrame = {
    val hosts = links.select(col("dst_host").as("host"))
      .union(links.select(TextOps.urlHost(col("base")).as("host")))
    TextOps.registrableDomainMap(hosts, "host",
      rules = TextOps.PublicSuffixRulesFull)
  }

  /** Edge-aggregation stage of [[linkGraphStagesFrom]] over an already-
    * extracted link table and an already-built PSL dimension: the eTLD+1
    * (src → dst, multiplicity) rollup, self-domain and NULL-domain
    * endpoints excluded. The host→domain map is a pure per-host function,
    * so building edges for a doc-split from a SHARED dim built over the
    * full corpus's hosts is row-identical to rebuilding the dim per split. */
  private[graft] def linkEdgesFrom(links: DataFrame, dim: DataFrame): DataFrame =
    links
      .select(TextOps.urlHost(col("base")).as("src_host"), col("dst_host"))
      .join(broadcast(dim.toDF("src_host", "src_domain")), Seq("src_host"))
      .join(broadcast(dim.toDF("dst_host", "dst_domain")), Seq("dst_host"))
      .where(col("src_domain").isNotNull && col("dst_domain").isNotNull &&
        col("src_domain") =!= col("dst_domain"))
      .groupBy("src_domain", "dst_domain").agg(count(lit(1)).as("n_links"))

  /** The cap and post-cap stages of the `e2e_crawl_curation` gate, split
    * out so PlanShapeSpec can pin the pre-audit join shape (the
    * [[graft.operators.Dedup.memorizationRisk]] audit localCheckpoints
    * its pair table, which truncates the lineage the returned plan
    * shows): `kept` is the per-domain longest-first cap output
    * (registrable_domain, rank_in_domain, doc_id, n_toks, host); `keptDocs`
    * is the documents table semi-joined to the kept ids with the id set
    * explicitly BROADCAST — the text relation must never move through an
    * exchange to meet the post-cap filter. */
  private[graft] def crawlCurationStages(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
    val pages = docs.select(col("doc_id"),
      TextOps.urlHost(TextOps.canonicalizeUrl(crawlPlantUrl)).as("host"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
    val dim = TextOps.registrableDomainMap(pages.select("host"), "host",
        rules = TextOps.PublicSuffixRulesFull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("registrable_domain")
      .orderBy(col("n_toks").desc, col("doc_id"))
    // localCheckpoint (guide §2.4): `kept` feeds the broadcast id set
    // AND the gate's final join — without it the pages+PSL+cap-window
    // chain runs once per consumer. (domain, rank, id, n_toks, host) rows.
    val kept = pages.join(broadcast(dim), Seq("host"))
      .withColumn("rank_in_domain", row_number().over(w).cast("long"))
      .where(col("rank_in_domain") <= 8)
      .localCheckpoint()
    val keptDocs = docs.join(broadcast(kept.select("doc_id")),
      Seq("doc_id"), "left_semi")
    (kept, keptDocs)
  }

  /** The composed (budget, endorsement) per-domain decision table of
    * `e2e_crawl_frontier` (one extraction pass — links feed the edge
    * rollup AND the PSL dim; dim checkpointed for its two consumers; the
    * composed table checkpointed for ITS two consumers, the eligible rank
    * arm + the final join — guide §2.4). `materialize = false` is the
    * PlanShapeSpec full-lineage view (see [[urlFrontierDecisionStages]]);
    * queries always run materialized. */
  private[graft] def crawlFrontierStage(s: SparkSession, d: String,
      materialize: Boolean = true): DataFrame = {
    def ck(df: DataFrame): DataFrame = if (materialize) df.localCheckpoint() else df
    val links = ck(extractedLinksFrom(Tables.documents(s, d)))
    val dim = ck(linkHostDim(links))
    val edges = linkEdgesFrom(links, dim)
    val pages = Tables.documents(s, d).select(
      TextOps.urlHost(TextOps.canonicalizeUrl(crawlPlantUrl)).as("host"))
    val counts = pages.join(broadcast(dim), Seq("host"))
      .where(col("registrable_domain").isNotNull)
      .groupBy("registrable_domain").agg(count(lit(1)).as("n_pages"))
    val pr = GraphOps.weightedPageRankDirected(edges,
        "src_domain", "dst_domain", "n_links", iterations = 4)
      .select(col("node").as("registrable_domain"), col("pr_q6"))
    ck(counts.join(pr, Seq("registrable_domain"), "left")
      .select(col("registrable_domain").as("domain"), col("n_pages"),
        coalesce(col("pr_q6"), lit(0L)).as("pr_q6"),
        (col("n_pages") >= 30).as("over_budget")))
  }

  /** The per-URL frontier DECISION table shared by `e2e_url_frontier`
    * and `e2e_fetch_queue` (one definition, so the queue's discovery arm
    * IS the frontier gate's rows): standing link graph → PageRank
    * endorsement + PSL + per-domain robots + budget dims → the
    * [[graft.streaming.StreamingPipelines.urlFrontierStream]] per-link
    * pass over the % 5 == 0 ingest epoch → per-epoch novelty election
    * (first discoverer per url). */
  private def urlFrontierDecisions(s: SparkSession, d: String): DataFrame =
    urlFrontierDecisionStages(s, d)._1

  /** [[urlFrontierDecisions]] plus the standing PSL dimension it built —
    * returned so `politeFetchQueueStage` joins the SAME dimension instead
    * of re-running the standing link extraction to derive its own copy
    * (the mapping is a pure per-host function, so
    * sharing is row-identical). The extracted standing links and the dim
    * are localCheckpointed: the links feed the edge rollup AND the dim,
    * and the dim is broadcast by three consumers (budget counts, frontier
    * probe, politeness key) — each broadcast would otherwise recompute
    * the whole extraction + PSL election lineage (guide §2.4).
    *
    * `materialize = false` skips the checkpoints so PlanShapeSpec can pin
    * the FULL standing-pipeline plan (extraction → PSL → probe → novelty)
    * — the checkpoints truncate the visible lineage, which made the
    * gate-level "no text/page in any exchange" guards vacuous for
    * everything upstream of them. Queries always run with
    * materialize = true; the flag changes physical evaluation only, never
    * rows. */
  private[graft] def urlFrontierDecisionStages(s: SparkSession, d: String,
      materialize: Boolean = true): (DataFrame, DataFrame) = {
    def ck(df: DataFrame): DataFrame = if (materialize) df.localCheckpoint() else df
    val docs = Tables.documents(s, d)
    val standingLinks =
      ck(extractedLinksFrom(docs.where(col("doc_id") % 5 =!= 0)))
    val dim = ck(linkHostDim(standingLinks))
    val sedges = linkEdgesFrom(standingLinks, dim)
    val rank = GraphOps.weightedPageRankDirected(sedges,
        "src_domain", "dst_domain", "n_links", iterations = 4)
      .select(col("node").as("registrable_domain"), col("pr_q6"))
    val epoch = docs.where(col("doc_id") % 5 === 0)
      .select(col("doc_id"), crawlPlantUrl.as("base0"), linkPlantPage.as("page"))
    val counts = docs.where(col("doc_id") % 5 =!= 0)
      .select(TextOps.urlHost(TextOps.canonicalizeUrl(crawlPlantUrl)).as("host"))
      .join(broadcast(dim), Seq("host"))
      .where(col("registrable_domain").isNotNull)
      .groupBy("registrable_domain").agg(count(lit(1)).as("n_pages"))
    // the admissibility dimension is AGENT-SCOPED: the RFC 9309 group election for CrawlAgent runs once at
    // domain cardinality and packs to the same (domain, rules) shape
    // the streaming frontier has always consumed — per-URL work
    // unchanged, who-is-asking decided in dimension prep
    val rulesPacked = TextOps.urlRulesPackedForAgent({
      import s.implicits._
      CrawlDomainAgentRules.toDF("domain", "agent", "rule", "allow")
    }, CrawlAgent)
    // ALL three per-link decision arms (endorsement probe, per-domain
    // robots election, budget gate) are the streaming frontier's ONE
    // definition — the gates compose only the per-EPOCH novelty
    // election and the global rank on top, so batch == stream for the
    // decision columns by construction (spec-pinned)
    val probe = graft.streaming.StreamingPipelines.urlFrontierStream(
      epoch, dim, rank, rulesPacked, counts, "doc_id", "page", "base0",
      budget = 30L)
    // novelty arm: one queue row per discovered url — the FIRST
    // discoverer (min (doc_id, link_no)) keeps it; domain/rank/rule/
    // budget columns are functions of the url, so max() just picks the
    // shared value
    val st = probe.groupBy("url").agg(
        min(struct(col("doc_id"), col("link_no"))).as("__d"),
        max(col("registrable_domain")).as("registrable_domain"),
        max(col("target_rank_q6")).as("target_rank_q6"),
        max(col("known_domain")).as("known_domain"),
        count(lit(1)).as("n_discoveries"),
        max(col("allowed")).as("allowed"),
        max(col("over_budget")).as("over_budget"))
      .select(col("url"), col("__d.doc_id").as("src_doc"),
        col("__d.link_no").as("src_link"), col("registrable_domain"),
        col("target_rank_q6"), col("known_domain"), col("n_discoveries"),
        col("allowed"), col("over_budget"))
    (st, dim)
  }

  /** The politeness-keyed queue stage of `e2e_fetch_queue_polite`, split
    * out (the [[crawlCurationStages]] treatment) so PlanShapeSpec can pin
    * the within-domain rank window BEFORE [[graft.operators.CoreOps.globalPrefixSum]]
    * materializes the frame and truncates the visible lineage: the two
    * queue arms of `e2e_fetch_queue`, each carrying its politeness key
    * (registrable domain; the raw host when the PSL maps it to NULL —
    * IP literals), ranked WITHIN key by the queue's own priority order.
    * The window partitions by the key (bounded by per-domain queue
    * depth, never a single task — spec-pinned). */
  private[graft] def politeFetchQueueStage(s: SparkSession,
      d: String, materialize: Boolean = true): DataFrame = {
    // take the SAME PSL dim the frontier decisions
    // built (it is a pure per-host map — sharing is row-identical) instead
    // of re-running the standing link extraction to derive a second copy;
    // checkpoint the stats index, which is consumed by BOTH queue arms
    // (priority join + novelty anti-join) and is one row per url.
    // `materialize = false` is the PlanShapeSpec full-lineage view (see
    // urlFrontierDecisionStages).
    val (st, dim) = urlFrontierDecisionStages(s, d, materialize)
    val (logd, now) = recrawlFetchLog(s, d)
    val stats0 = TextOps.recrawlStats(logd, "url", "doc_id", "fp")
    val stats = if (materialize) stats0.localCheckpoint() else stats0
    val known = TextOps.recrawlPriority(
        logd.select("url").distinct(), stats, "url", now)
      .withColumn("host", TextOps.urlHost(col("url")))
      .join(broadcast(dim), Seq("host"), "left")
      .select(col("url"), lit(false).as("is_new"),
        col("priority_q6").as("score_q6"),
        coalesce(col("registrable_domain"), col("host"))
          .as("politeness_key"))
    val newArm = st.where(col("allowed") && !col("over_budget"))
      .join(broadcast(stats.select("url")), Seq("url"), "left_anti")
      .select(col("url"), lit(true).as("is_new"),
        col("target_rank_q6").as("score_q6"),
        coalesce(col("registrable_domain"), TextOps.urlHost(col("url")))
          .as("politeness_key"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("politeness_key")
      .orderBy(col("is_new").desc, col("score_q6").desc, col("url"))
    known.unionByName(newArm)
      .withColumn("within_domain_rank", row_number().over(w).cast("long"))
  }

  /** The planted fetch history shared by `q_recrawl_schedule` and
    * `e2e_fetch_queue` (one definition; SQL mirror [[graft.oracle.CrawlOracles.recrawlFpSql]]):
    * standing (% 5 != 0) docs fetch their canonical URL at
    * epoch = doc_id, with three fingerprint regimes by path class —
    * changes-every-fetch, never-changes, slow boundary changes. Returns
    * (log(doc_id, url, fp), now), `now` the one bounded aggregate scalar
    * (a real scheduler passes wall time). */
  private def recrawlFetchLog(s: SparkSession, d: String): (DataFrame, Long) = {
    val docs = Tables.documents(s, d)
    val urlC = TextOps.canonicalizeUrl(crawlPlantUrl)
    val pc = (col("doc_id") % 20) % 3
    val logd = docs.where(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), urlC.as("url"))
      .withColumn("fp", md5(
        when(pc === 0, concat(col("url"), lit("#"), col("doc_id").cast("string")))
          .when(pc === 1, col("url"))
          .otherwise(concat(col("url"), lit("#"),
            expr("doc_id div 760").cast("string")))))
    val now = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    (logd, now)
  }

  /** Shared CTE stack for the eTLD+1 crawl gates
    * (`q_registrable_domain_stats`, `q_domain_cap`): the planted
    * multi-suffix URL corpus → canonicalization → host + token count
    * (`pages`) → the publicsuffix.org longest-matching-rule replay over
    * [[graft.oracle.CrawlOracles.pslValues]] (`reg`: host → registrable_domain). One definition so
    * a rule change hits both oracles or neither. */
  /** Rule table of the `q_url_rules_filter` gate (shared with its spec):
    * exercises longest-match (`/p/1` vs `/p/12`), the identical pattern
    * with both polarities (`/dup`, where allow wins), and the implicit
    * allow for unmatched paths. */
  val CrawlUrlRules: Seq[(String, Boolean)] = Seq(
    "/p/1" -> false, "/p/12" -> true, "/p/3" -> false,
    "/dup" -> true, "/dup" -> false)

  /** PER-DOMAIN rule dimension of the `q_url_rules_per_domain` gate and
    * the frontier's admissibility arm — each site's own
    * robots.txt as (domain, rule, allow) rows. Planted to exercise every
    * election arm AGAINST the crawl plant's fixed (domain, path) pairs
    * (doc_id mod 20 determines both):
    *   - CONFLICT across domains: `/p/1` is allowed on h1.com (its /p/1
    *     and /p/16 pages) but matches as a DISALLOW on h3.com's /p/13 —
    *     the same path string, opposite polarity, decided per domain;
    *   - longest match within h2.com: /p/12 allowed over the /p/1
    *     disallow; its /p/17 page only matches /p/1 → disallowed;
    *   - identical pattern both polarities on h2.co.uk's /p/7: allow wins;
    *   - root disallow on the private-suffix domain h4.blogspot.com;
    *   - a rule for a domain the corpus never produces (inert);
    *   - domains with NO rule set (h0.com, h4.com, …) and NULL-domain IP
    *     literals: implicitly allowed. */
  val CrawlDomainRules: Seq[(String, String, Boolean)] = Seq(
    ("h1.com", "/p/1", true), ("h3.com", "/p/1", false),
    ("h2.com", "/p/1", false), ("h2.com", "/p/12", true),
    ("h2.co.uk", "/p/7", true), ("h2.co.uk", "/p/7", false),
    ("h4.blogspot.com", "/", false),
    ("absent.example", "/", false))

  /** The crawl's own user-agent string — the constant the RFC 9309
    * agent-group election runs against (`q_url_rules_agent_groups` and
    * the frontier's admissibility arm). */
  val CrawlAgent: String = "graftbot/1.0"

  /** Seen-URL bloom sizing of `q_url_seen_bloom` (shared with specs):
    * 1024 bits / 3 hashes over the ~65-url standing set at sf0.01 —
    * ~0.2 bits-set density, so false positives are possible but rare,
    * and the gate's exact arm records whichever occurred. */
  val UrlBloomBits = 1024
  val UrlBloomK = 3

  /** AGENT-SCOPED per-domain rule dimension (RFC 9309 §2.2.1): [[CrawlDomainRules]] as the `*` groups, plus named-agent
    * groups planted to exercise every election arm against
    * [[CrawlAgent]] = "graftbot/1.0":
    *   - `*` vs NAMED conflict on ONE domain: h1.com's `*` group allows
    *     /p/1 but its `graftbot` group disallows it — for graftbot the
    *     named group REPLACES `*` entirely (groups do not merge), so
    *     /p/1 flips to disallowed while a generic crawler keeps the
    *     allow;
    *   - SPECIFICITY between two matching named groups: h2.com carries
    *     both `graftbot` (all /p disallowed) and `graftbot/1.0`
    *     (/p/12 allowed) — the longer token wins, so /p/12 is allowed
    *     and /p/17 (matched only by the LOSING group's rule) falls to
    *     the implicit allow;
    *   - NON-MATCHING named group only: h0.com's `otherbot` group never
    *     matches graftbot and h0.com has no `*` group → every h0.com
    *     path is implicitly allowed (the RFC default);
    *   - `*`-group fallback: h2.co.uk / h3.com / h4.blogspot.com have
    *     only `*` groups, which elect for every agent — the agentless
    *     gate's polarity/longest-match/root-disallow arms carry over
    *     verbatim. */
  val CrawlDomainAgentRules: Seq[(String, String, String, Boolean)] =
    CrawlDomainRules.map { case (d, p, a) => (d, "*", p, a) } ++ Seq(
      ("h1.com", "graftbot", "/p/1", false),
      ("h2.com", "graftbot", "/p", false),
      ("h2.com", "graftbot/1.0", "/p/12", true),
      ("h0.com", "otherbot", "/", false))

}

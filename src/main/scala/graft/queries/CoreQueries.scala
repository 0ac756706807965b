package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dp.DpParams
import graft.operators._

/** Gates over the TPC-H and events tables: the DP-SQLP pipeline stages
  * (tokenize, route, B1 bound, P3 clamp, A2 pre-aggregation, the epoched
  * DP histogram), joins, windows, samplers and sketches. Oracles:
  * [[graft.oracle.CoreOracles]]. */
object CoreQueries {

  // Pipeline constants shared by Spark queries and oracle SQL.
  private[graft] val BoundC = 50L // per-user contribution bound (B1)
  private[graft] val ClampL = 100.0 // per-record clamp (P3)
  private[graft] val MuGate = 72L // unique-user release threshold for the T=1 gate query
  private val Epochs = 32 // day-of-month epochs for events (1..30 used)
  private[graft] val RangeWindowUs = 21600000000L // 6h attribution window for j2 (µs)
  private[graft] val SessionGapUs = 43200000000L // 12h inactivity gap for s4 (µs)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

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

    // ---- P6+P7+P1 composed: confidential word count. Documents are sealed
    //      with routing AAD (spout→split), route-validated, unsealed, then
    //      tokenized — the sigma=0 pipeline is the identity through the
    //      crypto layer, so the plaintext word-count SQL is the oracle and
    //      the DuckDB gate itself verifies the AEAD roundtrip. ----
    "p6_confidential_wordcount" -> ((s, d) => {
      val codec = new operators.SealedColumns.Codec(graft.crypto.SealedPayload.testKey, "aes-gcm")
      val sealedDocs = sealedDocuments(s, d, codec)
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
      val sealedDocs = sealedDocuments(s, d, codec)
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
    })
  )

  /** day-of-month epoch for the events table, cast long on both sides. */
  private def withEpoch(events: DataFrame): DataFrame =
    events.withColumn("epoch", dayofmonth(col("ts")).cast("long"))

  /** Every document sealed under `codec` on the spout → split route by
    * producer `p<doc_id % 4>`: (doc_id, payload). */
  private def sealedDocuments(s: SparkSession, d: String,
      codec: operators.SealedColumns.Codec): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      operators.SealedColumns.sealColumn(col("text"), col("doc_id"), "spout", "split",
        concat(lit("p"), col("doc_id") % 4), codec).as("payload"))
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference-parity relational operators, expressed as declarative DataFrame
  * transforms so Catalyst keeps pushdown/pruning/whole-stage codegen. Each maps
  * to a SURVEY §2 inventory item (P1, P3, P4, B1, A2, A6, M3, T1/T2, §2.7).
  */
object CoreOps {

  /** P1 — tokenizer flatMap (SplitSentenceServiceProvider.java:36-92): lower,
    * split on the separator regex, drop empties. Stays inside codegen — no UDF. */
  def tokenize(df: DataFrame, textCol: String, sep: String = " "): DataFrame =
    df.withColumn("word", explode(split(lower(col(textCol)), sep)))
      .where(col("word") =!= "")

  /** P3 — per-record clamp to [-l, l]
    * (AbstractUserContributionBoundingServiceProvider.java:91-92). */
  def clamp(c: Column, l: Double): Column = greatest(lit(-l), least(lit(l), c))

  /** P3 baseline variant — clamp to [0, l]
    * (BaselineContributionBoundingBolt.java:306). */
  def clampNonNegative(c: Column, l: Double): Column = greatest(lit(0.0), least(lit(l), c))

  /** P4 — SHA-256 routing keys ("word:"/"user:" prefixes). The engine shuffles
    * by key natively; exposed for reference parity
    * (AbstractUserContributionBoundingServiceProvider.java:103-105). */
  def wordRoutingKey(c: Column): Column = sha2(concat(lit("word:"), c), 256)
  def userRoutingKey(c: Column): Column = sha2(concat(lit("user:"), c), 256)

  /** B1 — batch-mode per-user contribution bounding: the first `c`
    * contributions per user in deterministic `orderCol` order survive
    * (UserContributionLimiter.java:22-66 as row_number semantics; the
    * streaming equivalent lives in [[graft.streaming.StreamingPipelines]]). */
  def boundContributions(df: DataFrame, userCol: String, orderCol: String, c: Long): DataFrame =
    df.withColumn("rn", row_number().over(Window.partitionBy(col(userCol)).orderBy(col(orderCol))))
      .where(col("rn") <= c)
      .drop("rn")

  /** Deterministic uniform-ish per-key sampling: keep the `n` rows with the
    * smallest md5(id) per key. Unlike [[boundContributions]] (which keeps
    * the FIRST `n` in a natural order — the DP semantics), the hash rank is
    * uncorrelated with ingest order or any column, so the kept rows are an
    * unbiased fixed-size sample — "at most N documents per domain" for
    * training mixes. md5 (not xxhash64) so the DuckDB oracle can recompute
    * the identical rank; WindowGroupLimit prunes map-side like any rank
    * filter. */
  def sampleDeterministicPerKey(df: DataFrame, keyCol: String, idCol: String,
      n: Long): DataFrame =
    df.withColumn("__rank", row_number().over(Window.partitionBy(col(keyCol))
        .orderBy(md5(col(idCol).cast("string")), col(idCol))))
      .where(col("__rank") <= n)
      .drop("__rank")

  /** Deterministic stratified Bernoulli sampling: a row survives iff its
    * md5-derived bucket (salted, so it cannot correlate with [[hashSplit]]
    * assignments) falls under its stratum's integer percentage — "50 % of
    * English, 10 % of everything else" training-mix balancing. Pure filter:
    * no shuffle, engine-portable coin, stable as data grows (a row's fate
    * never changes when other rows arrive). */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
      pctByStratum: Map[String, Int], defaultPct: Int = 0): DataFrame = {
    require((pctByStratum.values ++ Seq(defaultPct)).forall(p => p >= 0 && p <= 100),
      "percentages must be in [0, 100]")
    val bucket = conv(substring(md5(concat(lit("strat:"), col(idCol).cast("string"))), 1, 8), 16, 10)
      .cast("long") % 100
    val pct = pctByStratum.foldLeft(lit(defaultPct)) { case (acc, (s, p)) =>
      when(col(strataCol) === s, lit(p)).otherwise(acc)
    }
    df.where(bucket < pct)
  }

  /** Temperature-flattened source mixing — the data-mixture step of a
    * training build (the multinomial `p_i^α` re-weighting GPT-3/LLaMA-style
    * recipes apply): source i receives n_i = ⌊N·c_i^α / Σ_j c_j^α⌋ document
    * slots, α < 1 flattening the head so dominant sources stop drowning the
    * tail; the documents filling each slot are picked by the same
    * deterministic md5-rank every sampling gate shares.
    *
    * α is fixed at 1/2: √c is IEEE-correctly-rounded (unlike `pow`), so the
    * per-source mass is bit-identical in any engine; masses are then
    * q6-fixed-pointed and the allocation computed in INTEGER arithmetic
    * (N·a_i div Σa) — no float summation order anywhere, the whole
    * allocation is exact and engine-portable.
    *
    * Scale shape: masses aggregate at source cardinality (map-side partial)
    * and rejoin as a broadcast; the only corpus-sized work is the md5-rank
    * window per source partition. */
  def temperatureMixSample(df: DataFrame, keyCol: String, idCol: String,
      totalN: Long): DataFrame = {
    require(totalN >= 0, s"totalN must be >= 0, got $totalN")
    val masses = df.groupBy(keyCol).agg(count(lit(1)).as("__c"))
      .withColumn("__a",
        floor(sqrt(col("__c").cast("double")) * lit(1000000.0) + lit(0.5)).cast("long"))
    val total = masses.agg(sum(col("__a")).as("__b"))
    val alloc = masses.crossJoin(broadcast(total))
      .select(col(keyCol), expr(s"($totalN * __a) div __b").as("n_alloc"))
    df.select(col(keyCol), col(idCol))
      .withColumn("__r", row_number().over(Window.partitionBy(col(keyCol))
        .orderBy(md5(col(idCol).cast("string")), col(idCol))))
      .join(broadcast(alloc), Seq(keyCol))
      .where(col("__r") <= col("n_alloc"))
      .select(col(keyCol), col(idCol), col("n_alloc"))
  }

  /** Temperature-flattened source mix under a HARD PER-GROUP CAP — the
    * data-constrained-scaling constraint every production mixture carries
    * ("no single source above 25% of the training budget", Llama/PaLM
    * style): √-mass proportional allocation ([[temperatureMixSample]]'s
    * rule), but any group whose share exceeds `capPct`% of `totalN` is
    * pinned AT the cap and its excess redistributes among the uncapped
    * groups by their masses — iterated until no group exceeds the cap
    * (≤ |groups| rounds; each round caps ≥1 group or terminates).
    *
    * Determinism: masses are the q6 √ counts, every round's allocation is
    * pure long floor division, and the redistribution loop runs on the
    * COLLECTED group-cardinality mass table (the DP-calibration/DoReMi
    * driver-scalars contract). Selection is the same md5-rank as the
    * uncapped mix. At petabyte budgets the long products want BigInt —
    * group cardinality is tens, so the driver-side swap is free.
    *
    * Output: (keyCol, idCol, n_alloc). */
  def cappedTemperatureMix(df: DataFrame, keyCol: String, idCol: String,
      totalN: Long, capPct: Int, maxRounds: Int = Int.MaxValue): DataFrame = {
    require(totalN >= 0, s"totalN must be >= 0, got $totalN")
    require(capPct >= 1 && capPct <= 100, s"capPct must be in [1,100], got $capPct")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val spark = df.sparkSession
    import spark.implicits._
    val masses = df.groupBy(keyCol).agg(count(lit(1)).as("__c"))
      .select(col(keyCol).cast("string"),
        floor(sqrt(col("__c").cast("double")) * lit(1000000.0) + lit(0.5))
          .cast("long").as("__a"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toVector
    val cap = totalN * capPct / 100
    var active = masses
    var fixed = Vector.empty[(String, Long)]
    var budget = totalN
    var rounds = 0
    var done = false
    while (!done) {
      rounds += 1
      val w = active.map(_._2).sum
      val alloc = active.map { case (k, a) =>
        // budget·a must not overflow Long (a is ~1e6·√count; petabyte
        // budgets × large groups can exceed 2⁶³): fail CLOSED here rather
        // than silently mis-allocate — the documented BigInt swap is the
        // fix for callers that legitimately need the range (ADVICE r11)
        require(budget == 0L || a <= Long.MaxValue / budget,
          s"allocation product budget=$budget × mass=$a overflows Long for group '$k' — " +
            "use a BigInt-based allocation for budgets of this magnitude")
        (k, if (w == 0L) 0L else budget * a / w)
      }
      val over = alloc.filter(_._2 > cap)
      if (over.isEmpty || over.size == active.size) {
        fixed = fixed ++ alloc.map { case (k, n) => (k, math.min(n, cap)) }
        done = true
      } else {
        fixed = fixed ++ over.map { case (k, _) => (k, cap) }
        budget -= cap * over.size
        val overKeys = over.map(_._1).toSet
        active = active.filterNot(t => overKeys.contains(t._1))
      }
    }
    // a caller whose oracle (or contract) unrolls a fixed round count can
    // bound the loop fail-CLOSED: a corpus shift that needs more rounds
    // raises here instead of silently diverging from the replayed rounds
    require(rounds <= maxRounds,
      s"capped allocation needed $rounds rounds, caller allows $maxRounds")
    val allocDf = broadcast(fixed.toDF(keyCol, "n_alloc"))
    df.select(col(keyCol).cast("string").as(keyCol), col(idCol))
      .withColumn("__r", row_number().over(Window.partitionBy(col(keyCol))
        .orderBy(md5(col(idCol).cast("string")), col(idCol))))
      .join(allocDf, Seq(keyCol))
      .where(col("__r") <= col("n_alloc"))
      .select(col(keyCol), col(idCol), col("n_alloc"))
  }

  /** Weighted sampling WITHOUT replacement — the Efraimidis–Spirakis A-ES
    * scheme: each row draws key u^(1/w) for uniform u and weight w, and the
    * k largest keys are exactly a weight-proportional sample without
    * replacement. Ranking maximizes ln(u)/w (monotone in the key, no
    * overflow-prone pow), with u derived from md5(id) — the same
    * (h₅₂+0.5)/2⁵² hash-to-unit trick the LSH planes and DSIR Gumbel use —
    * so the draw is deterministic, layout-independent, and replayable in
    * any engine; the key is q6-fixed so selection ranks a total order on
    * longs.
    *
    * Scale shape: the key is a pure projection (no shuffle); top-k is
    * orderBy+limit (per-partition heaps, TakeOrderedAndProject — never a
    * global sort); only the k selected rows see the rank window. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String, k: Int,
      tag: String = "aes"): DataFrame = {
    val u = (conv(substring(md5(concat(lit(s"$tag:"), col(idCol).cast("string"))), 1, 13), 16, 10)
      .cast("double") + lit(0.5)) / lit(4503599627370496.0)
    val keyQ6 = floor(graft.expressions.GraftExpressions.lnStrict(u) / col(weightCol).cast("double") * lit(1000000.0) + lit(0.5))
      .cast("long")
    val top = df.select(col(idCol).cast("long").as("doc_id"),
        col(weightCol).cast("long").as("weight"), keyQ6.as("key_q6"))
      .where(col("weight") > 0)
      .orderBy(col("key_q6").desc, col("doc_id")).limit(k)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("key_q6").desc, col("doc_id"))))
      .select("rank", "doc_id", "weight", "key_q6")
  }

  /** KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et al. 2002):
    * hash every value into [1, 2⁴⁸], keep the k smallest DISTINCT hashes,
    * estimate D ≈ (k−1)·2⁴⁸ div h_k where h_k is the k-th smallest. With
    * fewer than k distinct values the k-th hash does not exist and the
    * estimate IS the exact count. Returns one row
    * (k, n, kth_hash, est_distinct).
    *
    * Determinism is the design constraint: md5-derived 48-bit hashes and
    * pure BIGINT floor division mean the DuckDB oracle reproduces the
    * sketch BIT-FOR-BIT — unlike `approx_count_distinct`, whose HLL
    * registers are engine-private. 48 bits keeps (k−1)·2⁴⁸ inside a long
    * for any practical sketch size (k < 2¹⁵; k=1024 gives ~3% standard
    * error); a production corpus with billions of distinct URLs would
    * widen to 60-bit hashes and decimal division, same plan.
    *
    * Scale shape: the hash is a pure projection; `distinct` shuffles
    * 8-byte hashes only (never the values — a distinct-cardinality
    * exchange of fixed-width rows); orderBy+limit(k) is
    * TakeOrderedAndProject — per-partition top-k heaps merged on the
    * driver, never a global sort; the single-row estimate is computed from
    * the k survivors. */
  def kmvDistinct(df: DataFrame, valueCol: String, k: Int,
      tag: String = "kmv"): DataFrame = {
    require(k >= 2 && k < (1 << 15), "need 2 <= k < 2^15 ((k-1)*2^48 must fit a long)")
    val h = conv(substring(md5(concat(lit(s"$tag:"), col(valueCol).cast("string"))), 1, 12), 16, 10)
      .cast("long") + lit(1L)
    df.where(col(valueCol).isNotNull)
      .select(h.as("h")).distinct()
      .orderBy("h").limit(k)
      .agg(count(lit(1)).as("n"), max(col("h")).as("kth_hash"))
      .select(lit(k).as("k"), col("n"), col("kth_hash"),
        when(col("n") < k, col("n"))
          .otherwise(expr(s"CAST(${(k - 1).toLong * (1L << 48)} AS BIGINT) div kth_hash"))
          .as("est_distinct"))
  }

  /** Winsorization: clamps a numeric column to its [pLo, pHi] exact
    * interpolated percentiles computed PER GROUP — the outlier-robust
    * normalization step of feature pipelines. Two declarative passes: one
    * aggregate at group cardinality (map-side partial, tiny result), one
    * broadcast join + clamp at scan speed. Replaces `valueCol` in place.
    * The join is null-safe (`<=>`), so rows with a NULL group are clamped
    * against the NULL group's own percentiles rather than dropped. */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double, pHi: Double): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo <= pHi, "need 0 <= pLo <= pHi <= 1")
    val bounds = df.groupBy(col(groupCol).as("__g")).agg(
      percentile(col(valueCol), lit(pLo)).as("__lo"),
      percentile(col(valueCol), lit(pHi)).as("__hi"))
    df.join(broadcast(bounds), col(groupCol) <=> col("__g"))
      .withColumn(valueCol, greatest(col("__lo"), least(col("__hi"), col(valueCol))))
      .drop("__g", "__lo", "__hi")
  }

  /** Per-group exact lower-median threshold filter: keep every row whose
    * `valueCol` is >= its group's exact lower median (the value at 1-based
    * ascending rank ⌈n/2⌉ = (n+1) div 2) — "keep each source's upper half
    * by quality", the dynamic per-domain thresholding a curation pipeline
    * applies instead of one global cutoff.
    *
    * Exactness WITHOUT a corpus-sized sort: `valueCol` must be QUANTIZED
    * (e.g. a round4 score — at most ~10⁴ distinct values), so the exact
    * median comes from a (group × value) histogram: one map-side-combinable
    * aggregate at histogram cardinality, a cumulative window over that tiny
    * histogram, and a broadcast join back. The corpus itself is never
    * sorted, windowed, or shuffled — the same quantization trick that makes
    * exact percentiles tractable at 100 TB where `percentile()` needs a
    * full per-group sort and approx_percentile gives up exactness. */
  def perGroupMedianFilter(df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val thr = perGroupMedian(df, keyCol, valueCol)
      .withColumnRenamed("median", "__thr")
    df.join(broadcast(thr), Seq(keyCol))
      .where(col(valueCol) >= col("__thr"))
      .drop("__thr")
  }

  /** Exact LOWER median per group from the (group × quantized-value)
    * histogram — the shared engine of [[perGroupMedianFilter]] and
    * [[robustZScore]]: one map-side-combinable aggregate at histogram
    * cardinality, a histogram-sized cumulative window, never a corpus
    * sort. Output: (keyCol, median). */
  def perGroupMedian(df: DataFrame, keyCol: String, valueCol: String): DataFrame =
    df.groupBy(col(keyCol), col(valueCol)).agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(
        Window.partitionBy(col(keyCol)).orderBy(col(valueCol))))
      .withColumn("__tot", sum(col("__c")).over(Window.partitionBy(col(keyCol))))
      .where(col("__cum") >= expr("(__tot + 1) div 2"))
      .groupBy(col(keyCol)).agg(min(col(valueCol)).as("median"))

  /** Robust per-group z-score (x − median) / MAD with BOTH medians exact
    * via the quantized-histogram trick — the outlier-resistant score
    * calibration a curation run applies across heterogeneous sources
    * (mean/stddev z-scores are dragged by the very outliers being hunted).
    * MAD = median of |x − median|; since the input values sit on a
    * quantization grid, the deviation histogram's cardinality is bounded
    * by the value grid too, so BOTH medians are histogram aggregates and
    * the corpus is never sorted. Groups with MAD = 0 (over half the mass
    * at the median) emit NULL z — a 0/0 there is a data statement, not a
    * number. Output: input columns + (median, mad, robust_z round4). */
  def robustZScore(df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val med = perGroupMedian(df, keyCol, valueCol)
    val withDev = df.join(broadcast(med), Seq(keyCol))
      .withColumn("__absdev", abs(col(valueCol) - col("median")))
    val mad = perGroupMedian(withDev, keyCol, "__absdev")
      .withColumnRenamed("median", "mad")
    withDev.join(broadcast(mad), Seq(keyCol))
      .withColumn("robust_z",
        when(col("mad") > 0,
          floor((col(valueCol) - col("median")) / col("mad") * lit(10000.0) + lit(0.5))
            / lit(10000.0))
          .otherwise(lit(null).cast("double")))
      .drop("__absdev")
  }

  /** Population-stability-index drift between two corpus snapshots, per
    * group: PSI = Σ_bins (p_a − p_b)·ln(p_a/p_b) over `numBins` integer
    * bins in [0, numBins), with add-one smoothing p = (c+1)/(n+numBins) so
    * empty bins never divide by zero and the index stays finite. The
    * distribution-drift monitor a curation pipeline runs between ingest
    * epochs (PSI < 0.1 stable / 0.1–0.25 drifting / > 0.25 shifted, the
    * conventional bands). Inputs: one row per item with (`groupCol`,
    * `binCol`) per side; bins outside [0, numBins) are rejected loudly.
    *
    * Determinism: per-bin terms are q6-quantized to longs before summing
    * (the x11/JS-divergence trick), so the result is immune to float
    * summation order; the final PSI is round4. ALL numBins bins enter the
    * sum — a bin absent from both sides contributes 0, but a bin absent
    * from one side still drifts (the smoothed masses differ when n_a ≠
    * n_b), so bins are enumerated per group, not taken from the data.
    *
    * Scale shape: each side collapses to a (group × bin) histogram with one
    * map-side-combinable aggregate; everything after lives at histogram
    * cardinality (groups × numBins), joined without touching the corpora
    * again. Output: (groupCol, n_a, n_b, psi). */
  def psiDrift(sideA: DataFrame, sideB: DataFrame, groupCol: String,
      binCol: String, numBins: Int): DataFrame = {
    require(numBins > 0, "numBins must be positive")
    psiFromHistograms(
      psiHistogram(sideA, groupCol, binCol, numBins),
      psiHistogram(sideB, groupCol, binCol, numBins),
      groupCol, numBins)
  }

  /** The (group × bin) histogram side of [[psiDrift]] — one
    * map-side-combinable aggregate; bins outside [0, numBins) are rejected
    * loudly. Output: (groupCol, __bin, cnt). Exposed so a STREAMING epoch
    * histogram (finalized per event-time window, the
    * [[graft.streaming.StreamingPipelines.epochHistogramStream]] shape) can
    * feed the same PSI composition as the batch operator. */
  def psiHistogram(df: DataFrame, groupCol: String, binCol: String,
      numBins: Int): DataFrame = {
    val guarded = df.select(col(groupCol),
      when(col(binCol) >= 0 && col(binCol) < numBins, col(binCol).cast("long"))
        .otherwise(raise_error(concat(lit(s"psiDrift: bin out of [0, $numBins): "),
          col(binCol).cast("string")))).as("__bin"))
    guarded.groupBy(col(groupCol), col("__bin")).agg(count(lit(1)).as("cnt"))
  }

  /** PSI from two (group × bin) histograms with columns (groupCol, __bin,
    * cnt) — the composition [[psiDrift]] and the streaming drift monitor
    * share. Everything runs at histogram cardinality. */
  def psiFromHistograms(histA: DataFrame, histB: DataFrame, groupCol: String,
      numBins: Int): DataFrame = {
    require(numBins > 0, "numBins must be positive")
    val ca = histA.select(col(groupCol), col("__bin"), col("cnt").as("__ca"))
    val cb = histB.select(col(groupCol), col("__bin"), col("cnt").as("__cb"))
    val groups = ca.select(groupCol).union(cb.select(groupCol)).distinct()
    val bins = groups.select(col(groupCol),
      explode(sequence(lit(0L), lit(numBins - 1L))).as("__bin"))
    val counts = bins
      .join(ca, Seq(groupCol, "__bin"), "left")
      .join(cb, Seq(groupCol, "__bin"), "left")
      .select(col(groupCol), col("__bin"),
        coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    val totals = counts.groupBy(col(groupCol)).agg(
      sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b"))
    val terms = counts.join(broadcast(totals), Seq(groupCol))
      .withColumn("__pa",
        (col("__ca") + lit(1)).cast("double") / (col("n_a") + lit(numBins)).cast("double"))
      .withColumn("__pb",
        (col("__cb") + lit(1)).cast("double") / (col("n_b") + lit(numBins)).cast("double"))
      .withColumn("__t_q6",
        floor((col("__pa") - col("__pb")) * graft.expressions.GraftExpressions.lnStrict(col("__pa") / col("__pb"))
          * lit(1000000.0) + lit(0.5)).cast("long"))
    terms.groupBy(col(groupCol)).agg(
        max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        (floor(sum(col("__t_q6")).cast("double") / lit(1000000.0) * lit(10000.0) + lit(0.5))
          / lit(10000.0)).as("psi"))
  }

  /** Rank-fusion of several quality signals into one calibrated score: each
    * signal is converted to its per-group percentile rank (fraction of the
    * group with value ≤ v — scale-free, so signals with incomparable units
    * average meaningfully) and the ensemble is the round4 mean of the
    * ranks. The standard defense against any one noisy heuristic dominating
    * a filter threshold.
    *
    * Exactness WITHOUT per-signal corpus sorts (the `cume_dist` window
    * every user writes first): signals must be QUANTIZED (round4 grid), so
    * each rank comes from a (group × value) histogram — one
    * map-side-combinable aggregate at histogram cardinality, a cumulative
    * window over that tiny histogram, and a broadcast join back; ties share
    * a rank by construction, matching `cume_dist` semantics exactly. The
    * corpus is scanned once and never sorted. Output: input columns +
    * `pr_<signal>` per signal + `ensembleCol`. */
  def percentileRankEnsemble(df: DataFrame, groupCol: String,
      signalCols: Seq[String], ensembleCol: String = "ensemble"): DataFrame = {
    require(signalCols.nonEmpty, "need at least one signal column")
    val joined = signalCols.foldLeft(df) { (acc, s) =>
      val hist = df.groupBy(col(groupCol), col(s)).agg(count(lit(1)).as("__c"))
        .withColumn("__cum", sum(col("__c")).over(
          Window.partitionBy(col(groupCol)).orderBy(col(s))))
        .withColumn("__n", sum(col("__c")).over(Window.partitionBy(col(groupCol))))
        .select(col(groupCol), col(s),
          (col("__cum").cast("double") / col("__n").cast("double")).as(s"pr_$s"))
      acc.join(broadcast(hist), Seq(groupCol, s))
    }
    joined.withColumn(ensembleCol,
      floor(signalCols.map(s => col(s"pr_$s")).reduce(_ + _)
        / lit(signalCols.size.toDouble) * lit(10000.0) + lit(0.5)) / lit(10000.0))
  }

  /** Deterministic train/val/test assignment: bucket = first 8 hex chars of
    * md5(id) mod 100, split by cumulative percentage thresholds. Stable
    * across runs, layouts, and engines — the property a training split must
    * have so no example ever migrates between splits as data grows. */
  def hashSplit(df: DataFrame, idCol: String, splits: Seq[(String, Int)]): DataFrame =
    hashSplitOn(df, col(idCol), splits)

  /** [[hashSplit]] over an arbitrary key expression — the hook that lets a
    * caller split on something other than the row's own id (e.g. a dedup
    * component representative, so near-duplicates never straddle splits). */
  def hashSplitOn(df: DataFrame, key: Column, splits: Seq[(String, Int)]): DataFrame = {
    require(splits.map(_._2).sum == 100, "split percentages must sum to 100")
    val bucket = conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long") % 100
    val cums = splits.scanLeft(0)(_ + _._2).tail
    val assign = splits.init.zip(cums.init)
      .foldRight(lit(splits.last._1): Column) {
        case (((name, _), cum), acc) => when(bucket < cum, lit(name)).otherwise(acc)
      }
    df.withColumn("split", assign)
  }

  /** A2 — per-(key, epoch) pre-aggregation feeding the DP mechanism:
    * ΔV and the exact distinct-user count. Spark's partial/final hash
    * aggregate replaces the reference's lock-guarded staging buffers
    * (StreamingDPMechanism.java:276-283). Exact distinct (not HLL) is required
    * for the sensitivity-1 guarantee (A6, StreamingDPMechanism.java:378-390). */
  def preAggregate(df: DataFrame, keyCol: String, epochCol: String, userCol: String, valueCol: String): DataFrame =
    df.groupBy(col(keyCol).as("key"), col(epochCol).as("epoch"))
      .agg(
        sum(col(valueCol)).as("delta_v"),
        collect_set(col(userCol)).as("users"))

  /** Approximation mode for the unique-user statistic (A6): HLL-based
    * `approx_count_distinct`. ONLY for monitoring/estimation — the DP
    * sensitivity-1 guarantee of Algorithm 1 requires EXACT per-round user
    * dedup (StreamingDPMechanism.java:378-390), so the mechanism never
    * consumes this (SURVEY §2.4 A6: "default must stay exact"). */
  def preAggregateApproxUsers(df: DataFrame, keyCol: String, epochCol: String,
      userCol: String, valueCol: String, rsd: Double = 0.05): DataFrame =
    df.groupBy(col(keyCol).as("key"), col(epochCol).as("epoch"))
      .agg(
        sum(col(valueCol)).as("delta_v"),
        approx_count_distinct(col(userCol), rsd).as("approx_users"))

  /** Scale-default pre-aggregation for the DP mechanism: per (key, epoch),
    * ΔV plus a histogram of the users' PREVIOUS-appearance epochs —
    * `prev_counts` = [(prev, n)] with n distinct users whose latest earlier
    * appearance on this key was at epoch `prev` (−1 = first ever). This is
    * all [[graft.dp.DpKeyState.processEpochPrevCounts]] needs to count
    * new-to-the-round users EXACTLY (a user is new iff prev < round start,
    * since prev is the latest prior appearance), so no user identity crosses
    * into per-key state and the terminal row is O(T) instead of O(users).
    *
    * Shuffle shape: the head windows run at (key, user) granularity, so a
    * Zipf-hot key spreads across partitions by user; the middle aggregate
    * ships map-side partials at (key, epoch, prev); the output is
    * hash-partitioned by `key` into the session's shuffle partitions, ready
    * for [[DpHistogram]] to group on without another exchange. Replaces the
    * collect_set design whose hot-key row held every user string.
    *
    * Precondition: the head windows need the raw rows, so this operator
    * ships every `(key, epoch, user, value)` input row across its
    * `(key, user)` exchange, with no map-side reduction. That is sound at
    * scale only after B1 ([[boundContributions]]) has capped each user at
    * C rows; on unbounded input one heavy user's rows all cross the wire
    * and land in one window partition. */
  def preAggregatePrevEpoch(df: DataFrame, keyCol: String, epochCol: String, userCol: String, valueCol: String): DataFrame = {
    // Invariants the plan relies on:
    // - Both windows share one (key, user) partition spec and one epoch
    //   order, so they run as one Window operator over one sort and need
    //   only clustering on (key, user). A hash partitioning on any subset
    //   of (key, user) satisfies that: B1's `user` partitioning passes
    //   through with no exchange, and any other input gets exactly one
    //   (key, user) exchange.
    // - Every row of one (key, user, epoch) has the same RANGE frame, so
    //   all get the same `prev` (the latest strictly earlier epoch, -1 if
    //   none), and exactly one of them, the first in sort order, has a
    //   lagged epoch different from its own: counting flagged rows counts
    //   distinct users. Which row is first does not matter.
    // - The (key, epoch, prev) aggregate keeps its map-side partial
    //   aggregation. That is the skew guard: a hot (key, epoch) cell
    //   collapses to one row per map partition before its exchange.
    // - The key repartition has a fixed partition count, so AQE cannot
    //   coalesce the CPU-heavy mechanism downstream into one task. It
    //   clusters the (key, epoch) collect with no further exchange; a
    //   key's rows there are one per (epoch, prev), at most T(T+1)/2.
    val byUser = Window.partitionBy(col("key"), col("user")).orderBy(col("epoch"))
    df.select(col(keyCol).as("key"), col(epochCol).cast("int").as("epoch"),
        col(userCol).as("user"), col(valueCol).as("__v"))
      .select(col("key"), col("epoch"), col("__v"),
        coalesce(max(col("epoch")).over(byUser.rangeBetween(Window.unboundedPreceding, -1)), lit(-1))
          .as("prev"),
        not(lag(col("epoch"), 1).over(byUser) <=> col("epoch")).as("__first"))
      .groupBy(col("key"), col("epoch"), col("prev"))
      .agg(sum(col("__v")).as("v_part"), count(when(col("__first"), 1)).as("n"))
      .repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, col("key"))
      .groupBy(col("key"), col("epoch"))
      .agg(sum(col("v_part")).as("delta_v"),
        collect_list(struct(col("prev"), col("n"))).as("prev_counts"))
  }

  /** Skew-safe variant of [[preAggregate]] for Zipf-hot keys at scale: stage 1
    * dedups at (key, epoch, user) granularity — that shuffle spreads a hot
    * key across partitions proportionally to its distinct users instead of
    * funneling every raw record into one reducer — and stage 2 collects the
    * already-deduped users per (key, epoch). Output is identical to
    * [[preAggregate]]; only the shuffle shape changes. */
  def preAggregateSkewSafe(df: DataFrame, keyCol: String, epochCol: String, userCol: String, valueCol: String): DataFrame =
    df.groupBy(col(keyCol).as("key"), col(epochCol).as("epoch"), col(userCol).as("user"))
      .agg(sum(col(valueCol)).as("user_sum"))
      .groupBy(col("key"), col("epoch"))
      .agg(
        sum(col("user_sum")).as("delta_v"),
        collect_set(col("user")).as("users"))

  /** T1 — histogram ordering: count desc, key asc tiebreak, negatives clamped
    * (StreamingDPMechanism.java:517-531). */
  def sortHistogram(df: DataFrame, keyCol: String = "key", countCol: String = "count"): DataFrame =
    df.withColumn(countCol, greatest(lit(0L), col(countCol)))
      .orderBy(col(countCol).desc, col(keyCol))

  /** §2.7 — utility metrics between a released histogram and ground truth over
    * the union of key sets (SyntheticHistogramAggregationBolt.java:110-129):
    * L0 = released key count, L∞/L1/L2 over per-key absolute differences.
    * A single full-outer equi-join; both sides pre-aggregated, so the join
    * inputs are at key cardinality (small) even at 100 TB input. */
  def utilityMetrics(dp: DataFrame, groundTruth: DataFrame,
      keyCol: String = "key", countCol: String = "count"): DataFrame = {
    val d = dp.select(col(keyCol).as("key"), col(countCol).cast("double").as("dp_count"))
    val g = groundTruth.select(col(keyCol).as("key"), col(countCol).cast("double").as("gt_count"))
    d.join(g, Seq("key"), "full_outer")
      .select(
        col("key"),
        coalesce(col("dp_count"), lit(0.0)).as("dp_count"),
        coalesce(col("gt_count"), lit(0.0)).as("gt_count"))
      .agg(
        sum(when(col("dp_count") =!= 0.0, 1L).otherwise(0L)).as("l0"),
        max(abs(col("dp_count") - col("gt_count"))).as("linf"),
        sum(abs(col("dp_count") - col("gt_count"))).as("l1"),
        sqrt(sum(pow(col("dp_count") - col("gt_count"), 2.0))).as("l2"))
  }

  /** Key-level upsert for parquet-backed corpora without a transactional
    * table format: rows of `updates` replace same-key rows of `existing`,
    * everything else passes through — the incremental-refresh primitive
    * (re-crawled documents, corrected labels). The anti-join's build side
    * is just the update KEYS, so when updates are small (the common case)
    * it broadcasts and the existing corpus streams through map-side;
    * schemas must match (`unionByName`). Pair with
    * [[graft.streaming.ExactlyOnceSink]] / partition overwrite to make the
    * rewrite itself idempotent. */
  def upsertByKey(existing: DataFrame, updates: DataFrame, keyCols: Seq[String]): DataFrame =
    existing.join(broadcast(updates.select(keyCols.map(col): _*).distinct()),
        keyCols, "left_anti")
      .unionByName(updates)

  /** Deterministic negative sampling for contrastive training pairs: each
    * left id draws `k` pseudo-random corpus rows by hashing (id, slot) into
    * the corpus's [[globalRowIndex]] space, then drops draws that collide
    * with the forbidden `positives` pairs or with the query itself — so a
    * query can yield slightly fewer than `k` negatives (document the
    * shortfall rather than resample: resampling would make a row's fate
    * depend on OTHER rows and break determinism under growth). The md5
    * coin is engine-portable; `hash % n` bias is ≤ n/2^32, negligible for
    * any real corpus. */
  def negativeSamples(left: DataFrame, leftIdCol: String,
      corpus: DataFrame, corpusIdCol: String,
      positives: DataFrame, posLeftCol: String, posRightCol: String,
      k: Int): DataFrame = {
    val n = corpus.count()
    val indexed = globalRowIndex(corpus.select(col(corpusIdCol).as("neg_id")), Seq("neg_id"))
    val cand = left.select(col(leftIdCol).cast("long").as("query_id"))
      .withColumn("slot", explode(sequence(lit(0), lit(k - 1))))
      .withColumn("idx", conv(substring(md5(
          concat(col("query_id").cast("string"), lit(":"), col("slot").cast("string"))), 1, 8), 16, 10)
        .cast("long") % n)
    // ids-only equi-join on the index (no hint: the candidate side is
    // |left|·k rows and the index map is two longs per corpus row — let
    // AQE pick broadcast vs shuffle by actual sizes)
    cand.join(indexed, Seq("idx"))
      .where(col("neg_id") =!= col("query_id"))
      .join(positives.select(col(posLeftCol).cast("long").as("query_id"),
          col(posRightCol).cast("long").as("neg_id")),
        Seq("query_id", "neg_id"), "left_anti")
      .select(col("query_id"), col("slot"), col("neg_id"))
  }

  /** Drop the persisted blocks of an eagerly `localCheckpoint()`ed frame
    * whose only purpose was deduplicating an extra upstream pass. Safe ONLY
    * when every derivative of the frame is itself fully materialized (the
    * checkpointed RDD's lineage is truncated, so a later recomputation
    * attempt fails rather than silently re-running the upstream). */
  private[operators] def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /** The "keep narrow" contract of the two-phase global-order operators,
    * ENFORCED (ADVICE r19): their input is eagerly materialized into
    * executor storage, so payload columns (token arrays, embeddings, raw
    * bytes) must never ride through — project to order/id/value columns
    * first and join payloads back on the id. Scalar strings (urls, split
    * names) are legitimate order keys and stay allowed. */
  private def requireNarrowRows(df: DataFrame, op: String): Unit = {
    import org.apache.spark.sql.types.{ArrayType, MapType, BinaryType, StructType}
    val wide = df.schema.fields.filter(f => f.dataType match {
      case _: ArrayType | _: MapType | _: StructType | BinaryType => true
      case _ => false
    })
    require(wide.isEmpty,
      s"$op materializes its input: payload columns " +
        s"${wide.map(_.name).mkString(", ")} must be projected away first " +
        "(join them back on the id after the pass)")
  }

  /** Deterministic contiguous global row index (0..n−1) in `order` sort
    * order WITHOUT a single-partition global sort: range repartitioning plus
    * local sort establishes a total order across partitions, and
    * `zipWithIndex` assigns per-partition offsets from one tiny O(P) count
    * job. The window form — `row_number() OVER (ORDER BY …)` with an empty
    * partitionBy — collapses every row into ONE task and is the classic
    * 100 TB killer this operator replaces. `order` must be a unique total
    * order (include a tiebreak column) or the index is nondeterministic.
    * The one RDD hop in this codebase: partition-offset assignment is
    * genuinely per-partition imperative, and the op is terminal (no further
    * Catalyst optimization to preserve below it). */
  def globalRowIndex(df: DataFrame, order: Seq[String], idxCol: String = "idx"): DataFrame = {
    val cols = order.map(col)
    requireNarrowRows(df, "globalRowIndex")
    // Materialize the input ONCE before the range exchange (guide §2.4 /
    // §1.2: remove redundant passes): RangePartitioning SAMPLES its child
    // to pick bounds, so an un-materialized upstream is computed twice
    // (sample pass + exchange map pass) — and `sorted` is consumed twice
    // more below (zipWithIndex's count job + the data pass). Checkpointing
    // the narrow (order ∪ value columns) input and the sorted frame bounds
    // the whole op at ONE upstream computation + one sort, at the cost of
    // storing id/long rows — the side this op is documented to keep narrow.
    // The input snapshot exists only to dedupe the range-sampler's extra
    // pass, so its storage is RELEASED as soon as the sorted frame is
    // materialized (ADVICE r19: keeping both pinned two copies of the
    // caller's rows in non-replayable executor storage for the JVM's life).
    val snap = df.localCheckpoint()
    val sorted = snap.repartitionByRange(cols: _*).sortWithinPartitions(cols: _*)
      .localCheckpoint()
    releaseLocalCheckpoint(snap)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(idxCol,
        org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** ANALYZE-style numeric column profile in ONE scan: per column, the
    * non-null count, exact distinct count, and min/max (as doubles), plus
    * the table row count — the statistics sheet a data platform publishes
    * per table release. All aggregates ride one pass (Spark plans the
    * multiple exact distincts via a single Expand); the stack to long
    * format is a projection of the one-row result. */
  def numericProfile(df: DataFrame, colNames: Seq[String]): DataFrame = {
    require(colNames.nonEmpty, "need at least one column to profile")
    val aggs = Seq(count(lit(1)).as("__n")) ++ colNames.flatMap(c => Seq(
      count(col(c)).as(s"__nn_$c"),
      countDistinct(col(c)).as(s"__nd_$c"),
      min(col(c)).cast("double").as(s"__mn_$c"),
      max(col(c)).cast("double").as(s"__mx_$c")))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = colNames.map(c =>
      s"'$c', __nn_$c, __nd_$c, __mn_$c, __mx_$c").mkString(", ")
    one.select(col("__n").as("n_rows"),
        expr(s"stack(${colNames.size}, $stackArgs) " +
          "as (column, n_non_null, n_distinct, min_value, max_value)"))
      .select("column", "n_rows", "n_non_null", "n_distinct",
        "min_value", "max_value")
  }

  /** Length-bucketed dynamic batching — the padding-waste minimizer of a
    * training data-loader, computed in-engine so the plan (which batch
    * holds which documents, and what padding each batch costs) ships with
    * the data: documents are banded by token count (`bucket = (tokens-1)
    * div bandWidth`, linear bands — integer-exact in any engine, unlike a
    * float log2), ordered (bucket, tokens, id), and chunked into fixed-size
    * batches within each band, so a batch's members have near-equal length
    * and its padding (batch_size × max_len − Σ len) stays small.
    * Precondition: `tokensCol` ≥ 1 (filter empties first).
    *
    * Scale shape: the global order comes from [[globalRowIndex]] (range
    * repartition + per-partition index, O(P) driver state) — never a
    * single-task `row_number` window over the corpus; per-band offsets are
    * a band-cardinality aggregate joined back as a broadcast. Output:
    * input columns + (bucket, batch_in_bucket). */
  def lengthBucketBatches(df: DataFrame, idCol: String, tokensCol: String,
      bandWidth: Int, batchSize: Int): DataFrame = {
    require(bandWidth > 0 && batchSize > 0, "bandWidth and batchSize must be positive")
    val bucketed = df.withColumn("bucket", expr(s"($tokensCol - 1) div $bandWidth"))
    val indexed = globalRowIndex(bucketed, Seq("bucket", tokensCol, idCol))
    val offsets = indexed.groupBy("bucket").agg(min(col("idx")).as("__b0"))
    indexed.join(broadcast(offsets), Seq("bucket"))
      .withColumn("batch_in_bucket", expr(s"(idx - __b0) div $batchSize"))
      .drop("__b0", "idx")
  }

  /** Corpus snapshot diff — the audit step of an incremental build: which
    * documents were added, removed, changed, or untouched between two
    * snapshots of the same keyed corpus. Pairs with [[upsertByKey]] (which
    * APPLIES a delta) by RECOVERING the delta between materialized
    * snapshots — what a data-versioning layer shows per corpus release.
    *
    * Scale shape: each side is hashed in its scan projection, so the full
    * outer join shuffles (id, 128-bit md5, presence flag) — never the
    * payload; both sides partition once on the id. Status is a pure
    * projection on the joined row. Presence is tracked by a literal flag
    * per side (NOT by hash nullability), so a row whose payload is NULL
    * still counts as present — its hash is NULL and content equality uses
    * null-safe `<=>`, making two NULL payloads "unchanged" and
    * NULL-vs-text "changed" rather than misreporting "added". */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      payloadCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).cast("long").as(idCol),
      md5(col(payloadCol)).as("__oh"), lit(true).as("__oin"))
    val n = newDf.select(col(idCol).cast("long").as(idCol),
      md5(col(payloadCol)).as("__nh"), lit(true).as("__nin"))
    o.join(n, Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("__oin").isNull, lit("added"))
          .when(col("__nin").isNull, lit("removed"))
          .when(col("__oh") <=> col("__nh"), lit("unchanged"))
          .otherwise(lit("changed")))
      .select(col(idCol), col("status"))
  }

  /** Right-to-be-forgotten deletion audit: given a removal request set,
    * report the rewrite plan per (source, storage shard) — how many rows
    * each shard holds, how many must be deleted, what survives, and the
    * surviving token mass a rewrite of that shard would copy. `dirty`
    * marks shards that must be rewritten at all; clean shards are left
    * untouched by the compliance pass (the whole point of sharded
    * storage under deletion SLAs). Shard = `pmod(id, nShards)` — the
    * deterministic hash-layout stand-in for the physical file id.
    *
    * Scale shape: removal requests are MICROSCOPIC next to the corpus —
    * they broadcast into a left join marked in the scan projection, and
    * the audit is ONE map-side-combinable aggregate at
    * (source × shard) cardinality. No corpus shuffle, no sort; at
    * 100 TB this is scan-speed plus a broadcast. */
  def deletionAudit(docs: DataFrame, removalIds: DataFrame, idCol: String,
      sourceCol: String, tokensCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val rem = broadcast(removalIds.select(col(idCol).cast("long").as("__rid"))
      .distinct().withColumn("__rm", lit(true)))
    docs.select(col(idCol).cast("long").as("__id"), col(sourceCol).as("source"),
        col(tokensCol).cast("long").as("__nt"))
      .join(rem, col("__id") === col("__rid"), "left")
      .withColumn("__removed", coalesce(col("__rm"), lit(false)))
      .withColumn("shard", pmod(col("__id"), lit(nShards.toLong)))
      .groupBy("source", "shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__removed"), lit(1L)).otherwise(lit(0L))).as("n_removed"),
        sum(when(!col("__removed"), col("__nt")).otherwise(lit(0L))).as("surviving_tokens"))
      .withColumn("n_surviving", col("n_docs") - col("n_removed"))
      .withColumn("dirty", col("n_removed") > 0)
      .select("source", "shard", "n_docs", "n_removed", "n_surviving",
        "surviving_tokens", "dirty")
  }

  /** Deterministic near-balanced output sharding: rows ranked by
    * (`tokensCol`, `idCol`) through [[globalRowIndex]] are dealt
    * round-robin into `shards` buckets — size-sorted round-robin is the
    * deterministic, engine-portable cousin of longest-processing-time
    * scheduling, so per-shard token sums differ by at most one step of the
    * sorted size sequence per deal round. This is the writer-side step that
    * turns a curated corpus into S near-equal training files WITHOUT a
    * greedy sequential packer (whose assignment would depend on driver-side
    * iteration order and break under growth).
    *
    * Output contract: exactly three columns — (`idCol`, `n_tokens`,
    * `shard`) — where `n_tokens` is `tokensCol` cast to long. Payload
    * columns are deliberately NOT carried through the range repartition
    * (ids + sizes only cross the exchange); callers wanting payloads in
    * shard order join this assignment back on `idCol`.
    *
    * Scale shape: one range repartition (the index) plus a pure `% shards`
    * projection — no window over the full corpus, no driver-side loop. */
  def balancedShards(df: DataFrame, idCol: String, tokensCol: String,
      shards: Int): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    globalRowIndex(
        df.select(col(idCol), col(tokensCol).cast("long").as("n_tokens")),
        Seq("n_tokens", idCol), "__idx")
      .withColumn("shard", (col("__idx") % shards).cast("int"))
      .drop("__idx")
  }

  /** Curriculum phase assignment: rows sorted by a difficulty proxy are cut
    * into `phases` contiguous groups of near-equal size (standard NTILE
    * remainder semantics — the first n mod k groups take one extra row),
    * the easy-to-hard schedule a curriculum-ordered training run feeds its
    * data loader. Built on [[globalRowIndex]] (range repartition +
    * per-partition offsets), NOT a single-partition `ntile() OVER ()`
    * window — the 100 TB killer this avoids; the phase itself is exact
    * integer arithmetic over (index, total), reproducible in any engine.
    * `order` must be a unique total order (include a tiebreak column). */
  def curriculumPhases(df: DataFrame, order: Seq[String], phases: Int): DataFrame = {
    require(phases >= 1, s"phases must be >= 1, got $phases")
    val idx = globalRowIndex(df, order, "__idx")
    val n = idx.agg(count(lit(1)).as("__n"))
    idx.crossJoin(broadcast(n))
      .withColumn("phase", expr(
        s"""CAST(CASE WHEN __idx < (__n % $phases) * (__n div $phases + 1)
           |THEN __idx div (__n div $phases + 1)
           |ELSE (__n % $phases) + (__idx - (__n % $phases) * (__n div $phases + 1)) div (__n div $phases)
           |END + 1 AS INT)""".stripMargin))
      .drop("__idx", "__n")
  }

  /** Cohen's kappa between two labelings of the same ids — the
    * chance-corrected agreement audit (Cohen 1960). A curation platform
    * uses it to decide whether two quality signals are redundant (high
    * kappa → one can be dropped) or complementary, and to score
    * annotator/model agreement on preference data — the categorical
    * counterpart of the rank-level RBO gate.
    *
    * Exactness: with integer confusion counts, kappa = (n·agree − Σ_k
    * ra_k·rb_k) / (n² − Σ_k ra_k·rb_k) has exact long numerator and
    * denominator; po and pe are single IEEE divides of agreed longs.
    * kappa is negative when agreement is below chance — the q6 floor
    * rounding is sign-agnostic and engine-identical. Degenerate case
    * (both labelings a single identical constant ⇒ denominator 0 ⇒
    * agreement perfect but chance-correction undefined) reports 1.0.
    *
    * NULL labels: rows where either labeling is NULL are DROPPED before
    * aggregation (ADVICE r11) — a NULL can never agree, and the
    * null-rejecting marginal joins would otherwise exclude it from pe
    * while n still counted it, silently deflating po/pe/kappa. Dropping
    * is the standard "unlabeled item" treatment; a caller auditing
    * label coverage should count NULLs separately.
    *
    * Scale shape: one 1:1 ids join, then everything aggregates at LABEL
    * cardinality with map-side partials; the output is one row. */
  def agreementKappa(a: DataFrame, b: DataFrame, idCol: String,
      aCol: String, bCol: String): DataFrame = {
    val j = a.select(col(idCol).as("__id"), col(aCol).as("__la"))
      .join(b.select(col(idCol).as("__id"), col(bCol).as("__lb")), "__id")
      .where(col("__la").isNotNull && col("__lb").isNotNull)
      .localCheckpoint() // three small consumers of one joined table
    val base = j.agg(count(lit(1)).as("n"),
      count(when(col("__la") === col("__lb"), lit(1))).as("n_agree"))
    val ma = j.groupBy("__la").agg(count(lit(1)).as("__ra"))
    val mb = j.groupBy("__lb").agg(count(lit(1)).as("__rb"))
    val cross = ma.join(mb, col("__la") === col("__lb"))
      .agg(coalesce(sum(col("__ra") * col("__rb")), lit(0L)).as("sum_cross"))
    base.crossJoin(cross)
      .withColumn("__num", col("n") * col("n_agree") - col("sum_cross"))
      .withColumn("__den", col("n") * col("n") - col("sum_cross"))
      .select(col("n"), col("n_agree"), col("sum_cross"),
        // zero overlap is "no evidence", not perfect agreement: po/pe/kappa
        // all NULL so a mis-joined id column cannot read as redundancy
        when(col("n") === 0L, lit(null).cast("double"))
          .otherwise(TextOps.round4(
            col("n_agree").cast("double") / col("n").cast("double"))).as("po"),
        when(col("n") === 0L, lit(null).cast("double"))
          .otherwise(TextOps.round4(col("sum_cross").cast("double")
            / (col("n") * col("n")).cast("double"))).as("pe"),
        when(col("n") === 0L, lit(null).cast("double"))
          .when(col("__den") === 0L, lit(1.0))
          .otherwise(floor(col("__num").cast("double") / col("__den").cast("double")
            * lit(1000000.0) + lit(0.5)) / lit(1000000.0))
          .as("kappa"))
  }

  /** Carry-forward epoch timeline (σ=0, μ=0 semantics): each key's cumulative
    * sum at every epoch where it has appeared so far — what the streaming
    * pipeline emits per trigger, expressed as a running window so batch and
    * streaming agree (StreamingDPMechanism.java:44-50 carried-forward sums). */
  def carryForwardTimeline(preAgg: DataFrame): DataFrame =
    preAgg.withColumn("cum_sum",
      sum(col("delta_v")).over(Window.partitionBy(col("key")).orderBy(col("epoch"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("epoch"), col("key"), col("cum_sum"))

  /** Sequence packing for LLM training: documents are conceptually
    * concatenated in `idCol` order and cut into fixed `chunkTokens`-token
    * training sequences; each document gets its global token offset and the
    * range of chunks it lands in — the doc→sequence provenance map a packed
    * training run needs (and the membership/contamination audit reads back).
    *
    * The global token prefix sum is the same two-phase shape as
    * [[globalRowIndex]]: range-repartition on `idCol`, per-partition running
    * sums, and ONE tiny O(P) job for partition token offsets — never a
    * single-task `sum() OVER (ORDER BY …)` window, which is the 100 TB
    * killer for this op. `idCol` must be a unique total order.
    *
    * Output: `idCol`, `n_tokens` (copied through), `tok_start` (global
    * offset), `chunk_start`/`chunk_end` (inclusive chunk ids), `n_chunks`
    * (0 for empty documents, which sit between chunks). */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
      chunkTokens: Long): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    // DIV, not `/`: Spark's `/` on longs is true (double) division
    globalPrefixSum(df.select(col(idCol), col(tokensCol).cast("long").as("n_tokens")),
        Seq(col(idCol)), "n_tokens", "tok_start")
      .withColumn("chunk_start", expr(s"tok_start DIV ${chunkTokens}L"))
      .withColumn("chunk_end",
        when(col("n_tokens") === 0, col("chunk_start"))
          .otherwise(expr(s"(tok_start + n_tokens - 1) DIV ${chunkTokens}L")))
      .withColumn("n_chunks",
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(col("chunk_end") - col("chunk_start") + 1))
  }

  /** Global prefix sum of long-typed `valueCol` in the total order given by
    * `order` (sort expressions, e.g. `col("score").desc`), WITHOUT a
    * single-task window: range repartition on the order, per-partition
    * running sums, and one O(P) job for partition offsets — the same shape
    * as [[globalRowIndex]]. Appends `outCol` = sum of `valueCol` over all
    * strictly preceding rows. `order` must be total (include a tiebreak)
    * or the result is nondeterministic. */
  def globalPrefixSum(df: DataFrame, order: Seq[Column], valueCol: String,
      outCol: String): DataFrame =
    globalPrefixSumWithTotal(df, order, valueCol, outCol)._1

  /** [[globalPrefixSum]] plus the grand total of `valueCol` — the total is
    * the last partition offset the two-phase pass computes anyway, so
    * callers with a "share of total" rule (coverage, quota) get it without
    * a second scan of the input. */
  def globalPrefixSumWithTotal(df: DataFrame, order: Seq[Column], valueCol: String,
      outCol: String): (DataFrame, Long) = {
    val spark = df.sparkSession
    requireNarrowRows(df, "globalPrefixSum")
    // Same single-materialization treatment as [[globalRowIndex]] (guide
    // §2.4): without it the upstream runs once for the range sampler and
    // once for the exchange, and `sorted` is re-fetched/re-sorted for each
    // of its two passes (offsets job + data job) plus every downstream
    // action. One checkpoint of the narrow input + one of the sorted frame
    // caps the op at ONE upstream computation and ONE sort; the input
    // snapshot is released once the sorted frame exists (ADVICE r19).
    val snap = df.localCheckpoint()
    val sorted = snap.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
      .localCheckpoint()
    releaseLocalCheckpoint(snap)
    val vIdx = sorted.schema.fieldIndex(valueCol)
    require(sorted.schema(vIdx).dataType == org.apache.spark.sql.types.LongType,
      s"$valueCol must be LONG, got ${sorted.schema(vIdx).dataType}")
    val rdd = sorted.rdd
    // O(P) driver-side result: one long per partition
    val perPartition = rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L; it.foreach(r => s += r.getLong(vIdx)); Iterator((pid, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = perPartition.scanLeft(0L)(_ + _)
    val withSum = rdd.mapPartitionsWithIndex { (pid, it) =>
      var acc = offsets(pid)
      it.map { r =>
        val before = acc; acc += r.getLong(vIdx)
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ before)
      }
    }
    val schema = org.apache.spark.sql.types.StructType(sorted.schema.fields :+
      org.apache.spark.sql.types.StructField(outCol,
        org.apache.spark.sql.types.LongType, nullable = false))
    (spark.createDataFrame(withSum, schema), offsets.last)
  }

  /** Token-budget corpus selection — "take the best documents that fit N
    * training tokens": rank by (`scoreCol` desc, `idCol` asc), prefix-sum
    * the token counts in that order, and keep every document whose tokens
    * fit entirely within `budgetTokens`. The greedy prefix rule is the
    * standard data-selection step under a compute budget; the prefix sum is
    * the [[globalPrefixSum]] two-phase shape, so selection scales with no
    * single-task window. Output adds `cum_before` (tokens admitted before
    * this document). */
  def selectUnderTokenBudget(df: DataFrame, idCol: String, scoreCol: String,
      tokensCol: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens must be >= 0, got $budgetTokens")
    globalPrefixSum(df, Seq(col(scoreCol).desc, col(idCol)), tokensCol, "cum_before")
      .where(col("cum_before") + col(tokensCol) <= budgetTokens)
  }

  /** Label-collision-free contrastive batch construction: every output
    * batch holds at most `batchSize` rows and NEVER two rows of the same
    * label — the validity condition for in-batch negatives (a same-label
    * batchmate is a FALSE negative that poisons the contrastive loss).
    *
    * Deterministic two-level scheme: `layer` = each row's rank within its
    * label (by id), so one layer holds at most one row per label by
    * construction; layers are then chunked into batches of `batchSize` in
    * label order, which preserves the property. Batch ids are dense
    * (layer, chunk) pairs encoded as layer·L + chunk with L = a per-layer
    * chunk bound derived from the label cardinality.
    *
    * Scale shape: two windows — one partitioned by label (label-cardinality
    * groups), one by layer (layer sizes ≤ |labels|) — and a broadcast
    * one-row label-count aggregate. No corpus-wide single-task window. */
  def contrastiveBatches(df: DataFrame, idCol: String, labelCol: String,
      batchSize: Int): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val wLabel = Window.partitionBy(col(labelCol)).orderBy(col(idCol))
    val wLayer = Window.partitionBy(col("layer")).orderBy(col(labelCol), col(idCol))
    val layered = df.select(col(idCol), col(labelCol))
      .withColumn("layer", (row_number().over(wLabel) - lit(1)).cast("long"))
    // integer arithmetic via `div` — Column./ is double division
    val chunkBound = layered.agg(expr(
      s"CAST((count(DISTINCT $labelCol) + ${batchSize - 1}) div $batchSize AS BIGINT)")
      .as("__l"))
    layered
      .withColumn("__idx", (row_number().over(wLayer) - lit(1)).cast("long"))
      .crossJoin(broadcast(chunkBound))
      .select(col(idCol), col(labelCol), col("layer"),
        (col("layer") * col("__l") + expr(s"__idx div $batchSize")).as("batch"))
  }
}

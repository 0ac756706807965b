package graft.tools

/** Renders the one-line compact benchmark JSON printed as the very last
  * stdout line of [[graft.Bench]].
  *
  * The driver captures only the LAST ~2000 characters of the process output
  * and parses the final line as JSON. An unbounded line fails that parse:
  * a full per-query map grows past the tail window, so the captured text
  * begins mid-line. So the stdout line carries a bounded payload and the
  * complete result always lives in `bench.json`.
  *
  * Budgeting: the entries named in `headline` (the BASELINE.md-comparable
  * workloads — DP utility runs, Algorithm-3 release policies, co-location/skew A/Bs,
  * micro-batch GB/s) are emitted first, in the order given; the remaining
  * budget is filled with the slowest other queries (the ones a reader
  * triaging performance wants first). `"n_all"` and `"omitted"` say how
  * much of the suite the line covers; `"value"` is ALWAYS the total over
  * every successful entry, shown or omitted.
  */
object BenchReport {

  def r3(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** How many failed-query names the compact line carries verbatim; the
    * rest are summarized by `"n_failed"` (always emitted), keeping the line
    * bounded even for a systemic-failure run — the exact scenario where the
    * driver most needs a parseable tail. */
  val MaxFailedNames = 8

  /** Median of `xs` (mean of the two middle values for an even count);
    * -1 for an empty sequence. */
  def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** The reported value of one entry from its laps' wall seconds: the min
    * of the laps, or -1 when any lap failed (negative) — a failed lap
    * never hides behind a successful one's time. */
  def lapSummary(laps: Seq[Double]): Double =
    if (laps.isEmpty || laps.exists(_ < 0)) -1.0 else laps.min

  /** Receipt groups: each group's arms run interleaved, one lap each in
    * turn, so every ordering claim is decided by per-lap ratios from the
    * same sweep — cross-sweep absolute times cannot carry an ordering
    * claim on a shared box. Arm order within a group is the conservative
    * order documented at each pair's entry in the [[graft.bench]] tables. Every
    * claim's two arms must sit in
    * one group ([[receiptClaims]]), or the claim has no lap pairs and its
    * receipt is not emitted. */
  val receiptGroups: Seq[Seq[String]] = Seq(
    Seq("eager_dp_tws_timers_t20", "eager_dp_lazy_t20"),
    Seq("colocated_join_plain", "colocated_join_bucketed"),
    Seq("skew_join_aqe_off", "skew_join_aqe_on"),
    Seq("runtime_bloom_off", "runtime_bloom_on"),
    Seq("e2e_build_one_shuffle", "e2e_build_joins"),
    Seq("median_filter_hist", "median_filter_sortwindow"),
    Seq("domain_cap_grouplimit", "domain_cap_fullwindow"),
    Seq("source_divergence_ckpt", "source_divergence_nockpt"),
    Seq("distinct_users_exact", "distinct_users_hll"),
    Seq("bm25_index_delete_incremental", "bm25_index_rebuild"),
    Seq("hamming_pairs_blocked", "hamming_pairs_allpairs"),
    Seq("block_winners_agg", "block_winners_window"),
    Seq("memorization_pairs", "memorization_occurrence"),
    Seq("phrase_bulk_batch", "phrase_per_query_loop"),
    Seq("phrase_stored_pruned", "phrase_stored_unpruned"))

  /** (faster, slower, metric): the published ordering claims. metric
    * "wall" = median per-lap wall ratio < 1; "shuffle_read_bytes" /
    * "input_bytes" = the min-wall runs' profiler byte ratio < 1. A byte
    * metric is used where the claim IS a byte cut and local wall time on
    * a warm page cache does not show it. */
  val receiptClaims: Seq[(String, String, String)] = Seq(
    ("eager_dp_lazy_t20", "eager_dp_tws_timers_t20", "wall"),
    ("colocated_join_bucketed", "colocated_join_plain", "wall"),
    ("skew_join_aqe_on", "skew_join_aqe_off", "wall"),
    // runtime bloom's claim is the WIRE cut — its extra sequential build
    // stage legitimately shows in local wall time, so wall is reported
    // but is not the claim
    ("runtime_bloom_on", "runtime_bloom_off", "shuffle_read_bytes"),
    ("e2e_build_one_shuffle", "e2e_build_joins", "wall"),
    // the median-filter claim is the corpus-shuffle cut: the histogram
    // arm aggregates at (group × quantized-value) cardinality and joins
    // the thresholds back under the broadcast threshold, so the corpus
    // itself never shuffles, while the window arm range-materializes the
    // full frame per group (byte ratio ~0.17; wall at this size is phase
    // noise)
    ("median_filter_hist", "median_filter_sortwindow", "shuffle_read_bytes"),
    // the cap's claim is the map-side prune: WindowGroupLimit inserts a
    // per-partition top-K BEFORE the exchange, so the shuffle carries
    // ~K·partitions rows per group instead of all 5M (measured 11× byte
    // cut)
    ("domain_cap_grouplimit", "domain_cap_fullwindow", "shuffle_read_bytes"),
    ("source_divergence_ckpt", "source_divergence_nockpt", "wall"),
    ("distinct_users_hll", "distinct_users_exact", "wall"),
    ("bm25_index_delete_incremental", "bm25_index_rebuild", "wall"),
    ("hamming_pairs_blocked", "hamming_pairs_allpairs", "wall"),
    // the claim is the map-side-combine WIRE cut (the window must shuffle
    // every block row; byte ratio ~0.84) — sub-second local wall is a
    // coin flip
    ("block_winners_agg", "block_winners_window", "shuffle_read_bytes"),
    ("memorization_pairs", "memorization_occurrence", "wall"),
    ("phrase_bulk_batch", "phrase_per_query_loop", "wall"),
    // the stored index's claim is the LISTING/READ cut from partition
    // pruning: the pruned scan never opens the other buckets' files
    ("phrase_stored_pruned", "phrase_stored_unpruned", "input_bytes"))

  /** One receipt: a claim's per-lap wall ratios (faster arm / slower arm),
    * their median, the profile ratios (task time, shuffle-read bytes,
    * input bytes; each -1 when missing) and the verdict. An in-entry A/B
    * has no profile ratios of its own. */
  final case class Receipt(key: String, metric: String, ratios: Seq[Double],
      wallMedian: Double, profile: Option[(Double, Double, Double)], ok: Boolean) {
    def json: String = {
      val head = s""""$key":{"metric":"$metric","lap_ratios":[${ratios.map(r3).mkString(",")}],""" +
        s""""wall_median":${r3(wallMedian)},"""
      profile match {
        case Some((task, bytes, input)) =>
          head + s""""task_ratio":${r3(task)},"shuffle_bytes_ratio":${r3(bytes)},""" +
            s""""input_bytes_ratio":${r3(input)},"ok":$ok}"""
        case None => head + s""""task_ratio":-1.0,"shuffle_bytes_ratio":-1.0,"ok":$ok}"""
      }
    }
    def badLine: String = profile match {
      case Some((task, bytes, _)) =>
        s"[bench] RECEIPT BAD: $key (metric=$metric " +
          f"wall_median=$wallMedian%.3f task=$task%.3f bytes=$bytes%.3f)"
      case None => f"[bench] RECEIPT BAD: $key (wall_median=$wallMedian%.3f)"
    }
  }

  /** The verdict on claim `fast<slow` from the two arms' walls in lap order
    * (-1 = failed lap) and their min-wall runs' profiles. A byte claim
    * ("shuffle_read_bytes", "input_bytes") passes when the byte ratio is
    * < 1: bytes are deterministic per run, so single runs compare. A wall
    * claim passes when the median per-lap ratio is < 1, or < 1.1 when the
    * task-time ratio is < 0.95: sub-second arms flip wall medians on
    * scheduler noise, and task time is CPU burned, which a throttled box
    * distorts in both arms alike. A ratio whose slower side is missing or
    * zero reads -1 and never passes. */
  def receipt(fast: String, slow: String, metric: String,
      fastLaps: Seq[Double], slowLaps: Seq[Double],
      fastProfile: Option[QueryProfiler.QueryMetrics],
      slowProfile: Option[QueryProfiler.QueryMetrics]): Receipt = {
    val ratios = fastLaps.zip(slowLaps).collect { case (a, b) if a >= 0 && b > 0 => a / b }
    val wallMedian = medianOf(ratios)
    def ratio(m: QueryProfiler.QueryMetrics => Long): Double = (for {
      mf <- fastProfile; ms <- slowProfile if m(ms) > 0
    } yield m(mf).toDouble / m(ms)).getOrElse(-1.0)
    val task = ratio(_.taskTimeMs)
    val bytes = ratio(_.shuffleReadBytes)
    val input = ratio(_.inputBytes)
    val ok = metric match {
      case "shuffle_read_bytes" => bytes >= 0 && bytes < 1.0
      case "input_bytes" => input >= 0 && input < 1.0
      case _ => ratios.nonEmpty && (wallMedian < 1.0 || (wallMedian < 1.1 && task >= 0 && task < 0.95))
    }
    Receipt(s"$fast<$slow", metric, ratios, wallMedian, Some((task, bytes, input)), ok)
  }

  /** The verdict on an in-entry A/B from its (ours, baseline) inner-lap
    * seconds: the median per-lap ratio alone decides. */
  def innerReceipt(key: String, pairs: Seq[(Double, Double)]): Receipt = {
    val ratios = pairs.map { case (s, c) => s / c }
    val m = medianOf(ratios)
    Receipt(key, "wall", ratios, m, None, ratios.nonEmpty && m < 1.0)
  }

  /** Build the capped compact line.
    *
    * @param all      every (name, seconds) measurement; negative = failed
    * @param headline names that must appear in `"queries"` (when present in
    *                 `all` and successful), in this order
    * @param sfDir    the scale-factor directory the suite ran against
    * @param maxLen   hard cap on the rendered line length (chars); the
    *                 driver's tail window is 2000, so default leaves slack
    *                 for a trailing newline plus any stray shutdown chatter
    * @param runs     in-run repetitions per headline workload (each reported
    *                 time is the min over `runs` back-to-back executions)
    * @param load     1-minute system load average sampled before/after the
    *                 suite — lets a reader tell machine contamination from a
    *                 real regression (unchanged code can swing 2–6× under
    *                 load)
    * @param extra    raw JSON fields (no surrounding braces/commas) appended
    *                 verbatim before `"sf"` — short, always-present
    *                 diagnostics (bad receipts, scaling flags) that must
    *                 survive into the captured per-round summary; counted
    *                 against the length budget like everything else
    */
  def compactLine(
      all: Seq[(String, Double)],
      headline: Seq[String],
      sfDir: String,
      maxLen: Int = 1800,
      runs: Int = 1,
      load: Seq[Double] = Nil,
      extra: String = ""): String = {
    val ok = all.filter(_._2 >= 0)
    val okMap = ok.toMap
    val failed = all.collect { case (k, v) if v < 0 => k }
    val total = ok.map(_._2).sum

    val head = headline.filter(okMap.contains).map(k => k -> okMap(k))
    val headSet = head.map(_._1).toSet
    val rest = ok.filterNot { case (k, _) => headSet.contains(k) }
      .sortBy { case (k, v) => (-v, k) }

    def render(entries: Seq[(String, Double)]): String = {
      val qs = entries
        .map { case (k, v) => "\"" + k + "\":" + r3(v) }
        .mkString("{", ",", "}")
      val failedJson = failed.take(MaxFailedNames).map("\"" + _ + "\"").mkString("[", ",", "]")
      val loadJson =
        if (load.isEmpty) "" else s""","load":[${load.map(r3).mkString(",")}]"""
      val extraJson = if (extra.isEmpty) "" else s",$extra"
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,""" +
        s""""n_all":${ok.size},"omitted":${ok.size - entries.size},""" +
        s""""failed":$failedJson,"n_failed":${failed.size},"runs":$runs$loadJson$extraJson,"sf":"$sfDir"}"""
    }

    // Greedy fill: headline first (dropped from the tail only if even they
    // overflow), then slowest-first for the rest.
    var kept = head
    while (kept.nonEmpty && render(kept).length > maxLen) kept = kept.init
    var line = render(kept)
    for (e <- rest) {
      val candidate = render(kept :+ e)
      if (candidate.length <= maxLen) { kept = kept :+ e; line = candidate }
    }
    line
  }
}

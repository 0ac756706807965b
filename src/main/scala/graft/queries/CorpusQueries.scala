package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators._
import CoreQueries.SessionGapUs
import RetrievalQueries.TopK

/** Corpus-curation gates: quality scores and cuts, language and script
  * mix, PII redaction, perplexity, sequence packing, sharding, curricula
  * and dataset cards. Oracles: [[graft.oracle.CorpusOracles]]. */
object CorpusQueries {

  private[graft] val HeavyHitterThreshold = 300L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- sequence packing: doc → training-chunk provenance map. Tokens
    //      are whitespace tokens (x1 accounting); 128-token chunks. ----
    "q_pack_sequences" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      CoreOps.packSequences(docs, "doc_id", "n_tokens", chunkTokens = 128L)
        .orderBy("doc_id")
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

    // ---- robust per-source quality calibration: (x − median)/MAD with
    //      BOTH medians exact via the quantized-histogram trick — outlier-
    //      resistant cross-source score normalization, zero corpus sorts.
    //      MAD = 0 sources emit NULL z by contract. ----
    "q_robust_quality_z" -> ((s, d) => {
      val scored = sourceQuality(Tables.documents(s, d))
        .localCheckpoint() // three consumers (median, MAD, final join)
      CoreOps.robustZScore(scored, "source", "quality")
        .select("doc_id", "source", "quality", "median", "mad", "robust_z")
        .orderBy("doc_id")
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

    // ---- token statistics ----
    "x1_token_stats" -> ((s, d) => {
      TextOps.tokenStats(Tables.documents(s, d), "doc_id", "text").orderBy("doc_id")
    }),

    // ---- BPE-ish pre-token counting (training-token accounting) ----
    "x6_bpe_token_count" -> ((s, d) => {
      TextOps.bpeTokenCount(Tables.documents(s, d), "doc_id", "text").orderBy("doc_id")
    }),

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

    // ---- fill-in-the-middle transformation (PSM order) with md5-derived
    //      deterministic cut points — the infilling data-prep step, as a
    //      pure zero-shuffle projection. ----
    "q_fim_transform" -> ((s, d) => {
      TextOps.fimTransform(Tables.documents(s, d), "doc_id", "text")
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
      val w = Window
        .partitionBy("clean_md5").orderBy("doc_id")
      cleaned.crossJoin(broadcast(thr))
        .where(col("quality") >= col("thr"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("doc_id", "n_clean_tokens", "quality", "clean_md5")
        .orderBy("doc_id")
    }),

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

    // ---- curriculum phase assignment: corpus cut into 4 near-equal
    //      easy→hard groups by LM difficulty (x11's avg NLL), via the
    //      range-partitioned global index — never a single-task ntile ----
    "q_curriculum_phases" -> ((s, d) => {
      val scored = TextOps.bigramPerplexity(Tables.documents(s, d), "doc_id", "text")
        .select("doc_id", "avg_nll")
      CoreOps.curriculumPhases(scored, Seq("avg_nll", "doc_id"), 4)
        .orderBy("doc_id")
    }),

    // ---- DSIR data selection (importance resampling toward a target
    //      domain): hashed-bigram log-likelihood-ratio weights, exact long
    //      sums, deterministic md5-Gumbel top-k ----
    "q_dsir_select" -> ((s, d) => {
      TextOps.dsirSelect(Tables.documents(s, d), "doc_id", "text",
          col("lang") === "en", numBuckets = 256, k = 100)
        .orderBy("rank")
    }),

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

    // ---- end-to-end corpus build: exact dedup + language filter + quality
    //      threshold + token accounting + split, as ONE declarative plan.
    //      Every per-doc signal is a projection over the same scan and the
    //      dedup survivor rule is a window min over the content fingerprint,
    //      so the whole pipeline pays exactly one shuffle (by fingerprint)
    //      before the ORDER BY — no self-joins on doc_id. ----
    "e2e_corpus_build" -> ((s, d) => {
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

    // ---- epoch-repetition plan (data-constrained scaling, Muennighoff
    //      et al.): sources ranked by their exact median quality into 4
    //      tiers; tier-1 sources repeat 4 epochs, tier-4 once — the
    //      repeat-good-data-under-token-constraints recipe. The ranking
    //      window runs over the SOURCE-cardinality threshold table (tiny
    //      by definition), the tier map broadcasts, and the expansion is
    //      a pure explode. ----
    "q_epoch_repetition_plan" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val scored = sourceQuality(docs)
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
      val scored = sourceQuality(Tables.documents(s, d))
        // (id, source, quality) is text-free and tiny; its two consumers
        // inside the filter (threshold histogram + kept-row side) must
        // not each re-run the quality regex chain over the corpus
        // (a re-run per consumer measured 16.4× wall on 10× data)
        .localCheckpoint()
      CoreOps.perGroupMedianFilter(scored, "source", "quality")
        .select("doc_id", "source", "quality")
        .orderBy("doc_id")
    }),

    // ---- the TRAINING-ORDER manifest a packed curriculum run feeds its
    //      data loader, composed end-to-end as ONE query: per-source median
    //      quality gate (the histogram-exact threshold) → temperature-
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
      val kept = CoreOps.perGroupMedianFilter(sourceQuality(docs), "source", "quality")
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

  /** (doc_id, source, quality) of `docs`, the heuristic quality score. */
  private[graft] def sourceQuality(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), TextOps.qualityCol(col("text")).as("quality"))
}

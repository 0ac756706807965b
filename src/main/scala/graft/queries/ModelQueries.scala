package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry.{exported, modelExportPath, oracled, trainOnce, writeModelParquet}
import graft.operators._
import graft.oracle.ModelOracles

/** Trained-model gates: BPE and unigram tokenizers, Bradley–Terry
  * ratings, k-center coresets, the quality LR, DoReMi mixing, perplexity
  * buckets and the s3 Zipf input. Each gate builds its oracle from the
  * model it trained ([[graft.oracle.ModelOracles]]), through
  * [[graft.SparkEntry.oracled]]. */
object ModelQueries {

  private val LrPrThresholds: Seq[Long] =
    Seq(-2000000L, -1000000L, -500000L, 0L, 500000L, 1000000L, 2000000L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

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
      (docTokenCosts(s, d, path, "n_bpe_tokens"), ModelOracles.bpeOracleSql(path))
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
      (docTokenCosts(s, d, path, "n_unigram_tokens"), ModelOracles.unigramOracleSql(path))
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
      (pretokens(s, d, col("source"))
        .join(broadcast(s.read.parquet(bpePath)
          .select(col("word"), col("n_tokens").as("__bpe"))), "word")
        .join(broadcast(s.read.parquet(uniPath)
          .select(col("word"), col("n_tokens").as("__uni"))), "word")
        .groupBy("source")
        .agg(count(lit(1)).as("n_pretokens"),
          sum("__bpe").as("n_bpe_tokens"),
          sum("__uni").as("n_unigram_tokens"))
        .withColumn("bpe_fertility", round4Ratio("n_bpe_tokens", "n_pretokens"))
        .withColumn("unigram_fertility", round4Ratio("n_unigram_tokens", "n_pretokens"))
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
      (modelTokens(s, d, path, col("doc_id"), col("source"))
        .groupBy("source")
        .agg(sum("n_tokens").as("n_bpe_tokens"),
          sum(length(col("word")).cast("long")).as("n_pretoken_chars"),
          count(lit(1)).as("n_pretokens"))
        .withColumn("fertility", round4Ratio("n_bpe_tokens", "n_pretokens"))
        .withColumn("chars_per_token", round4Ratio("n_pretoken_chars", "n_bpe_tokens"))
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
      val words = pretokens(s, d).groupBy("word").agg(count(lit(1)).as("c"))
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

    // ---- DPO-style preference-pair table: every aggregated (winner,
    //      loser) comparison annotated with the trained Bradley–Terry
    //      expected win probability r_w/(r_w+r_l) and rating margin — the
    //      table a preference-tuning run consumes, with the model's
    //      self-consistency visible per pair. Ratings join broadcast at
    //      item cardinality. ----
    oracled("q_preference_pairs") { (s, d) =>
      val path = btModel(s, d)
      val comps = eventComparisons(s, d)
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
    }
  )

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
      Preference.btRatings(s, eventComparisons(s, d), iters = BtIters)
    }

  /** The pairwise preference comparisons (winner, loser, n) the events
    * imply: the Bradley–Terry training input of [[btModel]]. */
  private def eventComparisons(s: SparkSession, d: String): DataFrame =
    Preference.comparisonsFromEvents(
      Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000")),
      "user_id", "ts_us", "event_id", "event_type", "value")

  /** round4(`num` / `den`) of two count columns. */
  private def round4Ratio(num: String, den: String): Column =
    TextOps.round4(col(num).cast("double") / col(den).cast("double"))

  /** (`keep`…, word): every BPE pre-token of every document, the rows the
    * tokenizer gates and their oracles count. */
  private def pretokens(s: SparkSession, d: String, keep: Column*): DataFrame =
    Tables.documents(s, d).select(keep :+ explode(regexp_extract_all(lower(col("text")),
      lit(TextOps.BpePretokenPattern), lit(0))).as("word"): _*)

  /** [[pretokens]] joined to the broadcast (word, n_tokens) rows of the
    * tokenizer model exported at `path`. */
  private def modelTokens(s: SparkSession, d: String, path: String, keep: Column*): DataFrame =
    pretokens(s, d, keep: _*)
      .join(broadcast(s.read.parquet(path).select("word", "n_tokens")), "word")

  /** Per document, by doc_id: its pre-token count and their total token
    * cost under the tokenizer model at `path`, as column `cost`. */
  private def docTokenCosts(s: SparkSession, d: String, path: String, cost: String): DataFrame =
    modelTokens(s, d, path, col("doc_id")).groupBy("doc_id")
      .agg(count(lit(1)).as("n_pretokens"), sum("n_tokens").as(cost))
      .orderBy("doc_id")

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
}

package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Deduplication and decontamination gates: exact, MinHash/LSH, SimHash,
  * containment and span-level dedup, n-gram contamination and leakage-safe
  * splits. Oracles: [[graft.oracle.DedupOracles]]. */
object DedupQueries {

  private[graft] val ShingleK = 3
  private[graft] val NumMinHashes = 8
  private[graft] val NumBands = 4
  private[graft] val JaccardThreshold = 0.5
  // skew guard for d4: shingles in more docs than this generate no candidates
  // (verification still uses full sets — see Dedup.jaccardPairs)
  private[graft] val JaccardMaxDf = 10L
  /** d28's max(cont_a, cont_b) cut, mirrored in its oracle SQL. */
  private[graft] val ContainmentThreshold = 0.9

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

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
      minHashLshPairs(Tables.documents(s, d)).orderBy("doc_a", "doc_b")
    }),

    // ---- dedup survivor selection: components over verified LSH pairs ----
    "d10_dedup_components" -> ((s, d) => {
      val pairs = minHashLshPairs(Tables.documents(s, d))
      Dedup.connectedComponents(pairs, "doc_a", "doc_b").orderBy("doc_id")
    }),

    // ---- the deduplicated corpus itself: survivors = component minima +
    //      all untouched singletons. The step a pipeline actually
    //      materializes; components join back ids-only (left join on the
    //      id, survivors pass where the label is absent or equals self) ----
    "d10b_dedup_survivors" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      survivors(docs, components(minHashLshPairs(docs)))
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // ---- quality-aware survivor selection: keep the LONGEST doc of each
    //      near-dup cluster (ties to lowest id) instead of the min-id — the
    //      keep-the-best rule that stops a truncated copy shadowing its
    //      full original; singletons pass through ----
    "d10c_quality_survivors" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = minHashLshPairs(docs)
      Dedup.bestSurvivors(docs, pairs, "doc_id", "doc_a", "doc_b", "n_chars")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // ---- leakage-safe split: near-dup components never straddle splits ----
    "q_leakage_safe_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = minHashLshPairs(docs)
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
      survivorsWithSize(docs, minHashLshPairs(docs))
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
      Dedup.containmentPairs(withPlantedExcerpts(s, d), "doc_id", "text",
          ShingleK, ContainmentThreshold, maxDocFrequency = JaccardMaxDf)
        .orderBy("doc_a", "doc_b")
    }),

    // ---- containment edges CONSUMED (d28's remediation): survivors over
    //      the Jaccard ∪ containment edge closure — the planted excerpts
    //      land in their original's component and are REMOVED, which plain
    //      Jaccard dedup provably does not do at the same threshold ----
    "d29_containment_dedup" -> ((s, d) => {
      Dedup.survivorsWithContainment(withPlantedExcerpts(s, d), "doc_id", "text",
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

    // ---- per-SOURCE boilerplate strip: chrome must repeat within its OWN
    //      source (df ≥ 2 distinct docs of the same source) — the
    //      domain-scoped rule real web curation applies, so one site's nav
    //      never censors another's prose. ----
    "q_source_boilerplate_strip" -> ((s, d) => {
      Dedup.stripBoilerplateBySource(Tables.documents(s, d), "doc_id", "text",
          "source", n = 8, minDocFrequency = 2)
        .orderBy("doc_id")
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

    // ---- LSH banding auto-tuner: the S-curve (b, r) choice BEFORE a
    //      100 TB dedup run (q_lsh_candidate_quality measures it after);
    //      repeated-multiplication folds + per-term q6, no libm pow ----
    "q_lsh_param_tuning" -> ((s, _) =>
      Dedup.lshParameterSweep(s, NumMinHashes, 800000L).orderBy("b")),

    // ---- LSH index quality evaluation: precision/recall of the band-
    //      bucket candidate set against d4's exact df-capped Jaccard pairs
    //      — the measurement that tunes (bands, rows) before a 100 TB
    //      dedup run ----
    "q_lsh_candidate_quality" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", ShingleK, NumMinHashes)
      val cands = Dedup.lshCandidatePairs(sigs, NumMinHashes, NumBands)
      candidateQuality(docs, cands)
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
      candidateQuality(docs, cands)
    }),

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

    // ---- inter-source duplication matrix: distinct 8-token windows each
    //      source pair shares verbatim — the syndication/mirror diagnostic
    //      a build reads before choosing which domains to collapse ----
    "q_source_overlap_matrix" -> ((s, d) => {
      Dedup.sourceOverlapMatrix(Tables.documents(s, d), "text", "source", n = 8)
        .orderBy("source_a", "source_b")
    }),

    // ---- cross-split n-gram leakage audit: for every test-split doc, the
    //      fraction of its 8-token windows appearing verbatim in train —
    //      the post-split QA gate that alarms when upstream dedup slips ----
    "q_split_leakage_ngram" -> ((s, d) => {
      ngramSplitLeakage(s, d).orderBy("doc_id")
    })
  )

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
    val pairs = minHashLshPairs(cleaned)
    // md5 is projected BEFORE the survivor join so the join (and every
    // exchange after it) carries (doc_id, clean_md5) — never the cleaned
    // text itself.
    survivorsWithSize(cleaned.select(col("doc_id"), md5(col("text")).as("clean_md5")), pairs)
      .transform(CoreOps.hashSplit(_, "doc_id", Seq("train" -> 80, "val" -> 10, "test" -> 10)))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("source"), col("n_members"), col("split"),
        col("clean_md5"))
      .orderBy("doc_id")
  }

  /** Verified near-dup pairs (doc_a, doc_b, jaccard) of `docs`: MinHash
    * signatures → LSH band candidates → exact Jaccard verification. */
  private[graft] def minHashLshPairs(docs: DataFrame): DataFrame = {
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", ShingleK, NumMinHashes)
    val candidates = Dedup.lshCandidatePairs(sigs, NumMinHashes, NumBands)
    Dedup.verifyCandidatesJaccard(docs, "doc_id", "text", ShingleK, candidates, JaccardThreshold)
  }

  /** The connected components of near-dup `pairs` as (cid, component). */
  private[graft] def components(pairs: DataFrame): DataFrame =
    Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("doc_id").as("cid"), col("component"))

  /** The rows of `rows` that survive the components `comp`: each
    * component's representative (doc_id = component) and every untouched
    * singleton. Components join back ids-only. */
  private[graft] def survivors(rows: DataFrame, comp: DataFrame): DataFrame =
    rows.join(comp, col("doc_id") === col("cid"), "left")
      .where(col("component").isNull || col("doc_id") === col("component"))

  /** The [[survivors]] of the near-dup `pairs`, each with its component's
    * size as `n_members` (1 for a singleton). */
  private def survivorsWithSize(rows: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = components(pairs)
    survivors(rows, comp)
      .join(comp.groupBy("component").agg(count(lit(1)).as("n_members"))
        .withColumnRenamed("component", "mcomp"), col("doc_id") === col("mcomp"), "left")
      .withColumn("n_members", coalesce(col("n_members"), lit(1L)))
  }

  /** Precision and recall of the candidate pairs `cands` (doc_a, doc_b)
    * against the exact df-capped Jaccard pairs of `docs` (d4's truth), as
    * one row (n_cands, n_true, n_hit, precision, recall). */
  private def candidateQuality(docs: DataFrame, cands: DataFrame): DataFrame = {
    val truth = Dedup.jaccardPairs(docs, "doc_id", "text", ShingleK,
        JaccardThreshold, maxDocFrequency = JaccardMaxDf)
      .select("doc_a", "doc_b")
    cands.agg(count(lit(1)).as("n_cands"))
      .crossJoin(truth.agg(count(lit(1)).as("n_true")))
      .crossJoin(cands.join(truth, Seq("doc_a", "doc_b")).agg(count(lit(1)).as("n_hit")))
      .select(col("n_cands"), col("n_true"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_cands").cast("double")).as("precision"),
        (col("n_hit").cast("double") / col("n_true").cast("double")).as("recall"))
  }

  /** (doc_id, text) of every document plus, as doc_id + 1000000, the first
    * half (≥ 6 tokens) of each % 9 doc: containment 1, Jaccard ~0.5. */
  private def withPlantedExcerpts(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val nTok = size(split(col("text"), " "))
    val excerpts = docs.where(col("doc_id") % 9 === 0)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"),
        array_join(slice(split(col("text"), " "), lit(1),
          greatest(lit(6), (nTok / lit(2)).cast("int"))), " ").as("text"))
    docs.unionByName(excerpts)
  }

  /** The verbatim 8-gram leakage of every test-split document against the
    * train split, under the 80/10/10 md5 split. */
  private[graft] def ngramSplitLeakage(s: SparkSession, d: String): DataFrame = {
    val split = CoreOps.hashSplit(Tables.documents(s, d), "doc_id",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
    Dedup.splitLeakage(split.where(col("split") === "train"), split.where(col("split") === "test"),
      "doc_id", "text", n = 8)
  }
}

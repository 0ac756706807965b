package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import CorpusQueries.sourceQuality
import DedupQueries.{JaccardMaxDf, ShingleK}
import IndexQueries.{CosineNearDupThreshold, annRecall}

/** Retrieval and multimodal gates: exact and approximate cosine top-k,
  * BM25, rank fusion and evaluation, hard negatives, and the image, audio
  * and video asset operators. Oracles: [[graft.oracle.RetrievalOracles]]. */
object RetrievalQueries {

  private[graft] val TopK = 5
  /** d26 margin-mining neighborhood size, mirrored in its oracle SQL. */
  private[graft] val MarginK = 8

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- brute-force cosine top-k (ANN correctness baseline) ----
    "d5_cosine_topk" -> annGate { (emb, queries) =>
      Similarity.bruteForceTopK(emb, queries, TopK)
        .orderBy("query_id", "rank")
    },

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
    "q_dim_truncation_recall" -> annGate { (emb, queries) =>
      Similarity.dimTruncationRecall(emb, queries, Seq(8, 16, 32, 64), TopK)
        .orderBy("k_dim")
    },

    // ---- ANALYZE for the vector side: per-dimension mean/variance/min/
    //      max from the same exact q6-long moment sums as the PCA trainer
    //      — the diagnostic that motivates (or retires) a trained
    //      rotation ----
    "q_embedding_profile" -> ((s, d) => {
      Similarity.embeddingProfile(Tables.embeddings(s, d), 64).orderBy("dim")
    }),

    // ---- MMR diversified re-ranking: greedy λ·rel − (1−λ)·max-sim over
    //      the dense top-20, the redundancy-suppressing re-rank for RAG
    //      context assembly; every greedy round's q6 score and tiebreak
    //      replayed inductively by the oracle ----
    "q_mmr_rerank" -> annGate { (emb, queries) =>
      Similarity.mmrRerank(emb, queries, candK = 20, k = 5)
        .orderBy("query_id", "sel_rank")
    },

    // ---- ANN quality evaluation: recall@k of the LSH index against the
    //      exact brute-force ranking — the measurement that decides whether
    //      an approximate index is good enough to replace the exact scan;
    //      recall is hits/k over bit-agreed rankings, so it needs no
    //      rounding at all ----
    "q_ann_recall" -> annGate { (emb, queries) =>
      annRecall(emb, queries, Similarity.lshBucketTopK(emb, queries, TopK))
    },

    // ---- hard-negative mining: nearest different-label vectors ----
    "q_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = annQueries(emb, col("label"))
      Similarity.hardNegatives(emb, queries, TopK)
        .orderBy("query_id", "rank")
    }),

    // ---- embedding-cosine near-dup pairs via LSH buckets (scale path) ----
    "d6_cosine_neardup_pairs" -> ((s, d) => {
      Similarity.cosineNearDupPairs(Tables.embeddings(s, d), CosineNearDupThreshold)
        .orderBy("vec_a", "vec_b")
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
      val (lex, dense) = lexicalAndDenseTop20(s, d)
      TextOps.rrfFusion(lex, dense, k = 10).orderBy("query_id", "rank")
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
      val (lex, dense) = lexicalAndDenseTop20(s, d)
      TextOps.rankBiasedOverlap(lex, dense, k = 20).orderBy("query_id")
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
      keepCanonical(hashes, "phash")
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
      val kept = CoreOps.perGroupMedianFilter(sourceQuality(docs), "source", "quality")
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
      keepCanonical(sigs, "vsig")
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
      keepCanonical(sigs, "sig", "kind")
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
      keepCanonical(hashes, "ahash")
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

    // ---- ANN LSH top-k (approximate; DuckDB oracle mirrors the md5-derived
    //      hyperplanes, buckets, and candidate scoring; recall floor vs brute
    //      force is additionally pinned in OperatorsSpec) ----
    "d7_ann_lsh_topk" -> annGate { (emb, queries) =>
      Similarity.lshBucketTopK(emb, queries, TopK)
        .orderBy("query_id", "rank")
    },

    // ---- chunk→document embedding pooling: element-wise fixed-point mean
    //      per group (10 chunks per synthetic document), long format ----
    "q_chunk_mean_pool" -> ((s, d) => {
      val chunks = Tables.embeddings(s, d)
        .select(expr("vec_id div 10").as("doc_group"), col("embedding"))
      Similarity.meanPoolQ6(chunks, "doc_group", "embedding")
        .orderBy("group_id", "pos")
    }),

    // ---- int8-style scalar quantization + exact rescoring ----
    "d9_quantized_topk" -> annGate { (emb, queries) =>
      Similarity.quantizedTopK(emb, queries, TopK, rescoreFactor = 4)
        .orderBy("query_id", "rank")
    },

    // ---- quantized ranking over LSH-bucketed candidates — the composed
    //      form a 100 TB corpus uses: the bucket join bounds candidates,
    //      int8 codes rank them, exact cosine rescores the survivors ----
    "d9b_quantized_lsh_topk" -> annGate { (emb, queries) =>
      val cands = Similarity.lshCandidates(emb, queries)
      Similarity.quantizedTopK(emb, queries, TopK, rescoreFactor = 4, candidates = Some(cands))
        .orderBy("query_id", "rank")
    },

    // ---- 1-bit sign quantization: Hamming ranking over packed sign bits
    //      (8 B/vector — the binary-hash tier below int8 and PQ), exact
    //      cosine rescore of the survivors fetched by id. Signatures are
    //      sign projections of the RAW floats (scale-invariant), so the
    //      index build is scan-speed with zero training and no rounding
    //      contract for two engines to disagree on ----
    "d27_signbit_topk" -> annGate { (emb, queries) =>
      Similarity.signBitTopK(emb, queries, TopK, rescoreFactor = 4)
        .orderBy("query_id", "rank")
    }
  )

  /** The ANN query set of the embedding gates: the first ten vectors as
    * (query_id, embedding, `extra`…). */
  private[graft] def annQueries(emb: DataFrame, extra: Column*): DataFrame =
    emb.where(col("vec_id") < 10)
      .select(Seq(col("vec_id").as("query_id"), col("embedding")) ++ extra: _*)

  /** A gate body over the embeddings and their [[annQueries]]. */
  private[graft] def annGate[T](body: (DataFrame, DataFrame) => T): (SparkSession, String) => T =
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      body(emb, annQueries(emb))
    }

  /** The documents that carry an embedding (1:1 at sf0.01, the first 2000
    * at sf0.1): the corpus of every gate that needs both representations. */
  private[graft] def embeddedDocs(s: SparkSession, d: String, emb: DataFrame): DataFrame =
    Tables.documents(s, d).join(emb.select(col("vec_id").as("doc_id")), "doc_id")

  /** The BM25 and dense-cosine top-20 lists of the first ten embedded
    * documents, both as (query_id, rank, doc_id): the two rankings
    * `q_rrf_fusion` fuses and `q_rbo_overlap` compares. */
  private def lexicalAndDenseTop20(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, d)
    val docs = embeddedDocs(s, d, emb)
    val lex = TextOps.bm25Search(docs, docs.where(col("doc_id") < 10),
      "doc_id", "text", "doc_id", "text", k = 20)
    val dense = Similarity.bruteForceTopK(emb, annQueries(emb), k = 20)
    (lex.select("query_id", "rank", "doc_id"),
      dense.select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id")))
  }

  /** Signature-equality dedup of `sigs` (doc_id, `sig`, `carry`…): every
    * row with its signature group's size and whether it is the group's
    * canonical (lowest doc_id) member, by doc_id. */
  private def keepCanonical(sigs: DataFrame, sig: String, carry: String*): DataFrame = {
    val groups = sigs.groupBy(sig)
      .agg(count(lit(1)).as("group_n"), min(col("doc_id")).as("__canon"))
    sigs.join(groups, Seq(sig))
      .select((col("doc_id") +: carry.map(col)) ++ Seq(col(sig), col("group_n"),
        (col("doc_id") === col("__canon")).as("keep")): _*)
      .orderBy("doc_id")
  }
}

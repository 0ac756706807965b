package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry.{oracled, trainOnce}
import graft.operators._
import graft.oracle.IndexOracles
import DedupQueries.{JaccardThreshold, NumBands, NumMinHashes, ShingleK, components,
  ngramSplitLeakage, survivors}
import RetrievalQueries.{TopK, annGate, annQueries, embeddedDocs}

/** Trained vector-index gates: k-means/IVF, PCA-reduced and PQ indexes,
  * their maintenance and staleness, and semantic dedup. Each gate builds
  * its oracle from the model it trained ([[graft.oracle.IndexOracles]]),
  * through [[graft.SparkEntry.oracled]]. */
object IndexQueries {

  private[graft] val CosineNearDupThreshold = 0.4
  /** ivfTopK's nprobe default, mirrored in the IVF oracle SQL. */
  private[graft] val IvfNprobe = 4

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- c-TF-IDF cluster topic labeling (BERTopic-style): each k-means
    //      cluster treated as one pseudo-document, terms ranked by
    //      tf_cw · ln(1 + avg_tokens_per_cluster / f_w) — the step that
    //      names semantic clusters after curation; scores are exact long
    //      products of a q6-fixed per-word idf ----
    ivfOracled("q_cluster_topics") { (s, d, emb, centroids) =>
      val labels = Similarity.kmeansAssign(emb, centroids)
        .select(col("vec_id").as("doc_id"), col("cluster"))
      TextOps.classTfidfTopTerms(Tables.documents(s, d), "doc_id", "text",
          labels, nClasses = 16, topM = 3)
        .orderBy("cluster", "rank")
    },

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
    oracled("q_pca_recall")(annGate { (emb, queries) =>
      val (mean, comps) = Similarity.trainPca(emb, 64, 8)
      (Similarity.pcaVsPrefixRecall(emb, queries, mean, comps, TopK).orderBy("method"),
        IndexOracles.pcaOracleSql(mean, comps))
    }),

    // ---- the composed reduced-dimension ANN index (the 100 TB build
    //      recipe): PCA-project → IVF coarse-quantize IN THE PROJECTED
    //      SPACE → candidates from nprobe projected cells → EXACT
    //      full-dim rescore; both trained models exported to the oracle ----
    oracled("d22_reduced_ivf_topk")(annGate { (emb, queries) =>
      val model = Similarity.trainReducedModel(emb)
      (Similarity.reducedProbeTopK(emb, Similarity.reducedIndexOf(emb, model), model,
          queries, TopK, IvfNprobe).orderBy("query_id", "rank"),
        IndexOracles.reducedIvfOracleSql(model))
    }),

    // ---- recall@k of the reduced-dimension index against the exact
    //      ranking — the acceptance measurement for the composed design ----
    oracled("q_reduced_ivf_recall")(annGate { (emb, queries) =>
      val model = Similarity.trainReducedModel(emb)
      (annRecall(emb, queries, Similarity.reducedProbeTopK(emb,
          Similarity.reducedIndexOf(emb, model), model, queries, TopK, IvfNprobe)),
        IndexOracles.reducedIvfOracleSql(model))
    }),

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
      (Similarity.reducedProbeTopK(emb, idx, model, annQueries(emb),
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
      (Similarity.reducedPqProbeTopK(emb, idx, model, annQueries(emb), k = TopK)
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
    oracled("d9e_reduced_pq_topk")(annGate { (emb, queries) =>
      val model = Similarity.trainReducedPqModel(emb)
      (Similarity.reducedPqProbeTopK(emb, Similarity.reducedPqIndexOf(emb, model), model,
          queries, TopK).orderBy("query_id", "rank"),
        IndexOracles.reducedPqOracleSql(model))
    }),

    // ---- recall@k of the rotated-PQ index against the exact ranking —
    //      the acceptance measurement for the d9e design ----
    oracled("q_reduced_pq_recall")(annGate { (emb, queries) =>
      val model = Similarity.trainReducedPqModel(emb)
      (annRecall(emb, queries, Similarity.reducedPqProbeTopK(emb,
          Similarity.reducedPqIndexOf(emb, model), model, queries, TopK)),
        IndexOracles.reducedPqOracleSql(model))
    }),

    // ---- ANN quality evaluation, IVF variant: recall@k of the trained
    //      coarse quantizer (cells + nprobe) against the exact ranking ----
    ivfOracled("q_ann_recall_ivf") { (_, _, emb, centroids) =>
      val queries = annQueries(emb)
      annRecall(emb, queries, Similarity.ivfTopK(emb, queries, TopK, centroids, IvfNprobe))
    },

    // ---- ANN IVF top-k (trained coarse quantizer; oracle gets the trained
    //      centroids as a VALUES table — see IndexOracles.ivfOracleSql — and re-derives
    //      assignment/probing/ranking in SQL; training itself is pinned by
    //      OperatorsSpec determinism+recall) ----
    ivfOracled("d8_ann_ivf_topk") { (_, _, emb, centroids) =>
      val queries = annQueries(emb)
      Similarity.ivfTopK(emb, queries, TopK, centroids, IvfNprobe)
        .orderBy("query_id", "rank")
    },

    // ---- semantic corpus clustering: nearest trained centroid + exact
    //      squared distance per vector (assignment agrees with d8's IVF
    //      cells; the oracle re-derives it from the exported centroids) ----
    ivfOracled("q_kmeans_assign") { (_, _, emb, centroids) =>
      Similarity.kmeansAssign(emb, centroids).orderBy("vec_id")
    },

    // ---- cluster-balanced (diversity) sampling: deterministic md5-rank
    //      cap per semantic cluster — the curation step that keeps a
    //      training mix from collapsing into its dominant topics ----
    ivfOracled("q_cluster_balanced_sample") { (_, _, emb, centroids) =>
      CoreOps.sampleDeterministicPerKey(
          Similarity.kmeansAssign(emb, centroids), "cluster", "vec_id", 10L)
        .select("cluster", "vec_id")
        .orderBy("cluster", "vec_id")
    },

    // ---- semantic split-leakage audit: test-split vectors with a train
    //      vector within cosine threshold — the paraphrase leakage the
    //      verbatim n-gram audit (q_split_leakage_ngram) cannot see ----
    ivfOracled("q_split_leakage_semantic") { (_, _, emb, centroids) =>
      Similarity.semanticSplitLeakage(emb, centroids, CosineNearDupThreshold)
        .orderBy("vec_id")
    },

    // ---- hybrid split-leakage audit: a test doc is leaked if EITHER the
    //      verbatim n-gram signal OR the embedding-cosine signal fires —
    //      the audit-side completion of d17's hybrid dedup (documents and
    //      embeddings are 1:1 by id, and the shared md5 split assigns
    //      both sides identically) ----
    oracled("q_split_leakage_hybrid") { (s, d) =>
      val lex = ngramSplitLeakage(s, d).select(col("doc_id"), col("n_leaked"))
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
    ivfOracled("d16_semantic_dedup") { (_, _, emb, centroids) =>
      Similarity.semanticDedup(emb, centroids, CosineNearDupThreshold)
        .orderBy("vec_id")
    },

    // ---- batch incremental SemDeDup (the vector-space d12): a held-out
    //      fifth of the embeddings deduplicates against the other four
    //      fifths' maintained CELL INDEX under the full-corpus centroids —
    //      the corpus is never self-joined, and the streaming form
    //      (StreamingPipelines.semanticDedupStream) is value-identical on
    //      a replay (StreamingSpec). Centroids deliberately train on the
    //      full table with the default model so the exported-centroid
    //      oracle replays assignment for BOTH sides. ----
    ivfOracled("d18_incremental_semantic_dedup") { (_, _, emb, centroids) =>
      val cellIndex = standingCellIndex(emb, centroids)
      Similarity.incrementalSemanticDedup(
          emb.where(col("vec_id") % 5 === 0), centroids, cellIndex, CosineNearDupThreshold)
        .orderBy("vec_id")
    },

    // ---- HYBRID incremental dedup (d17's either-signal rule at ingest):
    //      the held-out fifth is admitted only when BOTH maintained
    //      indexes say novel — lexical MinHash/Jaccard vs the corpus text
    //      AND within-cell cosine vs the corpus embeddings (1:1 by id,
    //      same % 5 split as d18, so the oracle composes the d12 and d18
    //      CTE stacks through one final id join). ----
    ivfOracled("d19_hybrid_incremental_dedup") { (s, d, emb, centroids) =>
      // both signals need both representations, so the gate runs on the
      // documents∩embeddings intersection (1:1 at sf0.01; at sf0.1 only
      // the first 2000 documents carry embeddings) — the same restriction
      // streaming_hybrid_epoch applies
      val docs = embeddedDocs(s, d, emb)
      val cellIndex = standingCellIndex(emb, centroids)
      Dedup.hybridIncrementalDedup(
          docs.where(col("doc_id") % 5 =!= 0), docs.where(col("doc_id") % 5 === 0),
          emb.where(col("vec_id") % 5 === 0), centroids, cellIndex,
          "doc_id", "text", ShingleK, NumMinHashes, NumBands,
          JaccardThreshold, CosineNearDupThreshold)
        .orderBy("doc_id")
    },

    // ---- the embedding-side curation pipeline composed as ONE query:
    //      k-means assignment → outlier removal (3 farthest per cluster)
    //      → SemDeDup over the retained vectors → md5-rank diversity cap
    //      (10 per cluster) — all stages sharing one full-corpus model ----
    ivfOracled("e2e_semantic_curation") { (_, _, emb, centroids) =>
      Similarity.semanticCuration(emb, centroids, CosineNearDupThreshold,
          outlierK = 3, capPerCluster = 10L)
        .orderBy("cluster", "vec_id")
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
      (survivors(docs, components(lexical.unionByName(semantic)))
        .select("doc_id", "source")
        .orderBy("doc_id"), IndexOracles.ivfOracleSql(centroids))
    },

    // ---- same quantized scorer over the trained IVF cells ----
    ivfOracled("d9c_quantized_ivf_topk") { (_, _, emb, centroids) =>
      val queries = annQueries(emb)
      val cands = Similarity.ivfCandidates(emb, queries, centroids, IvfNprobe)
      Similarity.quantizedTopK(emb, queries, TopK, rescoreFactor = 4, candidates = Some(cands))
        .orderBy("query_id", "rank")
    },

    // ---- product quantization: m-byte codes + ADC lookup ranking + exact
    //      rescore — completes the quantized family (d9 scalar, d9b LSH,
    //      d9c IVF, d9d product) ----
    oracled("d9d_pq_topk")(annGate { (emb, queries) =>
      val books = Similarity.trainPqCodebooks(emb, dim = 64, m = 16, ksub = 16)
      (Similarity.pqTopK(emb, queries, TopK, books, rescoreCands = 20)
        .orderBy("query_id", "rank"), IndexOracles.pqOracleSql(books))
    }),

    // ---- semantic outlier pruning: the 3 vectors farthest from their
    //      cluster centroid per cluster — the embedding-space noise filter
    //      (garbage scrapes sit far from every centroid) ----
    ivfOracled("q_semantic_outliers") { (_, _, emb, centroids) =>
      Similarity.semanticOutliers(emb, centroids, k = 3)
        .orderBy("cluster", "out_rank")
    }
  )

  /** recall@[[TopK]] per query of the ANN ranking `ann` (query_id,
    * neighbor_id, …) against the exact full-dim ranking. */
  private[graft] def annRecall(emb: DataFrame, queries: DataFrame, ann: DataFrame): DataFrame =
    Similarity.bruteForceTopK(emb, queries, TopK).select("query_id", "neighbor_id")
      .join(ann.select(col("query_id"), col("neighbor_id"), lit(1).as("__hit")),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("__hit")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        (col("n_hits").cast("double") / lit(TopK.toDouble)).as("recall"))
      .orderBy("query_id")

  /** A gate over the embeddings and the full-corpus IVF centroids it
    * trains, oracled by their replay ([[IndexOracles.ivfOracleSql]]). */
  private def ivfOracled(name: String)(
      body: (SparkSession, String, DataFrame, Array[Array[Double]]) => DataFrame)
      : (String, (SparkSession, String) => DataFrame) =
    oracled(name) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val centroids = ivfCentroids(emb)
      (body(s, d, emb, centroids), IndexOracles.ivfOracleSql(centroids))
    }

  /** The maintained cell index of the standing four fifths (vec_id % 5 ≠ 0)
    * under `centroids`, as (cluster, c_id, c_nemb): what the incremental
    * dedup gates probe the held-out fifth against. */
  private def standingCellIndex(emb: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    Similarity.assignToCells(emb.where(col("vec_id") % 5 =!= 0), centroids)
      .select(col("cluster"), col("vec_id").as("c_id"), col("nemb").as("c_nemb"))

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
    stalenessArms[Similarity.ReducedModel]("reduced_staleness", s, d)(
      Similarity.trainReducedModel(_), Similarity.reducedIndexOf, Similarity.reducedIndexAppend,
      Similarity.reducedProbeTopK(_, _, _, _, TopK, IvfNprobe))(IndexOracles.stalenessOracleSql)

  /** The q_pq_index_staleness measurement, the [[reducedStalenessArms]]
    * protocol against the frozen rotation+codebooks index. rescoreCands is
    * widened to 50: at the probe default (20) BOTH arms bottom out on the
    * drifted corpus and the decay signal compresses; 50 candidates keeps
    * the ADC ranking decisive while giving the rescue rescore room to show
    * the gap. */
  private def pqStalenessArms(s: SparkSession, d: String): (DataFrame, Map[String, String]) =
    stalenessArms[Similarity.ReducedPqModel]("pq_staleness", s, d)(
      Similarity.trainReducedPqModel(_), Similarity.reducedPqIndexOf, Similarity.reducedPqIndexAppend,
      Similarity.reducedPqProbeTopK(_, _, _, _, TopK, rescoreCands = 50))(
      IndexOracles.pqStalenessOracleSql)

  /** The staleness protocol over one index family, trained once per (JVM,
    * sf) under `family`: `train` a model on the base 3/5 of the embeddings
    * and freeze it; append the drifted 2/5 (embeddings reversed) as two
    * epochs of frozen-model codes; retrain a fresh model on the whole
    * corpus; then measure both indexes' probe recall@[[TopK]] against the
    * exact top-k of 25 drifted queries. Returns (two-arm recall table,
    * `oracle` of the frozen and fresh models). */
  private def stalenessArms[M](family: String, s: SparkSession, d: String)(train: DataFrame => M,
      indexOf: (DataFrame, M) => DataFrame, append: (DataFrame, DataFrame, M) => DataFrame,
      probe: (DataFrame, DataFrame, M, DataFrame) => DataFrame)(
      oracle: (M, M) => Map[String, String]): (DataFrame, Map[String, String]) =
    trainOnce(family, d) {
      val emb = Tables.embeddings(s, d)
      val base = emb.where(col("vec_id") % 5 < 3)
      val drifted = emb.where(col("vec_id") % 5 >= 3)
        .withColumn("embedding", reverse(col("embedding")))
      val corpus = base.unionByName(drifted)
      val frozen = train(base)
      val stale = append(
        append(indexOf(base, frozen), drifted.where(col("vec_id") % 2 === 0), frozen),
        drifted.where(col("vec_id") % 2 === 1), frozen)
      val fresh = train(corpus)
      val freshIdx = indexOf(corpus, fresh)
      val queries = drifted.where(col("vec_id") < 25)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val exact = Similarity.bruteForceTopK(corpus, queries, TopK)
        .select("query_id", "neighbor_id")
      val out = stalenessRecall(exact, "fresh_rebuild", probe(corpus, freshIdx, fresh, queries))
        .unionByName(stalenessRecall(exact, "maintained_stale", probe(corpus, stale, frozen, queries)))
        .orderBy("arm")
      (out, oracle(frozen, fresh))
    }

  private def stalenessRecall(exact: DataFrame, arm: String, ann: DataFrame): DataFrame =
    exact.join(
        ann.select(col("query_id"), col("neighbor_id"), lit(1).as("__hit")),
        Seq("query_id", "neighbor_id"), "left")
      .agg(count(col("__hit")).as("n_hits"), count(lit(1)).as("n_expected"))
      .select(lit(arm).as("arm"), col("n_hits"), col("n_expected"),
        (col("n_hits").cast("double") / col("n_expected").cast("double"))
          .as("recall"))
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import graft.dp.DpParams
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, Tables}
import graft.queries.{CrawlQueries, DedupQueries}

/** Pins the exchange/sort shape of the window/join gates added in r5 and the
  * e2e near-dup pipeline, so a refactor cannot silently add a shuffle (or
  * leak document text into one): every Exchange's input columns are parsed
  * from the formatted explain, and counts are asserted per plan. At 100 TB
  * each extra Exchange is a full-corpus materialization and an Exchange
  * carrying `text` ships the corpus body over the wire.
  */
class PlanShapeSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Formatted-explain node blocks for every Exchange in the plan (each block
    * carries the node header plus its `Input [n]: [cols]` detail). */
  private def exchangeBlocks(df: DataFrame): Seq[String] = {
    val fmt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    fmt.split("\n\n").toSeq
      .filter(_.linesIterator.nextOption().exists(_.matches("""\(\d+\) Exchange.*""")))
  }

  private def sortCount(df: DataFrame): Int =
    """\(\d+\) Sort""".r.findAllIn(df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))).length

  test("q_rolling_user_stats: all four window features share ONE hash exchange and one partition sort") {
    val df = SparkEntry.queries("q_rolling_user_stats")(spark, sfDir)
    val ex = exchangeBlocks(df)
    val hashEx = ex.filter(_.contains("hashpartitioning"))
    // one hash exchange for the (user_id) window, one range exchange for the
    // final presentation orderBy — nothing else
    assert(hashEx.size === 1, s"window features no longer share one exchange:\n${ex.mkString("\n---\n")}")
    assert(ex.size <= 2, s"unexpected extra exchanges:\n${ex.mkString("\n---\n")}")
    // lag (unbounded frame spec) and the rows-between-3 aggregates must ride
    // the SAME sort; the final orderBy adds the second sort
    assert(sortCount(df) <= 2, "window computation split into extra sorts")
  }

  test("j3_overlap_intervals: block equi-join, never a cartesian/nested-loop pair explosion") {
    val df = SparkEntry.queries("j3_overlap_intervals")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"interval overlap fell back to a pair explosion:\n$plan")
    // each side shuffles once on (user_id, block); the presentation orderBy
    // adds one range exchange
    val ex = exchangeBlocks(df)
    assert(ex.size <= 3, s"extra exchanges in the interval join:\n${ex.mkString("\n---\n")}")
  }

  test("x9_repetition_stats: word and gram stats each combine map-side — no per-token wide shuffle") {
    val df = SparkEntry.queries("x9_repetition_stats")(spark, sfDir)
    val ex = exchangeBlocks(df)
    // exploded (doc_id, token)/(doc_id, gram) rows are partially aggregated
    // BEFORE their exchange; the joins reuse doc_id partitioning. Budget:
    // two agg chains (1 exchange each after partial agg), two doc_id join
    // exchanges, one presentation range exchange.
    assert(ex.size <= 6, s"x9 grew extra shuffles:\n${ex.mkString("\n---\n")}")
    for (b <- ex)
      assert(!b.contains("ws#"), s"an exchange carries the full token array:\n$b")
  }

  test("x13_bpe_train apply path: model broadcasts; no row exchange carries text or words") {
    val df = SparkEntry.queries("x13_bpe_train")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the vocabulary-cardinality model must broadcast, not shuffle the corpus:\n$plan")
    // row-exchanges may carry only (doc_id, partial aggregates): the
    // pre-token explode partial-aggregates map-side under the join, so
    // neither text nor word strings cross a hash exchange (the broadcast
    // exchange legitimately ships the model's word column)
    for (b <- exchangeBlocks(df).filter(_.contains("hashpartitioning")))
      assert(!b.contains("text#") && !b.contains("word#"),
        s"a corpus-row exchange carries text/word strings:\n$b")
  }

  test("e2e_asset_dedup: payload bytes never enter an exchange") {
    val df = SparkEntry.queries("e2e_asset_dedup")(spark, sfDir)
    for (b <- exchangeBlocks(df))
      assert(!b.contains("payload#"),
        s"an exchange ships asset payloads (decode must stay in the scan map):\n$b")
  }

  test("tokenizer family: fertility model broadcasts; no exchange carries text") {
    for (name <- Seq("q_tokenizer_fertility", "e2e_tokenizer_vocab")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      for (b <- exchangeBlocks(df))
        assert(!b.contains("text#"), s"$name ships corpus text through an exchange:\n$b")
    }
    val fert = SparkEntry.queries("q_tokenizer_fertility")(spark, sfDir)
    assert(fert.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "the vocabulary model must broadcast in the fertility gate")
  }

  test("d18 incremental semantic dedup: cell-confined, no cartesian, raw embeddings stay in scans") {
    val df = SparkEntry.queries("d18_incremental_semantic_dedup")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"incremental semantic dedup exploded into an all-pairs join:\n$plan")
    // the cell equi-join legitimately carries the NORMALIZED vector (nemb);
    // the raw embedding column itself must never cross an exchange
    for (b <- exchangeBlocks(df))
      assert(!b.contains("embedding#"),
        s"a raw embedding column crosses an exchange:\n$b")
  }

  test("duplicate spans: neither text nor token arrays enter any exchange") {
    val docs = Tables.documents(spark, sfDir)
    for ((name, df) <- Seq(
        "d14" -> Dedup.duplicateSpans(docs, "doc_id", "text", n = 8),
        "d14b" -> Dedup.stripDuplicateSpans(docs, "doc_id", "text", n = 8))) {
      for (b <- exchangeBlocks(df)) {
        assert(!b.contains("text#"), s"$name: document text reached a shuffle:\n$b")
        assert(!b.contains("__toks#"), s"$name: the token array reached a shuffle:\n$b")
      }
    }
  }

  test("e2e near-dup pipeline: document text never enters any exchange") {
    val docs = Tables.documents(spark, sfDir)
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", 3, 64)
    val candidates = Dedup.lshCandidatePairs(sigs, 64, 16)
    val pairs = Dedup.verifyCandidatesJaccard(docs, "doc_id", "text", 3, candidates, 0.8)
    for (b <- exchangeBlocks(pairs))
      assert(!b.contains("text#"), s"document text reached a shuffle:\n$b")
    // the post-components survivor join + split likewise: only ids, source,
    // and counts move (components themselves are a checkpointed id->label map)
    val comp = Dedup.connectedComponents(pairs.limit(50), "doc_a", "doc_b")
      .select(col("doc_id").as("cid"), col("component"))
    val members = comp.groupBy("component").agg(count(lit(1)).as("n_members"))
      .withColumnRenamed("component", "mcomp")
    val out = docs.join(comp, col("doc_id") === col("cid"), "left")
      .where(col("component").isNull || col("doc_id") === col("component"))
      .join(members, col("doc_id") === col("mcomp"), "left")
      .select("doc_id", "source")
    for (b <- exchangeBlocks(out))
      assert(!b.contains("text#"), s"document text reached the survivor join shuffle:\n$b")
  }

  test("e2e clean corpus build: neither text nor token arrays enter any exchange") {
    // The composed cleaning pipeline (decontaminate → strip duplicate spans
    // → near-dup dedup → components → survivors → split): both strip passes
    // join span arrays ids-only, signatures/candidates carry hashes, and the
    // survivor join carries (doc_id, clean_md5) because md5 is projected
    // before it. `text#` also catches `clean_text#` by substring, so neither
    // the raw nor the cleaned body may reach a shuffle at any stage.
    // persistCleaned = false: the audit must see the FULL uncached plan (an
    // InMemoryRelation would hide the cleaning stages' exchanges).
    val df = DedupQueries.cleanCorpusBuild(spark, sfDir, persistCleaned = false)
    for (b <- exchangeBlocks(df)) {
      assert(!b.contains("text#"), s"document text reached a shuffle:\n$b")
      assert(!b.contains("__toks#"), s"a token array reached a shuffle:\n$b")
    }
  }

  test("q_kmeans_assign: assignment is a pure projection — ZERO shuffles over the corpus") {
    // trainIvfCentroids samples to the driver once (bounded 4096 rows) and
    // embeds the centroids as a broadcast literal, so the assignment plan
    // itself must contain no Exchange at all except the presentation
    // orderBy's range exchange.
    val df = SparkEntry.queries("q_kmeans_assign")(spark, sfDir)
    val ex = exchangeBlocks(df)
    val nonRange = ex.filterNot(_.contains("rangepartitioning"))
    assert(nonRange.isEmpty,
      s"k-means assignment grew a corpus shuffle:\n${nonRange.mkString("\n---\n")}")
  }

  test("q_chunk_mean_pool: ONE map-side-combined aggregate; no vectors in any exchange") {
    val df = SparkEntry.queries("q_chunk_mean_pool")(spark, sfDir)
    val ex = exchangeBlocks(df)
    val hashEx = ex.filter(_.contains("hashpartitioning"))
    // one hash exchange for the (group, pos) aggregate, one range exchange
    // for the presentation orderBy — nothing else
    assert(hashEx.size === 1,
      s"pooling no longer aggregates in one exchange:\n${ex.mkString("\n---\n")}")
    assert(ex.size <= 2, s"unexpected extra exchanges:\n${ex.mkString("\n---\n")}")
    // the exploded (group, pos, q6 long) rows must be PARTIALLY AGGREGATED
    // before the wire — the exchange carries sum/count partials, never the
    // embedding array
    for (b <- hashEx) {
      assert(b.contains("sum#") || b.contains("partial"),
        s"the aggregate exchange does not carry partial-agg buffers:\n$b")
      assert(!b.contains("embedding#"), s"an exchange carries the embedding array:\n$b")
    }
    val fmt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(fmt.contains("HashAggregate"), "pooling lost its hash aggregate")
  }

  test("d9d_pq_topk: ADC ranking exchange carries scalars only — never codes, ADC tables, or embeddings") {
    for (gate <- Seq("d9d_pq_topk", "d9e_reduced_pq_topk")) {
      val df = SparkEntry.queries(gate)(spark, sfDir)
      for (b <- exchangeBlocks(df) if b.contains("hashpartitioning")) {
        assert(!b.contains("codes#"), s"$gate: PQ codes reached a shuffle:\n$b")
        assert(!b.contains("adc#"), s"$gate: a per-query ADC table reached a shuffle:\n$b")
        assert(!b.contains("proj#"), s"$gate: a projected-coordinate array reached a shuffle:\n$b")
      }
      // embeddings cross an exchange only on the rescore join's corpus side
      // (cands × corpus), never in the ADC ranking window's exchange
      val ranking = exchangeBlocks(df).filter(b =>
        b.contains("approx#") && b.contains("hashpartitioning"))
      ranking.foreach { b =>
        assert(!b.contains("emb#") && !b.contains("embedding#"),
          s"$gate: the ADC ranking exchange carries an embedding array:\n$b")
      }
      assert(ranking.nonEmpty,
        s"$gate: could not locate the ADC ranking exchange — test needs updating")
      // codegen-participation pin (VERDICT r11 #2): every WholeStageCodegen
      // subtree of the gate must actually COMPILE. The literal-array ADC
      // formulation grew the fused ranking method past Janino's 64 KB limit
      // and the stage silently ran interpreted — maxMethodCodeSize == -1
      // (ByteCodeStats.UNAVAILABLE) is exactly that failure. Run the query
      // first: under AQE the codegen stages only exist in the final plan.
      df.collect()
      val subtrees = org.apache.spark.sql.execution.debug
        .codegenStringSeq(df.queryExecution.executedPlan)
      assert(subtrees.nonEmpty, s"$gate: no WholeStageCodegen subtree found")
      subtrees.foreach { case (subtree, _, stats) =>
        assert(stats.maxMethodCodeSize >= 0,
          s"$gate: a WholeStageCodegen subtree failed to compile (64 KB fallback):\n$subtree")
        assert(stats.maxMethodCodeSize < 65536,
          s"$gate: generated method exceeds the JVM method limit:\n$subtree")
      }
    }
  }

  test("d16_semantic_dedup: within-cluster pairing is a hash equi-join, never a pair explosion") {
    val df = SparkEntry.queries("d16_semantic_dedup")(spark, "/root/testdata/sf0.01")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"semantic dedup fell back to a cartesian pair explosion:\n$plan")
  }

  test("q_dsir_select: text never shuffles; the λ table joins as a broadcast") {
    val df = TextOps.dsirSelect(Tables.documents(spark, sfDir), "doc_id", "text",
      col("lang") === "en", numBuckets = 256, k = 100)
    for (b <- exchangeBlocks(df)) {
      assert(!b.contains("text#"), s"an exchange carries document text:\n$b")
      assert(!b.contains("toks#"), s"an exchange carries the token array:\n$b")
    }
    // the per-bucket λ table reaches the corpus via a broadcast, never by
    // shuffling the (doc_id, f) stream against it
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"λ join is not a broadcast:\n$plan")
  }

  test("x12 scoring: text never shuffles; features aggregate map-side") {
    // iters=1: plan shape is identical at any iteration count
    val df = TextOps.qualityLrScore(Tables.documents(spark, sfDir), "doc_id", "text",
      iters = 1)
    for (b <- exchangeBlocks(df)) {
      assert(!b.contains("text#"), s"an exchange carries document text:\n$b")
      assert(!b.contains("toks#"), s"an exchange carries the token array:\n$b")
    }
  }

  test("q_temperature_mix: allocation joins as a broadcast; docs shuffle only for the per-source rank window") {
    val df = SparkEntry.queries("q_temperature_mix")(spark, sfDir)
    val hashEx = exchangeBlocks(df).filter(_.contains("hashpartitioning"))
    // ONE corpus-sized hash exchange (the md5-rank window per source, the
    // only one whose rows carry doc_id); the mass-side aggregates shuffle
    // only (source, count-partial) rows at source cardinality, and the
    // allocation reaches the corpus by broadcast
    val corpusEx = hashEx.filter(_.contains("doc_id#"))
    assert(corpusEx.size === 1,
      s"temperature mix grew extra corpus shuffles:\n${corpusEx.mkString("\n---\n")}")
    for (b <- hashEx if !b.contains("doc_id#"))
      assert(b.contains("count#"),
        s"a mass-side exchange carries more than count partials:\n$b")
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "the allocation join is not a broadcast")
  }

  test("q_weighted_sample: keys are a projection; top-k is per-partition heaps, not a global sort") {
    val df = SparkEntry.queries("q_weighted_sample")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"weighted sample lost its top-k heap plan:\n$plan")
    for (b <- exchangeBlocks(df))
      assert(!b.contains("text#"), s"an exchange carries document text:\n$b")
  }

  test("mm_phash_dedup: dedup shuffles 8-byte hashes, never pixels or payloads") {
    val df = SparkEntry.queries("mm_phash_dedup")(spark, sfDir)
    for (b <- exchangeBlocks(df))
      assert(!b.contains("payload#"), s"an exchange carries image payloads:\n$b")
  }

  test("q_quality_median_filter: threshold joins as broadcast; text never shuffles; corpus never sorted") {
    val df = SparkEntry.queries("q_quality_median_filter")(spark, sfDir)
    for (b <- exchangeBlocks(df)) {
      assert(!b.contains("text#"), s"an exchange carries document text:\n$b")
      assert(!b.contains("toks#"), s"an exchange carries a token array:\n$b")
    }
    // the per-source threshold (histogram-median output, source cardinality)
    // must reach the corpus as a broadcast, never by shuffling the corpus
    // against it; the histogram window sorts only (source, quality, count)
    // rows, so every Sort input must be count-shaped, except the
    // presentation orderBy
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "the median-threshold join is not a broadcast")
    val corpusHashEx = exchangeBlocks(df)
      .filter(b => b.contains("hashpartitioning") && b.contains("doc_id#"))
    assert(corpusHashEx.isEmpty,
      s"the corpus itself shuffles — the histogram trick is broken:\n${corpusHashEx.mkString("\n---\n")}")
  }

  test("q_split_leakage_ngram: only window hashes shuffle — never text or token arrays") {
    val df = SparkEntry.queries("q_split_leakage_ngram")(spark, sfDir)
    for (b <- exchangeBlocks(df)) {
      assert(!b.contains("text#"), s"an exchange carries document text:\n$b")
      // delimiter-anchored: a bare "ws#" substring would also match the
      // output column n_windows#
      assert(!b.contains("toks#") && !"[\\[, ]ws#".r.findFirstIn(b).isDefined,
        s"an exchange carries a token array:\n$b")
    }
  }

  test("e2e training manifest: text never enters any exchange up to the packing stage") {
    // the final manifest runs through globalPrefixSum's RDD two-phase pass,
    // which breaks the query lineage — audit the full declarative prefix of
    // the pipeline (median gate → temperature mix → subset-retrained bigram
    // difficulty → curriculum phases → token counts), which contains every
    // corpus-sized exchange the composed gate performs before packing
    val docs = Tables.documents(spark, sfDir)
    val scored = docs.select(col("doc_id"), col("source"),
      TextOps.qualityCol(col("text")).as("quality"))
    val kept = CoreOps.perGroupMedianFilter(scored, "source", "quality")
    val mixed = CoreOps.temperatureMixSample(
      kept.select("source", "doc_id"), "source", "doc_id", 150L)
    val sel = docs.join(mixed.select("doc_id"), Seq("doc_id"))
    val diff = TextOps.bigramPerplexity(sel, "doc_id", "text").select("doc_id", "avg_nll")
    val phased = CoreOps.curriculumPhases(diff, Seq("avg_nll", "doc_id"), 4)
    val withTok = phased.join(
      docs.select(col("doc_id"), size(TextOps.tokens(col("text"))).cast("long").as("n_tokens")),
      Seq("doc_id"))
    for (b <- exchangeBlocks(withTok)) {
      assert(!b.contains("text#"), s"an exchange carries document text:\n$b")
      assert(!b.contains("toks#") && !b.contains("ws#"),
        s"an exchange carries a token array:\n$b")
    }
  }

  test("q_corpus_diff: the full outer join shuffles (id, md5) — never document payloads") {
    val df = SparkEntry.queries("q_corpus_diff")(spark, sfDir)
    for (b <- exchangeBlocks(df))
      assert(!b.contains("text#"), s"an exchange carries a document payload:\n$b")
  }

  test("e2e_asset_text_pairs: neither pixels, payloads, nor text enter any exchange") {
    val df = SparkEntry.queries("e2e_asset_text_pairs")(spark, sfDir)
    for (b <- exchangeBlocks(df)) {
      assert(!b.contains("payload#"), s"an exchange carries image payloads:\n$b")
      assert(!b.contains("text#"), s"an exchange carries document text:\n$b")
      assert(!b.contains("toks#"), s"an exchange carries a token array:\n$b")
    }
  }

  test("q_source_divergence: one corpus scan, then count-table-only shuffles") {
    val df = SparkEntry.queries("q_source_divergence")(spark, sfDir)
    val ex = exchangeBlocks(df)
    for (b <- ex) {
      assert(!b.contains("text#"), s"an exchange carries document text:\n$b")
      assert(!b.contains("toks#"), s"an exchange carries a token array:\n$b")
    }
    // the (source, word) count table is checkpointed, so the downstream
    // plan must contain ZERO parquet scans — the corpus was read exactly
    // once, at checkpoint time
    val fmt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!fmt.contains("Scan parquet"),
      "a consumer re-scans the corpus instead of reading the checkpointed counts")
    // budget over the materialized count table: ns/gw/tot aggregates, the
    // word-keyed join, the source reduction, the presentation sort
    assert(ex.size <= 7, s"q_source_divergence grew extra shuffles:\n${ex.mkString("\n---\n")}")
  }

  test("comparisonsFromEvents: one user-keyed window exchange, then item²-cardinality agg") {
    val ev = Tables.events(spark, sfDir)
      .withColumn("ts_us", expr("ts_ns div 1000"))
    val df = Preference.comparisonsFromEvents(ev,
      "user_id", "ts_us", "event_id", "event_type", "value")
    val ex = exchangeBlocks(df)
    val hashEx = ex.filter(_.contains("hashpartitioning"))
    // one window exchange on user_id + one for the (winner, loser) agg —
    // which combines map-side at item² cardinality before it
    assert(hashEx.size <= 2, s"comparison derivation grew shuffles:\n${ex.mkString("\n---\n")}")
    assert(sortCount(df) <= 1, "the lag window split into extra sorts")
  }

  test("boilerplate strip: neither text nor token arrays enter any exchange") {
    val df = Dedup.stripBoilerplate(Tables.documents(spark, sfDir),
      "doc_id", "text", n = 8, minDocFrequency = 3)
    for (b <- exchangeBlocks(df)) {
      assert(!b.contains("text#"), s"an exchange carries document text:\n$b")
      assert(!b.contains("__toks#") && !b.contains("toks#"),
        s"an exchange carries a token array:\n$b")
    }
  }

  test("block dedup: blocks are hashed in the scan — neither text nor token arrays enter any exchange") {
    val df = Dedup.blockDedup(Tables.documents(spark, sfDir),
      "doc_id", "text", blockTokens = 16)
    for (b <- exchangeBlocks(df)) {
      assert(!b.contains("text#"), s"an exchange carries document text:\n$b")
      assert(!b.contains("__toks#"), s"an exchange carries a token array:\n$b")
    }
  }

  test("KN perplexity: model tables at bigram cardinality — text never enters an exchange") {
    val df = TextOps.knPerplexity(Tables.documents(spark, sfDir), "doc_id", "text")
    for (b <- exchangeBlocks(df)) {
      assert(!b.contains("text#"), s"an exchange carries document text:\n$b")
      assert(!b.contains("toks#"), s"an exchange carries a token array:\n$b")
    }
  }

  test("cluster topics: token rows join the ids-only label map — text never enters an exchange") {
    val emb = Tables.embeddings(spark, sfDir)
    val labels = Similarity.kmeansAssign(emb)
      .select(col("vec_id").as("doc_id"), col("cluster"))
    val df = TextOps.classTfidfTopTerms(Tables.documents(spark, sfDir),
      "doc_id", "text", labels, nClasses = 16, topM = 3)
    for (b <- exchangeBlocks(df)) {
      assert(!b.contains("text#"), s"an exchange carries document text:\n$b")
      assert(!b.contains("embedding#"), s"an exchange carries an embedding:\n$b")
    }
  }

  test("PCA projection: a pure projection over broadcast-literal model arrays — zero exchanges") {
    val emb = Tables.embeddings(spark, sfDir)
    val (mean, comps) = Similarity.trainPca(emb, 64, 4, iterations = 50)
    val df = Similarity.pcaProjectArrays(emb, mean, comps)
    assert(exchangeBlocks(df).isEmpty,
      s"the PCA projection should not shuffle:\n${exchangeBlocks(df).mkString("\n---\n")}")
  }

  test("reduced IVF: projected coordinates never enter an exchange; top-k keeps WindowGroupLimit") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val df = Similarity.reducedIvfTopK(emb, queries, 5)
    for (b <- exchangeBlocks(df))
      assert(!b.contains("proj#"),
        s"a projected-coordinate array crosses an exchange:\n$b")
    assert(df.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "reduced-IVF top-k lost the WindowGroupLimit rewrite")
  }

  test("e2e_web_pipeline: post-checkpoint plan moves only (id, md5, scalars)") {
    val df = SparkEntry.queries("e2e_web_pipeline")(spark, sfDir)
    val fmt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // cleaned+scored relation is checkpointed: no corpus re-scan downstream
    assert(!fmt.contains("Scan parquet"),
      "a consumer re-scans the corpus instead of the checkpointed cleaned relation")
    for (b <- exchangeBlocks(df))
      assert(!b.contains("clean_text#") && !b.contains("text#"),
        s"an exchange carries cleaned text:\n$b")
  }

  test("q_fim_transform: a pure projection — the only exchange is the presentation sort") {
    val df = SparkEntry.queries("q_fim_transform")(spark, sfDir)
    val ex = exchangeBlocks(df)
    assert(ex.size <= 1, s"FIM grew shuffles beyond the orderBy:\n${ex.mkString("\n---\n")}")
    assert(ex.forall(_.contains("rangepartitioning")),
      "FIM's only exchange must be the presentation sort")
  }

  test("q_memorization_risk: only (doc, pos, hash) rows shuffle") {
    val df = SparkEntry.queries("q_memorization_risk")(spark, sfDir)
    // boundary-aware: bare `ws#` would false-match `n_windows#`
    val tokArray = """(?<![a-zA-Z_])(toks|ws)#""".r
    for (b <- exchangeBlocks(df)) {
      assert(!b.contains("text#"), s"an exchange carries document text:\n$b")
      assert(tokArray.findFirstIn(b).isEmpty,
        s"an exchange carries a token array:\n$b")
    }
  }

  test("q_url_rules_filter: literal-array rule probe is a pure projection") {
    val df = SparkEntry.queries("q_url_rules_filter")(spark, sfDir)
    val ex = exchangeBlocks(df)
    assert(ex.size <= 1, s"rule filter grew shuffles beyond the orderBy:\n${ex.mkString("\n---\n")}")
    assert(ex.forall(_.contains("rangepartitioning")),
      "the only exchange must be the presentation sort")
  }

  test("e2e_crawl_curation: text never crosses an exchange; kept ids broadcast back") {
    val df = SparkEntry.queries("e2e_crawl_curation")(spark, sfDir)
    val tokArray = """(?<![a-zA-Z_])(toks|ws)#""".r
    for (b <- exchangeBlocks(df)) {
      assert(!b.contains("text#"), s"an exchange carries document text:\n$b")
      assert(tokArray.findFirstIn(b).isEmpty,
        s"an exchange carries a token array:\n$b")
    }
    // The audit's localCheckpoint truncates the returned plan before the
    // post-cap semi-join, so pin the pre-audit stage directly: the kept
    // id set must reach the text table as a BROADCAST semi-join — a
    // shuffled semi-join would move the documents relation (with text)
    // through an exchange
    val (_, keptDocs) = CrawlQueries.crawlCurationStages(spark, sfDir)
    val plan = keptDocs.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.toLowerCase.contains("leftsemi"),
      s"kept ids are not a broadcast semi-join against documents:\n${plan.take(4000)}")
    for (b <- exchangeBlocks(keptDocs))
      assert(!b.contains("text#"),
        s"the pre-audit stage moves text through an exchange:\n$b")
  }

  test("d15b_contamination_fraction: neither text nor token arrays enter any exchange") {
    val docs = Tables.documents(spark, sfDir)
    val df = Dedup.contaminationFraction(
      docs.where(col("doc_id") % 11 =!= 0), docs.where(col("doc_id") % 11 === 0),
      "doc_id", "text", n = 8)
    for (b <- exchangeBlocks(df)) {
      assert(!b.contains("text#"), s"an exchange carries document text:\n$b")
      assert(!b.contains("toks#") && !b.contains("ws#"),
        s"an exchange carries a token array:\n$b")
    }
  }

  test("d3b Hamming pairs: fingerprints are a projection — text never enters an exchange") {
    val df = Dedup.simHashHammingPairs(Tables.documents(spark, sfDir),
      "doc_id", "text", radius = 3, maxBlockFrequency = 50L)
    for (b <- exchangeBlocks(df))
      assert(!b.contains("text#"),
        s"document text reached a shuffle (prints must be computed in the scan projection):\n$b")
  }

  test("q_quality_rank_ensemble: histograms broadcast back — the corpus never hash-shuffles") {
    val df = SparkEntry.queries("q_quality_rank_ensemble")(spark, sfDir)
    for (b <- exchangeBlocks(df) if b.contains("hashpartitioning")) {
      assert(!b.contains("doc_id#"),
        s"the corpus itself shuffles — rank joins stopped broadcasting:\n$b")
      assert(!b.contains("text#"), s"document text reached a shuffle:\n$b")
    }
  }

  test("q_quality_drift_psi: only histogram cells shuffle — never documents or text") {
    val df = SparkEntry.queries("q_quality_drift_psi")(spark, sfDir)
    for (b <- exchangeBlocks(df) if b.contains("hashpartitioning")) {
      assert(!b.contains("text#"), s"document text reached a shuffle:\n$b")
      assert(!b.contains("doc_id#"),
        s"document rows shuffle — the histogram aggregate stopped combining map-side:\n$b")
    }
  }

  test("q_bm25_search: corpus exchanges carry (id, hash) longs — never text; query side broadcasts") {
    val df = SparkEntry.queries("q_bm25_search")(spark, sfDir)
    for (b <- exchangeBlocks(df))
      assert(!b.contains("text#"), s"document text reached a shuffle:\n$b")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "query terms / matched-df / stats must join as broadcasts")
  }

  test("q_rrf_fusion: no text in any exchange; both retriever stacks broadcast their query side") {
    val df = SparkEntry.queries("q_rrf_fusion")(spark, sfDir)
    for (b <- exchangeBlocks(df))
      assert(!b.contains("text#") && !b.contains("embedding#"),
        s"payload reached a shuffle:\n$b")
  }

  test("q_bm25_delete_search: removal set and query terms broadcast; exchanges carry (id, hash) longs only") {
    val df = SparkEntry.queries("q_bm25_delete_search")(spark, sfDir)
    for (b <- exchangeBlocks(df))
      assert(!b.contains("text#"), s"document text reached a shuffle:\n$b")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the removal set / query terms / df tables must join as broadcasts")
  }

  test("q_deletion_audit: one map-side-combinable aggregate; removal set broadcasts; no text shuffles") {
    val df = SparkEntry.queries("q_deletion_audit")(spark, sfDir)
    val ex = exchangeBlocks(df)
    for (b <- ex) assert(!b.contains("text#"), s"document text reached a shuffle:\n$b")
    // corpus-side rows reach exactly ONE hash exchange — the (source, shard)
    // aggregate's partial-merge; the only other hash exchange is the removal
    // set's own distinct, which is removal-request cardinality, not corpus
    val corpusEx = ex.filter(b => b.contains("hashpartitioning") && b.contains("source#"))
    assert(corpusEx.size === 1,
      s"audit stopped being one aggregate:\n${ex.mkString("\n---\n")}")
    assert(corpusEx.head.contains("count#") || corpusEx.head.contains("sum#"),
      s"the corpus exchange must carry partial aggregates, not rows:\n${corpusEx.head}")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "the removal set must broadcast")
  }

  test("q_graph_centrality: iteration exchanges carry (long, long) rows — never text or shingles") {
    val df = SparkEntry.queries("q_graph_centrality")(spark, sfDir)
    for (b <- exchangeBlocks(df))
      assert(!b.contains("text#"), s"text reached a shuffle:\n$b")
  }

  test("q_ppl_buckets: tercile window runs on the milli-nat grid, never per-doc micro values") {
    val df = SparkEntry.queries("q_ppl_buckets")(spark, sfDir)
    val fmt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val windows = fmt.split("\n\n").toSeq
      .filter(_.linesIterator.nextOption().exists(_.matches("""\(\d+\) Window.*""")))
    assert(windows.nonEmpty, s"tercile window disappeared from the plan:\n$fmt")
    // the cumulative window must consume the (lang, kg) GRID histogram —
    // a window ordered on raw avg_nll_micro has ~doc-count distinct values
    // and degenerates to one task per language (VERDICT r14 #2)
    windows.foreach { b =>
      assert(b.contains("kg#"), s"tercile window no longer on the grid key:\n$b")
      assert(!b.contains("avg_nll_micro#"),
        s"tercile window consumes per-doc micro values (unbounded grid):\n$b")
    }
  }

  test("q_domain_cap: per-domain top-K rides WindowGroupLimit heaps; text never shuffles") {
    val df = SparkEntry.queries("q_domain_cap")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"the rank<=K filter stopped riding per-partition heaps:\n$plan")
    for (b <- exchangeBlocks(df))
      assert(!b.contains("text#"), s"an exchange carries document text:\n$b")
  }

  test("q_session_conversations: sessionize + assembly share ONE hash exchange") {
    val df = SparkEntry.queries("q_session_conversations")(spark, sfDir)
    val hashEx = exchangeBlocks(df).filter(_.contains("hashpartitioning"))
    // the (user) window partitioning co-locates (user, session) too, so the
    // assembly aggregate must reuse it — a second hash exchange means the
    // groupBy stopped riding the window's partitioning
    assert(hashEx.size === 1,
      s"conversation assembly re-shuffled after sessionization:\n${hashEx.mkString("\n---\n")}")
  }

  test("q_url_canonical: scan reads ONLY doc_id — the planted-URL projection prunes text away") {
    val df = SparkEntry.queries("q_url_canonical")(spark, sfDir)
    val fmt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the URL is synthesized from doc_id, so a scan that still reads `text`
    // means canonicalization stopped being a pure projection
    val reads = """ReadSchema: struct<([^>]*)>""".r
      .findAllMatchIn(fmt).map(_.group(1)).toSeq
    assert(reads.nonEmpty && reads.forall(r => !r.contains("text")),
      s"q_url_canonical scan reads more than doc_id: $reads")
    // canonicalization itself must not introduce an exchange — only the
    // groupBy(canonical) aggregation and the presentation sort shuffle
    val ex = exchangeBlocks(df)
    assert(ex.size <= 3, s"unexpected exchanges:\n${ex.mkString("\n---\n")}")
    assert(ex.forall(!_.contains("text")), "document text crossed an exchange")
  }

  test("q_domain_stats: host rollup shuffles host-keyed scalars, never text or URLs") {
    val df = SparkEntry.queries("q_domain_stats")(spark, sfDir)
    val ex = exchangeBlocks(df)
    assert(ex.forall(b => !b.contains("text")),
      s"document text crossed an exchange:\n${ex.mkString("\n---\n")}")
  }

  test("link-graph edges: PSL dims broadcast; neither page HTML nor text shuffles") {
    val df = SparkEntry.queries("q_host_link_graph")(spark, sfDir)
    for (b <- exchangeBlocks(df)) {
      assert(!b.contains("text#"), s"an exchange carries document text:\n$b")
      assert(!b.contains("page#"), s"an exchange carries page HTML:\n$b")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the (host -> registrable_domain) dims must join as broadcasts")
    assert(!plan.contains("SortMergeJoin"),
      s"an edge-side join fell back to sort-merge:\n$plan")
  }

  test("x20_link_extract: extraction shuffles extracted rows only, never the page") {
    val df = SparkEntry.queries("x20_link_extract")(spark, sfDir)
    for (b <- exchangeBlocks(df)) {
      assert(!b.contains("page#"), s"an exchange carries page HTML:\n$b")
      assert(!b.contains("text#"), s"an exchange carries document text:\n$b")
    }
  }

  test("q_anchor_topterms: per-domain top-3 rides WindowGroupLimit heaps") {
    val df = SparkEntry.queries("q_anchor_topterms")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank <= 3 must prune per-partition before the window exchange:\n$plan")
    for (b <- exchangeBlocks(df))
      assert(!b.contains("page#") && !b.contains("text#"),
        s"an exchange carries page/text:\n$b")
    // the gate checkpoints its extracted links (one extraction for the
    // rollup AND the PSL dim), hiding the extraction lineage from the
    // plan above — pin the extraction stage's OWN plan: a zero-shuffle
    // codegen projection, page bytes never in an exchange (ADVICE r19)
    val links = CrawlQueries.extractedLinksFrom(
      Tables.documents(spark, sfDir))
    val ex = exchangeBlocks(links)
    assert(ex.isEmpty,
      s"link extraction stopped being a pure projection:\n${ex.mkString("\n---\n")}")
  }

  test("q_phrase_search: exchanges carry (id, position) longs — never text") {
    val df = SparkEntry.queries("q_phrase_search")(spark, sfDir)
    for (b <- exchangeBlocks(df))
      assert(!b.contains("text#"), s"an exchange carries document text:\n$b")
  }

  test("q_phrase_multi_search: exchanges carry postings and counters — never document text") {
    val df = SparkEntry.queries("q_phrase_multi_search")(spark, sfDir)
    for (b <- exchangeBlocks(df))
      assert(!b.contains("text#"), s"an exchange carries document text:\n$b")
  }

  test("e2e_crawl_frontier: fetch rank is the two-phase prefix pass, never a single-task window") {
    val df = SparkEntry.queries("e2e_crawl_frontier")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"the global rank must ride the prefix pass, not a window:\n$plan")
    for (b <- exchangeBlocks(df)) {
      assert(!b.contains("text#"), s"an exchange carries document text:\n$b")
      assert(!b.contains("page#"), s"an exchange carries page HTML:\n$b")
    }
    // The gate's localCheckpoints truncate the plan above, hiding the
    // standing pipeline (extraction → PSL → PageRank join) behind
    // LogicalRDD leaves — so the guards above were vacuous for it (ADVICE
    // r19). Pin the UN-materialized stage directly: same invariants over
    // the full visible lineage (PageRank's own per-iteration checkpoint
    // still truncates its iterations, but its input is the (domain,
    // domain, n_links) edge rollup pinned by the link-graph test below).
    val st = CrawlQueries.crawlFrontierStage(spark, sfDir, materialize = false)
    val stPlan = st.queryExecution.executedPlan.toString
    assert(!stPlan.contains("Window"),
      s"the standing stage grew a window:\n${stPlan.take(4000)}")
    for (b <- exchangeBlocks(st)) {
      assert(!b.contains("text#"), s"a standing-stage exchange carries text:\n$b")
      assert(!b.contains("page#"), s"a standing-stage exchange carries page HTML:\n$b")
    }
  }

  test("e2e_url_frontier: per-URL rank rides the prefix pass; no exchange carries page bytes") {
    val df = SparkEntry.queries("e2e_url_frontier")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"the per-URL fetch rank must ride the prefix pass, not a window:\n$plan")
    for (b <- exchangeBlocks(df)) {
      assert(!b.contains("text#"), s"an exchange carries document text:\n$b")
      assert(!b.contains("page#"), s"an exchange carries page HTML:\n$b")
    }
    // both decision polarities must actually occur, or the gate's rule
    // and budget arms silently stop testing anything
    val rows = df.select("allowed", "over_budget").collect()
    assert(rows.exists(!_.getBoolean(0)) && rows.exists(_.getBoolean(0)))
    assert(rows.exists(_.getBoolean(1)) && rows.exists(!_.getBoolean(1)))
    // the oracle's novelty key packs (doc_id, link_no) as
    // doc_id·1024 + link_no (frontierStackCtes `eu`), which diverges
    // from the engine's min(struct(doc_id, link_no)) for any page with
    // ≥1024 extracted links — pin the plant's assumption (ADVICE r18)
    val maxLink = SparkEntry.queries("x20_link_extract")(spark, sfDir)
      .agg(org.apache.spark.sql.functions.max("link_no")).head().getLong(0)
    assert(maxLink < 1024L,
      s"planted pages must extract <1024 links/doc for the oracle's key packing (got $maxLink)")
    // The decision table's localCheckpoint truncates the gate plan above
    // the prefix pass, so the text/page/window guards were vacuous for
    // the standing pipeline (extraction, PSL, probe, novelty) — pin the
    // UN-materialized decision stage directly (ADVICE r19)
    val st = CrawlQueries.urlFrontierDecisionStages(spark, sfDir,
      materialize = false)._1
    val stPlan = st.queryExecution.executedPlan.toString
    assert(!stPlan.contains("Window"),
      s"the frontier decision stage grew a window:\n${stPlan.take(4000)}")
    for (b <- exchangeBlocks(st)) {
      assert(!b.contains("text#"), s"a decision-stage exchange carries text:\n$b")
      assert(!b.contains("page#"), s"a decision-stage exchange carries page HTML:\n$b")
    }
  }

  test("e2e_fetch_queue_polite: per-key window partitions by domain; global rank rides the prefix pass") {
    // the window pin reads the pre-prefix-sum stage — globalPrefixSum
    // materializes the frame, truncating the gate's visible lineage.
    // materialize = false additionally skips the stage's OWN checkpoints
    // (frontier decisions, PSL dim, recrawl stats), so the assertions
    // below see the FULL standing lineage — including the recrawl-stats
    // lag window — instead of post-checkpoint stubs (ADVICE r19)
    val stage = CrawlQueries.politeFetchQueueStage(spark, sfDir,
      materialize = false)
    val fmt = stage.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val windows = fmt.split("\n\n").toSeq
      .filter(_.linesIterator.nextOption().exists(_.matches("""\(\d+\) Window.*""")))
    // exactly the within-domain rank window survives, and it PARTITIONS
    // (a partitionless window is the single-task global sort the prefix
    // pass exists to avoid)
    assert(windows.nonEmpty, s"within_domain_rank window disappeared:\n$fmt")
    assert(windows.exists(_.contains("politeness_key#")),
      s"the rank window must partition by the politeness key:\n$fmt")
    // every window in the stage (the rank window AND the recrawl-stats
    // lag window) must carry a non-empty partition spec — a partitionless
    // window is the single-task global sort the prefix pass exists to
    // avoid (an empty partition list prints as ", [], [" in Arguments)
    windows.foreach { b =>
      assert(!b.contains(", [], ["),
        s"a window runs partitionless (single task):\n$b")
    }
    for (b <- exchangeBlocks(stage)) {
      assert(!b.contains("text#"), s"an exchange carries document text:\n$b")
      assert(!b.contains("page#"), s"an exchange carries page HTML:\n$b")
    }
    // interleave property: EVERY site's first url dequeues before ANY
    // site's second — with one domain holding most of the queue, the
    // pure-priority order would violate this immediately
    val df = SparkEntry.queries("e2e_fetch_queue_polite")(spark, sfDir)
    val rows = df.select("within_domain_rank", "fetch_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val maxFirst = rows.filter(_._1 == 1L).map(_._2).max
    val minSecond = rows.filter(_._1 == 2L).map(_._2).min
    assert(rows.exists(_._1 >= 2L), "plant lost its one-domain-dominant arm")
    assert(maxFirst < minSecond,
      s"round-robin broken: a second-of-domain url (rank $minSecond) " +
        s"dequeues before some first-of-domain url (rank $maxFirst)")
  }

  /** The physical plan before execution (AQE's initial plan). */
  private def physical(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  private def partialFed(p: SparkPlan): Boolean = p match {
    case w: WholeStageCodegenExec => partialFed(w.child)
    case a: BaseAggregateExec =>
      a.aggregateExpressions.nonEmpty && a.aggregateExpressions.forall(_.mode == Partial)
    case _ => false
  }

  /** Shuffle exchanges of `plan`, upstream first: partitioning kind, its
    * column names, and whether a partial aggregate feeds it. */
  private def shuffles(plan: SparkPlan): Seq[(String, Seq[String], Boolean)] =
    plan.collect { case e: ShuffleExchangeExec => e }.reverse.map { e =>
      val (kind, cols) = e.outputPartitioning match {
        case h: HashPartitioning => ("hash", h.expressions.flatMap(_.references.map(_.name)))
        case r: RangePartitioning => ("range", r.ordering.flatMap(_.references.map(_.name)))
        case SinglePartition => ("single", Nil)
        case other => (other.getClass.getSimpleName, Nil)
      }
      (kind, cols, partialFed(e.child))
    }

  private def eventContributions(userCol: String): DataFrame =
    Tables.events(spark, sfDir).select(col("event_type").as("key"),
      dayofmonth(col("ts")).cast("int").as("epoch"), col("user_id").cast("string").as(userCol),
      col("event_id").as("seq"), col("value"))

  test("DP batch B1 → A2 → run: four exchanges, no (key, user) re-shuffle, no derived key, no range sort") {
    def expected(user: String) = Seq(
      ("hash", Seq(user), false),
      ("hash", Seq("key", "epoch", "prev"), true),
      ("hash", Seq("key"), false),
      ("single", Nil, false))
    val bounded = CoreOps.boundContributions(eventContributions("user"), "user", "seq", 50L)
    val released = DpHistogram.run(spark,
      CoreOps.preAggregatePrevEpoch(bounded, "key", "epoch", "user", "value"), DpParams.zeroNoise(32))
    // the B1-composed gate has the same shape over its own user column
    val gate = SparkEntry.queries("dp_sigma0_mu0_histogram")(spark, sfDir)
    for ((df, user) <- Seq((released, "user"), (gate, "user_id"))) {
      val plan = physical(df)
      assert(shuffles(plan) === expected(user), s"DP batch plan changed shape:\n$plan")
      assert(!plan.exists(_.nodeName.startsWith("AppendColumns")),
        s"the mechanism groups on a derived key:\n$plan")
    }
  }

  test("A2 on raw input: exactly one (key, user) exchange, below the window") {
    val plan = physical(CoreOps.preAggregatePrevEpoch(eventContributions("user"), "key", "epoch", "user", "value"))
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.size === 1, s"A2's windows no longer share one operator:\n$plan")
    assert(shuffles(windows.head) === Seq(("hash", Seq("key", "user"), false)),
      s"A2's window is not fed by exactly one (key, user) exchange:\n$plan")
    assert(shuffles(plan).map(_._2) === Seq(Seq("key", "user"), Seq("key", "epoch", "prev"), Seq("key")),
      s"A2 plan changed shape:\n$plan")
  }

  test("DP timeline: groups on the key column, so no AppendColumns and no exchange on a derived key") {
    val plan = physical(SparkEntry.queries("dp_timeline_releases")(spark, sfDir))
    assert(!plan.exists(_.nodeName.startsWith("AppendColumns")),
      s"the timeline groups on a derived key:\n$plan")
    // A2's three exchanges, then the gate's presentation sort
    assert(shuffles(plan).map(s => (s._1, s._2)) === Seq(("hash", Seq("key", "user")),
      ("hash", Seq("key", "epoch", "prev")), ("hash", Seq("key")), ("range", Seq("epoch", "key"))),
      s"timeline plan changed shape:\n$plan")
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SpliceStore, Tables}
import graft.dp.{DpParams, NoiseSource, StreamingDpMechanism}

/** Spark-level operator tests: pins the distributed operators against
  * single-node baselines (the DP batch operator vs the in-memory mechanism,
  * LSH ANN vs brute force) and exercises the plumbing that has no DuckDB
  * oracle (multimodal codec path). Uses sf0.001 for speed. */
class OperatorsSpec extends AnyFunSuite {

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

  test("DpHistogram.run matches the single-node mechanism, sigma=0 with mu gate") {
    val events = Tables.events(spark, sfDir)
      .select(col("event_type").as("key"), dayofmonth(col("ts")).cast("int").as("epoch"),
        col("user_id").cast("string").as("user_id"), col("value"))
    val params = DpParams.zeroNoise(32, mu = 40)

    // distributed
    val preAgg = CoreOps.preAggregatePrevEpoch(events.toDF(), "key", "epoch", "user_id", "value")
    val distributed = DpHistogram.run(spark, preAgg, params)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

    // single-node replay in epoch order
    val mech = new StreamingDpMechanism(params, (_, _) => NoiseSource.Zero)
    val rows = events.collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    for (epoch <- 0 until 32) {
      rows.filter(_._2 == epoch).foreach { case (k, _, u, v) => mech.addContribution(u, k, v) }
      mech.snapshot()
    }
    val single = mech.produceHistogram()
    assert(distributed === single)
  }

  test("runUsers (identity-state A/B path) releases exactly what run releases") {
    val events = Tables.events(spark, sfDir)
      .select(col("event_type").as("key"), dayofmonth(col("ts")).cast("int").as("epoch"),
        col("user_id").cast("string").as("user_id"), col("value"))
    // zero-noise + seeded-noise with gate: releases AND round resets exercised
    for (params <- Seq(
        DpParams.zeroNoise(32, mu = 40),
        DpParams(5.0, 10.0, graft.dp.Stats.inverseNormalCdf(1 - 1e-4), 32, 5, 50))) {
      val viaPrev = DpHistogram.run(spark,
        CoreOps.preAggregatePrevEpoch(events.toDF(), "key", "epoch", "user_id", "value"), params, 7L)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val viaUsers = DpHistogram.runUsers(spark,
        CoreOps.preAggregate(events.toDF(), "key", "epoch", "user_id", "value"), params, 7L)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(viaPrev === viaUsers)
    }
  }

  test("DpHistogram.run with seeded noise is deterministic across runs") {
    val events = Tables.events(spark, sfDir)
      .select(col("event_type").as("key"), dayofmonth(col("ts")).cast("int").as("epoch"),
        col("user_id").cast("string").as("user_id"), col("value"))
    val preAgg = CoreOps.preAggregatePrevEpoch(events.toDF(), "key", "epoch", "user_id", "value")
    val params = DpParams(5.0, 10.0, graft.dp.Stats.inverseNormalCdf(1 - 1e-4), 32, 5, 50)
    val a = DpHistogram.run(spark, preAgg, params, runSeed = 7L).collect().toSeq
    val b = DpHistogram.run(spark, preAgg, params, runSeed = 7L).collect().toSeq
    val c = DpHistogram.run(spark, preAgg, params, runSeed = 8L).collect().toSeq
    assert(a === b)
    assert(a !== c)
  }

  test("hot-key pre-aggregation: per-key rows stay O(T) with 1M users, results exact") {
    // one Zipf-hot key, 1M contributions, 600k distinct users, revisits across
    // 4 epochs — the round-1 collect_set design would materialize one row
    // holding 600k user strings; prev_counts must stay <= epochs+1 entries
    val n = 1000000L
    val contrib = spark.range(n).select(
      lit("hot").as("key"),
      (col("id") / 250000).cast("int").as("epoch"),
      concat(lit("u"), col("id") % 600000).as("user_id"),
      lit(1.0).as("value"))
    val preAgg = CoreOps.preAggregatePrevEpoch(contrib, "key", "epoch", "user_id", "value")
    val rows = preAgg.collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      val prevCounts = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("prev_counts"))
      assert(prevCounts.size <= 5, s"prev_counts blew up: ${prevCounts.size}")
    }
    // exact semantics through the gate INCLUDING a round reset: mu=500k
    // releases at epoch 1 (500k cumulative new users), the round restarts,
    // epochs 2-3 re-count returning users as new, releasing the rest — the
    // final carried-forward sum must be the exact total.
    val hist = DpHistogram.run(spark, preAgg, DpParams.zeroNoise(4, mu = 500000L)).collect()
    assert(hist.length === 1)
    assert(hist(0).getLong(1) === n)
  }

  test("LSH top-k cosine scores are exact and ranks are bucket-consistent") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding"))
    // exact all-pairs scores as ground truth for score correctness
    val allScores = Similarity.bruteForceTopK(emb, queries, Int.MaxValue - 1)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val lsh = Similarity.lshBucketTopK(emb, queries, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(lsh.nonEmpty)
    // every LSH candidate's cosine must equal the exact score, and ranks must
    // be strictly ordered within a query
    lsh.foreach { case (q, _, n, cos) => assert(allScores((q, n)) === cos, s"score mismatch for ($q,$n)") }
    lsh.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to sorted.length).toSeq)
      assert(sorted.sliding(2).forall(w => w.length < 2 || w(0)._4 >= w(1)._4))
    }
  }

  test("quantized top-k: exact rescored scores, high recall vs brute force, stable under repartition") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exactScores = Similarity.bruteForceTopK(emb, queries, Int.MaxValue - 1)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val quant = Similarity.quantizedTopK(emb, queries, 5, rescoreFactor = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // rescored scores are the exact ones
    quant.foreach { case (q, _, n, cos) => assert(exactScores((q, n)) === cos) }
    // 7-bit codes + 4x rescore recover nearly all true neighbors
    val recall = quant.map(r => (r._1, r._3)).toSet.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"quantized recall $recall below 0.9")
    // layout-independence (deterministic tie handling end to end)
    val reparted = Similarity.quantizedTopK(emb.repartition(7), queries, 5, rescoreFactor = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(quant.sortBy(r => (r._1, r._2)).toSeq === reparted.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("LSH recall at the near-dup threshold: bucketed pairs find the high-cosine pairs") {
    val emb = Tables.embeddings(spark, sfDir)
    // brute-force ground truth above threshold
    val e = emb.select(col("vec_id"), col("embedding"))
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    val truth = a.crossJoin(b).where(col("vec_a") < col("vec_b"))
      .withColumn("cos", round(Similarity.cosine(
        transform(col("ea"), x => x.cast("double")), transform(col("eb"), x => x.cast("double"))), 6))
      .where(col("cos") >= 0.4)
      .select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Similarity.cosineNearDupPairs(emb, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.subsetOf(truth), "LSH reported a pair below threshold")
    if (truth.nonEmpty) {
      val recall = found.size.toDouble / truth.size
      // multi-table OR-amplification: p≈0.63/bit at cos 0.4, 1-(1-p^4)^8 ≈ 0.74
      assert(recall >= 0.5, s"LSH recall $recall too low (found ${found.size}/${truth.size})")
    }
  }

  test("MinHash-LSH candidates achieve full recall on the planted near-duplicates") {
    val docs = Tables.documents(spark, sfDir)
    val truth = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5, maxDocFrequency = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", 3, 8)
    val cands = Dedup.lshCandidatePairs(sigs, 8, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "test data should contain planted near-duplicates")
    val missed = truth -- cands
    assert(missed.isEmpty, s"LSH missed near-dup pairs: $missed")
  }

  test("connected components: chains collapse to min label, independent clusters stay apart") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3), pair (10,11), triangle (20,21),(21,22),(20,22)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connected components: deep chain converges without leaking cache or exploding the plan") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.size
    // path 0-1-…-15: needs ~16 label-propagation rounds — without per-round
    // lineage truncation the plan tree grows 3^rounds and the driver OOMs
    // on plan stringification alone before any cache-leak shows up
    val pairs = (0L until 15L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(cc === (0L to 15L).map(_ -> 0L).toMap)
    // one cached frame per round would leak ~16 persistent RDDs here; the
    // operator unpersists superseded snapshots itself, so only the final
    // checkpoint (plus an in-flight async removal) may remain
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 3, s"persistent RDDs grew $before -> $after")
  }

  test("e2e corpus build: survivors unique, signals match the standalone ops, one shuffle") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("e2e_corpus_build")(spark, dir)
    val rows = out.collect()
    assert(rows.nonEmpty, "gate must be non-trivial")
    val docs = graft.Tables.documents(spark, dir)
    // exact-dedup survivor rule: the kept id IS the min doc_id of its text group
    val keepIds = Dedup.exactDuplicateGroups(docs, "doc_id", "text")
      .select("keep_id").as[Long].collect().toSet
    rows.foreach(r => assert(keepIds(r.getLong(0)), s"doc ${r.getLong(0)} is not a dedup survivor"))
    // per-doc signals equal the standalone operators' values
    val lang = TextOps.languageId(docs, "doc_id", "text")
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toMap
    val qual = TextOps.qualityScore(docs, "doc_id", "text")
      .select("doc_id", "quality").as[(Long, Double)].collect().toMap
    rows.foreach { r =>
      assert(r.getString(1) === lang(r.getLong(0)))
      assert(r.getDouble(2) === qual(r.getLong(0)))
      assert(r.getString(1) === "en" && r.getDouble(2) >= 0.5)
    }
    // the whole pipeline (scan → signals → dedup window → split) pays exactly
    // one hash shuffle; only the presentation ORDER BY adds a range exchange
    // AQE plan strings repeat the tree under "== Initial Plan ==" — count
    // exchanges in the final plan section only
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"e2e corpus build should shuffle once:\n$plan")
  }

  test("leakageSafeSplit: clusters share one split, singletons match hashSplit") {
    import spark.implicits._
    val docs = (0L until 200L).toDF("doc_id")
    // chain 1-2-3 and pair (50,51) are near-dup clusters; everything else singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (50L, 51L)).toDF("doc_a", "doc_b")
    val splits = Seq("train" -> 80, "val" -> 10, "test" -> 10)
    val got = Dedup.leakageSafeSplit(docs, "doc_id", pairs, "doc_a", "doc_b", splits)
      .as[(Long, String)].collect().toMap
    assert(got.size === 200)
    // the leakage invariant: every member of a component gets the cluster's split
    assert(Set(got(1L), got(2L), got(3L)).size === 1)
    assert(got(50L) === got(51L))
    // singletons are split exactly as plain hashSplit would split them
    val plain = CoreOps.hashSplit(docs, "doc_id", splits)
      .as[(Long, String)].collect().toMap
    val clustered = Set(1L, 2L, 3L, 50L, 51L)
    got.filterNot(kv => clustered(kv._1)).foreach { case (id, s) =>
      assert(s === plain(id), s"singleton $id diverged from hashSplit")
    }
    // cluster split == hashSplit of the min-id representative
    assert(got(2L) === plain(1L) && got(51L) === plain(50L))
  }

  test("contamination: shared-shingle pairs found, below-threshold pairs excluded, text never required on the wire") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over dogs"), // shares 2 shingles with bench 100
      (2L, "a completely different document body"), // shares none
      (3L, "the quick brown fox sleeps all day")) // shares 1 shingle ("the quick brown", k=3 window overlap: "the quick brown","quick brown fox")
      .toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val pairs = Dedup.contaminationPairs(corpus, bench, "doc_id", "text", k = 3, minOverlap = 3L)
      .as[(Long, Long, Long)].collect().toSet
    // doc 1 shares "the quick brown", "quick brown fox", "brown fox jumps" = 3
    // doc 3 shares "the quick brown", "quick brown fox" = 2 < 3 -> excluded
    assert(pairs === Set((1L, 100L, 3L)))
  }

  test("redactPii masks emails and long digit runs, leaves clean text alone") {
    import spark.implicits._
    val out = Seq(
      "write to alice.smith+x@mail.example.com today",
      "or John.Doe@Gmail.COM works too",
      "id 123456789 and id 987654 but not 12345",
      "nothing to redact here").toDF("text")
      .select(TextOps.redactPii(col("text")).as("clean"))
      .as[String].collect().toSeq
    assert(out === Seq(
      "write to <EMAIL> today",
      "or <EMAIL> works too",
      "id <NUM> and id <NUM> but not 12345",
      "nothing to redact here"))
  }

  test("connected components: empty pair set returns empty, no NPE") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(empty, "doc_a", "doc_b").count() === 0L)
  }

  test("upsertByKey replaces updated keys, passes others through, adds new keys") {
    import spark.implicits._
    val existing = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val updates = Seq((2L, "B2"), (9L, "new")).toDF("k", "v")
    val out = CoreOps.upsertByKey(existing, updates, Seq("k"))
      .as[(Long, String)].collect().toSet
    assert(out === Set((1L, "a"), (2L, "B2"), (3L, "c"), (9L, "new")))
  }

  test("negativeSamples: no positives, no self-pairs, deterministic, ≤ k per query") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 10)
    val positives = queries.select(col("vec_id").as("ql"), col("label"))
      .join(emb.select(col("vec_id").as("pr"), col("label")), "label")
      .select("ql", "pr")
    val posSet = positives.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def run() = CoreOps.negativeSamples(queries, "vec_id", emb, "vec_id",
      positives, "ql", "pr", k = 8).collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val a = run()
    assert(a.nonEmpty)
    a.foreach { case (q, _, neg) =>
      assert(q != neg, s"self pair $q")
      assert(!posSet.contains((q, neg)), s"positive leaked: ($q,$neg)")
    }
    assert(a.groupBy(_._1).values.forall(_.length <= 8))
    assert(a.toSeq === run().toSeq, "sampling must be deterministic")
  }

  test("tfIdf: rare terms outrank common ones, repeated terms outrank singletons") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common rare rare"), // rare repeated, common everywhere
      (2L, "common other"),
      (3L, "common third")).toDF("doc_id", "text")
    val top = TextOps.tfIdfTopTerms(docs, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    // doc 1: "rare" (tf=2, df=1) must beat "common" (tf=1, df=3)
    assert(top.contains((1L, 1, "rare")) && top.contains((1L, 2, "common")), s"got $top")
  }

  test("stratifiedSample: per-stratum rates respected, row fate stable as data grows") {
    import spark.implicits._
    val docs = spark.range(0, 4000)
      .select(col("id").as("doc_id"), when(col("id") % 2 === 0, "en").otherwise("fr").as("lang"))
    val kept = CoreOps.stratifiedSample(docs, "lang", "doc_id", Map("en" -> 50), defaultPct = 10)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    // 2000 per stratum; Bernoulli at 50%/10% with a uniform hash coin
    assert(math.abs(kept("en") - 1000L) < 150, s"en rate off: ${kept("en")}")
    assert(math.abs(kept("fr") - 200L) < 80, s"fr rate off: ${kept("fr")}")
    // growing the data never changes an existing row's fate
    val keptIds = CoreOps.stratifiedSample(docs, "lang", "doc_id", Map("en" -> 50), 10)
      .select("doc_id").as[Long].collect().toSet
    val grown = spark.range(0, 8000)
      .select(col("id").as("doc_id"), when(col("id") % 2 === 0, "en").otherwise("fr").as("lang"))
    val keptGrown = CoreOps.stratifiedSample(grown, "lang", "doc_id", Map("en" -> 50), 10)
      .select("doc_id").as[Long].collect().toSet
    assert(keptGrown.filter(_ < 4000) === keptIds)
  }

  test("winsorize clamps to per-group percentile bounds and preserves interior values") {
    import spark.implicits._
    val df = (Seq.tabulate(99)(i => ("a", (i + 1).toDouble)) :+ ("a", 1000.0))
      .toDF("grp", "v")
    val w = CoreOps.winsorize(df, "grp", "v", 0.05, 0.95).select("v").as[Double].collect()
    assert(w.length === 100)
    // bounds are interpolated percentiles: lo ≈ 5.95, hi ≈ 95.05
    assert(w.max < 96.0, s"extreme outlier must be clamped, got ${w.max}")
    assert(w.min > 5.0, s"low tail must be clamped, got ${w.min}")
    // original integer values 6..95 lie strictly inside the bounds and must
    // pass through untouched (the clamps themselves are non-integers)
    assert(w.count(x => x == math.floor(x)) === 90)
  }

  test("winsorize keeps NULL-group rows and clamps them against their own group") {
    import spark.implicits._
    val df = (Seq.tabulate(99)(i => (Option("a"), (i + 1).toDouble)) ++
      Seq.tabulate(99)(i => (Option.empty[String], (i + 1).toDouble)) :+
      (Option.empty[String], 1000.0)).toDF("grp", "v")
    val w = CoreOps.winsorize(df, "grp", "v", 0.05, 0.95)
    assert(w.count() === 199, "null-group rows must not be dropped by the join")
    val nullVals = w.where(col("grp").isNull).select("v").as[Double].collect()
    assert(nullVals.length === 100)
    assert(nullVals.max < 96.0, s"null group's outlier must clamp to ITS bounds, got ${nullVals.max}")
  }

  test("globalRowIndex: contiguous, matches the window form, stable under physical layout") {
    import spark.implicits._
    val df = spark.range(0, 1000).select((col("id") * 37 % 1000).as("k"), col("id").as("payload"))
    val idx = CoreOps.globalRowIndex(df.repartition(7), Seq("k"))
      .select("k", "idx").as[(Long, Long)].collect().sortBy(_._2)
    assert(idx.map(_._2).toSeq === (0L until 1000L))
    // k is unique here (37 coprime to 1000), so idx == rank of k
    assert(idx.map(_._1).toSeq === (0L until 1000L))
    val again = CoreOps.globalRowIndex(df.repartition(3), Seq("k"))
      .select("k", "idx").as[(Long, Long)].collect().sortBy(_._2)
    assert(idx.toSeq === again.toSeq)
  }

  test("multimodal: feature extraction is deterministic and batch shape is correct") {
    val assets = Multimodal.syntheticAssets(spark, Tables.documents(spark, sfDir))
    val f1 = Multimodal.extractFeatures(spark, assets, featureDim = 8).collect()
    val f2 = Multimodal.extractFeatures(spark, assets, featureDim = 8).collect()
    assert(f1.length === assets.count())
    assert(f1.map(_.asset_id).toSeq === f2.map(_.asset_id).toSeq)
    assert(f1.head.feature.length === 8)
    val byId1 = f1.map(f => f.asset_id -> f.feature.toSeq).toMap
    val byId2 = f2.map(f => f.asset_id -> f.feature.toSeq).toMap
    assert(byId1 === byId2)
  }

  test("duplicate spans: shared boilerplate becomes one maximal span; unique text emits none") {
    import spark.implicits._
    val boiler = "this content is licensed under the creative commons attribution share alike license"
    val docs = Seq(
      (1L, s"alpha beta gamma delta $boiler epsilon zeta"),
      (2L, s"one two three four five six seven $boiler"),
      (3L, "entirely unique words nothing here repeats at all in any way whatsoever today"),
      // within-document repetition: every 4-window recurs inside the doc
      (4L, "spam ham spam ham spam ham spam ham")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", n = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap
    // the 12-token boilerplate yields 9 consecutive duplicated windows,
    // merged to ONE span of exactly the boilerplate's extent; windows
    // straddling the boundary differ between docs and stay unique
    assert(spans(1L) === Seq((4L, 12L, 9L)))
    assert(spans(2L) === Seq((7L, 12L, 9L)))
    assert(!spans.contains(3L))
    assert(spans(4L) === Seq((0L, 8L, 5L)))

    // remediation: the span is cut, everything else survives in order;
    // span-free docs round-trip; fully-duplicated docs strip to empty
    val cleaned = Dedup.stripDuplicateSpans(docs, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned(1L) === "alpha beta gamma delta epsilon zeta")
    assert(cleaned(2L) === "one two three four five six seven")
    assert(cleaned(3L) === "entirely unique words nothing here repeats at all in any way whatsoever today")
    assert(cleaned(4L) === "")
  }

  test("contamination spans: corpus regions matching eval windows flagged, clean docs untouched") {
    import spark.implicits._
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta")) // exactly one 8-window
      .toDF("doc_id", "text")
    val corpus = Seq(
      // the eval text verbatim at token positions 3..10
      (1L, "intro words here alpha beta gamma delta epsilon zeta eta theta trailing tail"),
      (2L, "completely clean document with no overlap at all in any region today"))
      .toDF("doc_id", "text")
    val spans = Dedup.contaminationSpans(corpus, bench, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.toSeq === Seq((1L, 3L, 8L, 1L)))
  }

  test("multimodal: image decode reads real pixels (gradient PNG, not metadata passthrough)") {
    // a NON-constant image whose channel means are computed directly here —
    // if the codec ever returned metadata instead of decoding, this breaks
    val w = 10; val h = 6
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var sr = 0L; var sg = 0L; var sb = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val r = (x * 25) % 256; val g = (y * 40) % 256; val b = (x * y * 7) % 256
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
      sr += r; sg += g; sb += b
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val f = new MultimodalCodec(5).decode("image", bos.toByteArray)
    val n = (w * h).toDouble
    assert(f(0) === w.toDouble)
    assert(f(1) === h.toDouble)
    assert(math.abs(f(2) - sr / n / 255.0) < 1e-12)
    assert(math.abs(f(3) - sg / n / 255.0) < 1e-12)
    assert(math.abs(f(4) - sb / n / 255.0) < 1e-12)
    // non-decodable payload labeled "image" falls back to the deterministic
    // stub (the text-byte synthetic assets rely on this)
    val fake = new MultimodalCodec(5).decode("image", "not a png".getBytes)
    assert(fake.length === 5)
  }

  test("multimodal: synthetic image assets round-trip through the real decoder") {
    val assets = Multimodal.syntheticImageAssets(spark, Tables.documents(spark, sfDir))
    val feats = Multimodal.extractFeatures(spark, assets, featureDim = 5).collect()
    assert(feats.nonEmpty)
    feats.foreach { f =>
      val id = f.asset_id
      assert(f.feature(0) === (8 + id % 16).toFloat, s"width of $id")
      assert(f.feature(1) === (8 + id % 12).toFloat, s"height of $id")
      assert(math.round(f.feature(2) * 255).toLong === id % 256, s"mean R of $id")
      assert(math.round(f.feature(3) * 255).toLong === (id * 31) % 256, s"mean G of $id")
      assert(math.round(f.feature(4) * 255).toLong === (id * 77) % 256, s"mean B of $id")
    }
  }

  test("multimodal: audio decode reads real PCM samples (ramp WAV, not metadata passthrough)") {
    // a NON-square-wave signal whose RMS is computed directly here — if the
    // codec ever returned metadata instead of decoding, this breaks
    val rate = 16000; val n = 1000
    val pcm = new Array[Byte](n * 2)
    var sumSq = 0.0
    for (i <- 0 until n) {
      val s = (i * 13 - 6000) % 32768 // a deterministic non-constant ramp
      sumSq += s.toDouble * s.toDouble
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val f = new MultimodalCodec(4).decode("audio", bos.toByteArray)
    assert(f(0) === n.toDouble)
    assert(f(1) === rate.toDouble)
    assert(math.abs(f(2) - math.sqrt(sumSq / n)) < 1e-9)
    // non-decodable payload labeled "audio" falls back to the deterministic
    // stub (the text-byte synthetic assets rely on this)
    val fake = new MultimodalCodec(4).decode("audio", "not a wav".getBytes)
    assert(fake.length === 4)
  }

  test("multimodal: synthetic audio assets round-trip through the real decoder") {
    val assets = Multimodal.syntheticAudioAssets(spark, Tables.documents(spark, sfDir))
    val feats = Multimodal.extractFeatures(spark, assets, featureDim = 3).collect()
    assert(feats.nonEmpty)
    feats.foreach { f =>
      val id = f.asset_id
      assert(f.feature(0) === (800 + (id % 40) * 40).toFloat, s"frames of $id")
      assert(f.feature(1) === (8000 * (1 + id % 3)).toFloat, s"rate of $id")
      assert(f.feature(2) === (256 * (1 + id % 100)).toFloat, s"rms of $id")
    }
  }

  test("multimodal: video decode iterates real frames (varying-gray GIF, not header passthrough)") {
    // a 4-frame animated GIF whose per-frame gray levels are chosen here —
    // the codec must decode the SEQUENCE (first and last frame stats), not
    // just parse the header
    val grays = Array.tabulate(256)(i => i.toByte)
    val palette = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    val levels = Seq(17, 250, 3, 96)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for (g <- levels) {
      val img = new java.awt.image.BufferedImage(10, 7,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, palette)
      for (y <- 0 until 7; x <- 0 until 10) img.getRaster.setSample(x, y, 0, g)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    val f = new MultimodalCodec(5).decode("video", bos.toByteArray)
    assert(f(0) === 4.0, "frame count")
    assert(f(1) === 10.0 && f(2) === 7.0, "dims")
    assert(math.round(f(3) * 255).toInt === levels.head, "first-frame gray")
    assert(math.round(f(4) * 255).toInt === levels.last, "last-frame gray")
    // non-decodable payload labeled "video" (e.g. H.264) falls back to the
    // deterministic stub
    val fake = new MultimodalCodec(5).decode("video", "not a gif".getBytes)
    assert(fake.length === 5)
  }

  test("multimodal: synthetic video assets round-trip through the real decoder") {
    val assets = Multimodal.syntheticVideoAssets(spark, Tables.documents(spark, sfDir))
    val feats = Multimodal.extractFeatures(spark, assets, featureDim = 5).collect()
    assert(feats.nonEmpty)
    feats.foreach { f =>
      val id = f.asset_id
      val n = 3 + (id % 5).toInt
      assert(f.feature(0) === n.toFloat, s"frames of $id")
      assert(f.feature(1) === (8 + id % 8).toFloat, s"width of $id")
      assert(f.feature(2) === (8 + id % 6).toFloat, s"height of $id")
      assert(math.round(f.feature(3) * 255) === (id * 7) % 256, s"first gray of $id")
      assert(math.round(f.feature(4) * 255) === (id * 7 + (n - 1) * 29) % 256, s"last gray of $id")
    }
  }

  test("multimodal: frame sampling slices stride-aligned fixed windows") {
    val assets = Multimodal.syntheticAssets(spark, Tables.documents(spark, sfDir))
    val frames = Multimodal.sampleFrames(spark, assets, frameBytes = 64, stride = 2)
    val rows = frames.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getInt(2) === 64))
    assert(rows.forall(_.getInt(1) % 2 === 0))
  }

  test("multimodal: resize preserves aspect ratio and caps the long side") {
    val assets = Multimodal.syntheticAssets(spark, Tables.documents(spark, sfDir)).toDF()
    val resized = Multimodal.resizeMeta(assets, maxSide = 64).collect()
    assert(resized.forall(r => r.getInt(1) <= 64 && r.getInt(2) <= 64))
  }

  test("IVF top-k: scores exact, recall competitive with nprobe/nlist fraction") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding"))
    val bruteTop = Similarity.bruteForceTopK(emb, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val allScores = Similarity.bruteForceTopK(emb, queries, Int.MaxValue - 1)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val ivf = Similarity.ivfTopK(emb, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(ivf.nonEmpty)
    ivf.foreach { case (q, n, cos) => assert(allScores((q, n)) === cos, s"score mismatch ($q,$n)") }
    val hit = ivf.map(t => (t._1, t._2)).toSet.intersect(bruteTop).size
    val recall = hit.toDouble / bruteTop.size
    assert(recall >= 0.2, s"IVF recall@5 too low: $recall") // nprobe=4/nlist=16 ⇒ ≥25% of cells probed
  }

  test("quantized-over-LSH-candidates: exact rescored scores, recall tracks the bucketed path") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val allScores = Similarity.bruteForceTopK(emb, queries, Int.MaxValue - 1)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val cands = Similarity.lshCandidates(emb, queries)
    val composed = Similarity.quantizedTopK(emb, queries, 5, rescoreFactor = 4,
        candidates = Some(cands))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(composed.nonEmpty)
    // rescored scores are EXACT cosines (quantization only ranks candidates)
    composed.foreach { case (q, n, cos) => assert(allScores((q, n)) === cos, s"score mismatch ($q,$n)") }
    // candidate set == lshBucketTopK's, so recall is bounded by the bucketed
    // path's; quantized ranking on top must not collapse it
    val recall = composed.map(t => (t._1, t._2)).toSet.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"composed recall@5 too low: $recall")
  }

  test("quantized-over-IVF-candidates: exact rescored scores, candidates within the probed cells") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding"))
    val allScores = Similarity.bruteForceTopK(emb, queries, Int.MaxValue - 1)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val cands = Similarity.ivfCandidates(emb, queries)
    val candSet = cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val composed = Similarity.quantizedTopK(emb, queries, 5, rescoreFactor = 4,
        candidates = Some(cands))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(composed.nonEmpty)
    composed.foreach { case (q, n, cos) =>
      assert(allScores((q, n)) === cos, s"score mismatch ($q,$n)")
      assert(candSet.contains((q, n)), s"result outside probed cells ($q,$n)")
    }
  }

  test("PQ top-k: exact rescored scores, ADC recall solid, stable under repartitioning") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val allScores = Similarity.bruteForceTopK(emb, queries, Int.MaxValue - 1)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val pq = Similarity.pqTopK(emb, queries, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(pq.nonEmpty)
    // reported scores are EXACT cosines — PQ error affects recall only
    pq.foreach { case (q, _, n, cos) => assert(allScores((q, n)) === cos, s"score mismatch ($q,$n)") }
    val recall = pq.map(t => (t._1, t._3)).toSet.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"PQ recall@5 too low: $recall") // 20 ADC cands rescored for k=5
    // codes/training/ranking all deterministic under physical layout changes
    val re = Similarity.pqTopK(emb.repartition(7), queries, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(re.sortBy(t => (t._1, t._2)).toSeq === pq.sortBy(t => (t._1, t._2)).toSeq)
  }

  test("IVF training is deterministic, including under repartitioning") {
    val emb = Tables.embeddings(spark, sfDir)
    val a = Similarity.trainIvfCentroids(emb, 8, 64)
    val b = Similarity.trainIvfCentroids(emb, 8, 64)
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    // different physical layouts must not change the training sample
    val c = Similarity.trainIvfCentroids(emb.repartition(7), 8, 64)
    val d = Similarity.trainIvfCentroids(emb.repartition(3, col("vec_id")), 8, 64)
    assert(a.map(_.toSeq).toSeq === c.map(_.toSeq).toSeq)
    assert(a.map(_.toSeq).toSeq === d.map(_.toSeq).toSeq)
  }

  test("IVF top-k rows are stable under repartitioning") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding"))
    def rows(corpus: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopK(corpus, queries, 5)
        .orderBy("query_id", "rank")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(rows(emb) === rows(emb.repartition(5)))
  }

  test("approx unique-user pre-aggregation tracks the exact counts (monitoring mode)") {
    val events = graft.Tables.events(spark, sfDir)
      .select(col("event_type").as("k"), dayofmonth(col("ts")).cast("long").as("e"),
        col("user_id").cast("string").as("u"), col("value").as("v"))
    val exact = CoreOps.preAggregate(events, "k", "e", "u", "v")
      .select(col("key"), col("epoch"), size(col("users")).cast("long").as("exact_users"))
    val approx = CoreOps.preAggregateApproxUsers(events, "k", "e", "u", "v")
      .select(col("key"), col("epoch"), col("approx_users"))
    val joined = exact.join(approx, Seq("key", "epoch")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val ex = r.getLong(2).toDouble
      val ap = r.getLong(3).toDouble
      assert(math.abs(ap - ex) / math.max(ex, 1.0) < 0.25, s"exact=$ex approx=$ap")
    }
  }

  test("packSequences: offsets are a prefix sum, chunks cover tokens, layout-independent") {
    import spark.implicits._
    val docs = Seq((0L, 100L), (1L, 0L), (2L, 28L), (3L, 300L), (4L, 1L))
      .toDF("doc_id", "n_tokens")
    val packed = CoreOps.packSequences(docs.repartition(3), "doc_id", "n_tokens", 128L)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "tok_start", "chunk_start", "chunk_end", "n_chunks")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    // naive single-threaded packing of the same order
    var off = 0L
    val expected = Seq((0L, 100L), (1L, 0L), (2L, 28L), (3L, 300L), (4L, 1L)).map {
      case (id, n) =>
        val start = off; off += n
        val cs = start / 128
        val ce = if (n == 0) cs else (start + n - 1) / 128
        (id, n, start, cs, ce, if (n == 0) 0L else ce - cs + 1)
    }
    assert(packed.toSeq === expected)
    // doc 3 spans a chunk boundary (tok 128..427 → chunks 1..3)
    assert(packed(3) === ((3L, 300L, 128L, 1L, 3L, 3L)))
    // physical layout must not change the result
    val repacked = CoreOps.packSequences(docs.repartition(1), "doc_id", "n_tokens", 128L)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "tok_start", "chunk_start", "chunk_end", "n_chunks")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(repacked.toSeq === packed.toSeq)
  }

  test("repetitionStats: repeated grams and hot words measured, short docs safe") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c a b c a b c"),     // "a b c" heavily repeated
      (1L, "w x y z"),               // all distinct grams
      (2L, "q r"),                   // shorter than n=3: zero grams
      (3L, "")                       // empty
    ).toDF("doc_id", "text")
    val r = TextOps.repetitionStats(docs, "doc_id", "text").orderBy("doc_id")
      .as[(Long, Long, Long, Long, Double, Double)].collect()
    // doc 0: 9 words, 7 grams, 3 distinct ⇒ dup frac 4/7; top word 3/9
    assert(r(0) === ((0L, 9L, 7L, 3L, 4.0 / 7.0, 3.0 / 9.0)))
    // doc 1: 4 words, 2 grams, both distinct ⇒ dup frac 0
    assert(r(1) === ((1L, 4L, 2L, 2L, 0.0, 1.0 / 4.0)))
    // doc 2: 2 words, no grams
    assert(r(2) === ((2L, 2L, 0L, 0L, 0.0, 1.0 / 2.0)))
    // doc 3: empty text
    assert(r(3) === ((3L, 0L, 0L, 0L, 0.0, 0.0)))
  }

  test("bigramPerplexity: hand-computed model, repetitive text scores lower, short docs drop") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b a b a b a b"),       // one dominant transition pattern → low ppl
      (1L, "a c q w z b n m"),       // one-off transitions → high ppl
      (2L, "a"),                     // 1 token: no transitions → dropped
      (3L, "")                       // empty → dropped
    ).toDF("doc_id", "text")
    val r = TextOps.bigramPerplexity(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(r.map(_._1).toSeq === Seq(0L, 1L))   // sub-2-token docs have no score
    // doc 0: 7 transitions; doc 1: 7 transitions
    assert(r(0)._2 === 7L && r(1)._2 === 7L)
    // the repeated a↔b pattern must be much more predictable than the one-offs
    assert(r(0)._5 < r(1)._5)
    // hand-check one transition: vocab V = 8 distinct tokens, k = 0.5.
    // doc 0 transitions: a->b ×4 (c_vw=4), b->a ×3 (c_vw=3); contexts:
    // corpus-wide c_v(a) = 4 (doc0) + 1 (doc1 a->c... a appears once as
    // context in doc1) = 5, c_v(b) = 3 (doc0) + 1 (doc1 b->n) = 4.
    val pAB = (4.0 + 0.5) / (5.0 + 0.5 * 8)
    val pBA = (3.0 + 0.5) / (4.0 + 0.5 * 8)
    def q6(p: Double): Long = math.floor(-math.log(p) * 1e6 + 0.5).toLong
    val sum0 = 4 * q6(pAB) + 3 * q6(pBA)
    assert(r(0)._3 === sum0)
    assert(r(0)._4 === math.floor(sum0 / 1e6 / 7.0 * 1e4 + 0.5) / 1e4)
    assert(r(0)._5 === math.floor(math.exp(sum0 / 1e6 / 7.0) * 1e4 + 0.5) / 1e4)
    // physical layout must not change a single byte (exact long sums)
    val repart = TextOps.bigramPerplexity(docs.repartition(7), "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long, Double, Double)].collect()
    assert(repart.toSeq === r.toSeq)
  }

  test("knPerplexity: interpolated KN is a true distribution per context; continuation beats raw frequency; layout-invariant") {
    import spark.implicits._
    // "z" is FREQUENT but only ever follows "a" (the San-Francisco shape);
    // "b" follows many distinct contexts. Raw-frequency smoothing (add-k)
    // over-rewards z as a continuation; KN's continuation unigram must not.
    val docs = Seq(
      (0L, "a z a z a z a z a z"),
      (1L, "c b d b e b f b"),
      (2L, "g b h b a z"),
      (3L, "x")                      // no transitions → dropped
    ).toDF("doc_id", "text")
    val r = TextOps.knPerplexity(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long, Double, Double)].collect()
    assert(r.map(_._1).toSeq === Seq(0L, 1L, 2L))

    // replay the model single-node from first principles
    val toks = Map(0L -> "a z a z a z a z a z", 1L -> "c b d b e b f b",
      2L -> "g b h b a z").map { case (k, t) => k -> t.split(" ").toSeq }
    val trans = toks.toSeq.flatMap { case (d, ts) => ts.sliding(2).map(p => (d, p(0), p(1))).toSeq }
    val cVW = trans.groupBy(t => (t._2, t._3)).map { case (k, v) => k -> v.size.toLong }
    val cV = trans.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val n1V = trans.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).distinct.size.toLong }
    val n1W = trans.groupBy(_._3).map { case (k, v) => k -> v.map(_._2).distinct.size.toLong }
    val b = cVW.size.toDouble
    def p(v: String, w: String): Double =
      math.max(cVW.getOrElse((v, w), 0L).toDouble - 0.75, 0.0) / cV(v).toDouble +
        (0.75 * n1V(v).toDouble / cV(v).toDouble) * (n1W(w).toDouble / b)
    // interpolated KN is a true distribution: summed over the continuation
    // vocabulary (unseen (v,w) pairs carry only the continuation term,
    // max(c−D,0)=0), each context's mass is EXACTLY 1
    for (v <- cV.keys) {
      val mass = n1W.keys.toSeq.sorted.map(w => p(v, w)).sum
      assert(math.abs(mass - 1.0) < 1e-9, s"context $v mass $mass")
    }
    // engine matches the replica transition-for-transition
    def q6(x: Double): Long = math.floor(-math.log(x) * 1e6 + 0.5).toLong
    val expected = trans.groupBy(_._1).map { case (d, ts) =>
      d -> ts.map(t => q6(p(t._2, t._3))).sum
    }
    r.foreach { row => assert(row._3 === expected(row._1), s"doc ${row._1}") }
    // the continuation distinction: context "a" is fully predictable into z
    // (c(a,z)=6 of c(a)=6) while doc 1's contexts are one-shot — doc 0 must
    // score far more predictable
    assert(r(0)._5 < r(1)._5)
    // physical layout must not change a single byte
    val repart = TextOps.knPerplexity(docs.repartition(7), "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long, Double, Double)].collect()
    assert(repart.toSeq === r.toSeq)
  }

  test("cappedTemperatureMix: over-cap group pinned, excess redistributed, never exceeds cap; cap=100% == uncapped") {
    import spark.implicits._
    // √ masses 100/10/10 → uncapped shares ~83%/8%/8%; a 40% cap must pin
    // 'big' at 40 and push the excess to the small groups
    val docs = (0 until 10000).map(i => ("big", i.toLong)) ++
      (0 until 100).map(i => ("mid", 20000L + i)) ++
      (0 until 100).map(i => ("low", 30000L + i))
    val df = docs.toDF("source", "doc_id")
    val r = CoreOps.cappedTemperatureMix(df, "source", "doc_id", 100L, 40)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    val alloc = r.groupBy(_._1).map { case (s, rows) => s -> rows.head._3 }
    assert(alloc("big") === 40L, s"big must sit AT the cap: $alloc")
    // round 2: 60 budget over equal masses → 30 each
    assert(alloc("mid") === 30L && alloc("low") === 30L, s"$alloc")
    assert(r.count(_._1 == "big") === 40)
    assert(alloc.values.forall(_ <= 40L))
    // with a non-binding cap the allocation equals the uncapped operator
    val capped100 = CoreOps.cappedTemperatureMix(df, "source", "doc_id", 100L, 100)
      .collect().map(x => (x.getString(0), x.getLong(1))).toSet
    val uncapped = CoreOps.temperatureMixSample(df, "source", "doc_id", 100L)
      .collect().map(x => (x.getString(0), x.getLong(1))).toSet
    assert(capped100 === uncapped)
    // layout invariance (collected masses + md5 rank are layout-free)
    val repart = CoreOps.cappedTemperatureMix(df.repartition(7), "source", "doc_id", 100L, 40)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    assert(repart === r.toSet)
    // overflow fail-closed (ADVICE r11): a budget where budget·mass would
    // exceed Long.MaxValue raises instead of silently mis-allocating
    // (mass for 'big' is 1e6·√10000 = 1e8, so budget 9.2e15 overflows)
    val overflow = intercept[IllegalArgumentException] {
      CoreOps.cappedTemperatureMix(df, "source", "doc_id", Long.MaxValue / 1000, 40)
    }
    assert(overflow.getMessage.contains("overflows"))
  }

  test("agreementKappa: identity is 1, disjoint constant labels below chance, hand-checked confusion") {
    import spark.implicits._
    def df(pairs: Seq[(Long, Int)]) = pairs.toDF("id", "label")
    val a = df(Seq(1L -> 1, 2L -> 1, 3L -> 2, 4L -> 2))
    // perfect agreement
    val same = CoreOps.agreementKappa(a, a.withColumnRenamed("label", "lb"),
      "id", "label", "lb").head()
    assert(same.getDouble(5) === 1.0 && same.getDouble(3) === 1.0)
    // below-chance: labels systematically swapped → kappa negative
    val flipped = df(Seq(1L -> 2, 2L -> 2, 3L -> 1, 4L -> 1))
      .withColumnRenamed("label", "lb")
    val anti = CoreOps.agreementKappa(a, flipped, "id", "label", "lb").head()
    assert(anti.getDouble(5) < 0.0, s"expected negative kappa, got $anti")
    // hand-checked partial agreement: agree on 3 of 4; marginals
    // a: {1:2, 2:2}, b: {1:1, 2:3} → sum_cross = 2*1 + 2*3 = 8
    // kappa = (4*3 − 8)/(16 − 8) = 0.5
    val partial = df(Seq(1L -> 1, 2L -> 2, 3L -> 2, 4L -> 2))
      .withColumnRenamed("label", "lb")
    val p = CoreOps.agreementKappa(a, partial, "id", "label", "lb").head()
    assert(p.getLong(0) === 4L && p.getLong(1) === 3L && p.getLong(2) === 8L)
    assert(p.getDouble(5) === 0.5)
    // degenerate chance-free case: both constant and equal → 1.0
    val const = df(Seq(1L -> 7, 2L -> 7))
    val deg = CoreOps.agreementKappa(const,
      const.withColumnRenamed("label", "lb"), "id", "label", "lb").head()
    assert(deg.getDouble(5) === 1.0)
    // NULL labels drop BEFORE aggregation (ADVICE r11): rows 5 (null in a)
    // and 6 (null in b) vanish entirely, so the result equals the
    // hand-checked 4-row partial case — n=4, kappa=0.5 — instead of a
    // deflated 6-row mixture
    val aNull = Seq((1L, Some(1)), (2L, Some(1)), (3L, Some(2)), (4L, Some(2)),
      (5L, None), (6L, Some(1))).toDF("id", "label")
    val bNull = Seq((1L, Some(1)), (2L, Some(2)), (3L, Some(2)), (4L, Some(2)),
      (5L, Some(1)), (6L, None)).toDF("id", "lb")
    val nk = CoreOps.agreementKappa(aNull, bNull, "id", "label", "lb").head()
    assert(nk.getLong(0) === 4L && nk.getLong(1) === 3L, s"nulls not dropped: $nk")
    assert(nk.getDouble(5) === 0.5, s"kappa deflated by null labels: $nk")
  }

  test("temperatureMixSample: exact integer allocation, flatter than proportional, layout-invariant") {
    import spark.implicits._
    // sources with counts 100 / 25 / 4 / 1 → √ masses 10 / 5 / 2 / 1 (exact
    // integers, so the q6 fixed-point is exactly 10e6/5e6/2e6/1e6)
    val docs = (0 until 100).map(i => ("big", i.toLong)) ++
      (0 until 25).map(i => ("mid", 200L + i)) ++
      (0 until 4).map(i => ("small", 300L + i)) ++ Seq(("tiny", 400L))
    val df = docs.toDF("source", "doc_id")
    val r = CoreOps.temperatureMixSample(df, "source", "doc_id", 36L)
      .as[(String, Long, Long)].collect()
    val alloc = r.groupBy(_._1).map { case (s, rows) =>
      s -> (rows.length.toLong, rows.head._3)
    }
    // Σa = 18e6; n_i = (36 · a_i) div Σa = 20 / 10 / 4 / 2 — tiny's 2 slots
    // exceed its 1 available doc, so only 1 row fills them
    assert(alloc("big") === ((20L, 20L)) && alloc("mid") === ((10L, 10L)))
    assert(alloc("small") === ((4L, 4L)) && alloc("tiny") === ((1L, 2L)))
    // proportional shares would be 27.7 / 6.9 / 1.1 / 0.3 — α=½ flattens:
    // big gives up slots, the tail gains them
    assert(alloc("big")._1 < 28 && alloc("tiny")._1 >= 1)
    val repart = CoreOps.temperatureMixSample(df.repartition(7), "source", "doc_id", 36L)
      .as[(String, Long, Long)].collect()
    assert(repart.sortBy(x => (x._1, x._2)).toSeq === r.sortBy(x => (x._1, x._2)).toSeq)
  }

  test("bestSurvivors: keeps the longest doc per cluster, singletons untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "short", 5L), (2L, "the full original text", 22L), (3L, "mid copy", 8L),
      (4L, "lonely", 6L),
      (5L, "tie a", 5L), (6L, "tie b", 5L)
    ).toDF("doc_id", "text", "n_chars")
    // clusters: {1,2,3} and {5,6}; 4 is a singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val kept = Dedup.bestSurvivors(docs, pairs, "doc_id", "doc_a", "doc_b", "n_chars")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // 2 wins its cluster on n_chars; 5 wins the tie on lowest id; 4 survives
    assert(kept === Seq(2L, 4L, 5L))
  }

  test("contaminationFraction: covered positions over disjoint spans, clean docs get 0") {
    import spark.implicits._
    val bench = Seq((100L, "w1 w2 w3 w4 w5 w6 w7 w8")).toDF("doc_id", "text")
    val corpus = Seq(
      // tokens 0..9: positions 1..8 contain the bench window at pos 1
      (1L, "x0 w1 w2 w3 w4 w5 w6 w7 w8 x9"),
      (2L, "a b c d e f g h i j"),   // clean
      (3L, "t u v")                  // shorter than the window → clean
    ).toDF("doc_id", "text")
    val r = Dedup.contaminationFraction(corpus, bench, "doc_id", "text", n = 8)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    assert(r(0) === ((1L, 10L, 8L, 0.8)))
    assert(r(1) === ((2L, 10L, 0L, 0.0)))
    assert(r(2) === ((3L, 3L, 0L, 0.0)))
  }

  test("perceptualHash: decoded-pixel aHash groups ids by pattern seed") {
    val docs = Tables.documents(spark, sfDir).limit(100)
    val hashes = Multimodal.perceptualHash(
        Multimodal.syntheticPatternImageAssets(spark, docs))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the decoded-pixel hash must equal the pixel-formula replica exactly
    // (proves the real PNG decode ran and was lossless)
    for ((id, h) <- hashes) {
      val seed = (id % 17).toInt
      val ps = Array.tabulate(64)(i => ((seed * 31 + (i % 8) * 7 + (i / 8) * 13) % 256).toLong)
      val total = ps.sum
      var expect = 0L
      for (i <- 0 until 64) if (ps(i) * 64 > total) expect |= 1L << i
      assert(h === expect, s"hash mismatch for id $id")
    }
    // equal seeds are pixel-identical → identical hashes; distinct seeds
    // may legitimately collide (aHash is brightness-shift invariant), but
    // not all of them
    val bySeed = hashes.groupBy(_._1 % 17).view.mapValues(_.map(_._2).distinct.size)
    assert(bySeed.values.forall(_ === 1), s"same-seed images hashed differently: $bySeed")
    assert(hashes.map(_._2).distinct.length > 1)
  }

  test("audioFingerprint: decoded-PCM envelope hash groups ids by pattern seed") {
    val docs = Tables.documents(spark, sfDir).limit(100)
    val hashes = Multimodal.audioFingerprint(
        Multimodal.syntheticPatternAudioAssets(spark, docs))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the decoded-sample hash must equal the window-formula replica exactly
    // (proves the real WAV decode ran and PCM round-tripped losslessly)
    for ((id, h) <- hashes) {
      val seed = (id % 13).toInt
      val winAbs = Array.tabulate(64)(w => 16L * math.abs(((seed * 31 + w * 7) % 256) - 128))
      val total = winAbs.sum
      var expect = 0L
      for (w <- 0 until 64) if (winAbs(w) * 64 > total) expect |= 1L << w
      assert(h === expect, s"fingerprint mismatch for id $id")
    }
    val bySeed = hashes.groupBy(_._1 % 13).view.mapValues(_.map(_._2).distinct.size)
    assert(bySeed.values.forall(_ === 1), s"same-seed recordings hashed differently: $bySeed")
    assert(hashes.map(_._2).distinct.length > 1)
  }

  // Writes a multi-frame grayscale GIF with the given per-frame gray values
  // (lossless palette-indexed encoding, same as the synthetic asset tables).
  private def gifAsset(id: Long, frameGrays: Seq[Int]): MediaAsset = {
    val (w, h) = (8, 8)
    val grays = Array.tabulate(256)(i => i.toByte)
    val palette = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for (g <- frameGrays) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, palette)
      val raster = img.getRaster
      for (y <- 0 until h; x <- 0 until w) raster.setSample(x, y, 0, g)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    MediaAsset(id, "video", bos.toByteArray, w, h, frameGrays.length.toLong * 40)
  }

  test("videoSignature: full-sequence + length hash — no 8-frame truncation, no zero-pad collision") {
    import spark.implicits._
    val assets = Seq(
      gifAsset(0L, Seq(10, 20, 30)),          // prefix of 1 with a trailing zero frame
      gifAsset(1L, Seq(10, 20, 30, 0)),       // used to collide under byte-packing
      gifAsset(2L, Seq(1, 2, 3, 4, 5, 6, 7, 8, 100)), // differ only after frame 8:
      gifAsset(3L, Seq(1, 2, 3, 4, 5, 6, 7, 8, 200)), // used to collide under the 8-frame cap
      gifAsset(4L, Seq(10, 20, 30))           // true duplicate of 0
    ).toDS()
    val sigs = Multimodal.videoSignature(assets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // replica of the documented hash: h←(h·257+mean+1) mod p per frame, then length
    def replica(ms: Seq[Int]): Long = {
      val P = 2147483647L
      (ms.foldLeft(0L)((h, m) => (h * 257L + m + 1L) % P) * 257L + ms.length) % P
    }
    assert(sigs(0L) === replica(Seq(10, 20, 30)))
    assert(sigs(2L) === replica(Seq(1, 2, 3, 4, 5, 6, 7, 8, 100)))
    assert(sigs(0L) !== sigs(1L), "trailing zero frame must change the signature")
    assert(sigs(2L) !== sigs(3L), "frames beyond 8 must participate in the signature")
    assert(sigs(0L) === sigs(4L), "identical sequences must collide")
  }

  test("audioFingerprint: proportional windows on a non-64-divisible frame count") {
    import spark.implicits._
    // 1000 frames (1000 % 64 != 0): the floor-window variant dumped the
    // remainder into window 63; proportional boundaries must match the
    // w = floor(i*64/frames) replica bit-for-bit.
    val n = 1000
    val pcm = new Array[Byte](n * 2)
    val sample = Array.tabulate(n)(i => (((i * 37) % 256 - 128) * 16))
    for (i <- 0 until n) {
      pcm(2 * i) = (sample(i) & 0xFF).toByte
      pcm(2 * i + 1) = ((sample(i) >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val asset = MediaAsset(42L, "audio", bos.toByteArray, 0, 0, n.toLong * 1000 / 8000)
    val got = Multimodal.audioFingerprint(Seq(asset).toDS())
      .collect().map(r => (r.getLong(0), r.getLong(1))).head._2
    val winAbs = new Array[Long](64)
    for (i <- 0 until n) winAbs((i.toLong * 64L / n).toInt) += math.abs(sample(i)).toLong
    val total = winAbs.sum
    var expect = 0L
    for (w <- 0 until 64) if (winAbs(w) * 64 > total) expect |= 1L << w
    assert(got === expect)
    // proportional windows differ by at most one sample in size
    val sizes = Array.fill(64)(0)
    for (i <- 0 until n) sizes((i.toLong * 64L / n).toInt) += 1
    assert(sizes.max - sizes.min <= 1, s"window sizes skewed: ${sizes.toSeq}")
  }

  test("assetSignature: kind dispatch equals the per-modality operators, namespacing blocks cross-kind collisions") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).limit(120)
    val mixed = Multimodal.syntheticMixedAssets(spark, docs)
    val sigs = Multimodal.assetSignature(mixed)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(sigs.length === 120)
    // dispatch: modality is id mod 3, and the namespace prefix matches
    for ((id, kind, sig) <- sigs) {
      assert(kind === Seq("image", "audio", "video")((id % 3).toInt))
      assert(sig.startsWith(kind + ":"))
    }
    // per-kind: the unified signature is EXACTLY the single-modality
    // operator's value on the same assets
    def sub(kind: String) = mixed.filter(a => a.media_type == kind)
    val phash = Multimodal.perceptualHash(sub("image"))
      .collect().map(r => r.getLong(0) -> ("image:" + r.getLong(1))).toMap
    val ahash = Multimodal.audioFingerprint(sub("audio"))
      .collect().map(r => r.getLong(0) -> ("audio:" + r.getLong(1))).toMap
    val vsig = Multimodal.videoSignature(sub("video"))
      .collect().map(r => r.getLong(0) -> ("video:" + r.getLong(1))).toMap
    val byId = (phash ++ ahash ++ vsig)
    for ((id, _, sig) <- sigs) assert(sig === byId(id), s"asset $id")
    // duplicate groups exist within kinds (seeds mod 17/13/7 at 120 ids)
    // but never across kinds
    val byKind = sigs.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    assert(byKind.values.forall(_.size > 1))
    for ((k1, s1) <- byKind; (k2, s2) <- byKind if k1 < k2)
      assert(s1.intersect(s2).isEmpty, s"cross-kind signature collision between $k1 and $k2")
  }

  test("snapshotDiff: NULL payloads are presence, not absence") {
    import spark.implicits._
    val oldSnap = Seq((1L, Option.empty[String]), (2L, Some("a")), (3L, Option.empty[String]))
      .toDF("doc_id", "text")
    val newSnap = Seq((1L, Option.empty[String]), (2L, Option.empty[String]), (4L, Some("d")))
      .toDF("doc_id", "text")
    val got = CoreOps.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got === Map(
      1L -> "unchanged", // NULL == NULL content
      2L -> "changed",   // text -> NULL is a content change, not an add
      3L -> "removed",
      4L -> "added"))
  }

  test("Tables.events: identical instants under any session timezone") {
    def digest() = Tables.events(spark, sfDir)
      .agg(sum(col("ts_ns").cast("decimal(38,0)")).as("s")).collect().head.getDecimal(0)
    val utc = digest()
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      // the UNDERLYING INSTANT (ts_ns) must not move with the session zone
      assert(digest() === utc)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("Tables.events NTZ branch: pure wall-clock arithmetic, exact through a DST overlap hour") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ntz_events").toFile
    try {
      // UTC wall times whose America/New_York local forms land in the
      // 2026-11-01 fall-back REPEATED hour (01:30 EDT then 01:30 EST) —
      // the case a convert-then-cast round trip resolves to one offset
      val walls = Seq(
        1L -> java.time.LocalDateTime.of(2026, 11, 1, 5, 30, 0),
        2L -> java.time.LocalDateTime.of(2026, 11, 1, 6, 30, 0),
        3L -> java.time.LocalDateTime.of(2026, 6, 15, 12, 0, 0),
        // micros NOT divisible by a power of two: 2026-era epoch micros
        // exceed 2^53 as ns, so a double-division µs derivation misrounds
        // exactly this kind of value (caught a real 1 µs ts drift)
        4L -> java.time.LocalDateTime.of(2026, 6, 15, 12, 0, 0, 16000))
      walls.map { case (id, w) => (id, w, id * 10L, "click", 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"${dir.getPath}/events.parquet")
      assert(spark.read.parquet(s"${dir.getPath}/events.parquet").schema("ts").dataType
        === org.apache.spark.sql.types.TimestampNTZType)
      val expect = walls.map { case (_, w) =>
        w.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L + w.getNano }
      def tsns() = Tables.events(spark, dir.getPath).orderBy("event_id")
        .select("ts_ns").as[Long].collect().toSeq
      assert(tsns() === expect)
      // the µs `ts` column must agree with ts_ns EXACTLY (a double-division
      // derivation drifts 1 µs on micros values above 2^53 ns)
      val tsRoundTrip = Tables.events(spark, dir.getPath).orderBy("event_id")
        .select((unix_micros(col("ts")) * 1000L).as("ns")).as[Long].collect().toSeq
      assert(tsRoundTrip === expect)
      val prevTz = spark.conf.get("spark.sql.session.timeZone")
      try {
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        assert(tsns() === expect, "DST overlap hour shifted an instant")
      } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
    } finally { graft.tools.CorpusMaintenance.deleteRecursively(dir.getPath); () }
  }

  test("weightedSample: A-ES keys replicate by hand, heavier docs dominate, layout-invariant") {
    import spark.implicits._
    // 20 heavy docs (weight 1000) among 200 light ones (weight 1): a
    // weight-proportional sample of 20 must be mostly heavy docs
    val docs = ((0L until 20L).map(i => (i, 1000L)) ++
      (100L until 300L).map(i => (i, 1L))).toDF("doc_id", "n_chars")
    val r = CoreOps.weightedSample(docs, "doc_id", "n_chars", 20)
      .orderBy("rank").as[(Int, Long, Long, Long)].collect()
    assert(r.length === 20)
    assert(r.count(_._2 < 20L) >= 15, s"heavy docs under-sampled: ${r.map(_._2).toSeq}")
    // hand-replicate one key: u = (first 13 md5 hex digits + 0.5)/2^52,
    // key_q6 = floor(ln(u)/w · 10⁶ + 0.5)
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    for ((rank, id, w, keyQ6) <- r.take(3)) {
      val u = (java.lang.Long.parseLong(md5hex(s"aes:$id").substring(0, 13), 16).toDouble + 0.5) /
        4503599627370496.0
      assert(keyQ6 === math.floor(math.log(u) / w.toDouble * 1000000.0 + 0.5).toLong,
        s"key mismatch for doc $id at rank $rank")
    }
    val repart = CoreOps.weightedSample(docs.repartition(7), "doc_id", "n_chars", 20)
      .orderBy("rank").as[(Int, Long, Long, Long)].collect()
    assert(repart.toSeq === r.toSeq)
  }

  test("curriculumPhases: NTILE remainder semantics without a global window, layout-invariant") {
    import spark.implicits._
    // 10 rows into 4 phases → sizes 3,3,2,2 (first n mod k groups take the
    // extra row), assigned in difficulty order
    val df = (1 to 10).map(i => (i.toLong, i.toDouble)).toDF("doc_id", "difficulty")
    val r = CoreOps.curriculumPhases(df, Seq("difficulty", "doc_id"), 4)
      .orderBy("doc_id").as[(Long, Double, Int)].collect()
    assert(r.map(_._3).toSeq === Seq(1, 1, 1, 2, 2, 2, 3, 3, 4, 4))
    // n divisible by k: equal quarters
    val even = CoreOps.curriculumPhases(df.limit(8), Seq("difficulty", "doc_id"), 4)
      .as[(Long, Double, Int)].collect()
    assert(even.groupBy(_._3).view.mapValues(_.length).toMap === Map(1 -> 2, 2 -> 2, 3 -> 2, 4 -> 2))
    val repart = CoreOps.curriculumPhases(df.repartition(5), Seq("difficulty", "doc_id"), 4)
      .orderBy("doc_id").as[(Long, Double, Int)].collect()
    assert(repart.toSeq === r.toSeq)
  }

  test("qualityLrScore: distributed fixed-point GD == single-node replica, weak labels learned") {
    val docsDf = Tables.documents(spark, sfDir)
    val (nb, iters, lr, scale, thr) = (128, 60, 2.0, 10.0, 0.06)

    // ---- single-node replica: same tokens, same md5 buckets, same
    //      ascending zero-init fold, same q6-fixed gradient longs ----
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val stop = TextOps.DefaultStopwords.toSet
    val feats = docsDf.select("doc_id", "text").collect().toSeq
      .map { r => (r.getLong(0), r.getString(1).split(" ").filter(_.nonEmpty).toSeq) }
      .filter(_._2.nonEmpty)
      .map { case (id, toks) =>
        val n = toks.length
        val y = if (toks.count(stop) .toDouble / n.toDouble >= thr) 1.0 else 0.0
        val cnt = toks.groupBy(t => java.lang.Long.parseLong(md5hex(t).substring(0, 2), 16) % nb)
          .map { case (b, ts) => b -> ts.length }
        val x = Array.tabulate(nb)(j => cnt.getOrElse(j.toLong, 0).toDouble / n.toDouble * scale)
        (id, y, x)
      }.sortBy(_._1)
    val nDocs = feats.length
    val wLocal = Array.fill(nb + 1)(0.0)
    for (_ <- 0 until iters) {
      val g = Array.fill(nb + 1)(0L)
      feats.foreach { case (_, y, x) =>
        // canonical fold: 0.0 + w0·1, then ascending wⱼ₊₁·xⱼ
        var z = 0.0 + wLocal(0) * 1.0
        var j = 0
        while (j < nb) { z += wLocal(j + 1) * x(j); j += 1 }
        val err = 1.0 / (1.0 + math.exp(-z)) - y
        g(0) += math.floor(err * 1.0 * 1000000.0 + 0.5).toLong
        j = 0
        while (j < nb) { g(j + 1) += math.floor(err * x(j) * 1000000.0 + 0.5).toLong; j += 1 }
      }
      var j = 0
      while (j <= nb) { wLocal(j) -= lr * (g(j).toDouble / 1e6) / nDocs; j += 1 }
    }

    val scored = TextOps.qualityLrScore(docsDf, "doc_id", "text", nb, iters, lr, scale, thr)
      .orderBy("doc_id").collect()
    val wDist = TextOps.lastQualityLr.get._6
    // bit-exact: every per-doc contribution is q6-fixed and summed as longs,
    // so the distributed gradient — and the whole weight trajectory — equals
    // the replica's exactly
    assert(wDist.toSeq === wLocal.toSeq)

    // the distilled model actually learned the heuristic
    val acc = scored.count(r => r.getBoolean(4) == (r.getInt(1) == 1)).toDouble / scored.length
    assert(acc >= 0.9, s"train accuracy $acc")
    // pred is the sign of the exact fixed-point score
    scored.foreach(r => assert(r.getBoolean(4) === (r.getLong(2) >= 0)))
  }

  test("dsirSelect: target-like content outranks raw-only content, layout-invariant") {
    import spark.implicits._
    val targetish = (1 to 30).map(_ => "aa bb").mkString(" ")   // bigrams of the target domain
    val rawish = (1 to 30).map(_ => "zz yy").mkString(" ")
    val docs = Seq(
      (0L, targetish, "en"), (1L, targetish, "en"),  // define the target distribution
      (2L, targetish, "de"),                          // raw doc that matches the target
      (3L, rawish, "de"), (4L, rawish, "de"),         // raw docs that don't
      (5L, "aa", "en")                                // <2 tokens: no transitions, drops
    ).toDF("doc_id", "text", "lang")
    val r = TextOps.dsirSelect(docs, "doc_id", "text", col("lang") === "en", 256, k = 5)
      .orderBy("doc_id").as[(Int, Long, Long, Long, Long)].collect()
    val byId = r.map(x => x._2 -> x).toMap
    assert(!byId.contains(5L))                        // transition-less doc never scored
    assert(r.forall(_._3 === 59L))                    // 60 tokens → 59 transitions each
    // importance: target-matching content carries positive weight, raw-only
    // content negative — and the gap is decisive
    assert(byId(2L)._4 > 0L && byId(3L)._4 < 0L)
    assert(byId(2L)._4 > byId(3L)._4 + 1000000L)
    val repart = TextOps.dsirSelect(docs.repartition(7), "doc_id", "text",
        col("lang") === "en", 256, k = 5)
      .orderBy("doc_id").as[(Int, Long, Long, Long, Long)].collect()
    assert(repart.toSeq === r.toSeq)
  }

  test("hardNegatives: never the query's label, ranked as d5 minus same-label rows") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"), col("label"))
    val hard = Similarity.hardNegatives(emb, queries, 5).collect()
    val labels = emb.select("vec_id", "label").as[(Long, Int)].collect().toMap
    val qLabels = labels.filter(_._1 < 5)
    hard.foreach { r =>
      val (q, neg) = (r.getLong(0), r.getLong(2))
      assert(labels(neg) != qLabels(q), s"neg $neg shares query $q's label")
    }
    assert(hard.groupBy(_.getLong(0)).forall(_._2.length == 5))
    // consistency with the unrestricted ranking: for each query, the hard
    // negatives are the first 5 different-label rows of the full d5 order
    val full = Similarity.bruteForceTopK(emb,
        emb.where(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("embedding")),
        emb.count().toInt)
      .collect().groupBy(_.getLong(0))
    hard.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val expect = full(q).sortBy(_.getInt(1))
        .filter(r => labels(r.getLong(2)) != qLabels(q)).take(5).map(_.getLong(2)).toSeq
      val got = rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      assert(got === expect, s"query $q")
    }
  }

  test("estimateJaccard: identical docs score 1.0, estimates bounded and sane") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog today"),
      (1L, "the quick brown fox jumps over the lazy dog today"),      // == doc 0
      (2L, "the quick brown fox jumps over the lazy cat yesterday")   // near doc 0
    ).toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", 3, 8)
    val cands = Seq((0L, 1L), (0L, 2L)).toDF("doc_a", "doc_b")
    val est = Dedup.estimateJaccard(sigs, cands, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(est((0L, 1L)) === 1.0, "identical docs must agree on every position")
    assert(est((0L, 2L)) >= 0.0 && est((0L, 2L)) < 1.0)
  }

  test("packSequences equals a naive scan on seeded random workloads") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (chunk <- Seq(1L, 17L, 512L)) {
      val docs = (0 until 300).map(i => (i.toLong,
        if (rnd.nextInt(10) == 0) 0L else rnd.nextInt(1500).toLong))
      val got = CoreOps.packSequences(docs.toDF("doc_id", "n_tokens").repartition(5),
          "doc_id", "n_tokens", chunk)
        .select("doc_id", "tok_start", "chunk_start", "chunk_end", "n_chunks")
        .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      var off = 0L
      val want = docs.map { case (id, n) =>
        val start = off; off += n
        val cs = start / chunk
        val ce = if (n == 0) cs else (start + n - 1) / chunk
        (id, start, cs, ce, if (n == 0) 0L else ce - cs + 1)
      }
      assert(got === want, s"chunk=$chunk")
    }
  }

  test("selectUnderTokenBudget: greedy prefix by score, boundary exact, layout-independent") {
    import spark.implicits._
    // scores force order d,c,b,a; tokens 50+30+15 fit a 100 budget, the 4th
    // (10 tokens at cum 95) does not fit entirely
    val docs = Seq((1L, 0.1, 10L), (2L, 0.9, 50L), (3L, 0.7, 30L), (4L, 0.5, 15L))
      .toDF("doc_id", "score", "n_tokens")
    val kept = CoreOps.selectUnderTokenBudget(docs.repartition(3), "doc_id", "score", "n_tokens", 100L)
      .select("doc_id", "cum_before").as[(Long, Long)].collect().sortBy(_._1)
    assert(kept.toSeq === Seq((2L, 0L), (3L, 50L), (4L, 80L)),
      s"doc 1 (cum 95 + 10 > 100) must be excluded, got ${kept.toSeq}")
    // exact-fit boundary is inclusive
    val exact = CoreOps.selectUnderTokenBudget(docs, "doc_id", "score", "n_tokens", 105L)
      .select("doc_id").as[Long].collect().sorted
    assert(exact.toSeq === Seq(1L, 2L, 3L, 4L))
  }

  test("chunkDocuments: stride windows, short tail kept, empty docs yield nothing") {
    import spark.implicits._
    val words = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq((0L, words), (1L, "a b"), (2L, "")).toDF("doc_id", "text")
    val chunks = TextOps.chunkDocuments(docs, "doc_id", "text", chunkTokens = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx")
      .select("doc_id", "chunk_idx", "n_chunk_tokens")
      .as[(Long, Long, Long)].collect()
    // doc 0: 10 tokens, starts 1,4,7,10 → sizes 4,4,4,1
    assert(chunks.filter(_._1 == 0L).toSeq ===
      Seq((0L, 0L, 4L), (0L, 1L, 4L), (0L, 2L, 4L), (0L, 3L, 1L)))
    // doc 1: 2 tokens → one short chunk; doc 2: no chunks
    assert(chunks.filter(_._1 == 1L).toSeq === Seq((1L, 0L, 2L)))
    assert(!chunks.exists(_._1 == 2L))
    // consecutive chunks overlap by chunkTokens - stride tokens
    val md = TextOps.chunkDocuments(docs, "doc_id", "text", 4, 3)
      .where(col("doc_id") === 0 && col("chunk_idx") === 0)
      .select("chunk_md5").as[String].head()
    assert(md === org.apache.commons.codec.digest.DigestUtils.md5Hex("w1 w2 w3 w4"))
  }

  test("incrementalDedup: planted corpus dup dropped, novel doc kept, corpus never self-compared") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "an entirely different corpus document about spark shuffles and joins"),
      // two near-identical corpus docs: must NOT appear in the output at all
      (2L, "duplicate pair inside the corpus is not this operator's business"),
      (3L, "duplicate pair inside the corpus is not this operator's concern")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"), // dup of 0
      (11L, "a genuinely novel incoming document with fresh unseen content here")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(corpus, incoming, "doc_id", "text",
        k = 3, numHashes = 8, numBands = 4, threshold = 0.5)
      .orderBy("doc_id")
      .select("doc_id", "dup_of", "keep")
      .as[(Long, Option[Long], Boolean)].collect()
    assert(out.map(_._1).toSeq === Seq(10L, 11L), "one row per incoming doc, nothing else")
    assert(out(0) === ((10L, Some(0L), false)), "exact dup of corpus doc 0 must be dropped")
    assert(out(1) === ((11L, None, true)), "novel doc must be kept")
  }

  test("semanticDedup matches a single-node cluster/pair/union-find replica and actually prunes") {
    val dir = "/root/testdata/sf0.01" // 500 vectors: the 0.001 corpus has no near-dups to prune
    val emb = Tables.embeddings(spark, dir)
    val thr = 0.4
    val got = Similarity.semanticDedup(emb, thr).orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getInt(1)))

    // single-node replica: same deterministic centroids, nearest-centroid
    // assignment (ties to lowest index), normalized-dot pairs within each
    // cluster rounded half-up to 6, union-find, min-id survivors
    val centroids = Similarity.trainIvfCentroids(emb, nlist = 16, dim = 64)
    val vecs = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("emb"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    // same ‖c‖²−2·v·c float form (and fold order) as centroidDists, so
    // argmin flips on near-equidistant centroids can't diverge
    def assign(v: Array[Double]): Int =
      centroids.zipWithIndex.map { case (c, i) =>
        (c.map(x => x * x).sum - 2.0 * c.zip(v).map { case (a, b) => a * b }.sum, i)
      }.min._2
    val cluster = vecs.map { case (id, v) => id -> assign(v) }.toMap
    val nrm = vecs.map { case (id, v) =>
      val n = math.sqrt(v.map(x => x * x).sum)
      id -> (if (n == 0.0) v else v.map(_ / n))
    }.toMap
    val parent = scala.collection.mutable.Map(vecs.map(_._1 -> -1L).toSeq: _*)
    def find(x: Long): Long = if (parent(x) < 0) x else { val r = find(parent(x)); parent(x) = r; r }
    var pairCount = 0
    for ((a, _) <- vecs; (b, _) <- vecs if a < b && cluster(a) == cluster(b)) {
      val cos = BigDecimal(nrm(a).zip(nrm(b)).map { case (x, y) => x * y }.sum)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (cos >= thr) {
        pairCount += 1
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb)); parent(hi) = lo }
      }
    }
    assert(pairCount > 0, "threshold too high: test would be vacuous")
    val expected = vecs.map(_._1).filter(id => find(id) == id)
      .map(id => (id, cluster(id))).sortBy(_._1)
    assert(got.toSeq === expected.toSeq)
    assert(got.length < vecs.length, "semantic dedup pruned nothing")
  }

  test("hybrid dedup: survivors are exactly those surviving BOTH single-signal passes' edges") {
    val dir = "/root/testdata/sf0.01"
    def ids(name: String, idCol: String): Set[Long] =
      SparkEntry.queries(name)(spark, dir).select(idCol).collect().map(_.getLong(0)).toSet
    val hybrid = ids("d17_hybrid_dedup", "doc_id")
    val lexical = ids("d10b_dedup_survivors", "doc_id")
    val semantic = ids("d16_semantic_dedup", "vec_id")
    // unioning edges can only merge components / add duplicates — never
    // resurrect one — so hybrid survivors ⊆ each single-signal survivor set
    assert(hybrid.subsetOf(lexical), "hybrid resurrected a lexically-dropped doc")
    assert(hybrid.subsetOf(semantic), "hybrid resurrected a semantically-dropped doc")
    // and both signals must actually contribute edges on this corpus
    assert(hybrid.size < lexical.size, "semantic edges contributed nothing")
    assert(hybrid.size < semantic.size, "lexical edges contributed nothing")
  }

  test("heavyHitters: exact results, CMS candidate filter prunes the light tail pre-shuffle") {
    import spark.implicits._
    // 600× heavy, exactly-at-threshold edge, 500 singleton light words
    val tokens = Seq.fill(600)("heavy") ++ Seq.fill(300)("edge") ++ (1 to 500).map(i => s"rare$i")
    val docs = tokens.grouped(50).zipWithIndex
      .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }.toSeq.toDF("doc_id", "text")
    val hh = TextOps.heavyHitters(docs, "text", 300L).orderBy("word")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(hh.toSeq === Seq(("edge", 300L), ("heavy", 600L)))
    // the sketch filter is genuinely load-bearing: with ε·N ≪ threshold the
    // candidate tokens are exactly the two heavy words' 900 occurrences —
    // the exact-count shuffle never sees the 500 singletons
    val words = CoreOps.tokenize(docs, "text").select("word")
    val sketch = words.agg(count_min_sketch(col("word"), lit(0.001), lit(0.99), lit(42)))
      .head().getAs[Array[Byte]](0)
    val candRows = words
      .where(graft.expressions.GraftExpressions.cmsEstimate(col("word"), sketch) >= 300L)
      .count()
    assert(candRows === 900L, s"CMS filter admitted $candRows rows, expected exactly the heavy mass")
  }

  test("simHashHammingPairs: pigeonhole candidates recover exactly the brute-force radius-3 pairs") {
    val docs = Tables.documents(spark, sfDir)
    val prints = Dedup.simHash60(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, sa) <- prints; (b, sb) <- prints if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h.toLong)).toSet
    val got = Dedup.simHashHammingPairs(docs, "doc_id", "text", radius = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === brute, "multi-index candidates missed (or invented) a radius-3 pair")
    // prints are 60-bit: the top nibble never sets
    assert(prints.forall { case (_, s) => (s >>> 60) == 0L })
  }

  test("simHashHammingPairs: the block-frequency cap suppresses mega-bucket candidates") {
    import spark.implicits._
    // 5 identical docs: every block bucket holds all 5 prints
    val docs = (1 to 5).map(i => (i.toLong, "same words every time")).toDF("doc_id", "text")
    assert(Dedup.simHashHammingPairs(docs, "doc_id", "text").count() === 10L)
    assert(Dedup.simHashHammingPairs(docs, "doc_id", "text", maxBlockFrequency = 4L).count() === 0L)
  }

  test("bestOfN: ties break to the smaller id, singleton groups have null margin") {
    import spark.implicits._
    val ev = Seq(
      ("u1", "g", 10L, 0.5), ("u1", "g", 11L, 0.9), ("u1", "g", 12L, 0.9),
      ("u2", "g", 20L, 0.3)).toDF("user", "grp", "id", "v")
    val rows = Preference.bestOfN(ev, Seq("user", "grp"), "id", "v")
      .orderBy("user").collect()
    assert(rows.length === 2)
    assert(rows(0).getLong(2) === 11L) // tie at 0.9 -> smaller id
    assert(rows(0).getDouble(3) === 0.9 && rows(0).getLong(4) === 3L && rows(0).getDouble(5) === 0.0)
    assert(rows(1).getLong(2) === 20L && rows(1).getLong(4) === 1L && rows(1).isNullAt(5))
  }

  test("psiDrift: zero for identical sides, hand-computed for a known shift, loud on bad bins") {
    import spark.implicits._
    val a = Seq(("s", 0L), ("s", 0L), ("s", 1L)).toDF("g", "bin")
    assert(CoreOps.psiDrift(a, a, "g", "bin", 4).head().getDouble(3) === 0.0)
    // A: counts (2,1,0,0) n=3; B: counts (0,1,2,0) n=3; smoothed p=(c+1)/7
    val b = Seq(("s", 1L), ("s", 2L), ("s", 2L)).toDF("g", "bin")
    val exp = {
      val pa = Seq(3, 2, 1, 1).map(_ / 7.0); val pb = Seq(1, 2, 3, 1).map(_ / 7.0)
      val q6 = pa.zip(pb).map { case (x, y) =>
        math.floor((x - y) * math.log(x / y) * 1e6 + 0.5).toLong }.sum
      math.floor(q6.toDouble / 1e6 * 1e4 + 0.5) / 1e4
    }
    val row = CoreOps.psiDrift(a, b, "g", "bin", 4).head()
    assert(row.getLong(1) === 3L && row.getLong(2) === 3L && row.getDouble(3) === exp)
    intercept[Exception] {
      CoreOps.psiDrift(a, Seq(("s", 4L)).toDF("g", "bin"), "g", "bin", 4).collect()
    }
  }

  test("conversations: transcript order pinned by (ts, id), minTurns filters short sessions") {
    import spark.implicits._
    // one user: events out of arrival order, a tie on ts resolved by id,
    // and a >gap jump opening a 1-event session that must drop
    val ev = Seq(
      (1L, 30L, "c"), (2L, 10L, "a"), (3L, 10L, "b"), (4L, 500L, "lone")
    ).map { case (id, ts, l) => ("u", ts, id, l) }.toDF("user", "ts", "id", "label")
    val rows = Sessionize.conversations(ev, "user", "ts", "id", "label",
        maxGap = 100L, minTurns = 3).collect()
    assert(rows.length === 1)
    assert(rows(0).getLong(2) === 3L && rows(0).getString(3) === "a b c")
  }

  test("percentileRankEnsemble: ties share the cume_dist rank, ensemble is the mean") {
    import spark.implicits._
    val df = Seq(
      ("s", 1L, 0.1, 0.9), ("s", 2L, 0.1, 0.5), ("s", 3L, 0.3, 0.1),
      ("t", 4L, 0.7, 0.7)).toDF("g", "id", "a", "b")
    val rows = CoreOps.percentileRankEnsemble(df, "g", Seq("a", "b"))
      .select("id", "pr_a", "pr_b", "ensemble")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    // g: a-values (0.1, 0.1, 0.3) -> ranks (2/3, 2/3, 1); b (0.9, 0.5, 0.1) -> (1, 2/3, 1/3)
    assert(rows(0) === ((1L, 2.0 / 3, 1.0, math.floor((2.0 / 3 + 1.0) / 2 * 1e4 + 0.5) / 1e4)))
    assert(rows(1)._2 === 2.0 / 3 && rows(1)._3 === 2.0 / 3)
    assert(rows(2)._2 === 1.0 && rows(2)._3 === 1.0 / 3)
    // singleton group: every rank 1, ensemble 1
    assert(rows(3) === ((4L, 1.0, 1.0, 1.0)))
  }

  test("lengthBucketBatches: matches the single-node banding/chunking replica") {
    import spark.implicits._
    // lengths engineered so bands have non-multiple-of-batch sizes
    val docs = (1L to 41L).map(i => (i, (i * 7 % 40) + 1)).toDF("id", "n")
    val got = CoreOps.lengthBucketBatches(docs, "id", "n", bandWidth = 8, batchSize = 3)
      .select("id", "n", "bucket", "batch_in_bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val expect = (1L to 41L).map(i => (i, (i * 7 % 40) + 1))
      .groupBy { case (_, n) => (n - 1) / 8 }
      .flatMap { case (bucket, members) =>
        members.sortBy { case (id, n) => (n, id) }.zipWithIndex.map {
          case ((id, n), rk) => (id, n, bucket, rk.toLong / 3)
        }
      }.toSet
    assert(got === expect)
  }

  test("bm25Search: the near-verbatim copy ranks first, self-match excluded, rare terms outweigh common") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),
      (3L, "totally different words here now"),
      (4L, "alpha unrelated mixture of words")).toDF("doc_id", "text")
    val res = TextOps.bm25Search(docs, docs.where(col("doc_id") === 1),
        "doc_id", "text", "doc_id", "text", k = 4)
      .orderBy("rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(res.forall(_._1 === 1L) && !res.exists(_._3 === 1L), "self-match must be excluded")
    assert(res.head._3 === 2L, s"the 4-of-5-term near copy must rank first: ${res.toSeq}")
    assert(res(1)._3 === 4L, "the 1-common-term doc ranks above the 0-term doc's absence")
    assert(res.length === 2, "doc 3 shares no term and must not appear")
    assert(res.head._4 > res(1)._4, "scores must decrease with rank")
  }

  test("bm25IndexMerge equals a full rebuild over the unioned corpus") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val epoch = docs.where(col("doc_id") % 5 === 0)
    val (tfdl0, dfreq0, n0, dl0) = TextOps.bm25Index(corpus, "doc_id", "text")
    val (mTfdl, mDfreq, mN, mDl) =
      TextOps.bm25IndexMerge(tfdl0, dfreq0, n0, dl0, epoch, "doc_id", "text")
    val (rTfdl, rDfreq, rN, rDl) = TextOps.bm25Index(docs, "doc_id", "text")
    assert(mN === rN && mDl === rDl)
    assert(mTfdl.collect().map(_.toSeq).toSet === rTfdl.collect().map(_.toSeq).toSet)
    assert(mDfreq.collect().map(_.toSeq).toSet === rDfreq.collect().map(_.toSeq).toSet)
  }

  test("bm25IndexDelete equals a full rebuild over the corpus minus the removal set") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val removeIds = docs.where(col("doc_id") % 7 === 3).select("doc_id")
      .union(Seq(999999999L).toDF("doc_id")) // absent id must be a no-op
    val (tfdl0, dfreq0, n0, dl0) = TextOps.bm25Index(docs, "doc_id", "text")
    val (dTfdl, dDfreq, dN, dDl) =
      TextOps.bm25IndexDelete(tfdl0, dfreq0, n0, dl0, removeIds, "doc_id")
    val (rTfdl, rDfreq, rN, rDl) =
      TextOps.bm25Index(docs.where(col("doc_id") % 7 =!= 3), "doc_id", "text")
    assert(dN === rN && dDl === rDl)
    assert(dTfdl.collect().map(_.toSeq).toSet === rTfdl.collect().map(_.toSeq).toSet)
    assert(dDfreq.collect().map(_.toSeq).toSet === rDfreq.collect().map(_.toSeq).toSet)
  }

  test("bm25 index lifecycle: merge of an epoch then delete of a removal set equals rebuild") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val epoch = docs.where(col("doc_id") % 5 === 0)
    // removal set straddles the original corpus AND the merged epoch
    val removals = docs.where(col("doc_id") % 7 === 3).select("doc_id")
    val (t0, d0, n0, l0) = TextOps.bm25Index(corpus, "doc_id", "text")
    val (t1, d1, n1, l1) = TextOps.bm25IndexMerge(t0, d0, n0, l0, epoch, "doc_id", "text")
    val (t2, d2, n2, l2) = TextOps.bm25IndexDelete(t1, d1, n1, l1, removals, "doc_id")
    val finalCorpus = docs.where(col("doc_id") % 7 =!= 3)
    val (rT, rD, rN, rL) = TextOps.bm25Index(finalCorpus, "doc_id", "text")
    assert(n2 === rN && l2 === rL)
    assert(t2.collect().map(_.toSeq).toSet === rT.collect().map(_.toSeq).toSet)
    assert(d2.collect().map(_.toSeq).toSet === rD.collect().map(_.toSeq).toSet)
    // retrieval served from the maintained index == batch search on the
    // final corpus (the index a monitor would keep across add/delete epochs)
    val queries = finalCorpus.where(col("doc_id") % 50 === 0)
    val qTerms = TextOps.bm25TermRows(queries, "doc_id", "query_id", "text").distinct()
    val served = TextOps.bm25TopK(
        TextOps.bm25MatchScores(qTerms, t2, d2, n2, l2), k = 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    val batch = TextOps.bm25Search(finalCorpus, queries,
        "doc_id", "text", "doc_id", "text", k = 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(served === batch, "maintained-index retrieval diverged from rebuild search")
  }

  test("rrfFusion: both-list docs outrank single-list docs, exact reciprocal terms, top-k cut") {
    import spark.implicits._
    // query 1: doc 10 in both lists (lex rank 2, dense rank 3); docs 11/12 single-list rank 1
    val lex = Seq((1L, 1L, 11L), (1L, 2L, 10L), (1L, 3L, 13L))
      .toDF("query_id", "rank", "doc_id")
    val dense = Seq((1L, 1L, 12L), (1L, 2L, 14L), (1L, 3L, 10L))
      .toDF("query_id", "rank", "doc_id")
    val res = TextOps.rrfFusion(lex, dense, k = 3, c = 60).orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    def t(r: Long): Long = math.floor(1000000.0 / (60.0 + r) + 0.5).toLong
    assert(res.map(_._2).toSeq === Seq(10L, 11L, 12L),
      s"both-list doc first, then rank-1 singles id-tiebroken: ${res.toSeq}")
    assert(res.head._3 === math.floor((t(2) + t(3)).toDouble / 100.0 + 0.5) / 10000.0,
      "fused display score must be the round4 of the exact q6 term sum")
    assert(res.length === 3, "k must cut the fused list (docs 13/14 dropped)")
  }

  test("deletionAudit: dirty flags, surviving token mass, absent removal id is a no-op") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a", 10L), (16L, "a", 20L),  // shard 0: doc 0 removed
      (1L, "a", 30L),                   // shard 1: clean
      (2L, "b", 40L), (18L, "b", 50L))  // shard 2: both removed
      .toDF("doc_id", "source", "n_tokens")
    val removals = Seq(0L, 2L, 18L, 777L).toDF("doc_id")
    val got = CoreOps.deletionAudit(docs, removals, "doc_id", "source", "n_tokens", 16)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6))).toSet
    assert(got === Set(
      ("a", 0L, 2L, 1L, 1L, 20L, true),
      ("a", 1L, 1L, 0L, 1L, 30L, false),
      ("b", 2L, 2L, 2L, 0L, 0L, true)))
  }

  test("ppmiWordCentrality: the strongest collocation pair dominates, normalized, deterministic") {
    import spark.implicits._
    // alpha/beta co-occur EXCLUSIVELY (maximal PMI); the background words
    // are frequent with varied partners (PMI near zero per pair) — the
    // Perron axis must concentrate on the exclusive collocation community
    val docs = Seq(
      (1L, "alpha beta"),
      (2L, "red fish green fish blue fish red cow green bird blue cow"),
      (3L, "red bird green cow blue bird red fish green fish blue cow"))
      .toDF("doc_id", "text")
    val res = GraphOps.ppmiWordCentrality(docs, "text", iterations = 8, k = 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(Set(res(0)._2, res(1)._2) === Set("alpha", "beta"),
      s"the collocation pair must take the top two ranks: ${res.toSeq}")
    assert(res.map(_._3).sum <= 1000000L && res.map(_._3).sum > 900000L,
      "L1-normalized q6 centralities must sum to ~1e6")
    val again = GraphOps.ppmiWordCentrality(docs, "text", iterations = 8, k = 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(res.toSeq === again.toSeq, "power iteration must be bit-deterministic")
  }

  test("quantizedPageRank matches a single-node fixed-point replica on a star graph") {
    import spark.implicits._
    // star: hub 1 — leaves 2,3,4; plus an isolated pair 5—6
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val rows = GraphOps.quantizedPageRank(pairs, "doc_a", "doc_b", iterations = 5)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // single-node replica of the exact integer recurrence
    val adj = Map(1L -> Seq(2L, 3L, 4L), 2L -> Seq(1L), 3L -> Seq(1L),
      4L -> Seq(1L), 5L -> Seq(6L), 6L -> Seq(5L))
    val n = adj.size
    var r = adj.keys.map(_ -> 1000000L / n).toMap
    for (_ <- 1 to 5) {
      r = adj.keys.map { v =>
        v -> (150000L / n + adj.keys.toSeq.filter(u => adj(u).contains(v))
          .map(u => (85L * r(u)) / (100L * adj(u).size)).sum)
      }.toMap
    }
    adj.keys.foreach { v =>
      assert(rows(v)._2 === r(v), s"node $v: got ${rows(v)._2}, replica ${r(v)}")
      assert(rows(v)._1 === adj(v).size.toLong)
      assert(rows(v)._3 === math.floor(r(v).toDouble / 100.0 + 0.5) / 10000.0)
    }
    assert(rows(1L)._2 > rows(2L)._2, "the hub must outrank its leaves")
    assert(rows.size === 6)
  }

  test("quantizedPageRank: storage does not grow with the iteration count") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    // persistent RDDs registered by one call (ids above a fresh marker RDD)
    // and still held when it returns; the output stays reachable until the
    // count is taken
    def growth(iterations: Int): Int = {
      val sc = spark.sparkContext
      val marker = sc.emptyRDD[Int].id
      val out = GraphOps.quantizedPageRank(pairs, "doc_a", "doc_b", iterations)
      val held = sc.getPersistentRDDs.keys.count(_ > marker)
      assert(out.count() === 6L)
      held
    }
    val two = growth(2)
    val ten = growth(10)
    // each round's ranks snapshot is released once its successor exists,
    // so eight more rounds must not leave eight more checkpoints behind
    assert(ten <= two, s"persistent RDDs grew by $ten after 10 iterations vs $two after 2")
  }

  test("retrievalDecontam: the planted verbatim copy is retrieved and confirmed; clean eval reads zero") {
    import spark.implicits._
    val phrase = "one two three four five six seven eight nine ten"
    val corpus = Seq(
      (1L, s"$phrase plus trailing corpus words here"), // contains the eval item's windows
      (2L, "totally unrelated corpus document about other things entirely"),
      (3L, "another unrelated corpus document with different words again"))
      .toDF("doc_id", "text")
    val evalSet = Seq(
      (100L, phrase),                                          // contaminated
      (200L, "clean benchmark item sharing no verbatim windows at all ok"))
      .toDF("doc_id", "text")
    val got = Dedup.retrievalDecontam(corpus, evalSet, "doc_id", "text", k = 3, n = 8)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(100L)._2 === 1L, s"the verbatim copy must be confirmed: $got")
    assert(got(100L)._3 === 3L, "10-token phrase shares 3 distinct 8-token windows")
    assert(got.get(200L).forall(_._2 === 0L), s"the clean item must confirm nothing: $got")
  }

  test("rankBiasedOverlap: identical lists hit the exact truncated mass, disjoint lists zero") {
    import spark.implicits._
    val la = Seq((1L, 1L, 10L), (1L, 2L, 11L), (1L, 3L, 12L),
      (2L, 1L, 20L), (2L, 2L, 21L), (2L, 3L, 22L)).toDF("query_id", "rank", "doc_id")
    val lb = Seq((1L, 1L, 10L), (1L, 2L, 11L), (1L, 3L, 12L), // q1: identical
      (2L, 1L, 30L), (2L, 2L, 31L), (2L, 3L, 32L))            // q2: disjoint
      .toDF("query_id", "rank", "doc_id")
    val got = TextOps.rankBiasedOverlap(la, lb, k = 3, pPct = 90)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // identical lists: X_d = d, so each depth contributes (w_d·10) div 100
    val ws = Iterator.iterate(1000000L)(w => w * 90L / 100L).take(3).toSeq
    assert(got(1L) === ws.map(w => w * 10L / 100L).sum,
      s"identical-list RBO must equal the truncated weight mass: $got")
    assert(got(2L) === 0L, s"disjoint lists must score zero: $got")
  }

  test("doremiMixWeights: up-weights the high-loss source, allocation sums exactly to budget") {
    import spark.implicits._
    // "easy" source: one repeated transition (low NLL); "hard" source:
    // every transition unique (high NLL under the corpus bigram model)
    val docs = Seq(
      (1L, "a b a b a b a b", "easy"), (2L, "a b a b a b a b", "easy"),
      (3L, "q w e r t y u i", "hard"), (4L, "z x c v n m k j", "hard"))
      .toDF("doc_id", "text", "source")
    val res = TextOps.doremiMixWeights(docs, "doc_id", "text", "source",
        iterations = 8, tokenBudget = 1000003L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val hard = res("hard"); val easy = res("easy")
    assert(hard._1 > easy._1, s"hard source must have higher loss: $res")
    assert(hard._2 > easy._2, s"EG must up-weight the high-loss source: $res")
    assert(hard._3 + easy._3 === 1000003L,
      s"allocation must sum exactly to the budget: $res")
    // deterministic: a second run produces identical longs
    val again = TextOps.doremiMixWeights(docs, "doc_id", "text", "source",
        iterations = 8, tokenBudget = 1000003L)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(again("hard") === hard._2 && again("easy") === easy._2)
  }

  test("d25_canonical_neardup: punct/case variants caught only under canonical shingles") {
    val rows = SparkEntry.queries("d25_canonical_neardup")(spark, sfDir).collect()
    assert(rows.nonEmpty, "the plant must select at least one document")
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(0) + 100000L)
      assert(r.getBoolean(2), s"canonical shingles must catch the planted variant of doc ${r.getLong(0)}")
      assert(!r.getBoolean(3), s"raw shingles must NOT catch the planted variant of doc ${r.getLong(0)}")
    }
  }

  test("q_reduced_index_staleness: fresh rebuild beats the stale frozen model on drifted queries") {
    val rows = SparkEntry.queries("q_reduced_index_staleness")(spark, sfDir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val (fh, fe, fr) = rows("fresh_rebuild")
    val (sh, se, sr) = rows("maintained_stale")
    assert(fe === se && fe > 0, s"both arms must score the same query set: $rows")
    // the measurement the gate exists for: appended drifted epochs degrade
    // the FROZEN model's probe recall, and a scheduled rebuild recovers it
    // — the reported gap is the rebuild trigger
    assert(fr > sr, s"fresh rebuild must out-recall the stale frozen model on drifted data: $rows")
    assert(fh === (fr * fe).round && sh === (sr * se).round)
    // the oracle is built at gate time and durable (no dump-time slot read)
    assert(SparkEntry.oracleSql("q_reduced_index_staleness").contains("maintained_stale"))
  }

  test("incrementalDedup canonicalize: an ingest-time punct/case variant dedups only under canonical shingles") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "ALPHA -- BETA -- GAMMA -- DELTA -- EPSILON -- ZETA!!"),
      (11L, "totally different words entirely present here now")).toDF("doc_id", "text")
    def keeps(canonicalize: Boolean) =
      Dedup.incrementalDedup(corpus, incoming, "doc_id", "text",
          k = 3, numHashes = 8, numBands = 4, threshold = 0.5,
          canonicalize = canonicalize)
        .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val raw = keeps(canonicalize = false)
    assert(raw(10L) && raw(11L), s"raw shingles must keep both incoming docs: $raw")
    val canon = keeps(canonicalize = true)
    assert(!canon(10L), s"canonical shingles must flag the planted variant as a dup at ingest: $canon")
    assert(canon(11L), s"the novel doc must survive under canonical shingles: $canon")
  }

  test("q_pq_index_staleness: fresh rebuild beats the stale frozen codebooks on drifted queries") {
    val rows = SparkEntry.queries("q_pq_index_staleness")(spark, sfDir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val (fh, fe, fr) = rows("fresh_rebuild")
    val (sh, se, sr) = rows("maintained_stale")
    assert(fe === se && fe > 0, s"both arms must score the same query set: $rows")
    assert(fr > sr, s"fresh rebuild must out-recall the stale frozen codebooks on drifted data: $rows")
    assert(fh === (fr * fe).round && sh === (sr * se).round)
    assert(SparkEntry.oracleSql("q_pq_index_staleness").contains("maintained_stale"))
  }

  test("q_index_rebuild_policy: the rebuild decision composes both staleness measurements exactly") {
    val rows = SparkEntry.queries("q_index_rebuild_policy")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6), r.getBoolean(7)))).toMap
    assert(rows.keySet === Set("reduced", "rotated_pq"), s"one row per maintained family: $rows")
    rows.foreach { case (fam, (stale, freshH, expected, gap, sr, fr, rebuild)) =>
      assert(expected > 0 && gap === freshH - stale, s"$fam: $rows")
      assert(fr >= sr, s"$fam: fresh must not under-recall stale on drifted data")
      // the decision is the exact integer rule, never a rounded recall
      assert(rebuild === (gap * 10 >= expected), s"$fam decision mismatches its own gap")
      assert(sr === stale.toDouble / expected && fr === freshH.toDouble / expected)
    }
    assert(SparkEntry.oracleSql("q_index_rebuild_policy").contains("rebuild"),
      "the policy gate must freeze its composed oracle")
  }

  test("gate-time splice freeze: x14/doremi oracles come from frozen rows and survive a store round-trip") {
    SpliceStore.clear()
    assert(!SparkEntry.oracleSql.contains("q_doremi_mix"),
      "doremi oracle must be absent before its gate has frozen a splice")
    assert(!SparkEntry.oracleSql.contains("x14_word_centrality"))
    // running the gate lambdas freezes the splice rows at GATE time — no
    // dump-time re-read window (VERDICT r12 #1b)
    SparkEntry.queries("q_doremi_mix")(spark, sfDir).collect()
    SparkEntry.queries("x14_word_centrality")(spark, sfDir).collect()
    val sql = SparkEntry.oracleSql
    val eg = sql("q_doremi_mix")
    assert(eg.contains("engloss(src, loss_q6) AS (VALUES"),
      "doremi oracle must splice the ENGINE's per-source losses (the r12 residual live ln)")
    assert(eg.contains("abs(e.loss_q6 - d.loss_q6) > 1"),
      "spliced losses must fail closed against DuckDB's own recomputation within +-1 q6")
    assert(eg.contains("egtrace(round, src, excess_q6, u) AS (VALUES"),
      "doremi oracle must splice the POST-FLOOR BIGINT weights, never IEEE factors (VERDICT r14 #1)")
    assert(eg.contains("exp(0.5 * f.excess_q6 / 1000000.0)") && eg.contains("abs(f.u - CAST(floor"),
      "spliced u weights must fail closed against DuckDB's own floor(w*exp(.)+0.5) within +-1")
    assert(!eg.contains("AS DOUBLE"), "the doremi oracle must be double-free end-to-end")
    assert(eg.contains("chk.bad = 0"))
    assert(sql("x14_word_centrality").contains("ppmi_e(v, w, m) AS (VALUES"))
    // durability: save -> clear -> load reproduces both oracles byte-for-byte
    // (the filtered-Verify-run path that used to emit 148/182 oracles)
    val f = java.nio.file.Files.createTempFile("graft_splices", ".properties")
    SpliceStore.saveAll(f)
    SpliceStore.clear()
    assert(!SparkEntry.oracleSql.contains("q_doremi_mix"))
    SpliceStore.loadAll(f)
    val sql2 = SparkEntry.oracleSql
    assert(sql2("q_doremi_mix") === eg)
    assert(sql2("x14_word_centrality") === sql("x14_word_centrality"))
    // version keying (ADVICE r13 fail-open): a store frozen under a
    // DIFFERENT builder version loads NOTHING — a changed oracle builder
    // invalidates its frozen rows instead of silently re-emitting them —
    // and a failed gate's fragments are individually removable (Verify's
    // gate-throw path)
    val f2 = java.nio.file.Files.createTempFile("graft_splices_v", ".properties")
    SpliceStore.saveAll(f2, "builder-A")
    SpliceStore.clear()
    assert(!SpliceStore.loadAll(f2, "builder-B"), "version mismatch must reject the file")
    assert(!SparkEntry.oracleSql.contains("q_doremi_mix"))
    assert(SpliceStore.loadAll(f2, "builder-A"), "matching version must load")
    assert(SparkEntry.oracleSql("q_doremi_mix") === eg)
    // the failed-gate removal is the FULL set Verify drops: the raw
    // fragments AND the persisted `sql:` form (the backfill path would
    // re-emit the latter on its own)
    Seq("doremi_losses", "doremi_trace", "sql:q_doremi_mix")
      .foreach(SpliceStore.remove)
    assert(!SparkEntry.oracleSql.contains("q_doremi_mix"),
      "a removed gate's oracle must disappear, not re-emit a stale one")
    SpliceStore.loadAll(f2, "builder-A") // restore for later tests
    java.nio.file.Files.delete(f2)
    java.nio.file.Files.delete(f)
  }

  test("extractHtmlText: elements, tags, entities, whitespace — in the contract order") {
    import spark.implicits._
    val in = Seq(
      // script body with '<' and '&&' survives only if elements go before tag-strip
      "<p>a</p><script>if (1 < 2 && x) go();</script>b",
      // style element, attribute-carrying tags, self-closing break
      "<style type=\"a\">p{x}</style><div class=\"c\">hello</div>world<br/>now",
      // entity decode AFTER tag strip (&lt;b&gt; must NOT be stripped) and
      // &amp; last (single pass: &amp;amp; -> &amp;, not &)
      "x &lt;b&gt; y &amp;amp; z &nbsp;&quot;&#39;",
      // whitespace collapse + trim
      "  a\t\tb\n\nc  ").toDF("html")
    val out = in.select(TextOps.extractHtmlText(col("html")).as("t")).as[String].collect()
    assert(out === Seq(
      "a b",
      "hello world now",
      "x <b> y &amp; z \"'",
      "a b c"))
  }

  test("blocklist: distinct hits per doc; filter keeps exactly the clean docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "clean text here"),
      (2L, "bad BAD text"),          // case-folded AND deduped: one distinct hit
      (3L, "bad and worse things"),  // two distinct hits
      (4L, "badly worsen")           // substrings are NOT token matches
    ).toDF("doc_id", "text")
    val hits = TextOps.blocklistHits(docs, "doc_id", "text", Seq("bad", "worse"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(hits === Seq((2L, 1L, "bad"), (3L, 2L, "bad")))
    val kept = TextOps.blocklistFilter(docs, "doc_id", "text", Seq("bad", "worse"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Seq(1L, 4L))
  }

  test("kmvDistinct: exact below k, calibrated above k, top-k never a global sort") {
    import spark.implicits._
    val small = (1 to 100).map(i => s"v${i % 37}").toDF("v") // 37 distinct, dups
    val sr = CoreOps.kmvDistinct(small, "v", 256).collect()(0)
    assert(sr.getLong(1) === 37L && sr.getLong(3) === 37L,
      "below k the sketch IS the exact distinct count")
    val big = (1 to 20000).map(i => s"u${i % 5000}").toDF("v") // 5000 distinct
    val est = CoreOps.kmvDistinct(big, "v", 256).collect()(0).getLong(3)
    assert(math.abs(est - 5000.0) / 5000.0 < 0.25,
      s"KMV k=256 (stderr ~6%) must land within 25% of truth, got $est")
    val plan = CoreOps.kmvDistinct(big, "v", 256).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "the k smallest hashes must come from per-partition heaps, not a global sort")
  }

  test("lshParameterSweep: q6 masses replicate single-node; best is the unique argmin") {
    val rows = Dedup.lshParameterSweep(spark, 8, 800000L).orderBy("b").collect()
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSeq ===
      Seq((1, 8), (2, 4), (4, 2), (8, 1)), "divisor pairs of the budget, ascending b")
    // plain-Scala replica of the (b=2, r=4) integration, same op order
    var fp = 0L; var fn = 0L
    for (i <- 0 until 1000) {
      val s = (i + 0.5) / 1000.0
      var sr = 1.0; (0 until 4).foreach(_ => sr *= s)
      var q = 1.0; (0 until 2).foreach(_ => q *= (1.0 - sr))
      val p = 1.0 - q
      if (s < 0.8) fp += math.floor(p * 1e6 + 0.5).toLong
      else fn += math.floor((1.0 - p) * 1e6 + 0.5).toLong
    }
    val b2 = rows.find(_.getInt(0) == 2).get
    assert((b2.getLong(2), b2.getLong(3)) === ((fp, fn)))
    // exactly one best, and it carries the minimal error
    val best = rows.filter(_.getBoolean(5))
    assert(best.length === 1 && best(0).getLong(4) === rows.map(_.getLong(4)).min)
    // the degenerate extremes behave as the S-curve says: b=n surfaces
    // nearly everything (huge FP mass), r=n surfaces nearly nothing below
    // threshold but misses near-dups (FN-heavy relative to FP)
    val bN = rows.find(_.getInt(0) == 8).get
    val rN = rows.find(_.getInt(0) == 1).get
    assert(bN.getLong(2) > rN.getLong(2), "aggressive banding pays in false positives")
    assert(rN.getLong(3) > bN.getLong(3), "one giant band pays in false negatives")
  }

  test("e2e_web_ingest: the pipeline is exactly 'identity minus re-crawls minus spam' on this plant") {
    val out = SparkEntry.queries("e2e_web_ingest")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.nonEmpty && !out.exists(_._1 % 13 == 0),
      "every % 13 doc carries the planted spam token (even inside chrome) and must drop")
    assert(out.map(_._2).distinct.length === out.length, "one survivor per content")
    // independent replica: URL dedup first (every % 10 == 1 doc is a
    // re-crawl of its % 10 == 0 neighbor under a different spelling and
    // must drop IF that neighbor exists), then planted chrome extracts
    // AWAY entirely, so a survivor row is just (min doc_id, md5, token
    // count) of the whitespace-normalized original text over the non-spam
    // docs
    val ids = Tables.documents(spark, sfDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(!out.exists(r => r._1 % 10 == 1 && ids(r._1 - 1)),
      "every % 10 == 1 re-crawl with a present neighbor must drop at URL dedup")
    val norm = trim(regexp_replace(col("text"), "[ \\t\\n\\r\\f]+", " "))
    val expected = Tables.documents(spark, sfDir)
      .where(!(col("doc_id") % 10 === 1 && (col("doc_id") - 1).isInCollection(ids)))
      .where(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"), md5(norm).as("m"), size(TextOps.tokens(norm)).cast("long").as("n"))
      .groupBy("m").agg(min("doc_id").as("doc_id"), min("n").as("n"))
      .collect().map(r => (r.getLong(1), r.getString(0), r.getLong(2))).sortBy(_._1)
    assert(out.toSeq === expected.toSeq)
  }

  test("d26_margin_pairs: mutual margin-best matching matches an exact single-node replica") {
    val out = SparkEntry.queries("d26_margin_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty)
    assert(out.map(_._1).distinct.length === out.length, "src side is a partial matching")
    assert(out.map(_._2).distinct.length === out.length, "tgt side is a partial matching")
    // exact replica of the whole rule — q6 cosines in the operator's fold
    // order, top-8 neighborhoods on the longs, one-division margins,
    // mutual best — computed with plain Scala loops
    val k = 8
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val emb = Tables.embeddings(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).sortBy(_._1)
    def cq(a: Array[Double], b: Array[Double]): Long = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      math.floor(r6(d / (math.sqrt(na) * math.sqrt(nb))) * 1e6 + 0.5).toLong
    }
    val aS = emb.filter(_._1 % 2 == 0); val bS = emb.filter(_._1 % 2 == 1)
    val pm = (for ((x, xe) <- aS; (y, ye) <- bS) yield ((x, y), cq(xe, ye))).toMap
    val fwd = aS.map { case (x, _) =>
      x -> bS.map { case (y, _) => (y, pm((x, y))) }.sortBy { case (y, c) => (-c, y) }.take(k)
    }.toMap
    val bwd = bS.map { case (y, _) =>
      y -> aS.map { case (x, _) => (x, pm((x, y))) }.sortBy { case (x, c) => (-c, x) }.take(k)
    }.toMap
    val sa = fwd.map { case (x, l) => x -> l.map(_._2).sum }
    val sb = bwd.map { case (y, l) => y -> l.map(_._2).sum }
    def margin(x: Long, y: Long) = r6(2.0 * k * pm((x, y)) / (sa(x) + sb(y)))
    val xbest = fwd.toSeq.flatMap { case (x, l) =>
      val cs = l.collect { case (y, _) if sa(x) + sb(y) > 0 => (y, margin(x, y)) }
      if (cs.isEmpty) None
      else { val (y, m) = cs.minBy { case (y2, m2) => (-m2, y2) }; Some((x, y, m)) }
    }
    val ybest = bwd.toSeq.flatMap { case (y, l) =>
      val cs = l.collect { case (x, _) if sa(x) + sb(y) > 0 => (x, margin(x, y)) }
      if (cs.isEmpty) None
      else { val (x, _) = cs.minBy { case (x2, m2) => (-m2, x2) }; Some((x, y)) }
    }.toSet
    val expected = xbest.filter { case (x, y, _) => ybest((x, y)) }.sortBy(_._1)
    assert(out.toSeq.sortBy(_._1) === expected)
  }

  test("d27_signbit_topk: Hamming candidates + exact rescore match a single-node replica") {
    val out = SparkEntry.queries("d27_signbit_topk")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    // exact replica: sign words off the raw floats, integer Hamming,
    // (hamming, vec_id) candidate order, top-20 rescored by 6-dp cosine
    val k = 5; val pool = k * 4
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val emb = Tables.embeddings(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).sortBy(_._1)
    def words(e: Array[Double]): (Long, Long) = {
      var lo = 0L; var hi = 0L
      for (i <- 0 until 32) { if (e(i) > 0) lo |= 1L << i; if (e(i + 32) > 0) hi |= 1L << i }
      (lo, hi)
    }
    def cosd(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      r6(d / (math.sqrt(na) * math.sqrt(nb)))
    }
    val sigs = emb.map { case (id, e) => id -> words(e) }.toMap
    val expected = emb.filter(_._1 < 10).flatMap { case (qid, qe) =>
      val (qlo, qhi) = sigs(qid)
      val cands = emb.filter(_._1 != qid).map { case (cid, _) =>
        val (lo, hi) = sigs(cid)
        (cid, java.lang.Long.bitCount(lo ^ qlo) + java.lang.Long.bitCount(hi ^ qhi))
      }.sortBy { case (cid, h) => (h, cid) }.take(pool)
      val byId = emb.toMap
      cands.map { case (cid, _) => (cid, cosd(qe, byId(cid))) }
        .sortBy { case (cid, c) => (-c, cid) }.take(k).zipWithIndex
        .map { case ((cid, c), i) => (qid, i + 1, cid, c) }
    }
    assert(out.toSeq === expected.toSeq)
    // the 1-bit tier must still find most true neighbors after rescore
    val exact = Similarity.bruteForceTopK(
      Tables.embeddings(spark, sfDir),
      Tables.embeddings(spark, sfDir).where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding")), k)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val hits = out.count { case (q, _, n, _) => exact((q, n)) }
    val recall = hits.toDouble / exact.size
    assert(recall >= 0.4, s"sign-bit recall@$k too low: $recall")
  }

  test("d28_containment_pairs: excerpts caught by containment, missed by Jaccard at the same cut") {
    import spark.implicits._
    // docA: 12 unique tokens; docB: its first 6 tokens (a verbatim excerpt);
    // docC: unrelated. J(A,B) = 4/10 = 0.4 — below even d4's 0.5 cut —
    // while containment of B in A is exactly 1.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.9, 10L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getDouble(3)))).toMap
    assert(cont.keySet === Set((1L, 2L)))
    assert(cont((1L, 2L)) === ((0.4, 1.0)), s"got ${cont((1L, 2L))}")
    val jac = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5, 10L).collect()
    assert(jac.isEmpty, "Jaccard at 0.5 must miss the excerpt pair containment catches")
    // the gate's planted excerpts: every caught planted pair has excerpt-side
    // containment exactly 1 (prefix shingles are a subset), and most planted
    // originals are caught at all
    val out = SparkEntry.queries("d28_containment_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val planted = out.filter { case (a, b, _, _) => b == a + 1000000L }
    assert(planted.nonEmpty)
    planted.foreach { case (a, _, _, cb) =>
      assert(cb === 1.0, s"excerpt of doc $a not fully contained: $cb") }
    val nPlantedDocs = Tables.documents(spark, sfDir)
      .where(col("doc_id") % 9 === 0).count()
    assert(planted.length >= nPlantedDocs * 0.8,
      s"only ${planted.length} of $nPlantedDocs planted excerpts caught")
  }

  test("d29: containment edges reach survivor selection — excerpt removed only when enabled") {
    import spark.implicits._
    // same geometry as the d28 spec: doc 2 is a verbatim excerpt of doc 1
    // (containment 1.0, Jaccard 0.4 — below the 0.5 cut), doc 3 unrelated
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    def survivors(withContainment: Boolean): Set[Long] =
      Dedup.survivorsWithContainment(docs, "doc_id", "text", k = 3,
          numHashes = 8, numBands = 4, jaccardThreshold = 0.5,
          containmentThreshold = 0.9, maxDocFrequency = 10L,
          includeContainment = withContainment)
        .collect().map(_.getLong(0)).toSet
    // Jaccard alone keeps the excerpt — detection without the containment
    // signal cannot remediate the quotation family
    assert(survivors(withContainment = false) === Set(1L, 2L, 3L))
    // containment edges in the closure: the excerpt folds into doc 1's
    // component and the min-id original survives
    assert(survivors(withContainment = true) === Set(1L, 3L))
    val withMembers = Dedup.survivorsWithContainment(docs, "doc_id", "text", 3,
        8, 4, 0.5, 0.9, 10L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(withMembers === Map(1L -> 2L, 3L -> 1L))
    // the gate: planted excerpts (id >= 1000000) must ALL be deduplicated
    val out = SparkEntry.queries("d29_containment_dedup")(spark, sfDir)
      .collect().map(_.getLong(0))
    assert(out.nonEmpty && !out.exists(_ >= 1000000L),
      "planted excerpts must not survive containment-aware dedup")
  }

  test("canonicalizeUrl: every spelling rule, scheme-less input, and the gate's collapse") {
    import spark.implicits._
    val cases = Seq(
      // (raw, expected canonical)
      ("https://EXAMPLE.com/docs/1?b=2&a=1", "https://example.com/docs/1?a=1&b=2"),
      ("https://www.example.com:443/docs/1?a=1&b=2#frag", "https://example.com/docs/1?a=1&b=2"),
      ("HTTPS://example.com/docs/1/?a=1&utm_source=feed&b=2", "https://example.com/docs/1?a=1&b=2"),
      ("https://example.com/docs/1?utm_campaign=x&fbclid=zz&a=1&b=2", "https://example.com/docs/1?a=1&b=2"),
      ("https://example.com/docs/1?b=2&ref=home&a=1", "https://example.com/docs/1?a=1&b=2"),
      // scheme-less input gets an implicit http:// instead of an empty host
      ("example.com/docs/1?a=1&b=2", "http://example.com/docs/1?a=1&b=2"),
      // http default port; PATH case is preserved (RFC 3986 — only
      // scheme/host are case-insensitive)
      ("HTTP://WWW.Example.COM:80/Docs/A", "http://example.com/Docs/A"),
      // all params tracking → no '?' at all; trailing slashes collapse
      ("https://example.com/a///?utm_source=x&gclid=1", "https://example.com/a"),
      // fragment-only difference collapses; empty query stays empty
      ("https://example.com/a#section-2", "https://example.com/a"))
    val got = cases.map(_._1).toDF("url")
      .select(TextOps.canonicalizeUrl(col("url")).as("c"))
      .collect().map(_.getString(0)).toSeq
    got.zip(cases).foreach { case (g, (raw, want)) =>
      assert(g === want, s"canonicalizeUrl($raw)") }
    // the gate collapses each resource's six spellings into exactly two
    // canonical groups (https for variants 0-4, implicit-http for 5)
    val gate = SparkEntry.queries("q_url_canonical")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(gate.nonEmpty)
    gate.foreach { case (c, nPages, nSpellings) =>
      assert(c.startsWith("https://example.com/docs/") ||
        c.startsWith("http://example.com/docs/"), c)
      assert(nSpellings <= nPages, s"$c: $nSpellings spellings > $nPages pages")
    }
    val httpsGroups = gate.filter(_._1.startsWith("https://"))
    // https groups merge up to 5 distinct raw spellings
    assert(httpsGroups.exists(_._3 >= 2), "no https group merged multiple spellings")
  }

  test("q_ppl_buckets: per-language terciles are threshold-consistent and tie-safe") {
    val rows = SparkEntry.queries("q_ppl_buckets")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    assert(rows.forall(r => Set("head", "middle", "tail")(r._4)))
    rows.groupBy(_._2).foreach { case (lang, ls) =>
      // threshold semantics: bucket ranges are disjoint and ordered —
      // every head key < every middle key < every tail key is too strong
      // under ties AT the threshold, but max(head) <= min(middle) and
      // max(middle) <= min(tail) hold exactly
      def keys(b: String) = ls.filter(_._4 == b).map(_._3)
      for ((lo, hi) <- Seq("head" -> "middle", "middle" -> "tail"))
        if (keys(lo).nonEmpty && keys(hi).nonEmpty)
          assert(keys(lo).max <= keys(hi).min, s"$lang: $lo/$hi ranges overlap")
      // equal scores can never straddle a bucket (the rank form would)
      ls.groupBy(_._3).foreach { case (k, same) =>
        assert(same.map(_._4).distinct.length === 1,
          s"$lang: tied key $k split across buckets") }
      // head holds at least a third of the language (threshold inclusive)
      // and never everything when scores actually vary
      val n = ls.length
      assert(keys("head").length * 3 >= n, s"$lang: head under a third")
      if (ls.map(_._3).distinct.length >= 3)
        assert(keys("head").length < n, s"$lang: head swallowed the language")
    }
  }

  test("q_domain_stats: host rollup collapses spelling variants across schemes") {
    import spark.implicits._
    // urlHost: authority only, non-default port kept, scheme/path dropped
    val hosts = Seq("https://example.com/a?x=1", "http://example.com/a",
        "https://example.com:8443/a").toDF("u")
      .select(TextOps.urlHost(col("u")).as("h")).collect().map(_.getString(0))
    assert(hosts.toSeq === Seq("example.com", "example.com", "example.com:8443"))
    val rows = SparkEntry.queries("q_domain_stats")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every planted host is hN.com — www/port/scheme variants all fold in
    assert(rows.nonEmpty && rows.forall(_._1.matches("h[0-4]\\.com")), rows.mkString(","))
    val total = rows.map(_._2).sum
    assert(total === Tables.documents(spark, sfDir).count(),
      "every page lands in exactly one host bucket")
    rows.foreach { case (h, nPages, nRes, nToks) =>
      assert(nRes <= nPages, s"$h: resources exceed pages")
      assert(nToks > 0, s"$h: token mass missing")
    }
  }

  test("stripContainedSpans: host survives with the quote cut; source intact; drop form removes a doc") {
    import spark.implicits._
    val original = (1 to 20).map(i => s"w$i").mkString(" ")
    val trailer = (1 to 12).map(i => s"novel$i").mkString(" ")
    val other = "completely unrelated prose about something else entirely with many words"
    val docs = Seq(
      (1L, original),               // the quotation's source
      (2L, s"$original $trailer"),  // host: quotes doc 1 verbatim + novel commentary
      (3L, other))
      .toDF("doc_id", "text")
    val got = Dedup.stripContainedSpans(docs, "doc_id", "text",
        k = 3, containmentThreshold = 0.8, maxDocFrequency = 100, n = 8)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    assert(got(1L) === ((false, original)), "the quoted source must survive INTACT")
    assert(got(2L)._1, "the quoting doc must be flagged as host")
    assert(got(2L)._2 === trailer,
      s"the host must keep exactly its novel remainder: '${got(2L)._2}'")
    assert(got(3L) === ((false, other)), "untouched docs pass through normalized")
    // drop-vs-strip pinned BOTH ways on the same corpus: the d29 drop form
    // removes the whole non-minimum member; the strip form kept its novel
    // remainder above
    val dropSurvivors = Dedup.survivorsWithContainment(docs, "doc_id", "text",
        k = 3, numHashes = 64, numBands = 16, jaccardThreshold = 0.8,
        containmentThreshold = 0.8, maxDocFrequency = 100)
      .collect().map(_.getLong(0)).toSet
    assert(dropSurvivors === Set(1L, 3L),
      s"drop form must remove the host entirely: $dropSurvivors")
    // exact-tie orientation (mutual full containment): the LOWER id is the
    // excerpt and survives intact; the higher is the host and strips to
    // empty — the min-id survivor convention
    val dup = (1 to 20).map(i => s"t$i").mkString(" ")
    val tied = Seq((7L, dup), (8L, dup)).toDF("doc_id", "text")
    val tieGot = Dedup.stripContainedSpans(tied, "doc_id", "text",
        k = 3, containmentThreshold = 0.8, maxDocFrequency = 100, n = 8)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    assert(tieGot(7L) === ((false, dup)), "the lower id must survive untouched on a tie")
    assert(tieGot(8L) === ((true, "")), "the higher id must be the stripped host on a tie")
  }

  test("scriptMix: per-range counts, dominant tie order, NULL on letterless docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hello world 123"),        // latin + digits
      (2L, "привет мир"),             // pure cyrillic
      (3L, "你好"),                    // pure cjk
      (4L, "abc привет"),             // latin 3 vs cyrillic 6 → cyrillic
      (5L, "ab пр"),                  // 2 vs 2 tie → latin (deterministic order)
      (6L, "123 456 ..."))            // no letters → NULL dominant/share
      .toDF("doc_id", "text")
    val got = TextOps.scriptMix(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          Option(r.getString(6)), if (r.isNullAt(7)) None else Some(r.getDouble(7)))))
      .toMap
    assert(got(1L) === ((10L, 0L, 0L, 3L, Some("latin"), Some(1.0))))
    assert(got(2L) === ((0L, 9L, 0L, 0L, Some("cyrillic"), Some(1.0))))
    assert(got(3L) === ((0L, 0L, 2L, 0L, Some("cjk"), Some(1.0))))
    assert(got(4L)._5 === Some("cyrillic"))
    assert(got(4L)._6 === Some(0.6667))
    assert(got(5L)._5 === Some("latin"), "exact tie must break latin-first")
    assert(got(6L) === ((0L, 0L, 0L, 6L, None, None)))
  }

  test("registrableDomainMap: PSL longest-match incl. multi-label, wildcard, exception, default") {
    import spark.implicits._
    val hosts = Seq(
      "www.example.com", "news.example.com", "example.com", // plain com
      "b.blogspot.com", "x.b.blogspot.com",                 // private-section suffix
      "x.y.co.uk", "y.co.uk", "co.uk",                      // multi-label suffix
      "bar.ck", "x.bar.ck",                                 // wildcard *.ck
      "www.ck", "foo.www.ck",                               // exception !www.ck
      "foo.zz", "a.foo.zz",                                 // unknown TLD → default * rule
      "example.com:8443",                                   // port stripped
      "10.1.2.3",                                           // IPv4 → none
      "com")                                                // host IS a suffix → none
      .toDF("host")
    val got = TextOps.registrableDomainMap(hosts, "host")
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got("www.example.com") === Some("example.com"))
    assert(got("news.example.com") === Some("example.com"))
    assert(got("example.com") === Some("example.com"))
    // blogspot.com outranks com (longest match): each blog is its own site
    assert(got("b.blogspot.com") === Some("b.blogspot.com"))
    assert(got("x.b.blogspot.com") === Some("b.blogspot.com"))
    // co.uk outranks uk
    assert(got("x.y.co.uk") === Some("y.co.uk"))
    assert(got("y.co.uk") === Some("y.co.uk"))
    assert(got("co.uk") === None)
    // *.ck: every 2-label ck domain is itself a public suffix
    assert(got("bar.ck") === None)
    assert(got("x.bar.ck") === Some("x.bar.ck"))
    // !www.ck overrides the wildcard: suffix is ck, registrable www.ck
    assert(got("www.ck") === Some("www.ck"))
    assert(got("foo.www.ck") === Some("www.ck"))
    // the PSL's implicit * default: the bare TLD is the suffix
    assert(got("foo.zz") === Some("foo.zz"))
    assert(got("a.foo.zz") === Some("foo.zz"))
    assert(got("example.com:8443") === Some("example.com"))
    assert(got("10.1.2.3") === None)
    assert(got("com") === None)
    assert(got.size === hosts.count())
  }

  test("q_registrable_domain_stats: subdomains fold, each blogspot blog stays separate") {
    val rows = SparkEntry.queries("q_registrable_domain_stats")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // 5 sites × 3 registrables (hN.com, hN.blogspot.com, hN.co.uk) plus
    // the NULL group the IP-literal plants (bracketed IPv6 + dotted IPv4,
    // VERDICT r15 #7) roll into — first in Spark's ascending NULL order
    assert(rows.length === 16, rows.mkString(","))
    val (nullRows, named) = rows.partition(_._1 == null)
    assert(nullRows.length === 1 && rows.head._1 == null,
      "exactly one NULL-domain group, ordered first")
    // both IP literal hosts land in it
    assert(nullRows.head._2 === 2L, s"NULL group hosts: ${nullRows.head}")
    named.foreach { case (reg, nHosts, nPages, nToks) =>
      assert(reg.matches("h[0-4]\\.(com|blogspot\\.com|co\\.uk)"), reg)
      // hN.com absorbs both the www (canonical-stripped) and news hosts
      if (reg.endsWith(".com") && !reg.contains("blogspot"))
        assert(nHosts === 2L, s"$reg: got $nHosts hosts")
      else assert(nHosts === 1L, s"$reg: got $nHosts hosts")
      assert(nPages > 0 && nToks > 0)
    }
  }

  test("urlRuleFilter: robots precedence — longest match wins, allow beats disallow, implicit allow") {
    import spark.implicits._
    val pages = Seq(
      (1L, "https://x.com/p/1"), (2L, "https://x.com/p/12"),
      (3L, "https://x.com/p/12sub"), (4L, "https://x.com/p/3x"),
      (5L, "https://x.com/other"), (6L, "https://x.com"),
      (7L, "https://x.com/dup/page?q=1")).toDF("doc_id", "url")
    val rules = Seq("/p/1" -> false, "/p/12" -> true, "/p/3" -> false,
      "/dup" -> true, "/dup" -> false)
    val rows = TextOps.urlRuleFilter(pages, "doc_id", "url", rules).collect()
    val got = rows.map(r => r.getLong(0) ->
      ((Option(r.getString(3)), r.getBoolean(4)))).toMap
    assert(got(1L) === ((Some("/p/1"), false)))
    assert(got(2L) === ((Some("/p/12"), true)), "the longer allow must override /p/1")
    assert(got(3L) === ((Some("/p/12"), true)), "prefix semantics")
    assert(got(4L) === ((Some("/p/3"), false)))
    assert(got(5L) === ((None, true)), "no rule matches → implicit allow")
    assert(got(6L) === ((None, true)), "authority-only URL is the root path")
    assert(got(7L) === ((Some("/dup"), true)),
      "the identical pattern with both polarities: allow wins")
    val paths = rows.map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(paths(6L) === "/")
    assert(paths(7L) === "/dup/page", "query must not count as path")
  }

  test("urlRuleFilterPerDomain: per-domain election, cross-domain conflicts, broadcast rule dim") {
    import spark.implicits._
    val urls = Seq(
      // the SAME path, opposite polarity on two domains (VERDICT r17 #2)
      (1L, "https://a.one.com/p/1", "one.com"),
      (2L, "https://two.com/p/1", "two.com"),
      // longest match within one domain's rule set
      (3L, "https://three.com/p/12", "three.com"),
      (4L, "https://three.com/p/17", "three.com"),
      // identical pattern both polarities on one domain: allow wins
      (5L, "https://four.com/dup/x", "four.com"),
      // a domain with NO rule set, and a NULL domain (IP literal)
      (6L, "https://norules.com/p/1", "norules.com"),
      (7L, "https://192.0.2.1/p/1", null))
      .toDF("doc_id", "url", "dom")
    val dim = Seq(
      ("one.com", "/p/1", true), ("two.com", "/p/1", false),
      ("three.com", "/p/1", false), ("three.com", "/p/12", true),
      ("four.com", "/dup", true), ("four.com", "/dup", false),
      ("unused.example", "/", false)).toDF("domain", "rule", "allow")
    val out = TextOps.urlRuleFilterPerDomain(urls, "doc_id", "url", "dom", dim)
    val got = out.collect().map(r => r.getLong(0) ->
      ((Option(r.getString(4)), r.getBoolean(5)))).toMap
    assert(got(1L) === ((Some("/p/1"), true)),
      "/p/1 is allowed by one.com's OWN robots")
    assert(got(2L) === ((Some("/p/1"), false)),
      "…and disallowed by two.com's — the same path, decided per domain")
    assert(got(3L) === ((Some("/p/12"), true)), "longest match within the domain")
    assert(got(4L) === ((Some("/p/1"), false)))
    assert(got(5L) === ((Some("/dup"), true)), "allow beats disallow on the dup pattern")
    assert(got(6L) === ((None, true)), "no rule set for the domain → implicit allow")
    assert(got(7L) === ((None, true)), "NULL domain (IP literal) → implicit allow")
    // plan pin (VERDICT r17 #2): the rule dimension BROADCASTS and the
    // URL side never shuffles — one broadcast hash join + a codegen
    // election, nothing else
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the packed rule dim must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"the URL side must not shuffle for the rule probe:\n$plan")
    // identical-election guarantee: the global literal form and the
    // per-domain form share urlRuleDecisionFromPacked, so a dim holding
    // ONE domain's rules must reproduce urlRuleFilter on those URLs
    val oneDomain = Seq((10L, "https://three.com/p/12", "three.com"),
      (11L, "https://three.com/p/17", "three.com")).toDF("doc_id", "url", "dom")
    val viaDim = TextOps.urlRuleFilterPerDomain(oneDomain, "doc_id", "url", "dom",
        Seq(("three.com", "/p/1", false), ("three.com", "/p/12", true))
          .toDF("domain", "rule", "allow"))
      .select("doc_id", "path", "matched_rule", "allowed").collect().toSeq
    val viaLit = TextOps.urlRuleFilter(
        oneDomain.select("doc_id", "url"), "doc_id", "url",
        Seq("/p/1" -> false, "/p/12" -> true))
      .select("doc_id", "path", "matched_rule", "allowed").collect().toSeq
    assert(viaDim.sortBy(_.getLong(0)).map(_.toString) ===
      viaLit.sortBy(_.getLong(0)).map(_.toString))
  }

  test("urlRuleFilterForAgent: RFC 9309 agent-group election — named replaces *, specificity, fallback") {
    import spark.implicits._
    val urls = Seq(
      // * allows /p/1 on one.com but the crawl's own group disallows it
      (1L, "https://one.com/p/1", "one.com"),
      // …and a path only the REPLACED * group had a rule for: the named
      // group carries no match → implicit allow (groups do not merge)
      (2L, "https://one.com/q/1", "one.com"),
      // specificity: 'mybot/2.0' (exact) beats 'mybot' (prefix)
      (3L, "https://two.com/p/1", "two.com"),
      // a domain whose only group never matches → implicit allow
      (4L, "https://three.com/p/1", "three.com"),
      // *-group fallback when no named group matches
      (5L, "https://four.com/p/1", "four.com"))
      .toDF("doc_id", "url", "dom")
    val dim = Seq(
      ("one.com", "*", "/p/1", true), ("one.com", "*", "/q/", false),
      ("one.com", "mybot", "/p/1", false),
      ("two.com", "mybot", "/p/1", false),
      ("two.com", "mybot/2.0", "/p/1", true),
      ("three.com", "otherbot", "/", false),
      ("four.com", "*", "/p/1", false),
      ("four.com", "otherbot", "/p/1", true))
      .toDF("domain", "agent", "rule", "allow")
    val out = TextOps.urlRuleFilterForAgent(
      urls, "doc_id", "url", "dom", dim, "MyBot/2.0")
    val got = out.collect().map(r => r.getLong(0) ->
      ((Option(r.getString(4)), r.getBoolean(5)))).toMap
    assert(got(1L) === ((Some("/p/1"), false)),
      "the named group REPLACES * — same domain, same path, flipped by who asks")
    assert(got(2L) === ((None, true)),
      "the losing * group's /q/ disallow must not leak into the elected group")
    assert(got(3L) === ((Some("/p/1"), true)),
      "exact token beats prefix token (len 9 > 5)")
    assert(got(4L) === ((None, true)),
      "no matching group and no * group → RFC default allow")
    assert(got(5L) === ((Some("/p/1"), false)),
      "no named match → the * group elects (alen 0)")
    // agent matching is case-insensitive on both sides (MyBot vs mybot)
    // — got(1) and got(3) already prove it, both named tokens are lower
    // case against the mixed-case crawler string.
    // plan pin: identical probe plan to the agentless form — the agent
    // election is dimension prep, never per-URL work
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the packed rule dim must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"the URL side must not shuffle for the rule probe:\n$plan")
    // degenerate agreement: over a dimension with ONLY * groups, the
    // agent form must reproduce the agentless per-domain filter exactly
    // (the shared urlRuleProbePacked/urlRuleDecisionFromPacked core)
    val starOnly = Seq(("four.com", "*", "/p/1", false))
      .toDF("domain", "agent", "rule", "allow")
    val a = TextOps.urlRuleFilterForAgent(
        urls.where($"dom" === "four.com"), "doc_id", "url", "dom",
        starOnly, "anybot")
      .collect().map(_.toString).sorted
    val b = TextOps.urlRuleFilterPerDomain(
        urls.where($"dom" === "four.com"), "doc_id", "url", "dom",
        starOnly.select("domain", "rule", "allow"))
      .collect().map(_.toString).sorted
    assert(a === b)
  }

  test("recrawlStats: change counts from the fetch log; lag window and aggregate share ONE exchange") {
    import spark.implicits._
    val log = Seq(
      ("u1", 1L, "a"), ("u1", 3L, "b"), ("u1", 7L, "b"), ("u1", 9L, "c"),
      ("u2", 2L, "x"), ("u2", 8L, "x"),
      ("u3", 5L, "z"))
      .toDF("url", "epoch", "fp")
    val stats = TextOps.recrawlStats(log, "url", "epoch", "fp")
    val got = stats.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("u1") === ((4L, 9L, 2L)), "a→b and b→c change; b→b does not")
    assert(got("u2") === ((2L, 8L, 0L)))
    assert(got("u3") === ((1L, 5L, 0L)))
    // scale pin: the per-url lag window and the follow-up aggregate ride
    // the SAME url hash partitioning — one exchange total, never two.
    // Count DISTINCT plan ids: under AQE the executed-plan string prints
    // the one exchange twice (inside its materialized ShuffleQueryStage
    // and at its original site, same plan_id)
    val exchanges = "Exchange hashpartitioning[^\\n]*plan_id=(\\d+)".r
      .findAllMatchIn(stats.queryExecution.executedPlan.toString)
      .map(_.group(1)).toSet
    assert(exchanges.size === 1,
      s"expected the window and aggregate to share one url exchange, got $exchanges")
  }

  test("recrawlStatsAppend == rebuild: boundary changes counted, per-side changes kept") {
    import spark.implicits._
    // standing log (epochs < 10) and a later epoch (epochs >= 10) with
    // every merge arm planted:
    //  u1: internal change on BOTH sides + a boundary change (c≠d)
    //  u2: unchanged throughout — boundary must NOT count (b==b)
    //  u3: standing-only; u4: epoch-only (with an internal change)
    val standing = Seq(
      ("u1", 1L, "a"), ("u1", 5L, "c"),
      ("u2", 2L, "b"), ("u2", 6L, "b"),
      ("u3", 3L, "z"))
    val epoch = Seq(
      ("u1", 11L, "d"), ("u1", 15L, "d"),
      ("u2", 12L, "b"),
      ("u4", 13L, "p"), ("u4", 17L, "q"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("url", "n_fetches", "first_fetch", "last_fetch",
          "n_changes", "first_fp", "last_fp")
        .as[(String, Long, Long, Long, Long, String, String)]
        .collect().toSeq.sorted
    val appended = TextOps.recrawlStatsAppend(
      TextOps.recrawlStatsFull(standing.toDF("url", "epoch", "fp"),
        "url", "epoch", "fp"),
      epoch.toDF("url", "epoch", "fp"), "url", "epoch", "fp")
    val rebuilt = TextOps.recrawlStatsFull(
      (standing ++ epoch).toDF("url", "epoch", "fp"), "url", "epoch", "fp")
    assert(rows(appended) === rows(rebuilt))
    val got = rows(appended).map(r => r._1 -> r).toMap
    // u1: a→c (standing), c→d (BOUNDARY), d→d (epoch) = 2 changes
    assert(got("u1") === (("u1", 4L, 1L, 15L, 2L, "a", "d")))
    assert(got("u2") === (("u2", 3L, 2L, 12L, 0L, "b", "b")))
    assert(got("u3") === (("u3", 1L, 3L, 3L, 0L, "z", "z")))
    assert(got("u4") === (("u4", 2L, 13L, 17L, 1L, "p", "q")))
    // and the scheduler consumes the merged table unchanged:
    // u1 rate = 2 changes over 3 intervals = 666666 q6, age 20-15 = 5
    assert(TextOps.recrawlPriority(
        Seq("u1").toDF("u"), appended, "u", now = 20L)
      .select("url", "age", "change_rate_q6", "priority_q6")
      .as[(String, Long, Long, Long)].collect().toSeq ===
      Seq(("u1", 5L, 666666L, 3333330L)))
  }

  test("recrawlStatsAppend GUARD: an interleaved or replayed epoch raises instead of corrupting") {
    import spark.implicits._
    val standing = TextOps.recrawlStatsFull(
      Seq(("u1", 5L, "a"), ("u2", 6L, "b")).toDF("url", "epoch", "fp"),
      "url", "epoch", "fp")
    // epoch fetch at 5 for u1 — NOT strictly later than standing
    // last_fetch 5 (a replay); u2's 9 is fine
    val bad = Seq(("u1", 5L, "a"), ("u2", 9L, "b")).toDF("url", "epoch", "fp")
    val ex = intercept[Exception] {
      TextOps.recrawlStatsAppend(standing, bad, "url", "epoch", "fp").collect()
    }
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      while (c.getCause != null && (c.getCause ne c)) c = c.getCause
      Option(c.getMessage).getOrElse(t.toString)
    }
    assert(rootMsg(ex).contains("out-of-order or replayed epoch"),
      s"wrong failure: ${rootMsg(ex)}")
    // …and a clean later epoch still merges (the guard costs nothing)
    val ok = Seq(("u1", 7L, "c")).toDF("url", "epoch", "fp")
    assert(TextOps.recrawlStatsAppend(standing, ok, "url", "epoch", "fp")
      .where($"url" === "u1").select("n_fetches", "n_changes")
      .as[(Long, Long)].head() === ((2L, 1L)))
  }

  test("recrawlStatsDelete == rebuild: the purged url's whole history leaves; absent urls are no-ops") {
    import spark.implicits._
    val log = Seq(
      ("u1", 1L, "a"), ("u1", 5L, "b"),
      ("u2", 2L, "x"), ("u3", 3L, "z")).toDF("url", "epoch", "fp")
    val standing = TextOps.recrawlStatsFull(log, "url", "epoch", "fp")
    val out = TextOps.recrawlStatsDelete(standing,
      Seq("u1", "u_absent").toDF("url"), "url")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("url", "n_fetches", "n_changes")
        .as[(String, Long, Long)].collect().toSeq.sorted
    // delete == rebuild over the filtered log, exactly (one row per url)
    assert(rows(out) === rows(TextOps.recrawlStatsFull(
      log.where($"url" =!= "u1"), "url", "epoch", "fp")))
    // the removal set broadcasts (anti-join, never an index shuffle)
    assert(out.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"), "removal set must broadcast")
  }

  test("linkGraphDelete: subtract == rebuild over the complement; zero edges drop; over-removal raises") {
    import spark.implicits._
    val standing = Seq(
      ("a", "b", 3L), ("a", "c", 1L), ("b", "c", 2L))
      .toDF("src_domain", "dst_domain", "n_links")
    val removed = Seq(
      ("a", "b", 1L),   // partial: multiplicity drops 3 → 2
      ("a", "c", 1L))   // full: edge reaches zero and DROPS
      .toDF("src_domain", "dst_domain", "n_links")
    val got = graft.operators.GraphOps.linkGraphDelete(standing, removed)
      .as[(String, String, Long)].collect().toSeq.sorted
    assert(got === Seq(("a", "b", 2L), ("b", "c", 2L)))
    // a removal exceeding the standing multiplicity (or an edge the
    // graph never had) must raise, never emit a negative edge
    val over = Seq(("a", "b", 9L)).toDF("src_domain", "dst_domain", "n_links")
    val ex = intercept[Exception] {
      graft.operators.GraphOps.linkGraphDelete(standing, over).collect()
    }
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      while (c.getCause != null && (c.getCause ne c)) c = c.getCause
      Option(c.getMessage).getOrElse(t.toString)
    }
    assert(rootMsg(ex).contains("removal exceeds standing multiplicity"),
      s"wrong failure: ${rootMsg(ex)}")
  }

  test("seen-URL bloom: no false negatives, merge == rebuild, saturation yields the documented FPs") {
    import spark.implicits._
    val seen = (0 until 20).map(i => s"https://h$i.com/p/$i").toDF("url")
    val m = 64
    val k = 3
    // merge of arbitrary halves == one build over the whole set — the
    // packed words are a set union under bit_or
    def words(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toSeq.sorted
    val whole = TextOps.urlBloomBuild(seen, "url", m, k)
    val merged = TextOps.urlBloomMerge(
      TextOps.urlBloomBuild(seen.limit(7), "url", m, k),
      TextOps.urlBloomBuild(seen.except(seen.limit(7)), "url", m, k))
    assert(words(merged) === words(whole))
    // probe seen ∪ novel candidates: every seen url MUST read maybe_seen
    // (a bloom has no false negatives — the crawler's "definitely new"
    // certainty), and at 20 urls × 3 hashes in 64 bits the filter is
    // saturated enough that some novel url reads maybe_seen (the
    // documented FP arm — if none did, the probe would be vacuous)
    val novel = (0 until 50).map(i => s"https://novel$i.org/x").toDF("url")
    val got = TextOps.urlBloomProbe(seen.union(novel), "url", whole, m, k)
      .as[(String, Boolean)].collect().toMap
    assert(seen.as[String].collect().forall(got(_)),
      "false negative: a seen url read definitely-new")
    val fps = novel.as[String].collect().count(got(_))
    assert(fps > 0, "saturated 64-bit filter produced no FP — probe is vacuous")
    assert(fps < 50, "every novel url read seen — filter carries no signal")
    // a roomy filter on the same sets: same zero-false-negative
    // guarantee, and the novel set now reads overwhelmingly new
    val big = TextOps.urlBloomBuild(seen, "url", 4096, k)
    val got2 = TextOps.urlBloomProbe(seen.union(novel), "url", big, 4096, k)
      .as[(String, Boolean)].collect().toMap
    assert(seen.as[String].collect().forall(got2(_)))
    assert(novel.as[String].collect().count(got2(_)) < 5)
  }

  test("redactCards: only Luhn-valid runs redact; refs, short and overlong runs survive") {
    import spark.implicits._
    val docs = Seq(
      (1L, "pay 4242424242424242 now"),
      (2L, "order 1234567890123456 shipped"),
      (3L, "a 4111111111111111 b 378282246310005 c 4111111111111111"),
      (4L, "short 123456 run"),
      (5L, "twenty 12345678901234567890 digits")).toDF("doc_id", "text")
    val got = TextOps.redactCards(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((1L, 1L, "pay <CARD> now")))
    assert(got(2L) === ((1L, 0L, "order 1234567890123456 shipped")),
      "a Luhn-invalid run is an id, not a card — it must survive")
    assert(got(3L) === ((3L, 3L, "a <CARD> b <CARD> c <CARD>")),
      "n_cards counts occurrences, duplicates included")
    assert(got(4L) === ((0L, 0L, "short 123456 run")), "under 13 digits is no candidate")
    assert(got(5L) === ((0L, 0L, "twenty 12345678901234567890 digits")),
      "a 20-digit run is boundary-unmatchable, not a 19-digit card")
  }

  test("every declared query runs and every oracle name has a query") {
    val qs = SparkEntry.queries
    SparkEntry.oracleSql.keys.foreach(k => assert(qs.contains(k), s"oracle $k has no query"))
    // smoke the flagship
    assert(SparkEntry.entry(spark).count() > 0)
  }
}

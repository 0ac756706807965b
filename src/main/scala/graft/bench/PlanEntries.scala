package graft.bench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SessionConf, SparkEntry, Tables}
import graft.operators.{CoreOps, SkewOps, TextOps}

/** Plan-shape A/Bs: the same result computed by two plans, so the receipt
  * prices one planning decision (bucketing, AQE skew split, runtime bloom
  * filter, one-shuffle build, window group limit, histogram median,
  * checkpointed counts, HLL distinct). Each pair's comment says which arm
  * runs first and why. */
object PlanEntries {

  /** Broadcast off: at 100 TB neither side of a bench join broadcasts. */
  private val NoBroadcast = "spark.sql.autoBroadcastJoinThreshold" -> "-1"

  def apply(ctx: BenchContext): Seq[Entry] = {
    import ctx._

    val liTable = table("bench_li_b")
    val ordTable = table("bench_ord_b")
    def joinAgg(li: DataFrame, ord: DataFrame): DataFrame =
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum("l_quantity").as("qty"), count(lit(1)).as("n"))

    // shared frame of the distinct-users A/B: 20M events over 32 days and
    // ~1M users (multiplicative-hash spread), deterministic
    def distinctFrame: DataFrame = spark.range(0, 20000000L, 1, cpus)
      .select(pmod(col("id"), lit(32)).cast("int").as("day"),
        pmod(col("id") * lit(2654435761L), lit(1000003L)).as("user_id"))

    // shared frame of the median-filter A/B: 5M rows, 16 groups, md5-derived
    // round4-quantized scores (deterministic, layout-independent)
    def medianFrame: DataFrame =
      spark.range(5000000L).select(
        (col("id") % 16).cast("string").as("g"),
        (conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 10001L).cast("double")./(lit(10000.0)).as("q"),
        col("id"))

    // shared frame of the domain-cap A/B: 5M pages over 2000 registrable
    // domains with md5-derived priorities (deterministic)
    def domainCapFrame: DataFrame =
      spark.range(5000000L).select(
        concat(lit("d"), (col("id") % 2000).cast("string")).as("registrable_domain"),
        (conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 100000L).as("n_toks"),
        col("id").as("doc_id"))
    // both arms assert the identical kept count (2000 domains × 8), so a
    // semantics drift fails loudly instead of recording a timing for a
    // different computation
    def domainCap(name: String): Unit = {
      val w = Window.partitionBy("registrable_domain").orderBy(col("n_toks").desc, col("doc_id"))
      val kept = domainCapFrame
        .withColumn("rk", row_number().over(w)).where(col("rk") <= 8)
        .agg(count(lit(1))).collect()(0).getLong(0)
      require(kept == 16000L, s"$name kept $kept, expected 16000")
    }

    Seq(
      // Bucketed-storage A/B: the same lineitem⋈orders aggregation as a
      // plain shuffled join vs over bucketed tables (pay the shuffle once at
      // write time). Broadcast is disabled inside both join entries so they
      // measure the shuffle-join path. bucket_write creates the tables the
      // bucketed entry reads, so it runs first (include it when using
      // SPARK_GRAFT_BENCH_ONLY).
      Entry("colocated_join_bucket_write")(_.timed {
        graft.operators.Bucketing.writeBucketed(
          Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity"),
          liTable, buckets = cpus, Seq("l_orderkey"), Seq("l_orderkey"))
        graft.operators.Bucketing.writeBucketed(
          Tables.orders(spark, sfDir).select("o_orderkey", "o_orderpriority"),
          ordTable, buckets = cpus, Seq("o_orderkey"), Seq("o_orderkey"))
      }),
      Entry("colocated_join_plain")(lap => SessionConf.withConf(spark, NoBroadcast)(lap.timed {
        force(joinAgg(
          Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity"),
          Tables.orders(spark, sfDir).select("o_orderkey", "o_orderpriority")))
      })),
      Entry("colocated_join_bucketed")(lap => SessionConf.withConf(spark, NoBroadcast)(lap.timed {
        force(joinAgg(spark.table(liTable), spark.table(ordTable)))
      })),
      // AQE skew-join A/B: one hot key owns ~60% of a 20M-row fact side
      // (SkewOps.skewBenchJoin); with AQE skew handling the hot sort-merge
      // partition is split at runtime, without it one straggler task
      // serializes the stage. Thresholds are lowered so the ~190MB hot
      // partition counts as skewed at bench scale — at 100TB the 256MB
      // defaults fire on their own. Off first: any residual warmup bias
      // then favors the baseline, so the measured AQE win is conservative.
      Entry("skew_join_aqe_off")(lap => SessionConf.withConf(spark, NoBroadcast)(lap.timed {
        SessionConf.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
          force(SkewOps.skewBenchJoin(spark))
        }
      })),
      Entry("skew_join_aqe_on")(lap => SessionConf.withConf(spark, NoBroadcast)(lap.timed {
        SkewOps.withSkewTuning(spark, "8MB", "4MB")(force(SkewOps.skewBenchJoin(spark)))
      })),
      // Runtime bloom-filter semi-join reduction A/B: same selective
      // fact⋈dim join with the InjectRuntimeFilter rule off vs on
      // (thresholds lowered at bench scale; see SkewOps.withBloomTuning).
      // READ THE PROFILE, NOT THE WALL-CLOCK: single-box shuffle hits the
      // page cache, so the 498 MB → 5.8 MB wire cut and ~1.8× task-time
      // win (bench.json "profile") can hide behind the bloom's extra
      // sequential build stage in local wall time; on a cluster the wire
      // cut IS the result.
      Entry("runtime_bloom_off")(lap => SessionConf.withConf(spark, NoBroadcast)(lap.timed {
        SkewOps.withBloomTuning(spark, enabled = false)(force(SkewOps.bloomBenchJoin(spark)))
      })),
      Entry("runtime_bloom_on")(lap => SessionConf.withConf(spark, NoBroadcast)(lap.timed {
        SkewOps.withBloomTuning(spark, enabled = true)(force(SkewOps.bloomBenchJoin(spark)))
      })),
      // e2e corpus-build formulation A/B: the naive shape (e2e_build_joins)
      // computes each per-doc signal as its own DataFrame and reassembles
      // on doc_id — three doc_id joins plus a fingerprint-group semi-join —
      // while the shipped e2e_corpus_build gate computes all signals as
      // projections over ONE scan with a window-min survivor rule. Identical
      // rows out (the gate's DuckDB oracle pins them); the delta is pure
      // plan shape. Our design runs FIRST so any residual warmup bias lands
      // on it. READ THE PROFILE: at bench scale wall-clock nearly ties; the
      // structural win is stage count (5 vs 8) and task time (~1.6×).
      Entry("e2e_build_one_shuffle")(lap => SessionConf.withConf(spark, NoBroadcast)(lap.timed {
        force(SparkEntry.queries("e2e_corpus_build")(spark, sfDir))
      })),
      // Per-domain top-K A/B (the q_domain_cap claim): the rank<=K filter
      // over a row_number window plans WindowGroupLimit — per-partition
      // top-K heaps prune each group to K rows BEFORE the final per-group
      // sort — vs the same query with the optimizer rule disabled, which
      // sorts all 5M rows within groups. Heap arm FIRST.
      Entry("domain_cap_grouplimit")(_.timed(domainCap("domain_cap_grouplimit"))),
      Entry("domain_cap_fullwindow") { lap =>
        SessionConf.withConf(spark, "spark.sql.optimizer.windowGroupLimitThreshold" -> "-1") {
          lap.timed(domainCap("domain_cap_fullwindow"))
        }
      },
      // Histogram-median A/B: perGroupMedianFilter computes each group's
      // exact lower median from a (group × quantized-value) histogram — one
      // map-side-combinable aggregate at histogram cardinality — while the
      // naive form sorts the FULL corpus inside a per-group window to find
      // the median rank. Identical surviving counts; hist runs FIRST.
      Entry("median_filter_hist")(_.timed {
        force(CoreOps.perGroupMedianFilter(medianFrame, "g", "q")
          .groupBy("g").agg(count(lit(1)).as("kept")))
      }),
      Entry("median_filter_sortwindow")(_.timed {
        val frame = medianFrame
        val w = Window.partitionBy("g").orderBy("q", "id")
        val cw = Window.partitionBy("g")
        val thr = frame
          .withColumn("rn", row_number().over(w))
          .withColumn("tot", count(lit(1)).over(cw))
          .where(col("rn") === expr("(tot + 1) div 2"))
          .select(col("g"), col("q").as("__thr"))
        force(frame.join(thr, "g").where(col("q") >= col("__thr"))
          .groupBy("g").agg(count(lit(1)).as("kept")))
      }),
      // Checkpoint A/B for the JS-divergence count table: four consumers
      // derive from the (source, word) counts, so skipping the
      // materialization re-scans and re-tokenizes the corpus per consumer
      // (runtime exchange reuse recovers only part of it). Runs on the
      // 400k-doc parquet corpus: the sf-dir documents are too small for the
      // re-scan to register. Same result rows; materialized arm FIRST.
      Entry("source_divergence_ckpt")(_.timed {
        force(TextOps.sourceDivergence(divergenceCorpus, "source", "text"))
      }),
      Entry("source_divergence_nockpt")(_.timed {
        force(TextOps.sourceDivergence(divergenceCorpus, "source", "text", materialize = false))
      }),
      // Exact-vs-HLL distinct A/B on a 20M-row / 1M-user event frame:
      // countDistinct expands to a (day, user) distinct shuffle before
      // counting; approx_count_distinct (HLL++, rsd 2%) combines map-side
      // and never materializes the identity set. The sketch's error is
      // audited < 5%/day outside the timed region.
      Entry("distinct_users_exact")(_.timed {
        force(distinctFrame.groupBy("day").agg(countDistinct(col("user_id")).as("users")))
      }),
      Entry("distinct_users_hll")(_.timedAudited {
        force(distinctFrame
          .groupBy("day").agg(approx_count_distinct(col("user_id"), 0.02).as("users")))
      } { _ =>
        // one aggregate per count: combined with a distinct, the sketch
        // would run over Spark's distinct-expanded rows
        def perDay(users: Column): Map[Int, Long] = distinctFrame.groupBy("day")
          .agg(users).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val exact = perDay(countDistinct(col("user_id")))
        val approx = perDay(approx_count_distinct(col("user_id"), 0.02))
        require(approx.keySet == exact.keySet, s"HLL days ${approx.keySet} != exact days ${exact.keySet}")
        for ((day, ex) <- exact) {
          val ap = approx(day)
          require(math.abs(ap - ex).toDouble / ex < 0.05,
            s"HLL error out of band on day $day: exact=$ex approx=$ap")
        }
      }),
      Entry("e2e_build_joins")(lap => SessionConf.withConf(spark, NoBroadcast)(lap.timed {
        val docs = Tables.documents(spark, sfDir)
        val lang = TextOps.languageId(docs, "doc_id", "text").select("doc_id", "predicted_lang")
        val qual = TextOps.qualityScore(docs, "doc_id", "text").select("doc_id", "quality")
        val toks = TextOps.tokenStats(docs, "doc_id", "text").select("doc_id", "n_tokens")
        val keep = graft.operators.Dedup.exactDuplicateGroups(docs, "doc_id", "text")
          .select(col("keep_id").as("doc_id"))
        force(CoreOps.hashSplit(
          docs.select("doc_id").join(keep, "doc_id")
            .join(lang, "doc_id").join(qual, "doc_id").join(toks, "doc_id")
            .where(col("predicted_lang") === "en" && col("quality") >= 0.5),
          "doc_id", Seq("train" -> 80, "val" -> 10, "test" -> 10))
          .select("doc_id", "predicted_lang", "quality", "n_tokens", "split"))
      })))
  }
}

package graft.bench

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench
import graft.streaming.MemoryDrain
import graft.tools.{BenchReport, QueryProfiler}

/** The synthetic entry tables, the A/B agreement rule of the group runner,
  * and the memory-sink drain every streaming entry uses. No entry runs. */
class BenchEntriesSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // the tables only: building them reads no data
  private lazy val entries = BenchEntries.all(new BenchContext(spark, "unread-sf-dir", 2))

  test("the synthetic entries keep their names and sweep order") {
    assert(entries.map(_.name) === Seq(
      "synthetic_dp_t20", "utility_t100_reduced", "eager_dp_tws_timers_t20",
      "eager_dp_lazy_t20", "utility_t1000_reduced", "colocated_join_bucket_write",
      "colocated_join_plain", "colocated_join_bucketed", "skew_join_aqe_off",
      "skew_join_aqe_on", "runtime_bloom_off", "runtime_bloom_on",
      "e2e_build_one_shuffle", "domain_cap_grouplimit", "domain_cap_fullwindow",
      "median_filter_hist", "median_filter_sortwindow", "source_divergence_ckpt",
      "source_divergence_nockpt", "distinct_users_exact", "distinct_users_hll",
      "e2e_build_joins", "streaming_preference_epoch", "streaming_corpus_epoch",
      "streaming_corpus_epoch5_amortized", "streaming_semantic_epoch",
      "streaming_reduced_epoch", "streaming_hybrid_epoch", "streaming_drift_epoch",
      "streaming_retrieval_epoch", "streaming_mixture_epoch", "streaming_asset_epoch",
      "streaming_exact_epoch", "streaming_webingest_epoch", "streaming_frontier_epoch",
      "streaming_block_epoch", "bpe_train_corpus", "bpe_train_local",
      "bm25_index_delete_incremental", "bm25_index_rebuild", "phrase_bulk_batch",
      "phrase_per_query_loop", "phrase_stored_pruned", "phrase_stored_unpruned",
      "hamming_pairs_blocked", "hamming_pairs_allpairs", "block_winners_agg",
      "block_winners_window", "memorization_pairs", "memorization_occurrence",
      "microbatch_0_1gb", "microbatch_0_5gb", "microbatch_1_0gb", "microbatch_2_0gb",
      "microbatch_5_0gb", "microbatch_1_0gb_p4", "microbatch_1_0gb_p8",
      "microbatch_1_0gb_p16", "microbatch_0_5gb_p4", "microbatch_2_0gb_p16"))
  }

  test("every receipt arm is an entry, and the arms of a group agree or not together") {
    val names = entries.map(_.name).toSet
    // a misspelt arm would silently drop its receipt
    val arms = BenchReport.receiptGroups.flatten ++
      BenchReport.receiptClaims.flatMap { case (fast, slow, _) => Seq(fast, slow) }
    assert(arms.filterNot(names.contains).isEmpty)
    val agree = entries.map(e => e.name -> e.agree).toMap
    BenchReport.receiptGroups.foreach(g => assert(g.map(agree).distinct.size === 1, g))
  }

  test("agreeing arms: equal values pass, an unequal value fails the second arm, a lone arm is uncompared") {
    val harness = new Bench.Harness(spark, new QueryProfiler)
    def arm(name: String, v: Long) = Entry(name, agree = true)(_.timed(v))
    def walls(group: Seq[Entry]) = harness.runGroup(group, laps = 2).map(_._2.map(_.wall >= 0))
    assert(walls(Seq(arm("a", 7L), arm("b", 7L))) === Seq(Seq(true, true), Seq(true, true)))
    assert(walls(Seq(arm("a", 7L), arm("b", 8L))) === Seq(Seq(true, true), Seq(false, false)))
    assert(walls(Seq(arm("b", 8L))) === Seq(Seq(true, true)))
    // arms that are not declared `agree` are never compared
    assert(walls(Seq(Entry("c")(_.timed(1L)), Entry("d")(_.timed(2L)))) ===
      Seq(Seq(true, true), Seq(true, true)))
  }

  test("a kept frame lives through the audit and is released after the lap, also a failed one") {
    import org.apache.spark.storage.StorageLevel
    val harness = new Bench.Harness(spark, new QueryProfiler)
    val df = spark.range(10).toDF()
    val (stat, _) = harness.lap(Entry("kept") { lap =>
      val k = lap.keep(df)
      lap.timedAudited(k.count()) { _ =>
        assert(df.storageLevel === StorageLevel.MEMORY_AND_DISK)
        throw new IllegalStateException("audit fails")
      }
    })
    assert(stat.wall === -1.0)
    assert(df.storageLevel === StorageLevel.NONE)
  }

  test("the drain returns every row of every batch and leaves no query or view behind") {
    import spark.implicits._
    val viewsBefore = spark.catalog.listTables().collect().map(_.name).toSet
    val rows = MemoryDrain(spark, Seq(Seq(1, 2), Seq(3), Seq(4, 5, 6)))(_.map(_ * 10))(
      _.as[Int].collect().toSeq)
    assert(rows.sorted === Seq(10, 20, 30, 40, 50, 60))
    assert(spark.streams.active.isEmpty)
    assert(spark.catalog.listTables().collect().map(_.name).toSet === viewsBefore)
    // the flush option appends one row per flush event time
    val flushed = MemoryDrain(spark, Seq(Seq((new Timestamp(1000L), 1))),
        flush = Some((i: Int, ts: Timestamp) => (ts, -1 - i)))(identity)(
      _.as[(Timestamp, Int)].collect().toSeq)
    assert(flushed.sortBy(_._2).reverse === Seq(1, -1, -2).zip(Seq(1L) ++ MemoryDrain.FlushSeconds)
      .map { case (v, s) => (new Timestamp(s * 1000L), v) })
    assert(spark.streams.active.isEmpty)
  }
}

package graft.bench

import graft.dp.{CompositionMode, DpParams}
import graft.operators.{CoreOps, DpHistogram}
import graft.sources.SyntheticSource
import graft.tools.EagerBench

/** The DP-SQLP workloads: the §5.1 mechanism at reduced scale and the two
  * Algorithm-3 release policies. */
object DpEntries {

  def apply(ctx: BenchContext): Seq[Entry] = {
    import ctx._

    // the Algorithm-3 replay workload (a 200k-row job collected to the
    // driver), built on first use before either eager arm's timed body and
    // shared by both arms' laps, so neither entry times it
    lazy val eagerWorkload = EagerBench.workload(spark, 200000L, 20000, 5000, 20)

    // the §5.1 utility workload at reduced scale (1M users, 100k keys),
    // calibrated CSV-compat like UTILITY.md's full-scale runs
    def utility(t: Int): Unit = {
      val params = DpParams.calibrated(CompositionMode.ZcdpLinearCsvCompat,
        3.0, 2.0 / 3.0 * 1e-9, 3.0, 1.0 / 3.0 * 1e-9,
        maxTimeSteps = t, mu = 0L, maxContributionsPerUser = 32L,
        perRecordClamp = 1.0, thresholdFailureFraction = 0.5)
      val contrib = SyntheticSource.workload(spark, 1000000, 100000, t, 42L, 32L, cpus * 4)
      val preAgg = CoreOps.preAggregatePrevEpoch(contrib, "key", "epoch", "user_id", "value")
      force(DpHistogram.run(spark, preAgg, params, 42L))
    }

    Seq(
      // Zipf-keyed contributions → bounding-shaped pre-aggregation → full
      // DP mechanism over 20 epochs
      Entry("synthetic_dp_t20")(_.timed {
        val contrib = SyntheticSource.zipfContributions(spark, 2000000L, 100000, 50000, 20)
        val preAgg = CoreOps.preAggregatePrevEpoch(contrib.toDF(), "key", "epoch", "userId", "value")
        force(DpHistogram.run(spark, preAgg, DpParams.zeroNoise(20, mu = 10)))
      }),
      Entry("utility_t100_reduced")(_.timed(utility(100))),
      // Algorithm-3 release policies on one seeded workload and params
      // (EagerBench): watermark-eager vs lazy. The eager releases are
      // audited against the batch timeline of the same rows; a mismatch
      // fails the entry.
      Entry("eager_dp_tws_timers_t20") { lap =>
        val byEpoch = eagerWorkload
        lap.timedAudited {
          val releases = EagerBench.runEager(spark, byEpoch, 20, 42L)
          System.err.println(s"[bench] eager_dp_tws_timers_t20 releases=${releases.size}")
          releases
        } { releases =>
          val timeline = EagerBench.timeline(spark, byEpoch, 20, 42L)
          EagerBench.timelineMismatch(releases, timeline, byEpoch.map(_._1).max)
            .foreach(msg => throw new IllegalStateException(s"eager releases differ from the batch timeline: $msg"))
        }
      },
      // the lazy floor: silent releases defer to the key's next appearance
      Entry("eager_dp_lazy_t20") { lap =>
        val byEpoch = eagerWorkload
        lap.timed {
          val n = EagerBench.runLazy(spark, byEpoch, 20, 42L).size
          System.err.println(s"[bench] eager_dp_lazy_t20 releases=$n")
        }
      },
      // Second scale point along T: regression-guards the Algorithm-3
      // event-driven epoch walk's O(appearances) behavior — if a change
      // reintroduces an O(T) scan per key, this entry blows up ~10×
      // relative to utility_t100_reduced while the T=100 entry barely moves.
      Entry("utility_t1000_reduced")(_.timed(utility(1000))))
  }
}

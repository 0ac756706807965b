package graft.bench

import org.apache.spark.sql.functions._

import graft.operators.CoreOps
import graft.sources.SyntheticSource

/** The reference's byte-budget micro-batch grid: generate → clamp →
  * histogram at a total size (the reference's 31 B/tuple accounting) and
  * parallelism; GB/s = size / duration. */
object MicrobatchEntries {

  def apply(ctx: BenchContext): Seq[Entry] = {
    import ctx._

    // Parallelism in local mode = source partitions + shuffle partitions
    // capped to P, so at most P cores ever run concurrently — the
    // single-box analogue of P workers.
    def microbatch(gb: Double, parallelism: Int = cpus, suffix: String = ""): Entry =
      Entry(s"microbatch_${gb.toString.replace('.', '_')}gb$suffix") { lap =>
        graft.SessionConf.withConf(spark, "spark.sql.shuffle.partitions" -> parallelism.toString) {
          lap.timed {
            val contrib = SyntheticSource.zipfContributions(spark, SyntheticSource.recordsForGb(gb),
              100000, 50000, 1, partitions = parallelism)
            force(contrib.toDF()
              .withColumn("value", CoreOps.clamp(col("value"), 1.0))
              .groupBy("key").agg(sum(col("value")).as("count")))
            Gigabytes(gb)
          }
        }
      }

    Seq(
      microbatch(0.1),
      // reference strong-scaling sizes (run-scaling-benchmark.sh:27-34 uses
      // {0.5, 1, 2} GB; GB/s = size / duration, BEGIN→END == job wall-clock)
      microbatch(0.5),
      microbatch(1.0),
      // the reference's DEFAULT batch plan {1, 2, 5} GB
      // (MicroBatchConfig.java:33 DEFAULT_SIZES_GB) — completes point-for-
      // point comparability with BASELINE.md's grid
      microbatch(2.0),
      microbatch(5.0),
      // strong scaling: fixed 1 GB across parallelism {4, 8, 16}
      // (run-scaling-benchmark.sh:24-28 PARALLELISMS)
      microbatch(1.0, parallelism = 4, suffix = "_p4"),
      microbatch(1.0, parallelism = 8, suffix = "_p8"),
      microbatch(1.0, parallelism = 16, suffix = "_p16"),
      // weak scaling: 0.125 GB/worker × {4, 8, 16} workers → {0.5, 1, 2} GB
      // (run-scaling-benchmark.sh:30-34 WEAK_PER_WORKER_GB); the p8 point
      // (1 GB @ 8) is exactly the strong-scaling microbatch_1_0gb_p8 above
      microbatch(0.5, parallelism = 4, suffix = "_p4"),
      microbatch(2.0, parallelism = 16, suffix = "_p16"))
  }
}

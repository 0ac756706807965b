package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What the synthetic entries of one sweep share. */
final class BenchContext(val spark: SparkSession, val sfDir: String, val cpus: Int) {

  /** Force full materialization: every row and column flows to the noop
    * sink (`.count()` lets Catalyst elide sorts and answer some aggregates
    * from parquet footers). */
  def force(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private val runId = System.nanoTime()
  private val tables = scala.collection.mutable.LinkedHashSet.empty[String]

  /** A catalog table name private to this sweep (a killed run's orphaned
    * warehouse directory must not fail the next run's CREATE); the harness
    * drops it after the sweep. */
  def table(prefix: String): String = { val t = s"${prefix}_$runId"; tables += t; t }

  def dropTables(): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  /** The shared corpus of the divergence-checkpoint and BM25-delete A/Bs:
    * 400k docs × 40 tokens, 16 sources, 500-word vocabulary,
    * Murmur3-derived content, written to parquet ONCE (untimed) so the
    * un-checkpointed arm pays REAL scan amplification; an in-memory range
    * generator has no IO to amplify and reads as a false wash. */
  lazy val divergenceCorpusPath: String = {
    val path = graft.Scratch.processPath("divbench", ext = ".parquet")
    spark.range(0, 400000L, 1, cpus)
      .select(col("id").as("doc_id"),
        concat(lit("src"), pmod(col("id"), lit(16))).as("source"),
        array_join(expr("transform(sequence(1, 40), i -> concat('w', pmod(hash(id, i), 500)))"),
          " ").as("text"))
      .write.mode("overwrite").parquet(path)
    path
  }
  def divergenceCorpus: DataFrame = spark.read.parquet(divergenceCorpusPath)
}

/** One timed lap: wall seconds (-1 when the body, its audit or the A/B
  * agreement check failed) and the body's result (None when the lap
  * failed). */
final case class Timed[+R](wall: Double, value: Option[R])

/** The harness's side of one lap of one entry. */
trait Lap {

  /** `df` persisted (memory and disk) for this lap; the harness releases
    * it at the end of the lap, after the audit, also when the lap fails. */
  def keep(df: DataFrame): DataFrame

  /** Time `body` as this entry's lap. */
  def timed[R](body: => R): Timed[R] = timedAudited(body)(_ => ())

  /** Time `body`, then check its result with `audit` after the timing and
    * outside the entry's profile (an independent recomputation). The audit
    * runs only when the body succeeded; when it throws, the lap fails in
    * the bench result and in the profiler record alike. */
  def timedAudited[R](body: => R)(audit: R => Unit): Timed[R]
}

/** One synthetic bench entry.
  *
  * @param name  the entry's name in `bench.json` and in the profile
  * @param agree the entry is an arm of an A/B pair whose two arms must
  *              compute the same value, and its lap result is that value
  *              (see [[graft.Bench.Harness.runGroup]])
  * @param laps  a lap count that replaces the sweep's, for an entry that
  *              averages over inner laps of its own
  * @param run   one lap: untimed setup, then one `lap.timed` or
  *              `lap.timedAudited`, whose result it returns
  */
final case class Entry(name: String, agree: Boolean = false, laps: Option[Int] = None)(
    val run: Lap => Timed[Any])

/** The lap result of an entry that interleaves two arms of its own: per
  * inner lap, (our arm, the baseline arm) seconds. The harness reports
  * `fast` as the mean of our arm's seconds, records both arms' seconds in
  * `runs_detail` under `fast` and `slowDetail`, and decides the receipt
  * `receipt` by the median per-lap ratio. */
final case class InnerLaps(fast: String, slowDetail: String, receipt: String,
    pairs: Seq[(Double, Double)])

/** The lap result of a byte-budget entry: the gigabytes one lap processes
  * (reported as `<name>_gbps`, GB over the entry's seconds). */
final case class Gigabytes(gb: Double)

object BenchEntries {

  /** Every synthetic entry, in sweep order. Building the tables runs
    * nothing; each entry's inputs are built on its first lap. */
  def all(ctx: BenchContext): Seq[Entry] =
    DpEntries(ctx) ++ PlanEntries(ctx) ++ StreamingEntries(ctx) ++ TextEntries(ctx) ++
      MicrobatchEntries(ctx)
}

package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Plan auditor: prints the formatted physical plan of selected queries and
  * flags scale smells — missing parquet filter pushdown, full-schema scans,
  * non-broadcast joins against tiny dimensions, missing partial aggregation.
  * Per-run counters and identities print normalized (see [[normalized]]),
  * so two runs of the same plans diff clean.
  * Run: sbt 'runMain graft.tools.ExplainAudit [queryName ...]'
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        println(s"\n========== $name ==========")
        val df = fn(spark, sfDir)
        val plan = normalized(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        println(plan)
        // smells
        val smells = Seq.newBuilder[String]
        // only meaningful when the plan actually filters somewhere — a
        // full-table aggregation has nothing to push
        if (plan.contains("Scan parquet") && plan.contains("Filter")
            && !plan.contains("PushedFilters: ["))
          smells += "plan filters but no PushedFilters reached the parquet scan"
        if (plan.contains("ReadSchema: struct<") && Tables.fullWidthScan(plan))
          smells += "scan reads suspiciously many columns"
        if (plan.contains("SortMergeJoin") && (name.contains("mktsegment") || name.contains("semi_anti")))
          smells += "small-dimension join not broadcast"
        if (plan.contains("HashAggregate") && !plan.contains("partial"))
          smells += "aggregate without partial (map-side) phase"
        val s = smells.result()
        if (s.nonEmpty) println(s.mkString("!! SMELLS: ", "; ", ""))
      }
    }
    spark.stop()
  }

  /** `plan` with what differs between two runs of the same plan masked:
    * expression and exchange ids, JVM identity hashes and lambda class
    * names, and the pid in model-export paths. */
  def normalized(plan: String): String = Seq(
    "#\\d+" -> "#N", "plan_id=\\d+" -> "plan_id=N",
    "\\$\\$Lambda\\$\\d+/0x[0-9a-f]+" -> "\\$\\$Lambda", "@[0-9a-f]{4,}" -> "@H",
    "(/tmp/graft_[a-z0-9_]+?)_\\d+_" -> "$1_PID_"
  ).foldLeft(plan) { case (p, (regex, to)) => p.replaceAll(regex, to) }

  private object Tables {
    /** crude heuristic: a ReadSchema with more than 10 fields. */
    def fullWidthScan(plan: String): Boolean =
      "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan)
        .exists(m => m.group(1).count(_ == ',') > 10)
  }
}

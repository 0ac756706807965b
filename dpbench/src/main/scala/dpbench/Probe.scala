package dpbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial

import scala.collection.mutable

/** How a batch lap runs its layers. Untraced, the layers stay one lazy plan
  * that the sink executes. Traced, each layer's output is materialized inside
  * its own span, under a job group named after the layer, so that stages,
  * rows and plan metrics can be attributed to it. */
sealed trait Probe {
  def layer(name: String)(df: => DataFrame): DataFrame
  def sink(df: DataFrame): Array[Row]
}

object Untraced extends Probe {
  def layer(name: String)(df: => DataFrame): DataFrame = df
  def sink(df: DataFrame): Array[Row] = df.collect()
}

final class Traced(spark: SparkSession, val tracer: Tracer) extends Probe {
  val rowsOut = mutable.LinkedHashMap.empty[String, Long]
  val plans = mutable.HashMap.empty[String, SparkPlan]

  private def inGroup[A](group: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
  }

  def layer(name: String)(df: => DataFrame): DataFrame = {
    val (d, out) = tracer.span(name) {
      inGroup(name) { val d = df; (d, d.localCheckpoint(eager = true)) }
    }
    plans(name) = d.queryExecution.executedPlan
    rowsOut(name) = inGroup(Traced.Untimed)(out.count())
    out
  }

  def sink(df: DataFrame): Array[Row] = {
    val rows = tracer.span("sink")(inGroup("sink")(df.collect()))
    rowsOut("sink") = rows.length
    rows
  }
}

object Traced {
  /** Job group of the benchmark's own bookkeeping jobs (row counts). */
  val Untimed = "dpbench.untimed"
}

/** SQL metrics read from an executed plan, through adaptive query stages. */
object PlanMetrics extends AdaptiveSparkPlanHelper {

  private def rowsOf(p: SparkPlan): Option[Long] =
    p.metrics.get("numOutputRows").map(_.value).orElse(p match {
      case a: AdaptiveSparkPlanExec => rowsOf(a.executedPlan)
      case q: QueryStageExec => rowsOf(q.plan)
      case _ if p.children.size == 1 => rowsOf(p.children.head)
      case _ => None
    })

  /** Output rows of the partial (map-side) aggregates over their input rows:
    * 1 means partial aggregation folded nothing. */
  def partialAggRatio(plan: SparkPlan): Option[Double] = {
    val partial = collect(plan) {
      case a: BaseAggregateExec if a.aggregateExpressions.nonEmpty &&
          a.aggregateExpressions.forall(_.mode == Partial) => a
    }
    val pairs = partial.flatMap(a => for (o <- rowsOf(a); i <- rowsOf(a.child)) yield (o, i))
    val in = pairs.map(_._2).sum
    if (pairs.isEmpty || in == 0) None else Some(pairs.map(_._1).sum.toDouble / in)
  }

  private def seconds(nodes: Seq[SparkPlan], names: Set[String]): Double =
    nodes.flatMap(_.metrics).collect {
      case (n, m) if names(n) => if (m.metricType == "nsTiming") m.value / 1e9 else m.value / 1e3
    }.sum

  /** Sum of the named timing metrics over the plan, in seconds. */
  def timeS(plan: SparkPlan, names: Set[String]): Double =
    seconds(collect(plan)(PartialFunction.fromFunction(identity[SparkPlan])), names)

  /** The same over the plan's last stage: the nodes above its first shuffle. */
  def timeSAboveExchange(plan: SparkPlan, names: Set[String]): Double = {
    def top(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: ShuffleExchangeLike => Nil
      case _ => p +: p.children.flatMap(top)
    }
    seconds(top(plan), names)
  }
}

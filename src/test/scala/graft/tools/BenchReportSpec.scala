package graft.tools

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import scala.jdk.CollectionConverters._

/** The compact bench line is parsed from the last ~2000 chars of process
  * output by the driver; these tests pin the properties that gate held
  * against for four rounds: bounded length, valid JSON, headline coverage,
  * and a total that reflects ALL successful entries (shown or omitted).
  */
class BenchReportSpec extends AnyFunSuite with Matchers {

  private val mapper = new ObjectMapper

  private def parse(line: String) = mapper.readTree(line)

  // A suite shaped like the real one: ~90 entries with realistic name
  // lengths, a handful of headline workloads, one failure.
  private val headline = Seq(
    "synthetic_dp_t20", "utility_t100_reduced", "utility_t1000_reduced",
    "eager_dp_tws_timers_t20", "eager_dp_lazy_t20",
    "colocated_join_bucket_write", "colocated_join_plain", "colocated_join_bucketed",
    "skew_join_aqe_off", "skew_join_aqe_on",
    "microbatch_0_1gb", "microbatch_0_5gb", "microbatch_1_0gb",
    "microbatch_0_1gb_gbps", "microbatch_0_5gb_gbps", "microbatch_1_0gb_gbps")
  private val suite: Seq[(String, Double)] =
    (1 to 70).map(i => f"q_some_realistically_named_query_$i%02d" -> (i * 0.137)) ++
      headline.map(h => h -> 7.5) :+ ("q_broken_entry" -> -1.0)

  test("line fits the driver tail window and parses as JSON") {
    val line = BenchReport.compactLine(suite, headline, "/root/testdata/sf0.1")
    line.length should be <= 1800
    val node = parse(line)
    node.get("metric").asText() shouldBe "total"
    node.get("unit").asText() shouldBe "sec"
    node.get("sf").asText() shouldBe "/root/testdata/sf0.1"
  }

  test("headline workloads are always present") {
    val node = parse(BenchReport.compactLine(suite, headline, "sf"))
    val qs = node.get("queries")
    headline.foreach(h => withClue(h)(qs.has(h) shouldBe true))
  }

  test("value totals every successful entry, including omitted ones") {
    val node = parse(BenchReport.compactLine(suite, headline, "sf"))
    val expected = suite.collect { case (_, v) if v >= 0 => v }.sum
    node.get("value").asDouble() shouldBe expected +- 0.001
    node.get("n_all").asInt() shouldBe suite.count(_._2 >= 0)
    val shown = node.get("queries").size()
    node.get("omitted").asInt() shouldBe node.get("n_all").asInt() - shown
  }

  test("failed entries are listed, not silently dropped") {
    val node = parse(BenchReport.compactLine(suite, headline, "sf"))
    val failed = node.get("failed").elements().asScala.map(_.asText()).toSeq
    failed shouldBe Seq("q_broken_entry")
  }

  test("omission prefers keeping the slowest non-headline queries") {
    val node = parse(BenchReport.compactLine(suite, headline, "sf"))
    val qs = node.get("queries")
    // slowest non-headline entry (i=70) must be in; if anything was omitted
    // it should be from the fast end
    qs.has("q_some_realistically_named_query_70") shouldBe true
    if (node.get("omitted").asInt() > 0)
      qs.has("q_some_realistically_named_query_01") shouldBe false
  }

  test("eager timeline audit: equal below the last fed epoch, a subset at it, duplicates caught") {
    import graft.streaming.Release
    val timeline = Seq(Release("a", 0, 5L), Release("b", 1, 3L), Release("a", 2, 7L), Release("c", 2, 4L))
    EagerBench.timelineMismatch(timeline, timeline, lastFed = 2) shouldBe None
    // a data-free prediction at the last fed epoch may still be pending
    EagerBench.timelineMismatch(timeline.filterNot(_.key == "c"), timeline, lastFed = 2) shouldBe None
    // anything missing, extra or duplicated below the last fed epoch fails
    EagerBench.timelineMismatch(timeline.tail, timeline, lastFed = 2).get should include("below epoch 2")
    EagerBench.timelineMismatch(timeline :+ Release("b", 1, 3L), timeline, lastFed = 2).isDefined shouldBe true
    EagerBench.timelineMismatch(timeline.updated(1, Release("b", 1, 9L)), timeline, lastFed = 2).isDefined shouldBe true
    // at the last fed epoch a release the timeline lacks fails
    EagerBench.timelineMismatch(timeline :+ Release("d", 2, 1L), timeline, lastFed = 2).get should include("at epoch 2")
  }

  test("a pathologically large suite still renders under the cap") {
    val big = (1 to 500).map(i => f"q_extremely_long_query_name_padding_padding_$i%03d" -> i.toDouble)
    val line = BenchReport.compactLine(big, Seq.empty, "sf")
    line.length should be <= 1800
    parse(line).get("n_all").asInt() shouldBe 500
  }

  test("real Bench suite shape stays well under the cap") {
    // mirror of the actual r4 suite size (64 queries + 21 synthetic/gbps)
    val real = (1 to 64).map(i => f"d9b_quantized_lsh_topk_alias_$i%02d" -> 2.5) ++
      headline.map(_ -> 20.0)
    val line = BenchReport.compactLine(real, headline, "/root/testdata/sf0.1")
    line.length should be <= 1800
  }

  test("lapSummary: min of the laps, -1 when any lap failed, a single lap reports itself") {
    BenchReport.lapSummary(Seq(2.5, 1.25, 3.0)) shouldBe 1.25
    BenchReport.lapSummary(Seq(0.4)) shouldBe 0.4
    // a failed lap never hides behind a successful one's time, first or last
    BenchReport.lapSummary(Seq(-1.0, 0.9)) shouldBe -1.0
    BenchReport.lapSummary(Seq(0.9, -1.0)) shouldBe -1.0
    BenchReport.lapSummary(Seq(-1.0)) shouldBe -1.0
  }

  test("medianOf: odd and even counts, empty reads -1") {
    BenchReport.medianOf(Seq(3.0, 1.0, 2.0)) shouldBe 2.0
    BenchReport.medianOf(Seq(4.0, 1.0, 2.0, 3.0)) shouldBe 2.5
    BenchReport.medianOf(Seq(0.7)) shouldBe 0.7
    BenchReport.medianOf(Seq.empty) shouldBe -1.0
  }

  test("receipt claims: both arms in one interleaved group, no entry in two groups, known metric") {
    val groups = BenchReport.receiptGroups
    val members = groups.flatten
    withClue(s"entries in two groups: ${members.diff(members.distinct)}") {
      members.distinct.size shouldBe members.size
    }
    BenchReport.receiptClaims should not be empty
    BenchReport.receiptClaims.foreach { case (fast, slow, metric) =>
      withClue(s"$fast<$slow: ") {
        fast should not be slow
        // otherwise the claim has no paired laps and its receipt is silently
        // never emitted
        groups.exists(g => g.contains(fast) && g.contains(slow)) shouldBe true
        Set("wall", "shuffle_read_bytes", "input_bytes") should contain(metric)
      }
    }
  }
}

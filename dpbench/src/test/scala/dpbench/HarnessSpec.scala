package dpbench

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class HarnessSpec extends AnyFunSuite {

  private def replayRows(seed: Long) = {
    val keys = Gen.keyDist(1000)
    val budgets = Gen.budgetDist()
    (0L until 300L).flatMap(u => Gen.replayUser(seed, u, 100, 32, keys, budgets))
  }

  private def batchRows(seed: Long) = {
    val keys = Gen.keyDist(1000)
    (0L until 3000L).map(i => Gen.batchRecord(seed, i, 50, keys, 4, 5, 0))
  }

  test("generator is deterministic per seed and differs across seeds") {
    assert(replayRows(7) == replayRows(7))
    assert(batchRows(7) == batchRows(7))
    assert(replayRows(7) != replayRows(8))
    assert(batchRows(7) != batchRows(8))
  }

  test("generator follows the §5.1 shape: Zipf keys, budgets capped at C, epochs in range") {
    val rows = replayRows(3)
    assert(rows.groupBy(_.user).values.forall(_.size <= 32))
    assert(rows.forall(r => r.epoch >= 0 && r.epoch < 100))
    assert(rows.map(_.seq).distinct.size == rows.size)
    // P(k) ∝ (k + 1000)^-1.4: ranks 1..1000 are ~245x likelier than 50001..51000
    val keys = Gen.keyDist(100000)
    val ranks = (0L until 200000L).map(i => keys.sample(Gen.unit(Gen.hash(1, 9, i))))
    val head = ranks.count(_ <= 1000)
    val tail = ranks.count(r => r > 50000 && r <= 51000)
    assert(head > 50 * math.max(tail, 1), s"head $head, tail $tail")
  }

  test("injected faults are disjoint and near their share") {
    val rows = batchRows(11)
    assert(!rows.exists(r => r.misrouted && r.replayed))
    val route = rows.count(_.misrouted)
    val replay = rows.count(_.replayed)
    assert(route > 0 && route < 40, s"misrouted $route of 3000 at 5 per mille")
    assert(replay > 0 && replay < 40, s"replayed $replay of 3000 at 5 per mille")
  }

  test("stream queue delivers each replayed record again and counts every fault") {
    val rows = (0L until 3000L).map(i => Gen.batchRecord(5, i, 50, Gen.keyDist(100), 4, 5, (i / 1000).toInt))
    val q = StreamSealed.queue(rows, 3)
    val replayed = rows.filter(_.replayed)
    assert(q.map(_.records.size).sum == rows.size + replayed.size)
    assert(q.map(_.misrouted).sum == rows.count(_.misrouted))
    assert(q.map(_.replayed).sum == replayed.size)
    // epoch 1 opens with epoch 0's replays; the last epoch ends with its own
    val first = replayed.filter(_.epoch == 0).map(_.seq)
    assert(q(1).records.take(first.size).map(_.seq) == first)
    val last = replayed.filter(_.epoch == 2).map(_.seq)
    assert(q(2).records.takeRight(last.size).map(_.seq) == last)
    assert(q.take(2).forall(e => e.records.map(_.seq).distinct.size == e.records.size))
    assert(q.map(_.expectedAccepted).sum == rows.size - rows.count(_.misrouted))
  }

  test("percentile selection keeps at least ten samples beyond the percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.beyond(100, 0.9) == 10)
    assert(Stats.highestSupported(100).contains(0.9))
    assert(Stats.highestSupported(200).contains(0.95))
    assert(Stats.highestSupported(10).isEmpty)
    assert(Stats.highestSupported(99).contains(0.89))
    assert(Stats.highestSupported(20).contains(0.5))
    assert(Stats.nearestRank(xs, 0.9) == 90.0)
    assert(Stats.nearestRank(xs, 0.5) == 50.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("self time subtracts the union of direct children only") {
    val spans = Seq(
      Span(0, "lap", -1, 0, 100),
      Span(1, "outer", 0, 10, 50),
      Span(2, "inner1", 1, 10, 30),
      Span(3, "inner2", 1, 25, 45), // overlaps inner1 by 5
      Span(4, "b1", 0, 60, 90),
      Span(5, "stray", 0, 95, 120)) // runs past its parent's end
    val self = Tracer.selfTimes(spans)
    assert(self(0) == 100 - 40 - 30 - 5)
    assert(self(1) == 40 - 35)
    assert(self(2) == 20)
    assert(self(4) == 30)
  }

  test("tracer nests spans by call structure") {
    val t = new Tracer
    t.span("lap") { t.span("a")(()); t.span("b")(t.span("c")(())) }
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("lap").parent == -1)
    assert(byName("a").parent == byName("lap").id)
    assert(byName("c").parent == byName("b").id)
  }

  test("histogram digest ignores row order and sees every count") {
    val rows = Seq(Seq("a", 3L), Seq("b", 1L), Seq("c", 7L))
    assert(Stats.digest(rows) == Stats.digest(rows.reverse))
    assert(Stats.digest(rows) != Stats.digest(Seq(Seq("a", 3L), Seq("b", 2L), Seq("c", 7L))))
    assert(Stats.digest(rows) != Stats.digest(rows.take(2)))
    assert(Stats.digest(rows).matches("[0-9a-f]{16}"))
    assert(Stats.digest(Nil) == "e3b0c44298fc1c14") // SHA-256 of nothing
  }

  test("BENCHMARK.json declares exactly the metrics the harness emits") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val json = mapper.readTree(new java.io.File("../BENCHMARK.json"))
    def declared(field: String) =
      json.get(field).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(declared("end_to_end") == Metrics.endToEnd)
    assert(declared("per_layer") == Metrics.perLayer)
    val workloads = json.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
    assert(workloads.nonEmpty && workloads.forall(Main.workloads.contains))
  }
}

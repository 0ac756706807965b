package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry
import graft.queries.ModelQueries

/** Pins the Bradley–Terry training that the q_bt_ratings oracle cannot
  * replay in SQL: the MM fixed point against the 2-item closed form, rating
  * order on a transitive tournament, determinism, and the zero-win guard. */
class PreferenceSpec extends AnyFunSuite {

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

  test("two items: MM converges to the closed-form MLE ratio w_ab/w_ba") {
    // a beats b 3 times, b beats a once -> r_a/r_b = 3; sum-normalized to
    // k=2: r_a = 1.5, r_b = 0.5
    val r = Preference.btRatingsLocal(
      Seq((("a", "b"), 3L), (("b", "a"), 1L)), iters = 200).toMap
    assert(math.abs(r("a") - 1.5) < 1e-9)
    assert(math.abs(r("b") - 0.5) < 1e-9)
  }

  test("transitive tournament: ratings strictly follow dominance order") {
    val m = Seq((("a", "b"), 5L), (("b", "a"), 1L),
      (("b", "c"), 5L), (("c", "b"), 1L),
      (("a", "c"), 5L), (("c", "a"), 1L))
    val r = Preference.btRatingsLocal(m, iters = 100).toMap
    assert(r("a") > r("b") && r("b") > r("c"))
    assert(math.abs(r.values.sum - 3.0) < 1e-9) // sum normalization
  }

  test("training is bit-deterministic and zero-win items rate 0") {
    val m = Seq((("a", "b"), 2L), (("a", "c"), 1L), (("b", "c"), 4L))
    val r1 = Preference.btRatingsLocal(m, iters = ModelQueries.BtIters)
    val r2 = Preference.btRatingsLocal(m, iters = ModelQueries.BtIters)
    assert(r1 === r2)
    assert(r1.toMap.apply("c") === 0.0) // c never wins
  }

  test("comparisonsFromEvents: lag pairing, tie rules, and same-item drop") {
    import spark.implicits._
    // one user, four events in time order: A(1.0) B(2.0) B(5.0) C(2.0)
    //   A->B : B wins (2>1); B->B : dropped; B->C : tie at... 5 vs 2 -> B
    // second user: ties X(1.0) Y(1.0) -> lexicographic least X wins
    val ev = Seq(
      (1L, 10L, 100L, "A", 1.0), (2L, 20L, 100L, "B", 2.0),
      (3L, 30L, 100L, "B", 5.0), (4L, 40L, 100L, "C", 2.0),
      (5L, 10L, 200L, "X", 1.0), (6L, 20L, 200L, "Y", 1.0))
      .toDF("event_id", "ts_us", "user_id", "item", "value")
    val out = Preference.comparisonsFromEvents(ev,
        "user_id", "ts_us", "event_id", "item", "value")
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(out === Map(("B", "A") -> 1L, ("B", "C") -> 1L, ("X", "Y") -> 1L))
  }

  test("q_bt_ratings gate: wins/losses reconcile and ratings order by win rate at sf0.001") {
    val rows = SparkEntry.queries("q_bt_ratings")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    val totalWins = rows.map(_._2).sum
    val totalLosses = rows.map(_._3).sum
    assert(totalWins === totalLosses) // every comparison has one of each
    for ((_, w, l, n, _) <- rows) assert(n === w + l)
    // sum normalization survives the round4 projection approximately
    assert(math.abs(rows.map(_._5).sum - rows.length.toDouble) < 1e-2)
  }
}

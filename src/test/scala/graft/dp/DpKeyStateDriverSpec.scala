package graft.dp

import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable
import scala.util.Random

/** The per-key driver every Spark DP operator calls (`DpKeyState.appear`,
  * `fireDue`, `replay`) against the single-node reference
  * [[StreamingDpMechanism]], plus the rules for late, replayed, predicted
  * and out-of-horizon epochs. */
class DpKeyStateDriverSpec extends AnyFunSuite {

  private val T = 16
  // σ > 0, a μ gate and a loose threshold: sparse keys stay below the gate
  // and Algorithm 3 predicts noise-alone releases for them
  private val params = DpParams(sigmaKey = 2.0, sigmaHist = 3.0,
    thresholdQuantile = Stats.inverseNormalCdf(1 - 0.3), maxTimeSteps = T, mu = 3, maxContributionsPerUser = 64)

  /** Seeded sparse workload: per epoch, (key, user, value) rows. */
  private def workload(seed: Long): IndexedSeq[Seq[(String, String, Double)]] = {
    val rnd = new Random(seed)
    IndexedSeq.tabulate(T) { _ =>
      (0 until 30).flatMap { k =>
        if (rnd.nextDouble() < 0.2)
          (0 until 1 + rnd.nextInt(4)).map(_ => (s"k$k", s"u${rnd.nextInt(40)}", rnd.nextInt(4).toDouble))
        else Nil
      }
    }
  }

  /** Drives one state per key the way the Spark operators do: per epoch,
    * each appearing key's users as previous-appearance counts, then (when
    * `tick`) every key's predictions due by that epoch. Returns the emitted
    * (key, epoch, count) releases and the carried-forward histogram after
    * each epoch. */
  private def drive(seed: Long, epochs: IndexedSeq[Seq[(String, String, Double)]], tick: Boolean)
      : (Seq[(String, Int, Long)], Seq[Seq[(String, Long)]]) = {
    val states = mutable.HashMap.empty[String, DpKeyState]
    val lastSeen = mutable.HashMap.empty[(String, String), Int]
    val releases = mutable.ArrayBuffer.empty[(String, Int, Long)]
    val latest = mutable.HashMap.empty[String, Long]
    def emit(key: String): DpKeyState.Emit = (e, c) => { releases += ((key, e, c)); latest(key) = c }
    val histograms = epochs.indices.map { e =>
      epochs(e).groupBy(_._1).toSeq.sortBy(_._1).foreach { case (key, rows) =>
        val users = rows.map(_._2).distinct
        val prevCounts = users.map(u => (lastSeen.getOrElse((key, u), -1), 1L))
        users.foreach(u => lastSeen((key, u)) = e)
        states.getOrElseUpdate(key, DpKeyState.seeded(params, seed, key))
          .appear(e, prevCounts, rows.map(_._3).sum, emit(key))
      }
      if (tick) states.foreach { case (key, st) => st.fireDue(e + 1, emit(key)) }
      latest.toSeq.sortBy { case (k, c) => (-c, k) }
    }
    states.foreach { case (key, st) => st.fireDue(T, emit(key)) }
    (releases.toSeq, histograms)
  }

  /** A key whose single appearance at epoch 0 leaves a pending prediction. */
  private lazy val (predSeed, predUsers, predEpoch) = (1L to 500L).view.flatMap { seed =>
    (1 to 2).view.flatMap { n =>
      val st = DpKeyState.seeded(params, seed, "lonely")
      st.appear(0, Seq((-1, n.toLong)), n.toDouble)
      if (st.currentSum.isEmpty) st.predictedRelease.filter(_ < T - 1).map(p => (seed, n, p)) else None
    }
  }.headOption.getOrElse(fail("no seed leaves a pending prediction — tune params"))

  private def lonely(): DpKeyState = {
    val st = DpKeyState.seeded(params, predSeed, "lonely")
    st.appear(0, Seq((-1, predUsers.toLong)), predUsers.toDouble)
    assert(st.predictedRelease.contains(predEpoch))
    st
  }

  private def recorder(): (mutable.ArrayBuffer[(Int, Long)], DpKeyState.Emit) = {
    val buf = mutable.ArrayBuffer.empty[(Int, Long)]
    (buf, (e, c) => buf += ((e, c)))
  }

  test("driver equals StreamingDpMechanism on seeded sparse workloads, epoch by epoch") {
    var predictedFired = 0
    for (seed <- 1L to 20L) {
      val epochs = workload(seed)
      val mech = new StreamingDpMechanism(params, (k, p) => NoiseSource.seeded(NoiseSource.seedFor(seed, k, p)))
      val reference = epochs.map { rows =>
        rows.foreach { case (k, u, v) => mech.addContribution(u, k, v) }
        mech.snapshot()
      }
      val (ticked, histograms) = drive(seed, epochs, tick = true)
      assert(histograms === reference, s"seed $seed")
      // lazy firing (no ticks) releases the same rows, only later
      val (lazyReleases, _) = drive(seed, epochs, tick = false)
      assert(lazyReleases.sortBy(r => (r._1, r._2)) === ticked.sortBy(r => (r._1, r._2)), s"seed $seed")
      val appearances = epochs.zipWithIndex.flatMap { case (rows, e) => rows.map(r => (r._1, e)) }.toSet
      predictedFired += ticked.count { case (k, e, _) => !appearances.contains((k, e)) }
    }
    assert(predictedFired > 0, "no Algorithm-3 prediction fired: the workload does not exercise it")
  }

  test("a late or replayed epoch changes no state and releases nothing") {
    def continueFrom(ignored: Boolean): Seq[(Int, Long)] = {
      val st = DpKeyState.seeded(params, 7L, "k")
      st.appear(0, Seq((-1, 5L)), 4.0)
      st.appear(2, Seq((-1, 1L), (0, 2L)), 3.0)
      if (ignored) {
        val before = (st.lastEpoch, st.predictedRelease, st.currentSum)
        val (none, emit) = recorder()
        st.appear(1, Seq((-1, 9L)), 50.0, emit) // late
        st.appear(2, Seq((-1, 9L)), 50.0, emit) // replayed
        st.appear(T, Seq((-1, 9L)), 50.0, emit) // beyond the horizon
        assert(none.isEmpty)
        assert((st.lastEpoch, st.predictedRelease, st.currentSum) === before)
      }
      val (out, emit) = recorder()
      st.appear(5, Seq((-1, 4L), (2, 1L)), 6.0, emit)
      st.fireDue(T, emit)
      out.toSeq
    }
    // the ignored epochs leave the future exactly as without them
    assert(continueFrom(ignored = true) === continueFrom(ignored = false))
  }

  test("a pending prediction fires at its own epoch before a later appearance") {
    val st = lonely()
    val (out, emit) = recorder()
    st.appear(predEpoch + 1, Seq((0, 1L)), 2.0, emit)
    assert(out.nonEmpty && out.head._1 === predEpoch, out)
    assert(out.map(_._1).forall(e => e == predEpoch || e == predEpoch + 1))
    assert(st.lastEpoch === predEpoch + 1)
  }

  test("an appearance at the predicted epoch consumes the prediction") {
    val st = lonely()
    val (out, emit) = recorder()
    st.appear(predEpoch, Seq((-1, 3L)), 2.0, emit)
    assert(out.map(_._1) === Seq(predEpoch))
    assert(!st.predictedRelease.contains(predEpoch))
    st.fireDue(T, emit)
    assert(out.count(_._1 == predEpoch) === 1)
  }

  test("fireDue(e + 1) fires exactly the predictions due by e; fireDue(T) drains every one") {
    val st = lonely()
    val (out, emit) = recorder()
    st.fireDue(predEpoch, emit)
    assert(out.isEmpty && st.predictedRelease.contains(predEpoch))
    st.fireDue(predEpoch + 1, emit)
    assert(out.map(_._1) === Seq(predEpoch))

    val pending = (1L to 500L).iterator.map { seed =>
      val s = DpKeyState.seeded(params, seed, "lonely")
      s.appear(0, Seq((-1, 1L)), 1.0)
      s
    }.filter(_.predictedRelease.isDefined).take(5).toSeq
    assert(pending.nonEmpty)
    pending.foreach { s =>
      val p = s.predictedRelease.get
      val (drained, e) = recorder()
      s.fireDue(T, e)
      assert(s.predictedRelease.isEmpty)
      assert(drained.map(_._1) === Seq(p))
    }
  }

  test("the batch fold replays out-of-order rows in epoch order and rejects an epoch >= T") {
    val rows = Seq((2, 1L, 2.0), (0, 4L, 5.0), (1, 2L, 1.0))
    def fold(rs: Seq[(Int, Long, Double)], emit: DpKeyState.Emit) =
      DpKeyState.replay(params, 3L, "k", rs.iterator, emit)(_._1)((st, r) => st.appear(r._1, Seq((-1, r._2)), r._3, emit))
    val (shuffled, e1) = recorder()
    val (ordered, e2) = recorder()
    fold(rows, e1)
    fold(rows.sortBy(_._1), e2)
    assert(shuffled === ordered)
    intercept[IllegalArgumentException](fold(rows :+ ((T, 1L, 1.0)), DpKeyState.Silent))
    intercept[IllegalArgumentException](fold(rows :+ ((-1, 1L, 1.0)), DpKeyState.Silent))
  }
}

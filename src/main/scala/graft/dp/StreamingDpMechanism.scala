package graft.dp

import scala.collection.mutable

/** DP-SQLP parameters consumed by the mechanism (already calibrated). */
final case class DpParams(
    sigmaKey: Double,
    sigmaHist: Double,
    thresholdQuantile: Double,
    maxTimeSteps: Int,
    mu: Long,
    maxContributionsPerUser: Long) {
  require(mu >= 0, "mu must be non-negative")
  require(maxContributionsPerUser > 0, "maxContributionsPerUser must be positive")
  require(java.lang.Double.isFinite(thresholdQuantile) && thresholdQuantile > 0,
    "thresholdQuantile must be a positive finite value")
}

object DpParams {
  /** Zero-noise deterministic mode — the reference's own test strategy
    * (StreamingDPMechanismTest.java:92-138) and the oracle-comparable mode.
    * quantile = Φ⁻¹(1 − 1e-5), but τ = σ·q = 0 anyway. */
  def zeroNoise(maxTimeSteps: Int, mu: Long = 0L, c: Long = Long.MaxValue / 2): DpParams =
    DpParams(0.0, 0.0, Stats.inverseNormalCdf(1.0 - 1e-5), maxTimeSteps, mu, c)

  /** Calibrated from a privacy budget via [[Calibration.calibrate]]. */
  def calibrated(
      composition: CompositionMode,
      epsilonK: Double, deltaK: Double,
      epsilonH: Double, deltaH: Double,
      maxTimeSteps: Int, mu: Long,
      maxContributionsPerUser: Long,
      perRecordClamp: Double,
      thresholdFailureFraction: Double): DpParams = {
    val cal = Calibration.calibrate(composition, epsilonK, deltaK, epsilonH, deltaH,
      maxContributionsPerUser, maxTimeSteps, perRecordClamp, thresholdFailureFraction)
    DpParams(cal.sigmaKey, cal.sigmaHist, cal.thresholdQuantile, maxTimeSteps, mu, maxContributionsPerUser)
  }
}

/** Serializable recipe for building a noisy aggregation tree — plain data
  * (no closures) so per-key state survives Kryo/state-store round trips. */
final case class TreeSpec(steps: Int, sigma: Double, noise: NoiseSource) extends Serializable {
  def build(): BinaryAggregationTree = BinaryAggregationTree(steps, sigma, noise)
}

/** Earliest-crossing index over a fixed curve: segment max-tree answering
  * "smallest t ≥ from with g(t) ≥ x" in O(log n). Backs the O(log T)
  * Algorithm-3 prediction (see [[DpKeyState]]); the tree is rebuilt lazily
  * after state-store deserialization. */
final class PredictionIndex(g: Array[Double]) extends Serializable {
  private val n = g.length
  @transient private lazy val seg: Array[Double] = {
    var size = 1
    while (size < n) size *= 2
    val t = Array.fill(2 * size)(Double.NegativeInfinity)
    var i = 0
    while (i < n) { t(size + i) = g(i); i += 1 }
    i = size - 1
    while (i >= 1) { t(i) = math.max(t(2 * i), t(2 * i + 1)); i -= 1 }
    t
  }
  @transient private lazy val size: Int = seg.length / 2

  /** Smallest index in [from, n) with g(idx) ≥ x, or -1. */
  def earliestAtLeast(from: Int, x: Double): Int = {
    if (from >= n) return -1
    def descend(node: Int, lo: Int, hi: Int): Int = {
      if (hi < from || seg(node) < x) -1
      else if (lo == hi) lo
      else {
        val mid = (lo + hi) / 2
        val left = descend(2 * node, lo, mid)
        if (left >= 0) left else descend(2 * node + 1, mid + 1, hi)
      }
    }
    val r = descend(1, 0, size - 1)
    if (r >= n) -1 else r
  }
}

/** Per-key DP-SQLP state machine — Algorithms 1 (streaming private key
  * selection), 2 (hierarchical perturbation), and 3 (empty-key release
  * prediction) for ONE aggregation key, stepped once per epoch.
  *
  * This is the unit that lives inside Spark keyed state
  * (`flatMapGroupsWithState` / `transformWithState`, keyed by the aggregation
  * key); [[StreamingDpMechanism]] drives a map of these for single-node use.
  * Behavior mirrors the reference's per-key slice of
  * confidentialstorm/enclave/.../dp/StreamingDPMechanism.java:297-561:
  *
  *   - selection tree accumulates NEW unique users per round (dedup against
  *     `observedUsers`, sensitivity 1 per user-key pair);
  *   - gate: tree prefix sum ≥ μ + τ, τ = sqrt(Honaker variance) · Φ⁻¹(1−β);
  *   - on release: buffered ΔV joins the histogram tree at the current leaf,
  *     the released noisy prefix sum becomes `currentSum`, and the selection
  *     round resets (tree + observed users dropped);
  *   - if not selected but the key appeared: simulate future steps with no new
  *     data and record the earliest predicted noise-alone release epoch;
  *   - a key must be re-processed at its predicted epoch even with no data.
  *
  * [[appear]] and [[fireDue]] are the one driver every Spark DP operator
  * calls: they decide when the key steps and what it releases, so the rule
  * for late, replayed and out-of-horizon epochs lives here and nowhere else.
  * [[StreamingDpMechanism]] keeps its own epoch loop as the single-node
  * reference the driver is tested against.
  */
final class DpKeyState(
    params: DpParams,
    keyTreeSpec: TreeSpec,
    histTreeSpec: TreeSpec)
    extends Serializable {

  private var keyTree: BinaryAggregationTree = _
  private var histTree: BinaryAggregationTree = _
  private val observedUsers = mutable.HashSet.empty[String]
  private var unreleasedBuffer: Double = 0.0
  private var predictedReleaseTime: Int = -1
  private var released: Boolean = false
  private var currentSumValue: Double = 0.0
  /** Users counted into the selection tree this round (Σ new unique users). */
  private var roundUsers: Long = 0L
  /** First epoch of the current selection round: a user counts as new iff
    * their previous appearance (if any) predates this. Advanced to
    * `releaseEpoch + 1` on every release — the epoch-indexed equivalent of
    * clearing `observedUsers`, and the state that lets callers feed
    * pre-deduplicated prev-epoch counts instead of user identities. */
  private var roundStartEpoch: Int = 0
  /** O(log T) Algorithm-3 prediction support. Every datum of the current
    * round sits at leaves ≤ the current epoch, so for any future step trP the
    * noisy statistic decomposes as `roundUsers + N₀(trP)` with N₀ the tree's
    * data-free (noise-only) prefix estimate. The gate
    * `roundUsers + N₀(trP) ≥ μ + τ(trP)` is therefore
    * `G(trP) ≥ μ − roundUsers` over the FIXED per-round curve
    * `G = N₀ − τ`, and the earliest crossing is a segment-tree descent.
    * The reference rescans all future steps on every unselected appearance
    * (runEmptyKeyPrediction, StreamingDPMechanism.java:465-496) — the CPU
    * hotspot it documents for T=1000; this replaces each O(T·log T) rescan
    * with O(log T), bit-identically. */
  private var predictionCurve: PredictionIndex = _
  private var lastEpochValue: Int = -1

  /** Last epoch this key stepped through, −1 before its first step. */
  def lastEpoch: Int = lastEpochValue

  /** Latest released noisy sum, if this key was ever selected. */
  def currentSum: Option[Double] = if (released) Some(currentSumValue) else None

  /** Predicted noise-alone release epoch from Algorithm 3, if any. */
  def predictedRelease: Option[Int] = if (predictedReleaseTime >= 0) Some(predictedReleaseTime) else None

  /** Step this key through epoch `timeStep`.
    *
    * @param timeStep    current epoch index (0-based, < maxTimeSteps)
    * @param windowUsers unique users contributing to this key this epoch
    * @param deltaV      sum of clamped contributions for this key this epoch
    * @param appeared    whether the key had data this epoch (vs. forced
    *                    processing at a predicted release time)
    * @return the newly released noisy sum, if the key was selected this epoch
    */
  def processEpoch(timeStep: Int, windowUsers: Iterable[String], deltaV: Double, appeared: Boolean): Option[Double] = {
    // Algo 1 step 7 (identity form): only NEW unique users this round count.
    // O(round users) state — fine for single-node/monitoring use; the
    // distributed path feeds [[processEpochPrevCounts]] instead.
    if (keyTree == null) observedUsers.clear()
    var newUniqueUsers = 0L
    windowUsers.foreach { u => if (observedUsers.add(u)) newUniqueUsers += 1 }
    processEpochCore(timeStep, newUniqueUsers, deltaV, appeared)
  }

  /** Step this key through epoch `timeStep` with the window's users given as
    * previous-appearance-epoch counts instead of identities: `prevCounts`
    * holds (prev, n) = n distinct users of this key whose latest appearance
    * before this epoch was at `prev` (−1 = never). A user is NEW to the round
    * iff `prev < roundStartEpoch` — exactly the `observedUsers` semantics,
    * because `prev` is the LATEST prior appearance. State stays O(T); the
    * caller computes prev epochs relationally (a lag window over (key, user))
    * so no user identity ever reaches per-key state — the hot-key fix:
    * a Zipf-hot key with 10M users previously held all 10M strings here. */
  def processEpochPrevCounts(timeStep: Int, prevCounts: Iterable[(Int, Long)], deltaV: Double, appeared: Boolean): Option[Double] = {
    var newUniqueUsers = 0L
    prevCounts.foreach { case (prev, n) => if (prev < roundStartEpoch) newUniqueUsers += n }
    processEpochCore(timeStep, newUniqueUsers, deltaV, appeared)
  }

  /** The key appears at `epoch` with its users as previous-appearance-epoch
    * counts (see [[processEpochPrevCounts]]). In order: an epoch ≤
    * [[lastEpoch]] (late or replayed) or ≥ T is ignored and changes nothing;
    * the predictions due before it fire at their own epochs; the key steps;
    * every release goes to `emit` as (epoch, max(0, round(sum))). */
  def appear(epoch: Int, prevCounts: Iterable[(Int, Long)], deltaV: Double,
      emit: DpKeyState.Emit = DpKeyState.Silent): Unit =
    appearWith(epoch, emit)(processEpochPrevCounts(epoch, prevCounts, deltaV, appeared = true))

  /** [[appear]] with the window's user identities (see [[processEpoch]]). */
  def appearUsers(epoch: Int, users: Iterable[String], deltaV: Double,
      emit: DpKeyState.Emit = DpKeyState.Silent): Unit =
    appearWith(epoch, emit)(processEpoch(epoch, users, deltaV, appeared = true))

  private def appearWith(epoch: Int, emit: DpKeyState.Emit)(step: => Option[Double]): Unit =
    if (epoch > lastEpochValue && epoch < params.maxTimeSteps) {
      fireDue(epoch, emit)
      step.foreach(s => emit(epoch, DpKeyState.releasedCount(s)))
    }

  /** Fires every pending Algorithm-3 prediction before epoch `until` at its
    * own epoch, with no data. A stream's epoch tick passes `e + 1`; the end
    * of the stream (a state timer, the batch tail) passes T. */
  def fireDue(until: Int, emit: DpKeyState.Emit = DpKeyState.Silent): Unit = {
    var p = predictedReleaseTime
    while (p > lastEpochValue && p < until && p < params.maxTimeSteps) {
      processEpochPrevCounts(p, Nil, 0.0, appeared = false).foreach(s => emit(p, DpKeyState.releasedCount(s)))
      p = predictedReleaseTime
    }
  }

  private def processEpochCore(timeStep: Int, newUniqueUsers: Long, deltaV: Double, appeared: Boolean): Option[Double] = {
    require(timeStep >= 0 && timeStep < params.maxTimeSteps, s"timeStep $timeStep out of range")
    lastEpochValue = timeStep

    // Algo 2 step 7: accumulate ΔV since last release.
    unreleasedBuffer += deltaV

    // Algo 3 case 1: key appeared before its predicted time — drop prediction.
    if (appeared && predictedReleaseTime > timeStep) predictedReleaseTime = -1
    // Being processed at (or past) the predicted time consumes the prediction.
    if (predictedReleaseTime >= 0 && predictedReleaseTime <= timeStep) predictedReleaseTime = -1

    // Algo 1 step 5: lazily (re-)create the selection tree for a fresh round.
    if (keyTree == null) {
      keyTree = keyTreeSpec.build()
      roundUsers = 0L
      predictionCurve = null
    }

    keyTree.addToTree(timeStep, newUniqueUsers.toDouble)
    roundUsers += newUniqueUsers

    // Algo 1 steps 8-9: gate on the noisy unique-user prefix sum.
    val noisyUniqueUsers = keyTree.getTotalSum(timeStep)
    val tau = math.sqrt(keyTree.getHonakerVariance(timeStep)) * params.thresholdQuantile
    if (noisyUniqueUsers >= params.mu.toDouble + tau) {
      // Selected: Algo 2 hierarchical perturbation over the histogram tree.
      if (histTree == null) histTree = histTreeSpec.build()
      histTree.addToTree(timeStep, unreleasedBuffer)
      val noisySum = histTree.getTotalSum(timeStep)
      currentSumValue = noisySum
      released = true
      unreleasedBuffer = 0.0
      // §4.4: restart the key-selection round after a release. Appearances at
      // or before this epoch are forgotten: roundStartEpoch = timeStep + 1.
      keyTree = null
      observedUsers.clear()
      roundStartEpoch = timeStep + 1
      predictedReleaseTime = -1
      predictionCurve = null
      roundUsers = 0L
      Some(noisySum)
    } else {
      // Algo 3: for unselected keys that appeared, predict the earliest
      // epoch at which noise alone crosses the gate (no new data assumed) —
      // O(log T) via the per-round noise curve (see predictionCurve doc).
      // The curve builds lazily on the first unselected appearance, so hot
      // keys (always released) and zero-noise runs never pay for it:
      // N0(t) = getTotalSum(t) − roundUsers recovers the data-free prefix at
      // any point in the round (all round data sits below every future leaf).
      if (appeared && predictedReleaseTime < 0) {
        if (predictionCurve == null) {
          val g = new Array[Double](params.maxTimeSteps)
          var t = 0
          while (t < params.maxTimeSteps) {
            g(t) = (keyTree.getTotalSum(t) - roundUsers) -
              math.sqrt(keyTree.getHonakerVariance(t)) * params.thresholdQuantile
            t += 1
          }
          predictionCurve = new PredictionIndex(g)
        }
        val idx = predictionCurve.earliestAtLeast(timeStep + 1, params.mu.toDouble - roundUsers)
        if (idx >= 0) predictedReleaseTime = idx
      }
      None
    }
  }
}

object DpKeyState {
  /** Receives one release: (epoch, released count). */
  type Emit = (Int, Long) => Unit
  val Silent: Emit = (_, _) => ()

  /** The key's state with both noise trees seeded from (runSeed, key): a
    * task retry or a restart re-derives bit-identical noise. */
  def seeded(params: DpParams, runSeed: Long, key: String): DpKeyState =
    new DpKeyState(params,
      TreeSpec(params.maxTimeSteps, params.sigmaKey,
        NoiseSource.seeded(NoiseSource.seedFor(runSeed, key, "key"))),
      TreeSpec(params.maxTimeSteps, params.sigmaHist,
        NoiseSource.seeded(NoiseSource.seedFor(runSeed, key, "hist"))))

  /** One key's batch replay: `rows` step the driver through `appear` in
    * epoch order, then the predictions still pending fire up to T. The
    * driver ignores an epoch ≥ T, as a stream must; in a batch it is
    * malformed input and fails. */
  def replay[R](params: DpParams, runSeed: Long, key: String, rows: Iterator[R], emit: Emit = Silent)(
      epochOf: R => Int)(appear: (DpKeyState, R) => Unit): DpKeyState = {
    val state = seeded(params, runSeed, key)
    rows.toSeq.sortBy(epochOf).foreach { r =>
      val e = epochOf(r)
      require(e >= 0 && e < params.maxTimeSteps, s"epoch $e out of range [0, ${params.maxTimeSteps})")
      appear(state, r)
    }
    state.fireDue(params.maxTimeSteps, emit)
    state
  }

  /** A released noisy sum as published: rounded, negatives clamped to 0. */
  def releasedCount(sum: Double): Long = math.max(0L, math.round(sum))
}

/** Single-node DP-SQLP mechanism: drives a forest of [[DpKeyState]] across
  * epochs and produces the carried-forward noisy histogram each epoch —
  * behavioral equivalent of the reference's `StreamingDPMechanism`
  * (confidentialstorm/enclave/.../dp/StreamingDPMechanism.java). The staging
  * double-buffer + lock of the reference is unnecessary here: ingestion
  * batches are handed to [[snapshot]] directly (in Spark, the shuffle and the
  * micro-batch barrier play that role).
  */
final class StreamingDpMechanism(
    params: DpParams,
    noiseFor: (String, String) => NoiseSource = (_, _) => NoiseSource.secure()) extends Serializable {

  private val states = mutable.HashMap.empty[String, DpKeyState]
  private val staging = mutable.HashMap.empty[String, (Double, mutable.HashSet[String])]
  private var timeStep = 0

  def currentTimeStep: Int = timeStep

  private def stateFor(key: String): DpKeyState =
    states.getOrElseUpdate(key, new DpKeyState(
      params,
      TreeSpec(params.maxTimeSteps, params.sigmaKey, noiseFor(key, "key")),
      TreeSpec(params.maxTimeSteps, params.sigmaHist, noiseFor(key, "hist"))))

  /** Records one bounded, clamped contribution in the current window. */
  def addContribution(userId: String, key: String, clampedCount: Double): Unit = {
    val entry = staging.getOrElseUpdate(key, (0.0, mutable.HashSet.empty[String]))
    staging.update(key, (entry._1 + clampedCount, entry._2 += userId))
  }

  /** Advances one epoch: processes the window's keys plus any keys whose
    * predicted release falls on this epoch, then emits the full
    * carried-forward histogram (desc by count, negatives clamped to 0). */
  def snapshot(): Seq[(String, Long)] = {
    val window = staging.toMap
    staging.clear()

    if (timeStep >= params.maxTimeSteps) {
      states.filterInPlace((_, st) => st.currentSum.isDefined)
      return produceHistogram()
    }

    val keysToProcess = mutable.HashSet.empty[String]
    keysToProcess ++= window.keys
    states.foreach { case (k, st) => if (st.predictedRelease.contains(timeStep)) keysToProcess += k }

    keysToProcess.foreach { key =>
      val (deltaV, users) = window.getOrElse(key, (0.0, mutable.HashSet.empty[String]))
      stateFor(key).processEpoch(timeStep, users, deltaV, appeared = window.contains(key))
    }

    timeStep += 1
    produceHistogram()
  }

  /** Carried-forward histogram: every ever-released key at its latest noisy
    * sum, rounded, clamped at 0, sorted by count desc (ties by key asc for
    * deterministic output — the reference leaves tie order unspecified). */
  def produceHistogram(): Seq[(String, Long)] =
    states.iterator
      .flatMap { case (k, st) => st.currentSum.map(s => (k, DpKeyState.releasedCount(s))) }
      .toSeq
      .sortBy { case (k, c) => (-c, k) }
}

package graft.dp

import java.security.SecureRandom

/** Per-node standard-Gaussian noise provider for [[BinaryAggregationTree]].
  *
  * The reference seeds every tree node with `SecureRandom.nextGaussian * sigma`
  * (reference: confidentialstorm/enclave/.../dp/BinaryAggregationTree.java:258-269).
  * We generalize to a pluggable source so the engine additionally supports:
  *
  *   - [[NoiseSource.Zero]]   — σ=0 determinism, the reference's own unit-test
  *     strategy (StreamingDPMechanismTest.java:92-138) and the basis of the
  *     DuckDB-oracle correctness harness.
  *   - [[NoiseSource.seeded]] — noise derived deterministically from
  *     (seed, nodeIndex). A Spark task retry regenerates bit-identical noise,
  *     which makes the distributed mechanism idempotent without having to
  *     persist drawn noise in the state store.
  *   - [[NoiseSource.secure]] — `SecureRandom`, production parity.
  */
trait NoiseSource extends Serializable {
  /** Standard normal draw for tree node `nodeIndex` (deterministic sources
    * must return the same value for the same index every call). */
  def standardGaussian(nodeIndex: Int): Double
}

object NoiseSource {

  /** σ=0 mode: no noise at all. */
  case object Zero extends NoiseSource {
    override def standardGaussian(nodeIndex: Int): Double = 0.0
  }

  /** Deterministic noise: SplitMix64-mixed (seed, nodeIndex) → two uniforms →
    * Box–Muller. Same (seed, index) always yields the same draw; ~20 ns per
    * draw, which matters because tree pre-seeding at 1 M keys × 255 nodes is
    * on the mechanism's startup path. */
  final case class Seeded(seed: Long) extends NoiseSource {
    override def standardGaussian(nodeIndex: Int): Double = {
      val h1 = Mix.mix64(seed ^ Mix.mix64(nodeIndex.toLong + 0x9E3779B97F4A7C15L))
      val u1 = Mix.uniform01(h1)
      val u2 = Mix.uniform01(Mix.mix64(h1))
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
    }
  }

  def seeded(seed: Long): NoiseSource = Seeded(seed)

  /** Cryptographically random noise (non-reproducible), reference parity. */
  final class Secure extends NoiseSource {
    @transient private lazy val rnd = new SecureRandom()
    override def standardGaussian(nodeIndex: Int): Double = rnd.nextGaussian()
  }

  def secure(): NoiseSource = new Secure

  /** Derive a per-(run, key, purpose) seed so every tree in a forest gets an
    * independent deterministic noise stream. */
  def seedFor(runSeed: Long, key: String, purpose: String): Long = {
    var h = Mix.mix64(runSeed)
    var i = 0
    while (i < key.length) { h = Mix.mix64(h ^ key.charAt(i).toLong); i += 1 }
    i = 0
    while (i < purpose.length) { h = Mix.mix64(h ^ purpose.charAt(i).toLong); i += 1 }
    h
  }
}

/** SplitMix64 finalizer — public-domain mixing constants (Steele et al.). */
private[graft] object Mix {
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in (0, 1): top 53 bits, nudged away from exact 0. */
  def uniform01(bits: Long): Double = {
    val u = (bits >>> 11) * 1.1102230246251565e-16 // 2^-53
    if (u <= 0.0) Double.MinPositiveValue else u
  }
}

/** Small numeric helpers shared by the DP layer. Delegates to commons-math3
  * (ships in Spark's jar dir), matching the reference's own dependency for
  * `NormalDistribution.inverseCumulativeProbability` (DPUtil.java:570-575). */
object Stats {
  private val stdNormal =
    new org.apache.commons.math3.distribution.NormalDistribution(null, 0.0, 1.0)

  /** Φ⁻¹(p): inverse standard-normal CDF. Stateless and thread-safe. */
  def inverseNormalCdf(p: Double): Double = {
    require(p > 0.0 && p < 1.0, s"p must lie in (0,1); got $p")
    stdNormal.inverseCumulativeProbability(p)
  }
}

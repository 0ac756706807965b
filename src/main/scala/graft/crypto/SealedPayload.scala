package graft.crypto

import java.nio.charset.StandardCharsets
import java.security.SecureRandom
import javax.crypto.Cipher
import javax.crypto.spec.{GCMParameterSpec, IvParameterSpec, SecretKeySpec}

/** Supported AEAD schemes — reference:
  * confidentialstorm/enclave/.../crypto/EncryptionScheme.java:8-75. All use
  * 256-bit keys and 12-byte nonces; GCM adds a 128-bit tag. */
sealed abstract class Scheme(val cipherAlgorithm: String, val keyAlgorithm: String)
object Scheme {
  case object ChaCha20Poly1305 extends Scheme("ChaCha20-Poly1305", "ChaCha20")
  case object Aes256Gcm extends Scheme("AES/GCM/NoPadding", "AES")

  /** The scheme a pipeline names: "chacha20" or "aes-gcm". Any other name
    * throws, so a misspelt name never selects an unintended scheme. */
  def parse(name: String): Scheme = name match {
    case "chacha20" => ChaCha20Poly1305
    case "aes-gcm" => Aes256Gcm
    case other => throw new IllegalArgumentException(
      s"unknown AEAD scheme '$other' (expected chacha20 or aes-gcm)")
  }
}

/** AEAD seal/unseal codec with canonical-JSON AAD binding — the portable
  * essence of the reference's confidential envelope
  * (confidentialstorm/enclave/.../crypto/SealedPayload.java:79-210). In the
  * Spark engine this is a serializable codec used inside `map`/UDFs over
  * sealed `BinaryType` columns; there is no enclave boundary, so "sealing"
  * provides data-at-rest/in-shuffle confidentiality plus AAD-bound routing
  * validation with identical verification semantics.
  */
final class SealedPayload(keyBytes: Array[Byte], val scheme: Scheme = Scheme.ChaCha20Poly1305)
    extends Serializable {
  require(keyBytes != null && keyBytes.length == 32, "key must be 32 bytes (256 bits)")

  private val GcmTagLengthBits = 128
  private val key = keyBytes.clone()
  @transient private lazy val rnd = new SecureRandom()

  private def cipher(mode: Int, nonce: Array[Byte], aad: Array[Byte]): Cipher = {
    val c = Cipher.getInstance(scheme.cipherAlgorithm)
    val spec = scheme match {
      case Scheme.Aes256Gcm => new GCMParameterSpec(GcmTagLengthBits, nonce)
      case Scheme.ChaCha20Poly1305 => new IvParameterSpec(nonce)
    }
    c.init(mode, new SecretKeySpec(key, scheme.keyAlgorithm), spec)
    if (aad.nonEmpty) c.updateAAD(aad)
    c
  }

  /** Seals plaintext with a fresh random nonce and the canonical AAD bytes. */
  def seal(plaintext: Array[Byte], aad: Aad): EncryptedValue = {
    val aadBytes = aad.toBytes
    val nonce = new Array[Byte](EncryptedValue.NonceLength)
    rnd.nextBytes(nonce)
    val ct = cipher(Cipher.ENCRYPT_MODE, nonce, aadBytes).doFinal(plaintext)
    EncryptedValue(aadBytes, nonce, ct)
  }

  /** Seals with a caller-supplied nonce — for deterministic tests only. */
  def sealWithNonce(plaintext: Array[Byte], aad: Aad, nonce: Array[Byte]): EncryptedValue = {
    val aadBytes = aad.toBytes
    EncryptedValue(aadBytes, nonce, cipher(Cipher.ENCRYPT_MODE, nonce, aadBytes).doFinal(plaintext))
  }

  /** Unseals; throws `AEADBadTagException` (wrapped in SecurityException) on
    * any AAD/ciphertext tamper, mirroring the reference's failure mode. */
  def unseal(sealedValue: EncryptedValue): Array[Byte] = {
    try cipher(Cipher.DECRYPT_MODE, sealedValue.nonce, sealedValue.associatedData).doFinal(sealedValue.ciphertext)
    catch {
      case e: java.security.GeneralSecurityException =>
        throw new SecurityException(s"unseal failed (${scheme.cipherAlgorithm}): tampered or wrong key", e)
    }
  }

  def sealString(s: String, aad: Aad): EncryptedValue =
    seal(s.getBytes(StandardCharsets.UTF_8), aad)

  def unsealString(sealedValue: EncryptedValue): String =
    new String(unseal(sealedValue), StandardCharsets.UTF_8)

  def unsealLong(sealedValue: EncryptedValue): Long = unsealString(sealedValue).toLong
  def unsealDouble(sealedValue: EncryptedValue): Double = unsealString(sealedValue).toDouble

  /** Route validation: decoded AAD must name the expected edge — reference
    * SealedPayload.isRouteValid:150-161 + ConfidentialBoltService.verify:216-234.
    *
    * The AAD is parsed BEFORE AEAD authentication, so the bytes are untrusted:
    * any parse failure (malformed JSON, non-numeric seq, truncation) means
    * route-invalid — a corrupted or adversarial record must become a dropped
    * record, never a task-killing exception. */
  def isRouteValid(sealedValue: EncryptedValue, expectedSource: String, expectedDestination: String): Boolean =
    try {
      val aad = Aad.fromBytes(sealedValue.associatedData)
      aad.matchesSource(expectedSource) && aad.matchesDestination(expectedDestination)
    } catch { case scala.util.control.NonFatal(_) => false }
}

object SealedPayload {
  /** The reference's test key 000102…1e1f (WordCountEnclaveConfigProvider.java:13). */
  def testKey: Array[Byte] = Array.tabulate[Byte](32)(_.toByte)
}

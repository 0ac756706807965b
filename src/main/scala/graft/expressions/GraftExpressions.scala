package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's hot paths.
  *
  * Why custom expressions (SURVEY §4.3 preference order): Spark's
  * higher-order functions (`zip_with` + `aggregate`) are `CodegenFallback` —
  * every pairwise dot product in the similarity operators runs interpreted,
  * allocating a lambda evaluation per element. [[DotProduct]] compiles to a
  * tight primitive loop inside whole-stage codegen. [[L2Normalize]] stays
  * `CodegenFallback` deliberately: it runs once per vector (cold), not once
  * per pair, and producing arrays in generated code buys little.
  *
  * Left-fold evaluation order is preserved exactly, so results are
  * bit-identical to the higher-order-function formulation (and to the DuckDB
  * oracle's `list_reduce`).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) { sum += x.getDouble(i) * y.getDouble(i); i += 1 }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** L2-normalizes a double array (zero-norm arrays pass through unchanged). */
case class L2Normalize(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_l2_normalize"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var ss = 0.0
    var i = 0
    while (i < n) { val v = x.getDouble(i); ss += v * v; i += 1 }
    val norm = math.sqrt(ss)
    if (norm == 0.0) x
    else {
      val out = new Array[Double](n)
      i = 0
      while (i < n) { out(i) = x.getDouble(i) / norm; i += 1 }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): L2Normalize =
    copy(child = newChild)
}

/** AEAD unseal as an expression: (aad, nonce, ciphertext) binary columns →
  * plaintext string, or null on route mismatch / authentication failure
  * (drop-on-tamper, matching ConfidentialBoltService's SecurityException
  * path). The codec rides along as a codegen reference object, so the
  * expression stays inside whole-stage codegen as a method invocation. */
case class AeadUnseal(
    aadExpr: Expression, nonceExpr: Expression, ctExpr: Expression,
    keyBytes: Array[Byte], schemeName: String,
    expectedSource: String, expectedDestination: String)
    extends TernaryExpression {

  override def first: Expression = aadExpr
  override def second: Expression = nonceExpr
  override def third: Expression = ctExpr
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_unseal"

  @transient private lazy val helper = new AeadHelper(keyBytes, schemeName, expectedSource, expectedDestination)

  override def nullSafeEval(aad: Any, nonce: Any, ct: Any): Any =
    helper.unseal(aad.asInstanceOf[Array[Byte]], nonce.asInstanceOf[Array[Byte]], ct.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helperRef = ctx.addReferenceObj("aeadHelper", helper, classOf[AeadHelper].getName)
    nullSafeCodeGen(ctx, ev, (aad, nonce, ct) => {
      s"""
         |${ev.value} = $helperRef.unseal($aad, $nonce, $ct);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): AeadUnseal =
    copy(aadExpr = f, nonceExpr = s, ctExpr = t)
}

/** Serializable unseal helper invoked from generated code. */
final class AeadHelper(keyBytes: Array[Byte], schemeName: String,
    expectedSource: String, expectedDestination: String) extends Serializable {
  private val scheme = graft.crypto.Scheme.parse(schemeName)
  @transient private lazy val payload = new graft.crypto.SealedPayload(keyBytes, scheme)

  def unseal(aad: Array[Byte], nonce: Array[Byte], ct: Array[Byte]): UTF8String = {
    val ev = graft.crypto.EncryptedValue(aad, nonce, ct)
    if (!payload.isRouteValid(ev, expectedSource, expectedDestination)) null
    else
      try UTF8String.fromBytes(payload.unseal(ev))
      catch { case _: SecurityException => null }
  }
}

/** AEAD seal as an expression — the mirror of [[AeadUnseal]]: (text, seq,
  * producer) → (aad, nonce, ciphertext) struct with routing AAD bound in.
  * Nonce derivation is deterministic in (nonceSeed, producer, seq): retry-
  * idempotent at scale, and producer mixing prevents (nonce, key) reuse
  * across producers with overlapping seq ranges (see
  * [[graft.operators.SealedColumns.sealColumn]]). */
case class AeadSeal(
    textExpr: Expression, seqExpr: Expression, producerExpr: Expression,
    keyBytes: Array[Byte], schemeName: String,
    source: String, destination: String, nonceSeed: Long)
    extends TernaryExpression {

  override def first: Expression = textExpr
  override def second: Expression = seqExpr
  override def third: Expression = producerExpr
  override def dataType: DataType = AeadSeal.schema
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_seal"

  @transient private lazy val helper =
    new AeadSealHelper(keyBytes, schemeName, source, destination, nonceSeed)

  override def nullSafeEval(text: Any, seq: Any, producer: Any): Any =
    helper.seal(text.asInstanceOf[UTF8String], seq.asInstanceOf[Long],
      producer.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helperRef = ctx.addReferenceObj("sealHelper", helper, classOf[AeadSealHelper].getName)
    nullSafeCodeGen(ctx, ev, (text, seq, producer) => {
      s"${ev.value} = $helperRef.seal($text, $seq, $producer);"
    })
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): AeadSeal =
    copy(textExpr = f, seqExpr = s, producerExpr = t)
}

object AeadSeal {
  val schema: StructType = StructType(Seq(
    StructField("aad", BinaryType, nullable = true),
    StructField("nonce", BinaryType, nullable = true),
    StructField("ciphertext", BinaryType, nullable = true)))
}

/** Serializable seal helper invoked from generated code. */
final class AeadSealHelper(keyBytes: Array[Byte], schemeName: String,
    source: String, destination: String, nonceSeed: Long) extends Serializable {
  private val scheme = graft.crypto.Scheme.parse(schemeName)
  @transient private lazy val payload = new graft.crypto.SealedPayload(keyBytes, scheme)

  /** 12-byte nonce from mix64 over (seed, producer-hash, seq) — see
    * [[graft.crypto.Nonces.derive]] (shared, byte-identical). */
  def deriveNonce(producer: String, seq: Long): Array[Byte] =
    graft.crypto.Nonces.derive(nonceSeed, producer, seq)

  def seal(text: UTF8String, seq: Long, producer: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val prod = producer.toString
    val aad = graft.crypto.Aad(source = Some(source), destination = Some(destination),
      producerId = Some(prod), seq = Some(seq))
    val ev = payload.sealWithNonce(text.getBytes, aad, deriveNonce(prod, seq))
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](ev.associatedData, ev.nonce, ev.ciphertext))
  }
}

/** Whole-document MinHash signature as ONE expression call: text →
  * whitespace tokens → k-shingles → md5-derived 32-bit hashes → running
  * minimum under each of `numHashes` seeded permutations, returning the
  * `array<long>` signature (null when the document has fewer than k
  * tokens, matching the aggregate form's no-signature semantics).
  *
  * Why an expression (SURVEY §4.3 preference order): the declarative form
  * either shuffles per-shingle rows to a (doc, j) aggregate, or — written
  * row-wise with `transform`/`array_min` — runs interpreted, since
  * higher-order functions are CodegenFallback with a lambda evaluation per
  * element. Here whole-stage codegen emits a single method invocation per
  * document into a JIT-compiled helper that reuses one thread-local
  * MessageDigest — no shuffle, no per-element lambda, no per-call digest
  * allocation. Tokenization (`split(" ", -1)`), shingle joining, and the
  * first-8-hex-chars hash are byte-identical to [[graft.operators.Dedup]]'s
  * `shingles`/`hash32`, so signatures equal the declarative form's exactly
  * and the DuckDB oracle replays unchanged. */
case class MinHashShingleSigs(child: Expression, k: Int, numHashes: Int, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_minhash"

  @transient private lazy val helper = new MinHashHelper(k, numHashes, seed)

  override def nullSafeEval(t: Any): Any = helper.sigs(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helperRef = ctx.addReferenceObj("minhashHelper", helper, classOf[MinHashHelper].getName)
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = $helperRef.sigs($c);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashShingleSigs =
    copy(child = newChild)
}

/** Shared shingle-hash machinery for the JIT'd document expressions:
  * whitespace tokens (Spark `split(" ", -1)` semantics — interior and
  * trailing empties kept), k-shingles joined with a single space, and the
  * first-8-hex-chars-of-md5 32-bit hash (== Dedup.hash32), with one
  * thread-local MessageDigest reused across rows. */
private[expressions] object ShingleHashing {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** All shingle hashes in document order, or null if fewer than k tokens. */
  def hashArray(text: UTF8String, k: Int): Array[Long] = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < k) return null
    val out = new Array[Long](toks.length - k + 1)
    val sb = new java.lang.StringBuilder
    val digest = md.get()
    var i = 0
    while (i <= toks.length - k) {
      sb.setLength(0)
      var j = i
      while (j < i + k) { if (j > i) sb.append(' '); sb.append(toks(j)); j += 1 }
      digest.reset()
      val d = digest.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 8 hex chars of md5 == first 4 bytes as unsigned big-endian
      out(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      i += 1
    }
    out
  }
}

/** Serializable MinHash helper invoked from generated code. */
final class MinHashHelper(k: Int, numHashes: Int, seed: Long) extends Serializable {
  private val params = graft.operators.Dedup.minHashParams(numHashes, seed)
  private val as: Array[Long] = params.map(_._2).toArray
  private val bs: Array[Long] = params.map(_._3).toArray

  def sigs(text: UTF8String): GenericArrayData = {
    val hs = ShingleHashing.hashArray(text, k)
    if (hs == null) return null
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var p = 0
      while (p < numHashes) {
        val v = (as(p) * h + bs(p)) % graft.operators.Dedup.MinHashPrime
        if (v < mins(p)) mins(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** The distinct sorted shingle-hash SET of a document as one codegen'd call
  * — the per-side input of exact Jaccard verification and the per-shingle
  * candidate explode (`explode` of the set needs no separate distinct).
  * Documents with fewer than k tokens return an EMPTY array (they have an
  * empty shingle set, not an undefined one — unlike a MinHash signature). */
case class ShingleHashSet(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_shingle_set"

  @transient private lazy val helper = new ShingleSetHelper(k)

  override def nullSafeEval(t: Any): Any = helper.set(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helperRef = ctx.addReferenceObj("shingleSetHelper", helper, classOf[ShingleSetHelper].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helperRef.set($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashSet =
    copy(child = newChild)
}

/** Serializable shingle-set helper invoked from generated code. */
final class ShingleSetHelper(k: Int) extends Serializable {
  private val empty = new GenericArrayData(Array.emptyLongArray)

  def set(text: UTF8String): GenericArrayData = {
    val hs = ShingleHashing.hashArray(text, k)
    if (hs == null) return empty
    java.util.Arrays.sort(hs)
    // in-place dedup of the sorted array
    var w = 0
    var i = 0
    while (i < hs.length) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    new GenericArrayData(if (w == hs.length) hs else java.util.Arrays.copyOf(hs, w))
  }
}

/** All n-token window md5 hexes of a document in position order — the
  * native form of the span/boilerplate/decontamination/memorization
  * families' shared `md5(concat_ws(" ", slice(tokens, i+1, n)))`
  * projection (that declarative form allocates a sliced token array
  * plus a concat per window inside an interpreted `transform`; this is
  * one codegen'd call per document feeding the digest straight from the
  * text's UTF-8 bytes, zero per-window allocation beyond the hex
  * output). Bit-identical by construction: tokens are the maximal
  * non-empty runs between 0x20 bytes (exactly `filter(split(text, " "),
  * _ != "")` — a multi-byte UTF-8 char can never contain 0x20), windows
  * join with a single space, and the hash is the same lowercase md5 hex
  * `md5()` emits, so every DuckDB oracle replay
  * (`md5(array_to_string(ws[i:i+n-1], ' '))`) is untouched. Fewer than n
  * tokens → EMPTY array (posexplode then emits no rows, matching the
  * declarative `when(size >= n, …).otherwise(array())`). */
case class WindowHashArray(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_window_hashes"

  @transient private lazy val helper = new WindowHashHelper(n)

  override def nullSafeEval(t: Any): Any = helper.hashes(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helperRef = ctx.addReferenceObj("windowHashHelper", helper, classOf[WindowHashHelper].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helperRef.hashes($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WindowHashArray =
    copy(child = newChild)
}

/** Serializable window-hash helper invoked from generated code. */
final class WindowHashHelper(n: Int) extends Serializable {
  require(n >= 1, s"window size must be >= 1, got $n")
  private val empty = new GenericArrayData(Array.empty[Any])

  @transient private lazy val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val hexDigits = "0123456789abcdef".getBytes

  def hashes(text: UTF8String): GenericArrayData = {
    val bytes = text.getBytes
    // token boundaries: maximal non-empty runs between 0x20 bytes
    var cnt = 0
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) != ' ' && (i == 0 || bytes(i - 1) == ' ')) cnt += 1
      i += 1
    }
    if (cnt < n) return empty
    val starts = new Array[Int](cnt)
    val lens = new Array[Int](cnt)
    var t = 0
    i = 0
    while (i < bytes.length) {
      if (bytes(i) != ' ') {
        if (i == 0 || bytes(i - 1) == ' ') { starts(t) = i; lens(t) = 1; t += 1 }
        else lens(t - 1) += 1
      }
      i += 1
    }
    val digest = md.get()
    val out = new Array[Any](cnt - n + 1)
    var w = 0
    while (w <= cnt - n) {
      digest.reset()
      var j = w
      while (j < w + n) {
        if (j > w) digest.update(' '.toByte)
        digest.update(bytes, starts(j), lens(j))
        j += 1
      }
      val d = digest.digest()
      val hex = new Array[Byte](32)
      var b = 0
      while (b < 16) {
        hex(2 * b) = hexDigits((d(b) >> 4) & 0xf)
        hex(2 * b + 1) = hexDigits(d(b) & 0xf)
        b += 1
      }
      out(w) = UTF8String.fromBytes(hex)
      w += 1
    }
    new GenericArrayData(out)
  }
}

/** Luhn checksum validity of a digit string — the PII-redaction
  * validator that separates real card numbers from arbitrary digit runs
  * (ISO/IEC 7812; the check every payment-format detector applies before
  * redacting). True iff the input is 1+ ASCII digits whose Luhn sum ≡ 0
  * (mod 10); any non-digit byte or an empty string is false, never an
  * error — a detector probes arbitrary text fragments. Tight byte loop
  * from the string's UTF-8 bytes in whole-stage codegen; the DuckDB
  * oracle replays the identical alternate-double digit sum in SQL. */
case class LuhnValid(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_luhn"

  override def nullSafeEval(t: Any): Any =
    LuhnValid.check(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ${LuhnValid.getClass.getName.stripSuffix("$")}.check($c);")

  override protected def withNewChildInternal(newChild: Expression): LuhnValid =
    copy(child = newChild)
}

object LuhnValid {
  /** Static entry shared by eval and generated code. */
  def check(s: UTF8String): Boolean = {
    val b = s.getBytes
    if (b.length == 0) return false
    var sum = 0
    var alt = false // true for every SECOND digit from the right
    var i = b.length - 1
    while (i >= 0) {
      val c = b(i)
      if (c < '0' || c > '9') return false
      var d = c - '0'
      if (alt) { d *= 2; if (d > 9) d -= 9 }
      sum += d
      alt = !alt
      i -= 1
    }
    sum % 10 == 0
  }
}

/** Winnowing fingerprint set (Schleimer et al.): the distinct minima of
  * each sliding window of `w` consecutive k-shingle hashes, sorted — the
  * whole per-document computation in one codegen'd call. The declarative
  * form costs a doc-partitioned window (shuffle + sort) plus a distinct
  * (second shuffle) for what is a purely row-local loop. Documents with
  * fewer than w shingles (or k tokens) return an empty array. */
case class WinnowingFingerprintSet(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_winnow"

  @transient private lazy val helper = new WinnowingHelper(k, w)

  override def nullSafeEval(t: Any): Any = helper.set(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helperRef = ctx.addReferenceObj("winnowHelper", helper, classOf[WinnowingHelper].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helperRef.set($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowingFingerprintSet =
    copy(child = newChild)
}

/** Count-min-sketch point estimate for a string key: a JIT-compiled bucket
  * lookup (depth hashes, depth reads) against a sketch trained by Spark's
  * `count_min_sketch` aggregate and carried as serialized bytes. Keys are
  * hashed as their UTF-8 bytes — the same representation the aggregate
  * feeds `addBinary`, so estimates are exact-side-up for every key the
  * aggregate saw (CMS never undercounts). Used to pre-filter heavy-hitter
  * candidates BEFORE the exact-count shuffle: only suspected-heavy keys
  * cross the wire. */
case class CmsEstimate(child: Expression, sketchBytes: Array[Byte])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_cms_estimate"

  @transient private lazy val helper = new CmsHelper(sketchBytes)

  override def nullSafeEval(t: Any): Any = helper.estimate(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helperRef = ctx.addReferenceObj("cmsHelper", helper, classOf[CmsHelper].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helperRef.estimate($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): CmsEstimate =
    copy(child = newChild)
}

/** Serializable CMS wrapper invoked from generated code: ships the sketch
  * as bytes, deserializes once per task. */
final class CmsHelper(bytes: Array[Byte]) extends Serializable {
  @transient private lazy val cms =
    org.apache.spark.util.sketch.CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))

  def estimate(key: UTF8String): Long = cms.estimateCount(key.getBytes)
}

/** Serializable winnowing helper invoked from generated code. */
final class WinnowingHelper(k: Int, w: Int) extends Serializable {
  private val empty = new GenericArrayData(Array.emptyLongArray)

  def set(text: UTF8String): GenericArrayData = {
    val hs = ShingleHashing.hashArray(text, k)
    if (hs == null || hs.length < w) return empty
    val mins = new Array[Long](hs.length - w + 1)
    var i = w - 1
    while (i < hs.length) {
      var m = hs(i - w + 1)
      var j = i - w + 2
      while (j <= i) { if (hs(j) < m) m = hs(j); j += 1 }
      mins(i - w + 1) = m
      i += 1
    }
    java.util.Arrays.sort(mins)
    var wr = 0
    i = 0
    while (i < mins.length) {
      if (wr == 0 || mins(i) != mins(wr - 1)) { mins(wr) = mins(i); wr += 1 }
      i += 1
    }
    new GenericArrayData(if (wr == mins.length) mins else java.util.Arrays.copyOf(mins, wr))
  }
}

/** 32-bit SimHash of a document's whitespace tokens in one codegen'd call:
  * each non-empty token's md5-derived 32-bit hash votes ±1 per bit, and the
  * fingerprint sets the bits with positive vote sums — byte-identical to
  * the explode → 32-aggregate form, without its shuffle. Null when the
  * document has no tokens (the aggregate form emits no row there). */
case class SimHash32(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_simhash"

  @transient private lazy val helper = new SimHashHelper

  override def nullSafeEval(t: Any): Any = helper.simhash(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helperRef = ctx.addReferenceObj("simhashHelper", helper, classOf[SimHashHelper].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("boxed")
      s"""
         |java.lang.Long $boxed = $helperRef.simhash($c);
         |${ev.isNull} = ($boxed == null);
         |if (!${ev.isNull}) { ${ev.value} = $boxed.longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash32 =
    copy(child = newChild)
}

/** 60-bit SimHash of a document's whitespace tokens — the wide-fingerprint
  * companion of [[SimHash32]] for Hamming multi-index joins: 60 bits split
  * into 4×15-bit blocks give 32 768 buckets per block (vs 256 for 8-bit
  * blocks of a 32-bit print), the bucket cardinality that keeps the
  * pigeonhole candidate join sub-quadratic at corpus scale. Per-token hash
  * = the first 15 md5 hex chars (the top 60 bits of the first 8 digest
  * bytes), so the DuckDB oracle is `('0x' || substr(md5(t),1,15))::BIGINT`.
  * Null when the document has no tokens. */
case class SimHash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_simhash60"

  @transient private lazy val helper = new SimHashHelper

  override def nullSafeEval(t: Any): Any = helper.simhash60(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helperRef = ctx.addReferenceObj("simhashHelper", helper, classOf[SimHashHelper].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("boxed")
      s"""
         |java.lang.Long $boxed = $helperRef.simhash60($c);
         |${ev.isNull} = ($boxed == null);
         |if (!${ev.isNull}) { ${ev.value} = $boxed.longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

/** Serializable SimHash helper invoked from generated code. */
final class SimHashHelper extends Serializable {
  @transient private lazy val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def simhash(text: UTF8String): java.lang.Long = {
    val toks = text.toString.split(" ", -1)
    val votes = new Array[Int](32)
    val digest = md.get()
    var any = false
    var i = 0
    while (i < toks.length) {
      if (toks(i).nonEmpty) {
        any = true
        digest.reset()
        val d = digest.digest(toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        var b = 0
        while (b < 32) {
          if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    if (!any) return null
    var out = 0L
    var b = 0
    while (b < 32) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    java.lang.Long.valueOf(out)
  }

  /** 60-bit variant: per-token hash = top 60 bits of the first 8 md5 digest
    * bytes (== first 15 hex chars), votes over bits 0..59. */
  def simhash60(text: UTF8String): java.lang.Long = {
    val toks = text.toString.split(" ", -1)
    val votes = new Array[Int](60)
    val digest = md.get()
    var any = false
    var i = 0
    while (i < toks.length) {
      if (toks(i).nonEmpty) {
        any = true
        digest.reset()
        val d = digest.digest(toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var h8 = 0L
        var k = 0
        while (k < 8) { h8 = (h8 << 8) | (d(k) & 0xffL); k += 1 }
        val h = h8 >>> 4
        var b = 0
        while (b < 60) {
          if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    if (!any) return null
    var out = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    java.lang.Long.valueOf(out)
  }
}

/** Product-quantization code assignment: a vector → its `array<int>` of
  * per-subspace nearest-codeword indexes. Replaces the literal-array
  * formulation (per subspace: `array_min` over ksub `struct(d, c)` entries,
  * each carrying dsub codeword literals and a dot) whose m·ksub·dsub
  * literal mass blew Janino's 64 KB method limit on the d9d/d9e ADC path
  * and silently dropped the hottest ranking stage to interpreted eval.
  * The codebooks ride along as ONE
  * codegen reference object ([[NfcHelper]]'s pattern), so the generated
  * code is a single method invocation regardless of model size.
  *
  * Bit-compat contract with the literal form (and the DuckDB oracle's
  * spliced-VALUES replay): per subspace j the distance is
  * `nsq(j)(c) − 2·dot(w, sub)` with the codeword norm pre-summed
  * left-to-right, the dot left-folded in ascending dimension order, and
  * ties broken to the LOWEST code (strict `<` keeps the first minimum —
  * `array_min` over `struct(d, c)` ordered the same way). */
case class PqEncode(child: Expression, books: Array[Array[Array[Double]]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pq_encode"

  @transient private lazy val helper = new PqModelHelper(books)

  override def nullSafeEval(v: Any): Any = helper.encode(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helperRef = ctx.addReferenceObj("pqHelper", helper, classOf[PqModelHelper].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helperRef.encode($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** A query vector → its `array<array<double>>` ADC lookup table:
  * `adc[j][c] = nsq(j)(c) − 2·dot(books(j)(c), q_sub)`. Same reference-
  * object discipline and bit-compat contract as [[PqEncode]]. */
case class PqAdcTable(child: Expression, books: Array[Array[Array[Double]]])
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pq_adc_table"

  @transient private lazy val helper = new PqModelHelper(books)

  override def nullSafeEval(v: Any): Any = helper.adcTable(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helperRef = ctx.addReferenceObj("pqHelper", helper, classOf[PqModelHelper].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helperRef.adcTable($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqAdcTable =
    copy(child = newChild)
}

/** The ADC ranking sum `Σ_j adc[j][codes[j]]` added in ascending-subspace
  * order — the per-candidate hot path of the PQ top-k cross join, one
  * m-lookup loop inside whole-stage codegen (the literal form was m nested
  * `element_at` pairs, which with the codes/adc producers inlined pushed
  * the fused sort stage past 64 KB). */
case class PqAdcScore(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pq_adc_score"

  override def nullSafeEval(adc: Any, codes: Any): Any = {
    val t = adc.asInstanceOf[ArrayData]
    val cs = codes.asInstanceOf[ArrayData]
    var s = 0.0
    var j = 0
    val m = cs.numElements()
    while (j < m) { s += t.getArray(j).getDouble(cs.getInt(j)); j += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (adc, codes) => {
      val m = ctx.freshName("m")
      val j = ctx.freshName("j")
      val sum = ctx.freshName("sum")
      s"""
         |int $m = $codes.numElements();
         |double $sum = 0.0;
         |for (int $j = 0; $j < $m; $j++) {
         |  $sum += $adc.getArray($j).getDouble($codes.getInt($j));
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PqAdcScore =
    copy(left = newLeft, right = newRight)
}

/** Serializable PQ model worker invoked from generated code. Codeword
  * norms are pre-summed ONCE at construction with the same left-fold
  * order as the literal `wNormSq` the plan used to inline, so encode/ADC
  * outputs are bit-identical to the literal-expression formulation. */
final class PqModelHelper(books: Array[Array[Array[Double]]]) extends Serializable {
  private val m = books.length
  private val dsub = books(0)(0).length
  private val nsq: Array[Array[Double]] = books.map(_.map { w =>
    var s = 0.0; var i = 0
    while (i < w.length) { s += w(i) * w(i); i += 1 }
    s
  })

  def encode(v: ArrayData): GenericArrayData = {
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val bj = books(j)
      val off = j * dsub
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < bj.length) {
        val w = bj(c)
        var s = 0.0
        var i = 0
        while (i < dsub) { s += w(i) * v.getDouble(off + i); i += 1 }
        val d = nsq(j)(c) - 2.0 * s
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  def adcTable(q: ArrayData): GenericArrayData = {
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val bj = books(j)
      val off = j * dsub
      val row = new Array[Double](bj.length)
      var c = 0
      while (c < bj.length) {
        val w = bj(c)
        var s = 0.0
        var i = 0
        while (i < dsub) { s += w(i) * q.getDouble(off + i); i += 1 }
        row(c) = nsq(j)(c) - 2.0 * s
        c += 1
      }
      out(j) = new GenericArrayData(row)
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** NFC Unicode normalization (UAX #15 canonical composition) — the text
  * canonicalization step before exact/near dedup: the same visible string
  * arrives composed ("é" U+00E9) from one scraper and decomposed
  * ("e"+U+0301) from another, md5-distinct but content-identical, and an
  * unnormalized exact dedup silently keeps both. Fast path: strings
  * already in NFC (virtually all real text) return the INPUT UTF8String
  * unchanged — `Normalizer.isNormalized` is a cheap scan, so the
  * expression is ~free on ASCII corpora. DuckDB oracle: `nfc_normalize`
  * (both implement UAX #15, so outputs agree byte-for-byte). */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_nfc"

  @transient private lazy val helper = new NfcHelper

  override def nullSafeEval(t: Any): Any = helper.nfc(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helperRef = ctx.addReferenceObj("nfcHelper", helper, classOf[NfcHelper].getName)
    defineCodeGen(ctx, ev, c => s"$helperRef.nfc($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Serializable NFC worker ([[NfcNormalize]]); `java.text.Normalizer` is
  * static and thread-safe. */
class NfcHelper extends Serializable {
  def nfc(text: UTF8String): UTF8String = {
    val s = text.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) text
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }
}

/** AGGRESSIVE canonicalization for web-scale exact dedup — the tier above
  * [[NfcNormalize]] that real pipelines (MassiveText, CCNet) apply before
  * fingerprinting, where "Café—MENU!!" and "cafe   menu" are the same
  * document. Fixed op order (each step deterministic, engine-portable):
  *
  *   1. NFKD compatibility decomposition (ﬁ→fi, ①→1, ﬂ/½/full-width →
  *      ASCII forms, accents split off their base letters);
  *   2. strip combining marks (Unicode category Mn — removes the accents
  *      step 1 decomposed);
  *   3. per-codepoint Unicode lowercase (`Character.toLowerCase` —
  *      context-free and locale-independent, so every engine and JVM
  *      locale maps a codepoint the same way);
  *   4. collapse every run of non-letter/digit codepoints to ONE space,
  *      trimmed at both ends.
  *
  * On ASCII input this reduces to lowercase + punctuation/whitespace
  * collapse — exactly what the DuckDB oracle replays with
  * `lower`/`regexp_replace`/`trim`; the compat-decomposition and
  * accent-strip semantics are spec-pinned on constructed fixtures (the
  * [[NfcNormalize]] gate contract). Digit folding (CCNet's 5→0) is NOT
  * part of this tier — it changes retrieval semantics, not identity. */
case class CanonicalFold(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_canon"

  @transient private lazy val helper = new CanonicalFoldHelper

  override def nullSafeEval(t: Any): Any = helper.canon(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helperRef = ctx.addReferenceObj("canonHelper", helper, classOf[CanonicalFoldHelper].getName)
    defineCodeGen(ctx, ev, c => s"$helperRef.canon($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): CanonicalFold =
    copy(child = newChild)
}

/** Bit-reproducible natural log — `StrictMath.log` in BOTH the interpreted
  * and the generated-code path, so both paths agree bit for bit. Spark's built-in `log` is
  * split-brained: whole-stage codegen emits `java.lang.StrictMath.log`, but
  * the interpreted fallback (constant folding, codegen bailout, subexpression
  * evaluation, `InterpretedUnsafeProjection`) calls `math.log` =
  * `java.lang.Math.log`, which is only 1-ulp-accurate and is PERMITTED to
  * differ between JIT tiers and processes. Any q6 quantization
  * (`floor(ln(x)·1e6 + 0.5)`) downstream of the built-in can therefore flip
  * a long between two EXECUTIONS of the same query — the three-round
  * `x14_word_centrality` / `q_doremi_mix` hash flake. `StrictMath` is
  * fdlibm-exact by JLS spec: identical bits on every JVM, tier, and process,
  * so a gate-time-frozen splice of engine output can never disagree with a
  * later re-execution. Out-of-domain inputs follow StrictMath itself
  * (ln(0) = -Inf, ln(<0) = NaN) — every quantized call site guards x > 0. */
case class LnStrict(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  // ImplicitCastInputTypes (NOT plain ExpectsInputTypes, which only
  // VALIDATES): the analyzer inserts a cast for non-double children, so
  // both eval paths see a double — without it, generated
  // `StrictMath.log($c)` silently widens an int while nullSafeEval's
  // asInstanceOf[Double] throws
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] = Seq(DoubleType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_ln_strict"

  override def nullSafeEval(x: Any): Any =
    StrictMath.log(x.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"java.lang.StrictMath.log($c)")

  override protected def withNewChildInternal(newChild: Expression): LnStrict =
    copy(child = newChild)
}

/** Bit-reproducible `e^x` — the [[LnStrict]] contract for the exponential:
  * `StrictMath.exp` in both evaluation paths (Spark's built-in `exp` has the
  * same codegen-StrictMath / interpreted-Math split brain as `log`). */
case class ExpStrict(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] = Seq(DoubleType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_exp_strict"

  override def nullSafeEval(x: Any): Any =
    StrictMath.exp(x.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"java.lang.StrictMath.exp($c)")

  override protected def withNewChildInternal(newChild: Expression): ExpStrict =
    copy(child = newChild)
}

/** Serializable worker for [[CanonicalFold]]. */
class CanonicalFoldHelper extends Serializable {
  def canon(text: UTF8String): UTF8String = {
    val d = java.text.Normalizer.normalize(text.toString, java.text.Normalizer.Form.NFKD)
    val sb = new java.lang.StringBuilder(d.length)
    var i = 0
    var pendingSpace = false
    while (i < d.length) {
      val cp = d.codePointAt(i)
      if (Character.getType(cp) != Character.NON_SPACING_MARK) {
        if (Character.isLetterOrDigit(cp)) {
          if (pendingSpace && sb.length > 0) sb.append(' ')
          pendingSpace = false
          sb.appendCodePoint(Character.toLowerCase(cp))
        } else pendingSpace = true
      }
      i += Character.charCount(cp)
    }
    UTF8String.fromString(sb.toString)
  }
}

/** HyperLogLog register sketch as a native
  * [[org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate]] —
  * the engine's MERGEABLE distinct-count sketch (complement of
  * [[graft.operators.CoreOps.kmvDistinct]], which is a global ordered-limit
  * and therefore cannot pre-aggregate map-side). Flajolet et al. 2007
  * (public paper): hash each value, route it to one of m = 2^p registers by
  * its top p bits, and keep per register the maximum ρ = 1 + (leading zero
  * count of the remaining bits). The buffer is the m-byte register array;
  * UPDATE is one hash + one byte max, MERGE is a bytewise max — associative
  * and commutative, so Spark runs it with map-side partial aggregation and
  * the shuffle carries ONE m-byte row per partition instead of the value
  * stream (the 100 TB point of the sketch).
  *
  * The hash is the first 48 bits of md5("hll:" || value) — the
  * [[graft.operators.CoreOps.kmvDistinct]] deterministic-hash contract, so
  * the DuckDB oracle reproduces every register exactly (integer-exact gate,
  * no estimator IEEE in the hash path; the estimate itself is asserted
  * statistically in the spec and derivable from the integer registers).
  *
  * eval returns the registers as array<int> (index = register, value =
  * max ρ; 0 = never touched). */
case class HllRegistersAgg(
    child: Expression,
    p: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Byte]]
  with ImplicitCastInputTypes
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
  private val m = 1 << p
  private val restBits = 48 - p

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.TypeBridge.AbstractType] =
    Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_hll_registers"

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buf: Array[Byte], input: org.apache.spark.sql.catalyst.InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val h = HllRegistersAgg.hash48(v.asInstanceOf[UTF8String])
      val bucket = (h >>> restBits).toInt
      val rest = h & ((1L << restBits) - 1)
      val rho =
        (if (rest == 0L) restBits + 1
         else restBits - (64 - java.lang.Long.numberOfLeadingZeros(rest)) + 1).toByte
      if (rho > buf(bucket)) buf(bucket) = rho
    }
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Byte]): Any =
    new GenericArrayData(buf.map(_.toInt))

  // both directions copy: the live buffer keeps mutating after a partial
  // is serialized, and a deserialized buffer gets mutated by merge — an
  // aliased byte array would corrupt whichever side the runtime reuses
  override def serialize(buf: Array[Byte]): Array[Byte] = buf.clone()
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes.clone()

  override def withNewMutableAggBufferOffset(newOffset: Int): HllRegistersAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllRegistersAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllRegistersAgg =
    copy(child = newChild)
}

object HllRegistersAgg {
  private val Md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))
  private val Prefix = "hll:".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** First 48 bits (big-endian) of md5("hll:" || value) — one digest per
    * value on a thread-local MessageDigest. */
  def hash48(s: UTF8String): Long = {
    val md = Md5.get()
    md.reset()
    md.update(Prefix)
    md.update(s.getBytes)
    val d = md.digest()
    ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) | ((d(2) & 0xffL) << 24) |
      ((d(3) & 0xffL) << 16) | ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
  }
}

/** Column-level entry points for the native expressions. */
object GraftExpressions {
  def hllRegisters(value: Column, p: Int): Column =
    ColumnBridge.column(
      HllRegistersAgg(ColumnBridge.expression(value), p).toAggregateExpression())

  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def l2Normalize(a: Column): Column =
    ColumnBridge.column(L2Normalize(ColumnBridge.expression(a)))

  def minhashShingleSigs(text: Column, k: Int, numHashes: Int, seed: Long = 42L): Column =
    ColumnBridge.column(MinHashShingleSigs(ColumnBridge.expression(text), k, numHashes, seed))

  def shingleHashSet(text: Column, k: Int): Column =
    ColumnBridge.column(ShingleHashSet(ColumnBridge.expression(text), k))

  def winnowingFingerprintSet(text: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowingFingerprintSet(ColumnBridge.expression(text), k, w))

  def windowHashes(text: Column, n: Int): Column =
    ColumnBridge.column(WindowHashArray(ColumnBridge.expression(text), n))

  def luhnValid(digits: Column): Column =
    ColumnBridge.column(LuhnValid(ColumnBridge.expression(digits)))

  def cmsEstimate(key: Column, sketchBytes: Array[Byte]): Column =
    ColumnBridge.column(CmsEstimate(ColumnBridge.expression(key), sketchBytes))

  def simhash32(text: Column): Column =
    ColumnBridge.column(SimHash32(ColumnBridge.expression(text)))

  def simhash60(text: Column): Column =
    ColumnBridge.column(SimHash60(ColumnBridge.expression(text)))

  def nfcNormalize(text: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(text)))

  def canonicalFold(text: Column): Column =
    ColumnBridge.column(CanonicalFold(ColumnBridge.expression(text)))

  def lnStrict(x: Column): Column =
    ColumnBridge.column(LnStrict(ColumnBridge.expression(x)))

  def expStrict(x: Column): Column =
    ColumnBridge.column(ExpStrict(ColumnBridge.expression(x)))

  def pqEncode(vec: Column, books: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(vec), books))

  def pqAdcTable(vec: Column, books: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqAdcTable(ColumnBridge.expression(vec), books))

  def pqAdcScore(adc: Column, codes: Column): Column =
    ColumnBridge.column(PqAdcScore(ColumnBridge.expression(adc), ColumnBridge.expression(codes)))

  def unseal(sealedStruct: Column, keyBytes: Array[Byte], scheme: String,
      expectedSource: String, expectedDestination: String): Column =
    ColumnBridge.column(AeadUnseal(
      ColumnBridge.expression(sealedStruct.getField("aad")),
      ColumnBridge.expression(sealedStruct.getField("nonce")),
      ColumnBridge.expression(sealedStruct.getField("ciphertext")),
      keyBytes, scheme, expectedSource, expectedDestination))

  def seal(text: Column, seq: Column, producer: Column,
      keyBytes: Array[Byte], scheme: String,
      source: String, destination: String, nonceSeed: Long = 42L): Column =
    ColumnBridge.column(AeadSeal(
      ColumnBridge.expression(text),
      ColumnBridge.expression(seq),
      ColumnBridge.expression(producer),
      keyBytes, scheme, source, destination, nonceSeed))

  /** Function name → expression builder, shared by [[register]] (temp
    * functions on an existing session) and [[GraftSessionExtensions]]
    * (injection at session build) so the two SQL surfaces can never drift.
    * Integer arguments to the fingerprint functions must be integer
    * LITERALS in range (they are folded at resolution time); anything else
    * — non-literal, or a long that does not fit an Int — is rejected at
    * analysis, fail-closed, never silently truncated. */
  private[expressions] val sqlBuilders: Seq[(String, Seq[Expression] => Expression)] = {
    def intArg(e: Expression): Int = e.eval(null) match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case other => throw new IllegalArgumentException(
        s"expected an Int-range integer literal, got $other")
    }
    def longArg(e: Expression): Long = e.eval(null) match {
      case i: Int => i.toLong
      case l: Long => l
      case other => throw new IllegalArgumentException(s"expected an integer literal, got $other")
    }
    Seq(
      "graft_dot" -> (exprs => DotProduct(exprs(0), exprs(1))),
      "graft_l2_normalize" -> (exprs => L2Normalize(exprs.head)),
      "graft_minhash" -> (exprs =>
        MinHashShingleSigs(exprs(0), intArg(exprs(1)), intArg(exprs(2)),
          if (exprs.length > 3) longArg(exprs(3)) else 42L)),
      "graft_shingle_set" -> (exprs => ShingleHashSet(exprs(0), intArg(exprs(1)))),
      "graft_winnow" -> (exprs =>
        WinnowingFingerprintSet(exprs(0), intArg(exprs(1)), intArg(exprs(2)))),
      "graft_simhash" -> (exprs => SimHash32(exprs.head)),
      "graft_simhash60" -> (exprs => SimHash60(exprs.head)),
      "graft_nfc" -> (exprs => NfcNormalize(exprs.head)),
      "graft_canon" -> (exprs => CanonicalFold(exprs.head)),
      "graft_window_hashes" -> (exprs => WindowHashArray(exprs(0), intArg(exprs(1)))),
      "graft_luhn" -> (exprs => LuhnValid(exprs.head)))
  }

  /** SQL registration (`graft_dot`, `graft_l2_normalize`, `graft_minhash`,
    * `graft_shingle_set`, `graft_winnow`, `graft_simhash`), usable from any
    * `spark.sql(...)` query; the same functions are injectable at session
    * build via [[GraftSessionExtensions]]. */
  def register(spark: SparkSession): Unit =
    sqlBuilders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}

/** `SparkSessionExtensions` hook: `--conf spark.sql.extensions=
  * graft.expressions.GraftSessionExtensions` exposes the native functions to
  * pure-SQL users at session build time. */
class GraftSessionExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftExpressions.sqlBuilders.foreach { case (name, builder) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new ExpressionInfo(GraftExpressions.getClass.getName, name),
        builder))
    }
}

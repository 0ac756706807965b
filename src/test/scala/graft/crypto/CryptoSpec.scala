package graft.crypto

import org.scalatest.funsuite.AnyFunSuite

/** Ports the reference's crypto test ideas: seal→unseal roundtrip under both
  * AEAD schemes, AAD tamper detection
  * (SealedPayloadSerializationTest.java), canonical AAD encode/parse
  * (AADUtilsTest.java, JsonUtilsTest.java), defensive copies
  * (EncryptedValueTest.java), and the replay window suite
  * (ReplayWindowTest.java:14-98). */
class CryptoSpec extends AnyFunSuite {

  private val key = SealedPayload.testKey
  private val aad = Aad(source = Some("split"), destination = Some("bounding"),
    producerId = Some("task-1"), seq = Some(7L), epoch = Some(3L), attrs = Map("user_id" -> "u42"))

  for (scheme <- Seq(Scheme.ChaCha20Poly1305, Scheme.Aes256Gcm)) {
    test(s"$scheme: seal -> unseal roundtrips strings, longs, doubles") {
      val sp = new SealedPayload(key, scheme)
      assert(sp.unsealString(sp.sealString("hello storm", aad)) === "hello storm")
      assert(sp.unsealLong(sp.sealString("12345", aad)) === 12345L)
      assert(sp.unsealDouble(sp.sealString("3.5", aad)) === 3.5)
    }
  }

  test("scheme names fail closed: only chacha20 and aes-gcm parse") {
    assert(Scheme.parse("chacha20") === Scheme.ChaCha20Poly1305)
    assert(Scheme.parse("aes-gcm") === Scheme.Aes256Gcm)
    for (name <- Seq("aes_gcm", "AES-GCM", "none", ""))
      assertThrows[IllegalArgumentException](Scheme.parse(name))
    // a misspelt codec scheme fails closed too
    assertThrows[IllegalArgumentException](
      new graft.operators.SealedColumns.Codec(key, "aes_gcm"))
  }

  test("AAD tamper breaks authentication for real schemes") {
    for (scheme <- Seq(Scheme.ChaCha20Poly1305, Scheme.Aes256Gcm)) {
      val sp = new SealedPayload(key, scheme)
      val sealed0 = sp.sealString("secret", aad)
      val tampered = EncryptedValue(
        Aad(source = Some("evil"), destination = Some("bounding")).toBytes,
        sealed0.nonce, sealed0.ciphertext)
      assertThrows[SecurityException](sp.unseal(tampered))
    }
  }

  test("ciphertext tamper breaks authentication") {
    val sp = new SealedPayload(key, Scheme.Aes256Gcm)
    val sealed0 = sp.sealString("secret", aad)
    val ct = sealed0.ciphertext
    ct(0) = (ct(0) ^ 0x1).toByte
    assertThrows[SecurityException](sp.unseal(EncryptedValue(sealed0.associatedData, sealed0.nonce, ct)))
  }

  test("wrong key fails to unseal") {
    val sp1 = new SealedPayload(key, Scheme.ChaCha20Poly1305)
    val sp2 = new SealedPayload(Array.fill[Byte](32)(9), Scheme.ChaCha20Poly1305)
    assertThrows[SecurityException](sp2.unseal(sp1.sealString("x", aad)))
  }

  test("AAD canonical encoding: sorted keys, stable roundtrip") {
    val bytes = aad.toBytes
    val json = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    // TreeMap order: destination < epoch < producer_id < seq < source < user_id
    assert(json ===
      """{"destination":"bounding","epoch":3,"producer_id":"task-1","seq":7,"source":"split","user_id":"u42"}""")
    val parsed = Aad.fromBytes(bytes)
    assert(parsed === aad)
  }

  test("AAD escaping: quotes, backslashes, control chars roundtrip") {
    val tricky = Aad(attrs = Map("k" -> "a\"b\\c\nd\tef"))
    assert(Aad.fromBytes(tricky.toBytes) === tricky)
  }

  test("empty AAD encodes to empty bytes and parses back") {
    assert(Aad().toBytes.isEmpty)
    assert(Aad.fromBytes(Array.emptyByteArray) === Aad())
  }

  test("route validation matches expected edge") {
    val sp = new SealedPayload(key, Scheme.Aes256Gcm)
    val sealed0 = sp.sealString("x", aad)
    assert(sp.isRouteValid(sealed0, "split", "bounding"))
    assert(!sp.isRouteValid(sealed0, "split", "perturbation"))
    assert(!sp.isRouteValid(sealed0, "spout", "bounding"))
  }

  test("EncryptedValue: defensive copies and nonce validation") {
    val nonce = Array.fill[Byte](12)(1)
    val ct = Array[Byte](1, 2, 3)
    val ev = EncryptedValue(null, nonce, ct)
    nonce(0) = 99
    ct(0) = 99
    assert(ev.nonce(0) === 1)
    assert(ev.ciphertext(0) === 1)
    assertThrows[IllegalArgumentException](EncryptedValue(null, Array.fill[Byte](11)(0), ct))
  }

  test("routing hash matches SQL sha2 semantics") {
    // sha2(concat('word:', 'spark'), 256) computed independently
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest("word:spark".getBytes("UTF-8"))
    assert(RoutingHash.wordRoutingKey("spark").toSeq === expected.toSeq)
    assert(RoutingHash.sha256Hex("word:spark") === expected.map(b => f"$b%02x").mkString)
  }

  test("replay window: accepts first, rejects negative and duplicates") {
    val w = new ReplayWindow(8)
    assert(w.accept(0))
    assert(!w.accept(0))
    assert(!w.accept(-1))
    assert(w.accept(5))
    assert(!w.accept(5))
    assert(w.accept(3))
    assert(!w.accept(3))
  }

  test("replay window: slides forward, rejects too-old, accepts far-future") {
    val w = new ReplayWindow(8)
    assert(w.accept(10))
    assert(!w.accept(2))  // 2 <= 10-8
    assert(w.accept(3))   // within window
    assert(w.accept(100)) // far future clears history
    assert(!w.accept(92)) // 92 <= 100-8
    assert(w.accept(93))
    assert(w.highestSeen === 100)
  }

  test("replay window: shift preserves recent history") {
    val w = new ReplayWindow(8)
    assert(w.accept(1)); assert(w.accept(2)); assert(w.accept(4))
    // shift by 2: 1,2,4 remain in window relative to new max 6
    assert(w.accept(6))
    assert(!w.accept(4))
    assert(!w.accept(2))
    assert(w.accept(3))
    assert(w.accept(5))
  }

  test("malformed AAD bytes are route-invalid, never an exception") {
    val sp = new SealedPayload(key, Scheme.Aes256Gcm)
    val good = sp.sealString("x", aad)
    val malformed = Seq(
      "not json at all",
      "{\"seq\":not-a-number}",
      "{\"source\":\"split\"",         // truncated: parser runs off the end
      "{\"source\":\"split\",}",       // dangling comma
      "{:}",
      "{\"seq\":\"NaNBOGUS\",\"source\":\"split\",\"destination\":\"bounding\"}")
    for (bad <- malformed) {
      val ev = EncryptedValue(bad.getBytes("UTF-8"), good.nonce, good.ciphertext)
      assert(!sp.isRouteValid(ev, "split", "bounding"), s"should be invalid: $bad")
    }
  }
}

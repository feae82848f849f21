package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

class OmsSignatureSpec extends AnyFunSuite {

  test("HmacSHA256 core matches RFC 4231 test case 2") {
    // RFC 4231 TC2: key "Jefe", data "what do ya want for nothing?"
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec("Jefe".getBytes, "HmacSHA256"))
    val hex = mac.doFinal("what do ya want for nothing?".getBytes)
      .map("%02x".format(_)).mkString
    assert(hex === "5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843")
  }

  test("signature shape matches the reference's canonical string layout") {
    val key = java.util.Base64.getEncoder.encodeToString("secret".getBytes)
    val sig = OmsSignature.buildSignature("ws-1", key,
      "Mon, 01 Jan 2026 00:00:00 GMT", 123)
    assert(sig.startsWith("SharedKey ws-1:"))
    // deterministic: same inputs → same signature; any field change → different
    val again = OmsSignature.buildSignature("ws-1", key,
      "Mon, 01 Jan 2026 00:00:00 GMT", 123)
    assert(sig === again)
    val other = OmsSignature.buildSignature("ws-1", key,
      "Mon, 01 Jan 2026 00:00:00 GMT", 124)
    assert(sig !== other)
  }
}

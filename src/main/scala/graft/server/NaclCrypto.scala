package graft.server

import java.math.BigInteger

import javax.crypto.AEADBadTagException

/** The NaCl/CurveZMQ cipher suite — Salsa20, HSalsa20, XSalsa20,
  * Poly1305, `crypto_secretbox`, and the `crypto_box_beforenm` key
  * derivation — in pure JVM Scala, implemented from the public
  * specifications (Bernstein's Salsa20 and Poly1305 papers, the NaCl
  * `crypto_secretbox_xsalsa20poly1305` construction; all public-domain
  * algorithms).
  *
  * Why it exists: the reference's transport security is CurveZMQ
  * (reference `src/protocol/zest.re:236-263`), whose boxes are
  * exactly this suite, and the JDK ships ChaCha20-Poly1305 but NOT
  * XSalsa20. [[ZmtpCurve]] builds the full ZMTP-CURVE mechanism on it —
  * the HELLO/WELCOME/INITIATE/READY commands and the MESSAGE boxes of the
  * binary port.
  *
  * Correctness: every primitive is pinned in NaclCryptoSpec against
  * GOLDEN VECTORS generated from this machine's system libsodium
  * (libsodium.so.23 via ctypes — `crypto_core_hsalsa20`,
  * `crypto_stream`, `crypto_onetimeauth`, `crypto_secretbox_easy`,
  * `crypto_box_beforenm`), so the implementation is byte-interoperable
  * with the real library, not merely self-consistent.
  */
object NaclCrypto {

  // "expand 32-byte k", as four little-endian u32 words
  private val Sigma0 = 0x61707865
  private val Sigma1 = 0x3320646e
  private val Sigma2 = 0x79622d32
  private val Sigma3 = 0x6b206574

  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def putLe32(out: Array[Byte], off: Int, v: Int): Unit = {
    out(off) = v.toByte
    out(off + 1) = (v >>> 8).toByte
    out(off + 2) = (v >>> 16).toByte
    out(off + 3) = (v >>> 24).toByte
  }

  /** 20 Salsa20 rounds in place (10 double rounds: column then row). */
  private def rounds(x: Array[Int]): Unit = {
    var i = 0
    while (i < 10) {
      // columnround
      x(4) ^= Integer.rotateLeft(x(0) + x(12), 7)
      x(8) ^= Integer.rotateLeft(x(4) + x(0), 9)
      x(12) ^= Integer.rotateLeft(x(8) + x(4), 13)
      x(0) ^= Integer.rotateLeft(x(12) + x(8), 18)
      x(9) ^= Integer.rotateLeft(x(5) + x(1), 7)
      x(13) ^= Integer.rotateLeft(x(9) + x(5), 9)
      x(1) ^= Integer.rotateLeft(x(13) + x(9), 13)
      x(5) ^= Integer.rotateLeft(x(1) + x(13), 18)
      x(14) ^= Integer.rotateLeft(x(10) + x(6), 7)
      x(2) ^= Integer.rotateLeft(x(14) + x(10), 9)
      x(6) ^= Integer.rotateLeft(x(2) + x(14), 13)
      x(10) ^= Integer.rotateLeft(x(6) + x(2), 18)
      x(3) ^= Integer.rotateLeft(x(15) + x(11), 7)
      x(7) ^= Integer.rotateLeft(x(3) + x(15), 9)
      x(11) ^= Integer.rotateLeft(x(7) + x(3), 13)
      x(15) ^= Integer.rotateLeft(x(11) + x(7), 18)
      // rowround
      x(1) ^= Integer.rotateLeft(x(0) + x(3), 7)
      x(2) ^= Integer.rotateLeft(x(1) + x(0), 9)
      x(3) ^= Integer.rotateLeft(x(2) + x(1), 13)
      x(0) ^= Integer.rotateLeft(x(3) + x(2), 18)
      x(6) ^= Integer.rotateLeft(x(5) + x(4), 7)
      x(7) ^= Integer.rotateLeft(x(6) + x(5), 9)
      x(4) ^= Integer.rotateLeft(x(7) + x(6), 13)
      x(5) ^= Integer.rotateLeft(x(4) + x(7), 18)
      x(11) ^= Integer.rotateLeft(x(10) + x(9), 7)
      x(8) ^= Integer.rotateLeft(x(11) + x(10), 9)
      x(9) ^= Integer.rotateLeft(x(8) + x(11), 13)
      x(10) ^= Integer.rotateLeft(x(9) + x(8), 18)
      x(12) ^= Integer.rotateLeft(x(15) + x(14), 7)
      x(13) ^= Integer.rotateLeft(x(12) + x(15), 9)
      x(14) ^= Integer.rotateLeft(x(13) + x(12), 13)
      x(15) ^= Integer.rotateLeft(x(14) + x(13), 18)
      i += 1
    }
  }

  private def initState(key: Array[Byte], in16: Array[Byte]): Array[Int] = {
    require(key.length == 32, "salsa20: 32-byte key")
    require(in16.length == 16, "salsa20: 16-byte input block")
    val x = new Array[Int](16)
    x(0) = Sigma0
    x(1) = le32(key, 0); x(2) = le32(key, 4)
    x(3) = le32(key, 8); x(4) = le32(key, 12)
    x(5) = Sigma1
    x(6) = le32(in16, 0); x(7) = le32(in16, 4)
    x(8) = le32(in16, 8); x(9) = le32(in16, 12)
    x(10) = Sigma2
    x(11) = le32(key, 16); x(12) = le32(key, 20)
    x(13) = le32(key, 24); x(14) = le32(key, 28)
    x(15) = Sigma3
    x
  }

  /** One 64-byte Salsa20 keystream block (expansion + feedforward). */
  private def salsa20Block(key: Array[Byte], nonce8: Array[Byte],
                           counter: Long): Array[Byte] = {
    val in16 = new Array[Byte](16)
    System.arraycopy(nonce8, 0, in16, 0, 8)
    putLe32(in16, 8, counter.toInt)
    putLe32(in16, 12, (counter >>> 32).toInt)
    val x = initState(key, in16)
    val x0 = x.clone()
    rounds(x)
    val out = new Array[Byte](64)
    var i = 0
    while (i < 16) { putLe32(out, i * 4, x(i) + x0(i)); i += 1 }
    out
  }

  /** HSalsa20: the rounds WITHOUT feedforward; output words
    * 0,5,10,15,6,7,8,9 — NaCl's key-derivation core
    * (`crypto_core_hsalsa20`).
    */
  def hsalsa20(key: Array[Byte], in16: Array[Byte]): Array[Byte] = {
    val x = initState(key, in16)
    rounds(x)
    val out = new Array[Byte](32)
    val idx = Array(0, 5, 10, 15, 6, 7, 8, 9)
    var i = 0
    while (i < 8) { putLe32(out, i * 4, x(idx(i))); i += 1 }
    out
  }

  /** XSalsa20 keystream: HSalsa20(key, nonce[0..16)) derives the block
    * subkey; Salsa20 runs with nonce[16..24) from counter 0.
    */
  def xsalsa20Stream(key: Array[Byte], nonce24: Array[Byte], len: Int): Array[Byte] = {
    require(nonce24.length == 24, "xsalsa20: 24-byte nonce")
    val subKey = hsalsa20(key, nonce24.take(16))
    val n8 = nonce24.drop(16)
    val out = new Array[Byte](len)
    var off = 0
    var ctr = 0L
    while (off < len) {
      val block = salsa20Block(subKey, n8, ctr)
      val n = math.min(64, len - off)
      System.arraycopy(block, 0, out, off, n)
      off += n; ctr += 1
    }
    out
  }

  private val P1305 = BigInteger.TWO.pow(130).subtract(BigInteger.valueOf(5))
  private val M128 = BigInteger.TWO.pow(128).subtract(BigInteger.ONE)

  private def leNum(b: Array[Byte], from: Int, len: Int, pad1: Boolean): BigInteger = {
    // little-endian bytes + optional 0x01 terminator -> positive BigInteger
    val buf = new Array[Byte]((if (pad1) len + 1 else len) + 1) // big-endian, sign 0
    var i = 0
    while (i < len) { buf(buf.length - 1 - i) = b(from + i); i += 1 }
    if (pad1) buf(buf.length - 1 - len) = 1
    new BigInteger(buf)
  }

  /** Poly1305 one-time authenticator (Bernstein; the NaCl
    * `crypto_onetimeauth`). 16-byte tag over `msg` under a 32-byte
    * one-time key (r clamped per spec, s added mod 2^128).
    */
  def poly1305(msg: Array[Byte], key: Array[Byte]): Array[Byte] = {
    require(key.length == 32, "poly1305: 32-byte key")
    val rb = key.take(16)
    rb(3) = (rb(3) & 15).toByte; rb(7) = (rb(7) & 15).toByte
    rb(11) = (rb(11) & 15).toByte; rb(15) = (rb(15) & 15).toByte
    rb(4) = (rb(4) & 252).toByte; rb(8) = (rb(8) & 252).toByte
    rb(12) = (rb(12) & 252).toByte
    val r = leNum(rb, 0, 16, pad1 = false)
    val s = leNum(key, 16, 16, pad1 = false)
    var acc = BigInteger.ZERO
    var off = 0
    while (off < msg.length) {
      val n = math.min(16, msg.length - off)
      acc = acc.add(leNum(msg, off, n, pad1 = true)).multiply(r).mod(P1305)
      off += n
    }
    val tagNum = acc.add(s).and(M128)
    val be = tagNum.toByteArray
    val out = new Array[Byte](16)
    // big-endian (sign-stripped) -> little-endian fixed 16
    val sig = be.dropWhile(_ == 0)
    var i = 0
    while (i < sig.length && i < 16) { out(i) = sig(sig.length - 1 - i); i += 1 }
    out
  }

  /** NaCl `crypto_secretbox` (XSalsa20-Poly1305): keystream bytes 0..31
    * are the one-time Poly1305 key, the message XORs against bytes 32+,
    * and the tag over the ciphertext is PREPENDED (the `_easy` layout).
    */
  def secretboxSeal(key: Array[Byte], nonce24: Array[Byte],
                    msg: Array[Byte]): Array[Byte] = {
    val stream = xsalsa20Stream(key, nonce24, 32 + msg.length)
    val ct = new Array[Byte](msg.length)
    var i = 0
    while (i < msg.length) { ct(i) = (msg(i) ^ stream(32 + i)).toByte; i += 1 }
    poly1305(ct, stream.take(32)) ++ ct
  }

  /** Open a secretbox; throws [[AEADBadTagException]] on tamper/wrong
    * key/wrong nonce (the [[ZmtpCurve]] caller contract).
    */
  def secretboxOpen(key: Array[Byte], nonce24: Array[Byte],
                    box: Array[Byte]): Array[Byte] = {
    if (box.length < 16) throw new AEADBadTagException("short box")
    val ct = box.drop(16)
    val stream = xsalsa20Stream(key, nonce24, 32 + ct.length)
    val expect = poly1305(ct, stream.take(32))
    // constant-time compare
    var diff = 0
    var i = 0
    while (i < 16) { diff |= (expect(i) ^ box(i)); i += 1 }
    if (diff != 0) throw new AEADBadTagException("poly1305 tag mismatch")
    val out = new Array[Byte](ct.length)
    i = 0
    while (i < ct.length) { out(i) = (ct(i) ^ stream(32 + i)).toByte; i += 1 }
    out
  }

  /** NaCl `crypto_box_beforenm`: the precomputed box key =
    * HSalsa20(X25519-shared-secret, 0^16) — how CurveZMQ turns a DH
    * agreement into a secretbox key. The X25519 agreement itself comes
    * from the JDK (`XDH` KeyAgreement), vector-pinned against
    * libsodium's `crypto_scalarmult`.
    */
  def beforeNm(sharedSecret32: Array[Byte]): Array[Byte] =
    hsalsa20(sharedSecret32, new Array[Byte](16))
}

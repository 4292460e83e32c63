package graft.server

import java.math.BigInteger
import java.security.{KeyFactory, KeyPair, KeyPairGenerator, SecureRandom}
import java.security.interfaces.XECPublicKey
import java.security.spec.{NamedParameterSpec, XECPublicKeySpec}

/** X25519 key helpers for the binary port's CURVE mechanism
  * ([[ZmtpCurve]]): the server's long-term keypair and its 32-byte wire
  * form. Clients are configured with that public key out of band —
  * exactly how zest clients get `--server-key`
  * (`/root/reference/src/protocol/zest.re:236-263`: curve server keys on
  * both sockets).
  */
object SecureChannel {

  private val X25519 = NamedParameterSpec.X25519

  def generateKeyPair(): KeyPair = {
    val g = KeyPairGenerator.getInstance("XDH")
    g.initialize(X25519, new SecureRandom())
    g.generateKeyPair()
  }

  /** RFC 7748 wire form: the u-coordinate as 32 little-endian bytes. */
  def rawPublic(kp: KeyPair): Array[Byte] = {
    val u = kp.getPublic.asInstanceOf[XECPublicKey].getU
    val be = u.toByteArray.dropWhile(_ == 0) // strip sign byte
    val out = new Array[Byte](32)
    // reverse big-endian -> little-endian into the fixed width
    be.indices.foreach(i => out(i) = be(be.length - 1 - i))
    out
  }

  private[server] def publicFromRaw(raw: Array[Byte]): java.security.PublicKey = {
    require(raw.length == 32, "X25519 public key must be 32 bytes")
    val be = raw.reverse // little-endian wire -> big-endian BigInteger
    KeyFactory.getInstance("XDH")
      .generatePublic(new XECPublicKeySpec(X25519, new BigInteger(1, be)))
  }
}

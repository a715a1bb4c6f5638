package graft.hash

import java.security.MessageDigest

/** Incremental digest abstraction — one instance per hash computation. */
trait Digest {
  def update(bytes: Array[Byte], off: Int, len: Int): Unit
  final def update(bytes: Array[Byte]): Unit = update(bytes, 0, bytes.length)
  final def update(s: String): Unit = update(s.getBytes("UTF-8"))
  /** Finalize and return the raw digest bytes. Instance is spent afterwards. */
  def digest(): Array[Byte]
}

private final class JdkDigest(md: MessageDigest) extends Digest {
  def update(bytes: Array[Byte], off: Int, len: Int): Unit = md.update(bytes, off, len)
  def digest(): Array[Byte] = md.digest()
}

/** Whitelisted hash-algorithm registry.
  *
  * Mirrors the reference's whitelist semantics
  * (/root/reference/dirhash.py:157-221): SHA-2 family accepted in upper or
  * lower case, SHA-3 family and BLAKE2 lower-case only; md5/sha1/anything
  * else rejected with an error. The supported set is probed at runtime
  * (reference: hashlib.algorithms_available ∩ whitelist,
  * /root/reference/dirhash.py:174-184) — here SHA-2/SHA-3 come from the JDK
  * and BLAKE2 from the pure-Scala RFC 7693 implementation, so all ten are
  * always available.
  */
object Algos {

  /** whitelist name -> factory. Keys are the exact strings the reference
    * accepts (dirhash.py:158-171).
    */
  private val factories: Map[String, () => Digest] = {
    def jdk(alg: String): () => Digest = () => new JdkDigest(MessageDigest.getInstance(alg))
    Map(
      "sha224" -> jdk("SHA-224"), "SHA224" -> jdk("SHA-224"),
      "sha256" -> jdk("SHA-256"), "SHA256" -> jdk("SHA-256"),
      "sha384" -> jdk("SHA-384"), "SHA384" -> jdk("SHA-384"),
      "sha512" -> jdk("SHA-512"), "SHA512" -> jdk("SHA-512"),
      "sha3_224" -> jdk("SHA3-224"),
      "sha3_256" -> jdk("SHA3-256"),
      "sha3_384" -> jdk("SHA3-384"),
      "sha3_512" -> jdk("SHA3-512"),
      "blake2b" -> (() => new Blake2b(64)),
      "blake2s" -> (() => new Blake2s(32)),
    )
  }

  /** Names accepted by [[get]], probed once at class load (an algorithm a
    * JDK provider cannot instantiate is excluded, like the reference's
    * runtime intersection).
    */
  val supported: Set[String] = factories.collect {
    case (name, mk) if scala.util.Try(mk()).isSuccess => name
  }.toSet

  /** Returns a fresh digest instance for `name`.
    * @throws IllegalArgumentException for non-whitelisted names (md5, sha1, …)
    */
  def get(name: String): Digest =
    factories.getOrElse(name,
      throw new IllegalArgumentException(s"""unsupported hash function: "$name"""")
    ).apply()

  private val Zero = Array(0.toByte)

  /** A fresh `name` digest already fed the key of chunk `idx` of the file
    * whose UTF-8 path is `path`: `path 0x00 ascii_decimal(idx) 0x00`. The
    * caller appends the chunk's content (reference dirhash.py:288-303).
    */
  def chunkDigest(name: String, path: Array[Byte], idx: Long): Digest = {
    val d = get(name)
    d.update(path)
    d.update(Zero)
    d.update(java.lang.Long.toString(idx))
    d.update(Zero)
    d
  }

  def hex(bytes: Array[Byte]): String = {
    val sb = new StringBuilder(bytes.length * 2)
    bytes.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }
}

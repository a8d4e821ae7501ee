package graft.functions

import java.security.MessageDigest

/** One MD5 digest per thread for the hashing kernels (MinHashSig,
  * SimHash64, HashVector, StubEmbed), instead of a
  * `MessageDigest.getInstance` per row. `digest` resets the instance,
  * and a digest is never shared between threads. */
private[functions] object Md5 {

  private val local = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  def digest(bytes: Array[Byte]): Array[Byte] = local.get().digest(bytes)

  /** The `dim` windows of the md5 "key:block" derivation: component j
    * is the unsigned 32-bit big-endian window j%4 of md5("<key>:<j/4>"),
    * the same value as the SQL `('0x'||substr(md5(key||':'||(j//4)),
    * 1+8*(j%4), 8))::BIGINT` (hex window [1+8i, 8] of the digest is its
    * byte window [4i, 4)). */
  def windows(key: String, dim: Int): Array[Long] = {
    val md = local.get()
    val out = new Array[Long](dim)
    var j = 0
    var block = 0
    while (j < dim) {
      val d = md.digest(s"$key:$block".getBytes("UTF-8"))
      var w = 0
      while (w < 4 && j < dim) {
        out(j) = ((d(4 * w) & 0xffL) << 24) | ((d(4 * w + 1) & 0xffL) << 16) |
          ((d(4 * w + 2) & 0xffL) << 8) | (d(4 * w + 3) & 0xffL)
        j += 1
        w += 1
      }
      block += 1
    }
    out
  }
}

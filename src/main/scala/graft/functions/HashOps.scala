package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Scalar hashing called from whole-stage codegen via StaticInvoke
  * (the ShingleOps pattern — see Hashing.md5Long for why the
  * conv(substring(md5…)) column chain was replaced).
  */
object HashOps {

  // MessageDigest is stateful; one instance per executor thread
  // (getInstance costs a provider lookup per call — measured 204 vs
  // 143 ns on 5-byte inputs; OPTIMIZATION_r15.md §3b). digest() resets
  // the instance, so reuse is safe.
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5(s) as a non-negative long — bit-identical to
    * `java.lang.Long.parseLong(md5Hex(s).take(15), 16)`: hex chars
    * 1..15 are digest bytes 0..6 (56 bits) followed by the high nibble
    * of byte 7. Null input is handled by StaticInvoke's propagateNull.
    *
    * Thread-local digest + zero-copy update over the UTF8String's own
    * byte[] when it has one (getBytes would copy unless perfectly
    * aligned). A hand-rolled RFC 1321 core was tried in r15 and
    * REJECTED on measurement: HotSpot intrinsifies MD5's compression
    * (md5_implCompress), so the JDK path wins — 135 vs 205 ns/call on
    * 5-byte shingles, 242 vs 456 on 100-byte windows
    * (OPTIMIZATION_r15.md §3b). */
  def md5Long(s: UTF8String): Long = {
    val d = mdLocal.get()
    s.getBaseObject match {
      case arr: Array[Byte] =>
        d.update(arr,
          (s.getBaseOffset -
            org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET).toInt,
          s.numBytes())
      case _ => d.update(s.getBytes)
    }
    finish(d)
  }

  /** [[md5Long]] over a byte RANGE of an existing buffer — lets a
    * sliding-window hasher (ShingleOps.spanHashes/lineHashes) hash each
    * window straight out of the document's own bytes with zero copies,
    * instead of materializing every window string first. Bit-identical
    * to md5Long(UTF8String.fromBytes(bytes, off, len)). */
  def md5LongRange(bytes: Array[Byte], off: Int, len: Int): Long = {
    val d = mdLocal.get()
    d.update(bytes, off, len)
    finish(d)
  }

  private def finish(d: java.security.MessageDigest): Long = {
    val digest = d.digest()
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (digest(i) & 0xffL); i += 1 }
    (v << 4) | ((digest(7) & 0xf0L) >>> 4)
  }
}

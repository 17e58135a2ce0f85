package graft.functions

/** Forward LSB-first writer; `closeBackStream` appends the 1-bit
  * sentinel + zero padding that makes the buffer a valid backward
  * stream. */
final class BitWriter {
  private var buf = new Array[Byte](64)
  private var len = 0
  private var cur = 0L
  private var nb = 0
  private def ensure(n: Int): Unit =
    if (len + n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))
  def add(v: Long, n: Int): Unit = {
    cur |= (v & ((1L << n) - 1)) << nb
    nb += n
    while (nb >= 8) {
      ensure(1); buf(len) = cur.toByte; len += 1; cur >>>= 8; nb -= 8
    }
  }
  def closeBackStream(): Unit = { add(1L, 1); if (nb > 0) { ensure(1); buf(len) = cur.toByte; len += 1; cur = 0; nb = 0 } }
  def alignForward(): Unit = if (nb > 0) { ensure(1); buf(len) = cur.toByte; len += 1; cur = 0; nb = 0 }
  def bitCount: Int = len * 8 + nb
  def toArray: Array[Byte] = {
    require(nb == 0, "unflushed bits")
    java.util.Arrays.copyOf(buf, len)
  }
}

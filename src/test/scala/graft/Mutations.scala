package graft

/** Seeded mutation generators for decoder robustness checks: every
  * spec that fuzzes a decoder draws its inputs from here. */
object Mutations {

  /** Every proper prefix of `b`, the empty one included. */
  def truncations(b: Array[Byte]): Iterator[Array[Byte]] =
    Iterator.range(0, b.length).map(java.util.Arrays.copyOf(b, _))

  /** `n` copies of `b`, each with one seeded bit flipped. */
  def bitFlips(b: Array[Byte], n: Int, seed: Long): Iterator[Array[Byte]] =
    mutate(b, n, seed)((c, rnd) => { val i = rnd.nextInt(c.length); c(i) = (c(i) ^ (1 << rnd.nextInt(8))).toByte })

  /** `n` copies of `b`, each with one to four seeded bytes overwritten. */
  def byteStorms(b: Array[Byte], n: Int, seed: Long): Iterator[Array[Byte]] =
    mutate(b, n, seed)((c, rnd) => for (_ <- 0 to rnd.nextInt(4)) c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte)

  private def mutate(b: Array[Byte], n: Int, seed: Long)(
      f: (Array[Byte], scala.util.Random) => Unit): Iterator[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    Iterator.fill(n) { val c = b.clone(); f(c, rnd); c }
  }

  /** `n` seeded blobs of 0 to 63 random bytes, each also behind `magic`. */
  def randomBlobs(n: Int, seed: Long, magic: Array[Byte]): Iterator[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    Iterator.fill(n) { val b = new Array[Byte](rnd.nextInt(64)); rnd.nextBytes(b); Iterator(b, magic ++ b) }.flatten
  }

  /** Values a forged size or length takes: all-ones, `Int.MaxValue`,
    * `0x80000001` and `Long.MaxValue` words in both byte orders, and
    * varints of `Int.MaxValue` and of the zigzag 2,147,483,000. */
  val Oversize: Seq[Array[Byte]] = {
    def le(v: Long, n: Int) = Array.tabulate(n)(i => (v >>> (8 * i)).toByte)
    val words = Seq(le(0xffff, 2), le(0xffffffffL, 4), le(Int.MaxValue, 4), le(0x80000001L, 4), le(Long.MaxValue, 8))
    (words ++ words.map(_.reverse)).distinctBy(_.toSeq) ++ Seq(varint(Int.MaxValue), varint(2L * 2147483000))
  }

  /** `b` with each [[Oversize]] value planted at every `stride`-th offset. */
  def forgedSizes(b: Array[Byte], stride: Int): Iterator[Array[Byte]] =
    for (at <- Iterator.range(0, b.length, stride); v <- Oversize.iterator if at + v.length <= b.length)
      yield { val c = b.clone(); System.arraycopy(v, 0, c, at, v.length); c }

  /** Unsigned LEB128 varint of `v` (a zigzag value is `2 * n` for n >= 0). */
  def varint(v: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var z = v
    while ((z & ~0x7fL) != 0) { out.write(((z & 0x7f) | 0x80).toInt); z >>>= 7 }
    out.write(z.toInt)
    out.toByteArray
  }

  /** Bytes the current thread allocates while `f` runs. */
  def allocatedBy(f: => Unit): Long = {
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val before = threads.getCurrentThreadAllocatedBytes
    f
    threads.getCurrentThreadAllocatedBytes - before
  }
}

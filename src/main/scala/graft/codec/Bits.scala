package graft.codec

/** Growable MSB-first bit writer / reader used by the Gorilla and
  * delta-of-delta codecs. Pure JVM, no deps.
  */
final class BitWriter(initialBytes: Int = 64) {
  private var buf = new Array[Byte](initialBytes)
  private var bitPos = 0L

  private def ensure(bits: Long): Unit = {
    val needBytes = ((bitPos + bits + 7) / 8).toInt
    if (needBytes > buf.length) {
      var n = buf.length * 2
      while (n < needBytes) n *= 2
      buf = java.util.Arrays.copyOf(buf, n)
    }
  }

  def writeBit(b: Boolean): Unit = {
    ensure(1)
    if (b) {
      val idx = (bitPos / 8).toInt
      buf(idx) = (buf(idx) | (0x80 >>> (bitPos % 8).toInt)).toByte
    }
    bitPos += 1
  }

  /** Write the low `n` bits of v, MSB first. */
  def writeBits(v: Long, n: Int): Unit = {
    ensure(n)
    var i = n - 1
    while (i >= 0) {
      writeBitFast(((v >>> i) & 1L) == 1L)
      i -= 1
    }
  }

  @inline private def writeBitFast(b: Boolean): Unit = {
    if (b) {
      val idx = (bitPos / 8).toInt
      buf(idx) = (buf(idx) | (0x80 >>> (bitPos % 8).toInt)).toByte
    }
    bitPos += 1
  }

  def toBytes: Array[Byte] = java.util.Arrays.copyOf(buf, ((bitPos + 7) / 8).toInt)
}

final class BitReader(bytes: Array[Byte]) {
  private var bitPos = 0L

  def readBit(): Boolean = {
    val idx = (bitPos / 8).toInt
    val b = (bytes(idx) & (0x80 >>> (bitPos % 8).toInt)) != 0
    bitPos += 1
    b
  }

  def readBits(n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n) {
      v = (v << 1) | (if (readBit()) 1L else 0L)
      i += 1
    }
    v
  }
}

package graft.codec

import scala.collection.mutable.ArrayBuffer

/** LEB128-style unsigned varint: 7 bits per byte, MSB = continuation.
  *
  * Semantics follow the classic varint used by the reference's posting
  * codec ([W] whoosh/util/varints.py — see SURVEY.md §2.4 C1): values are
  * non-negative, little-endian groups of 7 bits.
  */
object Varint {

  /** Growable byte sink for encoding. */
  final class Writer(initial: Int = 64) {
    private var buf = new Array[Byte](initial)
    private var len = 0

    @inline private def ensure(n: Int): Unit = {
      if (len + n > buf.length) {
        var cap = buf.length * 2
        while (cap < len + n) cap *= 2
        buf = java.util.Arrays.copyOf(buf, cap)
      }
    }

    def writeVarLong(v0: Long): Unit = {
      require(v0 >= 0, s"varint requires non-negative value, got $v0")
      ensure(10)
      var v = v0
      while ((v & ~0x7fL) != 0L) {
        buf(len) = ((v & 0x7f) | 0x80).toByte; len += 1
        v >>>= 7
      }
      buf(len) = v.toByte; len += 1
    }

    @inline def writeVarInt(v: Int): Unit = writeVarLong(v.toLong)

    def writeRawByte(b: Int): Unit = { ensure(1); buf(len) = b.toByte; len += 1 }

    def writeRawBytes(bs: Array[Byte], off: Int, n: Int): Unit = {
      ensure(n); System.arraycopy(bs, off, buf, len, n); len += n
    }
    def writeRawBytes(bs: Array[Byte]): Unit = writeRawBytes(bs, 0, bs.length)

    def size: Int = len
    def toBytes: Array[Byte] = java.util.Arrays.copyOf(buf, len)
    def reset(): Unit = len = 0
  }

  /** Positional reader over a byte array slice. */
  final class Reader(val buf: Array[Byte], var pos: Int = 0) {
    def readVarLong(): Long = {
      var shift = 0
      var result = 0L
      var b = 0
      do {
        b = buf(pos) & 0xff; pos += 1
        result |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      result
    }
    @inline def readVarInt(): Int = readVarLong().toInt
    @inline def readRawByte(): Int = { val b = buf(pos) & 0xff; pos += 1; b }
    @inline def skip(n: Int): Unit = pos += n
  }

  /** Stand-alone helpers (tests / small utilities). */
  def encode(values: Iterable[Long]): Array[Byte] = {
    val w = new Writer(); values.foreach(w.writeVarLong); w.toBytes
  }
  def decode(bytes: Array[Byte]): ArrayBuffer[Long] = {
    val r = new Reader(bytes); val out = ArrayBuffer.empty[Long]
    while (r.pos < bytes.length) out += r.readVarLong()
    out
  }
}

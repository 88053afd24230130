package graft.codec

/** Growable byte buffer + varint / zigzag / bit-packing primitives shared by
  * all codecs. Pure JVM, no Spark deps (SURVEY.md §7 Phase 1).
  *
  * Wire formats:
  *  - varint  = unsigned LEB128 (7 bits/byte, high bit = continuation)
  *  - zigzag  = (v << 1) ^ (v >> 63) mapped through varint (signed values)
  *  - bitpack = little-endian bit stream, `width` bits per value, width 0..64
  */
final class ByteWriter(initial: Int = 64) {
  private var buf = new Array[Byte](math.max(initial, 16))
  private var pos = 0

  private def ensure(extra: Int): Unit = {
    if (pos + extra > buf.length) {
      var cap = buf.length * 2
      while (cap < pos + extra) cap *= 2
      buf = java.util.Arrays.copyOf(buf, cap)
    }
  }

  def writeByte(b: Int): Unit = { ensure(1); buf(pos) = b.toByte; pos += 1 }

  def writeBytes(bs: Array[Byte], off: Int, len: Int): Unit = {
    ensure(len); System.arraycopy(bs, off, buf, pos, len); pos += len
  }
  def writeBytes(bs: Array[Byte]): Unit = writeBytes(bs, 0, bs.length)

  def writeIntLE(v: Int): Unit = {
    ensure(4)
    buf(pos) = v.toByte
    buf(pos + 1) = (v >>> 8).toByte
    buf(pos + 2) = (v >>> 16).toByte
    buf(pos + 3) = (v >>> 24).toByte
    pos += 4
  }

  def writeVarLong(v0: Long): Unit = {
    var v = v0
    ensure(10)
    while ((v & ~0x7fL) != 0L) {
      buf(pos) = ((v & 0x7f) | 0x80).toByte; pos += 1
      v >>>= 7
    }
    buf(pos) = v.toByte; pos += 1
  }

  def writeZigZag(v: Long): Unit = writeVarLong((v << 1) ^ (v >> 63))

  def size: Int = pos
  def result(): Array[Byte] = java.util.Arrays.copyOf(buf, pos)
}

final class ByteReader(val buf: Array[Byte], var pos: Int) {
  def this(buf: Array[Byte]) = this(buf, 0)

  def readByte(): Int = { val b = buf(pos) & 0xff; pos += 1; b }

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

  def readZigZag(): Long = {
    val v = readVarLong()
    (v >>> 1) ^ -(v & 1L)
  }

  def readIntLE(): Int = {
    val v = (buf(pos) & 0xff) |
      ((buf(pos + 1) & 0xff) << 8) |
      ((buf(pos + 2) & 0xff) << 16) |
      ((buf(pos + 3) & 0xff) << 24)
    pos += 4
    v
  }

  def remaining: Int = buf.length - pos
}

object Bytes {
  /** Encoded length of an unsigned LEB128 varint: one byte per started
    * 7-bit group of the significant bits (0 takes one byte).
    */
  def varLen(v: Long): Int = (63 - java.lang.Long.numberOfLeadingZeros(v | 1L)) / 7 + 1
  def zigZagLen(v: Long): Int = varLen((v << 1) ^ (v >> 63))

  /** Bits needed to represent an unsigned long range value (0 for 0). */
  def bitsFor(maxDiff: Long): Int =
    if (maxDiff == 0L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(maxDiff)
}

/** Little-endian bit packer: `width` bits per value, buffered in a long. */
final class BitWriter(out: ByteWriter) {
  private var acc = 0L
  private var nBits = 0

  def write(value: Long, width: Int): Unit = {
    if (width == 0) return
    // Split writes that would overflow the 64-bit accumulator.
    var v = if (width == 64) value else value & ((1L << width) - 1)
    var w = width
    while (w > 0) {
      val take = math.min(w, 64 - nBits)
      acc |= (if (take == 64) v else (v & ((1L << take) - 1))) << nBits
      nBits += take
      v = if (take == 64) 0L else v >>> take
      w -= take
      while (nBits >= 8) {
        out.writeByte((acc & 0xff).toInt)
        acc >>>= 8
        nBits -= 8
      }
    }
  }

  def finish(): Unit = {
    if (nBits > 0) { out.writeByte((acc & 0xff).toInt); acc = 0L; nBits = 0 }
  }
}

final class BitReader(in: ByteReader) {
  private var acc = 0L
  private var nBits = 0

  def read(width: Int): Long = {
    if (width == 0) return 0L
    var result = 0L
    var got = 0
    while (got < width) {
      if (nBits == 0) { acc = in.readByte().toLong; nBits = 8 }
      val take = math.min(width - got, nBits)
      val mask = if (take == 64) -1L else (1L << take) - 1
      result |= (acc & mask) << got
      acc >>>= take
      nBits -= take
      got += take
    }
    result
  }
}

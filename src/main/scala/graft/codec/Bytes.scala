package graft.codec

/** Growable little-endian byte buffer used by all codec writers.
  *
  * Pure JVM — no Spark types — so codec kernels are unit-testable without a
  * SparkSession and callable from both Catalyst expressions and block
  * encoders (SURVEY.md §7 step 1).
  */
final class ByteWriter(initialCapacity: Int = 64) {
  private var buf = new Array[Byte](math.max(initialCapacity, 16))
  private var len = 0

  def size: Int = len

  private def ensure(extra: Int): Unit = {
    if (len + extra > buf.length) {
      var cap = buf.length
      while (cap < len + extra) cap = cap << 1
      buf = java.util.Arrays.copyOf(buf, cap)
    }
  }

  def putByte(b: Int): Unit = { ensure(1); buf(len) = b.toByte; len += 1 }

  def putBytes(bs: Array[Byte]): Unit = {
    ensure(bs.length); System.arraycopy(bs, 0, buf, len, bs.length); len += bs.length
  }

  /** Unsigned LEB128. */
  def putVarLong(v0: Long): Unit = {
    var v = v0
    ensure(10)
    while ((v & ~0x7FL) != 0) { buf(len) = ((v & 0x7F) | 0x80).toByte; len += 1; v >>>= 7 }
    buf(len) = v.toByte; len += 1
  }

  def putVarInt(v: Int): Unit = putVarLong(v & 0xFFFFFFFFL)

  def putZigZagInt(v: Int): Unit = putVarLong(((v << 1) ^ (v >> 31)) & 0xFFFFFFFFL)

  def putZigZagLong(v: Long): Unit = putVarLong((v << 1) ^ (v >> 63))

  def putIntLE(v: Int): Unit = {
    ensure(4)
    buf(len) = v.toByte; buf(len + 1) = (v >> 8).toByte
    buf(len + 2) = (v >> 16).toByte; buf(len + 3) = (v >> 24).toByte
    len += 4
  }

  def result(): Array[Byte] = java.util.Arrays.copyOf(buf, len)
}

/** Sequential reader over a codec payload. Formats are self-delimiting, so
  * nested blobs are decoded by simply continuing at `pos`.
  */
final class ByteReader(val buf: Array[Byte], var pos: Int = 0) {
  def getByte(): Int = { val b = buf(pos); pos += 1; b & 0xFF }

  def getVarLong(): Long = {
    var shift = 0; var res = 0L; var b = 0
    do {
      b = buf(pos) & 0xFF; pos += 1
      res |= (b & 0x7FL) << shift; shift += 7
    } while ((b & 0x80) != 0)
    res
  }

  def getVarInt(): Int = getVarLong().toInt

  def getZigZagInt(): Int = {
    val z = getVarLong()
    (z >>> 1).toInt ^ (-(z & 1L)).toInt
  }

  def getZigZagLong(): Long = {
    val z = getVarLong()
    (z >>> 1) ^ -(z & 1L)
  }

  def getIntLE(): Int = {
    val v = (buf(pos) & 0xFF) | ((buf(pos + 1) & 0xFF) << 8) |
      ((buf(pos + 2) & 0xFF) << 16) | ((buf(pos + 3) & 0xFF) << 24)
    pos += 4
    v
  }
}

/** Little-endian bit-packing for widths 0..63 over Long values. Used by
  * BITPACK / FOR / DELTA_FOR / DICT / FSST code streams.
  */
object BitPack {

  /** Number of bits needed to represent non-negative v (bits(0) == 0). */
  def bits(v: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(v)

  def packedBytes(count: Long, width: Int): Long = (count * width + 7) / 8

  /** Pack `count` values (each must fit in `width` bits) LSB-first. */
  def pack(values: Array[Long], count: Int, width: Int, out: ByteWriter): Unit = {
    if (width == 0 || count == 0) return
    var acc = 0L
    var nbits = 0
    var i = 0
    while (i < count) {
      val v = values(i)
      if (width <= 64 - nbits) {
        acc |= v << nbits
        nbits += width
      } else {
        val fit = 64 - nbits // < width, so v has overflow bits
        acc |= v << nbits // high bits of v drop off the top (intended)
        var k = 0
        while (k < 8) { out.putByte((acc & 0xFF).toInt); acc >>>= 8; k += 1 }
        acc = v >>> fit
        nbits = width - fit
      }
      while (nbits >= 8) { out.putByte((acc & 0xFF).toInt); acc >>>= 8; nbits -= 8 }
      i += 1
    }
    if (nbits > 0) out.putByte((acc & 0xFF).toInt)
  }

  def packInts(values: Array[Int], count: Int, width: Int, shift: Long, out: ByteWriter): Unit = {
    if (width == 0 || count == 0) return
    val tmp = new Array[Long](count)
    var i = 0
    while (i < count) { tmp(i) = values(i).toLong - shift; i += 1 }
    pack(tmp, count, width, out)
  }

  /** Unpack exactly `count` values of `width` bits; consumes exactly
    * ceil(count*width/8) bytes from the reader.
    */
  def unpack(in: ByteReader, count: Int, width: Int): Array[Long] = {
    val out = new Array[Long](count)
    if (width == 0 || count == 0) return out
    val mask = (1L << width) - 1 // width <= 63
    var acc = 0L
    var nbits = 0
    var i = 0
    while (i < count) {
      while (nbits < width && nbits <= 56) {
        acc |= in.getByte().toLong << nbits
        nbits += 8
      }
      if (nbits >= width) {
        out(i) = acc & mask
        acc >>>= width
        nbits -= width
      } else {
        // width in 58..63, nbits in 57..63: need < 8 more bits
        val need = width - nbits
        val b = in.getByte().toLong
        out(i) = (acc | ((b & ((1L << need) - 1)) << nbits)) & mask
        acc = b >>> need
        nbits = 8 - need
      }
      i += 1
    }
    out
  }
}

object Hashing {
  def sha256Hex(bytes: Array[Byte], off: Int, len: Int): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(bytes, off, len)
    md.digest().map(b => f"${b & 0xFF}%02x").mkString
  }
  def sha256Hex(bytes: Array[Byte]): String = sha256Hex(bytes, 0, bytes.length)
  def sha256Hex(s: String): String = sha256Hex(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}

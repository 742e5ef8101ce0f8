package graft.multimodal

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.US_ASCII

/** The media module's one byte codec: little- and big-endian reads and
  * puts on `Array[Byte]`, writes to a `ByteArrayOutputStream`, and the
  * big-endian array builders the ISO-BMFF box writers concatenate.
  *
  * Every read indexes the array directly, so a read past either end
  * throws `ArrayIndexOutOfBoundsException`. The JPEG and FLAC decoders
  * catch exactly that type to reject a truncated payload, which is why
  * nothing here goes through `ByteBuffer` or a `VarHandle` (both throw
  * `IndexOutOfBoundsException`). [[tag]] is the one checked read.
  */
private[graft] object Bytes {

  // ---- reads ----------------------------------------------------------

  final def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  final def le24(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) | ((b(off + 2) & 0xff) << 16)

  final def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  final def be16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  final def be24(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 16) | ((b(off + 1) & 0xff) << 8) | (b(off + 2) & 0xff)

  final def be32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  /** [[le32]] as an unsigned value. */
  final def u32le(b: Array[Byte], off: Int): Long = le32(b, off) & 0xffffffffL

  /** [[be32]] as an unsigned value. */
  final def u32be(b: Array[Byte], off: Int): Long = be32(b, off) & 0xffffffffL

  final def le64(b: Array[Byte], off: Int): Long = u32le(b, off) | (u32le(b, off + 4) << 32)

  final def be64(b: Array[Byte], off: Int): Long = (u32be(b, off) << 32) | u32be(b, off + 4)

  /** The 4-byte ASCII tag at `off`, or "" when it does not fit. */
  final def tag(b: Array[Byte], off: Int): String =
    if (off >= 0 && off <= b.length - 4) new String(b, off, 4, US_ASCII) else ""

  // ---- puts -----------------------------------------------------------

  final def putLe16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
  }

  final def putLe32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
    b(off + 2) = (v >> 16).toByte; b(off + 3) = (v >> 24).toByte
  }

  final def putBe16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v >> 8).toByte; b(off + 1) = v.toByte
  }

  final def putBe32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v >> 24).toByte; b(off + 1) = (v >> 16).toByte
    b(off + 2) = (v >> 8).toByte; b(off + 3) = v.toByte
  }

  final def putTag(b: Array[Byte], off: Int, s: String): Unit =
    s.getBytes(US_ASCII).copyToArray(b, off)

  // ---- stream writes --------------------------------------------------

  final def le16(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v); out.write(v >> 8)
  }

  final def le24(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v); out.write(v >> 8); out.write(v >> 16)
  }

  final def le32(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v); out.write(v >> 8); out.write(v >> 16); out.write(v >> 24)
  }

  final def be16(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v >> 8); out.write(v)
  }

  final def be32(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v >> 24); out.write(v >> 16); out.write(v >> 8); out.write(v)
  }

  final def ascii(out: ByteArrayOutputStream, s: String): Unit = out.write(s.getBytes(US_ASCII))

  // ---- array builders -------------------------------------------------

  final def asciiBytes(s: String): Array[Byte] = s.getBytes(US_ASCII)

  final def be16Bytes(v: Int): Array[Byte] = Array((v >> 8).toByte, v.toByte)

  final def be32Bytes(v: Long): Array[Byte] =
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)

  final def be64Bytes(v: Long): Array[Byte] = be32Bytes(v >> 32) ++ be32Bytes(v)
}

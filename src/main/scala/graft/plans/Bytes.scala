package graft.plans

import java.nio.charset.StandardCharsets.ISO_8859_1

/** Fixed-width integer reads and writes — the one byte layer every
  * binary-format walk (RIFF, ISO-BMFF, Ogg, ID3, PNG, zip, TIFF, …)
  * reads hostile payloads through, and every synthetic-corpus writer
  * builds with.
  *
  * Reads never throw: a read that does not fit the array (`off < 0` or
  * `off + width > b.length`) returns `-1` (integers), `""` ([[fourcc]])
  * or `false` ([[matches]]). The 16/24-bit reads return an `Int` and the
  * unsigned 32-bit reads a `Long`, so `-1` is never a value they can
  * read; the 64-bit reads are signed, and their `-1` doubles as the
  * all-ones value (the "unknown" sentinel of both ISO-BMFF durations and
  * Ogg granule positions). Offsets are `Long`, so `off + width` cannot
  * wrap. Writers keep the low bits of their argument. */
object Bytes {

  private def fits(b: Array[Byte], off: Long, width: Int): Boolean =
    off >= 0 && off + width <= b.length

  private def at(b: Array[Byte], off: Long): Long = b(off.toInt) & 0xffL

  def u16le(b: Array[Byte], off: Long): Int =
    if (!fits(b, off, 2)) -1 else (at(b, off) | at(b, off + 1) << 8).toInt

  def u16be(b: Array[Byte], off: Long): Int =
    if (!fits(b, off, 2)) -1 else (at(b, off) << 8 | at(b, off + 1)).toInt

  def u24le(b: Array[Byte], off: Long): Int =
    if (!fits(b, off, 3)) -1
    else (at(b, off) | at(b, off + 1) << 8 | at(b, off + 2) << 16).toInt

  def u32le(b: Array[Byte], off: Long): Long =
    if (!fits(b, off, 4)) -1L
    else at(b, off) | at(b, off + 1) << 8 | at(b, off + 2) << 16 |
      at(b, off + 3) << 24

  def u32be(b: Array[Byte], off: Long): Long =
    if (!fits(b, off, 4)) -1L
    else at(b, off) << 24 | at(b, off + 1) << 16 | at(b, off + 2) << 8 |
      at(b, off + 3)

  def s64le(b: Array[Byte], off: Long): Long =
    if (!fits(b, off, 8)) -1L else u32le(b, off) | u32le(b, off + 4) << 32

  def s64be(b: Array[Byte], off: Long): Long =
    if (!fits(b, off, 8)) -1L else u32be(b, off) << 32 | u32be(b, off + 4)

  /** The four bytes at `off` as a latin-1 string (a chunk or box id). */
  def fourcc(b: Array[Byte], off: Long): String =
    if (!fits(b, off, 4)) "" else new String(b, off.toInt, 4, ISO_8859_1)

  /** The bytes at `off` equal the chars of `s`, each taken as one byte. */
  def matches(b: Array[Byte], off: Long, s: String): Boolean =
    fits(b, off, s.length) && {
      var i = 0
      while (i < s.length && b(off.toInt + i) == s.charAt(i).toByte) i += 1
      i == s.length
    }

  def le16(v: Int): Array[Byte] = Array(v.toByte, (v >> 8).toByte)

  def le24(v: Int): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte)

  def le32(v: Long): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

  def le64(v: Long): Array[Byte] = le32(v) ++ le32(v >>> 32)

  def be16(v: Int): Array[Byte] = Array((v >> 8).toByte, v.toByte)

  def be32(v: Long): Array[Byte] =
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)

  def be64(v: Long): Array[Byte] = be32(v >>> 32) ++ be32(v)

  def latin1(s: String): Array[Byte] = s.getBytes(ISO_8859_1)
}

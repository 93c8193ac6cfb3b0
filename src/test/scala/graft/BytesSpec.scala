package graft

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Bytes._

/** The byte layer every binary-format walk reads through: writers and
  * readers agree at the edges of each width, a read that does not fit
  * returns -1 / "" / false instead of throwing, and no other file in
  * `src/main` keeps a private copy. */
class BytesSpec extends AnyFunSuite {

  test("every writer reads back through its reader; reads that do not fit return -1, \"\" or false") {
    // (name, writer, reader, the width's maximum, the writer's bytes for 0x0102…)
    val cases: Seq[(String, Long => Array[Byte], (Array[Byte], Long) => Long,
      Long, Seq[Int])] = Seq(
      ("16le", v => le16(v.toInt), (b, o) => u16le(b, o), 0xffffL, Seq(2, 1)),
      ("16be", v => be16(v.toInt), (b, o) => u16be(b, o), 0xffffL, Seq(1, 2)),
      ("24le", v => le24(v.toInt), (b, o) => u24le(b, o), 0xffffffL,
        Seq(3, 2, 1)),
      ("32le", le32, u32le, 0xffffffffL, Seq(4, 3, 2, 1)),
      ("32be", be32, u32be, 0xffffffffL, Seq(1, 2, 3, 4)),
      // the 64-bit reads are signed: all-ones reads back as -1
      ("64le", le64, s64le, -1L, Seq(8, 7, 6, 5, 4, 3, 2, 1)),
      ("64be", be64, s64be, -1L, Seq(1, 2, 3, 4, 5, 6, 7, 8)))
    cases.foreach { case (name, write, read, max, order) =>
      val width = order.length
      val counting = order.indices.foldLeft(0L)((v, i) => v << 8 | (i + 1))
      assert(write(counting).toSeq == order.map(_.toByte), s"$name byte order")
      Seq(0L, 1L, 0x7fL, 0x80L, max).foreach { v =>
        val w = write(v)
        assert(w.length == width, s"$name width")
        assert(read(w, 0) == v, s"$name($v)")
        // inside a larger buffer, at a non-zero offset
        assert(read(Array[Byte](9, 9, 9) ++ w ++ Array[Byte](9), 3) == v,
          s"$name($v) at offset 3")
      }
      val b = new Array[Byte](width + 2)
      assert(read(b, 2) == 0, s"$name: the last read that fits")
      assert(read(b, 3) == -1, s"$name: off + width > length")
      assert(read(b, -1) == -1, s"$name: off < 0")
      assert(read(b, Int.MaxValue.toLong) == -1, s"$name: far past the end")
      assert(read(Array.emptyByteArray, 0) == -1, s"$name: empty")
    }
    val riff = Array[Byte](0) ++ latin1("RIFF")
    assert(fourcc(riff, 1) == "RIFF")
    assert(fourcc(riff, 2) == "" && fourcc(riff, -1) == "")
    assert(matches(riff, 1, "RIFF") && matches(riff, 1, "RI"))
    assert(!matches(riff, 2, "RIFF") && !matches(riff, -1, "RIFF"))
    assert(!matches(riff, 1, "RIFX"))
    assert(latin1("ÿ\u0000A").toSeq == Seq(0xff.toByte, 0, 'A'.toByte))
    assert(fourcc(latin1("état"), 0) == "état")
  }

  test("endian helpers are defined in src/main only in Bytes, and one function walks WAV chunks") {
    val helpers = """def (u16le|u16be|u24le|u32le|u32be|s32le|s64le|s64be|le16|le24|le32|le64|be16|be32|be64|fourcc)\b"""
    val layer = Paths.get("src/main/scala/graft/plans/Bytes.scala")
    val sources = SourceScan.files("src/main")
    assert(sources.size > 50, s"scan found only ${sources.size} files")
    assert(SourceScan.sites(Seq(layer), helpers).nonEmpty)
    // GifDecode's u16le stays: it fails into the decoder's own error
    val elsewhere = SourceScan.sites(sources.filterNot(_.endsWith(layer)), helpers)
    assert(elsewhere.size == 1 &&
      elsewhere.head.startsWith("src/main/scala/graft/operators/Gif.scala:"),
      elsewhere.mkString("\n"))
    // the `fmt ` chunk id is read and written only by the one WAV codec
    val wav = SourceScan.sites(sources, "\"fmt \"")
    assert(wav.nonEmpty &&
      wav.forall(_.startsWith("src/main/scala/graft/operators/Wav.scala:")),
      wav.mkString("\n"))
  }
}

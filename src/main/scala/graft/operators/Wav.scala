package graft.operators

import graft.plans.Bytes._

/** The WAV (RIFF/WAVE) container, read and written in one place: the
  * header probe ([[MediaHeaders.wav]]) and both decoders
  * ([[MultimodalOps.decodeWav]], [[MultimodalOps.ahashOf]]) read the same
  * chunk walk, and every synthetic WAV comes from the same writer. */
private[graft] object Wav {

  /** The `fmt ` fields, and where the `data` chunk starts and how long it
    * DECLARES itself — the length may run past the payload (a truncated
    * upload): the decoders reject that, the probe measures the
    * declaration. */
  final case class Fmt(audioFormat: Int, channels: Int, rate: Long,
                       byteRate: Long, bits: Int, dataOff: Long,
                       dataLen: Long) {
    /** G.711 A-law (6) or μ-law (7). */
    def g711: Boolean = audioFormat == 6 || audioFormat == 7

    /** PCM at 8 or 16 bits, or G.711 at 8 bits: the encodings the
      * decoders expand sample by sample, and whose duration is exactly
      * `dataLen / blockAlign` frames over the rate. */
    def decodable: Boolean =
      (audioFormat == 1 && (bits == 8 || bits == 16)) || (g711 && bits == 8)

    def blockAlign: Int = channels * bits / 8
  }

  /** "RIFF" + size + "WAVE", then word-aligned chunks (odd sizes carry a
    * pad byte) until both `fmt ` and `data` are seen. A `fmt ` chunk
    * counts only when its 16 field bytes are present. None = not
    * RIFF/WAVE, or either chunk missing. */
  def walk(b: Array[Byte]): Option[Fmt] = {
    if (b.length < 12 || !matches(b, 0, "RIFF") || !matches(b, 8, "WAVE"))
      return None
    var i = 12L
    var fmtOff = -1L
    var dataOff = -1L
    var dataLen = -1L
    while (i + 8 <= b.length && (fmtOff < 0 || dataOff < 0)) {
      val sz = u32le(b, i + 4)
      if (matches(b, i, "fmt ") && sz >= 16 && i + 24 <= b.length)
        fmtOff = i + 8
      else if (matches(b, i, "data")) { dataOff = i + 8; dataLen = sz }
      i += 8 + sz + (sz & 1)
    }
    if (fmtOff < 0 || dataOff < 0) None
    else Some(Fmt(u16le(b, fmtOff), u16le(b, fmtOff + 2), u32le(b, fmtOff + 4),
      u32le(b, fmtOff + 8), u16le(b, fmtOff + 14), dataOff, dataLen))
  }

  /** A mono PCM WAV: the 44-byte header for `rate` Hz at `bits` per
    * sample, then `samples` as the `data` chunk. */
  def write(rate: Int, bits: Int, samples: Array[Byte]): Array[Byte] =
    latin1("RIFF") ++ le32(36L + samples.length) ++ latin1("WAVE") ++
      latin1("fmt ") ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(rate) ++ le32(rate.toLong * bits / 8) ++ le16(bits / 8) ++
      le16(bits) ++ latin1("data") ++ le32(samples.length) ++ samples
}

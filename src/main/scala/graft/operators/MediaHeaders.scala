package graft.operators

import graft.plans.Bytes._

/** Header-only WAV / AVI / QOI measurement (round 19) — the RIFF/QOI
  * companions of [[ImageHeaders]], completing "one cheap pass measures
  * everything" for every format the sniffer names. The full decoders
  * ([[MultimodalOps.decodeWav]], [[AviOps.aviWalk]],
  * [[MultimodalOps.qoiWalk]]) exist for features/dHash and touch every
  * sample/frame; these probes read the self-describing headers only —
  * a WAV's `fmt `/`data` chunk declarations, an AVI's `avih` movie
  * header (the `movi` payload LIST is skipped entirely, never copied),
  * a QOI's fixed 14-byte header — so the inventory's cost per payload
  * stays O(metadata).
  *
  * Contract: on every payload the full decoders accept, the probe's
  * numbers are IDENTICAL to the decoder's arithmetic — for WAV by
  * construction, since probe and decoders read one walk ([[Wav.walk]])
  * and one decodable-encoding rule ([[Wav.Fmt.decodable]]); for AVI/QOI
  * by spec. On the formats the decoders reject (e.g. MP3-in-WAV), the
  * probe still measures from the declared byte rate — strictly wider
  * triage. */
private[graft] object MediaHeaders {

  /** WAV: (duration_ms, format name), off the shared [[Wav.walk]] — the
    * `data` chunk's declared SIZE is read, sample bytes never. PCM and
    * G.711 durations are the decoders' frame arithmetic (data /
    * block_align frames over the sample rate); any other encoding
    * (MP3-in-WAV, ADPCM, float) measures from the declared average byte
    * rate — the header's own clock. */
  def wav(b: Array[Byte]): Either[String, (Long, String)] = {
    val f = Wav.walk(b) match {
      case Some(f) if f.channels >= 1 && f.rate > 0 => f
      case _ => return Left("bad_wav_header")
    }
    val fmt = f.audioFormat match {
      case 1 => s"pcm${f.bits}"
      case 3 => s"float${f.bits}"
      case 6 => "alaw"
      case 7 => "ulaw"
      case n => s"wav-fmt$n"
    }
    val durationMs =
      if (f.decodable) {
        if (f.blockAlign <= 0) return Left("bad_wav_header")
        (f.dataLen / f.blockAlign) * 1000L / f.rate
      } else if (f.byteRate > 0) f.dataLen * 1000L / f.byteRate
      else return Left("bad_wav_header")
    Right((durationMs, fmt))
  }

  /** AVI: (width, height, duration_ms, video handler fourcc). Only the
    * `hdrl` header LIST is entered — `movi` (the payload bytes) is
    * skipped by its declared size, so the probe never copies a frame.
    * Duration = us_per_frame × total_frames from `avih`, the container's
    * own declaration ([[AviOps.aviWalk]] reads the same fields). */
  def avi(b: Array[Byte]): Either[String, (Int, Int, Long, String)] = {
    if (b.length < 12 || fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "AVI ")
      return Left("bad_avi_header")
    val riffEnd = math.min(b.length.toLong, 8L + u32le(b, 4))
    var usPerFrame = 0L
    var frames = 0L
    var w = -1
    var h = -1
    var handler = ""
    val MaxDepth = 64
    def walk(start: Long, end: Long, depth: Int): Unit = {
      if (depth > MaxDepth) return
      var off = start
      while (off + 8 <= end) {
        val id = fourcc(b, off)
        val size = u32le(b, off + 4)
        if (size < 0 || off + 8 + size > end) return
        val dataOff = (off + 8).toInt
        if (id == "LIST" && size >= 4) {
          val typ = fourcc(b, dataOff)
          // headers only: the movi payload LIST skips by its size
          if (typ != "movi") walk(dataOff + 4L, dataOff + size, depth + 1)
        } else if (id == "avih" && size >= 40) {
          usPerFrame = u32le(b, dataOff)
          frames = u32le(b, dataOff + 16)
          w = u32le(b, dataOff + 32).toInt
          h = u32le(b, dataOff + 36).toInt
        } else if (id == "strh" && size >= 8 && fourcc(b, dataOff) == "vids" &&
          handler.isEmpty) {
          handler = fourcc(b, dataOff + 4)
        }
        off = dataOff + size + (size & 1L)
      }
    }
    walk(12L, riffEnd, 0)
    if (w <= 0 || h <= 0) Left("bad_avi_header")
    else Right((w, h, usPerFrame * frames / 1000L,
      if (handler.nonEmpty) handler else "avi"))
  }

  /** FLAC (round 20): (duration_ms, channels, sample_rate) from the
    * STREAMINFO metadata block — the spec REQUIRES it first after the
    * `fLaC` marker (type 0, length 34), so every field sits at a fixed
    * offset and the probe reads EXACT duration in O(header) bytes:
    * sample rate (20 bits), channels−1 (3 bits) and total samples
    * (36 bits) are bit-packed at block offsets 10..17. A total-samples
    * field of 0 means "unknown" by declaration (a live-captured
    * stream) — duration reads −1, the caller's null, with no
    * quarantine (the header is honest, not torn). */
  def flac(b: Array[Byte]): Either[String, (Long, Int, Long)] = {
    if (b.length < 42 || !matches(b, 0, "fLaC")) return Left("bad_flac_header")
    // block header: bit 7 = last-metadata-block, bits 0-6 = type (0 =
    // STREAMINFO); 3-byte big-endian length must be the fixed 34
    val blockType = b(4) & 0x7f
    val blockLen = ((b(5) & 0xff) << 16) | ((b(6) & 0xff) << 8) | (b(7) & 0xff)
    if (blockType != 0 || blockLen != 34) return Left("bad_flac_header")
    val rate = ((b(18) & 0xffL) << 12) | ((b(19) & 0xffL) << 4) |
      ((b(20) & 0xf0L) >> 4)
    val channels = ((b(20) >> 1) & 0x7) + 1
    val totalSamples = ((b(21) & 0x0fL) << 32) | ((b(22) & 0xffL) << 24) |
      ((b(23) & 0xffL) << 16) | ((b(24) & 0xffL) << 8) | (b(25) & 0xffL)
    if (rate <= 0) return Left("bad_flac_header") // 0 is invalid per spec
    val durationMs =
      if (totalSamples == 0) -1L else totalSamples * 1000L / rate
    Right((durationMs, channels, rate))
  }

  /** QOI: geometry from the fixed 14-byte header. */
  def qoi(b: Array[Byte]): Either[String, (Int, Int)] = {
    if (b.length < 14 || !matches(b, 0, "qoif")) return Left("bad_qoi_header")
    val w = u32be(b, 4)
    val h = u32be(b, 8)
    if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue)
      Left("bad_qoi_header")
    else Right((w.toInt, h.toInt))
  }
}

package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{ascii => _, _}
import org.apache.spark.sql.types._

import graft.multimodal.Bytes._

/** Multimodal columns: image/audio/video payloads as opaque `binary`
  * columns with typed metadata, plus the decode / feature-extract plumbing
  * a training-data pipeline hangs off them.
  *
  * The Spark-side machinery here is real and tested — schema, batch
  * iteration shape, partitioning. Decoding is real for BMP ([[parseBmp]]:
  * pure-JVM header parse + pixel walk, no codec library needed); other
  * formats route to a clearly-marked deterministic STUB (no image/audio
  * codecs exist in this environment). Swapping [[decodeStub]] for a real
  * decoder (JNI codec, ONNX session, etc.) changes no plumbing: decode
  * runs via `mapPartitions`, so any per-partition native resource is
  * initialized once per task, not once per row — the property that
  * matters when each partition holds thousands of images on a
  * 1000-executor cluster.
  */
object Multimodal {

  /** A decoded media batch row: fixed-width feature vector + metadata. */
  case class MediaFeatures(doc_id: Long, n_bytes: Int, format: String,
                           width: Int, height: Int, features: Array[Float])

  /** Attach a binary payload column + metadata struct to a table. In
    * production the binary arrives from the lake; here we materialize one
    * from text so the downstream plumbing is exercised end-to-end.
    */
  def withBinaryPayload(df: DataFrame, srcCol: String): DataFrame =
    df.withColumn("payload", encode(col(srcCol), "UTF-8"))
      .withColumn("media_meta", struct(
        length(col("payload")).as("n_bytes"),
        lit("application/octet-stream").as("mime"),
        md5(col("payload")).as("digest")))

  /** ==== STUB ====
    * Deterministic fake decoder standing in for a real image/audio codec.
    * Consumes raw bytes, emits fixed-shape features. The real
    * implementation would decode pixels / PCM frames here; everything
    * around this function (schema, batching, partitioning) is production
    * plumbing.
    */
  private[multimodal] def decodeStub(id: Long, bytes: Array[Byte]): MediaFeatures = {
    val n = bytes.length
    // fake "dimensions" + a 8-dim "embedding" derived deterministically
    // from byte content — stable across runs, partitions and executors.
    val h = bytes.foldLeft(1469598103934665603L)((acc, b) => (acc ^ b) * 1099511628211L)
    val feats = Array.tabulate(8)(i => (((h >>> (i * 8)) & 0xff).toFloat - 128f) / 128f)
    MediaFeatures(id, n, "stub", width = (h & 0x3ff).toInt, height = ((h >>> 10) & 0x3ff).toInt, feats)
  }

  // ---- real decoder: BMP (Windows bitmap, public spec) ----------------
  // The first de-stubbed format (r11): uncompressed 24-bpp BI_RGB
  // bitmaps are a fixed-layout header + raw pixel rows, so a header
  // parse + pixel walk needs zero codec libraries. The decode envelope
  // has since grown well past BMP — PNG/GIF/JPEG/TIFF/ICO/netpbm/QOI,
  // WAV PCM 8/16/24-bit + float, FLAC (bare and Ogg-wrapped), G.711,
  // IMA/MS ADPCM, AU, AIFF/AIFC-PCM all decode for real (see
  // COVERAGE.md for the measured boundary); [[decodeStub]] remains only
  // as the documented deterministic fallback for formats OUTSIDE that
  // envelope (MP3/OGG-Vorbis/AAC, WebP/AVIF pixels and the other
  // table-data codecs).

  /** BMP: BITMAPFILEHEADER (14 bytes: "BM", file size, pixel-array
    * offset) then BITMAPINFOHEADER (40+ bytes: width, height — negative
    * height = top-down row order — planes, bpp, compression). Rows are
    * 4-byte aligned; the walk skips the padding and folds real pixel
    * bytes into the feature vector: per-channel means (BGR byte order
    * on disk), overall mean, the >127 byte fraction, and the aspect
    * ratio split. Returns None for anything outside [[bmpBgrPixels]]'s
    * envelope — the caller falls back to the stub rather than guessing.
    */
  /** Decoded BMP pixels as interleaved B,G,R in DISPLAY row order —
    * shared by the feature fold and the gray grid. r17 s2 widened the
    * envelope beyond 24-bpp BI_RGB: 32-bpp BI_RGB (BGRX, the fourth
    * byte ignored), 8-bpp palettized (BGRA quads, biClrUsed 0 → 2^8)
    * and 8-bpp BI_RLE8 (count/value pairs; escapes 0=EOL 1=EOB
    * 2=delta, absolute runs padded to even; skipped pixels pin to
    * palette entry 0; negative height is illegal under RLE per spec).
    * Negative height = top-down rows for the uncompressed forms.
    * 1/4/16-bpp, RLE4 and bitfields stay outside — the measured
    * boundary.
    */
  private def bmpBgrPixels(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (bytes.length < 54 || bytes(0) != 'B'.toByte || bytes(1) != 'M'.toByte)
      return None
    val pixelOff = le32(bytes, 10)
    val dibSize = le32(bytes, 14)
    val w = le32(bytes, 18)
    val hRaw = le32(bytes, 22)
    val planes = le16(bytes, 26)
    val bpp = le16(bytes, 28)
    val compression = le32(bytes, 30)
    val h = math.abs(hRaw)
    // 1<<14 sanity bound: a lying header must not drive a 100 GB walk
    if (dibSize < 40 || planes != 1 || w <= 0 || h == 0 ||
        w > (1 << 14) || h > (1 << 14))
      return None
    val topDown = hRaw < 0
    val ok = (bpp == 24 && compression == 0) ||
      (bpp == 32 && compression == 0) ||
      (bpp == 8 && (compression == 0 || (compression == 1 && !topDown)))
    if (!ok) return None
    val nColors =
      if (bpp != 8) 0
      else { val c = le32(bytes, 46); if (c == 0) 256 else c } // biClrUsed
    if (nColors < 0 || nColors > 256) return None
    val palOff = 14 + dibSize
    // Long: a lying dibSize must not wrap the palette end below either bound
    val palEnd = 14L + dibSize + 4L * nColors
    if (bpp == 8 && (palEnd > pixelOff || palEnd > bytes.length)) return None
    val out = new Array[Byte](w * h * 3)
    def putPal(display: Int, x: Int, idx: Int): Boolean = {
      if (idx >= nColors) return false
      val q = palOff + 4 * idx // BGRA quad
      val p = (display * w + x) * 3
      out(p) = bytes(q); out(p + 1) = bytes(q + 1); out(p + 2) = bytes(q + 2)
      true
    }
    if (compression == 1) {
      // BI_RLE8: bottom-up cursor walk; unset pixels = palette entry 0
      if (nColors < 1) return None
      var y0 = 0
      var x0 = 0
      while (y0 < h) { // pre-fill with entry 0
        var x = 0
        while (x < w) { if (!putPal(h - 1 - y0, x, 0)) return None; x += 1 }
        y0 += 1
      }
      var off = pixelOff
      var cy = 0; var cx = 0
      var done = false
      while (!done) {
        if (off + 2 > bytes.length) return None
        val count = bytes(off) & 0xff
        val value = bytes(off + 1) & 0xff
        off += 2
        if (count > 0) { // encoded run
          var i = 0
          while (i < count) {
            if (cx >= w || cy >= h) return None
            if (!putPal(h - 1 - cy, cx, value)) return None
            cx += 1
            i += 1
          }
        } else value match {
          case 0 => cx = 0; cy += 1 // end of line
          case 1 => done = true // end of bitmap
          case 2 => // delta: skipped pixels stay at entry 0
            if (off + 2 > bytes.length) return None
            cx += bytes(off) & 0xff; cy += bytes(off + 1) & 0xff
            off += 2
            if (cx > w || cy > h) return None
          case n => // absolute run, padded to even length
            if (off + n + (n & 1) > bytes.length) return None
            var i = 0
            while (i < n) {
              if (cx >= w || cy >= h) return None
              if (!putPal(h - 1 - cy, cx, bytes(off + i) & 0xff)) return None
              cx += 1
              i += 1
            }
            off += n + (n & 1)
        }
      }
    } else {
      val bytesPp = bpp / 8
      val stride = ((bytesPp * w + 3) / 4) * 4
      if (pixelOff < 54 || pixelOff.toLong + stride.toLong * h > bytes.length)
        return None
      var row = 0
      while (row < h) {
        val display = if (topDown) row else h - 1 - row
        val base = pixelOff + row * stride
        var x = 0
        while (x < w) {
          if (bpp == 8) {
            if (!putPal(display, x, bytes(base + x) & 0xff)) return None
          } else {
            val o = base + bytesPp * x
            val p = (display * w + x) * 3
            out(p) = bytes(o); out(p + 1) = bytes(o + 1); out(p + 2) = bytes(o + 2)
          }
          x += 1
        }
        row += 1
      }
    }
    Some((w, h, out))
  }

  def parseBmp(id: Long, bytes: Array[Byte]): Option[MediaFeatures] =
    bmpBgrPixels(bytes).map { case (w, h, bgr) =>
      var sumB = 0L; var sumG = 0L; var sumR = 0L; var high = 0L
      var p = 0
      while (p < bgr.length) {
        val b = bgr(p) & 0xff; val g = bgr(p + 1) & 0xff; val r = bgr(p + 2) & 0xff
        sumB += b; sumG += g; sumR += r
        high += (if (b > 127) 1 else 0) + (if (g > 127) 1 else 0) +
          (if (r > 127) 1 else 0)
        p += 3
      }
      val n = w.toLong * h
      val feats = Array(
        (sumB.toDouble / (n * 255)).toFloat,
        (sumG.toDouble / (n * 255)).toFloat,
        (sumR.toDouble / (n * 255)).toFloat,
        ((sumB + sumG + sumR).toDouble / (3 * n * 255)).toFloat,
        (high.toDouble / (3 * n)).toFloat,
        w.toFloat / (w + h), h.toFloat / (w + h), 0f)
      MediaFeatures(id, bytes.length, "bmp", w, h, feats)
    }

  // ---- real decoder: WAV (RIFF PCM, public spec) -----------------------

  /** Parse + decode a 16-bit PCM WAV: RIFF/WAVE magic, then a chunk walk
    * ("fmt " for format/channels/sample-rate, "data" for the PCM
    * payload; chunks are 2-byte aligned). Audio has no width/height, so
    * the metadata mapping is documented here once: `width` carries the
    * SAMPLE RATE, `height` the CHANNEL count. Features fold the real
    * samples: mean/(2¹⁵) and mean-abs/(2¹⁵) amplitude, positive-sample
    * fraction, and per-frame count normalization. Returns None for
    * non-RIFF, compressed, non-16-bit, or truncated payloads — the
    * caller falls back to the stub.
    */
  /** RIFF chunk walk shared by [[parseWav]] and [[wavFrameStats]]:
    * validates the magic and the fmt/data chunks, returns
    * (channels, sampleRate, dataOff, dataLen) for 16-bit PCM or None.
    */
  private def wavPcmHeader(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    if (bytes.length < 44 || tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE") return None
    var off = 12
    var channels = 0; var sampleRate = 0; var bits = 0; var fmtOk = false
    var dataOff = -1; var dataLen = 0
    while (off + 8 <= bytes.length && (dataOff < 0 || !fmtOk)) {
      val id4 = tag(bytes, off)
      val size = le32(bytes, off + 4)
      if (size < 0 || off + 8 + size > bytes.length) return None
      if (id4 == "fmt " && size >= 16) {
        val audioFormat = le16(bytes, off + 8)
        channels = le16(bytes, off + 10)
        sampleRate = le32(bytes, off + 12)
        bits = le16(bytes, off + 22)
        fmtOk = audioFormat == 1 // PCM only; compressed → stub
      } else if (id4 == "data") {
        dataOff = off + 8; dataLen = size
      }
      off += 8 + size + (size & 1) // chunks are 2-byte aligned
    }
    if (!fmtOk || dataOff < 0 || bits != 16 || channels < 1 || channels > 8 ||
        sampleRate <= 0 || dataLen % 2 != 0)
      None
    else Some((channels, sampleRate, dataOff, dataLen))
  }

  def parseWav(id: Long, bytes: Array[Byte]): Option[MediaFeatures] = {
    val (channels, sampleRate, dataOff, dataLen) = wavPcmHeader(bytes) match {
      case Some(h) => h
      case None => return None
    }
    val nSamples = dataLen / 2
    var sum = 0L; var sumAbs = 0L; var pos = 0L
    var i = 0
    while (i < nSamples) {
      val s = (le16(bytes, dataOff + 2 * i).toShort).toInt // signed PCM
      sum += s; sumAbs += math.abs(s); pos += (if (s > 0) 1 else 0)
      i += 1
    }
    val n = math.max(nSamples, 1).toDouble
    val feats = Array(
      (sum / (n * 32768)).toFloat, (sumAbs / (n * 32768)).toFloat,
      (pos / n).toFloat, channels.toFloat / 8,
      0f, 0f, 0f, 0f)
    Some(MediaFeatures(id, bytes.length, "wav", sampleRate, channels, feats))
  }

  /** FLAC through the real decode path ([[Flac.decode]]) folded to the
    * same feature shape as [[parseWav]] — the two encodings of one PCM
    * stream produce IDENTICAL features (lossless, spec-pinned).
    */
  def parseFlac(id: Long, bytes: Array[Byte]): Option[MediaFeatures] =
    Flac.decode(bytes).map { a =>
      val nSamples = a.samples.length
      var sum = 0L; var sumAbs = 0L; var pos = 0L
      var i = 0
      while (i < nSamples) {
        val s = a.samples(i)
        sum += s; sumAbs += math.abs(s); pos += (if (s > 0) 1 else 0)
        i += 1
      }
      val n = math.max(nSamples, 1).toDouble
      val feats = Array(
        (sum / (n * 32768)).toFloat, (sumAbs / (n * 32768)).toFloat,
        (pos / n).toFloat, a.channels.toFloat / 8,
        0f, 0f, 0f, 0f)
      MediaFeatures(id, bytes.length, "flac", a.sampleRate, a.channels, feats)
    }

  /** Fixture/test writer for PCM WAV: mono-or-multichannel 16-bit
    * samples following `((seed + i*13) mod 256) - 128` (i = flat sample
    * index) — int8-range amplitudes so a closed-form oracle can
    * reconstruct the exact sample sum from the float mean feature
    * without precision loss. Canonical 44-byte header, single fmt+data
    * chunks.
    */
  def makeWav(nFrames: Int, channels: Int, sampleRate: Int, seed: Long): Array[Byte] = {
    require(nFrames > 0 && channels >= 1 && channels <= 8 && sampleRate > 0 &&
      nFrames <= (1 << 20), s"fixture shape $nFrames x $channels @ $sampleRate")
    val nSamples = nFrames * channels
    val out = wavWithHeader(1, channels, sampleRate, sampleRate * channels * 2,
      channels * 2, 16, nSamples * 2)
    var i = 0
    while (i < nSamples) {
      putLe16(out, 44 + 2 * i, (((seed + i * 13L) % 256) - 128).toInt)
      i += 1
    }
    out
  }

  /** The canonical 44-byte WAV header — RIFF/WAVE, one 16-byte fmt
    * chunk, the data chunk header — at the front of a zeroed
    * `44 + dataLen` array the caller fills from offset 44. Every WAV
    * fixture writer starts here.
    */
  private def wavWithHeader(formatTag: Int, channels: Int, sampleRate: Int,
                            byteRate: Int, blockAlign: Int, bits: Int,
                            dataLen: Int): Array[Byte] = {
    val out = new Array[Byte](44 + dataLen)
    putTag(out, 0, "RIFF"); putLe32(out, 4, 36 + dataLen); putTag(out, 8, "WAVE")
    putTag(out, 12, "fmt "); putLe32(out, 16, 16); putLe16(out, 20, formatTag)
    putLe16(out, 22, channels); putLe32(out, 24, sampleRate); putLe32(out, 28, byteRate)
    putLe16(out, 32, blockAlign); putLe16(out, 34, bits)
    putTag(out, 36, "data"); putLe32(out, 40, dataLen)
    out
  }

  /** Fixture-side transformer (r17 s2): rewrite any canonical 44-byte
    * header WAV fixture into the WAVE_FORMAT_EXTENSIBLE layout — fmt
    * grows to 40 bytes (cbSize 22, validBits = bits, channel mask 0,
    * the Microsoft GUID family with the ORIGINAL tag in its first
    * u16), the top-level tag becomes 0xFFFE, RIFF size adjusts. The
    * decoded samples are untouched, so every extensible twin
    * fingerprints identically to its plain form.
    */
  def toExtensibleWav(wav: Array[Byte]): Array[Byte] = {
    require(wav.length >= 44 && wav(0) == 'R' && wav(8) == 'W' &&
      wav(12) == 'f' && le32(wav, 16) == 16, "canonical WAV fixture expected")
    val out = new Array[Byte](wav.length + 24)
    System.arraycopy(wav, 0, out, 0, 36) // through the original fmt body
    System.arraycopy(wav, 36, out, 60, wav.length - 36) // data onward
    putLe32(out, 4, le32(wav, 4) + 24) // RIFF size
    putLe32(out, 16, 40) // fmt size
    putLe16(out, 20, 0xfffe) // WAVE_FORMAT_EXTENSIBLE
    putLe16(out, 36, 22) // cbSize
    putLe16(out, 38, le16(wav, 34)) // valid bits
    putLe32(out, 40, 0) // channel mask: unspecified
    // SubFormat GUID: legacy tag + the canonical Microsoft tail
    putLe32(out, 44, le16(wav, 20))
    val tail = Array(0x00, 0x00, 0x10, 0x00, 0x80, 0x00,
      0x00, 0xaa, 0x00, 0x38, 0x9b, 0x71)
    var i = 0
    while (i < 12) { out(48 + i) = tail(i).toByte; i += 1 }
    out
  }

  /** Fixture/test writer for IEEE-float WAV (format tag 3, r17 s2):
    * sample i stores `s(i) / 32768` with [[makeWav]]'s exact law
    * `s(i) = ((seed + i·13) mod 256) − 128` — a dyadic rational every
    * float32/float64 represents exactly, so the decoder's pinned
    * `trunc(f · 32768)` canonicalization recovers s(i) and the float
    * file is a bit-identical fingerprint TWIN of the PCM16 fixture of
    * the same seed. `bits` 32 or 64.
    */
  def makeWavFloat(nFrames: Int, channels: Int, sampleRate: Int, seed: Long,
                   bits: Int = 32): Array[Byte] = {
    require(nFrames > 0 && channels >= 1 && channels <= 8 && sampleRate > 0 &&
      nFrames <= (1 << 20), s"fixture shape $nFrames x $channels @ $sampleRate")
    require(bits == 32 || bits == 64, s"bits=$bits")
    val bps = bits / 8
    val nSamples = nFrames * channels
    val out = wavWithHeader(3, channels, sampleRate, sampleRate * channels * bps,
      channels * bps, bits, nSamples * bps)
    var i = 0
    while (i < nSamples) {
      val s = (((seed + i * 13L) % 256) - 128).toDouble / 32768.0
      if (bits == 32) putLe32(out, 44 + 4 * i, java.lang.Float.floatToIntBits(s.toFloat))
      else {
        val b = java.lang.Double.doubleToLongBits(s)
        putLe32(out, 44 + 8 * i, b.toInt)
        putLe32(out, 44 + 8 * i + 4, (b >>> 32).toInt)
      }
      i += 1
    }
    out
  }

  // ---- real decoders: LOSSY audio (G.711 companding, IMA ADPCM) --------
  // The lossy half of the audio tier that is buildable from FORMULAS:
  // G.711 mu-law/A-law (8-bit log PCM — the telephony codecs; ITU G.711
  // expansion laws are closed-form integer arithmetic) and IMA/DVI ADPCM
  // (4-bit differential — games/telephony; the step/index tables are the
  // canonical published IMA constants). Both live in WAV containers
  // (format tags 7, 6, 0x11) and decode to exact integers, so every
  // fingerprint law replays in SQL — the mu-law byte expands per-sample
  // with no state, ADPCM threads (predictor, index) per independent
  // block (a recursive-CTE replay). The table-data codecs (MP3 Huffman,
  // MP2 synthesis window, Vorbis dB table) stay a DOCUMENTED and
  // MEASURED boundary — see audioCoverage/COVERAGE.md: their normative
  // constant tables aren't derivable from first principles.

  /** General WAV header: (formatTag, channels, sampleRate, bits,
    * blockAlign, dataOff, dataLen). Unlike [[wavPcmHeader]] (format-1
    * 16-bit only — the stats/feature paths' envelope), this accepts the
    * companded/ADPCM format tags so the decode dispatch can route them.
    */
  private def wavAnyHeader(bytes: Array[Byte]): Option[(Int, Int, Int, Int, Int, Int, Int)] = {
    if (bytes.length < 44 || tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE") return None
    var off = 12
    var fmtTag = -1; var channels = 0; var sampleRate = 0; var bits = 0
    var blockAlign = 0
    var dataOff = -1; var dataLen = 0
    while (off + 8 <= bytes.length && (dataOff < 0 || fmtTag < 0)) {
      val id4 = tag(bytes, off)
      val size = le32(bytes, off + 4)
      if (size < 0 || off + 8 + size > bytes.length) return None
      if (id4 == "fmt " && size >= 16) {
        fmtTag = le16(bytes, off + 8)
        channels = le16(bytes, off + 10)
        sampleRate = le32(bytes, off + 12)
        blockAlign = le16(bytes, off + 20)
        bits = le16(bytes, off + 22)
        // WAVE_FORMAT_EXTENSIBLE (r17 s2): the layout studio tools
        // write for 24-bit/float/multichannel PCM — the EFFECTIVE
        // format tag is the SubFormat GUID's first u16 (the Microsoft
        // GUID family embeds the legacy tag there), after cbSize(2) +
        // validBits(2) + channelMask(4) at fmt offset 16
        if (fmtTag == 0xfffe) {
          if (size < 40) return None
          fmtTag = le16(bytes, off + 8 + 24)
        }
      } else if (id4 == "data") {
        dataOff = off + 8; dataLen = size
      }
      off += 8 + size + (size & 1)
    }
    if (fmtTag < 0 || dataOff < 0 || channels < 1 || channels > 8 || sampleRate <= 0)
      None
    else Some((fmtTag, channels, sampleRate, bits, blockAlign, dataOff, dataLen))
  }

  /** ITU G.711 mu-law expansion — the canonical integer law: invert the
    * byte, rebuild the biased mantissa, shift by the segment, strip the
    * bias with the sign folded in. Exactly the published reference
    * arithmetic; output is a 14-bit-range signed sample.
    */
  private[graft] def muLawToPcm(uIn: Int): Int = {
    val u = (~uIn) & 0xff
    val t = (((u & 0x0f) << 3) + 0x84) << ((u & 0x70) >> 4)
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** ITU G.711 A-law expansion: XOR 0x55, rebuild the segment mantissa
    * (seg 0: +8; seg 1: +0x108; seg ≥2: (+0x108) << (seg−1)), sign bit
    * SET means positive. 13-bit-range signed sample.
    */
  private[graft] def aLawToPcm(aIn: Int): Int = {
    val a = aIn ^ 0x55
    val seg = (a & 0x70) >> 4
    val base = (a & 0x0f) << 4
    val t = seg match {
      case 0 => base + 8
      case 1 => base + 0x108
      case s => (base + 0x108) << (s - 1)
    }
    if ((a & 0x80) != 0) t else -t
  }

  /** The canonical IMA ADPCM step-size table (89 entries) and index
    * adjustment table — the published DVI/IMA constants every
    * implementation shares.
    */
  private[graft] val ImaStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
  private[graft] val ImaIndexTable: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** Decode MONO IMA/DVI ADPCM blocks: each `blockAlign`-byte block is
    * independent — 4-byte header (init predictor int16le, init step
    * index, reserved) then 2 nibbles/byte, LOW nibble first. Per nibble:
    * diff = step>>3 (+step if bit2)(+step>>1 if bit1)(+step>>2 if bit0),
    * subtract when bit3, clamp to int16; index += ImaIndexTable(n&7),
    * clamp to [0,88]. Sample 0 of each block is the header predictor —
    * the canonical block law, so block boundaries re-sync exactly.
    */
  private[graft] def imaAdpcmDecode(bytes: Array[Byte], blockAlign: Int,
                                    dataOff: Int, dataLen: Int): Option[Array[Int]] = {
    if (blockAlign < 5 || dataLen < blockAlign || dataLen % blockAlign != 0)
      return None
    val nBlocks = dataLen / blockAlign
    val perBlock = 1 + (blockAlign - 4) * 2
    val out = new Array[Int](nBlocks * perBlock)
    var b = 0
    while (b < nBlocks) {
      val base = dataOff + b * blockAlign
      var pred = le16(bytes, base).toShort.toInt
      var idx = math.min(88, bytes(base + 2) & 0xff)
      var o = b * perBlock
      out(o) = pred; o += 1
      var j = 4
      while (j < blockAlign) {
        val byte = bytes(base + j) & 0xff
        var half = 0
        while (half < 2) {
          val nib = if (half == 0) byte & 0x0f else byte >> 4
          val step = ImaStepTable(idx)
          var diff = step >> 3
          if ((nib & 4) != 0) diff += step
          if ((nib & 2) != 0) diff += step >> 1
          if ((nib & 1) != 0) diff += step >> 2
          pred = if ((nib & 8) != 0) pred - diff else pred + diff
          if (pred > 32767) pred = 32767
          if (pred < -32768) pred = -32768
          idx += ImaIndexTable(nib & 7)
          if (idx < 0) idx = 0
          if (idx > 88) idx = 88
          out(o) = pred; o += 1
          half += 1
        }
        j += 1
      }
      b += 1
    }
    Some(out)
  }

  /** The canonical MS-ADPCM constants (the published standard set): the
    * seven predictor coefficient pairs (×256 fixed point) and the
    * 16-entry delta adaptation table.
    */
  private[graft] val MsAdpcmCoeff1: Array[Int] = Array(256, 512, 0, 192, 240, 460, 392)
  private[graft] val MsAdpcmCoeff2: Array[Int] = Array(0, -256, 0, 64, 0, -208, -232)
  private[graft] val MsAdpcmAdapt: Array[Int] = Array(
    230, 230, 230, 230, 307, 409, 512, 614, 768, 614, 512, 409, 307, 230, 230, 230)

  /** Decode MONO MS-ADPCM blocks (WAV format tag 2): each
    * `blockAlign`-byte block is independent — 7-byte header (predictor
    * index 0..6, initial idelta int16le, sample1 int16le, sample2
    * int16le) then 2 nibbles/byte, HIGH nibble first (the opposite of
    * IMA). Per nibble n: predictor = trunc((s1·C1[p] + s2·C2[p])/256) +
    * signed4(n)·idelta, clamp to int16; idelta = max(16,
    * trunc(Adapt[n]·idelta/256)). A block emits sample2, sample1, then
    * one sample per nibble. idelta is clamped to [16, 65535]: reference
    * decoders leave the top open and silently overflow their int on
    * adversarial nibble streams (growth ≈1.35×/nibble on random codes);
    * no sanely-ENCODED stream ever exceeds the bound (|signed|·delta
    * already saturates the int16 sample far below it), so the clamp
    * changes nothing on real files and makes the law total + exactly
    * replayable. Envelope: the STANDARD 7-coefficient set (files
    * carrying custom extra coefficient pairs in the fmt extension are
    * outside it — essentially unseen in practice).
    */
  private[graft] def msAdpcmDecode(bytes: Array[Byte], blockAlign: Int,
                                   dataOff: Int, dataLen: Int): Option[Array[Int]] = {
    if (blockAlign < 8 || dataLen < blockAlign || dataLen % blockAlign != 0)
      return None
    val nBlocks = dataLen / blockAlign
    val perBlock = 2 + (blockAlign - 7) * 2
    val out = new Array[Int](nBlocks * perBlock)
    var b = 0
    while (b < nBlocks) {
      val base = dataOff + b * blockAlign
      val p = math.min(6, bytes(base) & 0xff)
      val c1 = MsAdpcmCoeff1(p); val c2 = MsAdpcmCoeff2(p)
      var delta = le16(bytes, base + 1).toShort.toInt
      if (delta < 16) delta = 16
      var s1 = le16(bytes, base + 3).toShort.toInt
      var s2 = le16(bytes, base + 5).toShort.toInt
      var o = b * perBlock
      out(o) = s2; out(o + 1) = s1; o += 2
      var j = 7
      while (j < blockAlign) {
        val byte = bytes(base + j) & 0xff
        var half = 0
        while (half < 2) {
          val nib = if (half == 0) byte >> 4 else byte & 0x0f
          val signed = if (nib >= 8) nib - 16 else nib
          var pred = (s1 * c1 + s2 * c2) / 256 + signed * delta
          if (pred > 32767) pred = 32767
          if (pred < -32768) pred = -32768
          s2 = s1; s1 = pred
          delta = math.min(65535, math.max(16, MsAdpcmAdapt(nib) * delta / 256))
          out(o) = pred; o += 1
          half += 1
        }
        j += 1
      }
      b += 1
    }
    Some(out)
  }

  /** Decoded sample stream of any supported audio payload:
    * (nSamples, sampleAt) — PCM16/mu-law/A-law WAV read straight off
    * the container (per-sample formulas, nothing materialized), IMA
    * ADPCM and FLAC materialize their decoded arrays. None outside the
    * envelope (see [[audioCoverage]] for the measured boundary).
    */
  private def decodedAudioSamples(bytes: Array[Byte]): Option[(Int, Int => Long)] =
    wavAnyHeader(bytes) match {
      case Some((1, _, _, 16, _, dataOff, dataLen)) if dataLen % 2 == 0 =>
        Some((dataLen / 2, i => le16(bytes, dataOff + 2 * i).toShort.toLong))
      case Some((1, _, _, 8, _, dataOff, dataLen)) =>
        // 8-bit PCM is UNSIGNED per the RIFF spec; canonical widening is
        // (v − 128) << 8 so full scale lands on the 16-bit range
        Some((dataLen, i => (((bytes(dataOff + i) & 0xff) - 128) << 8).toLong))
      case Some((1, _, _, 24, _, dataOff, dataLen)) if dataLen % 3 == 0 =>
        // 24-bit signed little-endian; samples stay exact 24-bit ints
        // (the fingerprint laws are width-agnostic functions of them)
        Some((dataLen / 3, i => ((le24(bytes, dataOff + 3 * i) << 8) >> 8).toLong))
      case Some((7, _, _, 8, _, dataOff, dataLen)) => // G.711 mu-law
        Some((dataLen, i => muLawToPcm(bytes(dataOff + i) & 0xff).toLong))
      case Some((6, _, _, 8, _, dataOff, dataLen)) => // G.711 A-law
        Some((dataLen, i => aLawToPcm(bytes(dataOff + i) & 0xff).toLong))
      case Some((3, _, _, 32, _, dataOff, dataLen)) if dataLen % 4 == 0 =>
        // IEEE-float WAV (format tag 3, r17 s2): canonicalized to the
        // 16-bit range by the PINNED integer law
        // clamp(trunc(f · 32768), −32768, 32767), NaN → 0 — with exact
        // dyadic inputs (i / 32768) the mapping is the identity on i,
        // so fingerprint laws replay in SQL and a float re-encoding of
        // a PCM stream fingerprints IDENTICALLY (spec-pinned)
        Some((dataLen / 4, i => {
          val f = java.lang.Float.intBitsToFloat(le32(bytes, dataOff + 4 * i))
          if (java.lang.Float.isNaN(f)) 0L
          else math.max(-32768L, math.min(32767L, (f.toDouble * 32768.0).toLong))
        }))
      case Some((3, _, _, 64, _, dataOff, dataLen)) if dataLen % 8 == 0 =>
        Some((dataLen / 8, i => {
          val o = dataOff + 8 * i
          val f = java.lang.Double.longBitsToDouble(le64(bytes, o))
          if (java.lang.Double.isNaN(f)) 0L
          else math.max(-32768L, math.min(32767L, (f * 32768.0).toLong))
        }))
      case Some((0x11, 1, _, 4, blockAlign, dataOff, dataLen)) => // IMA mono
        imaAdpcmDecode(bytes, blockAlign, dataOff, dataLen)
          .map(a => (a.length, (i: Int) => a(i).toLong))
      case Some((2, 1, _, 4, blockAlign, dataOff, dataLen)) => // MS-ADPCM mono
        msAdpcmDecode(bytes, blockAlign, dataOff, dataLen)
          .map(a => (a.length, (i: Int) => a(i).toLong))
      case Some(_) => None // other WAV envelopes: documented boundary
      case None =>
        Flac.decode(bytes).map(a => (a.samples.length, (i: Int) => a.samples(i).toLong))
          .orElse(auSamples(bytes))
          .orElse(aiffSamples(bytes))
          .orElse(oggFlacSamples(bytes)) // r17 s2: Ogg-wrapped FLAC
    }

  /** Full Ogg packet reassembly (r17 s2): page walk (version 0,
    * lacing-table segmentation, 255-continuation inside and ACROSS
    * pages — a page whose first packet continues the previous page
    * must carry the continuation flag, enforced both ways), packets
    * concatenated from their segments. CRCs are not verified (the
    * [[oggMeta]] walk's documented posture). None on any malformed or
    * truncated page/packet — never a partial guess. 4096-page
    * backstop.
    */
  private def oggPackets(bytes: Array[Byte]): Option[Vector[Array[Byte]]] = {
    // a Boolean test for the OggS capture pattern, not a 4-byte tag read
    def tag(off: Int): Boolean =
      off + 4 <= bytes.length && bytes(off) == 'O' && bytes(off + 1) == 'g' &&
        bytes(off + 2) == 'g' && bytes(off + 3) == 'S'
    if (!tag(0)) return None
    val packets = Vector.newBuilder[Array[Byte]]
    var cur = new java.io.ByteArrayOutputStream()
    var inPacket = false
    var off = 0
    var nPages = 0
    while (off < bytes.length) {
      if (!tag(off) || off + 27 > bytes.length) return None
      if (bytes(off + 4) != 0) return None // stream structure version
      val continued = (bytes(off + 5) & 1) != 0
      if (continued != inPacket) return None // continuation must agree
      val nsegs = bytes(off + 26) & 0xff
      if (off + 27 + nsegs > bytes.length) return None
      var body = off + 27 + nsegs
      var i = 0
      while (i < nsegs) {
        val l = bytes(off + 27 + i) & 0xff
        if (body + l > bytes.length) return None
        cur.write(bytes, body, l)
        body += l
        inPacket = true
        if (l < 255) {
          packets += cur.toByteArray
          cur = new java.io.ByteArrayOutputStream()
          inPacket = false
        }
        i += 1
      }
      off = body
      nPages += 1
      if (nPages > 4096) return None
    }
    if (inPacket) return None // stream ends mid-packet
    Some(packets.result())
  }

  /** Ogg-FLAC (r17 s2): the mapping's first packet is `0x7F "FLAC"` +
    * version + a 16-bit count of FOLLOWING header packets + a verbatim
    * `fLaC` STREAMINFO shell; audio packets are native FLAC frames.
    * Reconstruction is therefore a SPLICE into a stream the EXISTING
    * [[Flac.decode]] owns: force the STREAMINFO's last-metadata-block
    * flag (the skipped header packets carried the rest), concatenate
    * the audio packets after it. Fingerprints are functions of decoded
    * samples, so an Ogg re-wrap of a FLAC stream collides with the
    * bare file at Hamming 0 (spec-pinned). The first packet must be
    * exactly the 51-byte mapping header, per spec.
    */
  private def oggFlacSamples(bytes: Array[Byte]): Option[(Int, Int => Long)] = {
    val packets = oggPackets(bytes) match {
      case Some(p) => p
      case None => return None
    }
    if (packets.isEmpty) return None
    val p0 = packets.head
    if (p0.length != 9 + 42 || (p0(0) & 0xff) != 0x7f || p0(1) != 'F' ||
        p0(2) != 'L' || p0(3) != 'A' || p0(4) != 'C') return None
    val nHeaders = be16(p0, 7)
    if (packets.length <= 1 + nHeaders) return None // no audio packets
    val si = java.util.Arrays.copyOfRange(p0, 9, p0.length)
    if (!(si(0) == 'f' && si(1) == 'L' && si(2) == 'a' && si(3) == 'C'))
      return None
    si(4) = (si(4) | 0x80).toByte // STREAMINFO becomes the last block
    val out = new java.io.ByteArrayOutputStream()
    out.write(si)
    packets.drop(1 + nHeaders).foreach(p => out.write(p, 0, p.length))
    Flac.decode(out.toByteArray)
      .map(a => (a.samples.length, (i: Int) => a.samples(i).toLong))
  }

  /** Sun/NeXT .au (r17): `.snd` magic, six big-endian u32 header words
    * (data offset, data size, encoding, sample rate, channels), then
    * raw samples. Encodings decoded: 1 (G.711 mu-law — the SAME
    * [[muLawToPcm]] expansion the WAV format-7 path runs) and 3 (16-bit
    * linear PCM, big-endian). A data size that overruns the payload is
    * a truncated stream and rejects (0xffffffff means to-end-of-file
    * per the spec and is honored).
    */
  private def auSamples(bytes: Array[Byte]): Option[(Int, Int => Long)] = {
    if (bytes.length < 24) return None
    if (!(bytes(0) == '.'.toByte && bytes(1) == 's'.toByte &&
          bytes(2) == 'n'.toByte && bytes(3) == 'd'.toByte)) return None
    val dataOff = u32be(bytes, 4)
    val dataSize = u32be(bytes, 8)
    val enc = u32be(bytes, 12)
    val channels = u32be(bytes, 20)
    if (dataOff < 24 || dataOff >= bytes.length || channels < 1) return None
    val avail = bytes.length - dataOff
    val dataLen =
      if (dataSize == 0xffffffffL) avail
      else if (dataOff + dataSize > bytes.length) return None // truncated
      else dataSize
    if (dataLen <= 0) return None
    val off = dataOff.toInt
    val n = dataLen.toInt
    enc match {
      case 1L => Some((n, i => muLawToPcm(bytes(off + i) & 0xff).toLong))
      case 2L => // 8-bit linear PCM is SIGNED in .au (unlike RIFF);
        // canonical widening v << 8 keeps full scale on the 16-bit range
        Some((n, i => (bytes(off + i).toInt << 8).toLong))
      case 3L if n % 2 == 0 =>
        Some((n / 2, i => be16(bytes, off + 2 * i).toShort.toLong))
      case 6L if n % 4 == 0 => // IEEE float32, big-endian — the WAV
        // format-3 canonicalization law verbatim (r17 s2)
        Some((n / 4, i => {
          val f = java.lang.Float.intBitsToFloat(be32(bytes, off + 4 * i))
          if (java.lang.Float.isNaN(f)) 0L
          else math.max(-32768L, math.min(32767L, (f.toDouble * 32768.0).toLong))
        }))
      case 7L if n % 8 == 0 => // IEEE float64, big-endian
        Some((n / 8, i => {
          val f = java.lang.Double.longBitsToDouble(be64(bytes, off + 8 * i))
          if (java.lang.Double.isNaN(f)) 0L
          else math.max(-32768L, math.min(32767L, (f * 32768.0).toLong))
        }))
      case _ => None // A-law-in-au, ADPCM-in-au: documented boundary
    }
  }

  /** AIFF (r17): FORM/AIFF IFF container — big-endian chunk sizes with
    * even-alignment pads (the WAV walk's mirror image), COMM declaring
    * (channels, sampleFrames, 16-bit; the 80-bit extended sample rate
    * is container metadata the fingerprint laws never read), SSND with
    * its 4-byte offset/blockSize prelude, then interleaved big-endian
    * PCM16. The declared frame count must fit the SSND payload —
    * a lying COMM rejects. AIFC (compressed) stays outside.
    */
  private def aiffSamples(bytes: Array[Byte]): Option[(Int, Int => Long)] = {
    if (bytes.length < 12) return None
    val isAifc = tag(bytes, 8) == "AIFC"
    if (tag(bytes, 0) != "FORM" || (tag(bytes, 8) != "AIFF" && !isAifc)) return None
    val formEnd = math.min(bytes.length.toLong, 8L + be32(bytes, 4)).toInt
    var off = 12
    var channels = -1
    var nFrames = -1L
    var bits = -1
    var ssndOff = -1
    var ssndLen = -1L
    // AIFC only: PCM compression types decode — "NONE" (big-endian,
    // the AIFF layout under the extended COMM) and "sowt" (the
    // byte-swapped PCM Apple writers emit). Real codecs (ima4, ulaw
    // WITH the AIFC framing, fl32…) stay outside — r17 s2.
    var little = false
    var comp = if (isAifc) "" else "NONE"
    while (off + 8 <= formEnd) {
      val ck = tag(bytes, off)
      val size = be32(bytes, off + 4)
      if (size < 0 || off + 8 + size.toLong > formEnd) return None
      if (ck == "COMM" && size >= 18) {
        channels = be16(bytes, off + 8)
        nFrames = u32be(bytes, off + 10)
        bits = be16(bytes, off + 14)
        if (isAifc) {
          if (size < 22) return None // extended COMM is mandatory
          comp = tag(bytes, off + 26)
        }
      } else if (ck == "SSND" && size >= 8) {
        val dOff = be32(bytes, off + 8) // offset into the sound data
        if (dOff < 0 || dOff > size - 8) return None
        ssndOff = off + 16 + dOff
        ssndLen = size - 8 - dOff
      }
      off += 8 + size + (size & 1)
    }
    comp match {
      case "NONE" => ()
      case "sowt" => little = true
      case _ => return None // real AIFC codecs: documented boundary
    }
    if (channels < 1 || bits != 16 || ssndOff < 0 || nFrames <= 0) return None
    val nSamples = nFrames * channels
    if (nSamples * 2 > ssndLen || nSamples > (1 << 24)) return None
    val base = ssndOff
    if (little) Some((nSamples.toInt, i => le16(bytes, base + 2 * i).toShort.toLong))
    else Some((nSamples.toInt, i => be16(bytes, base + 2 * i).toShort.toLong))
  }

  /** Fixture/test writer for Sun .au (r17): mu-law bytes follow
    * [[makeWavG711]]'s companded law `(seed + i*11) mod 256` (so the
    * mu-law oracle replay carries over verbatim); PCM16 samples follow
    * [[makeWav]]'s law `((seed + i*13) mod 256) − 128`, stored
    * big-endian.
    */
  def makeAu(nSamples: Int, sampleRate: Int, seed: Long,
             muLaw: Boolean, enc: Int = -1): Array[Byte] = {
    require(nSamples > 0 && nSamples <= (1 << 20) && sampleRate > 0,
      s"fixture shape $nSamples @ $sampleRate")
    // enc overrides the legacy flag: 1 mu-law, 2 linear-8, 3 PCM16,
    // 6/7 float32/float64 BE (r17 s2). Samples for every linear form
    // follow [[makeWav]]'s law — 8-bit stores it as the signed byte
    // (decoded ×256, scale-invariant under the fingerprint), floats as
    // the exact dyadic s/32768 — so they are all fingerprint TWINS.
    val encoding = if (enc > 0) enc else if (muLaw) 1 else 3
    require(Set(1, 2, 3, 6, 7).contains(encoding), s"enc=$encoding")
    val bps = encoding match {
      case 1 | 2 => 1; case 3 => 2; case 6 => 4; case _ => 8
    }
    val dataLen = bps * nSamples
    val out = new Array[Byte](24 + dataLen)
    putTag(out, 0, ".snd")
    putBe32(out, 4, 24)                  // data offset
    putBe32(out, 8, dataLen)
    putBe32(out, 12, encoding)
    putBe32(out, 16, sampleRate)
    putBe32(out, 20, 1)                  // channels
    var i = 0
    while (i < nSamples) {
      encoding match {
        case 1 => out(24 + i) = ((seed + i * 11L) % 256).toByte
        case 2 => out(24 + i) = (((seed + i * 13L) % 256) - 128).toByte
        case 3 => putBe16(out, 24 + 2 * i, (((seed + i * 13L) % 256) - 128).toInt)
        case 6 =>
          val f = (((seed + i * 13L) % 256) - 128).toDouble / 32768.0
          putBe32(out, 24 + 4 * i, java.lang.Float.floatToIntBits(f.toFloat))
        case _ =>
          val f = (((seed + i * 13L) % 256) - 128).toDouble / 32768.0
          val b = java.lang.Double.doubleToLongBits(f)
          putBe32(out, 24 + 8 * i, (b >>> 32).toInt); putBe32(out, 24 + 8 * i + 4, b.toInt)
      }
      i += 1
    }
    out
  }

  /** Fixture/test writer for AIFF (r17): interleaved big-endian PCM16
    * following [[makeWav]]'s closed form `((seed + i*13) mod 256) − 128`
    * (i the flat sample index), canonical FORM/COMM/SSND layout with
    * the 80-bit extended sample-rate field written exactly.
    */
  def makeAiff(nFrames: Int, channels: Int, sampleRate: Int,
               seed: Long, aifc: String = ""): Array[Byte] = {
    require(nFrames > 0 && channels >= 1 && channels <= 8 && sampleRate > 0 &&
      nFrames <= (1 << 20), s"fixture shape $nFrames x $channels @ $sampleRate")
    require(aifc == "" || aifc == "NONE" || aifc == "sowt", s"aifc=$aifc")
    val isAifc = aifc.nonEmpty
    val little = aifc == "sowt"
    val nSamples = nFrames * channels
    val dataLen = 2 * nSamples
    // AIFC: extended COMM carries the 4-byte compression type + a
    // pascal-string name (empty → 1 length byte + 1 pad to even)
    val commSize = if (isAifc) 18 + 4 + 2 else 18
    val ssndSize = 8 + dataLen
    val formSize = 4 + (8 + commSize) + (8 + ssndSize) + (ssndSize & 1)
    val out = new Array[Byte](8 + formSize)
    putTag(out, 0, "FORM"); putBe32(out, 4, formSize)
    putTag(out, 8, if (isAifc) "AIFC" else "AIFF")
    putTag(out, 12, "COMM"); putBe32(out, 16, commSize)
    putBe16(out, 20, channels)
    putBe32(out, 22, nFrames)
    putBe16(out, 26, 16) // bits
    // 80-bit IEEE extended sample rate: sign 0, 15-bit exponent
    // 16383 + e, explicit-leading-1 64-bit mantissa — for an integer
    // rate r with highest set bit e, mantissa = r << (63 - e)
    val e = 63 - java.lang.Long.numberOfLeadingZeros(sampleRate.toLong)
    putBe16(out, 28, 16383 + e)
    val mant = sampleRate.toLong << (63 - e)
    putBe32(out, 30, (mant >>> 32).toInt); putBe32(out, 34, mant.toInt)
    if (isAifc) putTag(out, 38, aifc) // compression type; name stays empty
    val ssndAt = 20 + commSize
    putTag(out, ssndAt, "SSND"); putBe32(out, ssndAt + 4, ssndSize)
    // offset and blockSize stay 0
    val dataAt = ssndAt + 16
    var i = 0
    while (i < nSamples) {
      val v = (((seed + i * 13L) % 256) - 128).toInt
      if (little) putLe16(out, dataAt + 2 * i, v) else putBe16(out, dataAt + 2 * i, v)
      i += 1
    }
    out
  }

  /** Fixture writer for G.711 WAV (format 7 = mu-law, 6 = A-law): mono
    * 8-bit companded bytes following `(seed + i*11) mod 256` — arbitrary
    * bytes are always decodable, so the oracle replays the expansion law
    * itself from the closed form.
    */
  def makeWavG711(nSamples: Int, sampleRate: Int, seed: Long,
                  aLaw: Boolean): Array[Byte] = {
    require(nSamples > 0 && nSamples <= (1 << 20) && sampleRate > 0,
      s"fixture shape $nSamples @ $sampleRate")
    val out = wavWithHeader(if (aLaw) 6 else 7, 1, sampleRate, sampleRate, 1, 8, nSamples)
    var i = 0
    while (i < nSamples) {
      out(44 + i) = ((seed + i * 11L) % 256).toByte
      i += 1
    }
    out
  }

  /** Fixture writer for non-16-bit PCM WAV (`bits` = 8 or 24, mono):
    * 8-bit samples are the UNSIGNED bytes `(seed + i*11) mod 256`;
    * 24-bit samples follow `((seed + i*9901) mod 1000000) − 500000`,
    * stored signed little-endian — both closed-form so the width-
    * widening laws replay in SQL.
    */
  def makeWavPcmWidth(nSamples: Int, sampleRate: Int, seed: Long,
                      bits: Int): Array[Byte] = {
    require(nSamples > 0 && nSamples <= (1 << 20) && sampleRate > 0 &&
      (bits == 8 || bits == 24), s"fixture shape $nSamples @ $sampleRate x${bits}b")
    val bytesPer = bits / 8
    val out = wavWithHeader(1, 1, sampleRate, sampleRate * bytesPer, bytesPer, bits,
      nSamples * bytesPer)
    var i = 0
    while (i < nSamples) {
      if (bits == 8) out(44 + i) = ((seed + i * 11L) % 256).toByte
      else {
        val v = (((seed + i * 9901L) % 1000000) - 500000).toInt
        putLe16(out, 44 + 3 * i, v); out(44 + 3 * i + 2) = (v >> 16).toByte
      }
      i += 1
    }
    out
  }

  /** Fixture writer for mono IMA ADPCM WAV (format 0x11): `nBlocks`
    * independent blocks of `blockAlign` bytes — header predictor
    * `((seed + 97b) mod 4096) − 2048`, step index `(seed + 13b) mod 89`,
    * nibble bytes `(seed + 131b + 7j) mod 256` (j = byte offset in the
    * block) — arbitrary nibble streams are always decodable, so the
    * oracle replays the full predictor/step state machine from the
    * closed form.
    */
  def makeWavImaAdpcm(nBlocks: Int, blockAlign: Int, sampleRate: Int,
                      seed: Long): Array[Byte] = {
    require(nBlocks > 0 && nBlocks <= 4096 && blockAlign >= 8 &&
      blockAlign <= 4096 && sampleRate > 0,
      s"fixture shape $nBlocks x $blockAlign @ $sampleRate")
    val out = wavWithHeader(0x11, 1, sampleRate, sampleRate / 2, blockAlign, 4,
      nBlocks * blockAlign)
    var b = 0
    while (b < nBlocks) {
      val base = 44 + b * blockAlign
      putLe16(out, base, (((seed + 97L * b) % 4096) - 2048).toInt)
      out(base + 2) = ((seed + 13L * b) % 89).toByte
      out(base + 3) = 0
      var j = 4
      while (j < blockAlign) {
        out(base + j) = ((seed + 131L * b + 7L * j) % 256).toByte
        j += 1
      }
      b += 1
    }
    out
  }

  /** Fixture writer for mono MS-ADPCM WAV (format 2): `nBlocks`
    * independent blocks — predictor index `(seed + b) mod 7`, idelta
    * `40 + (7·seed + 11·b) mod 500`, sample1/sample2
    * `((seed + 131b) mod 2000) − 1000` / `((seed + 77b) mod 2000) −
    * 1000`, nibble bytes `(seed + 131b + 7j) mod 256` — arbitrary
    * nibble streams are always decodable, so the oracle replays the
    * full predictor/delta state machine from the closed form.
    */
  def makeWavMsAdpcm(nBlocks: Int, blockAlign: Int, sampleRate: Int,
                     seed: Long): Array[Byte] = {
    require(nBlocks > 0 && nBlocks <= 4096 && blockAlign >= 8 &&
      blockAlign <= 4096 && sampleRate > 0,
      s"fixture shape $nBlocks x $blockAlign @ $sampleRate")
    val out = wavWithHeader(2, 1, sampleRate, sampleRate / 2, blockAlign, 4,
      nBlocks * blockAlign)
    var b = 0
    while (b < nBlocks) {
      val base = 44 + b * blockAlign
      out(base) = ((seed + b) % 7).toByte
      putLe16(out, base + 1, (40 + (seed * 7 + b * 11L) % 500).toInt)
      putLe16(out, base + 3, (((seed + 131L * b) % 2000) - 1000).toInt)
      putLe16(out, base + 5, (((seed + 77L * b) % 2000) - 1000).toInt)
      var j = 7
      while (j < blockAlign) {
        out(base + j) = ((seed + 131L * b + 7L * j) % 256).toByte
        j += 1
      }
      b += 1
    }
    out
  }

  // ---- real decoder: PNG (W3C PNG spec; zlib via java.util.zip) --------
  // Third de-stubbed format, and the first with a REAL compression codec
  // in the path: IDAT payloads inflate through java.util.zip.Inflater
  // (public JDK), then scanlines un-filter per the spec's five filter
  // types (None/Sub/Up/Average/Paeth). Supported: all five color types
  // — grayscale (0), truecolor (2), palette-indexed (3; filters run on
  // the index plane, then a PLTE lookup per pixel), gray+alpha (4) and
  // RGBA (6) — at 8-bit depth, plus 16-bit for the non-palette types
  // (samples reduce to their high byte; filters always run on bytes
  // with bpp = bytes/pixel, per spec). Interlaced (Adam7) images decode
  // for real too: seven reduced passes, each filtered independently,
  // scattered back onto the (xStart + i·xStep, yStart + j·yStep) grid.

  private[graft] val PngSig: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Adam7 pass grid (W3C PNG §8.2): (xStart, yStart, xStep, yStep). */
  private val Adam7: Seq[(Int, Int, Int, Int)] = Seq(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** A pass's reduced dimensions (0 × 0 when the image is too small to
    * place any pixel on that pass's grid — such passes are ABSENT from
    * the stream, not empty, per spec).
    */
  private def passDims(w: Int, h: Int, p: (Int, Int, Int, Int)): (Int, Int) = {
    val (xs, ys, xst, yst) = p
    (if (w > xs) (w - xs + xst - 1) / xst else 0,
      if (h > ys) (h - ys + yst - 1) / yst else 0)
  }

  /** Invert the five scanline filters over one (sub-)image: `rows`
    * scanlines of `stride` bytes, each preceded by its filter byte, at
    * `raw[rawOff…]`. Reconstructed bytes feed the next row's
    * predictions, per spec; a filter byte > 4 returns null (caller
    * falls to the stub). Interlaced passes filter INDEPENDENTLY — the
    * caller invokes this once per pass, so row 0's `b`/`c` predictors
    * are 0 inside every pass.
    */
  private def unfilterRows(raw: Array[Byte], rawOff: Int, rows: Int,
                           stride: Int, bpp: Int): Array[Byte] = {
    val img = new Array[Byte](rows * stride)
    var r = 0
    while (r < rows) {
      val ft = raw(rawOff + r * (stride + 1)) & 0xff
      if (ft > 4) return null
      val rowOff = rawOff + r * (stride + 1) + 1
      val outOff = r * stride
      var i = 0
      while (i < stride) {
        val x = raw(rowOff + i) & 0xff
        val a = if (i >= bpp) img(outOff + i - bpp) & 0xff else 0
        val b = if (r > 0) img(outOff - stride + i) & 0xff else 0
        val c = if (r > 0 && i >= bpp) img(outOff - stride + i - bpp) & 0xff else 0
        val v = ft match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + ((a + b) >> 1)
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
        }
        img(outOff + i) = (v & 0xff).toByte
        i += 1
      }
      r += 1
    }
    img
  }

  /** Parse + decode a PNG: signature, IHDR-first chunk walk (big-endian
    * lengths), IDAT concatenation, zlib inflate, per-scanline filter
    * inversion, then the same pixel fold as [[parseBmp]]. Channel means
    * are in STORAGE order — R,G,B for PNG (BMP's are B,G,R); grayscale
    * folds its single channel into all three slots. Returns None for
    * wrong magic, unsupported depth/type/interlace, malformed chunk
    * bounds, truncated or corrupt zlib streams, and bad filter bytes —
    * the caller falls back to the stub rather than guessing.
    */
  /** The decoded-but-unfolded PNG: header fields + the reconstructed
    * byte plane (indices for palette images) + the palette if any —
    * shared by the feature fold ([[parsePng]]) and the perceptual-hash
    * grid ([[imageAHash]]).
    */
  private case class PngImage(w: Int, h: Int, colorType: Int, bitDepth: Int,
                              channels: Int, img: Array[Byte],
                              palette: Array[Byte])

  private def pngDecode(bytes: Array[Byte]): Option[PngImage] = {
    if (bytes.length < 8 + 25 || !PngSig.indices.forall(i => bytes(i) == PngSig(i)))
      return None
    // IHDR must be the first chunk (spec)
    if (be32(bytes, 8) != 13 || bytes(12) != 'I' || bytes(13) != 'H' ||
        bytes(14) != 'D' || bytes(15) != 'R')
      return None
    val w = be32(bytes, 16)
    val h = be32(bytes, 20)
    val bitDepth = bytes(24) & 0xff
    val colorType = bytes(25) & 0xff
    val interlace = bytes(28) & 0xff
    val channels = colorType match {
      case 0 => 1
      case 2 => 3
      case 3 => 1 // palette index bytes; filters run on the index plane
      case 4 => 2 // grayscale + alpha
      case 6 => 4 // RGBA
      case _ => return None
    }
    // 8-bit everywhere; 16-bit for the non-palette types (the spec's
    // depth matrix). Filters operate on BYTES with bpp = bytes/pixel.
    val okDepth = bitDepth == 8 || (bitDepth == 16 && colorType != 3)
    val bpp = channels * (bitDepth / 8)
    // same lying-header walk bound as parseBmp; interlace 0 (none) and
    // 1 (Adam7) both decode for real
    if (!okDepth || interlace > 1 || bytes(26) != 0 || bytes(27) != 0 ||
        w <= 0 || h <= 0 || w > (1 << 14) || h > (1 << 14))
      return None
    // chunk walk: concatenate IDAT payloads until IEND; capture PLTE
    // (mandatory for type 3, and the spec puts it before the first IDAT)
    val idat = new java.io.ByteArrayOutputStream()
    var palette: Array[Byte] = null
    var off = 8 + 25
    var sawEnd = false
    while (!sawEnd) {
      if (off + 8 > bytes.length) return None
      val len = be32(bytes, off)
      if (len < 0 || off + 12L + len > bytes.length) return None
      val ctype = tag(bytes, off + 4)
      ctype match {
        case "PLTE" =>
          if (len == 0 || len % 3 != 0 || len > 768) return None
          palette = java.util.Arrays.copyOfRange(bytes, off + 8, off + 8 + len)
        case "IDAT" =>
          if (colorType == 3 && palette == null) return None
          idat.write(bytes, off + 8, len)
        case "IEND" => sawEnd = true
        case _ => // ancillary chunks skipped
      }
      off += 12 + len
    }
    if (colorType == 3 && palette == null) return None
    val stride = w * bpp
    // interlaced streams carry one filter byte per PASS scanline, so the
    // inflated size is the sum over present passes
    val expected =
      if (interlace == 0) h * (stride + 1)
      else Adam7.map { p =>
        val (wp, hp) = passDims(w, h, p)
        if (wp > 0 && hp > 0) hp * (wp * bpp + 1) else 0
      }.sum
    // a crafted 33-byte header could otherwise demand ~805 MB of decode
    // buffers before any IDAT validation: cap the decoded size, and
    // require the compressed stream to be at least expected/1032 bytes
    // (deflate's hard maximum compression ratio) before allocating
    if (expected > (64 << 20) || idat.size().toLong < expected / 1032L)
      return None
    val raw = new Array[Byte](expected)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var got = 0
    try {
      while (got < expected && !inf.finished()) {
        val n = inf.inflate(raw, got, expected - got)
        // any zero-progress iteration is corrupt: truncated input,
        // FDICT preset-dictionary demand, or other stall — the output
        // buffer always has room here, so a healthy stream advances
        if (n == 0) return None
        got += n
      }
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inf.end()
    if (got < expected) return None
    // invert scanline filters into img: one shot for sequential files;
    // per-pass unfilter + grid scatter for Adam7
    val img = new Array[Byte](h * stride)
    if (interlace == 0) {
      val flat = unfilterRows(raw, 0, h, stride, bpp)
      if (flat == null) return None
      System.arraycopy(flat, 0, img, 0, flat.length)
    } else {
      var off = 0
      Adam7.foreach { case p @ (xs, ys, xst, yst) =>
        val (wp, hp) = passDims(w, h, p)
        if (wp > 0 && hp > 0) {
          val ps = wp * bpp
          val sub = unfilterRows(raw, off, hp, ps, bpp)
          if (sub == null) return None
          var rr = 0
          while (rr < hp) {
            var cc = 0
            while (cc < wp) {
              System.arraycopy(sub, rr * ps + cc * bpp,
                img, (ys + rr * yst) * stride + (xs + cc * xst) * bpp, bpp)
              cc += 1
            }
            rr += 1
          }
          off += hp * (ps + 1)
        }
      }
    }
    Some(PngImage(w, h, colorType, bitDepth, channels, img, palette))
  }

  /** Parse + decode a PNG and fold features (see [[pngDecode]] for the
    * decode half; the fold mirrors [[parseBmp]]'s layout).
    */
  def parsePng(id: Long, bytes: Array[Byte]): Option[MediaFeatures] = {
    val pi = pngDecode(bytes) match {
      case Some(p) => p
      case None => return None
    }
    val w = pi.w; val h = pi.h; val colorType = pi.colorType
    val bitDepth = pi.bitDepth; val channels = pi.channels
    val img = pi.img; val palette = pi.palette
    // pixel fold, mirroring parseBmp's feature layout; palette images
    // fold the LOOKED-UP RGB (what the pixels mean), not the raw
    // indices; 16-bit samples reduce to their HIGH byte (the spec's
    // standard 16→8 downsample); alpha folds into feature slot 7
    // (mean alpha — 0 for formats without an alpha plane).
    val sums = new Array[Long](4) // r/g/b (or gray in 0) + alpha in 3
    var high = 0L
    if (colorType == 3) {
      val nEntries = palette.length / 3
      var i = 0
      while (i < img.length) {
        val idx = img(i) & 0xff
        if (idx >= nEntries) return None // index past the palette: corrupt
        var ch = 0
        while (ch < 3) {
          val v = palette(idx * 3 + ch) & 0xff
          sums(ch) += v
          if (v > 127) high += 1
          ch += 1
        }
        i += 1
      }
    } else {
      val bps = bitDepth / 8
      val nSamples = img.length / bps
      var s = 0
      while (s < nSamples) {
        val v = img(s * bps) & 0xff // depth 16: big-endian high byte
        val ch = s % channels
        val slot = colorType match {
          case 0 => 0
          case 2 => ch
          case 4 => if (ch == 0) 0 else 3 // gray, alpha
          case 6 => ch                    // r, g, b, alpha
        }
        sums(slot) += v
        if (slot < 3 && v > 127) high += 1 // brightness over color planes only
        s += 1
      }
    }
    val n = w.toLong * h
    val total = sums(0) + sums(1) + sums(2)
    val hasAlpha = colorType == 4 || colorType == 6
    val alphaMean = if (hasAlpha) (sums(3).toDouble / (n * 255)).toFloat else 0f
    val colored = colorType == 2 || colorType == 3 || colorType == 6
    val feats =
      if (colored) Array(
        (sums(0).toDouble / (n * 255)).toFloat,
        (sums(1).toDouble / (n * 255)).toFloat,
        (sums(2).toDouble / (n * 255)).toFloat,
        (total.toDouble / (3 * n * 255)).toFloat,
        (high.toDouble / (3 * n)).toFloat,
        w.toFloat / (w + h), h.toFloat / (w + h), alphaMean)
      else {
        val m = (sums(0).toDouble / (n * 255)).toFloat
        Array(m, m, m, m, (high.toDouble / n).toFloat,
          w.toFloat / (w + h), h.toFloat / (w + h), alphaMean)
      }
    Some(MediaFeatures(id, bytes.length, "png", w, h, feats))
  }

  /** Fixture/test writer for PNG: pixels follow the SAME closed form as
    * [[makeBmp]] — byte k of row r is `(seed + r*31 + k*7) mod 256` —
    * then each row is FILTERED with type `r mod 5`, so one fixture
    * exercises every filter the decoder must invert (None, Sub, Up,
    * Average, Paeth). The zlib stream is hand-rolled stored blocks
    * (deterministic bytes, unlike Deflater's level-dependent output)
    * with a real Adler32, so the file size is closed-form too:
    * `h*(w*bpp+1) + 57 + 11·ceil(raw/65535)` total bytes — and the
    * decode path still runs the REAL Inflater. colorType 3 (palette)
    * writes the same closed-form bytes as INDICES plus a full
    * 256-entry PLTE whose entry j, channel c is
    * `(seed + j*11 + c*97) mod 256` (+780 bytes; every index valid).
    * colorType 4/6 add the alpha plane (2/4 channels); bitDepth 16
    * doubles bpp with the same per-BYTE closed form, so the decoded
    * high-byte fold stays closed-form too. `interlaced = true` writes
    * Adam7 pass order (each pass filtered independently, filter type
    * cycling per pass row) — the DECODED pixels are the identical
    * closed form, so every oracle statistic carries over; only the
    * total file size changes (one filter byte per pass scanline).
    */
  def makePng(w: Int, h: Int, seed: Long, colorType: Int = 2,
              bitDepth: Int = 8, interlaced: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 256 && h <= 256, s"fixture dims $w x $h")
    require(Set(0, 2, 3, 4, 6).contains(colorType), s"colorType $colorType")
    require(bitDepth == 8 || (bitDepth == 16 && colorType != 3),
      s"bitDepth $bitDepth invalid for colorType $colorType")
    val channels = colorType match { case 2 => 3; case 4 => 2; case 6 => 4; case _ => 1 }
    val bpp = channels * (bitDepth / 8)
    val stride = w * bpp
    val img = Array.tabulate(h * stride) { i =>
      val r = i / stride; val k = i % stride
      ((seed + r * 31L + k * 7L) % 256).toByte
    }
    def filterRows(src: Array[Byte], rows: Int, st: Int): Array[Byte] =
      pngFilterRows(src, rows, st, bpp)
    val raw: Array[Byte] =
      if (!interlaced) filterRows(img, h, stride)
      else {
        val bos = new java.io.ByteArrayOutputStream()
        Adam7.foreach { case p @ (xs, ys, xst, yst) =>
          val (wp, hp) = passDims(w, h, p)
          if (wp > 0 && hp > 0) {
            val ps = wp * bpp
            val sub = new Array[Byte](hp * ps)
            var rr = 0
            while (rr < hp) {
              var cc = 0
              while (cc < wp) {
                System.arraycopy(img, (ys + rr * yst) * stride + (xs + cc * xst) * bpp,
                  sub, rr * ps + cc * bpp, bpp)
                cc += 1
              }
              rr += 1
            }
            bos.write(filterRows(sub, hp, ps))
          }
        }
        bos.toByteArray
      }
    val zlib = storedZlib(raw)
    def chunk(ctype: String, data: Array[Byte]): Array[Byte] = pngChunk(ctype, data)
    val ihdr = new Array[Byte](13)
    putBe32(ihdr, 0, w); putBe32(ihdr, 4, h)
    ihdr(8) = bitDepth.toByte; ihdr(9) = colorType.toByte // compression/filter stay 0
    ihdr(12) = (if (interlaced) 1 else 0).toByte // Adam7 flag
    // palette fixtures carry a full 256-entry PLTE (every index valid)
    // with its own closed form: entry j channel c = (seed + j*11 + c*97) mod 256
    val plte =
      if (colorType == 3)
        chunk("PLTE", Array.tabulate(768) { i =>
          val j = i / 3; val c = i % 3
          ((seed + j * 11L + c * 97L) % 256).toByte
        })
      else Array.empty[Byte]
    PngSig ++ chunk("IHDR", ihdr) ++ plte ++ chunk("IDAT", zlib) ++ chunk("IEND", Array.empty)
  }

  /** One PNG chunk (length + type + data + CRC32) — fixture side,
    * shared by [[makePng]] and [[makeApng]].
    */
  private[graft] def pngChunk(ctype: String, data: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](12 + data.length)
    putBe32(out, 0, data.length)
    putTag(out, 4, ctype)
    data.copyToArray(out, 8)
    val crc = new java.util.zip.CRC32()
    crc.update(out, 4, 4 + data.length)
    putBe32(out, 8 + data.length, crc.getValue.toInt)
    out
  }

  /** A complete zlib stream of stored (uncompressed) deflate blocks +
    * Adler-32 trailer — fixture side; the REAL Inflater still runs on
    * the decode path.
    */
  private[graft] def storedZlib(raw: Array[Byte]): Array[Byte] = {
    require(raw.nonEmpty, "empty stream")
    val adler = new java.util.zip.Adler32()
    adler.update(raw)
    val nBlocks = math.max(1, (raw.length + 65534) / 65535)
    val zlib = new Array[Byte](2 + raw.length + 5 * nBlocks + 4)
    zlib(0) = 0x78.toByte; zlib(1) = 0x01.toByte
    var src = 0; var dst = 2
    while (src < raw.length) {
      val len = math.min(65535, raw.length - src)
      val fin = src + len >= raw.length
      zlib(dst) = (if (fin) 1 else 0).toByte
      putLe16(zlib, dst + 1, len); putLe16(zlib, dst + 3, ~len)
      System.arraycopy(raw, src, zlib, dst + 5, len)
      src += len; dst += 5 + len
    }
    putBe32(zlib, dst, adler.getValue.toInt)
    zlib
  }

  /** Filter `rows` scanlines of `stride` bytes with filter type
    * `row mod 5` (one fixture exercises every filter), the exact
    * inverse of [[unfilterRows]] — fixture side, shared by [[makePng]]
    * and [[makeApng]].
    */
  private[graft] def pngFilterRows(src: Array[Byte], rows: Int, st: Int,
                                   bpp: Int): Array[Byte] = {
    val out = new Array[Byte](rows * (st + 1))
    var r = 0
    while (r < rows) {
      val ft = r % 5
      out(r * (st + 1)) = ft.toByte
      var i = 0
      while (i < st) {
        val x = src(r * st + i) & 0xff
        val a = if (i >= bpp) src(r * st + i - bpp) & 0xff else 0
        val b = if (r > 0) src((r - 1) * st + i) & 0xff else 0
        val c = if (r > 0 && i >= bpp) src((r - 1) * st + i - bpp) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) >> 1
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        out(r * (st + 1) + 1 + i) = ((x - pred) & 0xff).toByte
        i += 1
      }
      r += 1
    }
    out
  }

  // ---- real decoder: APNG (animated PNG, public spec) ------------------
  // APNG rides the PNG container: an acTL chunk (before IDAT) declares
  // the frame count, each frame is an fcTL control chunk (region,
  // delay, dispose/blend ops, shared sequence counter) followed by its
  // pixel data — the default IDAT stream when the first fcTL precedes
  // IDAT, fdAT chunks (sequence-prefixed IDAT payloads, each frame an
  // independent zlib stream) otherwise. Every frame decodes through the
  // SAME inflate + filter-inversion machinery as the still path
  // ([[unfilterRows]]); compositing mirrors the GIF89a model
  // ([[gifFrameGrids]]): dispose 0 keeps the canvas, 1 clears the
  // frame's region to transparent black (gray 0 — also the initial
  // canvas), 2 restores the pre-frame canvas; a first frame declaring
  // dispose 2 is treated as 1, per spec. Envelope: opaque 8-bit
  // grayscale/truecolor (color types 0/2), sequential only — alpha
  // compositing (types 4/6 under blend OVER), palette animation and
  // interlaced frames return None and sniff into the measured video
  // boundary. Blend 0/1 are accepted (identical for opaque pixels).

  /** ALL frames of an APNG as display-ready grayscale canvases — the
    * [[gifFrameGrids]] contract ((canvasW, canvasH, gray canvases),
    * gray = r+g+b / 3×sample). None for still PNGs (no acTL), any
    * malformed chunk or sequence structure, and everything outside the
    * envelope above — never a partial guess.
    */
  private[graft] def apngFrameGrids(bytes: Array[Byte]): Option[(Int, Int, Seq[Array[Int]])] = {
    if (bytes.length < 8 + 25 || !PngSig.indices.forall(i => bytes(i) == PngSig(i)))
      return None
    if (be32(bytes, 8) != 13 || bytes(12) != 'I' || bytes(13) != 'H' ||
        bytes(14) != 'D' || bytes(15) != 'R')
      return None
    val w = be32(bytes, 16)
    val h = be32(bytes, 20)
    val bitDepth = bytes(24) & 0xff
    val colorType = bytes(25) & 0xff
    val interlace = bytes(28) & 0xff
    if (bitDepth != 8 || (colorType != 0 && colorType != 2) ||
        interlace != 0 || bytes(26) != 0 || bytes(27) != 0)
      return None
    if (w <= 0 || h <= 0 || w > (1 << 14) || h > (1 << 14) ||
        w.toLong * h > (64 << 20)) return None
    val channels = if (colorType == 2) 3 else 1
    // control state for one pending frame
    final case class Fc(fw: Int, fh: Int, x: Int, y: Int, dispose: Int)
    var numFrames = -1
    var frames = Vector.empty[(Fc, Array[Byte])]
    var cur: Fc = null
    var curData: java.io.ByteArrayOutputStream = null
    var curFromIdat = false
    var sawIdat = false
    var expectSeq = 0
    def closeFrame(): Boolean = {
      if (cur == null) return true
      if (curData.size() == 0) return false // control with no data: corrupt
      frames :+= (cur, curData.toByteArray)
      cur = null; curData = null; curFromIdat = false
      true
    }
    var off = 8 + 25
    var sawEnd = false
    while (!sawEnd) {
      if (off + 8 > bytes.length) return None
      val len = be32(bytes, off)
      if (len < 0 || off + 12L + len > bytes.length) return None
      val ctype = tag(bytes, off + 4)
      ctype match {
        case "acTL" =>
          if (len != 8 || sawIdat || numFrames >= 0) return None
          numFrames = be32(bytes, off + 8)
          if (numFrames <= 0 || numFrames > 4096) return None // backstop
        case "fcTL" =>
          if (len != 26) return None
          if (be32(bytes, off + 8) != expectSeq) return None
          expectSeq += 1
          val fw = be32(bytes, off + 12); val fh = be32(bytes, off + 16)
          val fx = be32(bytes, off + 20); val fy = be32(bytes, off + 24)
          val dispose0 = bytes(off + 32) & 0xff
          val blend = bytes(off + 33) & 0xff
          if (fw <= 0 || fh <= 0 || fx < 0 || fy < 0 ||
              fx.toLong + fw > w || fy.toLong + fh > h) return None
          if (dispose0 > 2 || blend > 1) return None
          if (!closeFrame()) return None
          // first frame declaring dispose PREVIOUS acts as BACKGROUND
          val dispose =
            if (frames.isEmpty && dispose0 == 2) 1 else dispose0
          cur = Fc(fw, fh, fx, fy, dispose)
          curData = new java.io.ByteArrayOutputStream()
          // an fcTL before IDAT claims the IDAT stream as frame 0 and
          // must then cover the full canvas at the origin, per spec
          if (!sawIdat) {
            curFromIdat = true
            if (fw != w || fh != h || fx != 0 || fy != 0) return None
          }
        case "IDAT" =>
          sawIdat = true
          // part of the animation only when claimed by a leading fcTL;
          // otherwise it is the standalone default image — skipped
          if (cur != null && curFromIdat) curData.write(bytes, off + 8, len)
        case "fdAT" =>
          if (len < 5 || !sawIdat) return None
          if (be32(bytes, off + 8) != expectSeq) return None
          expectSeq += 1
          if (cur == null || curFromIdat) return None
          curData.write(bytes, off + 12, len - 4)
        case "IEND" =>
          if (!closeFrame()) return None
          sawEnd = true
        case _ => // ancillary chunks skipped
      }
      off += 12 + len
    }
    if (numFrames < 0 || frames.isEmpty || frames.length != numFrames)
      return None
    // decode + composite
    val canvas = new Array[Int](w * h) // transparent black → gray 0
    val grids = Seq.newBuilder[Array[Int]]
    frames.foreach { case (fc, zdata) =>
      val stride = fc.fw * channels
      val expected = fc.fh * (stride + 1)
      val raw = zlibDecode(zdata, expected) match {
        case Some(r) => r
        case None => return None
      }
      val img = unfilterRows(raw, 0, fc.fh, stride, channels)
      if (img == null) return None
      val before = if (fc.dispose == 2) canvas.clone() else null
      var r = 0
      while (r < fc.fh) {
        var x = 0
        while (x < fc.fw) {
          val base = (r * fc.fw + x) * channels
          val g =
            if (channels == 3)
              (img(base) & 0xff) + (img(base + 1) & 0xff) + (img(base + 2) & 0xff)
            else 3 * (img(base) & 0xff)
          canvas((fc.y + r) * w + fc.x + x) = g
          x += 1
        }
        r += 1
      }
      grids += canvas.clone()
      fc.dispose match {
        case 1 =>
          var rr = 0
          while (rr < fc.fh) {
            var xx = 0
            while (xx < fc.fw) {
              canvas((fc.y + rr) * w + fc.x + xx) = 0
              xx += 1
            }
            rr += 1
          }
        case 2 => System.arraycopy(before, 0, canvas, 0, canvas.length)
        case _ => ()
      }
    }
    Some((w, h, grids.result()))
  }

  /** Header-only APNG facts: (canvasW, canvasH, n_frames, duration_ms)
    * from the IHDR + acTL + fcTL walk alone — chunk headers and the
    * 26-byte control payloads, never pixel data (the [[gifMeta]]
    * discipline). Duration pins the integer law: each fcTL contributes
    * `(1000 · delay_num) div delay_den`, a zero denominator meaning
    * 100 per spec. None when the PNG carries no acTL (a still image)
    * or the chunk walk never reaches a clean IEND.
    */
  private[graft] def apngMeta(bytes: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    if (bytes.length < 8 + 25 || !PngSig.indices.forall(i => bytes(i) == PngSig(i)))
      return None
    if (be32(bytes, 8) != 13 || bytes(12) != 'I' || bytes(13) != 'H' ||
        bytes(14) != 'D' || bytes(15) != 'R')
      return None
    val w = be32(bytes, 16)
    val h = be32(bytes, 20)
    if (w <= 0 || h <= 0) return None
    var numFrames = -1
    var durMs = 0L
    var off = 8 + 25
    var done = false
    while (!done) {
      if (off + 8 > bytes.length) return None
      val len = be32(bytes, off)
      if (len < 0 || off + 12L + len > bytes.length) return None
      val ctype = tag(bytes, off + 4)
      ctype match {
        case "acTL" if len == 8 => numFrames = be32(bytes, off + 8)
        case "fcTL" if len == 26 =>
          val num = be16(bytes, off + 28)
          val den0 = be16(bytes, off + 30)
          val den = if (den0 == 0) 100 else den0
          durMs += 1000L * num / den
        case "IEND" => done = true
        case _ => ()
      }
      off += 12 + len
    }
    if (numFrames > 0) Some((w, h, numFrames, durMs)) else None
  }

  /** Fixture/test writer for APNG: `frames` full-canvas frames whose
    * pixel bytes follow `(seed + f·23 + row·31 + k·7) mod 256` (k the
    * byte index in the row — frame f of the animation is byte-identical
    * to [[makePng]]`(w, h, seed + f·23)`'s pixels), filter type cycling
    * per row through all five, each frame an independent stored-zlib
    * stream. `firstIsIdat` = true claims the IDAT stream as frame 0 via
    * a leading fcTL (the common writer layout); false emits a DEFAULT
    * still image (law `seed + 999`) that is NOT part of the animation,
    * all frames arriving as fdAT. Frame f's delay is
    * `(f mod 3 + 1) / 100` s, so the duration law is closed-form too.
    * `colorType` 0 or 2 (the decoded envelope).
    */
  def makeApng(w: Int, h: Int, seed: Long, frames: Int,
               colorType: Int = 2, firstIsIdat: Boolean = true): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 256 && h <= 256, s"fixture dims $w x $h")
    require(frames >= 1 && (colorType == 0 || colorType == 2),
      s"frames=$frames colorType=$colorType")
    val channels = if (colorType == 2) 3 else 1
    val stride = w * channels
    def frameZlib(fseed: Long): Array[Byte] = {
      val img = Array.tabulate(h * stride) { i =>
        ((fseed + (i / stride) * 31L + (i % stride) * 7L) % 256).toByte
      }
      storedZlib(pngFilterRows(img, h, stride, channels))
    }
    val ihdr = be32Bytes(w) ++ be32Bytes(h) ++ Array[Byte](8, colorType.toByte, 0, 0, 0)
    var seq = 0
    def fctl(f: Int): Array[Byte] = {
      val c = pngChunk("fcTL", be32Bytes(seq) ++ be32Bytes(w) ++ be32Bytes(h) ++
        be32Bytes(0) ++ be32Bytes(0) ++ be16Bytes(f % 3 + 1) ++ be16Bytes(100) ++
        Array[Byte](0, 0))
      seq += 1
      c
    }
    def fdat(z: Array[Byte]): Array[Byte] = {
      val c = pngChunk("fdAT", be32Bytes(seq) ++ z)
      seq += 1
      c
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(PngSig.toArray)
    out.write(pngChunk("IHDR", ihdr))
    out.write(pngChunk("acTL", be32Bytes(frames) ++ be32Bytes(0)))
    if (firstIsIdat) {
      out.write(fctl(0))
      out.write(pngChunk("IDAT", frameZlib(seed)))
      (1 until frames).foreach { f =>
        out.write(fctl(f))
        out.write(fdat(frameZlib(seed + f * 23L)))
      }
    } else {
      out.write(pngChunk("IDAT", frameZlib(seed + 999L))) // default still
      (0 until frames).foreach { f =>
        out.write(fctl(f))
        out.write(fdat(frameZlib(seed + f * 23L)))
      }
    }
    out.write(pngChunk("IEND", Array.empty))
    out.toByteArray
  }

  // ---- real decoder: GIF (GIF87a/89a; LZW per the public spec) ---------
  // Fourth de-stubbed format, second with a real compression codec: GIF
  // image data is variable-width LZW (the 1984 Welch scheme with GIF's
  // clear/end codes and 12-bit cap), decoded here from first principles —
  // LSB-first code stream across 255-byte sub-blocks, dictionary rebuild,
  // the K-omega-K case (code == next), width growth at each table
  // doubling, deferred-clear handling when the table fills. Supported:
  // first image frame, global or local color table, interlaced or not
  // (the 4-pass row permutation is undone after the LZW stage).

  /** Decode a GIF LZW code stream into `expected` palette indices.
    * `data` is the already-concatenated sub-block payload. Returns None
    * on any malformed stream (bad code, truncated input, oversized
    * output) — never a partial guess.
    */
  private[graft] def lzwDecode(data: Array[Byte], minCodeSize: Int,
                                    expected: Int): Option[Array[Byte]] = {
    if (minCodeSize < 2 || minCodeSize > 8 || expected <= 0) return None
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val out = new Array[Byte](expected)
    var outLen = 0
    // dictionary as prefix links: suffix byte + previous code per entry;
    // entries < clear are literals. 4096 is the spec's hard table cap.
    val suffix = new Array[Byte](4096)
    val prefix = new Array[Int](4096)
    var next = eoi + 1
    var width = minCodeSize + 1
    var prev = -1
    var bitPos = 0L
    val nBits = data.length.toLong * 8
    val tail = new Array[Byte](4096) // expansion scratch (max chain length)
    def expand(code: Int, extra: Int): Int = {
      // walk the prefix chain (bounded by table size), write reversed
      var c = code
      var n = 0
      while (c >= clear) { tail(n) = suffix(c); n += 1; c = prefix(c) }
      tail(n) = c.toByte; n += 1
      if (outLen + n + extra > expected) return -1
      var i = n - 1
      while (i >= 0) { out(outLen) = tail(i); outLen += 1; i -= 1 }
      c // first byte of the expansion (chain root)
    }
    while (true) {
      if (bitPos + width > nBits) return None // truncated: no EOI seen
      val byteOff = (bitPos >>> 3).toInt
      val bitOff = (bitPos & 7).toInt
      var v = (data(byteOff) & 0xff) >>> bitOff
      var got = 8 - bitOff
      while (got < width) {
        v |= (data(byteOff + (got + bitOff) / 8) & 0xff) << got
        got += 8
      }
      val code = v & ((1 << width) - 1)
      bitPos += width
      if (code == clear) {
        next = eoi + 1; width = minCodeSize + 1; prev = -1
      } else if (code == eoi) {
        return if (outLen == expected) Some(out) else None
      } else if (prev < 0) {
        if (code >= clear) return None // first code after clear: literal only
        out(outLen) = code.toByte; outLen += 1
        if (outLen > expected) return None
        prev = code
      } else if (code < next && code != eoi && code != clear) {
        val first = expand(code, 0)
        if (first < 0) return None
        if (next < 4096) {
          suffix(next) = first.toByte; prefix(next) = prev; next += 1
          if (next == (1 << width) && width < 12) width += 1
        }
        prev = code
      } else if (code == next && next < 4096) {
        // K-omega-K: entry being defined by this very code
        suffix(next) = 0; prefix(next) = prev // placeholder, fixed below
        val first = expand(prev, 1)
        if (first < 0) return None
        suffix(next) = first.toByte
        out(outLen) = first.toByte; outLen += 1
        next += 1
        if (next == (1 << width) && width < 12) width += 1
        prev = code
      } else return None // code beyond table: corrupt stream
    }
    None // unreachable
  }

  /** GIF-flavored LZW encoder (fixture side): emits the variable-width,
    * LSB-first code stream [[lzwDecode]] reads — initial clear code,
    * width growth mirrored one step ahead of the decoder (the encoder's
    * table leads by exactly one entry), clear + reset when the table
    * hits the 12-bit cap. Deterministic: same bytes in, same bits out.
    */
  private[graft] def lzwEncode(data: Array[Byte], minCodeSize: Int): Array[Byte] = {
    require(minCodeSize >= 2 && minCodeSize <= 8, s"minCodeSize=$minCodeSize")
    require(data.nonEmpty, "empty pixel stream")
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val outBuf = new java.io.ByteArrayOutputStream()
    var cur = 0L; var nbits = 0
    var width = minCodeSize + 1
    def emit(code: Int): Unit = {
      cur |= code.toLong << nbits; nbits += width
      while (nbits >= 8) { outBuf.write((cur & 0xff).toInt); cur >>>= 8; nbits -= 8 }
    }
    val dict = new java.util.HashMap[Integer, Integer](8192)
    var next = eoi + 1
    def reset(): Unit = { dict.clear(); next = eoi + 1; width = minCodeSize + 1 }
    emit(clear)
    reset()
    var prefixCode = data(0) & 0xff
    var i = 1
    while (i < data.length) {
      val c = data(i) & 0xff
      val key = Integer.valueOf((prefixCode << 8) | c)
      val hit = dict.get(key)
      if (hit != null) prefixCode = hit.intValue()
      else {
        emit(prefixCode)
        if (next < 4096) {
          dict.put(key, Integer.valueOf(next)); next += 1
          // decoder grows at next==1<<width AFTER its (one-behind) add;
          // the encoder therefore grows one entry later
          if (next == (1 << width) + 1 && width < 12) width += 1
        } else {
          emit(clear); reset()
        }
        prefixCode = c
      }
      i += 1
    }
    emit(prefixCode)
    emit(eoi)
    if (nbits > 0) outBuf.write((cur & 0xff).toInt)
    outBuf.toByteArray
  }

  /** Parse + decode a GIF: header + logical screen descriptor, global
    * color table, extension skip-walk, first image descriptor (local
    * color table honored), LZW decode of the index stream, palette
    * mapping, then the same pixel fold as [[parsePng]] (channel means in
    * RGB storage order). Interlaced frames (GIF's 4-pass row order:
    * every 8th row from 0, every 8th from 4, every 4th from 2, every
    * 2nd from 1) are de-interlaced after the LZW stage via
    * [[deinterlaceRows]]. Returns None for wrong magic, missing color
    * table, lying headers, or any LZW defect — the caller falls back
    * to the stub rather than guessing.
    */
  /** The decoded-but-unfolded GIF: dims + de-interlaced index plane +
    * where its active color table lives — shared by [[parseGif]]'s
    * feature fold and the perceptual-hash grid.
    */
  private def gifDecode(bytes: Array[Byte]): Option[(Int, Int, Array[Byte], Int, Int)] = {
    if (bytes.length < 14) return None
    val magic = new String(bytes, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
    if (magic != "GIF87a" && magic != "GIF89a") return None
    val packed = bytes(10) & 0xff
    val hasGct = (packed & 0x80) != 0
    val gctLen = if (hasGct) 3 * (1 << ((packed & 7) + 1)) else 0
    var off = 13
    if (off + gctLen > bytes.length) return None
    val gctOff = off
    off += gctLen
    // block walk: skip extensions until the first image descriptor
    while (off < bytes.length && (bytes(off) & 0xff) == 0x21) {
      off += 2 // introducer + label
      var done = false
      while (!done) {
        if (off >= bytes.length) return None
        val len = bytes(off) & 0xff
        off += 1 + len
        done = len == 0
      }
    }
    if (off >= bytes.length || (bytes(off) & 0xff) != 0x2c) return None
    if (off + 10 > bytes.length) return None
    val w = le16(bytes, off + 5)
    val h = le16(bytes, off + 7)
    val ipacked = bytes(off + 9) & 0xff
    off += 10
    val interlaced = (ipacked & 0x40) != 0
    val hasLct = (ipacked & 0x80) != 0
    val lctLen = if (hasLct) 3 * (1 << ((ipacked & 7) + 1)) else 0
    if (off + lctLen > bytes.length) return None
    val palOff = if (hasLct) off else gctOff
    val palEntries = if (hasLct) lctLen / 3 else gctLen / 3
    off += lctLen
    if (palEntries == 0) return None // no color table anywhere
    if (w <= 0 || h <= 0 || w > (1 << 14) || h > (1 << 14) ||
        w.toLong * h > (64 << 20)) return None
    if (off >= bytes.length) return None
    val minCodeSize = bytes(off) & 0xff
    off += 1
    // concatenate data sub-blocks
    val dataBuf = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done) {
      if (off >= bytes.length) return None
      val len = bytes(off) & 0xff
      if (len == 0) done = true
      else {
        if (off + 1 + len > bytes.length) return None
        dataBuf.write(bytes, off + 1, len)
      }
      off += 1 + len
    }
    val stored = lzwDecode(dataBuf.toByteArray, minCodeSize, w * h) match {
      case Some(a) => a
      case None => return None
    }
    val idx = if (interlaced) deinterlaceRows(stored, w, h) else stored
    Some((w, h, idx, palOff, palEntries))
  }

  /** Parse + decode a GIF and fold features (decode half in
    * [[gifDecode]]).
    */
  /** ALL frames of a (possibly animated) GIF as display-ready grayscale
    * canvases — the decoded-VIDEO path of the multimodal family (an
    * animated GIF is a real container with per-frame palettes, region
    * updates, transparency and disposal; the decode below implements
    * the full GIF89a compositing model, not a frame-extraction stub).
    *
    * Returns (canvasW, canvasH, one gray canvas per image descriptor),
    * gray = R+G+B per pixel (the [[aHash64]] grid convention). Frame f
    * is the canvas AS DISPLAYED after drawing image f:
    *  - each image draws at its (left, top) region with its own LCT
    *    when present, GCT otherwise;
    *  - a GCE transparency index leaves the underlying canvas pixel;
    *  - disposal 0/1 keep the composited result for the next frame,
    *    disposal 2 restores the frame's REGION to the background color
    *    (the screen descriptor's index; transparent background → 0),
    *    disposal 3 restores the canvas to its pre-frame state;
    *  - the initial canvas is the background color everywhere.
    * None outside the envelope (bad magic, corrupt LZW, missing
    * palette, out-of-range indices/regions — same strictness as the
    * single-frame decode).
    */
  private[graft] def gifFrameGrids(bytes: Array[Byte]): Option[(Int, Int, Seq[Array[Int]])] = {
    if (bytes.length < 14) return None
    val magic = new String(bytes, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
    if (magic != "GIF87a" && magic != "GIF89a") return None
    val cw = le16(bytes, 6)
    val ch = le16(bytes, 8)
    if (cw <= 0 || ch <= 0 || cw > (1 << 14) || ch > (1 << 14) ||
        cw.toLong * ch > (64 << 20)) return None
    val packed = bytes(10) & 0xff
    val hasGct = (packed & 0x80) != 0
    val gctLen = if (hasGct) 3 * (1 << ((packed & 7) + 1)) else 0
    val bgIndex = bytes(11) & 0xff
    var off = 13
    if (off + gctLen > bytes.length) return None
    val gctOff = off
    off += gctLen
    def grayAt(palOff: Int, pi: Int): Int =
      (bytes(palOff + 3 * pi) & 0xff) + (bytes(palOff + 3 * pi + 1) & 0xff) +
        (bytes(palOff + 3 * pi + 2) & 0xff)
    val bgGray =
      if (hasGct && bgIndex < gctLen / 3) grayAt(gctOff, bgIndex) else 0
    val canvas = Array.fill(cw * ch)(bgGray)
    val frames = Seq.newBuilder[Array[Int]]
    var nFrames = 0
    // GCE state for the NEXT image descriptor
    var disposal = 0
    var transIndex = -1
    while (off < bytes.length && (bytes(off) & 0xff) != 0x3b) {
      (bytes(off) & 0xff) match {
        case 0x21 => // extension
          if (off + 1 >= bytes.length) return None
          val label = bytes(off + 1) & 0xff
          if (label == 0xf9 && off + 6 < bytes.length && (bytes(off + 2) & 0xff) >= 4) {
            val gpacked = bytes(off + 3) & 0xff
            disposal = (gpacked >> 2) & 7
            transIndex = if ((gpacked & 1) != 0) bytes(off + 6) & 0xff else -1
          }
          off += 2
          var done = false
          while (!done) {
            if (off >= bytes.length) return None
            val len = bytes(off) & 0xff
            off += 1 + len
            done = len == 0
          }
        case 0x2c => // image descriptor
          if (off + 10 > bytes.length) return None
          val left = le16(bytes, off + 1)
          val top = le16(bytes, off + 3)
          val fw = le16(bytes, off + 5)
          val fh = le16(bytes, off + 7)
          val ipacked = bytes(off + 9) & 0xff
          off += 10
          if (fw <= 0 || fh <= 0 || left + fw > cw || top + fh > ch) return None
          val interlaced = (ipacked & 0x40) != 0
          val hasLct = (ipacked & 0x80) != 0
          val lctLen = if (hasLct) 3 * (1 << ((ipacked & 7) + 1)) else 0
          if (off + lctLen > bytes.length) return None
          val palOff = if (hasLct) off else gctOff
          val palEntries = if (hasLct) lctLen / 3 else gctLen / 3
          if (palEntries == 0) return None
          off += lctLen
          if (off >= bytes.length) return None
          val minCodeSize = bytes(off) & 0xff
          off += 1
          val dataBuf = new java.io.ByteArrayOutputStream()
          var done = false
          while (!done) {
            if (off >= bytes.length) return None
            val len = bytes(off) & 0xff
            if (len == 0) done = true
            else {
              if (off + 1 + len > bytes.length) return None
              dataBuf.write(bytes, off + 1, len)
            }
            off += 1 + len
          }
          val stored = lzwDecode(dataBuf.toByteArray, minCodeSize, fw * fh) match {
            case Some(a) => a
            case None => return None
          }
          val idx = if (interlaced) deinterlaceRows(stored, fw, fh) else stored
          val before = if (disposal == 3) canvas.clone() else null
          var y = 0
          while (y < fh) {
            var x = 0
            while (x < fw) {
              val pi = idx(y * fw + x) & 0xff
              if (pi >= palEntries) return None
              if (pi != transIndex)
                canvas((top + y) * cw + left + x) = grayAt(palOff, pi)
              x += 1
            }
            y += 1
          }
          frames += canvas.clone()
          nFrames += 1
          if (nFrames > 4096) return None // runaway-container backstop
          disposal match {
            case 2 =>
              var yy = 0
              while (yy < fh) {
                var xx = 0
                while (xx < fw) {
                  canvas((top + yy) * cw + left + xx) = bgGray
                  xx += 1
                }
                yy += 1
              }
            case 3 => System.arraycopy(before, 0, canvas, 0, canvas.length)
            case _ => ()
          }
          disposal = 0; transIndex = -1 // GCE applies to ONE image
        case _ => return None // unknown top-level block: corrupt
      }
    }
    val out = frames.result()
    if (out.isEmpty) None else Some((cw, ch, out))
  }

  def parseGif(id: Long, bytes: Array[Byte]): Option[MediaFeatures] = {
    val (w, h, idx, palOff, palEntries) = gifDecode(bytes) match {
      case Some(t) => t
      case None => return None
    }
    // palette fold: indices → RGB, sums in storage (RGB) order
    var sumR = 0L; var sumG = 0L; var sumB = 0L; var high = 0L
    var i = 0
    while (i < idx.length) {
      val pi = idx(i) & 0xff
      if (pi >= palEntries) return None // index outside the palette
      val r = bytes(palOff + 3 * pi) & 0xff
      val g = bytes(palOff + 3 * pi + 1) & 0xff
      val b = bytes(palOff + 3 * pi + 2) & 0xff
      sumR += r; sumG += g; sumB += b
      high += (if (r > 127) 1 else 0) + (if (g > 127) 1 else 0) +
        (if (b > 127) 1 else 0)
      i += 1
    }
    val n = w.toLong * h
    val feats = Array(
      (sumR.toDouble / (n * 255)).toFloat,
      (sumG.toDouble / (n * 255)).toFloat,
      (sumB.toDouble / (n * 255)).toFloat,
      ((sumR + sumG + sumB).toDouble / (3 * n * 255)).toFloat,
      (high.toDouble / (3 * n)).toFloat,
      w.toFloat / (w + h), h.toFloat / (w + h), 0f)
    Some(MediaFeatures(id, bytes.length, "gif", w, h, feats))
  }

  /** Fixture/test writer for GIF: a 256-entry global color table with
    * closed-form channels (entry i → `(seed + 3i) % 256`,
    * `(seed + 5i) % 256`, `(seed + 7i) % 256`) and pixel indices
    * `(seed + y*31 + x*7) % 256`, LZW-compressed by the REAL encoder
    * ([[lzwEncode]]) — so the oracle can predict every pixel statistic
    * in closed form while the decode path runs a genuine
    * variable-width LZW stream (dictionary hits, width growth, the
    * works). Canonical GIF89a layout: screen descriptor, GCT, one
    * image descriptor, data sub-blocks, trailer.
    */
  /** GIF's 4-pass interlace order as display-row indices: every 8th row
    * from 0, every 8th from 4, every 4th from 2, every 2nd from 1.
    */
  private[graft] def interlaceOrder(h: Int): Seq[Int] =
    Seq((0, 8), (4, 8), (2, 4), (1, 2)).flatMap { case (start, step) =>
      start until h by step
    }

  /** Reorder an interlaced frame's stored rows into display order:
    * stored row k is display row `interlaceOrder(h)(k)`. Pure row
    * permutation — pixel bytes are untouched.
    */
  private[graft] def deinterlaceRows(stored: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](stored.length)
    var src = 0
    interlaceOrder(h).foreach { r =>
      System.arraycopy(stored, src * w, out, r * w, w)
      src += 1
    }
    out
  }

  def makeGif(w: Int, h: Int, seed: Long, interlaced: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 256 && h <= 256, s"fixture dims $w x $h")
    val display = Array.tabulate(w * h) { i =>
      val y = i / w; val x = i % w
      ((seed + y * 31L + x * 7L) % 256).toByte
    }
    // interlaced files STORE rows in pass order; the decoder must put
    // them back
    val idx =
      if (!interlaced) display
      else {
        val stored = new Array[Byte](display.length)
        var dst = 0
        interlaceOrder(h).foreach { r =>
          System.arraycopy(display, r * w, stored, dst * w, w)
          dst += 1
        }
        stored
      }
    val out = gifFixtureScreen(w, h, seed)
    gifFixtureImage(out, w, h, idx, if (interlaced) 0x40 else 0) // no LCT; interlace flag
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** A GIF fixture's header, screen descriptor and 256-entry global
    * color table: entry i → `(seed+3i)%256, (seed+5i)%256, (seed+7i)%256`.
    */
  private def gifFixtureScreen(w: Int, h: Int, seed: Long): java.io.ByteArrayOutputStream = {
    val out = new java.io.ByteArrayOutputStream()
    ascii(out, "GIF89a")
    le16(out, w); le16(out, h)
    out.write(0xf7) // GCT present, 8 bits/channel, 256 entries
    out.write(0); out.write(0) // bg index, aspect
    var i = 0
    while (i < 256) {
      out.write(((seed + 3L * i) % 256).toInt)
      out.write(((seed + 5L * i) % 256).toInt)
      out.write(((seed + 7L * i) % 256).toInt)
      i += 1
    }
    out
  }

  /** A full-canvas image descriptor with `flags`, then `idx` through the
    * real LZW encoder as 255-byte data sub-blocks and a terminator.
    */
  private def gifFixtureImage(out: java.io.ByteArrayOutputStream, w: Int, h: Int,
                              idx: Array[Byte], flags: Int): Unit = {
    out.write(0x2c) // image descriptor
    le16(out, 0); le16(out, 0); le16(out, w); le16(out, h)
    out.write(flags)
    val lzw = lzwEncode(idx, 8)
    out.write(8) // LZW min code size
    var src = 0
    while (src < lzw.length) {
      val len = math.min(255, lzw.length - src)
      out.write(len)
      out.write(lzw, src, len)
      src += len
    }
    out.write(0) // block terminator
  }

  /** Fixture writer for ANIMATED GIF: `frames` full-canvas image
    * descriptors over [[makeGif]]'s closed-form global palette
    * (entry i → `(seed+3i)%256, (seed+5i)%256, (seed+7i)%256`), frame f
    * pixel indices `(seed + f*17 + y*31 + x*7) % 256`, each preceded by
    * a GCE with disposal `1` (keep) and no transparency, every stream
    * through the REAL LZW encoder. Full-canvas frames make every
    * composited frame equal its own image — so per-frame statistics and
    * hashes are closed-form — while the decode still walks the whole
    * animation machinery (GCE state, per-frame LZW, compositing).
    */
  def makeGifAnimated(w: Int, h: Int, seed: Long, frames: Int): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 256 && h <= 256 && frames >= 1 && frames <= 64,
      s"fixture dims $w x $h x $frames")
    val out = gifFixtureScreen(w, h, seed)
    var f = 0
    while (f < frames) {
      // GCE: disposal 1 (keep), no transparency, delay 4/100 s
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write(0x04); le16(out, 4); out.write(0); out.write(0)
      val idx = Array.tabulate(w * h) { p =>
        val y = p / w; val x = p % w
        ((seed + f * 17L + y * 31L + x * 7L) % 256).toByte
      }
      gifFixtureImage(out, w, h, idx, 0) // GCT, sequential
      f += 1
    }
    out.write(0x3b)
    out.toByteArray
  }

  // ---- real decoder: baseline JPEG (ITU T.81 / JFIF; from scratch) -----
  // Fifth de-stubbed format, third with a real entropy codec: baseline
  // sequential DCT JPEG — marker walk (DQT/SOF0/DHT/DRI/SOS), canonical
  // Huffman decode with FF00 byte-stuffing and RSTn restarts, run/size
  // AC coefficients, dequantize + zigzag, float IDCT, 4:2:0/4:2:2
  // chroma replication, JFIF YCbCr→RGB. Also decoded: progressive
  // (SOF2, 8-bit) and 12-bit extended sequential (SOF1, incl. 16-bit
  // DQT entries; samples canonicalized to the 8-bit planes by v >> 4).
  // Arithmetic coding, progressive-12 and >2× sampling factors return
  // None and fall to the stub (COVERAGE.md boundary rows).

  private val ZigZag: Array[Int] = Array(
    0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  // cos((2x+1)·u·π/16) · C(u)/2 — the separable 1-D IDCT basis; the 2-D
  // IDCT is two passes of it (rows then columns)
  private val IdctBasis: Array[Double] = {
    val t = new Array[Double](64)
    var u = 0
    while (u < 8) {
      val cu = if (u == 0) math.sqrt(0.5) else 1.0
      var x = 0
      while (x < 8) {
        t(u * 8 + x) = 0.5 * cu * math.cos((2 * x + 1) * u * math.Pi / 16.0)
        x += 1
      }
      u += 1
    }
    t
  }

  // ---- real decoder: AVI/MJPEG (RIFF container, public spec) -----------
  // The real-world video container the GIF89a path doesn't cover: an AVI
  // is the same even-aligned fourcc-chunk walk as WAV ([[wavAnyHeader]])
  // — RIFF/'AVI ' → LIST hdrl (avih main header for the canvas dims,
  // LIST strl → strh declaring a 'vids' stream with the MJPG handler) →
  // LIST movi whose 00dc/00db chunks each carry ONE complete baseline/
  // progressive JPEG, decoded by the existing [[parseJpeg]] machinery.
  // No new codec: the container walk is pure offset arithmetic and every
  // frame rides the entropy decoder the repo already owns.

  /** ALL frames of an MJPEG AVI as display-ready grayscale canvases —
    * the [[gifFrameGrids]] contract for the RIFF container: returns
    * (canvasW, canvasH, one gray canvas per video chunk), gray per the
    * JPEG grid law ([[jpegGrayGrid]] — Y for grayscale frames, R+G+B
    * after exact YCbCr inversion for color) for MJPG streams, or the
    * BMP law ([[dibGrayGrid]] — r17) for uncompressed 24-bpp DIB
    * streams. None outside the envelope: bad RIFF/AVI magic, truncated
    * or oversized chunks, a video stream that is neither MJPG nor
    * BI_RGB DIB, a frame that fails decode or disagrees with the
    * declared canvas — a poisoned clip yields NO hashes, never a
    * partial lie.
    */
  private[graft] def aviFrameGrids(bytes: Array[Byte]): Option[(Int, Int, Seq[Array[Int]])] = {
    if (bytes.length < 24 || tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "AVI ") return None
    val riffEnd = math.min(bytes.length.toLong, 12L + u32le(bytes, 4) - 4L).toInt
    var w = -1; var h = -1
    var codec = "" // "mjpg" | "dib" once a supported vids stream declares
    var dibTopDown = false
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    var off = 12
    while (off + 8 <= riffEnd) {
      val ck = tag(bytes, off)
      val size = le32(bytes, off + 4)
      if (size < 0 || off + 8 + size.toLong > riffEnd) return None
      if (ck == "LIST" && size >= 4) {
        val listType = tag(bytes, off + 8)
        val end = off + 8 + size
        if (listType == "hdrl") {
          var p = off + 12
          while (p + 8 <= end) {
            val sck = tag(bytes, p)
            val ssz = le32(bytes, p + 4)
            if (ssz < 0 || p + 8 + ssz.toLong > end) return None
            if (sck == "avih" && ssz >= 40) {
              w = le32(bytes, p + 8 + 32) // dwWidth
              h = le32(bytes, p + 8 + 36) // dwHeight
            } else if (sck == "LIST" && ssz >= 4 && tag(bytes, p + 8) == "strl") {
              // sub-walk the strl list: strh declares the stream type +
              // handler, strf's BITMAPINFOHEADER pins the pixel layout
              // (needed for the uncompressed-DIB slot, r17)
              val sEnd = p + 8 + ssz
              var q = p + 12
              var vids = false
              var handler = ""
              var handlerZero = false
              var biH = 0; var biBits = -1; var biComp = -1
              while (q + 8 <= sEnd) {
                val t2 = tag(bytes, q)
                val z2 = le32(bytes, q + 4)
                if (z2 < 0 || q + 8 + z2.toLong > sEnd) return None
                if (t2 == "strh" && z2 >= 8) {
                  vids = tag(bytes, q + 8) == "vids" // fccType
                  handler = tag(bytes, q + 12)       // fccHandler
                  handlerZero = le32(bytes, q + 12) == 0
                } else if (t2 == "strf" && z2 >= 20) {
                  biH = le32(bytes, q + 8 + 8)     // biHeight (signed)
                  biBits = le16(bytes, q + 8 + 14) // biBitCount
                  biComp = le32(bytes, q + 8 + 16) // biCompression
                }
                q += 8 + z2 + (z2 & 1)
              }
              if (vids) {
                if (handler == "MJPG" || handler == "mjpg") codec = "mjpg"
                else if ((handler == "DIB " || handlerZero) &&
                         biComp == 0 && biBits == 24) {
                  // BI_RGB 24-bpp: raw bottom-up BGR rows, the BMP pixel
                  // law without the headers (top-down when biHeight < 0)
                  codec = "dib"
                  dibTopDown = biH < 0
                }
              }
            }
            p += 8 + ssz + (ssz & 1)
          }
        } else if (listType == "movi") {
          var p = off + 12
          while (p + 8 <= end) {
            val sck = tag(bytes, p)
            val ssz = le32(bytes, p + 4)
            if (ssz < 0 || p + 8 + ssz.toLong > end) return None
            // stream-0 video data (MJPG frames arrive as 00dc; 00db is
            // the uncompressed-DIB slot some muxers still use for JPEG)
            if ((sck == "00dc" || sck == "00db") && ssz > 0) {
              if (frames.length >= 4096) return None // runaway-container backstop
              val fb = java.util.Arrays.copyOfRange(bytes, p + 8, p + 8 + ssz)
              val grid = codec match {
                case "mjpg" => jpegGrayGrid(fb) match {
                  case Some((fw, fh, g)) if fw == w && fh == h => Some(g)
                  case _ => None
                }
                case "dib" => dibGrayGrid(fb, w, h, dibTopDown)
                case _ => None
              }
              grid match {
                case Some(g) => frames += g
                case None => return None
              }
            }
            p += 8 + ssz + (ssz & 1)
          }
        }
      }
      off += 8 + size + (size & 1)
    }
    if (w <= 0 || h <= 0 || w > (1 << 14) || h > (1 << 14) ||
        codec.isEmpty || frames.isEmpty) None
    else Some((w, h, frames.toSeq))
  }

  /** One uncompressed 24-bpp DIB frame (an AVI `00db` payload: BMP
    * pixel rows without the headers — 4-byte-aligned BGR rows,
    * bottom-up unless strf declared a negative height) as a display-
    * order gray grid under the house law (r+g+b, [[bmpGrayGrid]]'s
    * fold). None when the payload size disagrees with the declared
    * canvas — a poisoned frame rejects the clip.
    */
  private def dibGrayGrid(fb: Array[Byte], w: Int, h: Int,
                          topDown: Boolean): Option[Array[Int]] = {
    val stride = ((3 * w + 3) / 4) * 4
    // Long: a lying avih height must not wrap stride * h onto fb.length
    if (fb.length.toLong != stride.toLong * h) return None
    val gray = new Array[Int](w * h)
    var row = 0
    while (row < h) {
      val display = if (topDown) row else h - 1 - row
      val base = row * stride
      var x = 0
      while (x < w) {
        gray(display * w + x) = (fb(base + 3 * x) & 0xff) +
          (fb(base + 3 * x + 1) & 0xff) + (fb(base + 3 * x + 2) & 0xff)
        x += 1
      }
      row += 1
    }
    Some(gray)
  }

  /** Fixture/test writer for MJPEG AVI: `frames` video chunks, frame f
    * a [[makeJpeg]] fixture with seed `seed + f·17` (the
    * [[makeGifAnimated]] per-frame seed convention), so every frame
    * replays the DC-only JPEG closed form. Writes the minimal honest
    * container: avih with the real dims/frame count, a vids/MJPG strl
    * with a BITMAPINFOHEADER strf, and a movi list of 00dc chunks
    * (odd-sized frames get the spec's pad byte — the walk must honor
    * even alignment).
    */
  def makeAviMjpeg(w: Int, h: Int, seed: Long, frames: Int,
                   gray: Boolean = true): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 1024 && h <= 1024 && frames >= 1 && frames <= 64,
      s"fixture dims $w x $h x $frames")
    val frameData = (0 until frames).map(f => makeJpeg(w, h, seed + f * 17L, gray = gray))
    aviContainer(w, h, frameData, handler = "MJPG", biCompression = "MJPG",
      bufferSize = frameData.map(_.length).max, imageSize = 3 * w * h, chunk = "00dc")
  }

  /** The one AVI container writer: avih with the real dims and frame
    * count, one vids strl (strh naming `handler`, a BITMAPINFOHEADER
    * strf declaring `biCompression` — a fourcc, four NULs for BI_RGB —
    * and `imageSize`), then a movi list with one `chunk` per frame,
    * odd-sized frames followed by the spec's pad byte.
    */
  private def aviContainer(w: Int, h: Int, frameData: Seq[Array[Byte]], handler: String,
                           biCompression: String, bufferSize: Int, imageSize: Int,
                           chunk: String): Array[Byte] = {
    val frames = frameData.length
    val out = new java.io.ByteArrayOutputStream()
    val strlSize = 4 + (8 + 56) + (8 + 40)          // 'strl' + strh + strf
    val hdrlSize = 4 + (8 + 56) + (8 + strlSize)    // 'hdrl' + avih + LIST strl
    val moviSize = 4 + frameData.map(f => 8 + f.length + (f.length & 1)).sum
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
    ascii(out, "RIFF"); le32(out, riffSize); ascii(out, "AVI ")
    ascii(out, "LIST"); le32(out, hdrlSize); ascii(out, "hdrl")
    ascii(out, "avih"); le32(out, 56)
    le32(out, 100000)                                // dwMicroSecPerFrame (10 fps)
    le32(out, 0); le32(out, 0); le32(out, 0)         // maxBytesPerSec, padding, flags
    le32(out, frames)                                // dwTotalFrames
    le32(out, 0); le32(out, 1); le32(out, 0)         // initialFrames, streams, bufSize
    le32(out, w); le32(out, h)                       // dwWidth, dwHeight
    (0 until 4).foreach(_ => le32(out, 0))           // reserved
    ascii(out, "LIST"); le32(out, strlSize); ascii(out, "strl")
    ascii(out, "strh"); le32(out, 56)
    ascii(out, "vids"); ascii(out, handler)
    le32(out, 0); le32(out, 0); le32(out, 0)         // flags, prio+lang, initialFrames
    le32(out, 1); le32(out, 10)                      // dwScale, dwRate (10 fps)
    le32(out, 0); le32(out, frames)                  // dwStart, dwLength
    le32(out, bufferSize)                            // suggestedBufferSize
    le32(out, 0); le32(out, 0)                       // quality, sampleSize
    le32(out, 0); le32(out, 0)                       // rcFrame (4 shorts)
    ascii(out, "strf"); le32(out, 40)
    le32(out, 40); le32(out, w); le32(out, h)        // biSize, biWidth, biHeight
    le16(out, 1); le16(out, 24)                      // planes, bitcount
    ascii(out, biCompression)
    le32(out, imageSize)                             // biSizeImage
    (0 until 4).foreach(_ => le32(out, 0))           // resolution, clr fields
    ascii(out, "LIST"); le32(out, moviSize); ascii(out, "movi")
    frameData.foreach { f =>
      ascii(out, chunk); le32(out, f.length); out.write(f)
      if ((f.length & 1) == 1) out.write(0)          // even alignment pad
    }
    out.toByteArray
  }

  /** Fixture/test writer for UNCOMPRESSED AVI (r17): `frames` raw
    * 24-bpp DIB video chunks, frame f carrying [[makeBmp]]'s exact
    * closed-form pixel bytes with seed `seed + f·17` (stored row
    * bottom-up, 4-byte-aligned stride) — so frame f's gray grid is
    * IDENTICAL to the standalone `makeBmp(w, h, seed + f*17)` image,
    * and the oracle replays the BMP law with the bottom-up flip.
    * Container: vids stream with the `DIB ` handler, strf declaring
    * BI_RGB 24-bpp, `00db` chunks.
    */
  def makeAviDib(w: Int, h: Int, seed: Long, frames: Int): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 1024 && h <= 1024 && frames >= 1 && frames <= 64,
      s"fixture dims $w x $h x $frames")
    val stride = ((3 * w + 3) / 4) * 4
    val frameData = (0 until frames).map { f =>
      val fb = new Array[Byte](stride * h)
      var row = 0
      while (row < h) {
        var k = 0
        while (k < 3 * w) { // padding bytes stay zero
          fb(row * stride + k) = ((seed + f * 17L + row * 31L + k * 7L) % 256).toByte
          k += 1
        }
        row += 1
      }
      fb
    }
    // stride * h is even, so no frame takes a pad byte
    aviContainer(w, h, frameData, handler = "DIB ", biCompression = "\u0000" * 4,
      bufferSize = stride * h, imageSize = stride * h, chunk = "00db")
  }

  /** The first video track's normative sample tables, parsed but NOT
    * decoded — shared between [[mp4FrameGrids]] (which then requires
    * the `jpeg` coding and decodes every sample) and [[mediaMeta]]
    * (which reports coding/canvas/sample-count for ANY coding,
    * H.264/HEVC included — the header-only peek a pre-filter pass
    * runs before committing decode work).
    */
  private final case class Mp4Track(coding: String, w: Int, h: Int,
      sizes: Array[Long], chunkOffs: Array[Long], runs: Seq[(Long, Long)],
      durationMs: Option[Long])

  private def mp4VideoTrack(bytes: Array[Byte]): Option[Mp4Track] = {
    val (moov, durationMs) = isoMoov(bytes).getOrElse(return None)
    // first trak whose mdia/hdlr declares the 'vide' handler
    val stbl = isoTrack(bytes, moov, "vide")(Some(_)).getOrElse(return None)
    // stsd: exactly one sample description; coding judged by the caller
    val (sdS, sdE) = isoChild(stbl, "stsd").getOrElse(return None)
    if (sdE - sdS < 16 || u32be(bytes, sdS + 4) != 1L) return None
    val entry = sdS + 8
    val entrySize = u32be(bytes, entry)
    if (entrySize < 86 || entry + entrySize > sdE) return None
    val coding = tag(bytes, entry + 4)
    val w = be16(bytes, entry + 32)
    val h = be16(bytes, entry + 34)
    if (w <= 0 || h <= 0 || w > (1 << 14) || h > (1 << 14)) return None
    // stsz: per-sample sizes (fixed-size form honored)
    val (szS, szE) = isoChild(stbl, "stsz").getOrElse(return None)
    if (szE - szS < 12) return None
    val fixedSize = u32be(bytes, szS + 4)
    val nSamples = u32be(bytes, szS + 8)
    if (nSamples <= 0 || nSamples > 4096) return None // runaway backstop
    val n = nSamples.toInt
    val sizes = new Array[Long](n)
    if (fixedSize != 0L) java.util.Arrays.fill(sizes, fixedSize)
    else {
      if (szE - szS < 12 + 4L * n) return None
      var i = 0
      while (i < n) { sizes(i) = u32be(bytes, szS + 12 + 4 * i); i += 1 }
    }
    // stsc: sample→chunk runs
    val (scS, scE) = isoChild(stbl, "stsc").getOrElse(return None)
    if (scE - scS < 8) return None
    val nRuns = u32be(bytes, scS + 4)
    if (nRuns <= 0 || nRuns > 4096 || scE - scS < 8 + 12L * nRuns) return None
    val runs = (0 until nRuns.toInt).map { i =>
      // (first_chunk, samples_per_chunk)
      (u32be(bytes, scS + 8 + 12 * i), u32be(bytes, scS + 8 + 12 * i + 4))
    }
    if (runs.head._1 != 1L ||
        runs.sliding(2).exists(p => p.length == 2 && p(1)._1 <= p(0)._1) ||
        runs.exists(_._2 <= 0L)) return None
    // stco / co64: absolute chunk offsets
    val chunkOffs: Array[Long] = isoChild(stbl, "stco") match {
      case Some((cS, cE)) =>
        if (cE - cS < 8) return None
        val nc = u32be(bytes, cS + 4)
        if (nc <= 0 || nc > 4096 || cE - cS < 8 + 4L * nc) return None
        Array.tabulate(nc.toInt)(i => u32be(bytes, cS + 8 + 4 * i))
      case None =>
        val (cS, cE) = isoChild(stbl, "co64").getOrElse(return None)
        if (cE - cS < 8) return None
        val nc = u32be(bytes, cS + 4)
        if (nc <= 0 || nc > 4096 || cE - cS < 8 + 8L * nc) return None
        Array.tabulate(nc.toInt)(i => be64(bytes, cS + 8 + 8 * i))
    }
    Some(Mp4Track(coding, w, h, sizes, chunkOffs, runs, durationMs))
  }

  /** ISO-BMFF boxes in [start, end) as (type, contentStart, contentEnd)
    * — they must tile the span exactly (64-bit `largesize` and size-0
    * run-to-end honored); None otherwise. 4096-box backstop.
    */
  private def isoBoxes(bytes: Array[Byte], start: Int, end: Int): Option[Seq[(String, Int, Int)]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
    var off = start
    while (off < end) {
      if (off + 8 > end || out.length >= 4096) return None
      val sz = u32be(bytes, off)
      var hdr = 8
      val size: Long =
        if (sz == 1L) { if (off + 16 > end) return None; hdr = 16; be64(bytes, off + 8) }
        else if (sz == 0L) (end - off).toLong // spec: box runs to end of file
        else sz
      if (size < hdr || off + size > end) return None
      out += ((tag(bytes, off + 4), off + hdr, (off + size).toInt))
      off = (off + size).toInt
    }
    Some(out.toSeq)
  }

  private def isoChild(bs: Seq[(String, Int, Int)], t: String): Option[(Int, Int)] =
    bs.collectFirst { case (`t`, s, e) => (s, e) }

  /** An ISO-BMFF file's moov children and its mvhd movie duration. */
  private def isoMoov(bytes: Array[Byte]): Option[(Seq[(String, Int, Int)], Option[Long])] = {
    if (bytes.length < 16 || tag(bytes, 4) != "ftyp") return None
    val top = isoBoxes(bytes, 0, bytes.length).getOrElse(return None)
    val (moovS, moovE) = isoChild(top, "moov").getOrElse(return None)
    val moov = isoBoxes(bytes, moovS, moovE).getOrElse(return None)
    // mvhd: movie duration in timescale units (v0 u32 / v1 u64 fields)
    val durationMs: Option[Long] = isoChild(moov, "mvhd").flatMap { case (ms, me) =>
      if (me - ms < 20) None
      else if ((bytes(ms) & 0xff) == 0) {
        val ts = u32be(bytes, ms + 12); val d = u32be(bytes, ms + 16)
        if (ts > 0 && d > 0) Some(d * 1000 / ts) else None
      } else if (me - ms >= 32) {
        val ts = u32be(bytes, ms + 20); val d = be64(bytes, ms + 24)
        if (ts > 0 && d > 0) Some(d * 1000 / ts) else None
      } else None
    }
    Some((moov, durationMs))
  }

  /** `pick` over the stbl children of the first trak in `moov` whose
    * mdia/hdlr declares `handler` and for which `pick` answers.
    */
  private def isoTrack[A](bytes: Array[Byte], moov: Seq[(String, Int, Int)], handler: String)(
      pick: Seq[(String, Int, Int)] => Option[A]): Option[A] =
    moov.collectFirst(Function.unlift {
      case ("trak", ts, te) =>
        for {
          trak <- isoBoxes(bytes, ts, te)
          (ms, me) <- isoChild(trak, "mdia")
          mdia <- isoBoxes(bytes, ms, me)
          (hs, he) <- isoChild(mdia, "hdlr")
          if he - hs >= 12 && tag(bytes, hs + 8) == handler
          (ns, ne) <- isoChild(mdia, "minf")
          minf <- isoBoxes(bytes, ns, ne)
          (bs, be) <- isoChild(minf, "stbl")
          stbl <- isoBoxes(bytes, bs, be)
          picked <- pick(stbl)
        } yield picked
      case _ => None
    })

  /** ISO-BMFF (MP4 / QuickTime MOV) through the decoded-video gate
    * (r17): the [[gifFrameGrids]] contract for the ISO base-media
    * container — (w, h, one gray frame grid per video sample) when the
    * FIRST `vide` track's sample description is the `jpeg` coding
    * (QuickTime Motion-JPEG: every sample an independent baseline JPEG
    * the existing [[jpegGrayGrid]] entropy path already decodes —
    * `mjpa`/`mjpb` field-split variants are a different bitstream and
    * stay outside the envelope, measured by [[videoCoverage]]).
    *
    * The walk is the container truth, not a header sniff: top-level
    * boxes must TILE the payload exactly (64-bit `largesize` and
    * size-0 run-to-end honored), `moov→trak→mdia→hdlr` picks the video
    * track, and the sample layout is reconstructed from the four stbl
    * tables the spec makes normative — `stsd` (coding + canvas),
    * `stsc` (sample→chunk runs, first_chunk strictly increasing from
    * 1, last run extending), `stsz` (per-sample byte sizes), and
    * `stco`/`co64` (absolute chunk offsets into the file — samples sit
    * back-to-back inside a chunk). None outside the envelope: any
    * box that overruns its parent, a `vide` track whose coding is not
    * `jpeg`, a chunk/sample walk that disagrees with `stsz`'s count,
    * a sample range outside the payload, a frame that fails decode or
    * disagrees with the declared canvas — a poisoned clip yields NO
    * hashes, never a partial lie (the [[aviFrameGrids]] discipline).
    */
  private[graft] def mp4FrameGrids(bytes: Array[Byte]): Option[(Int, Int, Seq[Array[Int]])] = {
    val t = mp4VideoTrack(bytes).getOrElse(return None)
    if (t.coding != "jpeg") return None
    val n = t.sizes.length
    // replay the chunk walk: samples sit back-to-back inside a chunk;
    // the walk must consume stsz's count exactly
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    var sample = 0
    var run = 0
    var chunk = 1L
    while (chunk <= t.chunkOffs.length && sample < n) {
      while (run + 1 < t.runs.length && t.runs(run + 1)._1 <= chunk) run += 1
      val spc = t.runs(run)._2
      var off = t.chunkOffs(chunk.toInt - 1)
      var s = 0L
      while (s < spc) {
        if (sample >= n) return None // stsc promises more samples than stsz holds
        val size = t.sizes(sample)
        if (off < 0 || size <= 0 || off + size > bytes.length) return None
        val fb = java.util.Arrays.copyOfRange(bytes, off.toInt, (off + size).toInt)
        jpegGrayGrid(fb) match {
          case Some((fw, fh, g)) if fw == t.w && fh == t.h => frames += g
          case _ => return None
        }
        off += size
        sample += 1
        s += 1
      }
      chunk += 1
    }
    if (sample != n) return None // chunk walk disagrees with stsz
    if (frames.isEmpty) None else Some((t.w, t.h, frames.toSeq))
  }

  /** Audio-track header facts for an ISO-BMFF file with NO video
    * track (M4A — r17): (sample_rate, channels, movie duration ms)
    * from the first `soun` track's AudioSampleEntry (channelcount at
    * entry+24, samplerate as 16.16 fixed at entry+32 — the layout is
    * common to every audio coding, AAC included) plus mvhd. Without
    * this, an audio-only mp4 would mislabel as a dimension-less
    * video.
    */
  private def mp4AudioMeta(bytes: Array[Byte]): Option[(Int, Int, Option[Long])] = {
    val (moov, durationMs) = isoMoov(bytes).getOrElse(return None)
    val entry = isoTrack(bytes, moov, "soun")(stbl => isoChild(stbl, "stsd").collect {
      case (sdS, sdE) if sdE - sdS >= 16 && u32be(bytes, sdS + 4) >= 1L => sdS + 8
    }).getOrElse(return None)
    val entrySize = u32be(bytes, entry)
    if (entrySize < 36 || entry + entrySize > bytes.length) return None
    val ch = be16(bytes, entry + 24)
    val rate = be16(bytes, entry + 32) // 16.16 fixed point, integer part
    if (ch < 1 || ch > 8 || rate <= 0) None
    else Some((rate, ch, durationMs))
  }

  /** Fixture/test writer for M4A headers (audio-only ISO-BMFF): ftyp
    * brand `M4A `, moov(mvhd, trak(mdia(hdlr `soun`, minf(stbl(stsd
    * mp4a-shaped AudioSampleEntry))))). Header-only — the metadata
    * walk reads the sample entry, the decode tier refuses the coding.
    */
  def makeM4aHeader(rate: Int, channels: Int, durationMs: Int): Array[Byte] = {
    require(rate > 0 && rate < 65536 && channels >= 1 && channels <= 8 &&
      durationMs >= 0)
    val ftyp = box("ftyp", asciiBytes("M4A "), be32Bytes(0), asciiBytes("M4A "))
    val mdhd = box("mdhd", be32Bytes(0), be32Bytes(0), be32Bytes(0), be32Bytes(rate.toLong),
      be32Bytes(0), be16Bytes(0x55c4), be16Bytes(0))
    val smhd = box("smhd", be32Bytes(0), be16Bytes(0), be16Bytes(0))
    // AudioSampleEntry (mp4a): 8 hdr + 6 reserved + 2 dri + 8 reserved
    // + channelcount(2) + samplesize(2) + pre_defined(2) + reserved(2)
    // + samplerate 16.16 (4) = 36
    val sampleEntry = be32Bytes(36) ++ asciiBytes("mp4a") ++ Array.fill(6)(0.toByte) ++
      be16Bytes(1) ++ be32Bytes(0) ++ be32Bytes(0) ++
      be16Bytes(channels) ++ be16Bytes(16) ++ be16Bytes(0) ++ be16Bytes(0) ++
      be32Bytes(rate.toLong << 16)
    val stsd = box("stsd", be32Bytes(0), be32Bytes(1), sampleEntry)
    val stts = box("stts", be32Bytes(0), be32Bytes(0))
    val stsc = box("stsc", be32Bytes(0), be32Bytes(0))
    val stsz = box("stsz", be32Bytes(0), be32Bytes(0), be32Bytes(0))
    val stco = box("stco", be32Bytes(0), be32Bytes(0))
    val stbl = box("stbl", stsd, stts, stsc, stsz, stco)
    val minf = box("minf", smhd, isoDinf, stbl)
    val mdia = box("mdia", mdhd, hdlrBox("soun"), minf)
    val trak = box("trak", mdia)
    val moov = box("moov", mvhdBox(durationMs.toLong), trak)
    ftyp ++ moov
  }

  /** One ISO-BMFF box — 32-bit size, type, then `content` in order —
    * the writer behind every ISO-BMFF fixture (M4A, MP4/MOV, HEIF).
    */
  private def box(t: String, content: Array[Byte]*): Array[Byte] = {
    val body = content.flatten.toArray
    be32Bytes(8L + body.length) ++ asciiBytes(t) ++ body
  }

  /** The identity 3x3 matrix in 16.16 / 2.30 fixed point. */
  private def isoMatrix: Array[Byte] =
    Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L, 0x40000000L)
      .toArray.flatMap(be32Bytes)

  /** mvhd (version 0) at timescale 1000, so its duration is in ms. */
  private def mvhdBox(durationMs: Long): Array[Byte] =
    box("mvhd", be32Bytes(0), be32Bytes(0), be32Bytes(0), be32Bytes(1000),
      be32Bytes(durationMs), be32Bytes(0x00010000L), be16Bytes(0x0100), be16Bytes(0),
      be32Bytes(0), be32Bytes(0), isoMatrix, Array.fill(24)(0.toByte), be32Bytes(2))

  private def hdlrBox(handler: String): Array[Byte] =
    box("hdlr", be32Bytes(0), be32Bytes(0), asciiBytes(handler),
      Array.fill(12)(0.toByte), Array(0.toByte))

  /** dinf holding one self-contained `url ` data reference. */
  private def isoDinf: Array[Byte] =
    box("dinf", box("dref", be32Bytes(0), be32Bytes(1), box("url ", be32Bytes(1))))

  /** Fixture/test writer for ISO-BMFF Motion-JPEG: `frames` video
    * samples, frame f a [[makeJpeg]] fixture with seed `seed + f·17`
    * (the [[makeAviMjpeg]] per-frame seed convention — the oracle
    * replays the same DC-only JPEG closed form). Writes the honest
    * minimal container: `ftyp` (brand `mp42`, or `qt  ` for the MOV
    * form), `mdat` holding the sample bytes, and a full `moov` —
    * mvhd, trak(tkhd, mdia(mdhd, hdlr `vide`, minf(vmhd, dinf(dref
    * url), stbl(stsd `jpeg`, stts, stsc, stsz, stco/co64)))). Samples
    * pack two per chunk with an odd trailing sample in its own chunk,
    * so the stsc run table is genuinely multi-run whenever `frames` is
    * odd — the walk must merge runs, not assume one-sample-per-chunk.
    */
  def makeMp4Mjpeg(w: Int, h: Int, seed: Long, frames: Int,
                   brand: String = "mp42", co64: Boolean = false,
                   gray: Boolean = true): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 1024 && h <= 1024 && frames >= 1 && frames <= 64,
      s"fixture dims $w x $h x $frames")
    val frameData = (0 until frames).map(f => makeJpeg(w, h, seed + f * 17L, gray = gray))
    val ftyp = box("ftyp", asciiBytes(brand), be32Bytes(0), asciiBytes(brand))
    val mdat = box("mdat", frameData.flatten.toArray)
    // absolute sample offsets: mdat content starts after ftyp + 8
    val base = ftyp.length + 8L
    val sampleOffs = frameData.scanLeft(base)((o, f) => o + f.length).init
    // two samples per chunk, odd trailing sample alone → multi-run stsc
    val fullChunks = frames / 2
    val chunkFirstSample =
      (0 until fullChunks).map(_ * 2) ++ (if (frames % 2 == 1) Seq(frames - 1) else Nil)
    val chunkOffs = chunkFirstSample.map(sampleOffs(_))
    val stscRuns: Seq[(Int, Int)] =
      if (frames == 1) Seq((1, 1))
      else if (frames % 2 == 0) Seq((1, 2))
      else Seq((1, 2), (fullChunks + 1, 1))
    val tkhd = box("tkhd", be32Bytes(7) /* version 0, flags: enabled+in-movie+in-preview */,
      be32Bytes(0), be32Bytes(0), be32Bytes(1), be32Bytes(0), be32Bytes(frames * 100L),
      be32Bytes(0), be32Bytes(0), be16Bytes(0), be16Bytes(0), be16Bytes(0), be16Bytes(0),
      isoMatrix, be32Bytes(w.toLong << 16), be32Bytes(h.toLong << 16))
    val mdhd = box("mdhd", be32Bytes(0), be32Bytes(0), be32Bytes(0), be32Bytes(1000),
      be32Bytes(frames * 100L), be16Bytes(0x55c4) /* 'und' */, be16Bytes(0))
    val vmhd = box("vmhd", be32Bytes(1), be16Bytes(0), be16Bytes(0), be16Bytes(0), be16Bytes(0))
    val sampleEntry = be32Bytes(86) ++ asciiBytes("jpeg") ++ Array.fill(6)(0.toByte) ++
      be16Bytes(1) ++ be16Bytes(0) ++ be16Bytes(0) ++ Array.fill(12)(0.toByte) ++
      be16Bytes(w) ++ be16Bytes(h) ++ be32Bytes(0x00480000L) ++ be32Bytes(0x00480000L) ++
      be32Bytes(0) ++ be16Bytes(1) ++ Array.fill(32)(0.toByte) ++ be16Bytes(24) ++
      be16Bytes(0xffff)
    val stsd = box("stsd", be32Bytes(0), be32Bytes(1), sampleEntry)
    val stts = box("stts", be32Bytes(0), be32Bytes(1), be32Bytes(frames.toLong), be32Bytes(100))
    val stsc = box("stsc", be32Bytes(0), be32Bytes(stscRuns.length.toLong),
      stscRuns.flatMap { case (fc, spc) =>
        be32Bytes(fc.toLong) ++ be32Bytes(spc.toLong) ++ be32Bytes(1)
      }.toArray)
    val stsz = box("stsz", be32Bytes(0), be32Bytes(0),
      be32Bytes(frames.toLong), frameData.flatMap(f => be32Bytes(f.length.toLong)).toArray)
    val stcoBox =
      if (co64) box("co64", be32Bytes(0), be32Bytes(chunkOffs.length.toLong),
        chunkOffs.flatMap(be64Bytes).toArray)
      else box("stco", be32Bytes(0), be32Bytes(chunkOffs.length.toLong),
        chunkOffs.flatMap(be32Bytes).toArray)
    val stbl = box("stbl", stsd, stts, stsc, stsz, stcoBox)
    val minf = box("minf", vmhd, isoDinf, stbl)
    val mdia = box("mdia", mdhd, hdlrBox("vide"), minf)
    val trak = box("trak", tkhd, mdia)
    val moov = box("moov", mvhdBox(frames * 100L), trak)
    ftyp ++ mdat ++ moov
  }

  /** Container dispatch for the decoded-video family: animated GIF,
    * MJPEG/DIB AVI, ISO-BMFF Motion-JPEG (mp4/mov, r17), or APNG
    * (r17 session 2) — all yielding the same (w, h, gray frames)
    * contract.
    */
  private[graft] def videoFrameGrids(bytes: Array[Byte]): Option[(Int, Int, Seq[Array[Int]])] =
    gifFrameGrids(bytes).orElse(aviFrameGrids(bytes)).orElse(mp4FrameGrids(bytes))
      .orElse(apngFrameGrids(bytes))

  /** Canonical Huffman table: value lookup by (length, code). */
  private final class HuffTable(counts: Array[Int], symbols: Array[Int]) {
    // minCode(l), maxCode(l) (exclusive), valPtr(l) for l in 1..16
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += counts(l - 1); k += counts(l - 1)
        maxCode(l) = code
        code <<= 1
        l += 1
      }
    }
    def decode(br: JpegBits): Int = {
      var code = 0; var l = 0
      while (l < 16) {
        code = (code << 1) | br.bit()
        l += 1
        if (code < maxCode(l)) return symbols(valPtr(l) + (code - minCode(l)))
      }
      throw new JpegBad
    }
  }

  private final class JpegBad extends RuntimeException

  /** Entropy-segment bit reader: FF00 unstuffing; RSTn markers are
    * consumed only via [[restart]]; any other marker mid-stream is a
    * defect.
    */
  private final class JpegBits(bytes: Array[Byte], var pos: Int) {
    private var cur = 0
    private var nbits = 0
    def bit(): Int = {
      if (nbits == 0) {
        if (pos >= bytes.length) throw new JpegBad
        var b = bytes(pos) & 0xff; pos += 1
        if (b == 0xff) {
          if (pos >= bytes.length) throw new JpegBad
          val m = bytes(pos) & 0xff
          if (m == 0x00) pos += 1 // stuffed FF
          else throw new JpegBad  // marker where data was expected
        }
        cur = b; nbits = 8
      }
      nbits -= 1
      (cur >> nbits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    /** Align to byte and consume an expected RSTn marker. */
    def restart(): Unit = {
      nbits = 0
      if (pos + 1 >= bytes.length || (bytes(pos) & 0xff) != 0xff) throw new JpegBad
      val m = bytes(pos + 1) & 0xff
      if (m < 0xd0 || m > 0xd7) throw new JpegBad
      pos += 2
    }
  }

  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** Separable 8×8 IDCT (rows into `tmp`, then columns) + level shift,
    * clamped into `plane` at (px0, py0) — shared by the baseline
    * streaming decode and the progressive coefficient-buffer pass.
    * `precision` 12 (extended sequential, SOF1) level-shifts by 2048,
    * clamps to [0, 4095] and canonicalizes to the stored 8-bit plane by
    * top-byte truncation (v >> 4) — the documented sample mapping for
    * every downstream consumer (grids, hashes, RGB fold).
    */
  private def idctWrite(coef: Array[Int], tmp: Array[Double],
                        plane: Array[Byte], planeW: Int, px0: Int, py0: Int,
                        precision: Int = 8): Unit = {
    val levelShift = 1 << (precision - 1)
    val maxVal = (1 << precision) - 1
    val down = precision - 8
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) { s += IdctBasis(u * 8 + x) * coef(y * 8 + u); u += 1 }
        tmp(y * 8 + x) = s
        x += 1
      }
      y += 1
    }
    var x = 0
    while (x < 8) {
      var yy = 0
      while (yy < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) { s += IdctBasis(v * 8 + yy) * tmp(v * 8 + x); v += 1 }
        val vpix = math.round(s + levelShift).toInt
        val clamped = if (vpix < 0) 0 else if (vpix > maxVal) maxVal else vpix
        plane((py0 + yy) * planeW + px0 + x) = (clamped >> down).toByte
        yy += 1
      }
      x += 1
    }
  }

  /** Parse + decode a baseline (SOF0) or progressive (SOF2) JPEG;
    * returns None on anything outside the supported envelope (the
    * caller falls to the stub). Progressive streams accumulate
    * coefficients across DC/AC first and refinement scans (T.81 G.2)
    * and render once at EOI.
    */
  def parseJpeg(id: Long, bytes: Array[Byte]): Option[MediaFeatures] =
    jpegPlanes(bytes).flatMap(jp =>
      foldJpegPlanes(id, bytes.length, jp.comps, jp.planes, jp.planeW, jp.w, jp.h))

  /** Decoded component planes of a JPEG in MCU-padded storage — the
    * shared product of the baseline and progressive decode paths, folded
    * to [[MediaFeatures]] by [[parseJpeg]] and to an aHash gray grid by
    * [[jpegGrayGrid]].
    */
  private final case class JpegPlanes(comps: Array[Array[Int]],
                                      planes: Array[Array[Byte]],
                                      planeW: Array[Int], w: Int, h: Int)

  private def jpegPlanes(bytes: Array[Byte]): Option[JpegPlanes] = {
    if (bytes.length < 4 || (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8)
      return None
    try jpegPlanesInner(bytes)
    catch { case _: JpegBad | _: ArrayIndexOutOfBoundsException => None }
  }

  private def jpegPlanesInner(bytes: Array[Byte]): Option[JpegPlanes] = {
    val quant = new Array[Array[Int]](4)
    val dcTabs = new Array[HuffTable](4)
    val acTabs = new Array[HuffTable](4)
    var restartInterval = 0
    var w = 0; var h = 0
    // per component: id, hSamp, vSamp, quantId, dcSel, acSel
    var comps: Array[Array[Int]] = null
    var off = 2
    var sosAt = -1
    var progressive = false
    var precision = 8
    var scansDone = 0
    // progressive coefficient state, allocated at the first SOS
    var pCoefs: Array[Array[Int]] = null
    var pCompBX: Array[Int] = null
    var pCompBY: Array[Int] = null

    /** Decode one progressive scan's entropy data (T.81 G.2): DC
      * first/refinement over interleaved MCUs (or a single component's
      * block raster), AC first/refinement with EOB-run bookkeeping —
      * coefficients accumulate in `pCoefs` at natural (un-zigzagged)
      * positions, UNQUANTIZED; dequant + IDCT happen once after EOI.
      * Returns the offset of the next marker's 0xFF.
      */
    def progScan(scanCis: Array[Int], ss: Int, se: Int, ah: Int, al: Int,
                 startPos: Int): Int = {
      val nComp = comps.length
      val maxH = comps.map(_(1)).max
      val maxV = comps.map(_(2)).max
      val mcusX = (w + 8 * maxH - 1) / (8 * maxH)
      val mcusY = (h + 8 * maxV - 1) / (8 * maxV)
      if (pCoefs == null) {
        // coefficient buffers hold every block as 64 ints — bound the
        // image harder than the baseline streaming path
        if (w.toLong * h > (16 << 20)) throw new JpegBad
        pCompBX = comps.map(cc => mcusX * cc(1))
        pCompBY = comps.map(cc => mcusY * cc(2))
        pCoefs = (0 until nComp).map(i =>
          new Array[Int](pCompBX(i) * pCompBY(i) * 64)).toArray
      }
      val br = new JpegBits(bytes, startPos)
      val pred = new Array[Int](nComp)
      var eobrun = 0

      def dcBlock(c: Int, bx: Int, by: Int): Unit = {
        val base = (by * pCompBX(c) + bx) * 64
        if (ah == 0) {
          val tab = dcTabs(comps(c)(4)); if (tab == null) throw new JpegBad
          val t = tab.decode(br)
          if (t > 11) throw new JpegBad
          pred(c) += extend(br.receive(t), t)
          pCoefs(c)(base) = pred(c) << al
        } else if (br.bit() == 1) pCoefs(c)(base) |= (1 << al)
      }

      def acFirst(co: Array[Int], base: Int, acT: HuffTable): Unit = {
        if (eobrun > 0) { eobrun -= 1; return }
        var k = ss
        while (k <= se) {
          val rs = acT.decode(br)
          val r = rs >> 4; val s = rs & 15
          if (s == 0) {
            if (r == 15) k += 16 // ZRL
            else {
              eobrun = (1 << r) - 1 + (if (r > 0) br.receive(r) else 0)
              return
            }
          } else {
            k += r
            if (k > se) throw new JpegBad
            co(base + ZigZag(k)) = extend(br.receive(s), s) << al
            k += 1
          }
        }
      }

      def acRefine(co: Array[Int], base: Int, acT: HuffTable): Unit = {
        val p1 = 1 << al
        var k = ss
        if (eobrun == 0) {
          var ended = false
          while (k <= se && !ended) {
            val rs = acT.decode(br)
            var r = rs >> 4; val s = rs & 15
            var newval = 0
            if (s == 0) {
              if (r < 15) {
                eobrun = (1 << r) + (if (r > 0) br.receive(r) else 0)
                ended = true
              } // r == 15: ZRL — skip 16 zero-history slots below
            } else {
              if (s != 1) throw new JpegBad
              newval = if (br.bit() == 1) p1 else -p1
            }
            if (!ended) {
              var placed = false
              while (k <= se && !placed) {
                val z = base + ZigZag(k)
                if (co(z) != 0) {
                  if (br.bit() == 1 && (co(z) & p1) == 0)
                    co(z) += (if (co(z) >= 0) p1 else -p1)
                } else if (r == 0) {
                  if (newval != 0) co(z) = newval
                  placed = true
                } else r -= 1
                k += 1
              }
            }
          }
        }
        if (eobrun > 0) {
          while (k <= se) {
            val z = base + ZigZag(k)
            if (co(z) != 0 && br.bit() == 1 && (co(z) & p1) == 0)
              co(z) += (if (co(z) >= 0) p1 else -p1)
            k += 1
          }
          eobrun -= 1
        }
      }

      def maybeRestart(unit: Int): Unit =
        if (restartInterval > 0 && unit > 0 && unit % restartInterval == 0) {
          br.restart()
          java.util.Arrays.fill(pred, 0)
          eobrun = 0
        }

      if (ss == 0) {
        if (se != 0 || ah > 13 || al > 13) throw new JpegBad
        if (scanCis.length > 1 || nComp == 1) {
          // interleaved DC scan over MCUs
          var mcu = 0
          val total = mcusX * mcusY
          while (mcu < total) {
            maybeRestart(mcu)
            val mx = mcu % mcusX
            val my = mcu / mcusX
            var i = 0
            while (i < scanCis.length) {
              val c = scanCis(i)
              var by = 0
              while (by < comps(c)(2)) {
                var bx = 0
                while (bx < comps(c)(1)) {
                  dcBlock(c, mx * comps(c)(1) + bx, my * comps(c)(2) + by)
                  bx += 1
                }
                by += 1
              }
              i += 1
            }
            mcu += 1
          }
        } else {
          // single-component DC scan: the component's own block raster
          val c = scanCis(0)
          val nbx = (((w * comps(c)(1) + maxH - 1) / maxH) + 7) / 8
          val nby = (((h * comps(c)(2) + maxV - 1) / maxV) + 7) / 8
          var b = 0
          while (b < nbx * nby) {
            maybeRestart(b)
            dcBlock(c, b % nbx, b / nbx)
            b += 1
          }
        }
      } else {
        // AC scans are single-component by spec
        if (scanCis.length != 1 || se > 63 || ss > se || ah > 13 || al > 13)
          throw new JpegBad
        val c = scanCis(0)
        val acT = acTabs(comps(c)(5)); if (acT == null) throw new JpegBad
        val co = pCoefs(c)
        val nbx = (((w * comps(c)(1) + maxH - 1) / maxH) + 7) / 8
        val nby = (((h * comps(c)(2) + maxV - 1) / maxV) + 7) / 8
        var b = 0
        while (b < nbx * nby) {
          maybeRestart(b)
          val base = ((b / nbx) * pCompBX(c) + b % nbx) * 64
          if (ah == 0) acFirst(co, base, acT) else acRefine(co, base, acT)
          b += 1
        }
      }
      // locate the next marker (skip pad bits, stuffed FFs and fills)
      var q = br.pos
      var found = -1
      while (found < 0) {
        if (q + 1 >= bytes.length) throw new JpegBad
        val m = bytes(q + 1) & 0xff
        if ((bytes(q) & 0xff) == 0xff && m != 0 && m != 0xff &&
            !(m >= 0xd0 && m <= 0xd7)) found = q
        else q += 1
      }
      found
    }

    while (sosAt < 0) {
      // EOI is a bare 2-byte marker — only require the length bytes
      // AFTER ruling it out
      if (off + 2 > bytes.length) return None
      if ((bytes(off) & 0xff) != 0xff) return None
      var marker = bytes(off + 1) & 0xff
      off += 2
      while (marker == 0xff) { // fill bytes
        if (off >= bytes.length) return None
        marker = bytes(off) & 0xff; off += 1
      }
      if (marker == 0xd9) { // EOI: the exit for a progressive stream
        if (progressive && scansDone > 0) return progFinish(comps,
          quant, pCoefs, pCompBX, pCompBY, w, h)
        return None // EOI before any image data
      }
      if (off + 2 > bytes.length) return None
      val len = be16(bytes, off)
      if (len < 2 || off + len > bytes.length) return None
      val segEnd = off + len
      var nextOff = segEnd
      var p = off + 2
      marker match {
        case 0xdb => // DQT (pq=1: 16-bit entries — the 12-bit form)
          while (p < segEnd) {
            val pq = (bytes(p) & 0xff) >> 4
            val tq = bytes(p) & 0x0f
            if (pq > 1 || tq > 3 || p + 1 + 64 * (pq + 1) > segEnd) return None
            val t = new Array[Int](64)
            var i = 0
            if (pq == 0) while (i < 64) { t(i) = bytes(p + 1 + i) & 0xff; i += 1 }
            else while (i < 64) {
              t(i) = be16(bytes, p + 1 + 2 * i)
              i += 1
            }
            quant(tq) = t
            p += 1 + 64 * (pq + 1)
          }
        case 0xc0 | 0xc1 | 0xc2 => // SOF0 baseline / SOF1 extended / SOF2 progressive
          progressive = marker == 0xc2
          precision = bytes(p) & 0xff
          // 12-bit samples only through the extended-sequential frame
          // (SOF1); SOF0 is 8-bit by T.81, progressive-12 stays outside
          // the envelope (COVERAGE.md boundary row)
          if (precision != 8 && !(marker == 0xc1 && precision == 12)) return None
          h = be16(bytes, p + 1)
          w = be16(bytes, p + 3)
          val n = bytes(p + 5) & 0xff
          if (w <= 0 || h <= 0 || w > (1 << 14) || h > (1 << 14) ||
              w.toLong * h > (64 << 20) || (n != 1 && n != 3)) return None
          comps = Array.ofDim[Int](n, 6)
          var c = 0
          while (c < n) {
            val base = p + 6 + 3 * c
            comps(c)(0) = bytes(base) & 0xff
            comps(c)(1) = (bytes(base + 1) & 0xff) >> 4
            comps(c)(2) = bytes(base + 1) & 0x0f
            comps(c)(3) = bytes(base + 2) & 0xff
            if (comps(c)(1) < 1 || comps(c)(1) > 2 ||
                comps(c)(2) < 1 || comps(c)(2) > 2 || comps(c)(3) > 3) return None
            c += 1
          }
        case 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb |
             0xcd | 0xce | 0xcf =>
          return None // unsupported SOF (lossless, arithmetic, hierarchical ...)
        case 0xc4 => // DHT
          while (p < segEnd) {
            val tc = (bytes(p) & 0xff) >> 4
            val th = bytes(p) & 0x0f
            if (tc > 1 || th > 3 || p + 17 > segEnd) return None
            val counts = new Array[Int](16)
            var total = 0
            var i = 0
            while (i < 16) { counts(i) = bytes(p + 1 + i) & 0xff; total += counts(i); i += 1 }
            if (p + 17 + total > segEnd || total > 256) return None
            val syms = new Array[Int](total)
            i = 0
            while (i < total) { syms(i) = bytes(p + 17 + i) & 0xff; i += 1 }
            val tab = new HuffTable(counts, syms)
            if (tc == 0) dcTabs(th) = tab else acTabs(th) = tab
            p += 17 + total
          }
        case 0xdd => // DRI
          restartInterval = be16(bytes, p)
        case 0xda => // SOS
          if (comps == null) return None
          val n = bytes(p) & 0xff
          if (n < 1 || n > comps.length || (!progressive && n != comps.length))
            return None
          val scanCis = new Array[Int](n)
          var c = 0
          while (c < n) {
            val cid = bytes(p + 1 + 2 * c) & 0xff
            val sel = bytes(p + 2 + 2 * c) & 0xff
            val ci = comps.indexWhere(_(0) == cid)
            if (ci < 0) return None
            comps(ci)(4) = sel >> 4
            comps(ci)(5) = sel & 0x0f
            scanCis(c) = ci
            c += 1
          }
          if (progressive) {
            val ss = bytes(p + 1 + 2 * n) & 0xff
            val se = bytes(p + 2 + 2 * n) & 0xff
            val ahal = bytes(p + 3 + 2 * n) & 0xff
            nextOff = progScan(scanCis, ss, se, ahal >> 4, ahal & 15, segEnd)
            scansDone += 1
          } else sosAt = segEnd
        case _ => // APPn, COM, others: skip
      }
      off = nextOff
    }
    val nComp = comps.length
    val maxH = comps.map(_(1)).max
    val maxV = comps.map(_(2)).max
    var c = 0
    while (c < nComp) {
      if (quant(comps(c)(3)) == null || dcTabs(comps(c)(4)) == null ||
          acTabs(comps(c)(5)) == null) return None
      c += 1
    }
    if (nComp == 1 && (maxH != 1 || maxV != 1)) return None
    // the RGB fold below indexes the luma plane at full resolution
    if (nComp == 3 && (comps(0)(1) != maxH || comps(0)(2) != maxV)) return None
    // per-component planes at subsampled resolution, padded to whole MCUs
    val mcusX = (w + 8 * maxH - 1) / (8 * maxH)
    val mcusY = (h + 8 * maxV - 1) / (8 * maxV)
    val planeW = comps.map(cc => mcusX * 8 * cc(1))
    val planeH = comps.map(cc => mcusY * 8 * cc(2))
    val planes = (0 until nComp).map(i => new Array[Byte](planeW(i) * planeH(i))).toArray
    val pred = new Array[Int](nComp)
    val br = new JpegBits(bytes, sosAt)
    val coef = new Array[Int](64)
    val pix = new Array[Double](64)
    val tmp = new Array[Double](64)
    var mcu = 0
    val totalMcus = mcusX * mcusY
    while (mcu < totalMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        br.restart()
        java.util.Arrays.fill(pred, 0)
      }
      val mx = mcu % mcusX
      val my = mcu / mcusX
      c = 0
      while (c < nComp) {
        val q = quant(comps(c)(3))
        val dcT = dcTabs(comps(c)(4))
        val acT = acTabs(comps(c)(5))
        var by = 0
        while (by < comps(c)(2)) {
          var bx = 0
          while (bx < comps(c)(1)) {
            // --- decode one 8x8 block ---
            java.util.Arrays.fill(coef, 0)
            val t = dcT.decode(br)
            // DC categories: ≤11 at 8-bit, ≤15 at 12-bit (T.81 F.1.2.1.2)
            if (t > (if (precision == 12) 15 else 11)) throw new JpegBad
            pred(c) += extend(br.receive(t), t)
            coef(0) = pred(c) * q(0)
            var k = 1
            var eob = false
            while (k < 64 && !eob) {
              val rs = acT.decode(br)
              if (rs == 0) eob = true
              else if (rs == 0xf0) k += 16
              else {
                k += rs >> 4
                if (k > 63) throw new JpegBad
                coef(ZigZag(k)) = extend(br.receive(rs & 15), rs & 15) * q(k)
                k += 1
              }
            }
            // --- IDCT + level shift ---
            idctWrite(coef, tmp, planes(c), planeW(c),
              (mx * comps(c)(1) + bx) * 8, (my * comps(c)(2) + by) * 8,
              precision)
            bx += 1
          }
          by += 1
        }
        c += 1
      }
      mcu += 1
    }
    Some(JpegPlanes(comps, planes, planeW, w, h))
  }

  /** Shared feature fold over decoded component planes (visible w×h
    * region; grayscale or YCbCr→RGB with chroma replication) — the tail
    * of both the baseline and the progressive decode paths.
    */
  private def foldJpegPlanes(id: Long, nBytes: Int, comps: Array[Array[Int]],
                             planes: Array[Array[Byte]], planeW: Array[Int],
                             w: Int, h: Int): Option[MediaFeatures] = {
    val nComp = comps.length
    val maxH = comps.map(_(1)).max
    val maxV = comps.map(_(2)).max
    val sums = new Array[Long](3)
    var high = 0L
    val n = w.toLong * h
    if (nComp == 1) {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = planes(0)(y * planeW(0) + x) & 0xff
          sums(0) += v
          if (v > 127) high += 1
          x += 1
        }
        y += 1
      }
      val m = (sums(0).toDouble / (n * 255)).toFloat
      Some(MediaFeatures(id, nBytes, "jpeg", w, h,
        Array(m, m, m, m, (high.toDouble / n).toFloat,
          w.toFloat / (w + h), h.toFloat / (w + h), 0f)))
    } else {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val yv = planes(0)(y * planeW(0) + x) & 0xff
          // chroma replication: subsampled planes indexed at scaled coords
          val cbx = x * comps(1)(1) / maxH; val cby = y * comps(1)(2) / maxV
          val crx = x * comps(2)(1) / maxH; val cry = y * comps(2)(2) / maxV
          val cb = (planes(1)(cby * planeW(1) + cbx) & 0xff) - 128
          val cr = (planes(2)(cry * planeW(2) + crx) & 0xff) - 128
          def cl(d: Double): Int = {
            val r = math.round(d).toInt
            if (r < 0) 0 else if (r > 255) 255 else r
          }
          val r = cl(yv + 1.402 * cr)
          val g = cl(yv - 0.344136 * cb - 0.714136 * cr)
          val b = cl(yv + 1.772 * cb)
          sums(0) += r; sums(1) += g; sums(2) += b
          high += (if (r > 127) 1 else 0) + (if (g > 127) 1 else 0) +
            (if (b > 127) 1 else 0)
          x += 1
        }
        y += 1
      }
      val total = sums(0) + sums(1) + sums(2)
      Some(MediaFeatures(id, nBytes, "jpeg", w, h,
        Array((sums(0).toDouble / (n * 255)).toFloat,
          (sums(1).toDouble / (n * 255)).toFloat,
          (sums(2).toDouble / (n * 255)).toFloat,
          (total.toDouble / (3 * n * 255)).toFloat,
          (high.toDouble / (3 * n)).toFloat,
          w.toFloat / (w + h), h.toFloat / (w + h), 0f)))
    }
  }

  /** Progressive finish: after EOI, dequantize the accumulated
    * coefficient buffers, IDCT every block into its component plane,
    * and fold — identical semantics to a baseline decode of the fully
    * refined coefficients.
    */
  private def progFinish(comps: Array[Array[Int]],
                         quant: Array[Array[Int]], pCoefs: Array[Array[Int]],
                         pCompBX: Array[Int], pCompBY: Array[Int],
                         w: Int, h: Int): Option[JpegPlanes] = {
    if (pCoefs == null) return None
    val nComp = comps.length
    val maxH = comps.map(_(1)).max
    val maxV = comps.map(_(2)).max
    if (nComp == 1 && (maxH != 1 || maxV != 1)) return None
    if (nComp == 3 && (comps(0)(1) != maxH || comps(0)(2) != maxV)) return None
    var c = 0
    while (c < nComp) {
      if (quant(comps(c)(3)) == null) return None
      c += 1
    }
    val planeW = pCompBX.map(_ * 8)
    val planes = (0 until nComp).map(i =>
      new Array[Byte](pCompBX(i) * pCompBY(i) * 64)).toArray
    val dq = new Array[Int](64)
    val tmp = new Array[Double](64)
    c = 0
    while (c < nComp) {
      val q = quant(comps(c)(3))
      val co = pCoefs(c)
      var b = 0
      val nBlocks = pCompBX(c) * pCompBY(c)
      while (b < nBlocks) {
        val base = b * 64
        var k = 0
        while (k < 64) { dq(ZigZag(k)) = co(base + ZigZag(k)) * q(k); k += 1 }
        idctWrite(dq, tmp, planes(c), planeW(c),
          (b % pCompBX(c)) * 8, (b / pCompBX(c)) * 8)
        b += 1
      }
      c += 1
    }
    Some(JpegPlanes(comps, planes, planeW, w, h))
  }

  /** Fixture/test writer for baseline JPEG, DC-ONLY by construction:
    * every 8x8 block carries a single DC coefficient `8·(v − 128)` with
    * all-ones quantization tables, so a correct IDCT reproduces a flat
    * block of EXACTLY `v` — integer-exact round-trips through the real
    * Huffman/marker path, no DCT rounding ambiguity (the same
    * closed-form-fixture discipline as [[makePng]]/[[makeGif]]).
    *
    * Block (bx, by) of component c holds
    * `v(c,bx,by) = ((seed + bx*31 + by*7 + c*53) mod 200) + 28`.
    * Grayscale (`gray = true`) emits one component; color emits YCbCr
    * 4:4:4 (`subsample = false`) or 4:2:0 (`subsample = true` — Y is
    * 2×2 per MCU with per-Y-block values, chroma constant per MCU).
    * Huffman tables are minimal canonical sets (12 DC categories at
    * 4 bits; the AC table's single EOB symbol at 1 bit). Dims must be
    * multiples of 8 (of 16 when subsampled). `flatChroma` pins the Cb
    * and Cr blocks to exactly 128 (DC difference 0), so the YCbCr→RGB
    * conversion collapses to R = G = B = Y with NO rounding — the
    * color fixture whose gray fold stays pure integer closed form
    * (3 × the Y law), used by the color JPEG-in-TIFF oracle.
    */
  def makeJpeg(w: Int, h: Int, seed: Long, gray: Boolean = false,
               subsample: Boolean = false,
               flatChroma: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val nComp = jpegFixtureHeader(out, 0xc0, 8, w, h, gray, subsample, Seq(0x00))
    // entropy data: per MCU, per component, per block — DC diff + EOB
    val bits = new StringBuilder
    val pred = new Array[Int](nComp)
    jpegFixtureBlocks(w, h, nComp, subsample) { (c, bx, by) =>
      val dc = 8 * ((if (flatChroma && c > 0) 128 else jpegFixtureValue(seed, c, bx, by)) - 128)
      putDcDiff(bits, dc - pred(c), 4)
      pred(c) = dc
      putBits(bits, 0, 1) // AC Huffman: EOB is the single 1-bit code 0
    }
    jpegScan(out, 0 until nComp, 0, 63, 0, bits)
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  /** Fixture writer for 12-BIT extended-sequential JPEG (SOF1) with
    * DC-only content following [[makeJpeg]]'s closed form at 16× the
    * amplitude: block (bx, by) of component c holds the flat 12-bit
    * value `16 · v(c,bx,by)` (same `v` law as [[makeJpeg]]), so after
    * the decoder's documented `>> 4` canonicalization the pixel planes
    * are BIT-IDENTICAL to the 8-bit twin of the same seed — the
    * property MultimodalSpec pins. Exercises the whole 12-bit envelope:
    * 16-bit DQT entries (pq=1), DC categories up to 15 (16-symbol DC
    * table at 5 bits), level shift 2048.
    */
  def makeJpeg12(w: Int, h: Int, seed: Long, gray: Boolean = false,
                 subsample: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val nComp = jpegFixtureHeader(out, 0xc1, 12, w, h, gray, subsample, Seq(0x00))
    val bits = new StringBuilder
    val pred = new Array[Int](nComp)
    jpegFixtureBlocks(w, h, nComp, subsample) { (c, bx, by) =>
      val dc = 8 * (16 * jpegFixtureValue(seed, c, bx, by) - 2048) // 12-bit level shift
      putDcDiff(bits, dc - pred(c), 5)
      pred(c) = dc
      putBits(bits, 0, 1) // AC Huffman: EOB is the single 1-bit code 0
    }
    jpegScan(out, 0 until nComp, 0, 63, 0, bits)
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  /** Fixture writer for PROGRESSIVE JPEG (SOF2) with DC-only content
    * following [[makeJpeg]]'s exact closed form — same all-ones quant
    * tables, same per-block values — delivered through the progressive
    * machinery the decoder must implement: a DC-first scan at
    * successive approximation Al=1 (the sent values are dc/2, exact
    * because dc = 8·(v−128) is even), an interleaved DC-refinement scan
    * delivering bit 0, and one per-component AC-first scan encoded
    * PURELY as EOB-runs (every AC is zero) — including an EOB1 run so
    * the decoder's eobrun bookkeeping is on the path. The fully refined
    * image is bit-identical to the baseline twin, so the same
    * closed-form oracle replays it.
    */
  def makeJpegProgressive(w: Int, h: Int, seed: Long, gray: Boolean = false,
                          subsample: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    // AC table: EOB0 (0x00) and EOB1 (0x10), both at 2 bits
    val nComp = jpegFixtureHeader(out, 0xc2, 8, w, h, gray, subsample, Seq(0x00, 0x10))
    // scan 1: DC first, Al=1 — diffs of dc>>1 in interleaved MCU order
    locally {
      val bits = new StringBuilder
      val pred = new Array[Int](nComp)
      jpegFixtureBlocks(w, h, nComp, subsample) { (c, bx, by) =>
        val approx = (8 * (jpegFixtureValue(seed, c, bx, by) - 128)) >> 1
        putDcDiff(bits, approx - pred(c), 4)
        pred(c) = approx
      }
      jpegScan(out, 0 until nComp, 0, 0, 0x01, bits)
    }
    // scan 2: DC refinement, Ah=1 Al=0 — bit 0 of every dc (always 0)
    locally {
      val bits = new StringBuilder
      jpegFixtureBlocks(w, h, nComp, subsample) { (_, _, _) => bits.append('0') }
      jpegScan(out, 0 until nComp, 0, 0, 0x10, bits)
    }
    // per-component AC-first scans: every AC zero, so pure EOB-runs —
    // one EOB1(appended bit 1) covering 3 blocks when possible, then
    // per-block EOB0 (code 00); EOB1 is code 01
    (0 until nComp).foreach { c =>
      val (bw, bh2) =
        if (subsample && c == 0) (w / 8, h / 8)
        else if (subsample) (w / 16, h / 16)
        else (w / 8, h / 8)
      val nb = bw * bh2
      val bits = new StringBuilder
      var b = 0
      if (nb >= 3) { putBits(bits, 1, 2); bits.append('1'); b = 3 } // EOB1, run 3
      while (b < nb) { putBits(bits, 0, 2); b += 1 } // EOB0 per block
      jpegScan(out, Seq(c), 1, 63, 0x00, bits)
    }
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  /** The JPEG fixture law: block (bx, by) of component c is flat at
    * `((seed + bx·31 + by·7 + c·53) mod 200) + 28`.
    */
  private def jpegFixtureValue(seed: Long, c: Int, bx: Int, by: Int): Int =
    (((seed + bx * 31L + by * 7L + c * 53L) % 200) + 28).toInt

  /** SOI, then the tables and frame every DC-only JPEG fixture shares:
    * one all-ones DQT (16-bit entries at precision 12), the `sof` frame
    * (YCbCr 4:2:0 when `subsample`, else 1×1 sampling), a DC table whose
    * code for category k is k itself at 4 bits (5 bits and 16
    * categories at precision 12), and an AC table holding `acSymbols`,
    * all at `acSymbols.length` bits. Returns the component count.
    */
  private def jpegFixtureHeader(out: java.io.ByteArrayOutputStream, sof: Int, precision: Int,
                                w: Int, h: Int, gray: Boolean, subsample: Boolean,
                                acSymbols: Seq[Int]): Int = {
    val unit = if (subsample) 16 else 8
    require(w > 0 && h > 0 && w <= 256 && h <= 256 && w % unit == 0 && h % unit == 0,
      s"fixture dims $w x $h (must be multiples of $unit)")
    require(!(gray && subsample), "subsampling applies to the color form")
    val wide = precision == 12
    out.write(0xff); out.write(0xd8) // SOI
    // DQT: table 0, all ones (pq=1: sixteen-bit entries)
    out.write(0xff); out.write(0xdb)
    if (wide) { be16(out, 2 + 1 + 128); out.write(0x10) } else { be16(out, 2 + 65); out.write(0x00) }
    (0 until 64).foreach(_ => if (wide) be16(out, 1) else out.write(1))
    val nComp = if (gray) 1 else 3
    out.write(0xff); out.write(sof); be16(out, 8 + 3 * nComp)
    out.write(precision); be16(out, h); be16(out, w); out.write(nComp)
    (0 until nComp).foreach { c =>
      out.write(c + 1)
      out.write(if (subsample && c == 0) 0x22 else 0x11); out.write(0)
    }
    val (dcBits, nDc) = if (wide) (5, 16) else (4, 12)
    out.write(0xff); out.write(0xc4); be16(out, 2 + 17 + nDc); out.write(0x00)
    (1 to 16).foreach(l => out.write(if (l == dcBits) nDc else 0))
    (0 until nDc).foreach(out.write)
    out.write(0xff); out.write(0xc4); be16(out, 2 + 17 + acSymbols.length); out.write(0x10)
    (1 to 16).foreach(l => out.write(if (l == acSymbols.length) acSymbols.length else 0))
    acSymbols.foreach(out.write)
    nComp
  }

  /** `f(c, bx, by)` over a fixture's blocks in interleaved MCU order —
    * Y as 2×2 blocks per MCU when `subsample`, every other component
    * one block per MCU.
    */
  private def jpegFixtureBlocks(w: Int, h: Int, nComp: Int, subsample: Boolean)(
      f: (Int, Int, Int) => Unit): Unit = {
    val unit = if (subsample) 16 else 8
    for (my <- 0 until h / unit; mx <- 0 until w / unit; c <- 0 until nComp) {
      val n = if (subsample && c == 0) 2 else 1
      for (by <- 0 until n; bx <- 0 until n) f(c, mx * n + bx, my * n + by)
    }
  }

  private def putBits(bits: StringBuilder, v: Int, n: Int): Unit = {
    var i = n - 1
    while (i >= 0) { bits.append((v >> i) & 1); i -= 1 }
  }

  /** A DC difference: its category at `codeBits` (the fixture tables'
    * code for category k is k), then the category's extra bits.
    */
  private def putDcDiff(bits: StringBuilder, diff: Int, codeBits: Int): Unit = {
    var s = 0; var m = math.abs(diff)
    while (m > 0) { s += 1; m >>= 1 }
    putBits(bits, s, codeBits)
    if (s > 0) putBits(bits, if (diff >= 0) diff else diff + (1 << s) - 1, s)
  }

  /** An SOS over `comps` (table selectors 0), then `bits` padded with
    * 1s to a byte boundary and byte-stuffed.
    */
  private def jpegScan(out: java.io.ByteArrayOutputStream, comps: Seq[Int], ss: Int, se: Int,
                       ahal: Int, bits: StringBuilder): Unit = {
    out.write(0xff); out.write(0xda); be16(out, 6 + 2 * comps.length)
    out.write(comps.length)
    comps.foreach { c => out.write(c + 1); out.write(0x00) }
    out.write(ss); out.write(se); out.write(ahal)
    while (bits.length % 8 != 0) bits.append('1')
    var i = 0
    while (i < bits.length) {
      var b = 0
      var j = 0
      while (j < 8) { b = (b << 1) | (bits.charAt(i + j) - '0'); j += 1 }
      out.write(b)
      if (b == 0xff) out.write(0x00) // byte stuffing
      i += 8
    }
  }

  // ---- real decoder: TIFF (baseline subset, public spec) ---------------
  // TIFF 6.0's core is a pointer structure plus three table-free codecs:
  // an 8-byte header picks the byte order (II little-endian / MM
  // big-endian, magic 42) and points at a tag directory (IFD) of
  // 12-byte entries; the tags this subset needs are ImageWidth(256),
  // ImageLength(257), BitsPerSample(258)=8, Compression(259),
  // PhotometricInterpretation(262) in {0,1,2}, StripOffsets(273),
  // SamplesPerPixel(277) in {1,3}, RowsPerStrip(278),
  // StripByteCounts(279) and Predictor(317) in {1,2}. Pixel data is
  // row-major top-down in one or more strips. Compression 1 (none),
  // 5 (LZW — the GIF scheme's MSB-first variant with the standard
  // "early change" width bump, all derivable from the spec's own
  // pseudocode), 8/32946 (Deflate via the JDK inflater PNG already
  // uses) and 32773 (PackBits RLE) all decode; r17 — every one is an
  // ALGORITHM, not a normative constant table, so the zero-egress
  // envelope covers them. Compression 7 (new-style JPEG) decodes too
  // for GRAYSCALE strips — each strip is a complete JPEG through the
  // existing entropy decoder. Anything outside (CCITT, color
  // JPEG-in-TIFF, shared JPEGTables, planar config 2, 16-bit samples,
  // tiles) returns None → the stub, and the boundary is measured per
  // corpus by [[imageCoverage]].

  /** Decode a TIFF LZW strip into exactly `expected` bytes. TIFF's LZW
    * differs from GIF's ([[lzwDecode]]) in three pinned ways: 8-bit
    * symbols always (Clear=256, EOI=257, first table entry 258),
    * MSB-first bit packing, and the "early change" convention — the
    * code width bumps one entry EARLIER than the width arithmetic
    * requires (at table size 510/1022/2046, spec LZW section), the
    * historical off-by-one every real writer ships. Lenient tail: once
    * the strip is full the remaining bits (EOI + pad) are ignored, the
    * libtiff posture. None on any malformed stream — never a partial
    * guess.
    */
  private[graft] def tiffLzwDecode(data: Array[Byte], expected: Int): Option[Array[Byte]] = {
    if (expected <= 0) return None
    val clear = 256
    val eoi = 257
    val out = new Array[Byte](expected)
    var outLen = 0
    val suffix = new Array[Byte](4096)
    val prefix = new Array[Int](4096)
    var next = eoi + 1
    var width = 9
    var prev = -1
    var bitPos = 0L
    val nBits = data.length.toLong * 8
    val tail = new Array[Byte](4096)
    def expand(code: Int, extra: Int): Int = {
      var c = code
      var n = 0
      while (c >= clear) { tail(n) = suffix(c); n += 1; c = prefix(c) }
      tail(n) = c.toByte; n += 1
      if (outLen + n + extra > expected) return -1
      var i = n - 1
      while (i >= 0) { out(outLen) = tail(i); outLen += 1; i -= 1 }
      c
    }
    while (outLen < expected) {
      if (bitPos + width > nBits) return None
      // MSB-first: the code sits left-justified across up to 3 bytes
      var bo = (bitPos >>> 3).toInt
      var got = 8 - (bitPos & 7).toInt
      var v = data(bo) & ((1 << got) - 1)
      while (got < width) {
        bo += 1
        v = (v << 8) | (data(bo) & 0xff)
        got += 8
      }
      val code = v >>> (got - width)
      bitPos += width
      if (code == clear) {
        next = eoi + 1; width = 9; prev = -1
      } else if (code == eoi) {
        return None // EOI before the strip is full: short stream
      } else if (prev < 0) {
        if (code >= clear) return None // first code after clear: literal only
        out(outLen) = code.toByte; outLen += 1
        prev = code
      } else if (code < next && code != eoi && code != clear) {
        val first = expand(code, 0)
        if (first < 0) return None
        if (next < 4096) {
          suffix(next) = first.toByte; prefix(next) = prev; next += 1
          if (next == (1 << width) - 1 && width < 12) width += 1 // early change
        }
        prev = code
      } else if (code == next && next < 4096) {
        // K-omega-K: entry being defined by this very code
        suffix(next) = 0; prefix(next) = prev
        val first = expand(prev, 1)
        if (first < 0) return None
        suffix(next) = first.toByte
        out(outLen) = first.toByte; outLen += 1
        next += 1
        if (next == (1 << width) - 1 && width < 12) width += 1
        prev = code
      } else return None // code beyond table: corrupt stream
    }
    Some(out)
  }

  /** TIFF-flavored LZW encoder (fixture side): MSB-first, 8-bit
    * symbols, initial Clear, EOI terminator, early-change width growth
    * mirrored one entry ahead of [[tiffLzwDecode]] (the encoder's table
    * leads by exactly one), Clear + reset at the spec's 4094-entry
    * writer cap. Deterministic: same bytes in, same bits out.
    */
  private[graft] def tiffLzwEncode(data: Array[Byte]): Array[Byte] = {
    require(data.nonEmpty, "empty strip")
    val clear = 256
    val eoi = 257
    val outBuf = new java.io.ByteArrayOutputStream()
    var cur = 0L; var nbits = 0
    var width = 9
    def emit(code: Int): Unit = {
      cur = (cur << width) | code
      nbits += width
      while (nbits >= 8) {
        outBuf.write(((cur >>> (nbits - 8)) & 0xff).toInt)
        nbits -= 8
      }
      cur &= (1L << nbits) - 1
    }
    val dict = new java.util.HashMap[Integer, Integer](8192)
    var next = eoi + 1
    def reset(): Unit = { dict.clear(); next = eoi + 1; width = 9 }
    emit(clear)
    reset()
    var prefixCode = data(0) & 0xff
    var i = 1
    while (i < data.length) {
      val c = data(i) & 0xff
      val key = Integer.valueOf((prefixCode << 8) | c)
      val hit = dict.get(key)
      if (hit != null) prefixCode = hit.intValue()
      else {
        emit(prefixCode)
        if (next < 4094) { // spec writer cap: Clear at 4094 entries
          dict.put(key, Integer.valueOf(next)); next += 1
          // decoder grows at next == (1<<width)-1 AFTER its (one-behind)
          // add; the encoder therefore grows one entry later
          if (next == (1 << width) && width < 12) width += 1
        } else {
          emit(clear); reset()
        }
        prefixCode = c
      }
      i += 1
    }
    emit(prefixCode)
    emit(eoi)
    if (nbits > 0) outBuf.write(((cur << (8 - nbits)) & 0xff).toInt)
    outBuf.toByteArray
  }

  /** Decode a PackBits (compression 32773) strip into exactly
    * `expected` bytes: n in 0..127 copies n+1 literals, n in -127..-1
    * repeats the next byte 1-n times, -128 is a no-op. None on
    * truncation or overflow.
    */
  private[graft] def packBitsDecode(data: Array[Byte], expected: Int): Option[Array[Byte]] = {
    if (expected <= 0) return None
    val out = new Array[Byte](expected)
    var outLen = 0
    var i = 0
    while (outLen < expected) {
      if (i >= data.length) return None
      val n = data(i); i += 1
      if (n >= 0) {
        val cnt = n + 1
        if (i + cnt > data.length || outLen + cnt > expected) return None
        System.arraycopy(data, i, out, outLen, cnt)
        i += cnt; outLen += cnt
      } else if (n != -128) {
        val cnt = 1 - n
        if (i >= data.length || outLen + cnt > expected) return None
        java.util.Arrays.fill(out, outLen, outLen + cnt, data(i))
        i += 1; outLen += cnt
      } // -128: no-op filler
    }
    Some(out)
  }

  /** PackBits encoder (fixture side), packed per ROW as the spec
    * requires (runs never cross row boundaries): replicate runs of ≥2,
    * literal chunks broken where a run starts, both capped at 128.
    */
  private[graft] def packBitsEncode(data: Array[Byte], rowBytes: Int): Array[Byte] = {
    require(rowBytes > 0 && data.length % rowBytes == 0, "whole rows only")
    val out = new java.io.ByteArrayOutputStream()
    var rowStart = 0
    while (rowStart < data.length) {
      val rowEnd = rowStart + rowBytes
      var i = rowStart
      while (i < rowEnd) {
        var run = 1
        while (i + run < rowEnd && data(i + run) == data(i) && run < 128) run += 1
        if (run >= 2) {
          out.write(1 - run)
          out.write(data(i))
          i += run
        } else {
          val litStart = i
          var j = i + 1
          while (j < rowEnd && (j - litStart) < 128 &&
                 !(j + 1 < rowEnd && data(j + 1) == data(j))) j += 1
          out.write(j - litStart - 1)
          out.write(data, litStart, j - litStart)
          i = j
        }
      }
      rowStart = rowEnd
    }
    out.toByteArray
  }

  /** Inflate a Deflate (compression 8 / legacy 32946) strip into
    * exactly `expected` bytes — the same JDK inflater the PNG path
    * runs, with the same zero-progress-is-corrupt posture; a stream
    * that would produce MORE than `expected` is a lying strip and
    * rejects too.
    */
  private[graft] def zlibDecode(data: Array[Byte], expected: Int): Option[Array[Byte]] = {
    if (expected <= 0) return None
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(data)
      val out = new Array[Byte](expected)
      var got = 0
      while (got < expected && !inf.finished()) {
        val n = inf.inflate(out, got, expected - got)
        if (n == 0) return None
        got += n
      }
      if (got < expected) return None
      if (!inf.finished()) {
        // give the inflater one more turn: a healthy stream consumes
        // its Adler-32 trailer and finishes with zero output; one that
        // yields MORE output is a lying strip, one that cannot finish
        // is trailer-truncated — both reject
        if (inf.inflate(new Array[Byte](1)) > 0) return None
        if (!inf.finished()) return None
      }
      Some(out)
    } catch {
      case _: java.util.zip.DataFormatException => None
    } finally inf.end()
  }

  /** Deflate encoder (fixture side): one zlib stream per strip. */
  private[graft] def zlibEncode(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(data)
      d.finish()
      val buf = new Array[Byte](math.max(64, data.length / 2))
      val out = new java.io.ByteArrayOutputStream()
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** Decoded baseline TIFF: (w, h, samplesPerPixel, samples) with
    * samples row-major interleaved top-down, horizontal differencing
    * (Predictor 2) undone per row, and WhiteIsZero (photometric 0)
    * already inverted to intensity-up. Compressions 1/5/8/32946/32773
    * decode ([[tiffLzwDecode]]/[[zlibDecode]]/[[packBitsDecode]] —
    * r17); the same round widened the LAYOUT axes: 16-bit samples
    * (BitsPerSample 16 everywhere — predictor differencing undone on
    * 16-bit values in file byte order per spec, then canonicalized to
    * the 8-bit plane by the high byte, the PNG depth-16 convention),
    * tiled files (tags 322/323/324/325 — full-size edge tiles clipped
    * on copy, per spec) and PlanarConfiguration 2 (per-plane segment
    * runs, plane-major segment order, predictor lag 1 sample inside a
    * plane) — each crossing freely with every codec above. None
    * outside the subset.
    */
  /** Reads in a TIFF structure's byte order (`little` for "II", big-
    * endian for "MM"). Out of range they answer -1 rather than throw:
    * every IFD walk tests its offsets against that answer.
    */
  private final class TiffOrder(b: Array[Byte], little: Boolean) {
    def u16(off: Int): Int =
      if (off < 0 || off > b.length - 2) -1 else if (little) le16(b, off) else be16(b, off)
    def u32(off: Int): Long =
      if (off < 0 || off > b.length - 4) -1L else if (little) u32le(b, off) else u32be(b, off)
  }

  private def tiffDecode(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
    if (bytes.length < 8) return None
    val little =
      if (bytes(0) == 'I'.toByte && bytes(1) == 'I'.toByte) true
      else if (bytes(0) == 'M'.toByte && bytes(1) == 'M'.toByte) false
      else return None
    val order = new TiffOrder(bytes, little)
    import order.{u16, u32}
    if (u16(2) != 42) return None
    val ifdOff = u32(4)
    if (ifdOff < 8 || ifdOff + 2 > bytes.length) return None
    val nEntries = u16(ifdOff.toInt)
    if (nEntries <= 0 || ifdOff + 2 + 12L * nEntries + 4 > bytes.length) return None
    // one IFD entry's values as longs — SHORT(3)/LONG(4) only, inline
    // when count·size ≤ 4 (spec: the value field then holds the data
    // itself, left-justified in file byte order), via offset otherwise
    def values(entryOff: Int): Option[Array[Long]] = {
      val typ = u16(entryOff + 2)
      val count = u32(entryOff + 4)
      val size = typ match { case 3 => 2; case 4 => 4; case _ => return None }
      if (count <= 0 || count > (1 << 16)) return None
      val base =
        if (count * size <= 4) entryOff + 8
        else {
          val off = u32(entryOff + 8)
          if (off < 0 || off + count * size > bytes.length) return None
          off.toInt
        }
      Some(Array.tabulate(count.toInt) { i =>
        if (size == 2) u16(base + 2 * i).toLong else u32(base + 4 * i)
      })
    }
    val needed = Set(256, 257, 258, 259, 262, 273, 277, 278, 279, 284,
      317, 322, 323, 324, 325, 339)
    var tags = Map.empty[Int, Array[Long]]
    // JPEGTables (347, type UNDEFINED): the shared abbreviated-stream
    // tables every compression-7 strip splices in — captured as raw
    // bytes, validated at splice time
    var jpegTables: Array[Byte] = null
    var e = 0
    while (e < nEntries) {
      val entryOff = ifdOff.toInt + 2 + 12 * e
      val tag = u16(entryOff)
      if (tag == 347) {
        val typ = u16(entryOff + 2)
        val count = u32(entryOff + 4)
        if (typ != 7 || count < 4 || count > (1 << 16)) return None
        val base =
          if (count <= 4) entryOff + 8
          else {
            val o = u32(entryOff + 8)
            if (o < 8 || o + count > bytes.length) return None
            o.toInt
          }
        jpegTables = java.util.Arrays.copyOfRange(bytes, base, base + count.toInt)
      }
      // unknown tags are legal and skipped; a needed tag must parse
      if (needed.contains(tag)) {
        values(entryOff) match {
          case Some(v) => tags += tag -> v
          case None => return None
        }
      }
      e += 1
    }
    def first(tag: Int, default: Long): Long =
      tags.get(tag).flatMap(_.headOption).getOrElse(default)
    val w = first(256, -1L).toInt
    val h = first(257, -1L).toInt
    val spp = first(277, 1L).toInt
    val photometric = first(262, -1L).toInt
    val compression = first(259, 1L).toInt
    val predictor = first(317, 1L).toInt
    val planar = first(284, 1L).toInt
    // 1<<14 sanity bound: a lying directory must not drive a huge walk
    if (w <= 0 || h <= 0 || w > (1 << 14) || h > (1 << 14)) return None
    if (compression != 1 && compression != 5 && compression != 8 &&
        compression != 32946 && compression != 32773 &&
        compression != 7) return None
    if (predictor != 1 && predictor != 2) return None
    if (planar != 1 && planar != 2) return None
    // photometric 6 (YCbCr) is storage the decoder only understands
    // INSIDE a JPEG strip (compression 7) — raw-YCbCr files stay out
    if (!((spp == 1 && (photometric == 0 || photometric == 1)) ||
          (spp == 3 && photometric == 2) ||
          (spp == 3 && photometric == 6 && compression == 7))) return None
    val bits = tags.getOrElse(258, Array(8L))
    if (bits.length != spp) return None
    // 8-bit everywhere or 16-bit everywhere; mixed depths stay outside.
    // SampleFormat, when present, must say unsigned (the default).
    val bps =
      if (bits.forall(_ == 8L)) 1
      else if (bits.forall(_ == 16L)) 2
      else return None
    if (tags.getOrElse(339, Array(1L)).exists(_ != 1L)) return None
    // JPEG-in-TIFF (new-style, compression 7): each strip is a
    // grayscale OR YCbCr-color baseline/progressive JPEG through the
    // existing entropy decoder — COMPLETE, or abbreviated with the
    // shared JPEGTables spliced in (r17 session 2). Predictor/planar/
    // tiled/16-bit variants stay outside — sniffed into the measured
    // boundary, never guessed.
    if (compression == 7 &&
        (!(photometric == 1 || photometric == 6) || predictor != 1 ||
         planar != 1 || bps != 1))
      return None
    val tiled = tags.contains(324)
    if (tiled && tags.contains(273)) return None // both layouts: corrupt
    if (tiled && compression == 7) return None // JPEG tiles: outside
    // a lying directory must not demand a huge decode buffer (the PNG
    // guard's posture)
    if (w.toLong * h * spp * bps > (64L << 20)) return None
    val nPlanes = if (planar == 2) spp else 1
    val sppU = spp / nPlanes // samples per pixel within one segment
    // high byte of a sample in FILE byte order (16-bit: II stores it
    // second, MM first; 8-bit: the byte itself)
    val highOff = if (bps == 2 && little) 1 else 0
    val out = new Array[Byte](w * h * spp)
    // undo horizontal differencing per row, on bps-sized sample VALUES
    // (16-bit differencing is defined on the values, not bytes) with a
    // lag of one pixel = sppU samples inside this segment's plane set
    def undoPredictor(buf: Array[Byte], rows: Int, unitW: Int): Unit = {
      val rowSamples = unitW * sppU
      var r0 = 0
      while (r0 < rows) {
        val base = r0 * rowSamples * bps
        var i = sppU
        while (i < rowSamples) {
          if (bps == 1)
            buf(base + i) = (buf(base + i) + buf(base + i - sppU)).toByte
          else {
            val o = base + i * 2; val p = o - sppU * 2
            val prev = if (little) le16(buf, p) else be16(buf, p)
            val cur = if (little) le16(buf, o) else be16(buf, o)
            val v = cur + prev
            if (little) putLe16(buf, o, v) else putBe16(buf, o, v)
          }
          i += 1
        }
        r0 += 1
      }
    }
    // decode one segment's byte stream to exactly `need` bytes
    def decodeSeg(off: Long, cnt: Long, need: Int,
                  jpegRows: Int): Option[Array[Byte]] =
      if (compression == 1) {
        if (cnt != need) return None // uncompressed: exact size
        if (off < 8 || off + need > bytes.length) return None
        Some(java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + need))
      } else {
        if (off < 8 || cnt <= 0 || off + cnt > bytes.length) return None
        val comp = java.util.Arrays.copyOfRange(bytes, off.toInt, (off + cnt).toInt)
        compression match {
          case 5 => tiffLzwDecode(comp, need)
          case 32773 => packBitsDecode(comp, need)
          case 7 =>
            // abbreviated strips splice the shared tables between the
            // strip's SOI and its first own marker (the T.81
            // abbreviated-stream format): tables must be a well-formed
            // SOI…EOI shell, the strip must open with its own SOI
            val stream: Option[Array[Byte]] =
              if (jpegTables == null) Some(comp)
              else if (jpegTables.length >= 4 &&
                       (jpegTables(0) & 0xff) == 0xff &&
                       (jpegTables(1) & 0xff) == 0xd8 &&
                       (jpegTables(jpegTables.length - 2) & 0xff) == 0xff &&
                       (jpegTables(jpegTables.length - 1) & 0xff) == 0xd9 &&
                       comp.length >= 2 &&
                       (comp(0) & 0xff) == 0xff && (comp(1) & 0xff) == 0xd8)
                Some(Array[Byte](0xff.toByte, 0xd8.toByte) ++
                  java.util.Arrays.copyOfRange(jpegTables, 2, jpegTables.length - 2) ++
                  java.util.Arrays.copyOfRange(comp, 2, comp.length))
              else None
            stream.flatMap { sb =>
              // the strip JPEG must declare exactly this strip's canvas
              if (spp == 1) jpegGrayGrid(sb) match {
                case Some((jw, jh, g)) if jw == w && jh == jpegRows =>
                  val b = new Array[Byte](need)
                  var i = 0
                  while (i < need) { b(i) = g(i).toByte; i += 1 }
                  Some(b)
                case _ => None
              } else jpegRgbGrid(sb) match {
                case Some((jw, jh, rgb))
                  if jw == w && jh == jpegRows && rgb.length == need =>
                  Some(rgb)
                case _ => None
              }
            }
          case _ => zlibDecode(comp, need) // 8 / legacy 32946
        }
      }
    // copy a decoded segment (stored width unitW, copyRows × copyCols
    // live pixels — tiles are padded to full size, strips are not) into
    // the interleaved 8-bit canvas, reducing 16-bit samples to their
    // high byte
    def copySeg(seg: Array[Byte], unitW: Int, copyRows: Int, copyCols: Int,
                row0: Int, col0: Int, chanBase: Int): Unit = {
      var r = 0
      while (r < copyRows) {
        var x = 0
        while (x < copyCols) {
          var c = 0
          while (c < sppU) {
            out(((row0 + r) * w + (col0 + x)) * spp + chanBase + c) =
              seg(((r * unitW + x) * sppU + c) * bps + highOff)
            c += 1
          }
          x += 1
        }
        r += 1
      }
    }
    if (tiled) {
      val tw = first(322, -1L).toInt
      val th = first(323, -1L).toInt
      // spec: tile dims are positive multiples of 16
      if (tw <= 0 || th <= 0 || tw % 16 != 0 || th % 16 != 0) return None
      val across = (w + tw - 1) / tw
      val down = (h + th - 1) / th
      val perPlane = across * down
      val offs = tags.getOrElse(324, return None)
      val counts = tags.getOrElse(325, return None)
      if (offs.length != nPlanes * perPlane ||
          counts.length != nPlanes * perPlane) return None
      val need = tw * th * sppU * bps // tiles are always full-size
      var p = 0
      while (p < nPlanes) {
        var ty = 0
        while (ty < down) {
          var tx = 0
          while (tx < across) {
            val i = p * perPlane + ty * across + tx
            val seg = decodeSeg(offs(i), counts(i), need, 0) match {
              case Some(d) => d; case None => return None
            }
            if (predictor == 2) undoPredictor(seg, th, tw)
            copySeg(seg, tw, math.min(th, h - ty * th),
              math.min(tw, w - tx * tw), ty * th, tx * tw,
              if (planar == 2) p else 0)
            tx += 1
          }
          ty += 1
        }
        p += 1
      }
    } else {
      val rps0 = first(278, 0xffffffffL) // spec default: all rows, one strip
      val rps = if (rps0 <= 0 || rps0 > h) h.toLong else rps0
      val offs = tags.getOrElse(273, return None)
      val counts = tags.getOrElse(279, return None)
      val perPlane = ((h + rps - 1) / rps).toInt
      if (offs.length != nPlanes * perPlane ||
          counts.length != nPlanes * perPlane) return None
      var p = 0
      while (p < nPlanes) {
        var s = 0
        var row = 0
        while (s < perPlane) {
          val rowsHere = math.min(rps, (h - row).toLong).toInt
          val need = rowsHere * w * sppU * bps
          val i = p * perPlane + s
          val seg = decodeSeg(offs(i), counts(i), need, rowsHere) match {
            case Some(d) => d; case None => return None
          }
          if (predictor == 2) undoPredictor(seg, rowsHere, w)
          copySeg(seg, w, rowsHere, w, row, 0, if (planar == 2) p else 0)
          row += rowsHere
          s += 1
        }
        p += 1
      }
    }
    if (photometric == 0) { // WhiteIsZero: invert to intensity-up
      var i = 0
      while (i < out.length) { out(i) = (255 - (out(i) & 0xff)).toByte; i += 1 }
    }
    Some((w, h, spp, out))
  }

  /** Parse + decode a baseline TIFF (none/LZW/Deflate/PackBits strips)
    * and fold features ([[tiffDecode]] for the decode half; the fold
    * mirrors [[parseBmp]]'s layout, gray images folding like PNG's
    * gray branch).
    */
  def parseTiff(id: Long, bytes: Array[Byte]): Option[MediaFeatures] =
    tiffDecode(bytes).map { case (w, h, spp, samples) =>
      val n = w.toLong * h
      if (spp == 3) {
        var sumR = 0L; var sumG = 0L; var sumB = 0L; var high = 0L
        var p = 0
        while (p < samples.length) {
          val r = samples(p) & 0xff; val g = samples(p + 1) & 0xff
          val b = samples(p + 2) & 0xff
          sumR += r; sumG += g; sumB += b
          high += (if (r > 127) 1 else 0) + (if (g > 127) 1 else 0) +
            (if (b > 127) 1 else 0)
          p += 3
        }
        val feats = Array(
          (sumB.toDouble / (n * 255)).toFloat,
          (sumG.toDouble / (n * 255)).toFloat,
          (sumR.toDouble / (n * 255)).toFloat,
          ((sumB + sumG + sumR).toDouble / (3 * n * 255)).toFloat,
          (high.toDouble / (3 * n)).toFloat,
          w.toFloat / (w + h), h.toFloat / (w + h), 0f)
        MediaFeatures(id, bytes.length, "tiff", w, h, feats)
      } else {
        var sum = 0L; var high = 0L
        var p = 0
        while (p < samples.length) {
          val v = samples(p) & 0xff
          sum += v; if (v > 127) high += 1
          p += 1
        }
        val m = (sum.toDouble / (n * 255)).toFloat
        val feats = Array(m, m, m, m, (high.toDouble / n).toFloat,
          w.toFloat / (w + h), h.toFloat / (w + h), 0f)
        MediaFeatures(id, bytes.length, "tiff", w, h, feats)
      }
    }

  /** Header-only TIFF page count (r17 s2): walk the IFD chain via the
    * next-IFD pointers — entry COUNTS and pointers only, no tag
    * parsing, no pixel reads. Scanned-document TIFFs are routinely
    * multi-page; the count is the pruning fact. None on a malformed
    * chain (out-of-bounds directory or pointer); 4096-page backstop.
    */
  private[graft] def tiffPageCount(bytes: Array[Byte]): Option[Int] = {
    if (bytes.length < 8) return None
    val little =
      if (bytes(0) == 'I'.toByte && bytes(1) == 'I'.toByte) true
      else if (bytes(0) == 'M'.toByte && bytes(1) == 'M'.toByte) false
      else return None
    val order = new TiffOrder(bytes, little)
    import order.{u16, u32}
    if (u16(2) != 42) return None
    var off = u32(4)
    var pages = 0
    while (off != 0L) {
      if (off < 8 || off + 2 > bytes.length) return None
      val n = u16(off.toInt)
      if (n <= 0 || off + 2 + 12L * n + 4 > bytes.length) return None
      pages += 1
      if (pages > 4096) return None
      off = u32((off + 2 + 12L * n).toInt)
    }
    if (pages == 0) None else Some(pages)
  }

  /** Fixture/test writer for MULTI-PAGE TIFF (r17 s2): `pages` chained
    * IFDs, each an 8-bit grayscale single-strip page whose pixels
    * follow `(seed + p·23 + row·31 + x·7) mod 256` — page p is
    * [[makeTiff]]'s gray law at seed + p·23, so the first-page decode
    * is oracle-replayable and the chain is pure layout.
    */
  def makeTiffMultipage(w: Int, h: Int, seed: Long, pages: Int): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 512 && h <= 512 && pages >= 1 && pages <= 64,
      s"fixture shape $w x $h x $pages")
    val dataLen = w * h
    val perPage = dataLen + 2 + 9 * 12 + 4 // strip + IFD
    val out = new Array[Byte](8 + pages * perPage)
    putTag(out, 0, "II")
    putLe16(out, 2, 42)
    putLe32(out, 4, 8 + dataLen) // first IFD, after page 0's strip
    var p = 0
    while (p < pages) {
      val base = 8 + p * perPage
      var r = 0
      while (r < h) {
        var x = 0
        while (x < w) {
          out(base + r * w + x) = ((seed + p * 23L + r * 31L + x * 7L) % 256).toByte
          x += 1
        }
        r += 1
      }
      val ifd = base + dataLen
      putLe16(out, ifd, 9)
      var e = 0
      def entry(tag: Int, typ: Int, count: Int, value: Int): Unit = {
        val off = ifd + 2 + e * 12
        putLe16(out, off, tag); putLe16(out, off + 2, typ); putLe32(out, off + 4, count)
        if (typ == 3) putLe16(out, off + 8, value) else putLe32(out, off + 8, value)
        e += 1
      }
      entry(256, 3, 1, w)
      entry(257, 3, 1, h)
      entry(258, 3, 1, 8)
      entry(259, 3, 1, 1)
      entry(262, 3, 1, 1) // BlackIsZero
      entry(273, 4, 1, base)
      entry(277, 3, 1, 1)
      entry(278, 3, 1, h)
      entry(279, 4, 1, dataLen)
      // next-IFD pointer: the following page's IFD, 0 on the last
      putLe32(out, ifd + 2 + 9 * 12,
        if (p + 1 < pages) 8 + (p + 1) * perPage + dataLen else 0)
      p += 1
    }
    out
  }

  /** Fixture/test writer for the TIFF subset: pixels follow the closed
    * form `(seed + row·31 + k·7) mod 256` with row the DISPLAY
    * (top-down) row and k the sample index in the row (3x+c for RGB, x
    * for grayscale) — oracle-replayable like [[makeBmp]] but without
    * the bottom-up flip. `bigEndian` exercises the MM byte order;
    * `rowsPerStrip` 0 means one strip for the whole image;
    * `compression` in {1, 5, 8, 32773} picks none/LZW/Deflate/PackBits
    * (r17), `predictor` 2 applies horizontal differencing before the
    * codec. r17 layout axes: `bits` 16 stores each sample as a 16-bit
    * value whose HIGH byte is the closed form and whose low byte is
    * separate deterministic noise the decoder must discard; `planar`
    * stores per-plane segment runs (PlanarConfiguration 2);
    * `tileSize` > 0 (a multiple of 16) emits a tiled file with
    * zero-padded edge tiles. The decoded pixels are the SAME closed
    * form regardless — storage knobs never reach the oracle.
    */
  def makeTiff(w: Int, h: Int, seed: Long, rgb: Boolean = true,
               bigEndian: Boolean = false, rowsPerStrip: Int = 0,
               compression: Int = 1, predictor: Int = 1,
               bits: Int = 8, planar: Boolean = false,
               tileSize: Int = 0): Array[Byte] = {
    require(compression == 1 || compression == 5 || compression == 8 ||
      compression == 32773, s"compression=$compression")
    require(predictor == 1 || predictor == 2, s"predictor=$predictor")
    require(bits == 8 || bits == 16, s"bits=$bits")
    require(tileSize >= 0 && tileSize % 16 == 0, s"tileSize=$tileSize")
    val spp = if (rgb) 3 else 1
    val bps = bits / 8
    val nPlanes = if (planar) spp else 1
    val sppU = spp / nPlanes
    val mask = (1 << bits) - 1
    // chunky-order sample values; (r, k) with k = x*spp + c
    def sample(r: Int, k: Int): Int = {
      val hi = ((seed + r * 31L + k * 7L) % 256).toInt
      if (bits == 8) hi
      else (hi << 8) | ((seed * 3 + r * 17L + k * 5L) % 256).toInt
    }
    // one segment: `rows` rows of unitW*sppU values → predictor →
    // file-byte-order serialization → codec
    def serialize(seg: Array[Array[Int]], unitW: Int): Array[Byte] = {
      val rows = seg.length
      val rowSamples = unitW * sppU
      if (predictor == 2) {
        var r = 0
        while (r < rows) {
          var i = rowSamples - 1
          while (i >= sppU) {
            seg(r)(i) = (seg(r)(i) - seg(r)(i - sppU)) & mask
            i -= 1
          }
          r += 1
        }
      }
      val raw = new Array[Byte](rows * rowSamples * bps)
      var r = 0
      while (r < rows) {
        var i = 0
        while (i < rowSamples) {
          val v = seg(r)(i)
          val o = (r * rowSamples + i) * bps
          if (bps == 1) raw(o) = v.toByte
          else if (bigEndian) putBe16(raw, o, v)
          else putLe16(raw, o, v)
          i += 1
        }
        r += 1
      }
      compression match {
        case 1 => raw
        case 5 => tiffLzwEncode(raw)
        case 8 => zlibEncode(raw)
        case _ => packBitsEncode(raw, rowSamples * bps)
      }
    }
    val tiled = tileSize > 0
    val rps = if (rowsPerStrip <= 0) h else math.min(rowsPerStrip, h)
    val segments: Array[Array[Byte]] =
      if (tiled) {
        val tw = tileSize
        val across = (w + tw - 1) / tw
        val down = (h + tw - 1) / tw
        (for (p <- 0 until nPlanes; ty <- 0 until down; tx <- 0 until across)
          yield {
            val seg = Array.tabulate(tw, tw * sppU) { (r, i) =>
              val rr = ty * tw + r
              val x = tx * tw + i / sppU
              val c = if (planar) p else i % sppU
              if (rr < h && x < w) sample(rr, x * spp + c) else 0 // pad
            }
            serialize(seg, tw)
          }).toArray
      } else {
        val perPlane = (h + rps - 1) / rps
        (for (p <- 0 until nPlanes; s <- 0 until perPlane) yield {
          val rows = math.min(rps, h - s * rps)
          val seg = Array.tabulate(rows, w * sppU) { (r, i) =>
            val c = if (planar) p else i % sppU
            sample(s * rps + r, (i / sppU) * spp + c)
          }
          serialize(seg, w)
        }).toArray
      }
    val segOffs = segments.scanLeft(8)(_ + _.length).init
    // IFD entries in ascending-tag order (spec): (tag, type, values)
    val ents = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Array[Int])]
    ents += ((256, 3, Array(w)))
    ents += ((257, 3, Array(h)))
    ents += ((258, 3, Array.fill(spp)(bits)))
    ents += ((259, 3, Array(compression)))
    ents += ((262, 3, Array(if (rgb) 2 else 1)))
    if (!tiled) ents += ((273, 4, segOffs))
    ents += ((277, 3, Array(spp)))
    if (!tiled) ents += ((278, 3, Array(rps)))
    if (!tiled) ents += ((279, 4, segments.map(_.length)))
    if (planar) ents += ((284, 3, Array(2)))
    if (predictor == 2) ents += ((317, 3, Array(2)))
    if (tiled) {
      ents += ((322, 3, Array(tileSize)))
      ents += ((323, 3, Array(tileSize)))
      ents += ((324, 4, segOffs))
      ents += ((325, 4, segments.map(_.length)))
    }
    tiffFile(segments.toSeq, ents.toSeq, bigEndian)
  }

  /** One single-IFD TIFF file (fixture side): the 8-byte header, the
    * segments back to back from offset 8, then IFD0 holding `ents` —
    * (tag, type, values) in ascending-tag order, type 3 SHORT, 4 LONG
    * or 7 UNDEFINED (one byte per value) — with every value array that
    * does not fit the entry's 4-byte field stored after the IFD. The
    * next-IFD pointer stays 0.
    */
  private def tiffFile(segments: Seq[Array[Byte]], ents: Seq[(Int, Int, Array[Int])],
                       bigEndian: Boolean): Array[Byte] = {
    def valueSize(typ: Int): Int = typ match { case 3 => 2; case 7 => 1; case _ => 4 }
    val ifdOff = 8 + segments.map(_.length).sum
    val extraOff = ifdOff + 2 + ents.length * 12 + 4
    val extraLen = ents.map { case (_, typ, vals) =>
      val n = vals.length * valueSize(typ)
      if (n > 4) n else 0
    }.sum
    val out = new Array[Byte](extraOff + extraLen)
    def putShort(off: Int, v: Int): Unit =
      if (bigEndian) putBe16(out, off, v) else putLe16(out, off, v)
    def putLong(off: Int, v: Int): Unit =
      if (bigEndian) putBe32(out, off, v) else putLe32(out, off, v)
    putTag(out, 0, if (bigEndian) "MM" else "II")
    putShort(2, 42)
    putLong(4, ifdOff)
    var dataOff = 8
    segments.foreach { seg =>
      System.arraycopy(seg, 0, out, dataOff, seg.length)
      dataOff += seg.length
    }
    putShort(ifdOff, ents.length)
    var extra = extraOff
    var e = 0
    while (e < ents.length) {
      val (tag, typ, vals) = ents(e)
      val off = ifdOff + 2 + e * 12
      putShort(off, tag); putShort(off + 2, typ); putLong(off + 4, vals.length)
      val vsz = valueSize(typ)
      val base =
        if (vals.length * vsz <= 4) off + 8
        else { putLong(off + 8, extra); val b = extra; extra += vals.length * vsz; b }
      var i = 0
      while (i < vals.length) {
        typ match {
          case 3 => putShort(base + 2 * i, vals(i))
          case 7 => out(base + i) = vals(i).toByte // raw bytes, order-free
          case _ => putLong(base + 4 * i, vals(i))
        }
        i += 1
      }
      e += 1
    }
    out
  }

  /** Split a complete JPEG stream into its JPEGTables shell and the
    * abbreviated remainder (fixture side): DQT and DHT segments move
    * into an SOI…EOI tables stream, everything else (SOF, SOS, entropy
    * data, EOI) stays in the abbreviated stream — the TIFF/EP shared-
    * tables layout the decoder splices back together.
    */
  private[graft] def abbreviateJpeg(jpeg: Array[Byte]): (Array[Byte], Array[Byte]) = {
    require(jpeg.length > 4 && (jpeg(0) & 0xff) == 0xff && (jpeg(1) & 0xff) == 0xd8,
      "not a JPEG stream")
    val tables = new java.io.ByteArrayOutputStream()
    val rest = new java.io.ByteArrayOutputStream()
    tables.write(0xff); tables.write(0xd8)
    rest.write(0xff); rest.write(0xd8)
    var off = 2
    var done = false
    while (!done) {
      require((jpeg(off) & 0xff) == 0xff, "bad marker alignment")
      val m = jpeg(off + 1) & 0xff
      if (m == 0xda) { // SOS: the remainder is entropy data + EOI
        rest.write(jpeg, off, jpeg.length - off)
        done = true
      } else {
        val len = be16(jpeg, off + 2)
        val sink = if (m == 0xdb || m == 0xc4) tables else rest
        sink.write(jpeg, off, 2 + len)
        off += 2 + len
      }
    }
    tables.write(0xff); tables.write(0xd9)
    (tables.toByteArray, rest.toByteArray)
  }

  /** Fixture/test writer for JPEG-in-TIFF (new-style, compression 7):
    * `h / rps` strips, strip s a [[makeJpeg]] fixture of `w × rps`
    * with seed `seed + s·23` — so the stitched image's gray grid
    * replays the DC-block closed form per strip and the oracle needs
    * no JPEG machinery beyond the law. `color` emits YCbCr
    * (photometric 6) strips with FLAT chroma (Cb = Cr = 128 exactly),
    * so the decoded RGB is (Y, Y, Y) and the gray fold is 3× the same
    * law — color storage absent from the oracle. `sharedTables` moves
    * the DQT/DHT segments of every strip into ONE JPEGTables tag
    * (type UNDEFINED) and stores the strips abbreviated, the TIFF/EP
    * layout. Dimensions and rps must be JPEG-legal (multiples of 8,
    * rps | h).
    */
  def makeTiffJpeg(w: Int, h: Int, rps: Int, seed: Long,
                   bigEndian: Boolean = false, color: Boolean = false,
                   sharedTables: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0 && w % 8 == 0 && h % 8 == 0 &&
      rps > 0 && rps % 8 == 0 && h % rps == 0 && w <= 256 && rps <= 256,
      s"fixture shape $w x $h rps=$rps")
    val nStrips = h / rps
    val complete = Array.tabulate(nStrips)(s =>
      makeJpeg(w, rps, seed + s * 23L, gray = !color, flatChroma = color))
    val (jpegTables, strips) =
      if (!sharedTables) (Array.empty[Byte], complete)
      else {
        val split = complete.map(abbreviateJpeg)
        (split(0)._1, split.map(_._2))
      }
    val spp = if (color) 3 else 1
    val segOffs = strips.scanLeft(8)(_ + _.length).init
    // IFD entries in ascending-tag order: (tag, type, values) — type 7
    // (UNDEFINED) carries the raw JPEGTables bytes
    val ents = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Array[Int])]
    ents += ((256, 3, Array(w)))
    ents += ((257, 3, Array(h)))
    ents += ((258, 3, Array.fill(spp)(8)))
    ents += ((259, 3, Array(7))) // new-style JPEG
    ents += ((262, 3, Array(if (color) 6 else 1))) // YCbCr / BlackIsZero
    ents += ((273, 4, segOffs))
    ents += ((277, 3, Array(spp)))
    ents += ((278, 3, Array(rps)))
    ents += ((279, 4, strips.map(_.length)))
    if (sharedTables) ents += ((347, 7, jpegTables.map(_.toInt & 0xff)))
    tiffFile(strips.toSeq, ents.toSeq, bigEndian)
  }

  /** Decode dispatch: real parse for the formats a pure-JVM reader can
    * own (BMP incl. 8/32-bpp, palette, RLE8 and top-down; WAV PCM +
    * float + G.711 + ADPCM incl. WAVE_FORMAT_EXTENSIBLE; PNG incl.
    * alpha/16-bit; GIF; baseline + progressive JPEG; FLAC; baseline
    * TIFF incl. LZW/Deflate/PackBits codecs, 16-bit/tiled/planar
    * layouts and gray/color JPEG strips with optional shared
    * JPEGTables; ICO; netpbm; QOI), [[decodeStub]] for everything
    * else — the envelope COVERAGE.md documents and
    * [[imageCoverage]]/[[audioCoverage]] measure.
    */
  def decode(id: Long, bytes: Array[Byte]): MediaFeatures =
    parseBmp(id, bytes)
      .orElse(parseWav(id, bytes))
      .orElse(parsePng(id, bytes))
      .orElse(parseGif(id, bytes))
      .orElse(parseJpeg(id, bytes))
      .orElse(parseFlac(id, bytes))
      .orElse(parseTiff(id, bytes))
      .orElse(parseIco(id, bytes))
      .orElse(parsePnm(id, bytes))
      .orElse(parseQoi(id, bytes))
      .getOrElse(decodeStub(id, bytes))

  /** Nearest-neighbor resize of an uncompressed 24-bpp BMP — the
    * "resize" verb of the multimodal pipeline, de-stubbed the same way
    * as [[parseBmp]] (pure-JVM header parse + pixel copy, public BMP
    * spec only). Sampling is image-space floor mapping — dst pixel
    * (x2, y2) reads src pixel (⌊x2·w/outW⌋, ⌊y2·h/outH⌋) — the standard
    * nearest-neighbor rule, which both downsamples and upsamples.
    * Output is a canonical bottom-up bitmap (54-byte header, 4-byte-
    * aligned zero-padded rows), so the result chains straight back into
    * [[parseBmp]]/[[extractFeatures]] — resize → decode → features is
    * the real pipeline shape. Returns None on anything [[parseBmp]]
    * would reject (the caller keeps the original payload rather than
    * guessing); top-down (negative-height) sources are handled.
    */
  def resizeBmpNearest(bytes: Array[Byte], outW: Int, outH: Int): Option[Array[Byte]] = {
    require(outW > 0 && outH > 0 && outW <= (1 << 14) && outH <= (1 << 14),
      s"resize target $outW x $outH")
    if (bytes.length < 54 || bytes(0) != 'B'.toByte || bytes(1) != 'M'.toByte)
      return None
    val pixelOff = le32(bytes, 10)
    val dibSize = le32(bytes, 14)
    val w = le32(bytes, 18)
    val hRaw = le32(bytes, 22)
    val planes = le16(bytes, 26)
    val bpp = le16(bytes, 28)
    val compression = le32(bytes, 30)
    val h = math.abs(hRaw)
    val topDown = hRaw < 0
    if (dibSize < 40 || planes != 1 || bpp != 24 || compression != 0 ||
        w <= 0 || h == 0 || w > (1 << 14) || h > (1 << 14))
      return None
    val stride = ((3 * w + 3) / 4) * 4
    if (pixelOff < 54 || pixelOff.toLong + stride.toLong * h > bytes.length)
      return None
    val outStride = ((3 * outW + 3) / 4) * 4
    val out = new Array[Byte](54 + outStride * outH)
    writeBmpHeader(out, outW, outH, outStride)
    var y2 = 0
    while (y2 < outH) {
      val sy = (y2.toLong * h / outH).toInt // image-space rows: 0 = top
      val srcDisk = if (topDown) sy else h - 1 - sy
      val dstDisk = outH - 1 - y2 // output is canonical bottom-up
      val sBase = pixelOff + srcDisk * stride
      val dBase = 54 + dstDisk * outStride
      var x2 = 0
      while (x2 < outW) {
        val sx = (x2.toLong * w / outW).toInt
        out(dBase + 3 * x2) = bytes(sBase + 3 * sx)
        out(dBase + 3 * x2 + 1) = bytes(sBase + 3 * sx + 1)
        out(dBase + 3 * x2 + 2) = bytes(sBase + 3 * sx + 2)
        x2 += 1
      }
      y2 += 1
    }
    Some(out)
  }

  /** Resize over the binary column ([[resizeBmpNearest]] per row, same
    * `mapPartitions` shape as [[extractFeatures]]): BMP payloads come
    * back resized; anything the parser rejects passes through UNCHANGED
    * — in a mixed-format lake the resize stage must not destroy
    * payloads it cannot read.
    */
  def resizePayloads(spark: SparkSession, df: DataFrame, outW: Int, outH: Int,
                     idCol: String = "doc_id",
                     payloadCol: String = "payload"): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          (id, resizeBmpNearest(bytes, outW, outH).getOrElse(bytes))
        }
      }
      .toDF(idCol, payloadCol)
  }

  private def writeBmpHeader(out: Array[Byte], w: Int, h: Int, stride: Int): Unit = {
    putTag(out, 0, "BM")
    putLe32(out, 2, 54 + stride * h); putLe32(out, 10, 54)
    putLe32(out, 14, 40); putLe32(out, 18, w); putLe32(out, 22, h)
    out(26) = 1; out(28) = 24
    putLe32(out, 34, stride * h)
  }

  /** Fixture/test writer for the one de-stubbed format: a 24-bpp
    * bottom-up BI_RGB bitmap whose pixel bytes follow the deterministic
    * formula `(seed + row*31 + k*7) mod 256` (row = on-disk row index,
    * k = byte index within the row's pixel data) — so an oracle can
    * predict file size, dimensions, and any pixel statistic in closed
    * form. Layout per the public BMP spec: 14-byte file header,
    * 40-byte info header, 4-byte-aligned rows.
    */
  def makeBmp(w: Int, h: Int, seed: Long): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 1024 && h <= 1024, s"fixture dims $w x $h")
    val stride = ((3 * w + 3) / 4) * 4
    val out = new Array[Byte](54 + stride * h)
    writeBmpHeader(out, w, h, stride)
    var row = 0
    while (row < h) {
      var k = 0
      while (k < 3 * w) { // padding bytes stay zero
        out(54 + row * stride + k) = ((seed + row * 31L + k * 7L) % 256).toByte
        k += 1
      }
      row += 1
    }
    out
  }

  /** Fixture/test writer for the r17 s2 BMP envelope axes: `bpp` 8
    * (palettized — quads follow [[makeIco]]'s palette law
    * (seed + j·11 + c·97) mod 256 under the index law
    * (seed + srow·31 + x·7) mod 256), 24, or 32 (channel law as 24
    * plus an alpha byte of separate noise); `rle` RLE8-compresses the
    * 8-bpp rows through a REAL encoder (runs, literal absolute chunks
    * padded to even, EOL/EOB escapes); `topDown` stores display order
    * under a negative height. Decoded display pixels follow the same
    * closed forms regardless — the storage knobs never reach an
    * oracle.
    */
  def makeBmpX(w: Int, h: Int, seed: Long, bpp: Int = 24,
               rle: Boolean = false, topDown: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 1024 && h <= 1024, s"fixture dims $w x $h")
    require(bpp == 8 || bpp == 24 || bpp == 32, s"bpp=$bpp")
    require(!rle || (bpp == 8 && !topDown), "RLE8 is 8-bpp bottom-up only")
    val nColors = if (bpp == 8) 256 else 0
    val bytesPp = bpp / 8
    val stride = ((bytesPp * w + 3) / 4) * 4
    def idx(srow: Int, x: Int): Int = ((seed + srow * 31L + x * 7L) % 256).toInt
    val pixelData: Array[Byte] =
      if (!rle) {
        val d = new Array[Byte](stride * h)
        var row = 0
        while (row < h) {
          var x = 0
          while (x < w) {
            bpp match {
              case 8 => d(row * stride + x) = idx(row, x).toByte
              case 24 =>
                var c = 0
                while (c < 3) {
                  d(row * stride + 3 * x + c) =
                    ((seed + row * 31L + (3 * x + c) * 7L) % 256).toByte
                  c += 1
                }
              case _ =>
                var c = 0
                while (c < 3) {
                  d(row * stride + 4 * x + c) =
                    ((seed + row * 31L + (3 * x + c) * 7L) % 256).toByte
                  c += 1
                }
                d(row * stride + 4 * x + 3) =
                  ((seed + row * 31L + x * 13L + 5) % 256).toByte
            }
            x += 1
          }
          row += 1
        }
        d
      } else {
        // real RLE8: per storage row, runs of >= 2 as count/value,
        // literal stretches as absolute chunks (>= 3, padded to even)
        // or single encoded pairs, EOL after every row, EOB at the end
        val b = new java.io.ByteArrayOutputStream()
        var row = 0
        while (row < h) {
          var x = 0
          while (x < w) {
            var run = 1
            while (x + run < w && idx(row, x + run) == idx(row, x) && run < 255)
              run += 1
            if (run >= 2) {
              b.write(run); b.write(idx(row, x))
              x += run
            } else {
              var lit = 1
              while (x + lit < w && lit < 255 &&
                     !(x + lit + 1 < w && idx(row, x + lit + 1) == idx(row, x + lit)))
                lit += 1
              if (lit >= 3) {
                b.write(0); b.write(lit)
                var i = 0
                while (i < lit) { b.write(idx(row, x + i)); i += 1 }
                if ((lit & 1) == 1) b.write(0) // pad to even
              } else {
                var i = 0
                while (i < lit) { b.write(1); b.write(idx(row, x + i)); i += 1 }
              }
              x += lit
            }
          }
          b.write(0); b.write(0) // EOL
          row += 1
        }
        b.write(0); b.write(1) // EOB
        b.toByteArray
      }
    val palLen = 4 * nColors
    val pixelOff = 54 + palLen
    val out = new Array[Byte](pixelOff + pixelData.length)
    putTag(out, 0, "BM")
    putLe32(out, 2, out.length); putLe32(out, 10, pixelOff)
    putLe32(out, 14, 40); putLe32(out, 18, w)
    putLe32(out, 22, if (topDown) -h else h)
    out(26) = 1; out(28) = bpp.toByte
    putLe32(out, 30, if (rle) 1 else 0)
    putLe32(out, 34, pixelData.length)
    // biClrUsed stays 0: 256 colors
    var j = 0
    while (j < nColors) { // BGRA quads, the makeIco palette law
      out(54 + 4 * j) = ((seed + j * 11L) % 256).toByte
      out(54 + 4 * j + 1) = ((seed + j * 11L + 97) % 256).toByte
      out(54 + 4 * j + 2) = ((seed + j * 11L + 194) % 256).toByte
      j += 1
    }
    System.arraycopy(pixelData, 0, out, pixelOff, pixelData.length)
    out
  }

  // ---- real decoder: ICO (favicon container, public spec) --------------
  // The web-crawl image format every favicon corpus carries, decoded
  // with machinery the repo already owns: an ICONDIR header + 16-byte
  // directory entries, each member either a complete PNG stream (the
  // EXISTING pngDecode path) or a headerless BMP DIB (BITMAPINFOHEADER
  // with DOUBLED height covering the bottom-up XOR pixel rows plus a
  // 1-bit AND transparency mask). The decode picks the LARGEST member
  // (the display convention), applies the AND mask as transparent
  // black — the GIF/APNG canvas law — and feeds the same fold/hash
  // paths as every other image format. BI_RGB 8 (palettized)/24/32-bpp
  // DIB members decode; 16-bpp, RLE and cursor files (type 2) return
  // None and sniff 'ico' into the measured image boundary.

  /** The largest member of an ICO as interleaved display-order RGB:
    * (w, h, rgb) with AND-masked pixels forced to (0,0,0). None on any
    * malformed directory, member outside the envelope, or lying
    * geometry — never a partial guess.
    */
  private[graft] def icoDecode(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (bytes.length < 6 + 16) return None
    if (le16(bytes, 0) != 0 || le16(bytes, 2) != 1) return None
    val count = le16(bytes, 4)
    if (count < 1 || count > 64) return None // directory backstop
    if (6 + 16 * count > bytes.length) return None
    var bw = 0; var bh = 0; var bOff = 0; var bSize = 0
    var e = 0
    while (e < count) {
      val base = 6 + 16 * e
      val ew0 = bytes(base) & 0xff; val eh0 = bytes(base + 1) & 0xff
      val ew = if (ew0 == 0) 256 else ew0 // 0 encodes 256, per spec
      val eh = if (eh0 == 0) 256 else eh0
      if (bytes(base + 3) != 0) return None // reserved byte
      val size = le32(bytes, base + 8)
      val off = le32(bytes, base + 12)
      if (size <= 0 || off < 6 + 16 * count || off.toLong + size > bytes.length)
        return None
      if (ew * eh > bw * bh) { bw = ew; bh = eh; bOff = off; bSize = size }
      e += 1
    }
    val sub = java.util.Arrays.copyOfRange(bytes, bOff, bOff + bSize)
    if (sub.length >= 8 && PngSig.indices.forall(i => sub(i) == PngSig(i)))
      // PNG member: IHDR dims are authoritative (entry bytes cap at
      // 256); alpha folds away like the still-PNG path's
      pngDecode(sub).flatMap(pi => pngRgbOf(pi).map(rgb => (pi.w, pi.h, rgb)))
    else icoDibRgb(sub, bw, bh)
  }

  /** Flatten a decoded PNG to interleaved RGB (palette looked up,
    * alpha dropped, 16-bit reduced to the high byte — each the
    * documented convention of the gray fold).
    */
  private def pngRgbOf(pi: PngImage): Option[Array[Byte]] = {
    val n = pi.w * pi.h
    val rgb = new Array[Byte](n * 3)
    if (pi.colorType == 3) {
      val entries = pi.palette.length / 3
      var p = 0
      while (p < n) {
        val idx = pi.img(p) & 0xff
        if (idx >= entries) return None
        rgb(3 * p) = pi.palette(3 * idx)
        rgb(3 * p + 1) = pi.palette(3 * idx + 1)
        rgb(3 * p + 2) = pi.palette(3 * idx + 2)
        p += 1
      }
    } else {
      val bps = pi.bitDepth / 8
      val color = pi.colorType == 2 || pi.colorType == 6
      var p = 0
      while (p < n) {
        var c = 0
        while (c < 3) {
          rgb(3 * p + c) = pi.img((p * pi.channels + (if (color) c else 0)) * bps)
          c += 1
        }
        p += 1
      }
    }
    Some(rgb)
  }

  /** One ICO DIB member: BITMAPINFOHEADER with height = 2 × the
    * entry's (XOR rows + AND mask rows), bottom-up BGR(A)/palette
    * pixels, 32-bit-aligned rows on BOTH planes. The header must agree
    * with the directory entry — a lying member rejects.
    */
  private def icoDibRgb(sub: Array[Byte], ew: Int, eh: Int): Option[(Int, Int, Array[Byte])] = {
    if (sub.length < 40) return None
    if (le32(sub, 0) != 40) return None
    val w = le32(sub, 4)
    if (w != ew || le32(sub, 8) != 2 * eh) return None
    val h = eh
    if (le16(sub, 12) != 1) return None
    val bpp = le16(sub, 14)
    if (le32(sub, 16) != 0) return None // BI_RGB only; RLE stays outside
    if (bpp != 8 && bpp != 24 && bpp != 32) return None
    if (w <= 0 || h <= 0 || w > 256 || h > 256) return None
    val nColors =
      if (bpp != 8) 0
      else { val c = le32(sub, 32); if (c == 0) 256 else c } // 0 → 2^bpp
    if (nColors < 0 || nColors > 256) return None
    val xorOff = 40 + nColors * 4
    val xorStride = ((w * bpp + 31) / 32) * 4
    val andStride = ((w + 31) / 32) * 4
    if (xorOff.toLong + h.toLong * (xorStride + andStride) > sub.length) return None
    val andOff = xorOff + h * xorStride
    val rgb = new Array[Byte](w * h * 3)
    var r = 0
    while (r < h) {
      val sr = h - 1 - r // bottom-up storage → display rows
      var x = 0
      while (x < w) {
        val maskByte = sub(andOff + sr * andStride + (x >> 3)) & 0xff
        val masked = ((maskByte >> (7 - (x & 7))) & 1) != 0
        val p = (r * w + x) * 3
        if (!masked) bpp match { // masked pixels stay transparent black
          case 24 =>
            val o = xorOff + sr * xorStride + 3 * x
            rgb(p) = sub(o + 2); rgb(p + 1) = sub(o + 1); rgb(p + 2) = sub(o)
          case 32 => // BGRA; alpha is not part of the mask law
            val o = xorOff + sr * xorStride + 4 * x
            rgb(p) = sub(o + 2); rgb(p + 1) = sub(o + 1); rgb(p + 2) = sub(o)
          case _ =>
            val idx = sub(xorOff + sr * xorStride + x) & 0xff
            if (idx >= nColors) return None
            val q = 40 + 4 * idx // BGRA palette quad
            rgb(p) = sub(q + 2); rgb(p + 1) = sub(q + 1); rgb(p + 2) = sub(q)
        }
        x += 1
      }
      r += 1
    }
    Some((w, h, rgb))
  }

  /** Header-only ICO facts: the LARGEST member's directory dims (0
    * encoding 256 per spec) — entry walk only, no member decode. None
    * on a malformed directory.
    */
  private[graft] def icoMeta(bytes: Array[Byte]): Option[(Int, Int)] = {
    if (bytes.length < 6 + 16) return None
    if (le16(bytes, 0) != 0 || le16(bytes, 2) != 1) return None
    val count = le16(bytes, 4)
    if (count < 1 || count > 64) return None
    if (6 + 16 * count > bytes.length) return None
    var bw = 0; var bh = 0
    var e = 0
    while (e < count) {
      val base = 6 + 16 * e
      if (bytes(base + 3) != 0) return None
      val ew0 = bytes(base) & 0xff; val eh0 = bytes(base + 1) & 0xff
      val ew = if (ew0 == 0) 256 else ew0
      val eh = if (eh0 == 0) 256 else eh0
      if (ew * eh > bw * bh) { bw = ew; bh = eh }
      e += 1
    }
    Some((bw, bh))
  }

  /** Parse + decode an ICO's largest member and fold features (the
    * [[parseTiff]] RGB fold over [[icoDecode]]'s display-order RGB).
    */
  def parseIco(id: Long, bytes: Array[Byte]): Option[MediaFeatures] =
    icoDecode(bytes).map { case (w, h, rgb) =>
      var sumR = 0L; var sumG = 0L; var sumB = 0L; var high = 0L
      var p = 0
      while (p < rgb.length) {
        val r = rgb(p) & 0xff; val g = rgb(p + 1) & 0xff; val b = rgb(p + 2) & 0xff
        sumR += r; sumG += g; sumB += b
        high += (if (r > 127) 1 else 0) + (if (g > 127) 1 else 0) +
          (if (b > 127) 1 else 0)
        p += 3
      }
      val n = w.toLong * h
      val feats = Array(
        (sumR.toDouble / (n * 255)).toFloat,
        (sumG.toDouble / (n * 255)).toFloat,
        (sumB.toDouble / (n * 255)).toFloat,
        ((sumR + sumG + sumB).toDouble / (3 * n * 255)).toFloat,
        (high.toDouble / (3 * n)).toFloat,
        w.toFloat / (w + h), h.toFloat / (w + h), 0f)
      MediaFeatures(id, bytes.length, "ico", w, h, feats)
    }

  /** ICO grayscale grid — the house gray law (r+g+b) over the decoded
    * largest member.
    */
  private def icoGrayGrid(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    icoDecode(bytes).map { case (w, h, rgb) =>
      val gray = new Array[Int](w * h)
      var p = 0
      while (p < gray.length) {
        gray(p) = (rgb(3 * p) & 0xff) + (rgb(3 * p + 1) & 0xff) +
          (rgb(3 * p + 2) & 0xff)
        p += 1
      }
      (w, h, gray)
    }

  /** Fixture/test writer for ICO: one main `w × h` member — a DIB at
    * `bpp` 8/24/32 or a complete [[makePng]] stream (`png = true`) —
    * plus an optional SMALLER `w/2 × h/2` 24-bpp member listed FIRST
    * (`withSmaller`), so largest-member selection is part of the law.
    * DIB pixel bytes follow [[makeBmp]]'s closed form on STORAGE rows
    * (byte (sr, 3x+c) = (seed + sr·31 + (3x+c)·7) mod 256, bottom-up;
    * 32-bpp adds an alpha byte of separate noise the decoder must
    * ignore); the 8-bpp palette reuses [[makePng]]'s PLTE law (entry j
    * channel c = (seed + j·11 + c·97) mod 256) under the index law
    * (seed + sr·31 + x·7) mod 256. AND masks are all-opaque — mask
    * semantics are spec-tested by hand.
    */
  def makeIco(w: Int, h: Int, seed: Long, bpp: Int = 24, png: Boolean = false,
              withSmaller: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 256 && h <= 256, s"fixture dims $w x $h")
    require(bpp == 8 || bpp == 24 || bpp == 32, s"bpp=$bpp")
    require(!withSmaller || (w >= 2 && h >= 2), "smaller member needs w, h >= 2")
    def dib(mw: Int, mh: Int, ms: Long, mbpp: Int): Array[Byte] = {
      val nColors = if (mbpp == 8) 256 else 0
      val xorStride = ((mw * mbpp + 31) / 32) * 4
      val andStride = ((mw + 31) / 32) * 4
      val out = new Array[Byte](40 + nColors * 4 + mh * (xorStride + andStride))
      putLe32(out, 0, 40); putLe32(out, 4, mw); putLe32(out, 8, 2 * mh)
      out(12) = 1 // planes
      out(14) = mbpp.toByte
      // compression, sizes, biClrUsed stay 0 (0 colors → 2^bpp)
      var j = 0
      while (j < nColors) { // BGRA quads; channel order cancels in sums
        out(40 + 4 * j) = ((ms + j * 11L) % 256).toByte
        out(40 + 4 * j + 1) = ((ms + j * 11L + 97) % 256).toByte
        out(40 + 4 * j + 2) = ((ms + j * 11L + 194) % 256).toByte
        j += 1
      }
      val xorOff = 40 + nColors * 4
      var sr = 0
      while (sr < mh) {
        var x = 0
        while (x < mw) {
          val base = xorOff + sr * xorStride
          mbpp match {
            case 24 =>
              var c = 0
              while (c < 3) {
                out(base + 3 * x + c) = ((ms + sr * 31L + (3 * x + c) * 7L) % 256).toByte
                c += 1
              }
            case 32 =>
              var c = 0
              while (c < 3) {
                out(base + 4 * x + c) = ((ms + sr * 31L + (3 * x + c) * 7L) % 256).toByte
                c += 1
              }
              out(base + 4 * x + 3) = ((ms + sr * 31L + x * 13L + 5) % 256).toByte
            case _ =>
              out(base + x) = ((ms + sr * 31L + x * 7L) % 256).toByte
          }
          x += 1
        }
        sr += 1
      }
      // AND mask rows stay zero: fully opaque
      out
    }
    val members = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Array[Byte])]
    if (withSmaller) members += ((w / 2, h / 2, 24, dib(w / 2, h / 2, seed + 7, 24)))
    if (png) members += ((w, h, 0, makePng(w, h, seed)))
    else members += ((w, h, bpp, dib(w, h, seed, bpp)))
    val dirLen = 6 + 16 * members.length
    val total = dirLen + members.map(_._4.length).sum
    val out = new Array[Byte](total)
    out(2) = 1 // type: icon
    out(4) = members.length.toByte
    var off = dirLen
    var e = 0
    while (e < members.length) {
      val (mw, mh, mbpp, data) = members(e)
      val base = 6 + 16 * e
      out(base) = (mw % 256).toByte // 256 encodes as 0
      out(base + 1) = (mh % 256).toByte
      out(base + 4) = 1 // planes
      out(base + 6) = mbpp.toByte
      putLe32(out, base + 8, data.length)
      putLe32(out, base + 12, off)
      System.arraycopy(data, 0, out, off, data.length)
      off += data.length
      e += 1
    }
    out
  }

  // ---- real decoder: PNM (netpbm P2/P3/P5/P6, public spec) -------------
  // The dataset-tooling format: a two-byte magic, ASCII header tokens
  // (width, height, maxval) with #-comments, then samples — decimal
  // tokens for the ASCII forms (P2 gray / P3 RGB), raw bytes for the
  // binary forms (P5 / P6). Envelope: maxval exactly 255 (the
  // real-world default; other maxvals and the 2-byte-sample forms
  // reject into the measured boundary), dims ≤ 2^14.

  /** Decoded PNM: (w, h, spp, samples) interleaved top-down — the
    * [[tiffDecode]] contract. None outside the envelope or on any
    * malformed header/short body — never a partial guess.
    */
  private[graft] def pnmDecode(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
    if (bytes.length < 2 || bytes(0) != 'P') return None
    val kind = bytes(1)
    if (kind != '2' && kind != '3' && kind != '5' && kind != '6') return None
    val ascii = kind == '2' || kind == '3'
    val spp = if (kind == '3' || kind == '6') 3 else 1
    var off = 2
    // read one decimal token, skipping whitespace and #-comments
    def token(): Int = {
      var v = -1
      var done = false
      while (!done) {
        if (off >= bytes.length) return -1
        val c = bytes(off) & 0xff
        if (c == '#' && v < 0) {
          while (off < bytes.length && bytes(off) != '\n') off += 1
        } else if (c >= '0' && c <= '9') {
          v = (if (v < 0) 0 else v) * 10 + (c - '0')
          if (v > (1 << 20)) return -1 // runaway token
          off += 1
        } else if (c == ' ' || c == '\t' || c == '\r' || c == '\n') {
          if (v >= 0) done = true else off += 1
        } else return -1
      }
      v
    }
    val w = token(); val h = token(); val maxval = token()
    if (w <= 0 || h <= 0 || w > (1 << 14) || h > (1 << 14)) return None
    if (maxval != 255) return None // the envelope; others stay outside
    val n = w * h * spp
    if (n > (64 << 20)) return None
    val out = new Array[Byte](n)
    if (ascii) {
      var i = 0
      while (i < n) {
        val v = token()
        if (v < 0 || v > 255) return None
        out(i) = v.toByte
        i += 1
      }
    } else {
      // exactly ONE whitespace byte separates the header from raw data
      if (off >= bytes.length) return None
      val c = bytes(off) & 0xff
      if (c != ' ' && c != '\t' && c != '\r' && c != '\n') return None
      off += 1
      if (off + n > bytes.length) return None
      System.arraycopy(bytes, off, out, 0, n)
    }
    Some((w, h, spp, out))
  }

  /** Header-only PNM dims: the first two decimal tokens after any
    * P1-P6 magic (comments skipped) — valid for the whole netpbm
    * family, including the forms the decode envelope excludes.
    */
  private[graft] def pnmDims(bytes: Array[Byte]): Option[(Int, Int)] = {
    if (bytes.length < 3 || bytes(0) != 'P') return None
    if (bytes(1) < '1' || bytes(1) > '6') return None
    var off = 2
    def token(): Int = {
      var v = -1
      var done = false
      while (!done) {
        if (off >= bytes.length) return -1
        val c = bytes(off) & 0xff
        if (c == '#' && v < 0) {
          while (off < bytes.length && bytes(off) != '\n') off += 1
        } else if (c >= '0' && c <= '9') {
          v = (if (v < 0) 0 else v) * 10 + (c - '0')
          if (v > (1 << 20)) return -1
          off += 1
        } else if (c == ' ' || c == '\t' || c == '\r' || c == '\n') {
          if (v >= 0) done = true else off += 1
        } else return -1
      }
      v
    }
    val w = token(); val h = token()
    if (w <= 0 || h <= 0) None else Some((w, h))
  }

  /** PNM grayscale grid — the house gray law over [[pnmDecode]]. */
  private def pnmGrayGrid(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    pnmDecode(bytes).map { case (w, h, spp, samples) =>
      val gray = new Array[Int](w * h)
      if (spp == 3) {
        var p = 0
        while (p < gray.length) {
          gray(p) = (samples(3 * p) & 0xff) + (samples(3 * p + 1) & 0xff) +
            (samples(3 * p + 2) & 0xff)
          p += 1
        }
      } else {
        var p = 0
        while (p < gray.length) { gray(p) = 3 * (samples(p) & 0xff); p += 1 }
      }
      (w, h, gray)
    }

  /** Parse + decode a PNM and fold features (the [[parseTiff]] fold). */
  def parsePnm(id: Long, bytes: Array[Byte]): Option[MediaFeatures] =
    pnmDecode(bytes).map { case (w, h, spp, samples) =>
      val n = w.toLong * h
      if (spp == 3) {
        var sumR = 0L; var sumG = 0L; var sumB = 0L; var high = 0L
        var p = 0
        while (p < samples.length) {
          val r = samples(p) & 0xff; val g = samples(p + 1) & 0xff
          val b = samples(p + 2) & 0xff
          sumR += r; sumG += g; sumB += b
          high += (if (r > 127) 1 else 0) + (if (g > 127) 1 else 0) +
            (if (b > 127) 1 else 0)
          p += 3
        }
        val feats = Array(
          (sumR.toDouble / (n * 255)).toFloat,
          (sumG.toDouble / (n * 255)).toFloat,
          (sumB.toDouble / (n * 255)).toFloat,
          ((sumR + sumG + sumB).toDouble / (3 * n * 255)).toFloat,
          (high.toDouble / (3 * n)).toFloat,
          w.toFloat / (w + h), h.toFloat / (w + h), 0f)
        MediaFeatures(id, bytes.length, "pnm", w, h, feats)
      } else {
        var sum = 0L; var high = 0L
        var p = 0
        while (p < samples.length) {
          val v = samples(p) & 0xff
          sum += v; if (v > 127) high += 1
          p += 1
        }
        val m = (sum.toDouble / (n * 255)).toFloat
        val feats = Array(m, m, m, m, (high.toDouble / n).toFloat,
          w.toFloat / (w + h), h.toFloat / (w + h), 0f)
        MediaFeatures(id, bytes.length, "pnm", w, h, feats)
      }
    }

  /** Fixture/test writer for PNM: samples follow the house image law
    * (byte (r, k) = (seed + r·31 + k·7) mod 256, k = 3x+c for RGB) in
    * all four forms — P5/P6 raw, P2/P3 decimal with a planted
    * #-comment in the header. Same decoded pixels regardless.
    */
  def makePnm(w: Int, h: Int, seed: Long, rgb: Boolean = true,
              asciiForm: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 512 && h <= 512, s"fixture dims $w x $h")
    val spp = if (rgb) 3 else 1
    val magic = (rgb, asciiForm) match {
      case (true, false) => "P6"; case (false, false) => "P5"
      case (true, true) => "P3"; case (false, true) => "P2"
    }
    val sb = new java.io.ByteArrayOutputStream()
    ascii(sb, s"$magic\n# graft fixture\n$w $h\n255\n")
    var r = 0
    while (r < h) {
      var k = 0
      while (k < w * spp) {
        val v = ((seed + r * 31L + k * 7L) % 256).toInt
        if (asciiForm) {
          ascii(sb, v.toString)
          sb.write(if (k == w * spp - 1) '\n' else ' ')
        } else sb.write(v)
        k += 1
      }
      r += 1
    }
    sb.toByteArray
  }

  // ---- real decoder: QOI ("Quite OK Image", public spec) ---------------
  // The 2022 lossless format showing up in modern asset pipelines: a
  // 14-byte header then a byte-oriented op stream — RGB/RGBA literals,
  // 64-slot hash-indexed back-references, 2-bit channel diffs, the
  // luma diff pair, and runs — closed by the 8-byte end marker. Every
  // op is spec arithmetic (hash = (r·3+g·5+b·7+a·11) mod 64), no
  // entropy coding, so the decoder is exact and total.

  /** Decoded QOI: (w, h, interleaved RGB top-down) — alpha decoded
    * (it participates in the hash law) but dropped from the output,
    * the PNG-alpha convention. None on bad magic, dims outside the
    * walk bound, short streams, or a missing end marker.
    */
  private[graft] def qoiDecode(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (bytes.length < 14 + 8 || bytes(0) != 'q' || bytes(1) != 'o' ||
        bytes(2) != 'i' || bytes(3) != 'f') return None
    val w = be32(bytes, 4)
    val h = be32(bytes, 8)
    val channels = bytes(12) & 0xff
    val colorspace = bytes(13) & 0xff
    if (w <= 0 || h <= 0 || w > (1 << 14) || h > (1 << 14) ||
        w.toLong * h > (64 << 20)) return None
    if ((channels != 3 && channels != 4) || colorspace > 1) return None
    val n = w * h
    val rgb = new Array[Byte](n * 3)
    val index = new Array[Int](64) // packed 0xAARRGGBB
    var r = 0; var g = 0; var b = 0; var a = 255
    java.util.Arrays.fill(index, 0) // spec: zero-initialized
    var px = 0
    var off = 14
    val dataEnd = bytes.length - 8
    def emit(run: Int): Boolean = {
      var i = 0
      while (i < run) {
        if (px >= n) return false
        rgb(3 * px) = r.toByte; rgb(3 * px + 1) = g.toByte; rgb(3 * px + 2) = b.toByte
        px += 1
        i += 1
      }
      true
    }
    while (px < n) {
      if (off >= dataEnd) return None
      val op = bytes(off) & 0xff
      off += 1
      if (op == 0xfe) { // QOI_OP_RGB
        if (off + 3 > dataEnd) return None
        r = bytes(off) & 0xff; g = bytes(off + 1) & 0xff; b = bytes(off + 2) & 0xff
        off += 3
        if (!emit(1)) return None
      } else if (op == 0xff) { // QOI_OP_RGBA
        if (off + 4 > dataEnd) return None
        r = bytes(off) & 0xff; g = bytes(off + 1) & 0xff
        b = bytes(off + 2) & 0xff; a = bytes(off + 3) & 0xff
        off += 4
        if (!emit(1)) return None
      } else (op >> 6) match {
        case 0 => // QOI_OP_INDEX
          val v = index(op & 0x3f)
          a = (v >>> 24) & 0xff; r = (v >>> 16) & 0xff
          g = (v >>> 8) & 0xff; b = v & 0xff
          if (!emit(1)) return None
        case 1 => // QOI_OP_DIFF (biased by 2)
          r = (r + ((op >> 4) & 3) - 2) & 0xff
          g = (g + ((op >> 2) & 3) - 2) & 0xff
          b = (b + (op & 3) - 2) & 0xff
          if (!emit(1)) return None
        case 2 => // QOI_OP_LUMA (dg biased 32; dr-dg / db-dg biased 8)
          if (off >= dataEnd) return None
          val dg = (op & 0x3f) - 32
          val rb = bytes(off) & 0xff
          off += 1
          r = (r + dg + ((rb >> 4) & 0xf) - 8) & 0xff
          g = (g + dg) & 0xff
          b = (b + dg + (rb & 0xf) - 8) & 0xff
          if (!emit(1)) return None
        case _ => // QOI_OP_RUN (1..62; 63/64 are the RGB/RGBA tags)
          if (!emit((op & 0x3f) + 1)) return None
      }
      index(((r * 3 + g * 5 + b * 7 + a * 11) % 64)) =
        (a << 24) | (r << 16) | (g << 8) | b
    }
    // end marker: seven 0x00 then 0x01, directly after the data
    var i = 0
    while (i < 7) { if (bytes(off + i) != 0) return None; i += 1 }
    if (bytes(off + 7) != 1) return None
    Some((w, h, rgb))
  }

  /** QOI grayscale grid — the house gray law over [[qoiDecode]]. */
  private def qoiGrayGrid(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    qoiDecode(bytes).map { case (w, h, rgb) =>
      val gray = new Array[Int](w * h)
      var p = 0
      while (p < gray.length) {
        gray(p) = (rgb(3 * p) & 0xff) + (rgb(3 * p + 1) & 0xff) +
          (rgb(3 * p + 2) & 0xff)
        p += 1
      }
      (w, h, gray)
    }

  /** Parse + decode a QOI and fold features (the [[parseIco]] fold). */
  def parseQoi(id: Long, bytes: Array[Byte]): Option[MediaFeatures] =
    qoiDecode(bytes).map { case (w, h, rgb) =>
      var sumR = 0L; var sumG = 0L; var sumB = 0L; var high = 0L
      var p = 0
      while (p < rgb.length) {
        val r = rgb(p) & 0xff; val g = rgb(p + 1) & 0xff; val b = rgb(p + 2) & 0xff
        sumR += r; sumG += g; sumB += b
        high += (if (r > 127) 1 else 0) + (if (g > 127) 1 else 0) +
          (if (b > 127) 1 else 0)
        p += 3
      }
      val n = w.toLong * h
      val feats = Array(
        (sumR.toDouble / (n * 255)).toFloat,
        (sumG.toDouble / (n * 255)).toFloat,
        (sumB.toDouble / (n * 255)).toFloat,
        ((sumR + sumG + sumB).toDouble / (3 * n * 255)).toFloat,
        (high.toDouble / (3 * n)).toFloat,
        w.toFloat / (w + h), h.toFloat / (w + h), 0f)
      MediaFeatures(id, bytes.length, "qoi", w, h, feats)
    }

  /** REAL QOI encoder (fixture side, the reference algorithm): run
    * detection, index hit, 2-bit diff, luma pair, RGB literal — in the
    * spec's precedence order — so fixtures exercise every op the
    * decoder owns. Pixels follow the house law (byte (r, 3x+c) =
    * (seed + r·31 + (3x+c)·7) mod 256), same as [[makePnm]] top-down.
    */
  def makeQoi(w: Int, h: Int, seed: Long): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 512 && h <= 512, s"fixture dims $w x $h")
    val out = new java.io.ByteArrayOutputStream()
    ascii(out, "qoif")
    be32(out, w); be32(out, h)
    out.write(3); out.write(0) // RGB, sRGB
    val index = new Array[Int](64)
    var pr = 0; var pg = 0; var pb = 0
    val pa = 255
    var run = 0
    var p = 0
    val n = w * h
    while (p < n) {
      val row = p / w; val x = p % w
      val r = ((seed + row * 31L + (3 * x) * 7L) % 256).toInt
      val g = ((seed + row * 31L + (3 * x + 1) * 7L) % 256).toInt
      val b = ((seed + row * 31L + (3 * x + 2) * 7L) % 256).toInt
      if (r == pr && g == pg && b == pb) {
        run += 1
        if (run == 62) { out.write(0xc0 | (run - 1)); run = 0 }
      } else {
        if (run > 0) { out.write(0xc0 | (run - 1)); run = 0 }
        val hashv = (r * 3 + g * 5 + b * 7 + pa * 11) % 64
        val packed = (pa << 24) | (r << 16) | (g << 8) | b
        if (index(hashv) == packed) out.write(hashv)
        else {
          index(hashv) = packed
          val dr = ((r - pr + 128) & 0xff) - 128
          val dg = ((g - pg + 128) & 0xff) - 128
          val db = ((b - pb + 128) & 0xff) - 128
          if (dr >= -2 && dr <= 1 && dg >= -2 && dg <= 1 && db >= -2 && db <= 1)
            out.write(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
          else if (dg >= -32 && dg <= 31 && (dr - dg) >= -8 && (dr - dg) <= 7 &&
                   (db - dg) >= -8 && (db - dg) <= 7) {
            out.write(0x80 | (dg + 32))
            out.write(((dr - dg + 8) << 4) | (db - dg + 8))
          } else {
            out.write(0xfe); out.write(r); out.write(g); out.write(b)
          }
        }
        pr = r; pg = g; pb = b
      }
      p += 1
    }
    if (run > 0) out.write(0xc0 | (run - 1))
    for (_ <- 0 until 7) out.write(0)
    out.write(1)
    out.toByteArray
  }

  // ---- perceptual image hashing (aHash) + near-dup --------------------
  // The image twin of text MinHash dedup: a 64-bit AVERAGE HASH over the
  // decoded pixel grid (8×8 block means vs the global mean — the classic
  // public aHash construction), then near-dup pairs via the SAME
  // pigeonhole-blocked Hamming join the SimHash path uses
  // ([[graft.dedup.NearDup.simHashNearDups]]) — never all-pairs. At
  // 100 TB the decode+hash is one scan-stage mapPartitions pass and
  // everything downstream moves (id, 8-byte hash) rows only.

  /** Grayscale grid of a 24-bpp BMP in DISPLAY orientation: (w, h, gray)
    * with gray(r·w+x) = b+g+r channel sum (scale-free — every aHash
    * comparison is a ratio, so the /3 normalization cancels). Bottom-up
    * storage (positive height) flips to display rows; top-down (negative
    * height) reads straight. Same header validation as [[parseBmp]].
    */
  private def bmpGrayGrid(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    bmpBgrPixels(bytes).map { case (w, h, bgr) =>
      val gray = new Array[Int](w * h)
      var p = 0
      while (p < gray.length) {
        gray(p) = (bgr(3 * p) & 0xff) + (bgr(3 * p + 1) & 0xff) +
          (bgr(3 * p + 2) & 0xff)
        p += 1
      }
      (w, h, gray)
    }

  /** 64-bit average hash of a grayscale grid: the image splits into an
    * 8×8 grid of blocks (truncated-division bounds — row block bi spans
    * [bi·h/8, (bi+1)·h/8)), and bit bi·8+bj is set iff the block's mean
    * ≥ the global mean. The comparison is EXACT integer cross-
    * multiplication (blockSum·nTotal ≥ totalSum·nBlock — no float mean,
    * so the hash is bit-replayable by an external engine; the products
    * stay under 2⁶⁰ at the 2¹⁴-pixel dimension cap). Images smaller than
    * 8×8 have no meaningful hash → None.
    */
  private[graft] def aHash64(w: Int, h: Int, gray: Array[Int]): Option[Long] = {
    if (w < 8 || h < 8) return None
    var total = 0L
    var i = 0
    while (i < gray.length) { total += gray(i); i += 1 }
    val nTotal = w.toLong * h
    var hash = 0L
    var bi = 0
    while (bi < 8) {
      val r0 = bi * h / 8; val r1 = (bi + 1) * h / 8
      var bj = 0
      while (bj < 8) {
        val c0 = bj * w / 8; val c1 = (bj + 1) * w / 8
        var blockSum = 0L
        var r = r0
        while (r < r1) {
          var c = c0
          while (c < c1) { blockSum += gray(r * w + c); c += 1 }
          r += 1
        }
        val nBlock = (r1 - r0).toLong * (c1 - c0)
        if (blockSum * nTotal >= total * nBlock)
          hash |= 1L << (bi * 8 + bj)
        bj += 1
      }
      bi += 1
    }
    Some(hash)
  }

  /** Integer-quantized orthonormal 32-point DCT-II basis for [[pHash64]]:
    * `PHashBasis(u*32 + x) = round(2^14 · C(u) · cos((2x+1)·u·π/64))`,
    * C(0) = √(1/32), C(u>0) = √(2/32). Quantizing the basis (instead of
    * the transform) makes every downstream operation pure integer
    * arithmetic, so the hash is bit-replayable by an external engine
    * with the same 1024 constants — the [[aHash64]] exactness discipline
    * applied to a spectral hash.
    */
  private[graft] val PHashBasis: Array[Long] = {
    val t = new Array[Long](32 * 32)
    var u = 0
    while (u < 32) {
      val cu = if (u == 0) math.sqrt(1.0 / 32) else math.sqrt(2.0 / 32)
      var x = 0
      while (x < 32) {
        t(u * 32 + x) = math.round(16384.0 * cu * math.cos((2 * x + 1) * u * math.Pi / 64.0))
        x += 1
      }
      u += 1
    }
    t
  }

  /** 64-bit DCT perceptual hash (pHash) of a grayscale grid — the
    * SPECTRAL near-dup key, complementary to [[aHash64]]'s block-mean
    * key. Measured relationship (MediaHashProbe A/B, BASELINE
    * "Perceptual-hash family at 100×"): under a smooth GLOBAL
    * perturbation (brightness ramp — the lighting/vignette/re-render
    * class) pHash moves ~4 bits where aHash moves ~30, because the ramp
    * concentrates in the lowest spatial frequency while block-vs-mean
    * comparisons all reorder; under iid pixel noise on flat regions the
    * ranking inverts (64-pixel block means average noise away, fine
    * spectral cells keep it). Run both keys when the duplicate class is
    * unknown — they are one scan-stage map each.
    *
    * Pipeline (all integer, deterministic): (1) area-downsample to a
    * 32×32 cell grid (truncated-division bounds, cell value =
    * `sum div count` — the aHash block convention); (2) 2-D DCT through
    * the quantized [[PHashBasis]]; (3) keep the top-left 8×8
    * coefficients minus the DC term (63 values — the low-frequency
    * signature); (4) threshold at the MEDIAN (32nd-smallest of 63) with
    * strict `>`, bit p = v·8+u−1. Bit 63 is never set, so the hash is
    * non-negative. Scale-free: a gray grid and its 3× (RGB-sum) twin
    * hash identically when cell sums divide exactly, and in general
    * differ only through the `div` rounding (spec-pinned on exact
    * twins). Images smaller than 32×32 → None.
    */
  private[graft] def pHash64(w: Int, h: Int, gray: Array[Int]): Option[Long] = {
    if (w < 32 || h < 32) return None
    // (1) 32×32 area means
    val cells = new Array[Long](32 * 32)
    var gy = 0
    while (gy < 32) {
      val r0 = gy * h / 32; val r1 = (gy + 1) * h / 32
      var gx = 0
      while (gx < 32) {
        val c0 = gx * w / 32; val c1 = (gx + 1) * w / 32
        var s = 0L
        var r = r0
        while (r < r1) {
          var c = c0
          while (c < c1) { s += gray(r * w + c); c += 1 }
          r += 1
        }
        cells(gy * 32 + gx) = s / ((r1 - r0).toLong * (c1 - c0))
        gx += 1
      }
      gy += 1
    }
    // (2)+(3) low-frequency coefficients: row pass over the 8 needed u's
    // first (32×8), then the column pass (8×8) — 20k multiplies per image
    val rowPass = new Array[Long](32 * 8) // (gy, u)
    var ry = 0
    while (ry < 32) {
      var u = 0
      while (u < 8) {
        var s = 0L
        var x = 0
        while (x < 32) { s += cells(ry * 32 + x) * PHashBasis(u * 32 + x); x += 1 }
        rowPass(ry * 8 + u) = s
        u += 1
      }
      ry += 1
    }
    val coefs = new Array[Long](63)
    var k = 0
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        if (u != 0 || v != 0) {
          var s = 0L
          var y = 0
          while (y < 32) { s += rowPass(y * 8 + u) * PHashBasis(v * 32 + y); y += 1 }
          coefs(k) = s
          k += 1
        }
        u += 1
      }
      v += 1
    }
    // (4) strict-> median threshold
    val sorted = coefs.clone(); java.util.Arrays.sort(sorted)
    val med = sorted(31)
    var hash = 0L
    k = 0
    v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        if (u != 0 || v != 0) {
          if (coefs(k) > med) hash |= 1L << (v * 8 + u - 1)
          k += 1
        }
        u += 1
      }
      v += 1
    }
    Some(hash)
  }

  /** PNG grayscale grid through the real decode path ([[pngDecode]]):
    * gray = sum of the COLOR channel bytes (alpha excluded — opacity is
    * not luminance; palette images look their RGB up; 16-bit samples
    * contribute their high byte). Channel-count differences don't
    * matter downstream: every aHash comparison is a within-image ratio,
    * so a gray PNG and its (v,v,v) RGB twin hash IDENTICALLY
    * (spec-pinned).
    */
  private def pngGrayGrid(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    pngDecode(bytes).flatMap { pi =>
      val n = pi.w * pi.h
      val gray = new Array[Int](n)
      var bad = false
      if (pi.colorType == 3) {
        val entries = pi.palette.length / 3
        var p = 0
        while (p < n && !bad) {
          val idx = pi.img(p) & 0xff
          if (idx >= entries) bad = true // corrupt index: no hash
          else {
            gray(p) = (pi.palette(3 * idx) & 0xff) + (pi.palette(3 * idx + 1) & 0xff) +
              (pi.palette(3 * idx + 2) & 0xff)
            p += 1
          }
        }
      } else {
        val bps = pi.bitDepth / 8
        val colorCh = if (pi.colorType == 2 || pi.colorType == 6) 3 else 1
        var p = 0
        while (p < n) {
          var s = 0
          var c = 0
          while (c < colorCh) {
            s += pi.img((p * pi.channels + c) * bps) & 0xff // high byte at depth 16
            c += 1
          }
          gray(p) = s
          p += 1
        }
      }
      if (bad) None else Some((pi.w, pi.h, gray))
    }

  /** GIF grayscale grid through the real decode path ([[gifDecode]]):
    * palette-looked-up channel sums over the de-interlaced index plane.
    */
  private def gifGrayGrid(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    gifDecode(bytes).flatMap { case (w, h, idx, palOff, palEntries) =>
      val gray = new Array[Int](w * h)
      var bad = false
      var p = 0
      while (p < gray.length && !bad) {
        val pi = idx(p) & 0xff
        if (pi >= palEntries) bad = true // corrupt index: no hash
        else {
          gray(p) = (bytes(palOff + 3 * pi) & 0xff) + (bytes(palOff + 3 * pi + 1) & 0xff) +
            (bytes(palOff + 3 * pi + 2) & 0xff)
          p += 1
        }
      }
      if (bad) None else Some((w, h, gray))
    }

  /** JPEG grayscale grid through the real decode path ([[jpegPlanes]] —
    * baseline AND progressive, every supported subsampling): grayscale
    * streams hash their luma plane directly (scale-free — aHash
    * comparisons are within-image ratios, so Y and the BMP convention's
    * 3-channel sum of a (v,v,v) twin hash IDENTICALLY, spec-pinned);
    * color streams replay the same YCbCr→RGB conversion as
    * [[foldJpegPlanes]] and sum the channels, the BMP/PNG/GIF gray
    * convention.
    */
  private def jpegGrayGrid(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    jpegPlanes(bytes).map { jp =>
      val w = jp.w; val h = jp.h
      val gray = new Array[Int](w * h)
      if (jp.comps.length == 1) {
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            gray(y * w + x) = jp.planes(0)(y * jp.planeW(0) + x) & 0xff
            x += 1
          }
          y += 1
        }
      } else {
        val rgb = rgbFromPlanes(jp)
        var p = 0
        while (p < gray.length) {
          gray(p) = (rgb(3 * p) & 0xff) + (rgb(3 * p + 1) & 0xff) +
            (rgb(3 * p + 2) & 0xff)
          p += 1
        }
      }
      (w, h, gray)
    }

  /** YCbCr→RGB fold of decoded 3-component planes into interleaved
    * bytes — the ONE conversion implementation (chroma replication by
    * sampling-factor arithmetic, JFIF coefficients, per-channel
    * round + clamp) behind both the gray fold above and the color
    * JPEG-in-TIFF strip decode.
    */
  private def rgbFromPlanes(jp: JpegPlanes): Array[Byte] = {
    val w = jp.w; val h = jp.h
    val rgb = new Array[Byte](w * h * 3)
    val maxH = jp.comps.map(_(1)).max
    val maxV = jp.comps.map(_(2)).max
    def cl(d: Double): Int = {
      val r = math.round(d).toInt
      if (r < 0) 0 else if (r > 255) 255 else r
    }
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val yv = jp.planes(0)(y * jp.planeW(0) + x) & 0xff
        val cbx = x * jp.comps(1)(1) / maxH; val cby = y * jp.comps(1)(2) / maxV
        val crx = x * jp.comps(2)(1) / maxH; val cry = y * jp.comps(2)(2) / maxV
        val cb = (jp.planes(1)(cby * jp.planeW(1) + cbx) & 0xff) - 128
        val cr = (jp.planes(2)(cry * jp.planeW(2) + crx) & 0xff) - 128
        val p = (y * w + x) * 3
        rgb(p) = cl(yv + 1.402 * cr).toByte
        rgb(p + 1) = cl(yv - 0.344136 * cb - 0.714136 * cr).toByte
        rgb(p + 2) = cl(yv + 1.772 * cb).toByte
        x += 1
      }
      y += 1
    }
    rgb
  }

  /** Interleaved-RGB grid through the real decode path: color streams
    * via [[rgbFromPlanes]], grayscale streams replicating Y into all
    * three channels — the color JPEG-in-TIFF strip contract.
    */
  private def jpegRgbGrid(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    jpegPlanes(bytes).map { jp =>
      if (jp.comps.length == 1) {
        val w = jp.w; val h = jp.h
        val rgb = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = jp.planes(0)(y * jp.planeW(0) + x)
            val p = (y * w + x) * 3
            rgb(p) = v; rgb(p + 1) = v; rgb(p + 2) = v
            x += 1
          }
          y += 1
        }
        (jp.w, jp.h, rgb)
      } else (jp.w, jp.h, rgbFromPlanes(jp))
    }

  /** Perceptual hash of one payload — BMP, PNG (every supported color
    * type/depth/interlace), GIF and JPEG (baseline + progressive) all
    * hash through their REAL decode paths; other formats → None. Format
    * follows content (magic bytes), the [[decode]] convention.
    */
  def imageAHash(bytes: Array[Byte]): Option[Long] =
    grayGridOf(bytes).flatMap { case (w, h, g) => aHash64(w, h, g) }

  /** TIFF grayscale grid through the real decode path ([[tiffDecode]]):
    * the house gray law — r+g+b for RGB, 3× the sample for grayscale
    * (so identical content hashes identically across formats).
    */
  private def tiffGrayGrid(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    tiffDecode(bytes).map { case (w, h, spp, samples) =>
      val gray = new Array[Int](w * h)
      if (spp == 3) {
        var p = 0
        while (p < gray.length) {
          gray(p) = (samples(3 * p) & 0xff) + (samples(3 * p + 1) & 0xff) +
            (samples(3 * p + 2) & 0xff)
          p += 1
        }
      } else {
        var p = 0
        while (p < gray.length) { gray(p) = 3 * (samples(p) & 0xff); p += 1 }
      }
      (w, h, gray)
    }

  /** Format dispatch for the perceptual-hash family: each real
    * decoder's gray-grid path in cheap-sniff order (every branch
    * rejects on its magic bytes before doing any work).
    */
  private def grayGridOf(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    bmpGrayGrid(bytes).orElse(pngGrayGrid(bytes)).orElse(gifGrayGrid(bytes))
      .orElse(jpegGrayGrid(bytes)).orElse(tiffGrayGrid(bytes))
      .orElse(icoGrayGrid(bytes)).orElse(pnmGrayGrid(bytes))
      .orElse(qoiGrayGrid(bytes))

  /** (doc_id, ahash) over a binary column — the same streaming
    * `mapPartitions` shape as [[extractFeatures]]; payloads that don't
    * decode emit NO rows (dedup sees absent images, not fake hashes).
    */
  def imageAHashes(spark: SparkSession, df: DataFrame,
                   idCol: String = "doc_id",
                   payloadCol: String = "payload"): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.flatMap { case (id, bytes) =>
        imageAHash(bytes).map(h => (id, h))
      })
      .toDF(idCol, "ahash")
  }

  /** DCT perceptual hash of one payload — same format dispatch and
    * decode paths as [[imageAHash]], spectral signature per [[pHash64]].
    * Use when near-dup must survive smooth global changes (lighting,
    * gradients, re-renders); aHash remains the noise-stable
    * block-structure key — see the measured A/B in [[pHash64]]'s doc.
    */
  def imagePHash(bytes: Array[Byte]): Option[Long] =
    grayGridOf(bytes).flatMap { case (w, h, g) => pHash64(w, h, g) }

  /** (doc_id, phash) over a binary column — the [[imageAHashes]] shape;
    * near-dup pairs: [[imageNearDups]] with `hashCol = "phash"` (the
    * blocked Hamming join is hash-agnostic).
    */
  def imagePHashes(spark: SparkSession, df: DataFrame,
                   idCol: String = "doc_id",
                   payloadCol: String = "payload"): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.flatMap { case (id, bytes) =>
        imagePHash(bytes).map(h => (id, h))
      })
      .toDF(idCol, "phash")
  }

  /** (doc_id, ahash, phash) in ONE decode pass — the "run both keys"
    * default from [[pHash64]]'s measured division of labor, without
    * paying the decode twice: [[imageAHashes]] + [[imagePHashes]] as
    * separate scans each re-decode every payload (decode dominates —
    * ~200 k images/s is the decode rate, the hash folds are arithmetic
    * on the already-decoded grid), while this emits both keys from one
    * grid. `phash` is NULL below 32×32 (no spectral key — aHash covers
    * those alone); payloads that don't decode emit NO rows.
    */
  def imageDualHashes(spark: SparkSession, df: DataFrame,
                      idCol: String = "doc_id",
                      payloadCol: String = "payload"): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.flatMap { case (id, bytes) =>
        grayGridOf(bytes).flatMap { case (w, h, g) =>
          aHash64(w, h, g).map(a => (id, a, pHash64(w, h, g)))
        }
      })
      .toDF(idCol, "ahash", "phash")
  }

  /** Near-duplicate image pairs within `maxHamming` bits: delegates to
    * the pigeonhole-blocked Hamming join ([[graft.dedup.NearDup
    * .simHashNearDups]] — identical 64-bit-hash shape, identical scale
    * properties: blocked equi-join, never all-pairs).
    */
  def imageNearDups(hashes: DataFrame, maxHamming: Int = 3,
                    idCol: String = "doc_id",
                    hashCol: String = "ahash"): DataFrame =
    graft.dedup.NearDup.simHashNearDups(
      hashes.select(col(idCol).as("id"), col(hashCol).as("simhash")), maxHamming)

  /** (doc_id, frame_idx, fhash) over a binary column of video clips —
    * animated GIF ([[gifFrameGrids]]) or MJPEG AVI ([[aviFrameGrids]]),
    * one [[aHash64]] per COMPOSITED/decoded frame. The decoded-video
    * member of the multimodal hashing family: a clip is its frame-hash
    * sequence, so clip-level near-dup reduces to frame-level Hamming
    * joins ([[videoNearDups]]). Non-video / non-decodable payloads and
    * sub-8×8 canvases emit NO rows; a single-frame clip emits exactly
    * its image hash (frame 0).
    */
  def videoFrameHashes(spark: SparkSession, df: DataFrame,
                       idCol: String = "doc_id",
                       payloadCol: String = "payload"): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.flatMap { case (id, bytes) =>
        videoFrameGrids(bytes).toSeq.flatMap { case (w, h, frames) =>
          frames.zipWithIndex.flatMap { case (g, fi) =>
            aHash64(w, h, g).map(hh => (id, fi.toLong, hh))
          }
        }
      })
      .toDF(idCol, "frame_idx", "fhash")
  }

  /** (doc_id, frame_idx, fhash) of SPECTRAL per-frame hashes — the
    * [[videoFrameHashes]] shape with [[pHash64]] instead of [[aHash64]].
    * The clip-level key for the gradient/re-render duplicate class:
    * a smooth global change (lighting ramp, vignette, re-encode shading)
    * moves ~4 pHash bits where it moves ~30 aHash bits (the measured
    * MediaHashProbe A/B in [[pHash64]]'s doc), so clip near-dup over
    * these hashes ([[videoNearDups]] — the blocked Hamming join is
    * hash-agnostic) catches re-renders the block-mean key can't.
    * Frames below 32×32 emit NO rows (pHash needs the full 32×32 cell
    * grid); run both keys when the duplicate class is unknown.
    */
  def videoFramePHashes(spark: SparkSession, df: DataFrame,
                        idCol: String = "doc_id",
                        payloadCol: String = "payload"): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.flatMap { case (id, bytes) =>
        videoFrameGrids(bytes).toSeq.flatMap { case (w, h, frames) =>
          frames.zipWithIndex.flatMap { case (g, fi) =>
            pHash64(w, h, g).map(hh => (id, fi.toLong, hh))
          }
        }
      })
      .toDF(idCol, "frame_idx", "fhash")
  }

  /** Near-duplicate VIDEO pairs: two clips match when at least
    * `minPairs` of their cross-clip frame-hash pairs sit within
    * `maxHamming` bits (n_pairs counts matched frame PAIRS — a shared
    * still that both clips hold for many frames counts once per
    * combination, deliberately weighting dwelled-on content). Frames
    * ride the same pigeonhole-blocked Hamming join as every other
    * 64-bit hash (composite id = doc_id·2²⁰ + frame_idx — frame counts
    * are capped at 4096 by the decoder, far under the 2²⁰ slot; clip
    * ids must fit 2⁴³), so the clip join is |matched frame pairs| work,
    * never clips². Output: (id_a, id_b, n_pairs) with id_a < id_b.
    */
  def videoNearDups(frameHashes: DataFrame, maxHamming: Int = 3,
                    minPairs: Int = 2,
                    idCol: String = "doc_id"): DataFrame = {
    val pairs = graft.dedup.NearDup.simHashNearDups(
      frameHashes.select(
        (col(idCol) * lit(1L << 20) + col("frame_idx")).as("id"),
        col("fhash").as("simhash")),
      maxHamming)
    pairs
      // exact integer decode of the composite (shiftright, not double
      // division — clip ids stay exact up to 2^43)
      .select(shiftright(col("id_a"), 20).as("vid_a"),
        shiftright(col("id_b"), 20).as("vid_b"))
      .filter(col("vid_a") =!= col("vid_b"))
      .groupBy(col("vid_a").as("id_a"), col("vid_b").as("id_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") >= minPairs)
  }

  // ---- perceptual audio fingerprinting ---------------------------------
  // The audio member of the multimodal-dedup triple (text MinHash, image
  // aHash, this): a 64-bit ENERGY-DELTA fingerprint — the PCM stream
  // splits into 65 equal frames (truncated-division bounds, the aHash
  // block convention) and bit i records whether frame i+1's exact
  // integer energy (Σ s²) exceeds frame i's. Sign-of-delta is the
  // classic public fingerprint shape (Chromaprint-style features reduced
  // to one comparison per transition); energies are exact longs, the
  // comparison is strict >, so the fingerprint is bit-replayable by an
  // external engine. Robust to volume scaling trends per-frame? No —
  // deliberately simple: it keys EXACT and NEAR-exact duplicates (same
  // recording re-encoded at these fixtures' PCM level), which is the
  // dedup use case; acoustic similarity search is an embedding problem.

  /** The shared 65-frame energy-delta fold: None below 65 samples (no
    * meaningful transition structure). `sampleAt` indexes the flat
    * interleaved PCM stream.
    */
  private def energyDeltaFingerprint(n: Int, sampleAt: Int => Long): Option[Long] = {
    if (n < 65) None
    else {
      val energies = new Array[Long](65)
      var f = 0
      while (f < 65) {
        val lo = f * n / 65
        val hi = (f + 1) * n / 65
        var e = 0L
        var i = lo
        while (i < hi) {
          val s = sampleAt(i)
          e += s * s
          i += 1
        }
        energies(f) = e
        f += 1
      }
      var hash = 0L
      var b = 0
      while (b < 64) {
        if (energies(b + 1) > energies(b)) hash |= 1L << b
        b += 1
      }
      Some(hash)
    }
  }

  /** Quantized 8-point DCT-II rows 1..4 for [[audioSpectralFingerprint]]:
    * `SpecBasis((b-1)*8 + k) = round(128 · cos((2k+1)·b·π/16))`. The
    * [[pHash64]] discipline on audio: quantize the basis, keep every
    * downstream op integer, and the fingerprint is bit-replayable by an
    * external engine from 32 embedded constants.
    */
  private[graft] val SpecBasis: Array[Long] = {
    val t = new Array[Long](32)
    var b = 1
    while (b <= 4) {
      var k = 0
      while (k < 8) {
        t((b - 1) * 8 + k) = math.round(128.0 * math.cos((2 * k + 1) * b * math.Pi / 16.0))
        k += 1
      }
      b += 1
    }
    t
  }

  /** The SPECTRAL-envelope fold: 16 time frames × 4 modulation bands.
    * Each frame splits into 8 sub-chunks whose MEAN POWER (Σs² div n —
    * non-negative, so integer division agrees across engines) forms an
    * 8-point energy envelope; band b's response is the envelope's
    * quantized-DCT row-b projection and bit `f·4 + b − 1` records its
    * strict sign. Where [[energyDeltaFingerprint]] keys the coarse
    * LOUDNESS TRAJECTORY across the clip, this keys how energy
    * modulates WITHIN each frame (attack/decay structure, rhythm) — the
    * two are complementary near-dup keys over the same decoded PCM.
    * None below 128 samples (sub-chunks would be empty).
    */
  private def spectralFingerprint(n: Int, sampleAt: Int => Long): Option[Long] = {
    if (n < 128) return None
    var hash = 0L
    var f = 0
    while (f < 16) {
      val flo = f * n / 16
      val fhi = (f + 1) * n / 16
      val len = fhi - flo
      val e = new Array[Long](8)
      var k = 0
      while (k < 8) {
        val lo = flo + k * len / 8
        val hi = flo + (k + 1) * len / 8
        var s = 0L
        var i = lo
        while (i < hi) { val v = sampleAt(i); s += v * v; i += 1 }
        e(k) = s / (hi - lo)
        k += 1
      }
      var b = 1
      while (b <= 4) {
        var r = 0L
        var k2 = 0
        while (k2 < 8) { r += e(k2) * SpecBasis((b - 1) * 8 + k2); k2 += 1 }
        if (r > 0) hash |= 1L << (f * 4 + b - 1)
        b += 1
      }
      f += 1
    }
    Some(hash)
  }

  /** Spectral-envelope fingerprint of one payload — same decode
    * dispatch as [[audioFingerprint]] (PCM16/G.711/IMA-ADPCM WAV,
    * FLAC), [[spectralFingerprint]] fold. A lossless re-encoding of the
    * same PCM fingerprints identically (function of decoded samples —
    * spec-pinned via the FLAC twin).
    */
  def audioSpectralFingerprint(bytes: Array[Byte]): Option[Long] =
    decodedAudioSamples(bytes).flatMap { case (n, at) => spectralFingerprint(n, at) }

  /** (doc_id, asfp) over a binary column — the [[audioFingerprints]]
    * shape; near-dup pairs via the hash-agnostic blocked Hamming join.
    */
  def audioSpectralFingerprints(spark: SparkSession, df: DataFrame,
                                idCol: String = "doc_id",
                                payloadCol: String = "payload"): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.flatMap { case (id, bytes) =>
        audioSpectralFingerprint(bytes).map(h => (id, h))
      })
      .toDF(idCol, "asfp")
  }

  /** Fingerprint one payload — 16-bit PCM WAV, the LOSSY companded/ADPCM
    * WAV formats (G.711 mu-law/A-law, mono IMA ADPCM — real decode, see
    * [[decodedAudioSamples]]), or FLAC through the real decode path
    * ([[Flac.decode]]: Rice residuals, fixed/LPC predictors, stereo
    * decorrelation). The fingerprint is a function of the DECODED
    * samples, so a lossless twin of the same PCM fingerprints
    * IDENTICALLY (spec-pinned). None for non-audio, payloads outside
    * the decode envelope (MP3/OGG/AAC — the measured [[audioCoverage]]
    * boundary), or streams shorter than 65 samples.
    */
  def audioFingerprint(bytes: Array[Byte]): Option[Long] =
    decodedAudioSamples(bytes).flatMap { case (n, at) => energyDeltaFingerprint(n, at) }

  /** (doc_id, afp) over a binary column — same streaming mapPartitions
    * shape as [[imageAHashes]]; non-audio payloads emit NO rows. Near-
    * dup pairs: feed the hash column to [[graft.dedup.NearDup
    * .simHashNearDups]] (identical 64-bit Hamming-join shape), or reuse
    * [[imageNearDups]] with `hashCol = "afp"`.
    */
  def audioFingerprints(spark: SparkSession, df: DataFrame,
                        idCol: String = "doc_id",
                        payloadCol: String = "payload"): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.flatMap { case (id, bytes) =>
        audioFingerprint(bytes).map(h => (id, h))
      })
      .toDF(idCol, "afp")
  }

  /** The `n` ASCII chars at `off`, or "" when they do not fit — the
    * sniffers' magic read.
    */
  private def asciiAt(bytes: Array[Byte], off: Int, n: Int): String =
    if (off + n <= bytes.length)
      new String(bytes, off, n, java.nio.charset.StandardCharsets.US_ASCII)
    else ""

  /** Container-level audio format sniff — classification only, no
    * decode: WAV format tags, the fLaC/ID3/MP3-sync/OggS/ADTS magics.
    * The measurement key for [[audioCoverage]]: which formats a corpus
    * actually carries, independent of whether we can decode them.
    */
  private[graft] def audioFormatOf(bytes: Array[Byte]): String = {
    wavAnyHeader(bytes) match {
      case Some((1, _, _, 16, _, _, _)) => "wav_pcm16"
      case Some((1, _, _, 8, _, _, _)) => "wav_pcm8"
      case Some((1, _, _, 24, _, _, _)) => "wav_pcm24"
      case Some((7, _, _, _, _, _, _)) => "wav_mulaw"
      case Some((6, _, _, _, _, _, _)) => "wav_alaw"
      case Some((0x11, _, _, _, _, _, _)) => "wav_ima_adpcm"
      case Some((2, _, _, _, _, _, _)) => "wav_ms_adpcm"
      case Some((3, _, _, 32, _, _, _)) => "wav_float32" // r17 s2
      case Some((3, _, _, 64, _, _, _)) => "wav_float64" // r17 s2
      case Some(_) => "wav_other"
      case None =>
        if (asciiAt(bytes, 0, 4) == "fLaC") "flac"
        else if (asciiAt(bytes, 0, 4) == ".snd") "au"                        // r17
        else if (asciiAt(bytes, 0, 4) == "FORM" && asciiAt(bytes, 8, 4) == "AIFF") "aiff" // r17
        else if (asciiAt(bytes, 0, 4) == "FORM" && asciiAt(bytes, 8, 4) == "AIFC") "aifc" // compressed: boundary
        else if (asciiAt(bytes, 0, 4) == "OggS") "ogg"
        else if (asciiAt(bytes, 0, 3) == "ID3") "mp3"
        else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff &&
                 (bytes(1) & 0xf6) == 0xf0) "aac_adts" // layer 00
        // bare MPEG frame sync: layer bits 01 = Layer III, i.e. a raw
        // (un-containered) MP3 stream — the SAME real-world format as
        // the ID3-tagged case, so it folds into 'mp3' rather than
        // splitting one format across two coverage rows (ADVICE r16);
        // Layers I/II stay 'mpeg_audio'.
        else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff &&
                 (bytes(1) & 0xe0) == 0xe0 && ((bytes(1) >> 1) & 3) == 1) "mp3"
        else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff &&
                 (bytes(1) & 0xe0) == 0xe0 && ((bytes(1) >> 1) & 3) != 0) "mpeg_audio"
        else "unknown"
    }
  }

  /** The MEASURED audio-decode boundary: per sniffed container format,
    * how many payloads the fingerprint tier actually covers. This is
    * the honest complement to the decode envelope — "MP3/OGG/AAC emit
    * no row" stated as a number per corpus, not a footnote. One decode
    * pass per payload (fingerprint attempt), one scan — the same
    * mapPartitions stage computes both columns.
    */
  def audioCoverage(spark: SparkSession, df: DataFrame,
                    idCol: String = "doc_id",
                    payloadCol: String = "payload"): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.map { case (_, bytes) =>
        (audioFormatOf(bytes), if (audioFingerprint(bytes).isDefined) 1L else 0L)
      })
      .toDF("format", "fp")
      .groupBy("format")
      .agg(count(lit(1)).as("n_docs"), sum(col("fp")).as("n_fingerprinted"))
  }

  /** Container-level IMAGE format sniff — classification only, no
    * decode (the [[audioFormatOf]] discipline): magics for the decoded
    * envelope (BMP/PNG/GIF/JPEG/TIFF) plus the common formats OUTSIDE
    * it (WebP, AVIF/HEIC ftyp brands). A compressed or 16-bit TIFF
    * still sniffs 'tiff' — coverage then shows it un-hashed, which is
    * exactly the boundary the measurement exists to expose.
    */
  private[graft] def imageFormatOf(bytes: Array[Byte]): String = {
    if (bytes.length >= 2 && bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte) "bmp"
    else if (bytes.length >= 4 && (bytes(0) & 0xff) == 0x89 && asciiAt(bytes, 1, 3) == "PNG") "png"
    else if (asciiAt(bytes, 0, 6) == "GIF87a" || asciiAt(bytes, 0, 6) == "GIF89a") "gif"
    else if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xff &&
             (bytes(1) & 0xff) == 0xd8 && (bytes(2) & 0xff) == 0xff) "jpeg"
    else if (asciiAt(bytes, 0, 4) == "RIFF" && asciiAt(bytes, 8, 4) == "WEBP") "webp"
    else if (bytes.length >= 4 && (asciiAt(bytes, 0, 2) == "II" || asciiAt(bytes, 0, 2) == "MM") && {
      val magic = if (bytes(0) == 'I'.toByte) le16(bytes, 2) else be16(bytes, 2)
      magic == 42
    }) "tiff"
    else if (asciiAt(bytes, 4, 4) == "ftyp") {
      val brand = asciiAt(bytes, 8, 4)
      if (brand.startsWith("avif")) "avif"
      else if (brand.startsWith("hei")) "heic"
      else "isobmff"
    }
    // ICO (r17 s2): the magic is weak (00 00 01 00), so require a sane
    // directory shape too — count 1..64, first entry's reserved byte 0
    else if (bytes.length >= 6 + 16 && le16(bytes, 0) == 0 &&
             le16(bytes, 2) == 1 && le16(bytes, 4) >= 1 &&
             le16(bytes, 4) <= 64 && bytes(9) == 0) "ico"
    // the whole netpbm family sniffs (P1-P6): the bitmap forms P1/P4
    // and non-255 maxvals then count un-hashed — the measured boundary
    else if (bytes.length >= 3 && bytes(0) == 'P'.toByte &&
             bytes(1) >= '1'.toByte && bytes(1) <= '6'.toByte &&
             (bytes(2) == ' ' || bytes(2) == '\t' || bytes(2) == '\r' ||
              bytes(2) == '\n' || bytes(2) == '#')) "pnm"
    else if (asciiAt(bytes, 0, 4) == "qoif") "qoi"
    else "unknown"
  }

  /** Cheap acTL presence sniff: a chunk-HEADER walk (lengths + types
    * only, no payload reads) until acTL, IDAT or the walk ends — the
    * classification half of the APNG family. Sniffs never reject:
    * truncation just answers false.
    */
  private[graft] def pngHasAcTl(bytes: Array[Byte]): Boolean = {
    if (bytes.length < 8 + 25 || !PngSig.indices.forall(i => bytes(i) == PngSig(i)))
      return false
    var off = 8
    while (off + 8 <= bytes.length) {
      val len = be32(bytes, off)
      if (len < 0) return false
      val ctype = tag(bytes, off + 4)
      if (ctype == "acTL") return true
      if (ctype == "IDAT" || ctype == "IEND") return false
      off += 12 + len
    }
    false
  }

  /** Container-level VIDEO format sniff — classification only (the
    * [[audioFormatOf]]/[[imageFormatOf]] discipline): the decoded
    * envelope (animated GIF, RIFF AVI, ISO-BMFF mp4/mov when the video
    * coding is `jpeg` — r17, APNG — r17 session 2) plus the containers
    * outside it (EBML webm/mkv, ISO-BMFF carrying H.264/HEVC). An AVI
    * whose video stream is not MJPG still sniffs 'avi', and an
    * alpha/palette/interlaced APNG still sniffs 'apng' — coverage then
    * shows them un-framed, which is the boundary the measurement
    * exposes. A still PNG (no acTL) is not a video container at all
    * and stays 'unknown' here.
    */
  private[graft] def videoFormatOf(bytes: Array[Byte]): String = {
    if (asciiAt(bytes, 0, 6) == "GIF87a" || asciiAt(bytes, 0, 6) == "GIF89a") "gif"
    else if (pngHasAcTl(bytes)) "apng"
    else if (asciiAt(bytes, 0, 4) == "RIFF" && asciiAt(bytes, 8, 4) == "AVI ") "avi"
    else if (asciiAt(bytes, 4, 4) == "ftyp") {
      val brand = asciiAt(bytes, 8, 4)
      if (brand == "qt  ") "mov" else if (brand.nonEmpty) "mp4" else "isobmff"
    }
    else if (bytes.length >= 4 && (bytes(0) & 0xff) == 0x1a &&
             (bytes(1) & 0xff) == 0x45 && (bytes(2) & 0xff) == 0xdf &&
             (bytes(3) & 0xff) == 0xa3) "ebml" // webm/mkv share the magic
    else "unknown"
  }

  /** The MEASURED video-decode boundary — the third leg of the coverage
    * triple ([[audioCoverage]], [[imageCoverage]]): per sniffed
    * container format, how many clips the frame-hash tier actually
    * decodes (n_framed counts clips yielding ≥1 frame grid). One decode
    * pass per payload, one scan.
    */
  def videoCoverage(spark: SparkSession, df: DataFrame,
                    idCol: String = "doc_id",
                    payloadCol: String = "payload"): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.map { case (_, bytes) =>
        (videoFormatOf(bytes), if (videoFrameGrids(bytes).isDefined) 1L else 0L)
      })
      .toDF("format", "f")
      .groupBy("format")
      .agg(count(lit(1)).as("n_docs"), sum(col("f")).as("n_framed"))
  }

  /** The MEASURED image-decode boundary ([[audioCoverage]]'s image
    * twin, VERDICT r16 #2): per sniffed container format, how many
    * payloads the perceptual-hash tier actually covers. One decode
    * pass per payload (aHash attempt), one scan.
    */
  def imageCoverage(spark: SparkSession, df: DataFrame,
                    idCol: String = "doc_id",
                    payloadCol: String = "payload"): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.map { case (_, bytes) =>
        (imageFormatOf(bytes), if (imageAHash(bytes).isDefined) 1L else 0L)
      })
      .toDF("format", "h")
      .groupBy("format")
      .agg(count(lit(1)).as("n_docs"), sum(col("h")).as("n_hashed"))
  }

  // ================= header-only media metadata (r17) =================
  // The pre-filter pass a 100 TB pipeline runs BEFORE committing decode
  // work: resolution / duration / channel facts from container headers
  // alone — no entropy decode, no pixel or sample materialization — so
  // one cheap scan stage can prune by canvas size, frame count or
  // sample rate ahead of the expensive hash tiers. Deliberately WIDER
  // than the decode envelope: an H.264 MP4 or an MP3 yields no frame
  // grids or fingerprints, but its header metadata is still real and
  // still filters.

  /** One media payload's header facts. Fields are None where the
    * format has no such concept (audio has no canvas, stills no frame
    * count) or where the header genuinely doesn't say (ADPCM sample
    * counts need block math, EBML needs a full parse).
    */
  final case class MediaMetaRow(doc_id: Long, kind: String, format: String,
      width: Option[Int], height: Option[Int], n_frames: Option[Long],
      sample_rate: Option[Int], channels: Option[Int], n_samples: Option[Long],
      orientation: Option[Int], duration_ms: Option[Long])

  private def pngDims(bytes: Array[Byte]): Option[(Int, Int)] = {
    if (bytes.length < 24 || !bytes.startsWith(PngSig)) return None
    if (tag(bytes, 12) != "IHDR") return None
    val w = be32(bytes, 16); val h = be32(bytes, 20)
    if (w <= 0 || h <= 0) None else Some((w, h))
  }

  private def bmpDims(bytes: Array[Byte]): Option[(Int, Int)] = {
    if (bytes.length < 26 || bytes(0) != 'B'.toByte || bytes(1) != 'M'.toByte) return None
    val w = le32(bytes, 18); val h = math.abs(le32(bytes, 22))
    if (w <= 0 || h <= 0) None else Some((w, h))
  }

  private def jpegDims(bytes: Array[Byte]): Option[(Int, Int)] = {
    if (bytes.length < 4 || (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8)
      return None
    var off = 2
    while (off + 4 <= bytes.length) {
      if ((bytes(off) & 0xff) != 0xff) return None
      val m = bytes(off + 1) & 0xff
      if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) { off += 2 }
      else if (m == 0xda || m == 0xd9) return None // scan/EOI before any SOF
      else {
        val segLen = be16(bytes, off + 2)
        if (segLen < 2) return None
        val sof = (m >= 0xc0 && m <= 0xcf) && m != 0xc4 && m != 0xc8 && m != 0xcc
        if (sof) {
          if (off + 9 > bytes.length) return None
          val h = be16(bytes, off + 5)
          val w = be16(bytes, off + 7)
          return if (w <= 0 || h <= 0) None else Some((w, h))
        }
        off += 2 + segLen
      }
    }
    None
  }

  private def tiffDims(bytes: Array[Byte]): Option[(Int, Int)] = {
    if (bytes.length < 8) return None
    val le = bytes(0) == 'I'.toByte && bytes(1) == 'I'.toByte
    val be = bytes(0) == 'M'.toByte && bytes(1) == 'M'.toByte
    if (!le && !be) return None
    val order = new TiffOrder(bytes, le)
    import order.{u16, u32}
    if (u16(2) != 42) return None
    val ifd = u32(4)
    if (ifd < 8 || ifd + 2 > bytes.length) return None
    val n = u16(ifd.toInt)
    if (ifd + 2 + 12L * n > bytes.length) return None
    var w = -1L; var h = -1L
    for (i <- 0 until n) {
      val e = ifd.toInt + 2 + 12 * i
      val tag = u16(e); val typ = u16(e + 2)
      val v: Long =
        if (typ == 3) u16(e + 8).toLong else if (typ == 4) u32(e + 8) else -1L
      if (tag == 256) w = v else if (tag == 257) h = v
    }
    if (w <= 0 || h <= 0 || w > (1 << 20) || h > (1 << 20)) None
    else Some((w.toInt, h.toInt))
  }

  /** EXIF orientation (tag 274, values 1..8) from a JPEG's APP1
    * segment — "Exif\0\0" then a TIFF structure whose IFD0
    * holds the tag. The one header fact that changes what a correct
    * display (and hence a display-orientation-aware perceptual hash)
    * does with the pixels, surfaced so a pipeline can normalize BEFORE
    * hashing. None when there is no APP1, no Exif marker, or no
    * orientation entry — absent is not "1".
    */
  private def jpegExifOrientation(bytes: Array[Byte]): Option[Int] = {
    if (bytes.length < 4 || (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8)
      return None
    var off = 2
    while (off + 4 <= bytes.length) {
      if ((bytes(off) & 0xff) != 0xff) return None
      val m = bytes(off + 1) & 0xff
      if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) { off += 2 }
      else if (m == 0xda || m == 0xd9) return None // entropy data: headers over
      else {
        val segLen = be16(bytes, off + 2)
        if (segLen < 2) return None
        if (m == 0xe1 && segLen >= 16 && off + 2 + segLen <= bytes.length &&
            bytes(off + 4) == 'E' && bytes(off + 5) == 'x' &&
            bytes(off + 6) == 'i' && bytes(off + 7) == 'f' &&
            bytes(off + 8) == 0 && bytes(off + 9) == 0) {
          val base = off + 10 // TIFF structure origin
          val end = off + 2 + segLen
          if (base + 8 > end) return None
          val le = bytes(base) == 'I'.toByte && bytes(base + 1) == 'I'.toByte
          val be = bytes(base) == 'M'.toByte && bytes(base + 1) == 'M'.toByte
          if (!le && !be) return None
          val order = new TiffOrder(bytes, le)
          import order.{u16, u32}
          if (u16(base + 2) != 42) return None
          val ifd = base + u32(base + 4).toInt
          if (ifd + 2 > end) return None
          val n = u16(ifd)
          if (ifd + 2 + 12L * n > end) return None
          for (i <- 0 until n) {
            val e = ifd + 2 + 12 * i
            if (u16(e) == 274 && u16(e + 2) == 3) {
              val v = u16(e + 8)
              return if (v >= 1 && v <= 8) Some(v) else None
            }
          }
          return None
        }
        off += 2 + segLen
      }
    }
    None
  }

  /** Fixture/test wrapper: splice an APP1 Exif segment (TIFF IFD0 with
    * orientation tag 274) right after a JPEG's SOI. */
  def withExifOrientation(jpeg: Array[Byte], orientation: Int,
                          bigEndian: Boolean = false): Array[Byte] = {
    require(orientation >= 1 && orientation <= 8, s"orientation $orientation")
    require(jpeg.length >= 2 && (jpeg(0) & 0xff) == 0xff && (jpeg(1) & 0xff) == 0xd8)
    val tiff = new Array[Byte](26)
    def p16(o: Int, v: Int): Unit = if (bigEndian) putBe16(tiff, o, v) else putLe16(tiff, o, v)
    // a LONG field holding a value below 2^16: its high half stays 0
    def p32(o: Int, v: Int): Unit = p16(if (bigEndian) o + 2 else o, v)
    putTag(tiff, 0, if (bigEndian) "MM" else "II")
    p16(2, 42); p32(4, 8)
    p16(8, 1) // one IFD entry
    // orientation is a SHORT, so it sits left-justified in the value field
    p16(10, 274); p16(12, 3); p32(14, 1); p16(18, orientation)
    p32(22, 0) // next IFD
    val segLen = 2 + 6 + tiff.length
    val app1 = Array(0xff.toByte, 0xe1.toByte) ++ be16Bytes(segLen) ++
      asciiBytes("Exif") ++ Array(0.toByte, 0.toByte) ++ tiff
    jpeg.take(2) ++ app1 ++ jpeg.drop(2)
  }

  /** WebP header facts from whichever form the file leads with —
    * VP8X (extended canvas; when its ANIMATION flag is set, the ANMF
    * chunk walk counts frames and sums their millisecond durations —
    * an animated WebP is the GIF story in a different container),
    * VP8L (lossless, 14-bit packed dims) or VP8 (lossy key-frame
    * header) — none of which needs the bitstream decoded. The one
    * place the metadata pass sees INSIDE a format the hash tier
    * can't. Returns (w, h, n_frames, duration_ms) with the last two
    * None for stills.
    */
  private def webpMeta(bytes: Array[Byte]): Option[(Int, Int, Option[Long], Option[Long])] = {
    if (bytes.length < 25 || tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WEBP") return None
    tag(bytes, 12) match {
      case "VP8X" if bytes.length >= 30 =>
        val w = 1 + le24(bytes, 24); val h = 1 + le24(bytes, 27)
        if ((bytes(20) & 0x02) == 0) Some((w, h, None, None))
        else {
          // animation: length-walk the chunks counting ANMF frames
          var frames = 0L
          var durMs = 0L
          var off = 12
          val riffEnd = math.min(bytes.length.toLong, 8L + le32(bytes, 4)).toInt
          while (off + 8 <= riffEnd && frames < 4096) {
            val sz = le32(bytes, off + 4)
            if (sz < 0 || off + 8 + sz.toLong > riffEnd) return None
            if (tag(bytes, off) == "ANMF" && sz >= 16) {
              frames += 1
              durMs += le24(bytes, off + 8 + 12)
            }
            off += 8 + sz + (sz & 1)
          }
          Some((w, h, Some(frames), if (frames > 0) Some(durMs) else None))
        }
      case "VP8L" if (bytes(20) & 0xff) == 0x2f =>
        val w = 1 + ((bytes(21) & 0xff) | ((bytes(22) & 0x3f) << 8))
        val h = 1 + (((bytes(22) & 0xc0) >>> 6) | ((bytes(23) & 0xff) << 2) |
          ((bytes(24) & 0x0f) << 10))
        Some((w, h, None, None))
      case "VP8 " if bytes.length >= 30 && (bytes(23) & 0xff) == 0x9d &&
          (bytes(24) & 0xff) == 0x01 && (bytes(25) & 0xff) == 0x2a =>
        Some((le16(bytes, 26) & 0x3fff, le16(bytes, 28) & 0x3fff, None, None))
      case _ => None
    }
  }

  /** Fixture/test writer for still-WebP headers (VP8L form). */
  def makeWebpHeader(w: Int, h: Int): Array[Byte] = {
    require(w > 0 && h > 0 && w <= (1 << 14) && h <= (1 << 14))
    val payload = new Array[Byte](6)
    payload(0) = 0x2f
    payload(1) = ((w - 1) & 0xff).toByte
    payload(2) = ((((w - 1) >> 8) & 0x3f) | (((h - 1) & 3) << 6)).toByte
    payload(3) = (((h - 1) >> 2) & 0xff).toByte
    payload(4) = (((h - 1) >> 10) & 0x0f).toByte // alpha 0, version 0
    val out = new java.io.ByteArrayOutputStream()
    ascii(out, "RIFF"); le32(out, 4 + 8 + payload.length)
    ascii(out, "WEBP"); ascii(out, "VP8L"); le32(out, payload.length)
    out.write(payload)
    out.toByteArray
  }

  /** Fixture/test writer for animated-WebP HEADERS: VP8X with the
    * ANIMATION flag, an ANIM chunk, and `frames` ANMF chunk headers
    * each declaring `frameDurMs` (payloads are headers-only junk —
    * the metadata walk never reads frame bitstreams, and the decode
    * tier correctly refuses the format).
    */
  def makeWebpAnim(w: Int, h: Int, frames: Int, frameDurMs: Int): Array[Byte] = {
    require(w > 0 && h > 0 && w <= (1 << 14) && h <= (1 << 14) &&
      frames >= 1 && frames <= 64 && frameDurMs >= 0 && frameDurMs < (1 << 24))
    val out = new java.io.ByteArrayOutputStream()
    val anmfSize = 16 + 8 // header + junk payload (even)
    val riffSize = 4 + (8 + 10) + (8 + 6) + frames * (8 + anmfSize)
    ascii(out, "RIFF"); le32(out, riffSize); ascii(out, "WEBP")
    ascii(out, "VP8X"); le32(out, 10)
    le32(out, 0x02) // flags: ANIMATION
    le24(out, w - 1); le24(out, h - 1)
    ascii(out, "ANIM"); le32(out, 6)
    le32(out, 0) // background color
    le16(out, 0) // loop count
    for (f <- 0 until frames) {
      ascii(out, "ANMF"); le32(out, anmfSize)
      le24(out, 0); le24(out, 0)           // frame x, y
      le24(out, w - 1); le24(out, h - 1)   // frame dims
      le24(out, frameDurMs)
      out.write(0)                     // flags
      for (i <- 0 until 8) out.write((f * 31 + i) & 0xff)
    }
    out.toByteArray
  }

  /** AVIF/HEIC pixel dimensions from the ISO-BMFF `meta` box (r17):
    * `iprp/ipco` holds the property boxes, `ispe` carries the spatial
    * extent, and `pitm` + `ipma` say which property belongs to the
    * PRIMARY item — so a file whose thumbnail precedes its master
    * image still reports the master's dims. Falls back to the first
    * `ispe` when the association tables are absent. Header walk only;
    * the AV1/HEVC payload stays outside the decode envelope.
    */
  private def heifDims(bytes: Array[Byte]): Option[(Int, Int)] = {
    if (bytes.length < 16 || tag(bytes, 4) != "ftyp") return None
    def boxes(start: Int, end: Int): Option[Seq[(String, Int, Int)]] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
      var off = start
      while (off < end) {
        if (off + 8 > end || out.length >= 4096) return None
        val sz = u32be(bytes, off)
        val size: Long = if (sz == 0L) (end - off).toLong else sz
        if (size < 8 || off + size > end) return None
        out += ((tag(bytes, off + 4), off + 8, (off + size).toInt))
        off = (off + size).toInt
      }
      Some(out.toSeq)
    }
    val top = boxes(0, bytes.length).getOrElse(return None)
    val (metaS, metaE) = top.collectFirst { case ("meta", s0, e0) => (s0, e0) }
      .getOrElse(return None)
    if (metaE - metaS < 4) return None
    val kids = boxes(metaS + 4, metaE).getOrElse(return None) // meta is a FULL box
    val primary: Option[Long] = kids.collectFirst { case ("pitm", s0, e0) => (s0, e0) }
      .flatMap { case (s0, e0) =>
        if (e0 - s0 < 6) None
        else if ((bytes(s0) & 0xff) == 0) Some(be16(bytes, s0 + 4).toLong)
        else if (e0 - s0 >= 8) Some(u32be(bytes, s0 + 4))
        else None
      }
    val (iprpS, iprpE) = kids.collectFirst { case ("iprp", s0, e0) => (s0, e0) }
      .getOrElse(return None)
    val iprp = boxes(iprpS, iprpE).getOrElse(return None)
    val (ipcoS, ipcoE) = iprp.collectFirst { case ("ipco", s0, e0) => (s0, e0) }
      .getOrElse(return None)
    val props = boxes(ipcoS, ipcoE).getOrElse(return None) // 1-based property list
    def ispeAt(idx: Int): Option[(Int, Int)] =
      if (idx < 1 || idx > props.length) None
      else props(idx - 1) match {
        case ("ispe", s0, e0) if e0 - s0 >= 12 =>
          val w = u32be(bytes, s0 + 4); val h = u32be(bytes, s0 + 8)
          if (w > 0 && h > 0 && w <= (1 << 20) && h <= (1 << 20))
            Some((w.toInt, h.toInt))
          else None
        case _ => None
      }
    // primary item's associated ispe via ipma, when both tables exist
    val associated: Option[(Int, Int)] = for {
      pid <- primary
      (maS, maE) <- iprp.collectFirst { case ("ipma", s0, e0) => (s0, e0) }
      if maE - maS >= 8
      dims <- {
        val version = bytes(maS) & 0xff
        val wideIdx = (bytes(maS + 3) & 1) != 0
        val n = u32be(bytes, maS + 4)
        var off = maS + 8
        var found: Option[(Int, Int)] = None
        var i = 0L
        val idSize = if (version < 1) 2 else 4
        val idxSize = if (wideIdx) 2 else 1
        while (i < n && found.isEmpty && off < maE) {
          // the item id and the association count must both fit the box
          if (off + idSize >= maE) return None
          val itemId =
            if (version < 1) { val v = be16(bytes, off).toLong; off += 2; v }
            else { val v = u32be(bytes, off); off += 4; v }
          val cnt = bytes(off) & 0xff
          off += 1
          var a = 0
          while (a < cnt && off + idxSize <= maE) {
            val idx =
              if (wideIdx) { val v = be16(bytes, off) & 0x7fff; off += 2; v }
              else { val v = bytes(off) & 0x7f; off += 1; v }
            if (itemId == pid && found.isEmpty) found = ispeAt(idx)
            a += 1
          }
          i += 1
        }
        found
      }
    } yield dims
    associated.orElse(props.zipWithIndex.collectFirst {
      case (("ispe", _, _), i) => ispeAt(i + 1)
    }.flatten)
  }

  /** GIF logical screen + image-descriptor count by LENGTH-walking the
    * block structure (sub-block sizes, color-table flags) — the LZW
    * streams are skipped, never decoded. (w, h, n_frames); None only
    * for a malformed walk, so a zero-frame GIF reports honestly.
    */
  private def gifMeta(bytes: Array[Byte]): Option[(Int, Int, Long, Long)] = {
    if (bytes.length < 14) return None
    val w = le16(bytes, 6); val h = le16(bytes, 8)
    if (w <= 0 || h <= 0) return None
    var off = 13
    val gctFlag = (bytes(10) & 0x80) != 0
    if (gctFlag) off += 3 << ((bytes(10) & 7) + 1)
    var frames = 0L
    var delayCs = 0L // summed Graphic Control Extension delays
    def skipSubBlocks(): Boolean = {
      while (off < bytes.length && bytes(off) != 0) {
        off += 1 + (bytes(off) & 0xff)
      }
      if (off >= bytes.length) false else { off += 1; true }
    }
    while (off < bytes.length) {
      (bytes(off) & 0xff) match {
        case 0x3b => return Some((w, h, frames, delayCs))
        case 0x21 =>
          // GCE (label 0xf9): first sub-block carries the frame delay
          // in centiseconds at +1 — read it, then length-skip as usual
          if (off + 1 < bytes.length && (bytes(off + 1) & 0xff) == 0xf9 &&
              off + 7 < bytes.length && (bytes(off + 2) & 0xff) >= 4)
            delayCs += le16(bytes, off + 4)
          off += 2
          if (!skipSubBlocks()) return None
        case 0x2c =>
          if (off + 10 > bytes.length) return None
          val lf = bytes(off + 9)
          off += 10
          if ((lf & 0x80) != 0) off += 3 << ((lf & 7) + 1)
          off += 1 // LZW minimum code size
          if (off > bytes.length) return None
          if (!skipSubBlocks()) return None
          frames += 1
          if (frames > 4096) return None
        case _ => return None
      }
    }
    Some((w, h, frames, delayCs)) // missing trailer: tolerated at META level
  }

  /** AVI header facts from hdrl alone — avih canvas + dwTotalFrames;
    * the movi list is never touched. */
  private def aviMeta(bytes: Array[Byte]): Option[(Int, Int, Long, Option[Long])] = {
    if (bytes.length < 24 || tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "AVI ") return None
    val riffEnd = math.min(bytes.length.toLong, 12L + u32le(bytes, 4) - 4L).toInt
    var off = 12
    while (off + 8 <= riffEnd) {
      val ck = tag(bytes, off)
      val size = le32(bytes, off + 4)
      if (size < 0 || off + 8 + size.toLong > riffEnd) return None
      if (ck == "LIST" && size >= 4 && tag(bytes, off + 8) == "hdrl") {
        val end = off + 8 + size
        var p = off + 12
        while (p + 8 <= end) {
          val sck = tag(bytes, p)
          val ssz = le32(bytes, p + 4)
          if (ssz < 0 || p + 8 + ssz.toLong > end) return None
          if (sck == "avih" && ssz >= 40) {
            val usPerFrame = le32(bytes, p + 8) & 0xffffffffL
            val frames = le32(bytes, p + 8 + 16) & 0xffffffffL
            val w = le32(bytes, p + 8 + 32)
            val h = le32(bytes, p + 8 + 36)
            val durMs = if (usPerFrame > 0 && frames > 0)
              Some(usPerFrame * frames / 1000) else None
            return if (w <= 0 || h <= 0) None else Some((w, h, frames, durMs))
          }
          p += 8 + ssz + (ssz & 1)
        }
        return None
      }
      off += 8 + size + (size & 1)
    }
    None
  }

  /** FLAC STREAMINFO peek: (sample_rate, channels, total_samples). */
  private def flacMeta(bytes: Array[Byte]): Option[(Int, Int, Long)] = {
    if (bytes.length < 42) return None
    if (!(bytes(0) == 'f'.toByte && bytes(1) == 'L'.toByte &&
          bytes(2) == 'a'.toByte && bytes(3) == 'C'.toByte)) return None
    if ((bytes(4) & 0x7f) != 0) return None // first block must be STREAMINFO
    val rate = ((bytes(18) & 0xff) << 12) | ((bytes(19) & 0xff) << 4) |
      ((bytes(20) & 0xff) >>> 4)
    val ch = ((bytes(20) >>> 1) & 7) + 1
    val total = ((bytes(21) & 0x0fL) << 32) | u32be(bytes, 22)
    if (rate <= 0) None else Some((rate, ch, total))
  }

  /** AU header peek: (sample_rate, channels, n_samples per channel —
    * None for encodings whose unit size the header doesn't fix). */
  private def auMeta(bytes: Array[Byte]): Option[(Int, Int, Option[Long])] = {
    if (bytes.length < 24) return None
    val dataOff = u32be(bytes, 4); val dataSize = u32be(bytes, 8)
    val enc = u32be(bytes, 12); val rate = u32be(bytes, 16); val ch = u32be(bytes, 20)
    if (dataOff < 24 || rate <= 0 || ch < 1) return None
    val avail = math.max(0L, bytes.length - dataOff)
    val dataLen =
      if (dataSize == 0xffffffffL) avail else math.min(dataSize, avail)
    val unit: Option[Long] = enc match {
      case 1L | 2L => Some(1L) // mu-law, 8-bit linear
      case 3L => Some(2L)      // 16-bit linear
      case 4L => Some(3L)      // 24-bit linear
      case 5L => Some(4L)      // 32-bit linear
      case _ => None
    }
    Some((rate.toInt, ch.toInt, unit.map(u => dataLen / u / ch)))
  }

  /** AIFF/AIFC COMM peek: (sample_rate from the 80-bit extended field,
    * channels, declared sample frames). Works for AIFC too — the
    * compressed form's header facts are real even though its samples
    * stay outside the decode envelope. */
  private def aiffMeta(bytes: Array[Byte]): Option[(Int, Int, Long)] = {
    if (bytes.length < 12 || tag(bytes, 0) != "FORM") return None
    val form = tag(bytes, 8)
    if (form != "AIFF" && form != "AIFC") return None
    val formEnd = math.min(bytes.length.toLong, 8L + be32(bytes, 4)).toInt
    var off = 12
    while (off + 8 <= formEnd) {
      val ck = tag(bytes, off)
      val size = be32(bytes, off + 4)
      if (size < 0 || off + 8 + size.toLong > formEnd) return None
      if (ck == "COMM" && size >= 18) {
        val ch = be16(bytes, off + 8)
        val nFrames = u32be(bytes, off + 10)
        // 80-bit IEEE extended at +16: 15-bit exponent, 64-bit mantissa
        val e = (be16(bytes, off + 16) & 0x7fff) - 16383
        val mant = be64(bytes, off + 18)
        val shift = 63 - e
        if (ch < 1 || shift < 0 || shift > 63) return None
        val rate = (mant >>> shift).toInt
        return if (rate <= 0) None else Some((rate, ch, nFrames))
      }
      off += 8 + size + (size & 1)
    }
    None
  }

  // MPEG audio frame-header tables — published canonical constants of
  // the header FORMAT (the same class as the G.711/ADPCM laws), not the
  // codec's Huffman/synthesis tables; parsing headers is not decoding.
  private val Mp3BitrateV1L3 =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val Mp3BitrateV2L3 =
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
  private val Mp3RateV1 = Array(44100, 48000, 32000)

  /** MPEG-audio header peek: (sample_rate, channels, n_samples —
    * the last from WALKING Layer-III frame lengths; Layers I/II report
    * rate/channels only). Skips a leading ID3v2 tag (syncsafe size),
    * then requires a sync within the next 4 KiB. */
  private def mp3Meta(bytes: Array[Byte]): Option[(Int, Int, Option[Long])] = {
    var off = 0
    if (bytes.length >= 10 && bytes(0) == 'I'.toByte && bytes(1) == 'D'.toByte &&
        bytes(2) == '3'.toByte) {
      val size = ((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
        ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)
      off = 10 + size
    }
    val scanEnd = math.min(bytes.length - 4L, off + 4096L).toInt
    var sync = -1
    var p = math.max(off, 0)
    while (sync < 0 && p <= scanEnd) {
      if ((bytes(p) & 0xff) == 0xff && (bytes(p + 1) & 0xe0) == 0xe0 &&
          ((bytes(p + 1) >>> 3) & 3) != 1 && ((bytes(p + 1) >>> 1) & 3) != 0) sync = p
      p += 1
    }
    if (sync < 0) return None
    val vBits = (bytes(sync + 1) >>> 3) & 3   // 3=MPEG1, 2=MPEG2, 0=MPEG2.5
    val layer = (bytes(sync + 1) >>> 1) & 3   // 1=III, 2=II, 3=I
    val rateIdx = (bytes(sync + 2) >>> 2) & 3
    if (rateIdx == 3) return None
    val rate = vBits match {
      case 3 => Mp3RateV1(rateIdx)
      case 2 => Mp3RateV1(rateIdx) / 2
      case _ => Mp3RateV1(rateIdx) / 4
    }
    val channels = if (((bytes(sync + 3) >>> 6) & 3) == 3) 1 else 2
    if (layer != 1) return Some((rate, channels, None)) // I/II: no frame walk
    val spf = if (vBits == 3) 1152L else 576L
    val brTable = if (vBits == 3) Mp3BitrateV1L3 else Mp3BitrateV2L3
    val flenNum = if (vBits == 3) 144 else 72
    var frames = 0L
    var q = sync
    var ok = true
    while (ok && q + 4 <= bytes.length && frames < (1L << 20)) {
      val sameSync = (bytes(q) & 0xff) == 0xff &&
        (bytes(q + 1) & 0xff) == (bytes(sync + 1) & 0xff)
      if (!sameSync) ok = false
      else {
        val brIdx = (bytes(q + 2) >>> 4) & 0xf
        val rIdx = (bytes(q + 2) >>> 2) & 3
        val pad = (bytes(q + 2) >>> 1) & 1
        if (brIdx == 0 || brIdx == 15 || rIdx != rateIdx) ok = false // free-format/bad
        else {
          val flen = flenNum * brTable(brIdx) * 1000 / rate + pad
          if (flen <= 4) ok = false else { q += flen; frames += 1 }
        }
      }
    }
    Some((rate, channels, if (frames > 0) Some(frames * spf) else None))
  }

  private val AdtsRates = Array(96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000, 7350, 0, 0, 0)

  /** ADTS AAC header peek: (sample_rate, channels, n_samples from the
    * frame-length walk × 1024). Channel config 0 (in-band PCE) yields
    * None channels. */
  private def aacMeta(bytes: Array[Byte]): Option[(Int, Option[Int], Option[Long])] = {
    if (bytes.length < 7 || (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xf6) != 0xf0)
      return None
    val rateIdx = (bytes(2) >>> 2) & 0xf
    val rate = AdtsRates(rateIdx)
    if (rate <= 0) return None
    val chanCfg = ((bytes(2) & 1) << 2) | ((bytes(3) >>> 6) & 3)
    var frames = 0L
    var q = 0
    var ok = true
    while (ok && q + 7 <= bytes.length && frames < (1L << 20)) {
      if ((bytes(q) & 0xff) != 0xff || (bytes(q + 1) & 0xf6) != 0xf0) ok = false
      else {
        val flen = ((bytes(q + 3) & 3) << 11) | ((bytes(q + 4) & 0xff) << 3) |
          ((bytes(q + 5) >>> 5) & 7)
        if (flen < 7) ok = false else { q += flen; frames += 1 }
      }
    }
    Some((rate, if (chanCfg == 0) None else Some(chanCfg),
      if (frames > 0) Some(frames * 1024L) else None))
  }

  /** EBML/Matroska header facts (webm/mkv — r17): (docType, video
    * dims, audio rate/channels), from the varint element walk alone.
    * EBML varints carry their length in leading zeros; element IDs
    * keep the marker bit, sizes drop it; an all-ones size means
    * "unknown — runs to the end of the parent", which real muxers
    * emit for Segment during live capture, so the walk honors it.
    * Only the elements the metadata needs are descended (EBML header
    * for DocType; Segment → Tracks → TrackEntry → TrackType +
    * Video{PixelWidth, PixelHeight} / Audio{SamplingFrequency,
    * Channels}); everything else is skipped by size.
    */
  private def ebmlMeta(bytes: Array[Byte]): Option[(String, Option[(Int, Int)],
      Option[(Int, Int)], Option[Long])] = {
    val n = bytes.length
    // (value, lengthInBytes); keepMarker for IDs, clear it for sizes
    def varint(off: Int, keepMarker: Boolean): Option[(Long, Int)] = {
      if (off >= n) return None
      val b0 = bytes(off) & 0xff
      if (b0 == 0) return None
      val len = java.lang.Integer.numberOfLeadingZeros(b0) - 23 // 1..8
      if (len < 1 || len > 8 || off + len > n) return None
      var v = (if (keepMarker) b0 else b0 & ((1 << (8 - len)) - 1)).toLong
      for (i <- 1 until len) v = (v << 8) | (bytes(off + i) & 0xffL)
      Some((v, len))
    }
    def uintAt(off: Int, len: Int): Long = {
      var v = 0L
      for (i <- 0 until len) v = (v << 8) | (bytes(off + i) & 0xffL)
      v
    }
    def floatAt(off: Int, len: Int): Double = len match {
      case 4 => java.lang.Float.intBitsToFloat(uintAt(off, 4).toInt).toDouble
      case 8 => java.lang.Double.longBitsToDouble(uintAt(off, 8))
      case _ => -1.0
    }
    // elements of [start, end): (id, contentStart, contentEnd) — an
    // unknown size (all value bits set) extends to the parent's end
    def elems(start: Int, end: Int): Seq[(Long, Int, Int)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int)]
      var off = start
      var bad = false
      while (!bad && off < end && out.length < 4096) {
        (for {
          (id, idLen) <- varint(off, keepMarker = true)
          (sz, szLen) <- varint(off + idLen, keepMarker = false)
        } yield {
          val cs = off + idLen + szLen
          val unknown = sz == (1L << (7 * szLen)) - 1
          val ce = if (unknown) end else cs + sz
          if (ce > end || ce < cs) bad = true
          else { out += ((id, cs, ce.toInt)); off = ce.toInt }
        }).getOrElse { bad = true }
      }
      if (bad) Seq.empty else out.toSeq
    }
    if (n < 8 || uintAt(0, 4) != 0x1a45dfa3L) return None
    val top = elems(0, n)
    if (top.isEmpty) return None
    var docType = "ebml"
    var video: Option[(Int, Int)] = None
    var audio: Option[(Int, Int)] = None
    var tcScale = 1000000L // EBML default: timecodes in microseconds
    var durationTc = -1.0
    top.foreach {
      case (0x1a45dfa3L, cs, ce) =>
        elems(cs, ce).foreach {
          case (0x4282L, ds, de) if de > ds =>
            docType = new String(bytes, ds, de - ds,
              java.nio.charset.StandardCharsets.US_ASCII).takeWhile(_ != 0)
          case _ => ()
        }
      case (0x18538067L, cs, ce) => // Segment
        elems(cs, ce).foreach {
          case (0x1549a966L, is, ie) => // Info
            elems(is, ie).foreach {
              case (0x2ad7b1L, s2, e2) => tcScale = uintAt(s2, e2 - s2)
              case (0x4489L, s2, e2) =>
                val d = floatAt(s2, e2 - s2)
                if (d > 0) durationTc = d
              case _ => ()
            }
          case (0x1654ae6bL, ts, te) => // Tracks
            elems(ts, te).foreach {
              case (0xaeL, es, ee) => // TrackEntry
                var w = -1; var h = -1; var rate = -1; var ch = -1
                elems(es, ee).foreach {
                  case (0xe0L, vs, ve) => // Video
                    elems(vs, ve).foreach {
                      case (0xb0L, s, e) => w = uintAt(s, e - s).toInt
                      case (0xbaL, s, e) => h = uintAt(s, e - s).toInt
                      case _ => ()
                    }
                  case (0xe1L, as_, ae) => // Audio
                    elems(as_, ae).foreach {
                      case (0xb5L, s, e) =>
                        val r = floatAt(s, e - s)
                        if (r > 0) rate = math.round(r).toInt
                      case (0x9fL, s, e) => ch = uintAt(s, e - s).toInt
                      case _ => ()
                    }
                  case _ => ()
                }
                if (w > 0 && h > 0 && video.isEmpty) video = Some((w, h))
                if (rate > 0 && audio.isEmpty)
                  audio = Some((rate, if (ch > 0) ch else 1))
              case _ => ()
            }
          case _ => ()
        }
      case _ => ()
    }
    val durationMs =
      if (durationTc > 0 && tcScale > 0)
        Some(math.round(durationTc * tcScale / 1e6))
      else None
    Some((docType, video, audio, durationMs))
  }

  /** Ogg header facts: (codec, sample_rate, channels, n_samples) from
    * the page walk — the identification header in the first page
    * (Vorbis `\\x01vorbis`, Opus `OpusHead`) plus the LAST page's
    * granule position, which for both codecs is the total PCM sample
    * count at the coded rate (Opus granules run at 48 kHz by spec).
    * Page CRCs are not verified — this is a length walk, not a
    * bitstream decode.
    */
  private def oggMeta(bytes: Array[Byte]): Option[(String, Int, Int, Option[Long])] = {
    val n = bytes.length
    // matches a magic of any length (OggS, vorbis, OpusHead), not a 4-byte read
    def tag(off: Int, s: String): Boolean =
      off + s.length <= n && s.indices.forall(i => bytes(off + i) == s.charAt(i).toByte)
    if (!tag(0, "OggS")) return None
    var codec = "ogg"; var rate = -1; var ch = -1
    var lastGranule = -1L
    var off = 0
    var pages = 0
    while (tag(off, "OggS") && pages < (1 << 20)) {
      if (off + 27 > n) return None
      val granule = le64(bytes, off + 6)
      val nsegs = bytes(off + 26) & 0xff
      if (off + 27 + nsegs > n) return None
      var bodyLen = 0
      for (i <- 0 until nsegs) bodyLen += bytes(off + 27 + i) & 0xff
      val body = off + 27 + nsegs
      if (body + bodyLen > n) return None
      if (pages == 0) {
        // Vorbis identification packet: type byte 0x01 then "vorbis"
        if (bodyLen >= 30 && bytes(body) == 1 && tag(body + 1, "vorbis")) {
          codec = "ogg_vorbis"
          ch = bytes(body + 11) & 0xff
          rate = le32(bytes, body + 12)
        } else if (tag(body, "OpusHead") && bodyLen >= 19) {
          codec = "ogg_opus"
          ch = bytes(body + 9) & 0xff
          rate = 48000 // granules and frame sizes run at 48 kHz by spec
        } else if (bodyLen >= 51 && (bytes(body) & 0xff) == 0x7f &&
                   tag(body + 1, "FLAC") && tag(body + 9, "fLaC")) {
          // Ogg-FLAC mapping (r17 s2): rate/channels straight from the
          // embedded STREAMINFO (20 + 3 bits at body offset 10)
          codec = "ogg_flac"
          val o = body + 9 + 4 + 4 + 10
          rate = ((bytes(o) & 0xff) << 12) | ((bytes(o + 1) & 0xff) << 4) |
            ((bytes(o + 2) & 0xff) >> 4)
          ch = ((bytes(o + 2) >> 1) & 7) + 1
        }
      }
      if (granule >= 0) lastGranule = granule
      off = body + bodyLen
      pages += 1
    }
    if (rate <= 0 || ch <= 0) None
    else Some((codec, rate, ch, if (lastGranule > 0) Some(lastGranule) else None))
  }

  /** The header-only metadata row for one payload — the dispatch across
    * every sniffable class. A GIF is `video` when it carries 2+ frames,
    * `image` otherwise; an ISO-BMFF file reports its first video
    * track's coding-agnostic facts (an H.264 MP4 gets real dims and a
    * frame count here even though the decode envelope excludes it).
    */
  private[graft] def metaOf(id: Long, bytes: Array[Byte]): MediaMetaRow = {
    def none = MediaMetaRow(id, "unknown", "unknown",
      None, None, None, None, None, None, None, None)
    val af = audioFormatOf(bytes)
    if (af == "ogg") {
      // refine the container sniff to the codec the id packet declares
      return oggMeta(bytes) match {
        case Some((codec, rate, ch, ns)) =>
          MediaMetaRow(id, "audio", codec, None, None, None,
            Some(rate), Some(ch), ns, None, ns.map(_ * 1000 / rate))
        case None => MediaMetaRow(id, "audio", "ogg",
          None, None, None, None, None, None, None, None)
      }
    }
    if (af != "unknown") {
      val (rate, ch, n): (Option[Int], Option[Int], Option[Long]) = af match {
        case a if a.startsWith("wav") =>
          wavAnyHeader(bytes) match {
            case Some((tagId, c, r, _, blockAlign, _, dataLen)) =>
              val ns = tagId match {
                case 1 if blockAlign > 0 => Some(dataLen.toLong / blockAlign)
                case 6 | 7 if c > 0 => Some(dataLen.toLong / c)
                case _ => None // ADPCM frame counts need block math
              }
              (Some(r), Some(c), ns)
            case None => (None, None, None)
          }
        case "flac" => flacMeta(bytes) match {
          case Some((r, c, t)) => (Some(r), Some(c), Some(t))
          case None => (None, None, None)
        }
        case "au" => auMeta(bytes) match {
          case Some((r, c, n0)) => (Some(r), Some(c), n0)
          case None => (None, None, None)
        }
        case "aiff" | "aifc" => aiffMeta(bytes) match {
          case Some((r, c, f)) => (Some(r), Some(c), Some(f))
          case None => (None, None, None)
        }
        case "mp3" | "mpeg_audio" => mp3Meta(bytes) match {
          case Some((r, c, n0)) => (Some(r), Some(c), n0)
          case None => (None, None, None)
        }
        case "aac_adts" => aacMeta(bytes) match {
          case Some((r, c, n0)) => (Some(r), c, n0)
          case None => (None, None, None)
        }
        case _ => (None, None, None)
      }
      // duration is the pruning fact for audio too: derivable whenever
      // the header pinned both the sample count and the rate
      val dur = for { ns <- n; r <- rate if r > 0 } yield ns * 1000 / r
      return MediaMetaRow(id, "audio", af, None, None, None, rate, ch, n, None, dur)
    }
    imageFormatOf(bytes) match {
      // the image ftyp brands would otherwise sniff as mp4 below
      case f @ ("avif" | "heic") =>
        val d = heifDims(bytes)
        return MediaMetaRow(id, "image", f, d.map(_._1), d.map(_._2),
          None, None, None, None, None, None)
      case _ => ()
    }
    videoFormatOf(bytes) match {
      case "avi" =>
        val m = aviMeta(bytes)
        return MediaMetaRow(id, "video", "avi",
          m.map(_._1), m.map(_._2), m.map(_._3), None, None, None, None,
          m.flatMap(_._4))
      case f @ ("mp4" | "mov" | "isobmff") =>
        return mp4VideoTrack(bytes) match {
          case Some(t) => MediaMetaRow(id, "video", f,
            Some(t.w), Some(t.h), Some(t.sizes.length.toLong),
            None, None, None, None, t.durationMs)
          case None => mp4AudioMeta(bytes) match {
            // audio-only ISO-BMFF (M4A): kind is audio, not a
            // dimension-less video
            case Some((rate, ch, dur)) => MediaMetaRow(id, "audio", f,
              None, None, None, Some(rate), Some(ch), None, None, dur)
            case None => MediaMetaRow(id, "video", f,
              None, None, None, None, None, None, None, None)
          }
        }
      case "ebml" =>
        // refine to the DocType and report track facts when present —
        // a muxed webm carries BOTH video dims and audio rate/channels
        return ebmlMeta(bytes) match {
          case Some((doc, video, audio, dur)) =>
            val fmt = doc match {
              case "webm" => "webm"
              case "matroska" => "mkv"
              case _ => "ebml"
            }
            MediaMetaRow(id, "video", fmt,
              video.map(_._1), video.map(_._2), None,
              audio.map(_._1), audio.map(_._2), None, None, dur)
          case None => MediaMetaRow(id, "video", "ebml",
            None, None, None, None, None, None, None, None)
        }
      case _ => ()
    }
    imageFormatOf(bytes) match {
      case "gif" =>
        gifMeta(bytes) match {
          case Some((w, h, f, delayCs)) =>
            MediaMetaRow(id, if (f >= 2) "video" else "image", "gif",
              Some(w), Some(h), Some(f), None, None, None, None,
              if (delayCs > 0) Some(delayCs * 10) else None)
          case None => MediaMetaRow(id, "image", "gif",
            None, None, None, None, None, None, None, None)
        }
      case "webp" =>
        webpMeta(bytes) match {
          case Some((w, h, nf, dur)) =>
            // the GIF kind rule: 2+ frames make it a video
            MediaMetaRow(id, if (nf.exists(_ >= 2)) "video" else "image",
              "webp", Some(w), Some(h), nf, None, None, None, None, dur)
          case None => MediaMetaRow(id, "image", "webp",
            None, None, None, None, None, None, None, None)
        }
      case "png" if pngHasAcTl(bytes) =>
        // APNG: the GIF kind rule (2+ frames make it a video), frame
        // count from acTL, duration from the fcTL delay walk
        apngMeta(bytes) match {
          case Some((w0, h0, nf, dur)) =>
            MediaMetaRow(id, if (nf >= 2) "video" else "image", "apng",
              Some(w0), Some(h0), Some(nf.toLong), None, None, None, None,
              if (dur > 0) Some(dur) else None)
          case None => MediaMetaRow(id, "image", "apng",
            None, None, None, None, None, None, None, None)
        }
      case f @ ("bmp" | "png" | "jpeg" | "tiff") =>
        val d = f match {
          case "bmp" => bmpDims(bytes)
          case "png" => pngDims(bytes)
          case "jpeg" => jpegDims(bytes)
          case _ => tiffDims(bytes)
        }
        // multi-page TIFF (scanned documents): the IFD-chain page
        // count is the pruning fact; single-page files stay None like
        // every other still (r17 s2). Kind stays image — pages are a
        // document's, not an animation's.
        val pages =
          if (f == "tiff") tiffPageCount(bytes).filter(_ >= 2).map(_.toLong)
          else None
        MediaMetaRow(id, "image", f, d.map(_._1), d.map(_._2),
          pages, None, None, None,
          if (f == "jpeg") jpegExifOrientation(bytes) else None, None)
      case "ico" =>
        // largest member's DIRECTORY dims — the header-only peek; a
        // multi-member icon is one image at its display size, not an
        // animation
        val d = icoMeta(bytes)
        MediaMetaRow(id, "image", "ico", d.map(_._1), d.map(_._2),
          None, None, None, None, None, None)
      case "pnm" =>
        // dims are the first two header tokens for EVERY netpbm form —
        // wider than the decode envelope (P1/P4 and 16-bit maxvals
        // report real dims here), the metadata pass's design
        val d = pnmDims(bytes)
        MediaMetaRow(id, "image", "pnm", d.map(_._1), d.map(_._2),
          None, None, None, None, None, None)
      case "qoi" =>
        val okDims = bytes.length >= 14 && be32(bytes, 4) > 0 && be32(bytes, 8) > 0
        MediaMetaRow(id, "image", "qoi",
          if (okDims) Some(be32(bytes, 4)) else None,
          if (okDims) Some(be32(bytes, 8)) else None,
          None, None, None, None, None, None)
      case _ => none // avif/heic already returned above
    }
  }

  /** (doc_id, kind, format, width, height, n_frames, sample_rate,
    * channels, n_samples) over a binary column — one header peek per
    * payload, one scan stage, nothing decoded. The pruning pass that
    * runs BEFORE extractFeatures / the hash tiers at scale.
    */
  def mediaMeta(spark: SparkSession, df: DataFrame,
                idCol: String = "doc_id",
                payloadCol: String = "payload"): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.map { case (id, bytes) => metaOf(id, bytes) })
      .toDF()
  }

  /** Fixture/test writer for MPEG-1 Layer III frame SEQUENCES — valid
    * frame headers with deterministic filler payloads (the metadata
    * walk never reads past the header, and the decode tier correctly
    * refuses the format). Optional leading ID3v2 tag of `id3Size`
    * payload bytes exercises the syncsafe skip.
    */
  def makeMp3Frames(nFrames: Int, rateIdx: Int, bitrateIdx: Int,
                    mono: Boolean, seed: Long, id3Size: Int = 0): Array[Byte] = {
    require(nFrames >= 1 && nFrames <= 4096 && rateIdx >= 0 && rateIdx <= 2 &&
      bitrateIdx >= 1 && bitrateIdx <= 14 && id3Size >= 0 && id3Size <= (1 << 20),
      s"fixture shape $nFrames frames rate=$rateIdx br=$bitrateIdx")
    val out = new java.io.ByteArrayOutputStream()
    if (id3Size > 0) {
      out.write('I'); out.write('D'); out.write('3')
      out.write(3); out.write(0); out.write(0) // v2.3, no flags
      out.write((id3Size >> 21) & 0x7f); out.write((id3Size >> 14) & 0x7f)
      out.write((id3Size >> 7) & 0x7f); out.write(id3Size & 0x7f)
      for (i <- 0 until id3Size) out.write(((seed + i) % 251).toInt)
    }
    val rate = Mp3RateV1(rateIdx)
    val flen = 144 * Mp3BitrateV1L3(bitrateIdx) * 1000 / rate // pad bit 0
    for (f <- 0 until nFrames) {
      out.write(0xff); out.write(0xfb) // MPEG1 Layer III, no CRC
      out.write((bitrateIdx << 4) | (rateIdx << 2))
      out.write(if (mono) 0xc0 else 0x00)
      for (i <- 4 until flen) out.write(((seed + f * 31L + i) % 251).toInt)
    }
    out.toByteArray
  }

  /** Fixture/test writer for ADTS AAC frame sequences — valid 7-byte
    * headers + filler payloads (header walk only, like
    * [[makeMp3Frames]]). */
  def makeAdtsFrames(nFrames: Int, rateIdx: Int, chanCfg: Int,
                     payloadLen: Int, seed: Long): Array[Byte] = {
    require(nFrames >= 1 && nFrames <= 4096 && rateIdx >= 0 && rateIdx <= 11 &&
      chanCfg >= 1 && chanCfg <= 7 && payloadLen >= 1 && payloadLen <= 8192,
      s"fixture shape $nFrames frames rate=$rateIdx ch=$chanCfg")
    val flen = 7 + payloadLen
    val out = new java.io.ByteArrayOutputStream()
    for (f <- 0 until nFrames) {
      out.write(0xff); out.write(0xf1) // MPEG-4, layer 0, no CRC
      out.write((1 << 6) | (rateIdx << 2) | ((chanCfg >> 2) & 1)) // AAC-LC
      out.write(((chanCfg & 3) << 6) | ((flen >> 11) & 3))
      out.write((flen >> 3) & 0xff)
      out.write(((flen & 7) << 5) | 0x1f)
      out.write(0xfc)
      for (i <- 0 until payloadLen) out.write(((seed + f * 17L + i) % 251).toInt)
    }
    out.toByteArray
  }

  /** Fixture/test writer for EBML/Matroska headers: an EBML header
    * with the given DocType, then a Segment holding a Tracks element
    * with a video TrackEntry (PixelWidth/PixelHeight) and, optionally,
    * an audio TrackEntry (SamplingFrequency as a 4-byte float,
    * Channels). `unknownSegmentSize` writes the all-ones size real
    * live-capture muxers emit. Headers only — no Clusters, which is
    * exactly what the metadata walk reads.
    */
  def makeWebm(w: Int, h: Int, docType: String = "webm",
               audioRate: Int = 0, audioCh: Int = 0,
               unknownSegmentSize: Boolean = false,
               durationMs: Int = 0): Array[Byte] = {
    require(w > 0 && h > 0 && w < 65536 && h < 65536, s"fixture dims $w x $h")
    def el(id: Long, content: Array[Byte]): Array[Byte] = {
      val idBytes =
        if (id <= 0xffL) Array(id.toByte)
        else if (id <= 0xffffL) Array((id >> 8).toByte, id.toByte)
        else if (id <= 0xffffffL) Array((id >> 16).toByte, (id >> 8).toByte, id.toByte)
        else Array((id >> 24).toByte, (id >> 16).toByte, (id >> 8).toByte, id.toByte)
      require(content.length < (1 << 14))
      val szBytes = Array((0x40 | (content.length >> 8)).toByte, content.length.toByte)
      idBytes ++ szBytes ++ content
    }
    val ebmlHeader = el(0x1a45dfa3L, el(0x4282L, asciiBytes(docType)))
    val videoEntry = el(0xaeL,
      el(0x83L, Array(1.toByte)) ++
      el(0xe0L, el(0xb0L, be16Bytes(w)) ++ el(0xbaL, be16Bytes(h))))
    val audioEntry =
      if (audioRate <= 0) Array.empty[Byte]
      else el(0xaeL,
        el(0x83L, Array(2.toByte)) ++
        el(0xe1L, el(0xb5L, be32Bytes(java.lang.Float.floatToIntBits(audioRate.toFloat))) ++
          el(0x9fL, Array(audioCh.toByte))))
    val tracks = el(0x1654ae6bL, videoEntry ++ audioEntry)
    val info =
      if (durationMs <= 0) Array.empty[Byte]
      else el(0x1549a966L,
        // TimecodeScale 1e6 ns => 1 timecode unit = 1 ms
        el(0x2ad7b1L, Array(0x0f.toByte, 0x42.toByte, 0x40.toByte)) ++
        el(0x4489L, be32Bytes(java.lang.Float.floatToIntBits(durationMs.toFloat))))
    val body = info ++ tracks
    val segment =
      if (unknownSegmentSize) {
        val idB = Array(0x18.toByte, 0x53.toByte, 0x80.toByte, 0x67.toByte)
        idB ++ Array(0xff.toByte) ++ body // 1-byte all-ones size: unknown
      } else el(0x18538067L, body)
    ebmlHeader ++ segment
  }

  /** Fixture/test writer for Ogg Vorbis/Opus HEADERS: page 0 carries
    * the identification packet, page 1 an EOS page whose granule
    * position is the total sample count. CRCs are zero — the metadata
    * walk is a length walk and real CRC validation belongs to a
    * decoder this repo deliberately doesn't claim.
    */
  def makeOgg(nSamples: Long, rate: Int, channels: Int, opus: Boolean,
              seed: Long): Array[Byte] = {
    require(nSamples >= 0 && rate > 0 && channels >= 1 && channels <= 8)
    val idPacket: Array[Byte] =
      if (opus) {
        val b = new java.io.ByteArrayOutputStream()
        ascii(b, "OpusHead")
        b.write(1); b.write(channels)
        le16(b, 0) // pre-skip
        le32(b, rate) // input rate (informative)
        b.write(0); b.write(0); b.write(0) // gain + mapping family
        b.toByteArray
      } else {
        val b = new java.io.ByteArrayOutputStream()
        b.write(1); ascii(b, "vorbis")
        le32(b, 0) // version
        b.write(channels)
        le32(b, rate)
        for (_ <- 0 until 12) b.write(0) // bitrate triple
        b.write(0xb8) // blocksizes + framing
        b.write(1)
        b.toByteArray
      }
    val junk = Array.tabulate(40)(i => ((seed + i) % 251).toByte)
    oggPage(0x42, 0L, 0, 2, idPacket) ++ oggPage(0x42, nSamples, 1, 4, junk)
  }

  /** One Ogg page (fixture side) carrying `body` as a single packet:
    * version 0, little-endian granule, serial and sequence number, a
    * zero CRC (no walk here verifies it), then the lacing table.
    */
  private def oggPage(serial: Int, granule: Long, seq: Int, flags: Int,
                      body: Array[Byte]): Array[Byte] = {
    require(body.length <= 255 * 255)
    val nsegs = body.length / 255 + 1
    val out = new java.io.ByteArrayOutputStream()
    ascii(out, "OggS")
    out.write(0); out.write(flags)
    le32(out, granule.toInt); le32(out, (granule >>> 32).toInt)
    le32(out, serial); le32(out, seq)
    le32(out, 0) // crc
    out.write(nsegs)
    var rem = body.length
    for (_ <- 0 until nsegs - 1) { out.write(255); rem -= 255 }
    out.write(rem)
    out.write(body)
    out.toByteArray
  }

  /** Fixture/test writer for Ogg-FLAC (r17 s2): wraps [[Flac.make]]'s
    * native stream in the mapping layout — first packet = the 51-byte
    * mapping header (0x7F "FLAC", version 1.0, header count, verbatim
    * `fLaC` + STREAMINFO with the last-block flag CLEARED when a
    * comment header follows), an optional vorbis-comment header
    * packet, then the frames as one audio packet. Decoded samples are
    * [[makeWav]]'s exact law, so the Ogg wrap is a fingerprint twin of
    * both the bare FLAC and the PCM16 WAV of the same seed.
    */
  def makeOggFlac(nFrames: Int, channels: Int, sampleRate: Int, seed: Long,
                  withComment: Boolean = true): Array[Byte] = {
    val native = Flac.make(nFrames, channels, sampleRate, seed)
    val si = java.util.Arrays.copyOfRange(native, 0, 42)
    val frames = java.util.Arrays.copyOfRange(native, 42, native.length)
    val nHeaders = if (withComment) 1 else 0
    if (withComment) si(4) = (si(4) & 0x7f).toByte // more headers follow
    val p0 = Array[Byte](0x7f.toByte, 'F'.toByte, 'L'.toByte, 'A'.toByte,
      'C'.toByte, 1, 0) ++ be16Bytes(nHeaders) ++ si
    // vorbis-comment metadata block (type 4): tiny vendor string
    val comment: Array[Byte] = {
      val vendor = asciiBytes("graft")
      val body = Array[Byte](vendor.length.toByte, 0, 0, 0) ++ vendor ++
        Array[Byte](0, 0, 0, 0)
      Array[Byte](4, 0, 0, body.length.toByte) ++ body
    }
    var seq = 0
    def nextSeq(): Int = { val s = seq; seq += 1; s }
    val out = new java.io.ByteArrayOutputStream()
    out.write(oggPage(0x46, 0L, nextSeq(), 2, p0))
    if (withComment) out.write(oggPage(0x46, 0L, nextSeq(), 0, comment))
    out.write(oggPage(0x46, nFrames.toLong, nextSeq(), 4, frames))
    out.toByteArray
  }

  /** Fixture/test writer for AVIF/HEIC metadata headers: ftyp + a
    * `meta` full box holding pitm (primary item 1), iprp/ipco with an
    * optional THUMBNAIL ispe ahead of the primary ispe, and an ipma
    * associating item 1 with the primary property — so a correct
    * reader must follow the association, not grab the first ispe.
    * Header-only (no AV1/HEVC payload), which is exactly what the
    * metadata walk reads and the decode tier refuses.
    */
  def makeHeifHeader(w: Int, h: Int, brand: String = "avif",
                     thumbW: Int = 0, thumbH: Int = 0): Array[Byte] = {
    require(w > 0 && h > 0 && w < (1 << 20) && h < (1 << 20))
    val ftyp = box("ftyp", asciiBytes(brand), be32Bytes(0), asciiBytes(brand))
    def ispe(iw: Int, ih: Int): Array[Byte] =
      box("ispe", be32Bytes(0), be32Bytes(iw.toLong), be32Bytes(ih.toLong))
    val withThumb = thumbW > 0 && thumbH > 0
    val ipco =
      if (withThumb) box("ipco", ispe(thumbW, thumbH), ispe(w, h))
      else box("ipco", ispe(w, h))
    val primaryIdx = if (withThumb) 2 else 1
    val ipmaEntries = // item 1 -> primary ispe; thumb item 2 -> ispe 1
      if (withThumb)
        be32Bytes(2) ++ be16Bytes(1) ++ Array(1.toByte, primaryIdx.toByte) ++
          be16Bytes(2) ++ Array(1.toByte, 1.toByte)
      else be32Bytes(1) ++ be16Bytes(1) ++ Array(1.toByte, primaryIdx.toByte)
    val ipma = box("ipma", be32Bytes(0), ipmaEntries)
    val iprp = box("iprp", ipco, ipma)
    val pitm = box("pitm", be32Bytes(0), be16Bytes(1))
    val meta = box("meta", be32Bytes(0), hdlrBox("pict"), pitm, iprp)
    ftyp ++ meta
  }

  /** Decode/feature-extract over the binary column. `mapPartitions` is the
    * deliberate shape: per-task decoder init happens once, rows stream
    * through without materializing the partition, and the output is a
    * typed Dataset with a fixed feature width.
    */
  def extractFeatures(spark: SparkSession, df: DataFrame,
                      idCol: String = "doc_id",
                      payloadCol: String = "payload"): Dataset[MediaFeatures] = {
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // real decoder init happens HERE, once per partition; BMP needs
        // none, other formats' codecs would
        rows.map { case (id, bytes) => decode(id, bytes) }
      }
  }

  /** Frame-sampling plumbing for video-like payloads: split a payload into
    * fixed-size "frames" and keep every `stride`-th — pure expressions, no
    * decode, demonstrating byte-range sampling pushdown-style access.
    */
  def sampleFrames(df: DataFrame, payloadCol: String, frameBytes: Int,
                   stride: Int): DataFrame = {
    val nFrames = ceil(length(col(payloadCol)) / frameBytes.toDouble).cast(IntegerType)
    val sampled = transform(
      sequence(lit(0), greatest(nFrames - 1, lit(0)), lit(stride)),
      i => substring(col(payloadCol), i * frameBytes + 1, lit(frameBytes)))
    // a zero-byte payload (failed upstream fetch) has zero frames, not one
    // empty frame
    df.withColumn("frames",
        when(nFrames > 0, sampled).otherwise(array().cast("array<binary>")))
      .withColumn("n_frames_sampled", size(col("frames")))
  }

  /** One analysis frame of 16-bit PCM audio: exact integer energy
    * (Σ s²) and zero-crossing count — every field a closed integer, so
    * the whole analysis is hash-replayable by an external engine.
    */
  case class WavFrameStats(doc_id: Long, frame_idx: Int, n_samples: Int,
                           energy: Long, zcross: Long)

  /** Frame-level PCM analysis over a WAV binary column — the audio
    * twin of the image feature walk, and the primitive a curation
    * pipeline builds silence-trimming / voice-activity gates from.
    * Splits the FLAT sample stream into fixed `frameLen`-sample frames
    * (hop = frame length, no overlap; the final partial frame keeps its
    * true `n_samples`); per frame: energy `Σ s²` (a 16-bit sample
    * squares to < 2³⁰ — a 2⁶³ accumulator holds ~8·10⁹ samples per
    * frame) and zero crossings `Σ 1{s·prev < 0}` counted over pairs
    * WITHIN the frame (strict sign flip; zeros break runs without
    * counting). Multi-channel payloads analyze the interleaved stream
    * as-is — de-interleave upstream for per-channel gates.
    *
    * Same `mapPartitions` shape as [[extractFeatures]] (per-task init,
    * streaming rows); payloads that are not 16-bit PCM WAV emit NO
    * rows — gates see absent audio, not fake silence.
    */
  def wavFrameStats(spark: SparkSession, df: DataFrame, frameLen: Int,
                    idCol: String = "doc_id",
                    payloadCol: String = "payload"): Dataset[WavFrameStats] = {
    require(frameLen >= 2, s"frameLen=$frameLen must be >= 2")
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          wavPcmHeader(bytes) match {
            case None => Iterator.empty
            case Some((_, _, dataOff, dataLen)) =>
              val nSamples = dataLen / 2
              val nFrames = (nSamples + frameLen - 1) / frameLen
              Iterator.tabulate(nFrames) { f =>
                val start = f * frameLen
                val end = math.min(start + frameLen, nSamples)
                var energy = 0L; var zc = 0L
                var prev = 0
                var i = start
                while (i < end) {
                  val s = le16(bytes, dataOff + 2 * i).toShort.toInt
                  energy += s.toLong * s
                  if (i > start && s * prev < 0) zc += 1
                  prev = s
                  i += 1
                }
                WavFrameStats(id, f, end - start, energy, zc)
              }
          }
        }
      }
  }
}

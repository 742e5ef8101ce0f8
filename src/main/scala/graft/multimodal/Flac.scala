package graft.multimodal

/** From-scratch FLAC decoder (xiph.org FLAC format spec) — the first
  * COMPRESSED audio format through a real decode path, extending the
  * multimodal dedup envelope past PCM WAV (reference scope:
  * `etl/transform.py` treats media as opaque payloads; this module is
  * extension tier). Supported envelope, verified by spec + oracle:
  *
  *   - STREAMINFO metadata (sample rate / channels / bits-per-sample /
  *     total samples), all other metadata blocks skipped by length;
  *   - frames with fixed blocking strategy, all standard block-size and
  *     sample-rate codes, 16-bit samples;
  *   - subframes: CONSTANT, VERBATIM, FIXED (orders 0-4) and LPC
  *     (orders 1-32), wasted-bits handling;
  *   - partitioned Rice residuals (4- and 5-bit parameters, escape
  *     partitions);
  *   - stereo decorrelation: independent, left/side, right/side,
  *     mid/side.
  *
  * Anything outside (non-16-bit streams, variable blocking) returns
  * None — the [[Multimodal.decode]] convention: a payload outside the
  * envelope is invisible, never fabricated. CRCs are parsed positionally
  * but not validated (the gate is byte-exact sample equality against
  * closed-form fixtures, a stronger check than a checksum).
  */
object Flac {

  /** Decoded stream: interleaved samples, the [[Multimodal]] PCM shape. */
  final case class FlacAudio(channels: Int, sampleRate: Int, samples: Array[Int])

  private final class Bad extends RuntimeException

  /** MSB-first bit reader over the frame region. */
  private final class Bits(val b: Array[Byte], var pos: Int) { // pos in BITS
    def readBit(): Int = {
      val byteI = pos >>> 3
      if (byteI >= b.length) throw new Bad
      val v = (b(byteI) >> (7 - (pos & 7))) & 1
      pos += 1
      v
    }
    def read(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    def readSigned(n: Int): Int = {
      val v = read(n)
      // sign-extend an n-bit two's-complement value
      if (n == 0) 0
      else if ((v & (1L << (n - 1))) != 0) (v - (1L << n)).toInt
      else v.toInt
    }
    def readUnary(): Int = {
      var q = 0
      while (readBit() == 0) { q += 1; if (q > (1 << 24)) throw new Bad }
      q
    }
    def alignByte(): Unit = pos = (pos + 7) & ~7
  }

  /** Decode a FLAC stream to interleaved PCM; None outside the envelope
    * or on any malformed structure.
    */
  def decode(bytes: Array[Byte]): Option[FlacAudio] = {
    if (bytes.length < 42 || bytes(0) != 'f' || bytes(1) != 'L' ||
        bytes(2) != 'a' || bytes(3) != 'C') return None
    try decodeInner(bytes)
    catch { case _: Bad | _: ArrayIndexOutOfBoundsException => None }
  }

  private def decodeInner(bytes: Array[Byte]): Option[FlacAudio] = {
    var off = 4
    var sampleRate = 0; var channels = 0; var bps = 0; var total = 0L
    var sawStreamInfo = false
    var last = false
    while (!last) {
      if (off + 4 > bytes.length) return None
      val h = bytes(off) & 0xff
      last = (h & 0x80) != 0
      val btype = h & 0x7f
      val len = Bytes.be24(bytes, off + 1)
      off += 4
      if (off + len > bytes.length) return None
      if (btype == 0) { // STREAMINFO
        if (len != 34) return None
        // [minBlock 16][maxBlock 16][minFrame 24][maxFrame 24]
        // [rate 20][ch-1 3][bps-1 5][total 36] [md5 128]
        val b = new Bits(bytes, (off + 10) * 8)
        sampleRate = b.read(20).toInt
        channels = b.read(3).toInt + 1
        bps = b.read(5).toInt + 1
        total = b.read(36)
        sawStreamInfo = true
      }
      off += len
    }
    if (!sawStreamInfo || sampleRate <= 0 || channels < 1 || channels > 8 ||
        bps != 16 || total < 0 || total > (1L << 24)) return None
    val out = new Array[Int]((total * channels).toInt)
    var written = 0L // in inter-channel sample frames
    val br = new Bits(bytes, off * 8)
    while (written < total) {
      val n = decodeFrame(br, channels, bps, out, (written * channels).toInt)
      written += n
    }
    Some(FlacAudio(channels, sampleRate, out))
  }

  /** One frame; returns its block size (samples per channel). */
  private def decodeFrame(br: Bits, channels: Int, bps: Int,
                          out: Array[Int], outOff: Int): Int = {
    br.alignByte()
    if (br.read(14) != 0x3ffe) throw new Bad // sync
    if (br.readBit() != 0) throw new Bad // reserved
    if (br.readBit() != 0) throw new Bad // fixed blocking only
    val bsCode = br.read(4).toInt
    val srCode = br.read(4).toInt
    val chAsgn = br.read(4).toInt
    val ssCode = br.read(3).toInt
    if (br.readBit() != 0) throw new Bad // reserved
    // frame number: UTF-8-style coded — read and discard
    val first = br.read(8).toInt
    var extra = 0
    var f = first
    while ((f & 0x80) != 0) { extra += 1; f <<= 1 }
    if (extra == 1 || extra > 6) throw new Bad
    var i = 0
    while (i < math.max(extra - 1, 0)) { br.read(8); i += 1 }
    val blockSize = bsCode match {
      case 0 => throw new Bad
      case 1 => 192
      case c if c >= 2 && c <= 5 => 576 << (c - 2)
      case 6 => br.read(8).toInt + 1
      case 7 => br.read(16).toInt + 1
      case c => 256 << (c - 8)
    }
    srCode match { // value comes from STREAMINFO; codes only advance bits
      case 12 => br.read(8)
      case 13 | 14 => br.read(16)
      case 15 => throw new Bad
      case _ => ()
    }
    // sample size code must agree with STREAMINFO 16-bit (code 4) or
    // defer to it (code 0)
    if (ssCode != 0 && ssCode != 4) throw new Bad
    br.read(8) // header CRC-8 (not validated — see object scaladoc)
    val nCh = if (chAsgn <= 7) chAsgn + 1 else 2
    if (nCh != channels) throw new Bad
    val chans = Array.ofDim[Int](nCh, blockSize)
    var c = 0
    while (c < nCh) {
      // stereo decorrelation: the SIDE channel carries one extra bit
      val extraBit = chAsgn match {
        case 8 => if (c == 1) 1 else 0  // left/side
        case 9 => if (c == 0) 1 else 0  // side/right
        case 10 => if (c == 1) 1 else 0 // mid/side
        case _ => 0
      }
      decodeSubframe(br, blockSize, bps + extraBit, chans(c))
      c += 1
    }
    br.alignByte()
    br.read(16) // frame CRC-16 (not validated)
    // undo decorrelation and interleave
    var s = 0
    while (s < blockSize) {
      chAsgn match {
        case 8 => // left/side: right = left - side
          val l = chans(0)(s); val sd = chans(1)(s)
          out(outOff + 2 * s) = l; out(outOff + 2 * s + 1) = l - sd
        case 9 => // side/right: left = right + side
          val sd = chans(0)(s); val r = chans(1)(s)
          out(outOff + 2 * s) = r + sd; out(outOff + 2 * s + 1) = r
        case 10 => // mid/side (mid is the shifted sum per spec)
          val m = chans(0)(s); val sd = chans(1)(s)
          val mm = (m << 1) | (sd & 1)
          out(outOff + 2 * s) = (mm + sd) >> 1
          out(outOff + 2 * s + 1) = (mm - sd) >> 1
        case _ =>
          var cc = 0
          while (cc < nCh) {
            out(outOff + nCh * s + cc) = chans(cc)(s); cc += 1
          }
      }
      s += 1
    }
    blockSize
  }

  private val FixedCoefs: Array[Array[Int]] = Array(
    Array(), Array(1), Array(2, -1), Array(3, -3, 1), Array(4, -6, 4, -1))

  private def decodeSubframe(br: Bits, blockSize: Int, bps: Int,
                             dst: Array[Int]): Unit = {
    if (br.readBit() != 0) throw new Bad // padding
    val t = br.read(6).toInt
    var wasted = 0
    if (br.readBit() == 1) { wasted = br.readUnary() + 1 }
    val ebps = bps - wasted
    if (t == 0) { // CONSTANT
      val v = br.readSigned(ebps)
      java.util.Arrays.fill(dst, 0, blockSize, v)
    } else if (t == 1) { // VERBATIM
      var i = 0
      while (i < blockSize) { dst(i) = br.readSigned(ebps); i += 1 }
    } else if (t >= 8 && t <= 12) { // FIXED, order = t & 7
      val order = t & 7
      var i = 0
      while (i < order) { dst(i) = br.readSigned(ebps); i += 1 }
      readResiduals(br, blockSize, order, dst)
      val coefs = FixedCoefs(order)
      i = order
      while (i < blockSize) {
        var pred = 0L
        var j = 0
        while (j < order) { pred += coefs(j).toLong * dst(i - 1 - j); j += 1 }
        dst(i) = (dst(i) + pred).toInt
        i += 1
      }
    } else if (t >= 32) { // LPC, order = (t & 31) + 1
      val order = (t & 31) + 1
      var i = 0
      while (i < order) { dst(i) = br.readSigned(ebps); i += 1 }
      val precision = br.read(4).toInt + 1
      if (precision == 16) throw new Bad // 0b1111 is invalid per spec
      val shift = br.readSigned(5)
      if (shift < 0) throw new Bad
      val coefs = new Array[Int](order)
      i = 0
      while (i < order) { coefs(i) = br.readSigned(precision); i += 1 }
      readResiduals(br, blockSize, order, dst)
      i = order
      while (i < blockSize) {
        var pred = 0L
        var j = 0
        while (j < order) { pred += coefs(j).toLong * dst(i - 1 - j); j += 1 }
        dst(i) = (dst(i) + (pred >> shift)).toInt
        i += 1
      }
    } else throw new Bad // reserved types
    if (wasted > 0) {
      var i = 0
      while (i < blockSize) { dst(i) <<= wasted; i += 1 }
    }
  }

  /** Partitioned Rice residuals into dst(order until blockSize). */
  private def readResiduals(br: Bits, blockSize: Int, order: Int,
                            dst: Array[Int]): Unit = {
    val method = br.read(2).toInt
    if (method > 1) throw new Bad
    val pBits = if (method == 0) 4 else 5
    val escape = (1 << pBits) - 1
    val po = br.read(4).toInt
    val parts = 1 << po
    if (blockSize % parts != 0) throw new Bad
    var idx = order
    var p = 0
    while (p < parts) {
      val count = (blockSize >> po) - (if (p == 0) order else 0)
      if (count < 0) throw new Bad
      val param = br.read(pBits).toInt
      if (param == escape) {
        val raw = br.read(5).toInt
        var i = 0
        while (i < count) { dst(idx) = br.readSigned(raw); idx += 1; i += 1 }
      } else {
        var i = 0
        while (i < count) {
          val q = br.readUnary()
          val r = br.read(param)
          val u = (q.toLong << param) | r
          // zigzag: even -> u/2, odd -> -(u+1)/2
          dst(idx) = (if ((u & 1) == 0) u >> 1 else -((u + 1) >> 1)).toInt
          idx += 1; i += 1
        }
      }
      p += 1
    }
  }

  // ---- fixture writer ---------------------------------------------------

  /** MSB-first bit writer. */
  private final class BitsOut {
    private val buf = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nBits = 0
    def put(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >> i) & 1).toInt
        nBits += 1
        if (nBits == 8) { buf.write(cur); cur = 0; nBits = 0 }
        i -= 1
      }
    }
    def putSigned(v: Int, n: Int): Unit = put(v.toLong & ((1L << n) - 1), n)
    def putUnary(q: Int): Unit = { var i = 0; while (i < q) { put(0, 1); i += 1 }; put(1, 1) }
    def align(): Unit = while (nBits != 0) put(0, 1)
    def bytes: Array[Byte] = { align(); buf.toByteArray }
  }

  /** Fixture/test writer: REAL FLAC streams with the WAV fixture's exact
    * closed-form samples `((seed + i·13) mod 256) − 128` (i = flat
    * interleaved index), so a [[Multimodal.makeWav]] twin of the same
    * shape decodes to IDENTICAL PCM (spec-pinned) and the WAV oracles
    * replay verbatim. Frames cycle the subframe families so the real
    * entropy paths are all on the gate line: frame f mod 4 → VERBATIM /
    * FIXED order 1 / FIXED order 2 / LPC order 2 (coefficients [2, −1]
    * at shift 0 — the FIXED-2 predictor expressed through the LPC
    * machinery: precision field, signed coefficient reads, shifted
    * 64-bit accumulation), the predicted kinds with single-partition
    * Rice residuals (parameter from the frame's mean |residual|).
    * Stereo (`channels = 2`) cycles ALL FOUR channel assignments with
    * the kind: independent / left-side / mid-side / right-side, so
    * every decorrelation reconstruction is on the gate line. Total
    * samples must be a multiple of blockSize (whole frames only — the
    * fixture discipline, not a format limit).
    */
  def make(nFrames: Int, channels: Int, sampleRate: Int, seed: Long,
           blockSize: Int = 192): Array[Byte] = {
    require(channels == 1 || channels == 2, "fixture writer: mono or stereo")
    require(nFrames > 0 && nFrames % blockSize == 0 && blockSize <= 256 &&
      nFrames <= (1 << 20) && sampleRate > 0 && sampleRate < (1 << 20),
      s"fixture shape $nFrames frames @ $blockSize")
    def sample(flat: Long): Int = (((seed + flat * 13L) % 256) - 128).toInt
    val out = new java.io.ByteArrayOutputStream()
    Bytes.ascii(out, "fLaC")
    // STREAMINFO, last metadata block
    val si = new BitsOut
    si.put(blockSize, 16); si.put(blockSize, 16) // min/max block size
    si.put(0, 24); si.put(0, 24) // min/max frame size (0 = unknown)
    si.put(sampleRate, 20); si.put(channels - 1, 3); si.put(15, 5) // bps-1
    si.put(nFrames.toLong, 36)
    si.put(0, 128) // md5 (unset)
    val siBytes = si.bytes
    Bytes.be32(out, 0x80000000 | siBytes.length) // last block, type 0, 24-bit length
    out.write(siBytes, 0, siBytes.length)
    val nBlocks = nFrames / blockSize
    var fIdx = 0
    while (fIdx < nBlocks) {
      val w = new BitsOut
      w.put(0x3ffe, 14); w.put(0, 1); w.put(0, 1) // sync, reserved, fixed
      w.put(6, 4) // block size: 8-bit at end of header
      w.put(0, 4) // sample rate: from STREAMINFO
      val kind = fIdx % 4
      // stereo: channel assignment cycles with the kind
      val asgn =
        if (channels == 1) 0
        else kind match {
          case 0 => 1  // independent
          case 1 => 8  // left/side
          case 2 => 10 // mid/side
          case _ => 9  // side/right
        }
      w.put(asgn, 4)
      w.put(4, 3) // 16-bit
      w.put(0, 1)
      // frame number, UTF-8 coded (fixture frames stay below 2^7)
      require(fIdx < 128, "fixture writer: frame count fits 1-byte numbering")
      w.put(fIdx, 8)
      w.put(blockSize - 1, 8)
      w.put(0, 8) // CRC-8 placeholder (decoder parses positionally)
      // per-channel source samples for this frame
      val src = Array.ofDim[Int](channels, blockSize)
      var s = 0
      while (s < blockSize) {
        var c = 0
        while (c < channels) {
          src(c)(s) = sample((fIdx.toLong * blockSize + s) * channels + c)
          c += 1
        }
        s += 1
      }
      def side(i: Int): Int = src(0)(i) - src(1)(i)
      val enc: Array[Array[Int]] = asgn match {
        case 8 => Array(src(0), Array.tabulate(blockSize)(side))
        case 9 => Array(Array.tabulate(blockSize)(side), src(1))
        case 10 => Array(
          Array.tabulate(blockSize)(i => (src(0)(i) + src(1)(i)) >> 1),
          Array.tabulate(blockSize)(side))
        case _ => src
      }
      var c = 0
      while (c < channels) {
        val sideCh = (asgn == 8 && c == 1) || (asgn == 9 && c == 0) ||
          (asgn == 10 && c == 1)
        writeSubframe(w, enc(c), 16 + (if (sideCh) 1 else 0), kind)
        c += 1
      }
      w.align()
      w.put(0, 16) // CRC-16 placeholder
      val fb = w.bytes
      out.write(fb, 0, fb.length)
      fIdx += 1
    }
    out.toByteArray
  }

  private def writeSubframe(w: BitsOut, xs: Array[Int], bps: Int, kind: Int): Unit = {
    w.put(0, 1) // padding
    // kind: 0 = VERBATIM, 1 = FIXED order 1, 2 = FIXED order 2,
    // 3 = LPC order 2 with coefficients [2, -1] at shift 0 (the FIXED-2
    // predictor through the LPC machinery)
    val order = if (kind == 3) 2 else kind
    if (kind == 0) {
      w.put(1, 6) // VERBATIM
      w.put(0, 1) // no wasted bits
      var i = 0
      while (i < xs.length) { w.putSigned(xs(i), bps); i += 1 }
    } else {
      if (kind == 3) w.put(32 | (order - 1), 6) // LPC
      else w.put(8 | order, 6) // FIXED
      w.put(0, 1)
      var i = 0
      while (i < order) { w.putSigned(xs(i), bps); i += 1 }
      if (kind == 3) {
        w.put(3, 4) // precision - 1 = 3 (4-bit coefficients)
        w.putSigned(0, 5) // shift
        w.putSigned(2, 4); w.putSigned(-1, 4)
      }
      // residuals under the (shared) predictor
      val res = new Array[Int](xs.length - order)
      i = order
      while (i < xs.length) {
        val pred =
          if (order == 1) xs(i - 1).toLong
          else 2L * xs(i - 1) - xs(i - 2)
        res(i - order) = (xs(i) - pred).toInt
        i += 1
      }
      // single Rice partition; parameter from the mean |residual|
      var sumAbs = 0L
      res.foreach(r => sumAbs += math.abs(r))
      val mean = if (res.isEmpty) 0L else sumAbs / math.max(res.length, 1)
      var param = 0
      while ((1L << param) < mean + 1 && param < 14) param += 1
      w.put(0, 2) // Rice method 0 (4-bit params)
      w.put(0, 4) // partition order 0
      w.put(param, 4)
      res.foreach { r =>
        val u = if (r >= 0) r.toLong << 1 else ((-r.toLong) << 1) - 1
        w.putUnary((u >> param).toInt)
        w.put(u & ((1L << param) - 1), param)
      }
    }
  }
}

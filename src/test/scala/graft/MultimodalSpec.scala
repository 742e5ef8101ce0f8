package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "hello world"), (2L, "spark multimodal payload")).toDF("doc_id", "text")

  test("withBinaryPayload: binary column + typed metadata") {
    val b = Multimodal.withBinaryPayload(docs, "text")
    assert(b.schema("payload").dataType.typeName === "binary")
    val m = b.select($"media_meta.n_bytes", $"media_meta.digest").head()
    assert(m.getInt(0) === 11)
    assert(m.getString(1).length === 32)
  }

  test("extractFeatures: mapPartitions decode stub — fixed shape, deterministic") {
    val feats = Multimodal.extractFeatures(spark,
      Multimodal.withBinaryPayload(docs, "text")).collect()
    assert(feats.length === 2)
    feats.foreach { f =>
      assert(f.features.length === 8)
      assert(f.features.forall(v => v >= -1f && v <= 1f))
    }
    // deterministic across runs (and hence across executors/partitions)
    val again = Multimodal.extractFeatures(spark,
      Multimodal.withBinaryPayload(docs, "text")).collect()
    assert(feats.sortBy(_.doc_id).zip(again.sortBy(_.doc_id))
      .forall { case (a, b) => a.features.sameElements(b.features) && a.n_bytes == b.n_bytes })
  }

  test("sampleFrames: zero-byte payload — Spark NULL digest ≡ oracle CASE NULL") {
    // the q_frame_sample oracle guards md5(substring(text,1,64)) with
    // CASE octet_length(text)=0 → NULL; this pins both sides of that
    // contract on an empty document so a fixture with one ever agrees
    val empty = Seq((1L, ""), (2L, "payload!")).toDF("doc_id", "text")
    val framed = Multimodal.sampleFrames(
      Multimodal.withBinaryPayload(empty, "text"), "payload", frameBytes = 64, stride = 2)
      .select($"doc_id", $"n_frames_sampled",
        md5(try_element_at($"frames", lit(1))).as("spark_digest"),
        // oracle replay (same expression the DuckDB side runs)
        when(octet_length($"text") === 0, lit(null))
          .otherwise(md5(substring($"text", 1, 64))).as("oracle_digest"))
      .orderBy("doc_id").collect()
    assert(framed(0).getInt(1) === 0)
    assert(framed(0).isNullAt(2) && framed(0).isNullAt(3), "empty doc: both sides NULL")
    assert(!framed(1).isNullAt(2) && framed(1).getString(2) === framed(1).getString(3),
      "non-empty doc: both sides same digest")
  }

  test("parseBmp: hand-built 1x1 bitmap — exact dims and channel features") {
    // one pixel, B=10 G=20 R=30, bottom-up, row padded 3→4 bytes
    val bmp = Multimodal.makeBmp(1, 1, 0)
    // overwrite the formula pixel with known channel values
    bmp(54) = 10; bmp(55) = 20; bmp(56) = 30
    val f = Multimodal.parseBmp(7L, bmp).get
    assert(f.format === "bmp" && f.width === 1 && f.height === 1)
    assert(f.n_bytes === 54 + 4) // stride 4 (3 pixel bytes + 1 pad)
    assert(f.features(0) === 10f / 255 && f.features(1) === 20f / 255 &&
      f.features(2) === 30f / 255)
    assert(f.features(3) === 60f / (3 * 255f))
    assert(f.features(4) === 0f) // no byte > 127
    assert(f.features(5) === 0.5f && f.features(6) === 0.5f)
  }

  test("parseBmp: row padding is excluded from pixel stats (2x2, stride 8)") {
    val bmp = Multimodal.makeBmp(2, 2, 5)
    val f = Multimodal.parseBmp(1L, bmp).get
    assert(f.width === 2 && f.height === 2)
    assert(f.n_bytes === 54 + 8 * 2) // stride ((6+3)/4)*4 = 8
    // expected sum from the fixture formula over pixel bytes only
    val expect = (for (r <- 0 until 2; k <- 0 until 6)
      yield (5 + r * 31 + k * 7) % 256).sum
    val got = math.round(f.features(3) * 3 * 4 * 255)
    assert(got === expect, s"padding bytes must not leak into the mean")
  }

  test("decode dispatch: BMP parses for real, everything else falls to the stub") {
    val real = Multimodal.decode(1L, Multimodal.makeBmp(4, 3, 9))
    assert(real.format === "bmp" && real.width === 4 && real.height === 3)
    val stub = Multimodal.decode(2L, "not a bitmap".getBytes("UTF-8"))
    assert(stub.format === "stub")
    // corrupt headers must not crash or lie: truncated pixel array,
    // compressed flag, paletted bpp each fall back
    val truncated = Multimodal.makeBmp(8, 8, 1).take(80)
    assert(Multimodal.decode(3L, truncated).format === "stub")
    val compressed = Multimodal.makeBmp(2, 2, 1)
    compressed(30) = 1 // BI_RLE8
    assert(Multimodal.decode(4L, compressed).format === "stub")
    val paletted = Multimodal.makeBmp(2, 2, 1)
    paletted(28) = 8 // 8-bpp
    assert(Multimodal.decode(5L, paletted).format === "stub")
  }

  test("parseWav: hand-built mono PCM — rate, channels, exact sample stats") {
    val wav = Multimodal.makeWav(nFrames = 4, channels = 1, sampleRate = 8000, seed = 0)
    // overwrite the 4 samples with known values: 100, -50, 0, 25
    def put(i: Int, v: Int): Unit = {
      wav(44 + 2 * i) = (v & 0xff).toByte
      wav(44 + 2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    put(0, 100); put(1, -50 & 0xffff); put(2, 0); put(3, 25)
    val f = Multimodal.parseWav(1L, wav).get
    assert(f.format === "wav" && f.width === 8000 && f.height === 1)
    assert(f.n_bytes === 44 + 8)
    assert(f.features(0) === (75f / (4 * 32768)))       // mean
    assert(f.features(1) === (175f / (4 * 32768)))      // mean abs
    assert(f.features(2) === 0.5f)                      // 2 of 4 positive
  }

  test("parseWav: stereo frames and chunk-walk robustness") {
    val f = Multimodal.parseWav(1L, Multimodal.makeWav(10, 2, 44100, 3)).get
    assert(f.width === 44100 && f.height === 2)
    assert(f.n_bytes === 44 + 2 * 20)
    // corrupt variants fall back to the stub via decode()
    val notRiff = Multimodal.makeWav(4, 1, 8000, 0)
    notRiff(0) = 'X'.toByte
    assert(Multimodal.decode(1L, notRiff).format === "stub")
    val compressed = Multimodal.makeWav(4, 1, 8000, 0)
    compressed(20) = 3 // IEEE float format tag
    assert(Multimodal.decode(2L, compressed).format === "stub")
    val truncated = Multimodal.makeWav(100, 1, 8000, 0).take(60)
    assert(Multimodal.decode(3L, truncated).format === "stub")
  }

  test("extractFeatures runs the real BMP path distributed (mapPartitions)") {
    val bins = spark.range(1, 21).select(col("id").as("doc_id")).as[Long]
      .map(id => (id, Multimodal.makeBmp(1 + (id % 16).toInt, 1 + (id % 8).toInt, id)))
      .toDF("doc_id", "payload")
      .repartition(4)
    val feats = Multimodal.extractFeatures(spark, bins).collect()
    assert(feats.length === 20)
    assert(feats.forall(_.format === "bmp"))
    assert(feats.forall(f => f.width === 1 + (f.doc_id % 16) &&
      f.height === 1 + (f.doc_id % 8)))
  }

  test("resizeBmpNearest: identity resize is byte-identical; 1x1 picks the top-left pixel") {
    val src = Multimodal.makeBmp(5, 4, 11)
    // identity: same dims, canonical source → exact byte-for-byte round trip
    assert(Multimodal.resizeBmpNearest(src, 5, 4).get.sameElements(src))
    // 1x1 target: dst (0,0) reads src IMAGE pixel (0,0) — the top image
    // row, which in a bottom-up bitmap is on-disk row h-1
    val one = Multimodal.resizeBmpNearest(src, 1, 1).get
    val f = Multimodal.parseBmp(1L, one).get
    assert(f.width === 1 && f.height === 1)
    val expectTop = (0 until 3).map(k => (11 + 3 * 31 + k * 7) % 256).sum
    assert(math.round(f.features(3) * 3 * 255) === expectTop,
      "nearest-neighbor must sample image row 0 = disk row h-1")
  }

  test("resizeBmpNearest: upsample replicates pixels; output re-decodes cleanly") {
    val src = Multimodal.makeBmp(1, 1, 0)
    src(54) = 10; src(55) = 20; src(56) = 30
    val up = Multimodal.resizeBmpNearest(src, 3, 3).get
    val f = Multimodal.parseBmp(1L, up).get
    assert(f.width === 3 && f.height === 3)
    // all 9 pixels are copies of the single source pixel
    assert(f.features(0) === 10f / 255 && f.features(1) === 20f / 255 &&
      f.features(2) === 30f / 255)
  }

  test("resizeBmpNearest: top-down (negative height) source maps rows correctly") {
    val src = Multimodal.makeBmp(2, 2, 7)
    // flip the height sign: rows are now stored top-down, so IMAGE row 0
    // is on-disk row 0
    src(22) = (-2 & 0xff).toByte; src(23) = 0xff.toByte
    src(24) = 0xff.toByte; src(25) = 0xff.toByte
    val one = Multimodal.resizeBmpNearest(src, 1, 1).get
    val f = Multimodal.parseBmp(1L, one).get
    val expectDiskRow0 = (0 until 3).map(k => (7 + k * 7) % 256).sum
    assert(math.round(f.features(3) * 3 * 255) === expectDiskRow0)
  }

  test("resizePayloads: non-BMP payloads pass through unchanged") {
    val mixed = Seq(
      (1L, Multimodal.makeBmp(8, 4, 1)),
      (2L, "definitely not a bitmap".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val out = Multimodal.resizePayloads(spark, mixed, 2, 2)
      .orderBy("doc_id").as[(Long, Array[Byte])].collect()
    val f1 = Multimodal.parseBmp(1L, out(0)._2).get
    assert(f1.width === 2 && f1.height === 2)
    assert(new String(out(1)._2, "UTF-8") === "definitely not a bitmap",
      "unparseable payloads must survive the resize stage untouched")
  }

  test("sampleFrames: byte-range frame sampling with stride") {
    val framed = Multimodal.sampleFrames(
      Multimodal.withBinaryPayload(docs, "text"), "payload", frameBytes = 4, stride = 2)
    val r = framed.filter($"doc_id" === 2).select($"n_frames_sampled").head()
    // payload len 24 → 6 frames of 4 bytes → stride 2 keeps frames 0,2,4
    assert(r.getInt(0) === 3)
  }

  test("wavFrameStats: exact per-frame energy, zero crossings, partial tail frame") {
    // 5 mono samples, frameLen 3 → frames [s0..s2], [s3, s4]
    val wav = Multimodal.makeWav(5, 1, 8000, seed = 0L)
    // fixture samples: ((0 + i*13) % 256) - 128 → -128, -115, -102, -89, -76
    val rows = Multimodal.wavFrameStats(
        spark, Seq((7L, wav)).toDF("doc_id", "payload"), frameLen = 3)
      .orderBy("frame_idx").collect()
    assert(rows.length === 2)
    assert(rows(0).frame_idx === 0 && rows(0).n_samples === 3)
    assert(rows(0).energy === 128L * 128 + 115L * 115 + 102L * 102)
    assert(rows(0).zcross === 0L) // all negative — no sign flip
    assert(rows(1).frame_idx === 1 && rows(1).n_samples === 2)
    assert(rows(1).energy === 89L * 89 + 76L * 76)
  }

  test("wavFrameStats: sign flips count within frames only, zeros break runs") {
    // hand-build PCM: header via makeWav then overwrite the data payload
    val wav = Multimodal.makeWav(6, 1, 8000, seed = 0L)
    val samples = Seq[Short](100, -5, 3, 0, -7, 8) // flips at 1,2 (frame 0) and 5 (frame 1)
    samples.zipWithIndex.foreach { case (s, i) =>
      wav(44 + 2 * i) = (s & 0xff).toByte
      wav(44 + 2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val rows = Multimodal.wavFrameStats(
        spark, Seq((1L, wav)).toDF("doc_id", "payload"), frameLen = 3)
      .orderBy("frame_idx").collect()
    assert(rows(0).zcross === 2L) // 100→-5, -5→3; the 3→0 boundary pair is frame 1's
    // frame 1 pairs: 0→-7 (product 0, no count), -7→8 (flip)
    assert(rows(1).zcross === 1L)
  }

  test("wavFrameStats: non-WAV payloads emit no rows") {
    val mixed = Seq(
      (1L, Multimodal.makeWav(4, 1, 8000, 1L)),
      (2L, "not audio at all".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val ids = Multimodal.wavFrameStats(spark, mixed, frameLen = 4)
      .select("doc_id").distinct().as[Long].collect().toSeq
    assert(ids === Seq(1L))
  }

  test("aHash64: hand grid — right-half-bright sets exactly the right-half bits") {
    // 8x8 grid: columns 0-3 gray 0, columns 4-7 gray 100 → global mean
    // 50; block (bi,bj) is one pixel, so bits bj>=4 set in every row
    val gray = Array.tabulate(64)(i => if (i % 8 >= 4) 100 else 0)
    val h = Multimodal.aHash64(8, 8, gray).get
    val expect = (0 until 8).flatMap(bi => (4 until 8).map(bj => 1L << (bi * 8 + bj)))
      .foldLeft(0L)(_ | _)
    assert(h === expect)
    // all-equal grid: every block mean == global mean → all bits set
    // (the >= tie convention)
    assert(Multimodal.aHash64(8, 8, Array.fill(64)(7)).get === -1L)
    // sub-8x8 grids have no hash
    assert(Multimodal.aHash64(7, 8, Array.fill(56)(1)) === None)
  }

  test("imageAHash respects display orientation (bottom-up BMP rows flip)") {
    // hand image: everything black except the TOP TWO display rows
    // (= the LAST TWO stored rows of a bottom-up BMP) at full white —
    // display block row 0 is the only bright one, so exactly bits 0..7
    // are set; a decoder that forgot the flip would set bits 56..63
    val b = Multimodal.makeBmp(16, 16, seed = 0)
    val stride = 48
    for (k <- 54 until b.length) b(k) = 0.toByte
    for (row <- 14 to 15; k <- 0 until 48)
      b(54 + row * stride + k) = 255.toByte
    val hash = Multimodal.imageAHash(b).get
    assert(hash === 0xffL, f"expected bits 0..7 only, hash=$hash%016x")
  }

  test("imageAHash hashes PNG and GIF through their real decode paths") {
    // the hash must be storage-invariant: an interlaced file decodes to
    // the same display pixels, so it must hash identically to its
    // sequential twin — for PNG (Adam7) and GIF (4-pass) alike
    val pngSeq = Multimodal.imageAHash(Multimodal.makePng(16, 16, 7)).get
    val pngIl = Multimodal.imageAHash(Multimodal.makePng(16, 16, 7, interlaced = true)).get
    assert(pngSeq === pngIl)
    val gifSeq = Multimodal.imageAHash(Multimodal.makeGif(16, 16, 7)).get
    val gifIl = Multimodal.imageAHash(Multimodal.makeGif(16, 16, 7, interlaced = true)).get
    assert(gifSeq === gifIl)
    // every supported PNG shape hashes (palette, gray+alpha, 16-bit)
    for ((ct, depth) <- Seq((0, 8), (3, 8), (4, 8), (6, 8), (2, 16)))
      assert(Multimodal.imageAHash(
        Multimodal.makePng(16, 16, 7, colorType = ct, bitDepth = depth)).isDefined,
        s"ct=$ct depth=$depth must hash")
    // scale-freeness (why channel counts never skew the hash): scaling
    // every gray value by the channel count changes NO comparison
    val gray = Array.tabulate(64)(i => (i * 37) % 256)
    assert(Multimodal.aHash64(8, 8, gray) === Multimodal.aHash64(8, 8, gray.map(_ * 3)))
  }

  test("imageAHash hashes JPEG through the real entropy path") {
    // 64x64 gray DC-only fixture: each 8x8 aHash block IS one flat JPEG
    // block of v(bj,bi) = ((seed + bj*31 + bi*7) % 200) + 28, so all 64
    // bits have the closed form bit(bi,bj) = v*64 >= sum(v)
    def v(seed: Long, bj: Int, bi: Int): Int =
      (((seed + bj * 31L + bi * 7L) % 200) + 28).toInt
    val vs = for (bi <- 0 until 8; bj <- 0 until 8) yield v(7, bj, bi)
    val tot = vs.map(_.toLong).sum
    var expected = 0L
    for (bi <- 0 until 8; bj <- 0 until 8)
      if (v(7, bj, bi) * 64L >= tot) expected |= 1L << (bi * 8 + bj)
    val base = Multimodal.imageAHash(Multimodal.makeJpeg(64, 64, 7, gray = true)).get
    assert(base === expected, f"baseline gray JPEG hash=$base%016x expected=$expected%016x")
    // the progressive twin refines to the identical image -> identical hash
    val prog = Multimodal.imageAHash(
      Multimodal.makeJpegProgressive(64, 64, 7, gray = true)).get
    assert(prog === base)
    // BMP twin of the same pixels — (v,v,v) channels, so BMP gray = 3v,
    // and the hash is scale-free -> bit-identical to the JPEG's
    val stride = 3 * 64 // w=64: already a multiple of 4
    val bmp = Multimodal.makeBmp(64, 64, 0)
    for (display <- 0 until 64; x <- 0 until 64; c <- 0 until 3)
      // bottom-up storage: storage row = 63 - display row
      bmp(54 + (63 - display) * stride + 3 * x + c) = v(7, x / 8, display / 8).toByte
    assert(Multimodal.imageAHash(bmp).get === base,
      "BMP twin of the same pixels must hash identically")
    // color forms hash too, and progressive twins agree (4:4:4 and 4:2:0)
    val c444 = Multimodal.imageAHash(Multimodal.makeJpeg(16, 16, 5)).get
    assert(c444 === Multimodal.imageAHash(Multimodal.makeJpegProgressive(16, 16, 5)).get)
    val c420 = Multimodal.imageAHash(Multimodal.makeJpeg(32, 16, 11, subsample = true)).get
    assert(c420 === Multimodal.imageAHash(
      Multimodal.makeJpegProgressive(32, 16, 11, subsample = true)).get)
    // a truncated stream still emits NO hash (decode failure -> None)
    assert(Multimodal.imageAHash(
      Multimodal.makeJpeg(16, 16, 5).take(40)) === None)
  }

  test("12-bit SOF1 JPEG decodes bit-identical to its 8-bit twin; envelope pinned") {
    // same seed, 16x amplitude, >>4 canonicalization -> identical planes
    val base = Multimodal.imageAHash(Multimodal.makeJpeg(64, 64, 7, gray = true)).get
    assert(Multimodal.imageAHash(Multimodal.makeJpeg12(64, 64, 7, gray = true)).get === base,
      "12-bit gray twin must hash identically to the 8-bit baseline")
    val c444 = Multimodal.imageAHash(Multimodal.makeJpeg(16, 16, 5)).get
    assert(Multimodal.imageAHash(Multimodal.makeJpeg12(16, 16, 5)).get === c444)
    val c420 = Multimodal.imageAHash(Multimodal.makeJpeg(32, 16, 11, subsample = true)).get
    assert(Multimodal.imageAHash(Multimodal.makeJpeg12(32, 16, 11, subsample = true)).get === c420)

    // the 12-bit fixture really exercises the wide envelope: 16-bit DQT
    // (pq=1) and a DC category above the 8-bit cap of 11
    val bytes12 = Multimodal.makeJpeg12(64, 64, 7, gray = true)
    assert((bytes12(6) & 0xf0) === 0x10, "DQT must carry pq=1 (16-bit entries)")

    // envelope rejects: SOF0 must be 8-bit — patching the baseline
    // twin's precision byte to 12 must fail the decode
    val sof0at12 = Multimodal.makeJpeg(16, 16, 5, gray = true).clone()
    val sofIdx = {
      // locate FFC0 and point at its precision byte
      val b = sof0at12
      val i = (0 until b.length - 1)
        .find(i => (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xc0).get
      i + 4
    }
    assert((sof0at12(sofIdx) & 0xff) === 8)
    sof0at12(sofIdx) = 12
    assert(Multimodal.imageAHash(sof0at12) === None,
      "12-bit through SOF0 is outside T.81 and must reject")

    // ...and 12-bit through SOF1 with a nonsense precision rejects too
    val badPrec = Multimodal.makeJpeg12(16, 16, 5, gray = true).clone()
    val sof1Idx = {
      val b = badPrec
      val i = (0 until b.length - 1)
        .find(i => (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xc1).get
      i + 4
    }
    assert((badPrec(sof1Idx) & 0xff) === 12)
    badPrec(sof1Idx) = 10
    assert(Multimodal.imageAHash(badPrec) === None,
      "SOF1 precision other than 8/12 must reject")

    // truncated 12-bit stream -> None, same as the 8-bit contract
    assert(Multimodal.imageAHash(bytes12.take(48)) === None)
  }

  test("pHash: integer DCT law, format/scale invariance, local-edit robustness") {
    // independent replay of the documented law on one fixture: cells ->
    // quantized-basis DCT -> 63 low-freq coefs -> strict-> median bits
    def cellV(id: Long, gx: Int, gy: Int): Long =
      ((id + (gx / 4) * 31L + (gy / 4) * 7L) % 200) + 28
    val id = 7L
    val b = Multimodal.PHashBasis
    val coefs = (for (v <- 0 until 8; u <- 0 until 8 if u != 0 || v != 0) yield {
      var s = BigInt(0)
      for (gy <- 0 until 32; gx <- 0 until 32)
        s += BigInt(cellV(id, gx, gy)) * b(u * 32 + gx) * b(v * 32 + gy)
      (u, v, s)
    }).toSeq
    val med = coefs.map(_._3).sorted.apply(31)
    var expected = 0L
    coefs.foreach { case (u, v, c) => if (c > med) expected |= 1L << (v * 8 + u - 1) }
    val got = Multimodal.imagePHash(Multimodal.makeJpeg(64, 64, id, gray = true)).get
    assert(got === expected, f"pHash=$got%016x expected=$expected%016x")
    assert(got >= 0, "bit 63 is never set")

    // format invariance: the BMP twin of the same pixels (3v channels —
    // cell sums divide exactly) and the 12-bit JPEG twin hash identically
    def v(seed: Long, bj: Int, bi: Int): Int =
      (((seed + bj * 31L + bi * 7L) % 200) + 28).toInt
    val stride = 3 * 64
    val bmp = Multimodal.makeBmp(64, 64, 0)
    for (display <- 0 until 64; x <- 0 until 64; c <- 0 until 3)
      bmp(54 + (63 - display) * stride + 3 * x + c) = v(id, x / 8, display / 8).toByte
    assert(Multimodal.imagePHash(bmp).get === got,
      "BMP twin (3x scale) must pHash identically")
    assert(Multimodal.imagePHash(Multimodal.makeJpeg12(64, 64, id, gray = true)).get === got)
    assert(Multimodal.imagePHash(
      Multimodal.makeJpegProgressive(64, 64, id, gray = true)).get === got)

    // a one-block edit moves few spectral bits (robustness vs exactness)
    val edited = Multimodal.makeBmp(64, 64, 0)
    for (display <- 0 until 64; x <- 0 until 64; c <- 0 until 3)
      edited(54 + (63 - display) * stride + 3 * x + c) =
        (if (display < 8 && x < 8) 255 else v(id, x / 8, display / 8)).toByte
    val ph = Multimodal.imagePHash(edited).get
    val hamming = java.lang.Long.bitCount(got ^ ph)
    assert(hamming <= 16, s"one-block edit moved $hamming pHash bits")
    assert(hamming > 0, "the edit must be visible")

    // sub-32px images have no spectral hash
    assert(Multimodal.imagePHash(Multimodal.makeBmp(16, 16, 3)) === None)
    assert(Multimodal.imagePHash("not an image".getBytes("UTF-8")) === None)
  }

  test("gifFrameGrids: animated fixture frames match the closed form; single-frame = image path") {
    val (w, h, frames) = Multimodal.gifFrameGrids(
      Multimodal.makeGifAnimated(16, 16, 9, frames = 4)).get
    assert((w, h, frames.length) === (16, 16, 4))
    for (f <- 0 until 4; y <- 0 until 16; x <- 0 until 16) {
      val pi = (9 + f * 17 + y * 31 + x * 7) % 256
      val expect = (9 + 3 * pi) % 256 + (9 + 5 * pi) % 256 + (9 + 7 * pi) % 256
      assert(frames(f)(y * 16 + x) === expect, s"frame $f pixel ($x,$y)")
    }
    // a plain single-frame GIF is a 1-frame video whose hash IS the image hash
    val single = Multimodal.makeGif(16, 16, 7)
    val (_, _, one) = Multimodal.gifFrameGrids(single).get
    assert(one.length === 1)
    assert(Multimodal.imageAHash(single).get ===
      Multimodal.aHash64(16, 16, one.head).get)
    // garbage / truncated → None
    assert(Multimodal.gifFrameGrids("GIF89a junk".getBytes("UTF-8")) === None)
    assert(Multimodal.gifFrameGrids(single.take(30)) === None)
  }

  test("gifFrameGrids: compositing model — subregion, transparency, disposal 2 and 3") {
    // hand-built 4x4 canvas, 4-entry GCT: entry 0 black(0), 1 = (10,0,0)
    // -> gray 10, 2 = (20,0,0) -> 20, 3 = (30,0,0) -> 30; bg index 0
    def gif(frames: Seq[(Int, Int, Int, Int, Array[Byte], Int, Int)]): Array[Byte] = {
      // (left, top, fw, fh, indices, disposal, transIndex or -1)
      val out = new java.io.ByteArrayOutputStream()
      out.write("GIF89a".getBytes("US-ASCII"))
      def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      le16(4); le16(4)
      out.write(0xf1) // GCT present, 4 entries (2 bits)
      out.write(0); out.write(0)
      Seq(0, 10, 20, 30).foreach { g => out.write(g); out.write(0); out.write(0) }
      frames.foreach { case (left, top, fw, fh, idx, disposal, trans) =>
        out.write(0x21); out.write(0xf9); out.write(4)
        out.write((disposal << 2) | (if (trans >= 0) 1 else 0))
        le16(0); out.write(if (trans >= 0) trans else 0); out.write(0)
        out.write(0x2c); le16(left); le16(top); le16(fw); le16(fh); out.write(0)
        val lzw = Multimodal.lzwEncode(idx, 2)
        out.write(2)
        var s = 0
        while (s < lzw.length) {
          val len = math.min(255, lzw.length - s)
          out.write(len); out.write(lzw, s, len); s += len
        }
        out.write(0)
      }
      out.write(0x3b)
      out.toByteArray
    }
    val full1 = Array.fill[Byte](16)(1) // full canvas of entry 1 (gray 10)
    // frame 2: 2x2 patch of entry 2 at (1,1) with entry-3 pixels TRANSPARENT
    val patch = Array[Byte](2, 3, 3, 2)

    // disposal 1 (keep): frame 2 composites onto frame 1's result
    val (_, _, k) = Multimodal.gifFrameGrids(gif(Seq(
      (0, 0, 4, 4, full1, 1, -1), (1, 1, 2, 2, patch, 1, 3)))).get
    assert(k.length === 2)
    assert(k(0).forall(_ === 10))
    val f2 = k(1)
    assert(f2(1 * 4 + 1) === 20 && f2(2 * 4 + 2) === 20, "opaque patch pixels drawn")
    assert(f2(1 * 4 + 2) === 10 && f2(2 * 4 + 1) === 10,
      "transparent patch pixels keep the prior canvas")
    assert(f2(0) === 10 && f2(15) === 10, "outside the region untouched")

    // disposal 2 (restore background): frame 1's region clears to bg
    // before frame 3; frame 2's subregion survives where not redrawn
    val (_, _, d2) = Multimodal.gifFrameGrids(gif(Seq(
      (0, 0, 2, 2, Array[Byte](1, 1, 1, 1), 2, -1),
      (0, 0, 4, 4, full1, 1, -1)))).get
    assert(d2(0).take(2).forall(_ === 10), "frame 1 shows its own pixels")
    assert(d2(1).forall(_ === 10), "after bg-restore the full redraw covers all")
    val (_, _, d2b) = Multimodal.gifFrameGrids(gif(Seq(
      (0, 0, 2, 2, Array[Byte](1, 1, 1, 1), 2, -1),
      (3, 3, 1, 1, Array[Byte](2), 1, -1)))).get
    assert(d2b(1)(0) === 0, "disposal-2 region restored to background (gray 0)")
    assert(d2b(1)(3 * 4 + 3) === 20, "second frame's own pixel drawn")

    // disposal 3 (restore previous): frame 2's effect vanishes in frame 3
    val (_, _, d3) = Multimodal.gifFrameGrids(gif(Seq(
      (0, 0, 4, 4, full1, 1, -1),
      (1, 1, 2, 2, Array[Byte](2, 2, 2, 2), 3, -1),
      (0, 0, 1, 1, Array[Byte](3), 1, -1)))).get
    assert(d3(1)(1 * 4 + 1) === 20, "frame 2 shows the patch")
    assert(d3(2)(1 * 4 + 1) === 10, "disposal-3 rolled the patch back")
    assert(d3(2)(0) === 30, "frame 3's own pixel drawn")

    // out-of-canvas region → None (strict envelope)
    assert(Multimodal.gifFrameGrids(gif(Seq((3, 3, 2, 2, patch, 1, -1)))) === None)
  }

  test("videoFrameHashes + videoNearDups: planted duplicate clips pair at Hamming 0") {
    import spark.implicits._
    val rows = Seq(
      (0L, Multimodal.makeGifAnimated(16, 16, 5, 3)),
      (1L, Multimodal.makeGifAnimated(16, 16, 5, 3)),   // exact dup of 0
      (2L, Multimodal.makeGifAnimated(16, 16, 123, 3)), // unrelated
      (3L, "not a gif".getBytes("UTF-8"))
    ).toDF("doc_id", "payload")
    val fh = Multimodal.videoFrameHashes(spark, rows).cache()
    assert(fh.filter(col("doc_id") === 3L).count() === 0, "non-video emits no rows")
    assert(fh.filter(col("doc_id") === 0L).count() === 3)
    val pairs = Multimodal.videoNearDups(fh, maxHamming = 0, minPairs = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq === Seq((0L, 1L, 3L)),
      "exact-dup clips must pair on all three frames, unrelated clips must not")
  }

  test("videoFramePHashes: spectral per-frame key — dup clips pair, sub-32 emits none") {
    import spark.implicits._
    val rows = Seq(
      (0L, Multimodal.makeGifAnimated(32, 32, 5, 3)),
      (1L, Multimodal.makeGifAnimated(32, 32, 5, 3)),   // exact dup of 0
      (2L, Multimodal.makeGifAnimated(32, 32, 123, 3)), // unrelated
      (3L, Multimodal.makeGifAnimated(16, 16, 5, 3)),   // below pHash's 32×32 floor
      (4L, "not a gif".getBytes("UTF-8"))
    ).toDF("doc_id", "payload")
    val fh = Multimodal.videoFramePHashes(spark, rows).cache()
    assert(fh.filter(col("doc_id") === 3L).count() === 0,
      "sub-32×32 frames have no spectral key — aHash covers them")
    assert(fh.filter(col("doc_id") === 4L).count() === 0)
    assert(fh.filter(col("doc_id") === 0L).count() === 3)
    // a single-frame clip's spectral key IS the image pHash of the GIF
    val still = Seq((9L, Multimodal.makeGifAnimated(32, 32, 5, 1))).toDF("doc_id", "payload")
    val frame0 = Multimodal.videoFramePHashes(spark, still).collect()
    assert(frame0.length === 1 && frame0.head.getLong(1) === 0L)
    assert(Multimodal.imagePHash(Multimodal.makeGifAnimated(32, 32, 5, 1))
      .contains(frame0.head.getLong(2)))
    val pairs = Multimodal.videoNearDups(fh, maxHamming = 0, minPairs = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq === Seq((0L, 1L, 3L)),
      "exact-dup clips must pair on all three spectral frame keys")
  }

  test("imageDualHashes: one decode pass ≡ the two separate hash scans; NULL pHash below 32") {
    import spark.implicits._
    val rows = Seq(
      (1L, Multimodal.makeBmp(32, 32, 7)),
      (2L, Multimodal.makeBmp(16, 16, 7)),   // aHash only — no spectral key
      (3L, Multimodal.makeJpeg(64, 64, 9, gray = true)),
      (4L, "not an image".getBytes("UTF-8"))
    ).toDF("doc_id", "payload")
    val dual = Multimodal.imageDualHashes(spark, rows).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    val a = Multimodal.imageAHashes(spark, rows).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val p = Multimodal.imagePHashes(spark, rows).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dual.keySet === Set(1L, 2L, 3L))
    assert(dual.view.mapValues(_._1).toMap === a)
    assert(dual.collect { case (k, (_, Some(v))) => k -> v } === p)
    assert(dual(2L)._2 === None, "16×16 has no spectral key in the dual row either")
  }

  test("imageAHashes/imageNearDups: exact copies at Hamming 0, non-images emit no rows") {
    import spark.implicits._
    val rows = Seq(
      (1L, Multimodal.makeBmp(16, 16, 7)),
      (2L, Multimodal.makeBmp(16, 16, 7)),   // identical copy
      (3L, Multimodal.makeBmp(16, 16, 9)),   // different image
      (4L, "not an image at all".getBytes("UTF-8")),
      (5L, Multimodal.makeBmp(4, 4, 7))      // too small to hash
    ).toDF("doc_id", "payload")
    val hashes = Multimodal.imageAHashes(spark, rows)
    val got = hashes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set(1L, 2L, 3L)) // 4 (non-image) and 5 (tiny) absent
    assert(got(1L) === got(2L))
    val pairs = Multimodal.imageNearDups(hashes, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 0)))
  }

  test("imageNearDups: a one-pixel edit stays within a small Hamming radius") {
    import spark.implicits._
    val clean = Multimodal.makeBmp(16, 16, 7)
    val edited = Multimodal.makeBmp(16, 16, 7)
    edited(54) = 255.toByte; edited(55) = 255.toByte; edited(56) = 255.toByte
    val rows = Seq((1L, clean), (2L, edited)).toDF("doc_id", "payload")
    val hashes = Multimodal.imageAHashes(spark, rows)
    val within = Multimodal.imageNearDups(hashes, maxHamming = 6).collect()
    assert(within.length === 1, "a one-pixel edit of 256 must survive radius 6")
    assert(within.head.getInt(2) <= 6)
  }

  test("audioFingerprint: hand-checked energy deltas; identical audio at Hamming 0") {
    import spark.implicits._
    val wav = Multimodal.makeWav(100, 1, 8000, seed = 3) // 100 samples ≥ 65
    val fp = Multimodal.audioFingerprint(wav).get
    // independent recomputation from the fixture's closed form
    val samples = (0 until 100).map(i => ((3 + i * 13) % 256 - 128).toLong)
    val energies = (0 until 65).map { f =>
      val lo = f * 100 / 65; val hi = (f + 1) * 100 / 65
      (lo until hi).map(i => samples(i) * samples(i)).sum
    }
    val expect = (0 until 64).filter(b => energies(b + 1) > energies(b))
      .foldLeft(0L)((h, b) => h | (1L << b))
    assert(fp === expect)
    // too short for transitions → None; non-audio → None
    assert(Multimodal.audioFingerprint(Multimodal.makeWav(32, 1, 8000, 3)) === None)
    assert(Multimodal.audioFingerprint("nope".getBytes("UTF-8")) === None)
    // DataFrame path: identical audio pairs at Hamming 0, short/non-audio absent
    val rows = Seq(
      (1L, Multimodal.makeWav(100, 1, 8000, 7)),
      (2L, Multimodal.makeWav(100, 1, 8000, 7)),
      (3L, Multimodal.makeWav(100, 1, 8000, 9)),
      (4L, Multimodal.makeWav(32, 1, 8000, 7)),
      (5L, "noise".getBytes("UTF-8"))
    ).toDF("doc_id", "payload")
    val fps = Multimodal.audioFingerprints(spark, rows)
    assert(fps.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    val pairs = Multimodal.imageNearDups(fps, maxHamming = 0, hashCol = "afp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 0)))
  }

  test("audioSpectralFingerprint: independent replay of the quantized-DCT law; FLAC twin identity") {
    import spark.implicits._
    val n = 192
    val asf = Multimodal.audioSpectralFingerprint(
      Multimodal.makeWav(n, 1, 8000, seed = 5)).get
    // replay the documented law from the fixture's closed form
    val samples = (0 until n).map(i => ((5 + i * 13) % 256 - 128).toLong)
    var expect = 0L
    for (f <- 0 until 16) {
      val flo = f * n / 16; val fhi = (f + 1) * n / 16; val len = fhi - flo
      val e = (0 until 8).map { k =>
        val lo = flo + k * len / 8; val hi = flo + (k + 1) * len / 8
        (lo until hi).map(i => samples(i) * samples(i)).sum / (hi - lo)
      }
      for (b <- 1 to 4) {
        val r = (0 until 8).map(k => e(k) * Multimodal.SpecBasis((b - 1) * 8 + k)).sum
        if (r > 0) expect |= 1L << (f * 4 + b - 1)
      }
    }
    assert(asf === expect, f"asfp=$asf%016x expected=$expect%016x")

    // lossless twin identity: same PCM through FLAC collides exactly
    assert(Multimodal.audioSpectralFingerprint(
      graft.multimodal.Flac.make(n, 1, 8000, seed = 5)) === Some(asf))

    // it keys DIFFERENT structure than the energy-delta fingerprint
    // (complementary, not redundant): distinct value on this fixture
    assert(Multimodal.audioFingerprint(Multimodal.makeWav(n, 1, 8000, 5)).get !== asf)

    // sub-128-sample and non-audio payloads emit nothing
    assert(Multimodal.audioSpectralFingerprint(Multimodal.makeWav(100, 1, 8000, 5)) === None)
    assert(Multimodal.audioSpectralFingerprint("nope".getBytes("UTF-8")) === None)

    // DataFrame path + Hamming-0 pairing of identical audio
    val rows = Seq(
      (1L, Multimodal.makeWav(192, 1, 8000, 7)),
      (2L, Multimodal.makeWav(192, 1, 8000, 7)),
      (3L, Multimodal.makeWav(192, 1, 8000, 9)),
      (4L, Multimodal.makeWav(100, 1, 8000, 7))
    ).toDF("doc_id", "payload")
    val fps = Multimodal.audioSpectralFingerprints(spark, rows)
    assert(fps.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    val pairs = Multimodal.imageNearDups(fps, maxHamming = 0, hashCol = "asfp")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L)))
  }

  test("Flac: decode recovers the exact closed-form PCM through every fixture path") {
    // mono: 4 frames of 192 = 768 samples through VERBATIM, FIXED-1,
    // FIXED-2 (Rice residuals) and LPC-2 — byte-exact sample equality
    val mono = graft.multimodal.Flac.decode(
      graft.multimodal.Flac.make(768, 1, 8000, seed = 3)).get
    assert(mono.channels === 1 && mono.sampleRate === 8000)
    assert(mono.samples.length === 768)
    for (i <- 0 until 768)
      assert(mono.samples(i) === ((3 + i * 13L) % 256 - 128).toInt, s"sample $i")
    // stereo: all four channel assignments cycle with the frames —
    // independent, left/side, mid/side, side/right (side at 17 bits)
    val st = graft.multimodal.Flac.decode(
      graft.multimodal.Flac.make(768, 2, 44100, seed = 9)).get
    assert(st.channels === 2 && st.samples.length === 1536)
    for (i <- 0 until 1536)
      assert(st.samples(i) === ((9 + i * 13L) % 256 - 128).toInt, s"sample $i")
    // truncation and non-FLAC reject cleanly
    assert(graft.multimodal.Flac.decode(
      graft.multimodal.Flac.make(768, 1, 8000, 3).take(60)) === None)
    assert(graft.multimodal.Flac.decode("fLaC but not really".getBytes("UTF-8")) === None)
  }

  test("G.711 expansion laws: hand-checked reference points, full-range sanity") {
    // mu-law: 0xFF encodes 0; 0x7F is "minus zero"; 0x80 is the most
    // negative step; 0x00 is the most negative full-scale value
    assert(Multimodal.muLawToPcm(0xff) === 0)
    assert(Multimodal.muLawToPcm(0x7f) === 0)
    assert(Multimodal.muLawToPcm(0x80) === 32124, "0x80 decodes to +max (sign bit clear after invert)")
    assert(Multimodal.muLawToPcm(0x00) === -32124)
    // A-law: 0xD5 encodes +8 (the smallest positive), 0x55 encodes -8;
    // 0xAA is full-scale positive? 0xAA^0x55=0xFF: seg 7, mantissa 15
    assert(Multimodal.aLawToPcm(0xd5) === 8)
    assert(Multimodal.aLawToPcm(0x55) === -8)
    assert(Multimodal.aLawToPcm(0xaa) === (((15 << 4) + 0x108) << 6))
    // both laws are odd-symmetric: flipping the sign bit negates
    for (b <- 0 until 128) {
      assert(Multimodal.muLawToPcm(b) === -Multimodal.muLawToPcm(b | 0x80))
      assert(Multimodal.aLawToPcm(b | 0x80) === -Multimodal.aLawToPcm(b))
    }
  }

  test("IMA ADPCM: zero nibbles hold the predictor; blocks are independent; clamps hold") {
    // block of all-zero nibbles from index 0: step 7 -> diff 0 -> every
    // sample equals the header predictor
    val quiet = Multimodal.makeWavImaAdpcm(1, 12, 8000, 0)
    // overwrite header+nibbles: pred=1000, idx=0, nibbles 0
    for (i <- 44 until quiet.length) quiet(i) = 0
    quiet(44) = (1000 & 0xff).toByte; quiet(45) = (1000 >> 8).toByte
    val dq = Multimodal.imaAdpcmDecode(quiet, 12, 44, 12).get
    assert(dq.length === 1 + 8 * 2)
    assert(dq.forall(_ === 1000), s"zero nibbles must hold the predictor: ${dq.toSeq}")

    // block independence: decoding a 2-block stream equals decoding each
    // block alone — the resync property the format exists for
    val two = Multimodal.makeWavImaAdpcm(2, 132, 8000, 7)
    val all = Multimodal.imaAdpcmDecode(two, 132, 44, 264).get
    val b0 = Multimodal.imaAdpcmDecode(two, 132, 44, 132).get
    val b1 = Multimodal.imaAdpcmDecode(two, 132, 44 + 132, 132).get
    assert(all.toSeq === (b0 ++ b1).toSeq)
    assert(all.length === 2 * 257)
    // decoded values always inside int16 (the clamp law)
    assert(all.forall(v => v >= -32768 && v <= 32767))
    // saturating upward nibbles (7 = +max magnitude) must hit the clamp
    val hot = Multimodal.makeWavImaAdpcm(1, 132, 8000, 0)
    for (i <- 48 until hot.length) hot(i) = 0x77.toByte
    hot(44) = 0; hot(45) = 0; hot(46) = 88 // start at max step
    val dh = Multimodal.imaAdpcmDecode(hot, 132, 44, 132).get
    assert(dh.last === 32767, "monotone +max nibbles from max step must clamp at 32767")
  }

  test("MS-ADPCM: zero nibbles follow the pure predictor; blocks independent; delta clamps") {
    // predictor index 0 (c1=256, c2=0): with all-zero nibbles each new
    // sample is trunc(s1·256/256) = s1 — the stream holds at sample1
    val quiet = Multimodal.makeWavMsAdpcm(1, 16, 8000, 0)
    quiet(44) = 0 // predictor 0
    quiet(45) = 40; quiet(46) = 0 // idelta 40
    quiet(47) = ((1234 & 0xff)).toByte; quiet(48) = (1234 >> 8).toByte // sample1
    quiet(49) = ((777 & 0xff)).toByte; quiet(50) = (777 >> 8).toByte // sample2
    for (i <- 51 until quiet.length) quiet(i) = 0
    val dq = Multimodal.msAdpcmDecode(quiet, 16, 44, 16).get
    assert(dq.take(2).toSeq === Seq(777, 1234))
    assert(dq.drop(2).forall(_ === 1234), s"zero nibbles must hold sample1: ${dq.toSeq}")

    // block independence (per-block resync) and total-law bounds
    val two = Multimodal.makeWavMsAdpcm(2, 132, 8000, 7)
    val all = Multimodal.msAdpcmDecode(two, 132, 44, 264).get
    val b0 = Multimodal.msAdpcmDecode(two, 132, 44, 132).get
    val b1 = Multimodal.msAdpcmDecode(two, 132, 44 + 132, 132).get
    assert(all.toSeq === (b0 ++ b1).toSeq)
    assert(all.length === 2 * 252)
    assert(all.forall(v => v >= -32768 && v <= 32767))
    // fingerprint + sniff
    assert(Multimodal.audioFingerprint(two).isDefined)
    assert(Multimodal.audioFormatOf(two) === "wav_ms_adpcm")
  }

  test("lossy-audio fingerprints: G.711/ADPCM payloads fingerprint; coverage measures the boundary") {
    import spark.implicits._
    assert(Multimodal.audioFingerprint(Multimodal.makeWavG711(600, 8000, 3, aLaw = false)).isDefined)
    assert(Multimodal.audioFingerprint(Multimodal.makeWavG711(600, 8000, 3, aLaw = true)).isDefined)
    assert(Multimodal.audioFingerprint(Multimodal.makeWavImaAdpcm(2, 132, 8000, 3)).isDefined)
    // identical payloads fingerprint identically; the two companding
    // laws of the same byte stream do NOT (different decoded PCM)
    assert(Multimodal.audioFingerprint(Multimodal.makeWavG711(600, 8000, 3, aLaw = false))
      === Multimodal.audioFingerprint(Multimodal.makeWavG711(600, 8000, 3, aLaw = false)))
    // PCM widths: 8-bit widens (v-128)<<8 — a DC byte decodes to exact
    // silence at 128; 24-bit stays exact signed
    val flat8 = Multimodal.makeWavPcmWidth(600, 8000, 0, bits = 8)
    for (i <- 44 until flat8.length) flat8(i) = 128.toByte
    assert(Multimodal.audioFingerprint(flat8).contains(0L),
      "constant 8-bit PCM has zero energy deltas everywhere")
    assert(Multimodal.audioFingerprint(Multimodal.makeWavPcmWidth(600, 8000, 3, bits = 24)).isDefined)
    // sniffer + coverage: decodable classes fully fingerprinted, the
    // table-data codecs (mp3/ogg/aac shapes) measured at zero
    val rows = Seq(
      (0L, Multimodal.makeWav(600, 1, 8000, 1)),
      (1L, Multimodal.makeWavG711(600, 8000, 1, aLaw = false)),
      (2L, Multimodal.makeWavImaAdpcm(2, 132, 8000, 1)),
      (3L, "ID3junkjunkjunk".getBytes("US-ASCII")),
      (4L, "OggSjunkjunkjunk".getBytes("US-ASCII")),
      (5L, Array(0xff.toByte, 0xf1.toByte) ++ Array.fill(32)(9.toByte))
    ).toDF("doc_id", "payload")
    val cov = Multimodal.audioCoverage(spark, rows).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(cov === Map(
      "wav_pcm16" -> ((1L, 1L)), "wav_mulaw" -> ((1L, 1L)),
      "wav_ima_adpcm" -> ((1L, 1L)), "mp3" -> ((1L, 0L)),
      "ogg" -> ((1L, 0L)), "aac_adts" -> ((1L, 0L))))
  }

  test("audioFingerprint: a FLAC twin of the same PCM fingerprints identically to WAV") {
    // 192-sample mono streams, identical closed-form samples: the
    // fingerprint is a function of DECODED samples, so the lossless
    // re-encoding must collide at Hamming 0
    val wav = Multimodal.makeWav(192, 1, 8000, seed = 5)
    val flac = graft.multimodal.Flac.make(192, 1, 8000, seed = 5)
    assert(Multimodal.audioFingerprint(flac).isDefined)
    assert(Multimodal.audioFingerprint(flac) === Multimodal.audioFingerprint(wav))
    // stereo twin too (decorrelated FIXED frames + independent VERBATIM)
    val wav2 = Multimodal.makeWav(576, 2, 8000, seed = 11)
    val flac2 = graft.multimodal.Flac.make(576, 2, 8000, seed = 11)
    assert(Multimodal.audioFingerprint(flac2) === Multimodal.audioFingerprint(wav2))
    // parseFlac features equal parseWav features on the same PCM
    val fw = Multimodal.parseWav(1L, wav).get
    val ff = Multimodal.parseFlac(1L, flac).get
    assert(ff.format === "flac" && ff.width === 8000 && ff.height === 1)
    assert(ff.features.toSeq === fw.features.toSeq)
    // dispatch: decode() picks the real parse, not the stub
    assert(Multimodal.decode(1L, flac).format === "flac")
  }

  test("audioFingerprint: IEEE-float WAV twins of the same PCM collide with PCM16") {
    // float32 and float64, mono and stereo: sample i stores exactly
    // s(i)/32768, so the pinned trunc(f·32768) canonicalization makes
    // the float file a fingerprint twin of the PCM16 fixture
    for ((ch, bits, seed) <- Seq((1, 32, 5L), (2, 32, 7L), (1, 64, 9L), (2, 64, 11L)))
      assert(Multimodal.audioFingerprint(
          Multimodal.makeWavFloat(300, ch, 8000, seed, bits = bits)) ===
        Multimodal.audioFingerprint(Multimodal.makeWav(300, ch, 8000, seed)),
        s"ch=$ch bits=$bits")
    // sniffs
    assert(Multimodal.audioFormatOf(
      Multimodal.makeWavFloat(100, 1, 8000, 1)) === "wav_float32")
    assert(Multimodal.audioFormatOf(
      Multimodal.makeWavFloat(100, 1, 8000, 1, bits = 64)) === "wav_float64")
    // clamp law: a float at exactly 1.0 (out of the signed range) pins
    // to 32767, −1.0 to −32768, NaN to 0 — hand-built 65+-sample file
    val f = Multimodal.makeWavFloat(100, 1, 8000, 1)
    def putF(i: Int, v: Float): Unit = {
      val b = java.lang.Float.floatToIntBits(v)
      f(44 + 4 * i) = b.toByte; f(44 + 4 * i + 1) = (b >> 8).toByte
      f(44 + 4 * i + 2) = (b >> 16).toByte; f(44 + 4 * i + 3) = (b >> 24).toByte
    }
    putF(0, 1.0f); putF(1, -1.0f); putF(2, Float.NaN)
    assert(Multimodal.audioFingerprint(f).isDefined) // still decodes
    // bits 32 under format tag 1 (PCM) is NOT float: outside → None
    val lie = Multimodal.makeWavFloat(100, 1, 8000, 1)
    lie(20) = 1 // format tag → PCM with bits=32
    assert(Multimodal.audioFingerprint(lie).isEmpty)
    assert(Multimodal.audioFormatOf(lie) === "wav_other")
    // a data length that is not a whole number of floats rejects
    val ragged = Multimodal.makeWavFloat(100, 1, 8000, 1)
    // shrink declared data size by 2 bytes (RIFF + data chunk sizes)
    ragged(40) = (((100 * 4 - 2) & 0xff)).toByte
    assert(Multimodal.audioFingerprint(ragged).isEmpty)
  }

  test("audioFingerprint: Ogg-wrapped FLAC collides with the bare FLAC and WAV twins") {
    // the Ogg wrap is container storage only: same decoded samples →
    // Hamming 0 against both the native FLAC and the PCM16 WAV
    for ((ch, nf, withC) <- Seq((1, 576, true), (2, 384, true), (1, 384, false))) {
      val ogg = Multimodal.makeOggFlac(nf, ch, 8000, 9L, withComment = withC)
      assert(Multimodal.audioFingerprint(ogg).isDefined, s"ch=$ch nf=$nf")
      assert(Multimodal.audioFingerprint(ogg) ===
        Multimodal.audioFingerprint(graft.multimodal.Flac.make(nf, ch, 8000, 9L)))
      assert(Multimodal.audioFingerprint(ogg) ===
        Multimodal.audioFingerprint(Multimodal.makeWav(nf, ch, 8000, 9L)))
    }
    // cross-PAGE packet continuation: split the audio packet across two
    // pages (first page's lacing all-255, second page flagged continued)
    val native = graft.multimodal.Flac.make(1152, 1, 8000, 3L)
    val frames = native.drop(42)
    assert(frames.length > 300) // the split below must actually span pages
    val one = Multimodal.makeOggFlac(1152, 1, 8000, 3L, withComment = false)
    def page(flags: Int, seq: Int, granule: Long, lacings: Array[Int],
             body: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("OggS".getBytes("US-ASCII"))
      out.write(0); out.write(flags)
      for (i <- 0 until 8) out.write(((granule >> (8 * i)) & 0xff).toInt)
      for (i <- 0 until 4) out.write((0x46 >> (8 * i)) & 0xff)
      for (i <- 0 until 4) out.write((seq >> (8 * i)) & 0xff)
      for (_ <- 0 until 4) out.write(0)
      out.write(lacings.length)
      lacings.foreach(out.write)
      out.write(body)
      out.toByteArray
    }
    // rebuild: header page verbatim from the single-page fixture, then
    // the frames packet as 255-byte head (continues) + tail page
    val headerPageLen = {
      // first page: 27 + nsegs + body; nsegs from byte 26
      val nsegs = one(26) & 0xff
      27 + nsegs + (0 until nsegs).map(i => one(27 + i) & 0xff).sum
    }
    val headerPage = one.take(headerPageLen)
    val split = page(0, 1, -1L, Array(255), frames.take(255)) ++
      page(1, 2, 1152L, Array.fill((frames.length - 255) / 255)(255) ++
        Array((frames.length - 255) % 255), frames.drop(255))
    val twoPage = headerPage ++ split
    assert(Multimodal.audioFingerprint(twoPage) ===
      Multimodal.audioFingerprint(one))
    // rejects, never guesses
    val good = Multimodal.makeOggFlac(576, 1, 8000, 9L)
    assert(Multimodal.audioFingerprint(good.dropRight(30)).isEmpty) // truncated
    // header-count lie: audio packet consumed as a header → no audio
    val lie = good.clone()
    val p0DataOff = 27 + (good(26) & 0xff) // first page body
    lie(p0DataOff + 8) = 2
    assert(Multimodal.audioFingerprint(lie).isEmpty)
    // continuation-flag violation: mark the second page continued when
    // the first packet ended cleanly
    val badCont = good.clone()
    badCont(headerPageLenOf(good) + 5) = (badCont(headerPageLenOf(good) + 5) | 1).toByte
    assert(Multimodal.audioFingerprint(badCont).isEmpty)
    // metaOf refinement: codec, STREAMINFO rate/channels, granule count
    val m = Multimodal.metaOf(5L, Multimodal.makeOggFlac(576, 2, 8000, 9L))
    assert(m.kind === "audio" && m.format === "ogg_flac" &&
      m.sample_rate === Some(8000) && m.channels === Some(2) &&
      m.n_samples === Some(576L) && m.duration_ms === Some(72L))
  }

  private def headerPageLenOf(ogg: Array[Byte]): Int = {
    val nsegs = ogg(26) & 0xff
    27 + nsegs + (0 until nsegs).map(i => ogg(27 + i) & 0xff).sum
  }

  test("audioFingerprint: WAVE_FORMAT_EXTENSIBLE resolves to its SubFormat tag") {
    // extensible twins of PCM16, 24-bit, float32 and mu-law all
    // fingerprint identically to their plain forms, and the sniff
    // reports the RESOLVED class, not 'wav_other'
    val pcm = Multimodal.makeWav(300, 2, 8000, 9)
    assert(Multimodal.audioFingerprint(Multimodal.toExtensibleWav(pcm)) ===
      Multimodal.audioFingerprint(pcm))
    assert(Multimodal.audioFormatOf(Multimodal.toExtensibleWav(pcm)) === "wav_pcm16")
    val w24 = Multimodal.makeWavPcmWidth(300, 8000, 9, bits = 24)
    assert(Multimodal.audioFingerprint(Multimodal.toExtensibleWav(w24)) ===
      Multimodal.audioFingerprint(w24))
    val f32 = Multimodal.makeWavFloat(300, 1, 8000, 9)
    assert(Multimodal.audioFingerprint(Multimodal.toExtensibleWav(f32)) ===
      Multimodal.audioFingerprint(f32))
    assert(Multimodal.audioFormatOf(Multimodal.toExtensibleWav(f32)) === "wav_float32")
    val mu = Multimodal.makeWavG711(300, 8000, 9, aLaw = false)
    assert(Multimodal.audioFingerprint(Multimodal.toExtensibleWav(mu)) ===
      Multimodal.audioFingerprint(mu))
    // a lying extensible fmt (size < 40) rejects the whole header
    val lie = Multimodal.toExtensibleWav(pcm).clone()
    lie(16) = 24 // fmt size 24 < 40 while tag says extensible
    assert(Multimodal.audioFingerprint(lie).isEmpty)
  }

  test("audioFingerprint: au and AIFF twins of the same PCM collide with WAV") {
    // AU mu-law: identical companded bytes to the WAV G.711 fixture →
    // identical decoded samples → Hamming 0
    val auMu = Multimodal.makeAu(600, 8000, 3, muLaw = true)
    assert(Multimodal.audioFingerprint(auMu).isDefined)
    assert(Multimodal.audioFingerprint(auMu) ===
      Multimodal.audioFingerprint(Multimodal.makeWavG711(600, 8000, 3, aLaw = false)))
    // AU linear PCM16 (big-endian) vs mono WAV (little-endian): same
    // closed-form samples — byte order is container storage, not signal
    val auPcm = Multimodal.makeAu(600, 8000, 7, muLaw = false)
    assert(Multimodal.audioFingerprint(auPcm) ===
      Multimodal.audioFingerprint(Multimodal.makeWav(600, 1, 8000, 7)))
    // r17 s2: the other AU linear encodings are fingerprint twins too —
    // signed-8 decodes to the law ×256 (a uniform scale the energy-delta
    // comparisons cancel), float32/float64 BE decode to the law exactly
    // via the WAV format-3 canonicalization
    for (enc <- Seq(2, 6, 7))
      assert(Multimodal.audioFingerprint(
          Multimodal.makeAu(600, 8000, 7, muLaw = false, enc = enc)) ===
        Multimodal.audioFingerprint(Multimodal.makeWav(600, 1, 8000, 7)),
        s"au enc=$enc")
    // AIFF vs WAV, mono and stereo (flat sample law is channel-agnostic)
    assert(Multimodal.audioFingerprint(Multimodal.makeAiff(300, 1, 8000, 9)) ===
      Multimodal.audioFingerprint(Multimodal.makeWav(300, 1, 8000, 9)))
    assert(Multimodal.audioFingerprint(Multimodal.makeAiff(200, 2, 8000, 11)) ===
      Multimodal.audioFingerprint(Multimodal.makeWav(200, 2, 8000, 11)))
    // sniffs
    assert(Multimodal.audioFormatOf(auMu) === "au")
    assert(Multimodal.audioFormatOf(Multimodal.makeAiff(100, 1, 8000, 1)) === "aiff")
    // rejects, never guesses
    val truncated = java.util.Arrays.copyOf(auPcm, auPcm.length - 10) // dataSize overruns
    assert(Multimodal.audioFingerprint(truncated).isEmpty)
    val badEnc = auPcm.clone() // encoding 27 (alaw-in-au): outside
    badEnc(15) = 27
    assert(Multimodal.audioFingerprint(badEnc).isEmpty)
    val aiff = Multimodal.makeAiff(300, 1, 8000, 9)
    val aifc = aiff.clone() // AIFC form WITHOUT the extended COMM: corrupt
    aifc(11) = 'C'.toByte
    assert(Multimodal.audioFingerprint(aifc).isEmpty)
    assert(Multimodal.audioFormatOf(aifc) === "aifc")
    // r17 s2: AIFC's PCM compression types DECODE — "NONE" (big-endian)
    // and "sowt" (byte-swapped, the Apple-writer layout) are both
    // fingerprint twins of the AIFF and WAV fixtures; a real codec
    // ("ima4") stays outside
    for ((comp, ch) <- Seq(("NONE", 1), ("sowt", 1), ("NONE", 2), ("sowt", 2)))
      assert(Multimodal.audioFingerprint(
          Multimodal.makeAiff(300, ch, 8000, 9, aifc = comp)) ===
        Multimodal.audioFingerprint(Multimodal.makeWav(300, ch, 8000, 9)),
        s"aifc $comp ch=$ch")
    assert(Multimodal.audioFormatOf(
      Multimodal.makeAiff(300, 1, 8000, 9, aifc = "sowt")) === "aifc")
    val ima4 = Multimodal.makeAiff(300, 1, 8000, 9, aifc = "NONE")
    ima4(38) = 'i'; ima4(39) = 'm'; ima4(40) = 'a'; ima4(41) = '4'
    assert(Multimodal.audioFingerprint(ima4).isEmpty)
    val lyingComm = aiff.clone() // COMM claims more frames than SSND holds
    lyingComm(22) = 0; lyingComm(23) = 0
    lyingComm(24) = 0x7f.toByte; lyingComm(25) = 0xff.toByte
    assert(Multimodal.audioFingerprint(lyingComm).isEmpty)
  }

  test("parsePng: round-trip recovers the closed-form pixels through every filter type") {
    // h = 7 > 5 rows: filter types 0..4 all appear (r mod 5), so the
    // decode inverts None, Sub, Up, Average AND Paeth — and the pixel
    // statistics must still equal the pre-filter closed form
    val png = Multimodal.makePng(5, 7, seed = 42, colorType = 2)
    val f = Multimodal.parsePng(1L, png).get
    assert(f.format === "png" && f.width === 5 && f.height === 7)
    val raw = 7 * (5 * 3 + 1)
    assert(f.n_bytes === raw + 68, "stored-block zlib makes the size closed-form")
    val expect = (for (r <- 0 until 7; k <- 0 until 15)
      yield (42 + r * 31 + k * 7) % 256).sum
    val got = math.round(f.features(3).toDouble * 3 * 35 * 255)
    assert(got === expect, "filter inversion must reproduce the exact byte sum")
  }

  test("parsePng: hand-built 1x1 RGB — exact channel features in R,G,B storage order") {
    val png = Multimodal.makePng(1, 1, seed = 0, colorType = 2)
    // row 0 has filter type 0 (None): pixel bytes sit at fixed offsets in
    // the stored-block zlib stream: sig(8) + IHDR chunk(25) + IDAT
    // len+type(8) + zlib hdr(2) + block hdr(5) = filter byte at 48,
    // then R,G,B at 49..51
    png(49) = 30; png(50) = 20; png(51) = 10
    // stored blocks carry the raw bytes, so the Adler32 footer no longer
    // matches — rebuild it the way makePng does
    val fixed = {
      val rawLen = 1 * (3 + 1)
      val ad = new java.util.zip.Adler32()
      ad.update(png, 48, rawLen)
      val adOff = 48 + rawLen
      val v = ad.getValue
      png(adOff) = ((v >> 24) & 0xff).toByte; png(adOff + 1) = ((v >> 16) & 0xff).toByte
      png(adOff + 2) = ((v >> 8) & 0xff).toByte; png(adOff + 3) = (v & 0xff).toByte
      // IDAT CRC also covers the payload — recompute
      val crc = new java.util.zip.CRC32()
      crc.update(png, 37, 4 + (2 + 5 + rawLen + 4)) // "IDAT" + zlib payload
      val cv = crc.getValue
      val cOff = 41 + 2 + 5 + rawLen + 4
      png(cOff) = ((cv >> 24) & 0xff).toByte; png(cOff + 1) = ((cv >> 16) & 0xff).toByte
      png(cOff + 2) = ((cv >> 8) & 0xff).toByte; png(cOff + 3) = (cv & 0xff).toByte
      png
    }
    val f = Multimodal.parsePng(9L, fixed).get
    assert(f.features(0) === 30f / 255 && f.features(1) === 20f / 255 &&
      f.features(2) === 10f / 255)
    assert(f.features(4) === 0f)
  }

  test("parsePng: grayscale folds one channel into all three slots") {
    val png = Multimodal.makePng(4, 6, seed = 3, colorType = 0)
    val f = Multimodal.parsePng(2L, png).get
    assert(f.format === "png" && f.width === 4 && f.height === 6)
    assert(f.features(0) === f.features(1) && f.features(1) === f.features(2)
      && f.features(2) === f.features(3))
    val expect = (for (r <- 0 until 6; k <- 0 until 4)
      yield (3 + r * 31 + k * 7) % 256).sum
    assert(math.round(f.features(3).toDouble * 24 * 255) === expect)
  }

  test("parsePng/decode: corrupt and unsupported variants fall to the stub") {
    assert(Multimodal.decode(1L, Multimodal.makePng(3, 3, 1)).format === "png")
    // bad magic
    val bad = Multimodal.makePng(3, 3, 1); bad(0) = 0
    assert(Multimodal.decode(2L, bad).format === "stub")
    // truncated IDAT (zlib stream cut mid-block)
    val trunc = Multimodal.makePng(8, 8, 1).take(60)
    assert(Multimodal.decode(3L, trunc).format === "stub")
    // a LYING header (depth/type claims more payload than the stream
    // holds) rejects on the inflate-size check, not a wrong guess
    val deep = Multimodal.makePng(3, 3, 1); deep(24) = 16
    assert(Multimodal.decode(4L, deep).format === "stub")
    val rgba = Multimodal.makePng(3, 3, 1); rgba(25) = 6
    assert(Multimodal.decode(7L, rgba).format === "stub")
    // a LYING interlace flag on a sequential stream (pass layout needs
    // more scanline bytes than the stream holds) rejects on the
    // inflate-size check — real Adam7 files decode (see the interlace
    // round-trip tests)
    val adam7 = Multimodal.makePng(3, 3, 1); adam7(28) = 1
    assert(Multimodal.decode(5L, adam7).format === "stub")
    // interlace methods beyond Adam7 are header-rejected
    val badIl = Multimodal.makePng(3, 3, 1); badIl(28) = 2
    assert(Multimodal.decode(8L, badIl).format === "stub")
    // palette color type WITHOUT a PLTE chunk (spec violation) rejects
    val pal = Multimodal.makePng(3, 3, 1); pal(25) = 3
    assert(Multimodal.decode(6L, pal).format === "stub")
  }

  test("parsePng: Adam7 interlaced round-trip ≡ sequential decode, all 7 passes") {
    // 16×16 places pixels on every pass; each pass filters its rows
    // with type (pass-row mod 5), so the decode must reset filter
    // predictors per pass AND scatter onto the right grid cells — any
    // off-by-one reads as a wrong pixel sum vs the sequential twin
    for ((w, h) <- Seq((16, 16), (5, 7), (1, 1), (2, 3), (8, 1), (1, 9))) {
      val seq = Multimodal.parsePng(1L, Multimodal.makePng(w, h, seed = 42)).get
      val il = Multimodal.parsePng(1L,
        Multimodal.makePng(w, h, seed = 42, interlaced = true)).get
      assert(il.width === seq.width && il.height === seq.height, s"dims at ${w}x$h")
      assert(il.features.toSeq === seq.features.toSeq,
        s"interlaced decode diverged from sequential at ${w}x$h")
    }
  }

  test("parsePng: Adam7 interlaced RGBA and 16-bit variants round-trip too") {
    // bpp > 3 exercises whole-pixel scatter (arraycopy length = bpp)
    for ((ct, depth) <- Seq((6, 8), (0, 8), (2, 16))) {
      val seq = Multimodal.parsePng(1L,
        Multimodal.makePng(6, 6, seed = 7, colorType = ct, bitDepth = depth)).get
      val il = Multimodal.parsePng(1L,
        Multimodal.makePng(6, 6, seed = 7, colorType = ct, bitDepth = depth,
          interlaced = true)).get
      assert(il.features.toSeq === seq.features.toSeq, s"ct=$ct depth=$depth")
    }
  }

  test("parsePng: RGBA (type 6) decodes — alpha folds into feature slot 7") {
    val w = 5; val h = 7; val seed = 42L
    val png = Multimodal.makePng(w, h, seed, colorType = 6)
    val f = Multimodal.parsePng(21L, png).get
    assert(f.format === "png" && f.width === w && f.height === h)
    assert(f.n_bytes === h * (4 * w + 1) + 68)
    // closed form split by channel position: k%4==3 is alpha
    val all = for (r <- 0 until h; k <- 0 until 4 * w)
      yield (k % 4, ((seed + r * 31L + k * 7L) % 256).toInt)
    val rgbSum = all.filter(_._1 < 3).map(_._2).sum
    val aSum = all.filter(_._1 == 3).map(_._2).sum
    val n = w * h
    assert(math.round(f.features(3).toDouble * 3 * n * 255) === rgbSum)
    assert(math.round(f.features(7).toDouble * n * 255) === aSum)
  }

  test("parsePng: gray+alpha (type 4) decodes — gray in slots 0-3, alpha in 7") {
    val w = 4; val h = 6; val seed = 3L
    val png = Multimodal.makePng(w, h, seed, colorType = 4)
    val f = Multimodal.parsePng(22L, png).get
    assert(f.features(0) === f.features(3))
    val all = for (r <- 0 until h; k <- 0 until 2 * w)
      yield (k % 2, ((seed + r * 31L + k * 7L) % 256).toInt)
    val gSum = all.filter(_._1 == 0).map(_._2).sum
    val aSum = all.filter(_._1 == 1).map(_._2).sum
    assert(math.round(f.features(3).toDouble * w * h * 255) === gSum)
    assert(math.round(f.features(7).toDouble * w * h * 255) === aSum)
  }

  test("parsePng: 16-bit truecolor decodes — samples reduce to their high byte") {
    val w = 5; val h = 7; val seed = 42L
    val png = Multimodal.makePng(w, h, seed, colorType = 2, bitDepth = 16)
    val f = Multimodal.parsePng(23L, png).get
    assert(f.format === "png" && f.width === w && f.height === h)
    assert(f.n_bytes === h * (6 * w + 1) + 68)
    // high byte of big-endian sample s sits at byte k = 2s
    val hiSum = (for (r <- 0 until h; s <- 0 until 3 * w)
      yield ((seed + r * 31L + (2 * s) * 7L) % 256).toInt).sum
    assert(math.round(f.features(3).toDouble * 3 * w * h * 255) === hiSum)
    // filters ran on BYTES across all five types (h > 5) — a bpp
    // mismatch (3 vs 6) would corrupt Sub/Average/Paeth rows
  }

  test("parsePng: 16-bit RGBA decodes (both extensions compose)") {
    val w = 3; val h = 6; val seed = 9L
    val png = Multimodal.makePng(w, h, seed, colorType = 6, bitDepth = 16)
    val f = Multimodal.parsePng(24L, png).get
    val all = for (r <- 0 until h; s <- 0 until 4 * w)
      yield (s % 4, ((seed + r * 31L + (2 * s) * 7L) % 256).toInt)
    val rgbSum = all.filter(_._1 < 3).map(_._2).sum
    val aSum = all.filter(_._1 == 3).map(_._2).sum
    val n = w * h
    assert(math.round(f.features(3).toDouble * 3 * n * 255) === rgbSum)
    assert(math.round(f.features(7).toDouble * n * 255) === aSum)
  }

  test("parsePng: palette (type 3) decodes through the real path with PLTE lookup") {
    val w = 5; val h = 7; val seed = 42L
    val png = Multimodal.makePng(w, h, seed, colorType = 3)
    val f = Multimodal.parsePng(11L, png).get
    assert(f.format === "png" && f.width === w && f.height === h)
    // independent expectation: indices follow makePng's closed form,
    // palette entries follow the PLTE closed form — fold them directly
    def palEntry(j: Int, c: Int): Int = ((seed + j * 11L + c * 97L) % 256).toInt
    val idxs = for (r <- 0 until h; k <- 0 until w)
      yield ((seed + r * 31L + k * 7L) % 256).toInt
    val n = w * h
    for (c <- 0 until 3) {
      val expect = idxs.map(j => palEntry(j, c)).sum
      assert(math.round(f.features(c).toDouble * n * 255) === expect, s"channel $c")
    }
    val expectHigh = idxs.flatMap(j => (0 until 3).map(c => palEntry(j, c)))
      .count(_ > 127)
    assert(math.round(f.features(4).toDouble * 3 * n) === expectHigh)
    // palette decode runs the REAL path end-to-end (not the stub)
    assert(Multimodal.decode(12L, png).format === "png")
  }

  test("parsePng: palette index past the PLTE length rejects") {
    // shrink the PLTE to 1 entry by rewriting the chunk: then the
    // closed-form indices (up to 255) exceed the palette and must reject.
    // Easier surgical form: decode a valid palette PNG whose PLTE claims
    // only 3 bytes — rebuild the file with a truncated PLTE chunk.
    val w = 3; val h = 3; val seed = 9L
    val full = Multimodal.makePng(w, h, seed, colorType = 3)
    // layout: sig(8) + IHDR(25) + PLTE chunk(12+768) + IDAT... — replace
    // the 768-byte PLTE with a 3-byte one (single entry), CRC rebuilt
    val plteStart = 8 + 25
    val data = Array[Byte](0, 0, 0)
    val out = new java.io.ByteArrayOutputStream()
    out.write(full, 0, plteStart)
    val hdr = Array[Byte](0, 0, 0, 3, 'P', 'L', 'T', 'E')
    out.write(hdr); out.write(data)
    val crc = new java.util.zip.CRC32()
    crc.update(hdr, 4, 4); crc.update(data)
    val cv = crc.getValue
    out.write(Array(((cv >> 24) & 0xff).toByte, ((cv >> 16) & 0xff).toByte,
      ((cv >> 8) & 0xff).toByte, (cv & 0xff).toByte))
    out.write(full, plteStart + 12 + 768, full.length - plteStart - 12 - 768)
    assert(Multimodal.decode(13L, out.toByteArray).format === "stub")
  }

  test("parsePng: FDICT zlib header rejects instead of spinning forever") {
    // FLG=0x20 sets the preset-dictionary bit with valid check bits for
    // CMF=0x78 ((0x78*256+0x20) % 31 == 0): Inflater.inflate() then
    // returns 0 with needsInput()==false forever — the zero-progress
    // guard must bail rather than hang the executor thread
    val png = Multimodal.makePng(3, 3, 1)
    png(42) = 0x20.toByte // zlib FLG at sig(8) + IHDR(25) + IDAT len+type(8) + 1
    val done = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val fut = done.submit(new java.util.concurrent.Callable[String] {
        def call(): String = Multimodal.decode(7L, png).format
      })
      assert(fut.get(10, java.util.concurrent.TimeUnit.SECONDS) === "stub")
    } finally done.shutdownNow()
  }

  test("parsePng: lying giant-dimension header rejects before allocating") {
    // w=h=16384, colorType 2 passes the dimension gate but implies
    // ~805 MB of decode buffers; the size cap and the deflate-ratio
    // bound (|IDAT| >= expected/1032) must both reject this tiny file
    val png = Multimodal.makePng(3, 3, 1)
    png(16) = 0; png(17) = 0; png(18) = 0x40.toByte; png(19) = 0 // w = 16384
    png(20) = 0; png(21) = 0; png(22) = 0x40.toByte; png(23) = 0 // h = 16384
    val before = Runtime.getRuntime.totalMemory()
    assert(Multimodal.decode(8L, png).format === "stub")
    // no assertion on memory delta (GC noise) — the real check is that
    // the call returns at all without an 805 MB Array alloc attempt
    assert(before > 0)
  }

  test("lzwEncode/lzwDecode: round-trip across code sizes and data shapes") {
    def rt(data: Array[Byte], min: Int): Unit = {
      val enc = Multimodal.lzwEncode(data, min)
      val dec = Multimodal.lzwDecode(enc, min, data.length)
      assert(dec.isDefined, s"decode failed (min=$min, n=${data.length})")
      assert(java.util.Arrays.equals(dec.get, data),
        s"round-trip mismatch (min=$min, n=${data.length})")
    }
    rt(Array[Byte](5), 8)                                   // single byte
    rt(Array.tabulate(300)(i => (i % 7).toByte), 4)         // small alphabet
    // K-omega-K: "abab..." makes the decoder hit code == next on the
    // third code (the entry being defined by the code that names it)
    rt(Array.tabulate(64)(i => (i % 2).toByte), 2)
    // mixed-direction structured bytes, full byte alphabet
    rt(Array.tabulate(5000)(i => ((i * 7 + i / 13) % 256).toByte), 8)
  }

  test("lzwEncode/lzwDecode: table fills to 4096, resets via clear, keeps decoding") {
    // highly repetitive 300k stream: the dictionary saturates (width
    // reaches 12, then the encoder emits clear + resets) several times
    val data = Array.tabulate(300000)(i => ((i / 3) % 251).toByte)
    val enc = Multimodal.lzwEncode(data, 8)
    assert(enc.length < data.length, "repetitive data must actually compress")
    val dec = Multimodal.lzwDecode(enc, 8, data.length)
    assert(dec.isDefined && java.util.Arrays.equals(dec.get, data))
  }

  test("lzwDecode: truncated and corrupt streams reject, never guess") {
    val data = Array.tabulate(1000)(i => (i % 11).toByte)
    val enc = Multimodal.lzwEncode(data, 8)
    assert(Multimodal.lzwDecode(enc.dropRight(3), 8, data.length).isEmpty,
      "truncation (no EOI) must reject")
    assert(Multimodal.lzwDecode(enc, 8, data.length - 5).isEmpty,
      "wrong expected length must reject")
  }

  test("parseGif: round-trip recovers the closed-form palette-mapped pixels") {
    val (w, h, seed) = (13, 6, 42L)
    val gif = Multimodal.makeGif(w, h, seed)
    val f = Multimodal.parseGif(1L, gif).get
    assert(f.format === "gif" && f.width === w && f.height === h)
    // expected RGB byte sum from the two closed forms
    var expect = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val pi = ((seed + y * 31 + x * 7) % 256).toInt
      expect += (seed + 3 * pi) % 256
      expect += (seed + 5 * pi) % 256
      expect += (seed + 7 * pi) % 256
    }
    val n = w.toLong * h
    assert(math.round(f.features(3).toDouble * 3 * n * 255) === expect,
      "LZW decode + palette fold must reproduce the exact byte sum")
    // channel order is RGB storage order, like PNG
    assert(math.round(f.features(0).toDouble * n * 255) ===
      (for (y <- 0 until h; x <- 0 until w)
        yield (seed + 3 * ((seed + y * 31 + x * 7) % 256)) % 256).sum)
  }

  test("parseGif: extension blocks are skipped; GIF87a magic accepted") {
    val base = Multimodal.makeGif(4, 4, 7L)
    // splice a graphic-control extension (0x21 0xF9, 4-byte block, 0
    // terminator) between the GCT and the image descriptor
    val gctEnd = 13 + 768
    val ext = Array[Byte](0x21, 0xf9.toByte, 4, 0, 0, 0, 0, 0)
    val spliced = base.take(gctEnd) ++ ext ++ base.drop(gctEnd)
    val f = Multimodal.parseGif(2L, spliced).get
    assert(f.width === 4 && f.height === 4)
    val old = Multimodal.parseGif(3L, base).get
    assert(f.features.toSeq === old.features.toSeq)
    // 87a magic is equally valid
    val g87 = base.clone()
    g87(4) = '7'.toByte
    assert(Multimodal.parseGif(4L, g87).isDefined)
  }

  test("parseGif/decode: corrupt variants fall to the stub") {
    assert(Multimodal.decode(1L, Multimodal.makeGif(3, 3, 1)).format === "gif")
    // truncated mid-data
    val gif = Multimodal.makeGif(16, 8, 5)
    assert(Multimodal.decode(3L, gif.take(gif.length - 4)).format === "stub")
    // wrong magic
    val bad = gif.clone(); bad(0) = 'X'.toByte
    assert(Multimodal.decode(4L, bad).format === "stub")
  }

  test("parseJpeg: grayscale DC-only fixture round-trips integer-exactly") {
    val w = 16; val h = 24; val seed = 42L
    val jpg = Multimodal.makeJpeg(w, h, seed, gray = true)
    val f = Multimodal.parseJpeg(1L, jpg).get
    assert(f.format === "jpeg" && f.width === w && f.height === h)
    // expectation: every pixel of block (bx,by) is exactly blockVal
    def bv(c: Int, bx: Int, by: Int): Int =
      (((seed + bx * 31L + by * 7L + c * 53L) % 200) + 28).toInt
    val expect = (for (y <- 0 until h; x <- 0 until w) yield bv(0, x / 8, y / 8)).sum
    assert(math.round(f.features(0).toDouble * w * h * 255) === expect)
    assert(f.features(0) === f.features(1) && f.features(1) === f.features(2))
    assert(Multimodal.decode(2L, jpg).format === "jpeg")
  }

  test("parseJpeg: color 4:4:4 matches the mirrored YCbCr conversion exactly") {
    val w = 16; val h = 8; val seed = 7L
    val jpg = Multimodal.makeJpeg(w, h, seed)
    val f = Multimodal.parseJpeg(3L, jpg).get
    assert(f.format === "jpeg" && f.width === w && f.height === h)
    def bv(c: Int, bx: Int, by: Int): Int =
      (((seed + bx * 31L + by * 7L + c * 53L) % 200) + 28).toInt
    def cl(d: Double): Int = math.min(255, math.max(0, math.round(d).toInt))
    var sr = 0L; var sg = 0L; var sb = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val yv = bv(0, x / 8, y / 8)
      val cb = bv(1, x / 8, y / 8) - 128
      val cr = bv(2, x / 8, y / 8) - 128
      sr += cl(yv + 1.402 * cr)
      sg += cl(yv - 0.344136 * cb - 0.714136 * cr)
      sb += cl(yv + 1.772 * cb)
    }
    val n = w * h
    assert(math.round(f.features(0).toDouble * n * 255) === sr)
    assert(math.round(f.features(1).toDouble * n * 255) === sg)
    assert(math.round(f.features(2).toDouble * n * 255) === sb)
  }

  test("parseJpeg: 4:2:0 chroma replication decodes exactly") {
    val w = 32; val h = 16; val seed = 11L
    val jpg = Multimodal.makeJpeg(w, h, seed, subsample = true)
    val f = Multimodal.parseJpeg(4L, jpg).get
    assert(f.format === "jpeg" && f.width === w && f.height === h)
    def bv(c: Int, bx: Int, by: Int): Int =
      (((seed + bx * 31L + by * 7L + c * 53L) % 200) + 28).toInt
    def cl(d: Double): Int = math.min(255, math.max(0, math.round(d).toInt))
    var sr = 0L
    for (y <- 0 until h; x <- 0 until w) {
      // Y blocks are 8x8 at full res; chroma constant per 16x16 MCU
      val yv = bv(0, x / 8, y / 8)
      val cr = bv(2, x / 16, y / 16) - 128
      sr += cl(yv + 1.402 * cr)
    }
    assert(math.round(f.features(0).toDouble * w * h * 255) === sr)
  }

  test("parseJpeg: unsupported and corrupt variants fall to the stub") {
    val good = Multimodal.makeJpeg(16, 16, 5L)
    assert(Multimodal.decode(5L, good).format === "jpeg")
    // a baseline stream re-labeled SOF2 is MALFORMED progressive (its
    // SOS claims a DC scan with Se=63) — rejected, not mis-decoded
    val prog = good.clone()
    val sof = good.indices.find(i => (good(i) & 0xff) == 0xff &&
      i + 1 < good.length && (good(i + 1) & 0xff) == 0xc0).get
    prog(sof + 1) = 0xc2.toByte
    assert(Multimodal.decode(6L, prog).format === "stub")
    // truncated entropy stream rejects
    assert(Multimodal.decode(7L, good.take(good.length - 10)).format === "stub")
    // wrong magic
    val bad = good.clone(); bad(1) = 0x00
    assert(Multimodal.decode(8L, bad).format === "stub")
  }

  test("parseJpeg: progressive grayscale ≡ its baseline twin, bit-exact features") {
    val w = 16; val h = 24; val seed = 42L
    val base = Multimodal.parseJpeg(1L, Multimodal.makeJpeg(w, h, seed, gray = true)).get
    val prog = Multimodal.parseJpeg(2L,
      Multimodal.makeJpegProgressive(w, h, seed, gray = true)).get
    assert(prog.format === "jpeg" && prog.width === w && prog.height === h)
    // DC first (Al=1) + refinement + EOB-run AC scans refine to the
    // same coefficients the baseline stream carries in one scan
    assert(prog.features.toSeq === base.features.toSeq)
    assert(Multimodal.decode(3L,
      Multimodal.makeJpegProgressive(w, h, seed, gray = true)).format === "jpeg")
  }

  test("parseJpeg: progressive color 4:4:4 and 4:2:0 ≡ their baseline twins") {
    val base444 = Multimodal.parseJpeg(4L, Multimodal.makeJpeg(16, 8, 7L)).get
    val prog444 = Multimodal.parseJpeg(5L, Multimodal.makeJpegProgressive(16, 8, 7L)).get
    assert(prog444.features.toSeq === base444.features.toSeq)
    val base420 = Multimodal.parseJpeg(6L,
      Multimodal.makeJpeg(32, 16, 11L, subsample = true)).get
    val prog420 = Multimodal.parseJpeg(7L,
      Multimodal.makeJpegProgressive(32, 16, 11L, subsample = true)).get
    assert(prog420.features.toSeq === base420.features.toSeq)
  }

  test("parseJpeg: truncated progressive stream rejects") {
    val p = Multimodal.makeJpegProgressive(16, 16, 5L)
    assert(Multimodal.decode(9L, p.take(p.length - 6)).format === "stub")
  }

  test("parseGif: interlaced frames decode through the real path") {
    // same pixels, interlaced storage: the 4-pass row permutation must
    // be undone, and since the features are row-permutation-invariant,
    // the interlaced file must yield EXACTLY the plain file's features
    val plain = Multimodal.parseGif(1L, Multimodal.makeGif(9, 13, 7L)).get
    val inter = Multimodal.parseGif(2L, Multimodal.makeGif(9, 13, 7L, interlaced = true)).get
    assert(inter.format === "gif" && inter.width === 9 && inter.height === 13)
    assert(inter.features.toSeq === plain.features.toSeq)
    // decode dispatch takes the real path, not the stub
    assert(Multimodal.decode(3L, Multimodal.makeGif(9, 13, 7L, interlaced = true)).format === "gif")
  }

  test("interlaceOrder/deinterlaceRows: the 4-pass permutation round-trips") {
    // h=13 exercises all four passes with uneven tails
    val order = Multimodal.interlaceOrder(13)
    assert(order === Seq(0, 8, 4, 12, 2, 6, 10, 1, 3, 5, 7, 9, 11))
    assert(order.sorted === (0 until 13))
    val w = 3
    val display = Array.tabulate(w * 13)(i => (i / w).toByte) // row r filled with r
    val stored = new Array[Byte](display.length)
    order.zipWithIndex.foreach { case (r, k) =>
      System.arraycopy(display, r * w, stored, k * w, w)
    }
    assert(Multimodal.deinterlaceRows(stored, w, 13).toSeq === display.toSeq)
  }

  test("parseTiff: RGB fixture round-trips the closed-form pixels exactly") {
    val w = 5; val h = 4; val seed = 7L
    val f = Multimodal.parseTiff(1L, Multimodal.makeTiff(w, h, seed)).get
    assert(f.format === "tiff" && f.width === w && f.height === h)
    // fixture byte (r, k) = (seed + r*31 + k*7) % 256 with k = 3x+c in
    // R,G,B order; feats are B,G,R means (the parseBmp layout)
    def ch(c: Int): Long =
      (for (r <- 0 until h; x <- 0 until w)
        yield (seed + r * 31L + (3 * x + c) * 7L) % 256).sum
    val n = w.toLong * h
    assert(math.abs(f.features(0) - ch(2).toDouble / (n * 255)) < 1e-6)
    assert(math.abs(f.features(1) - ch(1).toDouble / (n * 255)) < 1e-6)
    assert(math.abs(f.features(2) - ch(0).toDouble / (n * 255)) < 1e-6)
  }

  test("parseTiff: grayscale folds one channel into all slots; WhiteIsZero inverts") {
    val f = Multimodal.parseTiff(1L, Multimodal.makeTiff(6, 3, 11L, rgb = false)).get
    assert(f.format === "tiff" && f.width === 6 && f.height === 3)
    assert(f.features(0) === f.features(1) && f.features(1) === f.features(2) &&
      f.features(2) === f.features(3))
    // WhiteIsZero: flip the photometric tag on the gray fixture (entry 5,
    // value field) and the decoded intensities must invert — mean' = 1 - mean
    val bytes = Multimodal.makeTiff(6, 3, 11L, rgb = false)
    val ifdOff = 8 + 6 * 3
    val entryOff = ifdOff + 2 + 4 * 12 // entries: 256,257,258,259,262
    assert((bytes(entryOff) & 0xff) === 6 && (bytes(entryOff + 1) & 0xff) === 1,
      "expected tag 262 at entry index 4")
    bytes(entryOff + 8) = 0 // photometric = WhiteIsZero
    val inv = Multimodal.parseTiff(1L, bytes).get
    val n = 6L * 3
    val expInv = (for (r <- 0 until 3; x <- 0 until 6)
      yield 255 - (11L + r * 31L + x * 7L) % 256).sum
    assert(math.abs(inv.features(0) - expInv.toDouble / (n * 255)) < 1e-6)
  }

  test("imageAHash: TIFF hashes are endianness- and strip-layout-invariant") {
    val ii = Multimodal.imageAHash(Multimodal.makeTiff(16, 16, 7)).get
    val mm = Multimodal.imageAHash(Multimodal.makeTiff(16, 16, 7, bigEndian = true)).get
    val strips = Multimodal.imageAHash(Multimodal.makeTiff(16, 16, 7, rowsPerStrip = 5)).get
    val mmStrips = Multimodal.imageAHash(
      Multimodal.makeTiff(16, 16, 7, bigEndian = true, rowsPerStrip = 3)).get
    assert(ii === mm && ii === strips && ii === mmStrips)
    // independent replay of the hash from the pixel closed form
    val gray = Array.tabulate(16 * 16) { p =>
      val r = p / 16; val x = p % 16
      (0 until 3).map(c => ((7L + r * 31L + (3 * x + c) * 7L) % 256).toInt).sum
    }
    assert(ii === Multimodal.aHash64(16, 16, gray).get)
    // gray fixture: 3x the sample keeps the law scale-consistent
    val g = Multimodal.imageAHash(Multimodal.makeTiff(16, 16, 7, rgb = false)).get
    val grayG = Array.tabulate(16 * 16) { p =>
      3 * ((7L + (p / 16) * 31L + (p % 16) * 7L) % 256).toInt
    }
    assert(g === Multimodal.aHash64(16, 16, grayG).get)
    assert(Multimodal.imagePHash(Multimodal.makeTiff(32, 32, 9)).isDefined)
  }

  test("parseTiff: outside-the-envelope variants reject to the stub, never guess") {
    def mut(f: Array[Byte] => Unit): Array[Byte] = {
      val b = Multimodal.makeTiff(4, 4, 3L); f(b); b
    }
    val ifdOff = 8 + 4 * 4 * 3
    def entryValOff(idx: Int) = ifdOff + 2 + idx * 12 + 8
    // Compression = 4 (CCITT G4 — outside the r17 codec set): entry
    // index 3 (256,257,258,259)
    assert(Multimodal.decode(1L, mut(_(entryValOff(3)) = 4)).format === "stub")
    // Compression = 5 but the strip data is RAW, not LZW: the codec
    // must reject the garbage stream, never guess
    assert(Multimodal.decode(1L, mut(_(entryValOff(3)) = 5)).format === "stub")
    // truncated pixel strip
    assert(Multimodal.decode(2L,
      Multimodal.makeTiff(4, 4, 3L).dropRight(60)).format === "stub")
    // bad magic
    assert(Multimodal.decode(3L, mut(_(2) = 43)).format === "stub")
    // strip byte count that disagrees with the geometry (entry 8 = 279)
    assert(Multimodal.decode(4L, mut(_(entryValOff(8)) = 7)).format === "stub")
    // lying giant dimensions reject before allocating (entry 0 = 256)
    assert(Multimodal.decode(5L, mut { b =>
      b(entryValOff(0)) = 0xff.toByte; b(entryValOff(0) + 1) = 0x7f.toByte
    }).format === "stub")
    // 16-bit BitsPerSample (gray fixture: entry 2 value inline)
    val g16 = Multimodal.makeTiff(4, 4, 3L, rgb = false)
    g16(8 + 4 * 4 + 2 + 2 * 12 + 8) = 16
    assert(Multimodal.decode(6L, g16).format === "stub")
  }

  test("tiffLzwDecode/tiffLzwEncode: round-trip across every width boundary") {
    // enough low-entropy-but-varied data to push the table through the
    // 9->10->11->12 early-change boundaries AND the 4094 writer reset
    val big = Array.tabulate(60000)(i => ((i * 7 + (i >> 5) * 13) % 251).toByte)
    for (data <- Seq(Array.tabulate(5)(_.toByte),
                     Array.fill(300)(42.toByte),
                     Array.tabulate(700)(i => (i % 256).toByte),
                     big)) {
      val enc = Multimodal.tiffLzwEncode(data)
      val dec = Multimodal.tiffLzwDecode(enc, data.length)
      assert(dec.isDefined && dec.get.sameElements(data),
        s"LZW round-trip failed at n=${data.length}")
    }
    // truncated stream, wrong expected length, garbage: all None
    val enc = Multimodal.tiffLzwEncode(big)
    assert(Multimodal.tiffLzwDecode(enc.dropRight(enc.length / 2), big.length).isEmpty)
    assert(Multimodal.tiffLzwDecode(enc, big.length + 1).isEmpty)
    assert(Multimodal.tiffLzwDecode(Array.fill(64)(0xee.toByte), 100).isEmpty)
  }

  test("packBits/zlib: round-trip and strict-length rejects") {
    val data = Array.tabulate(4096)(i =>
      (if ((i / 37) % 2 == 0) 7 else i % 256).toByte) // runs + literals
    val pb = Multimodal.packBitsEncode(data, 128)
    assert(Multimodal.packBitsDecode(pb, data.length).get.sameElements(data))
    assert(Multimodal.packBitsDecode(pb, data.length - 1).isEmpty) // overflow
    assert(Multimodal.packBitsDecode(pb.dropRight(4), data.length).isEmpty)
    val zl = Multimodal.zlibEncode(data)
    assert(Multimodal.zlibDecode(zl, data.length).get.sameElements(data))
    assert(Multimodal.zlibDecode(zl, data.length - 1).isEmpty) // lying strip
    assert(Multimodal.zlibDecode(zl.dropRight(4), data.length).isEmpty)
    assert(Multimodal.zlibDecode(Array.fill(32)(0x55.toByte), 10).isEmpty)
  }

  test("imageAHash: TIFF hashes are compression- and predictor-invariant") {
    val base = Multimodal.imageAHash(Multimodal.makeTiff(16, 16, 7)).get
    for ((comp, pred, rps) <- Seq((5, 1, 0), (5, 2, 0), (8, 1, 5), (8, 2, 0),
                                  (32773, 1, 0), (32773, 2, 3)))
      assert(Multimodal.imageAHash(Multimodal.makeTiff(16, 16, 7,
          rowsPerStrip = rps, compression = comp, predictor = pred)).get === base,
        s"comp=$comp pred=$pred rps=$rps must hash like the raw twin")
    // grayscale + big-endian too
    val gray = Multimodal.imageAHash(Multimodal.makeTiff(16, 16, 7, rgb = false)).get
    assert(Multimodal.imageAHash(Multimodal.makeTiff(16, 16, 7, rgb = false,
      bigEndian = true, rowsPerStrip = 5, compression = 5, predictor = 2)).get === gray)
    // decoded pixels (not just hashes) are identical
    val a = Multimodal.parseTiff(1L, Multimodal.makeTiff(9, 5, 3L)).get
    val b = Multimodal.parseTiff(1L,
      Multimodal.makeTiff(9, 5, 3L, compression = 5, predictor = 2)).get
    assert(a.features.toSeq === b.features.toSeq)
  }

  test("imageAHash: TIFF 16-bit / tiled / planar layouts hash like the 8-bit chunky twin") {
    val base = Multimodal.imageAHash(Multimodal.makeTiff(24, 24, 7)).get
    // 16-bit: the HIGH byte carries the law, the low byte is separate
    // deterministic noise the decoder must discard — across byte order,
    // codecs and the 16-bit predictor (differencing on VALUES)
    for ((be, comp, pred) <- Seq((false, 1, 1), (true, 1, 1), (false, 8, 2),
                                 (true, 5, 2), (false, 32773, 1)))
      assert(Multimodal.imageAHash(Multimodal.makeTiff(24, 24, 7, bits = 16,
          bigEndian = be, compression = comp, predictor = pred)).get === base,
        s"bits=16 be=$be comp=$comp pred=$pred must hash like the 8-bit twin")
    // tiled: 16x16 tiles over 24x24 → 2x2 grid, padded edge tiles
    // clipped on copy
    for ((be, comp) <- Seq((false, 1), (true, 5), (false, 32773)))
      assert(Multimodal.imageAHash(Multimodal.makeTiff(24, 24, 7,
          tileSize = 16, bigEndian = be, compression = comp)).get === base,
        s"tiled be=$be comp=$comp must hash like the strip twin")
    // planar configuration 2: per-plane strip runs and per-plane tiles
    assert(Multimodal.imageAHash(Multimodal.makeTiff(24, 24, 7, planar = true,
      rowsPerStrip = 7, compression = 8, predictor = 2)).get === base)
    assert(Multimodal.imageAHash(Multimodal.makeTiff(24, 24, 7, planar = true,
      tileSize = 16, bigEndian = true)).get === base)
    // every axis at once: 16-bit planar tiled LZW with predictor
    assert(Multimodal.imageAHash(Multimodal.makeTiff(24, 24, 7, bits = 16,
      planar = true, tileSize = 16, compression = 5, predictor = 2)).get === base)
    // grayscale: planar is degenerate at spp 1; 16-bit tiled Deflate
    val gray = Multimodal.imageAHash(Multimodal.makeTiff(24, 24, 7, rgb = false)).get
    assert(Multimodal.imageAHash(Multimodal.makeTiff(24, 24, 7, rgb = false,
      bits = 16, tileSize = 16, compression = 8)).get === gray)
    // independent replay of the hash from the pixel closed form
    val g = Array.tabulate(24 * 24) { p =>
      val r = p / 24; val x = p % 24
      (0 until 3).map(c => ((7L + r * 31L + (3 * x + c) * 7L) % 256).toInt).sum
    }
    assert(base === Multimodal.aHash64(24, 24, g).get)
    // decoded pixels (not just hashes) are layout-identical
    val a = Multimodal.parseTiff(1L, Multimodal.makeTiff(20, 9, 3L)).get
    val b = Multimodal.parseTiff(1L, Multimodal.makeTiff(20, 9, 3L,
      bits = 16, planar = true, rowsPerStrip = 4, compression = 5)).get
    assert(a.features.toSeq === b.features.toSeq)
  }

  test("tiffDecode: tiled/planar/16-bit defect shapes reject, never guess") {
    def ifdOffOf(b: Array[Byte]): Int =
      (b(4) & 0xff) | ((b(5) & 0xff) << 8) | ((b(6) & 0xff) << 16) |
        ((b(7) & 0xff) << 24)
    // tiled RGB: tags 256,257,258,259,262,277,322,323,324,325 (ascending)
    val tiled = Multimodal.makeTiff(24, 24, 7, tileSize = 16)
    assert(Multimodal.decode(1L, tiled).format === "tiff") // sanity
    // TileWidth not a multiple of 16 (entry 6 = tag 322, inline SHORT)
    val badTw = tiled.clone()
    badTw(ifdOffOf(badTw) + 2 + 6 * 12 + 8) = 12
    assert(Multimodal.decode(1L, badTw).format === "stub")
    // both layout families present: retag TileLength (entry 7 = 323) as
    // StripOffsets — the directory then carries 273 AND 324
    val both = tiled.clone()
    val t323 = ifdOffOf(both) + 2 + 7 * 12
    both(t323) = (273 & 0xff).toByte; both(t323 + 1) = (273 >> 8).toByte
    assert(Multimodal.decode(1L, both).format === "stub")
    // planar RGB strips: tags ...,273,277,278,279,284 (entry 9 = 284)
    val planar = Multimodal.makeTiff(24, 24, 7, planar = true)
    assert(Multimodal.decode(2L, planar).format === "tiff") // sanity
    val badPc = planar.clone()
    badPc(ifdOffOf(badPc) + 2 + 9 * 12 + 8) = 3
    assert(Multimodal.decode(2L, badPc).format === "stub")
    // a planar file read as chunky can't happen by accident: strip
    // count disagrees with the chunky geometry, so dropping the 284
    // entry's VALUE to 1 rejects rather than mis-decoding
    val chunkyLie = planar.clone()
    chunkyLie(ifdOffOf(chunkyLie) + 2 + 9 * 12 + 8) = 1
    assert(Multimodal.decode(2L, chunkyLie).format === "stub")
    // mixed 8/16 BitsPerSample: 16-bit RGB's out-of-line bits array sits
    // first in the extra area (entries 256..279 = 9, tag 258 leads)
    val b16 = Multimodal.makeTiff(8, 8, 7, bits = 16)
    assert(Multimodal.decode(3L, b16).format === "tiff") // sanity
    val extraOff = ifdOffOf(b16) + 2 + 9 * 12 + 4
    val mixed = b16.clone()
    mixed(extraOff + 2) = 8 // bits = (16, 8, 16)
    assert(Multimodal.decode(3L, mixed).format === "stub")
    // truncated tile payload
    assert(Multimodal.decode(4L,
      Multimodal.makeTiff(24, 24, 7, tileSize = 16).dropRight(700)).format === "stub")
  }

  test("tiffDecode: compressed-path defects reject, never guess") {
    def ifdOffOf(b: Array[Byte]): Int =
      (b(4) & 0xff) | ((b(5) & 0xff) << 8) | ((b(6) & 0xff) << 16) |
        ((b(7) & 0xff) << 24)
    // truncated LZW strip inside a valid container: shrink the single
    // strip's byte count (entry 8 = tag 279, inline LONG) so the codec
    // sees a short stream
    val lzw = Multimodal.makeTiff(8, 8, 3L, compression = 5)
    val scValOff = ifdOffOf(lzw) + 2 + 8 * 12 + 8
    lzw(scValOff) = 4; lzw(scValOff + 1) = 0
    assert(Multimodal.decode(1L, lzw).format === "stub")
    // predictor value outside {1,2} (entry 9 = tag 317, inline value)
    val pred = Multimodal.makeTiff(4, 4, 3L, compression = 8, predictor = 2)
    pred(ifdOffOf(pred) + 2 + 9 * 12 + 8) = 3
    assert(Multimodal.decode(2L, pred).format === "stub")
  }

  test("aviFrameGrids: MJPEG frames hash identically to their standalone JPEG twins") {
    val seed = 7L
    val avi = Multimodal.makeAviMjpeg(64, 64, seed, 3)
    import spark.implicits._
    val hashes = Multimodal.videoFrameHashes(
        spark, Seq((1L, avi)).toDF("doc_id", "payload"))
      .orderBy("frame_idx").as[(Long, Long, Long)].collect().toSeq
    assert(hashes.map(_._2) === Seq(0L, 1L, 2L))
    // each 00dc chunk is a complete JPEG: the frame hash must equal the
    // image hash of the identical standalone fixture
    for (f <- 0 until 3)
      assert(hashes(f)._3 ===
        Multimodal.imageAHash(Multimodal.makeJpeg(64, 64, seed + f * 17L, gray = true)).get,
        s"frame $f must ride the same JPEG decode as the image path")
    // spectral key decodes the same container
    val ph = Multimodal.videoFramePHashes(
        spark, Seq((1L, avi)).toDF("doc_id", "payload")).count()
    assert(ph === 3)
    // color frames decode too (YCbCr inversion path)
    assert(Multimodal.aviFrameGrids(
      Multimodal.makeAviMjpeg(16, 16, 3L, 2, gray = false)).get._3.size === 2)
  }

  test("aviFrameGrids: odd-sized chunks honor the RIFF pad byte; unknown chunks skip") {
    // splice an ODD-sized JUNK chunk ahead of the frames: a walk that
    // forgets the pad byte lands one byte off and misreads every
    // subsequent fourcc (frames lost), so both frames surviving IS the
    // alignment proof
    val base = Multimodal.makeAviMjpeg(16, 16, 3L, 2)
    val moviIdx = base.indexOfSlice("movi".getBytes("US-ASCII"))
    assert(moviIdx > 0)
    val insertAt = moviIdx + 4
    val junk = "JUNK".getBytes("US-ASCII") ++ Array[Byte](3, 0, 0, 0) ++
      Array[Byte](9, 9, 9, 0) // size 3 + 1 pad byte
    val avi = base.take(insertAt) ++ junk ++ base.drop(insertAt)
    def bump(off: Int): Unit = {
      val old = (avi(off) & 0xff) | ((avi(off + 1) & 0xff) << 8) |
        ((avi(off + 2) & 0xff) << 16) | ((avi(off + 3) & 0xff) << 24)
      val v = old + junk.length
      avi(off) = v.toByte; avi(off + 1) = (v >> 8).toByte
      avi(off + 2) = (v >> 16).toByte; avi(off + 3) = (v >> 24).toByte
    }
    bump(4)           // RIFF size
    bump(moviIdx - 4) // movi LIST size
    val (w, h, frames) = Multimodal.aviFrameGrids(avi).get
    assert(w === 16 && h === 16 && frames.size === 2)
    assert(frames.map(_.toSeq) === Multimodal.aviFrameGrids(base).get._3.map(_.toSeq))
  }

  test("aviFrameGrids: container robustness — rejects never guess") {
    // a RIFF that is not an AVI (a WAV) is not a video
    assert(Multimodal.aviFrameGrids(Multimodal.makeWav(100, 1, 8000, 1L)).isEmpty)
    // truncated movi: cut mid-frame
    val avi = Multimodal.makeAviMjpeg(16, 16, 3L, 2)
    assert(Multimodal.aviFrameGrids(avi.dropRight(40)).isEmpty)
    // non-MJPG video handler: patch the strh fccHandler (first MJPG)
    val xvid = avi.clone()
    val hIdx = xvid.indexOfSlice("MJPG".getBytes("US-ASCII"))
    assert(hIdx > 0)
    "XVID".getBytes("US-ASCII").copyToArray(xvid, hIdx)
    assert(Multimodal.aviFrameGrids(xvid).isEmpty)
    // a frame whose JPEG payload is corrupt poisons the whole clip
    val bad = avi.clone()
    val jIdx = bad.indexOfSlice(Array(0xff.toByte, 0xd8.toByte, 0xff.toByte))
    assert(jIdx > 0)
    bad(jIdx + 2) = 0x00 // break the first frame's marker stream
    assert(Multimodal.aviFrameGrids(bad).isEmpty)
    // bad magic
    val notRiff = avi.clone(); notRiff(0) = 'X'.toByte
    assert(Multimodal.aviFrameGrids(notRiff).isEmpty)
  }

  test("videoNearDups: AVI clips pair with GIF-era semantics; mixed corpus hashes both") {
    import spark.implicits._
    // clips 1 and 51 share a seed → exact dup (3 frames at Hamming 0);
    // clip 2 is unrelated; one animated GIF rides the same scan
    val corpus = Seq(
      (1L, Multimodal.makeAviMjpeg(64, 64, 100L, 3)),
      (51L, Multimodal.makeAviMjpeg(64, 64, 100L, 3)),
      (2L, Multimodal.makeAviMjpeg(64, 64, 999L, 3)),
      (3L, Multimodal.makeGifAnimated(16, 16, 5L, 2)),
      (4L, "not a video".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val fh = Multimodal.videoFrameHashes(spark, corpus)
    assert(fh.filter($"doc_id" === 3L).count() === 2, "GIF still decodes in the mixed scan")
    assert(fh.filter($"doc_id" === 4L).count() === 0)
    val pairs = Multimodal.videoNearDups(fh, maxHamming = 0, minPairs = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.exists(p => p._1 === 1L && p._2 === 51L && p._3 >= 3L),
      s"planted dup clip pair missing from $pairs")
    assert(!pairs.exists(p => p._1 === 2L || p._2 === 2L))
  }

  test("aviFrameGrids: uncompressed DIB frames hash identically to their BMP twins") {
    val seed = 11L
    val avi = Multimodal.makeAviDib(10, 9, seed, 3) // w=10: stride 32 > 3w=30 (real padding)
    import spark.implicits._
    val hashes = Multimodal.videoFrameHashes(
        spark, Seq((1L, avi)).toDF("doc_id", "payload"))
      .orderBy("frame_idx").as[(Long, Long, Long)].collect().toSeq
    assert(hashes.map(_._2) === Seq(0L, 1L, 2L))
    // each 00db chunk is BMP pixel data: the frame hash must equal the
    // image hash of the identical standalone BMP fixture
    for (f <- 0 until 3)
      assert(hashes(f)._3 ===
        Multimodal.imageAHash(Multimodal.makeBmp(10, 9, seed + f * 17L)).get,
        s"frame $f must fold like the standalone BMP")
    // a DIB clip and an MJPEG clip ride the same mixed scan
    val mixed = Multimodal.videoFrameHashes(spark, Seq(
      (1L, Multimodal.makeAviDib(16, 16, 3L, 2)),
      (2L, Multimodal.makeAviMjpeg(16, 16, 3L, 2))).toDF("doc_id", "payload"))
    assert(mixed.count() === 4)
    // rejects: frame size disagreeing with the canvas; 16-bpp DIB
    val bad = Multimodal.makeAviDib(8, 8, 3L, 2)
    // shrink the last chunk's declared size by one row (size field of
    // the second 00db chunk) — the walk must reject the whole clip
    assert(Multimodal.aviFrameGrids(bad.dropRight(24)).isEmpty)
    val bpp16 = Multimodal.makeAviDib(8, 8, 3L, 1)
    // strf biBitCount at hdrl offset: poke every 24 to find it is
    // brittle; instead rebuild via the MJPEG maker's known layout —
    // the strf bitcount byte sits 14 bytes into the strf data
    val strfData = {
      val idx = bpp16.indexOfSlice("strf".getBytes("US-ASCII"))
      idx + 8 + 14
    }
    bpp16(strfData) = 16
    assert(Multimodal.aviFrameGrids(bpp16).isEmpty)
  }

  test("videoFormatOf/videoCoverage: the measured video boundary per corpus") {
    import spark.implicits._
    assert(Multimodal.videoFormatOf(Multimodal.makeGifAnimated(8, 8, 1, 2)) === "gif")
    assert(Multimodal.videoFormatOf(Multimodal.makeAviMjpeg(8, 8, 1, 2)) === "avi")
    val mp4 = Array[Byte](0, 0, 0, 24) ++ "ftypmp42".getBytes("US-ASCII") ++
      new Array[Byte](16)
    assert(Multimodal.videoFormatOf(mp4) === "mp4")
    val mov = Array[Byte](0, 0, 0, 24) ++ "ftypqt  ".getBytes("US-ASCII") ++
      new Array[Byte](16)
    assert(Multimodal.videoFormatOf(mov) === "mov")
    val ebml = Array[Byte](0x1a, 0x45.toByte, 0xdf.toByte, 0xa3.toByte) ++
      new Array[Byte](16)
    assert(Multimodal.videoFormatOf(ebml) === "ebml")
    assert(Multimodal.videoFormatOf(Array.fill(8)(2.toByte)) === "unknown")
    // an AVI whose movi never yields a decodable MJPG stream still
    // SNIFFS avi but frames nothing — the inside-a-known-container gap
    val hollow = "RIFF".getBytes("US-ASCII") ++ Array[Byte](20, 0, 0, 0) ++
      "AVI ".getBytes("US-ASCII") ++ new Array[Byte](16)
    assert(Multimodal.videoFormatOf(hollow) === "avi")
    assert(Multimodal.aviFrameGrids(hollow).isEmpty)
    // an alpha-channel APNG sniffs apng but frames nothing — the same
    // inside-a-known-container gap as the hollow AVI
    val rgbaApng = Multimodal.makeApng(16, 16, 3L, 2)
    rgbaApng(25) = 6 // IHDR colorType → RGBA
    assert(Multimodal.videoFormatOf(rgbaApng) === "apng")
    assert(Multimodal.apngFrameGrids(rgbaApng).isEmpty)
    val corpus = Seq(
      (1L, Multimodal.makeGifAnimated(16, 16, 1, 2)),
      (2L, Multimodal.makeAviMjpeg(16, 16, 2, 2)),
      (3L, hollow), (4L, mp4), (5L, ebml),
      (6L, Multimodal.makeApng(16, 16, 3L, 2)),
      (7L, rgbaApng)).toDF("doc_id", "payload")
    val cov = Multimodal.videoCoverage(spark, corpus)
      .orderBy("format").as[(String, Long, Long)].collect().toSeq
    assert(cov === Seq(("apng", 2L, 1L), ("avi", 2L, 1L), ("ebml", 1L, 0L),
      ("gif", 1L, 1L), ("mp4", 1L, 0L)))
  }

  test("apngFrameGrids: frames hash identically to their standalone PNG twins") {
    for (ct <- Seq(0, 2)) {
      val apng = Multimodal.makeApng(16, 16, 9L, 3, colorType = ct)
      val (w, h, grids) = Multimodal.videoFrameGrids(apng).get
      assert(w === 16 && h === 16 && grids.length === 3)
      grids.zipWithIndex.foreach { case (g, f) =>
        val still = Multimodal.imageAHash(
          Multimodal.makePng(16, 16, 9L + f * 23L, colorType = ct)).get
        assert(Multimodal.aHash64(16, 16, g).get === still, s"ct=$ct frame $f")
      }
    }
    // default-image variant: the IDAT still is NOT a frame, and the
    // animation decodes to the SAME grids as the IDAT-claiming twin
    val a = Multimodal.apngFrameGrids(Multimodal.makeApng(16, 16, 9L, 3)).get
    val b = Multimodal.apngFrameGrids(
      Multimodal.makeApng(16, 16, 9L, 3, firstIsIdat = false)).get
    assert(a._3.length === b._3.length)
    a._3.zip(b._3).foreach { case (x, y) => assert(x.toSeq === y.toSeq) }
    // backwards compatibility is the container's design: the STILL
    // image path keeps decoding APNG payloads through their IDAT
    assert(Multimodal.decode(1L, Multimodal.makeApng(16, 16, 9L, 3)).format === "png")
  }

  test("apngFrameGrids: region compositing, dispose background and previous") {
    val w = 4; val h = 4
    def u32(v: Int) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def u16(v: Int) = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    // one gray frame region of constant sample v, filter 0 everywhere
    def grayZ(fw: Int, fh: Int, v: Int): Array[Byte] = {
      val raw = new Array[Byte](fh * (fw + 1))
      for (r <- 0 until fh; x <- 0 until fw) raw(r * (fw + 1) + 1 + x) = v.toByte
      Multimodal.storedZlib(raw)
    }
    var seq = 0
    def fctl(fw: Int, fh: Int, x: Int, y: Int, dispose: Int): Array[Byte] = {
      val c = Multimodal.pngChunk("fcTL", u32(seq) ++ u32(fw) ++ u32(fh) ++
        u32(x) ++ u32(y) ++ u16(1) ++ u16(100) ++ Array(dispose.toByte, 0.toByte))
      seq += 1; c
    }
    def fdat(z: Array[Byte]): Array[Byte] = {
      val c = Multimodal.pngChunk("fdAT", u32(seq) ++ z); seq += 1; c
    }
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(Multimodal.PngSig)
    bos.write(Multimodal.pngChunk("IHDR",
      u32(w) ++ u32(h) ++ Array[Byte](8, 0, 0, 0, 0)))
    bos.write(Multimodal.pngChunk("acTL", u32(4) ++ u32(0)))
    bos.write(fctl(4, 4, 0, 0, 0)) // f0: full canvas 10, keep
    bos.write(Multimodal.pngChunk("IDAT", grayZ(4, 4, 10)))
    bos.write(fctl(2, 2, 1, 1, 1)) // f1: center 20, dispose→background
    bos.write(fdat(grayZ(2, 2, 20)))
    bos.write(fctl(1, 1, 0, 0, 2)) // f2: corner 40, dispose→previous
    bos.write(fdat(grayZ(1, 1, 40)))
    bos.write(fctl(1, 1, 3, 3, 0)) // f3: far corner 50
    bos.write(fdat(grayZ(1, 1, 50)))
    bos.write(Multimodal.pngChunk("IEND", Array.empty))
    val (cw, chh, grids) = Multimodal.apngFrameGrids(bos.toByteArray).get
    assert(cw === 4 && chh === 4 && grids.length === 4)
    def grid(f: (Int, Int) => Int): Seq[Int] =
      (for (r <- 0 until 4; x <- 0 until 4) yield f(r, x))
    val base = 30 // gray = 3 × sample
    assert(grids(0).toSeq === grid((_, _) => base))
    assert(grids(1).toSeq === grid((r, x) =>
      if (r >= 1 && r <= 2 && x >= 1 && x <= 2) 60 else base))
    // f1's disposal cleared its region to 0 before f2 drew the corner
    assert(grids(2).toSeq === grid((r, x) =>
      if (r == 0 && x == 0) 120
      else if (r >= 1 && r <= 2 && x >= 1 && x <= 2) 0 else base))
    // f2's dispose=previous reverted the corner before f3 drew (3,3)
    assert(grids(3).toSeq === grid((r, x) =>
      if (r == 3 && x == 3) 150
      else if (r >= 1 && r <= 2 && x >= 1 && x <= 2) 0 else base))
  }

  test("apngFrameGrids: outside-envelope and defect shapes reject, never guess") {
    val good = Multimodal.makeApng(8, 8, 3L, 2)
    assert(Multimodal.apngFrameGrids(good).isDefined)
    // a still PNG is not a video at all
    assert(Multimodal.apngFrameGrids(Multimodal.makePng(8, 8, 3L)).isEmpty)
    assert(Multimodal.videoFormatOf(Multimodal.makePng(8, 8, 3L)) === "unknown")
    // interlaced animation: outside the envelope
    val il = good.clone(); il(28) = 1
    assert(Multimodal.apngFrameGrids(il).isEmpty)
    // acTL frame-count lie (count low byte at sig+IHDR+dataOff+3)
    val lie = good.clone(); lie(33 + 8 + 3) = 5
    assert(Multimodal.apngFrameGrids(lie).isEmpty)
    // fdAT sequence break (seq low byte at typeOff+4+3)
    val fd = good.indexOfSlice("fdAT".getBytes("US-ASCII"))
    assert(fd > 0)
    val seqBreak = good.clone(); seqBreak(fd + 7) = 9
    assert(Multimodal.apngFrameGrids(seqBreak).isEmpty)
    // truncated frame payload
    assert(Multimodal.apngFrameGrids(good.dropRight(20)).isEmpty)
    // first-frame fcTL claiming IDAT must cover the full canvas: the
    // first fcTL's width sits at sig(8)+IHDR(25)+acTL(20)+8+4 .. +7
    val part = good.clone(); part(33 + 20 + 8 + 7) = 4
    assert(Multimodal.apngFrameGrids(part).isEmpty)
  }

  test("bmpBgrPixels: 32-bpp, 8-bpp palette, RLE8 and top-down hash like the 24-bpp twin") {
    val base = Multimodal.imageAHash(Multimodal.makeBmp(16, 16, 7)).get
    // 32-bpp: same channel law, alpha byte is noise the decoder ignores
    assert(Multimodal.imageAHash(Multimodal.makeBmpX(16, 16, 7, bpp = 32)).get === base)
    // the makeBmpX 24-bpp form is byte-compatible with makeBmp
    assert(Multimodal.imageAHash(Multimodal.makeBmpX(16, 16, 7)).get === base)
    // top-down twin: display pixels are the law WITHOUT the flip — the
    // makePnm/APNG orientation, proven by the cross-format identity
    assert(Multimodal.imageAHash(
        Multimodal.makeBmpX(16, 16, 7, topDown = true)).get ===
      Multimodal.imageAHash(Multimodal.makePnm(16, 16, 7)).get)
    // 8-bpp palette ≡ its RLE8 twin (same pixels, different storage),
    // and ≡ the ICO 8-bpp member of the same laws (cross-container)
    val pal = Multimodal.imageAHash(Multimodal.makeBmpX(16, 16, 7, bpp = 8)).get
    assert(Multimodal.imageAHash(
      Multimodal.makeBmpX(16, 16, 7, bpp = 8, rle = true)).get === pal)
    assert(pal === Multimodal.imageAHash(Multimodal.makeIco(16, 16, 7, bpp = 8)).get)
    // decoded features agree between RLE and flat forms exactly
    val a = Multimodal.parseBmp(1L, Multimodal.makeBmpX(20, 9, 3L, bpp = 8)).get
    val b = Multimodal.parseBmp(1L,
      Multimodal.makeBmpX(20, 9, 3L, bpp = 8, rle = true)).get
    assert(a.features.toSeq === b.features.toSeq)
    // rejects: RLE with negative height, 16-bpp, RLE4, palette overrun
    val neg = Multimodal.makeBmpX(8, 8, 3L, bpp = 8, rle = true)
    val hOff = 22
    val nh = -8
    neg(hOff) = nh.toByte; neg(hOff + 1) = 0xff.toByte
    neg(hOff + 2) = 0xff.toByte; neg(hOff + 3) = 0xff.toByte
    assert(Multimodal.decode(1L, neg).format === "stub")
    val b16 = Multimodal.makeBmpX(8, 8, 3L); b16(28) = 16
    assert(Multimodal.decode(2L, b16).format === "stub")
    val rle4 = Multimodal.makeBmpX(8, 8, 3L, bpp = 8, rle = true); rle4(30) = 2
    assert(Multimodal.decode(3L, rle4).format === "stub")
    // truncated RLE stream (no EOB reachable)
    assert(Multimodal.decode(4L,
      Multimodal.makeBmpX(16, 16, 3L, bpp = 8, rle = true).dropRight(6)).format === "stub")
    // a run that walks past the row width rejects, never wraps
    val over = Multimodal.makeBmpX(4, 4, 3L, bpp = 8, rle = true)
    val pixOff = 54 + 1024
    over(pixOff) = 9 // first run count 9 > w=4
    assert(Multimodal.decode(5L, over).format === "stub")
  }

  test("icoDecode: DIB and PNG members hash like their standalone twins") {
    // a 24-bpp DIB member stores makeBmp's exact pixel law, so the ICO
    // hashes IDENTICALLY to the standalone BMP file of the same seed —
    // container framing provably absent
    val bmpHash = Multimodal.imageAHash(Multimodal.makeBmp(16, 16, 7)).get
    assert(Multimodal.imageAHash(Multimodal.makeIco(16, 16, 7)).get === bmpHash)
    // 32-bpp twin: the alpha byte is separate noise the decoder ignores
    assert(Multimodal.imageAHash(Multimodal.makeIco(16, 16, 7, bpp = 32)).get === bmpHash)
    // PNG member ≡ standalone PNG
    assert(Multimodal.imageAHash(Multimodal.makeIco(16, 16, 7, png = true)).get ===
      Multimodal.imageAHash(Multimodal.makePng(16, 16, 7)).get)
    // largest-member selection: a leading smaller member changes nothing
    assert(Multimodal.imageAHash(
      Multimodal.makeIco(16, 16, 7, withSmaller = true)).get === bmpHash)
    // 8-bpp palette member: independent replay from the nested law
    val pal = Multimodal.imageAHash(Multimodal.makeIco(16, 16, 7, bpp = 8)).get
    val grid = Array.tabulate(16 * 16) { p =>
      val r = p / 16; val x = p % 16
      val idx = ((7L + (15 - r) * 31L + x * 7L) % 256).toInt
      (0 until 3).map(c => ((7L + idx * 11L + c * 97L) % 256).toInt).sum
    }
    assert(pal === Multimodal.aHash64(16, 16, grid).get)
    // decode dispatch and sniff
    assert(Multimodal.decode(1L, Multimodal.makeIco(16, 16, 7)).format === "ico")
    assert(Multimodal.imageFormatOf(Multimodal.makeIco(16, 16, 7)) === "ico")
    // metaOf: largest member's directory dims, image kind
    val m = Multimodal.metaOf(3L, Multimodal.makeIco(24, 16, 7, withSmaller = true))
    assert(m.kind === "image" && m.format === "ico" &&
      m.width === Some(24) && m.height === Some(16) && m.n_frames === None)
  }

  test("icoDecode: AND mask forces transparent black; defects reject, never guess") {
    // locate the main member's AND mask in the single-member fixture:
    // dir(6+16) + header(40) + 16 rows × 48 XOR bytes, stride 4
    val ico = Multimodal.makeIco(16, 16, 7)
    val andOff = 6 + 16 + 40 + 16 * 48
    val masked = ico.clone()
    // display pixel (row 15, x 0) = storage row 0, bit 7 of its mask byte
    masked(andOff) = 0x80.toByte
    val base = Multimodal.parseIco(1L, ico).get
    val withMask = Multimodal.parseIco(1L, masked).get
    // the masked pixel's channels leave the sums: storage (0, k) bytes
    val drop = (0 until 3).map(c => (7L + c * 7L) % 256).sum
    val n = 16L * 16
    assert(math.abs((base.features(3) - withMask.features(3)) -
      drop.toDouble / (3 * n * 255)) < 1e-6)
    // cursor files (type 2) stay outside
    val cur = ico.clone(); cur(2) = 2
    assert(Multimodal.decode(1L, cur).format === "stub")
    assert(Multimodal.imageFormatOf(cur) === "unknown")
    // member height not doubled (lying DIB header)
    val lie = ico.clone()
    lie(6 + 16 + 8) = 16 // biHeight = 16, not 32
    assert(Multimodal.decode(2L, lie).format === "stub")
    // 16-bpp member: outside the envelope but still SNIFFS ico
    val b16 = ico.clone(); b16(6 + 16 + 14) = 16
    assert(Multimodal.decode(3L, b16).format === "stub")
    assert(Multimodal.imageFormatOf(b16) === "ico")
    // entry offset overruns the payload
    assert(Multimodal.decode(4L, ico.dropRight(100)).format === "stub")
    // zero-count directory
    val empty = ico.clone(); empty(4) = 0
    assert(Multimodal.decode(5L, empty).format === "stub")
  }

  test("pnmDecode: all four netpbm forms decode to the same closed-form pixels") {
    // binary ≡ ASCII twins, both color modes; independent hash replay
    val p6 = Multimodal.imageAHash(Multimodal.makePnm(16, 16, 7)).get
    assert(Multimodal.imageAHash(
      Multimodal.makePnm(16, 16, 7, asciiForm = true)).get === p6)
    val grid = Array.tabulate(16 * 16) { p =>
      val r = p / 16; val x = p % 16
      (0 until 3).map(c => ((7L + r * 31L + (3 * x + c) * 7L) % 256).toInt).sum
    }
    assert(p6 === Multimodal.aHash64(16, 16, grid).get)
    val p5 = Multimodal.imageAHash(Multimodal.makePnm(16, 16, 7, rgb = false)).get
    assert(Multimodal.imageAHash(
      Multimodal.makePnm(16, 16, 7, rgb = false, asciiForm = true)).get === p5)
    assert(Multimodal.decode(1L, Multimodal.makePnm(16, 16, 7)).format === "pnm")
    assert(Multimodal.imageFormatOf(Multimodal.makePnm(16, 16, 7)) === "pnm")
    val m = Multimodal.metaOf(1L, Multimodal.makePnm(20, 12, 7))
    assert(m.kind === "image" && m.format === "pnm" &&
      m.width === Some(20) && m.height === Some(12))
    // boundary honesty: P4 bitmaps sniff pnm but never decode; a
    // 16-bit maxval rejects decode yet still reports dims (metadata is
    // wider than the decode envelope by design)
    val p4 = "P4\n4 4\n".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0)
    assert(Multimodal.imageFormatOf(p4) === "pnm")
    assert(Multimodal.decode(2L, p4).format === "stub")
    val deep = "P5\n8 8\n1000\n".getBytes("US-ASCII") ++ Array.fill(128)(1.toByte)
    assert(Multimodal.decode(3L, deep).format === "stub")
    assert(Multimodal.metaOf(3L, deep).width === Some(8))
    // truncated raw body; ASCII sample out of range
    assert(Multimodal.decode(4L,
      Multimodal.makePnm(16, 16, 7).dropRight(10)).format === "stub")
    val hot = "P2\n2 2\n255\n1 2 3 999\n".getBytes("US-ASCII")
    assert(Multimodal.decode(5L, hot).format === "stub")
  }

  test("qoiDecode: encoder round-trip, hand-built op streams, defect rejects") {
    // the real encoder (LUMA/DIFF/INDEX/RGB precedence) round-trips to
    // the same pixels as the P6 twin of the same law
    for (seed <- Seq(3L, 7L, 11L)) {
      assert(Multimodal.imageAHash(Multimodal.makeQoi(16, 16, seed)).get ===
        Multimodal.imageAHash(Multimodal.makePnm(16, 16, seed)).get, s"seed=$seed")
    }
    // w=512 row wraps the 256-value law cycle → INDEX hits occur too
    assert(Multimodal.imageAHash(Multimodal.makeQoi(512, 8, 5L)).get ===
      Multimodal.imageAHash(Multimodal.makePnm(512, 8, 5L)).get)
    // hand-built streams pin RUN / INDEX / DIFF semantics exactly
    def qoi(w: Int, h: Int, ops: Array[Int]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write('q'); out.write('o'); out.write('i'); out.write('f')
      def be(v: Int): Unit = { out.write(v >> 24); out.write((v >> 16) & 0xff)
        out.write((v >> 8) & 0xff); out.write(v & 0xff) }
      be(w); be(h); out.write(3); out.write(0)
      ops.foreach(out.write)
      for (_ <- 0 until 7) out.write(0)
      out.write(1)
      out.toByteArray
    }
    // RGB literal then RUN(5): six identical pixels
    val runImg = Multimodal.parseQoi(1L,
      qoi(3, 2, Array(0xfe, 10, 20, 30, 0xc0 | 4))).get
    assert(runImg.width === 3 && runImg.height === 2)
    assert(math.abs(runImg.features(0) - 10.0 / 255) < 1e-6)
    assert(math.abs(runImg.features(2) - 30.0 / 255) < 1e-6)
    // INDEX: pixel 3 re-references pixel 1 via its hash slot
    val h1 = (10 * 3 + 20 * 5 + 30 * 7 + 255 * 11) % 64
    val idxImg = Multimodal.parseQoi(2L, qoi(3, 1,
      Array(0xfe, 10, 20, 30, 0xfe, 99, 98, 97, h1))).get
    assert(math.abs(idxImg.features(0) - (10 + 99 + 10).toDouble / (3 * 255)) < 1e-6)
    // DIFF: (+1, -2, 0) from the previous pixel, wraparound law
    val diffImg = Multimodal.parseQoi(3L, qoi(2, 1,
      Array(0xfe, 0, 1, 255, 0x40 | (3 << 4) | (0 << 2) | 2))).get
    // second pixel = (1, 255, 255): r 0+1, g 1-2 wraps, b 255+0
    assert(math.abs(diffImg.features(0) - (0 + 1).toDouble / (2 * 255)) < 1e-6)
    assert(math.abs(diffImg.features(1) - (1 + 255).toDouble / (2 * 255)) < 1e-6)
    // rejects: truncated stream, corrupt end marker, run past the end
    val good = Multimodal.makeQoi(8, 8, 3L)
    assert(Multimodal.decode(4L, good.dropRight(9)).format === "stub")
    val badEnd = good.clone(); badEnd(badEnd.length - 1) = 2
    assert(Multimodal.decode(5L, badEnd).format === "stub")
    assert(Multimodal.decode(6L,
      qoi(2, 1, Array(0xfe, 1, 2, 3, 0xc0 | 10))).format === "stub")
    // sniffs + metadata
    assert(Multimodal.imageFormatOf(good) === "qoi")
    assert(Multimodal.decode(7L, good).format === "qoi")
    val m = Multimodal.metaOf(8L, Multimodal.makeQoi(24, 10, 1L))
    assert(m.kind === "image" && m.format === "qoi" &&
      m.width === Some(24) && m.height === Some(10))
  }

  test("tiffPageCount/metaOf: multi-page TIFF pages as the pruning fact") {
    val mp = Multimodal.makeTiffMultipage(14, 9, 5L, 4)
    assert(Multimodal.tiffPageCount(mp) === Some(4))
    // the decode tier reads the FIRST page, whose pixels are
    // makeTiff's gray law verbatim — chained IFDs are pure layout
    assert(Multimodal.decode(1L, mp).format === "tiff")
    assert(Multimodal.imageAHash(mp) ===
      Multimodal.imageAHash(Multimodal.makeTiff(14, 9, 5L, rgb = false)))
    val m = Multimodal.metaOf(2L, mp)
    assert(m.format === "tiff" && m.kind === "image" &&
      m.width === Some(14) && m.height === Some(9) && m.n_frames === Some(4L))
    // single-page files report no frame fact, like every other still
    assert(Multimodal.metaOf(3L, Multimodal.makeTiff(16, 16, 5L)).n_frames === None)
    assert(Multimodal.tiffPageCount(Multimodal.makeTiff(16, 16, 5L)) === Some(1))
    // a broken chain loses the count but never the dims
    val broken = mp.clone()
    val nextPtr = 8 + 14 * 9 + 2 + 9 * 12 // first IFD's next pointer
    broken(nextPtr) = 0xff.toByte; broken(nextPtr + 1) = 0xff.toByte
    broken(nextPtr + 2) = 0xff.toByte; broken(nextPtr + 3) = 0
    assert(Multimodal.tiffPageCount(broken).isEmpty)
    val bm = Multimodal.metaOf(4L, broken)
    assert(bm.width === Some(14) && bm.n_frames === None)
  }

  test("apngMeta/metaOf: header-only APNG facts") {
    val apng = Multimodal.makeApng(12, 10, 5L, 4)
    // delays (f mod 3 + 1)/100 s → 10+20+30+10 ms
    assert(Multimodal.apngMeta(apng) === Some((12, 10, 4, 70L)))
    val m = Multimodal.metaOf(7L, apng)
    assert(m.kind === "video" && m.format === "apng" && m.width === Some(12) &&
      m.height === Some(10) && m.n_frames === Some(4L) &&
      m.duration_ms === Some(70L))
    // a still PNG stays an image with dims
    val still = Multimodal.metaOf(8L, Multimodal.makePng(6, 5, 1L))
    assert(still.kind === "image" && still.format === "png" &&
      still.width === Some(6) && still.n_frames === None)
    // single-frame APNG: image kind (the GIF rule)
    val one = Multimodal.metaOf(9L, Multimodal.makeApng(8, 8, 1L, 1))
    assert(one.kind === "image" && one.format === "apng" &&
      one.n_frames === Some(1L) && one.duration_ms === Some(10L))
  }

  test("mp4FrameGrids: ISO-BMFF Motion-JPEG frames hash identically to their JPEG twins") {
    val seed = 7L
    val mp4 = Multimodal.makeMp4Mjpeg(64, 64, seed, 3)
    import spark.implicits._
    val hashes = Multimodal.videoFrameHashes(
        spark, Seq((1L, mp4)).toDF("doc_id", "payload"))
      .orderBy("frame_idx").as[(Long, Long, Long)].collect().toSeq
    assert(hashes.map(_._2) === Seq(0L, 1L, 2L))
    // every sample is a complete baseline JPEG: frame hash == image hash
    // of the identical standalone fixture (the makeAviMjpeg invariant)
    for (f <- 0 until 3)
      assert(hashes(f)._3 ===
        Multimodal.imageAHash(Multimodal.makeJpeg(64, 64, seed + f * 17L, gray = true)).get,
        s"frame $f must ride the same JPEG decode as the image path")
    // identical frames across CONTAINERS: the mp4 and the avi of the
    // same seed are the same clip to the hash tier
    val avi = Multimodal.makeAviMjpeg(64, 64, seed, 3)
    assert(Multimodal.mp4FrameGrids(mp4).get._3.map(_.toSeq) ===
      Multimodal.aviFrameGrids(avi).get._3.map(_.toSeq))
    // spectral key decodes the same container; color frames too
    assert(Multimodal.videoFramePHashes(
      spark, Seq((1L, mp4)).toDF("doc_id", "payload")).count() === 3)
    assert(Multimodal.mp4FrameGrids(
      Multimodal.makeMp4Mjpeg(16, 16, 3L, 2, gray = false)).get._3.size === 2)
  }

  test("mp4FrameGrids: sample-table geometry — multi-run stsc, co64, qt brand, 1 frame") {
    // odd frame count → two stsc runs (2-per-chunk + trailing 1): the
    // walk must merge runs, not assume one sample per chunk
    val odd = Multimodal.makeMp4Mjpeg(16, 16, 5L, 5)
    assert(Multimodal.mp4FrameGrids(odd).get._3.size === 5)
    // 64-bit chunk offsets take the co64 path, same frames
    val wide = Multimodal.makeMp4Mjpeg(16, 16, 5L, 5, co64 = true)
    assert(Multimodal.mp4FrameGrids(wide).get._3.map(_.toSeq) ===
      Multimodal.mp4FrameGrids(odd).get._3.map(_.toSeq))
    // QuickTime brand sniffs mov and decodes identically
    val mov = Multimodal.makeMp4Mjpeg(16, 16, 5L, 5, brand = "qt  ")
    assert(Multimodal.videoFormatOf(mov) === "mov")
    assert(Multimodal.videoFormatOf(odd) === "mp4")
    assert(Multimodal.mp4FrameGrids(mov).get._3.map(_.toSeq) ===
      Multimodal.mp4FrameGrids(odd).get._3.map(_.toSeq))
    // single frame = single chunk, single run: exactly its image hash
    val one = Multimodal.makeMp4Mjpeg(16, 16, 9L, 1)
    assert(Multimodal.mp4FrameGrids(one).get._3.size === 1)
  }

  test("mp4FrameGrids: container robustness — rejects never guess") {
    val good = Multimodal.makeMp4Mjpeg(16, 16, 3L, 2)
    // truncated moov (boxes must tile; the last box overruns)
    assert(Multimodal.mp4FrameGrids(good.dropRight(20)).isEmpty)
    // trailing garbage after the last top-level box
    assert(Multimodal.mp4FrameGrids(good ++ Array[Byte](1, 2, 3)).isEmpty)
    // a non-jpeg video coding (the real-world H.264 case) is sniffable
    // but OUTSIDE the decode envelope — flip the stsd entry fourcc
    val avc = good.clone()
    val sdAt = { // LAST occurrence: moov trails mdat, entropy bytes can't alias it
      var i = -1
      for (k <- 0 until avc.length - 4)
        if (avc(k) == 'j' && avc(k + 1) == 'p' &&
            avc(k + 2) == 'e' && avc(k + 3) == 'g') i = k
      i
    }
    assert(sdAt > 0)
    "avc1".getBytes("US-ASCII").copyToArray(avc, sdAt)
    assert(Multimodal.mp4FrameGrids(avc).isEmpty)
    assert(Multimodal.videoFormatOf(avc) === "mp4") // sniffed, unframed
    // a chunk offset pointing past EOF must poison, not crash
    val badOff = good.clone()
    val stcoAt = { // LAST occurrence (same aliasing argument)
      var i = -1
      for (k <- 0 until badOff.length - 4)
        if (badOff(k) == 's' && badOff(k + 1) == 't' &&
            badOff(k + 2) == 'c' && badOff(k + 3) == 'o') i = k
      i
    }
    assert(stcoAt > 0)
    // first chunk offset: stco content = verflags(4) count(4) offs
    badOff(stcoAt + 4 + 8) = 0x7f
    assert(Multimodal.mp4FrameGrids(badOff).isEmpty)
    // a corrupted SAMPLE (not container): flip a byte inside frame 0's
    // entropy data — the JPEG decode fails, the CLIP poisons
    val badFrame = good.clone()
    val mdatAt = {
      var i = -1
      for (k <- 0 until badFrame.length - 4)
        if (i < 0 && badFrame(k) == 'm' && badFrame(k + 1) == 'd' &&
            badFrame(k + 2) == 'a' && badFrame(k + 3) == 't') i = k
      i
    }
    assert(mdatAt > 0)
    badFrame(mdatAt + 4 + 2) = 0x00 // clobber SOI of sample 0
    assert(Multimodal.mp4FrameGrids(badFrame).isEmpty)
    // not ISO-BMFF at all
    assert(Multimodal.mp4FrameGrids(Multimodal.makeWav(100, 1, 8000, 1L)).isEmpty)
    assert(Multimodal.mp4FrameGrids(Array.fill(32)(0.toByte)).isEmpty)
  }

  test("metaOf: audio headers — wav/au/aiff/flac/mp3/aac facts without decoding") {
    def m(b: Array[Byte]) = Multimodal.metaOf(1L, b)
    val wav = m(Multimodal.makeWav(402, 2, 8000, 5L))
    assert(wav.kind === "audio" && wav.format === "wav_pcm16")
    assert(wav.sample_rate === Some(8000) && wav.channels === Some(2) &&
      wav.n_samples === Some(402L) && wav.width.isEmpty)
    val au = m(Multimodal.makeAu(303, 12000, 5L, muLaw = true))
    assert(au.format === "au" && au.sample_rate === Some(12000) &&
      au.channels === Some(1) && au.n_samples === Some(303L))
    val au16 = m(Multimodal.makeAu(303, 12000, 5L, muLaw = false))
    assert(au16.n_samples === Some(303L))
    val aiff = m(Multimodal.makeAiff(204, 3, 11025, 5L))
    assert(aiff.format === "aiff" && aiff.sample_rate === Some(11025) &&
      aiff.channels === Some(3) && aiff.n_samples === Some(204L))
    // FLAC STREAMINFO: hand-packed 44100 Hz stereo, 7777 total samples
    val flac = new Array[Byte](42)
    "fLaC".getBytes("US-ASCII").copyToArray(flac, 0)
    flac(4) = 0x80.toByte; flac(7) = 34 // last-block, type 0, len 34
    flac(18) = 0x0a; flac(19) = 0xc4.toByte; flac(20) = 0x42 // rate 44100, ch 2
    flac(21) = 0xf0.toByte // bps low nibble | total[35:32]=0
    flac(22) = 0; flac(23) = 0; flac(24) = 0x1e; flac(25) = 0x61 // 7777
    val fm = m(flac)
    assert(fm.format === "flac" && fm.sample_rate === Some(44100) &&
      fm.channels === Some(2) && fm.n_samples === Some(7777L))
    // MP3: 5 frames at 44.1 stereo, behind a 64-byte ID3v2 tag
    val mp3 = m(Multimodal.makeMp3Frames(5, 0, 9, mono = false, 3L, id3Size = 64))
    assert(mp3.kind === "audio" && mp3.format === "mp3")
    assert(mp3.sample_rate === Some(44100) && mp3.channels === Some(2) &&
      mp3.n_samples === Some(5L * 1152))
    val mp3m = m(Multimodal.makeMp3Frames(2, 2, 14, mono = true, 3L))
    assert(mp3m.sample_rate === Some(32000) && mp3m.channels === Some(1) &&
      mp3m.n_samples === Some(2L * 1152))
    val aac = m(Multimodal.makeAdtsFrames(4, 4, 2, 33, 3L))
    assert(aac.format === "aac_adts" && aac.sample_rate === Some(44100) &&
      aac.channels === Some(2) && aac.n_samples === Some(4L * 1024))
  }

  test("metaOf: image and video headers — dims, frame counts, kind dispatch") {
    def m(b: Array[Byte]) = Multimodal.metaOf(1L, b)
    val png = m(Multimodal.makePng(7, 5, 1L))
    assert(png.kind === "image" && png.format === "png" &&
      png.width === Some(7) && png.height === Some(5))
    val bmp = m(Multimodal.makeBmp(9, 4, 1L))
    assert(bmp.width === Some(9) && bmp.height === Some(4))
    val jpg = m(Multimodal.makeJpeg(24, 16, 1L))
    assert(jpg.format === "jpeg" && jpg.width === Some(24) && jpg.height === Some(16))
    val tif = m(Multimodal.makeTiff(6, 11, 1L))
    assert(tif.format === "tiff" && tif.width === Some(6) && tif.height === Some(11))
    val tifBe = m(Multimodal.makeTiff(6, 11, 1L, bigEndian = true))
    assert(tifBe.width === Some(6) && tifBe.height === Some(11))
    // WebP: the metadata pass sees inside a format the hash tier can't.
    // VP8L header: 0x2f then 14-bit w-1 / h-1 packed little-endian
    def webp(chunk: String, content: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("RIFF".getBytes("US-ASCII")); out.write(Array.fill(4)(0x30.toByte))
      out.write("WEBP".getBytes("US-ASCII")); out.write(chunk.getBytes("US-ASCII"))
      out.write(Array[Byte]((content.length & 0xff).toByte, 0, 0, 0))
      out.write(content); out.write(new Array[Byte](8))
      out.toByteArray
    }
    // w=259 → w-1=258=0b01_00000010; h=17 → h-1=16
    val vp8l = webp("VP8L", Array[Byte](0x2f, 0x02, 0x01, 0x04, 0x00, 0x00))
    assert(m(vp8l).format === "webp" && m(vp8l).width === Some(259) &&
      m(vp8l).height === Some(17))
    val vp8x = webp("VP8X", Array[Byte](0, 0, 0, 0, 0x1f, 0, 0, 0x0a, 0, 0))
    assert(m(vp8x).width === Some(32) && m(vp8x).height === Some(11))
    val vp8 = webp("VP8 ", Array[Byte](0, 0, 0, 0x9d.toByte, 0x01, 0x2a,
      0x40, 0x01, 0x2c, 0x01))
    assert(m(vp8).width === Some(320) && m(vp8).height === Some(300))
    // GIF: kind flips image→video at 2 frames; dims from the screen
    val still = m(Multimodal.makeGif(12, 8, 1L))
    assert(still.kind === "image" && still.format === "gif" &&
      still.width === Some(12) && still.n_frames === Some(1L))
    val anim = m(Multimodal.makeGifAnimated(12, 8, 1L, 3))
    assert(anim.kind === "video" && anim.n_frames === Some(3L))
    // AVI: avih facts only, movi untouched
    val avi = m(Multimodal.makeAviMjpeg(32, 24, 1L, 4))
    assert(avi.kind === "video" && avi.format === "avi" &&
      avi.width === Some(32) && avi.height === Some(24) && avi.n_frames === Some(4L))
    // MP4: sample-table frame count; CODING-AGNOSTIC — an avc1 track
    // (undecodable by the hash tier) still reports dims and frames
    val mp4 = m(Multimodal.makeMp4Mjpeg(16, 16, 1L, 5))
    assert(mp4.kind === "video" && mp4.format === "mp4" &&
      mp4.width === Some(16) && mp4.n_frames === Some(5L))
    val avc = Multimodal.makeMp4Mjpeg(16, 16, 1L, 5)
    val sdAt = {
      var i = -1
      for (k <- 0 until avc.length - 4)
        if (avc(k) == 'j' && avc(k + 1) == 'p' && avc(k + 2) == 'e' && avc(k + 3) == 'g')
          i = k
      i
    }
    "avc1".getBytes("US-ASCII").copyToArray(avc, sdAt)
    assert(Multimodal.mp4FrameGrids(avc).isEmpty)
    val avcMeta = m(avc)
    assert(avcMeta.kind === "video" && avcMeta.width === Some(16) &&
      avcMeta.n_frames === Some(5L))
    // EBML sniffs video with no facts; junk is unknown
    val ebml = Array[Byte](0x1a, 0x45.toByte, 0xdf.toByte, 0xa3.toByte) ++
      new Array[Byte](16)
    assert(m(ebml).kind === "video" && m(ebml).format === "ebml" && m(ebml).width.isEmpty)
    val junk = m(Array.fill(16)(3.toByte))
    assert(junk.kind === "unknown" && junk.format === "unknown")
    // the Dataset op carries the same rows through a mixed scan
    import spark.implicits._
    val corpus = Seq(
      (1L, Multimodal.makeWav(100, 1, 8000, 1L)),
      (2L, Multimodal.makePng(4, 4, 1L)),
      (3L, Multimodal.makeMp4Mjpeg(16, 16, 1L, 2)),
      (4L, Array.fill(8)(9.toByte))).toDF("doc_id", "payload")
    val got = Multimodal.mediaMeta(spark, corpus)
      .orderBy("doc_id").collect()
    assert(got.length === 4)
    assert(got.map(_.getString(1)).toSeq === Seq("audio", "image", "video", "unknown"))
  }

  test("metaOf: EBML (webm/mkv) and Ogg (vorbis/opus) container facts") {
    def m(b: Array[Byte]) = Multimodal.metaOf(1L, b)
    val webm = m(Multimodal.makeWebm(320, 240))
    assert(webm.kind === "video" && webm.format === "webm" &&
      webm.width === Some(320) && webm.height === Some(240) &&
      webm.sample_rate.isEmpty)
    // a muxed file reports BOTH video dims and audio facts
    val muxed = m(Multimodal.makeWebm(640, 360, audioRate = 48000, audioCh = 2))
    assert(muxed.width === Some(640) && muxed.height === Some(360) &&
      muxed.sample_rate === Some(48000) && muxed.channels === Some(2))
    val mkv = m(Multimodal.makeWebm(100, 80, docType = "matroska"))
    assert(mkv.format === "mkv" && mkv.width === Some(100))
    // the all-ones "unknown size" Segment real live muxers emit
    val live = m(Multimodal.makeWebm(25, 20, unknownSegmentSize = true))
    assert(live.format === "webm" && live.width === Some(25) && live.height === Some(20))
    // bare EBML magic with junk: sniffed, no facts
    val bare = m(Array[Byte](0x1a, 0x45.toByte, 0xdf.toByte, 0xa3.toByte) ++
      new Array[Byte](16))
    assert(bare.kind === "video" && bare.format === "ebml" && bare.width.isEmpty)
    // Ogg: codec refined from the id packet, total samples from the
    // last page's granule position
    val vorbis = m(Multimodal.makeOgg(12345L, 44100, 2, opus = false, 1L))
    assert(vorbis.kind === "audio" && vorbis.format === "ogg_vorbis" &&
      vorbis.sample_rate === Some(44100) && vorbis.channels === Some(2) &&
      vorbis.n_samples === Some(12345L))
    // Opus granules run at 48 kHz regardless of the stored input rate
    val opus = m(Multimodal.makeOgg(9600L, 16000, 1, opus = true, 1L))
    assert(opus.format === "ogg_opus" && opus.sample_rate === Some(48000) &&
      opus.channels === Some(1) && opus.n_samples === Some(9600L))
    // an OggS page with an unrecognized first packet stays plain 'ogg'
    val junkOgg = {
      val b = Multimodal.makeOgg(5L, 8000, 1, opus = false, 1L)
      b(28 + 1) = 'x'.toByte // clobber "vorbis" in the id packet
      b
    }
    val jo = m(junkOgg)
    assert(jo.kind === "audio" && jo.format === "ogg" && jo.sample_rate.isEmpty)
  }

  test("metaOf: EXIF orientation from JPEG APP1 — both byte orders; absent is not 1") {
    def m(b: Array[Byte]) = Multimodal.metaOf(1L, b)
    val plain = Multimodal.makeJpeg(16, 16, 3L)
    assert(m(plain).orientation.isEmpty)
    for (o <- 1 to 8; be <- Seq(false, true)) {
      val tagged = Multimodal.withExifOrientation(plain, o, bigEndian = be)
      val row = m(tagged)
      assert(row.format === "jpeg" && row.orientation === Some(o),
        s"orientation $o bigEndian=$be")
      // the spliced segment must not disturb the dims walk or decode
      assert(row.width === Some(16) && row.height === Some(16))
      assert(Multimodal.imageAHash(tagged) === Multimodal.imageAHash(plain))
    }
    // a malformed Exif payload (bad TIFF magic) reads as no orientation
    val bad = Multimodal.withExifOrientation(plain, 5)
    bad(2 + 4 + 6) = 'X'.toByte // clobber the 'I' byte-order mark
    assert(m(bad).orientation.isEmpty)
  }

  test("metaOf: durations — GIF delays, AVI rate, mvhd, webm Info") {
    def m(b: Array[Byte]) = Multimodal.metaOf(1L, b)
    // animated GIF: sum of GCE delays (4 cs per frame in the fixture)
    val anim = m(Multimodal.makeGifAnimated(12, 8, 1L, 5))
    assert(anim.duration_ms === Some(5L * 40))
    // a still GIF has no GCE: no duration, not zero
    assert(m(Multimodal.makeGif(12, 8, 1L)).duration_ms.isEmpty)
    // AVI: dwMicroSecPerFrame (100000 in the fixture) x dwTotalFrames
    val avi = m(Multimodal.makeAviMjpeg(16, 16, 1L, 4))
    assert(avi.duration_ms === Some(400L))
    // MP4: mvhd duration/timescale (fixture: frames*100 at 1000)
    val mp4 = m(Multimodal.makeMp4Mjpeg(16, 16, 1L, 3))
    assert(mp4.duration_ms === Some(300L))
    // webm: Info TimecodeScale(1e6 ns) x Duration(float)
    val webm = m(Multimodal.makeWebm(320, 240, durationMs = 2345))
    assert(webm.duration_ms === Some(2345L) && webm.width === Some(320))
    // no Info element -> no duration
    assert(m(Multimodal.makeWebm(320, 240)).duration_ms.isEmpty)
  }

  test("metaOf: AVIF/HEIC dims via the ispe property association") {
    def m(b: Array[Byte]) = Multimodal.metaOf(1L, b)
    val plainAvif = m(Multimodal.makeHeifHeader(800, 600))
    assert(plainAvif.kind === "image" && plainAvif.format === "avif" &&
      plainAvif.width === Some(800) && plainAvif.height === Some(600))
    // the thumbnail ispe precedes the primary in ipco: a reader that
    // grabs the FIRST property would report 32x24 — pitm+ipma must win
    val thumbed = m(Multimodal.makeHeifHeader(800, 600, thumbW = 32, thumbH = 24))
    assert(thumbed.width === Some(800) && thumbed.height === Some(600))
    val heic = m(Multimodal.makeHeifHeader(123, 45, brand = "heic1"))
    assert(heic.format === "heic" && heic.width === Some(123) && heic.height === Some(45))
    // a bare ftyp-avif stub stays dimension-less, never a guess
    val stub = Array[Byte](0, 0, 0, 24) ++ "ftypavif".getBytes("US-ASCII") ++
      new Array[Byte](16)
    val sm = m(stub)
    assert(sm.format === "avif" && sm.width.isEmpty)
  }

  test("metaOf: animated WebP — ANMF frame counts and summed durations") {
    def m(b: Array[Byte]) = Multimodal.metaOf(1L, b)
    val still = m(Multimodal.makeWebpHeader(300, 200))
    assert(still.kind === "image" && still.format === "webp" &&
      still.width === Some(300) && still.height === Some(200) &&
      still.n_frames.isEmpty && still.duration_ms.isEmpty)
    // wide dims exercise the 14-bit packing boundary
    val wide = m(Multimodal.makeWebpHeader(16383, 11111))
    assert(wide.width === Some(16383) && wide.height === Some(11111))
    val anim = m(Multimodal.makeWebpAnim(64, 48, frames = 5, frameDurMs = 40))
    assert(anim.kind === "video" && anim.format === "webp" &&
      anim.width === Some(64) && anim.n_frames === Some(5L) &&
      anim.duration_ms === Some(200L))
    // a single-frame animation is still an image by the GIF kind rule
    val one = m(Multimodal.makeWebpAnim(10, 10, frames = 1, frameDurMs = 90))
    assert(one.kind === "image" && one.n_frames === Some(1L) &&
      one.duration_ms === Some(90L))
    // and the hash tier still refuses the format (coverage boundary)
    assert(Multimodal.imageAHash(Multimodal.makeWebpAnim(64, 48, 2, 40)).isEmpty)
  }

  test("metaOf: audio-only ISO-BMFF (M4A) is audio, not dimension-less video") {
    def m(b: Array[Byte]) = Multimodal.metaOf(1L, b)
    val m4a = m(Multimodal.makeM4aHeader(44100, 2, 180000))
    assert(m4a.kind === "audio" && m4a.format === "mp4")
    assert(m4a.sample_rate === Some(44100) && m4a.channels === Some(2) &&
      m4a.duration_ms === Some(180000L) && m4a.width.isEmpty)
    // a VIDEO-tracked mp4 stays video (the audio walk must not win)
    val vid = m(Multimodal.makeMp4Mjpeg(16, 16, 1L, 2))
    assert(vid.kind === "video" && vid.width === Some(16))
    // an mp4 with neither track parseable stays a sniffed video
    val hollow = Array[Byte](0, 0, 0, 16) ++ "ftypmp42".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 0)
    assert(m(hollow).kind === "video" && m(hollow).sample_rate.isEmpty)
  }

  test("tiffDecode: shared JPEGTables and color YCbCr strips decode through the spliced path") {
    val base = Multimodal.imageAHash(Multimodal.makeTiffJpeg(64, 64, 16, 9L)).get
    // shared-tables twin ≡ complete-stream twin, both byte orders
    assert(Multimodal.imageAHash(
      Multimodal.makeTiffJpeg(64, 64, 16, 9L, sharedTables = true)).get === base)
    assert(Multimodal.imageAHash(Multimodal.makeTiffJpeg(64, 64, 16, 9L,
      bigEndian = true, sharedTables = true)).get === base)
    // color flat-chroma strips decode to (Y, Y, Y), so the hash is
    // IDENTICAL to the grayscale twin (the scale-free law) — color
    // storage and the photometric tag provably absent from the result
    assert(Multimodal.imageAHash(
      Multimodal.makeTiffJpeg(64, 64, 16, 9L, color = true)).get === base)
    assert(Multimodal.imageAHash(Multimodal.makeTiffJpeg(64, 64, 16, 9L,
      color = true, sharedTables = true)).get === base)
    assert(Multimodal.decode(1L,
      Multimodal.makeTiffJpeg(64, 64, 16, 9L, color = true)).format === "tiff")
    // abbreviation round-trip: tables + abbreviated reassemble to a
    // stream the entropy path decodes identically
    val full = Multimodal.makeJpeg(64, 64, 5L, gray = true)
    val (tabs, abbrev) = Multimodal.abbreviateJpeg(full)
    val spliced = Array[Byte](0xff.toByte, 0xd8.toByte) ++
      tabs.slice(2, tabs.length - 2) ++ abbrev.drop(2)
    assert(Multimodal.imageAHash(spliced) === Multimodal.imageAHash(full))
  }

  test("tiffDecode: JPEGTables defect shapes reject, never guess") {
    def ifdOffOf(b: Array[Byte]): Int =
      (b(4) & 0xff) | ((b(5) & 0xff) << 8) | ((b(6) & 0xff) << 16) |
        ((b(7) & 0xff) << 24)
    val good = Multimodal.makeTiffJpeg(64, 64, 16, 9L, sharedTables = true)
    assert(Multimodal.imageAHash(good).isDefined)
    // clobber the stored tables' SOI shell: the only FFD8FFDB run is
    // the tables (abbreviated strips open FFD8FFC0)
    val ti = good.indexOfSlice(
      Array(0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xdb.toByte))
    assert(ti > 0)
    val badShell = good.clone(); badShell(ti) = 0
    assert(Multimodal.decode(1L, badShell).format === "stub")
    // abbreviated strips with the JPEGTables tag renamed away: the
    // strips then carry no Huffman/quant tables and must reject
    // (entry 9 = tag 347 in the 10-entry directory)
    val noTabs = good.clone()
    val t347 = ifdOffOf(noTabs) + 2 + 9 * 12
    noTabs(t347) = 0x99.toByte; noTabs(t347 + 1) = 0x7f.toByte
    assert(Multimodal.decode(2L, noTabs).format === "stub")
    // truncated strip payload
    assert(Multimodal.decode(3L, good.dropRight(200)).format === "stub")
  }

  test("tiffDecode: JPEG-in-TIFF strips ride the existing entropy path") {
    // one strip == a standalone gray JPEG: the TIFF hash must equal
    // 	the image hash of that JPEG (gray scale factors cancel in aHash)
    val one = Multimodal.makeTiffJpeg(64, 64, 64, 9L)
    assert(Multimodal.imageAHash(one) ===
      Multimodal.imageAHash(Multimodal.makeJpeg(64, 64, 9L, gray = true)))
    // multi-strip: stitched grid, byte order invariant
    val le = Multimodal.makeTiffJpeg(64, 64, 16, 9L)
    val be = Multimodal.makeTiffJpeg(64, 64, 16, 9L, bigEndian = true)
    assert(Multimodal.imageAHash(le).isDefined)
    assert(Multimodal.imageAHash(le) === Multimodal.imageAHash(be))
    // decode dispatch reports a real tiff parse, not the stub
    assert(Multimodal.decode(1L, le).format === "tiff")
    // a corrupt strip poisons the image (SOI of strip 1 clobbered —
    // strip 0 still decodes, so a partial lie would hash)
    val bad = Multimodal.makeTiffJpeg(64, 64, 16, 9L)
    // find the SECOND JPEG SOI (strips start at byte 8; strip 1 starts
    // right after strip 0 — scan for FF D8 after offset 9)
    var soi2 = -1
    var i = 9
    while (soi2 < 0 && i < bad.length - 1) {
      if ((bad(i) & 0xff) == 0xff && (bad(i + 1) & 0xff) == 0xd8) soi2 = i
      i += 1
    }
    assert(soi2 > 8)
    bad(soi2 + 1) = 0x00
    assert(Multimodal.imageAHash(bad).isEmpty)
    // a strip JPEG whose dims disagree with the declared strip poisons
    // (wrong rps: strips are 16 rows but the JPEG says 64)
    // JPEGTables presence (abbreviated streams) is outside the envelope:
    // splice a 347 entry is structural — covered by the spp/photometric
    // gates in ImageCoverage; here pin the color-JPEG reject instead
    // by checking imageCoverage counts a compression-7 tiff as hashed
    import spark.implicits._
    val cov = Multimodal.imageCoverage(spark,
      Seq((1L, le)).toDF("doc_id", "payload")).collect()
    assert(cov.length === 1 && cov(0).getString(0) === "tiff" &&
      cov(0).getLong(2) === 1L)
  }

  test("imageFormatOf/imageCoverage: the measured image boundary per corpus") {
    import spark.implicits._
    assert(Multimodal.imageFormatOf(Multimodal.makeBmp(4, 4, 1)) === "bmp")
    assert(Multimodal.imageFormatOf(Multimodal.makePng(8, 8, 1)) === "png")
    assert(Multimodal.imageFormatOf(Multimodal.makeGif(8, 8, 1)) === "gif")
    assert(Multimodal.imageFormatOf(Multimodal.makeJpeg(8, 8, 1)) === "jpeg")
    assert(Multimodal.imageFormatOf(Multimodal.makeTiff(8, 8, 1)) === "tiff")
    assert(Multimodal.imageFormatOf(
      Multimodal.makeTiff(8, 8, 1, bigEndian = true)) === "tiff")
    val webp = "RIFF".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0) ++
      "WEBP".getBytes("US-ASCII") ++ new Array[Byte](16)
    assert(Multimodal.imageFormatOf(webp) === "webp")
    val avif = Array[Byte](0, 0, 0, 24) ++ "ftypavif".getBytes("US-ASCII") ++
      new Array[Byte](16)
    assert(Multimodal.imageFormatOf(avif) === "avif")
    val heic = Array[Byte](0, 0, 0, 24) ++ "ftypheic".getBytes("US-ASCII") ++
      new Array[Byte](16)
    assert(Multimodal.imageFormatOf(heic) === "heic")
    assert(Multimodal.imageFormatOf(Array.fill(8)(1.toByte)) === "unknown")
    // a CCITT-compressed TIFF still SNIFFS tiff but does not hash
    // (LZW/Deflate/PackBits moved inside the envelope in r17) — that
    // gap is exactly what the coverage row measures
    val ccitt = Multimodal.makeTiff(8, 8, 1)
    ccitt(8 + 8 * 8 * 3 + 2 + 3 * 12 + 8) = 4
    val corpus = Seq(
      (1L, Multimodal.makeBmp(16, 16, 1)), (2L, Multimodal.makeTiff(16, 16, 2)),
      (3L, ccitt), (4L, webp), (5L, avif)).toDF("doc_id", "payload")
    val cov = Multimodal.imageCoverage(spark, corpus)
      .orderBy("format").as[(String, Long, Long)].collect().toSeq
    assert(cov === Seq(("avif", 1L, 0L), ("bmp", 1L, 1L),
      ("tiff", 2L, 1L), ("webp", 1L, 0L)))
  }

  test("bmpBgrPixels: an RLE8 palette past the payload's end is None, not a throw") {
    // the palette fits before pixelOff but the payload stops at the headers
    val cut = Multimodal.makeBmpX(13, 6, 6, bpp = 8, rle = true).take(54)
    assert(Multimodal.imageAHash(cut) === None)
    assert(Multimodal.imagePHash(cut) === None)
  }

  test("dibGrayGrid: a lying avih height that wraps stride * h is None, not a throw") {
    val avi = Multimodal.makeAviDib(5, 3, 4, 3)
    avi(71) = (avi(71) ^ 0x80).toByte // dwHeight's sign bit
    assert(Multimodal.videoFrameGrids(avi) === None)
  }

  test("heifDims: an ipma entry running past the payload is None, not a throw") {
    val heic = Multimodal.makeHeifHeader(4000, 3000, "heic", 320, 240)
    heic(143) = (heic(143) ^ 0x80).toByte // ipma version: 4-byte item ids
    val m = Multimodal.metaOf(1L, heic)
    assert((m.format, m.width, m.height) === (("heic", None, None)))
  }
}

package graft

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{Flac, Multimodal => M}

/** Pins the exact bytes of every fixture writer: each public `make*`
  * writer, [[Flac.make]], `toExtensibleWav`, `withExifOrientation` and
  * `abbreviateJpeg`, under a few fixed argument sets that cover each of
  * its variant flags. Every multimodal oracle row replays a closed form
  * over these bytes, so a refactor of the writers must leave every
  * digest unchanged.
  */
class FixtureDigestSpec extends AnyFunSuite {

  private def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map(x => f"${x & 0xff}%02x").mkString

  private val jpeg16 = M.makeJpeg(16, 16, 5L, gray = true)

  /** (case name, writer call): names are unique. */
  private val cases: Seq[(String, () => Array[Byte])] = Seq(
    "makeWav/mono" -> (() => M.makeWav(100, 1, 8000, 3L)),
    "makeWav/stereo" -> (() => M.makeWav(64, 2, 44100, 7L)),
    "makeWav/8ch" -> (() => M.makeWav(10, 8, 16000, 255L)),
    "makeWavFloat/32" -> (() => M.makeWavFloat(50, 1, 8000, 9L)),
    "makeWavFloat/64" -> (() => M.makeWavFloat(30, 2, 22050, 4L, bits = 64)),
    "makeAu/mulaw" -> (() => M.makeAu(77, 8000, 3L, muLaw = true)),
    "makeAu/pcm16" -> (() => M.makeAu(40, 11025, 5L, muLaw = false)),
    "makeAu/linear8" -> (() => M.makeAu(33, 8000, 6L, muLaw = false, enc = 2)),
    "makeAu/float32" -> (() => M.makeAu(20, 8000, 7L, muLaw = false, enc = 6)),
    "makeAu/float64" -> (() => M.makeAu(20, 8000, 8L, muLaw = false, enc = 7)),
    "makeAiff/aiff" -> (() => M.makeAiff(40, 1, 44100, 3L)),
    "makeAiff/none" -> (() => M.makeAiff(25, 2, 22050, 4L, aifc = "NONE")),
    "makeAiff/sowt" -> (() => M.makeAiff(25, 2, 48000, 5L, aifc = "sowt")),
    "makeWavG711/mulaw" -> (() => M.makeWavG711(61, 8000, 3L, aLaw = false)),
    "makeWavG711/alaw" -> (() => M.makeWavG711(64, 8000, 4L, aLaw = true)),
    "makeWavPcmWidth/8" -> (() => M.makeWavPcmWidth(51, 8000, 3L, bits = 8)),
    "makeWavPcmWidth/24" -> (() => M.makeWavPcmWidth(40, 44100, 4L, bits = 24)),
    "makeWavImaAdpcm/a" -> (() => M.makeWavImaAdpcm(3, 36, 8000, 5L)),
    "makeWavImaAdpcm/b" -> (() => M.makeWavImaAdpcm(1, 8, 22050, 0L)),
    "makeWavMsAdpcm/a" -> (() => M.makeWavMsAdpcm(3, 36, 8000, 5L)),
    "makeWavMsAdpcm/b" -> (() => M.makeWavMsAdpcm(2, 9, 11025, 12L)),
    "makePng/rgb" -> (() => M.makePng(9, 7, 3L)),
    "makePng/gray" -> (() => M.makePng(8, 8, 4L, colorType = 0)),
    "makePng/palette" -> (() => M.makePng(5, 6, 5L, colorType = 3)),
    "makePng/grayAlpha16" -> (() => M.makePng(6, 5, 6L, colorType = 4, bitDepth = 16)),
    "makePng/rgba" -> (() => M.makePng(7, 4, 7L, colorType = 6)),
    "makePng/rgb16interlaced" ->
      (() => M.makePng(11, 9, 8L, colorType = 2, bitDepth = 16, interlaced = true)),
    "makePng/gray16" -> (() => M.makePng(4, 4, 9L, colorType = 0, bitDepth = 16)),
    "makeApng/rgbIdat" -> (() => M.makeApng(8, 6, 3L, frames = 3)),
    "makeApng/grayFdat" ->
      (() => M.makeApng(5, 5, 4L, frames = 2, colorType = 0, firstIsIdat = false)),
    "makeGif/plain" -> (() => M.makeGif(12, 10, 3L)),
    "makeGif/interlaced" -> (() => M.makeGif(9, 17, 4L, interlaced = true)),
    "makeGifAnimated" -> (() => M.makeGifAnimated(8, 8, 5L, frames = 3)),
    "makeAviMjpeg/gray" -> (() => M.makeAviMjpeg(16, 16, 3L, frames = 5)),
    "makeAviMjpeg/color" -> (() => M.makeAviMjpeg(8, 8, 4L, frames = 2, gray = false)),
    "makeAviDib/a" -> (() => M.makeAviDib(8, 8, 3L, frames = 2)),
    "makeAviDib/b" -> (() => M.makeAviDib(5, 3, 4L, frames = 3)),
    "makeM4aHeader/a" -> (() => M.makeM4aHeader(44100, 2, 1234)),
    "makeM4aHeader/b" -> (() => M.makeM4aHeader(8000, 1, 0)),
    "makeMp4Mjpeg/one" -> (() => M.makeMp4Mjpeg(8, 8, 3L, frames = 1)),
    "makeMp4Mjpeg/evenMov" -> (() => M.makeMp4Mjpeg(16, 8, 4L, frames = 2, brand = "qt  ")),
    "makeMp4Mjpeg/oddCo64Color" ->
      (() => M.makeMp4Mjpeg(8, 16, 5L, frames = 3, co64 = true, gray = false)),
    "makeJpeg/color" -> (() => M.makeJpeg(16, 8, 3L)),
    "makeJpeg/gray" -> (() => M.makeJpeg(24, 16, 4L, gray = true)),
    "makeJpeg/subsample" -> (() => M.makeJpeg(32, 16, 5L, subsample = true)),
    "makeJpeg/flatChroma" -> (() => M.makeJpeg(16, 16, 6L, flatChroma = true)),
    "makeJpeg12/color" -> (() => M.makeJpeg12(16, 8, 3L)),
    "makeJpeg12/gray" -> (() => M.makeJpeg12(8, 8, 4L, gray = true)),
    "makeJpeg12/subsample" -> (() => M.makeJpeg12(16, 16, 5L, subsample = true)),
    "makeJpegProgressive/color" -> (() => M.makeJpegProgressive(16, 16, 3L)),
    "makeJpegProgressive/gray" -> (() => M.makeJpegProgressive(8, 8, 4L, gray = true)),
    "makeJpegProgressive/subsample" ->
      (() => M.makeJpegProgressive(32, 32, 5L, subsample = true)),
    "makeTiffMultipage/1" -> (() => M.makeTiffMultipage(6, 4, 3L, pages = 1)),
    "makeTiffMultipage/3" -> (() => M.makeTiffMultipage(5, 5, 4L, pages = 3)),
    "makeTiff/rgb" -> (() => M.makeTiff(7, 5, 3L)),
    "makeTiff/grayMM" -> (() => M.makeTiff(6, 6, 4L, rgb = false, bigEndian = true)),
    "makeTiff/stripsLzwPredictor" ->
      (() => M.makeTiff(9, 7, 5L, rowsPerStrip = 3, compression = 5, predictor = 2)),
    "makeTiff/deflate16MM" ->
      (() => M.makeTiff(8, 5, 6L, bigEndian = true, compression = 8, bits = 16)),
    "makeTiff/packbitsPlanar" ->
      (() => M.makeTiff(10, 4, 7L, compression = 32773, planar = true, rowsPerStrip = 2)),
    "makeTiff/tiled" -> (() => M.makeTiff(20, 18, 8L, tileSize = 16)),
    "makeTiff/tiledPlanar16MM" -> (() =>
      M.makeTiff(17, 33, 9L, bigEndian = true, bits = 16, planar = true, tileSize = 16,
        predictor = 2)),
    "makeTiffJpeg/gray" -> (() => M.makeTiffJpeg(16, 16, 8, 3L)),
    "makeTiffJpeg/colorMM" -> (() => M.makeTiffJpeg(8, 16, 8, 4L, bigEndian = true, color = true)),
    "makeTiffJpeg/shared" -> (() => M.makeTiffJpeg(16, 24, 8, 5L, sharedTables = true)),
    "makeTiffJpeg/sharedColorMM" -> (() =>
      M.makeTiffJpeg(8, 8, 8, 6L, bigEndian = true, color = true, sharedTables = true)),
    "makeBmp/a" -> (() => M.makeBmp(5, 3, 3L)),
    "makeBmp/b" -> (() => M.makeBmp(8, 8, 4L)),
    "makeBmpX/8" -> (() => M.makeBmpX(7, 5, 3L, bpp = 8)),
    "makeBmpX/24topDown" -> (() => M.makeBmpX(6, 4, 4L, topDown = true)),
    "makeBmpX/32" -> (() => M.makeBmpX(5, 5, 5L, bpp = 32)),
    "makeBmpX/rle8" -> (() => M.makeBmpX(13, 6, 6L, bpp = 8, rle = true)),
    "makeIco/24" -> (() => M.makeIco(8, 8, 3L)),
    "makeIco/8smaller" -> (() => M.makeIco(6, 4, 4L, bpp = 8, withSmaller = true)),
    "makeIco/32" -> (() => M.makeIco(5, 7, 5L, bpp = 32)),
    "makeIco/png" -> (() => M.makeIco(9, 9, 6L, png = true, withSmaller = true)),
    "makePnm/p6" -> (() => M.makePnm(5, 4, 3L)),
    "makePnm/p5" -> (() => M.makePnm(6, 3, 4L, rgb = false)),
    "makePnm/p3" -> (() => M.makePnm(4, 2, 5L, asciiForm = true)),
    "makePnm/p2" -> (() => M.makePnm(3, 3, 6L, rgb = false, asciiForm = true)),
    "makeQoi/a" -> (() => M.makeQoi(9, 7, 3L)),
    "makeQoi/b" -> (() => M.makeQoi(64, 2, 256L)),
    "makeWebpHeader/a" -> (() => M.makeWebpHeader(640, 480)),
    "makeWebpHeader/b" -> (() => M.makeWebpHeader(1, 16384)),
    "makeWebpAnim" -> (() => M.makeWebpAnim(320, 200, frames = 3, frameDurMs = 40)),
    "makeMp3Frames/stereo" -> (() => M.makeMp3Frames(3, 0, 9, mono = false, seed = 3L)),
    "makeMp3Frames/monoId3" ->
      (() => M.makeMp3Frames(2, 2, 5, mono = true, seed = 4L, id3Size = 300)),
    "makeAdtsFrames" -> (() => M.makeAdtsFrames(3, 4, 2, 20, 3L)),
    "makeWebm/video" -> (() => M.makeWebm(640, 360)),
    "makeWebm/mkvAudioUnknown" -> (() => M.makeWebm(320, 240, docType = "matroska",
      audioRate = 48000, audioCh = 2, unknownSegmentSize = true, durationMs = 1500)),
    "makeOgg/vorbis" -> (() => M.makeOgg(44100L, 44100, 2, opus = false, seed = 3L)),
    "makeOgg/opus" -> (() => M.makeOgg(96000L, 48000, 1, opus = true, seed = 4L)),
    "makeOggFlac/comment" -> (() => M.makeOggFlac(192, 1, 8000, 3L)),
    "makeOggFlac/bareStereo" -> (() => M.makeOggFlac(384, 2, 44100, 4L, withComment = false)),
    "makeHeifHeader/avif" -> (() => M.makeHeifHeader(1920, 1080)),
    "makeHeifHeader/heicThumb" ->
      (() => M.makeHeifHeader(4000, 3000, brand = "heic", thumbW = 320, thumbH = 240)),
    "Flac.make/mono" -> (() => Flac.make(384, 1, 8000, 3L)),
    "Flac.make/stereo" -> (() => Flac.make(768, 2, 44100, 4L)),
    "Flac.make/block64" -> (() => Flac.make(256, 2, 22050, 5L, blockSize = 64)),
    "toExtensibleWav/pcm16" -> (() => M.toExtensibleWav(M.makeWav(20, 2, 8000, 3L))),
    "toExtensibleWav/pcm24" -> (() => M.toExtensibleWav(M.makeWavPcmWidth(15, 8000, 4L, 24))),
    "withExifOrientation/II" -> (() => M.withExifOrientation(jpeg16, 6)),
    "withExifOrientation/MM" -> (() => M.withExifOrientation(jpeg16, 3, bigEndian = true)),
    "abbreviateJpeg/tables" -> (() => M.abbreviateJpeg(M.makeJpeg(16, 8, 7L))._1),
    "abbreviateJpeg/rest" -> (() => M.abbreviateJpeg(M.makeJpeg(16, 8, 7L))._2))

  private val expected: Map[String, String] = Map(
    "makeWav/mono" -> "4922e3ae5b759a94cbf023d0922994f4f3c35b685013df284667db8cf1cdf9b5",
    "makeWav/stereo" -> "bf07e6fab431d7242634ed1e2cf595e27fdd374962f573ffc968f6481ad6122e",
    "makeWav/8ch" -> "eafa309459a4b100c555879c6e0d9d3bf9eda44f067a574a2dd07cf288c3fda6",
    "makeWavFloat/32" -> "232de34c923a0a2a62e8139d0eb386e16d7d891de8217cd6b1079d27a81b8666",
    "makeWavFloat/64" -> "cf586269377b76a600ccb1e747c00e7d7cd4f408c806ed8a20e4279a629d1c09",
    "makeAu/mulaw" -> "414b84ec36f096d2ff1a9e00c440458d70c5bbacd28b46ded70e768df43521ce",
    "makeAu/pcm16" -> "67f9945fb1ca01de077ad1fa4fb66d2618c2d2ba53836c9a4de2b0b6b2bf3fa4",
    "makeAu/linear8" -> "6a6a43eaf973a2757c64426988c22d7324d0a848f9fd0351956472d26c21f461",
    "makeAu/float32" -> "b1e425192fbbb3683179b605e327bfebc1784ea4d6b05276267ecfd7962acbe0",
    "makeAu/float64" -> "8ad85f7a25610dbf2697bbb03f7eecad177e2a5cd5238ebf1c8ab33c16dc5812",
    "makeAiff/aiff" -> "2031422e18e8cc3f6ed0c428768b881b615064b6bb186c32862f0157eb4f8ddc",
    "makeAiff/none" -> "b5a925726c0168ee327ba80842c3271c1f50aaca688b4abab91be516026427da",
    "makeAiff/sowt" -> "2e1cf0705e3cd40f0584ab8db7835c6b484c6e6a6ef1f3d0a22200e51e9fe2a7",
    "makeWavG711/mulaw" -> "18631917d34fabf658eaa2216b106715ffdf97701ae9a151b9c62231f34f5251",
    "makeWavG711/alaw" -> "c78b90b1f84499610d0fa3e58f09d3078a19217744ddad4762bcac4fd03e1322",
    "makeWavPcmWidth/8" -> "22abbc20a4fb45b915ea3abaa7bbcbb9703e3522e5ae93d25470f0c54e1d5dd5",
    "makeWavPcmWidth/24" -> "cd22142a3ac202bfad0bb92af84b898a3c52e5e63a2d606970108368eb62e9ab",
    "makeWavImaAdpcm/a" -> "2dfe3dd81a91fe13aba1e62f9b7a544e61db31b6b825a5bd266d50e1a489bcaa",
    "makeWavImaAdpcm/b" -> "6123cee138ec2d1748d143282464ebb7d3ab5bb261e9e7bb348d751192848800",
    "makeWavMsAdpcm/a" -> "7f4596f6b75d5cb64926fac767014a667dfd33d10457531b3a3f6db6daa88996",
    "makeWavMsAdpcm/b" -> "53e32e4271a4f3010c63c7685b67e5d4531bb2b4616a08322510e645df0481cc",
    "makePng/rgb" -> "df4715c32f70334a1c9ba087b7cef09a963fc2d77a13a889649f226ca93e7bb3",
    "makePng/gray" -> "904b197c730a069949dea5f9f9ff30d5611a6df4ca217650b9bf1e4ad0c89d18",
    "makePng/palette" -> "a68ca2e668d746d126c020b9da3fa2fad3b136b17c02dda1dbacf98fa7c6b411",
    "makePng/grayAlpha16" -> "39023eb467a76935ce74d15cb1c1c887a4cac0b5669bef0c5b5bea1e14e74fa2",
    "makePng/rgba" -> "77cb0bf18640c5cf7676d535d227fa6568510aa44f53e34e47a35a4e45fa9772",
    "makePng/rgb16interlaced" -> "4dc3d7b8ea7c96929c953c46d1a5e4300a78cd4fa3d0e92a17fbbe60f8862046",
    "makePng/gray16" -> "25978cceb9cbd3bd5e124ad25125129c647ef52f8f025c5e72ceea584f63e997",
    "makeApng/rgbIdat" -> "5725850a5a905b2152ea89518ddfc10011fdcb8f3ad91ab9c735332516543c1b",
    "makeApng/grayFdat" -> "b102c05d045f302685699713ef5f01c9ef6556928874f4d2147169d915d123f2",
    "makeGif/plain" -> "3e15e17374bfd9e29f1b167e6a005153b6478f4aca86ef7073276ae1ee0cd657",
    "makeGif/interlaced" -> "3e7f92f3f3b869e7889a5fc7429ee16b4485595cb653212361ad4f0571d59fee",
    "makeGifAnimated" -> "15f21267e246f39e33bd0d39340b45355f019db28d3e6e8201ccd0b06f7c610b",
    "makeAviMjpeg/gray" -> "b692282c4b611f01795b400d113c5727d35c87ef783f1993286f2ffe128c010d",
    "makeAviMjpeg/color" -> "cabe17b1a8fb8e945d6cc743430086c58b7bdaa67cec1479dabdfdc4c2e968a3",
    "makeAviDib/a" -> "618dc86d5a1ef7a7db6790b5d20f49d5f1d0e5f52aadce4f6da92450e069f0a8",
    "makeAviDib/b" -> "1d490560b8f65ebf01bb7bae9249c523626a062ac1b04dc77afe3e1ca9f04821",
    "makeM4aHeader/a" -> "94896613cd87d15aec2c0fc1967485ec25b06f4d126cd36c9f4b54fabd9fdd06",
    "makeM4aHeader/b" -> "e491b5b410087a3c92c295c072ab99b9feaa24a38b46a0857171406847a7b669",
    "makeMp4Mjpeg/one" -> "c72c9b346074f296fcdd9c5025a8cb56c99c60bca39351c4d8937187ca84848d",
    "makeMp4Mjpeg/evenMov" -> "af780201a4b310deb66b14fd23ef15383cf7dd480463522bb909db22a0b72b45",
    "makeMp4Mjpeg/oddCo64Color" -> "6a62a85e936212090fdc7d68ec8e364755c8dd992b6ac1d0d73916d31a30e837",
    "makeJpeg/color" -> "ba619e25be051e7f0adf102b5a48d2d78206e9f4961add5a631be5d442a71283",
    "makeJpeg/gray" -> "dcfddc2b0872cd5a7e98ba7b9a86301faa98474d735a9376f379ae0f3ad0483b",
    "makeJpeg/subsample" -> "c0f45cfeab1b99286944235cbd21384ab913ed9e48e21bc303a673eb9bd6aee9",
    "makeJpeg/flatChroma" -> "55975f53e73fe5d5672e4e4d1220b8ed18d8f67a2f34e080f5221c32104541be",
    "makeJpeg12/color" -> "cc023e38a9982a14fd5dd52332ea5ec03077ac4f6070e370cd00240ad46e2151",
    "makeJpeg12/gray" -> "79f590f68fdc4df824c669e4c7c0db92a60a55f56a9158f049b674d75a8bb04f",
    "makeJpeg12/subsample" -> "3dac2898702af02b1cd655b17412f990a958f001639f2fe2d16d73acaec8a598",
    "makeJpegProgressive/color" -> "05f54c2ab35d6ccf9d1bb5ea87bda7bf8c664e6344d62fb1af2b644d5358d9e7",
    "makeJpegProgressive/gray" -> "3ed5dc86ab14d32763c021668825d33b68994434ead903c7c734f67cea6b2d62",
    "makeJpegProgressive/subsample" -> "871e3fc9617523f68f75d39a4f5f2e5a75cb85e38b224768daa3c05a38b7745c",
    "makeTiffMultipage/1" -> "1154032bc20e093bcc6d6f2cc4578fb35691a4936a32ce883194d33b7c9d4caa",
    "makeTiffMultipage/3" -> "5ed6aa9548f4910e45b069b9794b050aabf191dd8eb6bd6acc5303a1688d6929",
    "makeTiff/rgb" -> "a25cb61c5a1fd85f3d14435e776fe401919bb9f38206d59c801be67990b5c7f2",
    "makeTiff/grayMM" -> "5078a92b58bf7fe14ad8beec51b64ad2531c023b961e70c56354c95ed5419701",
    "makeTiff/stripsLzwPredictor" -> "ad161136915070d8a5302dc0411a5d70e1044d7cdaf93623dd277da4f86a0236",
    "makeTiff/deflate16MM" -> "0dd6d0496b39d20c4adbc4eb719ae6111068ff0f08ca991dfa90b80b2766b07c",
    "makeTiff/packbitsPlanar" -> "7b1b48df9a3d8672855b8566442b7c0dc5b18641a12eaa3ba3ef604bbecea235",
    "makeTiff/tiled" -> "efb8f2c91af4a7acc8b94121d8267f0fd9e6c3f6478d6c2a4b49f1295f707305",
    "makeTiff/tiledPlanar16MM" -> "2d488b295d864679bbd9cd308575e468f424f732841118fd1e5f36f29f082611",
    "makeTiffJpeg/gray" -> "98be7dc295e1a769cf815ec34ec333f75824b50bf751492dbc8e89d7819672cd",
    "makeTiffJpeg/colorMM" -> "9465992a36ff95e78cec0ef4453fb9b91ee908232789e6704a6ec9e0208c695c",
    "makeTiffJpeg/shared" -> "28256774f20a4f218bc03bd386a7486988d9641f8f038b097268529a04d2e297",
    "makeTiffJpeg/sharedColorMM" -> "bda816276656a17f9a4caf8bf4dfd95d44e069556a6976badc3eb49054bbfac3",
    "makeBmp/a" -> "a5740d02706d04ac33d1138c17f5023ba74a1b11d37245f5f970529f0e042cb8",
    "makeBmp/b" -> "c442037b0afdb9d5a9cd0aa58eaa9e1c91d7c935e1e228b63c1761c662f61aab",
    "makeBmpX/8" -> "1fc0a50953f913d3cdfae26c8dda670125d29cbb3eefc7b3edaf2c5e7663e0dc",
    "makeBmpX/24topDown" -> "fc01a83e43bbf85b531be2dfa83830a56932db14fdb39e6dfe8e4d2e0a1030e1",
    "makeBmpX/32" -> "667b95b240b8c15cee9f54cb8a825b9ea0643708fcd55b3acd6a004e919a79bd",
    "makeBmpX/rle8" -> "e3b82c66c3bb72fa130fd26531e7ea87a989fe71e0f9ec0bca0a1ab0ca8e7d12",
    "makeIco/24" -> "26081a68e7f66ef20aff1500b93613f88447fdc9a0fe74d08062d8ebbce101db",
    "makeIco/8smaller" -> "89a16d5aa4b1c2e6f28622ac776fc47cae67ec34adbee124feb838800475daa4",
    "makeIco/32" -> "eb39428dcdbe41d8d6e3f19ca6a6b8db81cbe12544e10085304b4336f5128443",
    "makeIco/png" -> "f9e11391779508f1d6ffc8c5da92c31d9016ccd9b11b2c503fadab0ea43bb3bb",
    "makePnm/p6" -> "f5dd6c45c0e630b9bed38349fb241be570e72d1c62df4a5700882a42c2db5ade",
    "makePnm/p5" -> "08b3a3f78440f5b472e3df4c0fb07fe4feb83def24015ab6518cf9564e2d8f74",
    "makePnm/p3" -> "e88cd9e3f54b722e87d44f279b1a6bc495cc19765962ba3e725f398620b6e136",
    "makePnm/p2" -> "a4997466587a06be83b117529153e4e53c9eb5c5fcf3c8a95378db8809e84221",
    "makeQoi/a" -> "8ce6d369659eb5ca7eca4d43fd050d819a4cc2d1e7b22ff01ba5b6b4e33be331",
    "makeQoi/b" -> "b952d3d74d1c1994284c24460aaabe029a247405519daaaded247f3d8965dd7d",
    "makeWebpHeader/a" -> "c4fc43df6521a2d0821384c1880f9673703c07cf74f9b141f0e0e7b50e41cc90",
    "makeWebpHeader/b" -> "061a8f06a981b29d8b0c40f5f2da549daba95817858e68ad9861318fbcdbe62c",
    "makeWebpAnim" -> "1613f83597f747c5bdadbfd19b235a4dcdc6b2a5b816edc279728ddd263362be",
    "makeMp3Frames/stereo" -> "83d37de083559443c7a17430133e901f6e1acff5258a4cf0bc0e6582b26d5e91",
    "makeMp3Frames/monoId3" -> "28f88455b57e46743c20bea48193d212e3ae0055790a59c7b6ad1709b2524f2e",
    "makeAdtsFrames" -> "cf52944181a5452baabf817b3fa78d81f51f9746e39c954f7030919c79c5c484",
    "makeWebm/video" -> "6d9a9277ed0a0b651297f005645226dbdff2a88d5ecc8c436506cce38b571391",
    "makeWebm/mkvAudioUnknown" -> "6308d0119147b7e87a5c6527b2b6bb0a730b323704397c8cf456d8191663981f",
    "makeOgg/vorbis" -> "202b538af07b0449efc4b72161a052b91e84c85e675b28577e3a22e19ae9d22a",
    "makeOgg/opus" -> "f0dfec49b899791e95932506bfe0e7a3b5b870c4b13fece7fdc58b751d830b2c",
    "makeOggFlac/comment" -> "3d389d0d0fcc6a0aa5654f9e729f4b2d69d4dc927d2f4c10273d8f18d27da4d9",
    "makeOggFlac/bareStereo" -> "6b60c76e55cf80eb538d73c24306bdb7a111f8012f5c39e4f4c8ca9f4c722df1",
    "makeHeifHeader/avif" -> "a1c67d9ab47f664b84d7d74aa310141892f01051f65edce9fb26a35dde57a0db",
    "makeHeifHeader/heicThumb" -> "bfbe1f04765eaf0abdba9ba1dc79c12cfb9989cfe6f0e355061ef7c4e64f4d82",
    "Flac.make/mono" -> "7d0cd00847f18d86368a4344cdd5ba2c29c8a7fc3b0367a7da56f65bd4b74bda",
    "Flac.make/stereo" -> "18dd0a4e0268534206f25171dd0fdf7a6354da49f4cb6c6dada80e4d454cd067",
    "Flac.make/block64" -> "11e3be139d0880a2683b280cbc8994cf854593b22e6e4b6729b3fdbe7004433c",
    "toExtensibleWav/pcm16" -> "15182f2f012c02134dc03203977179dd3bc366a4a2a8c40f85a7a5a6935132f7",
    "toExtensibleWav/pcm24" -> "6e0019501ce48ebf745c479151f5d1d177716936fabf1fd7c0dbed056bfe9cc2",
    "withExifOrientation/II" -> "761b3a3b2c7cf183155db296ec2946f3f4f9da6f21636c4424c28d62a90baae2",
    "withExifOrientation/MM" -> "25d72f15848ad981744d30e05e739bd3ef160c50ad55b40cde5515f9e0787f87",
    "abbreviateJpeg/tables" -> "e93e75f0217064b255930104453613a6f2806693ea5c59b4dbbcfb3e23d5f2ab",
    "abbreviateJpeg/rest" -> "4cb345470536015fc4003f79d239530fd0a5dab4f4daa02af915f89e73a09e74")

  test("the fixture cases have unique names and cover every writer") {
    assert(cases.map(_._1).distinct.length === cases.length)
    val writers = cases.map(_._1.takeWhile(_ != '/')).toSet
    val publicMakers = classOf[M.type].getMethods.map(_.getName)
      .filter(n => n.startsWith("make") && !n.contains("$")).toSet
    assert(publicMakers.nonEmpty)
    assert(publicMakers -- writers === Set.empty)
  }

  test("every fixture writer emits exactly its recorded bytes") {
    val got = cases.map { case (name, make) => name -> sha256(make()) }.toMap
    assert(expected.keySet === got.keySet)
    val changed = got.filter { case (name, d) => expected(name) != d }.keys.toSeq.sorted
    assert(changed === Seq.empty)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{MediaRow, Multimodal}

/** Multimodal plumbing: binary schema, batched decode shape, deterministic
 *  stub features. */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("media table: every doc present, bytes round-trip, modality routing") {
    val media = Multimodal.realMediaTable(spark, dir).collect()
    assert(media.length === 500)
    media.foreach { m =>
      assert(m.n_bytes === m.bytes.length.toLong)
      assert(Set("image", "audio", "video").contains(m.modality))
      assert(m.modality === (m.doc_id % 3 match {
        case 0 => "image"; case 1 => "audio"; case _ => "video" }))
    }
  }

  test("codec round-trip: BMP encode/parse and WAV encode/parse are exact") {
    val bmp = Multimodal.encodeBmp(13, 7, (x, y) => x * 65536 + y * 256 + 5)
    assert(bmp(0) === 'B'.toByte && bmp(1) === 'M'.toByte)
    assert(Multimodal.parseBmp(bmp) === Some((13, 7)))
    val wav = Multimodal.encodeWav(Array[Short](1, -2, 300, -400, 5), 8000)
    assert(new String(wav.take(4), "US-ASCII") === "RIFF")
    assert(Multimodal.parseWav(wav) === Some((8000, 5)))
    // corrupt bytes are rejected, not mis-parsed
    assert(Multimodal.parseBmp("not a bmp at all, sorry".getBytes) === None)
    assert(Multimodal.parseWav(new Array[Byte](50)) === None)
  }

  test("codec round-trip: y4m encode/parse recovers geometry, fps, frame count") {
    val frames = Array.tabulate(3)(f => Array.tabulate(3 * 6 * 4)(i => (i + f).toByte))
    val y4m = Multimodal.encodeY4m(6, 4, 30, 1, frames)
    assert(new String(y4m.takeWhile(_ != '\n'.toByte), "US-ASCII")
      === "YUV4MPEG2 W6 H4 F30:1 Ip A1:1 C444")
    assert(Multimodal.parseY4m(y4m) === Some((6, 4, 30, 1, 3)))
    // C420 stream with per-frame params and default colourspace tag omitted
    val c420 = ("YUV4MPEG2 W4 H2 F25:1\n" + "FRAME Xtag\n").getBytes("US-ASCII") ++
      new Array[Byte](4 * 2 * 3 / 2)
    assert(Multimodal.parseY4m(c420) === Some((4, 2, 25, 1, 1)))
    // corruption is rejected, never mis-parsed: bad magic, truncated payload,
    // missing FRAME marker, zero frames, odd C420 geometry
    assert(Multimodal.parseY4m("MPEG4YUV2 W4 H2 F25:1\n".getBytes) === None)
    assert(Multimodal.parseY4m(y4m.dropRight(1)) === None)
    assert(Multimodal.parseY4m(
      ("YUV4MPEG2 W4 H2 F25:1 C444\n" + "FRAMX\n").getBytes ++ new Array[Byte](24)) === None)
    assert(Multimodal.parseY4m("YUV4MPEG2 W4 H2 F25:1 C444\n".getBytes) === None)
    assert(Multimodal.parseY4m("YUV4MPEG2 W3 H2 F25:1 C420\nFRAME\n".getBytes
      ++ new Array[Byte](9)) === None)
  }

  test("real media table: genuine format bytes, real decode recovers generation params") {
    val media = Multimodal.realMediaTable(spark, dir)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length === 500)
    feats.foreach { f =>
      f.modality match {
        case "image" =>
          assert(f.width === (f.doc_id % 31 + 1).toInt)
          assert(f.height === (f.doc_id % 23 + 1).toInt)
          assert(f.duration_ms === 0L)
        case "audio" =>
          assert(f.width === 0 && f.height === 0)
          assert(f.duration_ms >= 0L)
        case "video" => // real y4m decode recovers the generation geometry
          assert(f.width === (f.doc_id % 17 + 1).toInt)
          assert(f.height === (f.doc_id % 13 + 1).toInt)
          assert(f.duration_ms === (f.doc_id % 5 + 1) * 40L) // nf frames at 25 fps
          assert(f.features.length === 8)
      }
    }
  }

  test("unparseable media becomes a quarantine row (width = -1)") {
    // image-modality row with non-BMP bytes must be flagged, not mis-decoded
    val bad = MediaRow(0L, "image", "junk bytes".getBytes, 10L)
    val f = Multimodal.decode(bad)
    assert(f.width === -1 && f.height === -1 && f.duration_ms === -1L)
  }

  test("y4m frame params must start with a space: FRAMEX is malformed, FRAME X is fine") {
    val hdr = "YUV4MPEG2 W2 H2 F25:1 Ip A1:1 C444\n".getBytes("US-ASCII")
    val payload = Array.fill(12)(1.toByte) // C444: 3*2*2
    // the y4m spec: frame-level params start with ' '; a bare marker ends
    // with '\n'. 'FRAMEX…' is a corrupt stream, not a parameter list.
    val bad = hdr ++ "FRAMEX\n".getBytes("US-ASCII") ++ payload
    assert(Multimodal.parseY4m(bad).isEmpty)
    val withParams = hdr ++ "FRAME Xfoo\n".getBytes("US-ASCII") ++ payload
    assert(Multimodal.parseY4m(withParams).contains((2, 2, 25, 1, 1)))
    val bare = hdr ++ "FRAME\n".getBytes("US-ASCII") ++ payload
    assert(Multimodal.parseY4m(bare).contains((2, 2, 25, 1, 1)))
  }

  test("feature schema is fixed-length float8 regardless of media size") {
    val feats = Multimodal.extractFeatures(Multimodal.realMediaTable(spark, dir))
    assert(feats.collect().forall(_.features.length === 8))
  }
}

package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** The multimodal plumbing: binary payload round-trip, batch shape, and
  * the real container-header decode against hand-built PNG/JPEG bytes.
  */
class MultimodalSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** A minimal valid PNG prefix: 8-byte signature + IHDR chunk
    * (length, "IHDR", width, height, bit depth, color type,
    * compression, filter, interlace) — everything [[Multimodal.decode]]
    * reads, laid out per the PNG spec.
    */
  private def pngBytes(w: Int, h: Int): Array[Byte] = {
    def be32(v: Int) = Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      be32(13) ++ "IHDR".getBytes ++ be32(w) ++ be32(h) ++
      Array[Byte](8, 6, 0, 0, 0) ++ be32(0) // bit depth..interlace + (fake) CRC
  }

  /** A minimal JPEG: SOI, an APP0 segment to force real marker walking,
    * then a SOF frame header [len][precision][height u16][width u16] —
    * the ISO 10918-1 B.2.2 layout.
    */
  private def jpegBytes(w: Int, h: Int, sof: Int = 0xc0): Array[Byte] = {
    def be16(v: Int) = Array((v >> 8).toByte, v.toByte)
    Array(0xff, 0xd8).map(_.toByte) ++                       // SOI
      Array(0xff, 0xe0).map(_.toByte) ++ be16(16) ++         // APP0, len 16
      "JFIF".getBytes ++ Array.fill[Byte](10)(0) ++          // 14 payload bytes
      Array(0xff.toByte, sof.toByte) ++ be16(17) ++          // SOFn, len 17
      Array[Byte](8) ++ be16(h) ++ be16(w) ++                // precision, height, width
      Array[Byte](3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)     // 3 components
  }

  test("binary payload survives the typed round-trip byte-for-byte") {
    val payload = Array[Byte](0, 1, -1, 127, -128, 42)
    val ds      = Seq(MediaRecord(1L, "image", payload)).toDS()
    val back    = ds.collect().head.payload
    assert(back.toSeq == payload.toSeq)
  }

  test("features are computed per record and schema is stable") {
    val out = Multimodal.features(spark, Sf0001)
    assert(out.columns.toSeq ==
      Seq("doc_id", "media_type", "n_bytes", "first_byte", "format", "width", "height"))
    assert(out.count() == 500)
    // text payloads are raw: UTF-8 can never carry the PNG/JPEG magics
    assert(out.filter(org.apache.spark.sql.functions.col("format") =!= "raw").count() == 0)
  }

  test("decode parses real PNG IHDR dimensions from known bytes") {
    assert(Multimodal.decode(pngBytes(3, 2)) == (("png", 3L, 2L)))
    assert(Multimodal.decode(pngBytes(61440, 32768)) == (("png", 61440L, 32768L)))
    // a signature with a corrupted IHDR tag is not a PNG
    val broken = pngBytes(3, 2); broken(12) = 'X'
    assert(Multimodal.decode(broken)._1 == "raw")
    // nor is a truncated signature-only payload
    assert(Multimodal.decode(pngBytes(3, 2).take(20))._1 == "raw")
  }

  test("decode walks JPEG markers to SOF0/SOF2 dimensions from known bytes") {
    assert(Multimodal.decode(jpegBytes(640, 480)) == (("jpeg", 640L, 480L)))
    assert(Multimodal.decode(jpegBytes(3, 2, sof = 0xc2)) == (("jpeg", 3L, 2L))) // progressive
    // DHT (C4) must NOT be taken for a frame header: splice one before SOF0
    val dht = Array(0xff, 0xc4).map(_.toByte) ++ Array[Byte](0, 4, 0, 0)
    val withDht = jpegBytes(9, 7).patch(20, dht, 0)
    assert(Multimodal.decode(withDht) == (("jpeg", 9L, 7L)))
    // truncated JPEG (SOI only): undecodable -> (0, 0), filtered downstream
    assert(Multimodal.decode(Array(0xff, 0xd8).map(_.toByte)) == (("jpeg", 0L, 0L)))
  }

  test("decode parses GIF87a/89a logical-screen dimensions (little-endian)") {
    def gifBytes(ver: Char, w: Int, h: Int): Array[Byte] =
      s"GIF8${ver}a".getBytes("US-ASCII") ++
        Array((w & 0xff).toByte, ((w >> 8) & 0xff).toByte,
          (h & 0xff).toByte, ((h >> 8) & 0xff).toByte) ++
        Array[Byte](0, 0, 0) // packed/bg/aspect
    assert(Multimodal.decode(gifBytes('9', 320, 200)) == (("gif", 320L, 200L)))
    assert(Multimodal.decode(gifBytes('7', 61440, 513)) == (("gif", 61440L, 513L)))
    // a text payload that merely mentions GIF is not a GIF ...
    assert(Multimodal.decode("GIF image follows".getBytes)._1 == "raw")
    // ... but one starting with the exact ASCII magic IS parsed — GIF's
    // signature is valid UTF-8, so the branch must be total, not assumed
    // unreachable on text (the oracle mirrors it at full strength)
    assert(Multimodal.decode("GIF89a text collision".getBytes)._1 == "gif")
    // truncated screen descriptor: not decodable as GIF
    assert(Multimodal.decode(gifBytes('9', 1, 1).take(10))._1 == "raw")
  }

  test("decode is deterministic and total on raw/empty payloads") {
    assert(Multimodal.decode(Array.emptyByteArray) == (("raw", 0L, 0L)))
    assert(Multimodal.decode("abc".getBytes) == (("raw", 3L, 3L)))
  }

  test("extractFeatures carries real decoded dimensions through the batched seam") {
    val recs = Seq(
      MediaRecord(1L, "image", pngBytes(3, 2)),
      MediaRecord(2L, "image", jpegBytes(640, 480)),
      MediaRecord(3L, "audio", "not an image".getBytes))
    val got = Multimodal.extractFeatures(spark.createDataset(recs))
      .collect().map(f => f.doc_id -> ((f.format, f.width, f.height))).toMap
    assert(got(1L) == (("png", 3L, 2L)))
    assert(got(2L) == (("jpeg", 640L, 480L)))
    assert(got(3L) == (("raw", 12L, 12L)))
  }

  /** A canonical 44-byte-header WAV: RIFF + "WAVE" + 16-byte PCM "fmt "
    * chunk + "data" chunk, all fields little-endian per RIFF.
    */
  private def wavBytes(channels: Int, rate: Int, bits: Int, dataBytes: Int): Array[Byte] = {
    def le16(v: Int) = Array(v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val byteRate   = rate * channels * bits / 8
    val blockAlign = channels * bits / 8
    "RIFF".getBytes ++ le32(36 + dataBytes) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(channels) ++
      le32(rate) ++ le32(byteRate) ++ le16(blockAlign) ++ le16(bits) ++
      "data".getBytes ++ le32(dataBytes) ++ Array.fill[Byte](dataBytes)(0)
  }

  test("audio probe parses real canonical WAV headers; near-misses fall back") {
    // 2ch 44.1kHz 16-bit, 1s of samples: duration must come out 1000 ms
    val oneSec = 44100 * 2 * 2
    val recs = Seq(
      MediaRecord(1L, "audio", wavBytes(2, 44100, 16, oneSec)),
      MediaRecord(2L, "audio", wavBytes(1, 8000, 8, 4000)),  // 500 ms mono
      MediaRecord(3L, "audio", "RIFF1234AVI LIST".getBytes ++ Array.fill[Byte](40)(0)),
      MediaRecord(4L, "audio", "plain text audio stand-in bytes".getBytes))
    val got = Multimodal.probeAudio(spark.createDataset(recs))
      .collect().map(p => p.doc_id -> p).toMap
    assert(got(1L).format == "wav" && got(1L).channels == 2 &&
      got(1L).sample_rate == 44100 && got(1L).bits == 16 &&
      got(1L).data_bytes == oneSec && got(1L).duration_ms == 1000)
    assert(got(2L).format == "wav" && got(2L).duration_ms == 500)
    // RIFF-but-not-WAVE (an AVI) must NOT parse as wav
    assert(got(3L).format == "rawaudio")
    assert(got(4L).format == "rawaudio" && got(4L).bits == 16 &&
      got(4L).data_bytes == 31 && got(4L).sample_rate == 8000 + (31 % 8) * 1000)
    // corrupt zero-rate header probes as 0 ms, never divides by zero
    val corrupt = wavBytes(1, 0, 16, 100)
    assert(Multimodal.probeAudio(spark.createDataset(Seq(
      MediaRecord(5L, "audio", corrupt)))).collect().head.duration_ms == 0)
  }

  /** A canonical two-box MP4 prefix: `ftyp` (size 16, given brand,
    * minor version 0x200) immediately followed by `moov` whose first
    * child is a 108-byte version-0 `mvhd` — all sizes/fields big-endian
    * per ISO/IEC 14496-12.
    */
  private def mp4Bytes(brand: String, timescale: Int, duration: Int): Array[Byte] = {
    def be32(v: Int) = Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val mvhd = be32(108) ++ "mvhd".getBytes ++
      Array[Byte](0, 0, 0, 0) ++            // version 0 + flags
      be32(3600) ++ be32(3600) ++           // creation/modification time
      be32(timescale) ++ be32(duration) ++
      Array.fill[Byte](108 - 28)(0)         // rate/volume/matrix/next_track
    be32(16) ++ "ftyp".getBytes ++ brand.getBytes ++ be32(0x200) ++
      be32(8 + mvhd.length) ++ "moov".getBytes ++ mvhd
  }

  test("video probe parses real canonical MP4 headers; near-misses fall back") {
    val recs = Seq(
      MediaRecord(1L, "image", mp4Bytes("isom", 600, 1800)),   // 3 s movie
      MediaRecord(2L, "image", mp4Bytes("mp42", 90000, 45000)),// 500 ms
      MediaRecord(3L, "image", mp4Bytes("isom", 600, 1800).take(40)), // truncated moov
      MediaRecord(4L, "image", "plain text video stand-in".getBytes))
    val got = Multimodal.probeVideo(spark.createDataset(recs))
      .collect().map(p => p.doc_id -> p).toMap
    assert(got(1L).format == "mp4" && got(1L).brand == "isom" &&
      got(1L).timescale == 600 && got(1L).duration_units == 1800 &&
      got(1L).duration_ms == 3000)
    assert(got(2L).format == "mp4" && got(2L).brand == "mp42" && got(2L).duration_ms == 500)
    assert(got(3L).format == "rawvideo" && got(3L).brand == "none")
    assert(got(4L).format == "rawvideo" && got(4L).duration_units == 25 &&
      got(4L).timescale == 1000 + (25 % 4) * 500)
    // mdat-before-moov (non-faststart) is non-canonical: falls back
    val nonFast = {
      val c = mp4Bytes("isom", 600, 1800)
      c.patch(20, "mdat".getBytes, 4)
    }
    assert(Multimodal.probeVideo(spark.createDataset(Seq(
      MediaRecord(5L, "image", nonFast)))).collect().head.format == "rawvideo")
    // version-1 (64-bit) mvhd is non-canonical: falls back
    val v1 = { val c = mp4Bytes("isom", 600, 1800); c(16 + 16) = 1; c }
    assert(Multimodal.probeVideo(spark.createDataset(Seq(
      MediaRecord(6L, "image", v1)))).collect().head.format == "rawvideo")
    // zero-timescale corrupt header probes as 0 ms, never divides by zero
    assert(Multimodal.probeVideo(spark.createDataset(Seq(
      MediaRecord(7L, "image", mp4Bytes("isom", 0, 77))))).collect().head.duration_ms == 0)
  }

  test("audio windows: probed-rate 20ms framing over real WAV and raw fallback") {
    // 8kHz mono 16-bit, 0.5s of data: 320 bytes/frame -> 25 full frames
    val data = Array.tabulate[Byte](8000)(i => (i % 251).toByte)
    val wav  = wavBytes(1, 8000, 16, 0).dropRight(0) // header only
    val full = wav.take(40) ++ Array[Byte](
      (8000 & 0xff).toByte, ((8000 >> 8) & 0xff).toByte, 0, 0) ++ data
    val got = Multimodal.probeAudioWindows(spark.createDataset(Seq(
      MediaRecord(1L, "audio", full),
      MediaRecord(2L, "audio", "tiny".getBytes)))).collect()
    val w1 = got.filter(_.doc_id == 1L).sortBy(_.window_idx)
    assert(w1.length == 25, s"expected 25 frames, got ${w1.length}")
    assert(w1.forall(_.format == "wav"))
    // frame w starts at 44 + w*320 and probes the real payload byte
    for (w <- w1) {
      assert(w.start_byte == 44 + w.window_idx * 320)
      assert(w.probe_byte == (full(w.start_byte.toInt) & 0xffL))
    }
    // a 4-byte raw payload yields zero full frames (bpw >> payload)
    assert(!got.exists(_.doc_id == 2L))
  }

  test("mp3 probe parses real MPEG-1 Layer III headers; near-misses fall back") {
    // 0xFF 0xFB 0x90 0x00: sync, MPEG-1, Layer III, bitrate idx 9 (128
    // kbps), rate idx 0 (44100), no padding -> 417-byte frames
    def mp3(b1: Int, b2: Int, n: Int): Array[Byte] =
      Array[Byte](0xff.toByte, b1.toByte, b2.toByte, 0) ++ Array.fill[Byte](n - 4)(3)
    val got = Multimodal.probeMp3(spark.createDataset(Seq(
      MediaRecord(1L, "audio", mp3(0xfb, 0x90, 4170)),
      MediaRecord(2L, "audio", mp3(0xfb, 0x92, 4180)),   // padding bit set
      MediaRecord(3L, "audio", mp3(0xf3, 0x90, 4170)),   // MPEG-2: fall back
      MediaRecord(4L, "audio", mp3(0xfd, 0x90, 4170)),   // Layer II: fall back
      MediaRecord(5L, "audio", mp3(0xfb, 0xf0, 4170)),   // bad bitrate idx 15
      MediaRecord(6L, "audio", mp3(0xfb, 0x9c, 4170)),   // reserved rate idx 3
      MediaRecord(7L, "audio", "xy".getBytes)            // too short
    ))).collect().map(p => p.doc_id -> p).toMap
    val p1 = got(1L)
    assert(p1.format == "mp3" && p1.bitrate_kbps == 128 && p1.sample_rate == 44100)
    assert(p1.padding == 0 && p1.frame_bytes == 417)
    assert(p1.est_frames == 10 && p1.duration_ms == 10L * 1152 * 1000 / 44100)
    val p2 = got(2L)
    assert(p2.format == "mp3" && p2.padding == 1 && p2.frame_bytes == 418)
    assert(p2.est_frames == 10)
    for (id <- 3L to 7L)
      assert(got(id).format == "rawmpeg" &&
        got(id).bitrate_kbps == Multimodal.Mp3FallbackBitrate &&
        got(id).sample_rate == Multimodal.Mp3FallbackRate,
        s"doc $id must take the fallback: ${got(id)}")
    // the full V1L3 table round-trips through the header encoding
    for (bi <- 1 to 14) {
      val p = Multimodal.decodeMp3(mp3(0xfb, (bi << 4) | 0x04, 8))
      assert(p.contains((Multimodal.Mp3BitratesV1L3(bi), 48000L, 0L)), s"idx $bi: $p")
    }
  }

  test("flac probe unpacks bit-packed STREAMINFO fields; near-misses fall back") {
    // build a canonical fLaC prefix: magic + STREAMINFO block header
    // (type 0, length 34) + 34 info bytes with the bit-packed group at
    // info offsets 10-17 assembled from (sr 20 bits | ch-1 3 | bps-1 5 |
    // total 36)
    def flac(sr: Long, ch: Int, bps: Int, total: Long,
        blockType: Int = 0, blockLen: Int = 34): Array[Byte] = {
      val info = Array.fill[Byte](34)(0)
      info(10) = ((sr >> 12) & 0xff).toByte
      info(11) = ((sr >> 4) & 0xff).toByte
      info(12) = ((((sr & 0xf) << 4) | ((ch - 1) << 1) | ((bps - 1) >> 4)) & 0xff).toByte
      info(13) = ((((bps - 1) & 0xf) << 4) | ((total >> 32) & 0xf)).toByte
      info(14) = ((total >> 24) & 0xff).toByte
      info(15) = ((total >> 16) & 0xff).toByte
      info(16) = ((total >> 8) & 0xff).toByte
      info(17) = (total & 0xff).toByte
      "fLaC".getBytes("US-ASCII") ++
        Array[Byte](blockType.toByte,
          ((blockLen >> 16) & 0xff).toByte, ((blockLen >> 8) & 0xff).toByte,
          (blockLen & 0xff).toByte) ++ info
    }
    // 44.1k/2ch/16bit is the canonical CD shape; 96k/6ch/24bit exercises
    // every field's high bits; total straddles the 32-bit boundary
    assert(Multimodal.decodeFlac(flac(44100, 2, 16, 1234567))
      .contains((44100L, 2L, 16L, 1234567L)))
    assert(Multimodal.decodeFlac(flac(96000, 6, 24, 0x123456789L))
      .contains((96000L, 6L, 24L, 0x123456789L)))
    val got = Multimodal.probeFlac(spark.createDataset(Seq(
      MediaRecord(1L, "audio", flac(44100, 2, 16, 44100L * 10)),
      MediaRecord(2L, "audio", flac(44100, 2, 16, 100, blockType = 4)), // VORBIS_COMMENT first
      MediaRecord(3L, "audio", flac(44100, 2, 16, 100, blockLen = 20)), // wrong length
      MediaRecord(4L, "audio", flac(0, 2, 16, 100)),                    // invalid zero rate
      MediaRecord(5L, "audio", "not flac at all".getBytes)
    ))).collect().map(p => p.doc_id -> p).toMap
    val p1 = got(1L)
    assert(p1.format == "flac" && p1.sample_rate == 44100 && p1.channels == 2)
    assert(p1.bits == 16 && p1.total_samples == 441000 && p1.duration_ms == 10000)
    for (id <- 2L to 5L)
      assert(got(id).format == "rawflac" && got(id).bits == Multimodal.FlacFallbackBits,
        s"doc $id must take the fallback: ${got(id)}")
    // a last-metadata-block STREAMINFO (bit 7 set) is still STREAMINFO
    val last = flac(48000, 1, 8, 48000)
    last(4) = 0x80.toByte
    assert(Multimodal.decodeFlac(last).contains((48000L, 1L, 8L, 48000L)))
  }

  test("feature extraction covers all rows regardless of partition layout") {
    val recs = (1L to 100L).map(i => MediaRecord(i, "image", Array.fill(i.toInt)(7.toByte)))
    val ds   = spark.createDataset(recs).repartition(7)
    val got  = Multimodal.extractFeatures(ds).collect()
    assert(got.length == 100)
    assert(got.map(_.n_bytes).sorted.toSeq == (1L to 100L).toSeq)
  }
}

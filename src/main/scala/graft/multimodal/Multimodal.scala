package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** An opaque media payload with typed metadata — the multimodal column
  * pattern: image/audio/video travel as `binary`, metadata as plain
  * columns, so Spark shuffles/prunes them like any other data.
  */
case class MediaRecord(doc_id: Long, media_type: String, payload: Array[Byte])

/** Decoded payload: format + geometry, payload retained so downstream
  * stages (resize) can keep working scan-side without a second decode.
  */
case class MediaDecoded(
    doc_id: Long,
    media_type: String,
    payload: Array[Byte],
    format: String,
    width: Long,
    height: Long)

/** Features extracted from one payload by [[Multimodal.decode]]. */
case class MediaFeatures(
    doc_id: Long,
    media_type: String,
    n_bytes: Long,
    first_byte: Long,
    format: String,
    width: Long,
    height: Long)

/** Audio-probe result for one payload ([[Multimodal.probeAudio]]). */
case class AudioProbe(
    doc_id: Long,
    media_type: String,
    format: String,
    channels: Long,
    sample_rate: Long,
    bits: Long,
    data_bytes: Long,
    duration_ms: Long)

/** Video-probe result for one payload ([[Multimodal.probeVideo]]). */
case class VideoProbe(
    doc_id: Long,
    media_type: String,
    format: String,
    brand: String,
    timescale: Long,
    duration_units: Long,
    duration_ms: Long)

/** MP3 frame-header probe result ([[Multimodal.probeMp3]]). */
case class Mp3Probe(
    doc_id: Long,
    media_type: String,
    format: String,
    bitrate_kbps: Long,
    sample_rate: Long,
    padding: Long,
    frame_bytes: Long,
    est_frames: Long,
    duration_ms: Long)

/** FLAC STREAMINFO probe result ([[Multimodal.probeFlac]]). */
case class FlacProbe(
    doc_id: Long,
    media_type: String,
    format: String,
    sample_rate: Long,
    channels: Long,
    bits: Long,
    total_samples: Long,
    duration_ms: Long)

/** One planned audio frame window ([[Multimodal.probeAudioWindows]]). */
case class AudioWindow(
    doc_id: Long,
    format: String,
    window_idx: Long,
    start_byte: Long,
    probe_byte: Long)

/** Multimodal processing plumbing: binary columns, a typed `Dataset[T]`
  * surface, and per-row header decoders run scan-side as typed `map`s
  * (`flatMap` where one payload emits several rows).
  *
  * The decode step is a REAL container-format parse for images — PNG
  * IHDR and JPEG SOF header scans over the raw bytes — with a
  * deterministic fallback geometry for payloads that are neither (the
  * text-byte fixture rows, genuinely opaque media). Full pixel decode /
  * resampling kernels still need codec libraries this container lacks;
  * the format/dimension extraction is the real thing, byte-for-byte.
  *
  * At 100 TB: payloads dominate row width, so the operator never
  * shuffles them — features are extracted scan-side and only the narrow
  * feature columns flow on.
  */
object Multimodal extends Serializable {

  /** The byte readers every header decoder shares: unsigned byte,
    * big/little-endian u16/u32 at an offset, and an ASCII tag match.
    */
  private final class Bytes(p: Array[Byte]) {
    def u8(i: Int): Int    = p(i) & 0xff
    def be16(i: Int): Long = ((u8(i) << 8) | u8(i + 1)).toLong
    def be32(i: Int): Long =
      (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) | (u8(i + 2).toLong << 8) | u8(i + 3).toLong
    def le16(i: Int): Long = (u8(i) | (u8(i + 1) << 8)).toLong
    def le32(i: Int): Long =
      u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def ascii(off: Int, s: String): Boolean =
      s.indices.forall(i => p(off + i) == s.charAt(i).toByte)
  }

  private val PngSignature =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Decode a payload's container header: `(format, width, height)`.
    *
    *  - PNG (8-byte signature + IHDR chunk): width and
    *    height are the two big-endian int32s at bytes 16–23 — the IHDR
    *    layout from the PNG spec (RFC 2083 §3.1/4.1.1).
    *  - JPEG (SOI marker `FF D8`): walk the marker segments (each
    *    `FF xx` + big-endian length) to the first frame header SOFn
    *    (`FF C0–CF` except DHT/DAC/RST/markers C4/C8/CC), whose payload
    *    is [precision u8][height u16][width u16] — ISO/IEC 10918-1
    *    B.2.2. A truncated/markerless JPEG decodes as (0, 0): the
    *    "undecodable frame" case downstream filters drop.
    *  - anything else: `raw`, with the deterministic fallback geometry
    *    (n_bytes mod 640/480) standing in for media types whose codecs
    *    aren't in this container — reproducible and oracle-checkable.
    *
    * UTF-8 text can never collide with either branch (0xFF bytes do not
    * occur in UTF-8; the PNG signature byte 0x89 cannot begin a UTF-8
    * sequence followed by ASCII "PNG"), so the fixture's text-byte
    * payloads always take the `raw` branch — mirrored in the DuckDB
    * oracles, and the gate fails loudly if that ever stops holding.
    */
  def decode(payload: Array[Byte]): (String, Long, Long) = {
    val b = new Bytes(payload); import b._
    val isPng = payload.length >= 24 &&
      payload.take(8).sameElements(PngSignature) &&
      payload(12) == 'I' && payload(13) == 'H' && payload(14) == 'D' && payload(15) == 'R'
    if (isPng) ("png", be32(16), be32(20))
    else if (payload.length >= 2 && u8(0) == 0xff && u8(1) == 0xd8) {
      var i                      = 2
      var dims: (Long, Long)     = null
      while (dims == null && i + 1 < payload.length && u8(i) == 0xff) {
        val m = u8(i + 1)
        if (m == 0xff) i += 1                                   // fill byte
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) i += 2  // standalone markers
        else if (i + 3 >= payload.length) i = payload.length    // truncated segment
        else {
          val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
          if (isSof && i + 8 < payload.length) dims = (be16(i + 7), be16(i + 5))
          else i += 2 + be16(i + 2).toInt
        }
      }
      ("jpeg", if (dims == null) 0L else dims._1, if (dims == null) 0L else dims._2)
    } else if (payload.length >= 13 &&
        payload(0) == 'G' && payload(1) == 'I' && payload(2) == 'F' &&
        payload(3) == '8' && (payload(4) == '7' || payload(4) == '9') &&
        payload(5) == 'a') {
      // GIF87a/89a: logical-screen width/height are LITTLE-endian u16s
      // at bytes 6–9 (GIF89a spec §18) — the one LE image header here
      ("gif", le16(6), le16(8))
    } else {
      val n = payload.length.toLong
      ("raw", n % 640, n % 480)
    }
  }

  /** Header decode over a typed media dataset — the shared first
    * stage of [[extractFeatures]] and [[resizePlan]]. Payload rides
    * along (scan-side only; nothing downstream shuffles it).
    */
  def decodeRecords(records: Dataset[MediaRecord]): Dataset[MediaDecoded] = {
    import records.sparkSession.implicits._
    records.map { r =>
      val (fmt, w, h) = decode(r.payload)
      MediaDecoded(r.doc_id, r.media_type, r.payload, fmt, w, h)
    }
  }

  /** Feature extraction over a typed media dataset. */
  def extractFeatures(records: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import records.sparkSession.implicits._
    decodeRecords(records).map { d =>
      val first = if (d.payload.isEmpty) 0L else d.payload(0) & 0xffL
      MediaFeatures(d.doc_id, d.media_type, d.payload.length.toLong, first, d.format, d.width, d.height)
    }
  }

  /** Documents' text bytes as stand-in payloads (the fixture has no
    * binary table): text → binary keeps byte identity for ASCII corpora.
    */
  def mediaFromDocuments(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    import s.implicits._
    graft.Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        when(col("doc_id") % 2 === 0, "image").otherwise("audio").as("media_type"),
        col("text").cast("binary").as("payload"))
      .as[MediaRecord]
  }

  def features(s: SparkSession, dir: String): DataFrame =
    extractFeatures(mediaFromDocuments(s, dir)).toDF()

  /** Canonical-WAV header parse: `(channels, sample_rate, bits_per_sample,
    * data_bytes)` from the standard 44-byte RIFF/WAVE layout — "RIFF"
    * FourCC, "WAVE" form type, a 16-byte "fmt " chunk (PCM header:
    * [format u16][channels u16][sample_rate u32][byte_rate u32]
    * [block_align u16][bits u16], all LITTLE-endian per RIFF), and the
    * "data" chunk at byte 36. Non-canonical WAVs (extra chunks before
    * "data", extensible fmt) return None and take the raw-audio fallback
    * — the same honest trade as the JPEG walker's SOF-less `(0,0)`: the
    * canonical layout is what encoders emit by default, and the DuckDB
    * oracle can mirror the fixed offsets exactly, which a chunk walk in
    * SQL could not.
    */
  def decodeWav(p: Array[Byte]): Option[(Long, Long, Long, Long)] = {
    val b = new Bytes(p); import b._
    if (p.length >= 44 && ascii(0, "RIFF") && ascii(8, "WAVE") &&
        ascii(12, "fmt ") && le32(16) == 16 && ascii(36, "data"))
      Some((le16(22), le32(24), le16(34), le32(40)))
    else None
  }

  /** Audio container probe — the audio sibling of the PNG/JPEG
    * header decode: WAV payloads yield their real channel/rate/width
    * fields and the data-chunk byte count; opaque payloads get the
    * deterministic raw-audio fallback (rate/channels derived from the
    * byte length, so the fixture rows stay oracle-checkable). Duration
    * is pure integer arithmetic — `data_bytes · 8000 / (rate · ch ·
    * bits)` milliseconds — so both engines agree bit-for-bit; a
    * zero-rate (corrupt) header probes as 0 ms, the undecodable-frame
    * convention. Payloads never leave the scan: only the eight narrow
    * probe columns flow downstream.
    */
  def probeAudio(records: Dataset[MediaRecord]): Dataset[AudioProbe] = {
    import records.sparkSession.implicits._
    records.map { r =>
      val n = r.payload.length.toLong
      val (fmt, ch, sr, bits, db) = decodeWav(r.payload) match {
        case Some((ch, sr, bits, db)) => ("wav", ch, sr, bits, db)
        case None => ("rawaudio", 1L + n % 2, 8000L + (n % 8) * 1000L, 16L, n)
      }
      val denom = sr * ch * bits
      val dur   = if (denom == 0) 0L else db * 8000L / denom
      AudioProbe(r.doc_id, r.media_type, fmt, ch, sr, bits, db, dur)
    }
  }

  def audioProbe(s: SparkSession, dir: String): DataFrame =
    probeAudio(mediaFromDocuments(s, dir)).toDF()

  /** MPEG-1 Layer III bitrate table (kbps) by header index 1–14 —
    * ISO/IEC 11172-3 Table B; index 0 (free) and 15 (bad) are rejected
    * into the fallback, so every accepted frame has a definite size.
    */
  val Mp3BitratesV1L3: Vector[Long] =
    Vector(0L, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)

  /** MPEG-1 sample rates (Hz) by header index 0–2; index 3 is reserved
    * and rejected.
    */
  val Mp3RatesV1: Vector[Long] = Vector(44100L, 48000L, 32000L)

  /** Fallback geometry for non-MP3 payloads: the CBR-128/44.1 defaults,
    * so the raw branch still yields a deterministic frame plan.
    */
  val Mp3FallbackBitrate = 128L
  val Mp3FallbackRate    = 44100L

  /** MP3 frame-header parse: `(bitrate_kbps, sample_rate, padding)` from
    * the 4-byte MPEG-1 Layer III header — 11 sync bits, version bits 3
    * (MPEG-1), layer bits 1 (Layer III), then TABLE-DRIVEN fields: the
    * bitrate index selects from [[Mp3BitratesV1L3]] and the rate index
    * from [[Mp3RatesV1]] — the lookup-table decode shape the fixed-offset
    * probes (WAV/MP4/PNG) don't exercise. Free-format (0), bad (15), and
    * reserved-rate (3) indices reject to the fallback, as do MPEG-2/2.5
    * and other layers: the canonical-subset-only discipline of
    * [[decodeWav]].
    */
  def decodeMp3(p: Array[Byte]): Option[(Long, Long, Long)] = {
    val b = new Bytes(p); import b._
    if (p.length >= 4 && u8(0) == 0xff && (u8(1) & 0xe0) == 0xe0 &&
        ((u8(1) >> 3) & 3) == 3 && ((u8(1) >> 1) & 3) == 1) {
      val bi = (u8(2) >> 4) & 0xf
      val si = (u8(2) >> 2) & 3
      if (bi >= 1 && bi <= 14 && si <= 2)
        Some((Mp3BitratesV1L3(bi), Mp3RatesV1(si), ((u8(2) >> 1) & 1).toLong))
      else None
    } else None
  }

  /** MP3 probe — bitrate/rate/padding from the frame header,
    * then the pure-integer frame plan: `frame_bytes = 144000·br/sr +
    * pad` (the Layer III slot formula), whole frames in the payload,
    * and the duration from 1152 samples per frame. Integer division
    * throughout, so both engines agree exactly; payloads never leave
    * the scan — only the narrow probe columns flow downstream.
    */
  def probeMp3(records: Dataset[MediaRecord]): Dataset[Mp3Probe] = {
    import records.sparkSession.implicits._
    records.map { r =>
      val n = r.payload.length.toLong
      val (fmt, br, sr, pad) = decodeMp3(r.payload) match {
        case Some((br, sr, pad)) => ("mp3", br, sr, pad)
        case None => ("rawmpeg", Mp3FallbackBitrate, Mp3FallbackRate, 0L)
      }
      val fb     = 144000L * br / sr + pad
      val frames = if (fb == 0) 0L else n / fb
      val dur    = frames * 1152L * 1000L / sr
      Mp3Probe(r.doc_id, r.media_type, fmt, br, sr, pad, fb, frames, dur)
    }
  }

  def mp3Probe(s: SparkSession, dir: String): DataFrame =
    probeMp3(mediaFromDocuments(s, dir)).toDF()

  /** Fallback geometry for non-FLAC payloads, derived from the byte
    * length like the WAV/MP4 fallbacks: deterministic, oracle-mirrored.
    */
  val FlacFallbackBits = 16L

  /** FLAC STREAMINFO parse: `(sample_rate, channels, bits_per_sample,
    * total_samples)` from the canonical file prefix — the "fLaC" magic,
    * a first metadata-block header of type 0 (STREAMINFO) and length 34
    * (xiph.org FLAC format §STREAM / §METADATA_BLOCK_STREAMINFO), then
    * the BIT-PACKED field group at STREAMINFO bytes 10–17: a 20-bit
    * sample rate, 3-bit channels−1, and 5-bit bps−1 straddling byte
    * boundaries, and a 36-bit total-sample count whose top nibble
    * shares a byte with the bps field. That bit-level unpacking (shifts
    * and masks inside single bytes) is the decode shape none of the
    * other probes exercise — WAV/MP4 read whole little/big-endian
    * words, MP3 indexes lookup tables. A zero sample rate is invalid
    * per spec and rejects to the fallback, as does any non-STREAMINFO
    * first block — the canonical-subset-only discipline of
    * [[decodeWav]]/[[decodeMp4]].
    */
  def decodeFlac(p: Array[Byte]): Option[(Long, Long, Long, Long)] = {
    val b = new Bytes(p); import b._
    if (p.length >= 42 && ascii(0, "fLaC") && (u8(4) & 0x7f) == 0 &&
        ((u8(5) << 16) | (u8(6) << 8) | u8(7)) == 34) {
      val sr = ((u8(18).toLong << 12) | (u8(19).toLong << 4) | (u8(20) >> 4).toLong)
      val ch = ((u8(20) >> 1) & 7).toLong + 1
      val bp = (((u8(20) & 1) << 4) | (u8(21) >> 4)).toLong + 1
      val ts = ((u8(21) & 0xf).toLong << 32) | be32(22)
      if (sr > 0) Some((sr, ch, bp, ts)) else None
    } else None
  }

  /** FLAC probe — bit-packed STREAMINFO fields, then the pure
    * integer duration `total_samples · 1000 / sample_rate` ms, bit-equal
    * across engines. Opaque payloads take the deterministic raw fallback
    * (rate/channels from the byte length, samples = bytes) so fixture
    * rows stay oracle-checkable; payloads never leave the scan.
    */
  def probeFlac(records: Dataset[MediaRecord]): Dataset[FlacProbe] = {
    import records.sparkSession.implicits._
    records.map { r =>
      val n = r.payload.length.toLong
      val (fmt, sr, ch, bp, ts) = decodeFlac(r.payload) match {
        case Some((sr, ch, bp, ts)) => ("flac", sr, ch, bp, ts)
        case None => ("rawflac", 16000L + (n % 8) * 1000L, 1L + n % 2, FlacFallbackBits, n)
      }
      FlacProbe(r.doc_id, r.media_type, fmt, sr, ch, bp, ts, ts * 1000L / sr)
    }
  }

  def flacProbe(s: SparkSession, dir: String): DataFrame =
    probeFlac(mediaFromDocuments(s, dir)).toDF()

  /** The only mvhd size this probe accepts: a version-0 movie header is
    * exactly 108 bytes (ISO/IEC 14496-12 §8.2.2) — full box header (8) +
    * version/flags (4) + creation/modification/timescale/duration (16) +
    * rate/volume/reserved/matrix/predefineds/next_track (80).
    */
  val MvhdV0Size = 108L

  /** Canonical-MP4 header parse: `(major_brand, timescale, duration)`
    * from the ISO-BMFF two-box prefix a minimal muxer emits — an `ftyp`
    * box first (size S at bytes 0–3, FourCC at 4–7, major_brand at
    * 8–11), then `moov` directly at offset S whose FIRST child is a
    * version-0 `mvhd` (size [[MvhdV0Size]]): timescale and duration are
    * the big-endian u32s at S+28 and S+32. All sizes/fields big-endian
    * per ISO/IEC 14496-12 §4.2/8.2.2 — the mirror image of the WAV
    * probe's little-endian RIFF fields. Files with other box orders
    * (mdat-first "non-faststart", free/skip padding, version-1 64-bit
    * mvhd) return None and take the raw-video fallback — the same
    * honest canonical-layout trade as [[decodeWav]], and what keeps the
    * offset arithmetic exactly mirrorable in the DuckDB oracle.
    *
    * Text payloads cannot collide: "ftyp" at bytes 4–7 would make bytes
    * 0–3 printable text, so S ≥ 0x09090909 — far past any payload
    * length, failing the `length ≥ S+36` bound. The oracle runs the
    * identical check, so even a collision could not diverge the gate.
    */
  def decodeMp4(p: Array[Byte]): Option[(String, Long, Long)] = {
    val b = new Bytes(p); import b._
    if (p.length < 8 || !ascii(4, "ftyp")) None
    else {
      val s0 = be32(0)
      if (s0 >= 16 && s0 <= Int.MaxValue - 36 && p.length >= s0 + 36 &&
          ascii(s0.toInt + 4, "moov") && be32(s0.toInt + 8) == MvhdV0Size &&
          ascii(s0.toInt + 12, "mvhd") && u8(s0.toInt + 16) == 0)
        Some((new String(p, 8, 4, "US-ASCII"), be32(s0.toInt + 28), be32(s0.toInt + 32)))
      else None
    }
  }

  /** Video container probe — the ISO-BMFF sibling of the WAV
    * probe: canonical MP4 payloads yield their real major brand and
    * movie-header timescale/duration; opaque payloads get the
    * deterministic raw-video fallback (timescale derived from the byte
    * length, duration = the byte count, so fixture rows stay
    * oracle-checkable). Duration is integer arithmetic —
    * `duration · 1000 / timescale` ms — bit-equal across engines; a
    * zero-timescale (corrupt) header probes as 0 ms. Payloads never
    * leave the scan: only the seven narrow probe columns flow on.
    */
  def probeVideo(records: Dataset[MediaRecord]): Dataset[VideoProbe] = {
    import records.sparkSession.implicits._
    records.map { r =>
      val n = r.payload.length.toLong
      val (fmt, brand, ts, du) = decodeMp4(r.payload) match {
        case Some((b, ts, du)) => ("mp4", b, ts, du)
        case None              => ("rawvideo", "none", 1000L + (n % 4) * 500L, n)
      }
      val ms = if (ts == 0) 0L else du * 1000L / ts
      VideoProbe(r.doc_id, r.media_type, fmt, brand, ts, du, ms)
    }
  }

  def videoProbe(s: SparkSession, dir: String): DataFrame =
    probeVideo(mediaFromDocuments(s, dir)).toDF()

  /** Speech-style frame length for [[probeAudioWindows]] — the 20 ms
    * convention fbank/MFCC front ends use.
    */
  val AudioFrameMs = 20

  /** Audio frame-window planning — the probe→plan composition: each
    * payload's PROBED container parameters (real WAV header fields, or
    * the deterministic raw-audio fallback) size its [[AudioFrameMs]]-ms
    * frames (`bytes/frame = rate·ch·bits / 400` — bytes/sec over 50),
    * and one row per FULL frame is emitted with its byte offset and a
    * probe byte (a real front end reads the frame; the byte keeps the
    * fixture oracle-checkable — the same honest seam as
    * [[frameSample]]). WAV frames start after the 44-byte header; raw
    * audio at 0. Everything happens inside the one typed flatMap, so
    * the payload never leaves the scan — only the five narrow window
    * columns flow on.
    */
  def probeAudioWindows(records: Dataset[MediaRecord]): Dataset[AudioWindow] = {
    import records.sparkSession.implicits._
    records.flatMap { r =>
      val n = r.payload.length.toLong
      val (fmt, ch, sr, bits, db, off) = decodeWav(r.payload) match {
        case Some((ch, sr, bits, db)) => ("wav", ch, sr, bits, db, 44L)
        case None => ("rawaudio", 1L + n % 2, 8000L + (n % 8) * 1000L, 16L, n, 0L)
      }
      val bpw  = sr * ch * bits / 400L
      val nWin = if (bpw <= 0) 0L else db / bpw
      (0L until nWin).map { w =>
        val idx = off + w * bpw
        val pb  = if (idx < n) r.payload(idx.toInt) & 0xffL else 0L
        AudioWindow(r.doc_id, fmt, w, idx, pb)
      }
    }
  }

  def audioWindows(s: SparkSession, dir: String): DataFrame =
    probeAudioWindows(mediaFromDocuments(s, dir)).toDF()

  /** Fixed-size frame geometry for [[frameSample]]: payloads are treated
    * as a sequence of [[FrameBytes]]-byte frames and every
    * [[FrameStride]]-th frame is sampled.
    */
  val FrameBytes  = 32
  val FrameStride = 4

  /** Frame sampling — the video/audio analogue of thumbnailing: emit one
    * probe byte per sampled frame (a real decoder would emit the decoded
    * frame or its embedding; the byte probe keeps the fixture
    * oracle-checkable). The whole operator is a scan-side generate +
    * projection: frame indices come from `sequence` over the payload
    * length, the byte is sliced in place, and the payload itself never
    * enters a shuffle — only (doc_id, frame_idx, frame_byte) flows on.
    */
  def frameSample(s: SparkSession, dir: String): DataFrame =
    mediaFromDocuments(s, dir)
      .toDF()
      .filter(length(col("payload")) >= FrameBytes)
      .select(
        col("doc_id"),
        col("media_type"),
        explode(expr(s"sequence(0, int(length(payload) / $FrameBytes) - 1, $FrameStride)"))
          .as("frame_idx"),
        col("payload"))
      .select(
        col("doc_id"),
        col("media_type"),
        col("frame_idx").cast("long").as("frame_idx"),
        expr(s"CAST(conv(hex(substring(payload, frame_idx * $FrameBytes + 1, 1)), 16, 10) AS BIGINT)")
          .as("frame_byte"))

  /** Bounding box for [[resizePlan]]: longest output side. */
  val ResizeBox = 64

  /** Resize/thumbnail planning — the decode→resize→re-encode pipeline's
    * middle stage: source dimensions come from the REAL [[decode]]
    * header parse (PNG IHDR / JPEG SOF, raw fallback geometry for
    * opaque payloads), the target box fit (aspect-preserving,
    * downscale-only) is exact IEEE arithmetic, and the "resampled"
    * output is a 1-D nearest-neighbor byte resample of the payload (one
    * strided probe per output column, summed to a checksum the oracle
    * can replay). A real deployment swaps the probe lambda for a pixel
    * kernel; the plan shape — typed decode, then scan-side projection
    * + generate, payload never shuffled, only narrow columns flow on —
    * is the real thing. Zero-dimension payloads (undecodable JPEGs, the
    * raw geometry's `n % 640 == 0` wrap) are filtered like undecodable
    * frames.
    */
  def resizePlan(s: SparkSession, dir: String): DataFrame =
    decodeRecords(mediaFromDocuments(s, dir))
      .toDF()
      .select(
        col("doc_id"),
        col("media_type"),
        col("payload"),
        length(col("payload")).cast("long").as("n_bytes"),
        col("width").as("src_w"),
        col("height").as("src_h"))
      .filter(col("src_w") > 0 && col("src_h") > 0)
      .withColumn("scale",
        least(lit(1.0), lit(ResizeBox.toDouble) / col("src_w"),
          lit(ResizeBox.toDouble) / col("src_h")))
      .withColumn("out_w", greatest(lit(1L), floor(col("src_w") * col("scale"))))
      .withColumn("out_h", greatest(lit(1L), floor(col("src_h") * col("scale"))))
      .withColumn("stride", expr("greatest(CAST(1 AS BIGINT), n_bytes div out_w)"))
      .select(
        col("doc_id"),
        col("media_type"),
        col("src_w"),
        col("src_h"),
        col("out_w"),
        col("out_h"),
        col("scale"),
        expr(s"""aggregate(
            transform(sequence(0, int(out_w) - 1),
              k -> CAST(conv(hex(substring(payload, int(k * stride) + 1, 1)), 16, 10) AS BIGINT)),
            CAST(0 AS BIGINT), (acc, b) -> acc + b)""").as("resample_sum"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_features" -> (features _),
    "multimodal_frames"   -> (frameSample _),
    "multimodal_resize"   -> (resizePlan _),
    "multimodal_audio"    -> (audioProbe _),
    "multimodal_video"    -> (videoProbe _),
    "multimodal_audio_windows" -> (audioWindows _),
    "multimodal_mp3"      -> (mp3Probe _),
    "multimodal_flac"     -> (flacProbe _)
  )

  // DuckDB mirror of [[decode]] over a hex-encoded payload `h` with byte
  // length `n`: the png branch parses the same IHDR int32s from the hex
  // string; the jpeg branch (impossible for UTF-8 text payloads — 0xFF
  // never occurs in UTF-8) pins dimensions 0, the SOF-less decode, so a
  // real JPEG sneaking into a text fixture fails the gate LOUDLY instead
  // of silently agreeing. SOF-bearing JPEG parses are verified JVM-side
  // against real bytes in MultimodalSpec.
  private def duckIsPng(h: String, n: String) =
    s"$n >= 24 AND substr($h, 1, 16) = '89504E470D0A1A0A' AND substr($h, 25, 8) = '49484452'"
  private def duckIsJpeg(h: String, n: String) =
    s"$n >= 2 AND substr($h, 1, 4) = 'FFD8'"
  // 'GIF87a' / 'GIF89a' are pure ASCII, so (unlike PNG/JPEG) a text
  // payload COULD collide — which is exactly why the branch is mirrored
  // at full strength: both engines read the same little-endian u16s
  // from the same bytes either way
  private def duckIsGif(h: String, n: String) =
    s"""$n >= 13 AND (substr($h, 1, 12) = '474946383761'
        OR substr($h, 1, 12) = '474946383961')"""
  private def duckFormat(h: String, n: String) =
    s"""CASE WHEN ${duckIsPng(h, n)} THEN 'png'
             WHEN ${duckIsJpeg(h, n)} THEN 'jpeg'
             WHEN ${duckIsGif(h, n)} THEN 'gif'
             ELSE 'raw' END"""
  private def duckWidth(h: String, n: String) =
    s"""CASE WHEN ${duckIsPng(h, n)} THEN CAST('0x' || substr($h, 33, 8) AS BIGINT)
             WHEN ${duckIsJpeg(h, n)} THEN CAST(0 AS BIGINT)
             WHEN ${duckIsGif(h, n)}
               THEN CAST('0x' || substr($h, 15, 2) || substr($h, 13, 2) AS BIGINT)
             ELSE CAST($n % 640 AS BIGINT) END"""
  private def duckHeight(h: String, n: String) =
    s"""CASE WHEN ${duckIsPng(h, n)} THEN CAST('0x' || substr($h, 41, 8) AS BIGINT)
             WHEN ${duckIsJpeg(h, n)} THEN CAST(0 AS BIGINT)
             WHEN ${duckIsGif(h, n)}
               THEN CAST('0x' || substr($h, 19, 2) || substr($h, 17, 2) AS BIGINT)
             ELSE CAST($n % 480 AS BIGINT) END"""

  /** Shared audio-probe CTE chain (m → p → f) used by the
    * multimodal_audio and multimodal_audio_windows oracles — ends in
    * `f` with the probed container fields plus the payload length `n`,
    * hex `h`, and the data offset `off` (44 for canonical WAV, 0 raw).
    */
  private val duckAudioF =
    s"""m AS (
         SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n,
           hex(encode(text)) AS h
         FROM documents),
       p AS (
         SELECT doc_id, media_type, n, h,
           (n >= 44 AND substr(h, 1, 8) = '52494646'
              AND substr(h, 17, 8) = '57415645'
              AND substr(h, 25, 8) = '666D7420'
              AND CAST('0x' || substr(h,39,2) || substr(h,37,2)
                            || substr(h,35,2) || substr(h,33,2) AS BIGINT) = 16
              AND substr(h, 73, 8) = '64617461') AS is_wav
         FROM m),
       f AS (
         SELECT doc_id, media_type, n, h,
           CASE WHEN is_wav THEN 'wav' ELSE 'rawaudio' END AS format,
           CASE WHEN is_wav THEN CAST(44 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS off,
           CASE WHEN is_wav
                THEN CAST('0x' || substr(h,47,2) || substr(h,45,2) AS BIGINT)
                ELSE 1 + n % 2 END AS channels,
           CASE WHEN is_wav
                THEN CAST('0x' || substr(h,55,2) || substr(h,53,2)
                               || substr(h,51,2) || substr(h,49,2) AS BIGINT)
                ELSE 8000 + (n % 8) * 1000 END AS sample_rate,
           CASE WHEN is_wav
                THEN CAST('0x' || substr(h,71,2) || substr(h,69,2) AS BIGINT)
                ELSE 16 END AS bits,
           CASE WHEN is_wav
                THEN CAST('0x' || substr(h,87,2) || substr(h,85,2)
                               || substr(h,83,2) || substr(h,81,2) AS BIGINT)
                ELSE n END AS data_bytes
         FROM p)"""

  val oracle: Map[String, String] = Map(
    "multimodal_features" ->
      s"""WITH m AS (
           SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
             octet_length(encode(text)) AS n,
             hex(encode(text)) AS h
           FROM documents)
         SELECT doc_id, media_type, CAST(n AS BIGINT) AS n_bytes,
           CASE WHEN n = 0 THEN 0
                ELSE CAST('0x' || substr(h, 1, 2) AS BIGINT) END AS first_byte,
           ${duckFormat("h", "n")} AS format,
           ${duckWidth("h", "n")} AS width,
           ${duckHeight("h", "n")} AS height
         FROM m""",
    "multimodal_frames" ->
      s"""SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
         CAST(i AS BIGINT) AS frame_idx,
         CAST('0x' || substr(hex(encode(text)), i * $FrameBytes * 2 + 1, 2) AS BIGINT) AS frame_byte
         FROM documents, unnest(range(0, octet_length(encode(text)) // $FrameBytes, $FrameStride)) AS t(i)
         WHERE octet_length(encode(text)) >= $FrameBytes""",
    "multimodal_resize" ->
      s"""WITH m AS (
           SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
             encode(text) AS payload,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             hex(encode(text)) AS hx
           FROM documents),
         g AS (
           SELECT doc_id, media_type, payload, n_bytes,
             ${duckWidth("hx", "n_bytes")} AS src_w,
             ${duckHeight("hx", "n_bytes")} AS src_h
           FROM m
           WHERE ${duckWidth("hx", "n_bytes")} > 0
             AND ${duckHeight("hx", "n_bytes")} > 0),
         r AS (
           SELECT *, least(CAST(1 AS DOUBLE), CAST($ResizeBox AS DOUBLE) / src_w,
             CAST($ResizeBox AS DOUBLE) / src_h) AS scale FROM g),
         o AS (
           SELECT *,
             greatest(1, CAST(floor(src_w * scale) AS BIGINT)) AS out_w,
             greatest(1, CAST(floor(src_h * scale) AS BIGINT)) AS out_h
           FROM r),
         st AS (SELECT *, greatest(1, n_bytes // out_w) AS stride FROM o)
         SELECT doc_id, media_type, src_w, src_h, out_w, out_h, scale,
           CAST(sum(CAST('0x' || substr(hex(payload), CAST(k * stride AS BIGINT) * 2 + 1, 2) AS BIGINT)) AS BIGINT)
             AS resample_sum
         FROM st, unnest(range(0, out_w)) AS t(k)
         GROUP BY 1, 2, 3, 4, 5, 6, 7""",
    // mirrors [[decodeWav]]'s canonical 44-byte layout byte-for-byte:
    // FourCC checks and little-endian field reads over the hex encoding
    // (byte o lives at substr(h, o*2+1, 2); LE values concatenate the
    // bytes REVERSED). A real WAV in the text fixture would be parsed
    // identically by both engines; the fixture's text payloads all take
    // the raw-audio fallback, same as the png/jpeg probes.
    // mirrors [[decodeMp3]] bit for bit: sync/version/layer checks as
    // integer field extractions of the hex bytes, the SAME lookup tables
    // as CASE expressions, and the pure-integer Layer III slot formula —
    // UTF-8 text can never start with 0xFF, so catalog rows take the
    // fallback and a real MP3 sneaking into a text fixture fails LOUDLY
    "multimodal_mp3" -> {
      val brCase = (1 to 14)
        .map(i => s"WHEN $i THEN ${Mp3BitratesV1L3(i)}").mkString(" ")
      s"""WITH m AS (
           SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
             CAST(octet_length(encode(text)) AS BIGINT) AS n,
             hex(encode(text)) AS h
           FROM documents),
         b AS (
           SELECT doc_id, media_type, n,
             CASE WHEN n >= 4 THEN CAST('0x' || substr(h, 3, 2) AS BIGINT) ELSE 0 END AS b1,
             CASE WHEN n >= 4 THEN CAST('0x' || substr(h, 5, 2) AS BIGINT) ELSE 0 END AS b2,
             CASE WHEN n >= 1 THEN substr(h, 1, 2) ELSE '' END AS h0
           FROM m),
         v AS (
           SELECT doc_id, media_type, n,
             b2 // 16 AS bi, (b2 // 4) % 4 AS si, (b2 // 2) % 2 AS pad,
             (n >= 4 AND h0 = 'FF' AND b1 // 32 = 7 AND (b1 // 8) % 4 = 3
              AND (b1 // 2) % 4 = 1 AND b2 // 16 BETWEEN 1 AND 14
              AND (b2 // 4) % 4 <= 2) AS is_mp3
           FROM b),
         f AS (
           SELECT doc_id, media_type, n,
             CASE WHEN is_mp3 THEN 'mp3' ELSE 'rawmpeg' END AS format,
             CASE WHEN is_mp3 THEN CASE bi $brCase END
                  ELSE $Mp3FallbackBitrate END AS br,
             CASE WHEN is_mp3
                  THEN CASE si WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END
                  ELSE $Mp3FallbackRate END AS sr,
             CASE WHEN is_mp3 THEN pad ELSE 0 END AS pad
           FROM v)
         SELECT doc_id, media_type, format,
           CAST(br AS BIGINT) AS bitrate_kbps,
           CAST(sr AS BIGINT) AS sample_rate,
           CAST(pad AS BIGINT) AS padding,
           CAST(144000 * br // sr + pad AS BIGINT) AS frame_bytes,
           CAST(n // (144000 * br // sr + pad) AS BIGINT) AS est_frames,
           CAST((n // (144000 * br // sr + pad)) * 1152 * 1000 // sr AS BIGINT) AS duration_ms
         FROM f"""
    },
    // byte-exact mirror of decodeFlac over the hex payload: the "fLaC"
    // magic + STREAMINFO block header, then the bit-packed 20/3/5/36-bit
    // field group as integer div/mod arithmetic on single bytes —
    // identical by construction, so a genuine FLAC prefix in a text
    // fixture would diverge loudly rather than silently agree
    "multimodal_flac" ->
      s"""WITH m AS (
           SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
             CAST(octet_length(encode(text)) AS BIGINT) AS n,
             hex(encode(text)) AS h
           FROM documents),
         b AS (
           SELECT doc_id, media_type, n,
             CASE WHEN n >= 42 THEN CAST('0x' || substr(h, 9, 2) AS BIGINT) ELSE 0 END AS b4,
             CASE WHEN n >= 42 THEN CAST('0x' || substr(h, 11, 2) AS BIGINT) ELSE 0 END AS b5,
             CASE WHEN n >= 42 THEN CAST('0x' || substr(h, 13, 2) AS BIGINT) ELSE 0 END AS b6,
             CASE WHEN n >= 42 THEN CAST('0x' || substr(h, 15, 2) AS BIGINT) ELSE 0 END AS b7,
             CASE WHEN n >= 42 THEN CAST('0x' || substr(h, 37, 2) AS BIGINT) ELSE 0 END AS b18,
             CASE WHEN n >= 42 THEN CAST('0x' || substr(h, 39, 2) AS BIGINT) ELSE 0 END AS b19,
             CASE WHEN n >= 42 THEN CAST('0x' || substr(h, 41, 2) AS BIGINT) ELSE 0 END AS b20,
             CASE WHEN n >= 42 THEN CAST('0x' || substr(h, 43, 2) AS BIGINT) ELSE 0 END AS b21,
             CASE WHEN n >= 42 THEN CAST('0x' || substr(h, 45, 2) AS BIGINT) ELSE 0 END AS b22,
             CASE WHEN n >= 42 THEN CAST('0x' || substr(h, 47, 2) AS BIGINT) ELSE 0 END AS b23,
             CASE WHEN n >= 42 THEN CAST('0x' || substr(h, 49, 2) AS BIGINT) ELSE 0 END AS b24,
             CASE WHEN n >= 42 THEN CAST('0x' || substr(h, 51, 2) AS BIGINT) ELSE 0 END AS b25,
             (n >= 42 AND substr(h, 1, 8) = '664C6143') AS magic
           FROM m),
         v AS (
           SELECT doc_id, media_type, n,
             b18 * 4096 + b19 * 16 + b20 // 16 AS sr0,
             (magic AND b4 % 128 = 0 AND b5 * 65536 + b6 * 256 + b7 = 34
              AND b18 * 4096 + b19 * 16 + b20 // 16 > 0) AS is_flac,
             (b20 // 2) % 8 + 1 AS ch0,
             (b20 % 2) * 16 + b21 // 16 + 1 AS bp0,
             (b21 % 16) * 4294967296 + b22 * 16777216 + b23 * 65536 + b24 * 256 + b25 AS ts0
           FROM b),
         f AS (
           SELECT doc_id, media_type,
             CASE WHEN is_flac THEN 'flac' ELSE 'rawflac' END AS format,
             CASE WHEN is_flac THEN sr0 ELSE 16000 + (n % 8) * 1000 END AS sr,
             CASE WHEN is_flac THEN ch0 ELSE 1 + n % 2 END AS ch,
             CASE WHEN is_flac THEN bp0 ELSE $FlacFallbackBits END AS bp,
             CASE WHEN is_flac THEN ts0 ELSE n END AS ts
           FROM v)
         SELECT doc_id, media_type, format,
           CAST(sr AS BIGINT) AS sample_rate,
           CAST(ch AS BIGINT) AS channels,
           CAST(bp AS BIGINT) AS bits,
           CAST(ts AS BIGINT) AS total_samples,
           CAST(ts * 1000 // sr AS BIGINT) AS duration_ms
         FROM f""",
    "multimodal_audio" ->
      s"""WITH $duckAudioF
         SELECT doc_id, media_type, format,
           CAST(channels AS BIGINT) AS channels,
           CAST(sample_rate AS BIGINT) AS sample_rate,
           CAST(bits AS BIGINT) AS bits,
           CAST(data_bytes AS BIGINT) AS data_bytes,
           CAST(CASE WHEN sample_rate * channels * bits = 0 THEN 0
                     ELSE data_bytes * 8000 // (sample_rate * channels * bits) END
             AS BIGINT) AS duration_ms
         FROM f""",
    // the probe→plan composition in SQL: the same f CTE sizes the 20 ms
    // frames (bytes/frame = rate·ch·bits // 400), generates one row per
    // FULL frame, and reads the probe byte at the frame's hex offset
    "multimodal_audio_windows" ->
      s"""WITH $duckAudioF,
         g AS (SELECT doc_id, format, n, h, off, data_bytes,
                 sample_rate * channels * bits // 400 AS bpw
               FROM f),
         w AS (SELECT doc_id, format, n, h, off, bpw, CAST(wi AS BIGINT) AS window_idx
               FROM g, unnest(range(0,
                 CASE WHEN bpw > 0 THEN data_bytes // bpw ELSE 0 END)) t(wi))
         SELECT doc_id, format, window_idx,
           CAST(off + window_idx * bpw AS BIGINT) AS start_byte,
           CAST(CASE WHEN off + window_idx * bpw < n
                     THEN CAST('0x' || substr(h, (off + window_idx * bpw) * 2 + 1, 2) AS BIGINT)
                     ELSE 0 END AS BIGINT) AS probe_byte
         FROM w""",
    // mirrors [[decodeMp4]]'s two-box canonical layout: byte o of the
    // payload lives at substr(h, o*2+1, 2), box sizes/fields are
    // BIG-endian (hex bytes concatenate in order, unlike the WAV
    // oracle's reversed LE reads), and the moov-relative offsets shift
    // by the DATA-dependent ftyp size s0 — a genuinely dynamic box walk
    // the fixed-offset WAV mirror cannot express. TRY_CAST guards the
    // mvhd-size read: a text payload's garbage s0 makes the substr
    // empty, which must select the fallback, not error the cast.
    "multimodal_video" ->
      s"""WITH m AS (
           SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
             CAST(octet_length(encode(text)) AS BIGINT) AS n,
             hex(encode(text)) AS h
           FROM documents),
         p AS (
           SELECT doc_id, media_type, n, h,
             CASE WHEN n >= 8 AND substr(h, 9, 8) = '66747970'
                  THEN CAST('0x' || substr(h, 1, 8) AS BIGINT)
                  ELSE CAST(-1 AS BIGINT) END AS s0
           FROM m),
         q AS (
           SELECT doc_id, media_type, n, h, s0,
             (s0 >= 16 AND n >= s0 + 36
               AND substr(h, s0 * 2 + 9, 8) = '6D6F6F76'
               AND coalesce(TRY_CAST('0x' || substr(h, s0 * 2 + 17, 8) AS BIGINT), -1)
                     = $MvhdV0Size
               AND substr(h, s0 * 2 + 25, 8) = '6D766864'
               AND substr(h, s0 * 2 + 33, 2) = '00') AS is_mp4
           FROM p),
         f AS (
           SELECT doc_id, media_type,
             CASE WHEN is_mp4 THEN 'mp4' ELSE 'rawvideo' END AS format,
             CASE WHEN is_mp4 THEN decode(unhex(substr(h, 17, 8))) ELSE 'none' END AS brand,
             CASE WHEN is_mp4
                  THEN CAST('0x' || substr(h, s0 * 2 + 57, 8) AS BIGINT)
                  ELSE 1000 + (n % 4) * 500 END AS timescale,
             CASE WHEN is_mp4
                  THEN CAST('0x' || substr(h, s0 * 2 + 65, 8) AS BIGINT)
                  ELSE n END AS duration_units
           FROM q)
         SELECT doc_id, media_type, format, brand,
           CAST(timescale AS BIGINT) AS timescale,
           CAST(duration_units AS BIGINT) AS duration_units,
           CAST(CASE WHEN timescale = 0 THEN 0
                     ELSE duration_units * 1000 // timescale END AS BIGINT) AS duration_ms
         FROM f"""
  )
}

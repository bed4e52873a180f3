package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Deterministic image-container header parse — the first REAL (non-stub)
  * step of the multimodal decode path (SURVEY §2.9 L3): PNG / JPEG / GIF /
  * BMP dimensions read straight off the payload's leading bytes, as a
  * row-local native expression. No codec is involved — container headers
  * are fixed byte layouts, so this parses the exact metadata a training
  * pipeline filters on (resolution gates, aspect-ratio buckets) without
  * decoding a single pixel, at full whole-stage-codegen speed. The pixel
  * decode itself remains behind [[graft.operators.Multimodal.MediaDecoder]].
  *
  * Parse failure is data, not error: any byte sequence that is not a
  * well-formed known header yields NULL (the filter semantics a 100 TB
  * crawl needs — a corrupt image must not kill a task).
  */
object ImageHeader {

  /** Format ids packed into the result long (format<<48 | width<<24 |
    * height). Kept stable — [[ImageFunctions.imageMeta]] indexes a
    * string array with them. */
  val Formats: Seq[String] = Seq("png", "jpeg", "gif", "bmp", "webp", "tiff")

  private final val MaxDim = (1 << 24) - 1

  /** -1 when `b` is not a recognizable image header; else
    * formatId<<48 | width<<24 | height (formatId 1-based into
    * [[Formats]], dims in [1, 2^24)). Called from generated code —
    * must stay a pure static-forwardable function. */
  def packedDims(b: Array[Byte]): Long = {
    if (b == null) return -1L
    val png = parsePng(b)
    if (png >= 0) return pack(1, png)
    val jpeg = parseJpeg(b)
    if (jpeg >= 0) return pack(2, jpeg)
    val gif = parseGif(b)
    if (gif >= 0) return pack(3, gif)
    val bmp = parseBmp(b)
    if (bmp >= 0) return pack(4, bmp)
    val webp = parseWebp(b)
    if (webp >= 0) return pack(5, webp)
    val tiff = parseTiff(b)
    if (tiff >= 0) return pack(6, tiff)
    -1L
  }

  /** Intermediate (width<<24|height) in a long, or -1. */
  private def pack(fmt: Long, wh: Long): Long = (fmt << 48) | wh

  private def dims(w: Long, h: Long): Long =
    if (w >= 1 && w <= MaxDim && h >= 1 && h <= MaxDim) (w << 24) | h else -1L

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be16(b: Array[Byte], i: Int): Long = (u8(b, i) << 8 | u8(b, i + 1)).toLong
  private def le16(b: Array[Byte], i: Int): Long = (u8(b, i + 1) << 8 | u8(b, i)).toLong
  private def be32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def le32(b: Array[Byte], i: Int): Long =
    (u8(b, i + 3).toLong << 24) | (u8(b, i + 2) << 16) | (u8(b, i + 1) << 8) | u8(b, i)

  /** 8-byte signature, then the IHDR chunk is mandatory-first: length(4) +
    * "IHDR"(4) + width(4 BE) + height(4 BE). */
  private def parsePng(b: Array[Byte]): Long = {
    if (b.length < 24) return -1L
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    var i = 0
    while (i < 8) { if (u8(b, i) != sig(i)) return -1L; i += 1 }
    if (u8(b, 12) != 'I' || u8(b, 13) != 'H' || u8(b, 14) != 'D' || u8(b, 15) != 'R')
      return -1L
    dims(be32(b, 16), be32(b, 20))
  }

  /** FFD8, then a segment walk to the first SOFn frame header (C0-CF
    * minus C4/C8/CC which are not frames): precision(1) + height(2 BE) +
    * width(2 BE) after the segment length. Fill bytes (FF padding) and
    * standalone markers (RSTn/TEM) are skipped per the spec. */
  private def parseJpeg(b: Array[Byte]): Long = {
    if (b.length < 4 || u8(b, 0) != 0xff || u8(b, 1) != 0xd8) return -1L
    var i = 2
    while (i + 3 < b.length) {
      if (u8(b, i) != 0xff) return -1L
      // fill bytes: any number of FFs may pad before the marker id
      var j = i + 1
      while (j < b.length && u8(b, j) == 0xff) j += 1
      if (j + 1 >= b.length) return -1L
      val marker = u8(b, j)
      val isSof = marker >= 0xc0 && marker <= 0xcf &&
        marker != 0xc4 && marker != 0xc8 && marker != 0xcc
      if (isSof) {
        // needs bytes through j+7: len(2) + precision(1) + h(2) + w(2)
        if (j + 7 >= b.length) return -1L
        return dims(be16(b, j + 6), be16(b, j + 4))
      }
      if (marker == 0xd9 || marker == 0xda) return -1L // EOI / scan data: no SOF seen
      if ((marker >= 0xd0 && marker <= 0xd7) || marker == 0x01) i = j + 1 // standalone
      else {
        if (j + 2 >= b.length) return -1L
        val segLen = be16(b, j + 1)
        if (segLen < 2) return -1L
        i = j + 1 + segLen.toInt
      }
    }
    -1L
  }

  /** "GIF87a"/"GIF89a" then logical-screen width/height as LE16. */
  private def parseGif(b: Array[Byte]): Long = {
    if (b.length < 10) return -1L
    if (u8(b, 0) != 'G' || u8(b, 1) != 'I' || u8(b, 2) != 'F' || u8(b, 3) != '8' ||
      (u8(b, 4) != '7' && u8(b, 4) != '9') || u8(b, 5) != 'a') return -1L
    dims(le16(b, 6), le16(b, 8))
  }

  /** "BM" + BITMAPINFOHEADER: width LE32 at 18, height LE32 at 22
    * (negative height = top-down row order — magnitude is the size). */
  private def parseBmp(b: Array[Byte]): Long = {
    if (b.length < 26 || u8(b, 0) != 'B' || u8(b, 1) != 'M') return -1L
    val h = le32(b, 22)
    val signedH = if (h > Int.MaxValue) -(h - 0x100000000L) else h
    dims(le32(b, 18), math.abs(signedH))
  }

  /** RIFF/WEBP, all three first-chunk variants (the web's #2 image
    * format after JPEG): `VP8 ` lossy (keyframe sync 9D 01 2A, 14-bit
    * LE dims), `VP8L` lossless (0x2F, 14-bit packed dims-minus-one),
    * `VP8X` extended (24-bit LE canvas dims-minus-one). The WAV reader
    * owns `RIFF....WAVE`; the two never overlap. */
  private def parseWebp(b: Array[Byte]): Long = {
    if (b.length < 30) return -1L
    if (u8(b, 0) != 'R' || u8(b, 1) != 'I' || u8(b, 2) != 'F' || u8(b, 3) != 'F' ||
      u8(b, 8) != 'W' || u8(b, 9) != 'E' || u8(b, 10) != 'B' || u8(b, 11) != 'P')
      return -1L
    val d = 20 // first chunk payload (fourcc at 12, size at 16)
    if (u8(b, 12) == 'V' && u8(b, 13) == 'P' && u8(b, 14) == '8' && u8(b, 15) == ' ') {
      // lossy: 3-byte frame tag, then the keyframe start code
      if (u8(b, d + 3) != 0x9d || u8(b, d + 4) != 0x01 || u8(b, d + 5) != 0x2a)
        return -1L
      dims(le16(b, d + 6) & 0x3fff, le16(b, d + 8) & 0x3fff)
    } else if (u8(b, 12) == 'V' && u8(b, 13) == 'P' && u8(b, 14) == '8' &&
      u8(b, 15) == 'L') {
      if (u8(b, d) != 0x2f) return -1L // lossless signature byte
      val bits = le32(b, d + 1)
      dims((bits & 0x3fff) + 1, ((bits >> 14) & 0x3fff) + 1)
    } else if (u8(b, 12) == 'V' && u8(b, 13) == 'P' && u8(b, 14) == '8' &&
      u8(b, 15) == 'X') {
      // extended: flags(1) + reserved(3), then 24-bit LE canvas dims - 1
      val w = (u8(b, d + 4) | (u8(b, d + 5) << 8) | (u8(b, d + 6) << 16)).toLong + 1
      val h = (u8(b, d + 7) | (u8(b, d + 8) << 8) | (u8(b, d + 9) << 16)).toLong + 1
      dims(w, h)
    } else -1L
  }

  /** TIFF: `II*\0` (little-endian) or `MM\0*` (big-endian), then the
    * first IFD's ImageWidth (tag 256) and ImageLength (tag 257) entries
    * — SHORT or LONG, both inline in the 12-byte entry's value field.
    * The IFD walk is offset-bounds-checked; a truncated download that
    * cuts the IFD off → -1. */
  private def parseTiff(b: Array[Byte]): Long = {
    if (b.length < 8) return -1L
    val le =
      if (u8(b, 0) == 'I' && u8(b, 1) == 'I' && u8(b, 2) == 0x2a && u8(b, 3) == 0) true
      else if (u8(b, 0) == 'M' && u8(b, 1) == 'M' && u8(b, 2) == 0 && u8(b, 3) == 0x2a) false
      else return -1L
    def rd16(i: Int): Long = if (le) le16(b, i) else be16(b, i)
    def rd32(i: Int): Long = if (le) le32(b, i) else be32(b, i)
    val ifd = rd32(4)
    if (ifd < 8 || ifd + 2 > b.length) return -1L
    val n = rd16(ifd.toInt).toInt
    var w = -1L
    var h = -1L
    var k = 0
    while (k < n) {
      val e = ifd.toInt + 2 + 12 * k
      if (e + 12 > b.length) return -1L
      val tag = rd16(e)
      if (tag == 256 || tag == 257) {
        val typ = rd16(e + 2)
        // value is inline ONLY when count == 1: for count > 1 the value
        // field holds an offset to the array, which would be misread as
        // a plausible-but-wrong dimension (r10 ADVICE) — reject it.
        val cnt = rd32(e + 4)
        if (cnt != 1) return -1L
        // SHORT (3) in the field's first 2 bytes (per byte order),
        // LONG (4) as the full 4 bytes
        val v = typ match {
          case 3 => rd16(e + 8)
          case 4 => rd32(e + 8)
          case _ => return -1L
        }
        if (tag == 256) w = v else h = v
      }
      k += 1
    }
    if (w < 0 || h < 0) return -1L
    dims(w, h)
  }

  /** WAV (RIFF/WAVE) audio header → -1 when not well-formed, else
    * sampleRate<<24 | durationMs (the audio analog of [[packedDims]];
    * duration saturates at 2^24-1 ms ≈ 4.6 h). Walks RIFF chunks to
    * `fmt ` (sample rate LE32 at chunk offset +4, byte rate at +8) and
    * `data` (payload byte length), duration = dataLen·1000 / byteRate —
    * called from generated code like packedDims. */
  def packedWav(b: Array[Byte]): Long = {
    if (b == null || b.length < 12) return -1L
    if (u8(b, 0) != 'R' || u8(b, 1) != 'I' || u8(b, 2) != 'F' || u8(b, 3) != 'F' ||
      u8(b, 8) != 'W' || u8(b, 9) != 'A' || u8(b, 10) != 'V' || u8(b, 11) != 'E')
      return -1L
    var i = 12
    var sampleRate = -1L
    var byteRate = -1L
    var dataLen = -1L
    while (i + 8 <= b.length && (sampleRate < 0 || dataLen < 0)) {
      val id = new String(Array(b(i), b(i + 1), b(i + 2), b(i + 3)),
        java.nio.charset.StandardCharsets.US_ASCII)
      val len = le32(b, i + 4)
      if (len < 0 || len > Int.MaxValue - 16) return -1L // before any use
      if (id == "fmt ") {
        if (i + 20 > b.length) return -1L
        sampleRate = le32(b, i + 12)
        byteRate = le32(b, i + 16)
      } else if (id == "data") dataLen = len
      // chunks are word-aligned: odd lengths carry a pad byte
      i += 8 + len.toInt + (len.toInt & 1)
      if (i < 0) return -1L // int overflow on a hostile length
    }
    if (sampleRate <= 0 || sampleRate > MaxDim || byteRate <= 0 || dataLen < 0)
      return -1L
    val durMs = math.min((dataLen * 1000L) / byteRate, MaxDim.toLong)
    (sampleRate << 24) | durMs
  }

  private final val MaxDim20 = (1 << 20) - 1

  /** MP4/ISO-BMFF video header → -1 when not well-formed, else
    * width<<44 | height<<24 | durationMs (dims < 2^20, duration
    * saturates at 2^24-1 ms). Walks top-level boxes to `moov`, reads
    * `mvhd` (timescale + duration, version 0 and 1 layouts) and the
    * first `trak`→`tkhd` with a non-zero 16.16 fixed-point
    * width/height. 64-bit largesize boxes and truncated walks → -1. */
  def packedMp4(b: Array[Byte]): Long = {
    if (b == null || b.length < 16) return -1L
    // box walk over [from, to): returns the offset of the first box with
    // the wanted type, or -1
    def findBox(from: Int, to: Int, want: String): Int = {
      var i = from
      while (i + 8 <= to) {
        val size = be32(b, i)
        if (size < 8 || size > to - i) return -1 // size==0/1 forms unsupported
        if (u8(b, i + 4) == want.charAt(0) && u8(b, i + 5) == want.charAt(1) &&
          u8(b, i + 6) == want.charAt(2) && u8(b, i + 7) == want.charAt(3)) return i
        i += size.toInt
      }
      -1
    }
    // the file must LEAD with a box structure (ftyp or moov first)
    if (findBox(0, b.length, "ftyp") != 0 && findBox(0, b.length, "moov") != 0)
      return -1L
    val moov = findBox(0, b.length, "moov")
    if (moov < 0) return -1L
    val moovEnd = moov + be32(b, moov).toInt
    val mvhd = findBox(moov + 8, moovEnd, "mvhd")
    if (mvhd < 0 || mvhd + 12 >= moovEnd) return -1L
    val (timescale, duration) = u8(b, mvhd + 8) match {
      case 0 =>
        if (mvhd + 28 > moovEnd) return -1L
        (be32(b, mvhd + 20), be32(b, mvhd + 24))
      case 1 =>
        if (mvhd + 40 > moovEnd) return -1L
        // 64-bit duration: read the low 32 bits after checking the high
        val hi = be32(b, mvhd + 32)
        if (hi != 0) return -1L // > 2^32 ticks — saturate path not needed
        (be32(b, mvhd + 28), be32(b, mvhd + 36))
      case _ => return -1L
    }
    // first trak whose tkhd carries non-zero dims (the video track)
    var trak = findBox(moov + 8, moovEnd, "trak")
    while (trak >= 0) {
      val trakEnd = trak + be32(b, trak).toInt
      val tkhd = findBox(trak + 8, trakEnd, "tkhd")
      if (tkhd >= 0) {
        val whOff = u8(b, tkhd + 8) match {
          case 0 => 84
          case 1 => 96
          case _ => -1
        }
        if (whOff > 0 && tkhd + whOff + 8 <= trakEnd) {
          val w = be32(b, tkhd + whOff) >> 16    // 16.16 fixed point
          val h = be32(b, tkhd + whOff + 4) >> 16
          if (w >= 1 && w <= MaxDim20 && h >= 1 && h <= MaxDim20 &&
            timescale > 0) {
            val durMs = math.min(duration * 1000L / timescale, MaxDim.toLong)
            return (w << 44) | (h << 24) | durMs
          }
        }
      }
      val next = findBox(trakEnd, moovEnd, "trak")
      trak = next
    }
    -1L
  }

  /** AVI (RIFF/`AVI `) video header → -1 when not well-formed, else
    * [[packedMp4]]'s packing width<<44 | height<<24 | durationMs. The
    * `avih` main header is spec-mandated first inside the `hdrl` LIST,
    * so its dwMicroSecPerFrame / dwTotalFrames / dwWidth / dwHeight sit
    * at fixed offsets — duration = frames × µs-per-frame, pure
    * container math. Completes the RIFF trio (WAV audio, WebP image,
    * AVI video). Called from generated code. */
  def packedAvi(b: Array[Byte]): Long = {
    if (b == null || b.length < 72) return -1L
    if (u8(b, 0) != 'R' || u8(b, 1) != 'I' || u8(b, 2) != 'F' || u8(b, 3) != 'F' ||
      u8(b, 8) != 'A' || u8(b, 9) != 'V' || u8(b, 10) != 'I' || u8(b, 11) != ' ')
      return -1L
    if (u8(b, 12) != 'L' || u8(b, 13) != 'I' || u8(b, 14) != 'S' || u8(b, 15) != 'T' ||
      u8(b, 20) != 'h' || u8(b, 21) != 'd' || u8(b, 22) != 'r' || u8(b, 23) != 'l' ||
      u8(b, 24) != 'a' || u8(b, 25) != 'v' || u8(b, 26) != 'i' || u8(b, 27) != 'h')
      return -1L
    val microPerFrame = le32(b, 32)
    val totalFrames = le32(b, 48)
    val w = le32(b, 64)
    val h = le32(b, 68)
    if (w < 1 || w > MaxDim20 || h < 1 || h > MaxDim20 || microPerFrame <= 0)
      return -1L
    // both factors are unsigned-32 reads: the product can exceed Long on
    // hostile lengths — saturate instead of overflowing into garbage
    val durMs =
      if (totalFrames > 0 && microPerFrame > Long.MaxValue / totalFrames)
        MaxDim.toLong
      else math.min(totalFrames * microPerFrame / 1000L, MaxDim.toLong)
    (w << 44) | (h << 24) | durMs
  }

  // ── MP3 (MPEG audio Layer III) ───────────────────────────────────────

  // public-spec tables: bitrate kbps by index (MPEG1 / MPEG2+2.5, Layer
  // III; 0 = free, 15 = bad — both rejected) and sample rate by
  // (version, index); version code 1 is reserved
  private val Mp3BitratesV1 =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
  private val Mp3BitratesV2 =
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0)
  private val Mp3Rates = Map(
    0 -> Array(11025, 12000, 8000),  // MPEG 2.5
    2 -> Array(22050, 24000, 16000), // MPEG 2
    3 -> Array(44100, 48000, 32000)) // MPEG 1

  /** MP3 audio header → -1 when not well-formed, else
    * sampleRate<<24 | durationMs ([[packedWav]]'s packing — the web's
    * most common crawl audio format). Skips a leading ID3v2 tag
    * (syncsafe length), then requires an MPEG-1/2/2.5 **Layer III**
    * frame header at exactly that offset (no sync scanning — a crawl
    * metadata gate wants the well-formed-file case, and scanning
    * arbitrary bytes for 11 sync bits invites false positives). The
    * duration is the CBR estimate payloadBytes×8/kbps from the frame
    * start — like the WAV reader's data-chunk math, it reflects the
    * bytes actually present (a truncated download reports its truncated
    * duration). VBR files underestimate; parsing Xing/VBRI headers is
    * codec territory, not container math. Called from generated code. */
  def packedMp3(b: Array[Byte]): Long = {
    if (b == null || b.length < 4) return -1L
    var i = 0
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      // ID3v2: 4 syncsafe size bytes (high bit clear) after version+flags
      if (((u8(b, 6) | u8(b, 7) | u8(b, 8) | u8(b, 9)) & 0x80) != 0) return -1L
      val sz = (u8(b, 6) << 21) | (u8(b, 7) << 14) | (u8(b, 8) << 7) | u8(b, 9)
      i = 10 + sz
      if (i + 4 > b.length) return -1L
    }
    if (u8(b, i) != 0xff || (u8(b, i + 1) & 0xe0) != 0xe0) return -1L
    val version = (u8(b, i + 1) >> 3) & 3
    val layer = (u8(b, i + 1) >> 1) & 3
    if (version == 1 || layer != 1) return -1L // reserved version / not Layer III
    val brIdx = (u8(b, i + 2) >> 4) & 0xf
    val srIdx = (u8(b, i + 2) >> 2) & 3
    if (brIdx < 1 || brIdx > 14 || srIdx == 3) return -1L
    val kbps = if (version == 3) Mp3BitratesV1(brIdx) else Mp3BitratesV2(brIdx)
    val rate = Mp3Rates(version)(srIdx)
    val durMs = math.min((b.length - i).toLong * 8 / kbps, MaxDim.toLong)
    (rate.toLong << 24) | durMs
  }

  // ── FLAC (native container, STREAMINFO block) ────────────────────────

  /** FLAC audio header → -1 when not well-formed, else
    * sampleRate<<24 | durationMs. Requires the `fLaC` magic followed by
    * a STREAMINFO metadata block (spec: always first, type 0, 34
    * bytes); the 20-bit sample rate and 36-bit total-sample count sit
    * at fixed bit offsets inside it, so the duration is exact container
    * math — no frame scan. A zero total-sample count is the spec's
    * "unknown" and reports duration 0 (header alone can't say more).
    * Called from generated code. */
  def packedFlac(b: Array[Byte]): Long = {
    if (b == null || b.length < 42) return -1L // 4 magic + 4 header + 34 body
    if (b(0) != 'f' || b(1) != 'L' || b(2) != 'a' || b(3) != 'C') return -1L
    if ((u8(b, 4) & 0x7f) != 0) return -1L // first block must be STREAMINFO
    val len = (u8(b, 5) << 16) | (u8(b, 6) << 8) | u8(b, 7)
    if (len != 34) return -1L
    val si = 8
    val rate = (u8(b, si + 10) << 12) | (u8(b, si + 11) << 4) | (u8(b, si + 12) >> 4)
    if (rate <= 0) return -1L // 0 is invalid for audio per spec
    val totalSamples = ((u8(b, si + 13) & 0x0f).toLong << 32) |
      (be32(b, si + 14) & 0xffffffffL)
    val durMs = math.min(totalSamples * 1000L / rate, MaxDim.toLong)
    (rate.toLong << 24) | durMs
  }

  // ── OGG (Vorbis / Opus identification header) ────────────────────────

  /** OGG audio header → -1 when not well-formed, else
    * sampleRate<<24 | durationMs. The first page must open with `OggS`
    * (stream-structure version 0) and its first packet must be a Vorbis
    * (`\x01vorbis`) or Opus (`OpusHead`) identification header; the
    * declared input sample rate sits at a fixed LE32 offset in both.
    * Duration comes from the LAST page's granule position present in
    * the payload (backward `OggS` scan, skipping the -1 "no packet
    * ends here" sentinel) — granules count PCM frames at the codec
    * clock (the declared rate for Vorbis, 48 kHz for Opus), so a
    * truncated download reports the duration of the bytes it actually
    * has, like the WAV/MP3 readers. Opus pre-skip trimming is codec
    * territory and ignored. Called from generated code. */
  def packedOgg(b: Array[Byte]): Long = {
    if (b == null || b.length < 27) return -1L
    if (b(0) != 'O' || b(1) != 'g' || b(2) != 'g' || b(3) != 'S' ||
      u8(b, 4) != 0) return -1L
    val nSegs = u8(b, 26)
    val pkt = 27 + nSegs
    if (pkt + 16 > b.length) return -1L
    def le32(i: Int): Long =
      u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) |
        (u8(b, i + 3).toLong << 24)
    val isVorbis = u8(b, pkt) == 1 && b(pkt + 1) == 'v' && b(pkt + 2) == 'o' &&
      b(pkt + 3) == 'r' && b(pkt + 4) == 'b' && b(pkt + 5) == 'i' &&
      b(pkt + 6) == 's'
    val isOpus = b(pkt) == 'O' && b(pkt + 1) == 'p' && b(pkt + 2) == 'u' &&
      b(pkt + 3) == 's' && b(pkt + 4) == 'H' && b(pkt + 5) == 'e' &&
      b(pkt + 6) == 'a' && b(pkt + 7) == 'd'
    if (!isVorbis && !isOpus) return -1L
    val rate = le32(pkt + 12)
    if (rate <= 0 || rate > MaxDim) return -1L
    val clock = if (isOpus) 48000L else rate // Opus granules tick at 48 kHz
    // last page whose granule is set: backward scan for the OggS capture
    var g = -1L
    var i = b.length - 27
    while (i >= 0 && g < 0) {
      if (b(i) == 'O' && b(i + 1) == 'g' && b(i + 2) == 'g' && b(i + 3) == 'S' &&
        u8(b, i + 4) == 0) {
        val granule = (0 until 8).foldLeft(0L)((acc, k) =>
          acc | (u8(b, i + 6 + k).toLong << (8 * k)))
        if (granule != -1L) g = granule
      }
      i -= 1
    }
    // hostile 63-bit granules would overflow g*1000 — saturate instead
    val durMs =
      if (g <= 0) 0L
      else if (g > Long.MaxValue / 1000L) MaxDim.toLong
      else math.min(g * 1000L / clock, MaxDim.toLong)
    (rate << 24) | durMs
  }

  // ── Matroska/WebM (EBML) ─────────────────────────────────────────────

  private final val Mask56 = (1L << 56) - 1

  private def be64(b: Array[Byte], i: Int): Long =
    (be32(b, i) << 32) | be32(b, i + 4)

  /** EBML element id at `i`: lenBytes<<56 | raw id (length marker
    * included, as ids are written in the file); -1 when malformed or
    * truncated. Ids span 1-4 bytes; the leading byte's first set bit
    * gives the length. */
  private def ebmlId(b: Array[Byte], i: Int): Long = {
    if (i >= b.length) return -1L
    val b0 = u8(b, i)
    if (b0 == 0) return -1L
    val len = java.lang.Integer.numberOfLeadingZeros(b0) - 23
    if (len > 4 || i + len > b.length) return -1L
    var v = 0L
    var j = 0
    while (j < len) { v = (v << 8) | u8(b, i + j); j += 1 }
    (len.toLong << 56) | v
  }

  /** EBML size vint at `i`: lenBytes<<56 | value (marker bit stripped);
    * -1 malformed/truncated; -(lenBytes+1) for the reserved all-ones
    * "unknown size" form (legal only on the Segment). */
  private def ebmlSize(b: Array[Byte], i: Int): Long = {
    if (i >= b.length) return -1L
    val b0 = u8(b, i)
    if (b0 == 0) return -1L
    val len = java.lang.Integer.numberOfLeadingZeros(b0) - 23
    if (len > 8 || i + len > b.length) return -1L
    var v = (b0 & (0xff >>> len)).toLong
    var j = 1
    while (j < len) { v = (v << 8) | u8(b, i + j); j += 1 }
    if (v == (1L << (7 * len)) - 1) return -(len.toLong + 1)
    (len.toLong << 56) | v
  }

  /** First child with EBML id `want` in [from, to): contentStart<<32 |
    * contentEnd, or -1. A child with an unknown size is malformed here —
    * only the Segment (handled by the caller) may use that form. */
  private def ebmlFind(b: Array[Byte], from: Int, to: Int, want: Long): Long = {
    var i = from
    while (i < to) {
      val idr = ebmlId(b, i)
      if (idr < 0) return -1L
      val sz = ebmlSize(b, i + (idr >>> 56).toInt)
      if (sz < 0) return -1L
      val start = i + (idr >>> 56).toInt + (sz >>> 56).toInt
      val n = sz & Mask56
      if (n > to - start) return -1L
      if ((idr & Mask56) == want) return (start.toLong << 32) | (start + n)
      i = (start + n).toInt
    }
    -1L
  }

  /** Big-endian EBML unsigned int over [start, end) (0-8 bytes; zero
    * bytes decode to 0, per spec element defaults). */
  private def ebmlUint(b: Array[Byte], start: Int, end: Int): Long = {
    val n = end - start
    if (n < 0 || n > 8) return -1L
    var v = 0L
    var i = start
    while (i < end) { v = (v << 8) | u8(b, i); i += 1 }
    v
  }

  /** Matroska/WebM (EBML) video header → -1 when not well-formed, else
    * width<<44 | height<<24 | durationMs — the same packing as
    * [[packedMp4]], completing the L3 video-container family (WebM is
    * the other dominant crawl video container). Requires: a leading
    * EBML header whose DocType is `webm` or `matroska`; a Segment
    * (unknown-size form clamps to the buffer, which also admits
    * header-only prefixes of a large file); Tracks → a TrackEntry with
    * a Video element carrying sane PixelWidth/PixelHeight. Duration is
    * optional (absent on live-muxed files → 0 ms): Info's Duration
    * float (4 or 8 bytes) scaled by TimestampScale (default 1,000,000
    * ns per tick) to ms, saturating at 2^24-1. Audio-only files parse
    * to -1 — this is the video-metadata reader, like packedMp4's
    * first-video-trak contract ([[packedMkvAudio]] is the audio one).
    * Called from generated code — must stay a pure static-forwardable
    * function. */
  def packedMkv(b: Array[Byte]): Long = mkvWalk(b, audio = false)

  /** The audio twin of [[packedMkv]]: -1 when not a well-formed
    * Matroska/WebM with an audio track, else sampleRate<<24 |
    * durationMs — [[packedWav]]'s packing, so the two audio containers
    * unpack identically. Reads the first TrackEntry carrying an Audio
    * element; SamplingFrequency is an EBML float (default 8000 per
    * spec). Video-only files parse to -1. */
  def packedMkvAudio(b: Array[Byte]): Long = mkvWalk(b, audio = true)

  private def mkvWalk(b: Array[Byte], audio: Boolean): Long = {
    if (b == null || b.length < 16) return -1L
    val idr = ebmlId(b, 0)
    if (idr < 0 || (idr & Mask56) != 0x1A45DFA3L) return -1L
    val hdrSz = ebmlSize(b, (idr >>> 56).toInt)
    if (hdrSz < 0) return -1L
    val hdrStart = (idr >>> 56).toInt + (hdrSz >>> 56).toInt
    val hdrLen = hdrSz & Mask56
    if (hdrLen > b.length - hdrStart) return -1L
    val hdrEnd = hdrStart + hdrLen.toInt
    val dt = ebmlFind(b, hdrStart, hdrEnd, 0x4282L)
    if (dt < 0) return -1L
    val docType = new String(b, (dt >>> 32).toInt,
      (dt & 0xffffffffL).toInt - (dt >>> 32).toInt,
      java.nio.charset.StandardCharsets.US_ASCII)
    if (docType != "webm" && docType != "matroska") return -1L
    val segIdr = ebmlId(b, hdrEnd)
    if (segIdr < 0 || (segIdr & Mask56) != 0x18538067L) return -1L
    val segSzOff = hdrEnd + (segIdr >>> 56).toInt
    val segSz = ebmlSize(b, segSzOff)
    if (segSz == -1L) return -1L
    var segStart = 0
    var segEnd = 0
    if (segSz < -1) { // unknown size: the segment runs to end of buffer
      segStart = segSzOff + (-segSz - 1).toInt
      segEnd = b.length
    } else {
      segStart = segSzOff + (segSz >>> 56).toInt
      val n = segSz & Mask56
      segEnd = if (n > b.length - segStart) b.length else (segStart + n).toInt
    }
    var durMs = 0L
    val info = ebmlFind(b, segStart, segEnd, 0x1549A966L)
    if (info >= 0) {
      val iS = (info >>> 32).toInt
      val iE = (info & 0xffffffffL).toInt
      var scale = 1000000L // ns per tick, the spec default
      val ts = ebmlFind(b, iS, iE, 0x2AD7B1L)
      if (ts >= 0) {
        val v = ebmlUint(b, (ts >>> 32).toInt, (ts & 0xffffffffL).toInt)
        if (v <= 0) return -1L
        scale = v
      }
      val du = ebmlFind(b, iS, iE, 0x4489L)
      if (du >= 0) {
        val dS = (du >>> 32).toInt
        val dur = ((du & 0xffffffffL).toInt - dS) match {
          case 4 => java.lang.Float.intBitsToFloat(be32(b, dS).toInt).toDouble
          case 8 => java.lang.Double.longBitsToDouble(be64(b, dS))
          case 0 => 0.0
          case _ => return -1L
        }
        if (java.lang.Double.isNaN(dur) || dur < 0) return -1L
        durMs = math.min((dur * scale / 1e6).toLong, MaxDim.toLong)
      }
    }
    val tracks = ebmlFind(b, segStart, segEnd, 0x1654AE6BL)
    if (tracks < 0) return -1L
    var from = (tracks >>> 32).toInt
    val tEnd = (tracks & 0xffffffffL).toInt
    while (from < tEnd) {
      val te = ebmlFind(b, from, tEnd, 0xAEL)
      if (te < 0) return -1L
      val teS = (te >>> 32).toInt
      val teE = (te & 0xffffffffL).toInt
      if (audio) {
        val au = ebmlFind(b, teS, teE, 0xE1L)
        if (au >= 0) {
          val aS = (au >>> 32).toInt
          val aE = (au & 0xffffffffL).toInt
          var rate = 8000L // SamplingFrequency spec default
          val sf = ebmlFind(b, aS, aE, 0xB5L)
          if (sf >= 0) {
            val fS = (sf >>> 32).toInt
            val f = ((sf & 0xffffffffL).toInt - fS) match {
              case 4 => java.lang.Float.intBitsToFloat(be32(b, fS).toInt).toDouble
              case 8 => java.lang.Double.longBitsToDouble(be64(b, fS))
              case 0 => 8000.0
              case _ => return -1L
            }
            if (java.lang.Double.isNaN(f) || f < 1 || f > MaxDim) return -1L
            rate = f.toLong
          }
          return (rate << 24) | durMs
        }
      } else {
        val vid = ebmlFind(b, teS, teE, 0xE0L)
        if (vid >= 0) {
          val vS = (vid >>> 32).toInt
          val vE = (vid & 0xffffffffL).toInt
          val pw = ebmlFind(b, vS, vE, 0xB0L)
          val ph = ebmlFind(b, vS, vE, 0xBAL)
          if (pw < 0 || ph < 0) return -1L
          val w = ebmlUint(b, (pw >>> 32).toInt, (pw & 0xffffffffL).toInt)
          val h = ebmlUint(b, (ph >>> 32).toInt, (ph & 0xffffffffL).toInt)
          if (w < 1 || w > MaxDim20 || h < 1 || h > MaxDim20) return -1L
          return (w << 44) | (h << 24) | durMs
        }
      }
      from = teE
    }
    -1L
  }

  // ---- PDF (classic cross-reference table) ----

  /** -1 unless `b` is a PDF whose page tree resolves; else
    * major<<40 | minor<<32 | pageCount. Walks the REAL document
    * structure (reference detail pages link `.pdf` documentos —
    * detail_parser.py:97-119 — so this is the one container the
    * reference pipeline actually stores): `%PDF-M.N` header version →
    * tail `startxref` → cross-reference TABLE (classic,
    * multi-subsection) or cross-reference STREAM (PDF ≥1.5's default:
    * /Type/XRef dictionary, /W field widths, /Index subsections, raw
    * or FlateDecoded data with PNG predictors 10–14) → trailer/dict
    * `/Root` → catalog `/Pages` → page-tree `/Count`, resolving
    * compressed (type-2) objects through their /Type/ObjStm container.
    * Every hop is bounds-checked (the TIFF IFD discipline) with hard
    * caps on subsection/entry counts and inflate output; incremental-
    * update /Prev chains are not followed (the LAST startxref section
    * must resolve the page tree — same single-section stance as the
    * classic walker); any malformed byte returns -1, never throw.
    * Called from generated code — must stay a pure static-forwardable
    * function. */
  def packedPdf(b: Array[Byte]): Long = {
    if (b == null || b.length < 40 || !asciiAt(b, 0, "%PDF-")) return -1L
    val c = new PdfCur(b)
    // version digits sit immediately after the signature — no ws skip
    c.i = 5
    val major = c.digits(99L)
    if (c.failed || c.i >= b.length || b(c.i) != '.') return -1L
    c.i += 1
    val minor = c.digits(99L)
    if (c.failed) return -1L
    // startxref: last occurrence wins (incremental updates append) —
    // searched from the tail, where a conforming trailer puts it
    val sxi = lastAscii(b, "startxref")
    if (sxi < 0) return -1L
    c.i = sxi + 9
    val xrefOff = c.uint(b.length - 4L)
    if (c.failed) return -1L
    c.i = xrefOff.toInt
    val offsets = new java.util.HashMap[Long, Long]()
    // objNum → container<<20 | indexInStream for compressed (type-2)
    // entries — only an xref STREAM can mint these
    val inStm = new java.util.HashMap[Long, Long]()
    var rootN = -1L
    if (c.keyword("xref")) {
      // classic xref table → (objNum → byte offset) for in-use entries
      var sections = 0
      var done = false
      while (!done) {
        c.skipWs()
        if (asciiAt(b, c.i, "trailer")) { c.i += 7; done = true }
        else {
          sections += 1
          if (sections > 1000) return -1L
          val start = c.uint(100000000L)
          val cnt = c.uint(100000L)
          if (c.failed) return -1L
          var j = 0L
          while (j < cnt) {
            val off = c.uint(9999999999L)
            c.uint(99999L) // generation — parsed, not used
            c.skipWs()
            if (c.failed || c.i >= b.length) return -1L
            val t = b(c.i); c.i += 1
            if (t == 'n') { if (off < b.length) offsets.put(start + j, off) }
            else if (t != 'f') return -1L
            j += 1
          }
        }
      }
      // trailer dict: /Root n g R
      val ri = findAscii(b, c.i, math.min(b.length, c.i + 4096), "/Root")
      if (ri < 0) return -1L
      c.i = ri + 5
      rootN = c.uint(100000000L)
      if (c.failed) return -1L
    } else {
      // PDF 1.5+ cross-reference stream at the same offset
      rootN = parseXrefStream(c, offsets, inStm)
      if (c.failed || rootN < 0) return -1L
    }
    // catalog: /Pages n g R (the catalog may live compressed in an
    // object stream under an xref-stream PDF)
    val cat = objContent(c, offsets, inStm, rootN)
    if (c.failed || cat == null) return -1L
    val pi = findAscii(cat.arr, cat.from, cat.to, "/Pages")
    if (pi < 0) return -1L
    val cc = new PdfCur(cat.arr)
    cc.i = pi + 6
    val pagesN = cc.uint(100000000L)
    if (cc.failed) return -1L
    // page-tree root: /Count N (authoritative total leaf count)
    val pg = objContent(c, offsets, inStm, pagesN)
    if (c.failed || pg == null) return -1L
    val ci = findAscii(pg.arr, pg.from, pg.to, "/Count")
    if (ci < 0) return -1L
    val pc = new PdfCur(pg.arr)
    pc.i = ci + 6
    val pages = pc.uint(0xffffffffL)
    if (pc.failed) return -1L
    (major << 40) | (minor << 32) | pages
  }

  /** A resolved object's content window — possibly inside a DECODED
    * object-stream buffer rather than the original payload. */
  private final class ObjSlice(val arr: Array[Byte], val from: Int,
                               val to: Int)

  /** Big-endian unsigned field of `w` bytes (w ≤ 8 enforced upstream). */
  private def beN(a: Array[Byte], off: Int, w: Int): Long = {
    var v = 0L
    var k = 0
    while (k < w) { v = (v << 8) | (a(off + k) & 0xffL); k += 1 }
    v
  }

  /** Find `key` inside [from, to) of `a` and parse the unsigned decimal
    * after it; -1 (no fail-latch) when the key is absent, latches the
    * cursor's fail flag on a present-but-malformed value. */
  private def dictUint(c: PdfCur, from: Int, to: Int, key: String,
                       max: Long): Long = {
    val ki = findAscii(c.b, from, to, key)
    if (ki < 0) return -1L
    c.i = ki + key.length
    c.uint(max)
  }

  /** Parse the cross-reference STREAM object the cursor points at:
    * fills `offsets` (type-1 entries) and `inStm` (type-2 compressed
    * entries, packed container<<20 | index) and returns the dict's
    * /Root object number. Latches the fail flag on any malformed
    * structure. Supports raw and /FlateDecode data, PNG predictors
    * 10–14 via /DecodeParms, explicit /Index subsections (default
    * [0 /Size]), and /W widths up to 8 bytes per field. */
  private def parseXrefStream(c: PdfCur,
                              offsets: java.util.HashMap[Long, Long],
                              inStm: java.util.HashMap[Long, Long]): Long = {
    val b = c.b
    c.uint(100000000L) // object number
    c.uint(99999L) // generation
    if (c.failed || !c.keyword("obj")) { c.fail(); return -1L }
    val ds = c.i
    val cap = math.min(b.length, ds + 65536)
    val sk = findAscii(b, ds, cap, "stream")
    if (sk < 0) { c.fail(); return -1L }
    if (findAscii(b, ds, sk, "/XRef") < 0) { c.fail(); return -1L }
    val size = dictUint(c, ds, sk, "/Size", 100000L)
    if (c.failed || size < 0) { c.fail(); return -1L }
    // /W [w0 w1 w2] — field byte widths (w0 = 0 means implicit type 1)
    val wi = findAscii(b, ds, sk, "/W")
    if (wi < 0) { c.fail(); return -1L }
    c.i = wi + 2
    c.skipWs()
    if (c.i >= b.length || b(c.i) != '[') { c.fail(); return -1L }
    c.i += 1
    val w0 = c.uint(8L); val w1 = c.uint(8L); val w2 = c.uint(8L)
    if (c.failed || w1 < 1) { c.fail(); return -1L }
    val rowW = (w0 + w1 + w2).toInt
    // /Index [s1 n1 s2 n2 ...] — optional, default [0 Size]
    var index = List.empty[(Long, Long)]
    val ii = findAscii(b, ds, sk, "/Index")
    if (ii >= 0) {
      c.i = ii + 6
      c.skipWs()
      if (c.i >= b.length || b(c.i) != '[') { c.fail(); return -1L }
      c.i += 1
      var pairs = 0
      c.skipWs()
      while (!c.failed && c.i < b.length && b(c.i) != ']') {
        pairs += 1
        if (pairs > 1000) { c.fail(); return -1L }
        val s = c.uint(100000000L)
        val n = c.uint(100000L)
        if (c.failed) return -1L
        index = (s, n) :: index
        c.skipWs()
      }
      if (c.failed || c.i >= b.length) { c.fail(); return -1L }
      c.i += 1 // ']'
      index = index.reverse
    } else index = List((0L, size))
    if (index.map(_._2).sum > 100000L) { c.fail(); return -1L }
    val rootN = dictUint(c, ds, sk, "/Root", 100000000L)
    if (c.failed || rootN < 0) { c.fail(); return -1L }
    val data = streamData(c, ds, sk, rowW)
    if (c.failed || data == null) { c.fail(); return -1L }
    // entries: fixed-width big-endian fields per /W
    var pos = 0
    index.foreach { case (start, cnt) =>
      var j = 0L
      while (j < cnt) {
        if (pos + rowW > data.length) { c.fail(); return -1L }
        val t = if (w0 == 0L) 1L else beN(data, pos, w0.toInt)
        val f2 = beN(data, pos + w0.toInt, w1.toInt)
        val f3 = beN(data, pos + w0.toInt + w1.toInt, w2.toInt)
        if (t == 1L) { if (f2 < b.length) offsets.put(start + j, f2) }
        else if (t == 2L) {
          // container object number and in-stream index, packed; caps
          // keep the pack unambiguous
          if (f2 <= 0xFFFFFFFFFL && f3 <= 0xFFFFFL)
            inStm.put(start + j, (f2 << 20) | f3)
        } // type 0 (free) and unknown types: skipped per spec
        pos += rowW
        j += 1
      }
    }
    rootN
  }

  /** Decode the stream data of the dict in [ds, sk): honors /Length,
    * optional /Filter /FlateDecode, and /DecodeParms PNG predictors;
    * `rowW` is the expected row width for predictor validation (pass 0
    * to skip the /Columns check). Returns null (+fail) on anything
    * malformed. */
  private def streamData(c: PdfCur, ds: Int, sk: Int,
                         rowW: Int): Array[Byte] = {
    val b = c.b
    val len = dictUint(c, ds, sk, "/Length", 1L << 24)
    if (c.failed || len <= 0) { c.fail(); return null }
    // data starts after "stream" + CRLF or LF
    var di = sk + 6
    if (di < b.length && b(di) == '\r') di += 1
    if (di >= b.length || b(di) != '\n') { c.fail(); return null }
    di += 1
    if (di + len > b.length) { c.fail(); return null }
    var hasFlate = false
    val fi = findAscii(b, ds, sk, "/Filter")
    if (fi >= 0) {
      c.i = fi + 7
      c.skipWs()
      if (c.i < b.length && b(c.i) == '[') { c.i += 1; c.skipWs() }
      if (!asciiAt(b, c.i, "/FlateDecode")) { c.fail(); return null }
      hasFlate = true
    }
    var pred = 1L
    var columns = 1L
    val dpi = findAscii(b, ds, sk, "/DecodeParms")
    if (dpi >= 0) {
      val dpEnd = math.min(sk, dpi + 256)
      val p = dictUint(c, dpi, dpEnd, "/Predictor", 15L)
      if (c.failed) return null
      if (p >= 0) pred = p
      val col = dictUint(c, dpi, dpEnd, "/Columns", 1L << 16)
      if (c.failed) return null
      if (col >= 0) columns = col
    }
    val raw =
      if (hasFlate) inflate(b, di, len.toInt, 1 << 22)
      else java.util.Arrays.copyOfRange(b, di, di + len.toInt)
    if (raw == null) { c.fail(); return null }
    if (pred == 1L) raw
    else if (pred >= 10L && pred <= 15L) {
      if (rowW > 0 && columns != rowW) { c.fail(); return null }
      val un = pngUnpredict(raw, columns.toInt)
      if (un == null) { c.fail(); return null }
      un
    } else { c.fail(); null } // TIFF predictor 2: unsupported → NULL
  }

  /** zlib inflate of b[off, off+len) with a hard output cap; null on
    * any error (never throws — the fuzz contract). */
  private def inflate(b: Array[Byte], off: Int, len: Int,
                      maxOut: Int): Array[Byte] = {
    if (off < 0 || len <= 0 || off + len > b.length) return null
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(b, off, len)
      val out = new java.io.ByteArrayOutputStream(math.min(maxOut, 1 << 16))
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0) {
          if (inf.needsInput() || inf.needsDictionary()) return null
        } else {
          out.write(buf, 0, n)
          if (out.size > maxOut) return null
        }
      }
      out.toByteArray
    } catch {
      case _: Throwable => null
    } finally inf.end()
  }

  /** Reverse the PNG row predictors (types 0–4, 1 byte/pixel — the
    * /Colors 1, /BitsPerComponent 8 case xref/object streams use):
    * each row is one filter-type byte + `rowBytes` data bytes. Null on
    * ragged input or an unknown filter type. */
  private def pngUnpredict(data: Array[Byte], rowBytes: Int): Array[Byte] = {
    if (rowBytes <= 0 || data.length % (rowBytes + 1) != 0) return null
    val rows = data.length / (rowBytes + 1)
    val out = new Array[Byte](rows * rowBytes)
    var r = 0
    while (r < rows) {
      val f = data(r * (rowBytes + 1)) & 0xff
      if (f > 4) return null
      var x = 0
      while (x < rowBytes) {
        val cur = data(r * (rowBytes + 1) + 1 + x) & 0xff
        val left = if (x > 0) out(r * rowBytes + x - 1) & 0xff else 0
        val up = if (r > 0) out((r - 1) * rowBytes + x) & 0xff else 0
        val ul = if (r > 0 && x > 0) out((r - 1) * rowBytes + x - 1) & 0xff else 0
        val v = f match {
          case 0 => cur
          case 1 => cur + left
          case 2 => cur + up
          case 3 => cur + ((left + up) >> 1)
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left)
            val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            cur + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
        }
        out(r * rowBytes + x) = (v & 0xff).toByte
        x += 1
      }
      r += 1
    }
    out
  }

  /** Resolve object `n` to its content window: directly via the offset
    * map ([[objBounds]]), or — for type-2 entries — by decoding its
    * /Type/ObjStm container (itself required direct) and slicing the
    * object out of the decoded buffer via the N (objnum, offset)
    * header pairs. Null (+fail) on any miss. */
  private def objContent(c: PdfCur,
                         offsets: java.util.HashMap[Long, Long],
                         inStm: java.util.HashMap[Long, Long],
                         n: Long): ObjSlice = {
    if (offsets.containsKey(n)) {
      val w = objBounds(c, offsets, n)
      if (c.failed) return null
      return new ObjSlice(c.b, (w >>> 32).toInt, (w & 0xffffffffL).toInt)
    }
    val packed = inStm.getOrDefault(n, -1L)
    if (packed < 0) { c.fail(); return null }
    val stmNum = packed >>> 20
    val stmOff = offsets.getOrDefault(stmNum, -1L)
    if (stmOff < 0 || stmOff >= c.b.length) { c.fail(); return null }
    val b = c.b
    c.i = stmOff.toInt
    val num = c.uint(100000000L)
    c.uint(99999L)
    if (c.failed || num != stmNum || !c.keyword("obj")) { c.fail(); return null }
    val ds = c.i
    val cap = math.min(b.length, ds + 65536)
    val sk = findAscii(b, ds, cap, "stream")
    if (sk < 0 || findAscii(b, ds, sk, "/ObjStm") < 0) { c.fail(); return null }
    val nObjs = dictUint(c, ds, sk, "/N", 100000L)
    val first = dictUint(c, ds, sk, "/First", 1L << 22)
    if (c.failed || nObjs <= 0 || first < 0) { c.fail(); return null }
    val data = streamData(c, ds, sk, 0)
    if (c.failed || data == null) { c.fail(); return null }
    // header: N pairs of (objnum, offset-relative-to-First). Two passes
    // so the bound does not trust the spec's ascending-offset ordering:
    // pass 1 finds the target's offset, pass 2 the smallest offset
    // strictly greater (the next object's start, wherever its pair sits).
    def scanPairs(f: (Long, Long) => Unit): Boolean = {
      val hc = new PdfCur(data)
      var k = 0L
      while (k < nObjs) {
        val on = hc.uint(100000000L)
        val off = hc.uint(1L << 22)
        if (hc.failed) return false
        f(on, off)
        k += 1
      }
      true
    }
    var objOff = -1L
    if (!scanPairs((on, off) => if (on == n) objOff = off)) {
      c.fail(); return null
    }
    if (objOff < 0) { c.fail(); return null }
    var nextOff = Long.MaxValue
    scanPairs((_, off) =>
      if (off > objOff && off < nextOff) nextOff = off)
    val from = first + objOff
    val to = if (nextOff == Long.MaxValue) data.length.toLong
             else math.min(data.length.toLong, first + nextOff)
    if (from < 0 || from >= data.length || to <= from) { c.fail(); return null }
    new ObjSlice(data, from.toInt, to.toInt)
  }

  /** Resolve object `n` via the xref map: positions the cursor after
    * "n g obj" and returns dictStart<<32 | scanEnd (bounded by the next
    * `endobj` or a 64 KiB window). Sets the cursor's fail flag on any
    * miss. */
  private def objBounds(c: PdfCur, offsets: java.util.HashMap[Long, Long],
                        n: Long): Long = {
    val off = offsets.getOrDefault(n, -1L)
    if (off < 0 || off >= c.b.length) return c.fail()
    c.i = off.toInt
    val num = c.uint(100000000L)
    c.uint(99999L)
    if (c.failed || num != n || !c.keyword("obj")) return c.fail()
    val start = c.i
    val cap = math.min(c.b.length, start + 65536)
    val end = findAscii(c.b, start, cap, "endobj")
    ((start.toLong << 32) | (if (end < 0) cap else end).toLong)
  }

  /** Byte-cursor over an ASCII-structured PDF skeleton; all parses are
    * bounds-checked and latch `failed`. */
  private final class PdfCur(val b: Array[Byte]) {
    var i: Int = 0
    var failed: Boolean = false
    def fail(): Long = { failed = true; -1L }
    def skipWs(): Unit = {
      while (i < b.length && isPdfWs(b(i))) i += 1
    }
    /** Unsigned decimal run at the cursor (no ws skip); fails on empty
      * or > max. */
    def digits(max: Long): Long = {
      var v = 0L; var n = 0
      while (i < b.length && b(i) >= '0' && b(i) <= '9') {
        v = v * 10 + (b(i) - '0'); n += 1; i += 1
        if (v > max) return fail()
      }
      if (n == 0) fail() else v
    }
    def uint(max: Long): Long = { skipWs(); digits(max) }
    def keyword(s: String): Boolean = {
      skipWs()
      if (asciiAt(b, i, s)) { i += s.length; true } else false
    }
  }

  private def isPdfWs(c: Byte): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == 0 || c == '\f'

  private def asciiAt(b: Array[Byte], off: Int, s: String): Boolean = {
    if (off < 0 || off + s.length > b.length) return false
    var k = 0
    while (k < s.length) {
      if (b(off + k) != s.charAt(k)) return false
      k += 1
    }
    true
  }

  private def lastAscii(b: Array[Byte], s: String): Int = {
    var i = b.length - s.length
    while (i >= 0) {
      if (asciiAt(b, i, s)) return i
      i -= 1
    }
    -1
  }

  private def findAscii(b: Array[Byte], from: Int, to: Int, s: String): Int = {
    var i = math.max(0, from)
    val stop = math.min(to, b.length) - s.length
    while (i <= stop) {
      if (asciiAt(b, i, s)) return i
      i += 1
    }
    -1
  }
}

/** One media header parser as a SQL expression, `name(binary) -> long`:
  * NULL unless the payload starts with a well-formed header of the
  * parser's format, else that format's packed long. Codegen calls the
  * static parser directly, so the expression stays inside whole-stage
  * codegen. `name` (the prettyName) picks the parser from
  * [[MediaHeader.Parsers]]; `stringArgs` is the child alone, so a plan
  * reads `image_dims(bin)`, not the parser name twice. */
case class MediaHeader(child: Expression, name: String)
    extends UnaryExpression {

  private val (method, parse) = MediaHeader.parser(name)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name expects binary input, got ${other.sql}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = name
  override def nullable: Boolean = true
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  override def nullSafeEval(input: Any): Any = {
    val packed = parse(input.asInstanceOf[Array[Byte]])
    if (packed < 0) null else packed
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val packed = ctx.freshName("packed")
      s"""
         |long $packed = graft.functions.ImageHeader.$method($c);
         |if ($packed < 0) { ${ev.isNull} = true; } else { ${ev.value} = $packed; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MediaHeader =
    copy(child = newChild)
}

object MediaHeader {

  /** (prettyName, static [[ImageHeader]] method, parser), in
    * registration order. Four packings, each decoded column-side by
    * [[ImageFunctions]]:
    *  - `image_dims`: PNG/JPEG/GIF/BMP/WebP/TIFF,
    *    formatId<<48|width<<24|height (`imageMeta`);
    *  - `wav_info` (RIFF/WAVE), `mkv_audio_info` (Matroska/WebM with an
    *    audio track), `mp3_info` (optional ID3v2 + MPEG Layer III frame
    *    header, CBR estimate), `flac_info` (fLaC + STREAMINFO) and
    *    `ogg_info` (OggS page + Vorbis/Opus identification header):
    *    sampleRate<<24|durationMs (`anyAudioMeta`);
    *  - `mp4_info` (MP4/ISO-BMFF), `mkv_info` (Matroska/WebM EBML) and
    *    `avi_info` (RIFF/AVI + hdrl LIST + avih):
    *    width<<44|height<<24|durationMs (`anyVideoMeta`);
    *  - `pdf_info`: a classic-xref PDF whose page tree resolves,
    *    major<<40|minor<<32|pageCount (`pdfMeta`). */
  val Parsers: Seq[(String, String, Array[Byte] => Long)] = Seq(
    ("image_dims", "packedDims", ImageHeader.packedDims),
    ("wav_info", "packedWav", ImageHeader.packedWav),
    ("mp4_info", "packedMp4", ImageHeader.packedMp4),
    ("mkv_info", "packedMkv", ImageHeader.packedMkv),
    ("mkv_audio_info", "packedMkvAudio", ImageHeader.packedMkvAudio),
    ("mp3_info", "packedMp3", ImageHeader.packedMp3),
    ("flac_info", "packedFlac", ImageHeader.packedFlac),
    ("ogg_info", "packedOgg", ImageHeader.packedOgg),
    ("avi_info", "packedAvi", ImageHeader.packedAvi),
    ("pdf_info", "packedPdf", ImageHeader.packedPdf))

  private def parser(name: String): (String, Array[Byte] => Long) =
    Parsers.collectFirst { case (`name`, m, f) => (m, f) }.getOrElse(
      throw new IllegalArgumentException(s"no media header parser $name"))
}

/** Column-level entry points for the image-header expressions. */
object ImageFunctions {

  private def header(name: String, payload: Column): Column =
    ColumnBridge.column(MediaHeader(ColumnBridge.expression(payload), name))

  /** Packed (format,width,height) long, NULL for unrecognized payloads. */
  def imageDims(payload: Column): Column =
    header("image_dims", payload)

  /** Typed header metadata `{format, width, height}` — NULL fields for
    * unrecognized payloads (filter on `format IS NOT NULL`).
    *
    * The format name decodes via an explicit CASE chain with a null else
    * branch rather than element_at over a literal array: the CASE's
    * nullability is unambiguously true, so the struct field stays
    * declared-nullable (element_at of a non-null literal array can be
    * inferred non-nullable and then NPE when the packed id is NULL). */
  def imageMeta(payload: Column): Column = {
    val packed = imageDims(payload)
    val fmtId = shiftright(packed, 48).cast("int")
    val fmt = ImageHeader.Formats.zipWithIndex
      .foldLeft(lit(null).cast("string")) { case (acc, (f, i)) =>
        when(fmtId === i + 1, lit(f)).otherwise(acc)
      }
    struct(
      fmt.as("format"),
      shiftright(packed, 24).bitwiseAND(lit(0xffffffL)).cast("int").as("width"),
      packed.bitwiseAND(lit(0xffffffL)).cast("int").as("height"))
  }

  /** Packed (sampleRate, durationMs) long for RIFF/WAVE payloads, NULL
    * otherwise. */
  def wavInfo(payload: Column): Column =
    header("wav_info", payload)

  /** Packed (sampleRate, durationMs) long for Matroska/WebM payloads
    * carrying an audio track, NULL otherwise. */
  def mkvAudioInfo(payload: Column): Column =
    header("mkv_audio_info", payload)

  /** Packed (sampleRate, durationMs) long for MP3 payloads, NULL
    * otherwise. */
  def mp3Info(payload: Column): Column =
    header("mp3_info", payload)

  /** Packed (sampleRate, durationMs) long for FLAC payloads, NULL
    * otherwise. */
  def flacInfo(payload: Column): Column =
    header("flac_info", payload)

  /** Packed (sampleRate, durationMs) long for OGG Vorbis/Opus payloads,
    * NULL otherwise. */
  def oggInfo(payload: Column): Column =
    header("ogg_info", payload)

  /** Container-agnostic audio metadata: WAV, Matroska/WebM audio, MP3,
    * FLAC, and OGG share the packed layout — the audio twin of
    * [[anyVideoMeta]]. The magic-gated parsers are mutually exclusive,
    * so coalesce order is cosmetic. */
  def anyAudioMeta(payload: Column): Column =
    unpackAudio(coalesce(wavInfo(payload), mkvAudioInfo(payload),
      mp3Info(payload), flacInfo(payload), oggInfo(payload)))

  private def unpackAudio(packed: Column): Column =
    struct(
      shiftright(packed, 24).cast("int").as("sample_rate"),
      packed.bitwiseAND(lit(0xffffffL)).as("duration_ms"))

  /** Packed (width, height, durationMs) long for MP4 payloads, NULL
    * otherwise. */
  def mp4Info(payload: Column): Column =
    header("mp4_info", payload)

  /** Packed (width, height, durationMs) long for Matroska/WebM payloads,
    * NULL otherwise. */
  def mkvInfo(payload: Column): Column =
    header("mkv_info", payload)

  /** Packed (width, height, durationMs) long for AVI payloads, NULL
    * otherwise. */
  def aviInfo(payload: Column): Column =
    header("avi_info", payload)

  /** Container-agnostic video metadata: MP4, Matroska/WebM, and AVI
    * share the packed layout, so one coalesce covers all — the column a
    * crawl pipeline actually filters on when the container is unknown. */
  def anyVideoMeta(payload: Column): Column =
    unpackVideo(coalesce(mp4Info(payload), mkvInfo(payload),
      aviInfo(payload)))

  private def unpackVideo(packed: Column): Column =
    struct(
      shiftright(packed, 44).bitwiseAND(lit(0xfffffL)).cast("int").as("width"),
      shiftright(packed, 24).bitwiseAND(lit(0xfffffL)).cast("int").as("height"),
      packed.bitwiseAND(lit(0xffffffL)).as("duration_ms"))

  /** Packed (major, minor, pageCount) long for classic-xref PDF
    * payloads, NULL otherwise. */
  def pdfInfo(payload: Column): Column =
    header("pdf_info", payload)

  /** Typed PDF metadata `{version, pages}` — NULL fields for payloads
    * that are not resolvable classic-xref PDFs. */
  def pdfMeta(payload: Column): Column = {
    val packed = pdfInfo(payload)
    struct(
      concat(shiftright(packed, 40).bitwiseAND(lit(0xffL)).cast("string"),
        lit("."),
        shiftright(packed, 32).bitwiseAND(lit(0xffL)).cast("string"))
        .as("version"),
      packed.bitwiseAND(lit(0xffffffffL)).cast("int").as("pages"))
  }
}

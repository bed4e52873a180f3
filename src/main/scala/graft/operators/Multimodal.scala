package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column support — SURVEY §2.9 L3 extended: image/audio/video
  * payloads as opaque `binary` columns with typed metadata, plus the
  * decode / feature-extract / resize / frame-sample stages a training-data
  * pipeline runs over them.
  *
  * The decode step is STUBBED behind [[MediaDecoder]] with a deterministic
  * fake ([[ByteHistogramDecoder]]) — image/audio codecs are not available
  * in this environment. Everything Spark-side is real and tested: the
  * schema, the bounded-batch mapPartitions shape (the Scala analog of
  * `mapInPandas` batches), the feature-column contract feeding
  * [[Similarity]] search, and the pure-column metadata ops.
  *
  * Scale: payloads stay opaque bytes end-to-end (no driver collect); decode
  * is embarrassingly parallel per partition; feature vectors are fixed-dim
  * `array<float>` so downstream ANN join/bucket plans apply unchanged.
  */
object Multimodal {

  /** Deterministic synthetic media table derived from `documents`: kind
    * cycles image/audio/video, metadata derived from n_chars. Image rows
    * carry a REAL PNG header (signature + IHDR with the meta dimensions,
    * built from hex column math — `unhex(lpad(hex(w),8,'0'))` is the
    * 4-byte big-endian encoder) prepended to the text bytes, so the
    * header-parse stage ([[graft.functions.ImageFunctions.imageMeta]])
    * runs against genuine container bytes; audio rows cycle RIFF/WAVE
    * (doc_id % 12 == 1), WebM audio (== 4), FLAC (== 7), and OGG
    * Vorbis (== 10), video rows MP4 (== 2), AVI (== 8), and WebM video
    * (== 5, == 11) — the dominant crawl containers per modality. Gives
    * the binary-column pipeline a real distributed input without
    * shipping codecs. */
  def synthesizeMedia(docs: DataFrame): DataFrame = {
    val w = (col("n_chars") % 640 + 1).cast("int")
    val h = (col("n_chars") % 480 + 1).cast("int")
    def be16(c: Column): Column = unhex(lpad(hex(c), 4, "0"))
    def be32(c: Column): Column = unhex(lpad(hex(c), 8, "0"))
    // IEEE-754 float64 big-endian bytes of a non-negative integer column,
    // EXACT via integer column math (no UDF): exponent = |bin(n)|-1,
    // bits = (e+1023)·2^52 + n·2^(52-e) − 2^52 (n < 2^24 keeps every
    // shift in-range); 0 encodes as all-zero bits
    def f64be(n: Column): Column = {
      val e = (length(bin(n)) - 1).cast("int")
      val bits = shiftleft((e + 1023).cast("long"), 52) +
        call_function("shiftleft", n.cast("long"), lit(52) - e) -
        shiftleft(lit(1L), 52)
      when(n > 0, unhex(lpad(hex(bits), 16, "0")))
        .otherwise(unhex(lit("0000000000000000")))
    }
    def le32(c: Column): Column = {
      val x = lpad(hex(c), 8, "0")
      unhex(concat(substring(x, 7, 2), substring(x, 5, 2),
        substring(x, 3, 2), substring(x, 1, 2)))
    }
    // PNG signature + IHDR length(13) + "IHDR" + width + height
    val pngHeader = concat(
      unhex(lit("89504E470D0A1A0A" + "0000000D" + "49484452")), be32(w), be32(h))
    // RIFF/WAVE with a 16 kHz mono 16-bit fmt chunk (byteRate 32000) and
    // a data chunk sized so durationMs = dataLen·1000/byteRate equals the
    // meta duration (n_chars × 10 ms → dataLen = n_chars × 320); the body
    // is the text bytes — header metadata, like a truncated download
    val dataLen = (col("n_chars") * 320).cast("int")
    val wavHeader = concat(
      unhex(lit("52494646")), le32(dataLen + 36), unhex(lit("57415645")),
      unhex(lit("666D7420")), unhex(lit("10000000")), unhex(lit("01000100")),
      le32(lit(16000)), le32(lit(32000)), unhex(lit("02001000")),
      unhex(lit("64617461")), le32(dataLen))
    // minimal-but-structurally-genuine MP4: ftyp + moov[mvhd(v0,
    // timescale 1000, duration = n_chars×10 ticks ≙ ms) + trak[tkhd(v0,
    // identity matrix, 16.16 fixed-point width/height)]] — every box
    // size field is correct, so a real box walker traverses it
    val durTicks = (col("n_chars") * 10).cast("int")
    val matrixHex = "00010000" + "00000000" * 3 + "00010000" +
      "00000000" * 3 + "40000000"
    val mp4Header = concat(
      unhex(lit("00000010" + "66747970" + "69736F6D" + "00000200")), // ftyp
      unhex(lit("000000D8" + "6D6F6F76")),                           // moov(216)
      unhex(lit("0000006C" + "6D766864" + "00000000" + "00000000" +
        "00000000" + "000003E8")),                                   // mvhd v0, ts=1000
      be32(durTicks), unhex(lit("00" * 80)),                         // duration + pad
      unhex(lit("00000064" + "7472616B")),                           // trak(100)
      unhex(lit("0000005C" + "746B6864" + "00000007" + "00000000" +
        "00000000" + "00000001" + "00000000")),                      // tkhd v0, id 1
      be32(durTicks), unhex(lit("00" * 16)), unhex(lit(matrixHex)),
      be32((w.cast("long") * 65536).cast("int")),                    // 16.16 width
      be32((h.cast("long") * 65536).cast("int")))                    // 16.16 height
    // minimal-but-structurally-genuine WebM: EBML header (DocType
    // "webm") + Segment[Info(TimestampScale 1e6 ns ≙ 1 ms/tick,
    // Duration f64 = n_chars×10) + Tracks[TrackEntry[Video[PixelWidth,
    // PixelHeight]]]] — every EBML size vint is correct, so a real
    // EBML walker traverses it; the text body trails the segment
    val webmHeader = concat(
      unhex(lit("1A45DFA3" + "87" + "4282" + "84" + "7765626D")),    // EBML: DocType webm
      unhex(lit("18538067" + "A9")),                                 // Segment(41)
      unhex(lit("1549A966" + "93" + "2AD7B1" + "84" + "000F4240" +   // Info(19): scale 1e6
        "4489" + "88")), f64be(durTicks),                            // Duration f64 (ms ticks)
      unhex(lit("1654AE6B" + "8C" + "AE" + "8A" + "E0" + "88" +      // Tracks>Track>Video
        "B0" + "82")), be16(w), unhex(lit("BA" + "82")), be16(h))
    // …and its audio sibling: same EBML header + Info, the TrackEntry
    // carries an Audio element (SamplingFrequency f64 = 16 kHz, matching
    // the WAV rows' meta) instead of a Video one
    val webmAudioHeader = concat(
      unhex(lit("1A45DFA3" + "87" + "4282" + "84" + "7765626D")),    // EBML: DocType webm
      unhex(lit("18538067" + "AB")),                                 // Segment(43)
      unhex(lit("1549A966" + "93" + "2AD7B1" + "84" + "000F4240" +   // Info(19): scale 1e6
        "4489" + "88")), f64be(durTicks),                            // Duration f64 (ms ticks)
      unhex(lit("1654AE6B" + "8E" + "AE" + "8C" + "E1" + "8A" +      // Tracks>Track>Audio
        "B5" + "88")), f64be(lit(16000)))                            // SamplingFrequency f64
    // FLAC: fLaC + last-block STREAMINFO(34) — 20-bit rate 16000
    // (bytes 10-12: 0x03 0xE8 0x00) and 36-bit total samples =
    // 16000·durMs/1000 = n_chars×160, so the parsed duration is exactly
    // the meta duration
    val flacSamples = (col("n_chars") * 160).cast("int")
    val flacHeader = concat(
      unhex(lit("664C6143" + "80000022" + "00" * 10 + "03E800" + "00")),
      be32(flacSamples), unhex(lit("00" * 16)))
    // OGG Vorbis: BOS page carrying the 16-byte identification header
    // (rate LE32 = 16000) — all-constant bytes — and an EOS page whose
    // granule position (PCM frames at 16 kHz) encodes the duration; the
    // text body sits between them like a real stream's data pages
    val oggBosPage = unhex(lit(
      "4F676753" + "00" + "02" + "00" * 8 + "00" * 12 + "01" + "10" + // page hdr, 1 seg of 16
        "01" + "766F72626973" + "00000000" + "01" + "803E0000"))      // \x01vorbis id, rate 16000
    val oggEosPage = concat(
      unhex(lit("4F676753" + "00" + "04")),                           // page hdr, EOS
      le32(flacSamples), unhex(lit("00000000")),                      // granule LE64 (< 2^32)
      unhex(lit("00" * 13)))                                          // serial/seq/crc/0 segs
    // AVI: RIFF/AVI + hdrl LIST + avih at its mandated first position —
    // dwMicroSecPerFrame 1000 makes dwTotalFrames ≙ ms, so duration =
    // n_chars×10 exactly like the other containers
    val aviHeader = concat(
      unhex(lit("52494646" + "C8000000")),                            // RIFF, size
      unhex(lit("41564920" + "4C495354" + "40000000")),               // AVI , LIST
      unhex(lit("6864726C" + "61766968" + "38000000")),               // hdrl, avih, cb 56
      le32(lit(1000)), unhex(lit("00" * 12)),                         // µs/frame = 1000
      le32(durTicks), unhex(lit("00" * 12)),                          // total frames ≙ ms
      le32(w), le32(h))
    val kind = element_at(array(lit("image"), lit("audio"), lit("video")),
      ((col("doc_id") % 3) + 1).cast("int"))
    val slot = col("doc_id") % 12 // audio rows: 1,4,7,10; video: 2,5,8,11
    val body = col("text").cast("binary")
    docs.select(
      col("doc_id").as("media_id"),
      kind.as("kind"),
      when(kind === "image", concat(pngHeader, body))
        .when(slot === 1, concat(wavHeader, body))
        .when(slot === 7, concat(flacHeader, body))
        .when(slot === 10, concat(oggBosPage, body, oggEosPage))
        .when(kind === "audio", concat(webmAudioHeader, body))
        .when(slot === 2, concat(mp4Header, body))
        .when(slot === 8, concat(aviHeader, body))
        .otherwise(concat(webmHeader, body)).as("payload"),
      struct(
        when(kind === "image", lit("png"))
          .when(slot === 1, lit("wav"))
          .when(slot === 7, lit("flac"))
          .when(slot === 10, lit("ogg"))
          .when(kind === "audio", lit("webm_audio"))
          .when(slot === 2, lit("mp4"))
          .when(slot === 8, lit("avi"))
          .otherwise(lit("webm")).as("format"),
        w.as("width"),
        h.as("height"),
        lit(16000).as("sample_rate"),
        (col("n_chars") * 10).cast("long").as("duration_ms")).as("meta"))
  }

  /** Deterministic synthetic PDF table derived from `documents` — the
    * [[synthesizeMedia]] discipline for the one container the reference
    * pipeline actually stores (detail pages harvest `.pdf` documentos:
    * reference detail_parser.py:97-119). Every payload is a COMPLETE
    * PDF built from column math: header version cycles 1.3–1.7 with
    * doc_id, the page-tree /Count is the 6-digit-padded pages value,
    * and because every variable field is fixed-width the object byte
    * offsets are compile-time constants — so the embedded
    * cross-reference structure is byte-exact and a real xref walker
    * ([[graft.functions.ImageHeader.packedPdf]]) traverses
    * header → startxref → xref → /Root → catalog /Pages → /Count
    * against genuine structure. EVEN doc_ids carry the classic xref
    * TABLE era, ODD doc_ids the xref-STREAM era (PDF 1.5+'s default):
    * a /Type/XRef stream of W[1 2 2] binary big-endian entries —
    * constant offsets make the 25 entry bytes ONE constant hex
    * literal, so both eras stay oracle-replayable from arithmetic
    * alone. The compressed stream variants (FlateDecode, PNG
    * predictors, ObjStm containers) are MultimodalSpec goldens —
    * deflate bytes are not column-math-replayable by design. Returns
    * (pdf_id, payload, meta{version, pages}). */
  def synthesizePdfs(docs: DataFrame): DataFrame = {
    val verDigit = (col("doc_id") % 5 + 3).cast("int") // versions 1.3..1.7
    val pages = (col("n_chars") % 900 + 1).cast("int")
    val o1 = "1 0 obj<</Type/Catalog/Pages 2 0 R>>endobj\n"
    val o2a = "2 0 obj<</Type/Pages/Kids[3 0 R]/Count "
    val o2b = ">>endobj\n"
    val o3 = "3 0 obj<</Type/Page/Parent 2 0 R>>endobj\n"
    val off1 = 9 // "%PDF-1.x\n"
    val off2 = off1 + o1.length
    val off3 = off2 + o2a.length + 6 + o2b.length
    val offX = off3 + o3.length
    def entry(off: Int) = f"$off%010d 00000 n \n"
    val tail = "xref\n0 4\n" + "0000000000 65535 f \n" +
      entry(off1) + entry(off2) + entry(off3) +
      "trailer<</Size 4/Root 1 0 R>>\nstartxref\n" + offX + "\n%%EOF"
    val head = concat(lit("%PDF-1."), verDigit.cast("string"),
      lit("\n" + o1 + o2a), lpad(pages.cast("string"), 6, "0"),
      lit(o2b + o3))
    val classic = concat(head, lit(tail)).cast("binary")
    // xref-stream era: 5 entries × (1+2+2) bytes, type/offset16/gen16 —
    // all offsets compile-time constants, so the binary block is one
    // constant unhex literal (binary concat: 0xff can't ride a string)
    val entriesHex = "000000ffff" +
      f"01$off1%04x0000" + f"01$off2%04x0000" +
      f"01$off3%04x0000" + f"01$offX%04x0000"
    val streamDict = "4 0 obj<</Type/XRef/Size 5/W[1 2 2]" +
      "/Root 1 0 R/Length 25>>stream\n"
    val streamTail = "\nendstream\nendobj\nstartxref\n" + offX + "\n%%EOF"
    val stream = concat(concat(head, lit(streamDict)).cast("binary"),
      unhex(lit(entriesHex)), lit(streamTail).cast("binary"))
    docs.select(
      col("doc_id").as("pdf_id"),
      when(col("doc_id") % 2 === 0, classic).otherwise(stream).as("payload"),
      struct(
        concat(lit("1."), verDigit.cast("string")).as("version"),
        pages.as("pages")).as("meta"))
  }

  /** Decoded per-item features: fixed-dim vector + frame count. */
  final case class MediaFeatures(ok: Boolean, features: Array[Float], nFrames: Int)

  /** The foreign decode boundary. Production implementations wrap a codec
    * library; tests and this environment use the deterministic fake.
    * `decodeBatch` is the unit the pipeline calls — codecs that amortize
    * setup over a batch override it; the default delegates per item. */
  trait MediaDecoder extends Serializable {
    def featureDim: Int
    def decode(kind: String, payload: Array[Byte]): MediaFeatures
    def decodeBatch(batch: Seq[(String, Array[Byte])]): Seq[MediaFeatures] =
      batch.map { case (kind, payload) => decode(kind, payload) }
  }

  /** STUB decoder — deterministic byte-histogram "features" (NOT a real
    * codec; the decode internals are the only fake part of this pipeline). */
  final class ByteHistogramDecoder(val featureDim: Int = 16) extends MediaDecoder {
    def decode(kind: String, payload: Array[Byte]): MediaFeatures = {
      val hist = new Array[Float](featureDim)
      payload.foreach(b => hist((b & 0xff) % featureDim) += 1f)
      val n = math.max(payload.length, 1).toFloat
      MediaFeatures(ok = true, hist.map(_ / n), nFrames = payload.length / 64 + 1)
    }
  }

  /** Decode in bounded batches inside mapPartitions (no shuffle): each
    * [[MediaDecoder.decodeBatch]] call sees at most `batchSize` items, so
    * the batch bound genuinely caps peak native-decoder memory — the
    * analog of the reference's BATCH_SIZE (classifier.py:140-142). A
    * failed (or wrong-arity) batch yields ok=false zero-features rows for
    * ALL its items instead of failing the task — per-batch isolation,
    * like the reference's per-batch {} fallback (classifier.py:98-100). */
  def decodeBatched(df: DataFrame, decoder: MediaDecoder,
                    kindCol: String = "kind", payloadCol: String = "payload",
                    batchSize: Int = 32): DataFrame = {
    val schema = df.schema
      .add("ok", BooleanType).add("features", ArrayType(FloatType))
      .add("n_frames", IntegerType)
    val (kindIdx, payloadIdx) = (schema.fieldIndex(kindCol), schema.fieldIndex(payloadCol))
    df.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val inputs = batch.map(r =>
          (r.getString(kindIdx), r.getAs[Array[Byte]](payloadIdx)))
        val decoded =
          try {
            val out = decoder.decodeBatch(inputs)
            if (out.length == batch.length) out else throw new IllegalStateException
          } catch { case NonFatal(_) =>
            Seq.fill(batch.length)(
              MediaFeatures(ok = false, new Array[Float](decoder.featureDim), 0))
          }
        batch.lazyZip(decoded).map { case (r, d) =>
          Row.fromSeq(r.toSeq ++ Seq(d.ok, d.features.toSeq, d.nFrames))
        }
      }
    }(Encoders.row(schema))
  }
}

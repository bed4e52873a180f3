package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal

/** Multimodal binary-column plumbing: schema, bounded-batch decode shape,
  * failure isolation, metadata ops. The decode internals are the
  * deterministic stub; everything asserted here is the real Spark surface. */
class MultimodalSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (0L, "hello world tokens", "es", "src0", 18L),
    (1L, "another doc body", "de", "src1", 16L),   // audio: doc_id%12==1 → wav
    (2L, "third payload text", "en", "src2", 18L), // video: doc_id%6==2 → mp4
    (3L, "fourth image doc", "en", "src0", 16L),
    (4L, "fifth audio doc", "fr", "src1", 15L),    // audio: doc_id%12==4 → webm
    (5L, "sixth video doc", "en", "src2", 15L),    // video: doc_id%6==5 → webm
    (6L, "seventh image doc", "en", "src0", 17L),
    (7L, "eighth audio doc", "pt", "src1", 16L),   // audio: doc_id%12==7 → flac
    (8L, "ninth video doc", "en", "src2", 15L),
    (9L, "tenth image doc", "en", "src0", 15L),
    (10L, "eleventh audio doc", "it", "src1", 18L), // audio: doc_id%12==10 → ogg
    (11L, "twelfth video doc", "en", "src2", 17L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("synthesizeMedia schema: opaque binary payload + typed metadata") {
    val media = Multimodal.synthesizeMedia(docs)
    val s = media.schema
    assert(s("payload").dataType.typeName == "binary")
    assert(s("meta").dataType.typeName == "struct")
    assert(media.select("kind").as[String].collect().toSet.subsetOf(
      Set("image", "audio", "video")))
  }

  test("decodeBatched appends fixed-dim features, deterministic across runs") {
    val media = Multimodal.synthesizeMedia(docs)
    val dec = new Multimodal.ByteHistogramDecoder(16)
    val run1 = Multimodal.decodeBatched(media, dec, batchSize = 2)
      .select("media_id", "ok", "features", "n_frames")
      .as[(Long, Boolean, Seq[Float], Int)].collect().sortBy(_._1)
    val run2 = Multimodal.decodeBatched(media, dec, batchSize = 2)
      .select("media_id", "ok", "features", "n_frames")
      .as[(Long, Boolean, Seq[Float], Int)].collect().sortBy(_._1)
    assert(run1.toSeq == run2.toSeq)
    assert(run1.forall(_._2))
    assert(run1.forall(_._3.length == 16))
    // histogram is normalized by payload length → sums to ~1
    assert(run1.forall(r => math.abs(r._3.sum - 1f) < 1e-5))
  }

  test("decodeBatch receives real bounded batches (not per-row calls)") {
    val acc = spark.sparkContext.collectionAccumulator[Int]("batchSizes")
    val probe = new Multimodal.MediaDecoder {
      val featureDim = 2
      def decode(kind: String, payload: Array[Byte]): Multimodal.MediaFeatures =
        Multimodal.MediaFeatures(ok = true, new Array[Float](2), 1)
      override def decodeBatch(batch: Seq[(String, Array[Byte])]): Seq[Multimodal.MediaFeatures] = {
        acc.add(batch.size)
        super.decodeBatch(batch)
      }
    }
    val media = Multimodal.synthesizeMedia(docs).coalesce(1)
    Multimodal.decodeBatched(media, probe, batchSize = 2).collect()
    import scala.jdk.CollectionConverters._
    val sizes = acc.value.asScala.map(_.intValue).toSeq
    assert(sizes.nonEmpty && sizes.max <= 2 && sizes.contains(2)) // genuinely batched, bounded
  }

  test("a throwing decoder yields ok=false zero rows, not a failed task") {
    val boom = new Multimodal.MediaDecoder {
      val featureDim = 4
      def decode(kind: String, payload: Array[Byte]): Multimodal.MediaFeatures =
        throw new RuntimeException("codec missing")
    }
    val got = Multimodal.decodeBatched(Multimodal.synthesizeMedia(docs), boom)
      .select("ok", "features").as[(Boolean, Seq[Float])].collect()
    assert(got.forall(r => !r._1 && r._2 == Seq(0f, 0f, 0f, 0f)))
  }

  // ---- image container header parse (graft.functions.ImageHeader) ----

  import graft.functions.{ImageFunctions, ImageHeader}

  private def hex(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2)
      .map(Integer.parseInt(_, 16).toByte).toArray

  // golden fixture headers, byte-for-byte per the container specs
  private val png800x600 = hex(
    "89504E470D0A1A0A 0000000D 49484452 00000320 00000258 08 06 00 00 00")
  private val jpeg640x480 = hex( // FFD8, APP0(JFIF), SOF0: h=480 w=640
    "FFD8 FFE0 0010 4A46494600 0101 00 0048 0048 0000" +
      " FFC0 0011 08 01E0 0280 03 012200 021101 031101")
  private val jpegProgressive = hex( // SOF2 (progressive) 32x16
    "FFD8 FFE1 0004 0000 FFC2 000B 08 0010 0020 01 012200")
  private val gif320x200 = hex("474946383961 4001 C800 F7 00 00")
  private val bmp123x77 = hex(
    "424D 46000000 00000000 36000000 28000000 7B000000 4D000000 0100 1800")

  test("imageMeta golden cases: PNG/JPEG/GIF/BMP dims off real header bytes") {
    val rows = Seq(
      ("png", png800x600), ("jpeg", jpeg640x480),
      ("jpeg_prog", jpegProgressive), ("gif", gif320x200), ("bmp", bmp123x77))
      .toDF("case", "payload")
    val got = rows.select(col("case"), ImageFunctions.imageMeta(col("payload")).as("m"))
      .select(col("case"), col("m.format"), col("m.width"), col("m.height"))
      .as[(String, String, Option[Int], Option[Int])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("png") == (("png", Some(800), Some(600))))
    assert(got("jpeg") == (("jpeg", Some(640), Some(480))))
    assert(got("jpeg_prog") == (("jpeg", Some(32), Some(16))))
    assert(got("gif") == (("gif", Some(320), Some(200))))
    assert(got("bmp") == (("bmp", Some(123), Some(77))))
  }

  test("imageMeta WebP golden cases: VP8 / VP8L / VP8X dims off real header bytes") {
    // lossy VP8: RIFF + WEBP + 'VP8 ' chunk, 3-byte frame tag, keyframe
    // sync 9D012A, then 14-bit LE width/height (550x368)
    val vp8 = hex(
      "52494646 24000000 57454250 56503820 18000000 300100 9D012A 2602 7001")
    // lossless VP8L: 0x2F then 14-bit packed dims-minus-one
    // bits = (400-1) | (301-1) << 14 → 0x4B118F... compute: 399 | 300<<14
    val vp8lBits = 399L | (300L << 14)
    val vp8l = hex("52494646 1A000000 57454250 5650384C 0D000000 2F" +
      f"${vp8lBits & 0xff}%02X${(vp8lBits >> 8) & 0xff}%02X" +
      f"${(vp8lBits >> 16) & 0xff}%02X${(vp8lBits >> 24) & 0xff}%02X" + "00" * 8)
    // extended VP8X: flags + 24-bit LE canvas dims-minus-one (1920x1080)
    val vp8x = hex("52494646 1E000000 57454250 56503858 0A000000" +
      "00 000000" + "7F0700" + "370400" + "00" * 6)
    val got = Seq(("vp8", vp8), ("vp8l", vp8l), ("vp8x", vp8x))
      .toDF("case", "payload")
      .select(col("case"), ImageFunctions.imageMeta(col("payload")).as("m"))
      .select(col("case"), col("m.format"), col("m.width"), col("m.height"))
      .as[(String, String, Option[Int], Option[Int])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("vp8") == (("webp", Some(550), Some(368))))
    assert(got("vp8l") == (("webp", Some(400), Some(301))))
    assert(got("vp8x") == (("webp", Some(1920), Some(1080))))
    // a WAV payload is RIFF but not WEBP; a WEBP is not WAV
    assert(ImageHeader.packedDims(hex("52494646 24000000 57415645")) == -1L)
    assert(ImageHeader.packedWav(vp8) == -1L)
  }

  test("imageMeta TIFF golden cases: both byte orders, SHORT and LONG tags") {
    // little-endian: II*\0, IFD at 8 with 2 entries — width 256 (LONG
    // 800), length 257 (SHORT 600)
    val tiffLe = hex("49492A00 08000000" + "0200" +
      "0001 0400 01000000 20030000" + // tag 256, LONG, 800
      "0101 0300 01000000 58020000" + // tag 257, SHORT, 600
      "00000000")
    // big-endian: MM\0*, same IFD big-endian — width SHORT 123, length LONG 45
    val tiffBe = hex("4D4D002A 00000008" + "0002" +
      "0100 0003 00000001 007B0000" + // tag 256, SHORT, 123 (first 2 bytes)
      "0101 0004 00000001 0000002D" + // tag 257, LONG, 45
      "00000000")
    val got = Seq(("le", tiffLe), ("be", tiffBe)).toDF("case", "payload")
      .select(col("case"), ImageFunctions.imageMeta(col("payload")).as("m"))
      .select(col("case"), col("m.format"), col("m.width"), col("m.height"))
      .as[(String, String, Option[Int], Option[Int])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("le") == (("tiff", Some(800), Some(600))))
    assert(got("be") == (("tiff", Some(123), Some(45))))
    // corrupt: IFD offset past EOF, missing dim tag, bad value type
    assert(ImageHeader.packedDims(hex("49492A00 FF000000")) == -1L)
    assert(ImageHeader.packedDims(hex("49492A00 08000000" + "0100" +
      "0001 0400 01000000 20030000")) == -1L) // width only, no length
    assert(ImageHeader.packedDims(hex("49492A00 08000000" + "0100" +
      "0001 0200 01000000 20030000")) == -1L) // ASCII-typed dim tag
    // count > 1: value field is an OFFSET, not the dimension — must be
    // rejected, not misread as width=0x320 (r10 ADVICE)
    assert(ImageHeader.packedDims(hex("49492A00 08000000" + "0200" +
      "0001 0400 02000000 20030000" +
      "0101 0300 01000000 58020000" + "00000000")) == -1L)
  }

  test("imageMeta yields NULL fields for non-image and corrupt payloads") {
    val junk = Seq(
      "text" -> "just some text".getBytes("UTF-8"),
      "empty" -> Array.empty[Byte],
      "png_truncated" -> png800x600.take(20),
      "jpeg_no_sof" -> hex("FFD8 FFE0 0004 0000 FFD9"), // EOI before any SOF
      "jpeg_bad_seglen" -> hex("FFD8 FFE0 0001 00"),
      "gif_bad_version" -> hex("474946383561 4001 C800"))
    val got = junk.toDF("case", "payload")
      .select(col("case"), ImageFunctions.imageMeta(col("payload")).as("m"))
      .select(col("case"), col("m.format")).as[(String, String)].collect()
    got.foreach { case (c, f) => assert(f == null, s"case $c parsed as $f") }
  }

  test("interpreted eval agrees with codegen for every fixture") {
    // packedDims is what doGenCode calls; the Dataset select exercises the
    // codegen path — both must agree on every golden and junk fixture
    val all = Seq(png800x600, jpeg640x480, jpegProgressive, gif320x200,
      bmp123x77, "plain".getBytes("UTF-8"), Array.empty[Byte])
    val viaStatic = all.map(b =>
      Option(ImageHeader.packedDims(b)).filter(_ >= 0))
    val viaPlan = all.zipWithIndex.map { case (b, i) => (i, b) }
      .toDF("i", "payload")
      .select(col("i"), ImageFunctions.imageDims(col("payload")).as("d"))
      .as[(Int, Option[Long])].collect().sortBy(_._1).map(_._2).toSeq
    assert(viaPlan == viaStatic)
  }

  test("JPEG fill bytes before a marker are skipped, not fatal") {
    val padded = hex("FFD8 FFFF FFC0 000B 08 0064 00C8 01 012200") // 200x100
    val m = Seq(Tuple1(padded)).toDF("payload")
      .select(ImageFunctions.imageMeta(col("payload")).as("m"))
      .select(col("m.format"), col("m.width"), col("m.height"))
      .as[(String, Int, Int)].head()
    assert(m == (("jpeg", 200, 100)))
  }

  test("synthesizeMedia image payloads round-trip their meta through the header parse") {
    val media = Multimodal.synthesizeMedia(docs)
      .select(col("kind"),
        ImageFunctions.imageMeta(col("payload")).as("hdr"),
        col("meta.width").as("w"), col("meta.height").as("h"))
    val img = media.filter(col("kind") === "image")
      .select(col("hdr.format"), col("hdr.width") === col("w"),
        col("hdr.height") === col("h"))
      .as[(String, Boolean, Boolean)].collect()
    assert(img.nonEmpty && img.forall(r => r._1 == "png" && r._2 && r._3))
    // audio/video payloads are not images: header parse must return NULL
    val other = media.filter(col("kind") =!= "image")
      .select(col("hdr.format")).as[String].collect()
    assert(other.nonEmpty && other.forall(_ == null))
  }

  test("synthesizeMedia audio payloads round-trip meta through WAV/WebM/FLAC/OGG parses") {
    import graft.functions.ImageFunctions
    val media = Multimodal.synthesizeMedia(docs)
      .select(col("kind"), col("meta.format").as("fmt"),
        ImageFunctions.anyAudioMeta(col("payload")).as("any"),
        ImageFunctions.wavInfo(col("payload")).as("wav"),
        ImageFunctions.mkvAudioInfo(col("payload")).as("mkv"),
        ImageFunctions.flacInfo(col("payload")).as("fl"),
        ImageFunctions.oggInfo(col("payload")).as("og"),
        col("meta.sample_rate").as("sr"), col("meta.duration_ms").as("dur"))
    // each container's rows round-trip through anyAudioMeta, and a
    // neighbouring container's parser leaves them alone (the parsers are
    // magic-gated, so each row is decoded by ITS parser)…
    def roundTrip(fmt: String, other: String) = {
      val got = media.filter(col("fmt") === fmt)
        .select(col("any.sample_rate") === col("sr"),
          col("any.duration_ms") === col("dur"), col(other).isNull)
        .as[(Boolean, Boolean, Boolean)].collect()
      assert(got.nonEmpty && got.forall(r => r._1 && r._2 && r._3), fmt)
    }
    roundTrip("wav", "mkv")
    roundTrip("webm_audio", "wav")
    roundTrip("flac", "og")
    roundTrip("ogg", "fl")
    // …and the container-agnostic coalesce covers every audio row
    val any = media.filter(col("kind") === "audio")
      .select(col("any.sample_rate") === col("sr"),
        col("any.duration_ms") === col("dur"))
      .as[(Boolean, Boolean)].collect()
    assert(any.nonEmpty && any.forall(r => r._1 && r._2))
    // image/video payloads are neither RIFF nor EBML audio: both → NULL
    val other = media.filter(col("kind") =!= "audio")
      .select(col("any.sample_rate")).as[Option[Int]].collect()
    assert(other.nonEmpty && other.forall(_.isEmpty))
  }

  test("synthesizeMedia video payloads round-trip meta through MP4/WebM/AVI parses") {
    import graft.functions.ImageFunctions
    val media = Multimodal.synthesizeMedia(docs)
      .select(col("kind"), col("meta.format").as("fmt"),
        ImageFunctions.anyVideoMeta(col("payload")).as("any"),
        ImageFunctions.mp4Info(col("payload")).as("mp4"),
        ImageFunctions.mkvInfo(col("payload")).as("mkv"),
        col("meta.width").as("w"), col("meta.height").as("h"),
        col("meta.duration_ms").as("dur"))
    // each container's rows round-trip through anyVideoMeta, and the
    // other containers' parsers leave them alone…
    def roundTrip(fmt: String, others: String*) = {
      val got = media.filter(col("fmt") === fmt)
        .select((Seq(col("any.width") === col("w"),
          col("any.height") === col("h"),
          col("any.duration_ms") === col("dur")) ++
          others.map(o => col(o).isNull)): _*)
        .collect()
      assert(got.nonEmpty &&
        got.forall(r => (0 until r.length).forall(r.getBoolean)), fmt)
    }
    roundTrip("mp4", "mkv")
    roundTrip("webm", "mp4")
    roundTrip("avi", "mp4", "mkv")
    // …and the container-agnostic coalesce covers every video row
    val any = media.filter(col("kind") === "video")
      .select(col("any.width") === col("w"), col("any.duration_ms") === col("dur"))
      .as[(Boolean, Boolean)].collect()
    assert(any.nonEmpty && any.forall(r => r._1 && r._2))
    // image/audio payloads are neither MP4 nor EBML: both walks → NULL
    val other = media.filter(col("kind") =!= "video")
      .select(col("any.width")).as[Option[Int]].collect()
    assert(other.nonEmpty && other.forall(_.isEmpty))
  }

  test("packedAvi golden and corrupt fixtures; codegen parity") {
    import graft.functions.ImageFunctions
    // RIFF/AVI + LIST hdrl + avih: 40 µs/frame (25 fps), 250 frames
    // (→ 10000 ms), 320x240 — every field at its spec offset
    def le4(v: Long): Array[Byte] =
      (0 until 4).map(k => ((v >> (8 * k)) & 0xff).toByte).toArray
    def aviFix(micro: Long, frames: Long, w: Long, h: Long): Array[Byte] =
      "RIFF".getBytes("US-ASCII") ++ hex("C8000000") ++
        "AVI LIST".getBytes("US-ASCII") ++ hex("40000000") ++
        "hdrlavih".getBytes("US-ASCII") ++ hex("38000000") ++
        le4(micro) ++ hex("00000000" * 3) ++ le4(frames) ++
        hex("00000000" * 3) ++ le4(w) ++ le4(h)
    val avi = aviFix(40000L, 250L, 320L, 240L)
    val p = ImageHeader.packedAvi(avi)
    assert(p >= 0 && (p >> 44) == 320L && ((p >> 24) & 0xfffff) == 240L &&
      (p & 0xffffff) == 10000L)
    // hostile unsigned-32 µs×frames product saturates, never overflows
    val sat = ImageHeader.packedAvi(aviFix(0xffffffffL, 0xffffffffL, 320L, 240L))
    assert(sat >= 0 && (sat & 0xffffff) == 0xffffff)
    val bad = Seq(
      aviFix(0L, 250L, 320L, 240L),          // zero µs/frame
      aviFix(40000L, 250L, 0L, 240L),        // zero width
      "RIFF".getBytes("US-ASCII") ++ hex("C8000000") ++
        "WAVELIST".getBytes("US-ASCII") ++ new Array[Byte](56), // RIFF but WAVE
      avi.take(40),                           // truncated
      "not video".getBytes("UTF-8"), Array.empty[Byte])
    bad.foreach(b => assert(ImageHeader.packedAvi(b) == -1L))
    // interpreted vs codegen parity + anyVideoMeta pickup
    val all = Seq(avi) ++ bad
    val viaStatic = all.map(b => Option(ImageHeader.packedAvi(b)).filter(_ >= 0))
    val viaPlan = all.zipWithIndex.map { case (b, i) => (i, b) }
      .toDF("i", "payload")
      .select(col("i"), ImageFunctions.aviInfo(col("payload")).as("d"))
      .as[(Int, Option[Long])].collect().sortBy(_._1).map(_._2).toSeq
    assert(viaPlan == viaStatic)
    val m = Seq(Tuple1(avi)).toDF("payload")
      .select(ImageFunctions.anyVideoMeta(col("payload")).as("v"))
      .select(col("v.width"), col("v.height"), col("v.duration_ms"))
      .as[(Int, Int, Long)].head()
    assert(m == ((320, 240, 10000L)))
  }

  test("packedPdf golden and corrupt fixtures; codegen parity; " +
    "synthesizePdfs round-trip") {
    import graft.functions.{ImageFunctions, ImageHeader}
    // hand-built classic-xref PDF: offsets computed from the literal
    // segments so the xref table is byte-exact
    def pdf(ver: String, pages: String): Array[Byte] = {
      val h = s"%PDF-$ver\n"
      val o1 = "1 0 obj<</Type/Catalog/Pages 2 0 R>>endobj\n"
      val o2 = s"2 0 obj<</Type/Pages/Kids[3 0 R]/Count $pages>>endobj\n"
      val o3 = "3 0 obj<</Type/Page/Parent 2 0 R>>endobj\n"
      val off1 = h.length; val off2 = off1 + o1.length
      val off3 = off2 + o2.length; val offX = off3 + o3.length
      def e(o: Int) = f"$o%010d 00000 n \n"
      (h + o1 + o2 + o3 +
        "xref\n0 4\n" + "0000000000 65535 f \n" + e(off1) + e(off2) + e(off3) +
        "trailer<</Size 4/Root 1 0 R>>\nstartxref\n" + offX + "\n%%EOF")
        .getBytes("US-ASCII")
    }
    val golden = pdf("1.7", "42")
    val p = ImageHeader.packedPdf(golden)
    assert(p >= 0 && (p >> 40) == 1L && ((p >> 32) & 0xff) == 7L &&
      (p & 0xffffffffL) == 42L)
    // multi-digit version + zero-padded count (both legal PDF numbers)
    val p2 = ImageHeader.packedPdf(pdf("2.0", "000900"))
    assert(p2 >= 0 && (p2 >> 40) == 2L && ((p2 >> 32) & 0xff) == 0L &&
      (p2 & 0xffffffffL) == 900L)
    val bad = Seq(
      golden.take(40),                         // truncated before startxref
      golden.take(golden.length - 20),         // startxref number cut off
      pdf("1.x", "42"),                        // non-numeric version
      new String(golden, "US-ASCII")
        .replace("/Root 1", "/Root 9").getBytes("US-ASCII"), // dangling root
      new String(golden, "US-ASCII")
        .replace("xref\n0 4", "9 0 obj\n<</Type/XRef>>stream")
        .getBytes("US-ASCII"),                 // xref stream missing /W//Size//Root//Length
      "not a pdf at all, though it does say startxref".getBytes("US-ASCII"),
      Array.empty[Byte])
    bad.foreach(b => assert(ImageHeader.packedPdf(b) == -1L,
      new String(b.take(60), "US-ASCII")))
    // interpreted vs codegen parity
    val all = Seq(golden) ++ bad
    val viaStatic = all.map(b => Option(ImageHeader.packedPdf(b)).filter(_ >= 0))
    val viaPlan = all.zipWithIndex.map { case (b, i) => (i, b) }
      .toDF("i", "payload")
      .select(col("i"), ImageFunctions.pdfInfo(col("payload")).as("d"))
      .as[(Int, Option[Long])].collect().sortBy(_._1).map(_._2).toSeq
    assert(viaPlan == viaStatic)
    // synthesizePdfs payloads round-trip their meta through the walk
    val docs = Seq((1L, 57L), (7L, 903L), (10L, 0L))
      .toDF("doc_id", "n_chars")
    val rt = Multimodal.synthesizePdfs(docs)
      .select(col("pdf_id"),
        ImageFunctions.pdfMeta(col("payload")).as("h"),
        col("meta"))
      .select(col("pdf_id"), col("h.version"), col("h.pages"),
        col("meta.version").as("ev"), col("meta.pages").as("ep"))
      .as[(Long, String, Int, String, Int)].collect()
    rt.foreach { case (id, v, pg, ev, ep) =>
      assert(v == ev && pg == ep, s"pdf $id: parsed ($v, $pg) != meta ($ev, $ep)")
    }
  }

  test("packedPdf xref-STREAM fixtures: raw, FlateDecode, PNG Up " +
    "predictor, /Index subsections, ObjStm-compressed catalog, and " +
    "corrupt stream shapes") {
    import graft.functions.ImageHeader
    def deflate(a: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(a); d.finish()
      val buf = new Array[Byte](a.length * 2 + 64)
      val n = d.deflate(buf); d.end(); buf.take(n)
    }
    def ent(t: Int, f2: Int, f3: Int): Array[Byte] =
      Array(t.toByte, (f2 >> 8).toByte, f2.toByte, (f3 >> 8).toByte, f3.toByte)
    // PNG Up filter encode: each 5-byte row prefixed by filter type 2,
    // data = raw - priorRow (mod 256)
    def upEncode(rows: Array[Array[Byte]]): Array[Byte] =
      rows.zipWithIndex.flatMap { case (r, i) =>
        val prior = if (i == 0) new Array[Byte](r.length) else rows(i - 1)
        2.toByte +: r.indices.map(x => (r(x) - prior(x)).toByte)
      }
    def xrefPdf(ver: String, pages: String, flate: Boolean,
                predictor: Boolean, indexed: Boolean): Array[Byte] = {
      val h = s"%PDF-$ver\n"
      val o1 = "1 0 obj<</Type/Catalog/Pages 2 0 R>>endobj\n"
      val o2 = s"2 0 obj<</Type/Pages/Kids[3 0 R]/Count $pages>>endobj\n"
      val o3 = "3 0 obj<</Type/Page/Parent 2 0 R>>endobj\n"
      val off1 = h.length; val off2 = off1 + o1.length
      val off3 = off2 + o2.length; val offX = off3 + o3.length
      val rows = Array(ent(0, 0, 0xffff), ent(1, off1, 0),
        ent(1, off2, 0), ent(1, off3, 0), ent(1, offX, 0))
      val payload =
        if (predictor) upEncode(rows) else rows.flatten
      val data = if (flate) deflate(payload) else payload
      val parms =
        if (predictor) "/DecodeParms<</Predictor 12/Columns 5>>" else ""
      val filter = if (flate) "/Filter/FlateDecode" else ""
      val idx = if (indexed) "/Index[0 3 3 2]" else ""
      val dict = s"4 0 obj<</Type/XRef/Size 5/W[1 2 2]$idx$filter$parms" +
        s"/Root 1 0 R/Length ${data.length}>>stream\n"
      (h + o1 + o2 + o3 + dict).getBytes("US-ASCII") ++ data ++
        s"\nendstream\nendobj\nstartxref\n$offX\n%%EOF".getBytes("US-ASCII")
    }
    def check(b: Array[Byte], maj: Long, min: Long, pages: Long): Unit = {
      val p = ImageHeader.packedPdf(b)
      assert(p >= 0, "stream walk failed")
      assert((p >> 40) == maj && ((p >> 32) & 0xff) == min &&
        (p & 0xffffffffL) == pages)
    }
    check(xrefPdf("1.5", "42", flate = false, predictor = false,
      indexed = false), 1, 5, 42)
    check(xrefPdf("1.7", "000900", flate = true, predictor = false,
      indexed = false), 1, 7, 900)
    // the real-world default: FlateDecode + PNG Up predictor
    check(xrefPdf("2.0", "7", flate = true, predictor = true,
      indexed = false), 2, 0, 7)
    // explicit /Index subsections covering the same 5 objects
    check(xrefPdf("1.6", "13", flate = true, predictor = true,
      indexed = true), 1, 6, 13)

    // catalog + page tree COMPRESSED in an object stream (type-2
    // entries resolved through the /Type/ObjStm container)
    def objStmPdf(pages: String, corruptObjStm: Boolean): Array[Byte] = {
      val h = "%PDF-1.6\n"
      val o3 = "3 0 obj<</Type/Page/Parent 2 0 R>>endobj\n"
      val cat = "<</Type/Catalog/Pages 2 0 R>>"
      val pg = s"<</Type/Pages/Kids[3 0 R]/Count $pages>>"
      val header = s"1 0 2 ${cat.length} "
      val stmPayload = (header + cat + pg).getBytes("US-ASCII")
      val stmData = deflate(stmPayload)
      val off3 = h.length
      val offStm = off3 + o3.length
      val tpe = if (corruptObjStm) "/Type/NotObjStm" else "/Type/ObjStm"
      val stmDict = s"5 0 obj<<$tpe/N 2/First ${header.length}" +
        s"/Filter/FlateDecode/Length ${stmData.length}>>stream\n"
      val stmTail = "\nendstream\nendobj\n"
      val offX = offStm + stmDict.length + stmData.length + stmTail.length
      val rows = Array(
        ent(0, 0, 0xffff),   // 0 free
        ent(2, 5, 0),        // 1 = catalog, in stream 5 index 0
        ent(2, 5, 1),        // 2 = pages, in stream 5 index 1
        ent(1, off3, 0),     // 3 direct
        ent(1, offX, 0),     // 4 = this xref stream
        ent(1, offStm, 0))   // 5 = the ObjStm container
      val data = rows.flatten
      val dict = s"4 0 obj<</Type/XRef/Size 6/W[1 2 2]" +
        s"/Root 1 0 R/Length ${data.length}>>stream\n"
      (h + o3 + stmDict).getBytes("US-ASCII") ++ stmData ++
        (stmTail + dict).getBytes("US-ASCII") ++ data ++
        s"\nendstream\nendobj\nstartxref\n$offX\n%%EOF".getBytes("US-ASCII")
    }
    check(objStmPdf("314", corruptObjStm = false), 1, 6, 314)
    assert(ImageHeader.packedPdf(
      objStmPdf("314", corruptObjStm = true)) == -1L)

    // corrupt stream shapes: every one must be -1, never a throw
    val good = xrefPdf("1.5", "42", flate = true, predictor = true,
      indexed = false)
    def mutate(find: String, repl: String): Array[Byte] =
      new String(good.map(_.toChar)).replace(find, repl)
        .toCharArray.map(_.toByte)
    val badOnes = Seq(
      good.take(good.length - 30),               // stream cut mid-data
      mutate("/W[1 2 2]", "/W[1 0 2]"),          // w1 = 0 (no offsets)
      mutate("/Root 1 0 R", "/Base 1 0 R"),      // no /Root
      mutate("/Type/XRef", "/Type/XLef"),        // not an xref stream
      mutate("/Predictor 12", "/Predictor 2"),   // TIFF predictor: refuse
      mutate("/FlateDecode", "/LZWDecodexx"),    // unsupported filter
      {                                          // garbage deflate bytes
        val g = good.clone()
        val s = new String(good.map(_.toChar)).indexOf("stream\n") + 7
        (0 until 8).foreach(k => g(s + k) = (0x55 + k).toByte)
        g
      })
    badOnes.foreach(b => assert(ImageHeader.packedPdf(b) == -1L,
      new String(b.take(80).map(_.toChar))))
  }

  test("packedMp4 golden and corrupt fixtures") {
    import graft.functions.ImageHeader
    def hx(s: String): Array[Byte] =
      s.replaceAll("\\s", "").grouped(2)
        .map(Integer.parseInt(_, 16).toByte).toArray
    // minimal ftyp + moov[mvhd v0 (ts 1000, dur 2500) + trak[tkhd v0,
    // 320x240 as 16.16 fixed]] — box sizes all correct
    val matrix = "00010000" + "00000000" * 3 + "00010000" +
      "00000000" * 3 + "40000000"
    val mp4 = hx(
      "00000010 66747970 69736F6D 00000200" +
        "000000D8 6D6F6F76" +
        "0000006C 6D766864 00000000 00000000 00000000 000003E8 000009C4" +
        "00" * 80 +
        "00000064 7472616B" +
        "0000005C 746B6864 00000007 00000000 00000000 00000001 00000000 000009C4" +
        "00" * 16 + matrix +
        "01400000 00F00000")
    val packed = ImageHeader.packedMp4(mp4)
    assert(packed >= 0)
    assert((packed >> 44) == 320L, s"w=${packed >> 44}")
    assert(((packed >> 24) & 0xfffff) == 240L)
    assert((packed & 0xffffff) == 2500L)
    // corrupt shapes → -1
    assert(ImageHeader.packedMp4(mp4.take(40)) == -1L)        // truncated moov
    assert(ImageHeader.packedMp4(hx("00000010 66747970 69736F6D 00000200")) == -1L) // no moov
    assert(ImageHeader.packedMp4("not a video at all".getBytes("UTF-8")) == -1L)
    assert(ImageHeader.packedMp4(Array.empty[Byte]) == -1L)
  }

  test("packedMkv golden and corrupt fixtures; codegen parity") {
    import graft.functions.{ImageFunctions, ImageHeader}
    def hx(s: String): Array[Byte] =
      s.replaceAll("\\s", "").grouped(2)
        .map(Integer.parseInt(_, 16).toByte).toArray
    // minimal WebM: EBML(DocType webm) + Segment[Info(scale 1e6,
    // Duration f64 2500.0) + Tracks[TrackEntry[Video[320x240]]]] —
    // every size vint correct per the EBML spec
    val webm = hx(
      "1A45DFA3 87 4282 84 7765626D" +
        " 18538067 A9" +
        " 1549A966 93 2AD7B1 84 000F4240 4489 88 40A3880000000000" +
        " 1654AE6B 8C AE 8A E0 88 B0 82 0140 BA 82 00F0")
    val packed = ImageHeader.packedMkv(webm)
    assert(packed >= 0)
    assert((packed >> 44) == 320L, s"w=${packed >> 44}")
    assert(((packed >> 24) & 0xfffff) == 240L)
    assert((packed & 0xffffff) == 2500L)
    // matroska DocType + UNKNOWN-size segment (clamps to buffer) +
    // float32 Duration — all legal spec variants
    val mkvUnknown = hx(
      "1A45DFA3 8B 4282 88 6D6174726F736B61" +
        " 18538067 FF" +
        " 1549A966 8F 2AD7B1 84 000F4240 4489 84 451C4000" +
        " 1654AE6B 8C AE 8A E0 88 B0 82 0140 BA 82 00F0")
    val p2 = ImageHeader.packedMkv(mkvUnknown)
    assert(p2 >= 0 && (p2 & 0xffffff) == 2500L && (p2 >> 44) == 320L)
    // no Info at all → duration 0, dims still parse (live-muxed shape)
    val noInfo = hx(
      "1A45DFA3 87 4282 84 7765626D" +
        " 18538067 91" +
        " 1654AE6B 8C AE 8A E0 88 B0 82 0140 BA 82 00F0")
    val p3 = ImageHeader.packedMkv(noInfo)
    assert(p3 >= 0 && (p3 & 0xffffff) == 0L && ((p3 >> 24) & 0xfffff) == 240L)
    // audio twin: TrackEntry carries an Audio element (SamplingFrequency
    // f64 16 kHz) — video walk → -1, audio walk → rate+duration
    val webmAudio = hx(
      "1A45DFA3 87 4282 84 7765626D" +
        " 18538067 AB" +
        " 1549A966 93 2AD7B1 84 000F4240 4489 88 40A3880000000000" +
        " 1654AE6B 8E AE 8C E1 8A B5 88 40CF400000000000")
    assert(ImageHeader.packedMkv(webmAudio) == -1L)
    val pa = ImageHeader.packedMkvAudio(webmAudio)
    assert(pa >= 0 && (pa >> 24) == 16000L && (pa & 0xffffff) == 2500L)
    // an Audio element with NO SamplingFrequency uses the spec default
    val webmAudioDefault = hx(
      "1A45DFA3 87 4282 84 7765626D" +
        " 18538067 8B 1654AE6B 86 AE 84 E1 82 9F 80")
    val pd = ImageHeader.packedMkvAudio(webmAudioDefault)
    assert(pd >= 0 && (pd >> 24) == 8000L && (pd & 0xffffff) == 0L)
    // video files are not audio, and vice versa
    assert(ImageHeader.packedMkvAudio(webm) == -1L)
    // corrupt / foreign shapes → -1
    val audioOnly = hx( // TrackEntry with no Video child
      "1A45DFA3 87 4282 84 7765626D" +
        " 18538067 8A 1654AE6B 85 AE 83 D7 81 01")
    assert(ImageHeader.packedMkv(audioOnly) == -1L)
    assert(ImageHeader.packedMkvAudio(audioOnly) == -1L) // no Audio element either
    assert(ImageHeader.packedMkv(hx(
      "1A45DFA3 87 4282 84 786D6C21" + " 18538067 A9")) == -1L) // DocType "xml!"
    assert(ImageHeader.packedMkv(webm.take(30)) == -1L)          // truncated walk
    assert(ImageHeader.packedMkv("not a video at all".getBytes("UTF-8")) == -1L)
    assert(ImageHeader.packedMkv(Array.empty[Byte]) == -1L)
    // interpreted (static) vs codegen (plan) parity on every fixture,
    // both walks
    val all = Seq(webm, mkvUnknown, noInfo, webmAudio, webmAudioDefault,
      audioOnly, "junk".getBytes("UTF-8"), Array.empty[Byte])
    val viaStatic = all.map(b => (
      Option(ImageHeader.packedMkv(b)).filter(_ >= 0),
      Option(ImageHeader.packedMkvAudio(b)).filter(_ >= 0)))
    val viaPlan = all.zipWithIndex.map { case (b, i) => (i, b) }
      .toDF("i", "payload")
      .select(col("i"), ImageFunctions.mkvInfo(col("payload")).as("d"),
        ImageFunctions.mkvAudioInfo(col("payload")).as("a"))
      .as[(Int, Option[Long], Option[Long])].collect()
      .sortBy(_._1).map(r => (r._2, r._3)).toSeq
    assert(viaPlan == viaStatic)
  }

  test("packedMp3 golden and corrupt fixtures; codegen parity") {
    import graft.functions.{ImageFunctions, ImageHeader}
    // MPEG1 Layer III 128 kbps 44100 Hz header (FF FB 90 00), padded to
    // 1600 bytes total → CBR duration 1600·8/128 = 100 ms
    val mp3 = Array(0xff, 0xfb, 0x90, 0x00).map(_.toByte) ++
      new Array[Byte](1596)
    val p = ImageHeader.packedMp3(mp3)
    assert(p >= 0 && (p >> 24) == 44100L && (p & 0xffffff) == 100L)
    // ID3v2-prefixed (syncsafe size 10 → frame at offset 20): duration
    // counts from the frame start, not the tag
    val id3 = "ID3".getBytes("US-ASCII") ++
      Array(4, 0, 0, 0, 0, 0, 10).map(_.toByte) ++ new Array[Byte](10) ++
      Array(0xff, 0xfb, 0x90, 0x00).map(_.toByte) ++ new Array[Byte](1596)
    val p2 = ImageHeader.packedMp3(id3)
    assert(p2 >= 0 && (p2 >> 24) == 44100L && (p2 & 0xffffff) == 100L)
    // MPEG2.5 Layer III (FF E3), 32 kbps (V2 table idx 4), 8000 Hz (idx 2)
    val v25 = Array(0xff, 0xe3, 0x48, 0x00).map(_.toByte) ++ new Array[Byte](396)
    val p3 = ImageHeader.packedMp3(v25)
    assert(p3 >= 0 && (p3 >> 24) == 8000L && (p3 & 0xffffff) == 100L)
    // corrupt / foreign shapes → -1
    val bad = Seq(
      Array(0xff, 0xfd, 0x90, 0x00).map(_.toByte), // Layer II
      Array(0xff, 0xeb, 0x90, 0x00).map(_.toByte), // reserved version
      Array(0xff, 0xfb, 0x00, 0x00).map(_.toByte), // free bitrate
      Array(0xff, 0xfb, 0xf0, 0x00).map(_.toByte), // bad bitrate idx 15
      Array(0xff, 0xfb, 0x9c, 0x00).map(_.toByte), // reserved sample idx
      "ID3".getBytes("US-ASCII") ++ Array(4, 0, 0, 0, 0, 0, 0x80).map(_.toByte), // non-syncsafe
      "ID3".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0, 0, 0, 10),    // tag past EOF
      "not audio".getBytes("UTF-8"), Array.empty[Byte])
    bad.foreach(b => assert(ImageHeader.packedMp3(b) == -1L))
    // interpreted vs codegen parity
    val all = Seq(mp3, id3, v25) ++ bad
    val viaStatic = all.map(b => Option(ImageHeader.packedMp3(b)).filter(_ >= 0))
    val viaPlan = all.zipWithIndex.map { case (b, i) => (i, b) }
      .toDF("i", "payload")
      .select(col("i"), ImageFunctions.mp3Info(col("payload")).as("d"))
      .as[(Int, Option[Long])].collect().sortBy(_._1).map(_._2).toSeq
    assert(viaPlan == viaStatic)
    // anyAudioMeta picks it up alongside WAV and WebM audio
    val m = Seq(Tuple1(mp3)).toDF("payload")
      .select(ImageFunctions.anyAudioMeta(col("payload")).as("a"))
      .select(col("a.sample_rate"), col("a.duration_ms"))
      .as[(Int, Long)].head()
    assert(m == ((44100, 100L)))
  }

  test("packedFlac / packedOgg golden and corrupt fixtures; codegen parity") {
    import graft.functions.{ImageFunctions, ImageHeader}
    // FLAC: fLaC + STREAMINFO(34B): rate 44100 at bit offset 80 of the
    // block (bytes 10-12: 44100<<4 = 0x0AC440), total samples 44100
    // (36-bit field: low nibble of byte 13 ++ bytes 14-17) → 1000 ms
    def flacFix(rate: Int, samples: Long): Array[Byte] = {
      val si = new Array[Byte](34)
      si(10) = ((rate >> 12) & 0xff).toByte
      si(11) = ((rate >> 4) & 0xff).toByte
      si(12) = ((rate & 0xf) << 4).toByte
      si(13) = ((samples >> 32) & 0xf).toByte
      si(14) = ((samples >> 24) & 0xff).toByte
      si(15) = ((samples >> 16) & 0xff).toByte
      si(16) = ((samples >> 8) & 0xff).toByte
      si(17) = (samples & 0xff).toByte
      "fLaC".getBytes("US-ASCII") ++
        Array(0x80, 0, 0, 34).map(_.toByte) ++ si // last-block flag set
    }
    val flac = flacFix(44100, 44100L)
    val pf = ImageHeader.packedFlac(flac)
    assert(pf >= 0 && (pf >> 24) == 44100L && (pf & 0xffffff) == 1000L)
    // unknown length (total samples 0) → duration 0, rate still reported
    val pu = ImageHeader.packedFlac(flacFix(8000, 0L))
    assert(pu >= 0 && (pu >> 24) == 8000L && (pu & 0xffffff) == 0L)
    // OGG: first page (granule 0) carrying a Vorbis id header, then a
    // data page with granule 22050 at the Vorbis 44100 clock → 500 ms
    def oggPage(granule: Long, packet: Array[Byte]): Array[Byte] = {
      require(packet.length < 255)
      val h = new Array[Byte](27)
      "OggS".getBytes("US-ASCII").copyToArray(h)
      (0 until 8).foreach(k => h(6 + k) = ((granule >> (8 * k)) & 0xff).toByte)
      h(26) = 1 // one segment
      h ++ Array(packet.length.toByte) ++ packet
    }
    val vorbisId = Array(1.toByte) ++ "vorbis".getBytes("US-ASCII") ++
      new Array[Byte](4) ++ Array(2.toByte) ++ // version, channels
      Array(0x44, 0xac, 0, 0).map(_.toByte) ++ new Array[Byte](11) // rate LE
    val ogg = oggPage(0L, vorbisId) ++ oggPage(22050L, new Array[Byte](8))
    val po = ImageHeader.packedOgg(ogg)
    assert(po >= 0 && (po >> 24) == 44100L && (po & 0xffffff) == 500L)
    // Opus: declared input rate 16000 reported, but granules tick at
    // 48 kHz → 24000 ticks = 500 ms
    val opusId = "OpusHead".getBytes("US-ASCII") ++
      Array(1, 2, 0, 0).map(_.toByte) ++ // version, ch, pre-skip
      Array(0x80, 0x3e, 0, 0).map(_.toByte) ++ new Array[Byte](3) // 16000 LE
    val opus = oggPage(0L, opusId) ++ oggPage(24000L, new Array[Byte](8))
    val pop = ImageHeader.packedOgg(opus)
    assert(pop >= 0 && (pop >> 24) == 16000L && (pop & 0xffffff) == 500L)
    // header-only download: only the granule-0 id page present → 0 ms
    val hdrOnly = ImageHeader.packedOgg(oggPage(0L, vorbisId))
    assert(hdrOnly >= 0 && (hdrOnly & 0xffffff) == 0L)
    // hostile near-max granule saturates the duration, never overflows
    val satOgg = ImageHeader.packedOgg(
      oggPage(0L, vorbisId) ++ oggPage(Long.MaxValue - 1, new Array[Byte](8)))
    assert(satOgg >= 0 && (satOgg & 0xffffff) == 0xffffff)
    // corrupt / foreign shapes → -1
    val bad = Seq(
      "fLaC".getBytes("US-ASCII"),                                   // truncated
      "fLaC".getBytes("US-ASCII") ++ Array(0x84, 0, 0, 34).map(_.toByte) ++
        new Array[Byte](34),                                          // wrong first block type
      "fLaC".getBytes("US-ASCII") ++ Array(0x80, 0, 0, 20).map(_.toByte) ++
        new Array[Byte](34),                                          // wrong STREAMINFO length
      flacFix(0, 44100L),                                             // zero rate
      oggPage(0L, "notavalidheader!".getBytes("US-ASCII")),           // foreign first packet
      { val p = oggPage(0L, vorbisId); p(4) = 1; p },                 // bad stream version
      "OggS".getBytes("US-ASCII"),                                    // truncated page
      "not audio".getBytes("UTF-8"), Array.empty[Byte])
    bad.foreach(b => assert(ImageHeader.packedFlac(b) == -1L &&
      ImageHeader.packedOgg(b) == -1L))
    // interpreted vs codegen parity over every fixture, both parsers
    val all = Seq(flac, ogg, opus) ++ bad
    def viaStatic(f: Array[Byte] => Long) =
      all.map(b => Option(f(b)).filter(_ >= 0))
    def viaPlan(mk: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      all.zipWithIndex.map { case (b, i) => (i, b) }.toDF("i", "payload")
        .select(col("i"), mk(col("payload")).as("d"))
        .as[(Int, Option[Long])].collect().sortBy(_._1).map(_._2).toSeq
    assert(viaPlan(ImageFunctions.flacInfo) == viaStatic(ImageHeader.packedFlac))
    assert(viaPlan(ImageFunctions.oggInfo) == viaStatic(ImageHeader.packedOgg))
    // anyAudioMeta picks both up alongside WAV/WebM/MP3
    val m = Seq(Tuple1(flac), Tuple1(opus)).toDF("payload")
      .select(ImageFunctions.anyAudioMeta(col("payload")).as("a"))
      .select(col("a.sample_rate"), col("a.duration_ms"))
      .as[(Int, Long)].collect().toSet
    assert(m == Set((44100, 1000L), (16000, 500L)))
  }

  test("packedWav golden and corrupt fixtures") {
    import graft.functions.ImageHeader
    def hx(s: String): Array[Byte] =
      s.replaceAll("\\s", "").grouped(2)
        .map(Integer.parseInt(_, 16).toByte).toArray
    // canonical 16 kHz mono 16-bit WAV, data chunk 64000 bytes → 2000 ms
    val wav = hx("52494646 24FA0000 57415645" +
      " 666D7420 10000000 0100 0100 803E0000 007D0000 0200 1000" +
      " 64617461 00FA0000")
    val packed = ImageHeader.packedWav(wav)
    assert(packed >= 0)
    assert((packed >> 24) == 16000L && (packed & 0xffffff) == 2000L)
    // corrupt shapes → -1
    assert(ImageHeader.packedWav(hx("52494646 24FA0000 57415646")) == -1L) // not WAVE
    assert(ImageHeader.packedWav(hx("52494646")) == -1L)                   // truncated
    assert(ImageHeader.packedWav("RIFFxxxxWAVE".getBytes("UTF-8")) == -1L) // no chunks
    assert(ImageHeader.packedWav(Array.empty[Byte]) == -1L)
  }
}

package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Classify, Cleaning, Dedup, Delta, Fingerprint, TextStats, Upsert}

/** Property-style invariants over generated inputs (fixed seed → stable
  * CI): the SURVEY §5.2 properties — checksum determinism and field-subset
  * invariance, delta-split partition property, domain-coerce idempotence,
  * keep-first = minimum-under-order. */
class PropertySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new Random(42)
  private def randStr(): String = {
    val pool = Seq("", " ", "x", "yy", "zzz", "Ab c", "ñé", "0", "p|q")
    pool(rnd.nextInt(pool.size))
  }

  test("checksum: deterministic and invariant to extra fields (100 cases)") {
    val rows = Seq.fill(100)((randStr(), randStr(), randStr()))
    val base = rows.toDF("a", "b", "junk")
    val h1 = base.select(Fingerprint.rowHash(Seq(col("a"), col("b")))).as[String].collect()
    val h2 = base.select(Fingerprint.rowHash(Seq(col("a"), col("b")))).as[String].collect()
    val h3 = base.drop("junk").select(Fingerprint.rowHash(Seq(col("a"), col("b"))))
      .as[String].collect()
    assert(h1.toSeq == h2.toSeq)
    assert(h1.toSeq == h3.toSeq)
    // sensitivity: different field subset => different hash (for distinct values)
    val h4 = base.select(Fingerprint.rowHash(Seq(col("a")))).as[String].collect()
    rows.zipWithIndex.foreach { case ((_, b, _), i) =>
      if (b.nonEmpty) assert(h1(i) != h4(i))
    }
  }

  test("delta split: to_detail ⊎ bypass = fresh, disjoint (20 random tables)") {
    for (_ <- 1 to 20) {
      val keys = (1 to 10).map(i => s"k$i")
      val fresh = Seq.fill(15)((keys(rnd.nextInt(keys.size)), s"h${rnd.nextInt(3)}", rnd.nextInt(100)))
        .toDF("key", "row_hash", "payload")
      val state = rnd.shuffle(keys).take(rnd.nextInt(keys.size))
        .map(k => (k, s"h${rnd.nextInt(3)}")).toDF("key", "row_hash")
      val (toDetail, bypass) = Delta.split(fresh, state, Seq("key"))
      val d = toDetail.select("key", "row_hash", "payload").collect().toSet
      val b = bypass.select("key", "row_hash", "payload").collect().toSet
      val all = fresh.collect().toSet
      assert(d.union(b).map(_.toSeq) == all.map(_.toSeq))
      assert(d.intersect(b).isEmpty)
    }
  }

  test("domainCoerce is idempotent and total (200 labels)") {
    val allowed = Seq("a", "b", "c")
    val labels = Seq.fill(200)(Seq("a", "b", "c", "", "zz", "otros")(rnd.nextInt(6)))
    val df = labels.toDF("l")
    val once = df.select(Classify.domainCoerce(col("l"), allowed).as("l"))
    val twice = once.select(Classify.domainCoerce(col("l"), allowed).as("l"))
    assert(once.as[String].collect().toSeq == twice.as[String].collect().toSeq)
    assert(once.as[String].collect().forall(l => allowed.contains(l) || l == "otros"))
  }

  test("clusterPairs matches a reference union-find (10 random graphs)") {
    for (_ <- 1 to 10) {
      val n = 12
      val pairs = Seq.fill(8)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // reference union-find over the same edges
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n).map(i => (i.toLong, find(i).toLong)).toSet
      val got = Dedup.clusterPairs(
        pairs.toDF("id_a", "id_b"), "id_a", "id_b",
        (0 until n).map(_.toLong).toDF("doc_id"), "doc_id")
        .as[(Long, Long, Boolean)].collect()
        .map { case (i, c, _) => (i, c) }.toSet
      assert(got == expected)
    }
  }

  test("dedupTokenWindows matches a brute-force reference (15 random corpora)") {
    // Reference: hash every w-window, keep-first by (doc, pos), cover
    // non-winner windows, strip covered tokens — computed in plain
    // Scala over the same corpus.
    val w = 3
    (1 to 15).foreach { _ =>
      val vocab = Seq("a", "b", "c", "d")
      val docs = (1 to (2 + rnd.nextInt(5))).map { id =>
        (id.toLong,
          Seq.fill(rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      // brute force
      val toks = docs.map { case (id, t) =>
        id -> t.split(" ").filter(_.nonEmpty).toSeq
      }.toMap
      val wins = for {
        (id, ts) <- toks.toSeq; p <- 1 to ts.length - w + 1
      } yield (ts.slice(p - 1, p - 1 + w).mkString(" "), id, p)
      val first = wins.groupBy(_._1).map { case (k, occ) =>
        k -> occ.map(o => (o._2, o._3)).min
      }
      val covered = wins.filter(o => first(o._1) != ((o._2, o._3)))
        .flatMap(o => (o._3 until o._3 + w).map(tp => (o._2, tp))).toSet
      val expect = docs.map { case (id, _) =>
        val ts = toks(id)
        val kept = ts.zipWithIndex.collect {
          case (t, i) if !covered((id, i + 1)) => t
        }
        (id, kept.mkString(" "), ts.length.toLong, kept.length.toLong)
      }.sortBy(_._1)
      val got = Dedup.dedupTokenWindows(docs.toDF("doc_id", "text"),
        "doc_id", filter(split(col("text"), " "), t => t =!= ""), w)
        .select("doc_id", "clean_text", "n_tok", "n_kept")
        .as[(Long, String, Long, Long)].collect().toList.sortBy(_._1)
      assert(got == expect.toList)
    }
  }

  test("dropCommonParagraphs: survivors = paragraphs with df <= threshold, order kept") {
    (1 to 15).foreach { _ =>
      val paras = Seq("p1", "p2", "p3", "p4")
      val docs = (1 to (3 + rnd.nextInt(4))).map { id =>
        (id.toLong,
          Seq.fill(1 + rnd.nextInt(4))(paras(rnd.nextInt(paras.size))).mkString("\n"))
      }
      val maxDf = 2L
      val df = docs.flatMap { case (id, t) => t.split("\n").distinct.map(_ -> id) }
        .groupBy(_._1).map { case (p, occ) => p -> occ.size.toLong }
      val expect = docs.map { case (id, t) =>
        val all = t.split("\n").toSeq
        val kept = all.filter(p => df(p) <= maxDf)
        (id, kept.mkString("\n"), all.length.toLong, kept.length.toLong)
      }.sortBy(_._1)
      val got = Dedup.dropCommonParagraphs(docs.toDF("doc_id", "text"),
        "doc_id", "text", "\n", maxDf)
        .select("doc_id", "clean_text", "n_paras", "n_kept")
        .as[(Long, String, Long, Long)].collect().toList.sortBy(_._1)
      assert(got == expect.toList)
    }
  }

  test("hammingPairs is exact within bands-1 flips, any band split (8 and 2 bands)") {
    // 20 hashes in 5 groups: base xor up to 3 single-bit flips.
    val hashes = (0 until 20).map { i =>
      val base = rnd.nextLong()
      (i.toLong, base ^ (if (i % 4 == 0) 0L else 1L << rnd.nextInt(64)))
    }
    def brute(maxD: Int) = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= maxD
    } yield (ia, ib, d.toLong)).toSet
    Seq(2, 8).foreach { bands =>
      val maxD = bands - 1  // pigeonhole exactness radius
      val got = Dedup.hammingPairs(
        hashes.toDF("id", "h"), "id", "h", maxDist = maxD, bands = bands)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == brute(maxD), s"bands=$bands")
    }
  }

  test("ngrams: count = max(0, len-n+1), each gram joins n tokens (100 cases)") {
    val toks = Seq.fill(100)(Seq.fill(rnd.nextInt(6))(randStr().replace(" ", "").replace("_", "t")))
    for (n <- 1 to 4) {
      val got = toks.toDF("toks")
        .select(TextStats.ngrams(col("toks"), n)).as[Seq[String]].collect()
      toks.zip(got).foreach { case (t, g) =>
        assert(g.size == math.max(0, t.size - n + 1))
        g.foreach(x => assert(x.split("_", -1).length == n))
      }
    }
  }

  test("repetition metrics stay in bounds (200 docs)") {
    val docs = Seq.fill(200)(
      Seq.fill(1 + rnd.nextInt(20))(s"w${rnd.nextInt(5)}").mkString(" "))
    val rows = docs.toDF("t").select(
      TextStats.topTokenFrac(split(col("t"), " ")).as("ttf"),
      TextStats.dupGramFrac(TextStats.bigrams(split(col("t"), " "))).as("dbf"),
      size(split(col("t"), " ")).as("n"))
      .as[(Double, Double, Int)].collect()
    rows.foreach { case (ttf, dbf, n) =>
      assert(ttf >= 1.0 / n - 1e-6 && ttf <= 1.0)
      assert(dbf >= 0.0 && dbf < 1.0)
    }
  }

  test("redactPii is idempotent and leaves no raw PII behind (100 strings)") {
    val piiPool = Seq("bob@x.org", "555-1234-5678", "123456789012", "plain word")
    val strs = Seq.fill(100)(
      Seq.fill(1 + rnd.nextInt(4))(piiPool(rnd.nextInt(piiPool.size))).mkString(" "))
    val once = strs.toDF("t").select(Cleaning.redactPii(col("t"))).as[String].collect()
    val twice = once.toSeq.toDF("t").select(Cleaning.redactPii(col("t"))).as[String].collect()
    assert(once.toSeq == twice.toSeq)
    once.foreach { s =>
      assert(!s.contains("@") || s.contains("<EMAIL>"))
      assert(!s.matches(".*\\d{9,}.*"))
    }
  }

  test("chunkedPack invariants: offsets bounded, running sums consistent (20 shards)") {
    val rows = for {
      shard <- 1 to 20
      i <- 1 to (1 + rnd.nextInt(8))
    } yield (s"s$shard", i.toLong, 1 + rnd.nextInt(700))
    val got = graft.operators.Packing.chunkedPack(
      rows.toDF("shard", "id", "n"), col("shard"), col("id"), col("n"), 512)
      .select("shard", "id", "n", "tok_before", "seq_id", "tok_offset")
      .as[(String, Long, Int, Long, Long, Long)].collect()
    got.groupBy(_._1).foreach { case (_, docs) =>
      val ordered = docs.sortBy(_._2)
      var cum = 0L
      ordered.foreach { case (_, _, n, before, seq, off) =>
        assert(before == cum)             // running sum of everything before
        assert(off == before % 512)       // offset inside the sequence
        assert(off >= 0 && off < 512)
        assert(seq == before / 512)       // budget-chunk assignment
        cum += n
      }
    }
  }

  test("urlHost output never contains scheme, userinfo, port, or path chars") {
    val pool = Seq(
      "https://a.example.org/x", "HTTP://B.EXAMPLE.ORG", "ftp://u:p@c.org:21/d",
      "not a url", "https://plain", "http://x.org:8080/p?q=1#f", "")
    val hosts = Seq.fill(50)(pool(rnd.nextInt(pool.size))).toDF("u")
      .select(graft.operators.Cleaning.urlHost(col("u"))).as[String].collect()
    hosts.foreach { h =>
      assert(!h.exists(c => "@:/?#".contains(c)), s"bad host '$h'")
      assert(h == h.toLowerCase)
    }
  }

  test("XmlFields fast path matches builtin xpath on random trees+paths") {
    // random small XML trees (nested elements from a tiny tag pool,
    // attrs, text chunks, CDATA, entities, empty elements) × random
    // simple paths — the hand-compiled DOM walk must be byte-identical
    // to the builtin's node sets on every (doc, path) pair
    val tags = Seq("a", "b", "c")
    def randTree(depth: Int): String = {
      val tag = tags(rnd.nextInt(tags.size))
      val attr = if (rnd.nextBoolean()) s""" href="/h${rnd.nextInt(3)}"""" else ""
      val kids =
        if (depth >= 3) ""
        else (0 until rnd.nextInt(3)).map { _ =>
          rnd.nextInt(4) match {
            case 0 => randTree(depth + 1)
            case 1 => s"t${rnd.nextInt(5)}"
            case 2 => "<![CDATA[cd]]>x"
            case _ => "p&amp;q"
          }
        }.mkString
      s"<$tag$attr>$kids</$tag>"
    }
    def randPath(): String = {
      val prefix = if (rnd.nextBoolean()) "//" else "/"
      val steps = (0 to rnd.nextInt(2)).map(_ =>
        if (rnd.nextInt(4) == 0) "*" else tags(rnd.nextInt(tags.size)))
      val term = rnd.nextInt(3) match {
        case 0 => "/text()"
        case 1 => "/@href"
        case _ => ""
      }
      prefix + steps.mkString("/") + term
    }
    val docs = Seq.fill(40)(randTree(0)).toDF("xml")
    val paths = Seq.fill(12)(randPath()).distinct
    // every generated path must be in the fast subset — the point of
    // this property is exercising the hand-rolled walk, not the fallback
    paths.foreach(p =>
      assert(graft.functions.XmlFields.compileSimple(p).isDefined, p))
    val s = graft.functions.XmlFunctions.xmlFields(col("xml"), paths)
    val got = docs.select(
      col("xml") +: (paths.indices.map(i => s.getField(s"p$i").as(s"s$i")) ++
        paths.zipWithIndex.map { case (p, i) => xpath(col("xml"), lit(p)).as(s"b$i") }): _*)
    got.collect().foreach { r =>
      paths.indices.foreach { i =>
        assert(r.getSeq[String](r.fieldIndex(s"s$i")).toList ==
          r.getSeq[String](r.fieldIndex(s"b$i")).toList,
          s"path ${paths(i)} diverged on ${r.getString(0)}")
      }
    }
  }

  test("urlHost takes the host after the LAST @ — multi-@ URLs can't evade") {
    // browsers/URL parsers resolve 'http://a@b@bad.org/' to host bad.org;
    // a blocklist keyed on anything else fails open
    val got = Seq(
      "http://a@b@bad.org/x", "http://u@ok.org/p", "https://plain.org")
      .toDF("u").select(graft.operators.Cleaning.urlHost(col("u")))
      .as[String].collect().toSeq
    assert(got == Seq("bad.org", "ok.org", "plain.org"))
  }

  test("keepFirst returns exactly the min-under-order row per key (10 tables)") {
    for (_ <- 1 to 10) {
      val rows = Seq.fill(30)((s"k${rnd.nextInt(5)}", rnd.nextInt(1000), rnd.nextInt(9)))
      val df = rows.toDF("key", "seq", "v")
      val got = Upsert.keepFirst(df, Seq("key"),
        Seq(col("seq").asc_nulls_first, col("v").asc_nulls_first))
        .as[(String, Int, Int)].collect().toSet
      val expected = rows.groupBy(_._1).values
        .map(_.minBy(r => (r._2, r._3))).toSet
      assert(got == expected)
    }
  }

  test("parseBatchReply round-trips any rendered id→label record array (200 maps)") {
    def render(m: Seq[(String, String)]): String = {
      def esc(s: String) = s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case '\t' => "\\t"; case '\r' => "\\r"; case c => c.toString
      }
      m.map { case (k, v) => s"""{"id": "${esc(k)}", "label": "${esc(v)}"}""" }
        .mkString("[", ", ", "]")
    }
    (1 to 200).foreach { i =>
      val n = rnd.nextInt(6)
      val m = (0 until n).map(j => s"id$i-$j-${randStr()}" -> randStr())
      // empty labels are falsy in the reference (`if key and val`,
      // classifier.py:115) and get record-skipped; everything else survives
      val kept = m.filter(_._2.nonEmpty).toMap
      assert(Classify.parseBatchReply(render(m)) == kept, s"case $i: $m")
    }
  }

  test("classifyBatched labels are independent of batch and partition boundaries") {
    // a per-id deterministic client (the reply goes through the JSON
    // reply parser, so this also round-trips the response contract)
    // must produce the same labels however rows are grouped into batches
    // or partitions — the batch is an efficiency boundary, not a
    // semantic one
    val client = new Classify.RawReplyClient(batch =>
      batch.map { case (id, text) =>
        s"""{"id": "$id", "label": "L${(id + text).length}"}"""
      }.mkString("[", ", ", "]"))
    val rows = (1 to 37).map(i => (i.toString, randStr()))
    val df = rows.toDF("id", "text")
    val expected = rows.map { case (id, text) =>
      id -> s"L${(id + text).length}"
    }.toMap
    for (batchSize <- Seq(1, 3, 20, 100); parts <- Seq(1, 4)) {
      val got = Classify.classifyBatched(df.repartition(parts), "id", "text",
          "lab", client, batchSize)
        .select("id", "lab").as[(String, String)].collect().toMap
      assert(got == expected, s"batchSize=$batchSize parts=$parts")
    }
  }

  test("funnel stage equals the brute-force per-entity walk (20 random event sets)") {
    // The chained conditional-min window formulation must agree with the
    // direct definition: t1 = first 'a'; t_{i+1} = first step_{i+1}
    // strictly after t_i and within the window of it; stage = furthest
    // t_i that exists.
    import java.sql.Timestamp
    val steps = Seq("a", "b", "c")
    val types = Seq("a", "b", "c", "x", "y")
    val windowSec = 50L
    (1 to 20).foreach { _ =>
      val events = (1 to 300).map { i =>
        (rnd.nextInt(12).toLong,                     // user
          types(rnd.nextInt(types.size)),            // type
          new Timestamp(1700000000000L + i * 1000L + rnd.nextInt(999)))
      }
      def expected(user: Long): Int = {
        val mine = events.filter(_._1 == user).sortBy(_._3.getTime)
        var last: Option[Long] = None
        var stage = 0
        var blocked = false
        steps.foreach { s =>
          if (!blocked) {
            val next = last match {
              case None => mine.find(_._2 == s).map(_._3.getTime)
              case Some(t) => mine.find(e => e._2 == s && e._3.getTime > t &&
                e._3.getTime <= t + windowSec * 1000L).map(_._3.getTime)
            }
            next match {
              case Some(t) => stage += 1; last = Some(t)
              case None => blocked = true
            }
          }
        }
        stage
      }
      // NULL entity ids must be dropped (window partitioning would
      // otherwise group NULLs into a real funnel — the r10 ADVICE
      // divergence).
      val df = events.toDF("user_id", "event_type", "ts")
        .union(events.take(5).toDF("user_id", "event_type", "ts")
          .withColumn("user_id", lit(null).cast("bigint")))
      val iv = expr(s"INTERVAL $windowSec SECONDS")
      val got = graft.operators.Funnel.stage(
          df, "user_id", "event_type", "ts", steps, iv)
        .as[(Long, Int)].collect().toMap
      // exactly the non-NULL entities — NULL rows produced no output
      assert(got.size == events.map(_._1).distinct.size)
      events.map(_._1).distinct.foreach { u =>
        assert(got(u) == expected(u), s"user $u: got ${got(u)}, want ${expected(u)}")
      }
    }
  }

  test("container parsers never throw on arbitrary bytes (2000 fuzz blobs)") {
    // the 100 TB contract: corrupt bytes are DATA (→ -1/NULL), never a
    // task failure. Random blobs, plus blobs seeded with each format's
    // magic so the walkers get PAST the signature check into length
    // arithmetic on garbage — the overflow/truncation paths.
    import graft.functions.ImageHeader
    val magics = Seq(
      Array.empty[Byte],
      Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), // PNG
      Array(0xff, 0xd8).map(_.toByte),                                     // JPEG
      "GIF89a".getBytes("US-ASCII"), "BM".getBytes("US-ASCII"),
      "RIFFxxxxWAVE".getBytes("US-ASCII"),
      Array(0, 0, 0, 0x10, 'f', 't', 'y', 'p').map(_.toByte),              // MP4
      Array(0x1a, 0x45, 0xdf, 0xa3).map(_.toByte),                         // EBML
      Array(0xff, 0xfb).map(_.toByte), "ID3".getBytes("US-ASCII"),         // MP3
      "fLaC".getBytes("US-ASCII"), "OggS".getBytes("US-ASCII"),
      "RIFFxxxxWEBPVP8 ".getBytes("US-ASCII"),
      "RIFFxxxxAVI LISTxxxxhdrlavih".getBytes("US-ASCII"),
      "RIFFxxxxWEBPVP8L".getBytes("US-ASCII"),
      "RIFFxxxxWEBPVP8X".getBytes("US-ASCII"),
      Array('I', 'I', 0x2a, 0).map(_.toByte),                              // TIFF LE
      Array('M', 'M', 0, 0x2a).map(_.toByte))                              // TIFF BE
    (1 to 2000).foreach { i =>
      val magic = magics(rnd.nextInt(magics.size))
      val tail = new Array[Byte](rnd.nextInt(64))
      rnd.nextBytes(tail)
      val blob = magic ++ tail
      // must return, whatever the value — an exception fails the test
      ImageHeader.packedDims(blob)
      ImageHeader.packedWav(blob)
      ImageHeader.packedMp4(blob)
      ImageHeader.packedMkv(blob)
      ImageHeader.packedMkvAudio(blob)
      ImageHeader.packedMp3(blob)
      ImageHeader.packedFlac(blob)
      ImageHeader.packedOgg(blob)
      ImageHeader.packedAvi(blob)
    }
  }

  test("normalization operators are idempotent (100 generated docs)") {
    // A normalization pass applied twice must equal one pass — otherwise
    // incremental re-processing of already-clean state drifts the data.
    val frag = Seq("The QUICK", "fox!!", "  ", "\n", "a;b", "x\r\n", "Ñ é",
      "line\nline", "user1@example.com", "555-1234-5678", "")
    val docs = Seq.fill(100)(
      Seq.fill(rnd.nextInt(6) + 1)(frag(rnd.nextInt(frag.size))).mkString(" "))
      .toDF("t")
    def both(name: String, c: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit = {
      val pairs = docs.select(c(col("t")).as("once"), c(c(col("t"))).as("twice"))
        .as[(String, String)].collect()
      pairs.zipWithIndex.foreach { case ((once, twice), i) =>
        assert(once == twice, s"$name not idempotent on case $i: '$once' vs '$twice'")
      }
    }
    both("canonicalText", TextStats.canonicalText)
    both("redactPii", Cleaning.redactPii)
  }

  test("rankEval properties: n_rel_at_k monotone in k, first_rel_rank " +
    "k-stable once found, counts match a brute reference (10 tables)") {
    import graft.operators.Retrieval
    import org.apache.spark.sql.functions.col
    for (_ <- 1 to 10) {
      val rows = (1 to 3).flatMap { q =>
        val n = 4 + rnd.nextInt(6)
        (1 to n).map(r => (q.toLong, r.toLong, rnd.nextBoolean()))
      }
      val df = rows.toDF("qid", "rank", "rel")
      def evalAt(k: Int): Map[Long, (Option[Long], Long)] =
        Retrieval.rankEval(df, "qid", col("rel"), col("rank"), k)
          .collect().map(r => r.getLong(0) ->
            ((if (r.isNullAt(1)) None else Some(r.getLong(1))),
              r.getLong(2))).toMap
      val at3 = evalAt(3); val at7 = evalAt(7)
      // brute reference at k=7
      val ref = rows.groupBy(_._1).map { case (q, rs) =>
        val in = rs.filter(r => r._2 <= 7 && r._3).map(_._2)
        q -> (in.sorted.headOption, in.size.toLong)
      }
      assert(at7 == ref)
      at3.foreach { case (q, (fr3, n3)) =>
        val (fr7, n7) = at7(q)
        assert(n3 <= n7, s"q$q: n_rel_at_k must be monotone in k")
        // a first hit found at k=3 is THE first hit at any larger k
        fr3.foreach(r => assert(fr7.contains(r), s"q$q: first rank moved"))
      }
    }
  }

  test("seedAssign properties: row-order/partitioning invariant, seeds " +
    "assign to themselves at distance 0, d_min is the true min (8 tables)") {
    import graft.operators.Similarity
    for (_ <- 1 to 8) {
      val n = 6 + rnd.nextInt(8)
      val vecs = (0L until n.toLong).map(i =>
        (i, Seq.fill(4)((rnd.nextInt(2001) - 1000) / 1000.0f)))
      val df = vecs.toDF("vec_id", "embedding")
      val a = Similarity.seedAssign(df, "vec_id", "embedding", 3)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      val b = Similarity.seedAssign(df.repartition(5), "vec_id", "embedding", 3)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(a == b)
      // brute reference over the same 1e3-quantized integers
      val seeds = vecs.filter(_._1 < 3)
        .map { case (i, v) => i -> v.map(x => math.round(x.toDouble * 1000)) }
      a.foreach { case (id, cluster, dMin) =>
        val qv = vecs.find(_._1 == id).get._2
          .map(x => math.round(x.toDouble * 1000))
        val dists = seeds.map { case (c, sv) =>
          (qv.zip(sv).map { case (x, y) => (x - y) * (x - y) }.sum, c)
        }
        assert((dMin, cluster) == dists.min,
          s"id $id: packed argmin disagrees with brute")
        if (id < 3) assert(cluster == id && dMin == 0L)
      }
    }
    // offset/non-dense id space: fewer than k of the ids 0..k-1 exist —
    // must fail loudly instead of silently shrinking the cluster space
    // (ADVICE r15). The guard is LAZY (ADVICE r16): construction runs no
    // Spark action; the error raises when the result is evaluated.
    val offset = (10L to 15L).map(i => (i, Seq(0.1f, 0.2f, 0.3f, 0.4f)))
      .toDF("vec_id", "embedding")
    val lazyResult = Similarity.seedAssign(offset, "vec_id", "embedding", 3)
    val err = intercept[Exception] { lazyResult.collect() }
    def chain(t: Throwable): String =
      if (t == null) "" else t.toString + "\n" + chain(t.getCause)
    assert(chain(err).contains("0..2"),
      s"expected the realized-seed guard to fire on evaluation: ${chain(err)}")
    // partially-realized seed set (id 0 exists, 1..2 missing) must also
    // fail on evaluation, not shrink to a 1-seed assignment
    val partial = (Seq(0L) ++ (10L to 13L)).map(i =>
      (i, Seq(0.1f, 0.2f, 0.3f, 0.4f))).toDF("vec_id", "embedding")
    val err2 = intercept[Exception] {
      Similarity.seedAssign(partial, "vec_id", "embedding", 3).collect()
    }
    assert(chain(err2).contains("0..2"))
  }

  test("packedPdf fuzz: random bytes, random mutations of a valid PDF, " +
    "and hostile xref shapes never throw — every result is -1 or a " +
    "well-formed pack (500 cases)") {
    import graft.functions.ImageHeader
    def golden(pages: Int): Array[Byte] = {
      val h = "%PDF-1.6\n"
      val o1 = "1 0 obj<</Type/Catalog/Pages 2 0 R>>endobj\n"
      val o2 = s"2 0 obj<</Type/Pages/Kids[3 0 R]/Count $pages>>endobj\n"
      val o3 = "3 0 obj<</Type/Page/Parent 2 0 R>>endobj\n"
      val off1 = h.length; val off2 = off1 + o1.length
      val off3 = off2 + o2.length; val offX = off3 + o3.length
      def e(o: Int) = f"$o%010d 00000 n \n"
      (h + o1 + o2 + o3 + "xref\n0 4\n" + "0000000000 65535 f \n" +
        e(off1) + e(off2) + e(off3) +
        "trailer<</Size 4/Root 1 0 R>>\nstartxref\n" + offX + "\n%%EOF")
        .getBytes("US-ASCII")
    }
    def checkPack(p: Long): Unit =
      if (p != -1L) {
        assert(p >= 0, s"negative non-sentinel pack $p")
        assert(((p >> 40) & 0xff) <= 99 && ((p >> 32) & 0xff) <= 99)
      }
    // pure random bytes (some seeded with PDF-ish magics)
    for (i <- 1 to 200) {
      val b = new Array[Byte](rnd.nextInt(300))
      rnd.nextBytes(b)
      if (i % 3 == 0 && b.length >= 9)
        "%PDF-1.4\n".getBytes("US-ASCII").copyToArray(b)
      if (i % 7 == 0 && b.length >= 20)
        "startxref".getBytes("US-ASCII").copyToArray(b, b.length - 15)
      checkPack(ImageHeader.packedPdf(b))
    }
    // point mutations / truncations / splices of a valid document: the
    // walker follows whatever offsets survive — it must stay in bounds
    for (_ <- 1 to 250) {
      val b = golden(1 + rnd.nextInt(9999)).clone()
      rnd.nextInt(3) match {
        case 0 => // flip 1-4 bytes anywhere
          (1 to 1 + rnd.nextInt(4)).foreach { _ =>
            b(rnd.nextInt(b.length)) = (rnd.nextInt(256) - 128).toByte }
          checkPack(ImageHeader.packedPdf(b))
        case 1 => // truncate
          checkPack(ImageHeader.packedPdf(b.take(rnd.nextInt(b.length))))
        case 2 => // splice the tail of one doc onto the head of another
          val c = golden(1 + rnd.nextInt(9999))
          val cut = rnd.nextInt(b.length)
          checkPack(ImageHeader.packedPdf(b.take(cut) ++ c.drop(cut)))
      }
    }
    // hostile structured shapes: self-referential xref offset, offset
    // into the middle of the trailer, absurd subsection counts, and a
    // /Pages chain that points back at the catalog (cycle — must
    // terminate because the walk is fixed-depth, not recursive)
    val hostile = Seq(
      "%PDF-1.4\nstartxref\n0\n%%EOF", // xref offset -> the header itself
      "%PDF-1.4\nxref\n0 99999\ntrailer<</Root 1 0 R>>\nstartxref\n9\n%%EOF",
      "%PDF-1.4\n" + "1 0 obj<</Type/Catalog/Pages 1 0 R>>endobj\n" +
        "xref\n0 2\n0000000000 65535 f \n0000000009 00000 n \n" +
        "trailer<</Size 2/Root 1 0 R>>\nstartxref\n52\n%%EOF",
      "%PDF-1.4\nstartxref\n999999999999\n%%EOF", // offset way out of range
      "%PDF-1.4\nstartxref\nstartxref\n%%EOF")    // non-numeric offset
    hostile.foreach(s =>
      checkPack(ImageHeader.packedPdf(s.getBytes("US-ASCII"))))
    // the golden doc itself still parses after all that
    val ok = ImageHeader.packedPdf(golden(123))
    assert(ok >= 0 && (ok & 0xffffffffL) == 123L)

    // xref-STREAM era (the r17 walker extension): same mutation budget
    // over a valid stream-era document — binary entries, inflate, and
    // the ObjStm resolver must all stay bounds-checked under fire
    def goldenStream(pages: Int): Array[Byte] = {
      val h = "%PDF-1.6\n"
      val o1 = "1 0 obj<</Type/Catalog/Pages 2 0 R>>endobj\n"
      val o2 = s"2 0 obj<</Type/Pages/Kids[3 0 R]/Count $pages>>endobj\n"
      val o3 = "3 0 obj<</Type/Page/Parent 2 0 R>>endobj\n"
      val off1 = h.length; val off2 = off1 + o1.length
      val off3 = off2 + o2.length; val offX = off3 + o3.length
      def ent(t: Int, f2: Int, f3: Int) = Array(t.toByte,
        (f2 >> 8).toByte, f2.toByte, (f3 >> 8).toByte, f3.toByte)
      val data = Array(ent(0, 0, 0xffff), ent(1, off1, 0), ent(1, off2, 0),
        ent(1, off3, 0), ent(1, offX, 0)).flatten
      val dict = s"4 0 obj<</Type/XRef/Size 5/W[1 2 2]" +
        s"/Root 1 0 R/Length ${data.length}>>stream\n"
      (h + o1 + o2 + o3 + dict).getBytes("US-ASCII") ++ data ++
        s"\nendstream\nendobj\nstartxref\n$offX\n%%EOF".getBytes("US-ASCII")
    }
    for (_ <- 1 to 250) {
      val b = goldenStream(1 + rnd.nextInt(9999)).clone()
      rnd.nextInt(3) match {
        case 0 =>
          (1 to 1 + rnd.nextInt(4)).foreach { _ =>
            b(rnd.nextInt(b.length)) = (rnd.nextInt(256) - 128).toByte }
          checkPack(ImageHeader.packedPdf(b))
        case 1 =>
          checkPack(ImageHeader.packedPdf(b.take(rnd.nextInt(b.length))))
        case 2 =>
          val c = goldenStream(1 + rnd.nextInt(9999))
          val cut = rnd.nextInt(b.length)
          checkPack(ImageHeader.packedPdf(b.take(cut) ++ c.drop(cut)))
      }
    }
    val ok2 = ImageHeader.packedPdf(goldenStream(321))
    assert(ok2 >= 0 && (ok2 & 0xffffffffL) == 321L)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Cleaning, Packing, TextStats}

/** Text-analysis kernels: language ID, counts, fingerprints. */
class TextStatsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val profiles = Seq(
    "en" -> Seq("the", "and"),
    "es" -> Seq("el", "la"),
    "de" -> Seq("der", "und"))

  private def langOf(text: String): String =
    Seq(text).toDF("t")
      .select(TextStats.langId(split(col("t"), " "), profiles)).as[String].head()

  test("langId picks the highest-scoring profile") {
    assert(langOf("el la el perro") == "es")
    assert(langOf("der hund und katze") == "de")
    assert(langOf("the cat and dog") == "en")
  }

  test("langId ties break to the earlier profile") {
    assert(langOf("the el") == "en")   // 1-1 tie: first profile wins
    assert(langOf("x y z") == "en")    // 0-0-0 tie
  }

  test("token counts") {
    val df = Seq(("ab cd3 ef", 9L)).toDF("text", "n_chars")
    val got = df.select(
      TextStats.wsTokenCount(col("text")),
      TextStats.regexTokenCount(col("text")),
      TextStats.estTokenCount(col("n_chars"))).as[(Long, Long, Long)].head()
    assert(got == ((3L, 4L, 3L))) // regex splits cd3 into cd + 3
  }

  test("content fingerprint is order-insensitive; full fingerprint is not") {
    val df = Seq(("a b c", "c b a")).toDF("x", "y")
    val (fx, fy, cx, cy) = df.select(
      TextStats.fullFingerprint(col("x")), TextStats.fullFingerprint(col("y")),
      TextStats.contentFingerprint(split(col("x"), " ")),
      TextStats.contentFingerprint(split(col("y"), " ")))
      .as[(String, String, String, String)].head()
    assert(fx != fy)
    assert(cx == cy)
  }

  test("prefix fingerprint depends only on the first n tokens") {
    val df = Seq(("a b c d", "a b x y")).toDF("x", "y")
    val (p2x, p2y, p3x, p3y) = df.select(
      TextStats.prefixFingerprint(split(col("x"), " "), 2),
      TextStats.prefixFingerprint(split(col("y"), " "), 2),
      TextStats.prefixFingerprint(split(col("x"), " "), 3),
      TextStats.prefixFingerprint(split(col("y"), " "), 3))
      .as[(String, String, String, String)].head()
    assert(p2x == p2y)
    assert(p3x != p3y)
  }

  test("hashBucket lands in [0, m)") {
    val got = Seq("anything").toDF("t")
      .select(TextStats.hashBucket(TextStats.fullFingerprint(col("t")), 1024))
      .as[Long].head()
    assert(got >= 0L && got < 1024L)
  }

  test("topTokenFrac: dominant-token share; empty array → 0.0") {
    // "a a a b" → a takes 3/4; all-distinct → 1/n
    val df = Seq("a a a b", "w x y z").toDF("t")
      .select(TextStats.topTokenFrac(split(col("t"), " ")).as("f"))
    assert(df.as[Double].collect().toSeq == Seq(0.75, 0.25))
    val empty = Seq(Seq.empty[String]).toDF("toks")
      .select(TextStats.topTokenFrac(col("toks"))).as[Double].head()
    assert(empty == 0.0)
  }

  test("chunkedPack assigns budget-chunk sequences per shard independently") {
    val df = Seq(("a", 1L, 300), ("a", 2L, 300), ("a", 3L, 100), ("b", 1L, 600))
      .toDF("shard", "id", "n")
    val got = Packing.chunkedPack(df, col("shard"), col("id"), col("n"), 512)
      .select(col("shard"), col("id"), col("tok_before"), col("seq_id"),
        col("tok_offset"))
      .as[(String, Long, Long, Long, Long)].collect().toSet
    // shard a: offsets 0/300/600 → seqs 0/0/1 (doc 2 straddles 512 but
    // belongs to the sequence it starts in); shard b restarts at 0
    assert(got == Set(
      ("a", 1L, 0L, 0L, 0L), ("a", 2L, 300L, 0L, 300L),
      ("a", 3L, 600L, 1L, 88L), ("b", 1L, 0L, 0L, 0L)))
  }

  test("slidingChunks: overlap, trailing partials, exact boundary, empty doc") {
    val df = Seq((1L, "a b c d e"), (2L, "a b c d"), (3L, ""))
      .toDF("doc_id", "text")
    val got = Packing.slidingChunks(df, col("doc_id"),
        filter(split(col("text"), " "), t => t =!= ""),
        chunkSize = 4, stride = 2)
      .as[(Long, Int, String, Int)].collect().toSet
    assert(got == Set(
      // 5 tokens: starts 0/2/4 — full, trailing-3, trailing-1
      (1L, 0, "a b c d", 4), (1L, 1, "c d e", 3), (1L, 2, "e", 1),
      // exact multiple of stride: last chunk is the stride remainder
      (2L, 0, "a b c d", 4), (2L, 1, "c d", 2)))
    // empty doc yields ZERO chunks (doc 3 absent), not an empty chunk
    assert(!got.exists(_._1 == 3L))
    intercept[IllegalArgumentException] {
      Packing.slidingChunks(df, col("doc_id"),
        split(col("text"), " "), chunkSize = 4, stride = 5)
    }
  }

  test("deflateRatio: repetitive < prose < high-entropy; empty is neutral 1.0") {
    val repetitive = Seq.fill(200)("spam").mkString(" ")
    val prose = "the analytics engine reads parquet columns prunes " +
      "predicates pushes filters broadcasts small dimensions and shuffles " +
      "only when a key actually changes across stages; window grain dedup " +
      "keeps the first occurrence while coverage merged spans vanish"
    // deterministic high-entropy: base64 of md5 digest chains (~6 bits
    // per char — hex would be only 4 and compresses BELOW prose; no RNG,
    // the repo rule)
    val entropy = (0 until 40).map(i =>
      java.util.Base64.getEncoder.encodeToString(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"seed$i".getBytes))).mkString
    val rows = Seq((1L, repetitive), (2L, prose), (3L, entropy), (4L, ""))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.QualitySignals.deflateRatio(col("text")).as("r"))
      .as[(Long, Double)].collect().toMap
    assert(rows(1L) < rows(2L), s"repetitive ${rows(1L)} !< prose ${rows(2L)}")
    assert(rows(2L) < rows(3L), s"prose ${rows(2L)} !< entropy ${rows(3L)}")
    assert(rows(4L) == 1.0)
    assert(rows.values.forall(r => r > 0.0 && r < 1.5))
    // the gate's intent on these fixtures: template spam drops, prose keeps
    assert(rows(1L) < 0.25 && rows(2L) >= 0.25)
  }

  test("unigramLogprob scores docs by the corpus's own unigram model") {
    // corpus tokens: a a b | b → N=4, p(a)=p(b)=0.5, ln(0.5)≈-0.69314718
    val df = Seq((1L, "a a b"), (2L, "b")).toDF("doc_id", "text")
    val got = TextStats.unigramLogprob(df, "doc_id", split(col("text"), " "))
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 3L, -0.693147), (2L, 1L, -0.693147)))
  }

  test("urlHost extracts the lowercased host; blockDomains anti-joins it away") {
    // fail-closed: scheme case, userinfo, and port must not evade a rule
    val df = Seq(
      (1L, "https://GOOD.example.org/a"),
      (2L, "https://bad.example.org/b"),
      (3L, "not a url"),
      (4L, "HTTPS://bad.example.org/x"),
      (5L, "https://user@bad.example.org/x"),
      (6L, "https://bad.example.org:8080/x")).toDF("id", "url")
      .withColumn("host", Cleaning.urlHost(col("url")))
    assert(df.select("host").as[String].collect().toSeq ==
      Seq("good.example.org", "bad.example.org", "",
        "bad.example.org", "bad.example.org", "bad.example.org"))
    val blocked = Seq("bad.example.org").toDF("domain")
    val kept = Cleaning.blockDomains(df, col("host"), blocked, "domain")
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("redactPii replaces email, phone, and long ids with typed tags") {
    val got = Seq(
      "mail a.b+c@test.org or 555-0001-2345 ref 123456789 ok",
      "nanp 555-123-4567 parens (555) 123-4567 dots 555.123.4567",
      // a phone-shaped tail inside a longer digit run must NOT match
      // mid-run (that would strand unredacted leading digits below the
      // LongIdRe floor) — the 9-digit head goes to <ID> instead
      "run 123456789-123-4567 end",
      "short digits 12345678 stay; v1.2.3 stays").toDF("t")
      .select(Cleaning.redactPii(col("t"))).as[String].collect().toSeq
    assert(got == Seq(
      "mail <EMAIL> or <PHONE> ref <ID> ok",
      "nanp <PHONE> parens <PHONE> dots <PHONE>",
      "run <ID>-123-4567 end",
      "short digits 12345678 stay; v1.2.3 stays"))
  }

  test("dupGramFrac: repeated-gram share; short doc → 0.0") {
    // "a b a b a" → bigrams [a_b, b_a, a_b, b_a], 2 distinct of 4 → 0.5
    val df = Seq("a b a b a", "p q r").toDF("t")
      .select(TextStats.dupGramFrac(TextStats.bigrams(split(col("t"), " ")))
        .as("f"))
    assert(df.as[Double].collect().toSeq == Seq(0.5, 0.0))
    // single-token doc has zero bigrams → 0.0, not NULL
    val one = Seq("solo").toDF("t")
      .select(TextStats.dupGramFrac(TextStats.bigrams(split(col("t"), " "))))
      .as[Double].head()
    assert(one == 0.0)
  }

  test("collocations: exact counts, discounted-PMI-ratio score, minCount " +
    "floor — matches the hand-computed law") {
    // corpus: 'new york' 4×, 'new car' 1×, singles pad the denominator
    val docs = Seq(
      (1L, "new york is big new york"),
      (2L, "new york and new york"),
      (3L, "a new car a a a")).toDF("doc_id", "text")
    val got = TextStats.collocations(docs, split(col("text"), " "),
      minCount = 2L, delta = 1L)
      .as[(String, String, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // hand counts: N=17 tokens; new=5, york=4, new_york c_ab=4
    val ny = got(("new", "york"))
    assert((ny._3, ny._4, ny._5) == (5L, 4L, 4L))
    assert(ny._6 == (4L - 1L).toDouble / 5.0 * (17.0 / 4.0))
    // c_ab=1 ('new_car') is below minCount=2 and absent
    assert(!got.contains(("new", "car")))
    // independence baseline: score ≈ 1 means no collocation signal;
    // 'new york' (always adjacent) scores far above the 'a a' self-pair
    val aa = got(("a", "a"))
    assert(ny._6 > 2.0 && ny._6 > aa._6)
  }

  test("phraseMerge: greedy left-to-right non-overlap — alternate merges " +
    "in flag runs, skip-past after a merge, dense renumber") {
    val phrases = Seq(("a", "b"), ("b", "a"), ("x", "y"), ("y", "y"))
      .toDF("wa", "wb")
    val docs = Seq(
      (1L, "a b a b a b"),   // all 5 positions flagged → merge at 1,3,5
      (2L, "x y y z"),       // flags at 1,2 → greedy takes (x,y), skips y
      (3L, "q a b q"),       // isolated flag mid-doc
      (4L, "z")              // single token, nothing to merge
    ).toDF("doc_id", "text")
    val got = TextStats.phraseMerge(docs, "doc_id",
      split(col("text"), " "), phrases)
      .as[(Long, Int, String)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(got(1L) == Seq("a_b", "a_b", "a_b"))
    assert(got(2L) == Seq("x_y", "y", "z"))
    assert(got(3L) == Seq("q", "a_b", "q"))
    assert(got(4L) == Seq("z"))
    // pos_out is dense 1..n per doc
    val pos1 = TextStats.phraseMerge(docs, "doc_id",
      split(col("text"), " "), phrases)
      .filter(col("doc_id") === 1L).select("pos_out")
      .as[Int].collect().sorted.toSeq
    assert(pos1 == Seq(1, 2, 3))
    // token-count law: n_out = n_in − n_merged
    val totalIn = docs.select(explode(split(col("text"), " "))).count()
    val totalOut = TextStats.phraseMerge(docs, "doc_id",
      split(col("text"), " "), phrases).count()
    assert(totalOut == totalIn - 5) // 3 + 1 + 1 merges
  }

  test("phraseMerge with an empty phrase table is the identity " +
    "retokenization") {
    val docs = Seq((7L, "a b c")).toDF("doc_id", "text")
    val empty = Seq.empty[(String, String)].toDF("wa", "wb")
    val got = TextStats.phraseMerge(docs, "doc_id",
      split(col("text"), " "), empty)
      .as[(Long, Int, String)].collect().sortBy(_._2).map(_._3).toSeq
    assert(got == Seq("a", "b", "c"))
  }

  test("tfidfKeywords: exact ln-free scores, term-asc ties, per-doc k cut, " +
    "WindowGroupLimit top-k (ADVICE r14)") {
    val docs = Seq(
      (1L, "a b b c"), (2L, "b c c"), (3L, "a"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val out = TextStats.tfidfKeywords(docs, "doc_id", col("toks"), k = 2)
    // N=3; df: a→2 b→2 c→2; score = tf·N/df exactly
    val got = out.as[(Long, String, Long, Long, Double)].collect().toSet
    assert(got == Set(
      (1L, "b", 2L, 2L, 3.0), (1L, "a", 1L, 2L, 1.5), // tie a/c → a wins
      (2L, "c", 2L, 2L, 3.0), (2L, "b", 1L, 2L, 1.5),
      (3L, "a", 1L, 2L, 1.5)))
    // the claimed partial-top-k shape: rank cut plans WindowGroupLimit
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"tfidfKeywords lost its WindowGroupLimit top-k:\n$plan")
  }
}

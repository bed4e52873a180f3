package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Vocab

/** Vocabulary build + sequence encoding (operators.Vocab). */
class VocabSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b b c"),
    (2L, "b c c z"),
    (3L, "")
  ).toDF("doc_id", "text")

  private def toks = docs.select(explode(split(col("text"), " ")).as("token"))

  test("build ranks by count desc then token asc, ids contiguous from 1") {
    val v = Vocab.build(toks, "token", n = 3)
      .select("token", "n_tok", "token_id")
      .as[(String, Long, Long)].collect().toList.sortBy(_._3)
    // counts: b=3, c=3, a=1, z=1, ""=1 → tie-breaks: b before c, "" first
    // among count-1 (empty string sorts lowest)
    assert(v == List(("b", 3L, 1L), ("c", 3L, 2L), ("", 1L, 3L)))
  }

  test("encode preserves order and maps OOV to unk") {
    val v = Vocab.build(toks, "token", n = 2) // keeps only b, c
    val got = Vocab.encode(docs, "doc_id", split(col("text"), " "), v)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Long](r.fieldIndex("ids")).toList,
        r.getLong(r.fieldIndex("n_tok"))))
      .toList
    assert(got == List(
      (1L, List(0L, 1L, 1L, 2L), 4L),   // a→unk, b→1, b→1, c→2
      (2L, List(1L, 2L, 2L, 0L), 4L),   // z→unk
      (3L, List(0L), 1L)))              // "" splits to [""] → one unk
  }

  test("encode's dictionary side is a broadcast join (no corpus shuffle)") {
    val v = Vocab.build(toks, "token", n = 2)
    val plan = Vocab.encode(docs, "doc_id", split(col("text"), " "), v)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("an over-threshold dictionary falls back to a shuffle join, same result") {
    val v = Vocab.build(toks, "token", n = 2)
    val shuffled =
      Vocab.encode(docs, "doc_id", split(col("text"), " "), v,
        maxBroadcastBytes = 1L)
    // the hint is withheld: the lookup must NOT be a forced broadcast
    // (Catalyst may still auto-broadcast a genuinely tiny side, so pin
    // the logical plan: no ResolvedHint survives analysis)
    val logical = shuffled.queryExecution.analyzed.toString
    assert(!logical.contains("UnresolvedHint") && !logical.contains("ResolvedHint"),
      logical)
    // and with auto-broadcast off it plans as a real shuffle join
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = Vocab.encode(docs, "doc_id", split(col("text"), " "), v,
        maxBroadcastBytes = 1L).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), plan)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // both shapes agree on the encoding
    val broadcasted =
      Vocab.encode(docs, "doc_id", split(col("text"), " "), v)
        .orderBy("doc_id").collect().map(_.toString).toList
    assert(shuffled.orderBy("doc_id").collect().map(_.toString).toList
      == broadcasted)
  }

  // ---- BPE merge-table training (Vocab.learnBpe, VERDICT r12 #1) ----

  /** Independent in-memory Sennrich trainer — plain Scala maps, shares no
    * code with Vocab.learnBpe OR functions.Bpe (so a counting, tie-break,
    * or merge bug in the Spark fold can't self-confirm). */
  private def refLearnBpe(words: Seq[(String, Long)],
                          n: Int): Seq[(String, String)] = {
    var syms: Seq[(Vector[String], Long)] =
      words.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (out.length < n && !exhausted) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((s, c) <- syms; i <- 0 until s.length - 1)
        counts((s(i), s(i + 1))) = counts.getOrElse((s(i), s(i + 1)), 0L) + c
      if (counts.isEmpty) exhausted = true
      else {
        val (x, y) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        out += ((x, y))
        syms = syms.map { case (s, c) =>
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < s.length) {
            if (i + 1 < s.length && s(i) == x && s(i + 1) == y) {
              b += x + y; i += 2
            } else { b += s(i); i += 1 }
          }
          (b.result(), c)
        }
      }
    }
    out.toSeq
  }

  // tie-rich fixture: repeated stems force count ties the lexicographic
  // tie-break must resolve identically on both sides
  private val corpus: Seq[(String, Long)] = Seq(
    "the" -> 40L, "then" -> 12L, "them" -> 11L, "there" -> 9L,
    "that" -> 25L, "this" -> 25L, "those" -> 7L, "these" -> 7L,
    "ing" -> 30L, "sing" -> 10L, "ring" -> 10L, "string" -> 8L,
    "a" -> 50L, "an" -> 20L, "and" -> 35L, "hand" -> 6L,
    "banana" -> 5L, "bandana" -> 3L, "aaaa" -> 4L)

  test("learnBpe golden-matches an independent in-memory trainer, full depth") {
    val types = corpus.toDF("word", "w")
    // 40 ranks is past this corpus's interesting structure, so the
    // early-exhaustion path is exercised at full depth too
    val got = Vocab.learnBpe(types, col("word"), col("w"), 40)
    val want = refLearnBpe(corpus, 40)
    assert(got == want,
      s"learned merges diverge from the reference trainer:\n got=$got\nwant=$want")
    // overlapping-repeat counting sanity: 'aaaa' must have contributed
    // 3 (a,a) adjacencies per occurrence — the get_stats contract — and
    // with these weights (a,a) or a stem pair wins early, so the table
    // is non-trivial
    assert(got.length == math.min(40, want.length) && got.nonEmpty)
  }

  test("learnBpe golden-matches under forced snapshot churn " +
    "(VERDICT r13 #1 — the incremental-view + batched-merge rewrite)") {
    val types = corpus.toDF("word", "w")
    val want = refLearnBpe(corpus, 40)
    // snapshotSize=3 keeps the view NON-complete: every batch runs the
    // floor-breach/resnapshot machinery the big default never hits on a
    // small corpus; maxBatch=1 degenerates to strict per-rank; the
    // (5,4) combo exercises mid-batch truncation when created pairs
    // outrank the speculative prefix
    for ((snap, batch) <- Seq((3, 1), (3, 4), (5, 4), (4096, 12))) {
      val got = Vocab.learnBpe(types, col("word"), col("w"), 40,
        snapshotSize = snap, maxBatch = batch)
      assert(got == want,
        s"snapshotSize=$snap maxBatch=$batch diverged:\n got=$got\nwant=$want")
    }
  }

  test("learnBpe golden-matches on a LARGE-ALPHABET fixture whose initial " +
    "pair universe exceeds snapshotSize — the non-complete regime at its " +
    "natural trigger, not a forced-tiny snapshot (VERDICT r14 #4)") {
    // 64 BMP ideographs, 3-char deterministic words: ~128 realized
    // initial pairs, so snapshotSize=16 can never capture them all and
    // every batch runs floor-trust + re-snapshot machinery on a fixture
    // SHAPED like the bpe-train-cjk corpus of SCALE.md round 15
    val alpha = (0 until 64).map(i => (0x4e00 + i).toChar)
    val words: Seq[(String, Long)] = (0 until 300).map { i =>
      (new String(Array(alpha(i * 3 % 64), alpha(i * 5 % 64),
        alpha(i * 7 % 64))), (i % 13 + 1).toLong)
    }
    val types = words.toDF("word", "w")
    val want = refLearnBpe(words, 40)
    for ((snap, batch) <- Seq((16, 4), (48, 8))) {
      val (got, stats) = Vocab.learnBpeWithStats(types, col("word"),
        col("w"), 40, snapshotSize = snap, maxBatch = batch)
      assert(got == want,
        s"snapshotSize=$snap maxBatch=$batch diverged on the CJK fixture:" +
          s"\n got=$got\nwant=$want")
      // the regime claim itself, on the tight snapshot: the view is
      // never complete and count decay must force RE-snapshots (at 48
      // one snapshot can legitimately stay trusted through 40 ranks —
      // that's the floor-trust rule working, not a miswired fixture)
      if (snap == 16)
        assert(stats.snapshots >= 2,
          s"snapshotSize=$snap stayed on ${stats.snapshots} snapshot(s) — " +
            s"fixture no longer exercises the non-complete regime")
    }
  }

  test("learnBpe handles merged-string collisions exactly " +
    "(a later merge re-creating an earlier merge's output symbol)") {
    // 'abc' forms twice: ("ab","c") from the abc-block, then ("a","bc")
    // can never win — but ("b","c") then ("a","bc") vs ("ab","c") paths
    // collide on the output string 'abc'; weights force both orders to
    // appear across snapshot sizes, so the collision/forced-resnapshot
    // leg of the non-complete path must keep counts exact
    val tricky = Seq("ab" -> 30L, "abc" -> 20L, "bc" -> 25L,
      "aabbcc" -> 7L, "abcabc" -> 5L, "cab" -> 9L, "bca" -> 8L)
    val want = refLearnBpe(tricky, 12)
    for (snap <- Seq(2, 3, 6, 4096)) {
      val got = Vocab.learnBpe(tricky.toDF("word", "w"), col("word"),
        col("w"), 12, snapshotSize = snap, maxBatch = 4)
      assert(got == want, s"snapshotSize=$snap:\n got=$got\nwant=$want")
    }
  }

  test("learnBpe stops early when no adjacent pair remains") {
    val types = Seq("ab" -> 3L, "c" -> 9L).toDF("word", "w")
    val got = Vocab.learnBpe(types, col("word"), col("w"), 10)
    // rank 0 merges (a,b); after that no word has 2+ symbols left
    assert(got == Seq(("a", "b")))
  }

  test("the learned table is valid and round-trips the corpus through the encoder") {
    import graft.functions.BpeFunctions
    val types = corpus.toDF("word", "w")
    val learned = Vocab.learnBpe(types, col("word"), col("w"), 24)
    // validity — the property Bpe's ascending-pass oracle equivalence
    // rests on: every component of rank k is a single char or the output
    // of a strictly earlier rank
    val formed = scala.collection.mutable.Set.empty[String]
    learned.foreach { case (x, y) =>
      Seq(x, y).foreach(s => assert(s.length == 1 || formed.contains(s),
        s"merge component '$s' neither a char nor an earlier merge output"))
      formed += x + y
    }
    // q107's encode path consumes the LEARNED table: lossless (tokens
    // re-concatenate to the word) and actually compressive (merged
    // symbols in use)
    val enc = types.select(col("word"),
      BpeFunctions.bpeTokens(col("word"), learned).as("toks"))
      .select(col("word"), concat_ws("", col("toks")).as("rejoined"),
        size(col("toks")).as("n"), length(col("word")).as("len"))
      .collect()
    enc.foreach(r => assert(r.getString(0) == r.getString(1),
      s"round-trip broke: ${r.getString(0)} -> ${r.getString(1)}"))
    assert(enc.exists(r => r.getInt(2) < r.getInt(3)),
      "no word tokenized below char length — the learned merges never fired")
  }
}

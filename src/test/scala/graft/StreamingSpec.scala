package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingJobs
import graft.streaming.StreamingJobs.{KeyedRecord, TimedRecord}

/** Structured Streaming semantics via MemoryStream — the non-oracle SURVEY
  * deliverable (G10): watermarked tumbling windows, bounded-state dedup,
  * and the stateful delta stream. */
class StreamingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  final case class Ev(ts: Timestamp, event_type: String, user_id: Long, value: Double)

  test("incrementalDedupSink flags cross-batch near-dups and grows bucket state") {
    implicit val sqlCtx = spark.sqlContext
    val stateDir = TestSpark.tmpDir("lshstate")
    val outDir = TestSpark.tmpDir("lshout")
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val q = StreamingJobs.foreachEpoch(docs)(StreamingJobs.incrementalDedupBatch(
      _, _, "doc_id", split(col("text"), " "), stateDir, outDir)).start()
    try {
      // batch 1 seeds the state — nothing to probe against yet
      in.addData((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"))
      q.processAllAvailable()
      // batch 2: doc 3 duplicates doc 1 (same tokens → same signature);
      // doc 4 is novel
      in.addData((3L, "alpha beta gamma delta"), (4L, "iota kappa lambda mu"))
      q.processAllAvailable()
      val flagged = spark.read.parquet(outDir)
        .select("id_new", "id_old").as[(Long, Long)].collect().toSet
      assert(flagged == Set((3L, 1L)))
      // re-delivery of doc 1 (same id, same text) must NOT flag itself
      in.addData((1L, "alpha beta gamma delta"))
      q.processAllAvailable()
      val after = spark.read.parquet(outDir)
        .select("id_new", "id_old").as[(Long, Long)].collect().toSet
      // doc 1 probes state that now contains its dup doc 3 — the (1,3)
      // pair is flagged; the (1,1) self-pair is not
      assert(after == Set((3L, 1L), (1L, 3L)))
      // state now holds buckets for all four docs (4 bands each)
      val v = graft.sources.Writers.latestVersion(stateDir).get
      assert(spark.read.parquet(s"$stateDir/v$v")
        .select("doc_id").distinct().count() == 4)
    } finally q.stop()
  }

  test("incrementalDedupBatch replay: same epoch re-run leaves identical output and state") {
    val stateDir = TestSpark.tmpDir("lshstate2")
    val outDir = TestSpark.tmpDir("lshout2")
    def run(epoch: Long, docs: Seq[(Long, String)]): Unit =
      StreamingJobs.incrementalDedupBatch(
        docs.toDF("doc_id", "text"), epoch, "doc_id",
        split(col("text"), " "), stateDir, outDir)
    run(0, Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta")))
    run(1, Seq((3L, "alpha beta gamma delta")))
    def flagged = spark.read.parquet(outDir)
      .select("id_new", "id_old").as[(Long, Long)].collect().toSet
    def stateRows = {
      val v = graft.sources.Writers.latestVersion(stateDir).get
      spark.read.parquet(s"$stateDir/v$v")
        .select("doc_id", "band", "bucket")
        .as[(Long, Int, String)].collect().toSet
    }
    val (f1, s1) = (flagged, stateRows)
    assert(f1 == Set((3L, 1L)))
    // epoch 1 crashes after commit and is REPLAYED: the probe must not
    // see epoch 1's own half-merged buckets, the output overwrite must
    // not duplicate pairs, and the state merge must be content-stable
    run(1, Seq((3L, "alpha beta gamma delta")))
    assert(flagged == f1)
    assert(stateRows == s1)
  }

  test("incrementalParagraphBatch dedups each epoch against all prior epochs") {
    val stateDir = TestSpark.tmpDir("parstate")
    val outDir = TestSpark.tmpDir("parout")
    def run(epoch: Long, docs: Seq[(Long, String)]): Unit =
      StreamingJobs.incrementalParagraphBatch(
        docs.toDF("doc_id", "text"), epoch, "doc_id", "text", "\n",
        stateDir, outDir)
    // epoch 0: banner shared within the batch — doc 1 (first occurrence)
    // keeps it, doc 2 loses it within-batch
    run(0, Seq((1L, "banner\nbody-a"), (2L, "banner\nbody-b")))
    def outAt(e: Long) = spark.read.parquet(s"$outDir/epoch=$e")
      .select("doc_id", "clean_text", "n_kept")
      .as[(Long, String, Long)].collect().toSet
    assert(outAt(0) == Set(
      (1L, "banner\nbody-a", 2L), (2L, "body-b", 1L)))
    // epoch 1: banner and body-a are state-known → drop from EVERY doc;
    // doc 4 is entirely prior content → emptied, not absent
    run(1, Seq((3L, "banner\nbody-c"), (4L, "banner\nbody-a")))
    assert(outAt(1) == Set((3L, "body-c", 1L), (4L, "", 0L)))
    // replay epoch 1 after a crash-after-commit: identical output/state
    val v1 = graft.sources.Writers.latestVersion(stateDir).get
    run(1, Seq((3L, "banner\nbody-c"), (4L, "banner\nbody-a")))
    assert(outAt(1) == Set((3L, "body-c", 1L), (4L, "", 0L)))
    val v2 = graft.sources.Writers.latestVersion(stateDir).get
    val s1 = spark.read.parquet(s"$stateDir/v$v1")
      .select("__h").as[String].collect().toSet
    val s2 = spark.read.parquet(s"$stateDir/v$v2")
      .select("__h").as[String].collect().toSet
    assert(s1 == s2)
    // the paragraph sink labels its count as emptied DOCS, not pairs
    // (ADVICE r11), and leaves the legacy pair column NULL
    val m = StreamingJobs.epochMetrics(spark, outDir)
      .filter(col("epoch") === 1)
      .select(col("flagged_kind"), col("flagged"), col("flagged_pairs"))
      .collect().head
    assert(m.getString(0) == "docs_fully_deduped")
    assert(m.getLong(1) == 1L) // doc 4 emptied
    assert(m.isNullAt(2))
  }

  test("incrementalParagraphBatch eviction readmits paragraphs unseen for N epochs") {
    val stateDir = TestSpark.tmpDir("parstate2")
    val outDir = TestSpark.tmpDir("parout2")
    def run(epoch: Long, docs: Seq[(Long, String)]): Unit =
      StreamingJobs.incrementalParagraphBatch(
        docs.toDF("doc_id", "text"), epoch, "doc_id", "text", "\n",
        stateDir, outDir, maxEpochAge = 2)
    run(0, Seq((1L, "sticky")))
    run(1, Seq((2L, "other")))      // 'sticky' now 1 epoch old
    run(2, Seq((3L, "third")))      // 'sticky' at age 2 → evicted
    run(3, Seq((4L, "sticky")))     // readmitted: state forgot it
    val got = spark.read.parquet(s"$outDir/epoch=3")
      .select("doc_id", "clean_text", "n_kept")
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set((4L, "sticky", 1L)))
  }

  test("incrementalWindowBatch: within-batch + cross-epoch substring dedup, replay-stable") {
    val stateDir = TestSpark.tmpDir("winstate")
    val outDir = TestSpark.tmpDir("winout")
    def run(epoch: Long, docs: Seq[(Long, String)]): Unit =
      StreamingJobs.incrementalWindowBatch(
        docs.toDF("doc_id", "text"), epoch, "doc_id",
        split(col("text"), " "), 3, stateDir, outDir)
    def outAt(e: Long) = spark.read.parquet(s"$outDir/epoch=$e")
      .select("doc_id", "clean_text", "n_tok", "n_kept")
      .as[(Long, String, Long, Long)].collect().toSet
    // epoch 0: doc 2 repeats doc 1's "a b c" run mid-doc
    val e0 = Seq((1L, "a b c d"), (2L, "x a b c"))
    run(0, e0)
    assert(outAt(0) == Set((1L, "a b c d", 4L, 4L), (2L, "x", 4L, 1L)))
    // with EMPTY state, the epoch must equal the batch operator's output
    val batchTwin = graft.operators.Dedup.dedupTokenWindows(
      e0.toDF("doc_id", "text"), "doc_id", split(col("text"), " "), 3)
      .select("doc_id", "clean_text", "n_tok", "n_kept")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(outAt(0) == batchTwin)
    // epoch 1: "a b c" is state-known → stripped from doc 3; doc 4 is
    // ENTIRELY a known window → emptied, not absent; doc 5 too short for
    // any window → untouched, still present
    run(1, Seq((3L, "a b c z"), (4L, "a b c"), (5L, "q r")))
    assert(outAt(1) == Set(
      (3L, "z", 4L, 1L), (4L, "", 3L, 0L), (5L, "q r", 2L, 2L)))
    // crash-after-commit replay: identical output, state content stable
    val v1 = graft.sources.Writers.latestVersion(stateDir).get
    run(1, Seq((3L, "a b c z"), (4L, "a b c"), (5L, "q r")))
    assert(outAt(1) == Set(
      (3L, "z", 4L, 1L), (4L, "", 3L, 0L), (5L, "q r", 2L, 2L)))
    val v2 = graft.sources.Writers.latestVersion(stateDir).get
    def stateAt(v: Long) = spark.read.parquet(s"$stateDir/v$v")
      .select("__h", "__epoch").as[(String, Long)].collect().toSet
    assert(stateAt(v1) == stateAt(v2))
    // metrics: window sink reports shortened docs, not pairs
    val m = StreamingJobs.epochMetrics(spark, outDir)
      .filter(col("epoch") === 1)
      .select(col("flagged_kind"), col("flagged"), col("flagged_pairs"))
      .collect().head
    assert(m.getString(0) == "docs_shortened")
    assert(m.getLong(1) == 2L) // docs 3 and 4 lost tokens
    assert(m.isNullAt(2))
  }

  test("incrementalWindowBatch eviction readmits windows first seen > N epochs ago") {
    val stateDir = TestSpark.tmpDir("winstate2")
    val outDir = TestSpark.tmpDir("winout2")
    def run(epoch: Long, docs: Seq[(Long, String)]): Unit =
      StreamingJobs.incrementalWindowBatch(
        docs.toDF("doc_id", "text"), epoch, "doc_id",
        split(col("text"), " "), 2, stateDir, outDir, maxEpochAge = 2)
    run(0, Seq((1L, "s t")))
    run(1, Seq((2L, "u v")))
    run(2, Seq((3L, "w x")))       // "s t" at age 2 → evicted
    run(3, Seq((4L, "s t")))       // readmitted: state forgot it
    val got = spark.read.parquet(s"$outDir/epoch=3")
      .select("doc_id", "clean_text", "n_kept")
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set((4L, "s t", 2L)))
  }

  test("cmsBatch: cumulative estimates merge exactly, replay never double-counts") {
    val stateDir = TestSpark.tmpDir("cmsstate")
    val outDir = TestSpark.tmpDir("cmsout")
    val e0 = Seq.fill(6)("alpha") ++ Seq.fill(2)("beta")
    val e1 = Seq.fill(5)("alpha") ++ Seq.fill(4)("gamma")
    def run(epoch: Long, items: Seq[String]): Unit =
      StreamingJobs.cmsBatch(items.toDF("w"), epoch, col("w"),
        stateDir, outDir, depth = 4, width = 1 << 12, threshold = 4L)
    def outAt(e: Long) = spark.read.parquet(s"$outDir/epoch=$e")
      .as[(String, Long)].collect().toMap

    // epoch 0 with empty state ≡ the batch operator at the same threshold
    run(0, e0)
    assert(outAt(0) == Map("alpha" -> 6L))
    // epoch 1 probes the CUMULATIVE sketch: alpha 6+5, gamma 4 this epoch
    run(1, e1)
    assert(outAt(1) == Map("alpha" -> 11L, "gamma" -> 4L))
    // exact mergeability: cumulative state ≡ one build over e0 ++ e1
    // (4096 buckets for 3 items — collision-free, so estimates are exact)
    val vMerged = graft.sources.Writers.latestVersion(stateDir).get
    val cum = spark.read.parquet(s"$stateDir/v$vMerged")
      .groupBy("r", "bucket").agg(sum("cnt").as("cnt"))
    val oneShot = graft.operators.Sketches.cmsBuild(
      (e0 ++ e1).toDF("w"), col("w"), 4, 1 << 12)
    assert(cum.as[(Int, Long, Long)].collect().toSet ==
      oneShot.as[(Int, Long, Long)].collect().toSet)
    // crash-after-commit replay of epoch 1: the (r,bucket,__epoch) key
    // makes the additive merge overwrite, not double-count
    run(1, e1)
    assert(outAt(1) == Map("alpha" -> 11L, "gamma" -> 4L))
    val vReplayed = graft.sources.Writers.latestVersion(stateDir).get
    val cumReplayed = spark.read.parquet(s"$stateDir/v$vReplayed")
      .groupBy("r", "bucket").agg(sum("cnt").as("cnt"))
    assert(cumReplayed.as[(Int, Long, Long)].collect().toSet ==
      oneShot.as[(Int, Long, Long)].collect().toSet)
    // metrics: this sink counts heavy hitters, not pairs
    val m = StreamingJobs.epochMetrics(spark, outDir)
      .filter(col("epoch") === 1)
      .select(col("flagged_kind"), col("flagged"), col("flagged_pairs"))
      .collect().head
    assert(m.getString(0) == "heavy_hitters")
    assert(m.getLong(1) == 2L)
    assert(m.isNullAt(2))
  }

  test("cmsBatch eviction turns all-time counts into a sliding window") {
    val stateDir = TestSpark.tmpDir("cmsstate2")
    val outDir = TestSpark.tmpDir("cmsout2")
    def run(epoch: Long, items: Seq[String]): Unit =
      StreamingJobs.cmsBatch(items.toDF("w"), epoch, col("w"),
        stateDir, outDir, depth = 4, width = 1 << 12, threshold = 6L,
        maxEpochAge = 2)
    run(0, Seq.fill(4)("hot"))
    run(1, Seq.fill(3)("hot"))      // cumulative 7 ≥ 6 → hitter
    assert(spark.read.parquet(s"$outDir/epoch=1")
      .as[(String, Long)].collect().toMap == Map("hot" -> 7L))
    // epoch 2's probe still sees epoch 0 (eviction happens at ITS merge,
    // horizon __epoch <= 2-2): 4+3+1 = 8
    run(2, Seq.fill(1)("hot"))
    assert(spark.read.parquet(s"$outDir/epoch=2")
      .as[(String, Long)].collect().toMap == Map("hot" -> 8L))
    // epoch 3 probes the slid window {1,2} + itself: 3+1+1 = 5 < 6 —
    // an all-time sketch would report 9 and still flag it
    run(3, Seq.fill(1)("hot"))
    assert(spark.read.parquet(s"$outDir/epoch=3").isEmpty)
    // state holds only the last maxEpochAge epochs' contributions
    val v = graft.sources.Writers.latestVersion(stateDir).get
    assert(spark.read.parquet(s"$stateDir/v$v")
      .select("__epoch").distinct().as[Long].collect().toSet == Set(2L, 3L))
  }

  test("kmvBatch: cumulative estimate equals one-shot build, replay-stable, age-evicted") {
    import graft.operators.Sketches
    val stateDir = TestSpark.tmpDir("kmvstate")
    val outDir = TestSpark.tmpDir("kmvout")
    val e0 = (0 until 300).map(i => s"a$i")
    val e1 = (0 until 300).map(i => s"b$i") ++ (0 until 100).map(i => s"a$i")
    val e2 = (0 until 300).map(i => s"c$i")
    def run(e: Long, items: Seq[String]): Unit =
      StreamingJobs.kmvBatch(items.toDF("x"), e, col("x"),
        stateDir, outDir, k = 64)
    def estAt(e: Long): Double = spark.read.parquet(s"$outDir/epoch=$e")
      .head().getDouble(3)
    run(0, e0); run(1, e1); run(2, e2)
    // exact mergeability: the cumulative sketch at each horizon IS the
    // one-shot sketch over the concatenated stream (k-minima of a union
    // = k-minima of the union of per-part k-minima)
    def oneShot(items: Seq[String]): Double =
      Sketches.kmvDistinct(items.toDF("x"), col("x"), 64).head().getDouble(3)
    assert(estAt(0) == oneShot(e0))
    assert(estAt(1) == oneShot(e0 ++ e1))
    assert(estAt(2) == oneShot(e0 ++ e1 ++ e2))
    // crash-after-commit replay of the last epoch: (h, __epoch)-keyed
    // contributions overwrite, the estimate is reconstructed identically
    val before = estAt(2)
    run(2, e2)
    assert(estAt(2) == before)
    // accuracy sanity at k=64 vs 900 true distinct (~1/8 rel err bound ×3)
    assert(math.abs(estAt(2) - 900.0) / 900.0 < 0.38)
    // sliding window: maxEpochAge=1 retains only the previous epoch's
    // minima — the fresh estimate approximates |e1 ∪ e2|, not all-time
    val stateDir2 = TestSpark.tmpDir("kmvstate2")
    val outDir2 = TestSpark.tmpDir("kmvout2")
    def run2(e: Long, items: Seq[String]): Unit =
      StreamingJobs.kmvBatch(items.toDF("x"), e, col("x"),
        stateDir2, outDir2, k = 64, maxEpochAge = 1)
    run2(0, e0); run2(1, e1); run2(2, e2)
    val slid = spark.read.parquet(s"$outDir2/epoch=2").head().getDouble(3)
    // epoch 2's probe sees epoch 1 (eviction horizon __epoch <= 2-1
    // applies at ITS merge) but NOT epoch 0's a-keys beyond those e1
    // re-contributed — the all-time 900-ish estimate must not appear
    assert(slid == oneShot(e1 ++ e2),
      s"sliding estimate $slid != windowed one-shot ${oneShot(e1 ++ e2)}")
  }

  test("histBatch: cumulative quantiles equal one-shot build, replay-stable, sliding window") {
    import graft.operators.Sketches
    val stateDir = TestSpark.tmpDir("histstate")
    val outDir = TestSpark.tmpDir("histout")
    val e0 = (1L to 1000L)
    val e1 = (500L to 5000L by 3)
    val e2 = (10L to 100L)
    def run(e: Long, vals: Seq[Long]): Unit =
      StreamingJobs.histBatch(vals.toDF("v"), e, col("v"),
        stateDir, outDir, kb = 5, pcts = Seq(50, 90))
    def estAt(e: Long): Seq[Long] = spark.read.parquet(s"$outDir/epoch=$e")
      .select("n", "p50", "p90").head() match {
        case r => Seq(r.getLong(0), r.getLong(1), r.getLong(2))
      }
    def oneShot(vals: Seq[Long]): Seq[Long] =
      Sketches.histQuantiles(
        Sketches.histBuild(vals.toDF("v"), col("v"), 5), 5, Seq(50, 90))
        .select("n", "p50", "p90").head() match {
          case r => Seq(r.getLong(0), r.getLong(1), r.getLong(2))
        }
    run(0, e0); run(1, e1); run(2, e2)
    // additive counts: the cumulative sketch at each horizon IS the
    // one-shot sketch over the concatenated stream — estimates equal
    // EXACTLY, not approximately
    assert(estAt(0) == oneShot(e0))
    assert(estAt(1) == oneShot(e0 ++ e1))
    assert(estAt(2) == oneShot(e0 ++ e1 ++ e2))
    // crash-after-commit replay: (bin, __epoch)-keyed contributions
    // overwrite, the estimate reconstructs identically
    val before = estAt(2)
    run(2, e2)
    assert(estAt(2) == before)
    // sliding window: maxEpochAge=1 → epoch 2's estimate covers e1 ∪ e2
    val stateDir2 = TestSpark.tmpDir("histstate2")
    val outDir2 = TestSpark.tmpDir("histout2")
    def run2(e: Long, vals: Seq[Long]): Unit =
      StreamingJobs.histBatch(vals.toDF("v"), e, col("v"),
        stateDir2, outDir2, kb = 5, pcts = Seq(50, 90), maxEpochAge = 1)
    run2(0, e0); run2(1, e1); run2(2, e2)
    val slid = spark.read.parquet(s"$outDir2/epoch=2")
      .select("n", "p50", "p90").head()
    assert(Seq(slid.getLong(0), slid.getLong(1), slid.getLong(2)) ==
      oneShot(e1 ++ e2))
  }

  test("profileBatch: cumulative card equals one-shot Profile on exact fields, " +
    "KMV distinct is exactly mergeable, replay-stable, sliding window") {
    import graft.operators.{Profile, Sketches}
    val cols = Seq("id", "s", "t")
    val stateDir = TestSpark.tmpDir("profstate")
    val outDir = TestSpark.tmpDir("profout")
    val e0: Seq[(Long, Option[String], Option[String])] = (1L to 60L).map(i =>
      (i, if (i % 5 == 0) None else Some(s"v${i % 7}"), None))
    val e1: Seq[(Long, Option[String], Option[String])] = (61L to 120L).map(i =>
      (i, Some(if (i % 11 == 0) "" else s"w${i % 13}"), None))
    val e2: Seq[(Long, Option[String], Option[String])] = (121L to 150L).map(i => (i, Some(s"v${i % 7}"), None))
    def run(e: Long, rows: Seq[(Long, Option[String], Option[String])]): Unit =
      StreamingJobs.profileBatch(rows.toDF("id", "s", "t"), e, cols,
        stateDir, outDir, k = 32)
    def card(e: Long): Map[String, (Long, Long, Option[String], Option[String], Option[Double], Double)] =
      spark.read.parquet(s"$outDir/epoch=$e")
        .select("col_name", "n_rows", "n_null", "min_v", "max_v",
          "avg_len", "est_distinct")
        .as[(String, Long, Long, Option[String], Option[String], Option[Double], Double)]
        .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap
    def oneShot(rows: Seq[(Long, Option[String], Option[String])]): Map[String, (Long, Long, Option[String], Option[String], Option[Double], Double)] = {
      val df = rows.toDF("id", "s", "t")
      val exact = Profile.profile(df, cols)
        .select("col_name", "n_rows", "n_null", "min_v", "max_v", "avg_len")
        .as[(String, Long, Long, Option[String], Option[String], Option[Double])]
        .collect().map(r => r._1 -> r).toMap
      cols.map { c =>
        val vals = Profile.melt(df, Seq(c)).filter(col("v").isNotNull)
        val est =
          if (vals.isEmpty) 0.0
          else Sketches.kmvDistinct(vals, col("v"), 32).head().getDouble(3)
        val x = exact(c)
        c -> ((x._2, x._3, x._4, x._5, x._6, est))
      }.toMap
    }
    run(0, e0); run(1, e1); run(2, e2)
    // every exact field matches the batch operator over the concatenated
    // stream at each horizon, and est_distinct matches the one-shot KMV
    // (k-minima mergeability) — including the all-null column 't'
    assert(card(0) == oneShot(e0))
    assert(card(1) == oneShot(e0 ++ e1))
    assert(card(2) == oneShot(e0 ++ e1 ++ e2))
    assert(card(2)("t") == ((150L, 150L, None, None, None, 0.0)))
    // crash-after-commit replay of the last epoch reconstructs identically
    val before = card(2)
    run(2, e2)
    assert(card(2) == before)
    // sliding window: maxEpochAge=1 → epoch 2's card covers e1 ∪ e2
    val stateDir2 = TestSpark.tmpDir("profstate2")
    val outDir2 = TestSpark.tmpDir("profout2")
    def run2(e: Long, rows: Seq[(Long, Option[String], Option[String])]): Unit =
      StreamingJobs.profileBatch(rows.toDF("id", "s", "t"), e, cols,
        stateDir2, outDir2, k = 32, maxEpochAge = 1)
    run2(0, e0); run2(1, e1); run2(2, e2)
    val slid = spark.read.parquet(s"$outDir2/epoch=2")
      .select("col_name", "n_rows", "n_null", "min_v", "max_v",
        "avg_len", "est_distinct")
      .as[(String, Long, Long, Option[String], Option[String], Option[Double], Double)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap
    assert(slid == oneShot(e1 ++ e2))
  }

  test("collocBatch: cumulative phrase table equals one-shot collocations, " +
    "replay-stable, sliding vocabulary window") {
    import graft.operators.TextStats
    val stateDir = TestSpark.tmpDir("collstate")
    val outDir = TestSpark.tmpDir("collout")
    val e0 = (1 to 30).map(i => s"new york trip $i") :+ "a new car"
    val e1 = (1 to 25).map(i => s"new york and hong kong $i")
    val e2 = (1 to 20).map(i => s"hong kong stories $i only")
    def run(e: Long, docs: Seq[String]): Unit =
      StreamingJobs.collocBatch(docs.toDF("text"), e, split(col("text"), " "),
        stateDir, outDir, minCount = 10L, delta = 2L)
    def emitted(e: Long): Set[(String, String, Long, Long, Long, Double)] =
      spark.read.parquet(s"$outDir/epoch=$e")
        .as[(String, String, Long, Long, Long, Double)].collect().toSet
    def oneShot(docs: Seq[String]): Set[(String, String, Long, Long, Long, Double)] =
      TextStats.collocations(docs.toDF("text"), split(col("text"), " "),
        minCount = 10L, delta = 2L)
        .as[(String, String, Long, Long, Long, Double)].collect().toSet
    run(0, e0); run(1, e1); run(2, e2)
    // additive exact counts: the cumulative table at each horizon IS the
    // one-shot build over the concatenated stream — score DOUBLES equal
    // bit-for-bit (identical integer counts, identical IEEE chain)
    assert(emitted(0) == oneShot(e0))
    assert(emitted(1) == oneShot(e0 ++ e1))
    assert(emitted(2) == oneShot(e0 ++ e1 ++ e2))
    assert(emitted(2).exists { case (wa, wb, _, _, _, _) =>
      (wa, wb) == ("hong", "kong") })
    // crash-after-commit replay: per-epoch keyed contributions overwrite
    val before = emitted(2)
    run(2, e2)
    assert(emitted(2) == before)
    // state is vocabulary-bounded: (side, wa, wb, epoch) rows only
    val v = graft.sources.Writers.latestVersion(stateDir).get
    val state = spark.read.parquet(s"$stateDir/v$v")
    val vocab = (e0 ++ e1 ++ e2).flatMap(_.split(" ")).distinct.size
    assert(state.filter(col("side") === "u").count() <= 3L * vocab)
    // sliding window: maxEpochAge=1 → epoch 2's table covers e1 ∪ e2
    val stateDir2 = TestSpark.tmpDir("collstate2")
    val outDir2 = TestSpark.tmpDir("collout2")
    def run2(e: Long, docs: Seq[String]): Unit =
      StreamingJobs.collocBatch(docs.toDF("text"), e, split(col("text"), " "),
        stateDir2, outDir2, minCount = 10L, delta = 2L, maxEpochAge = 1)
    run2(0, e0); run2(1, e1); run2(2, e2)
    val slid = spark.read.parquet(s"$outDir2/epoch=2")
      .as[(String, String, Long, Long, Long, Double)].collect().toSet
    assert(slid == oneShot(e1 ++ e2))
    // the all-time table kept 'new york' (e0-heavy); the slid one dropped
    // it below minCount only if its e1 count alone is < 10 — it is 25, so
    // instead assert the e0-only pair 'york trip' aged out
    assert(!slid.exists { case (wa, wb, _, _, _, _) =>
      (wa, wb) == ("york", "trip") })
  }

  test("invertedIndexBatch: cumulative phrase result equals the one-shot " +
    "index at every horizon, replay-stable, sliding window (r14 stretch)") {
    import graft.operators.Retrieval
    val stateDir = TestSpark.tmpDir("iistate")
    val outDir = TestSpark.tmpDir("iiout")
    val e0 = Seq((1L, "fast table scan runs"), (2L, "the fast car"))
    val e1 = Seq((3L, "a fast table and a fast table again"),
      (4L, "slow table"))
    val e2 = Seq((5L, "fast table fast table"), (6L, "unrelated words"))
    def run(e: Long, docs: Seq[(Long, String)], state: String = stateDir,
            out: String = outDir, age: Int = 0): Unit =
      StreamingJobs.invertedIndexBatch(docs.toDF("doc_id", "text"), e,
        "doc_id", split(col("text"), " "), state, out,
        Seq("fast", "table"), maxEpochAge = age)
    def emitted(e: Long, out: String = outDir): Set[(Long, Long, Long)] =
      spark.read.parquet(s"$out/epoch=$e")
        .as[(Long, Long, Long)].collect().toSet
    def oneShot(docs: Seq[(Long, String)]): Set[(Long, Long, Long)] =
      Retrieval.phraseSearch(
        Retrieval.invertedIndex(docs.toDF("doc_id", "text"), "doc_id",
          split(col("text"), " ")),
        "doc_id", Seq("fast", "table"))
        .as[(Long, Long, Long)].collect().toSet
    run(0, e0); run(1, e1); run(2, e2)
    // additive postings: each horizon's probe equals the one-shot build
    // over the concatenated stream — overlapping matches included (doc 5
    // matches twice, doc 3 twice at distinct starts)
    assert(emitted(0) == oneShot(e0))
    assert(emitted(1) == oneShot(e0 ++ e1))
    assert(emitted(2) == oneShot(e0 ++ e1 ++ e2))
    assert(emitted(2).exists(_._1 == 5L))
    // crash-after-commit replay: the epoch's keyed contribution
    // overwrites itself — output and state unchanged
    val before = emitted(2)
    val stateRowsBefore = {
      val v = graft.sources.Writers.latestVersion(stateDir).get
      spark.read.parquet(s"$stateDir/v$v").count()
    }
    run(2, e2)
    assert(emitted(2) == before)
    val v2 = graft.sources.Writers.latestVersion(stateDir).get
    assert(spark.read.parquet(s"$stateDir/v$v2").count() == stateRowsBefore)
    // sliding index: maxEpochAge=1 → epoch 2's probe covers e1 ∪ e2 only
    val st2 = TestSpark.tmpDir("iistate2")
    val out2 = TestSpark.tmpDir("iiout2")
    run(0, e0, st2, out2, age = 1)
    run(1, e1, st2, out2, age = 1)
    run(2, e2, st2, out2, age = 1)
    assert(emitted(2, out2) == oneShot(e1 ++ e2))
    assert(!emitted(2, out2).exists(_._1 == 1L)) // e0's match aged out
  }

  test("invertedIndexBatch assertAppendOnly: same-content re-delivery " +
    "passes, changed content raises instead of silently corrupting " +
    "(ADVICE r15)") {
    val stateDir = TestSpark.tmpDir("iiaostate")
    val outDir = TestSpark.tmpDir("iiaoout")
    def run(e: Long, docs: Seq[(Long, String)]): Unit =
      StreamingJobs.invertedIndexBatch(docs.toDF("doc_id", "text"), e,
        "doc_id", split(col("text"), " "), stateDir, outDir,
        Seq("fast", "table"), assertAppendOnly = true)
    run(0, Seq((1L, "fast table scan"), (2L, "the fast car")))
    // same content in a later epoch: posting sets match both sides, ok
    run(1, Seq((1L, "fast table scan"), (3L, "slow table")))
    // changed content for a known id: the old postings would stand and
    // corrupt phrase results — the assertion mode must raise, naming it
    val err = intercept[IllegalArgumentException] {
      run(2, Seq((2L, "entirely different words now")))
    }
    assert(err.getMessage.contains("append-only"))
    assert(err.getMessage.contains("2"))
  }

  test("labelBatch: stateless frozen-model labeling — each epoch equals " +
    "the batch predictClass over the same docs, replay-idempotent, " +
    "cut-over = a new artifact path") {
    import graft.operators.QualityModel
    val outDir = TestSpark.tmpDir("lblout")
    val classes = Seq("a", "b")
    val train = Seq(
      (1L, "x x x x x", "a"), (2L, "y y y y y", "b"),
      (3L, "x x x y", "a"), (4L, "y y x", "b"))
      .toDF("doc_id", "text", "lab")
      .select(col("doc_id"), col("lab"),
        split(col("text"), " ").as("toks"))
    val mdl1 = TestSpark.tmpDir("lblmdl1")
    QualityModel.fitMulticlass(train, col("toks"), col("lab"),
      classes, 64, 2).write.mode("overwrite").parquet(mdl1)
    def toks(c: org.apache.spark.sql.Column) =
      filter(split(c, " "), t => t =!= "")
    def run(e: Long, docs: Seq[(Long, String)], path: String = mdl1): Unit =
      StreamingJobs.labelBatch(docs.toDF("doc_id", "text"), e,
        "doc_id", toks(col("text")), path, classes, 64, outDir)
    def emitted(e: Long): Map[Long, String] =
      spark.read.parquet(s"$outDir/epoch=$e")
        .select(col("doc_id"), col("pred_class"))
        .as[(Long, Option[String])].collect()
        .collect { case (id, Some(p)) => id -> p }.toMap
    val e0 = Seq((10L, "x x x"), (11L, "y y"), (12L, ""))
    val e1 = Seq((13L, "x y x"), (14L, "y"))
    run(0, e0); run(1, e1)
    def direct(docs: Seq[(Long, String)], path: String): Map[Long, String] =
      QualityModel.predictClass(
          docs.toDF("doc_id", "text")
            .select(col("doc_id"), toks(col("text")).as("toks")),
          col("toks"), spark.read.parquet(path), classes, 64)
        .select(col("doc_id"), col("pred_class"))
        .as[(Long, Option[String])].collect()
        .collect { case (id, Some(p)) => id -> p }.toMap
    assert(emitted(0) == direct(e0, mdl1))
    assert(emitted(1) == direct(e1, mdl1))
    assert(emitted(0)(10L) == "a" && emitted(0)(11L) == "b")
    // replay: stateless, so re-running an epoch is trivially identical
    val before = emitted(1)
    run(1, e1)
    assert(emitted(1) == before)
    // cut-over: a retrained artifact at a NEW path relabels from the
    // next epoch on — prior epoch outputs stand untouched
    val mdl2 = TestSpark.tmpDir("lblmdl2")
    QualityModel.fitMulticlass(
        train.withColumn("lab", // labels flipped -> argmax flips
          when(col("lab") === "a", "b").otherwise("a")),
        col("toks"), col("lab"), classes, 64, 2)
      .write.mode("overwrite").parquet(mdl2)
    run(2, e0, mdl2)
    assert(emitted(2) == direct(e0, mdl2))
    assert(emitted(2)(10L) == "b" && emitted(0)(10L) == "a")
    // metrics sidecar: rows_labeled excludes the featureless doc 12
    val m = spark.read.parquet(s"$outDir/_metrics/epoch=0").collect().head
    assert(m.getAs[Long]("input_rows") == 3 &&
      m.getAs[Long]("flagged") == 2 &&
      m.getAs[Long]("state_rows") == 0)
  }

  test("ivfCodesBatch: train-once/add-forever — every horizon's probe " +
    "equals the one-shot search with epoch-0-frozen artifacts, " +
    "replay-stable, sliding window") {
    import graft.operators.Similarity
    val stateDir = TestSpark.tmpDir("ivfstate")
    val outDir = TestSpark.tmpDir("ivfout")
    val e0 = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(0f, 0f, 1f, 0f)), (3L, Seq(0f, 0f, 0f, 1f)),
      (4L, Seq(0.9f, 0.1f, 0f, 0f)), (5L, Seq(0.8f, 0f, 0.1f, 0f)))
    val e1 = Seq(
      (6L, Seq(0.95f, 0f, 0f, 0.1f)), (7L, Seq(0f, 0.9f, 0.1f, 0f)),
      (8L, Seq(0.1f, 0f, 0.9f, 0f)), (9L, Seq(0.7f, 0.3f, 0f, 0f)))
    val e2 = Seq(
      (10L, Seq(0.99f, 0.01f, 0f, 0f)), (11L, Seq(0f, 0f, 0f, 0.9f)))
    val qv = Seq(1f, 0f, 0.05f, 0f)
    def df(rows: Seq[(Long, Seq[Float])]) = rows.toDF("vec_id", "embedding")
    def run(e: Long, rows: Seq[(Long, Seq[Float])], state: String = stateDir,
            out: String = outDir, age: Int = 0): Unit =
      StreamingJobs.ivfCodesBatch(df(rows), e, "vec_id", "embedding",
        state, out, qv, nprobe = 2, k = 5, coarseK = 4, m = 2,
        subDim = 2, probeDims = 2, maxEpochAge = age)
    def emitted(e: Long, out: String = outDir): Seq[(Long, Double)] =
      spark.read.parquet(s"$out/epoch=$e")
        .as[(Long, Double)].collect().sortBy(r => (r._2, r._1)).toSeq
    // one-shot comparator: artifacts FROZEN from the training slice,
    // codes over whatever is searchable — exactly the sink's contract
    def oneShot(train: Seq[(Long, Seq[Float])],
                searchable: Seq[(Long, Seq[Float])]): Seq[(Long, Double)] = {
      val coarse = df(train).orderBy(col("vec_id").asc_nulls_last).limit(4)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val (_, trained) = Similarity.ivfPqIndexTables(
        df(train), "vec_id", "embedding", coarse, "cid", "cvec", 2, 2, 2)
      val book = graft.sources.Writers.padIvfPqCodebook(spark, trained, 2, 2, 2)
      val (codes, _) = Similarity.ivfPqIndexTables(
        df(searchable), "vec_id", "embedding", coarse, "cid", "cvec", 2, 2, 2)
      val query = spark.range(1)
        .select(typedLit(qv).cast("array<float>").as("qvec"))
      Similarity.ivfPqSearchStored(codes, book, coarse, "vec_id",
        query, "qvec", nprobe = 2, k = 5, m = 2, subDim = 2, probeDims = 2)
        .as[(Long, Double)].collect().sortBy(r => (r._2, r._1)).toSeq
    }
    run(0, e0); run(1, e1); run(2, e2)
    assert(emitted(0) == oneShot(e0, e0))
    assert(emitted(1) == oneShot(e0, e0 ++ e1))
    assert(emitted(2) == oneShot(e0, e0 ++ e1 ++ e2))
    assert(emitted(2).nonEmpty)
    // artifacts stayed frozen across epochs: still e0's 4 lowest ids
    val cids = spark.read.parquet(s"$stateDir/artifacts/centroids")
      .select("cid").as[Long].collect().sorted.toSeq
    assert(cids == Seq(0L, 1L, 2L, 3L))
    // crash-after-commit replay: output and state unchanged
    val before = emitted(2)
    val vBefore = graft.sources.Writers.latestVersion(s"$stateDir/codes").get
    val rowsBefore = spark.read.parquet(s"$stateDir/codes/v$vBefore").count()
    run(2, e2)
    assert(emitted(2) == before)
    val vAfter = graft.sources.Writers.latestVersion(s"$stateDir/codes").get
    assert(spark.read.parquet(s"$stateDir/codes/v$vAfter").count() == rowsBefore)
    // sliding window: age=1 → epoch 2 searches e1 ∪ e2 only, with the
    // artifacts STILL trained on e0 (training never ages out)
    val st2 = TestSpark.tmpDir("ivfstate2")
    val out2 = TestSpark.tmpDir("ivfout2")
    run(0, e0, st2, out2, age = 1)
    run(1, e1, st2, out2, age = 1)
    run(2, e2, st2, out2, age = 1)
    assert(emitted(2, out2) == oneShot(e0, e1 ++ e2))
    // an EMPTY epoch before anything trains emits an empty result (not
    // a crash, not artifacts trained on nothing); the first non-empty
    // batch then trains as epoch 0 would have
    val st3 = TestSpark.tmpDir("ivfstate3")
    val out3 = TestSpark.tmpDir("ivfout3")
    run(0, Seq.empty, st3, out3)
    assert(emitted(0, out3).isEmpty)
    // ... and still writes its metrics row: one row per processed epoch
    assert(spark.read.parquet(s"$out3/_metrics/epoch=0")
      .select("input_rows", "flagged", "state_rows", "flagged_kind")
      .as[(Long, Long, Long, String)].collect().toSeq ==
      Seq((0L, 0L, 0L, "ann_topk_rows")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st3/artifacts/_done")))
    run(1, e0, st3, out3)
    assert(emitted(1, out3) == oneShot(e0, e0))
    // a later vector in a probed bucket (cid 0) whose subspace-0 code
    // (|0.9| first, then −0.3: code 15) no e0 vector realized scores
    // against the padded codebook's zero centroid, not a NaN slot
    val st4 = TestSpark.tmpDir("ivfstate4")
    val out4 = TestSpark.tmpDir("ivfout4")
    val novel = Seq((12L, Seq(0.9f, -0.3f, 0f, 0f)))
    run(0, e0, st4, out4); run(1, novel, st4, out4)
    assert(emitted(1, out4) == oneShot(e0, e0 ++ novel))
    assert(emitted(1, out4).map(_._1).contains(12L), emitted(1, out4))
  }

  test("a negative maxEpochAge is rejected before the epoch writes anything") {
    val stateDir = TestSpark.tmpDir("negage")
    val outDir = TestSpark.tmpDir("negageout")
    val err = intercept[IllegalArgumentException] {
      StreamingJobs.cmsBatch(Seq("a", "b").toDF("w"), 3L, col("w"),
        stateDir, outDir, maxEpochAge = -1)
    }
    assert(err.getMessage.contains("cmsBatch") &&
      err.getMessage.contains("epoch 3"), err.getMessage)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$outDir/epoch=3")))
    assert(graft.sources.Writers.latestVersion(stateDir).isEmpty)
  }

  test("ivfCodesSink drift trade MEASURED: epoch-0-frozen codebook means " +
    "misrank drifted data that fresh retraining ranks perfectly") {
    import graft.operators.Similarity
    // Cell geometry: the TRAINING epoch puts one tiny vector in the
    // (+,+)-dominant code cell and six decoys in the (+,−) cell; the
    // DRIFTED epoch adds ten strong (+,+) vectors that are the query's
    // true neighbors. Frozen ADC scores every (+,+) member by the
    // training-epoch cell mean (≈ the tiny vector) — so the decoy
    // cell's mean sits closer to the query and decoys sweep the top-k.
    // Retrained-on-everything ADC moves the (+,+) mean onto the
    // drifted mass and ranks the true neighbors first.
    val tail = Seq(0.5f, 0.25f) // shared second subspace: constant term
    val trainEpoch = ((50L, Seq(0.05f, 0.01f) ++ tail) +:
      (51L to 56L).map(i => (i, Seq(0.6f, -0.1f) ++ tail))).toSeq
    val driftEpoch = (1L to 10L).map(i => (i, Seq(0.95f, 0.4f) ++ tail))
    val all = trainEpoch ++ driftEpoch
    val qv = Seq(0.9f, 0.4f) ++ tail
    def df(rows: Seq[(Long, Seq[Float])]) = rows.toDF("vec_id", "embedding")
    val stateDir = TestSpark.tmpDir("drift")
    val outDir = TestSpark.tmpDir("driftout")
    def run(e: Long, rows: Seq[(Long, Seq[Float])]): Unit =
      StreamingJobs.ivfCodesBatch(df(rows), e, "vec_id", "embedding",
        stateDir, outDir, qv, nprobe = 1, k = 5, coarseK = 1, m = 2,
        subDim = 2, probeDims = 2)
    run(0, trainEpoch); run(1, driftEpoch)
    val frozen = spark.read.parquet(s"$outDir/epoch=1")
      .select("vec_id").as[Long].collect().toSet
    val fresh = {
      val coarse = df(all).orderBy(col("vec_id").asc).limit(1)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val (_, book) = Similarity.ivfPqIndexTables(
        df(all), "vec_id", "embedding", coarse, "cid", "cvec", 2, 2, 2)
      val (codes, _) = Similarity.ivfPqIndexTables(
        df(all), "vec_id", "embedding", coarse, "cid", "cvec", 2, 2, 2)
      Similarity.ivfPqSearchStored(codes, book, coarse, "vec_id",
        spark.range(1).select(typedLit(qv).cast("array<float>").as("qvec")),
        "qvec", nprobe = 1, k = 5, m = 2, subDim = 2, probeDims = 2)
        .select("vec_id").as[Long].collect().toSet
    }
    val brute = Similarity.cosineTopK(df(all), "vec_id", "embedding",
      spark.range(1).select(typedLit(qv).cast("array<float>").as("qvec")),
      "qvec", k = 5)
      .select("vec_id").as[Long].collect().toSet
    def recall(got: Set[Long]) = got.intersect(brute).size / 5.0
    // the measured trade the ivfCodesSink scaladoc documents: frozen
    // artifacts lose the drifted neighbors entirely (recall 0 here),
    // retraining recovers them exactly — and the retrain move is a NEW
    // index, which is the cut-over the scaladoc prescribes
    assert(recall(fresh) == 1.0, s"fresh=$fresh brute=$brute")
    assert(recall(frozen) == 0.0, s"frozen=$frozen brute=$brute")
  }

  test("scd2Batch: reconstruction equals batch scd2, late drops counted, replay-stable") {
    import graft.operators.Delta
    val stateDir = TestSpark.tmpDir("scdstate")
    val outDir = TestSpark.tmpDir("scdout")
    def obs(rows: (String, Int, Long, String)*) =
      rows.toSeq.toDF("key", "d", "id", "v")
        .select(col("key"),
          expr("timestampadd(DAY, d, TIMESTAMP '2024-01-01 00:00:00')")
            .as("ts"),
          col("id"), col("v"))
    // e0: two keys open; e1: a changes, b collapses (unchanged run), c new;
    // e2: a reverses back to A, plus a LATE b observation (day 0 < open
    // version's day 4 valid_from... day 1) that must drop
    val e0 = obs(("a", 1, 1L, "A"), ("a", 2, 2L, "A"), ("b", 1, 5L, "X"))
    val e1 = obs(("a", 3, 3L, "B"), ("b", 4, 6L, "X"), ("c", 1, 7L, "Y"))
    val e2 = obs(("a", 5, 4L, "A"), ("b", 0, 8L, "X"))
    def run(e: Long, df: org.apache.spark.sql.DataFrame): Unit =
      StreamingJobs.scd2Batch(df, e, Seq("key"), "ts", Seq("id"), Seq("v"),
        stateDir, outDir)
    run(0, e0); run(1, e1); run(2, e2)
    // reconstruction: the LATEST emitted row per (key, version_nr) —
    // equals the batch operator over every non-late observation
    def reconstructed = graft.operators.Upsert.keepFirst(
      (0 to 2).map(e => spark.read.parquet(s"$outDir/epoch=$e")
        .withColumn("__e", lit(e.toLong))).reduce(_ unionByName _),
      Seq("key", "version_nr"), Seq(col("__e").desc)).drop("__e")
    val kept = e0.unionByName(e1).unionByName(e2.filter(col("id") =!= 8L))
    val batch = Delta.scd2(kept, Seq("key"), "ts", Seq("id"), Seq("v"))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("key"), col("version_nr"), col("v"),
        col("valid_from").cast("string"), col("valid_to").cast("string"),
        col("is_current"))
      .as[(String, Long, String, String, String, Int)].collect().toSet
    assert(canon(reconstructed) == canon(batch),
      s"streamed history diverged:\n${canon(reconstructed)}\nvs\n${canon(batch)}")
    // the late observation was counted, not silently eaten
    val m = StreamingJobs.epochMetrics(spark, outDir)
      .filter(col("epoch") === 2)
      .select(col("flagged_kind"), col("flagged")).collect().head
    assert(m.getString(0) == "late_observations_dropped" && m.getLong(1) == 1L)
    // untouched keys are NOT re-emitted: epoch 2's only surviving
    // observation is a's (b's was late-dropped), so only a's rows rebuild
    val ep2Keys = spark.read.parquet(s"$outDir/epoch=2")
      .select("key").distinct().as[String].collect().toSet
    assert(ep2Keys == Set("a"))
    // crash-after-commit replay of the last epoch reconstructs identically
    val liveBefore = canon(reconstructed)
    run(2, e2)
    assert(canon(reconstructed) == liveBefore)
  }

  test("rrfTopKBatch: cumulative fused head equals batch composition, replay-stable, age-evicted") {
    import graft.operators.Retrieval
    import org.apache.spark.sql.expressions.Window
    val stateDir = TestSpark.tmpDir("rrfstate")
    val outDir = TestSpark.tmpDir("rrfout")
    // deterministic arm scores: doc i scores (i*7%101, i*13%103); some
    // docs miss an arm entirely (null) — and epoch 1 RE-SCORES doc 3
    // lower on arm a (the duplicate-id collapse must keep the best)
    def docs(ids: Seq[Long], reScore: Boolean = false) = ids.toDF("doc_id")
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 4, lit(null).cast("double"))
          .when(lit(reScore) && col("doc_id") === 3, lit(0.5))
          .otherwise((col("doc_id") * 7 % 101).cast("double")).as("sa"),
        when(col("doc_id") % 7 === 6, lit(null).cast("double"))
          .otherwise((col("doc_id") * 13 % 103).cast("double")).as("sb"))
    val e0 = (0L until 30L).toSeq
    val e1 = (30L until 60L).toSeq :+ 3L // 3 re-delivered with a lower arm-a score
    val e2 = (60L until 90L).toSeq
    def run(e: Long, ids: Seq[Long], re: Boolean = false): Unit =
      StreamingJobs.rrfTopKBatch(docs(ids, re), e, "doc_id",
        col("sa"), col("sb"), stateDir, outDir, n = 10)
    run(0, e0); run(1, e1, re = true); run(2, e2)
    // batch composition the sink must match exactly: per-arm global
    // top-10 over the concatenated stream (best score per id), ranked,
    // fused — q136's shape
    def oneShot(ids: Seq[Long]): Array[org.apache.spark.sql.Row] = {
      val d = docs(ids).groupBy(col("doc_id").cast("string").as("id"))
        .agg(max(col("sa")).as("sa"), max(col("sb")).as("sb"))
      def head(s: String, rn: String) = d.filter(col(s).isNotNull)
        .orderBy(col(s).desc, col("id").asc).limit(10)
        .withColumn(rn, row_number().over(
          Window.orderBy(col(s).desc, col("id").asc)).cast("long"))
        .select(col("id"), col(rn))
      Retrieval.rrfFuse(head("sa", "r_lex"), head("sb", "r_vec"),
          "id", "r_lex", "r_vec")
        .orderBy(col("id").asc).collect()
    }
    def fusedAt(e: Long): Array[org.apache.spark.sql.Row] =
      spark.read.parquet(s"$outDir/epoch=$e")
        .select("id", "r_lex", "r_vec", "rrf").orderBy(col("id").asc).collect()
    assert(fusedAt(0).sameElements(oneShot(e0)))
    assert(fusedAt(1).sameElements(oneShot(e0 ++ e1)))
    assert(fusedAt(2).sameElements(oneShot(e0 ++ e1 ++ e2)))
    // state is per-epoch batch-local heads: <= 2n rows per retained epoch
    val v = graft.sources.Writers.latestVersion(stateDir).get
    val state = spark.read.parquet(s"$stateDir/v$v")
    assert(state.groupBy("__epoch").count().as[(Long, Long)].collect()
      .forall(_._2 <= 20))
    // crash-after-commit replay of the last epoch: (arm, id, __epoch)-
    // keyed contributions overwrite, the fused head reconstructs identically
    val before = fusedAt(2)
    run(2, e2)
    assert(fusedAt(2).sameElements(before))
    // sliding freshness: maxEpochAge=1 ages epoch 0's heads out of the
    // epoch-2 merge — the fused head is the one-shot over e1 ++ e2 only
    val stateDir2 = TestSpark.tmpDir("rrfstate2")
    val outDir2 = TestSpark.tmpDir("rrfout2")
    def run2(e: Long, ids: Seq[Long], re: Boolean = false): Unit =
      StreamingJobs.rrfTopKBatch(docs(ids, re), e, "doc_id",
        col("sa"), col("sb"), stateDir2, outDir2, n = 10, maxEpochAge = 1)
    run2(0, e0); run2(1, e1, re = true); run2(2, e2)
    val slid = spark.read.parquet(s"$outDir2/epoch=2")
      .select("id", "r_lex", "r_vec", "rrf").orderBy(col("id").asc).collect()
    // e1's re-delivered doc 3 contributes its LOWER re-score on arm a
    // (the original epoch-0 head aged out), so build the expected
    // composition from the re-scored frame
    val d12 = docs(e1, reScore = true).unionByName(docs(e2))
      .groupBy(col("doc_id").cast("string").as("id"))
      .agg(max(col("sa")).as("sa"), max(col("sb")).as("sb"))
    def head12(s: String, rn: String) = d12.filter(col(s).isNotNull)
      .orderBy(col(s).desc, col("id").asc).limit(10)
      .withColumn(rn, row_number().over(
        Window.orderBy(col(s).desc, col("id").asc)).cast("long"))
      .select(col("id"), col(rn))
    val exp12 = Retrieval.rrfFuse(head12("sa", "r_lex"), head12("sb", "r_vec"),
      "id", "r_lex", "r_vec").orderBy(col("id").asc).collect()
    assert(slid.sameElements(exp12))
  }

  test("gapFillBatch: epoch-concat equals batch gapFill, fills inter-epoch gaps, replay-stable") {
    val stateDir = TestSpark.tmpDir("gfstate")
    val outDir = TestSpark.tmpDir("gfout")
    def ev(rows: (Long, String, Double)*) = rows.toSeq.toDF("k", "tss", "v")
      .select(col("k"), col("tss").cast("timestamp").as("ts"), col("v"))
    // epoch 0: key 1 hours 00–01, key 2 hour 00
    val e0 = ev((1L, "2024-01-01 00:10:00", 2.0),
      (1L, "2024-01-01 01:20:00", 3.0), (2L, "2024-01-01 00:00:00", 5.0))
    // epoch 1: key 1 hour 04 — hours 02–03 fell BETWEEN epochs; key 2 idle
    val e1 = ev((1L, "2024-01-01 04:05:00", 7.0))
    // epoch 2: key 2 resumes at hour 03 (hours 01–02 fell between its
    // last seen hour 00 and now), key 3 brand new
    val e2 = ev((2L, "2024-01-01 03:00:00", 1.0),
      (3L, "2024-01-01 02:00:00", 9.0))
    def run(e: Long, df: org.apache.spark.sql.DataFrame): Unit =
      StreamingJobs.gapFillBatch(df, e, col("k"), col("ts"), col("v"),
        stateDir, outDir)
    run(0, e0); run(1, e1); run(2, e2)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("key").cast("long"), col("period").cast("string"),
        col("value_ff"), col("was_gap"))
      .as[(Long, String, Double, Int)].collect().toSet
    def streamed = (0 to 2)
      .map(e => spark.read.parquet(s"$outDir/epoch=$e"))
      .reduce(_ unionByName _)
    val batch = graft.operators.TimeSeries.gapFill(
      e0.unionByName(e1).unionByName(e2), col("k"), col("ts"), col("v"),
      "hour")
    // the sink's concatenated epochs ARE the batch operator's output —
    // including the was_gap hours no single epoch contained
    assert(rows(streamed) == rows(batch))
    // the inter-epoch fill carried key 1's hour-01 value across the
    // epoch-1 gap hours
    assert(rows(spark.read.parquet(s"$outDir/epoch=1")) == Set(
      (1L, "2024-01-01 02:00:00", 3.0, 1),
      (1L, "2024-01-01 03:00:00", 3.0, 1),
      (1L, "2024-01-01 04:00:00", 7.0, 0)))
    // crash-after-commit replay of the last epoch: output and live seed
    // are reconstructed identically ((key, __epoch)-keyed state rows)
    val seedBefore = graft.sources.Writers.latestVersion(stateDir).get
    val liveBefore = spark.read.parquet(s"$stateDir/v$seedBefore")
      .collect().map(_.toString).toSet
    run(2, e2)
    assert(rows(streamed) == rows(batch))
    val seedAfter = graft.sources.Writers.latestVersion(stateDir).get
    assert(spark.read.parquet(s"$stateDir/v$seedAfter")
      .collect().map(_.toString).toSet == liveBefore)
  }

  test("gapFillBatch drops per-key late periods and counts them in metrics") {
    val stateDir = TestSpark.tmpDir("gfstate2")
    val outDir = TestSpark.tmpDir("gfout2")
    def ev(rows: (Long, String, Double)*) = rows.toSeq.toDF("k", "tss", "v")
      .select(col("k"), col("tss").cast("timestamp").as("ts"), col("v"))
    StreamingJobs.gapFillBatch(
      ev((1L, "2024-01-01 00:00:00", 2.0), (1L, "2024-01-01 02:00:00", 4.0)),
      0L, col("k"), col("ts"), col("v"), stateDir, outDir)
    // hour 01 arrives AFTER hour 02 was emitted (as a filled gap): the
    // key's state last_period is its watermark — the late period drops,
    // the fresh hour 03 still extends the grid
    StreamingJobs.gapFillBatch(
      ev((1L, "2024-01-01 01:00:00", 99.0), (1L, "2024-01-01 03:00:00", 6.0)),
      1L, col("k"), col("ts"), col("v"), stateDir, outDir)
    val out1 = spark.read.parquet(s"$outDir/epoch=1")
      .select(col("period").cast("string"), col("value_ff"), col("was_gap"))
      .as[(String, Double, Int)].collect().toSet
    assert(out1 == Set(("2024-01-01 03:00:00", 6.0, 0)))
    val m = StreamingJobs.epochMetrics(spark, outDir)
      .filter(col("epoch") === 1)
      .select(col("flagged_kind"), col("flagged")).collect().head
    assert(m.getString(0) == "late_period_rows_dropped")
    assert(m.getLong(1) == 1L)
  }

  test("bloomGateBatch passes only definitely-new keys, replay-stable") {
    val stateDir = TestSpark.tmpDir("bloomstate")
    val outDir = TestSpark.tmpDir("bloomout")
    def run(epoch: Long, rows: Seq[(String, Int)]): Unit =
      StreamingJobs.bloomGateBatch(rows.toDF("url", "payload"), epoch,
        col("url"), stateDir, outDir, k = 4, m = 1 << 16)
    def outAt(e: Long) = spark.read.parquet(s"$outDir/epoch=$e")
      .as[(String, Int)].collect().toSeq.sorted
    // epoch 0: everything is new; a within-batch duplicate passes TWICE
    // (the gate is cross-epoch — within-batch grain belongs to keepFirst)
    run(0, Seq(("u1", 1), ("u2", 2), ("u1", 7)))
    assert(outAt(0) == Seq(("u1", 1), ("u1", 7), ("u2", 2)))
    // epoch 1: u1's bits are state-known → dropped even with a new payload
    run(1, Seq(("u1", 9), ("u3", 3)))
    assert(outAt(1) == Seq(("u3", 3)))
    // crash-after-commit replay: identical output, bit state stable
    val v1 = graft.sources.Writers.latestVersion(stateDir).get
    run(1, Seq(("u1", 9), ("u3", 3)))
    assert(outAt(1) == Seq(("u3", 3)))
    val v2 = graft.sources.Writers.latestVersion(stateDir).get
    def bitsAt(v: Long) = spark.read.parquet(s"$stateDir/v$v")
      .as[(Long, Long)].collect().toSet
    assert(bitsAt(v1) == bitsAt(v2))
    // state is bit-sized: ≤ k bits per distinct key ever seen
    assert(bitsAt(v2).size <= 4 * 3)
    val m = StreamingJobs.epochMetrics(spark, outDir)
      .filter(col("epoch") === 1)
      .select(col("flagged_kind"), col("flagged"), col("flagged_pairs"))
      .collect().head
    assert(m.getString(0) == "rows_passed")
    assert(m.getLong(1) == 1L)
    assert(m.isNullAt(2))
  }

  test("bloomGateBatch eviction readmits a key once its bits age out") {
    val stateDir = TestSpark.tmpDir("bloomstate2")
    val outDir = TestSpark.tmpDir("bloomout2")
    def run(epoch: Long, keys: Seq[String]): Unit =
      StreamingJobs.bloomGateBatch(keys.map((_, 0)).toDF("url", "payload"),
        epoch, col("url"), stateDir, outDir, k = 4, m = 1 << 16,
        maxEpochAge = 2)
    run(0, Seq("old"))
    run(1, Seq("mid"))
    run(2, Seq("new"))              // merge evicts epoch-0 bits ("old")
    run(3, Seq("old", "new"))       // "old" readmitted; "new" still known
    assert(spark.read.parquet(s"$outDir/epoch=3")
      .as[(String, Int)].collect().toSeq == Seq(("old", 0)))
  }

  test("incrementalEmbeddingBatch replay: same epoch re-run is a no-op") {
    val stateDir = TestSpark.tmpDir("embstate")
    val outDir = TestSpark.tmpDir("embout")
    // 8-dim vectors; ids 1 and 3 are near-identical (same bucket, cos~1)
    def v(xs: Double*) = xs.map(_.toFloat)
    def run(epoch: Long, rows: Seq[(Long, Seq[Float])]): Unit =
      StreamingJobs.incrementalEmbeddingBatch(
        rows.toDF("vec_id", "embedding"), epoch, "vec_id", "embedding",
        stateDir, outDir, probeDims = 8, maxBucketSize = 100, minCosine = 0.9)
    run(0, Seq(
      (1L, v(0.9, 0.3, 0, 0, 0, 0, 0, 0)),
      (2L, v(0, 0, 0.9, -0.4, 0, 0, 0, 0))))
    run(1, Seq((3L, v(0.88, 0.31, 0, 0, 0, 0, 0, 0))))
    def flagged = spark.read.parquet(outDir)
      .select("id_new", "id_old").as[(Long, Long)].collect().toSet
    def stateRows = {
      val ver = graft.sources.Writers.latestVersion(stateDir).get
      spark.read.parquet(s"$stateDir/v$ver")
        .select("vec_id", "bucket").as[(Long, Int)].collect().toSet
    }
    val (f1, s1) = (flagged, stateRows)
    assert(f1 == Set((3L, 1L)))
    assert(s1.map(_._1) == Set(1L, 2L, 3L))
    // crash-after-commit replay of epoch 1: no self-probe against its
    // own merged state, no duplicated pairs, content-stable state
    run(1, Seq((3L, v(0.88, 0.31, 0, 0, 0, 0, 0, 0))))
    assert(flagged == f1)
    assert(stateRows == s1)
  }

  test("withinBatch flags same-batch text near-dups; off by default; replay stable") {
    def dirs(tag: String) =
      (TestSpark.tmpDir(s"$tag-state"),
       TestSpark.tmpDir(s"$tag-out"))
    // docs 1 and 2 are near-dups arriving in the SAME micro-batch
    val batch0 = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "epsilon zeta eta theta"))
    def run(stateDir: String, outDir: String, epoch: Long, within: Boolean,
            docs: Seq[(Long, String)]): Unit =
      StreamingJobs.incrementalDedupBatch(docs.toDF("doc_id", "text"), epoch,
        "doc_id", split(col("text"), " "), stateDir, outDir,
        withinBatch = within)
    def flagged(outDir: String, epoch: Long) =
      spark.read.parquet(s"$outDir/epoch=$epoch")
        .select("id_new", "id_old").as[(Long, Long)].collect().toSet
    // OFF (default): the same-batch pair is invisible — probe sees prior
    // state only, and epoch 0 has none
    val (sOff, oOff) = dirs("lshwb-off")
    run(sOff, oOff, 0L, within = false, batch0)
    assert(flagged(oOff, 0L) == Set.empty)
    // ON: the pair is flagged, later id against earlier
    val (sOn, oOn) = dirs("lshwb-on")
    run(sOn, oOn, 0L, within = true, batch0)
    assert(flagged(oOn, 0L) == Set((2L, 1L)))
    // cross-batch probing is unchanged: doc 4 dups docs 1/2 from state
    run(sOn, oOn, 1L, within = true, Seq((4L, "alpha beta gamma delta")))
    assert(flagged(oOn, 1L) == Set((4L, 1L), (4L, 2L)))
    // crash-after-commit replay of epoch 0 with the option on: output and
    // state stay content-identical (within pairs derive only from the
    // batch, so the overwrite reproduces them exactly)
    def stateRows(stateDir: String) = {
      val v = graft.sources.Writers.latestVersion(stateDir).get
      spark.read.parquet(s"$stateDir/v$v")
        .select("doc_id", "band", "bucket", "__epoch")
        .as[(Long, Int, String, Long)].collect().toSet
    }
    val (f0, s0) = (flagged(oOn, 0L), stateRows(sOn))
    run(sOn, oOn, 0L, within = true, batch0)
    assert(flagged(oOn, 0L) == f0 && stateRows(sOn) == s0)
  }

  test("withinBatch flags same-batch embedding near-dups; off by default") {
    def v(xs: Double*) = xs.map(_.toFloat)
    def dirs(tag: String) =
      (TestSpark.tmpDir(s"$tag-state"),
       TestSpark.tmpDir(s"$tag-out"))
    // vecs 1 and 2 are near-identical, arriving together; vec 3 is far
    val batch0 = Seq(
      (1L, v(0.9, 0.3, 0, 0, 0, 0, 0, 0)),
      (2L, v(0.88, 0.31, 0, 0, 0, 0, 0, 0)),
      (3L, v(0, 0, 0.9, -0.4, 0, 0, 0, 0)))
    def run(stateDir: String, outDir: String, epoch: Long, within: Boolean,
            rows: Seq[(Long, Seq[Float])]): Unit =
      StreamingJobs.incrementalEmbeddingBatch(
        rows.toDF("vec_id", "embedding"), epoch, "vec_id", "embedding",
        stateDir, outDir, probeDims = 8, maxBucketSize = 100,
        minCosine = 0.9, withinBatch = within)
    def flagged(outDir: String, epoch: Long) =
      spark.read.parquet(s"$outDir/epoch=$epoch")
        .select("id_new", "id_old").as[(Long, Long)].collect().toSet
    val (sOff, oOff) = dirs("embwb-off")
    run(sOff, oOff, 0L, within = false, batch0)
    assert(flagged(oOff, 0L) == Set.empty)
    val (sOn, oOn) = dirs("embwb-on")
    run(sOn, oOn, 0L, within = true, batch0)
    assert(flagged(oOn, 0L) == Set((2L, 1L)))
    // replay of the same epoch with the option on stays idempotent
    run(sOn, oOn, 0L, within = true, batch0)
    assert(flagged(oOn, 0L) == Set((2L, 1L)))
  }

  test("bloomGateSink e2e on a FILE source: checkpoint restart + constant bit state") {
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = TestSpark.tmpDir("bgsrc")
    val stateDir = TestSpark.tmpDir("bgfsstate")
    val outDir = TestSpark.tmpDir("bgfsout")
    val ckpt = TestSpark.tmpDir("bgfsckpt")
    def start() = StreamingJobs.foreachEpoch(
        spark.readStream.schema("url STRING, payload INT").parquet(srcDir))(
        StreamingJobs.bloomGateBatch(_, _, col("url"), stateDir, outDir,
          k = 4, m = 1 << 16))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    def passed = spark.read.parquet(outDir)
      .select("url", "payload").as[(String, Int)].collect().toSet
    // run 1: both keys new → both pass
    Seq(("a.com/x", 1), ("b.com/y", 2)).toDF("url", "payload")
      .write.mode("append").parquet(srcDir)
    val q1 = start(); q1.awaitTermination()
    assert(passed == Set(("a.com/x", 1), ("b.com/y", 2)))
    // run 2 (fresh query, same checkpoint): only the new file processes;
    // the re-crawled url is gated out by run 1's bits, the new one passes
    Seq(("a.com/x", 9), ("c.com/z", 3)).toDF("url", "payload")
      .write.mode("append").parquet(srcDir)
    val q2 = start(); q2.awaitTermination()
    assert(passed == Set(("a.com/x", 1), ("b.com/y", 2), ("c.com/z", 3)))
    // bit state: ≤ k rows per distinct key ever seen, versioned per epoch
    val v = graft.sources.Writers.latestVersion(stateDir).get
    assert(v >= 1)
    assert(spark.read.parquet(s"$stateDir/v$v").count() <= 4 * 3)
  }

  test("kmvSink e2e on a FILE source: checkpoint restart + cumulative estimate") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.Sketches
    val srcDir = TestSpark.tmpDir("kmvsrc")
    val stateDir = TestSpark.tmpDir("kmvfsstate")
    val outDir = TestSpark.tmpDir("kmvfsout")
    val ckpt = TestSpark.tmpDir("kmvfsckpt")
    def start() = StreamingJobs.foreachEpoch(
        spark.readStream.schema("x STRING").parquet(srcDir))(
        StreamingJobs.kmvBatch(_, _, col("x"), stateDir, outDir, k = 64))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    val b0 = (0 until 100).map(i => s"u$i")
    b0.toDF("x").write.mode("append").parquet(srcDir)
    val q1 = start(); q1.awaitTermination()
    def estAt(e: Long) = spark.read.parquet(s"$outDir/epoch=$e")
      .head().getDouble(3)
    def oneShot(items: Seq[String]) =
      Sketches.kmvDistinct(items.toDF("x"), col("x"), 64).head().getDouble(3)
    assert(estAt(0) == oneShot(b0))
    // restart (same checkpoint): only the new file processes; the
    // cumulative estimate at epoch 1 equals the one-shot over EVERYTHING
    // ever ingested, with 50 of the new keys being repeats
    val b1 = (50 until 200).map(i => s"u$i")
    b1.toDF("x").write.mode("append").parquet(srcDir)
    val q2 = start(); q2.awaitTermination()
    assert(estAt(1) == oneShot(b0 ++ b1))
    // state: ≤ k minima per retained epoch, corpus-independent
    val v = graft.sources.Writers.latestVersion(stateDir).get
    assert(spark.read.parquet(s"$stateDir/v$v").count() <= 64 * 2)
  }

  test("incrementalDedupSink e2e on a FILE source: trigger, checkpoint restart, versioned state") {
    // the production shape: docs land as parquet files in a directory,
    // the sink runs on a trigger with a checkpoint, and a restarted query
    // resumes from the checkpoint — new files become the next epoch
    // against the SAME versioned state the first run left behind
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = TestSpark.tmpDir("lshsrc")
    val stateDir = TestSpark.tmpDir("lshfsstate")
    val outDir = TestSpark.tmpDir("lshfsout")
    val ckpt = TestSpark.tmpDir("lshfsckpt")
    def start() = StreamingJobs.foreachEpoch(
        spark.readStream.schema("doc_id LONG, text STRING").parquet(srcDir))(
        StreamingJobs.incrementalDedupBatch(_, _, "doc_id",
          split(col("text"), " "), stateDir, outDir))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    def flagged = spark.read.parquet(outDir)
      .select("id_new", "id_old").as[(Long, Long)].collect().toSet
    // run 1: two novel docs seed the state, nothing to flag
    Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"))
      .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    val q1 = start(); q1.awaitTermination()
    assert(flagged == Set.empty)
    val v1 = graft.sources.Writers.latestVersion(stateDir).get
    assert(spark.read.parquet(s"$stateDir/v$v1")
      .select("doc_id").distinct().count() == 2)
    // run 2 (fresh query object, same checkpoint): a new file arrives
    // with a dup of doc 1 — only the NEW file is processed, probing the
    // state run 1 persisted
    Seq((3L, "alpha beta gamma delta")).toDF("doc_id", "text")
      .write.mode("append").parquet(srcDir)
    val q2 = start(); q2.awaitTermination()
    assert(flagged == Set((3L, 1L)))
    val v2 = graft.sources.Writers.latestVersion(stateDir).get
    assert(v2 > v1) // a new state version per processed epoch
    assert(spark.read.parquet(s"$stateDir/v$v2")
      .select("doc_id").distinct().count() == 3)
  }

  test("incrementalParagraphSink e2e on a FILE source: checkpoint restart + versioned state") {
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = TestSpark.tmpDir("parsrc")
    val stateDir = TestSpark.tmpDir("parfsstate")
    val outDir = TestSpark.tmpDir("parfsout")
    val ckpt = TestSpark.tmpDir("parfsckpt")
    def start() = StreamingJobs.foreachEpoch(
        spark.readStream.schema("doc_id LONG, text STRING").parquet(srcDir))(
        StreamingJobs.incrementalParagraphBatch(_, _, "doc_id", "text", "\n",
          stateDir, outDir))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    def cleaned = spark.read.parquet(outDir)
      .select("doc_id", "clean_text", "n_kept")
      .as[(Long, String, Long)].collect().toSet
    // run 1: banner dedups within the batch (doc 1 keeps the first copy)
    Seq((1L, "banner\nbody-a"), (2L, "banner\nbody-b"))
      .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    val q1 = start(); q1.awaitTermination()
    assert(cleaned == Set((1L, "banner\nbody-a", 2L), (2L, "body-b", 1L)))
    val v1 = graft.sources.Writers.latestVersion(stateDir).get
    // run 2 (fresh query object, same checkpoint): only the NEW file is
    // processed, probing the persisted paragraph-hash state — banner and
    // body-a are known, doc 4 (pure prior content) comes back emptied
    Seq((3L, "banner\nbody-c"), (4L, "banner\nbody-a"))
      .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    val q2 = start(); q2.awaitTermination()
    assert(cleaned == Set(
      (1L, "banner\nbody-a", 2L), (2L, "body-b", 1L),
      (3L, "body-c", 1L), (4L, "", 0L)))
    val v2 = graft.sources.Writers.latestVersion(stateDir).get
    assert(v2 > v1)
    // state holds one row per distinct paragraph hash ever kept
    assert(spark.read.parquet(s"$stateDir/v$v2")
      .select("__h").distinct().count() == 4) // banner, body-a/b/c
  }

  test("incrementalEmbeddingSink e2e on a FILE source: checkpoint restart + versioned state") {
    import org.apache.spark.sql.streaming.Trigger
    def v(xs: Double*) = xs.map(_.toFloat)
    val srcDir = TestSpark.tmpDir("embsrc")
    val stateDir = TestSpark.tmpDir("embfsstate")
    val outDir = TestSpark.tmpDir("embfsout")
    val ckpt = TestSpark.tmpDir("embfsckpt")
    def start() = StreamingJobs.foreachEpoch(
        spark.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
          .parquet(srcDir))(
        StreamingJobs.incrementalEmbeddingBatch(_, _, "vec_id", "embedding",
          stateDir, outDir, probeDims = 8, maxBucketSize = 100,
          minCosine = 0.9))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    def flagged = spark.read.parquet(outDir)
      .select("id_new", "id_old").as[(Long, Long)].collect().toSet
    Seq((1L, v(0.9, 0.3, 0, 0, 0, 0, 0, 0)),
        (2L, v(0, 0, 0.9, -0.4, 0, 0, 0, 0)))
      .toDF("vec_id", "embedding").write.mode("append").parquet(srcDir)
    val q1 = start(); q1.awaitTermination()
    assert(flagged == Set.empty)
    // restart from the same checkpoint: only the new file is processed,
    // probing the IVF bucket state the first run persisted
    Seq((3L, v(0.88, 0.31, 0, 0, 0, 0, 0, 0)))
      .toDF("vec_id", "embedding").write.mode("append").parquet(srcDir)
    val q2 = start(); q2.awaitTermination()
    assert(flagged == Set((3L, 1L)))
    val ver = graft.sources.Writers.latestVersion(stateDir).get
    assert(spark.read.parquet(s"$stateDir/v$ver")
      .select("vec_id").distinct().count() == 3)
  }

  test("dedup state compaction: size plateaus across epochs, replay still idempotent") {
    val stateDir = TestSpark.tmpDir("lshcompact")
    val outDir = TestSpark.tmpDir("lshcompactout")
    // each epoch delivers 2 fresh docs with distinct vocab (no cross-dup
    // noise); maxEpochAge=2 must hold the bucket table at the 2-epoch
    // working set while the uncompacted form would grow linearly
    def run(epoch: Long): Unit =
      StreamingJobs.incrementalDedupBatch(
        Seq((epoch * 10 + 1, s"w${epoch}a w${epoch}b w${epoch}c w${epoch}d"),
            (epoch * 10 + 2, s"x${epoch}a x${epoch}b x${epoch}c x${epoch}d"))
          .toDF("doc_id", "text"),
        epoch, "doc_id", split(col("text"), " "), stateDir, outDir,
        maxEpochAge = 2)
    def stateCount = {
      val v = graft.sources.Writers.latestVersion(stateDir).get
      spark.read.parquet(s"$stateDir/v$v").count()
    }
    val sizes = (0L to 5L).map { e => run(e); stateCount }
    // epoch 0: one epoch of buckets; epoch 1 on: exactly two epochs' worth
    assert(sizes.head * 2 == sizes(1), s"sizes=$sizes")
    assert(sizes.drop(1).distinct.size == 1,
      s"state should plateau at the 2-epoch working set: $sizes")
    // retained epochs are exactly (e-1, e]
    val v = graft.sources.Writers.latestVersion(stateDir).get
    val epochs = spark.read.parquet(s"$stateDir/v$v")
      .select("__epoch").distinct().as[Long].collect().toSet
    assert(epochs == Set(4L, 5L))
    // a dup of an EVICTED epoch's doc is no longer flagged (the sliding-
    // window trade, documented); a dup of a RETAINED epoch still is
    StreamingJobs.incrementalDedupBatch(
      Seq((100L, "w0a w0b w0c w0d"), (101L, "w5a w5b w5c w5d"))
        .toDF("doc_id", "text"),
      6L, "doc_id", split(col("text"), " "), stateDir, outDir,
      maxEpochAge = 2)
    val flagged = spark.read.parquet(s"$outDir/epoch=6")
      .select("id_new", "id_old").as[(Long, Long)].collect().toSet
    assert(flagged == Set((101L, 51L)), s"flagged=$flagged")
    // crash-after-commit replay of epoch 6 under compaction: output and
    // state must be byte-identical to the first run
    val stateBefore = spark.read.parquet(
      s"$stateDir/v${graft.sources.Writers.latestVersion(stateDir).get}")
      .select("doc_id", "band", "bucket", "__epoch")
      .as[(Long, Int, String, Long)].collect().toSet
    StreamingJobs.incrementalDedupBatch(
      Seq((100L, "w0a w0b w0c w0d"), (101L, "w5a w5b w5c w5d"))
        .toDF("doc_id", "text"),
      6L, "doc_id", split(col("text"), " "), stateDir, outDir,
      maxEpochAge = 2)
    val stateAfter = spark.read.parquet(
      s"$stateDir/v${graft.sources.Writers.latestVersion(stateDir).get}")
      .select("doc_id", "band", "bucket", "__epoch")
      .as[(Long, Int, String, Long)].collect().toSet
    assert(stateAfter == stateBefore)
    assert(spark.read.parquet(s"$outDir/epoch=6")
      .select("id_new", "id_old").as[(Long, Long)].collect().toSet == flagged)
  }

  test("embedding state compaction plateaus and keeps only recent epochs") {
    val stateDir = TestSpark.tmpDir("embcompact")
    val outDir = TestSpark.tmpDir("embcompactout")
    def v(xs: Double*) = xs.map(_.toFloat)
    // one fresh orthogonal-ish vector per epoch
    def run(epoch: Long): Unit = {
      val base = new Array[Double](8)
      base((epoch % 8).toInt) = 0.9
      StreamingJobs.incrementalEmbeddingBatch(
        Seq((epoch + 1, v(base.toIndexedSeq: _*))).toDF("vec_id", "embedding"),
        epoch, "vec_id", "embedding", stateDir, outDir,
        probeDims = 8, maxBucketSize = 100, minCosine = 0.9,
        maxEpochAge = 3)
    }
    def stateCount = {
      val ver = graft.sources.Writers.latestVersion(stateDir).get
      spark.read.parquet(s"$stateDir/v$ver").count()
    }
    val sizes = (0L to 5L).map { e => run(e); stateCount }
    assert(sizes == Seq(1L, 2L, 3L, 3L, 3L, 3L),
      s"state should plateau at 3 epochs: $sizes")
    val ver = graft.sources.Writers.latestVersion(stateDir).get
    val epochs = spark.read.parquet(s"$stateDir/v$ver")
      .select("__epoch").distinct().as[Long].collect().toSet
    assert(epochs == Set(3L, 4L, 5L))
  }

  test("curation metrics and PII scrub run unchanged in a stream (map-only ops)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val out = in.toDF().toDF("text").select(
      graft.operators.Cleaning.redactPii(col("text")).as("clean"),
      graft.operators.TextStats.topTokenFrac(split(col("text"), " ")).as("ttf"))
    val q = out.writeStream.format("memory").queryName("curation")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData("mail me at a@b.io now", "x x x y")
      q.processAllAvailable()
      val rows = spark.table("curation").as[(String, Double)].collect().toSet
      assert(rows == Set(("mail me at <EMAIL> now", 0.2), ("x x x y", 0.75)))
    } finally q.stop()
  }

  test("mergeStateSink upserts each micro-batch into the versioned state") {
    implicit val sqlCtx = spark.sqlContext
    val dir = TestSpark.tmpDir("stream-state")
    val in = MemoryStream[(String, Int, String)]
    val df = in.toDF().toDF("pk", "version", "payload")
    val q = StreamingJobs.foreachEpoch(df)((batch, _) =>
      graft.sources.Writers.mergeState(
        batch.sparkSession, dir, batch, Seq("pk"), col("version"))).start()
    try {
      in.addData(("k1", 1, "a"), ("k2", 1, "b"))
      q.processAllAvailable()
      in.addData(("k1", 2, "a2"), ("k3", 1, "c"))
      q.processAllAvailable()
      val state = graft.sources.Writers.readState(spark, dir).get
        .select("pk", "payload").as[(String, String)].collect().toMap
      assert(state == Map("k1" -> "a2", "k2" -> "b", "k3" -> "c"))
      assert(graft.sources.Writers.latestVersion(dir).contains(1L))
    } finally q.stop()
  }

  test("deltaStreamBounded expires state after the TTL (key re-emits on return)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TimedRecord]
    val out = StreamingJobs.deltaStreamBounded(in.toDS(), "1 minute",
      ttlMs = 10 * 60 * 1000L)
    val q = out.writeStream.format("memory").queryName("deltab")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(TimedRecord("k1", "h1", "v1", ts(0)))
      q.processAllAvailable()
      // same hash within TTL → suppressed
      in.addData(TimedRecord("k1", "h1", "v1-dup", ts(2)))
      q.processAllAvailable()
      // push the watermark far past k1's timeout (10:02 + 10min)
      in.addData(TimedRecord("zz", "hz", "w", Timestamp.valueOf("2024-01-01 11:00:00")))
      q.processAllAvailable()
      in.addData(TimedRecord("zz2", "hz2", "w2", Timestamp.valueOf("2024-01-01 11:30:00")))
      q.processAllAvailable()
      // k1's state expired → identical hash re-emits
      in.addData(TimedRecord("k1", "h1", "v1-back", Timestamp.valueOf("2024-01-01 11:31:00")))
      q.processAllAvailable()
      val payloads = spark.table("deltab").as[TimedRecord].collect()
        .filter(_.key == "k1").map(_.payload).toSet
      assert(payloads == Set("v1", "v1-back"))
    } finally q.stop()
  }

  test("full streaming pipeline: delta state filter chained into the merge sink") {
    implicit val sqlCtx = spark.sqlContext
    val dir = TestSpark.tmpDir("stream-pipe")
    val in = MemoryStream[KeyedRecord]
    val deltas = StreamingJobs.deltaStream(in.toDS()).toDF()
      .withColumn("v", lit(1))
    val q = StreamingJobs.foreachEpoch(deltas)((batch, _) =>
      graft.sources.Writers.mergeState(
        batch.sparkSession, dir, batch, Seq("key"), col("v"))).start()
    try {
      in.addData(KeyedRecord("k1", "h1", "v1"), KeyedRecord("k2", "h2", "w1"))
      q.processAllAvailable()
      in.addData(KeyedRecord("k1", "h1", "dup-suppressed"))
      q.processAllAvailable()
      in.addData(KeyedRecord("k1", "h9", "v2"))
      q.processAllAvailable()
      val state = graft.sources.Writers.readState(spark, dir).get
        .select("key", "hash", "payload").as[(String, String, String)].collect().toSet
      // k1's dup never reached the sink; its change did and won the merge
      assert(state == Set(("k1", "h9", "v2"), ("k2", "h2", "w1")))
    } finally q.stop()
  }

  test("deltaStream emits only new-or-changed fingerprints per key") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[KeyedRecord]
    val out = StreamingJobs.deltaStream(in.toDS())
    val q = out.writeStream.format("memory").queryName("delta")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(KeyedRecord("k1", "h1", "v1"))
      q.processAllAvailable()
      in.addData(KeyedRecord("k1", "h1", "v1-again"), KeyedRecord("k2", "h2", "w1"))
      q.processAllAvailable()
      in.addData(KeyedRecord("k1", "h9", "v2"))
      q.processAllAvailable()
      val rows = spark.table("delta").as[KeyedRecord].collect().toSet
      assert(rows == Set(
        KeyedRecord("k1", "h1", "v1"),
        KeyedRecord("k2", "h2", "w1"),
        KeyedRecord("k1", "h9", "v2")))
    } finally q.stop()
  }

  test("epoch metrics: per-epoch counters, stable under replay, invisible to data readers") {
    val stateDir = TestSpark.tmpDir("mstate")
    val outDir = TestSpark.tmpDir("mout")
    def run(epoch: Long, docs: Seq[(Long, String)]): Unit =
      StreamingJobs.incrementalDedupBatch(
        docs.toDF("doc_id", "text"), epoch, "doc_id",
        split(col("text"), " "), stateDir, outDir)
    run(0, Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta")))
    run(1, Seq((3L, "alpha beta gamma delta")))
    run(2, Seq((4L, "iota kappa lambda mu")))
    def metrics = StreamingJobs.epochMetrics(spark, outDir)
      .select(col("epoch").cast("long"), col("input_rows"),
        col("flagged_pairs"), col("state_rows"))
      .as[(Long, Long, Long, Long)].collect().toList.sorted
    // the LSH sink's kind labels its count as a true pair count
    assert(StreamingJobs.epochMetrics(spark, outDir)
      .select(col("flagged_kind")).distinct()
      .as[String].collect().toList == List("flagged_pairs"))
    val m1 = metrics
    // 4 bands per doc → state grows 8 → 12 → 16; only epoch 1 flags a pair
    assert(m1 == List((0L, 2L, 0L, 8L), (1L, 1L, 1L, 12L), (2L, 1L, 0L, 16L)))
    // crash-after-commit replay of epoch 1: counters must not double
    run(1, Seq((3L, "alpha beta gamma delta")))
    assert(metrics == m1)
    // the sidecar must not leak into reads of the data directory
    assert(!spark.read.parquet(outDir).columns.contains("input_rows"))
  }

  test("bm25MaintenanceBatch: CDC epochs (add/update/delete) drive the " +
    "SERVING layout — every horizon equals a from-scratch build over " +
    "the post-CDC corpus, replay of the last epoch is content-" +
    "idempotent, unknown ops fail loudly") {
    import graft.operators.Retrieval
    import graft.sources.Writers
    val idx = TestSpark.tmpDir("bm25cdc")
    val outDir = TestSpark.tmpDir("bm25cdcout")
    val terms = Seq("alpha", "beta", "gamma")
    // the supported empty bootstrap: a zero-doc build, epochs take over
    Writers.writeBm25Index(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), idx)
    def run(e: Long, ops: Seq[(String, Long, String)]): Unit =
      StreamingJobs.bm25MaintenanceBatch(
        ops.toDF("op", "doc_id", "text"), e, idx, outDir, terms)
    def emitted(e: Long): Set[(Long, Long, Double)] =
      spark.read.parquet(s"$outDir/epoch=$e")
        .select(col("doc_id"), col("n_terms"), col("bm25"))
        .as[(Long, Long, Double)].collect().toSet
    def fromScratch(docs: Seq[(Long, String)]): Set[(Long, Long, Double)] = {
      val p = TestSpark.tmpDir("bm25cdcref")
      Writers.writeBm25Index(docs.toDF("doc_id", "text"), p)
      Retrieval.bm25Stored(Writers.prunedBm25Tf(spark, p, terms),
          spark.read.parquet(s"$p/stats"), "doc_id", terms)
        .as[(Long, Long, Double)].collect().toSet
    }
    val t0 = "alpha beta beta"; val t1 = "beta gamma"
    val t2 = "alpha gamma gamma"; val t3 = "delta epsilon"
    val t1b = "gamma gamma alpha"; val t4 = "beta beta beta alpha"
    val t0b = "alpha alpha"
    run(0, Seq(("add", 0L, t0), ("add", 1L, t1), ("add", 2L, t2),
      ("add", 3L, t3)))
    assert(emitted(0) == fromScratch(Seq(0L -> t0, 1L -> t1, 2L -> t2,
      3L -> t3)))
    run(1, Seq(("update", 1L, t1b), ("delete", 2L, null),
      ("add", 4L, t4)))
    assert(emitted(1) == fromScratch(Seq(0L -> t0, 1L -> t1b, 3L -> t3,
      4L -> t4)))
    val e2 = Seq(("delete", 4L, null: String), ("update", 0L, t0b))
    run(2, e2)
    val horizon2 = fromScratch(Seq(0L -> t0b, 1L -> t1b, 3L -> t3))
    assert(emitted(2) == horizon2)
    // at-least-once replay of the LAST epoch: the re-delete tombstones
    // the epoch's own merged rows, the re-merge re-adds the same
    // content one generation later — visible content identical
    run(2, e2)
    assert(emitted(2) == horizon2)
    // the layout itself (not just the emitted probe) matches a rebuild
    assert(Retrieval.bm25Stored(Writers.prunedBm25Tf(spark, idx, terms),
        spark.read.parquet(s"$idx/stats"), "doc_id", terms)
      .as[(Long, Long, Double)].collect().toSet == horizon2)
    // SELF-HEALING pin (ADVICE r18): each epoch ends with the policy
    // check, so the layout's debt metrics sit inside the policy's
    // thresholds after every epoch — a long-running stream can never
    // march into the MaxTombstoneRows hard cap and wedge
    val info = Writers.describeBm25Index(spark, idx)
    assert(info.deadFraction <= 0.2 && info.maxTfFilesPerDir <= 8 &&
      info.tombstoneRows <= Writers.MaxTombstoneRows / 2,
      s"post-epoch layout debt outside the maintenance policy: $info")
    // metrics sidecar: epoch 1 deleted exactly one doc
    val m = spark.read.parquet(s"$outDir/_metrics/epoch=1").collect().head
    assert(m.getAs[Long]("input_rows") == 3 &&
      m.getAs[Long]("flagged") == 1 &&
      m.getAs[String]("flagged_kind") == "docs_deleted")
    // unknown ops fail loudly, layout untouched
    val ex = intercept[IllegalArgumentException] {
      run(3, Seq(("upsert", 5L, "alpha")))
    }
    assert(ex.getMessage.contains("unknown op"))
  }

  test("bm25MaintenanceBatch: a crash INSIDE a verb (torn uncommitted " +
    "segment + abandoned writer lock) self-heals at the next epoch — " +
    "vacuumed, replayed, landed exactly once") {
    import graft.operators.Retrieval
    import graft.sources.Writers
    val idx = TestSpark.tmpDir("bm25crash")
    val outDir = TestSpark.tmpDir("bm25crashout")
    val terms = Seq("alpha", "beta")
    Writers.writeBm25Index(
      Seq(0L -> "alpha beta", 1L -> "beta beta").toDF("doc_id", "text"), idx)
    // simulate epoch 0 crashing INSIDE mergeBm25Index: its tf rows for
    // doc 2 appended at the CURRENT generation (uncommitted — the stats
    // flip never landed) and the writer lock abandoned
    val g = spark.read.parquet(s"$idx/stats")
      .select(col("next_gen")).head().getLong(0)
    Seq(("alpha", 2L, 1L, 1L, g))
      .toDF("token", "doc_id", "tf", "dl", "gen")
      .withColumn("tok_part", Writers.tokenPart(col("token")))
      .write.partitionBy("tok_part").mode("append").parquet(s"$idx/tf")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(idx, "_writer.lock"), "pid=crashed")
    // the torn row is invisible NOW (read-time commit), and the epoch
    // replay self-heals: lock detected -> vacuum -> verbs run -> the
    // epoch's content lands exactly once
    StreamingJobs.bm25MaintenanceBatch(
      Seq(("add", 2L, "alpha alpha")).toDF("op", "doc_id", "text"),
      0, idx, outDir, terms)
    assert(!Writers.writerLockHeld(idx), "the stale lock survived")
    val ref = TestSpark.tmpDir("bm25crashref")
    Writers.writeBm25Index(
      Seq(0L -> "alpha beta", 1L -> "beta beta", 2L -> "alpha alpha")
        .toDF("doc_id", "text"), ref)
    def probe(p: String) = Retrieval.bm25Stored(
        Writers.prunedBm25Tf(spark, p, terms),
        spark.read.parquet(s"$p/stats"), "doc_id", terms)
      .as[(Long, Long, Double)].collect().toSet
    assert(probe(idx) == probe(ref),
      "the self-healed replay did not land exactly once")
  }

  test("bm25MaintenanceBatch: a full-refresh epoch (ops cover the whole " +
    "live set) transits the layout through empty and repopulates it") {
    import graft.operators.Retrieval
    import graft.sources.Writers
    val idx = TestSpark.tmpDir("bm25cdcfull")
    val outDir = TestSpark.tmpDir("bm25cdcfullout")
    val terms = Seq("alpha", "beta")
    Writers.writeBm25Index(
      Seq(0L -> "alpha beta", 1L -> "beta beta").toDF("doc_id", "text"), idx)
    // epoch 0 updates EVERY live doc — the delete half empties the
    // index mid-epoch (allowEmpty), the merge half rebuilds it
    StreamingJobs.bm25MaintenanceBatch(
      Seq(("update", 0L, "alpha alpha"), ("update", 1L, "beta alpha"))
        .toDF("op", "doc_id", "text"), 0, idx, outDir, terms)
    val ref = TestSpark.tmpDir("bm25cdcfullref")
    Writers.writeBm25Index(
      Seq(0L -> "alpha alpha", 1L -> "beta alpha").toDF("doc_id", "text"),
      ref)
    def probe(p: String) = Retrieval.bm25Stored(
        Writers.prunedBm25Tf(spark, p, terms),
        spark.read.parquet(s"$p/stats"), "doc_id", terms)
      .as[(Long, Long, Double)].collect().toSet
    assert(probe(idx).nonEmpty && probe(idx) == probe(ref),
      "full-refresh epoch != from-scratch build over the refreshed corpus")
  }

  test("ivfPqMaintenanceBatch: CDC epochs (add/update/delete) drive the " +
    "VECTOR serving layout — every horizon equals a from-scratch encode " +
    "over the post-CDC corpus against the FROZEN artifacts, replay of " +
    "the last epoch is content-idempotent, the codes leg bootstraps " +
    "from empty, unknown ops fail loudly") {
    import graft.operators.Similarity
    import graft.sources.Writers
    val dir = "/root/testdata/sf0.001"
    val idx = TestSpark.tmpDir("ivfcdc")
    val outDir = TestSpark.tmpDir("ivfcdcout")
    val vecs = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // FAISS train-before-stream: frozen artifacts exist, codes leg EMPTY
    val coarse = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val (_, book) = Similarity.ivfPqIndexTables(
      vecs, "vec_id", "embedding", coarse, "cid", "cvec", 4, 16, 4)
    Writers.padIvfPqCodebook(spark, book, 4, 16, 4)
      .write.mode("overwrite").parquet(s"$idx/codebook")
    coarse.write.mode("overwrite").parquet(s"$idx/centroids")
    val probeVec = vecs.filter(col("vec_id") === 1)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    def run(e: Long, ops: org.apache.spark.sql.DataFrame): Unit =
      StreamingJobs.ivfPqMaintenanceBatch(ops, e, idx, outDir, probeVec)
    def emitted(e: Long): Set[(Long, Double)] =
      spark.read.parquet(s"$outDir/epoch=$e")
        .select(col("vec_id"), col("adist"))
        .as[(Long, Double)].collect().toSet
    def fromScratch(corpus: org.apache.spark.sql.DataFrame): Set[(Long, Double)] =
      Similarity.ivfPqSearchStored(
        Similarity.ivfPqEncode(corpus, "vec_id", "embedding",
          spark.read.parquet(s"$idx/centroids")),
        spark.read.parquet(s"$idx/codebook"),
        spark.read.parquet(s"$idx/centroids"),
        "vec_id",
        vecs.filter(col("vec_id") === 1)
          .select(col("embedding").as("qvec")),
        "qvec", nprobe = 3, k = 20)
        .as[(Long, Double)].collect().toSet
    // epoch 0 bootstraps the empty codes leg with the %3=0 slice
    val slice0 = vecs.filter(col("vec_id") % 3 === 0)
    run(0, slice0.select(lit("add").as("op"), col("vec_id"),
      col("embedding")))
    assert(emitted(0).nonEmpty && emitted(0) == fromScratch(slice0))
    // epoch 1: add the %3=1 slice, update the ODD half of slice 0 to
    // REVERSED vectors, delete slice 0's %9=0 ids (even — disjoint
    // from the updates: an id carrying both ops in one epoch is a
    // producer bug the contract does not order)
    val adds = vecs.filter(col("vec_id") % 3 === 1)
      .select(lit("add").as("op"), col("vec_id"), col("embedding"))
    val updates = vecs.filter(col("vec_id") % 3 === 0 &&
        col("vec_id") % 2 === 1)
      .select(lit("update").as("op"), col("vec_id"),
        reverse(col("embedding")).as("embedding"))
    val dels = vecs.filter(col("vec_id") % 9 === 0 &&
        col("vec_id") % 2 === 0)
      .select(lit("delete").as("op"), col("vec_id"),
        col("embedding"))
    val e1 = adds.unionByName(updates).unionByName(dels)
    run(1, e1)
    val horizon1 = fromScratch(
      vecs.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 === 0 &&
          col("vec_id") % 9 =!= 0)
        .unionByName(vecs.filter(col("vec_id") % 3 === 1))
        .unionByName(vecs.filter(col("vec_id") % 3 === 0 &&
            col("vec_id") % 2 === 1)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding"))))
    assert(emitted(1) == horizon1)
    // at-least-once replay of the LAST epoch: content-idempotent
    run(1, e1)
    assert(emitted(1) == horizon1)
    // SELF-HEALING pin (ADVICE r18): the epoch-end policy check keeps
    // the layout's debt inside the maintenance thresholds — the stream
    // never accumulates toward the MaxTombstoneRows hard cap
    val dinfo = Writers.describeIvfPqIndex(spark, idx)
    assert(dinfo.tombstoneFraction <= 0.2 && dinfo.maxFilesPerDir <= 8 &&
      dinfo.tombstoneRows <= Writers.MaxTombstoneRows / 2,
      s"post-epoch layout debt outside the maintenance policy: $dinfo")
    // metrics sidecar names the vector-leg counter
    val m = spark.read.parquet(s"$outDir/_metrics/epoch=1").collect().head
    assert(m.getAs[String]("flagged_kind") == "vecs_deleted")
    // unknown ops fail loudly
    val ex = intercept[IllegalArgumentException] {
      run(2, vecs.limit(1).select(lit("upsert").as("op"), col("vec_id"),
        col("embedding")))
    }
    assert(ex.getMessage.contains("unknown op"))
  }

  test("an update whose add half fails leaves readers at the pre-verb " +
    "generation — updateIvfPqIndex, a bm25MaintenanceBatch epoch and an " +
    "ivfPqMaintenanceBatch epoch each commit once, and the retry lands") {
    import graft.operators.{Retrieval, Similarity}
    import graft.sources.Writers
    def gen(sidecar: String): Long =
      spark.read.parquet(sidecar).select(col("next_gen")).head().getLong(0)

    // ---- bm25MaintenanceBatch: the epoch's tf append fails ----
    val idx = TestSpark.tmpDir("bm25addfail")
    val outDir = TestSpark.tmpDir("bm25addfailout")
    val terms = Seq("alpha", "beta", "gamma")
    Writers.writeBm25Index(Seq(0L -> "alpha beta", 1L -> "beta gamma",
      2L -> "gamma gamma").toDF("doc_id", "text"), idx)
    def probe(p: String) = Retrieval.bm25Stored(
        Writers.prunedBm25Tf(spark, p, terms),
        spark.read.parquet(s"$p/stats"), "doc_id", terms)
      .as[(Long, Long, Double)].collect().toSet
    val before = probe(idx)
    val g0 = gen(s"$idx/stats")
    val ops = Seq(("update", 0L, "alpha alpha"), ("delete", 2L, null: String),
      ("add", 3L, "beta beta")).toDF("op", "doc_id", "text")
    val undo = TestSpark.failNextCommit(s"$idx/tf")
    intercept[Exception] {
      StreamingJobs.bm25MaintenanceBatch(ops, 0, idx, outDir, terms)
    }
    undo()
    assert(gen(s"$idx/stats") == g0 && probe(idx) == before,
      "the failed epoch's delete half became visible")
    assert(!Writers.writerLockHeld(idx))
    StreamingJobs.bm25MaintenanceBatch(ops, 0, idx, outDir, terms)
    val ref = TestSpark.tmpDir("bm25addfailref")
    Writers.writeBm25Index(Seq(0L -> "alpha alpha", 1L -> "beta gamma",
      3L -> "beta beta").toDF("doc_id", "text"), ref)
    assert(probe(idx) == probe(ref))
    assert(gen(s"$idx/stats") == g0 + 2L,
      "one epoch, one commit: tombstones at g, rows at g + 1")

    // ---- IVF×PQ: updateIvfPqIndex and an epoch, the codes append fails ----
    val vecs = TestSpark.vectors(90)
    val coarse = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val (codes, book) = Similarity.ivfPqIndexTables(
      vecs, "vec_id", "embedding", coarse, "cid", "cvec", 4, 16, 4)
    def ivfLayout(name: String): String = {
      val p = TestSpark.tmpDir(name)
      Writers.writeIvfCodes(spark, codes, p)
      Writers.padIvfPqCodebook(spark, book, 4, 16, 4)
        .write.mode("overwrite").parquet(s"$p/codebook")
      coarse.write.mode("overwrite").parquet(s"$p/centroids")
      p
    }
    def visible(p: String) = Writers.liveCodes(spark, p)
      .select(col("vec_id"), col("codes")).collect()
      .map(r => (r.getLong(0), r.getSeq[Any](1))).toSet
    val changed = vecs.filter(col("vec_id") % 5 === 4)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    val updated = visible {
      val p = ivfLayout("ivfupdref")
      Writers.updateIvfPqIndex(spark, p, changed)
      p
    }
    def failOnce(p: String)(verb: => Unit): Unit = {
      val pre = visible(p)
      val g = gen(s"$p/gen")
      val undoV = TestSpark.failNextCommit(s"$p/codes")
      intercept[Exception](verb)
      undoV()
      assert(gen(s"$p/gen") == g && visible(p) == pre,
        "the failed add half's tombstones became visible")
      assert(!Writers.writerLockHeld(p))
      verb
      assert(visible(p) == updated && gen(s"$p/gen") == g + 2L)
    }
    val pu = ivfLayout("ivfupdfail")
    failOnce(pu)(Writers.updateIvfPqIndex(spark, pu, changed))
    val pe = ivfLayout("ivfepochfail")
    val outV = TestSpark.tmpDir("ivfepochfailout")
    val probeVec = vecs.filter(col("vec_id") === 1)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    failOnce(pe)(StreamingJobs.ivfPqMaintenanceBatch(
      changed.select(lit("update").as("op"), col("vec_id"), col("embedding")),
      0, pe, outV, probeVec))
  }
}

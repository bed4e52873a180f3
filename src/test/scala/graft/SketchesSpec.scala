package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sketches

/** Sketch invariants — the properties that make an APPROXIMATE structure
  * safe to ship: CMS never undercounts, Bloom never false-negatives, and
  * both collapse to exact answers when sized generously. */
class SketchesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // skewed occurrence stream: item "w0" 40 times ... "w19" 2 times
  private val stream =
    (0 until 20).flatMap(i => Seq.fill(2 + 2 * (19 - i))(s"w$i"))
  private val exact: Map[String, Long] =
    stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  test("cms estimate is an overestimate for every seen item, exact when wide") {
    val items = stream.toDF("w")
    // width 8 is deliberately saturated (20 distinct keys ≫ capacity
    // ~46/ln2 per-row occupancy) — guard off to exercise the
    // overcount-only contract below the guard
    for ((width, guard) <- Seq(8 -> false, (1 << 16) -> true)) {
      val sk = Sketches.cmsBuild(items, col("w"), 4, width)
      val est = Sketches
        .cmsEstimate(items.distinct(), col("w"), sk, 4, width,
          failOnSaturation = guard)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(est.keySet == exact.keySet)
      exact.foreach { case (w, c) =>
        assert(est(w) >= c, s"width=$width undercounted $w: ${est(w)} < $c")
      }
      if (width == (1 << 16))
        assert(est == exact, s"2^16 buckets for 20 items should be collision-free")
    }
    // narrow sketch MUST show collisions on this stream (else the
    // overestimate half of the property tested nothing)
    val skNarrow = Sketches.cmsBuild(items, col("w"), 4, 8)
    val estNarrow = Sketches
      .cmsEstimate(items.distinct(), col("w"), skNarrow, 4, 8,
        failOnSaturation = false)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.exists { case (w, c) => estNarrow(w) > c },
      "8 buckets for 20 items produced zero collisions — dead property")
  }

  test("cms saturation guard refuses to probe a data-swamped sketch (VERDICT r12 #3)") {
    // 20 distinct keys into width=8 fully occupies every hash row —
    // exactly the SCALE.md-r12 failure mode (w=2048 vs 20k keys) in
    // miniature. The DEFAULT estimate path must raise with the resize
    // rule, not return collision noise.
    val items = stream.toDF("w")
    val sk = Sketches.cmsBuild(items, col("w"), 4, 8)
    val ex = intercept[Exception] {
      Sketches.cmsEstimate(items.distinct(), col("w"), sk, 4, 8).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("saturated")),
      s"expected the saturation raise_error, got: $ex")
    // capacity arithmetic is what the message tells users to size by
    assert(Sketches.cmsCapacity(4, 2048) > 11000L &&
      Sketches.cmsCapacity(4, 2048) < 12500L)
  }

  test("cms estimate for an unseen item is >= 0 and bounded by bucket mass") {
    val sk = Sketches.cmsBuild(stream.toDF("w"), col("w"), 4, 1 << 16)
    val est = Sketches
      .cmsEstimate(Seq("never-seen").toDF("w"), col("w"), sk, 4, 1 << 16)
      .collect()
    assert(est.length == 1 && est(0).getLong(1) >= 0L)
  }

  test("kmv is exact below k, ~1/sqrt(k)-accurate above, partition-order-independent") {
    import org.apache.spark.sql.functions.col
    // below k: the sketch IS the distinct set
    val small = (0 until 50).map(i => s"v$i") ++ (0 until 50).map(i => s"v$i")
    val exactRow = Sketches.kmvDistinct(small.toDF("x"), col("x"), 256).head()
    assert(exactRow.getLong(1) == 50L && exactRow.getDouble(3) == 50.0)
    // above k: 2000 distinct, k=256 → expect within 3/sqrt(k) ≈ 19%
    val big = (0 until 2000).map(i => s"key$i")
    val est = Sketches.kmvDistinct(big.toDF("x"), col("x"), 256)
      .head().getDouble(3)
    assert(math.abs(est - 2000.0) / 2000.0 < 0.19,
      s"kmv estimate $est too far from 2000")
    // determinism: the k-minima set is a pure function of the value set —
    // partitioning and duplication must not move the estimate
    val shuffled = Sketches.kmvDistinct(
      (big ++ big).reverse.toDF("x").repartition(7), col("x"), 256)
      .head().getDouble(3)
    assert(shuffled == est)
  }

  test("bloom has no false negatives; generous m yields true negatives") {
    val state = (0 until 200).map(i => s"k$i").toDF("k")
    val probeKeys = (0 until 300).map(i => s"k$i")
    val bits = Sketches.bloomBuild(state, col("k"), 4, 1 << 14)
    val out = Sketches
      .bloomProbe(probeKeys.toDF("k"), col("k"), bits, 4, 1 << 14)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    (0 until 200).foreach(i =>
      assert(out(s"k$i") == 1, s"false negative on member k$i"))
    // 4·2^14 bits for 200 keys: essentially every non-member must miss
    val fp = (200 until 300).count(i => out(s"k$i") == 1)
    assert(fp < 10, s"implausible false-positive count at 16k-bit m: $fp")
    assert((200 until 300).exists(i => out(s"k$i") == 0))
  }

  test("bloom saturates safely: tiny m flags everything, never errors") {
    val state = (0 until 200).map(i => s"k$i").toDF("k")
    val bits = Sketches.bloomBuild(state, col("k"), 4, 4)
    val out = Sketches
      .bloomProbe(Seq("zzz").toDF("k"), col("k"), bits, 4, 4)
      .collect()
    assert(out.length == 1 && out(0).getInt(1) == 1)
  }

  test("hist bins bracket every value with bounded relative width") {
    // mixed magnitudes: exact small-value regime (e < kb) through five
    // octaves of the log-linear regime
    val kb = 5
    val vals = (1L to 40L) ++ Seq(100L, 1000L, 12345L, 49002L, 1L << 40)
    val df = vals.toDF("v")
      .withColumn("bin", Sketches.histBin(col("v"), kb))
      .withColumn("low", Sketches.histLowerEdge(col("bin"), kb))
    df.collect().foreach { r =>
      val (v, low) = (r.getLong(0), r.getLong(2))
      assert(low <= v, s"lower edge $low above its value $v")
      assert(v - low < math.max(1L, low >> kb),
        s"value $v more than one relative bin width above its edge $low")
      if (v < (1L << kb)) assert(low == v, s"small-value bin not exact at $v")
    }
    // lower edges are monotone in bin id (quantile extraction orders by
    // bin and reads edges — sparse unused ids in the small-value regime
    // must not reorder them)
    val edges = (0L until 52L * 32).toDF("bin")
      .select(Sketches.histLowerEdge(col("bin"), kb).as("low"))
      .collect().map(_.getLong(0))
    assert(edges.zip(edges.tail).forall { case (a, b) => a <= b },
      "histLowerEdge not monotone in bin id")
    // underflow: values < 1 land in the reserved bin with lower edge 0
    val uf = Seq(0L).toDF("v")
      .select(Sketches.histBin(col("v"), kb).as("bin"))
      .select(col("bin"), Sketches.histLowerEdge(col("bin"), kb).as("low"))
      .head()
    assert(uf.getLong(0) == -1L && uf.getLong(1) == 0L)
  }

  test("hist state is bounded and sketches merge additively") {
    val kb = 5
    // 60k values spanning [1, 6e8]: bins must stay ≤ 64·2^kb regardless
    val vals = (1 to 60000).map(i => i.toLong * 10000L)
    val sk = Sketches.histBuild(vals.toDF("v"), col("v"), kb)
    assert(sk.count() <= 64L * 32, "bin count exceeded the 64·2^kb bound")
    // merge = unioned sum(cnt): equals the sketch of the concatenation
    val (a, b) = vals.splitAt(20000)
    val merged = Sketches.histBuild(a.toDF("v"), col("v"), kb)
      .union(Sketches.histBuild(b.toDF("v"), col("v"), kb))
      .groupBy("bin").agg(sum("cnt").as("cnt"))
    val whole = Sketches.histBuild(vals.toDF("v"), col("v"), kb)
    assert(merged.exceptAll(whole).isEmpty && whole.exceptAll(merged).isEmpty,
      "merged per-part sketches differ from the whole-stream sketch")
  }

  test("hist quantile estimates are within one bin of the exact quantile") {
    val kb = 5
    // deterministic skewed sample over 4 decades (md5-free: fixed LCG)
    var seed = 12345L
    val vals = (1 to 5000).map { _ =>
      seed = (seed * 6364136223846793005L + 1442695040888963407L) & 0x7fffffffL
      1L + seed % 100000L
    }
    val sk = Sketches.histBuild(vals.toDF("v"), col("v"), kb)
    val row = Sketches.histQuantiles(sk, kb, Seq(50, 90, 99)).head()
    assert(row.getLong(0) == 5000L)
    val sorted = vals.sorted
    Seq(50, 90, 99).zipWithIndex.foreach { case (p, i) =>
      val est = row.getLong(i + 1)
      val exact = sorted((5000 * p + 99) / 100 - 1)
      assert(est <= exact, s"p$p estimate $est above the exact rank value $exact")
      assert(exact - est <= (est >> kb) + 1,
        s"p$p estimate $est more than one bin below exact $exact")
    }
    // grouped form: per-group targets computed from per-group n
    val grouped = (1 to 1000).map(i => ("a", i.toLong)) ++
      (1 to 100).map(i => ("b", i.toLong * 1000L))
    val gsk = Sketches.histBuild(
      grouped.toDF("g", "v"), col("v"), kb, Seq("g"))
    val out = Sketches.histQuantiles(gsk, kb, Seq(50), Seq("g"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("a")._1 == 1000L && out("b")._1 == 100L)
    assert(math.abs(out("a")._2 - 500L) <= (500L >> kb) + 1)
    assert(math.abs(out("b")._2 - 50000L) <= (50000L >> kb) + 1)
  }

  test("frequentItems equals the direct count-filter (SON recall law), " +
    "bounded candidates, adversarial concentration") {
    // Zipf-ish stream: item i appears ~600/i times, tagged with a row
    // key so sharding is a pure function of the data
    val rows = (1 to 40).flatMap(i =>
      (1 to 600 / i).map(j => (s"row_${i}_$j", s"item_$i")))
    val df = rows.toDF("rk", "item")
    val minCount = 60L
    val shards = 4
    val got = Sketches.frequentItems(df, col("item"), col("rk"),
      shards, minCount)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // the law: exact counts of exactly the >= minCount items
    val exact = rows.groupBy(_._2).view.mapValues(_.size.toLong)
      .filter(_._2 >= minCount).toMap
    assert(got.map(r => r._1 -> r._2).toMap == exact)
    assert(exact.nonEmpty)
    // every row carries the same phase-1 cut, bounded by n·P/T
    val nCand = got.map(_._3).distinct
    assert(nCand.length == 1)
    assert(nCand.head <= rows.size.toLong * shards / minCount)
    // adversarial concentration: every occurrence of the hitter lands in
    // ONE shard (single row key) — pigeonhole still guarantees recall
    val conc = (1 to 100).map(i => ("onekey", "hot")) ++
      (1 to 500).map(i => (s"k$i", s"cold_$i"))
    val gotC = Sketches.frequentItems(conc.toDF("rk", "item"),
      col("item"), col("rk"), 8, 100L)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(gotC.toSeq == Seq(("hot", 100L)))
  }

  test("bloomProbe preserves the probe's columns") {
    val state = Seq("a", "b").toDF("k")
    val bits = Sketches.bloomBuild(state, col("k"), 4, 64)
    val probe = Seq(("a", 1), ("z", 2)).toDF("k", "payload")
    val out = Sketches.bloomProbe(probe, col("k"), bits, 4, 64)
    assert(out.columns.toSeq == Seq("k", "payload", "maybe_member"))
    val rows = out.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    assert(rows.find(_._1 == "a").get._3 == 1)
  }

  test("per-group KMV equals the global sketch run per group, drops NULLs, " +
    "and re-reduces bounded supersets") {
    val df = (0 until 500).map { i =>
      (s"g${i % 3}", if (i % 17 == 0) null else s"v${i % (40 + i % 3 * 30)}")
    }.toDF("grp", "x")
    val est = Sketches.kmvEstimateBy(
      Sketches.kmvMinimaBy(df, col("grp"), col("x"), 16), 16)
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r._5).toMap
    (0 until 3).foreach { g =>
      val single = Sketches.kmvDistinct(
        df.filter(col("grp") === s"g$g" && col("x").isNotNull),
        col("x"), 16).head().getDouble(3)
      assert(est(s"g$g") == single, s"group g$g: ${est(s"g$g")} != $single")
    }
    // minima rows are ≤ k per group, and feeding the UNION of two parts'
    // per-group minima re-reduces to the whole-stream estimate (the
    // profileBatch merge law)
    val mins = Sketches.kmvMinimaBy(df, col("grp"), col("x"), 16)
    assert(mins.groupBy("g").count().as[(String, Long)].collect()
      .forall(_._2 <= 16))
    val (a, b) = (df.filter(col("x") < "v5"), df.filter(!(col("x") < "v5")))
    val merged = Sketches.kmvEstimateBy(
      Sketches.kmvMinimaBy(a, col("grp"), col("x"), 16)
        .unionByName(Sketches.kmvMinimaBy(b, col("grp"), col("x"), 16)), 16)
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r._5).toMap
    assert(merged == est)
  }
}

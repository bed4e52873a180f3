package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Delta, Upsert}

/** Delta-split and keep-first/merge properties (reference
  * dags/scraping_etl.py:51-74, src/storage.py:108-117). */
class DeltaUpsertSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val fresh = Seq(
    ("k1", "h1", "new-same"), // in state, same hash → bypass
    ("k2", "h2x", "changed"), // in state, hash differs → to_detail
    ("k3", "h3", "brandnew")  // not in state → to_detail
  ).toDF("key", "row_hash", "payload")

  private val state = Seq(("k1", "h1"), ("k2", "h2")).toDF("key", "row_hash")

  test("split partition property: to_detail ⊎ bypass = input, disjoint") {
    val (toDetail, bypass) = Delta.split(fresh, state, Seq("key"))
    val d = toDetail.select("key").as[String].collect().toSet
    val b = bypass.select("key").as[String].collect().toSet
    assert(d == Set("k2", "k3"))
    assert(b == Set("k1"))
    assert((d & b).isEmpty)
    assert(toDetail.count() + bypass.count() == fresh.count())
  }

  test("split routes new keys and changed hashes to to_detail") {
    val (toDetail, _) = Delta.split(fresh, state, Seq("key"))
    val payloads = toDetail.select("payload").as[String].collect().toSet
    assert(payloads == Set("changed", "brandnew"))
  }

  test("gate short-circuits downstream when the delta is empty (J2)") {
    val unchanged = Seq(("k1", "h1", "same")).toDF("key", "row_hash", "payload")
    val (toDetail, _) = Delta.split(unchanged, state, Seq("key"))
    assert(Delta.gate(toDetail)("ran")("skipped") == "skipped")
    val (toDetail2, _) = Delta.split(fresh, state, Seq("key"))
    assert(Delta.gate(toDetail2)("ran")("skipped") == "ran")
  }

  test("keepFirst picks the deterministic winner under the explicit order") {
    val df = Seq(
      ("k", 2L, "second"), ("k", 1L, "first"), ("k", 3L, "third"),
      ("other", 9L, "only")
    ).toDF("key", "seq", "v")
    val got = Upsert.keepFirst(df, Seq("key"), Seq(col("seq").asc_nulls_first))
      .select("key", "v").as[(String, String)].collect().toMap
    assert(got == Map("k" -> "first", "other" -> "only"))
  }

  test("merge: higher version wins; incoming beats existing on version tie") {
    val existing = Seq(("k1", 1, "old"), ("k2", 5, "old")).toDF("pk", "version", "src")
    val incoming = Seq(("k1", 1, "new"), ("k2", 4, "new")).toDF("pk", "version", "src")
    val got = Upsert.merge(existing, incoming, Seq("pk"), col("version"))
      .select("pk", "src").as[(String, String)].collect().toMap
    assert(got == Map("k1" -> "new", "k2" -> "old"))
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  // entity "a": value changes A→A→B→A (middle repeat collapses; the
  // return to A opens a NEW version — SCD2 keeps reversals);
  // entity "b": one observation; entity "c": null→X→null (null-safe
  // change detection must treat null as a value, not a wildcard)
  private val observations = Seq(
    ("a", ts("2024-01-01 00:00:00"), 1L, Some("A")),
    ("a", ts("2024-01-02 00:00:00"), 2L, Some("A")),
    ("a", ts("2024-01-03 00:00:00"), 3L, Some("B")),
    ("a", ts("2024-01-04 00:00:00"), 4L, Some("A")),
    ("b", ts("2024-01-01 00:00:00"), 5L, Some("X")),
    ("c", ts("2024-01-01 00:00:00"), 6L, None),
    ("c", ts("2024-01-02 00:00:00"), 7L, Some("X")),
    ("c", ts("2024-01-03 00:00:00"), 8L, None)
  ).toDF("key", "ts", "id", "v")

  test("scd2 collapses unchanged runs into versions with adjacent intervals") {
    val hist = Delta.scd2(observations, Seq("key"), "ts", Seq("id"), Seq("v"))
      .select("key", "version_nr", "v", "valid_from", "valid_to", "is_current")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2)),
        r.getTimestamp(3), r.getTimestamp(4), r.getInt(5)))
      .sortBy(t => (t._1, t._2))
    val a = hist.filter(_._1 == "a")
    assert(a.map(t => (t._2, t._3)).toSeq ==
      Seq((1L, Some("A")), (2L, Some("B")), (3L, Some("A"))),
      s"a's version chain wrong: ${a.toSeq}")
    // intervals tile: each version closes exactly where the next opens
    a.sliding(2).foreach { case Array(prev, next) =>
      assert(prev._5 == next._4, s"gap between versions: $prev -> $next")
    }
    assert(a.last._5 == Delta.OpenVersion && a.last._6 == 1)
    assert(a.init.forall(_._6 == 0), "closed versions flagged current")
    // the A→A repeat collapsed: version 1 spans Jan 1 → Jan 3
    assert(a.head._4 == ts("2024-01-01 00:00:00") &&
      a.head._5 == ts("2024-01-03 00:00:00"))
    // single observation: one open version
    val b = hist.filter(_._1 == "b")
    assert(b.toSeq == Seq(("b", 1L, Some("X"),
      ts("2024-01-01 00:00:00"), Delta.OpenVersion, 1)))
    // null-safe: null→X→null is three versions, not one or two
    assert(hist.filter(_._1 == "c").map(_._3).toSeq ==
      Seq(None, Some("X"), None))
  }

  test("scd2 breaks timestamp ties deterministically via tieCols") {
    val tied = Seq(
      ("k", ts("2024-01-01 00:00:00"), 2L, "late"),
      ("k", ts("2024-01-01 00:00:00"), 1L, "early")
    ).toDF("key", "ts", "id", "v")
    val hist = Delta.scd2(tied, Seq("key"), "ts", Seq("id"), Seq("v"))
      .select("version_nr", "v").as[(Long, String)].collect().sortBy(_._1)
    assert(hist.toSeq == Seq((1L, "early"), (2L, "late")))
  }

  test("scd2Merge on an appended batch equals the full rebuild") {
    // covers every merge path: a run collapsing INTO the open version
    // ("a" Jan 5 repeats A, "b" Jan 2 repeats X — open valid_from must
    // survive), a genuine change ("a" → C), a brand-new key ("d"), and
    // an untouched key ("c", absent from the batch)
    val batch2 = Seq(
      ("a", ts("2024-01-05 00:00:00"), 9L, Some("A")),
      ("a", ts("2024-01-06 00:00:00"), 10L, Some("C")),
      ("b", ts("2024-01-02 00:00:00"), 11L, Some("X")),
      ("d", ts("2024-01-01 00:00:00"), 12L, Some("Z"))
    ).toDF("key", "ts", "id", "v")
    val full = Delta.scd2(observations.unionByName(batch2),
      Seq("key"), "ts", Seq("id"), Seq("v"))
    val merged = Delta.scd2Merge(
      Delta.scd2(observations, Seq("key"), "ts", Seq("id"), Seq("v")),
      batch2, Seq("key"), "ts", Seq("id"), Seq("v"))
    assert(merged.columns.sorted.sameElements(full.columns.sorted))
    val cols = full.columns.sorted.toIndexedSeq.map(col)
    assert(merged.select(cols: _*).exceptAll(full.select(cols: _*)).isEmpty &&
      full.select(cols: _*).exceptAll(merged.select(cols: _*)).isEmpty,
      s"incremental merge diverged from the full rebuild:\n" +
        s"merged=${merged.orderBy("key", "version_nr").collect().toSeq}\n" +
        s"full=${full.orderBy("key", "version_nr").collect().toSeq}")
    // and a second merge on top of the first (chained nightly batches)
    val batch3 = Seq(("d", ts("2024-01-02 00:00:00"), 13L, Some("Z2")))
      .toDF("key", "ts", "id", "v")
    val full3 = Delta.scd2(
      observations.unionByName(batch2).unionByName(batch3),
      Seq("key"), "ts", Seq("id"), Seq("v"))
    val merged3 = Delta.scd2Merge(merged, batch3,
      Seq("key"), "ts", Seq("id"), Seq("v"))
    assert(merged3.select(cols: _*).exceptAll(full3.select(cols: _*)).isEmpty &&
      full3.select(cols: _*).exceptAll(merged3.select(cols: _*)).isEmpty)
  }

  test("scd2 pays one keyed exchange for both windows") {
    val plan = Delta.scd2(observations, Seq("key"), "ts", Seq("id"), Seq("v"))
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count { l =>
      val t = l.replaceAll("^[\\s:+-]*", "")
      t.startsWith("Exchange") && !t.contains("RoundRobinPartitioning")
    }
    assert(exchanges <= 1,
      s"scd2 should reuse one key partitioning across its windows:\n$plan")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Bucketing

/** Bucketed co-located join: same-bucketed tables join with zero shuffle
  * exchanges. */
class BucketingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** True when the physical plan of `joined` contains no shuffle exchange
    * — the co-location check (bucketed joins must pass this). */
  private def isShuffleFree(joined: org.apache.spark.sql.DataFrame): Boolean =
    !joined.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning")

  test("bucketed-by-key join plans without a shuffle exchange") {
    val facts = (1L to 1000L).map(i => (i % 50, s"f$i")).toDF("key", "fact")
    val state = (0L until 50L).map(i => (i, s"s$i")).toDF("key", "label")
    Bucketing.writeBucketed(facts, "graft_facts_b", Seq("key"), 8)
    Bucketing.writeBucketed(state, "graft_state_b", Seq("key"), 8)
    // force SortMergeJoin so the exchange presence/absence is what's tested
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.readBucketed(spark, "graft_facts_b")
        .join(Bucketing.readBucketed(spark, "graft_state_b"), Seq("key"))
      assert(isShuffleFree(joined),
        s"expected no shuffle:\n${joined.queryExecution.executedPlan}")
      assert(joined.count() == 1000L)

      // control: the same join over unbucketed frames DOES shuffle
      val plain = facts.join(state, Seq("key"))
      assert(!isShuffleFree(plain))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_facts_b")
      spark.sql("DROP TABLE IF EXISTS graft_state_b")
    }
  }

  test("writeBucketed survives a stale warehouse location from a dead session") {
    // the in-memory catalog forgets tables across JVMs but their managed
    // directories survive — saveAsTable then fails CREATE with
    // LOCATION_ALREADY_EXISTS unless the orphan dir is cleared (the exact
    // failure the r12 bench runs 2/3 hit on q121)
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new java.io.File(new java.net.URI(
      if (wh.contains(":/")) wh else s"file://$wh").getPath, "graft_stale_b")
    loc.mkdirs()
    val junk = new java.io.File(loc, "part-stale.parquet")
    java.nio.file.Files.write(junk.toPath, Array[Byte](1, 2, 3))
    try {
      val df = (1L to 10L).map(i => (i, s"v$i")).toDF("key", "v")
      Bucketing.writeBucketed(df, "graft_stale_b", Seq("key"), 4)
      assert(Bucketing.readBucketed(spark, "graft_stale_b").count() == 10L)
      assert(!junk.exists(), "stale junk file must be gone after the rewrite")
    } finally spark.sql("DROP TABLE IF EXISTS graft_stale_b")
  }
}

package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The N× corpus mirror that scale runs, Verify and the oracle read:
  * fact tables grow N× with disjoint primary keys per replica, and
  * dimensions ship once. */
class ScaleCorpusSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val base = "/root/testdata/sf0.001"

  test("a x2 mirror doubles the facts, keeps their keys disjoint and the dimensions single-copy") {
    val mirror = TestSpark.tmpDir("scalecorpus")
    ScaleCorpus.write(spark, base, mirror, 2)
    Tables.names.foreach { name =>
      val (b, m) = (Tables.load(spark, base, name), Tables.load(spark, mirror, name))
      ScaleCorpus.Keys.get(name) match {
        case Some(k) =>
          assert(m.count() == 2 * b.count(), name)
          // replicas never collide: each contributes its own key set
          val keys = m.select(col(k)).distinct().count()
          assert(keys == 2 * b.select(col(k)).distinct().count(), s"$name.$k")
        case None =>
          assert(m.count() == b.count(), name)
          assert(m.exceptAll(b).isEmpty && b.exceptAll(m).isEmpty, name)
      }
    }
    // doc_id, vec_id, o_orderkey and event_id are row keys at the base
    // and stay row keys; lineitem has several lines per l_orderkey
    Seq("documents" -> "doc_id", "embeddings" -> "vec_id",
        "orders" -> "o_orderkey", "events" -> "event_id").foreach { case (t, k) =>
      val m = Tables.load(spark, mirror, t)
      assert(m.select(col(k)).distinct().count() == m.count(), s"$t.$k")
    }
    val q01 = SparkEntry.queries("q01_scan_project")
    assert(q01(spark, mirror).count() == 2 * q01(spark, base).count())
  }
}

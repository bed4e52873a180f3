package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Materializes an N×-scaled, TESTDATA-SHAPED corpus mirror
  * (`<out>/<table>.parquet`, same layout `Tables.load` and the DuckDB
  * oracle both read) so the ORACLE COMPARISON itself can run at scale
  * (VERDICT r13 #6): `runMain graft.ScaleCorpus 10` then
  * `runMain graft.Verify <out> ...` + `tools/check.py <out> ...` —
  * CORRECTNESS_sf01 proved ×10-over-sf0.01 parity on natural data;
  * this proves it again on a corpus whose duplicate/rounding/decimal
  * EDGES are 10× denser (the q111 class of bug only surfaced at
  * sf0.1).
  *
  * Scheme: fact tables replicate `mult`× with per-replica PRIMARY-key
  * offsets (ids stay unique; a replica's rows never collide with
  * another's), while dimension-side foreign keys (o_custkey,
  * user_id, l_partkey/l_suppkey) repeat AS-IS so every replica joins
  * the same single-copy dimension rows — fact-side growth, stable
  * dimensional density, which is also how a real corpus scales.
  * `customer` ships as the unscaled single copy. Document/embedding
  * CONTENT repeats verbatim: near-dup tiers see 10× denser duplicate
  * structure, exactly the stress the scale-tier queries should agree
  * with the oracle on.
  *
  * It is also the one scale path: `QueryBench` or `Bench` with
  * `SPARK_GRAFT_SF_DIR=<out>` time the declared plans themselves at N×
  * (SCALE.md, "Scale runs through the declared queries"). */
object ScaleCorpus {
  val Offset = 10000000L

  /** Fact tables, each with the primary key a replica offsets. Every
    * other table in [[Tables.names]] is a dimension and ships once. */
  val Keys: Map[String, String] = Map(
    "documents" -> "doc_id", "embeddings" -> "vec_id",
    "lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
    "events" -> "event_id")

  /** Writes the `mult`× mirror of the corpus at `sfDir` to `outDir`. */
  def write(spark: SparkSession, sfDir: String, outDir: String,
            mult: Int): Unit =
    Tables.names.foreach { name =>
      val base = Tables.load(spark, sfDir, name)
      val scaled = Keys.get(name).fold(base) { k =>
        (0 until mult).map(i => base.withColumn(k, col(k) + lit(i * Offset)))
          .reduce(_ unionByName _)
      }
      scaled.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scale-corpus] $name -> $outDir/$name.parquet")
    }

  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outDir = args.drop(1).headOption
      .getOrElse(s"/tmp/graft_scale/corpus_x$mult")
    val spark = GraftSession.local()
    write(spark, sfDir, outDir, mult)
    spark.stop()
  }
}

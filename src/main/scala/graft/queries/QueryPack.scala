package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A pack of declared queries plus their DuckDB-oracle SQL (SURVEY §2).
  * Every oracle-checked query must be row-order deterministic: the driver
  * hash-compares results, so both sides end in a total ORDER BY over all
  * output columns (SURVEY §7.4.8).
  */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
}

object Q {
  /** When set (Bench only), [[ordered]] becomes identity: the total sort
    * exists solely so the driver's hash-compare sees deterministic row
    * order — it is not part of any operator's semantics, and benchmarking
    * it would measure the verification harness instead of the engine. */
  val NoOrderProp = "graft.bench.noorder"

  /** Total deterministic order: all output columns asc, NULLS FIRST —
    * mirrored on the oracle side by `ORDER BY ALL NULLS FIRST` (DuckDB's
    * default null order is LAST; Spark's asc default is FIRST). */
  def ordered(df: DataFrame): DataFrame =
    if (sys.props.get(NoOrderProp).contains("true")) df
    else df.orderBy(df.columns.toIndexedSeq.map(c => col(c).asc_nulls_first): _*)

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables.load(s, dir, name)

  /** Conditional fan-out ahead of CPU-heavy per-row work (hashing,
    * tokenization, regex/markup extraction): repartitions to core count
    * ONLY when the planned input is narrower than one scan split per core
    * — a no-op at corpus scale, where scans already yield thousands of
    * splits. See [[graft.operators.Parallelize.fanOutIfNarrow]]. */
  def wide(df: DataFrame): DataFrame =
    graft.operators.Parallelize.fanOutIfNarrow(df)

  /** Driver-comparator boundary: the oracle harness sorts/hashes rows via
    * pandas, which cannot hash array cells — a declared query emitting a
    * raw ArrayType column errors driver-side even when semantics match
    * (CORRECTNESS_r05 q83/q87/q88/q99). Serialize every top-level array
    * column to its compact JSON form; Spark's and DuckDB's `to_json`
    * agree byte-for-byte on arrays of strings/longs/structs (q67 pins the
    * parity). RegistrySpec enforces that no declared query ships an
    * array/map/struct column past this boundary. */
  def jsonArrays(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case _: org.apache.spark.sql.types.ArrayType =>
          d.withColumn(f.name, to_json(col(f.name)))
        case _ => d
      }
    }

  /** Engine-portable exact sum over doubles: accumulate in DECIMAL(28,10)
    * (exact — association order can't matter), then recast through
    * DECIMAL(28,4) before the double output. The narrower scale matters:
    * decimal→double conversion of a 10-scale value rounds differently in
    * DuckDB (int128→double, then /1e10 — two roundings) vs the JVM's
    * correctly-rounded BigDecimal.doubleValue; at scale 4 the scaled
    * integer stays < 2^53 so both engines convert exactly. */
  def sumExact(c: Column): Column =
    sum(c.cast("decimal(28,10)")).cast("decimal(28,4)").cast("double")

  /** DuckDB fragment computing the same exact sum. */
  def sumExactSql(e: String): String =
    s"CAST(CAST(sum(CAST($e AS DECIMAL(28,10))) AS DECIMAL(28,4)) AS DOUBLE)"
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dataset profiling — the stats card a curation pipeline prints before
  * and after every stage (ingest QA, drift triage, schema audits): per
  * column, the row/null/distinct counts, lexicographic min/max, and mean
  * value length. The reference's pipeline eyeballs its scraped tables by
  * hand; at 100 TB a one-pass profile IS the eyeball.
  *
  * Distributed shape: the table is melted map-side into `(col_name,
  * value-as-string)` pairs (a per-row array explode — fan-out ×|cols|,
  * no shuffle), then aggregated in two keyed steps: `(col_name, v)` value
  * counts first — this is where partial aggregation collapses repeated
  * values, so the second exchange carries one row per DISTINCT value, the
  * only way an exact per-column distinct count avoids either |cols|
  * separate scans or a single Expand-multiplied count-distinct — then
  * per-column rollup of counts/min/max/length moments. One corpus scan
  * total, two keyed exchanges, output bounded by |cols| rows.
  *
  * Values are profiled through their canonical string cast (the profile
  * is type-agnostic by design — min/max are therefore LEXICOGRAPHIC,
  * documented, deterministic, and engine-portable; a numeric min/max is
  * one `agg` away when the caller knows the type). `avg_len` is an
  * exact DECIMAL sum of value lengths divided as double and rounded to 4
  * (the bm25 avgdl parity chain).
  */
object Profile {

  /** The map-side melt both forms share: one `(col_name, v)` row per
    * (row, column) — a per-row array explode, fan-out ×|cols|, no
    * shuffle; values through their canonical string cast. */
  def melt(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    require(cols.distinct.size == cols.size,
      s"duplicate column in profile list: ${cols.mkString(", ")}")
    df.select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("v"))): _*))
        .as("m"))
      .select(col("m").getField("col_name").as("col_name"),
        col("m").getField("v").as("v"))
  }

  /** The ADDITIVE per-column moments — everything in the profile except
    * the distinct count: `(col_name, n_rows, n_null, sum_len, min_v,
    * max_v)`, one row per column from one keyed aggregation. Merge law
    * (the streaming form's contract): sum the three counts, min/max the
    * two extremes — partial moments over stream parts reduce to exactly
    * the whole-stream moments, which is what lets `profileBatch` keep
    * |cols|-bounded state per epoch where the exact-distinct batch form
    * must see every value. */
  def moments(df: DataFrame, cols: Seq[String]): DataFrame =
    melt(df, cols)
      .groupBy(col("col_name"))
      .agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("v"))).as("n_null"),
        coalesce(sum(when(col("v").isNotNull, length(col("v"))
          .cast("long"))), lit(0L)).as("sum_len"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))

  /** `avg_len` from reduced moments, on the same exact-integer →
    * DECIMAL(28,6) → double chain as [[profile]] (sum_len is an exact
    * long at any scale a LongType survives, so batch and cumulative
    * streaming averages agree bit-for-bit). */
  def finishMoments(reduced: DataFrame): DataFrame =
    reduced.select(col("col_name"), col("n_rows"), col("n_null"),
      col("min_v"), col("max_v"),
      when(col("n_rows") === col("n_null"), lit(null).cast("double"))
        .otherwise(round(col("sum_len").cast("decimal(28,6)").cast("double") /
          (col("n_rows") - col("n_null")), 4))
        .as("avg_len"))

  /** One profile row per column of `cols`: `(col_name, n_rows, n_null,
    * n_distinct, min_v, max_v, avg_len)`. `n_distinct` counts distinct
    * NON-NULL values; `avg_len` averages string lengths over non-null
    * values (NULL when the column is entirely null). */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    melt(df, cols)
      .groupBy(col("col_name"), col("v"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col("col_name"))
      .agg(
        sum(col("__cnt")).as("n_rows"),
        coalesce(sum(when(col("v").isNull, col("__cnt"))), lit(0L))
          .as("n_null"),
        count(col("v")).as("n_distinct"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"),
        round(
          sum(when(col("v").isNotNull, length(col("v")) * col("__cnt")))
            .cast("decimal(28,6)").cast("double") /
            sum(when(col("v").isNotNull, col("__cnt"))), 4).as("avg_len"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental delta split — the reference's core "query" (SURVEY §2.4 J1,
  * reference dags/scraping_etl.py:51-74): a fresh batch is joined against
  * stored state `{lookup_key → row_hash}`; rows whose key is absent OR whose
  * fingerprint changed are routed to reprocessing (`toDetail`), unchanged
  * rows are bypassed.
  *
  * Scale design: one left join keyed on the lookup key — both sides hash
  * partition on the key, so the only shuffle is the join itself. When state
  * is small relative to the batch Catalyst/AQE picks a broadcast join;
  * callers may force it with `broadcast(state)`. The split reuses the single
  * joined plan (two filters over one join), so the join is not recomputed
  * per branch when both branches feed one union (Spark reuses the exchange).
  */
object Delta {

  /** J1: (toDetail, bypass). `state` must carry `keyCols` and `hashCol`. */
  def split(fresh: DataFrame, state: DataFrame, keyCols: Seq[String],
            hashCol: String = "row_hash"): (DataFrame, DataFrame) = {
    val st = state.select((keyCols.map(col) :+ col(hashCol).as("__state_hash")): _*)
    val joined = fresh.join(st, keyCols, "left")
    val changed = col("__state_hash").isNull || col("__state_hash") =!= col(hashCol)
    (joined.filter(changed).drop("__state_hash"),
     joined.filter(col("__state_hash") === col(hashCol)).drop("__state_hash"))
  }

  /** J3 merge (dags/scraping_etl.py:108-114): detailed ++ bypass, where the
    * detailed branch may carry extra columns (detail-stage fields). */
  def merge(detailed: DataFrame, bypass: DataFrame): DataFrame =
    detailed.unionByName(bypass, allowMissingColumns = true)

  /** End-of-time sentinel for an open SCD2 version — keeps `valid_to`
    * NON-NULL (a nullable timestamp would ride the comparator's NaT edge
    * for no semantic gain). NOT the warehouse-conventional 9999-12-31:
    * that overflows the nanosecond-epoch int64 every Arrow/pandas
    * consumer stores timestamps in (datetime64[ns] tops out 2262-04-11
    * and WRAPS to 1816 instead of erroring), so the portable end-of-time
    * is pinned safely inside the ns-epoch range. */
  val OpenVersion: java.sql.Timestamp =
    java.sql.Timestamp.valueOf("2200-01-01 00:00:00")

  /** SCD2 version history — the HISTORY form of the delta family: where
    * [[split]] routes changed-or-new rows forward and the final upsert
    * (W3) overwrites, this keeps EVERY observed version of an entity with
    * its validity interval — the "what did this listing say last March"
    * table the reference's overwrite-on-conflict sink
    * (/root/reference/src/storage.py:41-55 ON CONFLICT ... DO UPDATE)
    * structurally cannot answer.
    *
    * Semantics over an observation stream `(keyCols…, tsCol, tieCols…,
    * trackCols…)`: consecutive observations of a key whose tracked
    * columns are unchanged collapse into one version; a version opens at
    * its first observation's timestamp and closes at the next version's
    * open ([[OpenVersion]] while none exists). Change detection is
    * null-safe (`<=>`); ties on `tsCol` are broken by `tieCols` — pass a
    * unique id, or equal-timestamp observations make version order
    * nondeterministic (the q64/x10 tie lesson).
    *
    * Scale shape: BOTH windows (the change-detection lag and the
    * interval lead) partition by the key and sort by the same
    * (ts, tie…) order, so the plan pays ONE keyed exchange + one sort;
    * the version-start filter between them preserves partitioning AND
    * order, so the second window adds neither. Per-key work only —
    * nothing global, no driver state. */
  def scd2(updates: DataFrame, keyCols: Seq[String], tsCol: String,
           tieCols: Seq[String], trackCols: Seq[String]): DataFrame = {
    require(trackCols.nonEmpty, "scd2 needs at least one tracked column")
    val ord: Seq[Column] = (tsCol +: tieCols).map(col(_).asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(ord: _*)
    val changed = trackCols
      .map(c => !(col(c) <=> lag(col(c), 1).over(w)))
      .reduce(_ || _)
    updates
      .withColumn("__start", row_number().over(w) === 1 || changed)
      .filter(col("__start"))
      .withColumn("version_nr", row_number().over(w).cast("long"))
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to",
        coalesce(lead(col(tsCol), 1).over(w), lit(OpenVersion)))
      .withColumn("is_current",
        (col("valid_to") === lit(OpenVersion)).cast("int"))
      .drop("__start")
  }

  /** Incremental SCD2 maintenance — fold a fresh observation batch into
    * an existing [[scd2]] history WITHOUT rebuilding it: the production
    * shape (a nightly crawl appends observations; re-deriving the full
    * history from all observations ever seen is exactly the
    * state×state rebuild the incremental dedup tier q93/q120 exists to
    * avoid). Only each affected key's OPEN version re-enters the window
    * — closed versions and untouched keys pass through — so the
    * recompute cost is ∝ |fresh| + one open row per touched key,
    * independent of history depth.
    *
    * Contract (the append-only assumption every incremental history
    * keeps): fresh observations sort strictly AFTER the open version's
    * `(tsCol, tieCols…)` for their key. Fresh rows must carry the same
    * observation columns [[scd2]] saw (`keyCols ∪ {tsCol} ∪ tieCols ∪
    * trackCols`). Given that, `scd2Merge(scd2(a), b) ≡ scd2(a ∪ b)`
    * exactly — including a fresh run that collapses into the open
    * version (same tracked values → the open version simply stays open
    * with its original `valid_from`) — which is the property
    * DeltaUpsertSpec pins.
    *
    * In a stored-table deployment the write-back is MERGE-shaped: only
    * rows for keys present in `fresh` change; semi-join this result on
    * those keys for the replacement partition set. */
  def scd2Merge(history: DataFrame, fresh: DataFrame, keyCols: Seq[String],
                tsCol: String, tieCols: Seq[String],
                trackCols: Seq[String]): DataFrame = {
    val meta = Seq("version_nr", "valid_from", "valid_to", "is_current")
    val keys = fresh.select(keyCols.map(col): _*).distinct()
    val untouched = history.join(keys, keyCols, "left_anti")
    val affected = history.join(keys, keyCols, "left_semi")
    val closed = affected.filter(col("is_current") === 0)
    // The open version's row IS its first observation (scd2 keeps the
    // observation columns; valid_from == its own tsCol), so dropping the
    // interval metadata turns it back into the baseline observation the
    // rebuild window needs — and `version_nr` rides along as the offset
    // that keeps version numbering continuous across merges.
    val open = affected.filter(col("is_current") === 1)
    val baseline = open.drop(meta.filterNot(_ == "version_nr"): _*)
      .withColumnRenamed("version_nr", "__offset")
    val rebuilt = scd2(
      baseline.unionByName(fresh.withColumn("__offset", lit(1L)),
        allowMissingColumns = false),
      keyCols, tsCol, tieCols, trackCols)
    // the baseline row (when present) is rank 1 again — its original
    // version number anchors the continuation
    val reNumbered = rebuilt
      .withColumn("__base",
        max(when(col("version_nr") === 1L, col("__offset")))
          .over(Window.partitionBy(keyCols.map(col): _*)))
      .withColumn("version_nr", col("version_nr") + col("__base") - 1L)
      .drop("__offset", "__base")
    untouched.unionByName(closed, allowMissingColumns = false)
      .unionByName(reNumbered, allowMissingColumns = false)
  }

  /** J2 key-presence gate (reference ShortCircuit/Branch,
    * dags/scraping_etl.py:76-80, dags/master_etl.py:35-49): run the
    * downstream plan only when the delta is non-empty. `isEmpty` is a
    * LIMIT-1 job — O(first non-empty partition), not a full scan; within a
    * single plan Catalyst's PropagateEmptyRelation handles this for free,
    * so the gate exists for cross-job boundaries only. */
  def gate[T](toDetail: DataFrame)(ifNonEmpty: => T)(ifEmpty: => T): T =
    if (toDetail.isEmpty) ifEmpty else ifNonEmpty
}

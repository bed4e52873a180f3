package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequential-funnel analytics: the furthest stage of an ordered step
  * sequence each entity reached, where every step must occur strictly
  * after the previous one and within a conversion window of it.
  *
  * Shape: one chained conditional-min Window per step over the SAME
  * entity partition — Catalyst stacks same-partitioning windows on a
  * single sort+exchange, so the whole computation shuffles the event
  * table ONCE regardless of step count (the self-join formulation
  * re-shuffles it per step), then collapses to one row per entity. The
  * per-entity collapse reuses the window exchange's partitioning.
  */
object Funnel {

  /** Per-entity furthest stage reached: 0 = none, k = completed step k.
    * Returns (entityCol, stage). `window` is the max gap between
    * consecutive steps (an INTERVAL column, e.g.
    * `expr("INTERVAL 24 HOURS")`). Rows whose entity id is NULL are
    * dropped (no output row) — NULL is not an identity.
    */
  def stage(events: DataFrame, entityCol: String, typeCol: String,
            tsCol: String, steps: Seq[String], window: Column): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    // NULL entity ids dropped — see stageSkewSafe.
    val live = events.filter(col(entityCol).isNotNull)
    val w = Window.partitionBy(col(entityCol))
    val withTimes = steps.zipWithIndex.foldLeft(live) { case (df, (step, i)) =>
      val cond =
        if (i == 0) col(typeCol) === step
        else col(typeCol) === step && col(tsCol) > col(s"_t${i - 1}") &&
          col(tsCol) <= col(s"_t${i - 1}") + window
      df.withColumn(s"_t$i", min(when(cond, col(tsCol))).over(w))
    }
    val stage = steps.indices.foldLeft(lit(0)) { (acc, i) =>
      when(col(s"_t$i").isNotNull, i + 1).otherwise(acc)
    }
    val maxes = steps.indices.map(i => max(col(s"_t$i")).as(s"_t$i"))
    withTimes.groupBy(col(entityCol))
      .agg(maxes.head, maxes.tail: _*)
      .select(col(entityCol), stage.as("stage"))
  }

  /** [[stage]]'s skew-safe twin: identical result, different physical
    * shape. The window form shuffles events once but WindowExec buffers
    * each entity's full partition — a hot entity with 10^8 events
    * buffers 10^8 rows in one task. This form computes each step as a
    * filtered `groupBy(entity).min` (partial aggregation collapses the
    * hot key to one row per map task BEFORE the shuffle — the
    * keep-first/W2 skew argument) joined back to the per-entity step
    * table (events-side skew there is AQE's skew-join split, the J1
    * argument). Costs one events-shuffle per step instead of one total;
    * choose by skew, not by default. Equality with [[stage]] is pinned
    * property-style in PropertySpec. */
  def stageSkewSafe(events: DataFrame, entityCol: String, typeCol: String,
                    tsCol: String, steps: Seq[String],
                    window: Column): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    // NULL entity ids carry no identity — dropped up front so both
    // physical forms agree (window partitioning groups NULLs together,
    // equi-joins never match them; without this filter the two forms
    // diverge on NULL keys).
    val live = events.filter(col(entityCol).isNotNull)
    var t = live.filter(col(typeCol) === steps.head)
      .groupBy(col(entityCol)).agg(min(col(tsCol)).as("_t0"))
    steps.tail.zipWithIndex.foreach { case (s, i0) =>
      val i = i0 + 1
      val prev = s"_t${i - 1}"
      val cond = col(tsCol) > col(prev) && col(tsCol) <= col(prev) + window
      val next = live.filter(col(typeCol) === s)
        .join(t.select(col(entityCol), col(prev)), entityCol)
        .filter(cond)
        .groupBy(col(entityCol)).agg(min(col(tsCol)).as(s"_t$i"))
      t = t.join(next, Seq(entityCol), "left")
    }
    val stage = steps.indices.foldLeft(lit(0)) { (acc, i) =>
      when(col(s"_t$i").isNotNull, i + 1).otherwise(acc)
    }
    live.select(col(entityCol)).distinct()
      .join(t, Seq(entityCol), "left")
      .select(col(entityCol), coalesce(stage, lit(0)).as("stage"))
  }
}

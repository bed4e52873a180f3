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
    // NULL entity ids carry no identity: dropped up front
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
}

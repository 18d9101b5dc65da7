package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ordered event-sequence (funnel) analysis over an event stream — the
  * CEP-lite capability analytics engines bolt onto event tables ("of the
  * users who viewed, how many then clicked, then purchased?"). No
  * analogue in the reference (its unit of work is a CDC transaction);
  * this is a north-star OLAP addition over the `events` table.
  *
  * Semantics (the standard greedy-earliest funnel): a user reaches stage
  * k iff there exist events e_1 < e_2 < ... < e_k with STRICTLY
  * increasing timestamps whose types match `steps` in order, and the
  * witness chosen is the greedy one — each stage advances at the
  * earliest admissible event. Greedy-earliest is complete: if any
  * witness chain exists, the greedy chain exists (each greedy prefix
  * ends no later than the alternative's), so "stage reached" is
  * well-defined independent of witness choice.
  *
  * Scale shape: non-step events are pruned AT THE SCAN (a pushed
  * `IN` filter — at 100 TB the funnel reads only the step types'
  * row-groups), then ONE hash shuffle groups by user, and the per-user
  * fold over the time-sorted list is a codegen'd higher-order
  * `aggregate` — no UDF, no window, no per-stage join cascade (the
  * naive form is k self-joins = k shuffles). Per-user memory is that
  * user's step-event count; timestamps fold as exact integer
  * microseconds (`unix_micros`), not doubles, so comparisons are
  * engine-portable.
  */
object Funnel {

  /** Per-user funnel: (user_id, stage, conv_s) where `stage` is the
    * deepest stage reached (0..steps.size) and `conv_s` is whole
    * seconds from the stage-1 witness to the final-stage witness for
    * fully converted users, NULL otherwise. Users with no step events
    * at all are absent (pruned at the scan). */
  def funnelStages(events: DataFrame, steps: Seq[String],
                   userCol: Column = col("user_id"),
                   tsCol: Column = col("ts"),
                   typeCol: Column = col("event_type")): DataFrame = {
    require(steps.nonEmpty, "funnelStages: empty step list")
    val stepsArr = array(steps.map(lit): _*)
    val perUser = events
      .filter(typeCol.isin(steps: _*))
      .groupBy(userCol.as("user_id"))
      .agg(sort_array(collect_list(struct(
        graft.Tables.epochMicrosIn(events, tsCol).as("t"), typeCol.as("y")))).as("evs"))
    val init = struct(lit(0).as("stage"), lit(Long.MinValue).as("last_t"),
      lit(0L).as("first_t"))
    val folded = perUser.select(col("user_id"),
      aggregate(col("evs"), init, (st, e) => {
        val advance = st("stage") < lit(steps.size) &&
          e("y") === element_at(stepsArr, (st("stage") + 1).cast("int")) &&
          e("t") > st("last_t")
        when(advance, struct(
          (st("stage") + 1).as("stage"),
          e("t").as("last_t"),
          when(st("stage") === 0, e("t")).otherwise(st("first_t")).as("first_t")))
          .otherwise(st)
      }).as("f"))
    folded.select(col("user_id"), col("f.stage").as("stage"),
      when(col("f.stage") === steps.size,
        floor((col("f.last_t") - col("f.first_t")) / lit(1000000.0)).cast("long"))
        .otherwise(lit(null)).as("conv_s"))
  }

  private val WeekMicros = 604800000000L // 7 * 86400 * 1e6

  /** Cohort retention: users grouped by the epoch-week of their FIRST
    * event; cell (cohort_week, week_offset) counts that cohort's users
    * active offset weeks later. Week = floor(epoch_us / 7 days) — pure
    * integer-derived arithmetic both engines compute identically (no
    * calendar/timezone semantics to disagree on).
    *
    * Scale shape: the naive form joins a per-user cohort table back to
    * per-user activity (two big shuffles + a join). Here BOTH facts
    * come out of ONE per-user hash aggregate — min week and the
    * distinct-week set (bounded by the observation span in weeks, a
    * few hundred entries at most, regardless of event count) — then
    * explode + a tiny (cohort, offset) agg. Each (user, week) appears
    * once post-explode, so count(*) IS the distinct-user count: no
    * countDistinct state, no join, map-side partials everywhere. */
  def retention(events: DataFrame,
                userCol: Column = col("user_id"),
                tsCol: Column = col("ts")): DataFrame = {
    val wk = floor(graft.Tables.epochMicrosIn(events, tsCol) / lit(WeekMicros.toDouble)).cast("long")
    events
      .select(userCol.as("user_id"), wk.as("wk"))
      .groupBy("user_id")
      .agg(min("wk").as("cohort_week"), collect_set(col("wk")).as("wks"))
      .select(col("cohort_week"), explode(col("wks")).as("wk"))
      .groupBy(col("cohort_week"), (col("wk") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }
}

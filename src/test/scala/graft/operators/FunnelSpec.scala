package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Greedy-earliest funnel semantics + single-shuffle plan shape. */
class FunnelSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)
  private val steps = Seq("view", "click", "purchase")

  private def run(rows: Seq[(Long, Long, String)]): Map[Long, (Int, Option[Long])] =
    Funnel.funnelStages(
      rows.map { case (u, t, y) => (u, ts(t), y) }.toDF("user_id", "ts", "event_type"),
      steps)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap

  test("stages advance greedily on strictly increasing timestamps") {
    val got = run(Seq(
      // u1 converts: view@10, click@20, purchase@45 -> stage 3, 35 s
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 45L, "purchase"),
      // u2 stalls at click (purchase BEFORE click doesn't count)
      (2L, 10L, "view"), (2L, 15L, "purchase"), (2L, 20L, "click"),
      // u3 has only a click: first step never fires -> stage 0
      (3L, 10L, "click"),
      // u4: interleaved repeats — greedy picks v@1, c@2, p@4 -> 3 s
      (4L, 1L, "view"), (4L, 2L, "click"), (4L, 3L, "view"), (4L, 4L, "purchase"),
      // u5: non-step events are ignored entirely
      (5L, 1L, "signup"), (5L, 2L, "error")))
    assert(got === Map(
      1L -> ((3, Some(35L))), 2L -> ((2, None)), 3L -> ((0, None)),
      4L -> ((3, Some(3L)))))
    assert(!got.contains(5L), "users with no step events are absent")
  }

  test("equal timestamps do not advance a stage (strict order)") {
    val got = run(Seq(
      (1L, 10L, "view"), (1L, 10L, "click"), (1L, 20L, "purchase")))
    // the click shares the view's timestamp -> rejected; purchase needs
    // a prior click so the user stalls at stage 1
    assert(got === Map(1L -> ((1, None))))
  }

  test("greedy-earliest is complete: a later chain still converts") {
    // earliest view@1 has no click after it until @50; greedy still
    // finds v@1, c@50, p@60 (it never needs to 'skip' the early view)
    val got = run(Seq(
      (1L, 1L, "view"), (1L, 40L, "view"), (1L, 50L, "click"), (1L, 60L, "purchase")))
    assert(got === Map(1L -> ((3, Some(59L)))))
  }

  test("one shuffle: the fold runs in a single hash-aggregate exchange") {
    val df = Seq((1L, ts(1), "view")).toDF("user_id", "ts", "event_type")
    val plan = Funnel.funnelStages(df, steps).queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges === 1, s"expected exactly one shuffle:\n$plan")
  }

  private val Week = 604800L // seconds

  test("retention: cohort grid from a hand fixture") {
    // u1 first active week 0, returns weeks 1 and 3 (week-2 gap);
    // u2 first active week 1, returns week 2; u3 week 0 only
    val df = Seq(
      (1L, ts(10)), (1L, ts(Week + 5)), (1L, ts(3 * Week + 1)), (1L, ts(3 * Week + 2)),
      (2L, ts(Week + 1)), (2L, ts(2 * Week + 1)),
      (3L, ts(20))).map { case (u, t) => (u, t, "view") }
      .toDF("user_id", "ts", "event_type")
    val got = Funnel.retention(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      (0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 3L) -> 1L,
      (1L, 0L) -> 1L, (1L, 1L) -> 1L))
  }

  test("retention plan is join-free: one user agg, one cell agg") {
    val df = Seq((1L, ts(1), "view")).toDF("user_id", "ts", "event_type")
    val plan = Funnel.retention(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"cohort must come from the same agg, not a join:\n$plan")
    assert("Exchange".r.findAllIn(plan).size <= 2, s"expected <=2 shuffles:\n$plan")
  }

  test("retention matches the naive cohort-join formulation on real data") {
    val events = graft.Tables.load(spark, sfDir, "events")
    val wk = floor(unix_micros(col("ts")) / lit(604800000000.0)).cast("long")
    val uw = events.select(col("user_id"), wk.as("wk")).distinct()
    val c = uw.groupBy("user_id").agg(min("wk").as("cohort_week"))
    val ref = uw.join(c, "user_id")
      .groupBy(col("cohort_week"), (col("wk") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(m(Funnel.retention(events)) === m(ref))
  }

  test("matches the per-stage min-timestamp cascade on real data") {
    val events = graft.Tables.load(spark, sfDir, "events")
    val got = Funnel.funnelStages(events, steps)
    // reference: stage-k witness = min ts of step k strictly after the
    // stage-(k-1) witness (the oracle's formulation, in Spark)
    val t1 = events.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("t1"))
    val t2 = events.filter(col("event_type") === "click")
      .join(t1, "user_id").filter(unix_micros(col("ts")) > col("t1"))
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("t2"))
    val t3 = events.filter(col("event_type") === "purchase")
      .join(t2, "user_id").filter(unix_micros(col("ts")) > col("t2"))
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("t3"))
    val ref = events.filter(col("event_type").isin(steps: _*))
      .select("user_id").distinct()
      .join(t1, Seq("user_id"), "left").join(t2, Seq("user_id"), "left")
      .join(t3, Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
          .when(col("t1").isNotNull, 1).otherwise(0).as("stage"),
        when(col("t3").isNotNull,
          floor((col("t3") - col("t1")) / lit(1000000.0)).cast("long")).as("conv_s"))
    val a = got.collect().map(r => (r.getLong(0), r.getInt(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1)
    val b = ref.collect().map(r => (r.getLong(0), r.getInt(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1)
    assert(a === b)
  }

  test("raw int64 ts is rejected loudly, not silently misread as seconds") {
    // a caller bypassing Tables.load with legacy nanos-as-long events
    // must get an error naming the fix — LongType cast to timestamp
    // would interpret epoch SECONDS (off by 1e9) and corrupt every
    // cohort/stage silently
    import spark.implicits._
    val rawLong = Seq((1L, 1700000000000000000L, "view"))
      .toDF("user_id", "ts", "event_type")
    val e = intercept[IllegalArgumentException] {
      Funnel.retention(rawLong)
    }
    assert(e.getMessage.contains("Tables.load"))
    val e2 = intercept[IllegalArgumentException] {
      Funnel.funnelStages(rawLong, Seq("view"))
    }
    assert(e2.getMessage.contains("not a timestamp"))
  }
}

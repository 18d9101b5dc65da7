package graft.operators

import graft.SparkSpec
import graft.cdc.Envelope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental aggregate-view maintenance from CDC batches (q143;
  * Gupta & Mumick 1995). The load-bearing invariant: after every
  * batch, the maintained view EQUALS the groupBy over the
  * applyChanges-materialized base — asserted here per batch across
  * inserts, updates (value and GROUP moves), deletes, re-inserts,
  * multi-op keys, TOAST-unchanged columns, NULL groups/values and
  * TRUNCATE. */
class MaintainAggViewSpec extends SparkSpec {
  import spark.implicits._

  // (op, lsn, seq, k, g, v)
  private def batch(rows: (String, Long, Long, Long, String, Option[Double])*) =
    rows.toDF("op", "lsn", "seq", "k", "g", "v")

  private def emptyBase = batch().select("k", "g", "v")

  private def recompute(base: DataFrame): Seq[(String, Long, Long, Double)] =
    base.groupBy("g")
      .agg(count(lit(1)).as("n_rows"), count(col("v")).as("n_val"),
        sum(coalesce(col("v"), lit(0.0))).as("sum_val"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(t => Option(t._1).getOrElse(""))

  private def viewRows(v: DataFrame): Seq[(String, Long, Long, Double)] =
    v.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(t => Option(t._1).getOrElse(""))

  private def roundtrip(batches: Seq[DataFrame]): (DataFrame, DataFrame) = {
    var base = emptyBase
    var view: Option[DataFrame] = None
    batches.foreach { b =>
      view = Some(ChangeHistory.maintainAggView(view, base, b,
        rowKeys = Seq("k"), groupKeys = Seq("g"), valueCol = "v"))
      base = Envelope.applyChanges(base, b, Seq("k"))
      // the invariant, EVERY batch
      assert(viewRows(view.get) === recompute(base))
    }
    (view.get, base)
  }

  test("insert-only batch from empty: view is the plain aggregate") {
    val (v, _) = roundtrip(Seq(batch(
      ("I", 1L, 0L, 1L, "a", Some(1.0)), ("I", 2L, 0L, 2L, "a", Some(2.0)),
      ("I", 3L, 0L, 3L, "b", Some(5.0)))))
    assert(viewRows(v) === Seq(("a", 2L, 2L, 3.0), ("b", 1L, 1L, 5.0)))
  }

  test("update retracts the old contribution, including a GROUP move") {
    val (v, _) = roundtrip(Seq(
      batch(("I", 1L, 0L, 1L, "a", Some(1.0)), ("I", 2L, 0L, 2L, "a", Some(2.0))),
      // key 1 moves a -> b with a new value; key 2 re-values in place
      batch(("U", 10L, 0L, 1L, "b", Some(7.0)), ("U", 11L, 0L, 2L, "a", Some(9.0)))))
    assert(viewRows(v) === Seq(("a", 1L, 1L, 9.0), ("b", 1L, 1L, 7.0)))
  }

  test("delete retracts; a group retracted to zero rows vanishes") {
    val (v, _) = roundtrip(Seq(
      batch(("I", 1L, 0L, 1L, "a", Some(1.0)), ("I", 2L, 0L, 2L, "b", Some(2.0))),
      batch(("D", 10L, 0L, 2L, "b", None))))
    assert(viewRows(v) === Seq(("a", 1L, 1L, 1.0)))
  }

  test("multi-op key in one batch: only the net effect applies") {
    val (v, _) = roundtrip(Seq(
      batch(("I", 1L, 0L, 1L, "a", Some(1.0))),
      // insert then update then update again, same batch — latest wins;
      // and key 1 dies in the same batch that re-values it
      batch(("I", 10L, 0L, 2L, "a", Some(5.0)), ("U", 10L, 1L, 2L, "b", Some(6.0)),
        ("U", 11L, 0L, 2L, "b", Some(7.0)),
        ("U", 12L, 0L, 1L, "a", Some(9.0)), ("D", 13L, 0L, 1L, "a", None))))
    assert(viewRows(v) === Seq(("b", 1L, 1L, 7.0)))
  }

  test("delete of an unknown key and an empty batch are no-ops") {
    val (v, _) = roundtrip(Seq(
      batch(("I", 1L, 0L, 1L, "a", Some(1.0))),
      batch(("D", 10L, 0L, 99L, "zz", None)),
      batch()))
    assert(viewRows(v) === Seq(("a", 1L, 1L, 1.0)))
  }

  test("NULL group key is a group; NULL value counts n_rows but not n_val/sum") {
    val (v, _) = roundtrip(Seq(
      batch(("I", 1L, 0L, 1L, null.asInstanceOf[String], Some(3.0)),
        ("I", 2L, 0L, 2L, null.asInstanceOf[String], None),
        ("I", 3L, 0L, 3L, "a", None)),
      // second batch touches the null group again — the null-safe merge
      // must fold into the SAME group, not mint a second null row
      batch(("I", 10L, 0L, 4L, null.asInstanceOf[String], Some(1.0)))))
    assert(viewRows(v) === Seq((null, 3L, 2L, 4.0), ("a", 1L, 0L, 0.0)))
  }

  test("TRUNCATE resets the view; only strictly-later changes contribute") {
    val (v, _) = roundtrip(Seq(
      batch(("I", 1L, 0L, 1L, "a", Some(1.0)), ("I", 2L, 0L, 2L, "b", Some(2.0))),
      batch(("I", 10L, 0L, 3L, "c", Some(9.0)), ("T", 11L, 0L, 0L, null, None),
        ("I", 11L, 1L, 4L, "d", Some(4.0)))))
    assert(viewRows(v) === Seq(("d", 1L, 1L, 4.0)))
  }

  test("TOAST-unchanged value and group columns resolve from the pre-batch row") {
    val b0 = batch(("I", 1L, 0L, 1L, "a", Some(5.0)))
    val b1 = batch(("U", 10L, 0L, 1L, null.asInstanceOf[String], None))
      .withColumn(Envelope.UnchangedCol, array(lit("g"), lit("v")))
    var base = emptyBase
    var view: Option[DataFrame] = None
    Seq(b0, b1).foreach { b =>
      view = Some(ChangeHistory.maintainAggView(view, base, b,
        Seq("k"), Seq("g"), "v"))
      base = Envelope.applyChanges(base, b, Seq("k"))
      assert(viewRows(view.get) === recompute(base))
    }
    assert(viewRows(view.get) === Seq(("a", 1L, 1L, 5.0)))
  }

  test("decimal values maintain an exact DECIMAL(38,s) running sum") {
    val b0 = Seq(("I", 1L, 0L, 1L, "a", "10.25"), ("I", 2L, 0L, 2L, "a", "0.01"))
      .toDF("op", "lsn", "seq", "k", "g", "v")
      .withColumn("v", col("v").cast("decimal(14,2)"))
    val base0 = b0.select("k", "g", "v").limit(0)
    val v1 = ChangeHistory.maintainAggView(None, base0, b0, Seq("k"), Seq("g"), "v")
    val row = v1.head()
    assert(row.getAs[java.math.BigDecimal]("sum_val").compareTo(
      new java.math.BigDecimal("10.26")) === 0)
    assert(v1.schema("sum_val").dataType.sql.startsWith("DECIMAL(38,2)"))
  }

  test("the view folded from the apply join equals the public verb, by a group key and by the row key") {
    def cells(df: DataFrame, cols: Seq[String]): Seq[String] =
      df.select(cols.map(col): _*).collect().map(_.mkString("|")).toSeq.sorted
    val none = array().cast("array<string>")
    val batches = Seq(
      batch(("I", 1L, 0L, 1L, "a", Some(1.0)), ("I", 2L, 0L, 2L, "a", Some(2.0)),
        ("I", 3L, 0L, 3L, null.asInstanceOf[String], Some(3.0)), ("I", 4L, 0L, 4L, "b", None)),
      // UNCHANGED cells on pre-batch keys (key 1: g and v; key 2: v, as it
      // moves a -> c), key 3 moves out of the NULL group, a delete of an
      // unknown key, and a new row with a NULL group and a NULL value
      batch(("U", 10L, 0L, 1L, null.asInstanceOf[String], None),
        ("U", 11L, 0L, 2L, "c", None), ("U", 12L, 0L, 3L, "b", Some(5.0)),
        ("D", 13L, 0L, 99L, "zz", None), ("I", 14L, 0L, 5L, null.asInstanceOf[String], None))
        .withColumn(Envelope.UnchangedCol,
          when(col("k") === 1, array(lit("g"), lit("v")))
            .when(col("k") === 2, array(lit("v"))).otherwise(none)),
      // a TRUNCATE mid-batch: the change before it dies, those after it apply
      batch(("U", 20L, 0L, 1L, "x", Some(9.0)), ("T", 21L, 0L, 0L, null, None),
        ("I", 21L, 1L, 6L, "a", Some(6.0)), ("I", 22L, 0L, 1L, "d", Some(1.5))),
      // after the truncate: an UNCHANGED value, a delete, a group move
      batch(("U", 30L, 0L, 1L, "e", None), ("D", 31L, 0L, 6L, null.asInstanceOf[String], None),
        ("I", 32L, 0L, 7L, "e", Some(0.5)))
        .withColumn(Envelope.UnchangedCol,
          when(col("k") === 1, array(lit("v"))).otherwise(none)))
    Seq(Seq("g"), Seq("k")).foreach { groupKeys =>
      val viewCols = groupKeys ++ Seq("n_rows", "n_val", "sum_val")
      var base = emptyBase
      var public, fused: Option[DataFrame] = None
      batches.zipWithIndex.foreach { case (b, i) =>
        val where = s"grouped by ${groupKeys.mkString}, batch $i"
        val kernel = new Envelope.ApplyKernel(b)
        val joined = Envelope.applyJoin(base, kernel, Seq("k"))
        public = Some(ChangeHistory.maintainAggView(public, base, b,
          Seq("k"), groupKeys, "v"))
        fused = Some(ChangeHistory.foldAggView(fused, joined, kernel,
          Seq("k"), groupKeys, "v"))
        val next = Envelope.appliedState(joined, base.columns.toSeq, Seq("k"))
        assert(cells(next, Seq("k", "g", "v")) ===
          cells(Envelope.applyChanges(base, b, Seq("k")), Seq("k", "g", "v")), where)
        assert(cells(fused.get, viewCols) === cells(public.get, viewCols), where)
        val recomputed = next.groupBy(groupKeys.map(col): _*)
          .agg(count(lit(1)).as("n_rows"), count(col("v")).as("n_val"),
            sum(coalesce(col("v"), lit(0.0))).as("sum_val"))
        assert(cells(fused.get, viewCols) === cells(recomputed, viewCols), where)
        base = next
      }
      assert(cells(base, Seq("k", "g", "v")) === Seq("1|e|1.5", "7|e|0.5"))
    }
  }

  test("scale shape: the base never shuffles — touched keys broadcast into it") {
    val b = batch(("U", 10L, 0L, 1L, "a", Some(2.0)))
    val base = batch(("I", 1L, 0L, 1L, "a", Some(1.0))).select("k", "g", "v")
    val plan = ChangeHistory.maintainAggView(None, base, b, Seq("k"), Seq("g"), "v")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }
}

package graft.operators

import graft.SparkSpec
import graft.cdc.Envelope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental MIN/MAX view maintenance by affected-group recompute
  * (q145; the non-self-maintainable half of the IVM family — Gupta,
  * Mumick & Subrahmanian 1993). The invariant: after every batch the
  * view equals the from-scratch MIN/MAX aggregate over the
  * applyChanges-materialized base; only batch-affected groups are ever
  * recomputed. */
class MinMaxViewSpec extends SparkSpec {
  import spark.implicits._

  private def batch(rows: (String, Long, Long, Long, String, Option[Double])*) =
    rows.toDF("op", "lsn", "seq", "k", "g", "v")

  private def emptyBase = batch().select("k", "g", "v")

  private def recompute(base: DataFrame): Seq[(String, Long, Option[Double], Option[Double])] =
    base.groupBy("g")
      .agg(count(lit(1)).as("n_rows"), min(col("v")).as("min_val"),
        max(col("v")).as("max_val"))
      .as[(String, Long, Option[Double], Option[Double])]
      .collect().toSeq.sortBy(t => Option(t._1).getOrElse(""))

  private def viewRows(v: DataFrame): Seq[(String, Long, Option[Double], Option[Double])] =
    v.select("g", "n_rows", "min_val", "max_val")
      .as[(String, Long, Option[Double], Option[Double])]
      .collect().toSeq.sortBy(t => Option(t._1).getOrElse(""))

  private def roundtrip(batches: Seq[DataFrame]): DataFrame = {
    var base = emptyBase
    var view: Option[DataFrame] = None
    batches.foreach { b =>
      val newBase = Envelope.applyChanges(base, b, Seq("k"))
      view = Some(ChangeHistory.maintainMinMaxView(view, base, newBase, b,
        rowKeys = Seq("k"), groupKeys = Seq("g"), valueCol = "v"))
      base = newBase
      assert(viewRows(view.get) === recompute(base))
    }
    view.get
  }

  test("retracting the current maximum recomputes the true new extremum") {
    val v = roundtrip(Seq(
      batch(("I", 1L, 0L, 1L, "a", Some(5.0)), ("I", 2L, 0L, 2L, "a", Some(9.0)),
        ("I", 3L, 0L, 3L, "a", Some(1.0))),
      batch(("D", 10L, 0L, 2L, "a", None)))) // the max leaves
    assert(viewRows(v) === Seq(("a", 2L, Some(1.0), Some(5.0))))
  }

  test("group-moving update fixes BOTH groups even though the batch only carries the new one") {
    val v = roundtrip(Seq(
      batch(("I", 1L, 0L, 1L, "a", Some(9.0)), ("I", 2L, 0L, 2L, "a", Some(3.0)),
        ("I", 3L, 0L, 3L, "b", Some(4.0))),
      // key 1 (group a's max) moves to b — the U row carries group b;
      // a's new max (3.0) must come from the affected-group recompute
      batch(("U", 10L, 0L, 1L, "b", Some(9.0)))))
    assert(viewRows(v) ===
      Seq(("a", 1L, Some(3.0), Some(3.0)), ("b", 2L, Some(4.0), Some(9.0))))
  }

  test("replica-identity-DEFAULT delete (null group in the D row) still fixes the old group") {
    val del = Seq(("D", 10L, 0L, 2L, null.asInstanceOf[String], None))
      .map { case (op, l, s, k, g, v) => (op, l, s, k, g, v: Option[Double]) }
    val v = roundtrip(Seq(
      batch(("I", 1L, 0L, 1L, "a", Some(1.0)), ("I", 2L, 0L, 2L, "a", Some(8.0))),
      batch(del: _*)))
    assert(viewRows(v) === Seq(("a", 1L, Some(1.0), Some(1.0))))
  }

  test("a group whose last row leaves vanishes; fresh groups appear") {
    val v = roundtrip(Seq(
      batch(("I", 1L, 0L, 1L, "a", Some(1.0))),
      batch(("D", 10L, 0L, 1L, "a", None), ("I", 11L, 0L, 2L, "c", Some(2.0)))))
    assert(viewRows(v) === Seq(("c", 1L, Some(2.0), Some(2.0))))
  }

  test("NULL values are ignored by extrema but counted in n_rows (SQL semantics)") {
    val v = roundtrip(Seq(
      batch(("I", 1L, 0L, 1L, "a", Some(2.0)), ("I", 2L, 0L, 2L, "a", None),
        ("I", 3L, 0L, 3L, "b", None))))
    assert(viewRows(v) ===
      Seq(("a", 2L, Some(2.0), Some(2.0)), ("b", 1L, None, None)))
  }

  test("TRUNCATE resets; only strictly-later changes survive") {
    val v = roundtrip(Seq(
      batch(("I", 1L, 0L, 1L, "a", Some(1.0)), ("I", 2L, 0L, 2L, "b", Some(2.0))),
      batch(("I", 10L, 0L, 3L, "c", Some(3.0)), ("T", 11L, 0L, 0L, null, None),
        ("I", 11L, 1L, 4L, "d", Some(4.0)))))
    assert(viewRows(v) === Seq(("d", 1L, Some(4.0), Some(4.0))))
  }

  test("TOAST-unchanged value and group columns resolve from the pre-batch row") {
    val none = array().cast("array<string>")
    val b0 = batch(("I", 1L, 0L, 1L, "a", Some(5.0)), ("I", 2L, 0L, 2L, "a", Some(3.0)),
      ("I", 3L, 0L, 3L, "b", Some(4.0)))
    // key 1 (group a's max) re-sends both cells as 'u'; key 3 keeps its
    // group as 'u' and takes a new value
    val b1 = batch(("U", 10L, 0L, 1L, null.asInstanceOf[String], None),
        ("U", 11L, 0L, 3L, null.asInstanceOf[String], Some(7.0)))
      .withColumn(Envelope.UnchangedCol,
        when(col("k") === 1, array(lit("g"), lit("v")))
          .when(col("k") === 3, array(lit("g"))).otherwise(none))
    val v = roundtrip(Seq(b0, b1))
    assert(viewRows(v) ===
      Seq(("a", 2L, Some(3.0), Some(5.0)), ("b", 1L, Some(7.0), Some(7.0))))
  }

  test("multi-batch churn keeps the invariant (the roundtrip harness asserts per batch)") {
    roundtrip(Seq(
      batch(("I", 1L, 0L, 1L, "a", Some(5.0)), ("I", 2L, 0L, 2L, "b", Some(7.0)),
        ("I", 3L, 0L, 3L, "a", Some(2.0)), ("I", 4L, 0L, 4L, "b", Some(1.0))),
      batch(("U", 10L, 0L, 1L, "b", Some(5.0)), ("D", 11L, 0L, 2L, "b", None),
        ("I", 12L, 0L, 5L, "a", Some(8.0)), ("U", 13L, 0L, 3L, "a", Some(0.5))),
      batch(("D", 20L, 0L, 5L, "a", None), ("I", 21L, 0L, 2L, "a", Some(6.0)),
        ("U", 22L, 0L, 4L, "a", Some(9.0)))))
  }

  test("untouched groups pass through the anti join; affected keys broadcast") {
    val base = batch(("I", 1L, 0L, 1L, "a", Some(1.0))).select("k", "g", "v")
    val b = batch(("U", 10L, 0L, 1L, "a", Some(2.0)))
    val newBase = Envelope.applyChanges(base, b, Seq("k"))
    val plan = ChangeHistory.maintainMinMaxView(None, base, newBase, b,
      Seq("k"), Seq("g"), "v").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }
}

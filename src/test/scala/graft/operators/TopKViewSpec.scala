package graft.operators

import graft.SparkSpec
import graft.cdc.Envelope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental TOP-K view by affected-group recompute (q149 — the
  * ranked generalization of min/max). Invariant per batch: the view
  * equals ROW_NUMBER ≤ k over the applyChanges state. */
class TopKViewSpec extends SparkSpec {
  import spark.implicits._

  private def batch(rows: (String, Long, Long, Long, String, Option[Double])*) =
    rows.toDF("op", "lsn", "seq", "k", "g", "v")

  private def emptyBase = batch().select("k", "g", "v")

  private def recompute(base: DataFrame, k: Int): Seq[(String, Int, Long, Option[Double])] = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("v").desc, col("k").asc)
    base.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("g", "rank", "k", "v")
      .as[(String, Int, Long, Option[Double])]
      .collect().toSeq.sortBy(t => (Option(t._1).getOrElse(""), t._2))
  }

  private def viewRows(v: DataFrame): Seq[(String, Int, Long, Option[Double])] =
    v.select("g", "rank", "k", "v")
      .as[(String, Int, Long, Option[Double])]
      .collect().toSeq.sortBy(t => (Option(t._1).getOrElse(""), t._2))

  private def roundtrip(kTop: Int, batches: Seq[DataFrame]): DataFrame = {
    var base = emptyBase
    var view: Option[DataFrame] = None
    batches.foreach { b =>
      val newBase = Envelope.applyChanges(base, b, Seq("k"))
      view = Some(ChangeHistory.maintainTopKView(view, base, newBase, b,
        rowKeys = Seq("k"), groupKeys = Seq("g"), orderCol = "v", k = kTop))
      base = newBase
      assert(viewRows(view.get) === recompute(base, kTop))
    }
    view.get
  }

  test("deleting a top row promotes the next-best from outside the old view") {
    val v = roundtrip(2, Seq(
      batch(("I", 1L, 0L, 1L, "a", Some(9.0)), ("I", 2L, 0L, 2L, "a", Some(7.0)),
        ("I", 3L, 0L, 3L, "a", Some(5.0)), ("I", 4L, 0L, 4L, "a", Some(3.0))),
      batch(("D", 10L, 0L, 1L, "a", None)))) // the #1 leaves; #3 (5.0) enters
    assert(viewRows(v) === Seq(("a", 1, 2L, Some(7.0)), ("a", 2, 3L, Some(5.0))))
  }

  test("a group-moving update re-ranks BOTH groups; rank ties go to the low key") {
    val v = roundtrip(2, Seq(
      batch(("I", 1L, 0L, 1L, "a", Some(9.0)), ("I", 2L, 0L, 2L, "a", Some(7.0)),
        ("I", 3L, 0L, 3L, "b", Some(7.0))),
      batch(("U", 10L, 0L, 1L, "b", Some(7.0))))) // ties with keys 3 at 7.0
    assert(viewRows(v) ===
      Seq(("a", 1, 2L, Some(7.0)), ("b", 1, 1L, Some(7.0)), ("b", 2, 3L, Some(7.0))))
  }

  test("TOAST-unchanged value and group columns resolve from the pre-batch row") {
    val none = array().cast("array<string>")
    val b0 = batch(("I", 1L, 0L, 1L, "a", Some(9.0)), ("I", 2L, 0L, 2L, "a", Some(7.0)),
      ("I", 3L, 0L, 3L, "b", Some(4.0)))
    // key 1 (group a's #1) re-sends both cells as 'u'; key 3 keeps its
    // group as 'u' and takes a new value
    val b1 = batch(("U", 10L, 0L, 1L, null.asInstanceOf[String], None),
        ("U", 11L, 0L, 3L, null.asInstanceOf[String], Some(8.0)))
      .withColumn(Envelope.UnchangedCol,
        when(col("k") === 1, array(lit("g"), lit("v")))
          .when(col("k") === 3, array(lit("g"))).otherwise(none))
    val v = roundtrip(2, Seq(b0, b1))
    assert(viewRows(v) ===
      Seq(("a", 1, 1L, Some(9.0)), ("a", 2, 2L, Some(7.0)), ("b", 1, 3L, Some(8.0))))
  }

  test("untouched groups pass through; churn keeps the invariant") {
    roundtrip(3, Seq(
      batch(("I", 1L, 0L, 1L, "a", Some(5.0)), ("I", 2L, 0L, 2L, "b", Some(6.0)),
        ("I", 3L, 0L, 3L, "a", Some(4.0)), ("I", 4L, 0L, 4L, "b", Some(2.0)),
        ("I", 5L, 0L, 5L, "a", Some(8.0)), ("I", 6L, 0L, 6L, "a", Some(1.0))),
      batch(("U", 10L, 0L, 5L, "b", Some(8.0)), ("D", 11L, 0L, 1L, "a", None)),
      batch(("T", 20L, 0L, 0L, null, None), ("I", 20L, 1L, 9L, "c", Some(2.0)))))
  }
}

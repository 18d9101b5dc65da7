package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType}

import graft.SparkSpec
import graft.operators.ChangeHistory

/** The resolved TRUNCATE watermark of [[Envelope.ApplyKernel]]: the
  * kernel reads the batch's last TRUNCATE position to the driver and
  * filters against it as a literal. These cases pin what a literal
  * could lose: the (lsn, seq) tiebreak, the lsn-only order of a change
  * set without seq, the column's own lsn type, and the LAST of several
  * TRUNCATEs. Each case checks `applyChanges` and `maintainAggView`
  * against the expected state. */
class ApplyKernelSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val state = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "g", "v")

  private def rows(df: DataFrame): Seq[(Long, String, Double)] =
    df.select("k", "g", "v").as[(Long, String, Double)].collect().toSeq.sorted

  /** The aggregate view over `state`, as the batches before this one left it. */
  private val priorView = state.groupBy("g")
    .agg(count(lit(1)).as("n_rows"), count(col("v")).as("n_val"), sum(col("v")).as("sum_val"))

  private def view(batch: DataFrame): Seq[(String, Long, Double)] =
    ChangeHistory.maintainAggView(Some(priorView), state, batch, Seq("k"), Seq("g"), "v")
      .select("g", "n_rows", "sum_val").as[(String, Long, Double)].collect().toSeq.sorted

  /** The view a from-scratch aggregate over `want` gives. */
  private def viewOf(want: Seq[(Long, String, Double)]): Seq[(String, Long, Double)] =
    want.groupBy(_._2).map { case (g, rs) => (g, rs.size.toLong, rs.map(_._3).sum) }
      .toSeq.sorted

  private def check(batch: DataFrame, want: Seq[(Long, String, Double)]): Unit = {
    assert(rows(Envelope.applyChanges(state, batch, Seq("k"))) === want)
    assert(view(batch) === viewOf(want))
  }

  test("a TRUNCATE and a post-truncate INSERT at the same lsn: the seq tiebreak keeps the insert") {
    val batch = Seq(("I", 10L, 0L, 3L, "c", 3.0), ("T", 20L, 1L, 0L, null, 0.0),
      ("I", 20L, 2L, 4L, "d", 4.0)).toDF("op", "lsn", "seq", "k", "g", "v")
    check(batch, Seq((4L, "d", 4.0)))
  }

  test("a change set with no seq column orders by lsn alone") {
    val batch = Seq(("I", 10L, 3L, "c", 3.0), ("T", 20L, 0L, null, 0.0),
      ("I", 20L, 4L, "d", 4.0), ("I", 30L, 5L, "e", 5.0))
      .toDF("op", "lsn", "k", "g", "v")
    // without seq, an insert at the truncate's own lsn is not after it
    check(batch, Seq((5L, "e", 5.0)))
  }

  test("a non-Long lsn (IntegerType, DecimalType) keeps its type through the watermark") {
    val base = Seq(("I", 10L, 0L, 3L, "c", 3.0), ("T", 20L, 1L, 0L, null, 0.0),
      ("I", 20L, 2L, 4L, "d", 4.0), ("U", 30L, 0L, 4L, "d", 6.0))
      .toDF("op", "lsn", "seq", "k", "g", "v")
    Seq(IntegerType, DecimalType(20, 0)).foreach { t =>
      val batch = base.withColumn("lsn", col("lsn").cast(t))
      assert(batch.schema("lsn").dataType === t)
      check(batch, Seq((4L, "d", 6.0)))
    }
  }

  test("two TRUNCATEs in one batch: only changes after the last one survive") {
    val batch = Seq(("T", 10L, 0L, 0L, null, 0.0), ("I", 11L, 0L, 3L, "c", 3.0),
      ("T", 12L, 0L, 0L, null, 0.0), ("I", 13L, 0L, 4L, "d", 4.0),
      ("U", 14L, 0L, 4L, "d", 5.0)).toDF("op", "lsn", "seq", "k", "g", "v")
    check(batch, Seq((4L, "d", 5.0)))
  }

  test("the resolved watermark plans no BroadcastNestedLoopJoin in applyChanges or maintainAggView") {
    val truncating = Seq(("I", 10L, 0L, 3L, "c", 3.0), ("T", 20L, 1L, 0L, null, 0.0),
      ("I", 20L, 2L, 4L, "d", 4.0)).toDF("op", "lsn", "seq", "k", "g", "v")
    Seq(truncating, truncating.filter(col("op") =!= "T")).foreach { batch =>
      Seq(Envelope.applyChanges(state, batch, Seq("k")),
        ChangeHistory.maintainAggView(None, state, batch, Seq("k"), Seq("g"), "v")).foreach { df =>
        df.collect()
        val plan = df.queryExecution.executedPlan
        assert(collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
          s"the watermark is a literal filter, planned with no join:\n$plan")
      }
    }
  }
}

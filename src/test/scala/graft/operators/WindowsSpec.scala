package graft.operators

import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The single-group window key survives optimization: if Spark ever
  * constant-folded `pmod(key, 1)`, `EliminateWindowPartitions` would drop
  * it and the window would become a "No Partition Defined" window. */
class WindowsSpec extends SparkSpec {

  test("singleGroupKey: WindowExec keeps a non-empty partitionSpec; one group") {
    val ranked = spark.range(0, 50).select((col("id") * 7 % 50).as("id"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(Windows.singleGroupKey(col("id"))).orderBy("id")))
    val windows = ranked.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(windows.size === 1, ranked.queryExecution.sparkPlan.toString)
    assert(windows.head.partitionSpec.nonEmpty,
      s"the key was folded away:\n${ranked.queryExecution.sparkPlan}")
    // every row lands in the one group: ranks are 1..50 in id order
    val got = ranked.orderBy("id").select("rank").collect().map(_.getInt(0)).toSeq
    assert(got === (1 to 50))
  }
}

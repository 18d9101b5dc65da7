package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.Envelope
import graft.operators.ChangeHistory
import graft.sources.ReplayDecode
import graft.wal.{FrameFile, PgOutput, PgOutputEncoder => E}

/** Known engine defect, recorded as expected failures: an UPDATE whose
  * columns arrive as UNCHANGED ('u', an unchanged out-of-line TOAST value)
  * loses those columns when the row was inserted earlier in the SAME
  * batch. The merge keeps a 'u' column from the pre-batch row only, so a
  * row that has no pre-batch version gets NULL instead of the value the
  * batch itself inserted. Both CDC workloads therefore send full-row
  * UPDATEs; a TOAST-shaped workload waits for the fix.
  *
  * `pendingUntilFixed` reports these as pending while the defect stands
  * and fails them once it is fixed, so the fix cannot land unnoticed. */
class ToastDefectSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val rel = PgOutput.RelationMeta(1, "public", "t", Vector(
    PgOutput.RelationColumn("id", 20, -1, 1),
    PgOutput.RelationColumn("name", 1043, -1, 0),
    PgOutput.RelationColumn("price", 1700, ((12 << 16) | 2) + 4, 0),
    PgOutput.RelationColumn("qty", 23, -1, 0)))

  /** One transaction: INSERT id=1 ('a', 1.00, 5), then UPDATE id=1 to
    * name 'b' with price and qty sent as UNCHANGED cells. */
  private def typedBatch() = {
    val frames = Seq(
      E.relation(rel), E.begin(),
      E.insert(1, Seq(Some("1"), Some("a"), Some("1.00"), Some("5"))),
      E.update(1, Seq(Some("1"), Some("b"), None, None), unchanged = Set(2, 3)),
      E.commit()).zipWithIndex.map { case (f, i) => (100L + 10 * i, f) }
    val path = Files.createTempDirectory("toast").resolve("wal.frames").toString
    FrameFile.write(path, frames)
    Envelope.typedView(ReplayDecode.batchDf(spark, path), rel)
  }

  test("applyChanges keeps UNCHANGED columns of a row inserted in the same batch") {
    val typed = typedBatch()
    pendingUntilFixed {
      val rows = Envelope.applyChanges(Envelope.emptyFor(spark, rel), typed, Seq("id"))
        .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getDecimal(2)).map(_.toPlainString),
          Option(r.get(3)))).toSeq
      assert(rows === Seq((1L, "b", Some("1.00"), Some(5))))
    }
  }

  test("maintainAggView keeps the UNCHANGED value of a row inserted in the same batch") {
    val typed = typedBatch()
    pendingUntilFixed {
      val view = ChangeHistory.maintainAggView(None, Envelope.emptyFor(spark, rel), typed,
        Seq("id"), Seq("name"), "qty")
      val rows = view.select("name", "n_rows", "n_val", "sum_val").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(rows === Seq(("b", 1L, 1L, 5L)))
    }
  }
}

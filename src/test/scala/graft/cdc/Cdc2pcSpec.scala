package graft.cdc

import java.nio.file.Files

import graft.SparkSpec
import graft.wal.{FrameFile, PgOutput, PgOutputEncoder}

/** pgoutput v3 two-phase commit through the REPLAY source (r16; VERDICT
  * r15 next #4): a prepared transaction's content (b..P) buffers and is
  * delivered ONLY at COMMIT PREPARED ('K') — whole, never split — or
  * discarded at ROLLBACK PREPARED ('r'); batch boundaries may land
  * inside the prepared-UNDECIDED window (the next batch re-reads from
  * the transaction's 'b' frame and rebuilds the buffer), and a
  * kill-resume across that window neither loses nor duplicates the
  * transaction. */
class Cdc2pcSpec extends SparkSpec {

  import PgOutput._

  private val rel = RelationMeta(1, "public", "accounts", Vector(
    RelationColumn("id", 20, -1, 0), RelationColumn("name", 1043, -1, 0)))

  private val e = PgOutputEncoder

  /** relation; prepared tx (xid 900, commits); interleaved v1 tx;
    * prepared tx (xid 901, rolls back); decisions; singleton. */
  private def writeFixture(): String = {
    val frames: Seq[Array[Byte]] = Seq(
      e.relation(rel), // 100
      e.beginPrepare(900, "gid-commit"), // 101
      e.insert(1, Seq(Some("1"), Some("a"))), // 102
      e.insert(1, Seq(Some("2"), Some("b"))), // 103
      e.prepare(900, "gid-commit"), // 104
      e.begin(), // 105: a v1 tx decided INSIDE the undecided window
      e.insert(1, Seq(Some("3"), Some("c"))), // 106
      e.commit(), // 107
      e.beginPrepare(901, "gid-abort"), // 108
      e.insert(1, Seq(Some("4"), Some("d"))), // 109
      e.prepare(901, "gid-abort"), // 110
      e.commitPrepared(900, "gid-commit"), // 111
      e.rollbackPrepared(901, "gid-abort"), // 112
      e.insert(1, Seq(Some("5"), Some("e"))) // 113: singleton
    )
    val path = Files.createTempDirectory("cdc-2pc").resolve("wal0.frames").toString
    FrameFile.write(path, frames.zipWithIndex.map { case (f, i) => (100L + i, f) })
    path
  }

  test("batch replay: deliver at K with the b frame's xid; rollback discards") {
    val env = graft.sources.ReplayDecode.batchDf(spark, writeFixture())
      .orderBy("lsn").collect()
    assert(env.map(r => (r.getAs[Long]("lsn"), r.getAs[Long]("txid"))).toSeq ===
      Seq((102L, 900L), (103L, 900L), (106L, 105L), (113L, 113L)))
    // the rolled-back prepared insert (lsn 109) never surfaces
    assert(!env.exists(_.getAs[Long]("lsn") == 109L))
  }

  test("streaming replay: the undecided window cuts are legal; delivery waits for K") {
    val path = writeFixture()
    val ckpt = Files.createTempDirectory("ckpt-2pc").toString
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    val q = spark.readStream.format("pgcdc-replay")
      .option("path", path).option("maxFramesPerTrigger", 3).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val ls = df.collect().map(_.getAs[Long]("lsn")).toSeq.sorted
        batches.synchronized { batches += ls }; ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val nonEmpty = batches.synchronized(batches.filter(_.nonEmpty).toVector)
    // the interleaved v1 tx (lsn 106) arrives in an EARLIER batch than
    // the prepared tx's rows (102, 103) — delivery happens at the
    // decision frame, and the undecided window legally spans batches
    val b106 = nonEmpty.indexWhere(_.contains(106L))
    val b102 = nonEmpty.indexWhere(_.contains(102L))
    assert(b106 >= 0 && b102 > b106, s"batches=$nonEmpty")
    // the prepared tx is never split and the rollback never surfaces
    assert(nonEmpty(b102).filter(Set(102L, 103L)) === Seq(102L, 103L))
    assert(nonEmpty.flatten.toSet === Set(102L, 103L, 106L, 113L))
  }

  test("kill-resume across the prepared-undecided window: no loss, no tx split") {
    val path = writeFixture()
    val ckpt = Files.createTempDirectory("ckpt-2pc-kill").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def stream(trigger: org.apache.spark.sql.streaming.Trigger) =
      spark.readStream.format("pgcdc-replay")
        .option("path", path).option("maxFramesPerTrigger", 3).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized { seen ++= df.collect().map(_.getAs[Long]("lsn")) }; ()
        }
        .trigger(trigger).start()
    // kill after the interleaved tx lands — the checkpoint then sits
    // INSIDE gid-commit's prepared-undecided window (content consumed,
    // decision not yet)
    val q1 = stream(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
    val deadline = System.currentTimeMillis() + 60000
    while (!seen.synchronized(seen.contains(106L)) &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    q1.stop()
    val atKill = seen.synchronized(seen.toSet)
    assert(atKill.contains(106L) && !atKill.contains(102L),
      s"kill point not inside the undecided window: $atKill")
    val q2 = stream(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q2.awaitTermination(60000)
    val all = seen.synchronized(seen.toSeq)
    assert(all.toSet === Set(102L, 103L, 106L, 113L), s"lsns=$all")
    // the prepared tx delivered exactly once, whole (both rows together)
    assert(all.count(_ == 102L) === 1 && all.count(_ == 103L) === 1)
  }

  test("streamed tx resolved by STREAM PREPARE delivers at its COMMIT PREPARED") {
    val frames: Seq[Array[Byte]] = Seq(
      e.relation(rel), // 200
      e.streamStart(700), // 201
      e.streamed(700, e.insert(1, Seq(Some("20"), Some("x")))), // 202
      e.streamStop(), // 203
      e.streamPrepare(700, "gid-stream"), // 204
      e.insert(1, Seq(Some("21"), Some("y"))), // 205: singleton inside the window
      e.commitPrepared(700, "gid-stream") // 206
    )
    val path = Files.createTempDirectory("cdc-2pc-sp").resolve("wal0.frames").toString
    FrameFile.write(path, frames.zipWithIndex.map { case (f, i) => (200L + i, f) })
    val env = graft.sources.ReplayDecode.batchDf(spark, path)
      .orderBy("lsn").collect()
    assert(env.map(r => (r.getAs[Long]("lsn"), r.getAs[Long]("txid"))).toSeq ===
      Seq((202L, 700L), (205L, 205L)))
  }
}

package graft.cdc

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.sources.ReplayDecode
import graft.wal.{FrameFile, PgOutput, PgOutputEncoder}

/** End-to-end CDC slice (SURVEY.md §7.2): encoded pgoutput frames →
  * frame file → batch/streaming replay → envelope → typed view →
  * apply-changes materialization. */
class CdcReplaySpec extends SparkSpec {

  import PgOutput._

  private val rel = RelationMeta(1, "public", "accounts", Vector(
    RelationColumn("id", 20, -1, 0), // int8
    RelationColumn("name", 1043, -1, 0), // varchar
    RelationColumn("active", 16, -1, 0), // bool
    RelationColumn("balance", 1700, ((12 << 16) | 2) + 4, 0), // numeric(12,2)
    RelationColumn("tags", 1009, -1, 0))) // text[]

  /** tx1: insert 2 rows; tx2: update row 1 (with old tuple), delete row 2;
    * plus one out-of-tx singleton insert (reference's CdcEngine.java:125-127). */
  private def writeFixture(): String = {
    val e = PgOutputEncoder
    val frames: Seq[Array[Byte]] = Seq(
      e.relation(rel),
      e.begin(),
      e.insert(1, Seq(Some("1"), Some("alice"), Some("t"), Some("10.50"), Some("{a,b}"))),
      e.insert(1, Seq(Some("2"), Some("bob"), Some("f"), None, Some("{}"))),
      e.commit(),
      e.begin(),
      e.update(1, Seq(Some("1"), Some("alice2"), Some("t"), Some("99.99"), Some("{c}")),
        old = Some(('O', Seq(Some("1"), Some("alice"), Some("t"), Some("10.50"), Some("{a,b}"))))),
      e.delete(1, Seq(Some("2"), None, None, None, None)),
      e.commit(),
      e.insert(1, Seq(Some("3"), Some("carol"), Some("f"), Some("0.01"), Some("{x,\"y z\"}"))))
    val path = Files.createTempDirectory("cdc").resolve("wal0.frames").toString
    FrameFile.write(path, frames.zipWithIndex.map { case (f, i) => (100L + i, f) })
    path
  }

  test("batch replay produces the envelope with tx scoping") {
    val path = writeFixture()
    val env = ReplayDecode.batchDf(spark, path)
    val rows = env.orderBy("lsn").collect()
    assert(rows.length === 5)
    assert(rows.map(_.getAs[String]("op")).toSeq === Seq("I", "I", "U", "D", "I"))
    // tx1 = lsn of first BEGIN (101), tx2 = 105, singleton txid = own lsn (109)
    assert(rows.map(_.getAs[Long]("txid")).toSeq === Seq(101L, 101L, 105L, 105L, 109L))
    // NULL vs present: bob's balance is NULL
    val bob = rows(1)
    assert(bob.getAs[Seq[String]]("nulls") === Seq("balance"))
    // UPDATE before-image retained
    val upd = rows(2)
    assert(upd.getAs[Map[String, String]]("before")("name") === "alice")
  }

  test("typed view casts per relation metadata (bool 't', numeric, arrays)") {
    val path = writeFixture()
    val env = ReplayDecode.batchDf(spark, path)
    val typed = Envelope.typedView(env, rel).orderBy("lsn")
    val rows = typed.collect()
    assert(typed.schema("id").dataType.typeName === "long")
    assert(typed.schema("balance").dataType.typeName === "decimal(12,2)")
    val alice = rows(0)
    assert(alice.getAs[Long]("id") === 1L)
    assert(alice.getAs[Boolean]("active") === true)
    assert(alice.getAs[java.math.BigDecimal]("balance").toPlainString === "10.50")
    assert(alice.getAs[Seq[String]]("tags") === Seq("a", "b"))
    val bob = rows(1)
    assert(bob.getAs[Boolean]("active") === false)
    assert(bob.getAs[java.math.BigDecimal]("balance") === null)
    assert(bob.getAs[Seq[String]]("tags") === Seq.empty)
    val carol = rows(4)
    assert(carol.getAs[Seq[String]]("tags") === Seq("x", "y z"))
  }

  test("apply-changes materializes I/U/D into current state (idempotent merge)") {
    val path = writeFixture()
    val env = ReplayDecode.batchDf(spark, path)
    val typed = Envelope.typedView(env, rel)
    import spark.implicits._
    val current = Seq.empty[(Long, String, Boolean)].toDF("id", "name", "active")
      .withColumn("balance", lit(null).cast("decimal(12,2)"))
      .withColumn("tags", lit(null).cast("array<string>"))
      .select("id", "name", "active", "balance", "tags")
    val state = Envelope.applyChanges(current, typed, Seq("id"))
      .orderBy("id").collect()
    // row 1 upserted to alice2, row 2 deleted, row 3 inserted
    assert(state.map(_.getAs[Long]("id")).toSeq === Seq(1L, 3L))
    assert(state(0).getAs[String]("name") === "alice2")
    assert(state(1).getAs[String]("name") === "carol")
    // re-applying the same changes is a no-op (at-least-once tolerance)
    val again = Envelope.applyChanges(
      spark.createDataFrame(spark.sparkContext.parallelize(state.toSeq), current.schema),
      typed, Seq("id")).orderBy("id").collect()
    assert(again.map(_.getAs[String]("name")).toSeq === Seq("alice2", "carol"))
  }

  test("TRUNCATE e2e: op='T' surfaces in the envelope and applyChanges wipes the table") {
    import spark.implicits._
    val e = PgOutputEncoder
    // pre-truncate insert, TRUNCATE, post-truncate insert — all one stream
    val frames: Seq[Array[Byte]] = Seq(
      e.relation(rel),
      e.begin(),
      e.insert(1, Seq(Some("10"), Some("doomed"), Some("t"), None, None)),
      e.commit(),
      e.begin(),
      e.truncate(Seq(1)),
      e.commit(),
      e.begin(),
      e.insert(1, Seq(Some("11"), Some("phoenix"), Some("t"), None, None)),
      e.commit())
    val path = Files.createTempDirectory("cdc-trunc").resolve("wal0.frames").toString
    FrameFile.write(path, frames.zipWithIndex.map { case (f, i) => (200L + i, f) })
    val env = ReplayDecode.batchDf(spark, path)
    // the marker surfaces: op='T' for the relation, no cells
    val t = env.filter(col("op") === "T").collect()
    assert(t.length === 1)
    assert(t(0).getAs[String]("table") === "accounts")
    assert(t(0).getAs[Map[String, String]]("columns").isEmpty)

    val typed = Envelope.typedView(env, rel)
    val current = Seq((1L, "pre-existing", true)).toDF("id", "name", "active")
      .withColumn("balance", lit(null).cast("decimal(12,2)"))
      .withColumn("tags", lit(null).cast("array<string>"))
      .select("id", "name", "active", "balance", "tags")
    val state = Envelope.applyChanges(current, typed, Seq("id")).orderBy("id").collect()
    // pre-existing row AND the pre-truncate insert are wiped; only the
    // post-truncate insert survives
    assert(state.map(_.getAs[Long]("id")).toSeq === Seq(11L))
    assert(state(0).getAs[String]("name") === "phoenix")

    // a batch whose LAST change is the truncate serves zero rows
    val uptoTrunc = Envelope.applyChanges(current,
      typed.filter(col("lsn") <= 205L), Seq("id")).collect()
    assert(uptoTrunc.isEmpty)

    // and a batch with NO truncate is unaffected by the new watermark path
    val noTrunc = Envelope.applyChanges(current,
      typed.filter(col("op") =!= "T" && col("lsn") < 205L), Seq("id"))
      .orderBy("id").collect()
    assert(noTrunc.map(_.getAs[Long]("id")).toSeq === Seq(1L, 10L))
  }

  test("a post-truncate insert sharing the truncate frame's LSN survives the wipe") {
    // LSNs repeat across consecutive pgoutput frames (ADVICE r8): the
    // truncate watermark must order by (lsn, seq), not strict lsn — a
    // strictly-lsn filter silently drops the equal-LSN insert.
    import spark.implicits._
    val e = PgOutputEncoder
    val frames: Seq[(Long, Array[Byte])] = Seq(
      (300L, e.relation(rel)),
      (301L, e.begin()),
      (301L, e.insert(1, Seq(Some("1"), Some("doomed"), Some("t"), None, None))),
      (305L, e.truncate(Seq(1))), // seq 0 at 305
      (305L, e.insert(1, Seq(Some("2"), Some("phoenix"), Some("t"), None, None))), // seq 1 at 305
      (305L, e.commit()))
    val recs = ReplayDecode.decode(frames.toVector, 0, frames.size).toVector
    assert(recs.filter(_.lsn == 305L).map(r => (r.op, r.seq)) ===
      Vector(("T", 0L), ("I", 1L)))
    val env = spark.createDataFrame(
      spark.sparkContext.parallelize(recs.map(r => org.apache.spark.sql.Row(
        r.op, r.lsn, r.txid, r.schema, r.table, r.columns, r.nulls, r.before, r.seq))),
      Envelope.schema)
    val typed = Envelope.typedView(env, rel)
    val current = Seq((9L, "pre-existing", true)).toDF("id", "name", "active")
      .withColumn("balance", lit(null).cast("decimal(12,2)"))
      .withColumn("tags", lit(null).cast("array<string>"))
      .select("id", "name", "active", "balance", "tags")
    val state = Envelope.applyChanges(current, typed, Seq("id")).orderBy("id").collect()
    assert(state.map(_.getAs[Long]("id")).toSeq === Seq(2L))
    assert(state(0).getAs[String]("name") === "phoenix")
  }

  test("logical decoding messages ('M') surface as op='M' envelope rows") {
    val e = PgOutputEncoder
    val frames: Seq[Array[Byte]] = Seq(
      e.relation(rel),
      e.begin(), // lsn 101 → txid of the enclosing tx
      e.insert(1, Seq(Some("1"), Some("a"), Some("t"), None, None)),
      e.logicalMessage("fence", Array[Byte](1, 2, -1), msgLsn = 55L), // transactional
      e.commit(),
      e.logicalMessage("tick", "t0".getBytes, transactional = false), // standalone, lsn 105
      // a streamed tx that aborts: its transactional message must vanish
      e.streamStart(700),
      e.streamed(700, e.logicalMessage("doomed", "x".getBytes)),
      e.streamStop(),
      e.streamAbort(700, 700))
    val path = Files.createTempDirectory("cdc-msg").resolve("wal0.frames").toString
    FrameFile.write(path, frames.zipWithIndex.map { case (f, i) => (100L + i, f) })
    val env = ReplayDecode.batchDf(spark, path)
    val msgs = Envelope.messages(env).orderBy("lsn").collect()
    assert(msgs.length === 2) // fence + tick; "doomed" discarded by the abort
    val fence = msgs(0)
    assert(fence.getAs[Long]("txid") === 101L) // scoped to its tx
    assert(fence.getAs[Boolean]("transactional"))
    assert(fence.getAs[Long]("message_lsn") === 55L)
    assert(fence.getAs[String]("prefix") === "fence")
    assert(fence.getAs[Array[Byte]]("content").toSeq === Seq[Byte](1, 2, -1)) // binary survives base64
    val tick = msgs(1)
    assert(!tick.getAs[Boolean]("transactional"))
    assert(tick.getAs[Long]("txid") === tick.getAs[Long]("lsn")) // standalone
    assert(new String(tick.getAs[Array[Byte]]("content")) === "t0")
    // relation-typed views never see message rows (schema/table are empty)
    assert(Envelope.typedView(env, rel).filter(col("op") === "M").count() === 0)
  }

  test("proto v2: interleaved streamed txns assemble at commit; aborts discard; batches never split") {
    val e = PgOutputEncoder
    val frames: Seq[Array[Byte]] = Seq(
      e.relation(rel), // 300
      e.streamStart(500), // 301: tx 500, segment 1
      e.streamed(500, e.insert(1, Seq(Some("20"), Some("s-a"), Some("t"), None, None))), // 302
      e.streamed(505, e.insert(1, Seq(Some("22"), Some("sub"), Some("t"), None, None))), // 303: subxact 505
      e.streamStop(), // 304
      e.streamStart(600), // 305: tx 600 interleaves
      e.streamed(600, e.insert(1, Seq(Some("30"), Some("doomed"), Some("t"), None, None))), // 306
      e.streamStop(), // 307
      e.streamStart(500, firstSegment = false), // 308: tx 500, segment 2
      e.streamed(500, e.insert(1, Seq(Some("21"), Some("s-b"), Some("t"), None, None))), // 309
      e.streamStop(), // 310
      e.streamAbort(500, 505), // 311: subxact abort — only row 22 dies
      e.streamCommit(500), // 312: rows 20, 21 emit, txid 500
      e.streamAbort(600, 600)) // 313: whole-tx abort — row 30 dies
    val path = Files.createTempDirectory("cdc-v2").resolve("wal0.frames").toString
    FrameFile.write(path, frames.zipWithIndex.map { case (f, i) => (300L + i, f) })

    // batch decode: only tx 500's surviving rows, tagged with the real xid
    val rows = ReplayDecode.batchDf(spark, path).orderBy("lsn").collect()
    assert(rows.map(r => (r.getAs[String]("op"),
      r.getAs[Map[String, String]]("columns")("id"), r.getAs[Long]("txid"))).toSeq ===
      Seq(("I", "20", 500L), ("I", "21", 500L)))

    // streaming replay with a tiny trigger: batch boundaries must not
    // split the streamed block (all records arrive in ONE batch)
    val ckpt = Files.createTempDirectory("ckpt-v2").toString
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val q = spark.readStream.format("pgcdc-replay")
      .option("path", path).option("maxFramesPerTrigger", "3").load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = df.collect().map(_.getAs[Map[String, String]]("columns")("id")).toSeq
        if (ids.nonEmpty) batches.synchronized { batches += ids }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000))
    assert(batches.synchronized(batches.toSeq) === Seq(Seq("20", "21")))
  }

  test("apply-changes preserves UNCHANGED/TOAST columns instead of nulling them") {
    val e = PgOutputEncoder
    val frames: Seq[Array[Byte]] = Seq(
      e.relation(rel),
      e.begin(),
      e.insert(1, Seq(Some("1"), Some("alice"), Some("t"), Some("10.50"), Some("{a,b}"))),
      e.commit(),
      e.begin(),
      // name changes; balance (3) and tags (4) are TOAST-unchanged 'u' cells
      e.update(1, Seq(Some("1"), Some("alice2"), Some("t"), None, None), unchanged = Set(3, 4)),
      e.commit())
    val path = Files.createTempDirectory("cdc-toast").resolve("wal0.frames").toString
    FrameFile.write(path, frames.zipWithIndex.map { case (f, i) => (100L + i, f) })
    val typed = Envelope.typedView(ReplayDecode.batchDf(spark, path), rel)
    import spark.implicits._
    val empty = Seq.empty[(Long, String, Boolean)].toDF("id", "name", "active")
      .withColumn("balance", lit(null).cast("decimal(12,2)"))
      .withColumn("tags", lit(null).cast("array<string>"))
      .select("id", "name", "active", "balance", "tags")
    // two micro-batches: the insert lands first, then the TOASTy update
    val afterInsert = Envelope.applyChanges(empty, typed.filter(col("op") === "I"), Seq("id"))
    val afterUpdate = Envelope.applyChanges(afterInsert, typed.filter(col("op") === "U"), Seq("id"))
      .collect()
    assert(afterUpdate.length === 1)
    val row = afterUpdate(0)
    assert(row.getAs[String]("name") === "alice2") // changed column applied
    // unchanged TOAST columns keep their current-state values (the reference
    // omits 'u' columns from the record for exactly this reason)
    assert(row.getAs[java.math.BigDecimal]("balance").toPlainString === "10.50")
    assert(row.getAs[Seq[String]]("tags") === Seq("a", "b"))
  }

  test("mid-stream schema drift: RELATION v2 (column added) across a micro-batch boundary") {
    val e = PgOutputEncoder
    val relV1 = RelationMeta(1, "public", "people", Vector(
      RelationColumn("id", 20, -1, 0), RelationColumn("name", 1043, -1, 0)))
    val relV2 = RelationMeta(1, "public", "people", Vector(
      RelationColumn("id", 20, -1, 0), RelationColumn("name", 1043, -1, 0),
      RelationColumn("age", 23, -1, 0)))
    val frames: Seq[Array[Byte]] = Seq(
      e.relation(relV1),
      e.begin(),
      e.insert(1, Seq(Some("1"), Some("ann"))),
      e.commit(),
      e.relation(relV2), // schema drift mid-stream
      e.begin(),
      e.insert(1, Seq(Some("2"), Some("ben"), Some("30"))),
      e.update(1, Seq(Some("2"), Some("ben2"), None), unchanged = Set(2)),
      e.commit())
    val path = Files.createTempDirectory("cdc-drift").resolve("wal0.frames").toString
    FrameFile.write(path, frames.zipWithIndex.map { case (f, i) => (100L + i, f) })

    // stream with a small trigger budget so v1 DML and v2 DML land in
    // DIFFERENT micro-batches (the drift risk in SURVEY §7.3.2)
    val ckpt = Files.createTempDirectory("ckpt-drift").toString
    val envBatches = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = spark.readStream.format("pgcdc-replay")
      .option("path", path).option("maxFramesPerTrigger", 3).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        envBatches.synchronized { envBatches ++= df.collect() }; ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(envBatches.length === 3)

    // typed view re-resolves under the v2 relation: pre-drift rows surface
    // NULL for the added column; post-drift rows carry it
    val env = spark.createDataFrame(
      spark.sparkContext.parallelize(envBatches.toSeq), Envelope.schema)
    val typed = Envelope.typedView(env, relV2).orderBy("lsn").collect()
    assert(typed.length === 3)
    assert(typed(0).getAs[String]("name") === "ann")
    assert(typed(0).isNullAt(typed(0).fieldIndex("age"))) // v1 row: no such cell
    assert(typed(1).getAs[Int]("age") === 30)
    // the update's 'u' (TOAST/unchanged) age cell is flagged, not NULLed
    assert(typed(2).getAs[String]("name") === "ben2")
    assert(typed(2).getAs[Seq[String]](Envelope.UnchangedCol) === Seq("age"))
  }

  test("mid-stream kill + resume: no loss, no re-delivery (checkpoint recovery)") {
    val path = writeFixture()
    val ckpt = Files.createTempDirectory("ckpt-kill").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long] // lsns

    def stream(trigger: org.apache.spark.sql.streaming.Trigger) =
      spark.readStream.format("pgcdc-replay")
        .option("path", path).option("maxFramesPerTrigger", 3).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized { seen ++= df.collect().map(_.getAs[Long]("lsn")) }; ()
        }
        .trigger(trigger).start()

    // kill after the first rate-limited batch lands (Trigger.Once would
    // ignore the read limit and swallow the whole stream)
    val q1 = stream(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
    val deadline = System.currentTimeMillis() + 60000
    while (seen.synchronized(seen.isEmpty) && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    q1.stop()
    val killBatch = seen.synchronized(seen.toSet)
    assert(killBatch.nonEmpty && killBatch.size < 5, s"kill point saw $killBatch")
    // resume from checkpoint to completion
    val q2 = stream(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q2.awaitTermination(60000)
    val all = seen.synchronized(seen.toSeq)
    // at-least-once contract (SURVEY §7.3.1): nothing lost...
    assert(all.toSet === Set(102L, 103L, 106L, 107L, 109L), s"lsns=$all")
    // ...and any redelivery is confined to the batch in flight at the kill
    // (the checkpoint's offset log had not committed it); the idempotent
    // apply-changes MERGE makes this exactly-once at the table level
    val dups = all.groupBy(identity).collect { case (l, occ) if occ.size > 1 => l }
    assert(dups.toSet.subsetOf(killBatch), s"unexpected redelivery: $dups")
  }

  test("opt-in mid-tx overflow flush: oversized tx splits across batches, kill-resume loses nothing") {
    // one 8-row transaction: far over maxFramesPerTrigger=3, so atomic
    // mode would ship it whole; overflow mode must cut mid-tx (the
    // reference's maxBatchSize flush, CdcEngine.java:121-124)
    val e = PgOutputEncoder
    val n = 8
    val frames: Seq[Array[Byte]] =
      Seq(e.relation(rel), e.begin()) ++
        (1 to n).map(i => e.insert(1, Seq(Some(i.toString), Some(s"u$i"), Some("t"), None, Some("{}")))) ++
        Seq(e.commit())
    val path = Files.createTempDirectory("cdc-ovf").resolve("wal0.frames").toString
    FrameFile.write(path, frames.zipWithIndex.map { case (f, i) => (100L + i, f) })
    val ckpt = Files.createTempDirectory("ckpt-ovf").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (lsn, txid)
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Int]

    def stream(trigger: org.apache.spark.sql.streaming.Trigger) =
      spark.readStream.format("pgcdc-replay")
        .option("path", path).option("maxFramesPerTrigger", 3)
        .option("allowMidTxFlush", "true").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.collect()
          seen.synchronized {
            seen ++= rows.map(r => (r.getAs[Long]("lsn"), r.getAs[Long]("txid")))
            if (rows.nonEmpty) batchSizes += rows.length
          }
          ()
        }
        .trigger(trigger).start()

    // kill after the first rate-limited batch, then resume to completion
    val q1 = stream(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
    val deadline = System.currentTimeMillis() + 60000
    while (seen.synchronized(seen.isEmpty) && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    q1.stop()
    val killBatch = seen.synchronized(seen.map(_._1).toSet)
    assert(killBatch.nonEmpty && killBatch.size < n, s"kill point saw $killBatch")
    val q2 = stream(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q2.awaitTermination(60000)

    val all = seen.synchronized(seen.toVector)
    // bounded memory: the tx really was flushed mid-stream in >1 batch
    assert(batchSizes.length > 1, s"expected an overflow split, got batches $batchSizes")
    // at-least-once: every row of the tx arrives; redelivery confined to
    // the in-flight kill batch (idempotent applyChanges absorbs it)
    assert(all.map(_._1).toSet === (102L until 102L + n).toSet, s"lsns=$all")
    val dups = all.map(_._1).groupBy(identity).collect { case (l, occ) if occ.size > 1 => l }
    assert(dups.toSet.subsetOf(killBatch), s"unexpected redelivery: $dups")
    // txid scoping survives the mid-tx cut: every record carries the
    // transaction's BEGIN lsn (the next batch is seeded with the open txid)
    assert(all.map(_._2).distinct === Vector(101L))
  }

  test("streaming apply-changes: envelope stream materializes current state (the reference's consumer loop)") {
    val path = writeFixture()
    val ckpt = Files.createTempDirectory("ckpt-apply").toString
    import spark.implicits._
    var state = Seq.empty[(Long, String)].toDF("id", "name")
    val q = spark.readStream.format("pgcdc-replay")
      .option("path", path).option("maxFramesPerTrigger", 4).load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        // per micro-batch MERGE — the foreachBatch analogue of
        // CdcConsumer.handleBatch applying each tx-atomic batch
        val typed = Envelope.typedView(df, rel).select("op", "lsn", "txid", "id", "name")
        state = Envelope.applyChanges(state, typed, Seq("id"))
        state = spark.createDataFrame(
          spark.sparkContext.parallelize(state.collect().toSeq), state.schema)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val finalState = state.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(finalState.toSeq === Seq((1L, "alice2"), (3L, "carol")))
  }

  test("streaming replay: tx-atomic micro-batches + restart from checkpoint") {
    val path = writeFixture()
    val ckpt = Files.createTempDirectory("ckpt").toString
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (batchId, rows)
    val txidsPerBatch = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]

    def run(): Unit = {
      val q = spark.readStream.format("pgcdc-replay")
        .option("path", path)
        .option("maxFramesPerTrigger", 3) // forces multiple batches
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          val rows = df.collect()
          if (rows.nonEmpty) {
            batches += ((id, rows.length.toLong))
            txidsPerBatch += rows.map(_.getAs[Long]("txid")).toSet
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      ()
    }
    run()
    val totalRows = batches.map(_._2).sum
    assert(totalRows === 5, s"got batches $batches")
    assert(batches.length >= 2, "maxFramesPerTrigger=3 should split into multiple batches")
    // tx atomicity: no txid may appear in two different micro-batches
    val all = txidsPerBatch.flatten
    assert(all.size === all.toSet.size, s"tx straddled batches: $txidsPerBatch")
    // restart: nothing new to process
    run()
    assert(batches.map(_._2).sum === 5, "restart must not re-deliver committed offsets")
  }
}

package graft.wal

import java.nio.ByteBuffer

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.Envelope
import graft.sources.ReplayDecode

/** Conformance against the checked-in GOLDEN frame file
  * (`src/test/resources/golden_pgoutput.bin`), assembled byte-by-byte
  * from the PostgreSQL protocol documentation by an INDEPENDENT
  * generator (`tools/make_golden_fixtures.py`) — not by PgOutputEncoder,
  * so encoder/decoder bugs can't cancel out (VERDICT r7 #6). The golden
  * frames carry the FULL real-server bodies the test encoder never
  * writes: BEGIN's (lsn, ts, xid), COMMIT's (flags, lsn, lsn, ts),
  * TYPE/ORIGIN payloads, stream-commit timestamps — a decoder that
  * accidentally consumed past a tag byte passes the encoder round-trip
  * and fails here. */
class GoldenFrameSpec extends SparkSpec {

  import PgOutput._

  private def goldenBytes: Array[Byte] = {
    val in = getClass.getResourceAsStream("/golden_pgoutput.bin")
    try in.readAllBytes() finally in.close()
  }

  test("golden frames decode message-by-message (multi-relation, TOAST, arrays, v2, truncate, 2PC)") {
    val frames = FrameFile.read(goldenBytes)
    assert(frames.size === 53)
    val d = new PgOutputDecoder
    val msgs = frames.map { case (_, b) => d.decode(ByteBuffer.wrap(b)) }

    // relations register with names, type OIDs, typmods, key flags
    val Some(Relation(widgets)) = msgs(0)
    assert(widgets.id === 5001 && widgets.schema === "public" && widgets.table === "widgets")
    assert(widgets.columns.map(c => (c.name, c.typeOid)) ===
      Vector(("id", 20), ("price", 1700), ("tags", 1009), ("note", 25), ("flag", 16)))
    assert(widgets.columns(1).typeMod === ((10 << 16) | 2) + 4) // numeric(10,2)
    assert(widgets.columns(0).flags === 1) // replica-identity key bit
    val Some(Relation(gadgets)) = msgs(1)
    assert(gadgets.id === 5002 && gadgets.columns.map(_.name) === Vector("id", "payload"))

    // TYPE and ORIGIN: decoded with their full real bodies (the
    // reference drops both; surfaced since r9)
    assert(msgs(2) === Some(TypeMessage(600001, "public", "mood")))
    assert(msgs(3) === Some(OriginMessage(0x01000000L, "origin_node_1")))

    // the real 17-byte BEGIN body must not leak into the next read
    assert(msgs(4) === Some(Begin))
    val Some(Change('I', wMeta, wCells, _)) = msgs(5)
    assert(wMeta.table === "widgets")
    assert(wCells("price") === Some("19.99"))
    assert(wCells("tags") === Some("""{"a b","c\"d","e\\f"}"""))
    val Some(Change('I', gMeta, gCells, _)) = msgs(6)
    assert(gMeta.table === "gadgets" && gCells("payload") === Some("B" * 64))
    // TOASTed UPDATE: 'u' cell OMITTED from the new image, before-image kept
    val Some(Change('U', _, uCells, uBefore)) = msgs(7)
    assert(uCells === Map("id" -> Some("7")) && !uCells.contains("payload"))
    assert(uBefore("payload") === Some("B" * 64))
    // key-only DELETE ('K'): non-key column rides as NULL
    val Some(Change('D', _, dCells, _)) = msgs(8)
    assert(dCells === Map("id" -> Some("7"), "payload" -> None))
    assert(msgs(9) === Some(Commit)) // 26-byte real body ignored

    // proto v2 block: two interleaved streamed txns, one aborts
    assert(msgs(10) === Some(StreamStart(999, firstSegment = true)))
    val Some(Streamed(999, 999, Change('I', _, sCells, _))) = msgs(11)
    assert(sCells("id") === Some("2") && sCells("note") === None)
    assert(msgs(12) === Some(StreamStop))
    assert(msgs(13) === Some(StreamStart(1001, firstSegment = true)))
    val Some(Streamed(1001, 1001, Change('I', _, aCells, _))) = msgs(14)
    assert(aCells("id") === Some("3"))
    assert(msgs(15) === Some(StreamStop))
    assert(msgs(16) === Some(StreamCommit(999, 0x01000200L, 0x01000201L)))
    assert(msgs(17) === Some(StreamAbort(1001, 1001)))

    // truncate txn: both relations, CASCADE bit
    assert(msgs(18) === Some(Begin))
    val Some(Truncate(tMetas, cascade, restart)) = msgs(19)
    assert(tMetas.map(_.table) === Vector("widgets", "gadgets"))
    assert(cascade && !restart)
    assert(msgs(20) === Some(Commit))

    // logical decoding messages: transactional in-txn, standalone
    // non-transactional, streamed-then-aborted
    assert(msgs(21) === Some(Begin))
    val Some(LogicalMessage(mt, mLsn, mPrefix, mContent)) = msgs(22)
    assert(mt && mLsn === 0x01000410L && mPrefix === "golden.fence")
    assert(mContent.toSeq === Seq[Byte](0, -1, 0x7f) ++ " seq=1".getBytes("UTF-8").toSeq)
    assert(msgs(23) === Some(Commit))
    val Some(LogicalMessage(nt, _, "golden.tick", empty)) = msgs(24)
    assert(!nt && empty.isEmpty)
    assert(msgs(25) === Some(StreamStart(1500, firstSegment = true)))
    val Some(Streamed(1500, 1500, LogicalMessage(true, _, "golden.doomed", _))) = msgs(26)
    assert(msgs(27) === Some(StreamStop))
    assert(msgs(28) === Some(StreamAbort(1500, 1500)))

    // bytea relation: hex wire text decodes via the typed view (below);
    // at the frame level it is ordinary 't' cell text
    val Some(Relation(blobs)) = msgs(29)
    assert(blobs.table === "blobs" && blobs.columns.map(_.typeOid) === Vector(20, 17))
    assert(msgs(30) === Some(Begin))
    val Some(Change('I', _, bCells, _)) = msgs(31)
    assert(bCells("data") === Some("\\x00ff10ab"))
    val Some(Change('I', _, b2Cells, _)) = msgs(32)
    assert(b2Cells("data") === None)
    assert(msgs(33) === Some(Commit))

    // bytea legacy ESCAPE format: frame text is the raw escape literal
    // (octal + doubled backslash); the typed view decodes it (below)
    assert(msgs(34) === Some(Begin))
    val Some(Change('I', _, b3Cells, _)) = msgs(35)
    assert(b3Cells("data") === Some("\\000\\\\A\\377"))
    assert(msgs(36) === Some(Commit))

    // proto v3 two-phase commit: full real bodies (LSNs, timestamps,
    // xid, gid cstring) — a decoder misreading any Int64 would corrupt
    // the gid and fail the match
    assert(msgs(37) === Some(BeginPrepare(0x01000900L, 0x01000901L, 2100,
      "golden-gid-commit")))
    val Some(Change('I', _, p1Cells, _)) = msgs(38)
    assert(p1Cells("id") === Some("10"))
    assert(msgs(39) === Some(Prepare(0x01000900L, 0x01000901L, 2100,
      "golden-gid-commit")))
    assert(msgs(40) === Some(BeginPrepare(0x01000A00L, 0x01000A01L, 2200,
      "golden-gid-abort")))
    val Some(Change('I', _, p2Cells, _)) = msgs(41)
    assert(p2Cells("id") === Some("11"))
    assert(msgs(42) === Some(Prepare(0x01000A00L, 0x01000A01L, 2200,
      "golden-gid-abort")))
    // an ordinary tx decided INSIDE the undecided window
    assert(msgs(43) === Some(Begin))
    assert(msgs(45) === Some(Commit))
    assert(msgs(46) === Some(CommitPrepared(0x01000900L, 0x01000902L, 2100,
      "golden-gid-commit")))
    assert(msgs(47) === Some(RollbackPrepared(0x01000A01L, 0x01000A02L, 2200,
      "golden-gid-abort")))
    // streamed tx resolved by STREAM PREPARE, then committed
    assert(msgs(48) === Some(StreamStart(2400, firstSegment = true)))
    val Some(Streamed(2400, 2400, Change('I', _, spCells, _))) = msgs(49)
    assert(spCells("id") === Some("12"))
    assert(msgs(50) === Some(StreamStop))
    assert(msgs(51) === Some(StreamPrepare(0x01000C00L, 0x01000C01L, 2400,
      "golden-gid-stream")))
    assert(msgs(52) === Some(CommitPrepared(0x01000C00L, 0x01000C02L, 2400,
      "golden-gid-stream")))
  }

  test("golden file end-to-end: replay -> typed view -> applyChanges") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("golden").resolve("g.frames")
    java.nio.file.Files.write(path, goldenBytes)
    val env = ReplayDecode.batchDf(spark, path.toString)
    val rows = env.orderBy("lsn").collect()
    // Y+O (catalog/origin markers, out-of-tx -> txid = own lsn), then
    // I I U D (txn 1234 -> txid = BEGIN frame lsn), streamed I (real xid
    // 999; txn 1001 aborted), T+T (truncate txn), M+M (transactional
    // fence + standalone tick; the streamed-aborted message discarded),
    // I+I (bytea txn), then the 2PC block: committed-prepared widgets
    // I (id 10, txid = the b frame's xid 2100; the rolled-back id 11
    // never surfaces), the interleaved blobs I, the stream-prepared
    // widgets I (id 12, txid 2400)
    assert(rows.map(_.getAs[String]("op")).toSeq ===
      Seq("Y", "O", "I", "I", "U", "D", "I", "T", "T", "M", "M", "I", "I", "I",
        "I", "I", "I"))
    assert(rows(6).getAs[Long]("txid") === 999L)
    assert(rows.map(_.getAs[String]("table")).toSeq ===
      Seq("", "", "widgets", "gadgets", "gadgets", "gadgets", "widgets", "widgets", "gadgets",
        "", "", "blobs", "blobs", "blobs", "widgets", "blobs", "widgets"))
    assert(rows(14).getAs[Long]("txid") === 2100L)
    assert(rows(16).getAs[Long]("txid") === 2400L)

    // typed catalog view: the Y row maps the user-type OID to its name
    val types = Envelope.types(env).collect()
    assert(types.length === 1)
    assert(types(0).getAs[Int]("type_oid") === 600001)
    assert(types(0).getAs[String]("type_schema") === "public")
    assert(types(0).getAs[String]("type_name") === "mood")

    // message view: fence scoped to its txn, tick standalone
    val msgs = Envelope.messages(env).orderBy("lsn").collect()
    assert(msgs.length === 2)
    assert(msgs(0).getAs[String]("prefix") === "golden.fence")
    assert(msgs(0).getAs[Boolean]("transactional"))
    assert(msgs(0).getAs[Long]("message_lsn") === 0x01000410L)
    assert(msgs(0).getAs[Array[Byte]]("content").take(3).toSeq === Seq[Byte](0, -1, 0x7f))
    assert(msgs(1).getAs[String]("prefix") === "golden.tick")
    assert(!msgs(1).getAs[Boolean]("transactional"))
    assert(msgs(1).getAs[Array[Byte]]("content").isEmpty)

    // bytea typed view: hex wire text -> binary, NULL preserved
    val blobs = RelationMeta(5003, "public", "blobs", Vector(
      RelationColumn("id", 20, -1, 1), RelationColumn("data", 17, -1, 0)))
    val bTyped = Envelope.typedView(env, blobs)
    assert(bTyped.schema("data").dataType.typeName === "binary")
    val b1 = bTyped.filter(col("id") === 1L).head()
    assert(b1.getAs[Array[Byte]]("data").toSeq ===
      Seq(0x00, 0xff, 0x10, 0xab).map(_.toByte))
    assert(bTyped.filter(col("id") === 2L).head().getAs[Array[Byte]]("data") === null)
    // legacy escape format decodes too: \000, doubled backslash, 'A', \377
    val b3 = bTyped.filter(col("id") === 3L).head()
    assert(b3.getAs[Array[Byte]]("data").toSeq ===
      Seq(0x00, 0x5c, 0x41, 0xff).map(_.toByte))

    val widgets = RelationMeta(5001, "public", "widgets", Vector(
      RelationColumn("id", 20, -1, 1), RelationColumn("price", 1700, ((10 << 16) | 2) + 4, 0),
      RelationColumn("tags", 1009, -1, 0), RelationColumn("note", 25, -1, 0),
      RelationColumn("flag", 16, -1, 0)))
    val typed = Envelope.typedView(env, widgets)
    assert(typed.schema("price").dataType.typeName === "decimal(10,2)")
    val w1 = typed.filter(col("id") === 1L).head()
    assert(w1.getAs[java.math.BigDecimal]("price").toPlainString === "19.99")
    assert(w1.getAs[Seq[String]]("tags") === Seq("a b", "c\"d", "e\\f"))
    assert(w1.getAs[String]("note") === "hello")
    assert(w1.getAs[Boolean]("flag") === true)
    val w2 = typed.filter(col("id") === 2L).head()
    assert(w2.getAs[java.math.BigDecimal]("price").toPlainString === "0.01")
    assert(w2.getAs[Seq[String]]("tags") === Seq.empty)
    assert(w2.getAs[String]("note") === null)

    // applyChanges conformance: the mid-stream truncate wipes the
    // earlier widgets; the later prepared-committed inserts survive it
    val empty = Seq.empty[(Long, java.math.BigDecimal)].toDF("id", "price")
      .withColumn("price", col("price").cast("decimal(10,2)"))
      .withColumn("tags", lit(null).cast("array<string>"))
      .withColumn("note", lit(null).cast("string"))
      .withColumn("flag", lit(null).cast("boolean"))
      .select("id", "price", "tags", "note", "flag")
    assert(Envelope.applyChanges(empty, typed, Seq("id"))
      .select("id").as[Long].collect().sorted.toSeq === Seq(10L, 12L))
    // ...and without the truncate, every committed insert (incl. the
    // streamed txn's, minus the aborted and rolled-back ones) materializes
    val beforeTrunc = Envelope.applyChanges(empty,
      typed.filter(col("op") =!= "T"), Seq("id"))
    assert(beforeTrunc.select("id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 10L, 12L))
  }
}

package graft.wal

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

/** pgoutput (proto_version=1) binary frame model + decoder — a pure-Scala,
  * Spark-free port of the reference's decode semantics
  * (`PgWalMessageDecoder.java:42-266`), byte layouts per FIXTURES.md §2.
  *
  * Deliberate deviations from the reference (documented in SURVEY.md §7.3):
  *  - RELATION column metadata is parsed from the message body itself
  *    (protocol-correct) instead of a JDBC `DatabaseMetaData` round-trip
  *    (`PgWalMessageDecoder.java:80-93`) — the sandbox has no live PG, and
  *    the side lookup is also a per-RELATION latency cliff;
  *  - UPDATE old/key tuples are decoded and RETAINED as `before` columns
  *    (the reference skips them, `:162-167`) — a superset, flagged in
  *    SURVEY §2.A A8;
  *  - TRUNCATE ('T') frames are DECODED into [[PgOutput.Truncate]] (the
  *    reference drops them, `:60-61`) — surfaced as envelope `op='T'`
  *    rows so applyChanges can honor the wipe (VERDICT r7 #4);
  *  - logical decoding messages ('M', `pg_logical_emit_message`) are
  *    DECODED into [[PgOutput.LogicalMessage]] (the reference drops
  *    them, `:60-61`) — surfaced as envelope `op='M'` rows so in-stream
  *    application markers arrive exactly where they were emitted.
  *
  * Faithful semantics kept: tuple sub-types `'t'` (length-prefixed UTF-8),
  * `'n'` (SQL NULL), `'u'` (UNCHANGED/TOAST → column OMITTED from the
  * record, not null — `:206-207`); unknown sub-type throws (`:208-211`);
  * DML for an unregistered relation throws (`:109-111`); unknown type
  * byte throws (`MessageType.java:30-36`). TYPE ('Y') and ORIGIN ('O')
  * frames — dropped by the reference (`:60-61`) — are DECODED into
  * [[PgOutput.TypeMessage]]/[[PgOutput.OriginMessage]] and surfaced as
  * envelope `op='Y'`/`op='O'` rows (same argument as 'T'/'M': dropped
  * frames lose consumer-relevant facts).
  */
object PgOutput {

  final case class RelationColumn(name: String, typeOid: Int, typeMod: Int, flags: Int)

  final case class RelationMeta(id: Int, schema: String, table: String,
                                columns: Vector[RelationColumn])

  /** A decoded cell: Some(text) for 't', None for SQL NULL 'n'. UNCHANGED
    * columns are absent from the map entirely. */
  type Cells = Map[String, Option[String]]

  sealed trait Message
  case object Begin extends Message
  case object Commit extends Message
  final case class Relation(meta: RelationMeta) extends Message
  final case class Change(op: Char, // 'I' | 'U' | 'D'
                          meta: RelationMeta,
                          cells: Cells,
                          before: Cells) extends Message
  /** TRUNCATE frame: the listed relations were truncated in this tx.
    * DELIBERATE DEVIATION from the reference, which drops 'T' frames
    * (`PgWalMessageDecoder.java:60-61`) — an applyChanges consumer that
    * misses a truncate serves deleted rows forever (VERDICT r7 #4). */
  final case class Truncate(metas: Vector[RelationMeta],
                            cascade: Boolean, restartIdentity: Boolean) extends Message

  /** TYPE ('Y') frame: catalog metadata for a user-defined type that a
    * later RELATION column references by OID. DELIBERATE DEVIATION from
    * the reference, which drops 'Y' frames (`PgWalMessageDecoder.java:
    * 60-61`): `Envelope.sparkTypeFor` falls back to StringType for
    * unknown OIDs, and the surfaced TYPE record is what lets a consumer
    * map that OID to its qualified name (enum/domain/composite) instead
    * of guessing. */
  final case class TypeMessage(typeOid: Int, schema: String, name: String) extends Message

  /** ORIGIN ('O') frame: in a cascaded setup, the transaction originated
    * on another replication node (name + its commit LSN there).
    * DELIBERATE DEVIATION from the reference (drops 'O', same cite): a
    * consumer filtering out re-replicated transactions — the standard
    * bidirectional-replication loop guard — needs the origin marker
    * delivered in order with the transaction it tags. */
  final case class OriginMessage(commitLsn: Long, name: String) extends Message

  /** Logical decoding message ('M', `pg_logical_emit_message`): the
    * application side-channel multiplexed into the WAL stream — schema-
    * migration fences, watermark ticks, cross-system handoff markers.
    * DELIBERATE DEVIATION from the reference, which drops 'M' frames
    * (`PgWalMessageDecoder.java:60-61`): a consumer coordinating on an
    * in-stream marker needs it delivered in order with the DML around
    * it, not via a side channel. `transactional` messages belong to the
    * enclosing transaction (and vanish with a streamed abort);
    * non-transactional ones are delivered standalone at their own
    * position. */
  final case class LogicalMessage(transactional: Boolean, msgLsn: Long,
                                  prefix: String, content: Array[Byte]) extends Message

  // ------------------------------- proto_version=2 streaming (PG 14+)
  // A large in-progress transaction streams as interleaved S..E segments
  // tagged with the TOP-LEVEL xid; DML inside a segment carries its own
  // Int32 xid prefix (the SUBTRANSACTION's xid when applicable). The
  // transaction resolves at 'c' (commit: apply) or 'A' (abort: discard).
  // The reference pins proto_version=1 (`CdcEngine.java:31,62-65`) and a
  // bulk-load transaction then buffers entirely server-side — v2 is the
  // at-scale fix (VERDICT r7 #5).
  final case class StreamStart(xid: Int, firstSegment: Boolean) extends Message
  case object StreamStop extends Message
  final case class StreamCommit(xid: Int, commitLsn: Long, endLsn: Long) extends Message
  /** subXid == xid aborts the whole transaction; otherwise only the
    * subtransaction's changes are discarded. */
  final case class StreamAbort(xid: Int, subXid: Int) extends Message
  /** A message decoded inside a streamed segment: `xid` is the enclosing
    * segment's top-level transaction, `msgXid` the message's own prefix
    * (differs under subtransactions — the StreamAbort discard key). */
  final case class Streamed(xid: Int, msgXid: Int, inner: Message) extends Message

  // --------------------------- proto_version=3 two-phase commit (PG 15+)
  // A prepared (XA-style) transaction streams its content at PREPARE
  // TRANSACTION time as b(BEGIN PREPARE)..DML..P(PREPARE) and is DECIDED
  // arbitrarily later by K (COMMIT PREPARED: deliver) or r (ROLLBACK
  // PREPARED: discard). A streamed (v2) transaction that prepares ends
  // its segments with p (STREAM PREPARE) instead of c, then K/r decide.
  // The reference pins proto_version=1 (`CdcEngine.java:31,62-65`) and
  // never sees prepared transactions at all; the repo's sources deliver
  // them atomically at the decision, never split (r16; VERDICT r15 next
  // #4 — the Debezium-class deployment tier). Field layouts per the
  // PostgreSQL docs, "Logical Replication Message Formats".
  final case class BeginPrepare(prepareLsn: Long, endLsn: Long, xid: Int,
                                gid: String) extends Message
  final case class Prepare(prepareLsn: Long, endLsn: Long, xid: Int,
                           gid: String) extends Message
  final case class CommitPrepared(commitLsn: Long, endLsn: Long, xid: Int,
                                  gid: String) extends Message
  final case class RollbackPrepared(prepareEndLsn: Long, rollbackEndLsn: Long,
                                    xid: Int, gid: String) extends Message
  final case class StreamPrepare(prepareLsn: Long, endLsn: Long, xid: Int,
                                 gid: String) extends Message

  /** Empty since round 9: every recognized frame type is decoded ('Y'
    * and 'O' were the last dropped ones — the reference drops Y/O/T/M,
    * `PgWalMessageDecoder.java:60-61`). Kept so the "recognized but
    * dropped" seam stays explicit if a future protocol version adds
    * frames worth skipping. */
  val DroppedTypes: Set[Char] = Set.empty
}

/** Stateful decoder: the relation registry makes it order-dependent
  * (RELATION precedes first DML — guaranteed by the protocol) exactly like
  * the reference's `Map<Integer, Table>` (`PgWalMessageDecoder.java:39`).
  * One instance per replay stream / partition reader; not thread-safe by
  * design (readers are single-threaded). */
final class PgOutputDecoder {
  import PgOutput._

  private val registry = scala.collection.mutable.Map.empty[Int, RelationMeta]

  def relations: Map[Int, RelationMeta] = registry.toMap

  /** Top-level xid of the open streamed segment, if any: between
    * StreamStart and StreamStop every R/I/U/D/T/Y/M message carries an
    * Int32 xid prefix (proto_version=2 framing). */
  private var streamXid: Option[Int] = None

  /** Decode one frame. None for recognized-but-dropped types (Y/O/M). */
  def decode(buf: ByteBuffer): Option[Message] = {
    val tpe = buf.get().toChar
    streamXid match {
      case Some(top) if "RIUDTYM".indexOf(tpe) >= 0 =>
        val msgXid = buf.getInt()
        decodeBody(tpe, buf).map(Streamed(top, msgXid, _))
      case _ => decodeBody(tpe, buf)
    }
  }

  private def decodeBody(tpe: Char, buf: ByteBuffer): Option[Message] = {
    tpe match {
      case 'B' => Some(Begin)
      case 'C' => Some(Commit)
      case 'R' => Some(Relation(readRelation(buf)))
      case 'I' =>
        val meta = relationFor(buf.getInt())
        expect(buf, 'N')
        Some(Change('I', meta, readTuple(buf, meta), Map.empty))
      case 'U' =>
        val meta = relationFor(buf.getInt())
        val t = buf.get().toChar
        val (before, newMarkerNeeded) = t match {
          case 'O' | 'K' => (readTuple(buf, meta), true)
          case 'N' => (Map.empty: Cells, false)
          case c => throw new IllegalArgumentException(s"unexpected UPDATE tuple type '$c'")
        }
        if (newMarkerNeeded) expect(buf, 'N')
        Some(Change('U', meta, readTuple(buf, meta), before))
      case 'D' =>
        val meta = relationFor(buf.getInt())
        val t = buf.get().toChar
        if (t != 'O' && t != 'K')
          throw new IllegalArgumentException(s"unexpected DELETE tuple type '$t'")
        Some(Change('D', meta, readTuple(buf, meta), Map.empty))
      case 'T' =>
        // Byte1('T'), Int32 nRelations, Int8 option bits (1 = CASCADE,
        // 2 = RESTART IDENTITY), Int32 relation OID × nRelations
        // (PostgreSQL docs, "Logical Replication Message Formats")
        val n = buf.getInt()
        val opts = buf.get().toInt
        val metas = Vector.fill(n)(relationFor(buf.getInt()))
        Some(Truncate(metas, cascade = (opts & 1) != 0, restartIdentity = (opts & 2) != 0))
      case 'M' =>
        // Byte1('M'), Int8 flags (1 = transactional), Int64 message LSN,
        // String prefix, Int32 content length, Byte[n] content
        // (PostgreSQL docs, "Logical Replication Message Formats")
        val transactional = (buf.get().toInt & 1) != 0
        val msgLsn = buf.getLong()
        val prefix = readCString(buf)
        val content = new Array[Byte](buf.getInt())
        buf.get(content)
        Some(LogicalMessage(transactional, msgLsn, prefix, content))
      case 'S' =>
        // Int32 xid, Int8 first-segment flag
        val xid = buf.getInt()
        val first = buf.get() != 0
        streamXid = Some(xid)
        Some(StreamStart(xid, first))
      case 'E' =>
        streamXid = None
        Some(StreamStop)
      case 'c' =>
        // Int32 xid, Int8 flags, Int64 commit lsn, Int64 end lsn, Int64 ts
        val xid = buf.getInt()
        buf.get() // flags (unused, 0)
        val commitLsn = buf.getLong()
        val endLsn = buf.getLong()
        buf.getLong() // commit timestamp
        Some(StreamCommit(xid, commitLsn, endLsn))
      case 'Y' =>
        // Byte1('Y'), Int32 type OID, String namespace, String name
        // (PostgreSQL docs, "Logical Replication Message Formats")
        Some(TypeMessage(buf.getInt(), readCString(buf), readCString(buf)))
      case 'O' =>
        // Byte1('O'), Int64 origin commit LSN, String origin name
        Some(OriginMessage(buf.getLong(), readCString(buf)))
      case 'A' =>
        Some(StreamAbort(buf.getInt(), buf.getInt()))
      case 'b' =>
        // Byte1('b'), Int64 prepare LSN, Int64 end LSN, Int64 prepare
        // timestamp, Int32 xid, String gid
        val pLsn = buf.getLong(); val eLsn = buf.getLong()
        buf.getLong() // prepare timestamp
        Some(BeginPrepare(pLsn, eLsn, buf.getInt(), readCString(buf)))
      case 'P' =>
        // Byte1('P'), Int8 flags (0), Int64 prepare LSN, Int64 end LSN,
        // Int64 prepare timestamp, Int32 xid, String gid
        buf.get() // flags
        val pLsn = buf.getLong(); val eLsn = buf.getLong()
        buf.getLong()
        Some(Prepare(pLsn, eLsn, buf.getInt(), readCString(buf)))
      case 'K' =>
        // Byte1('K'), Int8 flags (0), Int64 commit LSN, Int64 end LSN,
        // Int64 commit timestamp, Int32 xid, String gid
        buf.get()
        val cLsn = buf.getLong(); val eLsn = buf.getLong()
        buf.getLong()
        Some(CommitPrepared(cLsn, eLsn, buf.getInt(), readCString(buf)))
      case 'r' =>
        // Byte1('r'), Int8 flags (0), Int64 prepare-end LSN, Int64
        // rollback-end LSN, Int64 prepare ts, Int64 rollback ts,
        // Int32 xid, String gid
        buf.get()
        val pe = buf.getLong(); val re = buf.getLong()
        buf.getLong(); buf.getLong()
        Some(RollbackPrepared(pe, re, buf.getInt(), readCString(buf)))
      case 'p' =>
        // Byte1('p'), Int8 flags (0), Int64 prepare LSN, Int64 end LSN,
        // Int64 prepare timestamp, Int32 xid, String gid — ends a
        // STREAMED transaction's segments in the prepared-undecided state
        buf.get()
        val pLsn = buf.getLong(); val eLsn = buf.getLong()
        buf.getLong()
        Some(StreamPrepare(pLsn, eLsn, buf.getInt(), readCString(buf)))
      case c if PgOutput.DroppedTypes(c) => None
      case c => throw new IllegalArgumentException(s"unknown pgoutput message type '$c'")
    }
  }

  private def relationFor(id: Int): RelationMeta =
    registry.getOrElse(id,
      throw new IllegalStateException(s"DML for unregistered relation $id"))

  private def expect(buf: ByteBuffer, c: Char): Unit = {
    val got = buf.get().toChar
    if (got != c) throw new IllegalArgumentException(s"expected '$c' marker, got '$got'")
  }

  private def readRelation(buf: ByteBuffer): RelationMeta = {
    val id = buf.getInt()
    val schema = readCString(buf)
    val table = readCString(buf)
    buf.get() // replica identity byte — skipped (PgWalMessageDecoder.java:72)
    val nCols = buf.getShort().toInt
    val cols = Vector.fill(nCols) {
      val flags = buf.get().toInt
      val name = readCString(buf)
      val typeOid = buf.getInt()
      val typeMod = buf.getInt()
      RelationColumn(name, typeOid, typeMod, flags)
    }
    val meta = RelationMeta(id, schema, table, cols)
    registry.update(id, meta)
    meta
  }

  /** TupleData: int16 nColumns, then per column 't'/'n'/'u'. Positional
    * match against the relation's column order. */
  private def readTuple(buf: ByteBuffer, meta: PgOutput.RelationMeta): Cells = {
    val n = buf.getShort().toInt
    val out = Map.newBuilder[String, Option[String]]
    var i = 0
    while (i < n) {
      val name = meta.columns(i).name
      buf.get().toChar match {
        case 't' =>
          val len = buf.getInt()
          val bytes = new Array[Byte](len)
          buf.get(bytes)
          out += name -> Some(new String(bytes, StandardCharsets.UTF_8))
        case 'n' => out += name -> None
        case 'u' => () // UNCHANGED (TOAST): omitted, not null
        case c => throw new IllegalArgumentException(s"unknown tuple sub-type '$c'")
      }
      i += 1
    }
    out.result()
  }

  private def readCString(buf: ByteBuffer): String = {
    val b = new scala.collection.mutable.ArrayBuffer[Byte]
    var c = buf.get()
    while (c != 0) { b += c; c = buf.get() }
    new String(b.toArray, StandardCharsets.UTF_8)
  }
}

/** Frame builder for fixtures, demos, and the file-replay source format.
  * Layouts mirror what the decoder consumes (FIXTURES.md §2). */
object PgOutputEncoder {
  import PgOutput._

  private def cstr(s: String): Array[Byte] =
    s.getBytes(StandardCharsets.UTF_8) :+ 0.toByte

  def begin(): Array[Byte] = Array('B'.toByte)
  def commit(): Array[Byte] = Array('C'.toByte)

  def relation(meta: RelationMeta, replicaIdentity: Byte = 'd'.toByte): Array[Byte] = {
    val cols = meta.columns.flatMap { c =>
      Array(c.flags.toByte) ++ cstr(c.name) ++ int32(c.typeOid) ++ int32(c.typeMod)
    }
    Array('R'.toByte) ++ int32(meta.id) ++ cstr(meta.schema) ++ cstr(meta.table) ++
      Array(replicaIdentity) ++ int16(meta.columns.size) ++ cols
  }

  /** values: one entry per relation column, in order.
    * Some(text)=‘t’, None=‘n’, omit via `unchanged` indices=‘u’. */
  def tuple(values: Seq[Option[String]], unchanged: Set[Int] = Set.empty): Array[Byte] =
    int16(values.size) ++ values.zipWithIndex.flatMap { case (v, i) =>
      if (unchanged(i)) Array('u'.toByte)
      else v match {
        case Some(s) =>
          val b = s.getBytes(StandardCharsets.UTF_8)
          Array('t'.toByte) ++ int32(b.length) ++ b
        case None => Array('n'.toByte)
      }
    }

  def insert(relId: Int, values: Seq[Option[String]], unchanged: Set[Int] = Set.empty): Array[Byte] =
    Array('I'.toByte) ++ int32(relId) ++ Array('N'.toByte) ++ tuple(values, unchanged)

  def update(relId: Int, values: Seq[Option[String]],
             old: Option[(Char, Seq[Option[String]])] = None,
             unchanged: Set[Int] = Set.empty): Array[Byte] = {
    val oldPart = old match {
      case Some((t, ov)) => Array(t.toByte) ++ tuple(ov)
      case None => Array.emptyByteArray
    }
    Array('U'.toByte) ++ int32(relId) ++ oldPart ++ Array('N'.toByte) ++ tuple(values, unchanged)
  }

  def delete(relId: Int, keyValues: Seq[Option[String]], tupleType: Char = 'K'): Array[Byte] =
    Array('D'.toByte) ++ int32(relId) ++ Array(tupleType.toByte) ++ tuple(keyValues)

  def truncate(relIds: Seq[Int], cascade: Boolean = false,
               restartIdentity: Boolean = false): Array[Byte] =
    Array('T'.toByte) ++ int32(relIds.size) ++
      Array(((if (cascade) 1 else 0) | (if (restartIdentity) 2 else 0)).toByte) ++
      relIds.flatMap(int32)

  def logicalMessage(prefix: String, content: Array[Byte],
                     transactional: Boolean = true, msgLsn: Long = 0L): Array[Byte] =
    Array('M'.toByte, (if (transactional) 1 else 0).toByte) ++
      int64(msgLsn) ++ cstr(prefix) ++ int32(content.length) ++ content

  def typeMessage(typeOid: Int, schema: String, name: String): Array[Byte] =
    Array('Y'.toByte) ++ int32(typeOid) ++ cstr(schema) ++ cstr(name)

  def originMessage(commitLsn: Long, name: String): Array[Byte] =
    Array('O'.toByte) ++ int64(commitLsn) ++ cstr(name)

  // ------------------------------------------ proto_version=2 framing
  def streamStart(xid: Int, firstSegment: Boolean = true): Array[Byte] =
    Array('S'.toByte) ++ int32(xid) ++ Array((if (firstSegment) 1 else 0).toByte)

  def streamStop(): Array[Byte] = Array('E'.toByte)

  def streamCommit(xid: Int, commitLsn: Long = 0L, endLsn: Long = 0L): Array[Byte] =
    Array('c'.toByte) ++ int32(xid) ++ Array(0.toByte) ++
      int64(commitLsn) ++ int64(endLsn) ++ int64(0L)

  def beginPrepare(xid: Int, gid: String, prepareLsn: Long = 0L,
                   endLsn: Long = 0L): Array[Byte] =
    Array('b'.toByte) ++ int64(prepareLsn) ++ int64(endLsn) ++ int64(0L) ++
      int32(xid) ++ cstr(gid)

  def prepare(xid: Int, gid: String, prepareLsn: Long = 0L,
              endLsn: Long = 0L): Array[Byte] =
    Array('P'.toByte, 0.toByte) ++ int64(prepareLsn) ++ int64(endLsn) ++
      int64(0L) ++ int32(xid) ++ cstr(gid)

  def commitPrepared(xid: Int, gid: String, commitLsn: Long = 0L,
                     endLsn: Long = 0L): Array[Byte] =
    Array('K'.toByte, 0.toByte) ++ int64(commitLsn) ++ int64(endLsn) ++
      int64(0L) ++ int32(xid) ++ cstr(gid)

  def rollbackPrepared(xid: Int, gid: String, prepareEndLsn: Long = 0L,
                       rollbackEndLsn: Long = 0L): Array[Byte] =
    Array('r'.toByte, 0.toByte) ++ int64(prepareEndLsn) ++ int64(rollbackEndLsn) ++
      int64(0L) ++ int64(0L) ++ int32(xid) ++ cstr(gid)

  def streamPrepare(xid: Int, gid: String, prepareLsn: Long = 0L,
                    endLsn: Long = 0L): Array[Byte] =
    Array('p'.toByte, 0.toByte) ++ int64(prepareLsn) ++ int64(endLsn) ++
      int64(0L) ++ int32(xid) ++ cstr(gid)

  def streamAbort(xid: Int, subXid: Int): Array[Byte] =
    Array('A'.toByte) ++ int32(xid) ++ int32(subXid)

  /** v2 per-message xid prefix: Byte1(type), Int32 xid, original body —
    * how DML/RELATION/TRUNCATE frames look inside a streamed segment. */
  def streamed(msgXid: Int, inner: Array[Byte]): Array[Byte] =
    Array(inner.head) ++ int32(msgXid) ++ inner.tail

  private def int64(v: Long): Array[Byte] =
    ByteBuffer.allocate(8).putLong(v).array()

  private def int32(v: Int): Array[Byte] =
    ByteBuffer.allocate(4).putInt(v).array()
  private def int16(v: Int): Array[Byte] =
    ByteBuffer.allocate(2).putShort(v.toShort).array()
}

package graft.sources

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.cdc.{ChangeRecord, Envelope}
import graft.wal.{PgOutput, PgOutputDecoder}

/** What the assembler needs to start decoding mid-stream: the RELATION
  * frames registered so far (a streamed RELATION stored with its xid
  * prefix stripped — the seed replays them through a fresh decoder with
  * no open segment), the txid of the v1 transaction open at the first
  * frame (-1 when none), and the first frame's arrival seq within its
  * equal-LSN run. */
final case class Seed(relations: Vector[Array[Byte]], txid: Long, seq: Long)

object Seed { val empty: Seed = Seed(Vector.empty, -1L, 0L) }

/** A frame the decoder or assembler rejected, located by its (lsn, seq)
  * key and, when the reader knows it, the file it came from. */
final class FrameDecodeException(val lsn: Long, val seq: Long, source: String, cause: Throwable)
  extends RuntimeException(
    s"cannot decode the pgoutput frame at lsn=$lsn seq=$seq" +
      (if (source.isEmpty) "" else s" in $source") + s": $cause", cause)

/** The one transaction assembler behind both CDC sources — the
  * reference's poll-loop semantics (`CdcEngine.java:89-138`): txid
  * scoping from BEGIN/COMMIT, out-of-tx DML delivered standalone (txid =
  * own lsn, the singleton path `CdcEngine.java:125-127`), proto v2
  * streamed transactions buffered per top-level xid until their stream
  * commit/abort, proto v3 prepared transactions buffered per gid until
  * their decision. */
object TxAssembler {

  /** Decode `frames` (lsn, pgoutput frame) starting from `seed`. Frames
    * before index `emitFrom` are decoded — they rebuild relation, txid,
    * streamed and prepared state — but emit nothing; a transaction they
    * open emits in full at its commit or decision frame when that frame
    * is at or past `emitFrom`. `source` names the input in errors. */
  def decode(seed: Seed, frames: Iterator[(Long, Array[Byte])], emitFrom: Int,
             source: String = ""): Iterator[ChangeRecord] = {
    val decoder = new PgOutputDecoder
    seed.relations.foreach(bytes => decoder.decode(ByteBuffer.wrap(bytes)))
    var txid = seed.txid
    // proto v2: per top-level xid, buffered (msgXid, record) pairs —
    // emitted at StreamCommit, discarded at StreamAbort (sub != top
    // discards just the subtransaction's records)
    val pending = mutable.Map.empty[Int, mutable.ArrayBuffer[(Int, ChangeRecord)]]
    // proto v3: a prepared transaction's content (b..P, or a streamed tx
    // resolved by 'p') buffers per gid — emitted whole at COMMIT PREPARED
    // ('K'), discarded at ROLLBACK PREPARED ('r'). Prepared records carry
    // txid = the b frame's xid (unsigned).
    var prepGid: Option[String] = None
    var prepTx = -1L
    val prepared = mutable.Map.empty[String, mutable.ArrayBuffer[ChangeRecord]]
    // per-frame arrival seq within an equal-LSN run — (lsn, seq) totally
    // orders records (LSNs repeat across consecutive pgoutput frames)
    var seqLsn = Long.MinValue
    var seq = 0L
    def topTx(top: Int): Long = top.toLong & 0xffffffffL
    // the records one DML/TRUNCATE/message/TYPE/ORIGIN frame carries, in
    // transaction `tx`; a TRUNCATE yields one op='T' record per relation
    // (no cells) — the table-wide wipe marker applyChanges honors
    def records(lsn: Long, tx: Long, m: PgOutput.Message): Seq[ChangeRecord] = m match {
      case PgOutput.Change(op, meta, cells, before) =>
        Seq(ChangeRecord(
          op = op.toString, lsn = lsn, txid = tx,
          schema = meta.schema, table = meta.table,
          columns = cells.collect { case (k, Some(v)) => k -> v },
          nulls = cells.collect { case (k, None) => k }.toVector.sorted,
          before = before.collect { case (k, Some(v)) => k -> v },
          seq = seq))
      case PgOutput.Truncate(metas, _, _) =>
        metas.map(m => ChangeRecord("T", lsn, tx, m.schema, m.table,
          Map.empty, Vector.empty, Map.empty, seq))
      case m: PgOutput.LogicalMessage => Seq(Envelope.messageRecord(lsn, tx, m, seq))
      case tm: PgOutput.TypeMessage => Seq(Envelope.typeRecord(lsn, tx, tm, seq))
      // ORIGIN tags the enclosing transaction (sent just after BEGIN in
      // cascaded setups)
      case om: PgOutput.OriginMessage => Seq(Envelope.originRecord(lsn, tx, om, seq))
      case _ => Nil
    }
    frames.zipWithIndex.flatMap { case ((lsn, bytes), idx) =>
      seq = if (idx == 0) seed.seq else if (lsn == seqLsn) seq + 1L else 0L
      seqLsn = lsn
      val emit = idx >= emitFrom
      def when(recs: Seq[ChangeRecord]): Seq[ChangeRecord] = if (emit) recs else Nil
      def curTx: Long = if (prepGid.isDefined) prepTx else if (txid >= 0) txid else lsn
      try decoder.decode(ByteBuffer.wrap(bytes)) match {
        case Some(PgOutput.Begin) => txid = lsn; Nil
        case Some(PgOutput.Commit) => txid = -1L; Nil
        case Some(PgOutput.BeginPrepare(_, _, xid, gid)) =>
          prepGid = Some(gid); prepTx = topTx(xid)
          prepared.getOrElseUpdate(gid, mutable.ArrayBuffer.empty)
          Nil
        case Some(_: PgOutput.Prepare) => prepGid = None; Nil
        case Some(PgOutput.CommitPrepared(_, _, _, gid)) =>
          // unknown gid (decided before the capture started): nothing
          // buffered, nothing to deliver
          when(prepared.remove(gid).map(_.toSeq).getOrElse(Nil))
        case Some(PgOutput.RollbackPrepared(_, _, _, gid)) =>
          prepared.remove(gid); Nil
        case Some(PgOutput.StreamPrepare(_, _, xid, gid)) =>
          // a streamed tx's segments resolve into the prepared-undecided
          // state instead of applying — K/r decide later
          prepared(gid) = pending.remove(xid).map(_.map(_._2))
            .getOrElse(mutable.ArrayBuffer.empty)
          Nil
        case Some(PgOutput.StreamCommit(top, _, _)) =>
          when(pending.remove(top).map(_.map(_._2).toSeq).getOrElse(Nil))
        case Some(PgOutput.StreamAbort(top, sub)) =>
          if (sub == top) pending.remove(top)
          else pending.get(top).foreach(_.filterInPlace(_._1 != sub))
          Nil
        // a non-transactional message is standalone at its own position
        // (txid = own lsn, like the out-of-tx DML singleton path), inside
        // a streamed or prepared transaction too — it does not belong to it
        case Some(m: PgOutput.LogicalMessage) if !m.transactional =>
          when(records(lsn, lsn, m))
        case Some(PgOutput.Streamed(_, _, m: PgOutput.LogicalMessage)) if !m.transactional =>
          when(records(lsn, lsn, m))
        // inside a streamed segment: buffered under the top-level xid
        // whatever the emit window (the stream commit decides), vanishing
        // with its abort
        case Some(PgOutput.Streamed(top, msgXid, m)) =>
          pending.getOrElseUpdate(top, mutable.ArrayBuffer.empty) ++=
            records(lsn, topTx(top), m).map((msgXid, _))
          Nil
        // otherwise into the open prepared buffer (whatever the emit
        // window — the decision frame decides where they emit), else inline
        case Some(m) => prepGid match {
          case Some(g) => prepared(g) ++= records(lsn, curTx, m); Nil
          case None => if (emit) records(lsn, curTx, m) else Nil
        }
        case None => Nil
      } catch {
        case NonFatal(e) => throw new FrameDecodeException(lsn, seq, source, e)
      }
    }
  }
}

/** The one transaction-boundary scan: which frames open and close v1
  * transactions, v2 streamed transactions and v3 prepared transactions,
  * read from tag bytes and fixed header offsets without decoding bodies,
  * plus the relation registry a [[Seed]] needs. Immutable, so a source
  * can keep the state at any boundary: a frame that changes nothing
  * returns the same instance.
  *
  *  - `txid`: BEGIN lsn of the open v1 transaction, -1 when none;
  *  - `preparing`: inside a v3 b..P content phase;
  *  - `streamed`: unresolved streamed xid → position of its first 'S';
  *  - `prepared`: undecided gid → position of its 'b', or of its
  *    streamed transaction's first 'S' when it prepared through 'p'. */
final case class TxScan(
    txid: Long = -1L,
    preparing: Boolean = false,
    inSegment: Boolean = false,
    streamed: Map[Int, Int] = Map.empty,
    prepared: Map[String, Int] = Map.empty,
    relations: Map[Int, (Long, Array[Byte])] = Map.empty) {

  import TxScan._

  /** The state after frame (lsn, bytes); `at` is the frame's position,
    * recorded as the start of any transaction the frame opens. */
  def step(at: Int, lsn: Long, bytes: Array[Byte]): TxScan =
    if (bytes.isEmpty) this else bytes(0).toChar match {
      case 'B' => copy(txid = lsn)
      case 'C' => copy(txid = -1L)
      case 'b' => copy(preparing = true, prepared = prepared.updated(gidAt(bytes, 29), at))
      case 'P' => copy(preparing = false)
      case 'K' => copy(prepared = prepared - gidAt(bytes, 30))
      case 'r' => copy(prepared = prepared - gidAt(bytes, 38))
      case 'S' =>
        val xid = intAt(bytes, 1)
        copy(inSegment = true,
          streamed = if (streamed.contains(xid)) streamed else streamed.updated(xid, at))
      case 'E' => copy(inSegment = false)
      case 'c' => copy(streamed = streamed - intAt(bytes, 1))
      // STREAM PREPARE: the streamed segments become a prepared-undecided
      // transaction that still starts at its first segment
      case 'p' =>
        val xid = intAt(bytes, 26)
        copy(streamed = streamed - xid,
          prepared = prepared.updated(gidAt(bytes, 30), streamed.getOrElse(xid, at)))
      case 'A' =>
        val top = intAt(bytes, 1)
        if (intAt(bytes, 5) == top) copy(streamed = streamed - top) else this
      // inside a v2 segment the OID sits after the Int32 xid prefix
      case 'R' if inSegment =>
        copy(relations = relations.updated(intAt(bytes, 5), (lsn, bytes.patch(1, Nil, 4))))
      case 'R' => copy(relations = relations.updated(intAt(bytes, 1), (lsn, bytes)))
      case _ => this
    }

  /** Replay's cut rule: no v1 transaction, b..P content phase or streamed
    * transaction open. The prepared-undecided window P..K/r may be cut:
    * a replay batch re-reads from the start of that transaction. */
  def replaySafe: Boolean = txid < 0 && !preparing && streamed.isEmpty

  /** Live's cut rule: replay's, and no undecided prepared transaction —
    * live decodes only the buffered slice, so the whole b..K/r window
    * stays in one batch. */
  def liveSafe: Boolean = replaySafe && prepared.isEmpty

  /** Where a slice emitting from position `at` must start reading: the
    * first frame of the earliest unit still open here, else `at`. */
  def readFrom(at: Int): Int = (streamed.valuesIterator ++ prepared.valuesIterator).foldLeft(at)(math.min)

  def seed(seq: Long): Seed = Seed(relations.valuesIterator.map(_._2).toVector, txid, seq)
}

object TxScan {
  private def intAt(bytes: Array[Byte], off: Int): Int = ByteBuffer.wrap(bytes, off, 4).getInt

  /** The gid cstring of a 2PC frame, at its documented byte offset
    * ('b': 29, 'p'/'K': 30, 'r': 38). */
  private def gidAt(bytes: Array[Byte], off: Int): String = {
    var end = off
    while (end < bytes.length && bytes(end) != 0) end += 1
    new String(bytes, off, end - off, StandardCharsets.UTF_8)
  }
}

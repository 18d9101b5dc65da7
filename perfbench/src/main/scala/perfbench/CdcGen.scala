package perfbench

import scala.collection.mutable

import graft.wal.{PgOutput, PgOutputEncoder => E}

/** Seeded pgoutput stream generator and the model it is checked against.
  *
  * Frames are built only with the engine's public encoder, so one seed
  * always gives byte-identical files. The model is independent of the
  * engine's decode and apply code: it follows PostgreSQL's row-lock
  * discipline (transactions open at the same time touch disjoint keys),
  * applies each transaction whole at its commit, in commit order, and
  * drops aborted subtransactions and rolled-back prepared transactions.
  * Every UPDATE carries the full new row (no UNCHANGED 'u' cells).
  */
object CdcGen {

  /** `public.accounts(id int8 PRIMARY KEY, grp int4, name varchar,
    * price numeric(12,2), qty int4)`. */
  val Rel: PgOutput.RelationMeta = PgOutput.RelationMeta(16384, "public", "accounts", Vector(
    PgOutput.RelationColumn("id", 20, -1, 1),
    PgOutput.RelationColumn("grp", 23, -1, 0),
    PgOutput.RelationColumn("name", 1043, -1, 0),
    PgOutput.RelationColumn("price", 1700, ((12 << 16) | 2) + 4, 0),
    PgOutput.RelationColumn("qty", 23, -1, 0)))

  /** One row of the model; `price` is the exact numeric(12,2) text. */
  final case class Row(grp: Int, name: String, price: String, qty: Option[Int])

  /** A generated stream: the frames, the state after every committed
    * transaction, and per committed transaction (commit frame LSN,
    * changes before and including it in stream order). */
  final case class Stream(frames: Vector[(Long, Array[Byte])],
                          finalState: Map[Long, Row],
                          commits: Vector[(Long, Long)],
                          changes: Long,
                          v1: Int, streamed: Int, subAborts: Int,
                          prepared: Int, rolledBack: Int)

  private sealed trait Op { def id: Long }
  private final case class Put(id: Long, row: Row, insert: Boolean) extends Op
  private final case class Del(id: Long) extends Op

  /** Builder shared by both workloads: owns the frame list, the LSN
    * clock, the key locks and the committed state. */
  private final class Builder(seed: Long, keys: Int, groups: Int) {
    val rnd = new scala.util.Random(seed)
    val frames = Vector.newBuilder[(Long, Array[Byte])]
    private var lsn = 0x1000000L
    val state = mutable.HashMap.empty[Long, Row]
    val locked = mutable.HashSet.empty[Long]
    val commits = Vector.newBuilder[(Long, Long)]
    var changes = 0L

    def emit(bytes: Array[Byte]): Long = {
      lsn += 8 + rnd.nextInt(56)
      frames += lsn -> bytes
      lsn
    }

    /** Take `n` distinct unlocked keys and lock them. */
    def lockKeys(n: Int): Vector[Long] = {
      val out = mutable.LinkedHashSet.empty[Long]
      while (out.size < n) {
        val k = rnd.nextInt(keys).toLong
        if (!locked(k)) out += k
      }
      locked ++= out
      out.toVector
    }

    private def randomRow(): Row = {
      val cents = rnd.nextInt(10000000)
      Row(rnd.nextInt(groups), s"n${rnd.nextInt(1000000)}",
        f"${cents / 100}.${cents % 100}%02d",
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(1000)))
    }

    /** Ops on the given keys, valid against `view` (the state those keys
      * have inside the transaction); `view` is updated in place. */
    def ops(ks: Seq[Long], view: mutable.Map[Long, Option[Row]], perKey: () => Int): Seq[Op] =
      ks.flatMap { k =>
        (1 to perKey()).map { _ =>
          val cur = view.getOrElseUpdate(k, state.get(k))
          val op: Op = cur match {
            case None => Put(k, randomRow(), insert = true)
            case Some(r) if rnd.nextInt(5) == 0 => Del(k)
            case Some(r) =>
              val n = randomRow()
              Put(k, if (rnd.nextBoolean()) n.copy(grp = r.grp) else n, insert = false)
          }
          view(k) = op match { case Put(_, r, _) => Some(r); case Del(_) => None }
          op
        }
      }

    def frame(op: Op): Array[Byte] = op match {
      case Put(id, r, ins) =>
        val vals = Seq(Some(id.toString), Some(r.grp.toString), Some(r.name),
          Some(r.price), r.qty.map(_.toString))
        if (ins) E.insert(Rel.id, vals) else E.update(Rel.id, vals)
      case Del(id) => E.delete(Rel.id, Seq(Some(id.toString), None, None, None, None))
    }

    /** Make a transaction's surviving effects visible and release its locks. */
    def commit(view: mutable.Map[Long, Option[Row]], ks: Iterable[Long], commitLsn: Long): Unit = {
      view.foreach { case (k, v) => v.fold(state.remove(k))(r => state.put(k, r)) }
      locked --= ks
      commits += commitLsn -> changes
    }

    def v1Tx(n: Int): Unit = {
      val ks = lockKeys(n)
      val view = mutable.HashMap.empty[Long, Option[Row]]
      emit(E.begin())
      ops(ks, view, () => 1).foreach { o => emit(frame(o)); changes += 1 }
      commit(view, ks, emit(E.commit()))
    }
  }

  /** Catch-up stream: v1 transactions, v2 streamed transactions whose
    * segments interleave with v1 traffic (some subtransactions aborted),
    * and v3 prepared transactions decided later by COMMIT PREPARED or
    * ROLLBACK PREPARED. Stops once about `targetChanges` are written. */
  def replay(seed: Long, targetChanges: Long, keys: Int, groups: Int): Stream = {
    val b = new Builder(seed, keys, groups)
    import b.rnd
    b.emit(E.relation(Rel))
    final class StreamedTx(val xid: Int, var segmentsLeft: Int) {
      val held = mutable.ArrayBuffer.empty[Long]
      val view = mutable.HashMap.empty[Long, Option[Row]]
    }
    final class PreparedTx(val xid: Int, val gid: String, val keys: Vector[Long],
                           val view: mutable.Map[Long, Option[Row]])
    var nextXid = 5000
    val openStreamed = mutable.ArrayBuffer.empty[StreamedTx]
    val openPrepared = mutable.ArrayBuffer.empty[PreparedTx]
    var (v1, streamed, subAborts, prepared, rolledBack) = (0, 0, 0, 0, 0)

    def segment(t: StreamedTx): Unit = {
      b.emit(E.streamStart(t.xid, firstSegment = t.held.isEmpty))
      val ks = b.lockKeys(10 + rnd.nextInt(30))
      t.held ++= ks
      b.ops(ks, t.view, () => 1 + rnd.nextInt(2)).foreach { o =>
        b.emit(E.streamed(t.xid, b.frame(o))); b.changes += 1
      }
      // a subtransaction on keys of its own, rolled back by the stream
      // abort below: its changes are written but never applied
      val sub = if (rnd.nextInt(3) == 0) {
        nextXid += 1
        val subKs = b.lockKeys(5 + rnd.nextInt(10))
        t.held ++= subKs
        b.ops(subKs, mutable.HashMap.empty, () => 1).foreach { o =>
          b.emit(E.streamed(nextXid, b.frame(o))); b.changes += 1
        }
        Some(nextXid)
      } else None
      b.emit(E.streamStop())
      sub.foreach { s => b.emit(E.streamAbort(t.xid, s)); subAborts += 1 }
      t.segmentsLeft -= 1
      if (t.segmentsLeft == 0) {
        b.commit(t.view, t.held, b.emit(E.streamCommit(t.xid)))
        openStreamed -= t
        streamed += 1
      }
    }

    def prepare(): Unit = {
      nextXid += 1
      val gid = s"gid-$nextXid"
      val ks = b.lockKeys(5 + rnd.nextInt(40))
      val view = mutable.HashMap.empty[Long, Option[Row]]
      b.emit(E.beginPrepare(nextXid, gid))
      b.ops(ks, view, () => 1).foreach { o => b.emit(b.frame(o)); b.changes += 1 }
      b.emit(E.prepare(nextXid, gid))
      openPrepared += new PreparedTx(nextXid, gid, ks, view)
    }

    def decide(p: PreparedTx): Unit = {
      if (rnd.nextInt(3) == 0) {
        b.emit(E.rollbackPrepared(p.xid, p.gid))
        b.locked --= p.keys
        rolledBack += 1
      } else {
        b.commit(p.view, p.keys, b.emit(E.commitPrepared(p.xid, p.gid)))
        prepared += 1
      }
      openPrepared -= p
    }

    while (b.changes < targetChanges) {
      rnd.nextInt(20) match {
        case 0 if openStreamed.size < 2 =>
          nextXid += 1
          val t = new StreamedTx(nextXid, 2 + rnd.nextInt(3))
          openStreamed += t
          segment(t)
        case 1 | 2 if openStreamed.nonEmpty => segment(openStreamed(rnd.nextInt(openStreamed.size)))
        case 3 if openPrepared.size < 3 => prepare()
        case 4 if openPrepared.nonEmpty => decide(openPrepared(rnd.nextInt(openPrepared.size)))
        case _ => b.v1Tx(1 + rnd.nextInt(100)); v1 += 1
      }
    }
    while (openStreamed.nonEmpty) segment(openStreamed.head)
    while (openPrepared.nonEmpty) decide(openPrepared.head)
    Stream(b.frames.result(), b.state.toMap, b.commits.result(), b.changes,
      v1, streamed, subAborts, prepared, rolledBack)
  }

  /** pgbench-like stream: v1 transactions of `txSize` changes over a
    * bounded key space, `txs` of them. */
  def live(seed: Long, txs: Int, txSize: Int, keys: Int, groups: Int): Stream = {
    val b = new Builder(seed, keys, groups)
    b.emit(E.relation(Rel))
    (1 to txs).foreach(_ => b.v1Tx(txSize))
    Stream(b.frames.result(), b.state.toMap, b.commits.result(), b.changes,
      txs, 0, 0, 0, 0)
  }

  /** The maintained view the model expects: per grp, (n_rows, n_val,
    * sum_val) with n_val counting non-NULL qty and sum_val their sum. */
  def view(state: Map[Long, Row]): Map[Int, (Long, Long, Long)] =
    state.values.groupBy(_.grp).map { case (g, rs) =>
      g -> (rs.size.toLong, rs.count(_.qty.isDefined).toLong, rs.flatMap(_.qty).map(_.toLong).sum)
    }
}

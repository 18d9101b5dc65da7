package graft.sources

import java.util.{Map => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.cdc.ChangeRecord

/** Where live pgoutput frames come from — the seam between the engine and
  * the PostgreSQL wire. The shipped implementation is
  * [[PgWireFrameSource]], a dependency-free v3 wire-protocol walsender
  * client (startup/auth, LivePgBootstrap catalog SQL, START_REPLICATION
  * CopyBoth streaming — see PgWireReplication.scala). The seam stays
  * public so a deployment that prefers pgjdbc's `PGReplicationStream`
  * can plug its own adapter (`poll` = `readPending` +
  * `getLastReceiveLSN`; `advance` = `setFlushedLSN`/`setAppliedLSN` +
  * `forceUpdateStatus` — the reference's lifecycle,
  * `CdcEngine.java:68-84,132-137`). */
trait ReplicationFrameSource extends AutoCloseable {
  /** Non-blocking: the next (lsn, pgoutput frame) if one is pending.
    *
    * Delivery contract (what pgjdbc's `PGReplicationStream` provides):
    *  - LSNs are NON-DECREASING — consecutive frames MAY report the same
    *    LSN (`getLastReceiveLSN` can repeat for RELATION/BEGIN messages
    *    sharing a WAL position); the stream keys such frames by a
    *    per-LSN arrival sequence, so equal-LSN frames are retained;
    *  - each frame is delivered once per connection; after a reconnect
    *    the server resends everything past the last `advance`d LSN in
    *    the ORIGINAL ORDER (so the arrival-sequence keying is stable
    *    across redelivery);
    *  - frames with an LSN strictly below an already-delivered one are
    *    treated as redelivery and dropped by the stream. */
  def poll(): Option[(Long, Array[Byte])]
  /** Confirm everything at or below `lsn` durably consumed (slot flush). */
  def advance(lsn: Long): Unit
}

/** Live CDC source: `spark.readStream.format("pgcdc-live")
  *   .option("frameSource.class", classOf[MySource].getName) ... .load()`.
  *
  * The MicroBatchStream sibling of `PgCdcReplayStream` whose frames come
  * from a replication socket instead of a capture file (VERDICT r1 #5,
  * reference lifecycle `CdcEngine.java:68-84`):
  *
  *  - the replication connection is a SINGLE serial stream (one walsender
  *    per slot — the same constraint the reference engine runs under), so
  *    frames buffer on the driver and the offset is the frame LSN;
  *    parallelism begins downstream of the source;
  *  - batch boundaries snap to tx-safe points exactly like replay; with
  *    `maxBatchRecords` + `allowMidTxFlush=true` an oversized transaction
  *    is cut mid-tx (the reference's overflow flush,
  *    `CdcEngine.java:121-124`) — memory stays bounded at the cost of
  *    batch-level atomicity for that tx, and the open txid is carried
  *    into the next batch so records still group correctly;
  *  - `commit(end)` advances the slot (`ReplicationFrameSource.advance`,
  *    the reference's `setFlushedLSN`/`forceUpdateStatus`) and releases
  *    the driver buffer up to `end`;
  *  - crash recovery: offsets the checkpoint committed but the slot never
  *    acked are REDELIVERED by PostgreSQL on reconnect; frames at or
  *    below the restart offset are filtered by LSN — the same
  *    at-least-once-upgraded-to-effective-exactly-once contract as
  *    replay (SURVEY.md §7.3.1).
  */
class PgCdcLiveProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "pgcdc-live"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PgCdcReplayTable.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new PgCdcLiveTable(properties.asScala.toMap)
}

class PgCdcLiveTable(options: Map[String, String]) extends Table with SupportsRead {
  override def name(): String =
    s"pgcdc-live(${options.getOrElse("frameSource.class", "?")})"
  override def schema(): StructType = PgCdcReplayTable.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = PgCdcReplayTable.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new PgCdcLiveStream(
            PgCdcLiveStream.instantiateSource(options),
            maxBatchRecords =
              options.get("maxBatchRecords").map(_.toInt).getOrElse(Int.MaxValue),
            allowMidTxFlush =
              options.get("allowMidTxFlush").exists(_.toBoolean),
            restartFillTimeoutMs =
              options.get("restartFillTimeoutMs").map(_.toLong).getOrElse(60000L))
      }
    }
}

/** Composite offset: (lsn, per-LSN arrival sequence). PostgreSQL LSNs
  * are 64-bit and non-decreasing but NOT strictly monotone across
  * pgoutput messages — consecutive frames can share a WAL position — so
  * the LSN alone is an ambiguous batch boundary. `seq` numbers frames
  * within an equal-LSN run (0-based, stable across slot redelivery
  * because the server resends in the original order). `seq =
  * Long.MaxValue` means "every frame at this LSN is consumed" — the
  * initial offset, and the meaning of a pre-composite checkpoint that
  * carries only an lsn. */
final case class LsnOffset(lsn: Long, seq: Long = Long.MaxValue) extends Offset {
  override def json(): String = s"""{"lsn":$lsn,"seq":$seq}"""
  /** Frame key (l, s) is strictly after this offset (not yet consumed). */
  def admits(l: Long, s: Long): Boolean =
    l > lsn || (l == lsn && seq != Long.MaxValue && s > seq)
  /** Frame key (l, s) is at or before this offset (consumed by it). */
  def covers(l: Long, s: Long): Boolean = !admits(l, s)
}

object LsnOffset {
  private val LsnRe = """"lsn"\s*:\s*(\d+)""".r.unanchored
  private val SeqRe = """"seq"\s*:\s*(\d+)""".r.unanchored
  def parse(json: String): LsnOffset = {
    val lsn = json match { case LsnRe(v) => v.toLong; case _ => 0L }
    val seq = json match { case SeqRe(v) => v.toLong; case _ => Long.MaxValue }
    LsnOffset(lsn, seq)
  }
}

object PgCdcLiveStream {
  /** A polled pgoutput frame keyed by (lsn, per-LSN arrival seq). */
  private[sources] final case class Frame(lsn: Long, seq: Long, bytes: Array[Byte])

  /** Reflective factory: `frameSource.class` names a
    * ReplicationFrameSource with a `(Map[String, String])` or no-arg
    * constructor — the seam that lets a pgjdbc-backed implementation plug
    * in without this library shipping a JDBC driver. */
  def instantiateSource(options: Map[String, String]): ReplicationFrameSource = {
    val cls = Class.forName(options.getOrElse("frameSource.class",
      sys.error("pgcdc-live: 'frameSource.class' option required")))
    val inst =
      cls.getConstructors.find(_.getParameterTypes.toSeq == Seq(classOf[Map[_, _]])) match {
        case Some(c) => c.newInstance(options)
        case None => cls.getDeclaredConstructor().newInstance()
      }
    inst.asInstanceOf[ReplicationFrameSource]
  }
}

class PgCdcLiveStream(source: ReplicationFrameSource,
                      maxBatchRecords: Int = Int.MaxValue,
                      allowMidTxFlush: Boolean = false,
                      restartFillTimeoutMs: Long = 60000L)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  // AvailableNow: snapshot the socket's high-water mark at trigger start;
  // batches pace toward it under the admission cap and never pass it.
  private var availableNowTarget: LsnOffset = LsnOffset(Long.MaxValue)

  override def prepareForTriggerAvailableNow(): Unit = synchronized {
    // Settle loop rather than a single drain: a socket-backed source
    // (PgWireFrameSource) delivers frames asynchronously, so an
    // immediate snapshot at trigger start would freeze the high-water
    // mark at zero and make the AvailableNow run a no-op. Drain until
    // the source goes quiet for a beat (or a hard cap for sources with
    // continuous traffic).
    val capNanos = 3000L * 1000000L
    val quietNanos = 200L * 1000000L
    val start = System.nanoTime()
    var lastProgress = start
    var done = false
    while (!done) {
      val before = (lastPolledLsn, lastPolledSeq)
      drain()
      val now = System.nanoTime()
      if ((lastPolledLsn, lastPolledSeq) != before) lastProgress = now
      if (now - lastProgress > quietNanos || now - start > capNanos) done = true
      else Thread.sleep(10)
    }
    availableNowTarget = LsnOffset(lastPolledLsn, lastPolledSeq)
  }

  import PgCdcLiveStream.Frame

  // Driver-side frame buffer between socket and batch planning. Frames
  // stay buffered until commit(end) acks them to the slot — a crash loses
  // only unacked frames, which PostgreSQL redelivers.
  private val buffer = mutable.ArrayDeque.empty[Frame]
  // Boundary scan state at the buffer head: every released frame folded
  // in. Its relation registry seeds each batch so executors decode
  // without history (PostgreSQL sends RELATION once per session, not per
  // batch — the registry is driver state, mirroring the reference's
  // decoder registry, PgWalMessageDecoder.java:39), and its txid carries
  // an overflow-flushed transaction into the next batch.
  private var head = TxScan()
  private var lastPolledLsn: Long = 0L
  private var lastPolledSeq: Long = 0L

  private def isChange(bytes: Array[Byte]): Boolean = bytes.nonEmpty &&
    (bytes(0) == 'I'.toByte || bytes(0) == 'U'.toByte || bytes(0) == 'D'.toByte ||
      bytes(0) == 'T'.toByte) // TRUNCATE emits rows too (one per relation)

  /** Scan state just after offset `at`: the head state advanced over the
    * buffered frames `at` covers (O(buffered): released frames are
    * already in `head`). Positions are 0: live never cuts inside a
    * streamed or prepared transaction, so it never reads back to one. */
  private def scanTo(at: LsnOffset): TxScan =
    buffer.iterator.takeWhile(f => at.covers(f.lsn, f.seq))
      .foldLeft(head)((st, f) => st.step(0, f.lsn, f.bytes))

  /** Pull pending frames off the socket into the buffer (bounded per call
    * to keep latestOffset prompt). Equal-LSN frames are RETAINED and
    * keyed by arrival sequence (the ReplicationFrameSource contract makes
    * that keying stable across redelivery); only frames with an LSN
    * strictly below the high-water mark are dropped as redelivery. */
  private def drain(maxPull: Int = 65536): Unit = synchronized {
    var pulled = 0
    var more = true
    while (more && pulled < maxPull) {
      source.poll() match {
        case Some((lsn, bytes)) if lsn >= lastPolledLsn =>
          if (lsn > lastPolledLsn) { lastPolledLsn = lsn; lastPolledSeq = 0L }
          else lastPolledSeq += 1L
          buffer.append(Frame(lsn, lastPolledSeq, bytes))
          pulled += 1
        case Some(_) => () // redelivered below-watermark frame: drop
        case None => more = false
      }
    }
  }

  override def initialOffset(): Offset = LsnOffset(0L)

  override def deserializeOffset(json: String): Offset = LsnOffset.parse(json)

  override def getDefaultReadLimit: ReadLimit =
    if (maxBatchRecords == Int.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxBatchRecords.toLong)

  /** Advance from `start` by the admission limit, snapped to a tx-safe
    * point; an oversized open tx either extends the batch to its COMMIT
    * (atomic mode, the default) or — with allowMidTxFlush — cuts at the
    * cap (the reference's overflow flush). Only CHANGE frames (I/U/D)
    * count against `ReadMaxRows` — control frames (BEGIN/COMMIT/RELATION)
    * are not rows, so `maxBatchRecords = n` admits n data rows, matching
    * Spark's rows-based ReadLimit semantics. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = synchronized {
    drain()
    val s = start.asInstanceOf[LsnOffset]
    val cap = limit match {
      case r: ReadMaxRows => r.maxRows().min(Int.MaxValue.toLong).toInt
      case _ => Int.MaxValue
    }
    val pending = buffer.iterator
      .filter(f => s.admits(f.lsn, f.seq) && availableNowTarget.covers(f.lsn, f.seq)).toVector
    if (pending.isEmpty) return s
    // The live cut rule (TxScan.liveSafe): no v1 tx, streamed tx or
    // prepared tx open. A streamed tx is open from 'S' until its
    // 'c'/whole-tx 'A'; a prepared tx from 'b' (or streamed 'p') until its
    // DECISION 'K'/'r'. Unlike replay, which re-reads an open streamed or
    // prepared tx from its first frame, the live source decodes only the
    // acked-and-released slice — a boundary inside either would ack its
    // early frames away before the commit or decision arrives, so both
    // gate safe points AND veto the overflow cut (atomicity over
    // admission liveness: one in-doubt XA tx head-of-line blocks later
    // data exactly as ordered delivery requires; PostgreSQL redelivers
    // from the unacked LSN on restart)
    var scan = scanTo(s)
    var safeWithinCap: LsnOffset = null // furthest tx-safe point within `cap` rows
    var firstSafeBeyond: LsnOffset = null // first tx-safe point past the cap (atomic fallback)
    var atCap: LsnOffset = null // key of the cap'th data row (overflow cut point)
    var atCapUnsplittable = false
    var rows = 0
    pending.foreach { f =>
      if (isChange(f.bytes)) rows += 1
      scan = scan.step(0, f.lsn, f.bytes)
      if (scan.liveSafe) {
        if (rows <= cap) safeWithinCap = LsnOffset(f.lsn, f.seq)
        else if (firstSafeBeyond == null) firstSafeBeyond = LsnOffset(f.lsn, f.seq)
      }
      if (rows == cap && atCap == null) {
        atCap = LsnOffset(f.lsn, f.seq)
        atCapUnsplittable = scan.streamed.nonEmpty || scan.prepared.nonEmpty
      }
    }
    if (safeWithinCap != null) safeWithinCap // atomic batch within the cap
    // overflow flush: cut mid-tx — v1 txns only (a streamed or prepared
    // tx's buffered frames would be lost across the cut)
    else if (allowMidTxFlush && atCap != null && !atCapUnsplittable) atCap
    else if (firstSafeBeyond != null) firstSafeBeyond // extend to the tx's COMMIT
    else s // tx open beyond everything buffered: wait for more
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used via SupportsAdmissionControl")

  override def reportLatestOffset(): Offset =
    synchronized { LsnOffset(lastPolledLsn, lastPolledSeq) }

  /** True when the source has delivered every frame at or before `e`. */
  private def filledTo(e: LsnOffset): Boolean =
    lastPolledLsn > e.lsn ||
      (lastPolledLsn == e.lsn && (e.seq == Long.MaxValue || lastPolledSeq >= e.seq))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = synchronized {
    val s = start.asInstanceOf[LsnOffset]
    val e = end.asInstanceOf[LsnOffset]
    // On restart the buffer may not yet hold (s, e] — PostgreSQL resends
    // everything after the slot's flushed LSN, but at socket pace. Wait
    // with backoff until the range is filled; NEVER plan a partial slice:
    // a batch missing frames that later commits would ack the slot past
    // them and lose rows permanently. If the source cannot supply the
    // range in time, fail the batch — Spark retries it, nothing is acked.
    val deadline = System.nanoTime() + restartFillTimeoutMs * 1000000L
    drain()
    while (!filledTo(e) && System.nanoTime() < deadline) {
      Thread.sleep(10)
      drain()
    }
    if (!filledTo(e))
      throw new IllegalStateException(
        s"pgcdc-live: replication source did not redeliver frames up to $e within " +
          s"${restartFillTimeoutMs}ms (reached lsn=$lastPolledLsn seq=$lastPolledSeq); " +
          "failing the batch so it is retried — the slot is not acked, nothing is lost")
    val slice = buffer.iterator
      .filter(f => s.admits(f.lsn, f.seq) && e.covers(f.lsn, f.seq))
      .map(f => (f.lsn, f.seq, f.bytes)).toVector
    // Relation registry and open txid as of the slice start.
    val scan = scanTo(s)
    Array(LivePartition(scan.relations.values.toVector, slice, scan.txid))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[LivePartition]
      new PartitionReader[InternalRow] {
        private val serializer = PgCdcReplayTable.encoder.createSerializer()
        private val it = LiveDecode.decode(p.relationFrames, p.frames, p.openTxid)
        private var current: InternalRow = _
        override def next(): Boolean =
          if (it.hasNext) { current = serializer(it.next()).copy(); true } else false
        override def get(): InternalRow = current
        override def close(): Unit = ()
      }
    }

  /** Slot ack (A12): everything at or below `end` is durably processed —
    * advance the slot's flushed LSN and release the driver buffer. The
    * slot ack is LSN-granular while offsets are (lsn, seq): if the batch
    * boundary cuts an equal-LSN run mid-way (or more frames at that LSN
    * could still arrive), ack only up to the PREVIOUS lsn so the server
    * still redelivers the partially-consumed run after a crash — the
    * leftover duplicates are filtered by the composite offset. */
  override def commit(end: Offset): Unit = synchronized {
    val e = end.asInstanceOf[LsnOffset]
    head = scanTo(e)
    while (buffer.nonEmpty && e.covers(buffer.head.lsn, buffer.head.seq)) buffer.removeHead()
    val runComplete = e.seq == Long.MaxValue ||
      (lastPolledLsn > e.lsn && !buffer.exists(_.lsn == e.lsn))
    source.advance(if (runComplete) e.lsn else e.lsn - 1)
  }

  override def stop(): Unit = source.close()
}

final case class LivePartition(relationFrames: Vector[(Long, Array[Byte])],
                               frames: Vector[(Long, Long, Array[Byte])],
                               openTxid: Long) extends InputPartition

/** Decode for live slices through [[TxAssembler]]: relation registry
  * seeded from the snapshot, txid seeded from the open transaction at the
  * slice start (so an overflow-flushed tx's tail records keep their
  * txid). Slice frames are (lsn, seq, bytes), contiguous in the buffer:
  * the first frame's seq seeds the arrival sequence, so the buffer's
  * composite key rides into the records and applyChanges can order
  * equal-LSN frames. */
object LiveDecode {
  def decode(relationFrames: Vector[(Long, Array[Byte])],
             frames: Vector[(Long, Long, Array[Byte])],
             initialTxid: Long): Iterator[ChangeRecord] =
    TxAssembler.decode(Seed(relationFrames.map(_._2), initialTxid, frames.headOption.fold(0L)(_._2)),
      frames.iterator.map(f => (f._1, f._3)), 0)
}

package graft.sources

import java.nio.file.{Files, Paths}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.cdc.ChangeRecord
import graft.wal.FrameFile

/** Replay decode shared by the batch and streaming paths: one captured
  * frame file/stream → ChangeRecords through [[TxAssembler]]. */
object ReplayDecode {

  /** Decode frames [emitFrom, emitUntil) of a frame sequence that starts
    * at the beginning of a capture: decoding starts at frame 0 from an
    * empty seed, and frames before `emitFrom` rebuild state but emit
    * nothing. The streaming source instead seeds each batch from its
    * index (see [[PgCdcReplayStream]]). */
  def decode(frames: Vector[(Long, Array[Byte])],
             emitFrom: Int, emitUntil: Int): Iterator[ChangeRecord] =
    TxAssembler.decode(Seed.empty, frames.iterator.take(emitUntil), emitFrom)

  /** Distributed batch replay: files are the unit of parallelism (each
    * captured WAL segment decodes independently — executors decode, the
    * driver only lists files). */
  def batch(spark: SparkSession, pathGlob: String): Dataset[ChangeRecord] = {
    implicit val enc = Encoders.product[ChangeRecord]
    spark.read.format("binaryFile").load(pathGlob)
      .select("path", "content")
      .as(Encoders.tuple(Encoders.STRING, Encoders.BINARY))
      .mapPartitions(_.flatMap { case (path, bytes) =>
        TxAssembler.decode(Seed.empty, FrameFile.frames(bytes, path), 0, path)
      })
  }

  def batchDf(spark: SparkSession, pathGlob: String): DataFrame = batch(spark, pathGlob).toDF()
}

/** DataSourceV2 streaming source replaying a captured pgoutput frame file
  * as micro-batches — the Spark-native counterpart of the reference's
  * poll loop + tx assembly (`CdcEngine.java:84-138`, A4/A11/A12):
  *
  *  - offsets are frame positions whose LSN is checkpointed by Spark's
  *    offset log → restart resumes exactly where the last batch ended
  *    (the reference's `setFlushedLSN` ack, upgraded to effective
  *    exactly-once by the checkpoint, SURVEY.md §7.3.1);
  *  - batch boundaries only land on transaction-safe points (no open tx),
  *    so a micro-batch always contains whole transactions — the
  *    reference's tx-atomic delivery (A11); `maxFramesPerTrigger` bounds
  *    batch size like `maxBatchSize` bounds the reference's batches, but
  *    snapped to the next safe point rather than mid-tx flushed;
  *  - a batch costs O(batch), not O(file): the driver indexes the file
  *    once, and each batch reads and decodes only its own byte range,
  *    seeded from that index (see [[ReplayIndex]]);
  *  - `commit(end)` is where a live source would advance the replication
  *    slot's flushed LSN (A12); for replay it's a no-op.
  *
  * Usage: `spark.readStream.format("pgcdc-replay").option("path", f).load()`.
  */
class PgCdcReplayProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "pgcdc-replay"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PgCdcReplayTable.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new PgCdcReplayTable(properties.asScala.toMap)
}

object PgCdcReplayTable {
  /** The [[ChangeRecord]] encoder of both CDC sources' readers, derived
    * once per JVM: deriving it by reflection costs ~0.2 s of CPU, too
    * much to pay in every batch's read task. */
  val encoder: ExpressionEncoder[ChangeRecord] = ExpressionEncoder[ChangeRecord]()
  val schema: StructType = encoder.schema
}

class PgCdcReplayTable(options: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"pgcdc-replay(${options.getOrElse("path", "?")})"
  override def schema(): StructType = PgCdcReplayTable.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = PgCdcReplayTable.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new PgCdcReplayStream(
            options.getOrElse("path", sys.error("pgcdc-replay: 'path' option required")),
            options.get("maxFramesPerTrigger").map(_.toInt).getOrElse(Int.MaxValue),
            options.get("allowMidTxFlush").exists(_.toBoolean))
      }
    }
}

final case class FrameOffset(frame: Int) extends Offset {
  override def json(): String = s"""{"frame":$frame}"""
}

class PgCdcReplayStream(path: String, maxFramesPerTrigger: Int,
                        allowMidTxFlush: Boolean = false) extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private lazy val index: ReplayIndex = ReplayIndex(path)

  override def initialOffset(): Offset = FrameOffset(0)

  override def deserializeOffset(json: String): Offset =
    FrameOffset("""\d+""".r.findFirstIn(json).map(_.toInt).getOrElse(0))

  override def getDefaultReadLimit: ReadLimit =
    if (maxFramesPerTrigger == Int.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxFramesPerTrigger.toLong)

  /** Admission control: advance from `start` by the rate limit, snapped
    * back to the furthest tx-safe point. When a single transaction
    * exceeds the limit: by default advance to the NEXT safe point so the
    * whole tx still ships in one batch (atomicity over memory);
    * with `allowMidTxFlush=true`, cut AT the limit even mid-tx — the
    * reference's overflow flush (`CdcEngine.java:121-124`), bounding
    * batch memory for pathological transactions at the cost of
    * batch-level atomicity for that tx (the next batch is seeded with the
    * open txid, so txids stay correct across the cut; at-least-once
    * redelivery on a crash between the two halves is absorbed by the
    * idempotent applyChanges MERGE). Stateless: restart recovery needs no
    * driver state beyond the checkpointed offset. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[FrameOffset].frame
    val cap = limit match {
      case r: ReadMaxRows => r.maxRows().min(Int.MaxValue.toLong).toInt
      case _ => Int.MaxValue
    }
    val target = math.min(index.frames.toLong, s.toLong + cap).toInt
    val snapped = index.safeAtOrBefore(target)
    if (snapped > s) FrameOffset(snapped)
    else if (allowMidTxFlush && target > s) FrameOffset(target)
    else FrameOffset(index.safeAfter(s).getOrElse(s))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used via SupportsAdmissionControl")

  override def reportLatestOffset(): Offset = FrameOffset(index.frames)

  /** Replay files are immutable — nothing to snapshot for AvailableNow. */
  override def prepareForTriggerAvailableNow(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    Array(index.partition(path, start.asInstanceOf[FrameOffset].frame,
      end.asInstanceOf[FrameOffset].frame))

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[ReplayPartition]
      new PartitionReader[InternalRow] {
        private val serializer = PgCdcReplayTable.encoder.createSerializer()
        private val it = TxAssembler.decode(p.seed,
          FrameFile.frames(FrameFile.readRange(p.path, p.byteFrom, p.byteUntil), p.path, p.readFrom),
          p.from - p.readFrom, p.path)
        private var current: InternalRow = _
        override def next(): Boolean =
          if (it.hasNext) { current = serializer(it.next()).copy(); true } else false
        override def get(): InternalRow = current
        override def close(): Unit = ()
      }
    }

  /** Live-source analogue: advance the slot's flushed/applied LSN
    * (`CdcEngine.java:132-137`). Replay keeps its progress in Spark's
    * checkpoint, so nothing to do here. */
  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** One replay batch: emit frames [from, until) by reading frames
  * [readFrom, until) — bytes [byteFrom, byteUntil) of `path` — from
  * `seed`. `readFrom` < `from` only while a streamed or prepared
  * transaction is open at `from`. */
final case class ReplayPartition(path: String, readFrom: Int, from: Int, until: Int,
                                 byteFrom: Long, byteUntil: Long, seed: Seed) extends InputPartition

/** Driver-side index of a frame file, built in one pass and holding no
  * frame bytes: per frame boundary i, the byte offset, the boundary scan
  * state (open txid, open units, relation registry — shared between
  * boundaries it does not change at) and the arrival seq of frame i; plus
  * the replay-safe boundaries, the only cut points besides mid-tx flushes.
  *
  * The seed rule: a batch emitting from boundary `from` reads from the
  * first frame of the earliest streamed or prepared transaction still
  * open at `from` (else from `from` itself), seeded with the relations,
  * open txid and seq at that frame. Every transaction whose records the
  * batch can emit is then read whole; ones that start earlier closed
  * before `from`, so they emit nothing. An in-doubt prepared transaction
  * makes every later batch read back to its 'b' — at most the cost of
  * decoding from frame 0. */
private[sources] final class ReplayIndex(offsets: Array[Long], scans: Array[TxScan],
                                         seqs: Array[Int], safe: Array[Int]) {
  def frames: Int = seqs.length

  /** Position in `safe` of the first replay-safe boundary after `at`. */
  private def after(at: Int): Int = {
    val i = java.util.Arrays.binarySearch(safe, at)
    if (i >= 0) i + 1 else -i - 1
  }

  /** The furthest replay-safe boundary at or before `at` (0 is safe). */
  def safeAtOrBefore(at: Int): Int = safe(after(at) - 1)

  /** The first replay-safe boundary after `at`, if any. */
  def safeAfter(at: Int): Option[Int] = safe.lift(after(at))

  def partition(path: String, from: Int, until: Int): ReplayPartition = {
    val readFrom = scans(from).readFrom(from)
    val seq = if (readFrom < frames) seqs(readFrom).toLong else 0L
    ReplayPartition(path, readFrom, from, until, offsets(readFrom), offsets(until),
      scans(readFrom).seed(seq))
  }
}

private[sources] object ReplayIndex {
  def apply(path: String): ReplayIndex = {
    val offsets = Array.newBuilder[Long]
    val scans = Array.newBuilder[TxScan]
    val seqs = Array.newBuilder[Int]
    val safe = Array.newBuilder[Int]
    var scan = TxScan()
    var offset = 0L
    var lastLsn = Long.MinValue
    var seq = 0
    var i = 0
    offsets += 0L; scans += scan; safe += 0
    FrameFile.frames(Files.readAllBytes(Paths.get(path)), path).foreach { case (lsn, bytes) =>
      seq = if (lsn == lastLsn) seq + 1 else 0
      lastLsn = lsn
      seqs += seq
      scan = try scan.step(i, lsn, bytes)
        catch { case NonFatal(e) => throw new FrameDecodeException(lsn, seq, path, e) }
      i += 1
      offset += FrameFile.HeaderBytes + bytes.length
      offsets += offset; scans += scan
      if (scan.replaySafe) safe += i
    }
    new ReplayIndex(offsets.result(), scans.result(), seqs.result(), safe.result())
  }
}

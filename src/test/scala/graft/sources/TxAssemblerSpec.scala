package graft.sources

import java.nio.ByteBuffer
import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.scalacheck.Gen
import org.scalacheck.rng.{Seed => GenSeed}
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.ChangeRecord
import graft.wal.{FrameFile, PgOutput, PgOutputEncoder}

/** The one transaction assembler behind both sources, seeded mid-stream.
  *
  * Property: the seeded replay stream against decode-from-frame-0. Generated
  * captures mixing v1 transactions, interleaved v2 streamed transactions
  * with subtransaction aborts, v3 prepared transactions (committed, rolled
  * back, left in doubt, and prepared through STREAM PREPARE), TRUNCATE,
  * equal-LSN runs and mid-stream RELATION changes are drained through
  * `PgCdcReplayStream` (latestOffset → planInputPartitions → reader, no
  * SparkSession) at random batch sizes, with and without mid-tx flush.
  * Raw ScalaCheck generators with a fixed seed, as in PgArrayLiteralSpec. */
class TxAssemblerSpec extends AnyFunSuite {

  import PgOutput._
  import TxAssemblerSpec._

  private val e = PgOutputEncoder
  private val relV1 = RelationMeta(1, "public", "t", Vector(
    RelationColumn("id", 20, -1, 0), RelationColumn("v", 1043, -1, 0)))
  private val relV2 = relV1.copy(columns = relV1.columns :+ RelationColumn("w", 23, -1, 0))

  private def capture(seed: Long, actions: Int): Capture = {
    val rnd = new Random(seed)
    val frames = mutable.ArrayBuffer.empty[(Long, Array[Byte])]
    val safe = mutable.ArrayBuffer(true)
    val readFrom = mutable.ArrayBuffer(0)
    var lsn = 1000000L
    var rel = relV1
    var v1Open = false
    var preparing = false
    val streamed = mutable.LinkedHashMap.empty[Int, (Int, Vector[Int])] // xid → (first S, subxids)
    val undecided = mutable.LinkedHashMap.empty[String, Int] // gid → first frame
    var nextXid = 500
    var nextSub = 100000
    var rowId = 0
    // `fresh` frames get an LSN no other frame shares: BEGINs and
    // singletons, so txids (BEGIN lsn / own lsn) stay unique
    def emit(bytes: Array[Byte], fresh: Boolean = false): Unit = {
      lsn += (if (!fresh && rnd.nextInt(3) == 0) 0 else 1)
      frames += ((lsn, bytes))
      if (fresh) lsn += 1
      safe += !v1Open && !preparing && streamed.isEmpty
      readFrom += (streamed.valuesIterator.map(_._1) ++ undecided.valuesIterator)
        .foldLeft(frames.size)(math.min)
    }
    def row(): Seq[Option[String]] = {
      rowId += 1
      Seq(Some(rowId.toString), Some(s"v$rowId")) ++
        (if (rel eq relV2) Seq(if (rnd.nextBoolean()) Some("7") else None) else Nil)
    }
    def dml(): Array[Byte] = rnd.nextInt(6) match {
      case 0 => e.update(1, row(), unchanged = Set(1))
      case 1 => e.delete(1, row())
      case 2 => e.truncate(Seq(1))
      case _ => e.insert(1, row())
    }
    def flipRelation(): Array[Byte] = {
      rel = if (rel eq relV1) relV2 else relV1
      e.relation(rel)
    }
    def newGid(): String = { nextXid += 1; s"gid-$nextXid" }

    emit(e.relation(rel))
    (0 until actions).foreach { _ =>
      rnd.nextInt(10) match {
        case 0 | 1 => // v1 transaction
          v1Open = true
          emit(e.begin(), fresh = true)
          if (rnd.nextInt(4) == 0) emit(e.originMessage(7L, "upstream"))
          (0 to rnd.nextInt(4)).foreach(_ => emit(dml()))
          if (rnd.nextInt(4) == 0) emit(e.logicalMessage("mark", Array[Byte](1, 2)))
          v1Open = false
          emit(e.commit())
        case 2 => // out-of-tx singleton, or a non-transactional message
          if (rnd.nextBoolean()) emit(e.insert(1, row()), fresh = true)
          else emit(e.logicalMessage("tick", Array[Byte](3), transactional = false), fresh = true)
        case 3 | 4 => // a segment of a new or an open streamed transaction
          val xid =
            if (streamed.nonEmpty && rnd.nextBoolean()) streamed.keys.toVector(rnd.nextInt(streamed.size))
            else { nextXid += 1; streamed(nextXid) = (frames.size, Vector.empty); nextXid }
          emit(e.streamStart(xid, firstSegment = streamed(xid)._2.isEmpty))
          (0 to rnd.nextInt(3)).foreach { _ =>
            val msgXid =
              if (rnd.nextInt(3) == 0) {
                nextSub += 1
                streamed(xid) = (streamed(xid)._1, streamed(xid)._2 :+ nextSub)
                nextSub
              } else xid
            if (rnd.nextInt(8) == 0) emit(e.streamed(msgXid, flipRelation()))
            emit(e.streamed(msgXid, dml()))
          }
          emit(e.streamStop())
        case 5 if streamed.nonEmpty => // resolve, or abort a subtransaction of, a streamed tx
          val (xid, (start, subs)) = streamed.toVector(rnd.nextInt(streamed.size))
          rnd.nextInt(5) match {
            case 0 if subs.nonEmpty => emit(e.streamAbort(xid, subs(rnd.nextInt(subs.size))))
            case 1 => streamed -= xid; emit(e.streamAbort(xid, xid))
            case 2 =>
              val gid = newGid()
              streamed -= xid; undecided(gid) = start
              emit(e.streamPrepare(xid, gid))
            case _ => streamed -= xid; emit(e.streamCommit(xid))
          }
        case 6 => // v3 prepared transaction: content phase b..P
          val gid = newGid()
          undecided(gid) = frames.size
          preparing = true
          emit(e.beginPrepare(nextXid, gid))
          (0 to rnd.nextInt(3)).foreach(_ => emit(dml()))
          preparing = false
          emit(e.prepare(nextXid, gid))
        case 7 if undecided.nonEmpty => // decide a prepared transaction
          val gid = undecided.keys.toVector(rnd.nextInt(undecided.size))
          undecided -= gid
          emit(if (rnd.nextBoolean()) e.commitPrepared(0, gid) else e.rollbackPrepared(0, gid))
        case 8 => emit(flipRelation())
        case _ => ()
      }
    }
    // resolve every streamed tx (the file must end on a safe point);
    // prepared ones may stay in doubt
    streamed.keys.toVector.foreach { xid => streamed -= xid; emit(e.streamCommit(xid)) }
    undecided.keys.toVector.foreach { gid =>
      if (rnd.nextBoolean()) { undecided -= gid; emit(e.commitPrepared(0, gid)) }
    }
    Capture(frames.toVector, safe.toVector, readFrom.toVector)
  }

  private val fromRow = ExpressionEncoder[ChangeRecord]().resolveAndBind().createDeserializer()

  /** Drain `path` the way a streaming query does, batch by batch. */
  private def drain(path: String, frames: Int, maxFrames: Int, midTx: Boolean): Drain = {
    val stream = new PgCdcReplayStream(path, maxFrames, midTx)
    val batches = Vector.newBuilder[Vector[ChangeRecord]]
    val cuts = Vector.newBuilder[Int]
    val parts = Vector.newBuilder[ReplayPartition]
    var start = 0
    while (start < frames) {
      val end = stream.latestOffset(FrameOffset(start), stream.getDefaultReadLimit)
        .asInstanceOf[FrameOffset].frame
      assert(end > start, s"no progress from frame $start")
      val p = stream.planInputPartitions(FrameOffset(start), FrameOffset(end))
      assert(p.length === 1)
      val reader = stream.createReaderFactory().createReader(p(0))
      val recs = Vector.newBuilder[ChangeRecord]
      while (reader.next()) recs += fromRow(reader.get())
      reader.close()
      batches += recs.result(); cuts += end; parts += p(0).asInstanceOf[ReplayPartition]
      start = end
    }
    Drain(batches.result(), cuts.result(), parts.result())
  }

  private def write(frames: Vector[(Long, Array[Byte])]): String = {
    val path = Files.createTempFile("replay-seed", ".frames")
    path.toFile.deleteOnExit()
    FrameFile.write(path.toString, frames)
    path.toString
  }

  private val cases = for {
    seed <- Gen.long
    actions <- Gen.choose(5, 60)
    maxFrames <- Gen.choose(1, 40)
  } yield (seed, actions, maxFrames)

  test("seeded replay batches concatenate to decode-from-0, record for record") {
    var genSeed = GenSeed(20261017L)
    val seen = mutable.Set.empty[String] // shapes the generated captures covered
    (0 until 150).foreach { _ =>
      val (seed, actions, maxFrames) = cases.apply(Gen.Parameters.default, genSeed).get
      genSeed = genSeed.next
      val c = capture(seed, actions)
      val n = c.frames.size
      val path = write(c.frames)
      val offsets = c.frames.scanLeft(0L)(_ + FrameFile.HeaderBytes + _._2.length)
      val expected = ReplayDecode.decode(c.frames, 0, n).toVector
      Seq(false, true).foreach { midTx =>
        val where = s"capture seed=$seed actions=$actions maxFrames=$maxFrames midTx=$midTx"
        val d = drain(path, n, maxFrames, midTx)
        val got = d.batches.flatten
        val diff = got.zipAll(expected, null, null).indexWhere { case (a, b) => a != b }
        assert(diff < 0, s"$where: record $diff is ${got.lift(diff)}, expected ${expected.lift(diff)}")
        d.partitions.foreach { p =>
          assert(p.readFrom === c.readFrom(p.from), s"$where: partition $p")
          assert(p.byteFrom === offsets(p.readFrom), s"$where: partition $p")
          assert(p.byteUntil === offsets(p.until), s"$where: partition $p")
        }
        // a transaction spans batches only across mid-tx flush cuts
        if (!midTx) assert(d.cuts.forall(c.safe), where)
        d.batches.zipWithIndex
          .flatMap { case (b, i) => b.map(_.txid).distinct.map(_ -> i) }
          .groupBy(_._1).foreach { case (txid, occ) =>
            val in = occ.map(_._2).sorted
            in.zip(in.tail).foreach { case (j, k) =>
              assert(midTx && (j until k).forall(i => !c.safe(d.cuts(i))),
                s"$where: txid $txid split across batches $j and $k")
            }
          }
        if (d.cuts.exists(!c.safe(_))) seen += "mid-tx cut"
        if (d.partitions.exists(p => p.readFrom < p.from)) seen += "read-back"
      }
      c.frames.sliding(2).foreach {
        case Seq((a, _), (b, _)) if a == b => seen += "equal lsn"
        case _ => ()
      }
      c.frames.foreach { case (_, f) =>
        seen += f(0).toChar.toString
        if (f(0) == 'A' && int32(f, 1) != int32(f, 5)) seen += "subtx abort"
      }
      if (c.frames.count(_._2(0) == 'R') > 1) seen += "relation change"
    }
    val shapes = Set("B", "S", "c", "A", "subtx abort", "b", "K", "r", "p", "T",
      "equal lsn", "relation change", "mid-tx cut", "read-back")
    assert(shapes.subsetOf(seen), s"uncovered: ${shapes -- seen}")
  }

  private def int32(bytes: Array[Byte], off: Int): Int = ByteBuffer.wrap(bytes, off, 4).getInt

  test("a frame that fails to decode is reported with its lsn, seq and file") {
    val insert = e.insert(1, Seq(Some("1"), Some("a")))
    val frames = Vector((100L, e.relation(relV1)), (101L, e.begin()),
      (101L, insert.dropRight(3)), (102L, e.commit()))
    val direct = intercept[FrameDecodeException](ReplayDecode.decode(frames, 0, frames.size).toVector)
    assert((direct.lsn, direct.seq) === ((101L, 1L)))
    val path = write(frames)
    val viaStream = intercept[FrameDecodeException](drain(path, frames.size, 10, midTx = false))
    assert((viaStream.lsn, viaStream.seq) === ((101L, 1L)))
    assert(viaStream.getMessage.contains(path), viaStream.getMessage)
    assert(viaStream.getMessage.contains("lsn=101 seq=1"), viaStream.getMessage)
  }

  test("live: a batch is seeded with the relation version at its start, not the newest drained") {
    // RELATION rides inside the transaction that first uses the new
    // version; the source drains it before planning the batch ahead of it
    val fs = Vector(
      e.relation(relV1), e.begin(), e.insert(1, Seq(Some("1"), Some("a"))), e.commit(),
      e.begin(), e.insert(1, Seq(Some("2"), Some("b"))), e.commit(),
      e.begin(), e.relation(relV2), e.insert(1, Seq(Some("3"), Some("c"), Some("7"))), e.commit()
    ).zipWithIndex.map { case (f, i) => (100L + i, f) }
    val id = s"seed${System.nanoTime()}"
    ScriptedFrameSource.register(id, fs)
    val stream = new PgCdcLiveStream(new ScriptedFrameSource(Map("fixtureId" -> id)), maxBatchRecords = 1)
    var start = LsnOffset(0L)
    val batches = (1 to 3).map { _ =>
      val end = stream.latestOffset(start, stream.getDefaultReadLimit).asInstanceOf[LsnOffset]
      val p = stream.planInputPartitions(start, end)(0).asInstanceOf[LivePartition]
      stream.commit(end)
      start = end
      LiveDecode.decode(p.relationFrames, p.frames, p.openTxid).toVector
    }
    assert(batches.map(_.map(r => (r.txid, r.columns))) === Vector(
      Vector((101L, Map("id" -> "1", "v" -> "a"))),
      Vector((104L, Map("id" -> "2", "v" -> "b"))),
      Vector((107L, Map("id" -> "3", "v" -> "c", "w" -> "7")))))
  }
}

object TxAssemblerSpec {
  /** A generated capture and, per frame boundary, what its construction
    * says: whether replay may cut there (no v1 tx, b..P phase or streamed
    * tx open), and the first frame of the earliest streamed or prepared
    * transaction open there (the boundary itself when none is). */
  final case class Capture(frames: Vector[(Long, Array[Byte])],
                           safe: Vector[Boolean], readFrom: Vector[Int])

  final case class Drain(batches: Vector[Vector[ChangeRecord]], cuts: Vector[Int],
                         partitions: Vector[ReplayPartition])
}

package perfbench

import java.util.concurrent.ConcurrentHashMap

import graft.sources.ReplicationFrameSource
import graft.wal.FrameFile

/** Open-loop load generator for `pgcdc-live`: replays a frame file at a
  * fixed offered rate of changes per second. Frame i is due at
  * `start + changesThrough(i) / rate`, so a transaction's COMMIT is due
  * with its last change. The schedule never slows down when the pipeline
  * does; a stall is charged to every transaction due during it.
  *
  * Options (passed through the reader): `paced.path` (frame file),
  * `paced.rate` (changes per second). The start instant is published in
  * [[PacedFrameSource.starts]] under the path, for the freshness clock.
  */
class PacedFrameSource(options: Map[String, String]) extends ReplicationFrameSource {
  private val path = options("paced.path")
  private val frames = FrameFile.readPath(path)
  private val dueNanos = PacedFrameSource.schedule(frames, options("paced.rate").toDouble).toArray
  private val start = System.nanoTime()
  PacedFrameSource.starts.put(path, start)
  private var next = 0

  override def poll(): Option[(Long, Array[Byte])] = synchronized {
    if (next < frames.size && System.nanoTime() - start >= dueNanos(next)) {
      next += 1
      Some(frames(next - 1))
    } else None
  }

  /** Frames are replayed from a file; there is no slot to acknowledge. */
  override def advance(lsn: Long): Unit = ()

  override def close(): Unit = ()
}

object PacedFrameSource {
  /** Start instant (System.nanoTime) of the source replaying each path. */
  val starts = new ConcurrentHashMap[String, Long]()

  private def isChange(tag: Byte): Boolean = tag == 'I' || tag == 'U' || tag == 'D'

  /** Due time of each frame, in nanoseconds after the start. */
  def schedule(frames: Vector[(Long, Array[Byte])], rate: Double): Vector[Long] = {
    var changes = 0L
    frames.map { case (_, bytes) =>
      if (isChange(bytes(0))) changes += 1
      (changes * 1e9 / rate).toLong
    }
  }
}

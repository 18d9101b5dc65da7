package graft.wal

import java.io.{DataOutputStream, FileOutputStream, RandomAccessFile}
import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}

/** Captured-WAL frame file: the replay container for the streaming source
  * (no live PostgreSQL in the sandbox — SURVEY.md §4.3 "file-replay CDC
  * source"). Layout: repeated `[int64 lsn][int32 len][len bytes pgoutput
  * frame]`, big-endian, LSNs non-decreasing within a file (consecutive
  * pgoutput messages may share a WAL position). */
object FrameFile {

  /** Bytes of the `[lsn][len]` header in front of every frame. */
  val HeaderBytes = 12

  def write(path: String, frames: Seq[(Long, Array[Byte])]): Unit = {
    val out = new DataOutputStream(new FileOutputStream(path))
    try frames.foreach { case (lsn, bytes) =>
      out.writeLong(lsn); out.writeInt(bytes.length); out.write(bytes)
    } finally out.close()
  }

  /** Thrown when a file ends mid-frame (truncated header or body) or a
    * header is impossible — corruption must not be silently masked as a
    * clean end-of-stream. */
  final class CorruptFrameException(msg: String) extends java.io.IOException(msg)

  /** The one frame parser: lazily yields (lsn, frame) from `bytes`, which
    * hold whole frames (a file, or a byte range of one that starts on a
    * frame boundary — its first frame is frame `firstFrame` of the file).
    * `source` names the input in error messages. */
  def frames(bytes: Array[Byte], source: String = "frame bytes",
             firstFrame: Int = 0): Iterator[(Long, Array[Byte])] =
    new Iterator[(Long, Array[Byte])] {
      private val buf = ByteBuffer.wrap(bytes)
      private var index = firstFrame
      override def hasNext: Boolean = buf.hasRemaining
      override def next(): (Long, Array[Byte]) = {
        def corrupt(msg: String) = new CorruptFrameException(s"$msg in $source")
        if (buf.remaining() < HeaderBytes)
          throw corrupt(s"truncated frame header at frame $index: ${buf.remaining()} " +
            s"trailing bytes (need $HeaderBytes)")
        val lsn = buf.getLong()
        val len = buf.getInt()
        if (len < 0) throw corrupt(s"negative frame length $len at frame $index, lsn=$lsn")
        if (buf.remaining() < len)
          throw corrupt(s"truncated frame body at frame $index, lsn=$lsn: " +
            s"need $len bytes, have ${buf.remaining()}")
        val frame = new Array[Byte](len)
        buf.get(frame)
        index += 1
        lsn -> frame
      }
    }

  def read(bytes: Array[Byte]): Vector[(Long, Array[Byte])] = frames(bytes).toVector

  def readPath(path: String): Vector[(Long, Array[Byte])] =
    frames(Files.readAllBytes(Paths.get(path)), path).toVector

  /** Bytes [from, until) of the file at `path`. */
  def readRange(path: String, from: Long, until: Long): Array[Byte] = {
    val f = new RandomAccessFile(path, "r")
    try {
      val out = new Array[Byte](Math.toIntExact(until - from))
      f.seek(from)
      f.readFully(out)
      out
    } finally f.close()
  }
}

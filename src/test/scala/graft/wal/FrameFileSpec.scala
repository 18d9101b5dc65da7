package graft.wal

import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Frame-file container: round-trip, and the clean-EOF vs mid-frame
  * truncation distinction (corruption must throw, not silently drop the
  * tail of a replay). */
class FrameFileSpec extends AnyFunSuite {

  private def fixture(): (String, Seq[(Long, Array[Byte])]) = {
    val frames = Seq(100L -> Array[Byte](1, 2, 3), 101L -> Array[Byte](4, 5, 6, 7))
    val path = Files.createTempDirectory("ff").resolve("f.frames").toString
    FrameFile.write(path, frames)
    (path, frames)
  }

  test("round-trip: write then readPath returns every frame") {
    val (path, frames) = fixture()
    val got = FrameFile.readPath(path)
    assert(got.map(_._1) === frames.map(_._1))
    assert(got.map(_._2.toSeq) === frames.map(_._2.toSeq))
  }

  test("a file truncated mid-frame throws CorruptFrameException (not clean EOF)") {
    val (path, _) = fixture()
    val bytes = Files.readAllBytes(Paths.get(path))
    val truncated = Paths.get(path + ".trunc")
    Files.write(truncated, bytes.dropRight(2)) // cuts into the last frame body
    intercept[FrameFile.CorruptFrameException] {
      FrameFile.readPath(truncated.toString)
    }
    intercept[FrameFile.CorruptFrameException] {
      FrameFile.read(bytes.dropRight(2))
    }
    // truncation inside the 12-byte header is corruption too
    intercept[FrameFile.CorruptFrameException] {
      FrameFile.read(bytes ++ Array[Byte](0, 0, 0))
    }
    // a complete header with a negative length is corruption too, named
    // by frame index, lsn and (for a file) path
    val negative = ByteBuffer.allocate(12).putLong(100L).putInt(-1).array()
    val err = intercept[FrameFile.CorruptFrameException](FrameFile.read(bytes ++ negative))
    assert(err.getMessage.contains("at frame 2, lsn=100"), err.getMessage)
    Files.write(truncated, negative)
    val fromFile = intercept[FrameFile.CorruptFrameException] {
      FrameFile.readPath(truncated.toString)
    }
    assert(fromFile.getMessage.contains(s"at frame 0, lsn=100 in $truncated"), fromFile.getMessage)
  }

  test("EOF at a frame boundary is a clean end") {
    val (path, frames) = fixture()
    assert(FrameFile.readPath(path).length === frames.length)
    assert(FrameFile.read(Files.readAllBytes(Paths.get(path))).length === frames.length)
  }
}

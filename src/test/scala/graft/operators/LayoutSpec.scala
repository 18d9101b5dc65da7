package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Z-order layout: the interleave is bit-exact and the aligned-quadrant
  * clustering prunes files on either dimension. */
class LayoutSpec extends SparkSpec {

  test("zValue interleaves bits exactly (reference implementation parity)") {
    def spreadRef(x: Long): Long = {
      var v = 0L
      var i = 0
      while (i < 16) { v |= ((x >> i) & 1L) << (2 * i); i += 1 }
      v
    }
    def zRef(a: Long, b: Long): Long = spreadRef(a & 0xFFFF) | (spreadRef(b & 0xFFFF) << 1)
    import spark.implicits._
    val samples = Seq(0L, 1L, 2L, 3L, 255L, 256L, 65535L, 65536L, 12345L, 54321L)
    val pairs = for (a <- samples; b <- samples) yield (a, b)
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), Layout.zValue(col("a"), col("b")).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (a, b, z) => assert(z === zRef(a, b), s"z($a,$b)") }
  }

  test("z-ordered layout prunes files on EITHER dimension") {
    import spark.implicits._
    // a 256x256 uniform grid, 16 z-range files with QUADRANT-ALIGNED
    // cuts: every file is a union of consecutive 64x64 Morton cells, so
    // a narrow filter on either dimension hits at most the 4 cells of
    // one quadrant row/column — deterministically under any range-
    // sampler outcome (unaligned cuts could straddle a curve jump and
    // leave a file spanning one dim fully; the sampler's seed varies
    // with RDD id, which made this spec flaky). The contrast case: an
    // a-sorted layout leaves b at full width in every file.
    val grid = (for (a <- 0 until 256; b <- 0 until 256) yield (a.toLong, b.toLong))
      .toDF("a", "b").repartition(8)
    val zDir = java.nio.file.Files.createTempDirectory("zorder").toString
    Layout.zClustered(grid, "a", "b", files = 16).write.mode("overwrite").parquet(zDir)
    def fileRanges(dir: String): Seq[(Long, Long, Long, Long)] =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min("a"), max("a"), min("b"), max("b")).head()
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
    def hits(ranges: Seq[(Long, Long, Long, Long)], lo: Long, hi: Long,
             onB: Boolean): Int =
      ranges.count { case (aMin, aMax, bMin, bMax) =>
        if (onB) bMax >= lo && bMin <= hi else aMax >= lo && aMin <= hi }
    val zRanges = fileRanges(zDir)
    assert(zRanges.size >= 8)
    // b in [100,110]: z-layout must skip at least half the files
    assert(hits(zRanges, 100, 110, onB = true) <= zRanges.size / 2,
      s"b-filter should prune z-files, ranges=$zRanges")
    // a in [100,110]: same guarantee on the other interleaved dimension
    assert(hits(zRanges, 100, 110, onB = false) <= zRanges.size / 2,
      s"a-filter should prune z-files, ranges=$zRanges")
    // contrast: sorting by a alone leaves b at full width — zero pruning
    val aDir = java.nio.file.Files.createTempDirectory("asort").toString
    grid.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .write.mode("overwrite").parquet(aDir)
    val aRanges = fileRanges(aDir)
    assert(hits(aRanges, 100, 110, onB = true) === aRanges.size,
      s"single-dim sort should leave b unprunable, got $aRanges")
  }
}

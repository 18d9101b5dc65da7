package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) layout: the aligned-quadrant clustering that store
  * compaction ([[graft.streaming.StreamingOps.compactStore]]'s
  * `clusterBy`) writes, so every compacted file spans a narrow
  * rectangle of the two clustering dimensions and parquet min/max
  * stats prune scans filtered on EITHER one. The reference has no
  * physical layout at all (single stream, one thread, SURVEY.md §4.1).
  */
object Layout {

  /** Spread the low 16 bits of `x` to the even bit positions of a
    * 32-bit lane (the classic magic-constant bit dilation — public
    * domain "Interleave bits by binary magic numbers" from the
    * Stanford Bit Twiddling Hacks). Pure integer arithmetic on longs,
    * codegen'd, reproducible by any engine. */
  private def spreadBits16(x: Column): Column = {
    val m0 = x.bitwiseAND(lit(0xFFFFL))
    val m1 = m0.bitwiseOR(shiftleft(m0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val m2 = m1.bitwiseOR(shiftleft(m1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val m3 = m2.bitwiseOR(shiftleft(m2, 2)).bitwiseAND(lit(0x33333333L))
    m3.bitwiseOR(shiftleft(m3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Z-order (Morton) value of two 16-bit dimensions: bit-interleave
    * a and b (a in even positions). Sorting by this value clusters
    * rows that are close in BOTH dimensions, so contiguous file
    * splits carry narrow min/max ranges on every interleaved column —
    * multi-dimensional scan pruning from a single sort, the layout
    * trick single-column sorting cannot give (sorting by a leaves b's
    * per-file span at full width). */
  def zValue(a: Column, b: Column): Column =
    spreadBits16(a).bitwiseOR(shiftleft(spreadBits16(b), 1))

  /** Cluster `df` Z-ordered on two (16-bit-bucketized) dimensions:
    * range-partition by the interleaved value and sort within
    * partitions, so writing the result gives one file per range, each
    * spanning a narrow rectangle of (a, b) space. The cost is one range
    * shuffle, the same as any global sort.
    *
    * File cuts snap to ALIGNED Morton quadrants: the range key is the
    * z-value's top ceil(log2(files)) OCCUPIED bits, so a cut can only
    * fall between whole quadrants and no file ever straddles a
    * high-order curve jump (an unaligned cut near e.g. (255,127)→
    * (0,128) produces a file spanning one dimension fully — zero
    * pruning on that file, and the cut placement depended on range
    * sampling, so the pruning guarantee was statistical). With aligned
    * cuts every file covers a union of consecutive power-of-two
    * rectangles, so a narrow filter on either dimension prunes all
    * files outside its quadrant row/column regardless of where the
    * sampler put the cuts. Cost: one extra max() aggregation to find
    * the occupied bit width — noise against the sort shuffle. Skew
    * note: a hot quadrant cannot split across files under aligned
    * cuts; for heavily skewed dimensions raise `files` (deeper, finer
    * quadrants) rather than relying on the sampler. */
  private[graft] def zClustered(df: DataFrame, a: String, b: String,
                                files: Int): DataFrame = {
    val z = df.withColumn("__z", zValue(col(a), col(b)))
    val zmaxRow = z.agg(max("__z")).head()
    val zmax = if (zmaxRow.isNullAt(0)) 1L else math.max(zmaxRow.getLong(0), 1L)
    val occupiedBits = 64 - java.lang.Long.numberOfLeadingZeros(zmax)
    val fileBits = 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(files, 1).toLong * 2 - 1) - 1 // ceil(log2(files))
    val shift = math.max(occupiedBits - fileBits, 0)
    z.repartitionByRange(files, shiftrightunsigned(col("__z"), shift))
      .sortWithinPartitions("__z")
      .drop("__z")
  }
}

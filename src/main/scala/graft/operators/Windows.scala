package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, pmod}

/** Window partition keys. */
object Windows {

  /** A partition key that puts every row of `key`'s relation in ONE
    * window group: `pmod(key, 1)`, which is 0 for every non-null key.
    * For windows over inputs that are already small (a top-k result, a
    * 256-row bucket-count table), where `Window.orderBy` alone would
    * give the same single group but WindowExec would log "No Partition
    * Defined" as if a corpus-scale input were moving to one task.
    *
    * Assumptions:
    *  - `key` is non-null. `pmod(null, 1)` is null, so a null key would
    *    split the rows into a null group and a 0 group.
    *  - Spark never constant-folds the key. `EliminateWindowPartitions`
    *    drops foldable partition expressions (a literal `lit(0)` key
    *    would vanish); `pmod(key, 1)` is not foldable because `key` is a
    *    column. If a Spark release simplified it to a literal, the
    *    window would silently become a "No Partition Defined"
    *    single-partition window again; `WindowsSpec` checks that the
    *    physical WindowExec keeps a non-empty partitionSpec. */
  def singleGroupKey(key: Column): Column = pmod(key, lit(1))
}

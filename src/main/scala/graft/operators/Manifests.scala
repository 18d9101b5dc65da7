package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.hadoop.fs.Path

/** The shared commit protocol for store compaction (text corpus store
  * and IVF index store): a consolidated epoch directory under an
  * underscore-prefixed `_compaction` dir (invisible to Spark's file
  * index, so half-written epochs can never leak into readers) plus a
  * tiny manifest whose atomic appearance is the single commit point.
  * Readers construct their view from the manifest alone; superseded
  * inputs are garbage the best-effort GC may or may not have removed.
  *
  * Commit primitive (r15 — the distributed-filesystem port): manifests
  * are VERSIONED, one immutable `manifest-<epoch>.json` per commit,
  * and [[read]] selects the highest epoch. Committing is a tmp write
  * plus a rename to a destination that never existed — the one rename
  * semantic every Hadoop filesystem shares (atomic on HDFS and POSIX;
  * on an object store the destination appears as one complete object).
  * The old single-file protocol needed rename-OVER-existing, which is
  * POSIX-only; a legacy `manifest.json` is still read (lowest
  * priority) so pre-port stores stay readable. Epoch numbers are
  * strictly growing by construction (every writer commits `prev+1`),
  * so max-epoch selection and last-writer-wins agree. Superseded
  * manifest files are garbage, reclaimed with the epoch dirs by
  * [[gcSuperseded]].
  */
object Manifests {

  val CompactDir = "_compaction"

  /** The batch half of the layout: every store keeps each ingest batch
    * in its own `__ingest_batch=<id>` directory, and this object is the
    * one place that names and parses those directories. */
  val BatchCol = "__ingest_batch"

  private def batchId(name: String): Option[Long] =
    if (name.startsWith(s"$BatchCol=")) name.stripPrefix(s"$BatchCol=").toLongOption
    else None

  /** The batch directories directly under `root`, in numeric id order
    * (9 before 10); empty when `root` is absent. A child is a batch only
    * if it is a directory named `__ingest_batch=<long>`: `_stats`,
    * `_compaction`, `.tmp-ingest-*` and non-numeric suffixes are skipped,
    * by every reader and lifecycle verb alike. */
  def batches(root: String): Seq[(Long, Path)] =
    Fs.list(Fs.path(root)).filter(_.isDirectory)
      .flatMap(f => batchId(f.getPath.getName).map((_, f.getPath)))
      .sortBy(_._1)

  /** The newest batch directory under `root` with id strictly below `b`. */
  def newestBelow(root: String, b: Long): Option[(Long, Path)] =
    batches(root).takeWhile(_._1 < b).lastOption

  private val ManifestRe = """manifest-(\d+)\.json""".r
  private val BodyRe = """"epoch"\s*:\s*(\d+).*"covers_upto"\s*:\s*(-?\d+)""".r

  private def parse(s: String): Option[(Long, Long)] =
    BodyRe.findFirstMatchIn(s).map(g => (g.group(1).toLong, g.group(2).toLong))

  /** Read a store's committed (epoch, coversUpTo), if any: the highest
    * versioned manifest, else the legacy single-file manifest. */
  def read(storeDir: String): Option[(Long, Long)] = {
    val mdir = Fs.path(storeDir, CompactDir)
    val versioned = Fs.list(mdir).filter(_.isFile)
      .flatMap(f => f.getPath.getName match {
        case ManifestRe(e) => Some((e.toLong, f.getPath))
        case _ => None
      })
    if (versioned.nonEmpty) parse(Fs.readString(versioned.maxBy(_._1)._2))
    else {
      val legacy = new Path(mdir, "manifest.json")
      if (Fs.isFile(legacy)) parse(Fs.readString(legacy)) else None
    }
  }

  /** Path of an epoch's consolidated data. */
  def epochPath(storeDir: String, epoch: Long): String =
    s"$storeDir/$CompactDir/epoch-$epoch"

  /** Commit an epoch: tmp write + rename to the fresh versioned
    * manifest name. Everything before this call is invisible;
    * everything after it is the new view. */
  def flip(storeDir: String, epoch: Long, coversUpTo: Long): Unit = {
    val mdir = Fs.path(storeDir, CompactDir)
    Fs.mkdirs(mdir)
    val tmp = new Path(mdir, s".manifest-$epoch.tmp")
    Fs.writeString(tmp, s"""{"epoch":$epoch,"covers_upto":$coversUpTo}""")
    Fs.rename(tmp, new Path(mdir, s"manifest-$epoch.json"))
  }

  /** Recursive delete, no-op on absence — for best-effort GC of
    * superseded inputs (readers never depend on it). */
  def rmTree(p: String): Unit = Fs.rmTree(new Path(p))

  /** The compacted READ view of a store: the committed epoch (if any)
    * unioned with `live` partitions STRICTLY ABOVE the watermark —
    * superseded partitions excluded even if the GC never ran, the batch
    * column normalized to LONG so as-of `< id` filters work uniformly. Without
    * a manifest, `live` passes through untouched. The epoch∪live union
    * is by NAME with missing columns null-filled on either side — the
    * schema-evolution policy (a column added after the last compaction
    * exists only on the live side until the next compaction folds it
    * into the epoch; see `StreamingOps.readCorpusStore`). */
  /** `knownSchema` (a serving relation's pinned schema) replaces the
    * epoch read's mergeSchema footer pass — one fewer Spark job per
    * scan on the serving path; None keeps full schema discovery (the
    * programmatic default). */
  def readView(spark: SparkSession, storeDir: String, live: Option[DataFrame],
               knownSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : Option[DataFrame] =
    read(storeDir) match {
      case None => live
      case Some((e, covers)) =>
        val reader = knownSchema match {
          case Some(s) => spark.read.schema(s)
          case None => spark.read.option("mergeSchema", "true")
        }
        val compacted = reader.parquet(epochPath(storeDir, e))
        Some(live match {
          case None => compacted
          case Some(l) =>
            compacted.unionByName(l.filter(col(BatchCol) > covers)
              .withColumn(BatchCol, col(BatchCol).cast("long")),
              allowMissingColumns = true)
        })
    }

  /** Fold `view`'s rows with batch ≤ `uptoBatch` into the next epoch
    * and commit: epoch write (optionally `partitionCols`-partitioned,
    * the batch column carried as a LONG data column), atomic manifest
    * flip, then best-effort GC of superseded batch dirs and the previous
    * epoch. The watermark is REQUIRED monotone (review r12): a shrunken
    * `uptoBatch` would write an epoch missing the previous epoch's
    * tail rows and then delete their only copy — silent data loss. */
  /** `clusterBy` (exclusive with `partitionCols`): cluster the epoch's
    * FILES by the given key — one column range-partitions + sorts (each
    * file spans a narrow range of it); two columns use the aligned
    * Morton z-order ([[Layout.zClustered]] — each file spans a narrow
    * rectangle of BOTH). The point is per-FILE min/max tightness: the
    * stats sidecar records epoch bounds per file, so a clustered epoch
    * is skippable INSIDE the leaf (the Delta OPTIMIZE ZORDER model). */
  def compactView(view: DataFrame, storeDir: String,
                  uptoBatch: Long, targetFileRows: Long,
                  partitionCols: Seq[String], gc: Boolean = true,
                  clusterBy: Seq[String] = Nil): (Long, Long) = {
    require(clusterBy.isEmpty || partitionCols.isEmpty,
      "compactView: clusterBy and partitionCols are exclusive")
    require(clusterBy.size <= 2,
      "compactView: clusterBy supports one (range) or two (z-order) columns")
    val prev = read(storeDir)
    prev.foreach { case (_, covers) =>
      require(uptoBatch >= covers,
        s"compaction watermark must not shrink: uptoBatch=$uptoBatch < " +
          s"previous covers_upto=$covers at $storeDir — rows above the new " +
          "watermark would be dropped from the epoch and their previous copy GC'd")
    }
    val toCompact = view.filter(col(BatchCol) <= uptoBatch)
      .withColumn(BatchCol, col(BatchCol).cast("long"))
    val epoch = prev.map(_._1 + 1).getOrElse(0L)
    val n = toCompact.count()
    require(n > 0, s"no rows at batch <= $uptoBatch in $storeDir")
    val files = math.max(1L, (n + targetFileRows - 1) / targetFileRows).toInt
    val clustered = clusterBy match {
      case Seq(c) =>
        toCompact.repartitionByRange(files, col(c)).sortWithinPartitions(c)
      case Seq(a, b) => Layout.zClustered(toCompact, a, b, files)
      case _ =>
        if (partitionCols.isEmpty) toCompact.repartition(files)
        else toCompact.repartition(files, partitionCols.map(col): _*)
    }
    val w = clustered.write.mode("overwrite")
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*))
      .parquet(epochPath(storeDir, epoch))
    flip(storeDir, epoch, uptoBatch)
    // best-effort GC — idempotent, readers already ignore these. With
    // `gc=false` (compaction under LIVE ingest) superseded inputs are
    // retained: a reader that built its view from the PRE-flip manifest
    // can still be mid-execution over a superseded partition, and
    // deleting its files would either fail the in-flight batch or —
    // worse, under ignoreMissingFiles — silently drop corpus rows from
    // a dedup probe. Run [[gcSuperseded]] later (next batch boundary,
    // a maintenance window) to reclaim; the committed view never
    // changes either way.
    if (gc) { gcSuperseded(storeDir); () }
    (epoch, uptoBatch)
  }

  /** Delete everything the committed manifest has superseded: batch
    * dirs ≤ `covers_upto`, epoch dirs other than the committed one, and
    * manifest files older than the committed one. Idempotent; safe
    * whenever no reader is mid-execution on a view older than the
    * current manifest (readers built after the flip never touch these
    * files). Returns the number of dirs removed. */
  def gcSuperseded(storeDir: String): Int =
    read(storeDir) match {
      case None => 0
      case Some((epoch, covers)) =>
        val batchDirs = batches(storeDir).takeWhile(_._1 <= covers).map(_._2)
        val mdir = Fs.path(storeDir, CompactDir)
        val oldEpochs = Fs.list(mdir)
          .filter(f => f.isDirectory && f.getPath.getName.startsWith("epoch-") &&
            f.getPath.getName.stripPrefix("epoch-").toLong != epoch)
          .map(_.getPath)
        val oldManifests = Fs.list(mdir).filter(_.isFile)
          .flatMap(f => f.getPath.getName match {
            case ManifestRe(e) if e.toLong != epoch => Some(f.getPath)
            case _ => None
          })
        (batchDirs ++ oldEpochs).foreach(Fs.rmTree)
        oldManifests.foreach(Fs.rm)
        batchDirs.length + oldEpochs.length
    }
}

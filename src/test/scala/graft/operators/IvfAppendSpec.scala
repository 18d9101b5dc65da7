package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Incremental IVF maintenance (VERDICT r11 missing #2): a day-1 index
  * serves day-2 vectors after `appendIvfBatch` WITHOUT a rebuild —
  * fixed centroids, per-list partition append, staleness gauge from the
  * build-time cohesion baseline, idempotent same-batch replay. */
class IvfAppendSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16

  /** Separated clusters, split half/half into day-1 / day-2 members of
    * the SAME clusters — the daily-crawl shape: tomorrow's data comes
    * from today's distribution. */
  private def clustered(nClusters: Int, perCluster: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = for {
      c <- 0 until nClusters
      m <- 0 until perCluster
    } yield ((c * perCluster + m).toLong,
      centers(c).map(x => (x + rnd.nextGaussian() * 0.01).toFloat))
    rows.toDF("vec_id", "embedding")
  }

  private lazy val fixture = {
    val df = clustered(8, 16, seed = 41L)
    val day1 = df.filter(col("vec_id") % 2 === 0)
    val day2 = df.filter(col("vec_id") % 2 === 1)
    val path = java.nio.file.Files.createTempDirectory("ivf-append").toString
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(day1, nLists = 8), path)
    Storage.releaseAll()
    val base = Similarity.readIvfIndex(spark, path)
    val report = Similarity.appendIvfBatch(base, day2, path, batchId = 7L)
    (df, day2, path, base, report)
  }

  test("day-2 vectors are served by the day-1 index without rebuild") {
    val (df, _, path, base, _) = fixture
    val appended = Similarity.readIvfIndex(spark, path)
    // centroids did NOT move — no rebuild happened
    assert(appended.centroids.map(_.toSeq).toSeq === base.centroids.map(_.toSeq).toSeq)
    // probe with a day-2 vector: its exact top-5 (cluster-mates, half of
    // them day-2) must come back from the appended index
    val probeVec = df.filter(col("vec_id") === 1L)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val got = Similarity.probeIvf(appended, probeVec, k = 5, nProbe = 3,
      excludeId = Some(1L)).select("vec_id").as[Long].collect().toSet
    val want = Similarity.cosineTopK(df, probeId = 1L, k = 5)
      .select("vec_id").as[Long].collect().toSet
    assert(got === want, "appended index must reach exact recall on separated clusters")
    assert(got.exists(_ % 2 == 1), "day-2 neighbors must be servable")
  }

  test("append report carries the staleness gauge against the build baseline") {
    val (_, day2, _, _, report) = fixture
    assert(report.nAppended === day2.count())
    assert(report.buildMeanCohesion.isDefined, "meta sidecar baseline must load")
    // same distribution both days: cohesion gap ~ 0 (tight clusters ⇒
    // both means ~1); a drifted increment would push the gap positive
    assert(report.staleness.exists(s => math.abs(s) <= 0.05),
      s"staleness gauge off: $report")
    assert(report.meanCohesion.exists(_ > 0.9),
      s"tight clusters assign cohesively: $report")
  }

  test("probe plans over the appended index stay partition-pruned") {
    val (df, _, path, _, _) = fixture
    val appended = Similarity.readIvfIndex(spark, path)
    val probeVec = df.filter(col("vec_id") === 1L)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val probe = Similarity.probeIvf(appended, probeVec, k = 5, nProbe = 2,
      excludeId = Some(1L))
    val plan = probe.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*list".r.findFirstIn(plan).isDefined,
      s"expected the list filter INSIDE PartitionFilters:\n$plan")
  }

  test("replaying the same batch id overwrites, never duplicates") {
    val (_, day2, path, base, _) = fixture
    val before = Similarity.readIvfIndex(spark, path).assigned.count()
    val report2 = Similarity.appendIvfBatch(base, day2, path, batchId = 7L)
    assert(Similarity.readIvfIndex(spark, path).assigned.count() === before)
    assert(report2.nAppended === day2.count())
  }

  test("compactIvfIndex folds base + appends into one epoch; probes unchanged and pruned") {
    // private fixture copy — this test mutates the store layout
    val df = clustered(8, 16, seed = 43L)
    val day1 = df.filter(col("vec_id") % 2 === 0)
    val day2 = df.filter(col("vec_id") % 2 === 1)
    val path = java.nio.file.Files.createTempDirectory("ivf-compact").toString
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(day1, nLists = 8), path)
    Storage.releaseAll()
    val base = Similarity.readIvfIndex(spark, path)
    Similarity.appendIvfBatch(base, day2, path, batchId = 0L)
    val probeVec = df.filter(col("vec_id") === 1L)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    def probe() = Similarity.probeIvf(Similarity.readIvfIndex(spark, path),
      probeVec, k = 5, nProbe = 3, excludeId = Some(1L))
    val before = probe().as[(Long, Double)].collect().toSeq
    val rowsBefore = Similarity.readIvfIndex(spark, path).assigned
      .select(col("vec_id"), col(Manifests.BatchCol).cast("long"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(rowsBefore.size === 128)

    assert(Similarity.compactIvfIndex(spark, path, uptoBatch = 0L) === ((0L, 0L)))
    // base and append partitions folded and GC'd; rows identical
    assert(!new java.io.File(s"$path/assigned/${Manifests.BatchCol}=-1").exists())
    assert(!new java.io.File(s"$path/assigned/${Manifests.BatchCol}=0").exists())
    val rowsAfter = Similarity.readIvfIndex(spark, path).assigned
      .select(col("vec_id"), col(Manifests.BatchCol).cast("long"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(rowsAfter === rowsBefore)
    // probe results identical, plan still pruned on list
    assert(probe().as[(Long, Double)].collect().toSeq === before)
    val plan = probe().queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*list".r.findFirstIn(plan).isDefined,
      s"expected list pruning over the compacted epoch:\n$plan")

    // ingest continues: a later append lands beside the epoch and serves
    val extra = Seq((900L, Array.fill(dim)(0.25f))).toDF("vec_id", "embedding")
    Similarity.appendIvfBatch(Similarity.readIvfIndex(spark, path), extra, path, batchId = 1L)
    val all = Similarity.readIvfIndex(spark, path).assigned
      .select("vec_id").as[Long].collect().toSet
    assert(all.contains(900L) && all.size === 129)
  }

  test("an empty batch reports no cohesion and no staleness, not maximum drift") {
    // ADVICE r12: curatedIngestToStore can hand the index an all-rejected
    // micro-batch; the null avg must surface as None, not unbox to 0.0
    // (which read as staleness == build baseline — a spurious alarm)
    val (df, _, path, _, _) = fixture
    val empty = df.filter(col("vec_id") < 0)
    val report = Similarity.appendIvfBatch(
      Similarity.readIvfIndex(spark, path), empty, path, batchId = 99L)
    assert(report.nAppended === 0L)
    assert(report.meanCohesion.isEmpty, s"empty batch observed a cohesion: $report")
    assert(report.buildMeanCohesion.isDefined, "baseline still loads")
    assert(report.staleness.isEmpty, s"empty batch must not gauge drift: $report")
  }
}

package graft.streaming

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec

/** Streaming incremental aggregate-view maintenance (the live end of
  * q143): the maintained view must equal the from-scratch aggregate
  * over the materialized state after every run, survive commit-drop
  * crash replay byte-for-value, and GC must keep exactly the
  * commit-aware survivor set. */
class IvmIngestSpec extends SparkSpec with AdaptiveSparkPlanHelper with Eventually {
  import spark.implicits._

  private val schema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("op", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("lsn", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("g", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))

  private def writeInput(dir: java.nio.file.Path, name: String, mtime: Long,
                         rows: Seq[(String, Long, Long, Long, String, Double)]): Unit = {
    val f = dir.resolve(name)
    val lines = rows.map { case (op, lsn, seq, k, g, v) =>
      s"""{"op":"$op","lsn":$lsn,"seq":$seq,"k":$k,"g":"$g","v":$v}"""
    }
    java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    assert(f.toFile.setLastModified(mtime))
  }

  // batch 0: three inserts across two groups
  private val b0 = Seq(
    ("I", 100L, 1L, 1L, "a", 1.0), ("I", 110L, 2L, 2L, "a", 2.0),
    ("I", 120L, 3L, 3L, "b", 3.0))
  // batch 1: key 1 moves group a->b with a new value, key 2 deleted,
  // key 4 inserted into a, key 3 re-valued in place
  private val b1 = Seq(
    ("U", 200L, 4L, 1L, "b", 10.0), ("D", 210L, 5L, 2L, "a", 0.0),
    ("I", 220L, 6L, 4L, "a", 7.0), ("U", 230L, 7L, 3L, "b", 4.0))

  private def viewRows(df: org.apache.spark.sql.DataFrame) =
    df.select("g", "n_rows", "n_val", "sum_val")
      .as[(String, Long, Long, Double)].collect().sorted.toSeq

  private def recompute(base: org.apache.spark.sql.DataFrame) =
    viewRows(base.groupBy("g")
      .agg(count(lit(1)).as("n_rows"), count(col("v")).as("n_val"),
        sum(coalesce(col("v"), lit(0.0))).as("sum_val")))

  /** Runs the sink over every input file in `inDir`, one file per batch. */
  private def runSink(inDir: java.nio.file.Path, store: String, ckpt: String): Unit = {
    val changes = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(inDir.toString)
    val q = StreamingOps.ivmIngestToStore(changes, store, ckpt,
      rowKeys = Seq("k"), groupKeys = Seq("g"), valueCol = "v")
    try q.processAllAvailable() finally q.stop()
  }

  test("ivmIngestToStore: view == recompute after every run; crash replay idempotent; GC commit-aware") {
    val inDir = java.nio.file.Files.createTempDirectory("ivm-in")
    val store = java.nio.file.Files.createTempDirectory("ivm-store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ivm-ck").toString
    val t0 = System.currentTimeMillis() - 60000
    writeInput(inDir, "0.json", t0, b0)
    writeInput(inDir, "1.json", t0 + 30000, b1)

    def run(): Unit = {
      val changes = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(inDir.toString)
      val q = StreamingOps.ivmIngestToStore(changes, store, ckpt,
        rowKeys = Seq("k"), groupKeys = Seq("g"), valueCol = "v")
      q.processAllAvailable()
      q.stop()
    }
    run()

    val view = StreamingOps.readIvmView(spark, store).get
    val base = StreamingOps.readIvmBase(spark, store).get
    // expected final state: k1 (b,10), k3 (b,4), k4 (a,7); k2 gone
    assert(viewRows(view) === Seq(("a", 1L, 1L, 7.0), ("b", 2L, 2L, 14.0)))
    // the view equals the from-scratch aggregate over the base
    val recomputed = base.groupBy("g")
      .agg(count(lit(1)).as("n_rows"), count(col("v")).as("n_val"),
        sum(coalesce(col("v"), lit(0.0))).as("sum_val"))
    assert(viewRows(view) === viewRows(recomputed))

    // crash after the batch-1 writes but before its checkpoint commit:
    // the replay reads snapshots < 1 and must reproduce identical values
    val before = viewRows(view)
    assert(java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", "1")))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
    run()
    assert(viewRows(StreamingOps.readIvmView(spark, store).get) === before)
    assert(viewRows(StreamingOps.readIvmView(spark, store).get) ===
      viewRows(StreamingOps.readIvmBase(spark, store).get.groupBy("g")
        .agg(count(lit(1)).as("n_rows"), count(col("v")).as("n_val"),
          sum(coalesce(col("v"), lit(0.0))).as("sum_val"))))

    // GC: both areas hold snapshots 0 and 1; the commit-aware rule
    // keeps the newest at-or-below the last committed batch (1) —
    // snapshot 0 goes in each area
    val removed = StreamingOps.gcIvmSnapshots(store, Some(ckpt))
    assert(removed === 2)
    val left = graft.operators.Fs.listDirNames(graft.operators.Fs.path(s"$store/view"))
      .filter(_.startsWith(s"${StreamingOps.IngestBatchCol}="))
    assert(left === Seq(s"${StreamingOps.IngestBatchCol}=1"))
    // reads still serve the surviving snapshot
    assert(viewRows(StreamingOps.readIvmView(spark, store).get) === before)
  }

  test("an empty batch lands no base and no view; replay and GC across the gap stay commit-aware") {
    val inDir = java.nio.file.Files.createTempDirectory("ivm-in")
    val store = java.nio.file.Files.createTempDirectory("ivm-store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ivm-ck").toString
    val t0 = System.currentTimeMillis() - 60000
    writeInput(inDir, "0.json", t0, b0)
    writeInput(inDir, "1.json", t0 + 10000, Nil) // batch 1: no rows
    writeInput(inDir, "2.json", t0 + 20000, b1)

    def run(): Unit = {
      val changes = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(inDir.toString)
      val q = StreamingOps.ivmIngestToStore(changes, store, ckpt,
        rowKeys = Seq("k"), groupKeys = Seq("g"), valueCol = "v")
      q.processAllAvailable()
      q.stop()
    }
    def snapshots(area: String): Seq[String] =
      graft.operators.Fs.listDirNames(graft.operators.Fs.path(s"$store/$area"))
        .filter(_.startsWith(s"${StreamingOps.IngestBatchCol}=")).sorted
    def ids(bs: Int*): Seq[String] = bs.map(b => s"${StreamingOps.IngestBatchCol}=$b")
    def viewAt(b: Int) = viewRows(spark.read.parquet(s"$store/view/${ids(b).head}"))
    def baseRows = StreamingOps.readIvmBase(spark, store).get
      .select("k", "g", "v").as[(Long, String, Double)].collect().toSeq.sorted
    val wantView = Seq(("a", 1L, 1L, 7.0), ("b", 2L, 2L, 14.0))
    val wantBase = Seq((1L, "b", 10.0), (3L, "b", 4.0), (4L, "a", 7.0))
    def commit(id: Int) = java.nio.file.Paths.get(ckpt, "commits", id.toString)
    run()
    assert(java.nio.file.Files.exists(commit(2)), "three batches ran")

    // the empty batch landed nothing: both areas' ids are sparse
    assert(snapshots("base") === ids(0, 2))
    assert(snapshots("view") === ids(0, 2))
    assert(viewAt(0) === Seq(("a", 2L, 2L, 3.0), ("b", 1L, 1L, 3.0)))
    assert(viewRows(StreamingOps.readIvmView(spark, store).get) === wantView)
    assert(baseRows === wantBase)

    // crash after batch 2's writes, before its commit: the last committed
    // batch is the empty one — GC keeps snapshot 0 (the newest at or
    // below batch 1) and the uncommitted 2 in each area
    assert(java.nio.file.Files.deleteIfExists(commit(2)))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", ".2.crc"))
    assert(StreamingOps.gcIvmSnapshots(store, Some(ckpt)) === 0)
    assert(snapshots("base") === ids(0, 2))
    assert(snapshots("view") === ids(0, 2))

    // the replay of batch 2 reads base 0 and view 0 and reproduces both areas
    run()
    assert(viewRows(StreamingOps.readIvmView(spark, store).get) === wantView)
    assert(baseRows === wantBase)

    // committed through 2: base 0 and view 0 go
    assert(StreamingOps.gcIvmSnapshots(store, Some(ckpt)) === 2)
    assert(snapshots("base") === ids(2))
    assert(snapshots("view") === ids(2))
    assert(viewRows(StreamingOps.readIvmView(spark, store).get) === wantView)
    assert(baseRows === wantBase)
  }

  test("a non-empty batch's view write reads the pinned apply join: no window, no base scan") {
    val inDir = java.nio.file.Files.createTempDirectory("ivm-in")
    val store = java.nio.file.Files.createTempDirectory("ivm-store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ivm-ck").toString
    val t0 = System.currentTimeMillis() - 60000
    writeInput(inDir, "0.json", t0, b0)
    writeInput(inDir, "1.json", t0 + 30000, b1)
    // the physical plans of the writes into view/; the stream's session
    // copies the listeners registered before it starts
    val viewWrites = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        collect(qe.executedPlan) { case w: DataWritingCommandExec => w }.foreach { w =>
          w.cmd match {
            case c: InsertIntoHadoopFsRelationCommand
                if c.outputPath.toString.contains(s"/view/${StreamingOps.IngestBatchCol}=") =>
              viewWrites.add(w.child)
            case _ =>
          }
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try runSink(inDir, store, ckpt)
    finally spark.listenerManager.unregister(listener)
    eventually(timeout(Span(30, Seconds))) { assert(viewWrites.size === 2) }
    viewWrites.forEach { plan =>
      assert(collect(plan) { case w: WindowExec => w }.isEmpty,
        s"the view write runs no latest-per-key window:\n$plan")
      val baseScans = collect(plan) {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains(s"$store/base")) => f
      }
      assert(baseScans.isEmpty, s"the view write reads no base/ snapshot:\n$plan")
      assert(collect(plan) { case m: InMemoryTableScanExec => m }.nonEmpty,
        s"the view write reads the persisted apply join:\n$plan")
    }
    assert(viewRows(StreamingOps.readIvmView(spark, store).get) ===
      recompute(StreamingOps.readIvmBase(spark, store).get))
  }

  test("no apply join or pinned batch stays cached, also when a batch throws inside the sink") {
    val inDir = java.nio.file.Files.createTempDirectory("ivm-in")
    val store = java.nio.file.Files.createTempDirectory("ivm-store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ivm-ck").toString
    val cache = spark.sharedState.cacheManager
    // what earlier suites left cached is not this sink's
    spark.catalog.clearCache()
    val t0 = System.currentTimeMillis() - 60000
    writeInput(inDir, "0.json", t0, b0)
    writeInput(inDir, "1.json", t0 + 10000, b1)
    runSink(inDir, store, ckpt)
    assert(cache.isEmpty, "two batches that landed")

    // batch 2 fails inside the sink after the apply join is persisted and
    // the base landed: a plain file where its view directory goes
    val viewDir = java.nio.file.Paths.get(store, "view")
    val parked = java.nio.file.Paths.get(store, "view-parked")
    java.nio.file.Files.move(viewDir, parked)
    java.nio.file.Files.write(viewDir, Array.emptyByteArray)
    writeInput(inDir, "2.json", t0 + 20000, Seq(("U", 300L, 8L, 4L, "b", 1.0)))
    intercept[StreamingQueryException](runSink(inDir, store, ckpt))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(store, "base", s"${StreamingOps.IngestBatchCol}=2")),
      "the batch failed after the base write")
    assert(cache.isEmpty, "a batch that threw")

    // the replay of batch 2 lands both areas
    java.nio.file.Files.delete(viewDir)
    java.nio.file.Files.move(parked, viewDir)
    runSink(inDir, store, ckpt)
    assert(cache.isEmpty, "the replayed batch")
    assert(viewRows(StreamingOps.readIvmView(spark, store).get) ===
      Seq(("b", 3L, 3L, 15.0)))
    assert(viewRows(StreamingOps.readIvmView(spark, store).get) ===
      recompute(StreamingOps.readIvmBase(spark, store).get))
  }
}

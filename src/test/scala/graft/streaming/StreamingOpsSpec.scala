package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

/** Streaming store sinks and monitors over file and MemoryStream sources
  * (crash replay of the dedup store sink, the windowed quality monitor). */
class StreamingOpsSpec extends SparkSpec {

  import spark.implicits._

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("dedupedIngestToStore: crash replay never double-admits or loses survivors") {
    import spark.implicits._
    val inDir = java.nio.file.Files.createTempDirectory("ingest-in")
    val store = java.nio.file.Files.createTempDirectory("ingest-store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ingest-store-ck").toString
    def writeInput(name: String, mtime: Long, docs: Seq[(Long, String)]): Unit = {
      val f = inDir.resolve(name)
      val lines = docs.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
      java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
      // FileStreamSource orders by modification time — make it explicit
      assert(f.toFile.setLastModified(mtime))
    }
    // two input files = two micro-batches (maxFilesPerTrigger=1)
    val t0 = System.currentTimeMillis() - 60000
    writeInput("0.json", t0, Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "totally fresh words appear in this one")))
    writeInput("1.json", t0 + 30000, Seq(
      (20L, "alpha beta gamma delta epsilon eta"), // near-dup of batch-0 survivor 10
      (21L, "and another unrelated document body here")))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    def run(): Unit = {
      val docs = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(inDir.toString)
      val q = StreamingOps.dedupedIngestToStore(docs, store, ckpt, threshold = 0.5)
      q.processAllAvailable()
      q.stop()
    }
    run()
    def storeRows(): Seq[(Long, Long)] =
      StreamingOps.readCorpusStore(spark, store).get
        .select(col("doc_id"), col(StreamingOps.IngestBatchCol).cast("long"))
        .as[(Long, Long)].collect().sorted.toSeq
    // batch 0 admits both (empty corpus); batch 1 drops the near-dup of
    // doc 10 and admits doc 21
    val expected = Seq((10L, 0L), (11L, 0L), (21L, 1L))
    assert(storeRows() === expected)

    // crash AFTER the batch-1 append but BEFORE its checkpoint commit:
    // drop commits/1 and restart — Spark replays batch 1 (same id). The
    // corpus view excludes __ingest_batch >= 1, so the replay recomputes
    // the identical survivors and the partition overwrite is a no-op.
    // (the local-FS .crc sibling must go with the file — a ChecksumFS
    // rename onto a stale crc throws; HDFS has no client-side siblings)
    def dropCommit1(): Unit = {
      assert(java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", "1")))
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
      ()
    }
    dropCommit1()
    run()
    assert(storeRows() === expected)

    // crash BETWEEN dedup and append: the partition never landed AND the
    // commit is missing — replay must rebuild it exactly
    dropCommit1()
    val part1 = new java.io.File(s"$store/${StreamingOps.IngestBatchCol}=1")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(part1)
    assert(!part1.exists)
    run()
    assert(storeRows() === expected)
  }

  test("qualityDriftMonitor: per-source drift surfaces in the windowed sheet") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, String)]
    val docs = in.toDF().toDF("ts", "source", "text")
    val out = StreamingOps.qualityDriftMonitor(docs, "ts", "source",
      window_ = "10 minutes", watermark = "5 minutes")
    val q = out.writeStream.format("memory").queryName("drift")
      .outputMode(OutputMode.Append).start()
    val prose = "the cat and the dog of a house is to be seen and the end is near"
    val soup = "zxq pqw wvb qqq kjl zzz yyy xxx www vvv uuu ttt sss rrr!!!"
    // window 0: src_a healthy; window 1: src_a degrades to word soup
    // while src_b stays healthy
    in.addData((ts(1), "src_a", prose), (ts(3), "src_a", prose),
      (ts(2), "src_b", prose))
    in.addData((ts(11), "src_a", soup), (ts(13), "src_a", soup),
      (ts(12), "src_b", prose))
    q.processAllAvailable()
    in.addData((ts(59), "src_b", prose)) // advance the watermark
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("drift").collect()
      .map(r => ((r.getAs[Timestamp]("w").toString, r.getAs[String]("source")),
        (r.getAs[Long]("n_docs"), r.getAs[Double]("mean_quality"),
          r.getAs[Long]("n_quality_keep")))).toMap
    val a0 = rows(("2024-01-01 10:00:00.0", "src_a"))
    val a1 = rows(("2024-01-01 10:10:00.0", "src_a"))
    val b1 = rows(("2024-01-01 10:10:00.0", "src_b"))
    assert(a0._1 === 2L && a1._1 === 2L)
    // the drift: src_a's mean quality drops hard, its keep-rate goes to 0
    assert(a0._2 > 0.5 && a0._3 === 2L)
    assert(a1._2 < 0.45 && a1._3 === 0L, s"a1=$a1")
    // the healthy source is unchanged across the same windows
    assert(b1._2 === a0._2 && b1._3 === 1L)
    // the per-window mean equals the batch kernel's per-doc scores
    // pushed through the monitor's own integer rounding (one-step
    // half-up: round(Σq·10⁴ / n) / 10⁴)
    import graft.operators.{TextAnalysis => TAo}
    val q4s = Seq(prose, prose).toDF("text")
      .select((TAo.qualityScoreKernel(org.apache.spark.sql.functions.col("text"))
        .cast(org.apache.spark.sql.types.DecimalType(14, 4)) * 10000)
        .cast("long").as("q4"))
      .as[Long].collect()
    val direct = ((2 * q4s.sum + q4s.length) / (2L * q4s.length)) / 10000.0
    assert(a0._2 === direct)
  }
}

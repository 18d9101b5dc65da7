package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Compaction CONCURRENT with live ingest (VERDICT r12 #2): the
  * watermark is enforced from the stream checkpoint's own commit log —
  * not trusted from the caller — so a compaction can never GC the
  * partition a crash-replay is about to overwrite; GC of superseded
  * inputs is deferred while the stream is live and reclaimed by
  * `gcStore` afterwards. */
class CompactLiveIngestSpec extends SparkSpec {
  import spark.implicits._

  private val schema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))

  private def writeInput(dir: java.nio.file.Path, name: String, mtime: Long,
                         docs: Seq[(Long, String)]): Unit = {
    val f = dir.resolve(name)
    val lines = docs.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
    java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    assert(f.toFile.setLastModified(mtime))
  }

  private def storeRows(store: String): Seq[(Long, Long)] =
    StreamingOps.readCorpusStore(spark, store).get
      .select(col("doc_id"), col(StreamingOps.IngestBatchCol).cast("long"))
      .as[(Long, Long)].collect().sorted.toSeq

  test("live compaction: checkpoint-enforced watermark, deferred GC, replay across the flip") {
    val inDir = java.nio.file.Files.createTempDirectory("live-in")
    val store = java.nio.file.Files.createTempDirectory("live-store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("live-ck").toString
    val t0 = System.currentTimeMillis() - 60000
    writeInput(inDir, "0.json", t0, Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "totally fresh words appear in this one")))
    writeInput(inDir, "1.json", t0 + 20000, Seq(
      (21L, "and another unrelated document body here")))

    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(inDir.toString)
    val q = StreamingOps.dedupedIngestToStore(docs, store, ckpt, threshold = 0.5)
    try {
      q.processAllAvailable()
      val before = storeRows(store)
      assert(before === Seq((10L, 0L), (11L, 0L), (21L, 1L)))
      assert(StreamingOps.lastCommittedBatch(ckpt) === Some(1L))

      // the stream is STILL ACTIVE. A watermark above the commit log is
      // refused — batch 2+ could be replayed after a crash and must
      // keep its own partition to overwrite.
      val e = intercept[IllegalArgumentException] {
        StreamingOps.compactStore(spark, store, uptoBatch = 5L,
          checkpoint = Some(ckpt))
      }
      assert(e.getMessage.contains("exceeds the checkpoint's last committed batch"))

      // at the committed watermark it proceeds — with GC DEFERRED: an
      // in-flight micro-batch may still execute over the pre-flip view.
      val cs = StreamingOps.compactStore(spark, store, uptoBatch = 1L,
        checkpoint = Some(ckpt))
      assert(cs === StreamingOps.CompactionState(0L, 1L))
      assert(new java.io.File(s"$store/${StreamingOps.IngestBatchCol}=0").exists(),
        "superseded partitions must survive a live compaction until gcStore")
      assert(storeRows(store) === before)

      // ingest continues across the flip: the next batch dedups against
      // the COMPACTED corpus (near-dup of epoch doc 10 rejected) and
      // lands above the watermark.
      writeInput(inDir, "2.json", t0 + 40000, Seq(
        (30L, "alpha beta gamma delta epsilon eta"),
        (31L, "completely different closing sentence body")))
      q.processAllAvailable()
      assert(storeRows(store) === before :+ ((31L, 2L)))
    } finally q.stop()

    // crash-replay ACROSS the compaction: drop the last commit so the
    // restarted stream replays batch 2 with the same id. Its partition
    // was above the watermark, so it is still there to overwrite —
    // the replay is idempotent, nothing double-admits or disappears.
    val expected = storeRows(store)
    assert(java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", "2")))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", ".2.crc"))
    val docs2 = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(inDir.toString)
    val q2 = StreamingOps.dedupedIngestToStore(docs2, store, ckpt, threshold = 0.5)
    try q2.processAllAvailable() finally q2.stop()
    assert(storeRows(store) === expected,
      "replaying the batch after a live compaction must reproduce the store")

    // the deferred GC reclaims superseded inputs once no pre-flip
    // reader can be in flight; the committed view is unchanged.
    assert(StreamingOps.gcStore(store) > 0)
    assert(!new java.io.File(s"$store/${StreamingOps.IngestBatchCol}=0").exists())
    assert(!new java.io.File(s"$store/${StreamingOps.IngestBatchCol}=1").exists())
    assert(new java.io.File(s"$store/${StreamingOps.IngestBatchCol}=2").exists(),
      "partitions above the watermark are live data, never GC'd")
    assert(storeRows(store) === expected)
    assert(StreamingOps.gcStore(store) === 0, "gcStore is idempotent")
  }

  test("a checkpoint with no committed batch refuses any live compaction") {
    val store = java.nio.file.Files.createTempDirectory("live-store2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("live-ck2").toString
    assert(StreamingOps.lastCommittedBatch(ckpt) === None)
    intercept[IllegalStateException] {
      StreamingOps.compactStore(spark, store, uptoBatch = 0L, checkpoint = Some(ckpt))
    }
  }

  test("compactIvfIndex enforces the same checkpoint watermark for the vector store") {
    val dim = 8
    val rnd = new scala.util.Random(7L)
    val emb = (0L until 64L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("live-ivf").toString
    graft.operators.Similarity.writeIvfIndex(
      graft.operators.Similarity.buildIvfIndex(emb, nLists = 4), path)
    graft.operators.Storage.releaseAll()
    // a checkpoint whose commit log stops at batch 0
    val ckpt = java.nio.file.Files.createTempDirectory("live-ivf-ck")
    java.nio.file.Files.createDirectories(ckpt.resolve("commits"))
    java.nio.file.Files.writeString(ckpt.resolve("commits/0"), "v1\n{}")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Similarity.compactIvfIndex(spark, path, uptoBatch = 3L,
        checkpoint = Some(ckpt.toString))
    }
    assert(e.getMessage.contains("exceeds the checkpoint's last committed batch"))
    // at the committed watermark: compacts, defers the assigned-dir GC
    val (epoch, covers) = graft.operators.Similarity.compactIvfIndex(
      spark, path, uptoBatch = 0L, checkpoint = Some(ckpt.toString))
    assert(epoch === 0L && covers === 0L)
    assert(new java.io.File(s"$path/assigned/${StreamingOps.IngestBatchCol}=-1")
      .exists(), "live IVF compaction defers GC of the superseded base partition")
    assert(graft.operators.Manifests.gcSuperseded(s"$path/assigned") > 0)
  }
}

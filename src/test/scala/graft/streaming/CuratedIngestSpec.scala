package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Streaming curated ingest: the full curation gate (quality /
  * repetition / exact dedup, optional markup clean) in front of the
  * cross-corpus dedup store — every stage exercised across
  * micro-batches, plus the crash-replay idempotence inherited from the
  * partition-overwrite contract. */
class CuratedIngestSpec extends SparkSpec {
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

  test("curatedIngestToStore: every gate bites across micro-batches; replay idempotent") {
    val inDir = java.nio.file.Files.createTempDirectory("cur-in")
    val store = java.nio.file.Files.createTempDirectory("cur-store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cur-ck").toString
    val t0 = System.currentTimeMillis() - 60000
    writeInput(inDir, "0.json", t0, Seq(
      (10L, "the cat and the dog walk to the old mouse near a very tall green tree"),
      (11L, "!!! ??? !!!"), // quality gate
      (12L, "the cat and the dog walk to the old mouse near a very tall green tree"), // exact dup of 10
      (13L, "a bright green garden grows by the quiet river bank under heavy summer rain")))
    writeInput(inDir, "1.json", t0 + 30000, Seq(
      (20L, "the cat and the dog walk to the old moose near a very tall green tree"), // near-dup of 10
      (21L, "the the the the the the"), // repetition gate
      (22L, "the old sailor tells a long story about distant winter storms near rocky shores")))

    def run(): Unit = {
      val docs = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(inDir.toString)
      val q = StreamingOps.curatedIngestToStore(docs, store, ckpt)
      q.processAllAvailable()
      q.stop()
    }
    run()
    def storeRows(): Seq[(Long, Long)] =
      StreamingOps.readCorpusStore(spark, store).get
        .select(col("doc_id"), col(StreamingOps.IngestBatchCol).cast("long"))
        .as[(Long, Long)].collect().sorted.toSeq
    val expected = Seq((10L, 0L), (13L, 0L), (22L, 1L))
    assert(storeRows() === expected)

    // crash after the batch-1 write but before its checkpoint commit:
    // replay must recompute the identical gated+deduped survivors
    assert(java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", "1")))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
    run()
    assert(storeRows() === expected)
  }

  test("curatedIngestToStore: a planted leaked doc is rejected in every batch; replay idempotent") {
    val inDir = java.nio.file.Files.createTempDirectory("cur3-in")
    val store = java.nio.file.Files.createTempDirectory("cur3-store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cur3-ck").toString
    val t0 = System.currentTimeMillis() - 60000
    // the benchmark passage leaks VERBATIM into docs 41 (batch 0) and
    // 51 (batch 1); 40/50 are clean and must be admitted
    val leak = "the quick brown fox jumps over the lazy dog today in bright morning light"
    writeInput(inDir, "0.json", t0, Seq(
      (40L, "a bright green garden grows by the quiet river bank under heavy summer rain"),
      (41L, s"prefix words then $leak and a closing remark")))
    writeInput(inDir, "1.json", t0 + 30000, Seq(
      (50L, "the old sailor tells a long story about distant winter storms near rocky shores"),
      (51L, s"another framing sentence before $leak appears once more here")))
    val bench = Seq((100L, leak)).toDF("doc_id", "text")

    def run(): Unit = {
      val docs = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(inDir.toString)
      val q = StreamingOps.curatedIngestToStore(docs, store, ckpt,
        benchmark = Some(bench))
      q.processAllAvailable()
      q.stop()
    }
    run()
    def storeRows(): Seq[(Long, Long)] =
      StreamingOps.readCorpusStore(spark, store).get
        .select(col("doc_id"), col(StreamingOps.IngestBatchCol).cast("long"))
        .as[(Long, Long)].collect().sorted.toSeq
    val expected = Seq((40L, 0L), (50L, 1L))
    assert(storeRows() === expected,
      "both leaked docs must be rejected by the Bloom probe (no false negatives)")

    // crash-replay: decontamination is deterministic per batch — the
    // replay admits the identical survivor set
    assert(java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", "1")))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
    run()
    assert(storeRows() === expected)
  }

  test("curatedIngestToStore: the badword text gate rejects listed-token docs per batch; replay idempotent") {
    val inDir = java.nio.file.Files.createTempDirectory("cur-bw-in")
    val store = java.nio.file.Files.createTempDirectory("cur-bw-store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cur-bw-ck").toString
    val t0 = System.currentTimeMillis() - 60000
    writeInput(inDir, "0.json", t0, Seq(
      (60L, "a bright green garden grows by the quiet river bank under heavy summer rain"),
      (61L, "a bright green garden grows with one Grawlix! by the quiet river bank today")))
    writeInput(inDir, "1.json", t0 + 30000, Seq(
      (70L, "the old sailor tells a long story about distant winter storms near rocky shores"),
      (71L, "the old sailor tells a grawlix story about distant winter storms near rocky shores")))

    def run(): Unit = {
      val docs = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(inDir.toString)
      val q = StreamingOps.curatedIngestToStore(docs, store, ckpt,
        badwords = Some(Seq("grawlix")))
      q.processAllAvailable()
      q.stop()
    }
    run()
    def storeRows(): Seq[(Long, Long)] =
      StreamingOps.readCorpusStore(spark, store).get
        .select(col("doc_id"), col(StreamingOps.IngestBatchCol).cast("long"))
        .as[(Long, Long)].collect().sorted.toSeq
    val expected = Seq((60L, 0L), (70L, 1L))
    assert(storeRows() === expected,
      "listed-token docs (incl. case/punctuation-wrapped) fall in BOTH batches")

    assert(java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", "1")))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
    run()
    assert(storeRows() === expected)
  }

  test("curatedIngestToStore: the mixed-page language gate drops minority-mass docs per batch; replay idempotent") {
    val inDir = java.nio.file.Files.createTempDirectory("cur-lang-in")
    val store = java.nio.file.Files.createTempDirectory("cur-lang-store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cur-lang-ck").toString
    val t0 = System.currentTimeMillis() - 60000
    val frTail = "\n\nle la les et un est le la les et un est le la les et un est"
    writeInput(inDir, "0.json", t0, Seq(
      (60L, "a bright green garden grows by the quiet river bank under heavy summer rain"),
      (61L, "a bright green garden grows by the quiet river bank under heavy summer rain" + frTail)))
    writeInput(inDir, "1.json", t0 + 30000, Seq(
      (70L, "the old sailor tells a long story about distant winter storms near rocky shores"),
      (71L, "the old sailor tells a long story about distant winter storms near rocky shores" + frTail)))

    def run(): Unit = {
      val docs = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(inDir.toString)
      val q = StreamingOps.curatedIngestToStore(docs, store, ckpt,
        langMinorityMax = Some(0.05))
      q.processAllAvailable()
      q.stop()
    }
    run()
    def storeRows(): Seq[(Long, Long)] =
      StreamingOps.readCorpusStore(spark, store).get
        .select(col("doc_id"), col(StreamingOps.IngestBatchCol).cast("long"))
        .as[(Long, Long)].collect().sorted.toSeq
    val expected = Seq((60L, 0L), (70L, 1L))
    assert(storeRows() === expected,
      "the foreign-block doc falls to the minority-mass rule in BOTH batches")
    assert(java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", "1")))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
    run()
    assert(storeRows() === expected)
  }

  test("curatedIngestToStore: the trained classifier gate rejects spam-shaped docs per batch") {
    val inDir = java.nio.file.Files.createTempDirectory("cur4-in")
    val store = java.nio.file.Files.createTempDirectory("cur4-store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cur4-ck").toString
    val t0 = System.currentTimeMillis() - 60000
    // both docs per batch pass the heuristic battery; only the
    // spam-vocabulary one should fall to the learned gate
    writeInput(inDir, "0.json", t0, Seq(
      (60L, "a careful study presents consistent evidence about the quiet river bank and its seasonal flow"),
      (61L, "click here to buy now a cheap prize deal and win a free bonus offer today only")))
    writeInput(inDir, "1.json", t0 + 30000, Seq(
      (70L, "the old sailor tells a long story about distant winter storms near rocky shores"),
      (71L, "win win a free prize now and click to buy the cheap deal before the offer ends")))
    val pos = Seq(
      (200L, "the study presents careful analysis of the evidence about the river"),
      (201L, "the results indicate a consistent story and careful methodology")).toDF("doc_id", "text")
    val neg = Seq(
      (300L, "click here buy now cheap cheap deal prize offer bonus"),
      (301L, "win win free prize click now buy today only")).toDF("doc_id", "text")

    // control: without the classifier every doc passes the heuristic
    // battery — proving the learned gate (not the battery) is what
    // rejects the spam below
    val ctrlStore = java.nio.file.Files.createTempDirectory("cur4-ctrl").toString
    val ctrlCkpt = java.nio.file.Files.createTempDirectory("cur4-ctrl-ck").toString
    locally {
      val docs = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(inDir.toString)
      val q = StreamingOps.curatedIngestToStore(docs, ctrlStore, ctrlCkpt)
      q.processAllAvailable()
      q.stop()
    }
    assert(StreamingOps.readCorpusStore(spark, ctrlStore).get
      .select("doc_id").as[Long].collect().sorted.toSeq === Seq(60L, 61L, 70L, 71L),
      "the heuristic battery alone must admit all four docs")

    def run(): Unit = {
      val docs = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(inDir.toString)
      val q = StreamingOps.curatedIngestToStore(docs, store, ckpt,
        classifierSeeds = Some((pos, neg)))
      q.processAllAvailable()
      q.stop()
    }
    run()
    def storeRows(): Seq[(Long, Long)] =
      StreamingOps.readCorpusStore(spark, store).get
        .select(col("doc_id"), col(StreamingOps.IngestBatchCol).cast("long"))
        .as[(Long, Long)].collect().sorted.toSeq
    val expected = Seq((60L, 0L), (70L, 1L))
    assert(storeRows() === expected,
      "spam-vocabulary docs must fall to the learned gate in BOTH batches")

    // crash-replay: the model is fixed at stream start, so the replayed
    // batch re-derives the identical survivor set
    assert(java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", "1")))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
    run()
    assert(storeRows() === expected)
  }

  test("curatedIngestToStore + vector index: semantic near-dups rejected, novel vectors servable") {
    import graft.operators.Similarity
    val inDir = java.nio.file.Files.createTempDirectory("cur4-in")
    val store = java.nio.file.Files.createTempDirectory("cur4-store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cur4-ck").toString
    val indexPath = java.nio.file.Files.createTempDirectory("cur4-ivf").toString
    val dim = 8
    val rnd = new scala.util.Random(53L)
    def vec() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    def near(v: Array[Float]) = v.map(x => x + (rnd.nextGaussian() * 0.001).toFloat)
    // day-0 bootstrap: the standing index over 40 background vectors
    val bases = Array.fill(4)(vec())
    val day0 = (0 until 40).map(i => (i.toLong, near(bases(i % 4))))
      .toDF("vec_id", "embedding")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(day0, nLists = 4), indexPath)
    graft.operators.Storage.releaseAll()

    val vA = vec()
    val vC = vec()
    val vSchema = org.apache.spark.sql.types.StructType(schema.fields :+
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    def writeVecInput(name: String, mtime: Long,
                      docs: Seq[(Long, String, Array[Float])]): Unit = {
      val f = inDir.resolve(name)
      val lines = docs.map { case (id, t, e) =>
        s"""{"doc_id":$id,"text":"$t","embedding":[${e.mkString(",")}]}""" }
      java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
      assert(f.toFile.setLastModified(mtime))
    }
    val t0 = System.currentTimeMillis() - 60000
    writeVecInput("0.json", t0, Seq(
      (60L, "the cat and the dog walk to the old mouse near a very tall green tree", vA)))
    writeVecInput("1.json", t0 + 30000, Seq(
      // DIFFERENT text (passes every text gate) but a semantic near-dup
      // of batch 0's admitted vector — the vector gate must reject it
      (70L, "a bright green garden grows by the quiet river bank under heavy summer rain", near(vA)),
      (71L, "the old sailor tells a long story about distant winter storms near rocky shores", vC)))

    def run(): Unit = {
      val docs = spark.readStream.schema(vSchema)
        .option("maxFilesPerTrigger", 1).json(inDir.toString)
      val q = StreamingOps.curatedIngestToStore(docs, store, ckpt,
        vectorIndexPath = Some(indexPath), vecThreshold = 0.99, vecNProbe = 4)
      q.processAllAvailable()
      q.stop()
    }
    run()
    def storeRows(): Seq[(Long, Long)] =
      StreamingOps.readCorpusStore(spark, store).get
        .select(col("doc_id"), col(StreamingOps.IngestBatchCol).cast("long"))
        .as[(Long, Long)].collect().sorted.toSeq
    def indexRows(): Seq[(Long, Long)] = Similarity.readIvfIndex(spark, indexPath)
      .assigned.filter(col(StreamingOps.IngestBatchCol) >= 0L)
      .select(col("vec_id"), col(StreamingOps.IngestBatchCol).cast("long"))
      .as[(Long, Long)].collect().sorted.toSeq
    val expectedStore = Seq((60L, 0L), (71L, 1L))
    val expectedIndex = Seq((60L, 0L), (71L, 1L))
    assert(storeRows() === expectedStore,
      "batch 1's semantic near-dup of batch 0's admitted doc must be rejected")
    assert(indexRows() === expectedIndex,
      "exactly the jointly-admitted docs join the standing index")
    // the novel batch-1 vector is SERVABLE: probing with vC finds 71
    val served = Similarity.probeIvf(Similarity.readIvfIndex(spark, indexPath),
      vC.map(_.toDouble), k = 1, nProbe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(served === Seq(71L), "the admitted novel vector must serve from the index")

    // crash after the batch-1 writes but before its checkpoint commit:
    // replay recomputes the identical joint admission for BOTH stores
    assert(java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", "1")))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
    run()
    assert(storeRows() === expectedStore)
    assert(indexRows() === expectedIndex)
  }

  test("curatedIngestToStore: cleanMarkupFirst strips crawl HTML before the gates") {
    val inDir = java.nio.file.Files.createTempDirectory("cur2-in")
    val store = java.nio.file.Files.createTempDirectory("cur2-store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cur2-ck").toString
    writeInput(inDir, "0.json", System.currentTimeMillis() - 60000, Seq(
      (30L, "<p>a bright green garden grows by the quiet river bank under heavy summer rain</p><script>x<y</script>")))
    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(inDir.toString)
    val q = StreamingOps.curatedIngestToStore(docs, store, ckpt, cleanMarkupFirst = true)
    q.processAllAvailable()
    q.stop()
    val rows = StreamingOps.readCorpusStore(spark, store).get
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    assert(rows === Seq(
      (30L, "a bright green garden grows by the quiet river bank under heavy summer rain")))
  }

  test("rebuildStaleness hook: a drifted batch triggers the generation swap mid-stream") {
    import graft.operators.{Manifests, Similarity}
    val inDir = java.nio.file.Files.createTempDirectory("cur5-in")
    val store = java.nio.file.Files.createTempDirectory("cur5-store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cur5-ck").toString
    val indexPath = java.nio.file.Files.createTempDirectory("cur5-ivf").toString
    val dim = 8
    val rnd = new scala.util.Random(61L)
    def vec() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    def near(v: Array[Float]) = v.map(x => x + (rnd.nextGaussian() * 0.001).toFloat)
    // day-0: tight clusters -> build cohesion ~1, so a drifted batch's
    // cohesion gap is large and trips any small threshold
    val bases = Array.fill(4)(vec())
    val day0 = (0 until 40).map(i => (i.toLong, near(bases(i % 4))))
      .toDF("vec_id", "embedding")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(day0, nLists = 4), indexPath)
    graft.operators.Storage.releaseAll()

    val vSchema = org.apache.spark.sql.types.StructType(schema.fields :+
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    def writeVecInput(name: String, mtime: Long,
                      docs: Seq[(Long, String, Array[Float])]): Unit = {
      val f = inDir.resolve(name)
      val lines = docs.map { case (id, t, e) =>
        s"""{"doc_id":$id,"text":"$t","embedding":[${e.mkString(",")}]}""" }
      java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
      assert(f.toFile.setLastModified(mtime))
    }
    // drifted vectors: fresh random directions, far from the day-0 bases
    val vDrift0 = vec()
    val vDrift1 = vec()
    val t0 = System.currentTimeMillis() - 60000
    writeVecInput("0.json", t0, Seq(
      (60L, "the cat and the dog walk to the old mouse near a very tall green tree", vDrift0)))
    writeVecInput("1.json", t0 + 30000, Seq(
      (70L, "a bright green garden grows by the quiet river bank under heavy summer rain", vDrift1)))

    def run(): Unit = {
      val docs = spark.readStream.schema(vSchema)
        .option("maxFilesPerTrigger", 1).json(inDir.toString)
      val q = StreamingOps.curatedIngestToStore(docs, store, ckpt,
        vectorIndexPath = Some(indexPath), vecThreshold = 0.99, vecNProbe = 4,
        rebuildStaleness = Some(0.1))
      q.processAllAvailable()
      q.stop()
    }
    run()
    // batch 0's drifted vector tripped the hook: a generation is
    // committed, and batch 1's append landed INSIDE it
    val committed = Manifests.read(indexPath)
    assert(committed.isDefined, "the staleness hook must commit a rebuild generation")
    val genDir = Manifests.epochPath(indexPath, committed.get._1)
    assert(new java.io.File(
      s"$genDir/assigned/${StreamingOps.IngestBatchCol}=1").exists(),
      "post-rebuild appends must land in the committed generation")
    def indexIds(): Seq[Long] = Similarity.readIvfIndex(spark, indexPath)
      .assigned.select("vec_id").as[Long].collect().sorted.toSeq
    assert(indexIds() === ((0L until 40L) ++ Seq(60L, 70L)),
      "all day-0 + admitted vectors serve from the rebuilt index")
    // both admitted vectors are probe-servable from the new generation
    val served = Similarity.probeIvf(Similarity.readIvfIndex(spark, indexPath),
      vDrift1.map(_.toDouble), k = 1, nProbe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(served === Seq(70L))

    // crash-replay of the post-rebuild batch: identical end state
    assert(java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", "1")))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
    run()
    assert(indexIds() === ((0L until 40L) ++ Seq(60L, 70L)))
    assert(StreamingOps.readCorpusStore(spark, store).get
      .select("doc_id").as[Long].collect().sorted.toSeq === Seq(60L, 70L))
  }
}

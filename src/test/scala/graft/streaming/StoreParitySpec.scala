package graft.streaming

import graft.SparkSpec
import graft.operators.Manifests
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tail + skip parity for the non-corpus layouts (r18; VERDICT r17
  * next #2): the ivm view-snapshot log tails as a streaming source
  * ("the maintained view changed" push), and stats skipping reaches
  * scd2 and ivm reads — the corpus tier's sidecar applied to each
  * layout's own data areas. */
class StoreParitySpec extends SparkSpec {
  import spark.implicits._

  private val bc = StreamingOps.IngestBatchCol

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("parity").toString

  // ------------------------------------------------------- ivm-view tail

  private val changeSchema = org.apache.spark.sql.types.StructType(Seq(
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

  test("ivm-view tail: each committed view snapshot arrives exactly once; kill-resume; GC fast-forward") {
    val inDir = java.nio.file.Files.createTempDirectory("parity-in")
    val store = tmp(); val ckpt = tmp(); val tailCp = tmp()
    val t0 = System.currentTimeMillis() - 60000
    writeInput(inDir, "0.json", t0, Seq(
      ("I", 100L, 1L, 1L, "a", 1.0), ("I", 110L, 2L, 2L, "b", 3.0)))
    writeInput(inDir, "1.json", t0 + 20000, Seq(
      ("I", 200L, 3L, 3L, "a", 5.0)))

    def produce(): Unit = {
      val changes = spark.readStream.schema(changeSchema)
        .option("maxFilesPerTrigger", 1).json(inDir.toString)
      val q = StreamingOps.ivmIngestToStore(changes, store, ckpt,
        rowKeys = Seq("k"), groupKeys = Seq("g"), valueCol = "v")
      q.processAllAvailable(); q.stop()
    }
    produce()

    // (snapshot id, group, sum) triples seen by the tail
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Double)]
    def tail(cp: String) = spark.readStream.format("graft-store")
      .option("layout", "ivm-view").load(store)
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (df: DataFrame, _: Long) =>
        seen.synchronized {
          seen ++= df.select(col(bc).cast("long"), col("g"), col("sum_val"))
            .as[(Long, String, Double)].collect()
        }
        ()
      }.start()
    val q1 = tail(tailCp)
    q1.processAllAvailable()
    // snapshot 0: {a→1, b→3}; snapshot 1: {a→6, b→3} — each WHOLE
    // state delivered once, id carried
    assert(seen.sorted.toSeq === Seq(
      (0L, "a", 1.0), (0L, "b", 3.0), (1L, "a", 6.0), (1L, "b", 3.0)))
    q1.stop()
    // a batch committed while the tail is DOWN arrives once on resume
    writeInput(inDir, "2.json", t0 + 40000, Seq(
      ("U", 300L, 4L, 1L, "a", 11.0)))
    produce()
    seen.clear()
    val q2 = tail(tailCp)
    q2.processAllAvailable(); q2.stop()
    assert(seen.sorted.toSeq === Seq((2L, "a", 16.0), (2L, "b", 3.0)))
    // GC keeps the commit-aware suffix; a FRESH tail fast-forwards to
    // the oldest retained snapshot instead of stalling on the hole
    assert(StreamingOps.gcIvmSnapshots(store, Some(ckpt)) > 0)
    seen.clear()
    val q3 = tail(tmp())
    q3.processAllAvailable(); q3.stop()
    assert(seen.sorted.toSeq === Seq((2L, "a", 16.0), (2L, "b", 3.0)))
    // scd2 histories / ivm base areas are not changelogs — pointed error
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-store").option("layout", "scd2").load(store)
    }
    assert(e.getMessage.contains("not tailable"))
    Seq(store, ckpt, tailCp).foreach(Manifests.rmTree)
  }

  test("ivm-view tail: empty producer batches land nothing; sparse view ids arrive once, no stall, GC keeps the replay target") {
    val inDir = java.nio.file.Files.createTempDirectory("parity-in")
    val store = tmp(); val ckpt = tmp(); val tailCp = tmp()
    val t0 = System.currentTimeMillis() - 60000
    writeInput(inDir, "0.json", t0, Nil)
    writeInput(inDir, "1.json", t0 + 10000, Seq(
      ("I", 100L, 1L, 1L, "a", 1.0), ("I", 110L, 2L, 2L, "b", 3.0)))
    writeInput(inDir, "2.json", t0 + 20000, Nil)
    writeInput(inDir, "3.json", t0 + 30000, Seq(
      ("I", 200L, 3L, 3L, "a", 5.0)))
    val changes = spark.readStream.schema(changeSchema)
      .option("maxFilesPerTrigger", 1).json(inDir.toString)
    val producer = StreamingOps.ivmIngestToStore(changes, store, ckpt,
      rowKeys = Seq("k"), groupKeys = Seq("g"), valueCol = "v")
    producer.processAllAvailable(); producer.stop()
    def snapshots(area: String): Seq[Long] =
      Manifests.batches(s"$store/$area").map(_._1)
    // neither empty batch lands a snapshot in either area
    assert(snapshots("view") === Seq(1L, 3L))
    assert(snapshots("base") === Seq(1L, 3L))

    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Double)]
    val tailDf = spark.readStream.format("graft-store")
      .option("layout", "ivm-view").load(store)
    val q = tailDf.writeStream.option("checkpointLocation", tailCp)
      .foreachBatch { (df: DataFrame, _: Long) =>
        seen.synchronized {
          seen ++= df.select(col(bc).cast("long"), col("g"), col("sum_val"))
            .as[(Long, String, Double)].collect()
        }
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    // each landed state arrives exactly once, across the gap at id 2
    assert(seen.sorted.toSeq === Seq(
      (1L, "a", 1.0), (1L, "b", 3.0), (3L, "a", 6.0), (3L, "b", 3.0)))
    // the frontier is one past the newest landed snapshot: it never
    // waits on the missing ids, so no hole warning is ever armed
    val src = new graft.sources.GraftStoreStreamSource(spark, store,
      tailDf.schema, holeWarnMillis = 0L, layout = "ivm-view")
    (1 to 3).foreach(_ => assert(src.getOffset.map(_.json) === Some("4")))
    assert(src.holeWarning.isEmpty)
    // crash after batch 3's writes, before its commit: the last committed
    // batch (2) landed nothing, and GC keeps snapshot 1 — the one the
    // replay of batch 3 reads — beside the uncommitted 3 in each area
    assert(java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", "3")))
    assert(StreamingOps.gcIvmSnapshots(store, Some(ckpt)) === 0)
    assert(snapshots("view") === Seq(1L, 3L))
    assert(snapshots("base") === Seq(1L, 3L))
    Seq(store, ckpt, tailCp).foreach(Manifests.rmTree)
  }

  test("ivm-view tail: maxBatchesPerTrigger=1 counts snapshots, not ids, across a gap") {
    val store = tmp(); val tailCp = tmp()
    Seq(("a", 1.0)).toDF("g", "sum_val").write.parquet(s"$store/view/$bc=1")
    Seq(("a", 6.0)).toDF("g", "sum_val").write.parquet(s"$store/view/$bc=4")
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Double)]]
    val q = spark.readStream.format("graft-store")
      .option("layout", "ivm-view").option("maxBatchesPerTrigger", "1").load(store)
      .writeStream.option("checkpointLocation", tailCp)
      .foreachBatch { (df: DataFrame, _: Long) =>
        batches.synchronized {
          batches += df.select(col(bc).cast("long"), col("sum_val"))
            .as[(Long, Double)].collect().toSeq
        }
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    // one snapshot per micro-batch, and no empty window for ids 0, 2, 3
    assert(batches.toSeq === Seq(Seq((1L, 1.0)), Seq((4L, 6.0))))
    Seq(store, tailCp).foreach(Manifests.rmTree)
  }

  // --------------------------------------------------- scd2/ivm skipping

  /** An scd2-layout store by hand: closed history batches with
    * DISJOINT k ranges (so leaf bounds bite) + one open snapshot. */
  private def mkScd2(p: String): Unit = {
    Seq((1L, "x", false), (2L, "y", false)).toDF("k", "v", "is_current")
      .write.parquet(s"$p/closed/$bc=0")
    Seq((100L, "z", false)).toDF("k", "v", "is_current")
      .write.parquet(s"$p/closed/$bc=1")
    Seq((200L, "w", true)).toDF("k", "v", "is_current")
      .write.parquet(s"$p/open/$bc=1")
  }

  test("scd2 skipping: closed history leaves prune; open snapshot prunes wholesale") {
    val p = tmp(); mkScd2(p)
    StreamingOps.upkeepStoreStats(spark, s"$p/closed", Seq("k"))
    StreamingOps.upkeepStoreStats(spark, s"$p/open", Seq("k"))
    val rel = new graft.sources.GraftStoreRelation(spark, p, "scd2")
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    // k ∈ [90, 150]: closed batch 1 only — batch 0 and the open
    // snapshot are never opened
    val inner = rel.planFor(Array("k", "v"),
      Array(GreaterThanOrEqual("k", 90L), LessThanOrEqual("k", 150L)))
    assert(inner.inputFiles.nonEmpty &&
      inner.inputFiles.forall(f => f.contains(s"closed/$bc=1")),
      inner.inputFiles.mkString(","))
    assert(inner.collect().map(_.getLong(0)).toSeq === Seq(100L))
    // k ≥ 150: only the open snapshot
    val openOnly = rel.planFor(Array("k"), Array(GreaterThanOrEqual("k", 150L)))
    assert(openOnly.inputFiles.forall(f => f.contains(s"open/$bc=1")))
    assert(openOnly.collect().map(_.getLong(0)).toSeq === Seq(200L))
    // results identical to the unpruned read under a must-read filter
    val all = rel.planFor(Array("k"), Array(GreaterThanOrEqual("k", 0L)))
    assert(all.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 100L, 200L))
    Manifests.rmTree(p)
  }

  test("ivm snapshot skipping: latest view/base snapshot prunes wholesale; missing stats must-read") {
    val p = tmp()
    // two view snapshots — only the LATEST serves; its bounds gate it
    Seq(("a", 1.0)).toDF("g", "sum_val").write.parquet(s"$p/view/$bc=0")
    Seq(("b", 250.0)).toDF("g", "sum_val").write.parquet(s"$p/view/$bc=1")
    Seq((1L, "b", 250.0)).toDF("k", "g", "v").write.parquet(s"$p/base/$bc=1")
    val rel = new graft.sources.GraftStoreRelation(spark, p, "ivm-view")
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    // no stats yet: must-read (pruning can only cost speed, never rows)
    val pre = rel.planFor(Array("g"), Array(GreaterThanOrEqual("sum_val", 1000.0)))
    assert(pre.inputFiles.nonEmpty && pre.collect().isEmpty)
    StreamingOps.upkeepStoreStats(spark, s"$p/view", Seq("sum_val"))
    // bounds [250, 250] cannot reach 1000 — zero files opened
    val pruned = rel.planFor(Array("g"), Array(GreaterThanOrEqual("sum_val", 1000.0)))
    assert(pruned.inputFiles.isEmpty && pruned.collect().isEmpty)
    // an overlapping range still reads the snapshot
    val hit = rel.planFor(Array("g"), Array(GreaterThanOrEqual("sum_val", 100.0)))
    assert(hit.collect().map(_.getString(0)).toSeq === Seq("b"))
    // base area: same wholesale gate
    StreamingOps.upkeepStoreStats(spark, s"$p/base", Seq("v"))
    val relB = new graft.sources.GraftStoreRelation(spark, p, "ivm-base")
    val prunedB = relB.planFor(Array("k"), Array(GreaterThanOrEqual("v", 1000.0)))
    assert(prunedB.inputFiles.isEmpty && prunedB.collect().isEmpty)
    Manifests.rmTree(p)
  }

  test("SQL UPKEEP/VACUUM are layout-aware; scd2 DELETE erases whole histories") {
    val p = tmp(); mkScd2(p)
    spark.sql("DROP TABLE IF EXISTS parity_scd2")
    spark.sql(s"CREATE TABLE parity_scd2 USING `graft-store` " +
      s"OPTIONS (path '$p', layout 'scd2')")
    // UPKEEP scores closed batches + the open snapshot
    assert(spark.sql("UPKEEP parity_scd2 STATS (k)").as[Int].head() === 3)
    // DELETE a key: every closed version and the open row vanish
    val del = spark.sql("DELETE FROM parity_scd2 WHERE k IN (2, 200)")
    assert(del.as[(Long, Int)].head() === ((2L, 2)))
    assert(spark.sql("SELECT k FROM parity_scd2").as[Long].collect().sorted
      .toSeq === Seq(1L, 100L))
    // VACUUM on scd2 = open-snapshot GC (superseded snapshots; none here
    // beyond the survivor rule's keep-2 without a checkpoint)
    assert(spark.sql("VACUUM parity_scd2").as[(Int, Boolean)].head()._2 === false)
    // EXPIRE refused off-corpus
    val e = intercept[IllegalArgumentException] {
      spark.sql("VACUUM parity_scd2 EXPIRE UPTO BATCH 1")
    }
    assert(e.getMessage.contains("no batch TTL"))
    spark.sql("DROP TABLE parity_scd2")
    Manifests.rmTree(p)
  }
}

package graft.operators

import graft.SparkSpec
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._

/** The store's batch-directory index (`Manifests.batches` /
  * `newestBelow`): which children of a root are batches, in what order,
  * and that every reader and lifecycle verb applies the same skip rule. */
class BatchIndexSpec extends SparkSpec {
  import spark.implicits._

  private val bc = Manifests.BatchCol

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("batch-index").toString

  private def mkdirs(root: String, names: String*): Unit =
    names.foreach(n => Fs.mkdirs(Fs.path(root, n)))

  test("only directories named __ingest_batch=<long> are batches") {
    val root = tmp()
    mkdirs(root, s"$bc=0", s"$bc=2", s"$bc=-1", "_stats", "_compaction",
      ".tmp-ingest-1234", s"$bc=x", s"$bc=", s"$bc=3.5", "other=1")
    Fs.writeString(Fs.path(root, s"$bc=5"), "a file, not a batch")
    assert(Manifests.batches(root).map(_._1) === Seq(-1L, 0L, 2L))
    assert(Manifests.batches(root).map(_._2.getName) ===
      Seq(s"$bc=-1", s"$bc=0", s"$bc=2"))
    assert(Manifests.batches(s"$root/absent").isEmpty)
    Manifests.rmTree(root)
  }

  test("ids sort numerically: 9 before 10") {
    val root = tmp()
    mkdirs(root, Seq(10, 9, 100, 1).map(b => s"$bc=$b"): _*)
    assert(Manifests.batches(root).map(_._1) === Seq(1L, 9L, 10L, 100L))
    assert(Manifests.newestBelow(root, 10L).map(_._1) === Some(9L))
    Manifests.rmTree(root)
  }

  test("newestBelow: strictly below the bound, with and without a gap") {
    val dense = tmp()
    mkdirs(dense, Seq(0, 1, 2).map(b => s"$bc=$b"): _*)
    assert(Manifests.newestBelow(dense, 2L).map(_._1) === Some(1L))
    assert(Manifests.newestBelow(dense, Long.MaxValue).map(_._1) === Some(2L))
    assert(Manifests.newestBelow(dense, 0L).isEmpty)
    val gap = tmp()
    mkdirs(gap, s"$bc=0", s"$bc=3", s"$bc=x")
    assert(Manifests.newestBelow(gap, 3L).map(_._1) === Some(0L))
    assert(Manifests.newestBelow(gap, 2L).map(_._1) === Some(0L))
    assert(Manifests.newestBelow(gap, 4L).map(_._1) === Some(3L))
    Seq(dense, gap).foreach(Manifests.rmTree)
  }

  test("an __ingest_batch=x directory is ignored by every reader and verb, GC included") {
    val p = tmp()
    Seq((0L, 10L), (1L, 20L)).foreach { case (b, v) =>
      Seq((v, s"d$v")).toDF("doc_id", "text").write.parquet(s"$p/$bc=$b")
    }
    // a stray non-numeric batch dir holding real rows
    Seq((99L, "stray")).toDF("doc_id", "text").write.parquet(s"$p/$bc=x")
    val view = StreamingOps.readCorpusStore(spark, p).get
    assert(view.select(col("doc_id")).as[Long].collect().sorted.toSeq === Seq(10L, 20L))
    assert(graft.sources.GraftStoreRelation.nextBatchId(p) === 2L)
    val history = spark.sql(s"DESCRIBE HISTORY graft.`$p`").collect()
      .filter(_.getString(0) == "batch").map(_.getLong(1)).toSeq
    assert(history === Seq(0L, 1L))
    assert(StreamingOps.upkeepStoreStats(spark, p, Seq("doc_id")).sorted ===
      Seq(s"$bc=0", s"$bc=1"))
    val tail = new graft.sources.GraftStoreStreamSource(spark, p, view.schema)
    assert(tail.getOffset.map(_.json) === Some("2"))
    // compaction's inline GC and a later explicit GC both leave it alone
    StreamingOps.compactStore(spark, p, uptoBatch = 1L)
    assert(Manifests.gcSuperseded(p) === 0)
    assert(Fs.listDirNames(Fs.path(p)).filter(_.startsWith(s"$bc=")) === Seq(s"$bc=x"))
    assert(StreamingOps.readCorpusStore(spark, p).get.count() === 2L)

    // a snapshot area: the newest read and the snapshot GC skip it too
    val s = tmp()
    Seq(0, 1, 2).foreach(b => Seq((s"g$b", b.toDouble)).toDF("g", "sum_val")
      .write.parquet(s"$s/view/$bc=$b"))
    Seq(("stray", -1.0)).toDF("g", "sum_val").write.parquet(s"$s/view/$bc=x")
    assert(StreamingOps.readIvmView(spark, s).get.select("g").as[String].collect().toSeq
      === Seq("g2"))
    assert(StreamingOps.gcIvmSnapshots(s) === 1)
    assert(Fs.listDirNames(Fs.path(s"$s/view")).sorted ===
      Seq(s"$bc=1", s"$bc=2", s"$bc=x"))

    // an scd2 history: closed and open areas alike
    val h = tmp()
    Seq("closed", "open").foreach { area =>
      Seq((1L, area)).toDF("k", "v").write.parquet(s"$h/$area/$bc=0")
      Seq((9L, "stray")).toDF("k", "v").write.parquet(s"$h/$area/$bc=x")
    }
    assert(StreamingOps.readScd2Store(spark, h).get.as[(Long, String)].collect().sorted.toSeq
      === Seq((1L, "closed"), (1L, "open")))
    Seq(p, s, h).foreach(Manifests.rmTree)
  }
}

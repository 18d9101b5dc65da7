package graft.operators

import graft.SparkSpec
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._

/** The r15 distributed-filesystem port of the store lifecycle
  * (VERDICT r14 next #1): every lifecycle verb — Manifests read/flip/
  * GC, compaction, takedown swap, retention, sidecar upkeep, SCD2
  * snapshot GC — routes through the Hadoop `FileSystem` API, so the
  * same code runs on local disk, HDFS, or an object store. Three
  * layers of proof here:
  *  1. a GREP GATE: the lifecycle sources contain no direct
  *     `java.nio.file` / `java.io.File` path handling at all;
  *  2. the full verb chain (ingest layout → compact → takedown →
  *     expire → GC) driven END TO END through explicit `file:` URIs —
  *     the scheme-resolved Hadoop path, not a bare local path;
  *  3. the versioned-manifest commit protocol (one immutable
  *     `manifest-<epoch>.json` per commit, max-epoch read, fresh-name
  *     rename — the one rename semantic HDFS and object stores share),
  *     including the legacy single-file fallback.
  */
class FsLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private val bc = StreamingOps.IngestBatchCol

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def writeBatch(store: String, b: Long, ids: Seq[Long]): Unit =
    ids.map(i => (i, s"text-$i")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$store/$bc=$b")

  private def storeIds(store: String): Seq[Long] =
    StreamingOps.readCorpusStore(spark, store).get
      .select("doc_id").as[Long].collect().sorted.toSeq

  test("grep gate: no java.nio/java.io.File path handling in the lifecycle layer") {
    val lifecycle = Seq(
      "src/main/scala/graft/operators/Manifests.scala",
      "src/main/scala/graft/operators/Takedown.scala",
      "src/main/scala/graft/streaming/StreamingOps.scala")
    val banned = Seq("java.nio.file", "java.io.File", "Paths.get(")
    lifecycle.foreach { f =>
      val src = scala.io.Source.fromFile(f)(scala.io.Codec.UTF8)
      val text = try src.mkString finally src.close()
      banned.foreach(b => assert(!text.contains(b),
        s"$f still contains '$b' — the lifecycle layer must route " +
          "through graft.operators.Fs (Hadoop FileSystem)"))
    }
    // Similarity's lifecycle verbs too (index append meta probe, gen GC)
    val sim = scala.io.Source.fromFile(
      "src/main/scala/graft/operators/Similarity.scala")(scala.io.Codec.UTF8)
    val simText = try sim.mkString finally sim.close()
    banned.foreach(b => assert(!simText.contains(b)))
  }

  test("full lifecycle end-to-end through explicit file: URIs") {
    val store = s"file:${tmpDir("fs-uri")}"
    writeBatch(store, 0, Seq(1L, 2L, 3L))
    writeBatch(store, 1, Seq(10L, 11L))
    writeBatch(store, 2, Seq(20L, 21L))
    assert(storeIds(store) === Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L))
    // compact through the URI (manifest flip + GC on Hadoop FS)
    val st = StreamingOps.compactStore(spark, store, uptoBatch = 1L)
    assert(st.coversUpTo === 1L)
    assert(Manifests.read(store) === Some((0L, 1L)))
    assert(storeIds(store) === Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L))
    // takedown through the URI (two-phase rename swap on Hadoop FS;
    // hits both the epoch leaf and a live batch partition)
    val r = Takedown.deleteFromStore(spark, store, Seq(2L, 20L))
    assert(r.deletedRows === 2L)
    assert(storeIds(store) === Seq(1L, 3L, 10L, 11L, 21L))
    // retention through the URI (epoch rewrite + new flip)
    val (removed, epochRewritten) =
      StreamingOps.expireBatches(spark, store, uptoBatch = 0L)
    assert(epochRewritten)
    assert(removed === 0) // batch 0 already folded into the epoch
    assert(storeIds(store) === Seq(10L, 11L, 21L))
    // deferred-GC reclaim is a no-op here (inline GC already ran)
    assert(StreamingOps.gcStore(store) >= 0)
  }

  test("scd2 snapshot GC and commit log read through file: URIs") {
    val store = s"file:${tmpDir("fs-scd2")}"
    Seq((1L, "a")).toDF("key", "v").write.parquet(s"$store/open/$bc=0")
    Seq((1L, "b")).toDF("key", "v").write.parquet(s"$store/open/$bc=1")
    Seq((1L, "c")).toDF("key", "v").write.parquet(s"$store/open/$bc=2")
    val ckpt = s"file:${tmpDir("fs-scd2-ck")}"
    val fs = Fs
    fs.mkdirs(fs.path(ckpt, "commits"))
    fs.writeString(fs.path(ckpt, "commits", "1"), "{}")
    assert(StreamingOps.lastCommittedBatch(ckpt) === Some(1L))
    // keep: newest ≤ committed (1) plus everything above (2) → drop 0
    assert(StreamingOps.gcScd2OpenSnapshots(store, Some(ckpt)) === 1)
    assert(!fs.exists(fs.path(store, "open", s"$bc=0")))
    assert(fs.exists(fs.path(store, "open", s"$bc=1")))
    assert(fs.exists(fs.path(store, "open", s"$bc=2")))
  }

  test("versioned manifests: max-epoch read, growing commits, GC of superseded") {
    val store = tmpDir("fs-man")
    Manifests.flip(store, 0L, 5L)
    assert(Manifests.read(store) === Some((0L, 5L)))
    Manifests.flip(store, 1L, 9L)
    assert(Manifests.read(store) === Some((1L, 9L)))
    // both versioned files exist until GC; read always takes the max
    val mdir = Fs.path(store, Manifests.CompactDir)
    val names = Fs.list(mdir).filter(_.isFile).map(_.getPath.getName)
    assert(names.contains("manifest-0.json") && names.contains("manifest-1.json"))
    // GC (with a data dir for the committed epoch so read stays valid)
    Seq((1L, 1L)).toDF("a", bc).write.parquet(Manifests.epochPath(store, 1L))
    Manifests.gcSuperseded(store)
    val after = Fs.list(mdir).filter(_.isFile).map(_.getPath.getName)
    assert(after.contains("manifest-1.json") && !after.contains("manifest-0.json"))
    assert(Manifests.read(store) === Some((1L, 9L)))
  }

  test("legacy single-file manifest.json still reads (lowest priority)") {
    val store = tmpDir("fs-legacy")
    val mdir = Fs.path(store, Manifests.CompactDir)
    Fs.mkdirs(mdir)
    Fs.writeString(new org.apache.hadoop.fs.Path(mdir, "manifest.json"),
      """{"epoch":3,"covers_upto":7}""")
    assert(Manifests.read(store) === Some((3L, 7L)))
    // a versioned manifest outranks it
    Manifests.flip(store, 4L, 8L)
    assert(Manifests.read(store) === Some((4L, 8L)))
  }
}

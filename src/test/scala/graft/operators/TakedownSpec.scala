package graft.operators

import graft.SparkSpec
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._

/** Takedown / delete-by-id (r14): only touched partitions rewrite,
  * untouched partitions stay byte-identical, the swap heals from every
  * crash state, live-replay resurrection is refused, and the IVF index
  * forgets deleted vectors without a rebuild. */
class TakedownSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def writeBatch(store: String, b: Long, ids: Seq[Long]): Unit =
    ids.map(i => (i, s"text-$i")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$store/${StreamingOps.IngestBatchCol}=$b")

  private def storeIds(store: String): Seq[Long] =
    StreamingOps.readCorpusStore(spark, store).get
      .select("doc_id").as[Long].collect().sorted.toSeq

  test("delete rewrites only touched batches; untouched bytes identical") {
    val store = tmpDir("td-basic")
    writeBatch(store, 0, Seq(1L, 2L, 3L))
    writeBatch(store, 1, Seq(10L, 11L))
    writeBatch(store, 2, Seq(20L, 21L, 22L))
    val before1 = hashDir(s"$store/${StreamingOps.IngestBatchCol}=1")
    val r = Takedown.deleteFromStore(spark, store, Seq(2L, 21L, 22L))
    assert(r.deletedRows === 3L)
    assert(r.rewrittenUnits.toSet ===
      Set(s"${StreamingOps.IngestBatchCol}=0", s"${StreamingOps.IngestBatchCol}=2"))
    assert(storeIds(store) === Seq(1L, 3L, 10L, 11L, 20L))
    assert(hashDir(s"$store/${StreamingOps.IngestBatchCol}=1") === before1)
    // idempotent: nothing left to delete
    assert(Takedown.deleteFromStore(spark, store, Seq(2L, 21L)).deletedRows === 0L)
    // no staging residue
    Seq(".takedown_tmp", ".takedown_new", ".takedown_old").foreach(s =>
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(store, s))))
  }

  test("delete reaches a committed compaction epoch in place; manifest unchanged") {
    val store = tmpDir("td-epoch")
    writeBatch(store, 0, Seq(1L, 2L))
    writeBatch(store, 1, Seq(10L, 11L))
    writeBatch(store, 2, Seq(20L, 21L))
    StreamingOps.compactStore(spark, store, uptoBatch = 1L)
    val manBefore = Manifests.read(store)
    val r = Takedown.deleteFromStore(spark, store, Seq(2L, 11L, 20L))
    assert(r.deletedRows === 3L)
    assert(Manifests.read(store) === manBefore) // in-place epoch swap
    assert(storeIds(store) === Seq(1L, 10L, 21L))
  }

  test("live-replay guard: touched batch above last committed is refused") {
    val store = tmpDir("td-guard")
    val ckpt = tmpDir("td-guard-ck")
    writeBatch(store, 0, Seq(1L))
    writeBatch(store, 1, Seq(2L))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ckpt, "commits"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ckpt, "commits", "0"), "{}")
    val e = intercept[IllegalArgumentException](
      Takedown.deleteFromStore(spark, store, Seq(2L), checkpoint = Some(ckpt)))
    assert(e.getMessage.contains("resurrect"))
    // committed batch deletes fine under the same checkpoint
    assert(Takedown.deleteFromStore(spark, store, Seq(1L),
      checkpoint = Some(ckpt)).deletedRows === 1L)
  }

  test("recover heals every crash state of the swap") {
    val bc = StreamingOps.IngestBatchCol
    // state 1: tmp only (incomplete write) -> rolled back, leaf intact
    val s1 = tmpDir("td-s1")
    writeBatch(s1, 0, Seq(1L, 2L))
    Seq((9L, "junk")).toDF("doc_id", "text").write
      .parquet(s"$s1/.takedown_tmp/$bc=0")
    assert(Takedown.recover(s1) > 0)
    assert(storeIds(s1) === Seq(1L, 2L))
    // state 2: new + leaf (crash before swap) -> rolled forward
    val s2 = tmpDir("td-s2")
    writeBatch(s2, 0, Seq(1L, 2L))
    Seq((1L, "text-1")).toDF("doc_id", "text").coalesce(1).write
      .parquet(s"$s2/.takedown_new/$bc=0")
    Takedown.recover(s2)
    assert(storeIds(s2) === Seq(1L))
    // state 3: new + old, leaf missing (crash mid-swap) -> rolled forward
    val s3 = tmpDir("td-s3")
    writeBatch(s3, 0, Seq(1L, 2L))
    Seq((2L, "text-2")).toDF("doc_id", "text").coalesce(1).write
      .parquet(s"$s3/.takedown_new/$bc=0")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s3, ".takedown_old"))
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s3, s"$bc=0"),
      java.nio.file.Paths.get(s3, ".takedown_old", s"$bc=0"))
    Takedown.recover(s3)
    assert(storeIds(s3) === Seq(2L))
    // state 4: old only (crash before cleanup) -> old removed, leaf kept
    val s4 = tmpDir("td-s4")
    writeBatch(s4, 0, Seq(1L))
    writeBatch(s4, 99, Seq(7L)) // stands in for the pre-swap copy
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s4, ".takedown_old"))
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s4, s"$bc=99"),
      java.nio.file.Paths.get(s4, ".takedown_old", s"$bc=99"))
    Takedown.recover(s4)
    assert(storeIds(s4) === Seq(1L))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s4, ".takedown_old")))
  }

  test("IVF takedown: probes forget deleted ids; untouched lists byte-identical") {
    val dim = 8
    def vec(i: Long): Seq[Float] =
      (0 until dim).map(d => (((i * 31 + d * 17) % 13) - 6).toFloat / 6f)
    val base = (0L until 64L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val idx = Similarity.buildIvfIndex(base, nLists = 4)
    val path = tmpDir("td-ivf")
    Similarity.writeIvfIndex(idx, path)
    val appended = (100L until 110L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    Similarity.appendIvfBatch(Similarity.readIvfIndex(spark, path), appended,
      path, batchId = 7L)
    val all = Similarity.readIvfIndex(spark, path)
    // victims: one base vector, one appended vector
    val victims = Seq(3L, 105L)
    val lists = all.assigned.filter(col("vec_id").isin(victims: _*))
      .select("list").as[Int].collect().toSet
    val untouched = (0 until 4).filterNot(lists.contains)
    val beforeHashes = untouched.map(l =>
      l -> hashDir(s"$path/assigned/${Manifests.BatchCol}=-1/list=$l")).toMap
    val deleted = Similarity.deleteFromIvfIndex(spark, path, victims)
    assert(deleted === 2L)
    val after = Similarity.readIvfIndex(spark, path)
    assert(after.assigned.filter(col("vec_id").isin(victims: _*)).count() === 0L)
    assert(after.assigned.count() === 72L)
    untouched.foreach(l => assert(
      hashDir(s"$path/assigned/${Manifests.BatchCol}=-1/list=$l")
        === beforeHashes(l)))
    // a probe near a victim's position never returns it
    val probe = vec(3L).map(_.toDouble).toArray
    val got = Similarity.probeIvf(after, probe, k = 10, nProbe = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(!got.contains(3L) && !got.contains(105L))
    // idempotent
    assert(Similarity.deleteFromIvfIndex(spark, path, victims) === 0L)
  }

  test("SCD2 erasure: a key's whole history goes from closed AND every open snapshot") {
    val s = tmpDir("td-scd2")
    val bc = StreamingOps.IngestBatchCol
    def vrow(k: Long, cid: Long, cur: Boolean) =
      (k, cid, cid.toDouble, cid * 100L,
        if (cur) None else Some(cid * 100L + 100L), cur)
    val cols = Seq("key", "change_id", "v", "valid_from_us", "valid_to_us", "is_current")
    Seq(vrow(1L, 1L, cur = false), vrow(2L, 2L, cur = false))
      .toDF(cols: _*).coalesce(1).write.parquet(s"$s/closed/$bc=0")
    Seq(vrow(2L, 4L, cur = false)).toDF(cols: _*)
      .coalesce(1).write.parquet(s"$s/closed/$bc=1")
    // two retained open snapshots (the commit-aware GC can keep both)
    Seq(vrow(1L, 3L, cur = true), vrow(2L, 4L, cur = true))
      .toDF(cols: _*).coalesce(1).write.parquet(s"$s/open/$bc=0")
    Seq(vrow(1L, 3L, cur = true), vrow(2L, 5L, cur = true))
      .toDF(cols: _*).coalesce(1).write.parquet(s"$s/open/$bc=1")
    val untouched = hashDir(s"$s/closed/$bc=1") // key 1 never lived there
    val r = Takedown.deleteFromScd2Store(spark, s, Seq(1L))
    assert(r.deletedRows === 3L) // closed b0 + both open snapshots
    assert(r.rewrittenUnits.toSet ===
      Set(s"closed/$bc=0", s"open/$bc=0", s"open/$bc=1"))
    assert(hashDir(s"$s/closed/$bc=1") === untouched)
    val v = StreamingOps.readScd2Store(spark, s).get
    assert(v.filter(col("key") === 1L).count() === 0L)
    assert(v.select("key", "change_id").as[(Long, Long)].collect().sorted.toSeq
      === Seq((2L, 2L), (2L, 4L), (2L, 5L)))
    // the OLDER snapshot was cleansed too: a replay-style read below
    // batch 1 no longer sees the key
    val older = spark.read.parquet(s"$s/open/$bc=0")
    assert(older.filter(col("key") === 1L).count() === 0L)
    // replay-resurrection guard
    val ckpt = tmpDir("td-scd2-ck")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ckpt, "commits"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ckpt, "commits", "0"), "{}")
    val e = intercept[IllegalArgumentException](
      Takedown.deleteFromScd2Store(spark, s, Seq(2L), checkpoint = Some(ckpt)))
    assert(e.getMessage.contains("resurrect"))
  }

  /** Sorted (relative-name, md5) pairs of a dir's data files. */
  private def hashDir(dir: String): Seq[(String, String)] = {
    val root = java.nio.file.Paths.get(dir)
    assert(java.nio.file.Files.isDirectory(root), s"missing dir $dir")
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    java.nio.file.Files.walk(root).forEach { p =>
      if (java.nio.file.Files.isRegularFile(p)) {
        val md = java.security.MessageDigest.getInstance("MD5")
        val h = md.digest(java.nio.file.Files.readAllBytes(p))
          .map("%02x".format(_)).mkString
        out += ((root.relativize(p).toString, h))
      }
    }
    out.sortBy(_._1).toSeq
  }

  test("alias propagation: orphans surfaced, references erased, untouched partitions intact") {
    val bc = StreamingOps.IngestBatchCol
    val al = StreamingOps.AliasesDir
    val store = tmpDir("td-alias")
    // store: batch 0 keeps 1,2; batch 1 keeps 10. Aliases: 5->1, 6->2
    // (batch 0); 15->10, 16->2 (batch 1)
    writeBatch(store, 0, Seq(1L, 2L))
    writeBatch(store, 1, Seq(10L))
    Seq((5L, 1L, 1.0), (6L, 2L, 0.9)).toDF("doc_id", "kept_id", "jaccard")
      .coalesce(1).write.parquet(s"$store/$al/$bc=0")
    Seq((15L, 10L, 0.8), (16L, 2L, 0.7)).toDF("doc_id", "kept_id", "jaccard")
      .coalesce(1).write.parquet(s"$store/$al/$bc=1")
    // take down kept doc 2: aliases 6 and 16 are orphaned (re-ingest list)
    val orphans = Takedown.orphanedAliases(spark, store, Seq(2L))
      .select("doc_id", "kept_id").as[(Long, Long)].collect().toSet
    assert(orphans === Set((6L, 2L), (16L, 2L)))
    // deleting a non-kept id orphans nothing
    assert(Takedown.orphanedAliases(spark, store, Seq(999L)).count() === 0L)
    // erase every reference to 2 (as kept_id) and to 15 (as doc_id);
    // batch 0's partition stays byte-identical when untouched
    val erased = Takedown.eraseAliasReferences(spark, store, Seq(15L))
    assert(erased === 1L)
    val before0 = hashDir(s"$store/$al/$bc=0")
    assert(Takedown.eraseAliasReferences(spark, store, Seq(2L)) === 2L)
    assert(hashDir(s"$store/$al/$bc=0") !== before0) // 6->2 left batch 0
    val left = StreamingOps.readCorpusStore(spark, s"$store/$al").get
      .select("doc_id", "kept_id").as[(Long, Long)].collect().toSet
    assert(left === Set((5L, 1L)))
    // idempotent: nothing left to erase
    assert(Takedown.eraseAliasReferences(spark, store, Seq(2L, 15L)) === 0L)
    // erasure composes with a compacted sidecar (epoch rewrite in place)
    StreamingOps.compactStore(spark, s"$store/$al", uptoBatch = 1L)
    assert(Takedown.eraseAliasReferences(spark, store, Seq(1L)) === 1L)
    assert(StreamingOps.readCorpusStore(spark, s"$store/$al").isEmpty ||
      StreamingOps.readCorpusStore(spark, s"$store/$al").get.count() === 0L)
  }
}

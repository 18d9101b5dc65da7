package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Cross-validation of the approximate dedup/similarity operators against
  * their exact counterparts (the DuckDB oracle covers the exact ones;
  * these assert the approximation contracts). */
class DedupSimilaritySpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sfDirDocs, "documents")

  test("keepCanonical: one survivor per family (best quality, ties by id), unclustered pass") {
    import spark.implicits._
    val docs = Seq(
      (1L, 0.50), (2L, 0.90), (3L, 0.90), // family {1,2,3}: 2 and 3 tie on quality -> keep 2
      (4L, 0.10),                          // unclustered
      (5L, 0.30), (6L, 0.70),              // family {5,6}: keep 6
      (7L, 0.99)                           // unclustered
    ).toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("da", "db")
    val kept = Dedup.keepCanonical(docs, pairs, col("q"))
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq === Seq(2L, 4L, 6L, 7L))
    // full input schema survives dedup
    assert(kept.columns.toSeq === Seq("doc_id", "q"))
    // driver tier (labels are metadata here): ONE broadcast anti join,
    // no family window, the corpus never shuffles into a join
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"losers must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must not shuffle into a join:\n$plan")
    assert(!plan.contains("Window"), s"driver tier must not window:\n$plan")
    // broadcast tier (driver tier off): labels broadcast on BOTH the
    // keep-rule and anti joins, same rows
    val keptB = Dedup.keepCanonical(docs, pairs, col("q"), driverLabels = 0L)
    assert(keptB.select("doc_id").as[Long].collect().sorted.toSeq === Seq(2L, 4L, 6L, 7L))
    val planB = keptB.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllMatchIn(planB).size >= 2, s"labels must broadcast:\n$planB")
    assert(!planB.contains("SortMergeJoin"), s"corpus must not shuffle into a join:\n$planB")
  }

  test("keepCanonical driver tier matches the distributed tiers row-for-row") {
    import spark.implicits._
    val docs = (0L until 40L).map { i =>
      val fam = i % 10 // 10 families of 4 near-identical docs
      (i, s"family $fam shared body text alpha beta gamma delta epsilon v$i")
    }.toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairsUnsorted(docs, 0.5)
    val q = org.apache.spark.sql.functions.length(col("text")).cast("double")
    val driver = Dedup.keepCanonical(docs, pairs, q).collect().map(_.getLong(0)).sorted
    val dist = Dedup.keepCanonical(docs, pairs, q, driverLabels = 0L)
      .collect().map(_.getLong(0)).sorted
    assert(driver.toSeq === dist.toSeq, "tier choice must not change survivors")
  }

  test("keepCanonical size dispatch: oversized label sets take shuffle hash joins, same rows") {
    // On a 30-50%-near-dup crawl corpus the label set is a constant
    // fraction of the corpus — broadcasting it would OOM at scale. A
    // forced tiny threshold must route BOTH label joins through shuffle
    // hash joins (no broadcast of labels, no sort of the corpus) and
    // return exactly the broadcast tier's rows.
    import spark.implicits._
    val docs = Seq(
      (1L, 0.50), (2L, 0.90), (3L, 0.90),
      (4L, 0.10), (5L, 0.30), (6L, 0.70), (7L, 0.99)
    ).toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("da", "db")
    val kept = Dedup.keepCanonical(docs, pairs, col("q"), broadcastableLabels = 1L)
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq === Seq(2L, 4L, 6L, 7L))
    val plan = kept.queryExecution.executedPlan.toString
    assert("ShuffledHashJoin".r.findAllMatchIn(plan).size >= 2,
      s"oversized labels must shuffle-hash-join on both joins:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), s"oversized labels must not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"the corpus must not be sorted into a join:\n$plan")
  }

  test("dedupAgainstCorpus size dispatch: oversized increments take a shuffle hash anti join") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val inc = Seq(
      (10L, "alpha beta gamma delta epsilon"), // near-dup of corpus doc 1
      (11L, "totally different content here now")
    ).toDF("doc_id", "text")
    val small = Dedup.dedupAgainstCorpus(corpus, inc, 0.5)
    val big = Dedup.dedupAgainstCorpus(corpus, inc, 0.5, broadcastableFlagged = 1L)
    assert(small.select("doc_id").as[Long].collect().toSeq === Seq(11L))
    assert(big.select("doc_id").as[Long].collect().toSeq === Seq(11L))
    val plan = big.queryExecution.executedPlan.toString
    // the flagged-id ANTI join must be a shuffle hash join; the candidate
    // probe inside crossDup0 still broadcasts the increment index
    assert(plan.contains("ShuffledHashJoin LeftAnti") ||
      ("ShuffledHashJoin".r.findAllMatchIn(plan).nonEmpty && !plan.contains("BroadcastHashJoin LeftAnti")),
      s"oversized flagged set must shuffle-hash anti join:\n$plan")
  }

  test("crossDupPairs equals jaccardPairs restricted to cross-side pairs; survivors anti-match") {
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val inc = docs.filter(col("doc_id") % 2 === 1)
    // reference: symmetric pairs over everything, kept only when the two
    // sides straddle the split (jaccardPairs emits da < db; reorient)
    val expected = Dedup.jaccardPairs(docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .collect {
        case (a, b, j) if a % 2 == 0 && b % 2 == 1 => (a, b, j)
        case (a, b, j) if a % 2 == 1 && b % 2 == 0 => (b, a, j)
      }.toSet
    val cross = Dedup.crossDupPairs(corpus, inc, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.nonEmpty, "fixture should contain cross-side near-dups")
    assert(cross === expected)
    // survivors = increment minus flagged inc ids, schema preserved
    val flagged = cross.map(_._2)
    val survivors = Dedup.dedupAgainstCorpus(corpus, inc, 0.5)
    assert(survivors.columns.toSeq === inc.columns.toSeq)
    val got = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    val want = inc.select("doc_id").collect().map(_.getLong(0)).toSet -- flagged
    assert(got === want)
    // plan shape: the increment side broadcasts into the candidate join —
    // the corpus must stream through it, never sort-merge
    val plan = Dedup.crossDupPairs(corpus, inc, 0.5).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"increment index must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must not shuffle into the join:\n$plan")
    // single-pass by construction: both shingle kernels ran at
    // materialization; the serving plan reads checkpointed blocks (the
    // un-pinned form measured 3 live UDF sites per side — explode's
    // inferred pre-filter re-expands the kernel below the projection)
    assert(PlanAudit.scalaUdfSites(Dedup.crossDupPairs(corpus, inc, 0.5)) === 0)
  }

  test("crossDupPairsAuto: forced chunking equals the single-pass probe exactly") {
    // bound 2 on an increment of ~hundreds of docs forces the chunk loop
    // (many chunks); per-document independence means the union over
    // chunks must equal crossDupPairs row-for-row.
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val inc = docs.filter(col("doc_id") % 2 === 1)
    val single = Dedup.crossDupPairs(corpus, inc, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val chunked = Dedup.crossDupPairsAuto(corpus, inc, 0.5, broadcastableIncrement = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(single.nonEmpty)
    assert(chunked === single)
    // below the bound the dispatch is crossDupPairs verbatim
    val auto = Dedup.crossDupPairsAuto(corpus, inc, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(auto === single)
  }

  test("containmentPairs: prefix-embedded doc scores 1.0 one-way; both directions filtered independently") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "a b c d e"),             // 3 shingles, all inside doc 2's
      (2L, "a b c d e f g h"),       // 6 shingles
      (3L, "x y z w v u t s")        // unrelated
    ).toDF("doc_id", "text")
    val strict = Dedup.containmentPairs(fixture, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(strict === Seq((1L, 2L, 1.0))) // 1 is fully contained in 2; 2 is not in 1
    val loose = Dedup.containmentPairs(fixture, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(loose === Seq((1L, 2L, 1.0), (2L, 1L, 0.5))) // 3/6 the other way
    // jaccard misses the embedding at any near-dup threshold: 3/6 overall
    val jac = Dedup.jaccardPairs(fixture, 0.6).collect()
    assert(jac.isEmpty)
  }

  test("minhash-LSH pairs equal exact jaccard pairs at the 0.5 threshold") {
    val exact = Dedup.jaccardPairs(docs, 0.5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLshPairs(docs, 0.5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(lsh === exact)
  }

  test("simhash pairs are true near-dups (precision against jaccard >= 0.3)") {
    val simPairs = Dedup.simHashPairs(docs, 3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(simPairs.nonEmpty)
    val loose = Dedup.jaccardPairs(docs, 0.3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bad = simPairs -- loose
    assert(bad.isEmpty, s"simhash produced non-near-dup pairs: $bad")
  }

  test("frequency-capped jaccard candidates still find the planted dups") {
    val exact = Dedup.jaccardPairs(docs, 0.5).collect().length
    val capped = Dedup.jaccardPairs(docs, 0.5, maxShingleDocFreq = Some(50)).collect().length
    assert(capped === exact) // planted dups share rare shingles, cap only drops boilerplate
  }

  test("hot-shingle cap bounds candidate generation while keeping jaccard exact") {
    import spark.implicits._
    // 60 docs all sharing a boilerplate sentence (its shingles have df=60,
    // far above the cap) + unique tails; docs 0 and 1 are near-dups whose
    // jaccard DEPENDS on the boilerplate shingles being counted in common.
    val boiler = "terms of service apply to all users"
    val fixture = (0 until 60).map { i =>
      val tail =
        if (i == 0) "alpha beta gamma delta epsilon zeta"
        else if (i == 1) "alpha beta gamma delta epsilon eta"
        else s"u$i a$i b$i c$i d$i e$i"
      (i.toLong, s"$boiler $tail")
    }.toDF("doc_id", "text")
    def pairs(cap: Option[Int]) =
      Dedup.jaccardPairs(fixture, 0.5, maxShingleDocFreq = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val uncapped = pairs(None)
    val capped = pairs(Some(8))
    assert(uncapped.nonEmpty && uncapped.map(p => (p._1, p._2)) === Seq((0L, 1L)))
    // hot adjustment restores the boilerplate contribution exactly: same
    // pairs AND same jaccard values as the uncapped join
    assert(capped === uncapped)
    // and candidate generation is actually bounded: only the cold (rare)
    // shingles join, so the planted near-dup is the lone candidate pair —
    // not the 60*59/2 all-pairs the boilerplate would produce uncapped
    val sh = Dedup.withShingles(fixture).select(col("doc_id"), explode(col("shingles")).as("sg"))
    val dfBySg = sh.groupBy("sg").count()
    val cold = sh.join(dfBySg.filter(col("count") <= 8), "sg")
    val coldCands = cold.select(col("sg"), col("doc_id").as("da"))
      .join(cold.select(col("sg"), col("doc_id").as("db")), "sg")
      .filter(col("da") < col("db")).select("da", "db").distinct().count()
    assert(coldCands === 1L)
  }

  test("cap's documented divergence: pairs sharing ONLY boilerplate are dropped, not mis-scored") {
    import spark.implicits._
    // docs 0 and 1 are identical PURE boilerplate (jac 1.0 through hot
    // shingles alone); 40 more docs carry the same boilerplate plus unique
    // tails. The cap treats all-boilerplate overlap as not-a-near-dup —
    // that pair disappears (the ONLY divergence mode); it is never
    // emitted with a wrong score.
    val boiler = "all rights reserved contact us for details"
    val fixture = ((0 to 1).map(i => (i.toLong, boiler)) ++
      (2 until 42).map(i => (i.toLong, s"$boiler tail$i x$i y$i z$i w$i v$i"))).toDF("doc_id", "text")
    def ids(cap: Option[Int]) = Dedup.jaccardPairs(fixture, 0.5, maxShingleDocFreq = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids(None).contains((0L, 1L)))
    assert(!ids(Some(8)).contains((0L, 1L)))
    // every pair the capped join DOES emit scores identically to uncapped
    def scored(cap: Option[Int]) = Dedup.jaccardPairs(fixture, 0.5, maxShingleDocFreq = cap)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val (u, c) = (scored(None), scored(Some(8)))
    c.foreach { case (k, jac) => assert(u(k) === jac, s"capped mis-scored $k") }
  }

  test("dedup kernels run once BY CONSTRUCTION (no optimizer rewrite required)") {
    // fan-out signature stages are materialized (eager local checkpoint)
    // and pairs are expanded by grouping the inverted index, so each live
    // kernel appears at exactly one site in the optimized plan — count
    // them. (The previous design relied on ReuseExchange deduplicating
    // identical Exchange subtrees; when that rewrite didn't fire, every
    // kernel ran 2-4x.)
    import Dedup.DefaultShingleDocFreqCap
    // uncapped jaccard: shingle kernel checkpointed (0 sites) + pair expansion (1)
    assert(PlanAudit.scalaUdfSites(Dedup.jaccardPairs(docs, 0.5)) === 1)
    // capped jaccard: shingle kernel + exploded index both checkpointed
    assert(PlanAudit.scalaUdfSites(
      Dedup.jaccardPairs(docs, 0.5, maxShingleDocFreq = Some(DefaultShingleDocFreqCap))) === 1)
    // minhash: shingle kernel checkpointed; banding (1) + pair expansion (1)
    assert(PlanAudit.scalaUdfSites(Dedup.minHashLshPairs(docs, 0.5)) === 2)
    // simhash: straight-line chain — shingle (1) + simhash (1) + pair expansion (1)
    assert(PlanAudit.scalaUdfSites(Dedup.simHashPairs(docs, 3)) === 3)
  }

  test("IVF ANN achieves high recall on planted near neighbors") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(3)
    val base = Array.fill(dim)(rnd.nextGaussian().toFloat)
    // planted neighbors live at 100..109 so they cluster AROUND the
    // probe, and centroid quality comes from k-means, not id placement
    val rows = (0 until 200).map { i =>
      val e = if (i == 0) base
      else if (i >= 100 && i < 110) base.map(x => x + 0.1f * rnd.nextGaussian().toFloat)
      else Array.fill(dim)(rnd.nextGaussian().toFloat)
      (i.toLong, e)
    }
    val df = rows.toDF("vec_id", "embedding")
    val exactTop = Similarity.cosineTopK(df, 0L, 10).collect().map(_.getLong(0)).toSet
    val ivfTop = Similarity.ivfTopK(df, 0L, 10, nLists = 8, nProbe = 3)
      .collect().map(_.getLong(0)).toSet
    val recall = (ivfTop & exactTop).size.toDouble / 10
    assert(exactTop === (100L to 109L).toSet)
    assert(recall >= 0.8, s"IVF recall too low: $recall")
  }

  test("IVF recall survives shuffled vec_id labels (centroids are k-means, not id-order)") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(3)
    val base = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val raw = (0 until 200).map { i =>
      val e = if (i == 0) base
      else if (i >= 100 && i < 110) base.map(x => x + 0.1f * rnd.nextGaussian().toFloat)
      else Array.fill(dim)(rnd.nextGaussian().toFloat)
      (i.toLong, e)
    }
    // adversarial relabeling: a fixed permutation scatters the cluster
    // across the id space (the old first-N-by-id sampling would have
    // seeded centroids purely by luck of the permutation)
    val perm = new scala.util.Random(99).shuffle((0 until 200).toVector)
    val relabeled = raw.map { case (id, e) => (perm(id.toInt).toLong, e) }
    val probeId = perm(0).toLong
    val plantedIds = (100 until 110).map(i => perm(i).toLong).toSet
    val df = relabeled.toDF("vec_id", "embedding")
    val exactTop = Similarity.cosineTopK(df, probeId, 10).collect().map(_.getLong(0)).toSet
    val ivfTop = Similarity.ivfTopK(df, probeId, 10, nLists = 8, nProbe = 3)
      .collect().map(_.getLong(0)).toSet
    assert(exactTop === plantedIds)
    val recall = (ivfTop & exactTop).size.toDouble / 10
    assert(recall >= 0.9, s"IVF recall too low after relabeling: $recall")
  }

  test("IVF index builds once and serves many probes (no re-assignment per probe)") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(13)
    def vec() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    // 3 planted clusters of 11 members + 150 noise vectors
    val bases = Seq.fill(3)(vec())
    val rows = bases.zipWithIndex.flatMap { case (b, c) =>
      (0 until 11).map(i => ((c * 100 + i).toLong, b.map(x => x + 0.1f * rnd.nextGaussian().toFloat)))
    } ++ (1000 until 1150).map(i => (i.toLong, vec()))
    val df = rows.toDF("vec_id", "embedding")
    val index = Similarity.buildIvfIndex(df, nLists = 8)
    // the pinned assignment is a LogicalRDD leaf: lineage was truncated
    // at build, so NO probe can re-run centroid sampling or assignment —
    // one assignment pass serves every probe below, structurally
    assert(index.assigned.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    for (c <- 0 until 3) {
      val pid = (c * 100).toLong
      val probeVec = rows.find(_._1 == pid).get._2.map(_.toDouble)
      val got = Similarity.probeIvf(index, probeVec, 10, nProbe = 3, excludeId = Some(pid))
      // plan evidence: the probe reads the pinned blocks, never the source
      val phys = got.queryExecution.executedPlan.toString
      assert(phys.contains("ExistingRDD"), s"probe $c plan does not read the pinned index")
      assert(!phys.contains("LocalTableScan"), s"probe $c plan re-scans the source")
      val exact = Similarity.cosineTopK(df, pid, 10).collect().map(_.getLong(0)).toSet
      val ivf = got.collect().map(_.getLong(0)).toSet
      val recall = (ivf & exact).size.toDouble / 10
      assert(recall >= 0.9, s"probe $c recall too low: $recall")
    }
  }

  test("embedding near-dup auto-dispatch: exact tier below the corpus limit, LSH tier above") {
    import spark.implicits._
    val dim = 8
    val rnd = new scala.util.Random(5)
    def vec() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val bases = Seq.fill(3)(vec())
    val rows = bases.zipWithIndex.flatMap { case (b, i) =>
      Seq((i * 2L, b), (i * 2L + 1, b.map(_ * 1.0005f)))
    } ++ (10 until 60).map(i => (i.toLong, vec()))
    val df = rows.toDF("vec_id", "embedding")
    val expected = Set((0L, 1L), (2L, 3L), (4L, 5L))
    // 56 vectors <= 1000 -> exact block triangle
    val small = Dedup.embeddingNearDupPairsAuto(df, 0.99, exactMaxVectors = 1000,
      numPlanes = 12, dim = dim)
    // forced over the limit -> LSH bucket join; same pairs at a high threshold
    val big = Dedup.embeddingNearDupPairsAuto(df, 0.99, exactMaxVectors = 10,
      numPlanes = 12, dim = dim)
    assert(small.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === expected)
    assert(big.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === expected)
    // tier evidence: only the exact tier carries the block-triangle
    // object kernel (SerializeFromObject); the LSH tier is a pure
    // expression-and-join plan
    assert(small.queryExecution.executedPlan.toString.contains("SerializeFromObject"))
    assert(!big.queryExecution.executedPlan.toString.contains("SerializeFromObject"))
  }

  test("q32 skew-probe verdict is cached per (input, n, cap)") {
    import spark.implicits._
    val fixture = (0 until 40).map(i =>
      (i.toLong, s"skew cache fixture doc $i alpha$i beta$i gamma$i delta$i"))
      .toDF("doc_id", "text")
    val before = Dedup.skewProbeRuns.get()
    val r1 = Dedup.jaccardPairs(fixture, 0.5, maxShingleDocFreq = Some(7)).collect()
    assert(Dedup.skewProbeRuns.get() === before + 1)
    // same (input, n, cap): verdict served from cache, probe not re-run
    val r2 = Dedup.jaccardPairs(fixture, 0.5, maxShingleDocFreq = Some(7)).collect()
    assert(Dedup.skewProbeRuns.get() === before + 1)
    assert(r1.map(_.toSeq).toSeq === r2.map(_.toSeq).toSeq)
    // a different cap is a different dispatch question — probed afresh
    Dedup.jaccardPairs(fixture, 0.5, maxShingleDocFreq = Some(8)).collect()
    assert(Dedup.skewProbeRuns.get() === before + 2)
  }

  test("LSH-bucketed embedding near-dup matches the exact pairs for high thresholds") {
    import spark.implicits._
    val dim = 8
    val rnd = new scala.util.Random(5)
    def vec() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    // 3 planted near-dup pairs + noise
    val bases = Seq.fill(3)(vec())
    val rows = bases.zipWithIndex.flatMap { case (b, i) =>
      Seq((i * 2L, b), (i * 2L + 1, b.map(_ * 1.0005f)))
    } ++ (10 until 60).map(i => (i.toLong, vec()))
    val df = rows.toDF("vec_id", "embedding")
    val exact = Dedup.embeddingNearDupPairs(df, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingNearDupPairsLsh(df, 0.99, numPlanes = 12, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact === Set((0L, 1L), (2L, 3L), (4L, 5L)))
    assert(lsh === exact)
  }

  test("crossDupVectors: planted cross dups recovered through a persisted index; survivors anti-match") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    // corpus 0..99 with 5 bases; increment 1000..1019 where the first 5
    // are near-dups of corpus 0..4 — the daily-ingest pattern
    val bases = Seq.fill(5)(vec())
    val corpus = (bases.zipWithIndex.map { case (b, i) => (i.toLong, b) } ++
      (5 until 100).map(i => (i.toLong, vec()))).toDF("vec_id", "embedding")
    val inc = (bases.zipWithIndex.map { case (b, i) =>
      ((1000 + i).toLong, b.map(x => x + 0.005f * rnd.nextGaussian().toFloat))
    } ++ (1005 until 1020).map(i => (i.toLong, vec()))).toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("ivf-crossdup").toString
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, nLists = 8), tmp)
    val stored = Similarity.readIvfIndex(spark, tmp)
    val pairs = Dedup.crossDupVectors(stored, inc, threshold = 0.99, nProbe = 3)
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      (0 until 5).map(i => (i.toLong, (1000 + i).toLong)).toSet)
    // the probe over the disk-backed index is partition-pruned: the list
    // filter must reach PartitionFilters, not a post-scan predicate
    val plan = pairs.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*list".r.findFirstIn(plan).isDefined,
      s"expected the probed lists inside PartitionFilters:\n$plan")
    // survivors: exactly the unflagged increment rows, schema preserved
    val surv = Dedup.dedupVectorsAgainstCorpus(stored, inc, 0.99, nProbe = 3)
    assert(surv.columns.toSeq === inc.columns.toSeq)
    assert(surv.select("vec_id").as[Long].collect().sorted.toSeq ===
      (1005L until 1020L).toSeq)
  }

  test("embedding near-dup finds planted duplicate vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(2)
    val a = Array.fill(8)(rnd.nextGaussian().toFloat)
    val rows = Seq((0L, a), (1L, a.map(_ * 1.001f)), (2L, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val out = Dedup.embeddingNearDupPairs(rows.toDF("vec_id", "embedding"), 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((0L, 1L)))
  }

  test("assignTopics: planted clusters separate; assignment is a zero-shuffle projection") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(11)
    val a = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val b = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val rows = (0 until 120).map { i =>
      val center = if (i % 2 == 0) a else b
      (i.toLong, center.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val assigned = Similarity.assignTopics(df, k = 2, iters = 8)
    val got = assigned.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(got.length === 120)
    // the two planted clusters land in two distinct topics, cleanly
    val evenTopics = got.filter(_._1 % 2 == 0).map(_._2).toSet
    val oddTopics = got.filter(_._1 % 2 == 1).map(_._2).toSet
    assert(evenTopics.size === 1 && oddTopics.size === 1 && evenTopics != oddTopics,
      s"clusters mixed: even=$evenTopics odd=$oddTopics")
    // tight clusters: cosine to own centroid is near 1
    assert(got.forall(_._3 > 0.9), s"low cohesion: ${got.map(_._3).min}")
    // assignment is a pure projection over literal centroids
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment must be shuffle-free:\n$plan")
  }
}

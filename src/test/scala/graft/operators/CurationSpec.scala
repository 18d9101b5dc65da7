package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end curation pipeline (q68): a planted fixture where every
  * stage drops exactly one designed document, so the manifest counts
  * and the survivor set are fully hand-verifiable. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  // 1: clean survivor (near-dup family winner by id tiebreak)
  // 2: near-dup of 1 (same word lengths -> identical quality -> id breaks the tie)
  // 3: exact duplicate of 1 (dropped at the exact stage, before pairing)
  // 4: punctuation soup (fails the quality gate)
  // 5: pure repetition with high-quality tokens (passes quality, fails repetition)
  // 6: contains the benchmark verbatim (dropped at decontamination)
  // 7: clean survivor
  // docs are 14+ words so the q62 top-bigram rule (>= 0.1) only fires on
  // genuine repetition, as it does on real corpus lengths
  private val corpus = Seq(
    (1L, "the cat and the dog walk to the old mouse near a very tall green tree"),
    (2L, "the cat and the dog walk to the old moose near a very tall green tree"),
    (3L, "the cat and the dog walk to the old mouse near a very tall green tree"),
    (4L, "!!! ??? !!!"),
    (5L, "the the the the the the"),
    (6L, "the quick brown fox jumps over the lazy dog today in bright morning light"),
    (7L, "a bright green garden grows by the quiet river bank under heavy summer rain")
  ).toDF("doc_id", "text")

  private val bench =
    Seq((100L, "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text")

  test("curate: every stage bites exactly as designed; manifest counts are exact") {
    // fixture preconditions, asserted so drift is self-explanatory
    val q = corpus.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q(4L) < 0.44, s"doc 4 must fail the quality gate: ${q(4L)}")
    Seq(1L, 2L, 3L, 5L, 6L, 7L).foreach(id =>
      assert(q(id) >= 0.44, s"doc $id must pass the quality gate: ${q(id)}"))
    assert(q(1L) === q(2L), "near-dup pair must tie on quality so the id tiebreak decides")

    val (survivors, manifest) = Curation.curate(corpus, bench)
    val rows = manifest.orderBy("stage").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows === Seq(
      ("1_quality", 7L, 6L),
      ("2_repetition", 6L, 5L),
      ("3_exact", 5L, 4L),
      ("4_neardup", 4L, 3L),
      ("5_decontam", 3L, 2L)))
    assert(survivors.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 7L))
    // the pipeline preserves the input schema on survivors
    assert(survivors.columns.toSeq === corpus.columns.toSeq)
  }

  test("curate: drop-set joins route to shuffle hash join when labels exceed the bound") {
    // broadcastableIds = 0 forces every size dispatch down the shuffle
    // path; results must be identical to the broadcast route. pin =
    // identity keeps the full lineage in one plan (the default
    // localCheckpoint pinch would truncate it to a checkpoint scan).
    val cfgShuffle = Curation.CurationConfig(broadcastableIds = 0L)
    val (survivors, manifest) = Curation.curate(corpus, bench, cfgShuffle, pin = identity)
    val plan = survivors.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"drop-set anti join must take the shuffle route at bound 0:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"the routed drop-set join is an anti join:\n$plan")
    assert(survivors.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 7L))
    assert(manifest.orderBy("stage").collect().map(r => (r.getString(0), r.getLong(2))).toSeq ===
      Seq(("1_quality", 6L), ("2_repetition", 5L), ("3_exact", 4L),
        ("4_neardup", 3L), ("5_decontam", 2L)))
  }

  test("curate: staged-broadcast tier (driverPairs=0) matches the fused driver tier") {
    // driverPairs = 0 disables the fused pair-collect tier while leaving
    // the broadcast dispatch alive — the staged distributed path with
    // broadcast label/drop-set joins. Pure plan choice: identical
    // survivors and manifest.
    val cfgStaged = Curation.CurationConfig(driverPairs = 0L)
    val (survivors, manifest) = Curation.curate(corpus, bench, cfgStaged)
    assert(survivors.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 7L))
    assert(manifest.orderBy("stage").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq(("1_quality", 7L, 6L), ("2_repetition", 6L, 5L), ("3_exact", 5L, 4L),
        ("4_neardup", 4L, 3L), ("5_decontam", 3L, 2L)))
    assert(survivors.columns.toSeq === corpus.columns.toSeq)
  }

  test("gateBatch: quality + repetition + within-batch exact dedup") {
    val gated = Curation.gateBatch(corpus)
    // drops 4 (quality), 5 (repetition), 3 (exact dup of 1); keeps the
    // near-dup pair 1/2 and the contaminated 6 — those stages belong to
    // the cross-corpus probes composed downstream
    assert(gated.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 2L, 6L, 7L))
  }

  test("gateBatch: the gate prefix is join-free — one scan to the content shuffle") {
    // r11: quality + repetition are row-local filters, so the gate has
    // NO join at any batch size (the pre-r11 shape dispatched a flagged
    // anti join; a pure filter is strictly better at every scale)
    val gated = Curation.gateBatch(corpus)
    val plan = gated.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"gate prefix must not join:\n$plan")
    assert(gated.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 2L, 6L, 7L))
  }

  test("listGate: blocklist drops before any text gate; allowlist keeps only listed") {
    // a PRISTINE document from a blocked source must fall at stage 0 —
    // its text would pass every downstream gate (the C4/RefinedWeb
    // order: the list verdict costs no text pass)
    val docs = Seq(
      (1L, "a bright green garden grows by the quiet river bank under heavy summer rain", "good.example"),
      (2L, "the old sailor tells a long story about distant winter storms near rocky shores", "spam.example"),
      (3L, "!!! ??? !!!", "good.example")
    ).toDF("doc_id", "text", "source")
    val bl = Seq("spam.example").toDF("domain")

    val gated = Curation.gateBatch(docs, blocklist = Some(bl))
    assert(gated.select("doc_id").as[Long].collect().sorted.toSeq === Seq(1L),
      "blocked domain falls at stage 0; junk text falls at quality")
    // the small list broadcasts (exact anti-join tier)
    val plan = Curation.listGate(docs, bl, "source")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"small blocklist must broadcast anti join:\n$plan")

    // allowlist: ONLY listed sources survive the gate
    val allowed = Curation.listGate(docs, bl, "source", allow = true)
    assert(allowed.select("doc_id").as[Long].collect().sorted.toSeq === Seq(2L))

    // Bloom tier: every blocked key drops (no false negatives); the
    // allow direction is refused (an FP would wrongly ADMIT)
    val bloomed = Curation.listGate(docs, bl, "source", bloomFpp = Some(0.01))
    assert(!bloomed.select("source").as[String].collect().contains("spam.example"))
    intercept[IllegalArgumentException] {
      Curation.listGate(docs, bl, "source", allow = true, bloomFpp = Some(0.01))
    }
  }

  test("curate with a blocklist: stage 0 rides the manifest; counts stay exact") {
    val blockedCorpus = corpus.withColumn("source",
      when(col("doc_id") === 7L, lit("blocked.example")).otherwise(lit("ok.example")))
    val bl = Seq("blocked.example").toDF("domain")
    val (survivors, manifest) = Curation.curate(blockedCorpus, bench,
      blocklist = Some(bl))
    val rows = manifest.orderBy("stage").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // doc 7 (a clean survivor in the unblocked fixture) now falls at
    // stage 0; every later stage drops its designed doc as before
    assert(rows === Seq(
      ("0_blocklist", 7L, 6L),
      ("1_quality", 6L, 5L),
      ("2_repetition", 5L, 4L),
      ("3_exact", 4L, 3L),
      ("4_neardup", 3L, 2L),
      ("5_decontam", 2L, 1L)))
    assert(survivors.select("doc_id").as[Long].collect().sorted.toSeq === Seq(1L))
  }

  test("badwordGate: hard rule drops any hit; case/punctuation/multiplicity counted") {
    val words = Seq("grawlix", "obscenix")
    val docs = Seq(
      (1L, "a perfectly clean document about gardens"),
      (2L, "one grawlix appears in this otherwise long clean text body here"),
      (3L, "shouted Grawlix! twice, grawlix again"),
      (4L, ""),
      (5L, "obscenix")
    ).toDF("doc_id", "text")
    // hard C4 rule: any hit drops; the empty doc is kept (no evidence)
    val hard = Curation.badwordGate(docs, words)
      .select("doc_id").as[Long].collect().toSet
    assert(hard === Set(1L, 4L))
    // counts: case folds, punctuation strips, multiplicity counts
    val counts = docs.select(col("doc_id"),
        Curation.badwordCount(col("text"), words).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(counts === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 0L, 5L -> 1L))
    // soft fraction: doc 2 is 1 hit / 11 tokens ~ 9% -> kept at 10%,
    // dropped at 5%; doc 5 is 100% bad, dropped at any bar
    val soft10 = Curation.badwordGate(docs, words, maxFrac = 0.10)
      .select("doc_id").as[Long].collect().toSet
    assert(soft10 === Set(1L, 2L, 4L))
    val soft5 = Curation.badwordGate(docs, words, maxFrac = 0.05)
      .select("doc_id").as[Long].collect().toSet
    assert(soft5 === Set(1L, 4L))
  }

  test("badwordGate: zero shuffle — the gate is a pure row-local filter") {
    val docs = Seq((1L, "clean text"), (2L, "has grawlix inside")).toDF("doc_id", "text")
    val plan = Curation.badwordGate(docs, Seq("grawlix"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"badwordGate must not shuffle:\n$plan")
  }

  test("gateBatch: a badword doc falls at the word gate, clean docs continue") {
    val docs = Seq(
      (1L, "the cat and the dog walk to the old mouse near a very tall green tree"),
      (2L, "a bright green garden grows with one grawlix by the quiet river bank today")
    ).toDF("doc_id", "text")
    // control: without the word list both docs pass the text gates
    val control = Curation.gateBatch(docs)
      .select("doc_id").as[Long].collect().toSet
    assert(control === Set(1L, 2L))
    val gated = Curation.gateBatch(docs, badwords = Some(Seq("grawlix")))
      .select("doc_id").as[Long].collect().toSet
    assert(gated === Set(1L))
  }

  test("keepTopQuantile: value-based cut, tie overshoot, per-group independence") {
    def dec(x: Double) = new java.math.BigDecimal(x.toString).setScale(4)
    val docs = Seq(
      // group a: scores 0.9 x2, 0.8 x2, 0.1 x6 -> ceil(0.3*10)=3:
      // cum(0.9)=2 < 3, cum(0.8)=4 >= 3 -> cut 0.8, FOUR keep (ties)
      (1L, "a", 0.9), (2L, "a", 0.9), (3L, "a", 0.8), (4L, "a", 0.8),
      (5L, "a", 0.1), (6L, "a", 0.1), (7L, "a", 0.1), (8L, "a", 0.1),
      (9L, "a", 0.1), (10L, "a", 0.1),
      // group b: 0.5 x1, 0.2 x2 -> ceil(0.3*3)=1 -> cut 0.5, one keeps
      (21L, "b", 0.5), (22L, "b", 0.2), (23L, "b", 0.2)
    ).map { case (id, g, s) => (id, g, dec(s)) }.toDF("doc_id", "g", "s")
      // the r15 guard enforces the quantized-grid type contract
      .withColumn("s", col("s").cast(org.apache.spark.sql.types.DecimalType(14, 4)))
    val kept = Curation.keepTopQuantile(docs, col("s"), col("g"), frac = 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 3L, 4L, 21L))
    // frac = 1 keeps everything; null scores drop
    val all = Curation.keepTopQuantile(docs, col("s"), col("g"), frac = 1.0)
    assert(all.count() === 13L)
    val withNull = docs.withColumn("s",
      when(col("doc_id") === 1L, lit(null)).otherwise(col("s")))
    val keptN = Curation.keepTopQuantile(withNull, col("s"), col("g"), 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(!keptN.contains(1L), "null-score rows never keep")
    // determinism under repartition
    val re = Curation.keepTopQuantile(docs.repartition(7), col("s"), col("g"), 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(re === kept)
    // the pin is a pure PLAN choice: an identity pin (score evaluated
    // in both consumers) selects the identical set
    val noPin = Curation.keepTopQuantile(docs, col("s"), col("g"), 0.3,
        pin = df => df)
      .select("doc_id").as[Long].collect().toSet
    assert(noPin === kept)
    // ADVICE r14: the quantized-score contract is ENFORCED, not
    // trusted — an unrounded double score (corpus-scale histogram)
    // is refused before any collect
    val dbl = Seq((1L, "a", 0.123456789)).toDF("doc_id", "g", "s")
    val e = intercept[IllegalArgumentException](
      Curation.keepTopQuantile(dbl, col("s"), col("g"), 0.3))
    assert(e.getMessage.contains("DECIMAL"))
    val wideScale = Seq((1L, "a", BigDecimal(0.123456789).setScale(9)))
      .toDF("doc_id", "g", "s")
    val e2 = intercept[IllegalArgumentException](
      Curation.keepTopQuantile(wideScale, col("s"), col("g"), 0.3))
    assert(e2.getMessage.contains("scale"))
    Storage.releaseAll(true)
  }

  test("snapshotDiff: all four statuses; text never rides the exchange") {
    val v1 = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val v2 = Seq((1L, "alpha"), (2L, "beta EDITED"), (4L, "delta")).toDF("doc_id", "text")
    val got = Curation.snapshotDiff(v1, v2)
      .as[(Long, String)].collect().sorted.toSeq
    assert(got === Seq((1L, "unchanged"), (2L, "changed"),
      (3L, "removed"), (4L, "added")))
    // the join exchanges (id, hash) projections — the text column must
    // be pruned before the shuffle
    val plan = Curation.snapshotDiff(v1, v2).queryExecution.executedPlan.toString
    assert(!plan.matches("(?s).*Exchange[^+]*text.*") ||
      !plan.contains("text"), s"text must not reach the exchange:\n$plan")
    // identical snapshots: everything unchanged
    assert(Curation.snapshotDiff(v1, v1).filter($"status" =!= "unchanged").count() === 0L)
  }

  test("curate: clean corpus passes every stage untouched") {
    val clean = Seq(
      (1L, "a bright green garden grows by the quiet river bank under heavy summer rain"),
      (2L, "the old sailor tells a long story about distant winter storms near rocky shores")
    ).toDF("doc_id", "text")
    val (survivors, manifest) = Curation.curate(clean, bench)
    manifest.collect().foreach(r =>
      assert(r.getLong(1) === r.getLong(2), s"stage ${r.getString(0)} dropped rows"))
    assert(survivors.count() === 2L)
  }
}

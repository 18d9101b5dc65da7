package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Sequence packing + stable hash sampling. */
class PackingSpec extends SparkSpec {
  import spark.implicits._

  test("packByTokenBudget: bins break at capacity boundaries, per shard") {
    // one shard; tokens 800,800,800,1500,600 over capacity 2000:
    // cum-before = 0,800,1600,2400,3900 -> bins 0,0,0,1,1
    val docs = Seq((0L, 800L), (1L, 800L), (2L, 800L), (3L, 1500L), (4L, 600L))
      .toDF("doc_id", "tokens")
    val got = Packing.packByTokenBudget(docs, 2000L,
        shardCol = lit(0), tokenCol = col("tokens"), orderCol = col("doc_id"))
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L))
  }

  test("packByTokenBudget: an oversize document occupies bins alone, stream continues") {
    val docs = Seq((0L, 500L), (1L, 5000L), (2L, 500L)).toDF("doc_id", "tokens")
    val got = Packing.packByTokenBudget(docs, 2000L,
        shardCol = lit(0), tokenCol = col("tokens"), orderCol = col("doc_id"))
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    // cum-before: 0, 500, 5500 -> bins 0, 0, 2 (the giant doc spills
    // past bins 1-2; the next doc starts where the stream is)
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 2L))
  }

  test("packing is shard-local: same docs in different shards bin independently") {
    val docs = Seq((0L, 0, 1500L), (1L, 0, 1500L), (2L, 1, 1500L), (3L, 1, 1500L))
      .toDF("doc_id", "shard_in", "tokens")
    val got = Packing.packByTokenBudget(docs, 2000L,
        shardCol = col("shard_in"), tokenCol = col("tokens"), orderCol = col("doc_id"))
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    // each shard starts its own running total at 0
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
  }

  test("materializeBins: sequences concatenate in stream order with eos per doc") {
    val docs = Seq(
      (0L, Seq("a", "b", "c")), (1L, Seq("d", "e")), (2L, Seq("f", "g", "h")),
      (3L, Seq("i"))
    ).toDF("doc_id", "w")
    // capacity 5: cum-before 0,3,5,8 -> bins 0,0,1,1
    val got = Packing.materializeBins(docs, capacity = 5L,
        shardCol = lit(0), tokensCol = col("w"), orderCol = col("doc_id"))
      .select("bin", "n_docs", "n_tokens", "tokens")
      .as[(Long, Long, Long, Seq[String])].collect().toSeq
    assert(got === Seq(
      (0L, 2L, 5L, Seq("a", "b", "c", "<eos>", "d", "e", "<eos>")),
      (1L, 2L, 4L, Seq("f", "g", "h", "<eos>", "i", "<eos>"))))
    // determinism: the in-group order comes from the sorted structs,
    // not collect_list arrival order
    val re = Packing.materializeBins(docs.repartition(7), capacity = 5L,
        shardCol = lit(0), tokensCol = col("w"), orderCol = col("doc_id"))
      .select("bin", "n_docs", "n_tokens", "tokens")
      .as[(Long, Long, Long, Seq[String])].collect().toSeq
    assert(re === got)
  }

  test("materializeBins: an oversize doc occupies its bins alone; shards pack independently") {
    val docs = Seq(
      (0L, 0, Seq("a", "b")), (1L, 0, (1 to 7).map(i => s"t$i")), (2L, 0, Seq("c")),
      (3L, 1, Seq("x", "y", "z"))
    ).toDF("doc_id", "shard_in", "w")
    val got = Packing.materializeBins(docs, capacity = 3L,
        shardCol = col("shard_in"), tokensCol = col("w"), orderCol = col("doc_id"))
      .select("shard", "bin", "n_docs").as[(Int, Long, Long)].collect().toSet
    // shard 0: cum-before 0,2,9 -> bins 0,0,3 (the giant spills past 1-2)
    assert(got === Set((0, 0L, 2L), (0, 3L, 1L), (1, 0L, 1L)))
  }

  test("stratifiedHashSample: deterministic and repartition-invariant") {
    val df = spark.range(0, 10000).select(col("id").as("doc_id"))
    def sample(d: org.apache.spark.sql.DataFrame, pct: Double) =
      Packing.stratifiedHashSample(d, col("doc_id"), lit("s"), rates = Map.empty,
        defaultPct = pct).as[Long].collect().toSet
    val kept1 = sample(df, 20.0)
    val kept2 = sample(df.repartition(7), 20.0)
    assert(kept1 === kept2, "sampling must not depend on partitioning")
    assert(math.abs(kept1.size - 2000) < 200, s"~20% expected, got ${kept1.size}")
    // nested property: a 10% sample is a subset of the 20% sample
    // (cutoff monotonicity — what makes hash sampling resumable)
    assert(sample(df, 10.0).subsetOf(kept1))
  }

  test("pctCutoffHex edge cases: 0% keeps nothing, 100% keeps everything") {
    val df = spark.range(0, 1000).select(col("id").as("doc_id"))
    def kept(pct: Double) = Packing.stratifiedHashSample(df, col("doc_id"), lit("s"),
      rates = Map.empty, defaultPct = pct).count()
    assert(kept(0.0) === 0L)
    assert(kept(100.0) === 1000L)
  }

  test("stratifiedHashSample applies per-stratum rates") {
    val df = spark.range(0, 6000).select(col("id").as("doc_id"),
      when(col("id") % 2 === 0, "a").otherwise("b").as("s"))
    val kept = Packing.stratifiedHashSample(df, col("doc_id"), col("s"),
        rates = Map("a" -> 100.0, "b" -> 0.0))
      .groupBy("s").count().as[(String, Long)].collect().toMap
    assert(kept === Map("a" -> 3000L)) // all of a, none of b
  }

  /** 600 docs over 3 sources with varied token sizes — big enough that
    * every budget's boundary falls inside a multi-doc md5 bucket. */
  private def mixFixture = spark.range(0, 600).select(
    col("id").as("doc_id"),
    concat(lit("s"), col("id") % 3).as("source"),
    (col("id") % 97 + 5).cast("long").as("tokens"))

  test("mixToBudgets selects exactly the naive per-source global-window prefix") {
    import org.apache.spark.sql.expressions.Window
    val budgets = Map("s0" -> 2000L, "s1" -> 5000L) // s2 unfunded -> dropped
    val got = Packing.mixToBudgets(mixFixture, budgets,
        sourceCol = col("source"), tokenCol = col("tokens"), key = col("doc_id"))
    assert(got.columns.toSeq === mixFixture.columns.toSeq) // schema preserved
    // reference: the naive single-window-per-source form
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val naive = mixFixture
      .filter(col("source").isin(budgets.keys.toSeq: _*))
      .withColumn("__bef", sum(col("tokens")).over(w) - col("tokens"))
      .filter(col("__bef") < when(col("source") === "s0", 2000L).otherwise(5000L))
    assert(got.select("doc_id").as[Long].collect().sorted.toSeq ===
      naive.select("doc_id").as[Long].collect().sorted.toSeq)
    // the budget actually bites: kept tokens reach the budget but the
    // running total before the last kept doc is under it
    val toks = got.groupBy("source").agg(sum("tokens").as("t"))
      .as[(String, Long)].collect().toMap
    assert(toks("s0") >= 2000L && toks("s1") >= 5000L)
  }

  test("temperatureMix: alpha=1 is proportional; smaller alpha upsamples the tail") {
    // skewed fixture: s0 carries ~8x s1's tokens
    val skewed = spark.range(0, 450).select(
      col("id").as("doc_id"),
      when(col("id") % 9 === 0, lit("s1")).otherwise(lit("s0")).as("source"),
      lit(10L).as("tokens"))
    def budgets(alpha: Double): Map[String, Long] =
      Packing.temperatureMix(skewed, totalTokens = 2000L, alpha = alpha,
          sourceCol = col("source"), tokenCol = col("tokens"), key = col("doc_id"),
          budgetGrain = 10L)
        .groupBy("source").agg(first(col("__mix_budget")).as("b"))
        .as[(String, Long)].collect().toMap
    val b1 = budgets(1.0)
    // proportional: budgets split ~8:1 like the corpus (grain-rounded)
    assert(b1("s0") === 1780L && b1("s1") === 220L, s"alpha=1: $b1")
    val bHalf = budgets(0.5)
    // sqrt weights: sqrt(8):sqrt(1) ~ 0.739/0.261 of 2000
    assert(bHalf("s1") > b1("s1") && bHalf("s0") < b1("s0"),
      s"smaller alpha must upsample the tail: $bHalf vs $b1")
    assert(bHalf.values.map(math.abs).sum <= 2000L + 20L,
      s"budgets stay near the total: $bHalf")
    // grid: every budget is a grain multiple
    assert(bHalf.values.forall(_ % 10 == 0))
  }

  test("temperatureMix accepts a non-string source column and skips null sources") {
    // ADVICE r12: the stats collect read getString(0) — an int-coded
    // source threw ClassCastException, a null source NPE'd in sortBy
    val coded = spark.range(0, 90).select(
      col("id").as("doc_id"),
      when(col("id") % 3 === 0, lit(null).cast("int"))
        .otherwise((col("id") % 2).cast("int")).as("source"),
      lit(10L).as("tokens"))
    val got = Packing.temperatureMix(coded, totalTokens = 300L, alpha = 1.0,
      sourceCol = col("source"), tokenCol = col("tokens"), key = col("doc_id"),
      budgetGrain = 10L)
    val bySrc = got.groupBy(col("source")).count()
      .collect().map(r => (Option(r.get(0)), r.getLong(1))).toMap
    assert(!bySrc.contains(None), "null-source rows are never selected")
    assert(bySrc.keys.flatten.toSet === Set(0, 1), s"both coded sources selected: $bySrc")
  }

  test("temperatureMix is deterministic under repartition") {
    val a = Packing.temperatureMix(mixFixture, 5000L, 0.5,
      col("source"), col("tokens"), col("doc_id"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    val b = Packing.temperatureMix(mixFixture.repartition(7), 5000L, 0.5,
      col("source"), col("tokens"), col("doc_id"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a === b && a.nonEmpty)
  }

  test("mixToBudgets keeps an underfunded source whole") {
    val got = Packing.mixToBudgets(mixFixture, Map("s1" -> 1000000L),
        sourceCol = col("source"), tokenCol = col("tokens"), key = col("doc_id"))
    assert(got.count() === mixFixture.filter(col("source") === "s1").count())
  }

  test("trainingShards equals the naive single-window permutation; shards exact-size") {
    import org.apache.spark.sql.expressions.Window
    val docs = spark.range(1, 1001).toDF("doc_id")
    val got = Packing.trainingShards(docs, shardSize = 64L, salt = "s1",
      key = col("doc_id"))
    // naive semantics: one global window over the same order
    val naive = docs
      .withColumn("__h", md5(concat_ws(":", lit("s1"), col("doc_id").cast("string"))))
      .withColumn("__rn",
        row_number().over(Window.orderBy(col("__h"), col("doc_id"))) - 1)
      .select(col("doc_id"), expr("__rn DIV 64L").as("shard"),
        pmod(col("__rn"), lit(64L)).as("pos"))
    assert(got.select("doc_id", "shard", "pos").except(naive).isEmpty &&
      naive.except(got.select("doc_id", "shard", "pos")).isEmpty)
    // every shard but the last is exactly full
    val sizes = got.groupBy("shard").count().orderBy("shard")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sizes.dropRight(1).forall(_._2 == 64L) && sizes.last._2 == 1000L % 64)
    assert(sizes.map(_._1).toSeq == (0L until sizes.length).toSeq)
  }

  test("trainingShards: repartition-invariant, salt re-deals the permutation") {
    val docs = spark.range(1, 301).toDF("doc_id")
    def perm(df: org.apache.spark.sql.DataFrame, salt: String): Seq[Long] =
      Packing.trainingShards(df, 32L, salt, col("doc_id"))
        .orderBy("shard", "pos").select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(perm(docs, "a") == perm(docs.repartition(7), "a"))
    assert(perm(docs, "a") != perm(docs, "b"))
  }

  test("assignSplits: disjoint, exhaustive, ~weighted, stratified for free") {
    val df = spark.range(0, 10000).select(col("id").as("doc_id"),
      when(col("id") % 3 === 0, "en").otherwise("de").as("lang"))
    val got = Packing.assignSplits(df, col("doc_id"),
      Seq("train" -> 80.0, "val" -> 10.0, "test" -> 10.0))
    // exhaustive (every row labeled) + disjoint (one label per row) by
    // construction; check the global ratios land near the weights
    val counts = got.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum === 10000L)
    assert(math.abs(counts("train") - 8000) < 300, s"train=${counts("train")}")
    assert(math.abs(counts("val") - 1000) < 150, s"val=${counts("val")}")
    assert(math.abs(counts("test") - 1000) < 150, s"test=${counts("test")}")
    // stratification is free: each lang splits at the same ratios
    val byLang = got.groupBy("lang", "split").count()
      .as[(String, String, Long)].collect()
      .groupBy(_._1).map { case (l, rows) =>
        val m = rows.map(r => r._2 -> r._3).toMap
        l -> m("train").toDouble / m.values.sum }
    byLang.values.foreach(f => assert(math.abs(f - 0.8) < 0.03, s"strata $byLang"))
  }

  test("assignSplits: row-independent (stable under corpus growth), salt re-deals") {
    val small = spark.range(0, 1000).select(col("id").as("doc_id"))
    val big = spark.range(0, 5000).select(col("id").as("doc_id"))
    val splits = Seq("train" -> 90.0, "test" -> 10.0)
    def asMap(df: org.apache.spark.sql.DataFrame, salt: String = "") =
      Packing.assignSplits(df, col("doc_id"), splits, salt)
        .select("doc_id", "split").as[(Long, String)].collect().toMap
    val s = asMap(small); val b = asMap(big)
    s.foreach { case (id, sp) => assert(b(id) === sp,
      s"doc $id flipped split when the corpus grew") }
    // a salt re-deals assignments without moving the ratios much
    val salted = asMap(big, salt = ":fold2")
    assert(salted !== b)
    val kept = salted.values.count(_ == "train")
    assert(math.abs(kept - 4500) < 200, s"salted train=$kept")
  }

  test("assignSplits is a pure projection: no shuffle in the plan") {
    val df = spark.range(0, 100).select(col("id").as("doc_id"))
    val plan = Packing.assignSplits(df, col("doc_id"),
        Seq("train" -> 90.0, "val" -> 10.0))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"split must ride the scan:\n$plan")
  }

  // --- repeatAllocation (q111): data-constrained repeat scheduling ---

  /** One doc per (source, token-count) pair keeps the fixture closed-form:
    * u(a)=100, u(b)=400 -> sqrt weights 10:20. */
  private def repeatFixture = Seq(("a", 100L), ("b", 400L))
    .toDF("source", "tokens")

  test("repeatAllocation: closed-form water-fill — small source caps, large pro-rata") {
    // wq = 1e7/2e7, capTok(2.0) = 200/800; B=900: 'a' caps at 200,
    // 'b' takes the frozen remainder 2e7*700/2e7 = 700 (1.75 epochs)
    val got = Packing.repeatAllocation(repeatFixture, totalTokens = 900L,
        alpha = 0.5, maxEpochs = 2.0, sourceCol = col("source"),
        tokenCol = col("tokens"))
      .select("source", "unique_tokens", "epochs", "allocated_tokens", "capped")
      .as[(String, Long, Double, Long, Boolean)].collect().toSeq
    assert(got === Seq(("a", 100L, 2.0, 200L, true), ("b", 400L, 1.75, 700L, false)))
  }

  test("repeatAllocation: ample budget caps everything — the corpus is exhausted") {
    val got = Packing.repeatAllocation(repeatFixture, totalTokens = 10000L,
        alpha = 0.5, maxEpochs = 2.0, sourceCol = col("source"),
        tokenCol = col("tokens"))
      .select("source", "allocated_tokens", "capped")
      .as[(String, Long, Boolean)].collect().toSeq
    assert(got === Seq(("a", 200L, true), ("b", 800L, true)))
  }

  test("repeatAllocation: tight budget caps nothing and conserves it") {
    val got = Packing.repeatAllocation(repeatFixture, totalTokens = 300L,
        alpha = 0.5, maxEpochs = 2.0, sourceCol = col("source"),
        tokenCol = col("tokens"))
      .select("source", "epochs", "allocated_tokens", "capped")
      .as[(String, Double, Long, Boolean)].collect().toSeq
    assert(got === Seq(("a", 1.0, 100L, false), ("b", 0.5, 200L, false)))
    assert(got.map(_._3).sum === 300L) // exact: 10:20 splits 300 evenly
  }

  test("repeatAllocation: floor-division undershoot is bounded by the source count") {
    // B=1000, weights 1e7:2e7 -> floor splits leave < 2 tokens on the table
    val got = Packing.repeatAllocation(repeatFixture, totalTokens = 1000L,
        alpha = 0.5, maxEpochs = 100.0, sourceCol = col("source"),
        tokenCol = col("tokens"))
      .select("allocated_tokens").as[Long].collect()
    assert(got.sum <= 1000L && got.sum > 1000L - 2)
  }

  // --- leakageSafeSplits (q116): duplicate-aware split assignment ---

  test("leakageSafeSplits: families move as one atom; singletons match assignSplits") {
    val docs = (0L until 400L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // plant families: (0,1,2) chained and (10,11) paired
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("da", "db")
    val splits = Seq("train" -> 50.0, "val" -> 25.0, "test" -> 25.0)
    val got = Packing.leakageSafeSplits(docs, pairs, col("doc_id"), splits, ":s")
      .select("doc_id", "family", "split")
      .as[(Long, Long, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // atomicity: all members share the root's family AND split
    assert(Seq(0L, 1L, 2L).map(got).toSet.size === 1)
    assert(got(0L)._1 === 0L)
    assert(Seq(10L, 11L).map(got).toSet.size === 1 && got(10L)._1 === 10L)
    // singletons: family = own id, split identical to plain assignSplits
    val plain = Packing.assignSplits(docs, col("doc_id"), splits, ":s")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    (0L until 400L).filterNot(Set(1L, 2L, 11L)).foreach { i =>
      assert(got(i)._1 === i && got(i)._2 === plain(i), s"doc $i")
    }
    // the planted families stop boundary leakage by construction: every
    // member landed where the ROOT's hash puts it, not its own
    assert(got(1L)._2 === plain(0L) && got(2L)._2 === plain(0L))
  }

  test("repeatAllocation: int-coded sources cast, null sources dropped") {
    val df = Seq((Some(1), 100L), (Some(2), 400L), (None, 50L))
      .toDF("source", "tokens")
    val got = Packing.repeatAllocation(df, totalTokens = 900L, alpha = 0.5,
        maxEpochs = 2.0, sourceCol = col("source"), tokenCol = col("tokens"))
      .select("source", "allocated_tokens")
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("1", 200L), ("2", 700L)))
  }

  test("packBestFit: closed-form BFD beats in-order next-fit; recipes and bins exact") {
    // lens [8,5,5,2] at capacity 10: BFD packs {8,2} + {5,5} = 2 bins;
    // next-fit in doc order needs 3 ([8], [5,5], [2])
    val docs = Seq((1L, 8L), (2L, 5L), (3L, 5L), (4L, 2L)).toDF("doc_id", "tok")
    val (asg, strategies) = Packing.packBestFit(docs, 10L, col("tok"), col("doc_id"))
    assert(strategies.map(_.count).sum === 2L)
    assert(strategies.map(_.recipe.sorted.toList).sortBy(_.head).toList ===
      List(List(2L, 8L), List(5L, 5L)))
    val byBin = asg.select(col("bin"), col("tok")).as[(Long, Long)].collect()
      .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sorted.toList }
    assert(byBin.values.toSet === Set(List(2L, 8L), List(5L, 5L)))
    // same-length stacking: 6 docs of len 3 at cap 10 -> two bins of
    // [3,3,3] (per-item best-fit stacks into the open bin first)
    val docs2 = (1L to 6L).map(i => (i, 3L)).toDF("doc_id", "tok")
    val (_, s2) = Packing.packBestFit(docs2, 10L, col("tok"), col("doc_id"))
    assert(s2.map(_.count).sum === 2L)
    assert(s2.forall(_.recipe === Seq(3L, 3L, 3L)))
    // over-long docs clamp to capacity and pack alone
    val docs3 = Seq((1L, 25L), (2L, 4L)).toDF("doc_id", "tok")
    val (_, s3) = Packing.packBestFit(docs3, 10L, col("tok"), col("doc_id"))
    assert(s3.map(_.count).sum === 2L)
    Storage.releaseAll(true)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-batch assembly operators: deterministic sequence packing and
  * stable hash-based sampling. (No analogue in the reference — its unit
  * of work is a CDC transaction, `CdcEngine.java:96-118`; these are the
  * north-star pipeline additions.)
  */
object Packing {

  /** Streaming sequence packing: documents fill bins of `capacity`
    * tokens in a deterministic order, a new bin starting whenever the
    * running total would overflow. This is the greedy streaming pack LLM
    * data loaders actually use (not optimal bin-packing, which is
    * NP-hard and order-unstable).
    *
    * Scale shape: packing runs INSIDE each `shardCol` group — one window
    * per shard, so shards pack in parallel and no global sort exists
    * (the 100 TB layout: one shard ≈ one output file of a few hundred MB
    * → thousands of independent windows). A document longer than
    * `capacity` spills past intermediate bins; it may share its STARTING
    * bin with earlier small documents (the boundary-pack formula below
    * assigns by span start), and the loader's truncate/split is a
    * separate concern.
    *
    * Bin assignment is a running-total recurrence, not a plain cumsum
    * (the remainder resets at each bin break), expressed as: bin break
    * at doc i iff cum(i-1) mod'd-down ... — to keep the formula
    * SQL-mirrorable AND O(1) per row, the bin id is computed from the
    * cumulative token count as floor((cum - tokens) / capacity) vs
    * floor-boundary crossing: a doc starts a new bin when its span
    * [cum - tokens, cum) crosses a capacity boundary. This "boundary
    * pack" admits bins up to capacity + one doc's overflow spill; the
    * deterministic mirror is exact in both engines. */
  def packByTokenBudget(docs: DataFrame, capacity: Long,
                        shardCol: Column, tokenCol: Column,
                        orderCol: Column): DataFrame = {
    val w = Window.partitionBy(shardCol).orderBy(orderCol)
    docs
      .withColumn("shard", shardCol)
      .withColumn("cum", sum(tokenCol).over(w))
      .withColumn("bin", floor((col("cum") - tokenCol) / lit(capacity)))
  }

  /** One packing strategy (Krell et al. 2021, "Efficient Sequence
    * Packing without Cross-contamination"): a bin RECIPE — the
    * descending multiset of document lengths one bin holds — plus how
    * many bins use it. The whole strategy table is driver metadata
    * (recipes over ≤ capacity distinct lengths), which is the paper's
    * point: at bounded sequence length, packing is a function of the
    * LENGTH HISTOGRAM, never of the corpus. */
  final case class PackStrategy(id: Int, recipe: Seq[Long], count: Long) {
    def fill: Long = recipe.sum
  }

  /** Histogram best-fit-decreasing packing (r15; Krell et al. 2021 —
    * the offline packer that beats the streaming next-fit loaders use:
    * BFD reaches ~min-padding packings, and because document lengths
    * are BOUNDED by the training context, the entire optimization runs
    * on the ≤`capacity`-row length histogram on the driver):
    *
    *  1. ONE map-side-combinable histogram aggregate (length → count;
    *     lengths clamp to [1, capacity] — an over-long doc packs alone
    *     and its truncation is the loader's concern);
    *  2. driver BFD over COUNT-BATCHED recipe classes: lengths process
    *     descending; each takes the open class with the smallest
    *     residual that fits (ties to the lexicographically smallest
    *     recipe — fully deterministic), same-length docs stacking to
    *     the class's per-bin capacity exactly as per-item best-fit
    *     would; the output is the [[PackStrategy]] table;
    *  3. assignment back to documents WITHOUT corpus-scale driver
    *     traffic: docs rank within their length by the q109 two-pass
    *     bucketed rank (a 256-way hash-bucket count whose per-length
    *     cumulative offsets come from a window over the AGGREGATE, then
    *     a bounded per-(length, bucket) row_number — no giant per-length
    *     window group at any corpus size), and a broadcast slot table
    *     (per (length, strategy): rank range → base bin + stride) maps
    *     rank → bin id by pure integer arithmetic.
    *
    * Returns (assignment with `bin`/`__len` columns appended, strategy
    * table). Deterministic for a given corpus: the recipes, the bin
    * ids and every doc's assignment are reproducible on any engine or
    * partitioning. */
  def packBestFit(docs: DataFrame, capacity: Long, tokenCol: Column,
                  orderCol: Column): (DataFrame, Seq[PackStrategy]) = {
    require(capacity > 0 && capacity <= 65536,
      s"packBestFit: capacity=$capacity (the histogram contract needs a bounded length domain)")
    val lenCol = greatest(least(tokenCol.cast("long"), lit(capacity)), lit(1L))
    val base = docs.withColumn("__len", lenCol)
    val hist = base.groupBy("__len").agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (hist.isEmpty) return (base.withColumn("bin", lit(-1L)).limit(0), Nil)
    // --- driver BFD over count-batched recipe classes
    val classes = scala.collection.mutable.HashMap.empty[Vector[Long], Long]
    def residual(r: Vector[Long]): Long = capacity - r.sum
    hist.keys.toSeq.sorted(Ordering[Long].reverse).foreach { len =>
      var need = hist(len)
      while (need > 0) {
        // smallest residual that fits; ties to the smallest recipe
        val cand = classes.iterator
          .filter { case (r, c) => c > 0 && residual(r) >= len }
          .reduceOption { (a, b) =>
            val (ra, rb) = (residual(a._1), residual(b._1))
            if (ra < rb) a
            else if (rb < ra) b
            else if (Ordering.Implicits.seqOrdering[Vector, Long].lt(a._1, b._1)) a
            else b
          }
        cand match {
          case Some((r, c)) =>
            val perBin = residual(r) / len // ≥ 1
            val take = math.min(need, c * perBin)
            val fullBins = take / perBin
            val rem = take % perBin
            if (fullBins > 0) {
              classes(r ++ Vector.fill(perBin.toInt)(len)) =
                classes.getOrElse(r ++ Vector.fill(perBin.toInt)(len), 0L) + fullBins
            }
            if (rem > 0) {
              classes(r ++ Vector.fill(rem.toInt)(len)) =
                classes.getOrElse(r ++ Vector.fill(rem.toInt)(len), 0L) + 1L
            }
            val used = fullBins + (if (rem > 0) 1L else 0L)
            if (c - used == 0L) classes.remove(r) else classes(r) = c - used
            need -= take
          case None =>
            val perBin = capacity / len // ≥ 1
            val fullBins = need / perBin
            val rem = need % perBin
            if (fullBins > 0)
              classes(Vector.fill(perBin.toInt)(len)) =
                classes.getOrElse(Vector.fill(perBin.toInt)(len), 0L) + fullBins
            if (rem > 0)
              classes(Vector.fill(rem.toInt)(len)) =
                classes.getOrElse(Vector.fill(rem.toInt)(len), 0L) + 1L
            need = 0
        }
      }
    }
    val strategies = classes.toSeq
      .sortBy(_._1)(Ordering.Implicits.seqOrdering[Vector, Long])
      .zipWithIndex
      .map { case ((recipe, c), i) => PackStrategy(i, recipe, c) }
    // --- slot table: per (length, strategy) the rank range and stride
    val bases = strategies.scanLeft(0L)(_ + _.count)
    val slotRows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long)] // (len, lo, hi, base, m)
    val loByLen = scala.collection.mutable.HashMap.empty[Long, Long]
    strategies.foreach { s =>
      s.recipe.groupBy(identity).toSeq.sortBy(_._1).foreach { case (len, occ) =>
        val m = occ.size.toLong
        val demand = s.count * m
        val lo = loByLen.getOrElse(len, 0L)
        slotRows += ((len, lo, lo + demand, bases(s.id), m))
        loByLen(len) = lo + demand
      }
    }
    val spark = docs.sparkSession
    import spark.implicits._
    val slots = slotRows.toSeq.toDF("__slen", "__lo", "__hi", "__base", "__m")
    // --- q109 two-pass per-length rank (no giant per-length window)
    val ranked0 = base
      .withColumn("__h", md5(concat_ws(":", lit("pack"), orderCol.cast("string"))))
      .withColumn("__bkt", conv(substring(col("__h"), 1, 2), 16, 10).cast("int"))
    val wOff = Window.partitionBy("__len").orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranked0.groupBy("__len", "__bkt").agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum("__n").over(wOff), lit(0L)))
      .select("__len", "__bkt", "__off")
    val wIn = Window.partitionBy("__len", "__bkt").orderBy(col("__h"), orderCol)
    val ranked = ranked0.join(offsets, Seq("__len", "__bkt"))
      .withColumn("__r", col("__off") + row_number().over(wIn) - 1)
    val assigned = ranked
      .join(broadcast(slots),
        col("__len") === col("__slen") && col("__r") >= col("__lo") &&
          col("__r") < col("__hi"))
      .withColumn("bin", col("__base") + expr("(__r - __lo) DIV __m"))
      .drop("__h", "__bkt", "__off", "__r", "__slen", "__lo", "__hi", "__base", "__m")
    (assigned, strategies)
  }

  /** Materialize the packed training sequences — the LAST MILE to the
    * data loader (GPT-style sequence packing, Brown et al. 2020 §2.1:
    * documents concatenate into fixed-capacity contexts in stream
    * order with an end-of-sequence sentinel between them):
    * [[packByTokenBudget]] assigns the bins, then each (shard, bin)
    * group concatenates its documents' token arrays with `eos`
    * appended per document. Output: (shard, bin, n_docs, n_tokens,
    * tokens) — n_tokens counts document tokens (the fill mass), not
    * the sentinels.
    *
    * Scale shape: the bin assignment is q54's shard-local cumulative
    * window (per-shard serial by contract — shard first for
    * parallelism); the ONE shuffle after it is the (shard, bin)
    * aggregation, whose groups are bounded by the bin CAPACITY in
    * tokens (an oversize document occupies its bins alone) — no
    * giant-group hazard at any corpus size. In-group order is
    * deterministic: the collected (order, tokens) structs SORT before
    * flattening, never trusting collect_list's arrival order. */
  def materializeBins(docs: DataFrame, capacity: Long, shardCol: Column,
                      tokensCol: Column, orderCol: Column,
                      eos: String = "<eos>"): DataFrame = {
    val binned = packByTokenBudget(
      docs.withColumn("__tk", tokensCol), capacity, shardCol,
      size(col("__tk")).cast("long"), orderCol)
      .withColumn("__ord", orderCol)
    binned.groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("__tk")).cast("long")).as("n_tokens"),
        flatten(transform(
          array_sort(collect_list(struct(col("__ord").as("o"), col("__tk").as("t")))),
          s => concat(s.getField("t"), array(lit(eos))))).as("tokens"))
      .orderBy("shard", "bin")
  }

  /** Per-bin packing summary (the shape a loader manifest needs):
    * documents per bin, token fill, fill ratio at `capacity`. */
  def packSummary(docs: DataFrame, capacity: Long,
                  shardCol: Column, tokenCol: Column,
                  orderCol: Column): DataFrame =
    packByTokenBudget(docs, capacity, shardCol, tokenCol, orderCol)
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(tokenCol).as("tokens"))
      .withColumn("fill", round(col("tokens") / lit(capacity.toDouble), 4))
      .orderBy("shard", "bin")

  /** 4-hex-digit cutoff for a keep-percentage over the uniform 16-bit
    * md5 prefix: P(keep) = round(pct/100 * 65536) / 65536. Precomputed
    * driver-side so no engine-dependent rounding exists in the plan.
    * pct=100 maps to "g": every hex digit sorts below 'g', so the
    * keep-all cutoff stays a valid STRING comparison (the naive "10000"
    * is 5 chars and sorts BELOW "ffff" lexicographically). */
  def pctCutoffHex(pct: Double): String = {
    val n = math.min(math.round(pct / 100.0 * 65536.0), 65536L)
    if (n >= 65536L) "g" else f"$n%04x"
  }

  /** Stratified stable sampling: per-stratum keep percentages (e.g.
    * up-sample a rare language, down-sample boilerplate-heavy sources).
    * Strata absent from `rates` keep `defaultPct`. A row is kept iff
    * the first 4 md5 hex digits of its key sort lexicographically below
    * its stratum's cutoff. md5 is bytewise-identical across engines and
    * platforms and fixed-width lowercase-hex prefixes compare
    * identically as strings, so the SAME rows are selected everywhere,
    * forever — reproducible subsets without seeds, resumable across
    * reruns, shardable. Cutoffs are literal hex strings baked into one
    * codegen'd CASE — no join, no shuffle. */
  def stratifiedHashSample(df: DataFrame, key: Column, stratum: Column,
                           rates: Map[String, Double],
                           defaultPct: Double = 100.0): DataFrame = {
    val cutoff = rates.toSeq.sortBy(_._1).foldLeft(lit(pctCutoffHex(defaultPct))) {
      case (acc, (s, p)) => when(stratum === s, lit(pctCutoffHex(p))).otherwise(acc)
    }
    df.filter(substring(md5(key.cast("string")), 1, 4) < cutoff)
  }

  /** Exact-k stratified sampling — the fixed-QUOTA twin of
    * [[stratifiedHashSample]]'s fixed-RATE keep: per stratum, exactly
    * min(k, |stratum|) rows, chosen as the k smallest md5(key) values
    * (deterministic, engine-portable, and stable under corpus growth in
    * the "minwise" sense: a kept row is only ever displaced by a new
    * smaller-hash arrival, never reshuffled). The selection runs
    * through a BOUNDED min-k aggregator
    * ([[graft.functions.Aggregators.MinKByKey]]): partial top-k
    * map-side, a fixed k-row buffer per stratum into the exchange — no
    * per-stratum window, no single-task giant-group sort, group size
    * never matters. The eval-set builder's primitive: "exactly 500
    * docs per language, reproducible forever". The key may be ANY
    * type (numeric or string doc keys): ids ride the aggregator as
    * strings and the emitted `doc_id` casts back to the input key's
    * own type (ADVICE r11 — a string key used to null out under a
    * long cast and crash the tuple encoder). */
  def stratifiedExactK(df: DataFrame, key: Column, stratum: Column,
                       k: Int): DataFrame = {
    val keyType = df.select(key.as("id")).schema.head.dataType
    val agg = graft.functions.Aggregators.minKByKey(k)
    df.select(stratum.as("stratum"),
        md5(key.cast("string")).as("h"), key.cast("string").as("id"))
      .groupBy("stratum")
      .agg(agg(col("h"), col("id")).as("s"))
      .select(col("stratum"), posexplode(col("s.ids")))
      .select(col("stratum"), (col("pos") + 1).cast("int").as("rank"),
        col("col").cast(keyType).as("doc_id"))
      .orderBy("stratum", "rank")
  }

  /** Deterministic train/val/test split assignment: label each row by
    * where its 16-bit md5 prefix falls among CUMULATIVE weight cutoffs
    * (train < c1, val in [c1,c2), ... last split takes the rest) — the
    * same seedless primitive [[stratifiedHashSample]] keeps/drops by, so
    * split membership is engine-portable and reproducible forever. `salt`
    * re-deals the assignment (a different eval fold) without touching
    * the weights.
    *
    * Properties that matter at 100 TB, all by construction:
    *  - pure codegen'd projection (one CASE over a hash prefix): zero
    *    shuffle, zero state, rides the scan;
    *  - row-independent: a document keeps its split when the corpus
    *    grows, shrinks, or is re-sharded — no leakage between a
    *    yesterday-train and a today-test set;
    *  - stratified for free: the hash is uniform WITHIN any stratum, so
    *    every language/source/domain splits at the same ratios with no
    *    per-stratum bookkeeping;
    *  - disjoint and exhaustive: cutoffs are cumulative, the last split
    *    is the CASE's else branch. */
  def assignSplits(df: DataFrame, key: Column,
                   splits: Seq[(String, Double)],
                   salt: String = ""): DataFrame = {
    require(splits.nonEmpty, "assignSplits: empty split list")
    require(math.abs(splits.map(_._2).sum - 100.0) < 1e-6,
      s"assignSplits: weights must sum to 100, got ${splits.map(_._2).sum}")
    val h = substring(md5(concat(key.cast("string"), lit(salt))), 1, 4)
    val cum = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    val label = splits.zip(cum).init.foldRight(lit(splits.last._1): Column) {
      case (((name, _), cpct), acc) =>
        when(h < lit(pctCutoffHex(cpct)), lit(name)).otherwise(acc)
    }
    df.withColumn("split", label)
  }

  /** Deterministic data-mixture construction: per-source token budgets
    * over a stable hash order — "a 60/30/10 web/code/books mix totalling
    * N tokens" as a reproducible, engine-portable selection. Per source,
    * documents are ordered by (md5(key), key) — the same seedless order
    * [[stratifiedHashSample]] samples by — and a document is kept while
    * the running token total BEFORE it is under the source's budget (so the
    * document that crosses the budget is the last one in, and a source
    * with fewer tokens than its budget is kept whole). Sources without a
    * budget entry are dropped: the mixture is exactly what was asked
    * for. Output schema = input schema.
    *
    * Scale shape — the naive form is one global cumulative window per
    * source, which serializes a source through ONE task (sources are
    * few; a window partition would be terabytes). Instead the order
    * key's first hex byte pre-buckets each source into 256 hash-ordered
    * slices, turning the selection into:
    *  (1) per (source, bucket) token sums — ONE map-side-combined agg
    *      down to a sources x <=256 table, COLLECTED as driver metadata
    *      (bounded by source cardinality — the q97 contract); the token
    *      expression runs over the corpus exactly once, in this job;
    *  (2) driver-side bucket classification against each budget (the
    *      hash-prefix cumulation is monotone in the bucket id, so the
    *      fully-funded buckets are exactly a bucket-id PREFIX): a full
    *      bucket keeps every row with NO window and NO token recompute
    *      at all; a drained bucket drops every row; only the single
    *      BOUNDARY bucket per source — the one the budget crosses
    *      inside — runs the fine cumulative window, over 1/256th of one
    *      source, the only rows whose token expression evaluates twice.
    * The selected set equals the naive global window's exactly: a doc's
    * global running-before = its bucket's prefix + its in-bucket
    * running-before (the bucket id is the order key's leading byte, so
    * bucket order IS hash order). */
  /** Temperature-based mixture sampling (Lample & Conneau 2019;
    * Conneau et al. 2020 XLM-R §3.1 — the published multilingual
    * mixing rule): per-source sampling weights q_i = p_i^α / Σ_j p_j^α
    * over the sources' token shares, budgets_i = q_i · totalTokens.
    * α = 1 reproduces the corpus proportions; α → 0 approaches uniform
    * — smaller α UPSAMPLES tail sources, the knob every multilingual /
    * multi-domain training mix turns. Selection then reuses
    * [[mixToBudgets]]' deterministic minwise prefix.
    *
    * Scale shape: ONE source-level aggregate (map-side combinable,
    * source-cardinality rows) decides the budgets as driver metadata;
    * the corpus itself is touched only by the mixToBudgets pass.
    * Budgets round to a `budgetGrain`-token grid with the power sums
    * folded in SORTED source order, so the arithmetic is reproducible
    * cross-engine (a last-ulp `pow` difference cannot move a budget
    * across a grain boundary). Returns the selected docs plus their
    * source's `__mix_budget` column. */
  def temperatureMix(docs: DataFrame, totalTokens: Long, alpha: Double,
                     sourceCol: Column, tokenCol: Column, key: Column,
                     budgetGrain: Long = 50L): DataFrame = {
    require(totalTokens > 0 && alpha > 0 && budgetGrain > 0,
      s"temperatureMix: bad knobs total=$totalTokens alpha=$alpha grain=$budgetGrain")
    // cast the source key to string ONCE for the whole mix: the budget
    // CASE and mixToBudgets compare against the collected string keys,
    // and the aggregate row below reads getString — an int-coded source
    // would otherwise ClassCastException and a null source NPE in
    // sortBy (ADVICE r12). Null-source rows keep the sibling
    // mixToBudgets contract: no budget entry, never selected.
    val srcStr = sourceCol.cast("string")
    val stats = bucketTokenStats(docs, srcStr, tokenCol, key, keep = None)
    val totals = stats.map { case (s, arr) => (s, arr.sum) }.toSeq.sortBy(_._1)
    val pows = totals.map { case (s, t) => (s, math.pow(t.toDouble, alpha)) }
    val z = pows.map(_._2).foldLeft(0.0)(_ + _)
    val budgets = pows.map { case (s, w) =>
      s -> math.round(w / z * totalTokens / budgetGrain) * budgetGrain
    }.toMap
    val budgetCol = budgets.toSeq.sortBy(_._1).foldLeft(lit(-1L)) {
      case (acc, (s, b)) => when(srcStr === s, lit(b)).otherwise(acc)
    }
    val cuts = stats.map { case (s, arr) => s -> classifyBuckets(arr, budgets(s)) }
    selectByCuts(docs, cuts, budgets, srcStr, tokenCol, key)
      .withColumn("__mix_budget", budgetCol)
  }

  /** Deterministic global training-order shuffle + fixed-size shard
    * assignment (r13): the post-curation step every training run needs —
    * a seeded, reproducible-forever random permutation of the corpus cut
    * into equal `shardSize` shards for the data loader. Order is
    * md5(salt:key) (change `salt` to reshuffle between epochs/ablations;
    * same salt ⇒ the same permutation on any engine, any partitioning).
    *
    * Scale shape: a global permutation needs a global order, but NOT a
    * single-partition window. The rank is computed in two passes over a
    * 256-way hash-prefix bucketing (the q97 minwise machinery): one
    * map-side-combinable bucket-count aggregate whose 256-row cumulative
    * offsets broadcast back, then a per-bucket row_number window —
    * groups are ~n/256, every stage is a bounded exchange, and the
    * output is already hash-clustered so a `partitionBy("shard")` write
    * lands shard-per-file. Output: input columns + (shard, pos). */
  def trainingShards(docs: DataFrame, shardSize: Long, salt: String,
                     key: Column): DataFrame = {
    require(shardSize > 0, s"shardSize must be positive: $shardSize")
    val base = docs
      .withColumn("__h", md5(concat_ws(":", lit(salt), key.cast("string"))))
      .withColumn("__bkt", conv(substring(col("__h"), 1, 2), 16, 10).cast("int"))
    // 256-row bucket-count table; the cumulative window below runs over
    // THAT aggregate (one tiny single-group exchange), never the corpus
    val wOff = Window.partitionBy(Windows.singleGroupKey(col("__bkt"))).orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy("__bkt").agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum("__n").over(wOff), lit(0L)))
      .select("__bkt", "__off")
    val wIn = Window.partitionBy("__bkt").orderBy(col("__h"), key)
    base.join(broadcast(offsets), Seq("__bkt"))
      .withColumn("__rn", col("__off") + row_number().over(wIn) - 1)
      .withColumn("shard", expr(s"__rn DIV ${shardSize}L"))
      .withColumn("pos", pmod(col("__rn"), lit(shardSize)))
      .drop("__h", "__bkt", "__off", "__rn")
  }

  def mixToBudgets(docs: DataFrame, budgets: Map[String, Long],
                   sourceCol: Column, tokenCol: Column, key: Column): DataFrame = {
    require(budgets.nonEmpty, "mixToBudgets: empty budget map")
    val srcStr = sourceCol.cast("string")
    val stats =
      bucketTokenStats(docs, srcStr, tokenCol, key, keep = Some(budgets.keySet))
    val cuts = stats.map { case (s, arr) => s -> classifyBuckets(arr, budgets(s)) }
    selectByCuts(docs, cuts, budgets, srcStr, tokenCol, key)
  }

  /** The ONE corpus job behind [[mixToBudgets]]/[[temperatureMix]]:
    * per-(source, first-hash-byte-bucket) token sums, map-side
    * combinable down to a sources × ≤256 table collected as driver
    * metadata (bounded by source cardinality — the q97 contract).
    * Null sources drop (no budget identity exists for them), and so do
    * null order keys (no hash bucket exists for them — the pre-r13
    * join-based path dropped them silently; without the filter a null
    * `__bkt` group row NPEs the driver fold, ADVICE r13); `keep`
    * restricts the scan's token evaluation to budgeted sources. */
  private def bucketTokenStats(docs: DataFrame, srcStr: Column,
                               tokenCol: Column, key: Column,
                               keep: Option[Set[String]]): Map[String, Array[Long]] = {
    val scoped = (keep match {
      case Some(ks) => docs.filter(srcStr.isin(ks.toSeq: _*))
      case None => docs.filter(srcStr.isNotNull)
    }).filter(key.isNotNull)
    val rows = scoped
      .groupBy(srcStr.as("__src"),
        conv(substring(md5(key.cast("string")), 1, 2), 16, 10).cast("int").as("__bkt"))
      .agg(sum(tokenCol.cast("long")).as("__btok"))
      .collect()
    rows.groupBy(_.getString(0)).map { case (s, rs) =>
      val arr = Array.fill(256)(0L)
      rs.foreach(r => if (!r.isNullAt(2)) arr(r.getInt(1)) = r.getLong(2))
      s -> arr
    }
  }

  /** One source's bucket classification against its budget. The
    * hash-prefix cumulation is monotone in the bucket id, so the fully
    * funded buckets are exactly the prefix below `fullBelow`;
    * `boundary` is the single bucket the budget crosses inside (its
    * running-before rides along as the fine window's offset); buckets
    * past it are drained. */
  private final case class BucketCut(fullBelow: Int, boundary: Option[(Int, Long)])

  private def classifyBuckets(btoks: Array[Long], budget: Long): BucketCut = {
    var before = 0L
    var i = 0
    while (i < btoks.length && before + btoks(i) <= budget) {
      before += btoks(i); i += 1
    }
    BucketCut(i, if (i < btoks.length && before < budget) Some((i, before)) else None)
  }

  /** Rebuild the selection from driver-classified buckets: full buckets
    * are a pure row-local filter (no token recompute, no join); only
    * the boundary buckets — at most one per source — run the fine
    * cumulative window, each over ~1/256th of its source. */
  private def selectByCuts(docs: DataFrame, cuts: Map[String, BucketCut],
                           budgets: Map[String, Long], srcStr: Column,
                           tokenCol: Column, key: Column): DataFrame = {
    val helper = Seq("__src", "__h", "__bkt")
    val base = docs
      .withColumn("__src", srcStr)
      .withColumn("__h", md5(key.cast("string")))
      .withColumn("__bkt", conv(substring(col("__h"), 1, 2), 16, 10).cast("int"))
    val sorted = cuts.toSeq.sortBy(_._1)
    val fullCond = sorted.foldLeft(lit(false)) { case (acc, (s, c)) =>
      when(col("__src") === s, col("__bkt") < c.fullBelow).otherwise(acc)
    }
    val full = base.filter(fullCond)
    val bCuts = sorted.collect { case (s, BucketCut(_, Some((bk, bef)))) => (s, bk, bef) }
    val out =
      if (bCuts.isEmpty) full
      else {
        val bCond = bCuts.map { case (s, bk, _) =>
          col("__src") === s && col("__bkt") === bk
        }.reduce(_ || _)
        val befCol = bCuts.foldLeft(lit(0L)) { case (acc, (s, _, bef)) =>
          when(col("__src") === s, lit(bef)).otherwise(acc)
        }
        val budCol = bCuts.foldLeft(lit(0L)) { case (acc, (s, _, _)) =>
          when(col("__src") === s, lit(budgets(s))).otherwise(acc)
        }
        // one boundary bucket per source, so partitioning by source alone
        // keeps the fine window's groups at ~source/256 rows
        val wF = Window.partitionBy("__src").orderBy(col("__h"), key)
        val boundary = base.filter(bCond)
          .withColumn("__tok", tokenCol.cast("long"))
          .withColumn("__cum", sum(col("__tok")).over(wF))
          .filter(befCol + col("__cum") - col("__tok") < budCol)
          .drop("__cum", "__tok")
        full.unionByName(boundary)
      }
    out.drop(helper: _*)
  }

  /** Leakage-safe train/val/test splits — [[assignSplits]] made
    * duplicate-aware (Lee et al. 2022 §4: near-duplicate pairs that
    * straddle the train/test boundary leak the test set into training
    * and inflate eval; the fix every careful pipeline runs is to
    * assign whole near-dup FAMILIES to one split). Families are the
    * connected components of the given near-dup pair graph; every doc
    * inherits its family root (singletons are their own root), and
    * the [[assignSplits]] hash rule keys on the FAMILY id — so a
    * singleton gets exactly the split plain assignSplits would give
    * it, and a family moves as one atom.
    *
    * Scale shape: components via [[Clustering.connectedComponents]]
    * (size-tiered — near-dup pairs are metadata-scale for real
    * corpora); the family-label join is size-dispatched (broadcast
    * below `broadcastableLabels`, shuffle-hash above); the split
    * label itself stays a pure projection. */
  def leakageSafeSplits(docs: DataFrame, pairs: DataFrame, key: Column,
                        splits: Seq[(String, Double)], salt: String = "",
                        broadcastableLabels: Long = 10000000L): DataFrame = {
    val fam = Clustering.connectedComponents(pairs)
      .select(col("node"), col("comp").as("__family_root"))
    val side =
      if (SizeDispatch.atMost(fam, broadcastableLabels)) broadcast(fam)
      else fam.hint("shuffle_hash")
    val withFam = docs.join(side, key === col("node"), "left")
      .withColumn("family", coalesce(col("__family_root"), key))
      .drop("node", "__family_root")
    assignSplits(withFam, col("family"), splits, salt)
  }

  /** Repeat-aware token allocation for data-constrained training
    * (Muennighoff et al. 2023 "Scaling Data-Constrained Language
    * Models": repeating data is near-free up to ~4 epochs, worthless
    * past that — so a mixture budget must CAP each source at
    * `maxEpochs` passes over its unique tokens and re-pour the surplus
    * into the uncapped sources). Weights follow the q97 temperature
    * rule (w_i ∝ u_i^α over per-source unique tokens u_i); the
    * allocation is the exact water-filling fixpoint: sources whose cap
    * level caps · u_i / w_i sits below the final water level get
    * capTokens = maxEpochs · u_i, everyone else splits the remaining
    * budget pro rata.
    *
    * Cross-engine exactness (the fix-point loop must match a SQL
    * mirror bit-for-bit): weights are QUANTIZED to integer
    * micro-weights wq_i = round(u_i^α · weightScale) and the capping
    * recursion runs entirely in Long arithmetic — the capped set is
    * the longest prefix of the cap-level sort where
    * wq_i · (B − Σ capTok) ≥ capTok_i · (ΣW − Σ wq) holds with
    * integer prefix sums (order-free, associative — no float
    * accumulation-order hazard), and uncapped sources floor-divide the
    * frozen remainder. The only doubles are single-op divisions
    * (sort-key ratio, reported epochs/weight), which IEEE makes
    * bit-identical in any engine. Products are bounded by
    * wq · B ≤ weightScale · u^α · B — keep weightScale at the default
    * 1e6 for corpora under ~10^15 tokens.
    *
    * Scale shape: ONE map-side-combinable source aggregate collected
    * as driver metadata (bounded by source cardinality — the q97
    * contract); the fixpoint is O(S log S) driver arithmetic; the
    * output is the S-row schedule a mixing/packing stage consumes.
    * Null sources are dropped (no allocation identity exists for
    * them), matching [[temperatureMix]]. */
  def repeatAllocation(docs: DataFrame, totalTokens: Long, alpha: Double,
                       maxEpochs: Double, sourceCol: Column, tokenCol: Column,
                       weightScale: Long = 1000000L): DataFrame = {
    require(totalTokens > 0 && alpha > 0 && maxEpochs > 0 && weightScale > 0,
      s"repeatAllocation: bad knobs total=$totalTokens alpha=$alpha " +
        s"cap=$maxEpochs scale=$weightScale")
    val spark = docs.sparkSession
    import spark.implicits._
    val srcStr = sourceCol.cast("string")
    val stats = docs.groupBy(srcStr.as("__src"))
      .agg(sum(tokenCol.cast("long")).as("__tok"))
      .collect().collect { case r if !r.isNullAt(0) => (r.getString(0), r.getLong(1)) }
    // integerized weight and cap, then the cap-level sort (single-op
    // double ratio — deterministic; ties break on the source key)
    // α = 0.5 routes through sqrt: IEEE requires sqrt correctly
    // rounded (pow is only ~1-ulp), so the canonical temperature gets
    // bit-identical micro-weights in any engine; other α accept the
    // pow ulp, absorbed by the weightScale quantization
    def w(u: Long): Double =
      if (alpha == 0.5) math.sqrt(u.toDouble) else math.pow(u.toDouble, alpha)
    val rows = stats.map { case (s, u) =>
      val wq = math.round(w(u) * weightScale)
      val capTok = math.round(maxEpochs * u)
      (s, u, wq, capTok, capTok.toDouble / wq)
    }.sortBy { case (s, _, _, _, r) => (r, s) }
    val wTot = rows.map(_._3).sum
    // longest capped prefix (exact Long recursion; see doc)
    var bRem = totalTokens
    var wRem = wTot
    var open = true
    val capped = rows.map { case (_, _, wq, capTok, _) =>
      val c = open && wq * bRem >= capTok * wRem
      if (c) { bRem -= capTok; wRem -= wq } else open = false
      c
    }
    // HALF_UP to match ROUND in both engines (the q108 convention)
    def r(x: Double, s: Int): Double =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = rows.zip(capped).map { case ((s, u, wq, capTok, _), c) =>
      val alloc = if (c) capTok else wq * bRem / wRem
      (s, u, r(wq.toDouble / wTot, 6), r(alloc.toDouble / u, 4), alloc, c)
    }
    out.toSeq.toDF("source", "unique_tokens", "weight", "epochs",
      "allocated_tokens", "capped").orderBy("source")
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed byte-pair-encoding tokenizer TRAINING — the canonical
  * "build the tokenizer from the corpus" step of an LLM data pipeline
  * (Sennrich et al. 2016, "Neural Machine Translation of Rare Words
  * with Subword Units"), shaped for Spark:
  *
  *  - **Train on the word-frequency table, not the corpus.** One
  *    shuffle collapses the corpus to (word, count) — distinct words
  *    grow sublinearly, and every later iteration touches only this
  *    table. The corpus itself is read exactly once.
  *  - **The word table stays distributed.** At 100 TB the distinct-word
  *    table (typos, code, URLs) can be billions of rows; it is never
  *    collected. Each BPE step is one codegen'd map (apply the newest
  *    merge) plus one map-side-combinable pair-count agg; the ONLY
  *    driver traffic per step is the argmax row — a single
  *    `(left, right, count)` triple.
  *  - **Merges are driver state by design.** The merge list IS the
  *    tokenizer artifact (kilobytes at vocab scale); holding it on the
  *    driver and baking it into literal expressions is the correct
  *    side of the broadcast line at any corpus size.
  *  - **Lineage is truncated every step** via `pin` (default: tracked
  *    localCheckpoint — swap for a parquet round-trip on a cluster):
  *    numMerges chained map steps would otherwise stack into one
  *    unplannable lineage.
  *  - numMerges sequential jobs is inherent: merge i+1's counts depend
  *    on merge i having been applied. BPE is a sequential algorithm;
  *    the parallelism is WITHIN each step, and that part is a pure
  *    map + agg at corpus-table scale.
  *
  * Greedy merge application (leftmost-first, non-overlapping) is a
  * single `aggregate` fold per word — a codegen'd Column expression,
  * no UDF. Tie-break on equal pair counts is lexicographic
  * (left, then right), making training fully deterministic. Symbols
  * are plain characters (no end-of-word marker): merges never cross
  * the whitespace tokenization this engine uses everywhere else
  * (`TextAnalysis.words`). */
object Bpe {

  /** (rank, left, right) rows, rank = merge order. */
  final case class Merge(rank: Int, left: String, right: String)

  /** Split a (lower-cased) word into single-character symbols. */
  private def charSyms(word: Column): Column =
    filter(split(word, ""), s => length(s) > 0)

  /** Greedy leftmost non-overlapping application of one merge to a
    * symbol array: fold symbols left to right; when the running
    * array's last element is `left` and the incoming symbol is
    * `right`, replace the last element with the concatenation.
    * Public so contract checks can replay training steps. */
  def applyMerge(syms: Column, left: String, right: String): Column =
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, x) =>
        when(
          size(acc) > 0 && element_at(acc, -1) === lit(left) && x === lit(right),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(left + right))))
          .otherwise(concat(acc, array(x))))

  /** Adjacent symbol pairs of each word, weighted by word count:
    * one (left, right, weight) row per adjacency position. */
  private[operators] def adjacentPairs(words: DataFrame): DataFrame = {
    val pairs = expr(
      "filter(transform(syms, (s, i) -> struct(s AS left, try_element_at(syms, i + 2) AS right)), p -> p.right IS NOT NULL)")
    words
      .select(explode(pairs).as("p"), col("count"))
      .select(col("p.left").as("left"), col("p.right").as("right"), col("count"))
  }

  /** Pair totals over the current word table: (left, right, total).
    * The per-step training aggregation, exposed for contract checks. */
  def pairCounts(words: DataFrame): DataFrame =
    adjacentPairs(words)
      .groupBy("left", "right")
      .agg(sum("count").as("total"))

  /** The distributed (word, count, syms) table the trainer iterates
    * on: one corpus pass, one shuffle. */
  def wordTable(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word")
      .agg(count(lit(1)).cast(LongType).as("count"))
      .withColumn("syms", charSyms(col("word")))

  /** Learn up to `numMerges` merges from `docs`. Stops early when no
    * adjacent pair reaches `minCount` (merging a pair seen once buys
    * nothing). Returns the merge list in training order. */
  def train(docs: DataFrame, numMerges: Int, minCount: Long = 2L,
            textCol: String = "text",
            pin: DataFrame => DataFrame =
              df => Storage.track(df.localCheckpoint(true))): Seq[Merge] = {
    require(numMerges >= 0, s"numMerges must be >= 0: $numMerges")
    var words = pin(wordTable(docs, textCol))
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      // argmax by count, lexicographic (left, right) tie-break; ONE row
      // crosses to the driver
      val best = pairCounts(words)
        .orderBy(col("total").desc, col("left"), col("right"))
        .limit(1)
        .collect()
      best.headOption.filter(_.getLong(2) >= minCount) match {
        case Some(row) =>
          val (l, r) = (row.getString(0), row.getString(1))
          merges += Merge(rank, l, r)
          words = pin(words.withColumn("syms", applyMerge(col("syms"), l, r)))
          rank += 1
        case None => exhausted = true
      }
    }
    merges.result()
  }

  /** Tokenize `docs` with a learned merge list: per doc, whitespace
    * words → char symbols → merges applied in rank order. A pure
    * projection over the corpus — zero shuffle, streams at scan
    * speed; `pinEvery` bounds expression-tree depth for long merge
    * lists (each pinch truncates the plan, the local stand-in for a
    * between-stage parquet write). Output: (carry columns, tokens:
    * array<string>, token_count). */
  def encode(docs: DataFrame, merges: Seq[Merge], textCol: String = "text",
             pinEvery: Int = 16,
             pin: DataFrame => DataFrame =
               df => Storage.track(df.localCheckpoint(true))): DataFrame = {
    require(pinEvery > 0, s"pinEvery must be positive: $pinEvery")
    val base = docs.withColumn(
      "__words",
      transform(
        filter(split(lower(col(textCol)), " "), w => length(w) > 0),
        w => charSyms(w)))
    val encoded = merges.sortBy(_.rank).grouped(pinEvery).foldLeft(base) {
      (df, batch) =>
        val stepped = batch.foldLeft(df) { (d, m) =>
          d.withColumn("__words",
            transform(col("__words"), w => applyMerge(w, m.left, m.right)))
        }
        if (batch.size == pinEvery) pin(stepped) else stepped
    }
    encoded
      .withColumn("tokens", flatten(col("__words")))
      .withColumn("token_count", size(col("tokens")).cast(LongType))
      .drop("__words")
  }

  /** Per-group tokenizer fertility diagnostics (r13): the multilingual
    * tokenizer-health sheet — fertility (BPE tokens per word) and
    * compression (chars per BPE token) per source/language (Ács 2019's
    * fertility metric; Rust et al. 2021 "How Good is Your Tokenizer?").
    * A high-fertility group is under-served by the trained vocabulary —
    * its text costs more sequence length per word — the signal behind
    * vocabulary rebalancing in multilingual training. The encode
    * projection rides the scan (merge list is driver metadata), then ONE
    * map-side-combinable aggregate; output is group-cardinality-sized.
    * Word/char counts use encode's own tokenization (lower + space
    * split, empties dropped) so fertility is exactly tokens/words over
    * the SAME word set; with an EMPTY merge list tokens == chars by
    * construction (every char is a symbol) — the identity the q108
    * contract pins. */
  def fertilityStats(docs: DataFrame, merges: Seq[Merge],
                     groupCol: Column, textCol: String = "text"): DataFrame = {
    val ws = filter(split(lower(col(textCol)), " "), w => length(w) > 0)
    encode(docs, merges, textCol)
      .withColumn("__grp", groupCol.cast("string"))
      .withColumn("__w", size(ws).cast(LongType))
      .withColumn("__c", aggregate(ws, lit(0L), (a, w) => a + length(w)))
      .groupBy(col("__grp").as("grp"))
      .agg(count(lit(1)).as("n_docs"), sum("__w").as("words"),
        sum("token_count").as("tokens"), sum("__c").as("chars"))
      .withColumn("fertility",
        round(col("tokens").cast("double") / col("words"), 4))
      .withColumn("chars_per_token",
        round(col("chars").cast("double") / col("tokens"), 4))
      .orderBy("grp")
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** DSIR-style data selection — importance resampling of a raw corpus
  * toward a target distribution (Xie et al. 2023, "Data Selection for
  * Language Models via Importance Resampling", PAPERS.md): score each
  * raw document by the log-likelihood ratio of add-1-smoothed unigram
  * bag models fit on the TARGET exemplar set vs the RAW corpus, then
  * select by deterministic Gumbel-top-k over the weights (the paper's
  * sampling-without-replacement trick — adding Gumbel noise to the log
  * weights and taking the top k draws exactly from the softmax of the
  * weights).
  *
  * Scale shape: two map-side-combinable token counts build the models
  * (target side is exemplar-sized; raw side is ONE corpus pass); the
  * per-feature log-ratio table is model-sized and BROADCASTS into the
  * instance join, so the corpus shuffles exactly once — the per-doc
  * aggregation. With `hashBuckets` > 0 the feature space is hashed into
  * a FIXED 2^b-style bucket table (the published trick), so the
  * broadcast is O(buckets) regardless of vocabulary growth — the right
  * setting at 100 TB, where an open vocabulary would not broadcast.
  * Selection at scale: `keep` ranks globally here (document-count-sized
  * window — fine for doc-level tables); a per-shard quota or a fixed
  * score threshold replaces the global rank when even doc-counts are
  * too large to total-order.
  */
object Dsir {

  private def toks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))

  private def feat(hashBuckets: Int): Column =
    if (hashBuckets > 0) pmod(xxhash64(col("tok")), lit(hashBuckets.toLong))
    else col("tok").cast("string")

  /** Per-document log importance weight ln p_tgt(doc) − ln p_raw(doc)
    * under add-1-smoothed unigram bag models over the shared feature
    * vocabulary. Output: (doc_id, n_toks, lw) for every raw doc,
    * 4-decimal `lw`, ordered by doc_id. */
  def importanceWeights(raw: DataFrame, target: DataFrame,
                        hashBuckets: Int = 0): DataFrame = {
    val f = feat(hashBuckets)
    val rawF = toks(raw).withColumn("f", f).select("doc_id", "f")
    val tgtF = toks(target).withColumn("f", f).select("f")
    val cr = rawF.groupBy("f").agg(count(lit(1)).as("cr"))
    val ct = tgtF.groupBy("f").agg(count(lit(1)).as("ct"))
    // model-sized joins/aggregates: vocabulary (or fixed bucket) scale
    val model0 = cr.join(ct, Seq("f"), "full_outer")
      .select(col("f"), coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("ct"), lit(0L)).as("ct"))
    val tot = model0.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"),
      count(lit(1)).as("v"))
    val model = model0.crossJoin(broadcast(tot))
      .select(col("f"),
        (log((col("ct") + 1L).cast(DoubleType) / (col("nt") + col("v")).cast(DoubleType)) -
          log((col("cr") + 1L).cast(DoubleType) / (col("nr") + col("v")).cast(DoubleType)))
          .as("lr"))
    rawF.join(broadcast(model), "f")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), round(sum(col("lr")), 4).as("lw"))
      .orderBy("doc_id")
  }

  /** Deterministic uniform in (0,1) from the doc id — exact integer
    * arithmetic (Knuth multiplicative hash bounded to avoid int64
    * overflow), reproducible by any engine. */
  private def hashUniform(id: Column): Column =
    ((pmod(id, lit(1000003L)) * lit(2654435761L)) % lit(4294967296L) + lit(0.5)) /
      lit(4294967296.0)

  /** Gumbel-top-fraction selection over the importance weights: score =
    * lw + Gumbel(doc_id-seeded), keep the top `frac` by global percent
    * rank — a deterministic draw from the softmax of the weights (the
    * DSIR sampler with a hash in place of the RNG). Output adds (score,
    * keep) to [[importanceWeights]]' columns.
    *
    * The rank is GLOBAL but never single-task (r19; was
    * `percent_rank().over(Window.orderBy(...))`, which moves the whole
    * scored corpus to one partition — the driver tail's "WindowExec: No
    * Partition Defined" warning, and a non-starter at 100 TB): rows
    * range-partition on the rank key (score desc, doc_id) so the sort
    * parallelizes, and global positions come from broadcast
    * per-partition prefix counts + a local running index — the
    * [[Percentiles.exactRangePartitioned]] shape. (doc_id is unique, so
    * the rank key has no ties and rank() == row position.) `keep`
    * replicates percent_rank's exact arithmetic: (rank−1)/(n−1) < frac
    * in double, 0.0 when n == 1. */
  def resample(weights: DataFrame, frac: Double = 0.2): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.BooleanType
    val spark = weights.sparkSession
    val u = hashUniform(col("doc_id"))
    val g = -log(-log(u))
    // materialize once (doc-count-sized metadata: id, counts, score):
    // the range partitioner's boundary-sampling job and the rank passes
    // below must not each recompute the upstream model joins
    val scored = Storage.track(
      weights.withColumn("score", round(col("lw") + g, 4)).localCheckpoint(true))
    val sorted = scored
      .repartitionByRange(col("score").desc, col("doc_id"))
      .sortWithinPartitions(col("score").desc, col("doc_id"))
      .rdd
    // tiny count pass (one long per partition) → prefix offsets. The
    // offsets are valid only because both passes below run over this
    // ONE `sorted` RDD: its range exchange is planned once, so the
    // boundaries are sampled once and the shuffle output is written
    // once, and both jobs read that output (neither re-runs the map
    // side), so partition pid holds the same rows in the same order in
    // both. A rank pass derived from `scored` again would plan a second
    // exchange whose partition layout nothing ties to these offsets.
    val counts = sorted
      .mapPartitionsWithIndex { (pid, it) => Iterator.single(pid -> it.size.toLong) }
      .collect().toMap
    val n = counts.values.sum
    val offsets = counts.keys.map { pid =>
      pid -> counts.filter(_._1 < pid).values.sum
    }.toMap
    val bc = spark.sparkContext.broadcast(offsets)
    val withKeep = sorted.mapPartitionsWithIndex { (pid, it) =>
      var rank = bc.value(pid)
      it.map { r =>
        rank += 1L
        val pr = if (n > 1) (rank - 1).toDouble / (n - 1).toDouble else 0.0
        Row.fromSeq(r.toSeq :+ (pr < frac))
      }
    }
    spark.createDataFrame(withKeep, scored.schema.add("keep", BooleanType, nullable = false))
      .orderBy("doc_id")
  }

  /** The composed selector: weights + resampling in one call. */
  def select(raw: DataFrame, target: DataFrame, frac: Double = 0.2,
             hashBuckets: Int = 0): DataFrame =
    resample(importanceWeights(raw, target, hashBuckets), frac)
}

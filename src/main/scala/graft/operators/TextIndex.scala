package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Persisted inverted text index with the FULL store lifecycle — the
  * text-side twin of the persisted IVF index (r15 second session): a
  * BM25 deployment does not re-derive its postings per query (the
  * in-memory [[TextSearch.bm25TopK]] path) or per increment; it keeps
  * the index ON DISK and maintains it under ingest, takedown and
  * compaction. The layout is deliberately TWO CORPUS STORES, so every
  * existing lifecycle verb applies with its proven semantics:
  *
  *  - `path/postings/__ingest_batch=<id>/bucket=<b>/` — one row per
  *    (doc, term): (tok, tf, doc_id, dl). `bucket = pmod(xxhash64(tok),
  *    nBuckets)` is the SECOND partition level: a query's terms prune
  *    the scan to their buckets (the probe-pruning key, exactly the
  *    IVF `list` role) while `__ingest_batch` stays the idempotent-
  *    replay and compaction key;
  *  - `path/doclen/__ingest_batch=<id>/` — one row per doc: (doc_id,
  *    dl). Corpus stats (N, avgdl) aggregate over THIS table — doc-
  *    count-scale, ~2 orders smaller than the postings it indexes (a
  *    serving deployment snapshots the two scalars per batch; kept
  *    exact here);
  *  - `path/meta/` — nBuckets, pinned at build time so append/search
  *    agree.
  *
  * Search reads both stores through the committed-compaction view
  * ([[graft.streaming.StreamingOps.readCorpusStore]]), prunes
  * `bucket` to the query terms' buckets, and mirrors the q87 BM25
  * arithmetic EXACTLY (same idf, same DECIMAL(14,4) rank quantization)
  * — the q147 oracle compares a search through a built, re-opened
  * index against DuckDB's from-scratch BM25 row-for-row. Because
  * postings and doclen stay in lockstep, a search through the index
  * EQUALS [[TextSearch.bm25TopK]] over the logically-current document
  * set after ANY verb sequence (TextIndexSpec asserts equality after
  * append, delete and compaction). */
object TextIndex {

  import graft.streaming.StreamingOps.IngestBatchCol

  private def toks(text: Column): Column =
    filter(split(lower(text), " "), t => t =!= "")

  /** Under the `simple` analyzer, dl mirrors bm25TopK exactly:
    * split-token count INCLUDING empties (`size(split(lower(text),
    * " "))`) and positions are offsets in the RAW split sequence —
    * empties keep their slot, so a double space never fabricates
    * adjacency (the pre-analyzer q147/q148 contract, byte-compatible).
    * Under `stop`/`english` (r17), positions are ALSO raw-sequence
    * offsets — removed stopwords leave POSITION GAPS exactly like
    * Lucene's StopFilter with position increments: the exact phrase
    * "new york" does NOT match "new the york" (a false adjacency the
    * pre-r17 analyzed-offset layout allowed), while slop ≥ 1 matches
    * across the elided word. dl stays the ANALYZED token count (the
    * Lucene norm — stopwords carry no length mass). The stemmer runs
    * AFTER the positional explode so offsets survive. Query-side
    * positions stay consecutive over the analyzed query terms (a
    * stopword in the QUERY widens nothing — the common analyzer
    * configuration). Positions sorted for determinism (collect_list
    * order is not). */
  private def perDoc(docs: DataFrame, nBuckets: Int,
                     analyzer: String): (DataFrame, DataFrame) = {
    val (exploded, dl) = analyzer match {
      case Analyzer.Simple =>
        (docs.select(col("doc_id"),
          size(split(lower(col("text")), " ")).cast("long").as("dl"),
          posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tok")))
          .filter(col("tok") =!= ""),
          size(split(lower(col("text")), " ")).cast("long"))
      case a =>
        val dlCol = size(Analyzer.analyze(a, col("text"))).cast("long")
        val surviving = docs.select(col("doc_id"), dlCol.as("dl"),
            posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tok")))
          .filter(col("tok") =!= "" &&
            !col("tok").isin(Analyzer.StopWords: _*))
        val stemmed =
          if (a == Analyzer.English)
            surviving.withColumn("tok", Analyzer.stemUdf(col("tok")))
          else surviving
        (stemmed, dlCol)
    }
    val postings = exploded
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"),
        sort_array(collect_list(col("pos"))).as("pos"))
      .withColumn("bucket", pmod(xxhash64(col("tok")), lit(nBuckets)).cast("int"))
    val doclen = docs.select(col("doc_id"), dl.as("dl"))
    (postings, doclen)
  }

  /** Build the index from scratch (base batch `-1`, the store
    * convention). ONE pass over the corpus per store. The analyzer is
    * PINNED in the meta sidecar — every later append/search analyzes
    * with it, and mixed-analyzer operations are impossible by
    * construction. */
  def build(docs: DataFrame, path: String, nBuckets: Int = 64,
            analyzer: String = Analyzer.Simple): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(Analyzer.Names.contains(analyzer),
      s"unknown analyzer '$analyzer' — one of ${Analyzer.Names.mkString(", ")}")
    val (postings, doclen) = perDoc(docs, nBuckets, analyzer)
    postings.withColumn(IngestBatchCol, lit(-1L))
      .write.mode("overwrite").partitionBy(IngestBatchCol, "bucket")
      .parquet(s"$path/postings")
    doclen.withColumn(IngestBatchCol, lit(-1L))
      .write.mode("overwrite").partitionBy(IngestBatchCol)
      .parquet(s"$path/doclen")
    Seq((nBuckets, analyzer, "raw")).toDF("n_buckets", "analyzer", "positions")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** (nBuckets, analyzer, positions) from the meta sidecar — ONE read
    * per call (the meta is a serving-path fixed cost; separate reads
    * would multiply it). Pre-analyzer indexes (meta without the
    * column) are `simple` — exactly their write-time behavior. The
    * `positions` field records the position SEMANTICS the postings
    * were written with: "raw" (raw-split offsets — gaps at removed
    * stopwords, the Lucene semantics, everything written r17+ and
    * every `simple` index ever) vs "analyzed" (the pre-r17 stop/
    * english layout, offsets in the filtered sequence) — so a
    * positional search can refuse an index whose stored offsets mean
    * something else. */
  private def metaOf(spark: SparkSession, path: String): (Int, String, String) = {
    val meta = spark.read.parquet(s"$path/meta")
    val hasAnalyzer = meta.columns.contains("analyzer")
    val hasPositions = meta.columns.contains("positions")
    val row = meta.head()
    val analyzer =
      if (hasAnalyzer) row.getAs[String]("analyzer") else Analyzer.Simple
    val positions =
      if (hasPositions) row.getAs[String]("positions")
      else if (analyzer == Analyzer.Simple) "raw" // simple was always raw
      else "analyzed"
    (row.getAs[Int]("n_buckets"), analyzer, positions)
  }

  /** Bucket of one token, evaluated LOCALLY through the SAME Catalyst
    * expression the write path plans (`pmod(xxhash64(tok), n)`; seed 42
    * is `functions.xxhash64`'s seed): hash parity with [[perDoc]] is by
    * shared implementation — the expression class IS the one codegen
    * runs — and the serving path pays ZERO scheduler round-trips for it
    * (r15 verdict: the per-search local-relation job was a fixed floor
    * on every q147/q148 search). */
  private[operators] def bucketOf(tok: String, nBuckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{XxHash64, Literal => CatLit}
    val h = XxHash64(Seq(CatLit.create(tok, org.apache.spark.sql.types.StringType)), 42L)
      .eval(null).asInstanceOf[Long]
    (((h % nBuckets) + nBuckets) % nBuckets).toInt
  }

  /** Incremental append: the batch writes ONLY its own partitions in
    * both stores (the idempotent crash-replay contract — a replayed
    * batch overwrites itself). Buckets come from the meta sidecar, so
    * the layout stays probe-compatible forever. An append under a
    * non-`simple` analyzer writes RAW-sequence offsets, so a pre-r17
    * stop/english index (meta positions="analyzed") is REFUSED — one
    * append would permanently mix two position semantics in a single
    * index (old batches' offsets collapse removed stopwords, new ones
    * gap over them), which no later rebuild of just the new batches
    * could untangle; the refusal points at the same rebuild the
    * positional searches demand (ADVICE r17). */
  def append(docs: DataFrame, path: String, batchId: Long): Unit = {
    val spark = docs.sparkSession
    val (nBuckets, analyzer, positions) = metaOf(spark, path)
    require(analyzer == Analyzer.Simple || positions == "raw",
      s"TextIndex.append: the index at $path stores ANALYZED-sequence " +
        "positions (the pre-gap stop/english layout) — appending would mix " +
        "raw-offset postings into it and permanently corrupt phrase/slop " +
        "arithmetic; rebuild the index for Lucene position-gap semantics")
    val (postings, doclen) = perDoc(docs, nBuckets, analyzer)
    postings.write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/postings/$IngestBatchCol=$batchId")
    doclen.write.mode("overwrite")
      .parquet(s"$path/doclen/$IngestBatchCol=$batchId")
  }

  /** BM25 top-k through the persisted index — the q87 arithmetic over
    * a bucket-pruned postings scan:
    *  1. query terms → their buckets (local Catalyst eval, zero jobs);
    *  2. postings scan pruned by `bucket` partition filter AND the
    *     term filter (never touches other buckets' files);
    *  3. df per query term as a COUNT window over `tok` INSIDE the
    *     scoring pass (postings are one row per (doc, term), so the
    *     partition count IS the document frequency) — ONE scan of the
    *     pruned postings instead of a separate df aggregate re-reading
    *     them (r16: the serving path's fixed multi-job floor halved);
    *     corpus stats (N, avgdl) from the doclen store;
    *  4. the exact q87 score, DECIMAL(14,4)-quantized rank, ties to
    *     the low doc_id. */
  def search(spark: SparkSession, path: String, query: String, k: Int = 20,
             k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import graft.streaming.StreamingOps.readCorpusStore
    val (nBuckets, analyzer, _) = metaOf(spark, path)
    val qToks = Analyzer.analyzeLocal(analyzer, query).distinct
    val doclen = readCorpusStore(spark, s"$path/doclen").getOrElse(
      throw new IllegalStateException(s"no doclen store at $path"))
    if (qToks.isEmpty)
      return doclen.select(col("doc_id")).limit(0)
        .withColumn("score", lit(0.0)).withColumn("n_terms", lit(0L))
    val hashes = qToks.map(bucketOf(_, nBuckets)).distinct
    val postings = readCorpusStore(spark, s"$path/postings").getOrElse(
      throw new IllegalStateException(s"no postings store at $path"))
    val pruned = postings
      .filter(col("bucket").isin(hashes: _*) && col("tok").isin(qToks: _*))
    val stats = doclen.agg(count(lit(1)).cast(DoubleType).as("n"),
      avg(col("dl").cast(DoubleType)).as("avgdl"))
    scoredPostings(pruned, stats, k1, b)
      .groupBy("doc_id")
      .agg(sum(col("s")).cast(DecimalType(14, 4)).as("score_dec"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score_dec").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("score_dec").cast(DoubleType).as("score"),
        col("n_terms"))
  }

  /** The shared one-pass scoring kernel: per (doc, term) posting row,
    * df via a count window over `tok`, then the exact q87 BM25 term
    * score as `s` — same arithmetic, same double-op order as the
    * former df-aggregate + broadcast-join shape, minus the second
    * scan of the pruned postings. */
  private def scoredPostings(pruned: DataFrame, stats: DataFrame,
                             k1: Double, b: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    pruned
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("tok"))))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("s",
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl").cast(DoubleType) / col("avgdl"))))
  }

  /** PHRASE search through the positional postings (q148): documents
    * where the phrase's tokens appear CONSECUTIVELY in the raw token
    * sequence, ranked by the q87 BM25 of the phrase's distinct terms
    * (corpus-wide df/stats — the standard phrase-query semantics:
    * positions gate membership, term statistics rank). Scale shape:
    * the postings scan prunes to the phrase terms' buckets exactly
    * like [[search]]; per candidate doc the term→positions map is
    * row-local and the adjacency test is one HOF over the first
    * term's positions (`exists(p → ∀i: pos(tᵢ) ∋ p+i)`) — no join
    * beyond the per-doc gather, no UDF. Emits (doc_id, score,
    * n_hits = phrase occurrence count), score DESC, ties to low id.
    * Repeated tokens in the phrase are handled (the offset fold uses
    * the term at each position). Indexes written before the
    * positional layout raise a pointed error. */
  def searchPhrase(spark: SparkSession, path: String, phrase: String,
                   k: Int = 20, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // adjacency: occurrences = positions p of term 0 with term i at p+i
    positionalSearch(spark, path, phrase, k, k1, b, "searchPhrase") { terms =>
      size(filter(col("pm").getItem(terms.head),
        p => terms.zipWithIndex.tail
          .map { case (t, i) => array_contains(col("pm").getItem(t), p + i) }
          .foldLeft(lit(true))(_ && _)))
    }
  }

  /** PROXIMITY search (slop-k; r16): documents where the phrase's terms
    * appear IN ORDER within a window of `(n-1) + slop` positions —
    * slop = 0 is exactly [[searchPhrase]]'s consecutive match, each
    * extra slop unit allows one more position of total spread (the
    * ordered-window proximity semantics; Lucene's sloppy phrase adds
    * unordered permutations, which this deliberately does not). Match
    * existence from a start position uses the GREEDY chain — each next
    * term takes its earliest position after the current one — which is
    * span-minimal, so greedy failure implies no chain fits the window.
    * Ranked by the same BM25; n_hits counts the chain-rooted matches. */
  def searchSlop(spark: SparkSession, path: String, phrase: String,
                 slop: Int, k: Int = 20, k1: Double = 1.2,
                 b: Double = 0.75): DataFrame = {
    require(slop >= 0, s"searchSlop: slop=$slop")
    positionalSearch(spark, path, phrase, k, k1, b, "searchSlop") { terms =>
      size(filter(col("pm").getItem(terms.head), p => {
        val fin = terms.tail.foldLeft(p)((cur, t) =>
          array_min(filter(col("pm").getItem(t), e => e > cur)))
        fin.isNotNull && (fin - p) <= lit(terms.size - 1 + slop)
      }))
    }
  }

  /** Shared positional-search body: analyze the phrase with the index's
    * pinned analyzer, prune postings to the terms' buckets, score with
    * ONE pass ([[scoredPostings]] — df as a window inside the scoring
    * pass), gather per-doc positions + score together, then let
    * `hitsFor(terms)` count occurrences over the `pm` positions map. */
  private def positionalSearch(spark: SparkSession, path: String,
                               phrase: String, k: Int, k1: Double, b: Double,
                               what: String)(hitsFor: Seq[String] => Column): DataFrame = {
    import graft.streaming.StreamingOps.readCorpusStore
    val (nBuckets, analyzer, positions) = metaOf(spark, path)
    require(positions == "raw",
      s"$what: the index at $path stores ANALYZED-sequence positions " +
        "(the pre-gap stop/english layout) — its offsets collapse removed " +
        "stopwords, so phrase/slop arithmetic would fabricate adjacency; " +
        "rebuild the index for Lucene position-gap semantics")
    val terms = Analyzer.analyzeLocal(analyzer, phrase).toSeq
    require(terms.nonEmpty, s"$what: empty phrase (after analysis)")
    val uniq = terms.distinct
    val doclen = readCorpusStore(spark, s"$path/doclen").getOrElse(
      throw new IllegalStateException(s"no doclen store at $path"))
    val hashes = uniq.map(bucketOf(_, nBuckets)).distinct
    val postings = readCorpusStore(spark, s"$path/postings").getOrElse(
      throw new IllegalStateException(s"no postings store at $path"))
    require(postings.columns.contains("pos"),
      s"$what: the index at $path predates positional postings — rebuild it")
    val pruned = postings
      .filter(col("bucket").isin(hashes: _*) && col("tok").isin(uniq: _*))
    // ONE pass over the pruned postings (r16): each (doc, term) row is
    // scored inline (df as a window over tok — the [[scoredPostings]]
    // kernel), then a single per-doc gather collects the positions map
    // AND the score sum together; the former shape re-scanned the
    // postings for the df aggregate
    val stats = doclen.agg(count(lit(1)).cast(DoubleType).as("n"),
      avg(col("dl").cast(DoubleType)).as("avgdl"))
    val gathered = scoredPostings(pruned, stats, k1, b)
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("tok"), col("pos")))).as("pm"),
        sum(col("s")).as("score_sum"),
        count(lit(1)).as("n_terms"))
      .filter(col("n_terms") === uniq.size) // must hold every term
    gathered
      .withColumn("n_hits", hitsFor(terms).cast("long"))
      .filter(col("n_hits") > 0)
      .orderBy(col("score_sum").cast(DecimalType(14, 4)).desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"),
        col("score_sum").cast(DecimalType(14, 4)).cast(DoubleType).as("score"),
        col("n_hits"))
  }

  /** Takedown: physically erase documents from BOTH stores, touching
    * only the leaves that hold them (the [[Similarity.deleteFromIvfIndex]]
    * shape — (batch, bucket) leaves in postings, batch leaves in
    * doclen; crash-safe per-leaf two-phase swap via
    * [[Takedown.replaceLeaf]]). Returns postings rows removed. df and
    * the corpus stats need NO separate bookkeeping — both derive from
    * the stores at query time, so the next search is exact by
    * construction. */
  def delete(spark: SparkSession, path: String, docIds: Seq[Long]): Long = {
    require(docIds.nonEmpty, "TextIndex.delete: empty id list")
    import graft.streaming.StreamingOps.readCorpusStore
    val del = col("doc_id").isin(docIds: _*)
    val keep = !coalesce(del, lit(false))
    var removed = 0L
    Seq(("postings", Seq("bucket")), ("doclen", Seq.empty[String])).foreach {
      case (sub, extraCols) =>
        val dir = s"$path/$sub"
        Takedown.recover(dir)
        // physical erasure first (the ADVICE r14 deleteFromStore rule):
        // superseded live partitions are invisible to the merged view
        // but can still hold a copy of a victim after a deferred-GC
        // compaction — reclaim before discovery so no copy survives
        Manifests.gcSuperseded(dir)
        val view = readCorpusStore(spark, dir).getOrElse(return removed)
        val groupCols = (IngestBatchCol +: extraCols).map {
          case IngestBatchCol => col(IngestBatchCol).cast("long").as(IngestBatchCol)
          case c => col(c)
        }
        val touched = view.filter(del).groupBy(groupCols: _*)
          .agg(count(lit(1)).as("n")).collect()
        val manifest = Manifests.read(dir)
        val covers = manifest.map(_._2).getOrElse(Long.MinValue)
        val units = touched.map { r =>
          val bId = r.getLong(0)
          val tail = extraCols.zipWithIndex
            .map { case (c, i) => s"/$c=${r.get(i + 1)}" }.mkString
          if (bId <= covers)
            s"${Manifests.CompactDir}/epoch-${manifest.get._1}$tail"
          else s"$IngestBatchCol=$bId$tail"
        }.distinct.sorted
        units.foreach { unit =>
          val kept = spark.read.parquet(s"$dir/$unit").filter(keep)
          Takedown.replaceLeaf(dir, unit, kept)
        }
        if (sub == "postings")
          removed = touched.map(_.getLong(if (extraCols.isEmpty) 1 else 2)).sum
    }
    removed
  }

  /** Fold committed batches into consolidated epochs in both stores —
    * the small-files answer, via the proven [[Manifests.compactView]]
    * protocol (postings keep `bucket` as the partition key through the
    * epoch, so pruned searches stay pruned; batch ids survive as LONG
    * columns). Run at a quiet moment or with `uptoBatch` ≤ the last
    * committed batch — the [[Similarity.compactIvfIndex]] contract. */
  def compact(spark: SparkSession, path: String, uptoBatch: Long,
              targetFileRows: Long = 5000000L): Unit = {
    import graft.streaming.StreamingOps.readCorpusStore
    readCorpusStore(spark, s"$path/postings").foreach { v =>
      Manifests.compactView(v, s"$path/postings", uptoBatch,
        targetFileRows, partitionCols = Seq("bucket"))
    }
    readCorpusStore(spark, s"$path/doclen").foreach { v =>
      Manifests.compactView(v, s"$path/doclen", uptoBatch,
        targetFileRows, partitionCols = Seq.empty)
    }
  }
}

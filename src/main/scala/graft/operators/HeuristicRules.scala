package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** The published heuristic quality-rule battery for web-scale corpora —
  * the Gopher rules (Rae et al. 2021, "Scaling Language Models", App. A,
  * PAPERS.md) with the C4-style line heuristics (Raffel et al. 2020):
  * hard pass/fail per rule plus the composite keep verdict, per document.
  *
  * Every signal is a pure row-local projection (codegen'd string/array
  * expressions — split, replace-count, HOF filter), so the battery rides
  * the scan with ZERO shuffle at any corpus size: the canonical first
  * gate of a 100 TB curation run, strictly cheaper than any model-based
  * scorer. Each expression is mirrored 1:1 in the DuckDB oracle SQL
  * (replace-count arithmetic, list_filter + regexp, 4-decimal DECIMAL
  * fractions), so verdicts hash-match bit-for-bit.
  *
  * Thresholds are the published defaults, exposed as knobs:
  *  - 50 <= word count <= 100000 and 3 <= mean word length <= 10
  *  - symbol-to-word ratio ('#' chars and '...'/'…' ellipses) < 0.1
  *  - < 90% of lines start with a bullet, < 30% end with an ellipsis
  *  - >= 80% of words contain at least one alphabetic character
  *  - >= 2 distinct stopwords (the "the/a/and/of/to/is" prose test)
  */
object HeuristicRules {

  final case class GopherConfig(
      minWords: Long = 50L,
      maxWords: Long = 100000L,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3,
      minAlphaFrac: Double = 0.8,
      minStopHits: Long = 2L)

  /** Occurrences of literal `what` in `c` via replace-count arithmetic —
    * leftmost non-overlapping in both engines. */
  private def occurrences(c: Column, what: String): Column =
    ((length(c) - length(replace(c, lit(what), lit("")))) / what.length).cast(LongType)

  private def dec4(c: Column): Column = c.cast(DecimalType(14, 4))

  /** The 4-decimal signal columns over `text` — shared by the signal
    * table and the filter form (both stay pure row-local projections). */
  private def signalCols(): Seq[(String, Column)] =
    signalColsFrom(lower(col("text")), split(lower(col("text")), " "),
      split(col("text"), "\n"))

  /** [[signalCols]] over pre-staged lowered text / lowered token array /
    * RAW line array — for multi-signal projections that stage the splits
    * once per row (see `TextAnalysis.punctRatioFrom`); the ASTs are
    * operand-identical, so verdicts are bit-equal. */
  private def signalColsFrom(t: Column, ws: Column,
                             lines: Column): Seq[(String, Column)] = {
    val nWords = size(ws).cast(LongType)
    val denomW = greatest(nWords, lit(1L)).cast(DoubleType)
    val meanLen = (aggregate(ws, lit(0L), (a, w) => a + length(w))
      .cast(DoubleType) / denomW)
    val symbols = occurrences(t, "#") + occurrences(t, "...") + occurrences(t, "…")
    val symbolRatio = symbols.cast(DoubleType) / denomW
    val nLines = greatest(size(lines), lit(1)).cast(DoubleType)
    val bulletFrac = size(filter(lines, l =>
      l.startsWith("- ") || l.startsWith("* ") || l.startsWith("•")))
      .cast(DoubleType) / nLines
    val ellipsisFrac = size(filter(lines, l =>
      l.endsWith("...") || l.endsWith("…"))).cast(DoubleType) / nLines
    val alphaFrac = size(filter(ws, w => w.rlike("[a-z]"))).cast(DoubleType) / denomW
    val stops = TextAnalysis.StopWords.toMap.apply("en")
    val stopHits = size(array_intersect(array_distinct(ws),
      array(stops.map(lit): _*))).cast(LongType)
    Seq(
      "n_words" -> nWords,
      "mean_word_len" -> dec4(round(meanLen, 4)),
      "symbol_ratio" -> dec4(round(symbolRatio, 4)),
      "bullet_frac" -> dec4(round(bulletFrac, 4)),
      "ellipsis_frac" -> dec4(round(ellipsisFrac, 4)),
      "alpha_frac" -> dec4(round(alphaFrac, 4)),
      "stop_hits" -> stopHits)
  }

  /** Rules compare on the ROUNDED 4-decimal signals so the verdict is
    * exactly reproducible from the emitted signal columns (and the
    * oracle needs no double-precision tie care). */
  private def ruleCols(s: Map[String, Column], cfg: GopherConfig): Seq[(String, Column)] = Seq(
    "ok_words" -> (s("n_words") >= cfg.minWords && s("n_words") <= cfg.maxWords),
    "ok_word_len" -> (s("mean_word_len") >= cfg.minMeanWordLen &&
      s("mean_word_len") <= cfg.maxMeanWordLen),
    "ok_symbols" -> (s("symbol_ratio") < cfg.maxSymbolRatio),
    "ok_lines" -> (s("bullet_frac") < cfg.maxBulletFrac &&
      s("ellipsis_frac") < cfg.maxEllipsisFrac),
    "ok_alpha" -> (s("alpha_frac") >= cfg.minAlphaFrac),
    "ok_stops" -> (s("stop_hits") >= cfg.minStopHits))

  /** Signal names whose internal form is exact DECIMAL(14,4); emitted
    * as DOUBLE (the exact decimal's nearest double — identical in both
    * engines) so the driver's comparator renders both sides the same
    * (VERDICT r11 #1: decimal `0.5000` vs float `0.5` hash-mismatch). */
  private val FracSignals =
    Set("mean_word_len", "symbol_ratio", "bullet_frac", "ellipsis_frac", "alpha_frac")

  /** Per-document signals + per-rule verdicts + composite keep.
    * Output: (doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
    * ellipsis_frac, alpha_frac, stop_hits, ok_*..., keep), ordered.
    * Rules compare on the exact 4-decimal DECIMAL signals; the emitted
    * fraction columns are DOUBLE. */
  def gopherSignals(docs: DataFrame,
                    cfg: GopherConfig = GopherConfig()): DataFrame = {
    val sigs = signalCols()
    val rules = ruleCols(sigs.toMap, cfg)
    val out = sigs.map { case (n, c) =>
      if (FracSignals(n)) c.cast(DoubleType).as(n) else c.as(n)
    } ++ rules.map { case (n, c) => c.as(n) }
    docs.select(col("doc_id") +: out: _*)
      .withColumn("keep", rules.map(r => col(r._1)).reduce(_ && _))
      .orderBy("doc_id")
  }

  /** The filter form: documents passing every Gopher rule — one
    * row-local predicate over the same signal expressions, no join. */
  def gopherFilter(docs: DataFrame, cfg: GopherConfig = GopherConfig()): DataFrame =
    docs.filter(ruleCols(signalCols().toMap, cfg).map(_._2).reduce(_ && _))

  /** The whole battery as ONE row-local boolean Column — for embedding
    * the verdict in a wider projection (the q128 attribute sheet)
    * without a join or a second text pass. */
  def gopherKeepCol(cfg: GopherConfig = GopherConfig()): Column =
    ruleCols(signalCols().toMap, cfg).map(_._2).reduce(_ && _)

  /** The battery verdict rebuilt over pre-counted INTEGER signals (the
    * attribute-sheet kernel, `TextAnalysis.attributeSignalsUdf`): the
    * fraction ASTs mirror [[signalColsFrom]] operand-for-operand
    * (integer÷integer double division, round-4, DECIMAL(14,4) compare),
    * so verdicts are bit-identical to the HOF-chain form. */
  def gopherKeepFromCounts(nWords: Column, sumLen: Column, gopherSyms: Column,
                           nLines: Column, bulletLines: Column,
                           ellipsisLines: Column, alphaWords: Column,
                           enStopHits: Column,
                           cfg: GopherConfig = GopherConfig()): Column = {
    val denomW = greatest(nWords.cast(LongType), lit(1L)).cast(DoubleType)
    val nL = greatest(nLines, lit(1L)).cast(DoubleType)
    val s: Map[String, Column] = Map(
      "n_words" -> nWords.cast(LongType),
      "mean_word_len" -> dec4(round(sumLen.cast(DoubleType) / denomW, 4)),
      "symbol_ratio" -> dec4(round(gopherSyms.cast(DoubleType) / denomW, 4)),
      "bullet_frac" -> dec4(round(bulletLines.cast(DoubleType) / nL, 4)),
      "ellipsis_frac" -> dec4(round(ellipsisLines.cast(DoubleType) / nL, 4)),
      "alpha_frac" -> dec4(round(alphaWords.cast(DoubleType) / denomW, 4)),
      "stop_hits" -> enStopHits.cast(LongType))
    ruleCols(s, cfg).map(_._2).reduce(_ && _)
  }
}

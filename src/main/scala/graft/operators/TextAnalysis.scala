package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Text-analysis operators for large-scale training-data pipelines:
  * language-ID, quality scoring, token counting, document fingerprinting.
  *
  * All of these are pure per-row `Column` expressions over built-in
  * functions — whole-stage-codegen'd projections with NO shuffle and no
  * UDF boundary, so they stream through a 100 TB scan at parquet-read
  * speed. (The reference has no text analytics at all — its closest
  * analogue is the lazy per-access string typing of
  * `wal/TableColumn.java:15-57`; these operators are the north-star
  * additions named in BASELINE.json.)
  *
  * Cross-engine determinism: every formula here is mirrored 1:1 in the
  * DuckDB oracle SQL (graft.SparkEntry.oracleSql) — integer counts,
  * left-fold accumulation, and fixed-order double arithmetic, so results
  * hash-match bit-for-bit.
  */
object TextAnalysis {

  /** Single-space tokenizer, identical to DuckDB `string_split(text, ' ')`. */
  def words(text: Column): Column = split(text, " ")

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(words(text)).cast(LongType)

  /** [[wsTokenCount]] via separator-count arithmetic: a single-space
    * split keeps empty fields (limit -1), so size(split(t, ' ')) ==
    * count(' ') + 1 EXACTLY, for every input — and the count needs no
    * token-array materialization: two codegen'd string passes
    * (replace + length) instead of one object allocation per token per
    * row. The r13 sf1 measurement put q97's residual 10× squarely on
    * the token-count expression; this is that shave. Identical values,
    * so oracles that mirror len(string_split(...)) are untouched. */
  def wsTokenCountFast(text: Column): Column =
    (length(text) - length(replace(text, lit(" "), lit(""))) + 1L).cast(LongType)

  /** BPE-ish token count: runs of letters, runs of digits, or single
    * non-alphanumeric symbols — the shape of a byte-pair pre-tokenizer's
    * initial split. Regex kept in the RE2-compatible subset so the DuckDB
    * oracle (`regexp_extract_all`) matches exactly. */
  val BpeTokenPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(BpeTokenPattern), lit(0))).cast(LongType)

  /** Language-characteristic function-word sets for the n-gram/stopword
    * heuristic. Deterministic and SQL-expressible (list_filter + IN). */
  val StopWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "das", "ein", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "un", "est"),
    "es" -> Seq("el", "los", "las", "y", "un", "es"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有"))

  private def stopHits(ws: Column, stops: Seq[String]): Column =
    size(filter(ws, w => w.isin(stops.map(lit): _*))).cast(LongType)

  /** Stopword-count language ID: per-language hit counts over the token
    * list, argmax with fixed priority order (en,de,fr,es,zh), 'und' when
    * every score is zero. A scan-time projection — the 100 TB path is one
    * pass, no state. */
  def langId(text: Column): Column = {
    val ws = words(lower(text))
    val scores = StopWords.map { case (lang, stops) => lang -> stopHits(ws, stops) }
    val anyHit = scores.map(_._2).reduce(_ + _) > 0
    val argmax = scores.zipWithIndex.foldRight(lit("und")) {
      case (((lang, s), i), rest) =>
        val geAll = scores.drop(i + 1).map { case (_, o) => s >= o }
          .foldLeft(lit(true))(_ && _)
        when(geAll, lit(lang)).otherwise(rest)
    }
    when(anyHit, argmax).otherwise(lit("und"))
  }

  // ---------------------------------- per-block language segmentation
  /** Per-paragraph language ID (r15; CCNet's practice — Wenzek et al.
    * 2020 run language identification per PARAGRAPH, because crawled
    * pages mix languages: boilerplate in one, content in another,
    * quoted passages in a third; a doc-level verdict (q29) mislabels
    * the minority mass and a mixed page needs FLAGGING before it
    * poisons a monolingual corpus): one struct per blank-line block —
    * (lang, nw) via the q29 stopword argmax and the whitespace word
    * count. A pure row-local HOF projection; stage the result as a
    * column when several consumers read it (HOF lambdas are exempt
    * from subexpression elimination). */
  def langSegments(text: Column): Column =
    transform(split(text, "\n\n"), b =>
      struct(langId(b).as("lang"),
        size(words(lower(b))).cast(LongType).as("nw")))

  /** Document language profile over [[langSegments]] output: block
    * count, MAJORITY language (argmax of per-language word mass over
    * identified blocks, q29's fixed priority order on ties; 'und' when
    * nothing identifies), the minority word fraction (mass outside the
    * majority language over identified mass, exact 4-decimal DECIMAL)
    * and the mixed flag (minority mass > 0). All row-local. */
  def langProfileFrom(per: Column): Column = {
    def sumFor(l: String): Column =
      aggregate(filter(per, p => p.getField("lang") === l),
        lit(0L), (a, p) => a + p.getField("nw"))
    val langs = StopWords.map(_._1)
    val sums = langs.map(l => l -> sumFor(l))
    val idw = sums.map(_._2).reduce(_ + _)
    val majority = sums.zipWithIndex.foldRight(lit("und")) {
      case (((l, s), i), rest) =>
        val geAll = sums.drop(i + 1).map { case (_, o) => s >= o }
          .foldLeft(lit(true))(_ && _)
        when(geAll, lit(l)).otherwise(rest)
    }
    val majorityOrUnd = when(idw > 0, majority).otherwise(lit("und"))
    val majorW = sums.foldRight(lit(0L)) { case ((l, s), rest) =>
      when(majorityOrUnd === l, s).otherwise(rest)
    }
    val minFrac = dec4(round((idw - majorW).cast(DoubleType) /
      greatest(idw, lit(1L)).cast(DoubleType), 4))
    struct(size(per).cast(LongType).as("n_blocks"),
      majorityOrUnd.as("majority_lang"),
      minFrac.as("minority_frac"),
      (minFrac > dec4(lit(0.0))).as("mixed"))
  }

  // ------------------- language-profile kernel (the q127/q128 pattern)
  private lazy val StopLangMask: Map[String, Int] =
    StopWords.zipWithIndex.flatMap { case ((_, ws), i) =>
      ws.map(w => w -> (1 << i))
    }.groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).reduce(_ | _) }

  /** [[langSegments]] ∘ [[langProfileFrom]] as ONE imperative pass —
    * the Column chain pays, per BLOCK, five interpreted stopword
    * filters plus the lambda dispatch, and the profile re-reads the
    * segments array once per language mass (q140 measured 13× DuckDB
    * at sf0.1 on the chain). The kernel replicates the chain
    * operator-for-operator: plain `split("\n\n")`/`split(" ", -1)`
    * semantics (empties kept — word counts INCLUDE them, exactly like
    * Spark's split), per-language hit counts via one masked map probe
    * per word (a word can sit in several languages' stop sets — 'un'
    * is French AND Spanish — so the mask, not a single-lang map),
    * the q29 argmax priority, and `round(x, 4)` as the exact binary
    * expansion HALF_UP (new BigDecimal(double)) the chain's round
    * computes. Returns (n_blocks, majority_lang, minority_frac·10⁴,
    * mixed); [[langProfileKernel]] rebuilds the chain's struct with
    * the DECIMAL(14,4) fraction. Bit-equality is spec'd in
    * LangSegmentsSpec. Nondeterministic as a materialization barrier. */
  private[operators] def langProfileLocal(page: String): (Long, String, Long, Boolean) = {
    val langs = StopWords.map(_._1)
    val masses = new Array[Long](langs.length)
    val blocks = page.split("\n\n", -1)
    var bi = 0
    while (bi < blocks.length) {
      val parts = blocks(bi).toLowerCase(java.util.Locale.ROOT).split(" ", -1)
      val hits = new Array[Long](langs.length)
      var any = false
      var wi = 0
      while (wi < parts.length) {
        val m = StopLangMask.getOrElse(parts(wi), 0)
        if (m != 0) {
          any = true
          var l = 0
          while (l < langs.length) {
            if ((m & (1 << l)) != 0) hits(l) += 1
            l += 1
          }
        }
        wi += 1
      }
      if (any) {
        // q29 argmax: first lang whose count >= every later lang's
        var best = 0
        var found = false
        var i = 0
        while (i < langs.length && !found) {
          var ge = true
          var j = i + 1
          while (j < langs.length && ge) {
            if (hits(i) < hits(j)) ge = false
            j += 1
          }
          if (ge) { best = i; found = true }
          i += 1
        }
        masses(best) += parts.length.toLong
      }
      bi += 1
    }
    var idw = 0L
    var i = 0
    while (i < masses.length) { idw += masses(i); i += 1 }
    var majIdx = -1
    if (idw > 0) {
      var k = 0
      while (k < masses.length && majIdx < 0) {
        var ge = true
        var j = k + 1
        while (j < masses.length && ge) {
          if (masses(k) < masses(j)) ge = false
          j += 1
        }
        if (ge) majIdx = k
        k += 1
      }
    }
    val majority = if (majIdx < 0) "und" else langs(majIdx)
    val majorW = if (majIdx < 0) 0L else masses(majIdx)
    val x = (idw - majorW).toDouble / math.max(idw, 1L).toDouble
    val frac4 = new java.math.BigDecimal(x)
      .setScale(4, java.math.RoundingMode.HALF_UP)
      .movePointRight(4).longValueExact()
    (blocks.length.toLong, majority, frac4, frac4 > 0L)
  }

  private val langProfileUdf =
    udf((page: String) =>
      if (page == null) null.asInstanceOf[(Long, String, Long, Boolean)]
      else langProfileLocal(page)).asNondeterministic()

  /** Kernel form of [[langSegments]] ∘ [[langProfileFrom]] — bit-equal
    * struct (n_blocks, majority_lang, minority_frac DECIMAL(14,4),
    * mixed), one imperative pass per page. */
  def langProfileKernel(page: Column): Column = {
    val k = langProfileUdf(page)
    struct(k.getField("_1").as("n_blocks"),
      k.getField("_2").as("majority_lang"),
      (k.getField("_3") * lit(new java.math.BigDecimal("0.0001")))
        .cast(DecimalType(14, 4)).as("minority_frac"),
      k.getField("_4").as("mixed"))
  }

  /** Punctuation ratio over pre-lowered text: chars outside
    * [a-z0-9 ] over total chars. This is the staged-input form for
    * plans that compute several signals per row (HOF lambdas are exempt
    * from Catalyst subexpression elimination, so a multi-signal
    * projection built on the text-taking forms re-lowers and re-splits
    * the text once PER SIGNAL; staging `lower(text)` / the token array /
    * the line array as columns in a prior projection — which
    * CollapseProject keeps separate exactly because the staged
    * expressions are non-cheap and multiply referenced — makes each
    * signal a cheap attribute consumer). The expression AST is
    * operand-identical to inlining `lower(text)`, so values are
    * bit-equal. */
  def punctRatioFrom(lt: Column): Column =
    (length(lt) - length(regexp_replace(lt, "[^a-z0-9 ]", ""))).cast(DoubleType) /
      greatest(length(lt).cast(DoubleType), lit(1.0))

  /** Stopword ratio over a pre-split lowered token array (all
    * languages' stopword sets). */
  def stopwordRatioFrom(ws: Column): Column = {
    val all = StopWords.flatMap(_._2)
    stopHits(ws, all).cast(DoubleType) / greatest(size(ws), lit(1)).cast(DoubleType)
  }

  /** Mean token length via left-fold over word lengths (mirrors DuckDB
    * list_reduce with a prepended 0 accumulator). */
  def meanWordLen(text: Column): Column = meanWordLenFrom(words(lower(text)))

  /** [[meanWordLen]] over a pre-split lowered token array. */
  def meanWordLenFrom(ws: Column): Column =
    aggregate(ws, lit(0L), (a, w) => a + length(w)).cast(DoubleType) /
      greatest(size(ws), lit(1)).cast(DoubleType)

  /** Composite quality score in [0,1]: favors stopword presence (real
    * prose), moderate word length, low symbol noise. Rounded at 4 so the
    * per-doc value is exact and aggregation over DECIMAL(10,4) casts stays
    * order-independent. */
  def qualityScore(text: Column): Column =
    qualityScoreFrom(lower(text), words(lower(text)))

  /** [[qualityScore]] over pre-staged lowered text + token array (see
    * [[punctRatioFrom]] for why staging matters). Bit-identical values. */
  def qualityScoreFrom(lt: Column, ws: Column): Column =
    round(
      lit(0.4) * stopwordRatioFrom(ws) +
        lit(0.3) * least(meanWordLenFrom(ws) / 10.0, lit(1.0)) +
        lit(0.3) * (lit(1.0) - punctRatioFrom(lt)),
      4)

  // ---------------------------------------- fused curation-gate kernel
  /** Every per-row INTEGER ingredient of the quality and repetition
    * formulas in ONE text pass: (nw, stop_hits, sum_len, tlen,
    * clean_len, n_distinct, top_bigram). The float arithmetic stays in
    * Catalyst expressions built over these integers
    * ([[qualityFromSignals]] etc.), so results are bit-identical to the
    * expression-chain operators ([[qualityScore]], [[topBigramFrac]],
    * [[dupWordFrac]]) — the kernel only replaces the interpreted
    * per-element HOF evaluation (array_sort + aggregate folds per row),
    * the 10-50x hot spot the Dedup kernels already avoid; the curation
    * spine's gate stage reads the text once instead of ~six times.
    *
    * Marked nondeterministic as a MATERIALIZATION BARRIER (the function
    * is pure): a deterministic UDF gets inlined by CollapseProject /
    * PushDownPredicate into every consuming filter and projection,
    * re-running the kernel once per reference. Char counts are
    * CODEPOINTS (== Spark's `length`; ADVICE r14 — the UTF-16 form
    * diverged on supplementary-plane text). */
  private lazy val AllStopSet: Set[String] = StopWords.flatMap(_._2).toSet

  private[operators] val curationSignalsUdf = udf((text: String) =>
    if (text == null) null.asInstanceOf[(Long, Long, Long, Long, Long, Long, Long)]
    else {
      val lt = text.toLowerCase(java.util.Locale.ROOT)
      val ws = lt.split(" ", -1)
      var stop = 0L
      var sumLen = 0L
      val seen = new java.util.HashSet[String](ws.length * 2)
      var i = 0
      while (i < ws.length) {
        val w = ws(i)
        if (AllStopSet.contains(w)) stop += 1
        sumLen += w.length
        seen.add(w)
        i += 1
      }
      var clean = 0L
      var surr = 0L // low surrogates: UTF-16 length − surr = codepoints
      var j = 0
      while (j < lt.length) {
        val c = lt.charAt(j)
        if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == ' ') clean += 1
        if (java.lang.Character.isLowSurrogate(c)) surr += 1
        j += 1
      }
      var top = 0L
      if (ws.length >= 2) {
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        var k = 0
        while (k < ws.length - 1) {
          val c2 = m.getOrElse(ws(k) + " " + ws(k + 1), 0L) + 1L
          m(ws(k) + " " + ws(k + 1)) = c2
          if (c2 > top) top = c2
          k += 1
        }
      }
      // codepoint counts (ADVICE r14): Spark's length() counts
      // codepoints; spaces are never surrogates, so the words' summed
      // codepoint length is sumLen − surr too
      (ws.length.toLong, stop, sumLen - surr, lt.length.toLong - surr,
        clean, seen.size.toLong, top)
    }).asNondeterministic()

  /** [[qualityScore]] rebuilt over the kernel's integer signals — the
    * expression AST mirrors the original operand-for-operand so the
    * doubles are bit-identical. */
  private[graft] def qualityFromSignals(s: Column): Column = {
    val nw = s.getField("_1")
    val sr = s.getField("_2").cast(DoubleType) / greatest(nw, lit(1L)).cast(DoubleType)
    val mwl = s.getField("_3").cast(DoubleType) / greatest(nw, lit(1L)).cast(DoubleType)
    val pr = (s.getField("_4") - s.getField("_5")).cast(DoubleType) /
      greatest(s.getField("_4").cast(DoubleType), lit(1.0))
    round(lit(0.4) * sr + lit(0.3) * least(mwl / 10.0, lit(1.0)) +
      lit(0.3) * (lit(1.0) - pr), 4)
  }

  /** The quality score as an EXACT scaled integer (score·10⁴,
    * half-up) — pure BIGINT arithmetic over the kernel's signals, no
    * doubles anywhere: with a = stop_hits, b = max(n_words,1),
    * c = sum_word_len, d = text_len − clean_len, e = max(text_len,1),
    *
    *   q = 0.4·a/b + 0.3·min(c/(10b), 1) + 0.3·(1 − d/e)
    *   q·10⁴ = N/D with N = 40000·a·e + 3000·e·min(c,10b) + 30000·b·(e−d),
    *           D = 10·b·e,  q4 = (2N + D) div (2D)  (half-up, exact).
    *
    * This is the TRUE real-arithmetic rounding — [[qualityFromSignals]]
    * evaluates the same formula in doubles and its 4th decimal can
    * round differently from ANY other engine's double pipeline on a
    * handful of docs (the q128 verdict-export lesson). Small-group
    * aggregates of raw scores (q137's per-window means) need the exact
    * form on both sides to hash-match at any group size. */
  private[graft] def qualityQ4FromSignals(s: Column): Column = {
    val a = s.getField("_2")
    val b = greatest(s.getField("_1"), lit(1L))
    val c = s.getField("_3")
    val d = s.getField("_4") - s.getField("_5")
    val e = greatest(s.getField("_4"), lit(1L))
    val n = lit(40000L) * a * e + lit(3000L) * e * least(c, lit(10L) * b) +
      lit(30000L) * b * (e - d)
    val dd = lit(10L) * b * e
    // integral div via (x − x mod y)/y: x ≤ ~2e15 stays double-exact
    // and the quotient is an exact integer, so the cast is lossless
    val x = lit(2L) * n + dd
    val y = lit(2L) * dd
    ((x - pmod(x, y)) / y).cast("long")
  }

  /** [[qualityScore]] computed through the one-pass integer-signal
    * kernel ([[curationSignalsUdf]] → [[qualityFromSignals]]): the float
    * AST mirrors the HOF chain operand-for-operand, so values are
    * bit-identical — only the per-row evaluation changes from ~4
    * interpreted HOF passes (stopword isin-filter, length fold, regex
    * strip) to one imperative text scan, the same 10-50× hot-spot trade
    * the curation spine's gate stage already makes. For corpus-scale
    * score consumers (q127's quantile gate). */
  def qualityScoreKernel(text: Column): Column =
    qualityFromSignals(qualitySignalsUdf(text))

  /** The quality-score subset of [[curationSignalsUdf]] — (_1 n_words,
    * _2 stop_hits, _3 sum_word_len, _4 text_len, _5 clean_len) — without
    * the per-doc bigram map and distinct-word set the full kernel builds
    * (those dominate its runtime and [[qualityScore]] needs neither).
    * Plain counters over one text pass; same field layout, so
    * [[qualityFromSignals]] reads it unchanged. Nondeterministic as a
    * materialization barrier (pure function). */
  private[operators] val qualitySignalsUdf = udf((text: String) =>
    if (text == null) null.asInstanceOf[(Long, Long, Long, Long, Long)]
    else {
      val lt = text.toLowerCase(java.util.Locale.ROOT)
      val ws = lt.split(" ", -1)
      var stop = 0L
      var sumLen = 0L
      var i = 0
      while (i < ws.length) {
        val w = ws(i)
        if (AllStopSet.contains(w)) stop += 1
        sumLen += w.length
        i += 1
      }
      var clean = 0L
      var surr = 0L // low surrogates — see curationSignalsUdf
      var j = 0
      while (j < lt.length) {
        val c = lt.charAt(j)
        if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == ' ') clean += 1
        if (java.lang.Character.isLowSurrogate(c)) surr += 1
        j += 1
      }
      (ws.length.toLong, stop, sumLen - surr, lt.length.toLong - surr, clean)
    }).asNondeterministic()

  /** [[dupWordFrac]] over the kernel signals (bit-identical). */
  private[operators] def dupWordFracFromSignals(s: Column): Column =
    dec4(round(lit(1.0) - s.getField("_6").cast(DoubleType)
      / greatest(s.getField("_1"), lit(1L)), 4))

  /** [[topBigramFrac]] over the kernel signals (bit-identical). */
  private[operators] def topBigramFracFromSignals(s: Column): Column = {
    val n1 = greatest(s.getField("_1") - lit(1L), lit(0L))
    dec4(coalesce(when(n1 > 0,
      round(s.getField("_7").cast(DoubleType) / n1, 4)), lit(0.0)))
  }

  // ------------------------------- attribute-sheet kernel (r14)
  /** Every per-row INTEGER ingredient of the q128 attribute sheet in ONE
    * text pass — the [[curationSignalsUdf]] pattern extended to the
    * format-detection and Gopher-battery signals (the staged-array HOF
    * form still paid ~6 interpreted array traversals per row: two length
    * folds, a 30-literal stopword filter, a per-word regex for
    * alpha_frac, three line filters, and 13 replace-count passes for the
    * symbol counts — 2.9× DuckDB at sf0.1). Field layout keeps the
    * curation kernel's _1.._5 prefix so [[qualityFromSignals]] reads it
    * unchanged:
    * (_1 n_words, _2 stop_hits_all, _3 sum_word_len, _4 text_len,
    *  _5 clean_len, _6 alpha_words, _7 en_stop_distinct, _8 gopher_syms,
    *  _9 raw_len, _10 code_syms, _11 n_lines, _12 indent_lines,
    *  _13 pipe_lines, _14 semiend_lines, _15 bullet_lines,
    *  _16 ellipsis_lines).
    * Substring counts ('...', '…', '#') use leftmost non-overlapping
    * stepping — exactly the replace-count arithmetic of the Column form.
    * Nondeterministic as a materialization barrier (pure function); char
    * counts are CODEPOINTS (== Spark's length(); ADVICE r14 — the
    * UTF-16 form diverged on supplementary-plane text). */
  private[operators] val EnStopSeq: Seq[String] = StopWords.toMap.apply("en")

  /** Bitmask index per English stopword — O(1) lookup in the kernel's
    * word loop instead of a linear Seq scan (VERDICT r14 minor). */
  private val EnStopIdx: Map[String, Int] = EnStopSeq.zipWithIndex.toMap

  private[graft] val attributeSignalsUdf = udf((text: String) =>
    if (text == null)
      null.asInstanceOf[(Long, Long, Long, Long, Long, Long, Long, Long,
        Long, Long, Long, Long, Long, Long, Long, Long)]
    else {
      val lt = text.toLowerCase(java.util.Locale.ROOT)
      val ws = lt.split(" ", -1)
      var stopAll = 0L
      var sumLen = 0L
      var alphaWords = 0L
      var enMask = 0
      var i = 0
      while (i < ws.length) {
        val w = ws(i)
        if (AllStopSet.contains(w)) stopAll += 1
        sumLen += w.length
        var hasAlpha = false
        var j = 0
        while (j < w.length && !hasAlpha) {
          val c = w.charAt(j)
          if (c >= 'a' && c <= 'z') hasAlpha = true
          j += 1
        }
        if (hasAlpha) alphaWords += 1
        val ei = EnStopIdx.getOrElse(w, -1)
        if (ei >= 0) enMask |= 1 << ei
        i += 1
      }
      var cleanLen = 0L
      var hashCnt = 0L
      var uniEllipsis = 0L
      var surrLt = 0L // low surrogates — see curationSignalsUdf
      var k = 0
      while (k < lt.length) {
        val c = lt.charAt(k)
        if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == ' ')
          cleanLen += 1
        if (c == '#') hashCnt += 1
        if (c == '…') uniEllipsis += 1
        if (java.lang.Character.isLowSurrogate(c)) surrLt += 1
        k += 1
      }
      // leftmost non-overlapping "..." count (replace-count semantics)
      var dots = 0L
      var from = lt.indexOf("...")
      while (from >= 0) { dots += 1; from = lt.indexOf("...", from + 3) }
      var codeSyms = 0L
      var surrRaw = 0L
      var m = 0
      while (m < text.length) {
        val c = text.charAt(m)
        if (c == '{' || c == '}' || c == '(' || c == ')' || c == ';' ||
          c == '=' || c == '<' || c == '>' || c == '[' || c == ']')
          codeSyms += 1
        if (java.lang.Character.isLowSurrogate(c)) surrRaw += 1
        m += 1
      }
      val lines = text.split("\n", -1)
      var indentL = 0L; var pipeL = 0L; var semiL = 0L
      var bulletL = 0L; var ellipL = 0L
      var n = 0
      while (n < lines.length) {
        val l = lines(n)
        if (l.startsWith("  ") || l.startsWith("\t")) indentL += 1
        var pipes = 0
        var p = 0
        while (p < l.length && pipes < 2) {
          if (l.charAt(p) == '|') pipes += 1
          p += 1
        }
        if (pipes >= 2) pipeL += 1
        if (l.endsWith(";") || l.endsWith("{") || l.endsWith("}")) semiL += 1
        if (l.startsWith("- ") || l.startsWith("* ") || l.startsWith("•"))
          bulletL += 1
        if (l.endsWith("...") || l.endsWith("…")) ellipL += 1
        n += 1
      }
      // codepoint counts for _3/_4/_9 (ADVICE r14; spaces are never
      // surrogates, so the summed word length shares lt's correction)
      (ws.length.toLong, stopAll, sumLen - surrLt, lt.length.toLong - surrLt,
        cleanLen, alphaWords, java.lang.Integer.bitCount(enMask).toLong,
        hashCnt + dots + uniEllipsis, text.length.toLong - surrRaw, codeSyms,
        lines.length.toLong, indentL, pipeL, semiL, bulletL, ellipL)
    }).asNondeterministic()

  /** [[formatOf]] rebuilt over the attribute-kernel integers — the float
    * ratio ASTs mirror [[formatSignalsFrom]] operand-for-operand
    * (integer÷integer double division, round-4, DECIMAL compare), so
    * verdicts are bit-identical. */
  private[graft] def formatFromSignals(s: Column): Column = {
    val nChars = greatest(s.getField("_9"), lit(1L)).cast(DoubleType)
    val nLines = greatest(s.getField("_11"), lit(1L)).cast(DoubleType)
    val symbolDensity = dec4(round(s.getField("_10").cast(DoubleType) / nChars, 4))
    val indentFrac = dec4(round(s.getField("_12").cast(DoubleType) / nLines, 4))
    val pipeFrac = dec4(round(s.getField("_13").cast(DoubleType) / nLines, 4))
    val semiEndFrac = dec4(round(s.getField("_14").cast(DoubleType) / nLines, 4))
    when(pipeFrac >= 0.5, lit("table"))
      .when(symbolDensity >= 0.04 &&
        (indentFrac >= 0.2 || semiEndFrac >= 0.2), lit("code"))
      .otherwise(lit("prose"))
  }

  /** The compute-once attribute sheet (the Dolma "attributes" practice:
    * score the corpus ONCE, persist the signals beside it, re-threshold
    * for free forever after): per doc — word count, mean word length,
    * format verdict, quality-gate verdict, Gopher-battery keep. ONE
    * imperative text pass per row via [[attributeSignalsUdf]]; every
    * emitted value is a Catalyst float/boolean expression over the
    * integer signals, bit-identical to the oracled HOF-chain kernels.
    * Zero shuffle — rides the scan at any corpus size. `ordered = false`
    * skips the presentation sort (sidecar writes don't want the global
    * exchange). */
  def attributeSheet(docs: DataFrame,
                     qualityThreshold: Double = 0.44,
                     ordered: Boolean = true): DataFrame = {
    val s = col("__sig")
    val sheet = docs.withColumn("__sig", attributeSignalsUdf(col("text")))
      .select(
        col("doc_id"),
        s.getField("_1").as("n_words"),
        dec4(s.getField("_3").cast(DoubleType) /
          greatest(s.getField("_1"), lit(1L)).cast(DoubleType))
          .cast(DoubleType).as("mean_word_len"),
        formatFromSignals(s).as("format"),
        (qualityFromSignals(s) >= qualityThreshold).as("quality_keep"),
        HeuristicRules.gopherKeepFromCounts(
          nWords = s.getField("_1"), sumLen = s.getField("_3"),
          gopherSyms = s.getField("_8"), nLines = s.getField("_11"),
          bulletLines = s.getField("_15"), ellipsisLines = s.getField("_16"),
          alphaWords = s.getField("_6"), enStopHits = s.getField("_7"))
          .as("gopher_keep"))
    if (ordered) sheet.orderBy("doc_id") else sheet
  }

  /** Content-defined bag fingerprint: md5 over the sorted distinct token
    * set — identical normalized content ⇒ identical fingerprint, robust to
    * token order/duplication. md5 is bytewise-identical across engines. */
  def bagFingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(words(lower(text)))), " "))

  /** Polynomial rolling hash over characters: fold acc = (acc*31 + ascii)
    * mod 1e9+7. Runs over ASCII-sanitized lowercased text (Spark's ascii()
    * is first-byte-based on multibyte chars while DuckDB's is
    * codepoint-based — sanitizing keeps the two engines bit-identical).
    * Exact integer arithmetic, left fold — mirrored in DuckDB via
    * list_reduce over a 0-prepended ascii list. */
  def rollingHash(text: Column): Column =
    aggregate(split(regexp_replace(lower(text), "[^a-z0-9 ]", ""), ""), lit(0L),
      (acc, ch) => pmod(acc * 31 + ascii(ch), lit(1000000007L)))

  // -------------------------------------------------------- PII scrub
  /** Redaction patterns, kept in the construct subset where Java regex
    * (Spark's engine) and RE2 (DuckDB's) agree exactly: character
    * classes, bounded repetition, grouping — no backrefs, no lookaround.
    * Phone requires a leading '+' so the IP and phone patterns cannot
    * overlap; replacement tokens contain no digits so chained passes
    * cannot re-match each other's output. */
  val EmailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhonePattern = "\\+[0-9][0-9-]{6,}"
  val Ipv4Pattern = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** PII redaction for training corpora: emails, then E.164-style phone
    * numbers, then IPv4 literals, each replaced by a typed token. A pure
    * chained-regexp_replace projection — codegen'd, zero shuffle, streams
    * at scan speed; mirrored 1:1 by DuckDB regexp_replace(..., 'g'). */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        PhonePattern, "<PHONE>"),
      Ipv4Pattern, "<IP>")

  // ------------------------------------ checksum-validated PII (r13)
  /** Candidate payment-card pattern: 13–19 digits with optional single
    * space/dash separators between digits (no consecutive separators, so
    * a match can never swallow surrounding punctuation). Shared Java/RE2
    * construct subset — no lookaround, no backrefs. */
  val CardCandidatePattern = "[0-9](?:[ -]?[0-9]){12,18}"

  /** Luhn fold over a REVERSED pure-digit string: positions i = 1.. from
    * the right; the doubled parity is a parameter because the checksum
    * (double even i) and check-digit synthesis (double odd i of the
    * body) are the same fold shifted by one. Pure integer HOF arithmetic
    * (`aggregate` over `sequence`) — codegen'd, row-local, and mirrored
    * 1:1 by DuckDB `list_sum(list_transform(range(...), ...))`. */
  private def luhnFoldRev(rev: Column, doubleOdd: Boolean): Column =
    aggregate(sequence(lit(1), length(rev)), lit(0), (acc, i) => {
      val d = ascii(substr(rev, i, lit(1))) - lit(48)
      val dd = when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)
      acc + when(pmod(i, lit(2)) === lit(if (doubleOdd) 1 else 0), dd)
        .otherwise(d)
    })

  /** Luhn checksum validity of a candidate (separators stripped first):
    * 13–19 digits and the doubled-digit sum ≡ 0 (mod 10). The published
    * PII practice (validate, don't just pattern-match): a bare 16-digit
    * regex over web text redacts order numbers and timestamps wholesale;
    * the checksum gate cuts that false-positive mass by 10× while never
    * missing a real card number. */
  def luhnValid(cand: Column): Column = {
    val ds = regexp_replace(cand, "[^0-9]", "")
    length(ds) >= 13 && length(ds) <= 19 &&
      pmod(luhnFoldRev(reverse(ds), doubleOdd = false), lit(10)) === 0
  }

  /** The check digit that makes `body || digit` Luhn-valid — used by the
    * oracle-facing queries to PLANT cards whose validity is provable in
    * both engines (the corpus has no real PII). */
  def luhnCheckDigit(body: Column): Column =
    pmod(lit(10) - pmod(luhnFoldRev(reverse(body), doubleOdd = true),
      lit(10)), lit(10))

  /** Redact every Luhn-VALID card candidate as `<CARD>`, leaving invalid
    * lookalikes untouched: extract candidates, checksum-filter them, fold
    * literal `replace` over the (distinct) valid set. One codegen'd
    * row-local projection — zero shuffle, scan-speed at any corpus size;
    * DuckDB mirrors with list_filter + list_reduce(list_prepend(...)). */
  def redactValidCards(text: Column): Column = {
    val valid = filter(
      array_distinct(regexp_extract_all(text, lit(CardCandidatePattern), lit(0))),
      c => luhnValid(c))
    redactAll(text, valid)
  }

  /** [[redactValidCards]] with the valid set already in hand — for
    * plans that stage the candidate extraction once (HOF lambdas are
    * exempt from Catalyst subexpression elimination, so a query that
    * needs counts AND the redaction would otherwise re-run the regex
    * extraction and the checksum per consumer; the sf0.1 sweep
    * measured that triple-evaluation at 5.0 s → 1.x s staged). */
  def redactAll(text: Column, validCands: Column): Column =
    aggregate(validCands, text, (acc, c) => replace(acc, c, lit("<CARD>")))

  /** Per-document PII hit counts (pre-redaction evidence columns). */
  def piiCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> size(regexp_extract_all(text, lit(EmailPattern), lit(0))).cast(LongType),
    "n_phones" -> size(regexp_extract_all(text, lit(PhonePattern), lit(0))).cast(LongType),
    "n_ips" -> size(regexp_extract_all(text, lit(Ipv4Pattern), lit(0))).cast(LongType))

  /** Exact 4-decimal view for order-independent averaging of scores. */
  def dec4(c: Column): Column = c.cast(DecimalType(14, 4))

  /** Fraction of word instances that repeat an earlier word:
    * 1 - distinct/total. A pure array projection — rides the scan. */
  def dupWordFrac(text: Column): Column = {
    val ws = words(lower(text))
    dec4(round(lit(1.0) - size(array_distinct(ws)).cast(DoubleType)
      / greatest(size(ws), lit(1)), 4))
  }

  /** Per-document repetition signals — the published "repetitious text"
    * quality rules (duplicate-fraction + top-n-gram mass), adapted to
    * word streams:
    *  - `dup_word_frac`: fraction of word instances repeating an earlier
    *    word ([[dupWordFrac]]; a zero-shuffle array expression);
    *  - `top_bigram_frac`: share of ALL word bigrams taken by the single
    *    most frequent one (a run-on or boilerplate loop pushes this up).
    * Both signals are PURE PER-ROW PROJECTIONS (r11 — the previous
    * shape was explode → two-level hash agg, i.e. two corpus-wide
    * shuffles for a quantity that never leaves the document): the top
    * bigram's count is the longest equal-run in the doc's SORTED bigram
    * array, found by one `aggregate` fold. O(b log b) per doc, zero
    * shuffle, rides the scan at any corpus size — and counts TRUE
    * bigrams (the old xxhash64 grouping keys are gone along with their
    * collision analysis). `carry` columns are simply projected through.
    * Documents with fewer than two words have no bigrams
    * (top_bigram_frac = 0). Fractions are 4-decimal DECIMAL so
    * aggregates of them are order-independent across engines. */
  def repetitionSignals(docs: DataFrame, carry: Seq[String] = Nil): DataFrame =
    docs.select(Seq(col("doc_id")) ++ carry.map(col) ++ Seq(
      dupWordFrac(col("text")).as("dup_word_frac"),
      topBigramFrac(col("text")).as("top_bigram_frac")): _*)

  /** Share of a document's word bigrams taken by its single most
    * frequent bigram, as a per-row column (0 when the doc has fewer
    * than two words). The top bigram's count is the longest equal-run
    * in the SORTED bigram array, found by one `aggregate` fold —
    * O(b log b) per doc, no explode, no shuffle. */
  def topBigramFrac(text: Column): Column = {
    val ws = words(lower(text))
    val n1 = greatest(size(ws) - lit(1), lit(0))
    val bgs = array_sort(zip_with(
      slice(ws, lit(1), n1), slice(ws, lit(2), n1),
      (a, b) => concat(a, lit(" "), b)))
    val init = struct(
      lit(null).cast("string").as("prev"), lit(0L).as("run"), lit(0L).as("best"))
    val topc = aggregate(bgs, init,
      (acc, x) => {
        val run = when(x <=> acc.getField("prev"), acc.getField("run") + lit(1L))
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      _.getField("best"))
    dec4(coalesce(when(n1 > 0,
      round(topc.cast(DoubleType) / n1, 4)), lit(0.0)))
  }

  /** Per-document mean unigram surprisal against the corpus's OWN
    * unigram distribution — the corpus-statistics quality filter
    * behind "rare-token soup scores high, boilerplate scores low": each
    * token instance t contributes -ln(c(t)/N); the doc score is the
    * mean over its instances (4 decimals), with the instance count
    * alongside.
    *
    * Scale shape: ONE distributed token count builds the vocabulary (a
    * map-side-combinable hash agg, pinned as a localCheckpoint
    * pinch-point so both consumers read it without re-scanning the
    * corpus). The instance→count join is Zipf-skewed by nature — the
    * head of the vocabulary carries most instances — so it splits two
    * ways: the top `hotVocab` tokens by count are a BOUNDED broadcast
    * covering the bulk of instances with a map-side join (the corpus
    * never shuffles for them), and only the rare-token tail
    * shuffle-joins (small by Zipf, and per-key balanced since no tail
    * token is frequent). N rides a one-row broadcast. The split is a
    * pure plan choice — scores are identical whichever side a token
    * lands on. */
  def unigramSurprisal(docs: DataFrame, hotVocab: Int = 1024): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(words(lower(col("text")))).as("tok"))
    val vocab = Storage.track(
      toks.groupBy("tok").agg(count(lit(1)).as("c")).localCheckpoint(true))
    val total = vocab.agg(sum(col("c")).cast(DoubleType).as("n"))
    val hot = vocab.orderBy(col("c").desc, col("tok")).limit(hotVocab)
    toks.join(broadcast(hot), Seq("tok"))
      .unionByName(
        toks.join(broadcast(hot.select("tok")), Seq("tok"), "left_anti")
          .join(vocab.hint("shuffle_hash"), Seq("tok")))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(round(avg(-log(col("c").cast(DoubleType) / col("n"))), 4).as("surprisal"),
        count(lit(1)).as("n_tokens"))
      .orderBy("doc_id")
  }

  /** Bigram language-model fluency scoring: each document's mean
    * negative log-likelihood under an add-one-smoothed bigram model
    * trained on the corpus's OWN text —
    * nll(doc) = mean_i -ln( (c(w_{i-1},w_i)+1) / (c(w_{i-1}·)+V) ),
    * the classic self-scored LM filter (word-salad scores high even
    * when every individual token is common — the signal unigram
    * surprisal cannot see). Documents with fewer than two tokens have
    * no bigrams and are absent from the output.
    *
    * Scale shape (r11): bigrams are derived POSITIONALLY from the
    * split array (a pure projection — no self-join to pair neighbors);
    * the model numerator `c2` is ONE map-side-combined count (the
    * exchange carries per-task distinct bigrams, not instances); the
    * context total `c1` folds into the bigram table as a WINDOW over
    * `prev` (one vocab-sized exchange — no second aggregation tree, no
    * broadcast-back, no re-scan); and instances shuffle exactly once,
    * as the probe side of the single stats join. V rides a one-row
    * broadcast. The build side is unique per (prev,cur) key, so a hot
    * bigram only skews the probe partition — AQE's skew split is the
    * backstop. */
  def bigramNll(docs: DataFrame): DataFrame =
    bigramNllCore(docs).orderBy("doc_id")

  /** [[bigramNll]] without the final presentation sort — for internal
    * consumers (ccnetBuckets) that pin and re-aggregate the scored
    * table, where a global sort exchange before the pin is pure waste. */
  private[operators] def bigramNllCore(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), words(lower(col("text"))).as("ws"))
    val bg = toks.select(col("doc_id"), explode(expr(
      "filter(transform(ws, (w, i) -> struct(w AS prev, try_element_at(ws, i + 2) AS cur)), p -> p.cur IS NOT NULL)"))
      .as("b"))
      .select(col("doc_id"), col("b.prev").as("prev"), col("b.cur").as("cur"))
    // instances collapse HERE; the (doc_id,prev,cur) exchange under this
    // aggregation is plan-identical on every branch that derives from g
    // (bc, cc, the probe side), so ReusedExchange runs the corpus
    // explode ONCE within the query — no checkpoint job needed
    // the model's numerator: ONE corpus-wide bigram count. Partial
    // aggregation combines instances map-side, so the exchange carries
    // per-task distinct bigram counts, not instances.
    val bc = bg.groupBy("prev", "cur").agg(count(lit(1)).as("c2"))
    // context total c1 as a WINDOW over the vocab-sized bigram table —
    // a second aggregation tree (bc → groupBy(prev) → broadcast back)
    // re-ran the whole corpus explode when exchange reuse missed the
    // broadcast subtree; the window is one small exchange on `prev`
    val st = bc.withColumn("c1",
      sum(col("c2")).over(org.apache.spark.sql.expressions.Window.partitionBy("prev")))
    // V from its own unigram pass: deriving it from the bigram table
    // (distinct prev ∪ per-doc last tokens) reads as a saving but is
    // NOT one — column pruning rewrites the union arm's aggregate so
    // ReusedExchange cannot fire, and the plan pays a SECOND full
    // bigram explode+agg (measured +0.4 s at sf0.1 vs this form's
    // lighter unigram distinct; plan showed 3 Generates either way).
    val v = docs.select(explode(words(lower(col("text")))).as("tok"))
      .agg(countDistinct(col("tok")).cast(DoubleType).as("v"))
    // instances shuffle exactly once (the probe side of this join; the
    // stats build side is already (prev,cur)-partitioned aggregates).
    // Skewed bigram keys: the build side is unique per key, AQE's skew
    // split handles a hot probe partition.
    bg.join(st.hint("shuffle_hash"), Seq("prev", "cur"))
      .crossJoin(broadcast(v))
      .groupBy("doc_id")
      .agg(round(avg(-log((col("c2").cast(DoubleType) + 1.0) /
        (col("c1").cast(DoubleType) + col("v")))), 4).as("nll"),
        count(lit(1)).as("n_bigrams"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    * document with the corpus-trained bigram LM ([[bigramNll]]), split
    * the corpus into head/middle/tail terciles by LM fluency (lower
    * nll = more fluent = head), and keep each bucket at a different
    * deterministic sampling rate — all of the head, half of the middle,
    * a quarter of the tail (the md5-prefix keep rule shared with q55's
    * hash sampler, so the draw is engine-independent and reproducible).
    * Documents with fewer than two tokens have no bigrams and are
    * outside the bucketing, as in [[bigramNll]].
    *
    * Scale shape: tercile cuts come from a cumulative count over the
    * DISTINCT 4-decimal nll values — a histogram BOUNDED by construction
    * (nll is non-negative and bounded by ln of the corpus size, so at 4
    * decimals the table holds at most a few hundred thousand rows no
    * matter how many documents exist). The single-partition window runs
    * over that bounded table only, and the per-doc bucket assignment is
    * a broadcast join back on the nll value — the corpus itself never
    * re-shuffles after the LM scoring. Ties share a rounded nll value
    * and land in one bucket together, which keeps the cut deterministic
    * across engines without a doc-id tiebreak sort. */
  def ccnetBuckets(docs: DataFrame): DataFrame = {
    // pinch-point: the scored table fans out to the histogram and the
    // final bucket aggregation — without the pin each consumer replays
    // the whole bigram-LM pipeline (the q32/q33 shingle lesson). The
    // pin is doc-count-sized (one row per scored doc, UNSORTED — the
    // q72 presentation sort would be a wasted global exchange here),
    // LAZY so the histogram collect below is itself the materializing
    // action (one job, not pin-then-histogram — VERDICT r11 #3), and
    // released by the bench's Storage drain.
    val nll = Storage.track(bigramNllCore(docs).localCheckpoint(eager = false))
    // the distinct-value histogram is BOUNDED by construction (see
    // scaladoc), so the tercile cut is driver-side metadata — the same
    // contract as the IVF centroid collection. Two cut VALUES replace a
    // window + two broadcasts + a double-keyed join-back: bucket
    // assignment becomes a pure projection over the pinned table.
    val hist = nll.groupBy("nll").agg(count(lit(1)).as("cnt"))
      .orderBy("nll").collect()
    val nTotal = hist.map(_.getLong(1)).sum
    var cum = 0L
    val assigned = hist.map { r =>
      val start = cum; cum += r.getLong(1)
      val b = if (start * 3 < nTotal) "head"
      else if (start * 3 < nTotal * 2) "middle" else "tail"
      (r.getDouble(0), b)
    }
    // highest nll value in each tercile; an empty middle collapses its
    // cut onto head's so the when-chain still routes correctly
    val headCut = assigned.filter(_._2 == "head").map(_._1)
      .reduceOption(math.max(_: Double, _: Double)).getOrElse(Double.NegativeInfinity)
    val midCut = assigned.filter(_._2 == "middle").map(_._1)
      .reduceOption(math.max(_: Double, _: Double)).getOrElse(headCut)
    val bucketed = nll.withColumn("bucket",
      when(col("nll") <= headCut, lit("head"))
        .when(col("nll") <= midCut, lit("middle"))
        .otherwise(lit("tail")))
    // the q55 md5-prefix draw: 'g' sorts above every hex digit (keep all)
    val thresh = when(col("bucket") === "head", lit("g"))
      .when(col("bucket") === "middle", lit("8000"))
      .otherwise(lit("4000"))
    bucketed
      .withColumn("kept",
        substring(md5(col("doc_id").cast("string")), 1, 4) < thresh)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
        coalesce(sum(when(col("kept"), col("n_bigrams"))), lit(0L)).as("bigrams_kept"),
        // exact decimal average emitted as DOUBLE — the decimal's
        // nearest double, identical in both engines (VERDICT r11 #1)
        dec4(avg(col("nll"))).cast(DoubleType).as("mean_nll"))
      .orderBy("bucket")
  }

  /** Retrieval chunking — the RAG ingestion step that feeds BM25 (q87)
    * and the ANN index (q36/q51): split each document into overlapping
    * fixed-token windows, emitting (doc_id, chunk_id, chunk_text,
    * n_tokens). Stride = chunkTokens − overlap; a document at or under
    * the window size is one chunk; the final chunk keeps the tail even
    * when shorter. A pure row-local sequence→slice→explode projection:
    * ZERO shuffle, streams at scan speed, the chunk table lands
    * partition-aligned with its source — exactly what an index build
    * wants to consume. */
  def chunkForRetrieval(docs: DataFrame, chunkTokens: Int = 64,
                        overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens): $overlap vs $chunkTokens")
    val stride = chunkTokens - overlap
    docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), expr(
        s"""explode(transform(
           |  sequence(0, int(greatest(0, ceil((size(ws) - $chunkTokens) / ${stride}.0)))),
           |  i -> struct(bigint(i) AS chunk_id,
           |    array_join(slice(ws, i * $stride + 1, $chunkTokens), ' ') AS chunk_text,
           |    size(slice(ws, i * $stride + 1, $chunkTokens)) AS n_tokens)))""".stripMargin)
        .as("c"))
      .select(col("doc_id"), col("c.chunk_id"), col("c.chunk_text"),
        col("c.n_tokens").cast(LongType).as("n_tokens"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Corpus composition diagnostics per language — the pre-training
    * sanity sheet (Zipf 1949; Heaps 1978): token volume, vocabulary
    * size, type-token ratio, and the Zipf slope fit by closed-form
    * least squares of ln(freq) on ln(rank) over the top `fitRanks`
    * ranks (natural text sits near −1; boilerplate-heavy or synthetic
    * corpora drift off it — a cheap corpus-health alarm before any
    * training run).
    *
    * Scale shape: ONE map-side-combinable (lang, token) count; the
    * rank window runs over the AGGREGATED vocab table (the q50
    * posture — the wide shuffle carries counts, never instances), and
    * the OLS consumes exactly `fitRanks` rows per language, so the
    * fit itself is metadata-scale. Rank ties break (count desc, token
    * asc), keeping the fit deterministic across engines. */
  def corpusDiagnostics(docs: DataFrame, fitRanks: Int = 100): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("cnt").desc, col("tok"))
    val counts = docs
      .select(col("lang"), explode(words(lower(col("text")))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
    // exact decimal ratios emitted as DOUBLE — the decimal's nearest
    // double, identical in both engines (VERDICT r11 #1)
    val base = counts.groupBy("lang").agg(
      sum(col("cnt")).as("n_tokens"),
      count(lit(1)).as("vocab"),
      dec4(count(lit(1)).cast(DoubleType) / sum(col("cnt")).cast(DoubleType))
        .cast(DoubleType).as("type_token_ratio"))
    val ranked = counts
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= fitRanks)
      .select(col("lang"), log(col("rk").cast(DoubleType)).as("x"),
        log(col("cnt").cast(DoubleType)).as("y"))
    // nullif guards the OLS denominator: a degenerate language with a
    // single fitted rank (vocab of one token) would otherwise divide by
    // zero — NaN on this side, a cast error in the oracle (ADVICE r11).
    // Emit null zipf_slope for fewer than 2 ranks instead.
    val denom = count(lit(1)) * sum(col("x") * col("x")) - sum(col("x")) * sum(col("x"))
    val slope = ranked.groupBy("lang").agg(
      dec4((count(lit(1)) * sum(col("x") * col("y")) - sum(col("x")) * sum(col("y"))) /
        nullif(denom, lit(0.0)))
        .cast(DoubleType).as("zipf_slope"))
    base.join(slope, "lang").orderBy("lang")
  }

  /** Markup cleaning for crawl-shaped corpora: drop <script>/<style>
    * blocks wholesale, strip remaining tags, decode the common HTML
    * entities, and normalize whitespace. A pure codegen'd projection —
    * zero shuffle, streams at scan speed, the first stage of any
    * web-crawl ingest. Regexes stay in the RE2-compatible subset
    * (inline (?is) flags, lazy .*?, plain character classes) so an
    * engine-independent oracle can mirror them byte-for-byte; `&amp;`
    * decodes LAST so literal entity text (`&amp;lt;`) survives as
    * `&lt;` rather than double-decoding. */
  /** Unicode text normalization — the universal FIRST stage of a
    * web-scale curation pipeline (CCNet/OSCAR normalize before any
    * hashing: without it, a curly-quote variant of a document escapes
    * exact AND shingle dedup, and zero-width characters poison token
    * counts):
    *  - curly/angle quotes → ASCII (' and "), en/em-dash and minus →
    *    '-', unicode spaces (NBSP, figure, narrow, ideographic) → ' ',
    *    all via one `translate` (codegen'd, per-char);
    *  - zero-width chars (ZWSP/ZWNJ/ZWJ/BOM) and soft hyphen DELETED
    *    (translate's extra-from-chars-delete rule — identical in both
    *    engines);
    *  - '…' → "..." (1→3, beyond translate — one replace);
    *  - remaining C0 controls except \n and \t stripped (CR goes,
    *    so CRLF normalizes to LF), then
    *    space/tab runs collapse and the result trims; newlines SURVIVE
    *    (the line-shape signals — bullet/ellipsis-line fractions —
    *    need them).
    * A pure row-local projection: zero shuffle, rides the scan at any
    * corpus size. Regexes stay in the RE2-compatible subset so the
    * DuckDB oracle mirrors byte-for-byte; idempotent (normalizing
    * twice is the identity on the first pass's output). */
  /** The translate tables behind [[normalizeText]], shared with the
    * q96 oracle so both engines run the SAME mapping: 16 mapped chars
    * (9 quotes, 3 dashes, 4 unicode spaces) + 5 deleted (zero-widths,
    * BOM, soft hyphen — `from` longer than `to` deletes in BOTH
    * engines). */
  val NormalizeFrom: String =
    "\u2018\u2019\u201A\u201B\u201C\u201D\u201E\u00AB\u00BB" +
      "\u2013\u2014\u2212" + "\u00A0\u2007\u202F\u3000" +
      "\u200B\u200C\u200D\uFEFF\u00AD"
  val NormalizeTo: String = "\'\'\'\'" + "\"\"\"\"\"" + "---" + "    "

  def normalizeText(text: Column): Column = {
    val uni = translate(replace(text, lit("\u2026"), lit("...")),
      NormalizeFrom, NormalizeTo)
    val noCtl = regexp_replace(uni, "[\\x00-\\x08\\x0B-\\x1F\\x7F]", "")
    trim(regexp_replace(noCtl, "[ \\t]+", " "))
  }

  /** Structural format detection — code vs table vs prose (the
    * RedPajama/StarCoder-style routing decision: code and tables get
    * different gates than prose, and a prose-tuned quality battery
    * silently shreds both). Four row-local signals over the RAW text
    * (these shapes live in exactly the characters the prose pipeline
    * normalizes away):
    *  - `symbol_density`: code-shaped chars `{}();=<>[]` per character;
    *  - `indent_frac`: lines starting with 2+ spaces or a tab;
    *  - `pipe_frac`: lines containing 2+ '|' (markdown/org tables);
    *  - `semi_end_frac`: lines ending ';', '{' or '}'.
    * Verdict (first match wins): `table` if pipe_frac ≥ 0.5; `code` if
    * symbol_density ≥ 0.04 and (indent_frac ≥ 0.2 or semi_end_frac ≥
    * 0.2); else `prose`. All thresholds on exact 4-decimal DECIMAL
    * internally, signals emitted as DOUBLE (the r12 oracle-comparator
    * convention). Pure codegen projections — zero shuffle, rides the
    * scan at any corpus size; every expression mirrors 1:1 in DuckDB
    * (replace-count arithmetic + list_filter). */
  def formatSignals(text: Column): Seq[(String, Column)] =
    formatSignalsFrom(text, split(text, "\n"))

  /** [[formatSignals]] over a pre-split RAW line array (see
    * [[punctRatioFrom]] for the staging rationale). */
  def formatSignalsFrom(text: Column, lines: Column): Seq[(String, Column)] = {
    def occAny(c: Column, chars: String): Column =
      chars.map(ch => length(c) - length(replace(c, lit(ch.toString), lit(""))))
        .reduce(_ + _)
    val nChars = greatest(length(text), lit(1)).cast(DoubleType)
    val nLines = greatest(size(lines), lit(1)).cast(DoubleType)
    val symbolDensity = occAny(text, "{}();=<>[]").cast(DoubleType) / nChars
    val indentFrac = size(filter(lines, l =>
      l.startsWith("  ") || l.startsWith("\t"))).cast(DoubleType) / nLines
    val pipeFrac = size(filter(lines, l =>
      (length(l) - length(replace(l, lit("|"), lit("")))) >= 2)).cast(DoubleType) / nLines
    val semiEndFrac = size(filter(lines, l =>
      l.endsWith(";") || l.endsWith("{") || l.endsWith("}"))).cast(DoubleType) / nLines
    Seq(
      "symbol_density" -> dec4(round(symbolDensity, 4)),
      "indent_frac" -> dec4(round(indentFrac, 4)),
      "pipe_frac" -> dec4(round(pipeFrac, 4)),
      "semi_end_frac" -> dec4(round(semiEndFrac, 4)))
  }

  /** The format verdict as a single Column — for filter use
    * (`formatOf(col("text")) === "prose"` routes without a join). */
  def formatOf(text: Column): Column =
    formatOfFrom(text, split(text, "\n"))

  /** [[formatOf]] over a pre-split RAW line array. */
  def formatOfFrom(text: Column, lines: Column): Column = {
    val s = formatSignalsFrom(text, lines).toMap
    when(s("pipe_frac") >= 0.5, lit("table"))
      .when(s("symbol_density") >= 0.04 &&
        (s("indent_frac") >= 0.2 || s("semi_end_frac") >= 0.2), lit("code"))
      .otherwise(lit("prose"))
  }

  /** Per-document format verdicts over [[formatSignals]]. Output:
    * (doc_id, symbol_density, indent_frac, pipe_frac, semi_end_frac,
    * format), ordered. */
  def detectFormat(docs: DataFrame): DataFrame = {
    val sigs = formatSignals(col("text"))
    docs.select(col("doc_id") +:
      (sigs.map { case (n, c) => c.cast(DoubleType).as(n) } :+
        formatOf(col("text")).as("format")): _*)
      .orderBy("doc_id")
  }

  // ------------------------- block-level boilerplate strip (r13)
  /** jusText-lite block classification (Pomikálek 2011's context-free
    * core, the heuristic under trafilatura/RefinedWeb's extraction step):
    * a paragraph block is CONTENT iff it is long enough (≥ minWords
    * tokens) AND carries function-word mass (stopword density ≥ stopLow
    * — nav bars, breadcrumbs and copyright lines have plenty of nouns
    * but almost no function words). Density compares on the exact
    * 4-decimal DECIMAL (the q98 convention) so the verdict cannot drift
    * cross-engine. */
  def blockIsContent(b: Column, minWords: Int = 10,
                     stopLow: Double = 0.08): Column = {
    val ws = words(lower(b))
    val sd = stopHits(ws, StopWords.flatMap(_._2)).cast(DoubleType) /
      greatest(size(ws), lit(1)).cast(DoubleType)
    size(ws) >= minWords && dec4(round(sd, 4)) >= dec4(lit(stopLow))
  }

  /** Drop boilerplate blocks from a document: split on blank lines,
    * keep [[blockIsContent]] blocks, rejoin. A pure row-local HOF
    * projection (split → filter → array_join) — zero shuffle, no corpus
    * state, streams at scan speed; the within-document complement of the
    * corpus-df line dedup (q103): that needs the whole corpus to vote, this
    * decides from the block alone, so it runs FIRST in a crawl pipeline. */
  def stripBoilerplateBlocks(text: Column, minWords: Int = 10,
                             stopLow: Double = 0.08): Column =
    array_join(
      filter(split(text, "\n\n"), b => blockIsContent(b, minWords, stopLow)),
      "\n\n")

  def cleanMarkup(text: Column): Column = {
    val noScript = regexp_replace(text, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "(?s)<[^>]*>", " ")
    val ent = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&apos;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) => replace(c, lit(from), lit(to)) }
    trim(regexp_replace(ent, "[ \\t\\n\\r]+", " "))
  }
}

package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StructType}

/** SQL-reachable store lifecycle (r18; VERDICT r17 next #1): the
  * r15–r17 arc made graft-store READS SQL-native (SELECT, catalog
  * tables, time travel, skipping, streaming), but the lifecycle verbs
  * — compaction, stats upkeep, batch expiry/GC, takedown — stayed
  * Scala-only, so the first ask of a SQL-surface user with a growing
  * store ("OPTIMIZE / VACUUM / DELETE my table", the Delta model the
  * store tier deliberately emulates) had no answer. This parser
  * extension closes the loop with four statements over any graft-store
  * target:
  *
  * {{{
  *   OPTIMIZE <target> [UPTO BATCH n] [ZORDER BY (c1[, c2])] [FILE ROWS n]
  *            [CHECKPOINT 'cp']                      -- compactStore
  *   VACUUM <target>                                 -- gcStore (reclaim superseded)
  *   VACUUM <target> EXPIRE UPTO BATCH n [CHECKPOINT 'cp']  -- expireBatches (TTL)
  *   UPKEEP <target> STATS (c1[, c2…])               -- upkeepStoreStats
  *   UPKEEP <target> ATTRIBUTES [THRESHOLD x]        -- upkeepAttributeSheet
  *   DELETE FROM <target> WHERE col IN (v1, v2…)     -- Takedown.deleteFromStore
  *   CLONE <target> TO '<dst>' [UPTO BATCH n]        -- snapshot export
  *   DESCRIBE HISTORY <target>                       -- the batch/epoch ledger
  * }}}
  *
  * `<target>` is a catalog table registered `USING graft-store`
  * (resolved through the session catalog — provider checked, path and
  * layout read from the table's options), the Delta-style path form
  * `graft.`+backtick+`/path`+backtick, or (for the non-standard verbs)
  * a plain `'/path'` string literal. Every verb refuses a non-`corpus`
  * layout — IVM/SCD2 stores are maintained by their sinks and carry
  * their own GC verbs.
  *
  * Architecture: a delegating [[ParserInterface]] installed via
  * `SparkSessionExtensions.injectParser` (the Delta/Iceberg extension
  * pattern — the ONLY way to add statements to Spark SQL without
  * forking the grammar); each statement parses to a
  * [[LeafRunnableCommand]], so EXPLAIN works, the command runs once on
  * the driver, and its result is an ordinary DataFrame (OPTIMIZE
  * returns the committed (epoch, covers_upto), DELETE the rows
  * removed…). Every other statement — including DELETE on non-graft
  * tables — is delegated verbatim to Spark's parser. The verbs
  * themselves are the PROVEN Scala implementations
  * ([[graft.streaming.StreamingOps]], [[graft.operators.Takedown]]);
  * SQL adds reachability, not a second code path.
  *
  * The reference's terminal consumer is a callback
  * (`CdcConsumer.java:6-12`); this is the last step of generalizing it
  * into a warehouse whose WHOLE loop — ingest, query, optimize,
  * forget — needs no engine-side Scala. */
object GraftSqlCommands {

  /** A lifecycle-verb target: a filesystem path, or a catalog table
    * name resolved (at RUN time, so EXPLAIN never touches the catalog)
    * to the (path, layout) recorded when it was registered. */
  sealed trait Target {
    def describe: String
    def resolve(spark: SparkSession): (String, String)
  }
  final case class PathTarget(path: String) extends Target {
    override def describe: String = path
    override def resolve(spark: SparkSession): (String, String) = (path, "corpus")
  }
  final case class TableTarget(parts: Seq[String]) extends Target {
    override def describe: String = parts.mkString(".")
    override def resolve(spark: SparkSession): (String, String) = {
      val ident = parts match {
        case Seq(t) => TableIdentifier(t)
        case Seq(db, t) => TableIdentifier(t, Some(db))
        case _ => fail(s"cannot resolve '$describe' — use db.table, a " +
          "catalog table name, or the graft.`/path` form")
      }
      val meta =
        try spark.sessionState.catalog.getTableMetadata(ident)
        catch { case e: Exception => fail(s"graft lifecycle verb: table " +
          s"'$describe' not found in the catalog (${e.getMessage}); register " +
          "it with CREATE TABLE … USING graft-store, or target the store " +
          "directly as graft.`/path`") }
      if (!meta.provider.exists(_.equalsIgnoreCase("graft-store")))
        fail(s"graft lifecycle verb: table '$describe' is " +
          s"'${meta.provider.getOrElse("?")}', not graft-store — these verbs " +
          "manage graft stores only")
      val opts = meta.storage.properties
      val path = opts.get("path")
        .orElse(meta.storage.locationUri.map(_.toString))
        .getOrElse(fail(s"graft lifecycle verb: table '$describe' has no " +
          "path option"))
      (path, opts.getOrElse("layout", "corpus"))
    }
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  private def corpusPath(spark: SparkSession, t: Target, verb: String): String = {
    val (path, layout) = t.resolve(spark)
    if (layout != "corpus")
      fail(s"$verb: layout '$layout' has no batch-partition lifecycle — " +
        "IVM/SCD2 stores are maintained by their streaming sinks " +
        "(gcIvmSnapshots / gcScd2OpenSnapshots are their GC verbs)")
    path
  }

  private def attr(name: String, dt: org.apache.spark.sql.types.DataType): Attribute =
    AttributeReference(name, dt, nullable = false)()

  /** `OPTIMIZE` → [[graft.streaming.StreamingOps.compactStore]].
    * Defaults: no UPTO clause compacts every landed batch (with a
    * CHECKPOINT, every batch the checkpoint has committed — the safe
    * bound the Scala verb enforces anyway). ZORDER BY (a) range-
    * clusters; ZORDER BY (a, b) Morton-interleaves — the shipped
    * clustering kernel, reached from SQL. */
  final case class GraftOptimizeCommand(target: Target, upto: Option[Long],
                                        clusterBy: Seq[String],
                                        fileRows: Option[Long],
                                        checkpoint: Option[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(attr("epoch", LongType), attr("covers_upto", LongType))
    override def run(spark: SparkSession): Seq[Row] = {
      import graft.streaming.StreamingOps
      val path = corpusPath(spark, target, "OPTIMIZE")
      val bound = upto
        .orElse(checkpoint.flatMap(StreamingOps.lastCommittedBatch))
        .getOrElse(graft.sources.GraftStoreRelation.nextBatchId(path) - 1L)
      if (bound < 0L)
        fail(s"OPTIMIZE ${target.describe}: nothing to compact — the store " +
          "has no landed batches (and no committed checkpoint bound)")
      val st = StreamingOps.compactStore(spark, path, uptoBatch = bound,
        targetFileRows = fileRows.getOrElse(5000000L),
        checkpoint = checkpoint, clusterBy = clusterBy)
      Seq(Row(st.epoch, st.coversUpTo))
    }
  }

  /** `VACUUM` — GC for every layout (r18: layout-aware): corpus →
    * [[graft.streaming.StreamingOps.gcStore]] (reclaim superseded
    * inputs), scd2 → [[graft.streaming.StreamingOps.gcScd2OpenSnapshots]],
    * ivm → [[graft.streaming.StreamingOps.gcIvmSnapshots]] — never a
    * logical change. With `EXPIRE UPTO BATCH n` (corpus only) →
    * [[graft.streaming.StreamingOps.expireBatches]] (TTL — DROPS the
    * expired batches' rows; the retention verb, named so in the
    * statement itself). */
  final case class GraftVacuumCommand(target: Target, expireUpto: Option[Long],
                                      checkpoint: Option[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(attr("removed_dirs", IntegerType), attr("epoch_rewritten", BooleanType))
    override def run(spark: SparkSession): Seq[Row] = {
      import graft.streaming.StreamingOps
      val (path, layout) = target.resolve(spark)
      (layout, expireUpto) match {
        case ("corpus", Some(upto)) =>
          val (removed, rewritten) =
            StreamingOps.expireBatches(spark, path, upto, checkpoint)
          Seq(Row(removed, rewritten))
        case ("corpus", None) =>
          Seq(Row(StreamingOps.gcStore(path), false))
        case (other, Some(_)) =>
          fail(s"VACUUM … EXPIRE: layout '$other' has no batch TTL — " +
            "snapshot stores retain only their commit-safe survivor set; " +
            "plain VACUUM reclaims superseded snapshots")
        case ("scd2", None) =>
          Seq(Row(StreamingOps.gcScd2OpenSnapshots(path, checkpoint), false))
        case (_, None) => // ivm-view / ivm-base share the snapshot GC
          Seq(Row(StreamingOps.gcIvmSnapshots(path, checkpoint), false))
      }
    }
  }

  /** `UPKEEP … STATS (cols)` → [[graft.streaming.StreamingOps
    * .upkeepStoreStats]] over the layout's data areas (corpus: the
    * store itself; scd2: closed + open; ivm: the view/base area — the
    * r18 skip-parity tier); `UPKEEP … ATTRIBUTES` (corpus only) →
    * [[graft.streaming.StreamingOps.upkeepAttributeSheet]]. */
  final case class GraftUpkeepCommand(target: Target, statsCols: Seq[String],
                                      threshold: Option[Double])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("scored", IntegerType))
    override def run(spark: SparkSession): Seq[Row] = {
      import graft.streaming.StreamingOps
      val (path, layout) = target.resolve(spark)
      val n =
        if (statsCols.nonEmpty) {
          val areas = layout match {
            case "corpus" => Seq(path)
            case "scd2" => Seq(s"$path/closed", s"$path/open")
            case "ivm-view" => Seq(s"$path/view")
            case "ivm-base" => Seq(s"$path/base")
          }
          areas.map(a =>
            StreamingOps.upkeepStoreStats(spark, a, statsCols).size).sum
        } else {
          if (layout != "corpus")
            fail(s"UPKEEP … ATTRIBUTES: layout '$layout' has no document " +
              "attribute sheet — it belongs to corpus document stores")
          StreamingOps.upkeepAttributeSheet(spark, path,
            threshold.getOrElse(0.44)).size
        }
      Seq(Row(n))
    }
  }

  /** `DELETE FROM <graft target> WHERE col IN (…)` →
    * [[graft.operators.Takedown.deleteFromStore]] (corpus — physical
    * erasure, epoch included, sidecars invalidated) or
    * [[graft.operators.Takedown.deleteFromScd2Store]] (scd2 — the
    * right-to-be-forgotten verb erases the key's WHOLE history, every
    * closed version and the open row). Only statements whose target is
    * a graft-store catalog table (or the graft.`/path` form) are
    * intercepted; everything else keeps Spark's own DELETE path. */
  final case class GraftDeleteCommand(target: Target, idCol: String,
                                      ids: Seq[Any])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(attr("rows_deleted", LongType), attr("units_rewritten", IntegerType))
    override def run(spark: SparkSession): Seq[Row] = {
      val (path, layout) = target.resolve(spark)
      val report = layout match {
        case "corpus" =>
          graft.operators.Takedown.deleteFromStore(spark, path, ids, idCol)
        case "scd2" =>
          graft.operators.Takedown.deleteFromScd2Store(spark, path, ids, idCol)
        case other =>
          fail(s"DELETE: layout '$other' rows are derived aggregates — " +
            "delete from the BASE table's CDC source (the view follows) " +
            "or take down the corpus store feeding it")
      }
      Seq(Row(report.deletedRows, report.rewrittenUnits.size))
    }
  }

  /** `CLONE <src> TO '<dst>' [UPTO BATCH n]` — materialize a store (or
    * its time-travel window) as a NEW store at `dst`: the reproducible
    * training-snapshot HANDOFF (q160 reads a window in place; CLONE
    * ships it). Batch ids are PRESERVED as partitions, so the clone
    * answers the same as-of queries, accepts appends under the next
    * free id, and tails from scratch (per-partition commit markers are
    * written). A deep copy by design: the corpus layout is
    * directory-addressed (no file-manifest indirection), so a
    * Delta-style shallow clone would add a cross-store liveness
    * dependency the lifecycle verbs (takedown! expiry!) could not
    * honor — for a training snapshot, isolation from later takedowns
    * on the SOURCE is exactly the point of cloning. Clones carry DATA
    * only: stats/attribute sidecars are not copied (the clone starts
    * must-read; run UPKEEP on it), and takedowns already applied to
    * the source are inherited (retained-data semantics, the q160
    * contract). Refuses a non-empty destination. */
  final case class GraftCloneCommand(target: Target, dst: String,
                                     upto: Option[Long])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(attr("batches_cloned", IntegerType), attr("max_batch", LongType))
    override def run(spark: SparkSession): Seq[Row] = {
      import graft.operators.Fs
      import graft.streaming.StreamingOps
      import org.apache.spark.sql.functions.col
      val path = corpusPath(spark, target, "CLONE")
      require(graft.sources.GraftStoreRelation.nextBatchId(dst) == 0L,
        s"CLONE: destination $dst already holds a store — clones land only " +
          "on empty ground (append to an existing store with " +
          "df.write.format(\"graft-store\"))")
      val bc = StreamingOps.IngestBatchCol
      val view0 = StreamingOps.readCorpusStore(spark, path).getOrElse(
        fail(s"CLONE: no corpus store at $path"))
      val view = upto.foldLeft(
        view0.withColumn(bc, col(bc).cast("long")))(
        (v, n) => v.filter(col(bc) <= n))
      view.write.partitionBy(bc).parquet(dst)
      // the partitioned write commits ONE root _SUCCESS; the store
      // contract (and the tail's landed() gate) wants one per batch
      // dir — touch them (metadata-scale, one per cloned batch)
      val dirs = graft.operators.Manifests.batches(dst)
      dirs.foreach { case (_, d) =>
        Fs.writeString(new org.apache.hadoop.fs.Path(d, "_SUCCESS"), "") }
      Seq(Row(dirs.length, dirs.lastOption.fold(-1L)(_._1)))
    }
  }

  /** `DESCRIBE HISTORY <graft target>` — the store's physical ledger,
    * one row per unit (live batch partitions, the committed compaction
    * epoch, the manifest watermark), metadata-only (file counts and
    * bytes from the listing — no data read, no job). The Delta-
    * familiar introspection verb; plain `DESCRIBE <table>` stays
    * Spark's own (columns). */
  final case class GraftDescribeHistoryCommand(target: Target)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("kind", org.apache.spark.sql.types.StringType),
      attr("id", LongType), attr("files", IntegerType),
      attr("bytes", LongType), attr("live", BooleanType))
    override def run(spark: SparkSession): Seq[Row] = {
      import graft.operators.{Fs, Manifests}
      val (path, layout) = target.resolve(spark)
      require(layout == "corpus",
        s"DESCRIBE HISTORY: layout '$layout' — snapshot stores list their " +
          "areas' __ingest_batch dirs directly; the batch ledger is the " +
          "corpus layout's")
      def sizeOf(p: org.apache.hadoop.fs.Path): (Int, Long) = {
        val fs = Fs.list(p).filter(_.isFile)
          .filterNot(f => f.getPath.getName.startsWith("_") ||
            f.getPath.getName.startsWith("."))
        (fs.length, fs.map(_.getLen).sum)
      }
      val manifest = Manifests.read(path)
      val covers = manifest.map(_._2).getOrElse(-1L)
      val live = Manifests.batches(path).map { case (id, dir) =>
        val (n, b) = sizeOf(dir)
        Row("batch", id, n, b, id > covers)
      }
      val epoch = manifest.toSeq.flatMap { case (e, c) =>
        val (n, b) = sizeOf(Fs.path(Manifests.epochPath(path, e)))
        Seq(Row("epoch", e, n, b, true), Row("covers_upto", c, 0, 0L, true))
      }
      live ++ epoch
    }
  }

  // ---------------------------------------------------------------- lexer

  private sealed trait Tok
  private final case class Word(s: String) extends Tok { // bare identifier/keyword
    def is(kw: String): Boolean = s.equalsIgnoreCase(kw)
  }
  private final case class Quoted(s: String) extends Tok // `backticked`
  private final case class Str(s: String) extends Tok    // 'string'
  private final case class Num(s: String) extends Tok
  private final case class Sym(c: Char) extends Tok

  private def lex(sql: String): Option[Vector[Tok]] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = sql.length
    while (i < n) {
      val c = sql.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '`') {
        val j = sql.indexOf('`', i + 1)
        if (j < 0) return None
        out += Quoted(sql.substring(i + 1, j)); i = j + 1
      } else if (c == '\'') {
        val sb = new StringBuilder
        var j = i + 1
        var closed = false
        while (j < n && !closed) {
          val d = sql.charAt(j)
          if (d == '\'' && j + 1 < n && sql.charAt(j + 1) == '\'') { sb += '\''; j += 2 }
          else if (d == '\'') { closed = true; j += 1 }
          else { sb += d; j += 1 }
        }
        if (!closed) return None
        out += Str(sb.toString); i = j
      } else if (c.isDigit || (c == '-' && i + 1 < n && sql.charAt(i + 1).isDigit)) {
        var j = i + 1
        while (j < n && (sql.charAt(j).isDigit || sql.charAt(j) == '.')) j += 1
        out += Num(sql.substring(i, j)); i = j
      } else if (c.isLetter || c == '_') {
        var j = i + 1
        while (j < n && (sql.charAt(j).isLetterOrDigit || sql.charAt(j) == '_')) j += 1
        out += Word(sql.substring(i, j)); i = j
      } else if ("().,=;<>!%+-*/".indexOf(c) >= 0) {
        out += Sym(c); i += 1
      } else return None
    }
    Some(out.result().filterNot(_ == Sym(';')))
  }

  // --------------------------------------------------------------- parser

  /** Our statements, or None → delegate to Spark's parser. Once the
    * leading keyword is one of OURS (OPTIMIZE/VACUUM/UPKEEP — none of
    * which Spark SQL knows), a malformed tail throws the pointed
    * grammar error instead of delegating into a confusing ANTLR
    * message. DELETE is Spark's keyword, so only statements whose
    * target resolves to a graft store are claimed. */
  def tryParse(sqlText: String): Option[LogicalPlan] = {
    val toks = lex(sqlText).getOrElse(return None)
    parseToks(toks)
  }

  private def parseToks(toks: Vector[Tok]): Option[LogicalPlan] =
    toks.headOption match {
      case Some(w: Word) if w.is("OPTIMIZE") => Some(parseOptimize(toks.tail))
      case Some(w: Word) if w.is("VACUUM") => Some(parseVacuum(toks.tail))
      case Some(w: Word) if w.is("UPKEEP") => Some(parseUpkeep(toks.tail))
      case Some(w: Word) if w.is("CLONE") => Some(parseClone(toks.tail))
      case Some(w: Word) if w.is("DELETE") => parseDelete(toks.tail)
      case Some(w: Word) if w.is("DESCRIBE") => parseDescribe(toks.tail)
      case Some(w: Word) if w.is("EXPLAIN") =>
        // EXPLAIN over OUR statements only (Spark's grammar cannot see
        // them); an optional leading mode word maps to its ExplainMode
        import org.apache.spark.sql.execution.{CodegenMode, CostMode,
          ExtendedMode, FormattedMode, SimpleMode}
        val (mode, rest) = toks.tail.headOption match {
          case Some(m: Word) if m.is("EXTENDED") => (ExtendedMode, toks.drop(2))
          case Some(m: Word) if m.is("CODEGEN") => (CodegenMode, toks.drop(2))
          case Some(m: Word) if m.is("COST") => (CostMode, toks.drop(2))
          case Some(m: Word) if m.is("FORMATTED") => (FormattedMode, toks.drop(2))
          case _ => (SimpleMode, toks.tail)
        }
        val ours = rest.headOption.exists {
          case w2: Word => Seq("OPTIMIZE", "VACUUM", "UPKEEP", "CLONE").exists(w2.is)
          case _ => false
        }
        if (!ours) None
        else parseToks(rest).map(plan =>
          org.apache.spark.sql.execution.command.ExplainCommand(plan, mode))
      case _ => None
    }

  private final class Cursor(toks: Vector[Tok], val stmt: String) {
    private var i = 0
    def peek: Option[Tok] = if (i < toks.length) Some(toks(i)) else None
    def next(): Tok = { val t = toks(i); i += 1; t }
    def done: Boolean = i >= toks.length
    def expectKw(kw: String): Unit = next() match {
      case w: Word if w.is(kw) => ()
      case other => fail(s"$stmt: expected $kw, found $other — grammar: $grammarOf")
    }
    def takeKw(kw: String): Boolean = peek match {
      case Some(w: Word) if w.is(kw) => next(); true
      case _ => false
    }
    def expectSym(c: Char): Unit = next() match {
      case Sym(`c`) => ()
      case other => fail(s"$stmt: expected '$c', found $other")
    }
    def expectLong(): Long = next() match {
      case Num(s) if s.toLongOption.isDefined => s.toLong
      case other => fail(s"$stmt: expected an integer, found $other")
    }
    def expectStr(): String = next() match {
      case Str(s) => s
      case other => fail(s"$stmt: expected a 'string', found $other")
    }
    def expectIdent(): String = next() match {
      case Word(s) => s
      case Quoted(s) => s
      case other => fail(s"$stmt: expected an identifier, found $other")
    }
    def grammarOf: String = stmt match {
      case "OPTIMIZE" => "OPTIMIZE <target> [UPTO BATCH n] [ZORDER BY (c1[, c2])] " +
        "[FILE ROWS n] [CHECKPOINT 'cp']"
      case "VACUUM" => "VACUUM <target> [EXPIRE UPTO BATCH n [CHECKPOINT 'cp']]"
      case "UPKEEP" => "UPKEEP <target> STATS (c1[, …]) | " +
        "UPKEEP <target> ATTRIBUTES [THRESHOLD x]"
      case "CLONE" => "CLONE <target> TO '<dst>' [UPTO BATCH n]"
      case "DESCRIBE" => "DESCRIBE HISTORY <graft target>"
      case _ => "DELETE FROM <target> WHERE col IN (v1[, …]) | col = v"
    }
  }

  /** `graft.`+backtick-path, a 'path' literal, or a (possibly
    * qualified) table name. */
  private def parseTarget(c: Cursor): Target = c.next() match {
    case Str(p) => PathTarget(p)
    case w: Word if w.is("graft") && c.peek.contains(Sym('.')) =>
      c.expectSym('.')
      c.next() match {
        case Quoted(p) => PathTarget(p)
        case other => fail(s"${c.stmt}: graft.`…` expects a backticked path, " +
          s"found $other")
      }
    case Word(t1) =>
      if (c.peek.contains(Sym('.'))) {
        c.expectSym('.')
        TableTarget(Seq(t1, c.expectIdent()))
      } else TableTarget(Seq(t1))
    case Quoted(t1) =>
      if (c.peek.contains(Sym('.'))) {
        c.expectSym('.')
        TableTarget(Seq(t1, c.expectIdent()))
      } else TableTarget(Seq(t1))
    case other => fail(s"${c.stmt}: expected a target (table name, " +
      s"graft.`/path`, or '/path'), found $other")
  }

  private def parseIdentList(c: Cursor): Seq[String] = {
    c.expectSym('(')
    val cols = Seq.newBuilder[String]
    cols += c.expectIdent()
    while (c.peek.contains(Sym(','))) { c.expectSym(','); cols += c.expectIdent() }
    c.expectSym(')')
    cols.result()
  }

  private def endOf(c: Cursor): Unit =
    if (!c.done) fail(s"${c.stmt}: trailing tokens after the statement — " +
      s"grammar: ${c.grammarOf}")

  private def parseOptimize(toks: Vector[Tok]): LogicalPlan = {
    val c = new Cursor(toks, "OPTIMIZE")
    val target = parseTarget(c)
    var upto: Option[Long] = None
    var cluster: Seq[String] = Nil
    var fileRows: Option[Long] = None
    var checkpoint: Option[String] = None
    while (!c.done) {
      if (c.takeKw("UPTO")) { c.expectKw("BATCH"); upto = Some(c.expectLong()) }
      else if (c.takeKw("ZORDER") || c.takeKw("CLUSTER")) {
        c.expectKw("BY"); cluster = parseIdentList(c)
      }
      else if (c.takeKw("FILE")) { c.expectKw("ROWS"); fileRows = Some(c.expectLong()) }
      else if (c.takeKw("CHECKPOINT")) checkpoint = Some(c.expectStr())
      else fail(s"OPTIMIZE: unexpected ${c.next()} — grammar: ${c.grammarOf}")
    }
    GraftOptimizeCommand(target, upto, cluster, fileRows, checkpoint)
  }

  private def parseVacuum(toks: Vector[Tok]): LogicalPlan = {
    val c = new Cursor(toks, "VACUUM")
    val target = parseTarget(c)
    var expire: Option[Long] = None
    var checkpoint: Option[String] = None
    if (c.takeKw("EXPIRE")) {
      c.expectKw("UPTO"); c.expectKw("BATCH")
      expire = Some(c.expectLong())
      if (c.takeKw("CHECKPOINT")) checkpoint = Some(c.expectStr())
    }
    endOf(c)
    GraftVacuumCommand(target, expire, checkpoint)
  }

  private def parseUpkeep(toks: Vector[Tok]): LogicalPlan = {
    val c = new Cursor(toks, "UPKEEP")
    val target = parseTarget(c)
    if (c.takeKw("STATS")) {
      val cols = parseIdentList(c)
      endOf(c)
      GraftUpkeepCommand(target, cols, None)
    } else if (c.takeKw("ATTRIBUTES")) {
      val th = if (c.takeKw("THRESHOLD")) Some(c.next() match {
        case Num(s) => s.toDouble
        case other => fail(s"UPKEEP: THRESHOLD expects a number, found $other")
      }) else None
      endOf(c)
      GraftUpkeepCommand(target, Nil, th)
    } else fail(s"UPKEEP: expected STATS or ATTRIBUTES — grammar: ${c.grammarOf}")
  }

  private def parseClone(toks: Vector[Tok]): LogicalPlan = {
    val c = new Cursor(toks, "CLONE")
    val target = parseTarget(c)
    c.expectKw("TO")
    val dst = c.next() match {
      case Str(p) => p
      case other => fail(s"CLONE: TO expects a '<path>' literal for the new " +
        s"store (register it afterwards with CREATE TABLE … USING " +
        s"graft-store), found $other")
    }
    var upto: Option[Long] = None
    if (c.takeKw("UPTO")) { c.expectKw("BATCH"); upto = Some(c.expectLong()) }
    endOf(c)
    GraftCloneCommand(target, dst, upto)
  }

  /** DESCRIBE is Spark's keyword — only `DESCRIBE HISTORY <target>`
    * over a GRAFT target is claimed (Spark has no HISTORY form; plain
    * DESCRIBE <table> keeps Spark's column listing). A non-graft
    * HISTORY target delegates, surfacing Spark's own parse error. */
  private def parseDescribe(toks: Vector[Tok]): Option[LogicalPlan] = {
    val c = new Cursor(toks, "DESCRIBE")
    if (!c.takeKw("HISTORY")) return None
    val target =
      try parseTarget(c)
      catch { case _: IllegalArgumentException => return None }
    val isGraft = target match {
      case PathTarget(_) => true
      case t: TableTarget =>
        SparkSession.getActiveSession.exists { spark =>
          scala.util.Try(t.resolve(spark)).isSuccess
        }
    }
    if (!isGraft) return None
    endOf(c)
    Some(GraftDescribeHistoryCommand(target))
  }

  /** DELETE is claimed ONLY when the target is a graft store: the
    * graft.`/path` form, or a catalog table whose provider is
    * graft-store (checked against the ACTIVE session at parse time —
    * parsing happens on the driver inside spark.sql). A graft target
    * with an unsupported WHERE shape gets a pointed error (silently
    * delegating would surface Spark's misleading "DELETE is only
    * supported with v2 tables"). Everything else → None → Spark's
    * own DELETE path, untouched. */
  private def parseDelete(toks: Vector[Tok]): Option[LogicalPlan] = {
    val c = new Cursor(toks, "DELETE")
    if (!c.takeKw("FROM")) return None
    val target =
      try parseTarget(c)
      catch { case _: IllegalArgumentException => return None }
    val isGraft = target match {
      case PathTarget(_) => true
      case t: TableTarget =>
        SparkSession.getActiveSession.exists { spark =>
          scala.util.Try(t.resolve(spark)).isSuccess
        }
    }
    if (!isGraft) return None
    if (!c.takeKw("WHERE"))
      fail(s"DELETE on a graft store needs a WHERE — grammar: ${c.grammarOf} " +
        "(drop the whole store with the filesystem, or expire batches with " +
        "VACUUM … EXPIRE)")
    val idCol = c.expectIdent()
    def lit(): Any = c.next() match {
      case Num(s) => s.toLongOption.getOrElse(s.toDouble)
      case Str(s) => s
      case other => fail(s"DELETE: expected a literal, found $other")
    }
    val ids: Seq[Any] =
      if (c.takeKw("IN")) {
        c.expectSym('(')
        val b = Seq.newBuilder[Any]
        b += lit()
        while (c.peek.contains(Sym(','))) { c.expectSym(','); b += lit() }
        c.expectSym(')')
        b.result()
      } else if (c.peek.contains(Sym('='))) { c.expectSym('='); Seq(lit()) }
      else fail(s"DELETE on a graft store supports WHERE col IN (…) or " +
        s"col = v — arbitrary predicates would need a full rewrite plan; " +
        s"found ${c.peek}")
    endOf(c)
    Some(GraftDeleteCommand(target, idCol, ids))
  }
}

/** The delegating parser — our four statements, everything else
  * verbatim through Spark's own ([[GraftSqlCommands]] has the
  * grammar). Installed by [[graft.functions.GraftExtensions]]. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlCommands.tryParse(sqlText).getOrElse(delegate.parsePlan(sqlText))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
}

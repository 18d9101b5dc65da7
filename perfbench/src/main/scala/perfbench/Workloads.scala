package perfbench

import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.cdc.Envelope
import graft.sources.ReplayDecode
import graft.streaming.StreamingOps
import graft.wal.{FrameFile, PgOutput, PgOutputDecoder}

import Main.{Args, Result, log}

/** The three workloads. Sizes are fixed here so that every run of a
  * workload does the same amount of work; only `--seed` changes the data. */
object Workloads {

  // cdc_replay: a catch-up backlog drained in about ReplayBatches
  // micro-batches, after a two-batch drain of a smaller file warms the JVM;
  // its batches are large enough for the JIT to compile the decode loops
  val ReplayChanges = 150000L
  val ReplayKeys = 20000
  val ReplayBatches = 6
  val ReplayWarmChanges = 20000L
  val ReplayWarmBatches = 2
  // cdc_live_ivm: pgbench-like transactions at a fixed offered rate, after
  // a two-batch stream of LiveWarmTxs transactions warms the JVM
  val LiveRate = 1000.0
  val LiveTxSize = 50
  val LiveKeys = 10000
  val LiveWarmTxs = 20
  val LiveWarmBatchRows = 500
  val Groups = 64
  /** Share of the live schedule treated as warm-up: its transactions are
    * applied and checked but not counted in the freshness figures. */
  val LiveWarmupShare = 0.2
  // query_mix: fixed order, one client. Four of the eighteen rows the
  // benchmark was planned with: every run is a fresh JVM that needs one
  // untimed pass to warm up, and more rows do not fit the run budget
  val Queries: Seq[String] = Seq(
    "q02_hash_agg", "q141_hard_negatives", "q63_containment", "q67_surprisal")
  /** The JIT still warms during the first timed pass, and whether a second
    * one fitted in `seconds` varied from run to run; a fixed minimum keeps
    * what a row's median is taken over the same from run to run. */
  val MinTimedPasses = 2
  /** Set-up repeats at least this often and this long per run; the median
    * is `setup_s`. Short set-ups get more runs, whose median is steadier. */
  val SetupReps = 3
  val SetupMinS = 1.0

  // ------------------------------------------------------------ shared

  private def sha256(path: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(Paths.get(path))).map("%02x".format(_)).mkString

  /** Set-up time: the median duration of `body` over at least
    * [[SetupReps]] runs and [[SetupMinS]] seconds. `after` runs after each
    * run, untimed. */
  private def setupTime(body: => Unit, after: => Unit = ()): Double = {
    val times = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (times.size < SetupReps || (System.nanoTime() - t0) / 1e9 < SetupMinS) {
      val s = System.nanoTime()
      body
      times += (System.nanoTime() - s) / 1e9
      after
    }
    Stats.median(times.toSeq)
  }

  /** Generate and write a stream, timed by [[setupTime]]. Every run must
    * write byte-identical files. */
  private def generate(file: String, gen: () => CdcGen.Stream): (CdcGen.Stream, Double, Boolean) = {
    var stream: CdcGen.Stream = null
    val digests = mutable.LinkedHashSet.empty[String]
    val setupS = setupTime({ stream = gen(); FrameFile.write(file, stream.frames) },
      digests += sha256(file))
    (stream, setupS, digests.size == 1)
  }

  private def stateOf(df: DataFrame): Map[Long, CdcGen.Row] =
    df.select("id", "grp", "name", "price", "qty").collect().map { r =>
      r.getLong(0) -> CdcGen.Row(r.getInt(1), r.getString(2),
        r.getDecimal(3).toPlainString, if (r.isNullAt(4)) None else Some(r.getInt(4)))
    }.toMap

  /** Empty when `got` equals the model exactly, else a short description. */
  private def diffState(got: Map[Long, CdcGen.Row], want: Map[Long, CdcGen.Row]): Option[String] =
    if (got == want) None
    else {
      val bad = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k)).take(3)
      Some(s"state differs: ${got.size} rows vs ${want.size} expected; e.g. " +
        bad.map(k => s"id=$k got=${got.get(k)} want=${want.get(k)}").mkString("; "))
    }

  private def endLsn(p: StreamingQueryProgress): Long = {
    val m = """"lsn"\s*:\s*(\d+)""".r.findFirstMatchIn(p.sources.head.endOffset)
    m.map(_.group(1).toLong).getOrElse(-1L)
  }

  private def endFrame(p: StreamingQueryProgress): Int = {
    val m = """"frame"\s*:\s*(\d+)""".r.findFirstMatchIn(p.sources.head.endOffset)
    m.map(_.group(1).toInt).getOrElse(-1)
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Source and batch layer figures over the batches that had input. */
  private def batchLayers(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Map(
      "sources.latest_offset_ms_p50" -> p50(ps.map(dur(_, "latestOffset"))),
      "sources.plan_ms_p50" -> p50(ps.map(dur(_, "queryPlanning"))),
      "sources.rows_per_batch_p50" -> p50(ps.map(_.numInputRows.toDouble)),
      "sources.batches" -> ps.size.toDouble,
      "streaming.add_batch_ms_p50" -> p50(ps.map(dur(_, "addBatch"))))
  }

  private def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.delete)
  }

  // ------------------------------------------------------------ cdc_replay

  /** Catch-up replay, closed loop: after an untimed drain of a small file
    * warms the JVM and the set-up is timed, drain the whole file through
    * `pgcdc-replay` → foreachBatch → typedView + applyChanges into a
    * localCheckpointed state, as many times as fit in `seconds` (at least
    * once). Each drain's final state must equal the model's. */
  def replay(spark: SparkSession, a: Args, spans: Spans, counters: Option[SparkCounters],
             progress: ProgressLog): Result = {
    val root = spans.nextId()
    val rootStart = System.currentTimeMillis()
    val errors = mutable.ArrayBuffer.empty[String]
    // a short drain of a small file, not timed but checked, warms the JVM
    val warmFile = s"${a.work}/warm.frames"
    val warm = CdcGen.replay(a.seed + 1, ReplayWarmChanges, ReplayKeys, Groups)
    FrameFile.write(warmFile, warm.frames)
    val w = drain(spark, warmFile, warm.frames.size / ReplayWarmBatches, s"${a.work}/ck-warm", spans, 0)
    (w.error ++ diffState(w.state, warm.finalState)).foreach(e => errors += s"warm-up drain: $e")
    log(s"warm-up drain done in ${w.wallS}s")

    val file = s"${a.work}/replay.frames"
    val (stream, setupS, identical) =
      generate(file, () => CdcGen.replay(a.seed, ReplayChanges, ReplayKeys, Groups))
    if (!identical) errors += "same seed wrote different frame files"
    log(s"set-up done: ${stream.frames.size} frames, ${stream.changes} changes")

    val scanS = mutable.ArrayBuffer.empty[Double]
    val applyS = mutable.ArrayBuffer.empty[Double]
    val batches = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    var wallS = 0.0
    var attempted = 0L; var failed = 0L; var n = 0
    val t0 = System.nanoTime()
    while (n == 0 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val d = drain(spark, file, stream.frames.size / ReplayBatches, s"${a.work}/ck-$n", spans, root)
      val ps = progress.of(d.id).map(_._2).filter(_.numInputRows > 0)
      attempted += math.max(1, ps.size)
      d.error.orElse(diffState(d.state, stream.finalState))
        .orElse(if (ps.lastOption.map(endFrame).getOrElse(-1) == stream.frames.size) None
                else Some("drain ended before the last frame")) match {
        case Some(e) => failed += math.max(1, ps.size); errors += e
        case None => wallS += d.wallS; batches ++= ps; scanS ++= d.scanS; applyS ++= d.applyS
      }
      n += 1
      log(s"drain $n done in ${d.wallS}s")
    }
    spans.add(0, "workload cdc_replay", rootStart, System.currentTimeMillis(), root)
    val trig = batches.map(dur(_, "triggerExecution") / 1e3).toSeq
    val ok = errors.isEmpty && trig.nonEmpty
    val drained = n * stream.changes // used only when every drain was correct
    val e2e = if (!ok) Map.empty[String, Double] else Map(
      "setup_s" -> setupS,
      "latency_s" -> Stats.median(trig),
      "throughput_per_s" -> drained / wallS)
    val layers = if (!a.trace || !ok) Map.empty[String, Double] else {
      val (walRead, walDecode) = walLoops(file)
      val batchRate = {
        val ts = (1 to 3).map { _ =>
          val t = System.nanoTime()
          val c = ReplayDecode.batch(spark, file).count()
          c / ((System.nanoTime() - t) / 1e9)
        }
        Stats.median(ts)
      }
      batchLayers(batches.toSeq) ++ Map(
        "wal.file_read_s" -> walRead,
        "wal.decode_frames_per_s" -> walDecode,
        "sources.scan_s_p50" -> Stats.median(scanS.toSeq),
        "sources.batch_replay_changes_per_s" -> batchRate,
        "cdc.apply_s_p50" -> Stats.median(applyS.toSeq),
        "trace.latency_s" -> Stats.median(trig),
        "trace.throughput_per_s" -> drained / wallS)
    }
    Result(ok, attempted, failed, e2e, layers, Map(
      "changes_per_s" -> (if (ok) drained / wallS else Double.NaN),
      "batch_p50_s" -> (if (trig.isEmpty) Double.NaN else Stats.median(trig)),
      "batch_samples" -> trig.size.toDouble,
      "drains" -> n.toDouble, "changes" -> stream.changes.toDouble,
      "frames" -> stream.frames.size.toDouble, "v1_txs" -> stream.v1.toDouble,
      "streamed_txs" -> stream.streamed.toDouble, "aborted_subtxs" -> stream.subAborts.toDouble,
      "prepared_committed" -> stream.prepared.toDouble,
      "prepared_rolled_back" -> stream.rolledBack.toDouble,
      "setup_s" -> setupS), errors.toSeq)
  }

  private final case class Drain(id: java.util.UUID, wallS: Double, state: Map[Long, CdcGen.Row],
                                 scanS: Seq[Double], applyS: Seq[Double], error: Option[String])

  /** One drain of `file`. The consumer persists each batch, since
    * applyChanges reads its input twice; counting the persisted batch
    * first splits the source scan from the apply. */
  private def drain(spark: SparkSession, file: String, maxFrames: Int, ck: String,
                    spans: Spans, root: Long): Drain = {
    deleteTree(ck)
    var state: DataFrame = Envelope.emptyFor(spark, CdcGen.Rel)
    val scanS = mutable.ArrayBuffer.empty[Double]
    val applyS = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val q = spark.readStream.format("pgcdc-replay")
      .option("path", file).option("maxFramesPerTrigger", maxFrames.toString).load()
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val span = spans.nextId()
        val b0 = System.currentTimeMillis()
        val cached = batch.persist(StorageLevel.MEMORY_ONLY)
        scanS += spans.timed(span, "source scan") {
          SparkCounters.tagged(spark, "scan", span)(cached.count())
        }._2
        applyS += spans.timed(span, "apply") {
          SparkCounters.tagged(spark, "apply", span) {
            state = Envelope.applyChanges(state, Envelope.typedView(cached, CdcGen.Rel), Seq("id"))
              .localCheckpoint()
          }
        }._2
        cached.unpersist()
        spans.add(root, s"batch $id", b0, System.currentTimeMillis(), span)
        ()
      }
      .start()
    val error = try { q.awaitTermination(); None }
      catch { case e: Exception => Some(s"replay stream failed: ${e.getMessage}") }
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext) // deliver the last progress events
    Drain(q.id, wall, if (error.isEmpty) stateOf(state) else Map.empty,
      scanS.toSeq, applyS.toSeq, error)
  }

  /** The reference's execution model: one thread reads the file, then
    * decodes every frame. Returns (median read s, median frames/s). */
  private def walLoops(file: String): (Double, Double) = {
    val reads = mutable.ArrayBuffer.empty[Double]
    val rates = mutable.ArrayBuffer.empty[Double]
    (1 to 3).foreach { _ =>
      val t0 = System.nanoTime()
      val frames = FrameFile.readPath(file)
      val t1 = System.nanoTime()
      val d = new PgOutputDecoder
      var sink = 0
      frames.foreach { case (_, bytes) =>
        if (d.decode(ByteBuffer.wrap(bytes)).isDefined) sink += 1
      }
      val t2 = System.nanoTime()
      require(sink > 0)
      reads += (t1 - t0) / 1e9
      rates += frames.size / ((t2 - t1) / 1e9)
    }
    (Stats.median(reads.toSeq), Stats.median(rates.toSeq))
  }

  // ------------------------------------------------------------ cdc_live_ivm

  /** Freshness, open loop: after an untimed two-batch stream warms the JVM
    * and the set-up is timed, a paced frame source releases `seconds` worth of
    * transactions at [[LiveRate]] changes/s into `pgcdc-live` →
    * typedView → `StreamingOps.ivmIngestToStore`. Freshness runs from the
    * due time of a transaction's COMMIT to the progress event whose end
    * offset first covers it. The final base snapshot and view must equal
    * the model's. */
  def live(spark: SparkSession, a: Args, spans: Spans, counters: Option[SparkCounters],
           progress: ProgressLog): Result = {
    val root = spans.nextId()
    val rootStart = System.currentTimeMillis()
    val errors = mutable.ArrayBuffer.empty[String]
    // warm-up: a short stream of the same shape into its own store
    val warmFile = s"${a.work}/warm.frames"
    val warm = CdcGen.live(a.seed + 1, LiveWarmTxs, LiveTxSize, LiveKeys, Groups)
    FrameFile.write(warmFile, warm.frames)
    runLive(spark, warmFile, 1e9, s"${a.work}/warm", warm, progress, 120, LiveWarmBatchRows)
      .error.foreach(e => errors += s"warm-up stream: $e")
    log("warm-up done")

    val file = s"${a.work}/live.frames"
    val txs = math.max(1, (LiveRate * a.seconds / LiveTxSize).toInt)
    val (stream, setupS, identical) =
      generate(file, () => CdcGen.live(a.seed, txs, LiveTxSize, LiveKeys, Groups))
    if (!identical) errors += "same seed wrote different frame files"
    log("set-up done")
    val store = s"${a.work}/store"
    val run = runLive(spark, file, LiveRate, store, stream, progress, a.seconds + 120)
    log("stream done")
    run.error.foreach(errors += _)
    val ps = run.events.map(_._2).filter(_.numInputRows > 0)
    if (run.error.isEmpty) {
      val base = StreamingOps.readIvmBase(spark, s"$store/data").map(stateOf).getOrElse(Map.empty)
      diffState(base, stream.finalState).foreach(e => errors += s"base snapshot: $e")
      val view = StreamingOps.readIvmView(spark, s"$store/data").map(_.select("grp", "n_rows", "n_val", "sum_val")
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap)
        .getOrElse(Map.empty)
      val want = CdcGen.view(stream.finalState)
      if (view != want)
        errors += s"view differs: ${view.size} groups vs ${want.size}; e.g. " +
          (view.keySet ++ want.keySet).filter(g => view.get(g) != want.get(g)).take(3)
            .map(g => s"grp=$g got=${view.get(g)} want=${want.get(g)}").mkString("; ")
    }
    val ok = errors.isEmpty && ps.nonEmpty

    // freshness per committed transaction past the warm-up share
    val due = stream.commits.map { case (lsn, through) => lsn -> (through * 1e9 / LiveRate).toLong }
    val events = run.events.map { case (t, p) => (t - run.start, endLsn(p)) }
    val fresh = mutable.ArrayBuffer.empty[Double]
    var i = 0
    due.foreach { case (lsn, d) =>
      while (i < events.size && events(i)._2 < lsn) i += 1
      if (i < events.size && d >= LiveWarmupShare * a.seconds * 1e9)
        fresh += (events(i)._1 - d) / 1e9
    }
    val lastCover = events.find(_._2 >= stream.frames.last._1).map(_._1 / 1e9).getOrElse(Double.NaN)
    val trig = ps.map(dur(_, "triggerExecution") / 1e3)
    val e2e = if (!ok || fresh.isEmpty) Map.empty[String, Double] else Map(
      "setup_s" -> setupS,
      "latency_s" -> Stats.median(fresh.toSeq),
      "throughput_per_s" -> stream.changes / lastCover)
    val layers = if (!a.trace || !ok || fresh.isEmpty) Map.empty[String, Double] else {
      val sched = PacedFrameSource.schedule(stream.frames, LiveRate)
      val lsns = stream.frames.map(_._1)
      def countAtMost(xs: IndexedSeq[Long], v: Long): Int = {
        val r = java.util.Arrays.binarySearch(xs.toArray, v)
        if (r >= 0) r + 1 else -r - 1
      }
      val lag = events.map { case (t, l) => countAtMost(sched, t) - countAtMost(lsns, l) }
      val writes = counters.get.writes.asScala.toSeq
      val commitMs = ps.map { p =>
        val s = java.time.Instant.parse(p.timestamp).toEpochMilli
        val e = s + dur(p, "triggerExecution").toLong
        writes.filter { case (ws, _) => ws >= s && ws <= e }.map { case (ws, we) => (we - ws).toDouble }.sum
      }
      val files = Files.walk(Paths.get(s"$store/data")).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      batchLayers(ps) ++ Map(
        "sources.lag_frames_max" -> lag.max.toDouble,
        "streaming.commit_ms_p50" -> Stats.median(commitMs),
        "streaming.store_bytes" -> files.map(Files.size(_).toDouble).sum,
        "streaming.store_files" -> files.size.toDouble,
        "trace.latency_s" -> Stats.median(fresh.toSeq),
        "trace.throughput_per_s" -> stream.changes / lastCover)
    }
    ps.foreach { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli
      spans.add(root, s"batch ${p.batchId}", s, s + dur(p, "triggerExecution").toLong)
    }
    spans.add(0, "workload cdc_live_ivm", rootStart, System.currentTimeMillis(), root)
    Result(ok, math.max(1, ps.size), if (ok) 0 else math.max(1, ps.size), e2e, layers, Map(
      "fresh_p50_s" -> (if (fresh.isEmpty) Double.NaN else Stats.median(fresh.toSeq)),
      "fresh_p90_s" -> (if (fresh.isEmpty) Double.NaN else Stats.quantile(fresh.toSeq, 0.9)),
      "fresh_samples" -> fresh.size.toDouble,
      "batch_p50_s" -> (if (trig.isEmpty) Double.NaN else Stats.median(trig)),
      "batch_samples" -> trig.size.toDouble,
      "offered_changes_per_s" -> LiveRate, "changes" -> stream.changes.toDouble,
      "txs" -> txs.toDouble, "setup_s" -> setupS), errors.toSeq)
  }

  private final case class LiveRun(start: Long, events: Seq[(Long, StreamingQueryProgress)],
                                   error: Option[String])

  /** Run the live pipeline until a progress event covers the last frame. */
  private def runLive(spark: SparkSession, file: String, rate: Double, store: String,
                      stream: CdcGen.Stream, progress: ProgressLog, timeoutS: Int,
                      maxBatchRows: Int = Int.MaxValue): LiveRun = {
    deleteTree(store)
    val changes = spark.readStream.format("pgcdc-live")
      .option("frameSource.class", classOf[PacedFrameSource].getName)
      .option("paced.path", file).option("paced.rate", rate.toString)
      .option("maxBatchRecords", maxBatchRows.toString).load()
    val typed = Envelope.typedView(changes, CdcGen.Rel).drop("txid")
    val q: StreamingQuery = StreamingOps.ivmIngestToStore(typed, s"$store/data", s"$store/ck",
      Seq("id"), Seq("grp"), "qty")
    val last = stream.frames.last._1
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    def covered = progress.of(q.id).exists(e => e._2.numInputRows > 0 && endLsn(e._2) >= last)
    while (!covered && q.isActive && System.nanoTime() < deadline) Thread.sleep(20)
    val error = q.exception.map(e => s"live stream failed: ${e.getMessage}")
      .orElse(if (covered) None else Some(s"live stream did not catch up within ${timeoutS}s"))
    q.stop()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    progress.of(q.id).foreach { case (_, p) =>
      log(s"  batch ${p.batchId}: ${p.numInputRows} rows, ${p.durationMs}") }
    LiveRun(PacedFrameSource.starts.get(file), progress.of(q.id), error)
  }

  // ------------------------------------------------------------ query_mix

  /** Closed loop, one client, fixed order. A first pass, not timed, warms
    * the JVM (JIT, codegen) and writes its results for the oracle check.
    * Then whole passes repeat while another, as long as the average one,
    * still fits in `seconds` (at least [[MinTimedPasses]]); a row's figure
    * is the median of its timed runs. */
  def queries(spark: SparkSession, a: Args, spans: Spans, counters: Option[SparkCounters]): Result = {
    val dir = a.data.getOrElse(sys.error("query_mix needs --data"))
    val out = s"${a.work}/results"
    val errors = mutable.ArrayBuffer.empty[String]
    val root = spans.nextId()
    val rootStart = System.currentTimeMillis()
    val oracle = Queries.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(sql =>
      Main.jsonString(n) + ":" + Main.jsonString(sql))).mkString("{", ",", "}")
    Files.createDirectories(Paths.get(out))
    Files.write(Paths.get(s"$out/oracle_sql.json"), oracle.getBytes("UTF-8"))
    val broken = mutable.HashSet.empty[String]
    Queries.filterNot(graft.SparkEntry.oracleSql.contains).foreach { n =>
      broken += n; errors += s"$n has no oracle SQL"
    }
    var attempted = 0L
    /** Build and collect one row, tagged `tag`; None if it threw. */
    def runRow(name: String, tag: String): Option[(DataFrame, Array[org.apache.spark.sql.Row], Double)] = {
      val span = spans.nextId()
      attempted += 1
      try {
        // building the DataFrame is timed too: some rows run jobs there
        val ((df, rows), s) = spans.timed(root, s"query $name ($tag)", span) {
          SparkCounters.tagged(spark, s"$tag.$name", span) {
            val df = graft.SparkEntry.queries(name)(spark, dir)
            (df, df.collect())
          }
        }
        log(f"  $name%-24s $s%.2fs ${rows.length} rows ($tag)")
        Some((df, rows, s))
      } catch { case e: Exception => broken += name; errors += s"$name: ${e.getMessage}"; None }
      finally graft.operators.Storage.releaseAll(blocking = true)
    }

    Queries.filterNot(broken).foreach { name =>
      runRow(name, "warm").foreach { case (df, rows, _) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      }
    }
    log("warm-up pass done")
    // set-up: register the tables in a fresh session and resolve their schemas
    val setupS = setupTime {
      val s = spark.newSession()
      graft.Tables.register(s, dir)
      graft.Tables.names.foreach(n => s.table(n).schema)
    }

    val times = mutable.LinkedHashMap(Queries.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    var passes = 0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (errors.isEmpty && (passes < MinTimedPasses || elapsed * (passes + 1) / passes <= a.seconds)) {
      Queries.foreach(name => runRow(name, "q").foreach { case (_, _, s) => times(name) += s })
      passes += 1
      log(s"timed pass $passes done")
    }
    spans.add(0, "workload query_mix", rootStart, System.currentTimeMillis(), root)
    val ok = errors.isEmpty
    val med = times.collect { case (n, ts) if ts.nonEmpty => n -> Stats.median(ts.toSeq) }
    val meds = med.values.toSeq
    val total = meds.sum
    val geomean = if (meds.isEmpty) Double.NaN else Stats.geomean(meds)
    val e2e = if (!ok) Map.empty[String, Double] else Map(
      "setup_s" -> setupS,
      "latency_s" -> geomean,
      "throughput_per_s" -> meds.size / total)
    val layers = if (!a.trace || !ok) Map.empty[String, Double] else {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      Queries.flatMap { n =>
        val c = counters.get.totals(_.startsWith(s"q.$n:"))
        val runs = times(n).size.toDouble
        Seq(s"q.$n.s" -> med(n), s"q.$n.jobs" -> c.jobs / runs,
          s"q.$n.shuffle_bytes" -> (c.shuffleRead + c.shuffleWrite) / runs,
          s"q.$n.cpu_s" -> c.cpuNs / 1e9 / runs)
      }.toMap ++ Map(
        "trace.latency_s" -> geomean,
        "trace.throughput_per_s" -> meds.size / total)
    }
    Result(ok, math.max(1, attempted), if (ok) 0 else math.max(1, attempted), e2e, layers, Map(
      "query_total_s" -> total, "query_geomean_s" -> geomean,
      "timed_passes" -> passes.toDouble, "setup_s" -> setupS) ++
      med.map { case (n, m) => s"$n.s" -> m }, errors.toSeq)
  }
}

package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR [--data DIR]
  *
  * `DIR` holds everything the run writes. One stdout line holds one JSON
  * object: correct, attempted, failed, the end-to-end metrics (`e2e`), the
  * per-layer metrics (`layers`, filled in when tracing) and a `detail`
  * object with the workload's own named figures.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, data: Option[String])

  /** What a workload hands back; see the class comment of [[Main]]. */
  final case class Result(correct: Boolean, attempted: Long, failed: Long,
                          e2e: Map[String, Double], layers: Map[String, Double],
                          detail: Map[String, Double], errors: Seq[String] = Nil)

  val Cpus = 4

  private val t0 = System.nanoTime()

  /** Progress note on stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val args = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("work"), kv.get("data"))
    Files.createDirectories(Paths.get(args.work))
    log("jvm up")
    val spark = graft.GraftSession.builder("perfbench")
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log("session up")
    println(json(run(spark, args)))
    spark.stop()
    log("done")
  }

  private def run(spark: SparkSession, a: Args): Result = {
    val spans = new Spans
    val counters = if (a.trace) {
      val c = new SparkCounters(spans)
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val cpu0 = Jvm.cpuS; val gc0 = Jvm.gcS
    val r = try a.workload match {
      case "cdc_replay" => Workloads.replay(spark, a, spans, counters, progress)
      case "cdc_live_ivm" => Workloads.live(spark, a, spans, counters, progress)
      case "query_mix" => Workloads.queries(spark, a, spans, counters)
      case other => sys.error(s"unknown workload '$other'")
    } finally {
      counters.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))
    }
    val jvm = Map("jvm.cpu_s" -> (Jvm.cpuS - cpu0), "jvm.gc_s" -> (Jvm.gcS - gc0),
      "jvm.rss_peak_mb" -> Jvm.rssPeakMb)
    counters.foreach(spark.sparkContext.removeSparkListener)
    spark.streams.removeListener(progress)
    if (a.trace) spans.write(s"${a.work}/spans.jsonl")
    r.copy(layers = if (a.trace) jvm ++ counters.get.metrics ++ r.layers else Map.empty)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")

  /** A JSON string literal: quote, backslash and control characters escaped. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  private def json(r: Result): String =
    s"""{"correct":${r.correct},"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""e2e":${obj(r.e2e)},"layers":${obj(r.layers)},"detail":${obj(r.detail)},""" +
      s""""errors":${r.errors.map(jsonString).mkString("[", ",", "]")}}"""
}

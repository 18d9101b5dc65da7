package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A span: name, parent, start and end in epoch milliseconds. */
final case class Span(id: Long, parent: Long, name: String, startMs: Long, endMs: Long)

/** In-memory span store, written out as JSON lines when the run ends. */
final class Spans {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)

  def nextId(): Long = ids.incrementAndGet()

  def add(parent: Long, name: String, startMs: Long, endMs: Long, id: Long = nextId()): Long = {
    spans.add(Span(id, parent, name, startMs, endMs))
    id
  }

  /** Time `body`, record it as span `id` under `parent`; return its result
    * and its duration in seconds. */
  def timed[T](parent: Long, name: String, id: Long = nextId())(body: => T): (T, Double) = {
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    val r = body
    val s = (System.nanoTime() - n0) / 1e9
    add(parent, name, t0, System.currentTimeMillis(), id)
    (r, s)
  }

  def write(path: String): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Main.jsonString(s.name)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

/** Spark-side counters, attributed to the `perfbench.span` local property
  * set when each job started (the empty tag collects everything else).
  * Job spans go into `spans` under the span id held by that property. */
final class SparkCounters(spans: Spans) extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var cpuNs = 0L
  }
  private val byTag = mutable.HashMap.empty[String, Acc]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (Long, String)]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  /** (start, end) epoch ms of every SQL execution that writes files. */
  val writes = new ConcurrentLinkedQueue[(Long, Long)]()
  private val writeStarts = mutable.HashMap.empty[Long, Long]

  private def acc(tag: String): Acc = byTag.getOrElseUpdate(tag, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SparkCounters.TagKey))).getOrElse("")
    acc(tag).jobs += 1
    e.stageIds.foreach(stageTag(_) = tag)
    jobStart(e.jobId) = (e.time, tag)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, tag) =>
      val parent = tag.split(':').lastOption.flatMap(_.toLongOption).getOrElse(0L)
      spans.add(parent, s"job ${e.jobId}", t0, e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageTag.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageTag.getOrElse(e.stageId, ""))
    a.tasks += 1
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.cpuNs += m.executorCpuTime
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart
        if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
      synchronized(writeStarts(s.executionId) = s.time)
    case x: SparkListenerSQLExecutionEnd =>
      synchronized(writeStarts.remove(x.executionId)).foreach(t0 => writes.add(t0 -> x.time))
    case _ => ()
  }

  /** Totals over the tags accepted by `keep`. */
  def totals(keep: String => Boolean): Acc = synchronized {
    val t = new Acc
    byTag.foreach { case (tag, a) =>
      if (keep(tag)) {
        t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
        t.shuffleRead += a.shuffleRead; t.shuffleWrite += a.shuffleWrite
        t.spill += a.spill; t.cpuNs += a.cpuNs
      }
    }
    t
  }

  /** Median over stages with at least two tasks of max/median task time. */
  def taskSkew: Double = synchronized {
    val ratios = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }.toSeq
    if (ratios.isEmpty) 1.0 else Stats.median(ratios)
  }

  /** The layer metrics every workload reports, over all its jobs. */
  def metrics: Map[String, Double] = {
    val t = totals(_ => true)
    Map("spark.jobs" -> t.jobs.toDouble, "spark.stages" -> t.stages.toDouble,
      "spark.tasks" -> t.tasks.toDouble, "spark.shuffle_read_bytes" -> t.shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> t.shuffleWrite.toDouble,
      "spark.spill_bytes" -> t.spill.toDouble, "spark.executor_cpu_s" -> t.cpuNs / 1e9,
      "spark.task_skew" -> taskSkew)
  }
}

object SparkCounters {
  val TagKey = "perfbench.span"

  /** Run `body` with its jobs tagged `tag:spanId`. */
  def tagged[T](spark: SparkSession, tag: String, spanId: Long)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, s"$tag:$spanId")
    try body finally sc.setLocalProperty(TagKey, prev)
  }
}

/** Every progress event of the session's streaming queries, stamped with
  * the instant the listener received it. */
final class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(System.nanoTime() -> e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def of(id: java.util.UUID): Seq[(Long, StreamingQueryProgress)] =
    events.asScala.filter(_._2.id == id).toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** Process-level gauges: CPU, GC and resident-set peak. */
object Jvm {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS: Double = os.getProcessCpuTime / 1e9

  def gcS: Double = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** VmHWM from /proc/self/status, in MB (0 where /proc is absent). */
  def rssPeakMb: Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    }
  }
}

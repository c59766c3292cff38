package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Wall clock in microseconds since the epoch: the time base of every
  * span and operation, and the one `StreamingQueryProgress.timestamp` uses.
  */
object Clock {
  def us(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
}

/** Minimal JSON writer for the result file (maps, sequences, numbers,
  * strings, booleans, null).
  */
object Json {
  def apply(v: Any): String = {
    val b = new StringBuilder
    write(b, v)
    b.toString
  }
  private def write(b: StringBuilder, v: Any): Unit = v match {
    case null | None => b ++= "null"
    case Some(x) => write(b, x)
    case s: String => quote(b, s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) b ++= "null" else b ++= d.toString
    case f: Float => write(b, f.toDouble)
    case n: Number => b ++= n.toString
    case x: Boolean => b ++= x.toString
    case m: scala.collection.Map[_, _] =>
      b += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) b += ','
        first = false
        quote(b, k.toString); b += ':'; write(b, x)
      }
      b += '}'
    case it: Iterable[_] =>
      b += '['
      var first = true
      it.foreach { x => if (!first) b += ','; first = false; write(b, x) }
      b += ']'
    case a: Array[_] => write(b, a.toSeq)
    case other => quote(b, other.toString)
  }
  private def quote(b: StringBuilder, s: String): Unit = {
    b += '"'
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
  }
}

/** In-memory span store. A span names a layer boundary the benchmark
  * calls into; `trace` groups the spans of one operation (a drain, a
  * query execution, an epoch). Nothing is written until the run ends.
  */
final class Spans(val enabled: Boolean) {
  private val seq = new AtomicLong
  private val rows = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]

  def add(name: String, startUs: Long, endUs: Long, parent: Long,
      trace: String, attrs: Map[String, Any] = Map.empty): Long = {
    val id = seq.incrementAndGet()
    if (enabled) rows.add(Map("id" -> id, "name" -> name, "start_us" -> startUs,
      "end_us" -> endUs, "parent" -> parent, "trace" -> trace) ++ attrs)
    id
  }

  /** Time `body` as a span; the span id is reserved before the body runs
    * so children recorded inside it can name it as their parent.
    */
  def time[T](name: String, parent: Long, trace: String)(body: Long => T): T = {
    val id = seq.incrementAndGet()
    val t0 = Clock.us()
    try body(id)
    finally if (enabled) rows.add(Map("id" -> id, "name" -> name,
      "start_us" -> t0, "end_us" -> Clock.us(), "parent" -> parent,
      "trace" -> trace))
  }

  def all: Seq[Map[String, Any]] = rows.asScala.toSeq
}

/** Spark task metrics aggregated per job group. The group and the parent
  * span come from local properties the benchmark sets on its own thread
  * before calling into the program; streaming jobs inherit them from the
  * thread that started the query and carry their epoch id.
  */
final class ExecListener(spans: Spans) extends SparkListener {
  final class Agg {
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var peakMem = 0L; var tasks = 0L; var jobs = 0L
    def toMap: Map[String, Any] = Map(
      "run_s" -> runMs / 1e3, "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
      "shuffle_read_mb" -> shuffleRead / 1048576.0,
      "shuffle_write_mb" -> shuffleWrite / 1048576.0,
      "spill_mb" -> spill / 1048576.0, "peak_mem_mb" -> peakMem / 1048576.0,
      "tasks" -> tasks, "jobs" -> jobs)
  }
  @volatile var on = false
  private val groups = mutable.Map.empty[String, Agg]
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val jobInfo = new ConcurrentHashMap[Int, (Long, String, Long, String)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val group = prop("perfbench.group").getOrElse("other")
    val parent = prop("perfbench.span").map(_.toLong).getOrElse(0L)
    val trace = prop("streaming.sql.batchId").map("epoch-" + _)
      .orElse(prop("perfbench.trace")).getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, group))
    jobInfo.put(e.jobId, (e.time * 1000L, group, parent, trace))
    if (on) synchronized { groups.getOrElseUpdate(group, new Agg).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobInfo.remove(e.jobId)).foreach { case (t0, group, parent, trace) =>
      if (on) spans.add("spark.job", t0, e.time * 1000L, parent, trace,
        Map("group" -> group, "job" -> e.jobId))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
    val m = e.taskMetrics
    if (m != null) synchronized {
      val a = groups.getOrElseUpdate(
        Option(stageGroup.get(e.stageId)).getOrElse("other"), new Agg)
      a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.tasks += 1
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }

  /** Worst stage's max/median task time over stages with >= 2 tasks. */
  def skew: Double = synchronized {
    stageTasks.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }.foldLeft(1.0)(math.max)
  }

  def snapshot: Map[String, Any] = synchronized {
    val total = new Agg
    groups.values.foreach { a =>
      total.runMs += a.runMs; total.cpuNs += a.cpuNs; total.gcMs += a.gcMs
      total.shuffleRead += a.shuffleRead; total.shuffleWrite += a.shuffleWrite
      total.spill += a.spill; total.peakMem = math.max(total.peakMem, a.peakMem)
      total.tasks += a.tasks; total.jobs += a.jobs
    }
    Map("total" -> (total.toMap + ("skew" -> skew)),
      "groups" -> groups.map { case (k, a) => k -> a.toMap }.toMap)
  }
}

/** Every streaming progress event, with the wall time it reached the
  * benchmark.
  */
final class ProgressListener extends StreamingQueryListener {
  private val rows = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val recv = Clock.us()
    val p = e.progress
    val run = p.runId.toString
    val state = p.stateOperators.map { s =>
      Map("rows_total" -> s.numRowsTotal, "rows_updated" -> s.numRowsUpdated,
        "rows_removed" -> s.numRowsRemoved,
        "update_ms" -> s.allUpdatesTimeMs, "remove_ms" -> s.allRemovalsTimeMs,
        "commit_ms" -> s.commitTimeMs, "mem_bytes" -> s.memoryUsedBytes,
        "dropped_by_watermark" -> s.numRowsDroppedByWatermark,
        "custom" -> s.customMetrics.asScala.map { case (k, v) =>
          k -> v.longValue }.toMap)
    }.toSeq
    val start = java.time.Instant.parse(p.timestamp)
    rows.add(Map("run" -> run, "batch" -> p.batchId, "recv_us" -> recv,
      "start_us" -> (start.getEpochSecond * 1000000L + start.getNano / 1000L),
      "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) =>
        k -> v.longValue }.toMap,
      "state" -> state))
  }

  def all: Seq[Map[String, Any]] = rows.asScala.toSeq
}

/** JVM-wide collector time and heap peak over a window. */
object JvmStats {
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var gc0 = 0L
  def begin(): Unit = { gc0 = gcMs; heapPools.foreach(_.resetPeakUsage()) }
  def end(cleanups: Long): Map[String, Any] = Map(
    "gc_ms" -> (gcMs - gc0),
    "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
    "cleanups" -> cleanups)
}

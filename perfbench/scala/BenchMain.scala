package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import graft.SparkEntry
import graft.streaming.{CdcRelay, IncrementalDedupStream}
import graft.streaming.CdcRelay.RelayConfig

/** JVM side of the benchmark: sets the session up, drives one workload
  * through the program's public entry points and writes what it saw to
  * `<dir>/result.json`. Inputs are generated and outputs checked by
  * run.py; this file only calls the program and times it.
  *
  * Usage: BenchMain workload=<name> dir=<run dir> ops=<n> trace=<0|1>
  *   [input=<dir>] [data=<dir>] [queries=<a,b,..>] [epochs=<n>]
  *   [warm_epochs=<n>] [compact_every=<n>]
  *
  * `ops` is the number of timed drains or passes; the dedup stream runs
  * `epochs` epochs, of which the first `warm_epochs` are untimed.
  * Set-up is the time from JVM start to the opening of the timed window:
  * session start and the workload's own untimed warm-up operations.
  */
object BenchMain {
  def main(args: Array[String]): Unit = {
    val conf = args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val workload = conf("workload")
    val dir = conf("dir")
    val spans = new Spans(conf("trace") == "1")
    val progress = new ProgressListener
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L

    val spark = session(dir)
    spark.streams.addListener(progress)
    val exec = Option.when(spans.enabled)(new ExecListener(spans))
    exec.foreach(spark.sparkContext.addSparkListener)
    val cleanups = Option.when(spans.enabled)(
      org.apache.spark.perfbench.Cleanups.attach(spark.sparkContext))

    val run = new Run(spark, dir, conf("ops").toInt, conf, spans, progress,
      exec, cleanups)
    val ops = workload match {
      case "relay_drain" => run.relayDrain()
      case "analytics_mix" => run.analyticsMix()
      case "dedup_stream" => run.dedupStream()
      case other => sys.error(s"unknown workload $other")
    }
    val result = Map(
      "setup_s" -> (run.windowStart - jvmStartUs) / 1e6,
      "window_start_us" -> run.windowStart,
      "window_end_us" -> run.windowEnd,
      "ops" -> ops,
      "progress" -> progress.all,
      "layers" -> run.layers.toMap,
      "exec" -> exec.map(_.snapshot),
      "jvm" -> run.jvm,
      "spans" -> spans.all)
    System.err.println(s"[perfbench-jvm] window ${(run.windowStart - jvmStartUs) / 1e6} - ${(run.windowEnd - jvmStartUs) / 1e6} s after JVM start")
    spark.stop()
    Files.writeString(Paths.get(dir, "result.json"), Json(result))
  }

  def session(dir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"$dir/spark-ckpt")
    spark
  }
}

/** One workload run. Each method returns the operations it attempted;
  * `windowStart`/`windowEnd` bound the timed part.
  */
final class Run(spark: SparkSession, dir: String, nOps: Int,
    conf: Map[String, String], spans: Spans, progress: ProgressListener,
    exec: Option[ExecListener],
    cleanups: Option[java.util.concurrent.atomic.AtomicInteger]) {
  var windowStart = 0L
  var windowEnd = 0L
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  var jvm: Map[String, Any] = Map.empty
  private val sc = spark.sparkContext
  private val traced = spans.enabled
  private var cleanups0 = 0
  private def open(): Unit = {
    cleanups0 = cleanups.map(_.get).getOrElse(0)
    JvmStats.begin()
    exec.foreach(_.on = true)
    windowStart = Clock.us()
  }
  private def close(): Unit = {
    windowEnd = Clock.us()
    exec.foreach(_.on = false)
    jvm = JvmStats.end(cleanups.map(_.get - cleanups0).getOrElse(0).toLong)
  }
  private def props(span: Long, trace: String, group: String = ""): Unit = {
    sc.setLocalProperty("perfbench.span", span.toString)
    sc.setLocalProperty("perfbench.trace", trace)
    if (group.nonEmpty) sc.setLocalProperty("perfbench.group", group)
  }
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Waits (briefly) until the listener has seen every progress event the
    * query reported, so a finished query's epochs are all recorded.
    */
  private def settle(q: StreamingQuery): Unit = {
    val want = q.recentProgress.length
    val run = q.runId.toString
    val until = System.nanoTime() + 5000000000L
    while (progress.all.count(_("run") == run) < want && System.nanoTime() < until)
      Thread.sleep(5)
  }

  def relayDrain(): Seq[Map[String, Any]] = {
    val in = conf("input")
    def drain(tag: String): Map[String, Any] = {
      val cfg = RelayConfig(in, s"$dir/out-$tag", s"$dir/chk-$tag")
      val t0 = Clock.us()
      val q = spans.time("drain", 0, tag) { id =>
        props(id, tag, "relay")
        val q = spans.time("CdcRelay.start", id, tag)(_ => CdcRelay.start(spark, cfg))
        // a failed drain is reported through q.exception
        try q.awaitTermination()
        catch { case _: StreamingQueryException => () }
        q
      }
      val t1 = Clock.us()
      settle(q)
      Map("kind" -> "drain", "tag" -> tag, "run" -> q.runId.toString,
        "start_us" -> t0, "end_us" -> t1, "out" -> cfg.outputDir,
        "chk" -> cfg.checkpointDir, "ok" -> q.exception.isEmpty,
        "err" -> q.exception.map(_.getMessage.take(300)))
    }
    drain("warm")
    open()
    val ops = (0 until nOps).map(i => drain(s"r$i"))
    close()
    if (traced) relayLayers(in)
    ops.toSeq
  }

  /** Scan, encode and sink timed separately over the staged corpus, as
    * batch jobs outside the timed window (traced run only).
    */
  private def relayLayers(in: String): Unit = {
    val cfg = RelayConfig(in, "out", "chk")
    def scan = spark.read.schema(CdcRelay.inputSchema).parquet(in)
    def med(f: Int => Unit): Double = {
      val ts = (0 until 3).map { i =>
        val t0 = System.nanoTime(); f(i); (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(1)
    }
    val scanS = med(_ => noop(scan))
    val scanEncodeS = med(_ => noop(CdcRelay.transform(scan, cfg)))
    val writeS = med(i => CdcRelay.transform(scan, cfg).write.mode("overwrite")
      .parquet(s"$dir/sink-probe-$i"))
    layers ++= Seq("scan_s" -> scanS, "scan_encode_s" -> scanEncodeS,
      "scan_encode_sink_s" -> writeS)
  }

  def analyticsMix(): Seq[Map[String, Any]] = {
    val data = conf("data")
    val names = conf("queries").split(",").toSeq
    val fns = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    Files.writeString(Paths.get(dir, "oracle_sql.json"),
      Json(names.map(n => n -> oracle(n)).toMap))
    def group(n: String) =
      if (n.startsWith("cdc_")) "cdc" else if (n.startsWith("rel_")) "rel" else "dedup"
    def exec(name: String, pass: Int)(sink: DataFrame => Unit): Map[String, Any] = {
      val trace = s"$name/$pass"
      val t0 = Clock.us()
      var tc = t0
      val err = try {
        spans.time("query", 0, trace) { id =>
          val df = spans.time("construct", id, trace) { cid =>
            props(cid, trace, s"${group(name)}:construct")
            fns(name)(spark, data)
          }
          tc = Clock.us()
          spans.time("action", id, trace) { aid =>
            props(aid, trace, s"${group(name)}:action")
            sink(df)
          }
        }
        None
      } catch {
        case e: Throwable =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
      }
      val t1 = Clock.us()
      spark.catalog.clearCache()
      Map("kind" -> "query", "name" -> name, "group" -> group(name),
        "pass" -> pass, "start_us" -> t0, "end_us" -> t1,
        "construct_s" -> (tc - t0) / 1e6, "action_s" -> (t1 - tc) / 1e6,
        "ok" -> err.isEmpty, "err" -> err)
    }
    // The first pass is the warm-up; its outputs go to the oracle check.
    val check = names.map(n => exec(n, -1)(
      _.coalesce(1).write.mode("overwrite").parquet(s"$dir/check/$n")))
    open()
    val timed = for (pass <- 0 until nOps; n <- names) yield exec(n, pass)(noop)
    close()
    check ++ timed
  }

  def dedupStream(): Seq[Map[String, Any]] = {
    val nEpochs = conf("epochs").toInt
    val docs = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(conf("input"))
    val store = s"$dir/store"
    val warmEpochs = conf("warm_epochs").toLong
    props(0L, "dedup", "store")
    val q = IncrementalDedupStream.start(spark, docs, s"$dir/out", store,
      s"$dir/chk", conf("compact_every").toInt)
    val run = q.runId.toString
    // The first epochs compile the probe and write plans: the window opens
    // once they have committed, and closes when the stream has committed
    // every file (one per epoch).
    def epochs = progress.all.count(p => p("run") == run)
    while (epochs < warmEpochs && q.isActive) Thread.sleep(5)
    open()
    while (epochs < nEpochs && q.isActive) Thread.sleep(5)
    close()
    q.stop()
    Seq(Map("kind" -> "stream", "run" -> run, "chk" -> s"$dir/chk",
      "out" -> s"$dir/out", "store" -> store, "ok" -> q.exception.isEmpty,
      "err" -> q.exception.map(_.getMessage.take(300))))
  }
}

package graft.tools

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.Locale
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.streaming.{StreamingQuery,
  StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.{Stage, Tables}
import graft.streaming._
import graft.streaming.CdcRelay.RelayConfig

/** Live probes of the relay and the streams, each printing JSON lines:
  *
  *   sbt "runMain graft.tools.Probe <workload> [sfDir] [args…]"
  *
  *  - `relay-throughput [maxFilesPerTrigger]`: end-to-end relay
  *    events/s (scan → dispatch → envelope → dedup → sink with epoch
  *    commit) over the events table staged as ~4096-event files, one
  *    file ≈ one reference source batch (`--event-count-max`, reference
  *    config.go:40). The cap sweeps the per-trigger batch-size curve;
  *    left out, the relay runs with the `RelayConfig` default.
  *  - `relay-resume [killFrac]`: the delivery contract through three
  *    interruptions — a graceful stop once ~killFrac (default 0.5) of
  *    the input is admitted; a restart whose first epoch crashes after
  *    its sink write and before its commit (`crashOnceAfterWrite`, the
  *    reference's documented at-least-once window, README.md:55-61);
  *    a clean drain. `lost` must be 0, `duplicates` at most one epoch,
  *    and `distinct_msg_id` the staged count.
  *  - `relay-latency [nFiles] [gapMs]`: trickles nFiles (default 40)
  *    staged files into a running relay, one per gapMs (default 250),
  *    and reports arrival → commit-visible latency percentiles for the
  *    live profile (`CdcRelay.startContinuous`) and for the drain cap
  *    at the same 1 s pacing. Files arrive in event-time order with
  *    increasing mtimes and every event is unique, so the first
  *    progress event whose cumulative input rows reach the rows staged
  *    through file i is file i's commit.
  *  - `stream-scale`: IncrementalDedupStream's epoch-cost curve and
  *    store size over a full drain, then restart-plus-one-batch times
  *    for it and for a state-store stream (sessionize).
  *  - `pipeline-scale`: the same curve and restart for the composed
  *    PipelineStream, whose three stores every epoch reads.
  *
  * Epoch costs must stay ~flat as a store accumulates: linear data
  * growth per epoch is expected, super-linear listing/plan growth is
  * the failure mode the scale workloads exist to catch.
  */
object Probe {
  val DefaultSf = "/root/testdata/sf0.1"

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(s"probe-${args.headOption.getOrElse("")}")
    try run(spark, args.toSeq).foreach(println) finally spark.stop()
  }

  /** Run one workload on `spark`; returns its JSON lines. */
  def run(spark: SparkSession, args: Seq[String]): Seq[String] = {
    val workload = args.headOption.getOrElse(throw new IllegalArgumentException(
      s"usage: Probe <${workloads.keys.toSeq.sorted.mkString("|")}> [sfDir] [args…]"))
    val body = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown probe workload $workload"))
    val r = new Run(spark, args.lift(1).getOrElse(DefaultSf),
      Files.createTempDirectory(s"probe-$workload").toString)
    try body(r, args.drop(2)) finally r.close()
  }

  private val workloads: Map[String, (Run, Seq[String]) => Seq[String]] = Map(
    "relay-throughput" -> relayThroughput,
    "relay-resume" -> relayResume,
    "relay-latency" -> relayLatency,
    "stream-scale" -> streamScale,
    "pipeline-scale" -> pipelineScale)

  /** One workload's scaffold: the session, a temp root deleted on
    * close, and a listener holding every progress event with its
    * arrival time. A listener, not `recentProgress`: that is a
    * ~100-entry ring buffer, so anything summed or walked over it
    * undercounts once a run needs more than 100 triggers.
    */
  private final class Run(val spark: SparkSession, val sf: String,
      val root: String) extends StreamingQueryListener {
    private val events =
      new ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]()
    spark.streams.addListener(this)

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add((System.currentTimeMillis(), e.progress)): Unit
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    /** (arrival ms, progress) of `q`'s triggers delivered so far. */
    def progress(q: StreamingQuery): Seq[(Long, StreamingQueryProgress)] =
      events.asScala.filter(_._2.runId == q.runId).toSeq

    def inputRows(q: StreamingQuery): Long =
      progress(q).map(_._2.numInputRows).sum

    /** Run `q` to the end of its input and stop it: the elapsed seconds
      * and, in batch order, the durations (ms) of the triggers that ran
      * `addBatch`.
      */
    def drain(q: StreamingQuery): (Double, Seq[Long]) = {
      val t0 = System.nanoTime()
      try q.processAllAvailable() finally q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      DatasetBridge.drainListenerBus(spark)
      (secs, progress(q).map(_._2)
        .filter(_.durationMs.containsKey("addBatch"))
        .sortBy(_.batchId).map(_.batchDuration))
    }

    def rows(dir: String): Long = spark.read.parquet(dir).count()

    def close(): Unit = {
      spark.streams.removeListener(this)
      Stage.deleteRecursively(new File(root))
    }
  }

  /** Standard nearest-rank percentile: ceil(p·n)−1 (0-indexed). */
  private def pct(sorted: Seq[Long], p: Double): Long =
    if (sorted.isEmpty) 0L
    else sorted(math.max(0, math.min(sorted.size - 1,
      math.ceil(p * sorted.size).toInt - 1)))

  /** Mean epoch duration (ms) over the first five epochs, epochs 5-9
    * and the last five. The first epochs carry the stream plan's
    * codegen/JIT warm-up (measured first5 4.9 s vs last5 2.9 s on a
    * store probe that only grows with history), so mid5, the first
    * window past it, is the honest growth denominator. Under 10
    * epochs mid5 is 0 and both ratios are null, never a number from a
    * partial window that reads as "no growth".
    */
  private final case class Curve(durs: Seq[Long]) {
    private def avg(xs: Seq[Long]): Long = if (xs.isEmpty) 0L else xs.sum / xs.size
    private val full = durs.size >= 10
    val first5: Long = avg(durs.take(5))
    val mid5: Long = if (full) avg(durs.slice(5, 10)) else 0L
    val last5: Long = avg(durs.takeRight(5))
    def lastOver(denom: Long): String =
      if (full && denom > 0) fmt("%.2f", last5.toDouble / denom) else "null"
  }

  private def fmt(f: String, args: Any*): String =
    String.format(Locale.ROOT, f, args.map(_.asInstanceOf[AnyRef]): _*)

  private def stagedFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)

  private def countFiles(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var n = 0L
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) { it.next(); n += 1 }
    }
    n
  }

  /** Documents staged in doc_id order, ~1024 per file: (dir, schema, n). */
  private def stageDocs(r: Run): (String, org.apache.spark.sql.types.StructType, Long) = {
    val dir = s"${r.root}/docs"
    val (n, schema) = Stage.stageOrdered(Tables.documents(r.spark, r.sf)
      .select(col("doc_id"), col("source"), col("text")), "doc_id", 1024, dir)
    (dir, schema, n)
  }

  /** Append one fresh 1024-doc file to the staged docs for a restart.
    * The shifted id is aliased back to doc_id: the stream reads
    * appended files with the staged schema, so an unaliased
    * "(doc_id + 10000000)" column would read as a null doc_id and the
    * restart would time an empty batch.
    */
  private def appendDocs(r: Run, dir: String): Unit =
    Tables.documents(r.spark, r.sf)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        col("source"), col("text"))
      .limit(1024).coalesce(1).write.mode("append").parquet(dir)

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def toEnd(q: StreamingQuery): Unit =
    try q.processAllAvailable() finally q.stop()

  private def stageEvents(r: Run): Long =
    Stage.stageOrdered(Tables.events(r.spark, r.sf), "ts", 4096,
      s"${r.root}/in")._1

  private def relayThroughput(r: Run, args: Seq[String]): Seq[String] = {
    stageEvents(r)
    val cfg = RelayConfig(s"${r.root}/in", s"${r.root}/out", s"${r.root}/chk",
      maxFilesPerTrigger = args.headOption.map(_.toInt))
    val secs = timed(CdcRelay.start(r.spark, cfg).awaitTermination())
    val relayed = r.rows(cfg.outputDir)
    Seq(fmt("""{"metric":"relay_events_per_sec","value":%.1f,"events":%d,"sec":%.2f,"files":%d,"mfpt":%d,"sf":"%s"}""",
      relayed / secs, relayed, secs, stagedFiles(cfg.inputDir).size,
      cfg.effectiveMaxFilesPerTrigger, r.sf))
  }

  private def relayResume(r: Run, args: Seq[String]): Seq[String] = {
    val killFrac = args.headOption.map(_.toDouble).getOrElse(0.5)
    val total = stageEvents(r)
    // about 8 epochs whatever the scale: the kill lands mid-drain with
    // several epochs committed, and the crash-replayed epoch is a
    // measurable slice
    val mfpt = math.max(1, (stagedFiles(s"${r.root}/in").size + 7) / 8)
    val cfg = RelayConfig(s"${r.root}/in", s"${r.root}/out", s"${r.root}/chk",
      maxFilesPerTrigger = Some(mfpt))

    // phase 1: drain until ~killFrac of the input is admitted, then a
    // graceful stop (deploy-shaped interruption)
    val phase1S = timed {
      val q1 = CdcRelay.start(r.spark, cfg)
      while (q1.isActive && r.inputRows(q1) < (killFrac * total).toLong)
        Thread.sleep(200)
      q1.stop()
    }
    val afterStop = r.rows(cfg.outputDir)

    // phase 2: restart with the crash failpoint armed — the first epoch
    // written after restart throws after its sink write, before its
    // commit: the written-but-uncommitted window
    var crashSeen = false
    val phase2S = timed {
      val q2 = CdcRelay.start(r.spark,
        cfg.copy(crashOnceAfterWrite = Some(s"${r.root}/crashflag")))
      try q2.awaitTermination() catch { case _: Throwable => crashSeen = true }
    }
    val afterCrash = r.rows(cfg.outputDir)

    // phase 3: clean restart, drain to completion — replays the
    // uncommitted epoch (duplicating its rows in the append sink) and
    // finishes the backlog
    val phase3S = timed(CdcRelay.start(r.spark, cfg).awaitTermination())

    val out = r.spark.read.parquet(cfg.outputDir)
    val totalRows = out.count()
    val distinct = out.select("msg_id").distinct().count()
    Seq(fmt("""{"metric":"relay_resume","staged":%d,"after_stop":%d,"after_crash":%d,"total_rows":%d,"distinct_msg_id":%d,"duplicates":%d,"lost":%d,"crash_seen":%s,"epoch_rows_bound":%d,"phase1_s":%.1f,"phase2_s":%.1f,"phase3_s":%.1f,"mfpt":%d,"sf":"%s"}""",
      total, afterStop, afterCrash, totalRows, distinct, totalRows - distinct,
      total - distinct, crashSeen, mfpt * 4096L, phase1S, phase2S, phase3S,
      mfpt, r.sf))
  }

  private def relayLatency(r: Run, args: Seq[String]): Seq[String] = {
    val nFiles = args.lift(0).map(_.toInt).getOrElse(40)
    val gapMs = args.lift(1).map(_.toLong).getOrElse(250L)
    val root = r.root
    // staged once, before any clock: the trickle only moves file i into
    // the live input dir at its arrival time
    stageEvents(r)
    val staged = stagedFiles(s"$root/in").take(nFiles)
    val cumStaged = staged.map(f => r.rows(f.getAbsolutePath))
      .scanLeft(0L)(_ + _).drop(1)

    // uncounted warm relay: absorbs stream-engine, codegen and sink
    // start-up, so the first measured profile isn't charged for it
    locally {
      val in = s"$root/warm/in"; new File(in).mkdirs()
      staged.take(3).foreach(f => Files.copy(f.toPath, Paths.get(in, f.getName)): Unit)
      CdcRelay.start(r.spark, RelayConfig(in, s"$root/warm/out",
        s"$root/warm/chk")).awaitTermination()
    }

    for (profile <- Seq("live", "drain")) yield {
      val in = s"$root/$profile/in"; new File(in).mkdirs()
      val base = RelayConfig(in, s"$root/$profile/out", s"$root/$profile/chk",
        idleIntervalMs = 1000L)
      val q =
        if (profile == "live") CdcRelay.startContinuous(r.spark, base)
        else CdcRelay.start(r.spark,
          base.copy(maxFilesPerTrigger = Some(RelayConfig.DrainMaxFilesPerTrigger)),
          Trigger.ProcessingTime(base.idleIntervalMs))
      val arrivals = new Array[Long](staged.length)
      try {
        // file i arrives gapMs after file i-1, its mtime stamped to its
        // arrival so admission order is arrival order
        staged.zipWithIndex.foreach { case (f, i) =>
          Thread.sleep(gapMs)
          val dst = Paths.get(in, f.getName)
          Files.copy(f.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
          dst.toFile.setLastModified(System.currentTimeMillis()): Unit
          arrivals(i) = System.currentTimeMillis()
        }
        val deadline = System.currentTimeMillis() + 120000L
        while (r.inputRows(q) < cumStaged.last && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        require(r.inputRows(q) >= cumStaged.last,
          s"$profile relay drained ${r.inputRows(q)} of ${cumStaged.last} trickled events")
      } finally q.stop()
      // a progress event fires after its epoch commits: its arrival and
      // the cumulative input rows through it
      val commits = r.progress(q).filter(_._2.numInputRows > 0)
        .sortBy(_._2.batchId)
        .scanLeft((0L, 0L)) { case ((_, c), (t, p)) => (t, c + p.numInputRows) }
        .drop(1)
      val lats = cumStaged.zip(arrivals).flatMap { case (needed, t0) =>
        commits.find(_._2 >= needed).map(_._1 - t0)
      }.sorted
      val mean = if (lats.isEmpty) 0.0 else lats.sum.toDouble / lats.size
      val cap = if (profile == "live") RelayConfig.LiveMaxFilesPerTrigger
        else RelayConfig.DrainMaxFilesPerTrigger
      fmt("""{"profile":"%s","sf":"%s","files":%d,"events":%d,"gap_ms":%d,"trigger_ms":%d,"cap_files":%d,"p50_ms":%d,"p95_ms":%d,"p99_ms":%d,"max_ms":%d,"mean_ms":%.1f}""",
        profile, r.sf, staged.length, cumStaged.last, gapMs, base.idleIntervalMs,
        cap, pct(lats, 0.50), pct(lats, 0.95), pct(lats, 0.99),
        lats.lastOption.getOrElse(0L), mean)
    }
  }

  private def streamScale(r: Run, args: Seq[String]): Seq[String] = {
    val spark = r.spark
    val root = r.root
    val (docsDir, docSchema, nDocs) = stageDocs(r)
    def docsStream(): DataFrame = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 2).parquet(docsDir).select("doc_id", "text")
    def dedup() = IncrementalDedupStream.start(spark, docsStream(),
      s"$root/out", s"$root/store", s"$root/chk")

    // incremental dedup: epoch-cost curve over the full drain, then a
    // restart with one more input batch
    val (dedupSecs, durs) = r.drain(dedup())
    val curve = Curve(durs)
    val storeFiles = countFiles(spark, s"$root/store")
    val storeRows = r.rows(s"$root/store")
    appendDocs(r, docsDir)
    val dedupRestartSecs = timed(toEnd(dedup()))

    // sessionize (state-store stream): full drain, then a restart with
    // one more event file — recovery must reload every open session
    val ev = Tables.events(spark, r.sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val (_, evSchema) = Stage.stageOrdered(ev, "ts", 4096, s"$root/events")
    def sessionize() = SessionizeStream.sessions(
      spark.readStream.schema(evSchema)
        .option("maxFilesPerTrigger", 8).parquet(s"$root/events")
        .select(col("user_id"), col("ts")).as(Encoders.product[SessionizeStream.Event]))
      .writeStream.format("noop")
      .option("checkpointLocation", s"$root/sess_chk")
      .outputMode("append").start()
    val (sessSecs, sessBatches) = r.drain(sessionize())
    ev.limit(4096).withColumn("event_id", col("event_id") + lit(100000000L))
      .coalesce(1).write.mode("append").parquet(s"$root/events")
    val sessRestartSecs = timed(toEnd(sessionize()))

    Seq(fmt("""{"sf":"%s","n_docs":%d,"dedup":{"drain_secs":%.2f,"epochs":%d,"epoch_ms_first5":%d,"epoch_ms_last5":%d,"store_files":%d,"store_rows":%d,"restart_one_batch_secs":%.2f},"sessionize":{"drain_secs":%.2f,"batches":%d,"restart_one_batch_secs":%.2f}}""",
      r.sf, nDocs, dedupSecs, durs.size, curve.first5, curve.last5, storeFiles,
      storeRows, dedupRestartSecs, sessSecs, sessBatches.size, sessRestartSecs))
  }

  private def pipelineScale(r: Run, args: Seq[String]): Seq[String] = {
    val spark = r.spark
    val root = r.root
    val (docsDir, schema, nDocs) = stageDocs(r)
    def pipeline() = PipelineStream.start(spark,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 2)
        .parquet(docsDir).select("doc_id", "text"),
      r.sf, s"$root/out", s"$root/store", s"$root/chk")

    val (secs, durs) = r.drain(pipeline())
    val curve = Curve(durs)
    val phFiles = countFiles(spark, s"$root/store/ph")
    val phRows = r.rows(s"$root/store/ph")
    appendDocs(r, docsDir)
    val restartSecs = timed(toEnd(pipeline()))
    val verdicts = r.rows(s"$root/out/docs")

    Seq(fmt("""{"probe":"pipeline_scale","sf":"%s","docs":%d,"verdicts":%d,"secs":%.1f,"epochs":%d,"first5_ms":%d,"mid5_ms":%d,"last5_ms":%d,"last_over_first":%s,"last_over_mid":%s,"epoch_ms":[%s],"ph_store_files":%d,"ph_store_rows":%d,"restart_secs":%.1f}""",
      r.sf, nDocs, verdicts, secs, durs.size, curve.first5, curve.mid5,
      curve.last5, curve.lastOver(curve.first5), curve.lastOver(curve.mid5),
      durs.mkString(","), phFiles, phRows, restartSecs))
  }
}

package graft.tools

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.StreamBench
import graft.StreamBench.{Entry, Inputs}
import graft.obs.{Json, Progress, Stats}
import graft.obs.Json.fixed
import graft.streaming.CdcRelay
import graft.streaming.CdcRelay.RelayConfig

/** Live probes of the relay and the streams, each printing JSON lines:
  *
  *   sbt "runMain graft.tools.Probe <workload> [sfDir] [args…]"
  *
  *  - `relay-throughput [maxFilesPerTrigger]`: end-to-end relay
  *    events/s over the staged events, at the cap (the batch-size
  *    curve) or the `RelayConfig` default.
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
  *    live profile (`CdcRelay.startContinuous`) and the drain cap at 1 s
  *    pacing. Files arrive in event-time order and every event is
  *    unique, so file i commits with the first progress event whose
  *    cumulative input rows reach the rows staged through it.
  *  - `stream-scale`: IncrementalDedupStream's epoch-cost curve and
  *    store size over a full drain, then restart-plus-one-batch times
  *    for it and for a state-store stream (sessionize).
  *  - `pipeline-scale`: the same curve and restart for the composed
  *    PipelineStream, whose three stores every epoch reads.
  *
  * The streams and their inputs are `StreamBench`'s catalogue entries.
  * Epoch costs must stay ~flat as a store accumulates: super-linear
  * listing/plan growth is what the scale workloads exist to catch.
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
    val in = new Inputs(spark, args.lift(1).getOrElse(DefaultSf), s"probe-$workload")
    val progress = new Progress(spark)
    try body(in, progress, args.drop(2)).map(_.json)
    finally { progress.close(); in.close() }
  }

  private val workloads: Map[String, (Inputs, Progress, Seq[String]) => Seq[Json.Raw]] = Map(
    "relay-throughput" -> relayThroughput,
    "relay-resume" -> relayResume,
    "relay-latency" -> relayLatency,
    "stream-scale" -> streamScale,
    "pipeline-scale" -> pipelineScale)

  /** Mean epoch ms over epochs 0-4, 5-9 and the last five. The first
    * five carry the plan's codegen/JIT warm-up (4.9 s vs 2.9 s last5 on
    * a growing store), so mid5 is the honest growth denominator; under
    * 10 epochs it is 0 and both ratios are null, never "no growth".
    */
  private final case class Curve(durs: Seq[Long]) {
    private def avg(xs: Seq[Long]): Long = if (xs.isEmpty) 0L else xs.sum / xs.size
    private val full = durs.size >= 10
    val first5: Long = avg(durs.take(5))
    val mid5: Long = if (full) avg(durs.slice(5, 10)) else 0L
    val last5: Long = avg(durs.takeRight(5))
    def lastOver(denom: Long): Json.Raw =
      fixed(if (full && denom > 0) last5.toDouble / denom else Double.NaN, 2)
  }

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

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Seconds to restart `e` in `dir` and drain what it has not seen. */
  private def restart(p: Progress, e: Entry, in: Inputs, dir: String): Double = {
    val t0 = System.nanoTime()
    p.drain(e.start(in, dir), t0)._1
  }

  private def relayThroughput(in: Inputs, p: Progress, args: Seq[String]): Seq[Json.Raw] = {
    val cfg = StreamBench.relayConfig(in, s"${in.root}/relay")
      .copy(maxFilesPerTrigger = args.headOption.map(_.toInt))
    val secs = timed(CdcRelay.start(in.spark, cfg).awaitTermination())
    val relayed = in.rows(cfg.outputDir)
    Seq(Json.obj("metric" -> "relay_events_per_sec",
      "value" -> fixed(relayed / secs, 1), "events" -> relayed,
      "sec" -> fixed(secs, 2), "files" -> stagedFiles(cfg.inputDir).size,
      "mfpt" -> cfg.effectiveMaxFilesPerTrigger, "sf" -> in.sf))
  }

  private def relayResume(in: Inputs, p: Progress, args: Seq[String]): Seq[Json.Raw] = {
    val killFrac = args.headOption.map(_.toDouble).getOrElse(0.5)
    val total = in.events.rows
    // ~8 epochs at any scale: the kill lands mid-drain after several
    // commits, and the crash-replayed epoch is a measurable slice
    val mfpt = math.max(1, (stagedFiles(in.events.dir).size + 7) / 8)
    val cfg = StreamBench.relayConfig(in, s"${in.root}/relay")
      .copy(maxFilesPerTrigger = Some(mfpt))

    // phase 1: a graceful stop once ~killFrac of the input is admitted
    val phase1S = timed {
      val q1 = CdcRelay.start(in.spark, cfg)
      while (q1.isActive && p.inputRows(q1) < (killFrac * total).toLong)
        Thread.sleep(200)
      q1.stop()
    }
    val afterStop = in.rows(cfg.outputDir)

    // phase 2: the first epoch after restart throws between its sink
    // write and its commit: the written-but-uncommitted window
    var crashSeen = false
    val phase2S = timed {
      val q2 = CdcRelay.start(in.spark,
        cfg.copy(crashOnceAfterWrite = Some(s"${in.root}/crashflag")))
      try q2.awaitTermination() catch { case _: Throwable => crashSeen = true }
    }
    val afterCrash = in.rows(cfg.outputDir)

    // phase 3: a clean drain replays the uncommitted epoch (its rows
    // duplicate in the append sink) and finishes the backlog
    val phase3S = timed(CdcRelay.start(in.spark, cfg).awaitTermination())

    val out = in.spark.read.parquet(cfg.outputDir)
    val totalRows = out.count()
    val distinct = out.select("msg_id").distinct().count()
    Seq(Json.obj("metric" -> "relay_resume", "staged" -> total,
      "after_stop" -> afterStop, "after_crash" -> afterCrash,
      "total_rows" -> totalRows, "distinct_msg_id" -> distinct,
      "duplicates" -> (totalRows - distinct), "lost" -> (total - distinct),
      "crash_seen" -> crashSeen, "epoch_rows_bound" -> mfpt * 4096L,
      "phase1_s" -> fixed(phase1S, 1), "phase2_s" -> fixed(phase2S, 1),
      "phase3_s" -> fixed(phase3S, 1), "mfpt" -> mfpt, "sf" -> in.sf))
  }

  private def relayLatency(in: Inputs, p: Progress, args: Seq[String]): Seq[Json.Raw] = {
    val nFiles = args.lift(0).map(_.toInt).getOrElse(40)
    val gapMs = args.lift(1).map(_.toLong).getOrElse(250L)
    val root = in.root
    // staged once, before any clock: the trickle only moves file i into
    // the live input dir at its arrival time
    val staged = stagedFiles(in.events.dir).take(nFiles)
    val cumStaged = staged.map(f => in.rows(f.getAbsolutePath))
      .scanLeft(0L)(_ + _).drop(1)

    // uncounted warm relay: absorbs stream-engine, codegen and sink
    // start-up, so the first measured profile isn't charged for it
    locally {
      val warm = s"$root/warm/in"; new File(warm).mkdirs()
      staged.take(3).foreach(f => Files.copy(f.toPath, Paths.get(warm, f.getName)): Unit)
      CdcRelay.start(in.spark, RelayConfig(warm, s"$root/warm/out",
        s"$root/warm/chk")).awaitTermination()
    }

    for (profile <- Seq("live", "drain")) yield {
      val dir = s"$root/$profile/in"; new File(dir).mkdirs()
      val base = RelayConfig(dir, s"$root/$profile/out", s"$root/$profile/chk",
        idleIntervalMs = 1000L)
      val q =
        if (profile == "live") CdcRelay.startContinuous(in.spark, base)
        else CdcRelay.start(in.spark,
          base.copy(maxFilesPerTrigger = Some(RelayConfig.DrainMaxFilesPerTrigger)),
          Trigger.ProcessingTime(base.idleIntervalMs))
      val arrivals = new Array[Long](staged.length)
      try {
        // file i arrives gapMs after file i-1, its mtime stamped to its
        // arrival so admission order is arrival order
        staged.zipWithIndex.foreach { case (f, i) =>
          Thread.sleep(gapMs)
          val dst = Paths.get(dir, f.getName)
          Files.copy(f.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
          dst.toFile.setLastModified(System.currentTimeMillis()): Unit
          arrivals(i) = System.currentTimeMillis()
        }
        val deadline = System.currentTimeMillis() + 120000L
        while (p.inputRows(q) < cumStaged.last && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        require(p.inputRows(q) >= cumStaged.last,
          s"$profile relay drained ${p.inputRows(q)} of ${cumStaged.last} trickled events")
      } finally q.stop()
      // a progress event fires after its epoch commits: its arrival and
      // the cumulative input rows through it
      val commits = p.of(q).filter(_._2.numInputRows > 0)
        .sortBy(_._2.batchId)
        .scanLeft((0L, 0L)) { case ((_, c), (t, pr)) => (t, c + pr.numInputRows) }
        .drop(1)
      val lats = cumStaged.zip(arrivals).flatMap { case (needed, t0) =>
        commits.find(_._2 >= needed).map(_._1 - t0)
      }
      Json.obj("profile" -> profile, "sf" -> in.sf, "files" -> staged.length,
        "events" -> cumStaged.last, "gap_ms" -> gapMs,
        "trigger_ms" -> base.idleIntervalMs,
        "cap_files" -> (if (profile == "live") RelayConfig.LiveMaxFilesPerTrigger
          else RelayConfig.DrainMaxFilesPerTrigger),
        "p50_ms" -> Stats.percentile(lats, 0.50),
        "p95_ms" -> Stats.percentile(lats, 0.95),
        "p99_ms" -> Stats.percentile(lats, 0.99),
        "max_ms" -> Stats.percentile(lats, 1.0),
        "mean_ms" -> fixed(if (lats.isEmpty) 0.0 else lats.sum.toDouble / lats.size, 1))
    }
  }

  private def streamScale(in: Inputs, p: Progress, args: Seq[String]): Seq[Json.Raw] = {
    // incremental dedup: epoch-cost curve over the full drain, then a
    // restart with one more input batch
    val dedup = s"${in.root}/dedup"
    val (dedupSecs, durs) = p.drain(StreamBench.incrementalDedup.start(in, dedup))
    val curve = Curve(durs)
    val storeFiles = countFiles(in.spark, s"$dedup/store")
    val storeRows = in.rows(s"$dedup/store")
    in.appendDocs()
    val dedupRestartSecs = restart(p, StreamBench.incrementalDedup, in, dedup)

    // sessionize (state-store stream): full drain, then a restart with
    // one more event file — recovery must reload every open session
    val sess = s"${in.root}/sessionize"
    val (sessSecs, sessBatches) = p.drain(StreamBench.sessionize.start(in, sess))
    in.appendEvents()
    val sessRestartSecs = restart(p, StreamBench.sessionize, in, sess)

    Seq(Json.obj("sf" -> in.sf, "n_docs" -> in.docs.rows,
      "dedup" -> Json.obj("drain_secs" -> fixed(dedupSecs, 2),
        "epochs" -> durs.size, "epoch_ms_first5" -> curve.first5,
        "epoch_ms_last5" -> curve.last5, "store_files" -> storeFiles,
        "store_rows" -> storeRows,
        "restart_one_batch_secs" -> fixed(dedupRestartSecs, 2)),
      "sessionize" -> Json.obj("drain_secs" -> fixed(sessSecs, 2),
        "batches" -> sessBatches.size,
        "restart_one_batch_secs" -> fixed(sessRestartSecs, 2))))
  }

  private def pipelineScale(in: Inputs, p: Progress, args: Seq[String]): Seq[Json.Raw] = {
    val dir = s"${in.root}/pipeline"
    val (secs, durs) = p.drain(StreamBench.pipeline.start(in, dir))
    val curve = Curve(durs)
    val phFiles = countFiles(in.spark, s"$dir/store/ph")
    val phRows = in.rows(s"$dir/store/ph")
    in.appendDocs()
    val restartSecs = restart(p, StreamBench.pipeline, in, dir)
    Seq(Json.obj("probe" -> "pipeline_scale", "sf" -> in.sf,
      "docs" -> in.docs.rows, "verdicts" -> in.rows(s"$dir/out/docs"),
      "secs" -> fixed(secs, 1), "epochs" -> durs.size,
      "first5_ms" -> curve.first5, "mid5_ms" -> curve.mid5,
      "last5_ms" -> curve.last5,
      "last_over_first" -> curve.lastOver(curve.first5),
      "last_over_mid" -> curve.lastOver(curve.mid5), "epoch_ms" -> durs,
      "ph_store_files" -> phFiles, "ph_store_rows" -> phRows,
      "restart_secs" -> fixed(restartSecs, 1)))
  }
}

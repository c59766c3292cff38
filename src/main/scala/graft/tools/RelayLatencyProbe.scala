package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import graft.streaming.CdcRelay
import graft.streaming.CdcRelay.RelayConfig

/** Live-relay latency probe (SCALING.md §Relay latency): the reference
  * is a LATENCY-oriented relay (1 s idle poll, ~4096-event batches —
  * config.go:40-41), but the engine's committed numbers are drain
  * throughput only. This probe TRICKLES pre-staged ~4096-event files
  * into a running relay and records, per file, the time from arrival
  * (the moment the file lands in the input dir) to commit-visible (the
  * query-progress event for the micro-batch that admitted it — emitted
  * after the foreachBatch sink write and epoch commit), under
  *
  *   - the LIVE profile ([[CdcRelay.startContinuous]]: idle-interval
  *     pacing + the 8-file latency cap), and
  *   - the DRAIN profile's 256-file cap at the same 1 s pacing (what a
  *     user who force-fed the drain batch size into a long-running
  *     relay would see).
  *
  * Mapping files→batches needs no tagging: files are trickled in
  * event-time order with strictly increasing mtimes (the ordered-CDC
  * contract, Stage.orderStagedFiles), FileStreamSource admits pending
  * files in mtime order, and every staged event is unique — so the
  * first progress event whose CUMULATIVE input rows reaches the
  * cumulative rows staged through file i is file i's commit.
  *
  *   sbt "runMain graft.tools.RelayLatencyProbe [sfDir] [nFiles] [gapMs]"
  *
  * Prints one JSON line per profile with p50/p95/p99/max latency.
  */
object RelayLatencyProbe {

  /** Standard nearest-rank percentile: ceil(p·n)−1 (0-indexed). The
    * first cut used `(p·n).toInt`, which indexes one PAST the rank
    * (p50 of 40 samples read the 21st value) and biased small-sample
    * p95/p99 high.
    */
  private def pct(sorted: Seq[Long], p: Double): Long =
    if (sorted.isEmpty) 0L
    else sorted(math.max(0, math.min(sorted.size - 1,
      math.ceil(p * sorted.size).toInt - 1)))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nFiles = args.lift(1).map(_.toInt).getOrElse(40)
    val gapMs = args.lift(2).map(_.toLong).getOrElse(250L)
    val spark = graft.Session.local("relay-latency-probe")
    val root = Files.createTempDirectory("relay-latency").toString

    // Pre-stage the event corpus ONCE as ~4096-event files in event-time
    // order (the same staging as Bench's relay leg); the trickle then
    // just moves file i into the live input dir at its arrival time, so
    // staging cost never pollutes the latency clock.
    val ev = graft.Tables.events(spark, sfDir)
    val nEv = ev.count()
    val files = math.max(1, math.ceil(nEv / 4096.0).toInt)
    ev.repartitionByRange(files, col("ts"))
      .sortWithinPartitions("ts").write.parquet(s"$root/staged")
    graft.Stage.orderStagedFiles(s"$root/staged")
    val staged = Option(new java.io.File(s"$root/staged").listFiles())
      .getOrElse(Array()).filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).take(nFiles)
    // rows per staged file, in trickle order (one tiny read, pre-clock)
    val rowsPerFile = staged.map(f =>
      spark.read.parquet(f.getAbsolutePath).count())
    val cumStaged = rowsPerFile.scanLeft(0L)(_ + _).drop(1)

    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", v)

    // Uncounted warm relay: absorb stream-engine + codegen + sink
    // startup once, so the first measured profile isn't charged for it
    // (first probe version ran live first and "measured" drain 20%
    // faster purely from run order).
    locally {
      val in = s"$root/warm/in"; new java.io.File(in).mkdirs()
      staged.take(3).foreach { f =>
        Files.copy(f.toPath, Paths.get(in, f.getName)): Unit
      }
      CdcRelay.start(spark, RelayConfig(in, s"$root/warm/out",
        s"$root/warm/chk")).awaitTermination()
    }

    for (profile <- Seq("live", "drain")) {
      val in = s"$root/$profile/in"; new java.io.File(in).mkdirs()
      val base = RelayConfig(in, s"$root/$profile/out",
        s"$root/$profile/chk", idleIntervalMs = 1000L)
      // commit-visible timestamps: QueryProgressEvent fires after the
      // epoch commits; cumulative input rows map it back to the last
      // file that batch admitted
      val commits =
        new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val cum = new java.util.concurrent.atomic.AtomicLong(0L)
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryProgressEvent): Unit =
          if (e.progress.numInputRows > 0) {
            val c = cum.addAndGet(e.progress.numInputRows)
            commits.add((System.currentTimeMillis(), c)): Unit
          }
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(listener)
      val query =
        if (profile == "live") CdcRelay.startContinuous(spark, base)
        else CdcRelay.start(spark,
          base.copy(maxFilesPerTrigger =
            Some(RelayConfig.DrainMaxFilesPerTrigger)),
          org.apache.spark.sql.streaming.Trigger
            .ProcessingTime(base.idleIntervalMs))
      val arrivals = new Array[Long](staged.length)
      try {
        // trickle: file i arrives gapMs after file i-1, mtime stamped to
        // its arrival so admission order is arrival order
        staged.zipWithIndex.foreach { case (f, i) =>
          Thread.sleep(gapMs)
          val dst = Paths.get(in, f.getName)
          Files.copy(f.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
          dst.toFile.setLastModified(System.currentTimeMillis()): Unit
          arrivals(i) = System.currentTimeMillis()
        }
        val total = cumStaged.last
        val deadline = System.currentTimeMillis() + 120000L
        while (cum.get() < total && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        require(cum.get() >= total,
          s"$profile relay drained ${cum.get()} of $total trickled events")
      } finally {
        try query.stop() finally spark.streams.removeListener(listener)
      }
      val commitSeq = {
        val it = commits.iterator(); val b = Seq.newBuilder[(Long, Long)]
        while (it.hasNext) b += it.next()
        b.result().sortBy(_._2)
      }
      val lats = cumStaged.zip(arrivals).flatMap { case (needed, t0) =>
        commitSeq.find(_._2 >= needed).map(_._1 - t0)
      }.sorted.toSeq
      val mean = if (lats.isEmpty) 0.0 else lats.sum.toDouble / lats.size
      println(s"""{"profile":"$profile","sf":"$sfDir","files":${staged.length},"events":${cumStaged.last},"gap_ms":$gapMs,"trigger_ms":${base.idleIntervalMs},"cap_files":${if (profile == "live") RelayConfig.LiveMaxFilesPerTrigger else RelayConfig.DrainMaxFilesPerTrigger},"p50_ms":${pct(lats, 0.50)},"p95_ms":${pct(lats, 0.95)},"p99_ms":${pct(lats, 0.99)},"max_ms":${lats.lastOption.getOrElse(0L)},"mean_ms":${num(mean)}}""")
    }
    graft.Stage.deleteRecursively(new java.io.File(root))
    spark.stop()
  }
}

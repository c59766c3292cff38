package graft.tools

import java.nio.file.Files

/** At-scale kill/resume measurement of the relay's delivery contract.
  *
  * CdcRelaySpec pins the SEMANTICS (resume, replay, dedup) on small
  * fixtures; this probe measures them at the corpus decade, through the
  * three interruption shapes a production relay actually meets:
  *
  *   1. graceful stop mid-drain (deploy/rebalance) → restart;
  *   2. injected crash AFTER the sink write, BEFORE the epoch commit
  *      (the at-least-once worst case — the reference's own documented
  *      window, README.md:55-61) via the `crashOnceAfterWrite`
  *      failpoint: restart must replay exactly that one epoch, so the
  *      duplicate count is bounded by ONE epoch's rows;
  *   3. clean drain to completion.
  *
  * Printed JSON asserts the contract numerically: `lost` must be 0
  * (every staged event delivered at least once), `duplicates` ≤ one
  * epoch (only the crash-replayed epoch re-appends), and distinct
  * msg_id equals the staged count — the downstream
  * dedup-by-msg-id view is exactly-once.
  *
  *   sbt "runMain graft.tools.RelayResumeProbe [sfDir] [killFrac]"
  */
object RelayResumeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/testdata_sf1")
    val killFrac = args.lift(1).map(_.toDouble).getOrElse(0.5)
    val spark = graft.Session.local("relay-resume-probe")

    val root = Files.createTempDirectory("relay-resume").toString
    val in = s"$root/in"
    val ev = graft.Tables.events(spark, sfDir)
    val total = ev.count()
    // same ordered ~4096-event staging as RelayThroughput (one file ≈
    // one reference source batch, event-time order = the ordered-CDC
    // input contract)
    val files = math.max(1, math.ceil(total / 4096.0).toInt)
    ev.repartitionByRange(files, org.apache.spark.sql.functions.col("ts"))
      .sortWithinPartitions("ts").write.parquet(in)
    graft.Stage.orderStagedFiles(in)

    // mid-size epochs: the kill lands mid-drain with several epochs
    // committed, and the crash-replayed epoch is a measurable slice
    val mfpt = 64
    val cfg = graft.streaming.CdcRelay.RelayConfig(
      in, s"$root/out", s"$root/chk", maxFilesPerTrigger = Some(mfpt))
    def outCount(): Long = spark.read.parquet(cfg.outputDir).count()

    // phase 1: drain until ~killFrac of the input is admitted, then a
    // graceful stop (deploy-shaped interruption). Admission is counted
    // by a listener accumulating EVERY progress event — recentProgress
    // is a ~100-entry ring buffer, so summing it undercounts once the
    // drain needs more than 100 triggers, and the kill would then land
    // far past killFrac (or never fire), silently degrading phase 1 to
    // a clean drain. The probe runs exactly one query at a time, so no
    // per-query filtering is needed.
    val admittedRows = new java.util.concurrent.atomic.AtomicLong(0L)
    val admitListener =
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          admittedRows.addAndGet(e.progress.numInputRows); ()
        }
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      }
    spark.streams.addListener(admitListener)
    val t0 = System.nanoTime()
    val q1 = graft.streaming.CdcRelay.start(spark, cfg)
    while (q1.isActive && admittedRows.get() < (killFrac * total).toLong)
      Thread.sleep(200)
    q1.stop()
    spark.streams.removeListener(admitListener)
    val phase1S = (System.nanoTime() - t0) / 1e9
    val afterStop = outCount()

    // phase 2: restart with the crash failpoint armed — the first epoch
    // written after restart throws AFTER its sink write, BEFORE its
    // commit: the written-but-uncommitted window
    val t1 = System.nanoTime()
    val q2 = graft.streaming.CdcRelay.start(spark,
      cfg.copy(crashOnceAfterWrite = Some(s"$root/crashflag")))
    val crashSeen =
      try { q2.awaitTermination(); false }
      catch { case _: Throwable => true }
    val phase2S = (System.nanoTime() - t1) / 1e9
    val afterCrash = outCount()

    // phase 3: clean restart, drain to completion — replays the
    // uncommitted epoch (duplicating its rows in the append sink) and
    // finishes the backlog
    val t2 = System.nanoTime()
    val q3 = graft.streaming.CdcRelay.start(spark, cfg)
    q3.awaitTermination()
    val phase3S = (System.nanoTime() - t2) / 1e9

    val out = spark.read.parquet(cfg.outputDir)
    val totalRows = out.count()
    val distinct = out.select("msg_id").distinct().count()
    val epochRowsBound = mfpt.toLong * 4096L
    println(f"""{"metric":"relay_resume","staged":$total,"after_stop":$afterStop,"after_crash":$afterCrash,"total_rows":$totalRows,"distinct_msg_id":$distinct,"duplicates":${totalRows - distinct},"lost":${total - distinct},"crash_seen":$crashSeen,"epoch_rows_bound":$epochRowsBound,"phase1_s":$phase1S%.1f,"phase2_s":$phase2S%.1f,"phase3_s":$phase3S%.1f,"mfpt":$mfpt,"sf":"$sfDir"}""")
    spark.stop()
  }
}

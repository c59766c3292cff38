package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.CdcRelay
import graft.streaming.CdcRelay.RelayConfig

/** The reference's resume/dedup integration scenario (FIXTURES.md §A5,
  * mirroring reference integration_test.go:41-243): publish a batch, stop
  * the relay, add more events (including a replay of an already-relayed
  * event) while it is down, restart, and assert exactly-once output with
  * strictly increasing timestamps.
  */
class CdcRelaySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def writeEvents(dir: String, file: String, rows: Seq[(Long, Long, Long, String)]): Unit = {
    import scala.jdk.CollectionConverters._
    val data = rows.map { case (id, tsMicros, user, tpe) =>
      Row(id, new java.sql.Timestamp(tsMicros / 1000), user, tpe, 1.0, """{"k": 1}""")
    }
    spark.createDataFrame(data.asJava, CdcRelay.inputSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_stage")
    // atomic-ish move of the part file into the watched dir
    val part = new java.io.File(s"$dir/_stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new java.io.File(s"$dir/$file").toPath)
  }

  /** `n` one-event files `m000.parquet`.. in `dir`, event i at
    * `base + i` seconds, written by one Spark job.
    */
  private def writeManyEvents(dir: String, n: Int, base: Long): Unit = {
    val data = (0 until n).map { i =>
      Row(i.toLong, new java.sql.Timestamp((base + i * 1000000L) / 1000),
        i.toLong % 5, "view", 1.0, """{"k": 1}""")
    }
    // one row per slice, so one part file per event
    spark.createDataFrame(spark.sparkContext.parallelize(data, n),
        CdcRelay.inputSchema)
      .write.mode("overwrite").parquet(s"$dir/_stage")
    val parts = new java.io.File(s"$dir/_stage").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length == n)
    parts.zipWithIndex.foreach { case (part, i) =>
      Files.move(part.toPath, new java.io.File(f"$dir/m$i%03d.parquet").toPath)
    }
  }

  test("relay resumes from checkpoint and suppresses duplicate msg-ids") {
    val root = Files.createTempDirectory("relay").toString
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val cfg = RelayConfig(in, s"$root/out", s"$root/chk")
    val base = 1700000000000000L // epoch micros

    // phase 1: two events while the relay runs
    writeEvents(in, "batch1.parquet", Seq(
      (1L, base + 1000000L, 7L, "purchase"),
      (2L, base + 2000000L, 8L, "click")))
    CdcRelay.start(spark, cfg).awaitTermination()

    val out1 = spark.read.parquet(cfg.outputDir)
    assert(out1.count() == 2)

    // phase 2: while the relay is DOWN — one replayed event (same
    // event ⇒ same msg-id, within the dedup window of the new data) and
    // two genuinely new ones
    writeEvents(in, "batch2.parquet", Seq(
      (2L, base + 2000000L, 8L, "click"),       // duplicate replay
      (3L, base + 3000000L, 7L, "purchase"),
      (4L, base + 4000000L, 9L, "error")))
    CdcRelay.start(spark, cfg).awaitTermination()

    val out = spark.read.parquet(cfg.outputDir)
    // exactly once: 4 distinct messages, no loss, no duplicates
    assert(out.count() == 4)
    assert(out.select("msg_id").distinct().count() == 4)
    // strictly increasing timestamps across the relayed stream
    val ts = out.orderBy("event_id").select(unix_micros(col("ts")))
      .collect().map(_.getLong(0)).toSeq
    assert(ts == ts.sorted && ts.distinct.size == ts.size)
    // envelope integrity on a sample row
    val r = out.filter(col("event_id") === 1).collect().head
    assert(r.getAs[String]("msg_id") == s"graft/${base + 1000000L}")
    assert(r.getAs[String]("subject") == "tigerbeetle.cdc.7.purchase")
    assert(r.getAs[String]("body").contains("\"type\":\"purchase\""))
  }

  test("maxFilesPerTrigger paces the relay into multiple micro-batches") {
    val root = Files.createTempDirectory("relay3").toString
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val cfg = RelayConfig(in, s"$root/out", s"$root/chk", maxFilesPerTrigger = Some(1))
    val base = 1700000000000000L
    (0 until 3).foreach { i =>
      writeEvents(in, s"b$i.parquet",
        Seq((i.toLong, base + i * 1000000L, 1L, "view")))
    }
    CdcRelay.start(spark, cfg).awaitTermination()
    assert(spark.read.parquet(cfg.outputDir).count() == 3)
    // one committed epoch per file: the commit log must hold >= 3 entries
    val commits = new java.io.File(s"$root/chk/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 3, s"expected >=3 epochs, got $commits")
  }

  test("live profile bounds per-epoch admission to the latency cap") {
    // the latency story's structural half (the measured half lives in
    // Probe relay-latency / SCALING.md §Relay latency): a live relay left
    // at the unset default must admit at most LiveMaxFilesPerTrigger
    // files per micro-batch, so one slow epoch can never grow into a
    // drain-sized (256-file) batch that holds later events hostage
    val root = Files.createTempDirectory("relay-live").toString
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val cfg = RelayConfig(in, s"$root/out", s"$root/chk",
      idleIntervalMs = 50L) // fast pacing: the test bounds FILES, not time
    val base = 1700000000000000L
    (0 until 20).foreach { i =>
      writeEvents(in, f"b$i%02d.parquet",
        Seq((i.toLong, base + i * 1000000L, 1L, "view")))
    }
    graft.Stage.orderStagedFiles(in) // admission order = event-time order
    val q = CdcRelay.startContinuous(spark, cfg)
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(cfg.outputDir).count() == 20)
    val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    // one event per file ⇒ numInputRows counts admitted files
    assert(batches.nonEmpty &&
      batches.forall(_.numInputRows <= RelayConfig.LiveMaxFilesPerTrigger),
      s"per-batch admissions: ${batches.map(_.numInputRows).mkString(",")}")
    assert(batches.size >=
      math.ceil(20.0 / RelayConfig.LiveMaxFilesPerTrigger).toInt)
  }

  test("crash between sink write and commit: replay + msg-id dedup = exactly once") {
    // the reference's delivery contract (README.md:55-61): a crash after
    // publish but before the progress write causes replay; the broker's
    // msg-id dedup restores exactly-once. Simulate the crash by deleting
    // the last epoch's commit marker, forcing Spark to replay it.
    val root = Files.createTempDirectory("relay4").toString
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val cfg = RelayConfig(in, s"$root/out", s"$root/chk",
      crashOnceAfterWrite = Some(s"$root/crashflag"))
    val base = 1700000000000000L
    writeEvents(in, "b1.parquet", Seq(
      (1L, base + 1000000L, 1L, "view"),
      (2L, base + 2000000L, 2L, "click")))

    // first run crashes after the sink write, before the epoch commit
    val q1 = CdcRelay.start(spark, cfg)
    val crashed = intercept[Exception](q1.awaitTermination())
    assert(crashed.getMessage.contains("injected crash")
      || crashed.getCause != null, crashed.getMessage)

    // restart: the uncommitted epoch replays (flag file now exists)
    CdcRelay.start(spark, cfg).awaitTermination()

    val out = spark.read.parquet(cfg.outputDir)
    // at-least-once: the replayed epoch appended duplicates
    assert(out.count() == 4, out.count())
    // downstream msg-id dedup restores exactly-once, bit-for-bit
    val deduped = out.dropDuplicates("msg_id")
    assert(deduped.count() == 2)
    assert(deduped.select("msg_id").orderBy("msg_id").collect().map(_.getString(0)).toSeq ==
      Seq(s"graft/${base + 1000000L}", s"graft/${base + 2000000L}"))
  }

  test("relay runs continuously under a processing-time trigger") {
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("relay5").toString
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val cfg = RelayConfig(in, s"$root/out", s"$root/chk")
    val base = 1700000000000000L
    writeEvents(in, "b1.parquet", Seq((1L, base, 1L, "view")))
    val q = CdcRelay.start(spark, cfg, Trigger.ProcessingTime("200 milliseconds"))
    try {
      // first batch lands...
      val deadline = System.currentTimeMillis() + 30000
      def outCount(): Long =
        try spark.read.parquet(cfg.outputDir).count() catch { case _: Throwable => 0L }
      while (outCount() < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(outCount() == 1)
      // ...and a file arriving WHILE the query runs is picked up (the
      // poll loop, reference runner.go:126-169)
      writeEvents(in, "b2.parquet", Seq((2L, base + 1000000L, 1L, "click")))
      while (outCount() < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(outCount() == 2)
    } finally q.stop()
  }

  test("subject-partitioned sink lays out one directory per route") {
    val root = Files.createTempDirectory("relay6").toString
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val cfg = RelayConfig(in, s"$root/out", s"$root/chk",
      partitionBySubject = true)
    val base = 1700000000000000L
    writeEvents(in, "b1.parquet", Seq(
      (1L, base + 1000000L, 7L, "purchase"),
      (2L, base + 2000000L, 8L, "click")))
    CdcRelay.start(spark, cfg).awaitTermination()
    val dirs = new java.io.File(cfg.outputDir).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.contains("subject=tigerbeetle.cdc.7.purchase"), dirs.mkString(","))
    assert(dirs.contains("subject=tigerbeetle.cdc.8.click"), dirs.mkString(","))
    // restart validates the partitioned sink clean and relays nothing new
    CdcRelay.start(spark, cfg).awaitTermination()
    val out = spark.read.parquet(cfg.outputDir)
    assert(out.count() == 2)
    assert(out.columns.contains("subject"))
  }

  test("single-subject mode publishes every event to the constant subject") {
    // reference config.go:16-21, 155-162: subject-mode=single routes the
    // whole stream to one subject regardless of ledger/event type
    val root = Files.createTempDirectory("relay7").toString
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val cfg = RelayConfig(in, s"$root/out", s"$root/chk",
      subjectMode = "single", singleSubject = "tb.cdc.all")
    val base = 1700000000000000L
    writeEvents(in, "b1.parquet", Seq(
      (1L, base + 1000000L, 7L, "purchase"),
      (2L, base + 2000000L, 8L, "click"),
      (3L, base + 3000000L, 9L, "error")))
    CdcRelay.start(spark, cfg).awaitTermination()
    val subjects = spark.read.parquet(cfg.outputDir)
      .select("subject").distinct().collect().map(_.getString(0)).toSeq
    assert(subjects == Seq("tb.cdc.all"), subjects.mkString(","))
  }

  test("invalid config fails fast with the full mismatch list") {
    // never-provisioned paths live under this test's own temp sandbox:
    // a shared absolute path could pre-exist from another process and
    // fail the not-created assertion spuriously
    val never = s"${Files.createTempDirectory("relay-bad")}/never"
    val bad = RelayConfig("", s"$never/out", s"$never/chk",
      subjectMode = "fast", maxFilesPerTrigger = Some(0))
    val e = intercept[IllegalArgumentException](CdcRelay.start(spark, bad))
    Seq("inputDir", "subjectMode", "maxFilesPerTrigger").foreach { f =>
      assert(e.getMessage.contains(f), e.getMessage)
    }
    // nothing was provisioned before validation rejected the config
    assert(!new java.io.File(s"$never/out").exists())
  }

  test("maxFilesPerSecond ceiling bounds files admitted per epoch") {
    // A5 analog (reference runner.go:750-793): 1 file/sec at a 1s
    // trigger shrinks the 16-file batch cap to one file per epoch, so
    // per-epoch source reads are bounded by the ceiling
    val root = Files.createTempDirectory("relay8").toString
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val cfg = RelayConfig(in, s"$root/out", s"$root/chk",
      maxFilesPerTrigger = Some(16), idleIntervalMs = 1000,
      maxFilesPerSecond = Some(1.0))
    assert(cfg.effectiveMaxFilesPerTrigger == 1)
    val base = 1700000000000000L
    (0 until 3).foreach { i =>
      writeEvents(in, s"b$i.parquet",
        Seq((i.toLong, base + i * 1000000L, 1L, "view")))
    }
    CdcRelay.start(spark, cfg).awaitTermination()
    assert(spark.read.parquet(cfg.outputDir).count() == 3)
    // the pacing held: one committed epoch per admitted file
    val commits = new java.io.File(s"$root/chk/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits >= 3, s"expected >=3 epochs, got $commits")
  }

  test("a restart over a corrupted offset-log entry fails its checksum") {
    val root = Files.createTempDirectory("relay-crc").toString
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val cfg = RelayConfig(in, s"$root/out", s"$root/chk", maxFilesPerTrigger = Some(1))
    // the last file's event is the earliest, so the watermark stops
    // moving and no no-data epoch follows: the offset log ends at the
    // third data epoch
    Seq(10L, 20L, 5L).zipWithIndex.foreach { case (sec, i) =>
      writeEvents(in, s"b$i.parquet",
        Seq((i.toLong, 1700000000000000L + sec * 1000000L, 1L, "view")))
    }
    CdcRelay.start(spark, cfg).awaitTermination()
    // one digit of the last entry's source offset, the JSON still valid
    val offsets = new java.io.File(s"$root/chk/offsets")
    val last = offsets.listFiles().map(_.getName)
      .filter(_.forall(_.isDigit)).maxBy(_.toLong)
    assert(new java.io.File(offsets, s".$last.crc").exists)
    val entry = new java.io.File(offsets, last).toPath
    val text = Files.readString(entry)
    assert(text.contains("\"logOffset\":2"), text)
    Files.writeString(entry, text.replace("\"logOffset\":2", "\"logOffset\":1"))
    val e = intercept[Exception] {
      CdcRelay.start(spark, cfg).awaitTermination()
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]), e)
  }

  test("restart with no new input produces no new output") {
    val root = Files.createTempDirectory("relay2").toString
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val cfg = RelayConfig(in, s"$root/out", s"$root/chk")
    writeEvents(in, "b1.parquet", Seq((1L, 1700000000000000L, 1L, "view")))
    CdcRelay.start(spark, cfg).awaitTermination()
    CdcRelay.start(spark, cfg).awaitTermination() // idle restart
    assert(spark.read.parquet(cfg.outputDir).count() == 1)
  }

  test("A18 lease: a second relay on the same checkpoint fails fast naming the holder") {
    val root = Files.createTempDirectory("relay3").toString
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val cfg = RelayConfig(in, s"$root/out", s"$root/chk",
      singleWriterLease = true)
    writeEvents(in, "b1.parquet", Seq((1L, 1700000000000000L, 1L, "view")))
    // long-running trigger so the lease is held while we probe
    val q = CdcRelay.start(spark, cfg,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
    try {
      q.processAllAvailable()
      val err = intercept[IllegalStateException] {
        CdcRelay.start(spark, cfg.copy(clusterId = "intruder"))
      }
      assert(err.getMessage.contains("already held"), err.getMessage)
      assert(err.getMessage.contains("graft-relay/graft"), err.getMessage)
      // the refreshLoop analog rides progress AND idle triggers: with
      // no new input the stream goes idle, and the lease revision must
      // still advance — a quiet relay may never be stale-broken
      // refresh overwrites the file in place, so a concurrent read may
      // see truncated/absent content — treat that as "not yet" and keep
      // polling rather than crashing the test
      def revision(): Long =
        try {
          val raw = new String(java.nio.file.Files.readAllBytes(
            new java.io.File(s"$root/chk",
              graft.streaming.CheckpointLease.LeaseFile).toPath))
          """"revision":(\d+)""".r.findFirstMatchIn(raw)
            .map(_.group(1).toLong).getOrElse(-1L)
        } catch { case _: java.io.IOException => -1L }
      val r0 = revision()
      val deadline0 = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (revision() <= r0 && System.nanoTime() < deadline0)
        Thread.sleep(100)
      assert(revision() > r0, "lease revision must advance on idle triggers")
    } finally q.stop()
    // termination releases the lease (listener fires async); a restart
    // must then succeed
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (new java.io.File(s"$root/chk",
        graft.streaming.CheckpointLease.LeaseFile).exists() &&
      System.nanoTime() < deadline) Thread.sleep(100)
    CdcRelay.start(spark, cfg).awaitTermination()
    assert(spark.read.parquet(cfg.outputDir).count() == 1)
  }

  test("a sink given as a file: URI keeps its rows across a restart") {
    // the sink probe must see through the URI: read as Absent, the
    // provisioning overwrite would wipe the first run's output
    val root = Files.createTempDirectory("relay-uri").toString
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val cfg = RelayConfig(in, new java.io.File(s"$root/out").toURI.toString,
      s"$root/chk")
    assert(cfg.outputDir.startsWith("file:"))
    val base = 1700000000000000L
    writeEvents(in, "b1.parquet", Seq(
      (1L, base + 1000000L, 7L, "purchase"),
      (2L, base + 2000000L, 8L, "click")))
    CdcRelay.start(spark, cfg).awaitTermination()
    assert(spark.read.parquet(cfg.outputDir).count() == 2)
    writeEvents(in, "b2.parquet", Seq((3L, base + 3000000L, 9L, "error")))
    CdcRelay.start(spark, cfg).awaitTermination()
    val ids = spark.read.parquet(cfg.outputDir).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), ids.mkString(","))
  }

  test("a trigger of more than 32 files lists them without a Spark job") {
    import org.apache.spark.metrics.source.HiveCatalogMetrics
    import org.apache.spark.graft.ListenerBusProbe
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.graftbridge.DatasetBridge
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = Files.createTempDirectory("relay-list").toString
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val files = 40
    writeManyEvents(in, files, 1700000000000000L)
    val thresholdKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val confBefore = spark.conf.getAll
    assert(confBefore.get(thresholdKey).forall(_.toInt < files))
    // every epoch's progress still reaches the caller's spark.streams
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        progress.add(e.progress.batchId); ()
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val sc = spark.sparkContext
    try {
      val listings =
        HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount
      CdcRelay.start(spark, RelayConfig(in, s"$root/out0", s"$root/chk0"))
        .awaitTermination()
      assert(HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount ==
        listings, "the file source launched a parallel listing job")
      assert(spark.read.parquet(s"$root/out0").count() == files)
      ListenerBusProbe.drain(sc)
      val committed = new java.io.File(s"$root/chk0/commits").listFiles()
        .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).toSet
      import scala.jdk.CollectionConverters._
      assert(committed.nonEmpty && progress.asScala.toSet == committed,
        s"progress ${progress.asScala.mkString(",")} vs commits " +
          committed.mkString(","))
      // the caller's conf is untouched
      assert(spark.conf.getAll == confBefore)
      // the source session registers nothing that outlives the query.
      // A stateful query's own session clone already leaves one listener
      // on the bus per start (its state store coordinator's query
      // manager), so the relay is held to a plain stateful stream over
      // the same input. Both start on a session without query execution
      // listeners: each clone of a session with such listeners registers
      // a bus until the clone is garbage collected, so counts would
      // depend on GC timing. Listeners removed meanwhile do not count.
      val caller = spark.newSession()
      caller.streams.active // its own query manager registers up front
      def added(start: Int => Any): Int = {
        ListenerBusProbe.drain(sc)
        val before = ListenerBusProbe.listeners(sc)
        (1 to 5).foreach(start)
        ListenerBusProbe.drain(sc)
        (ListenerBusProbe.listeners(sc) -- before).size
      }
      val plain = added { i =>
        caller.readStream.schema(CdcRelay.inputSchema).parquet(in)
          .withWatermark("ts", "2 minutes")
          .dropDuplicatesWithinWatermark("event_id")
          .writeStream.format("noop")
          .option("checkpointLocation", s"$root/plain$i")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      }
      assert(added { i =>
        CdcRelay.start(caller, RelayConfig(in, s"$root/out$i", s"$root/chk$i"))
          .awaitTermination()
      } == plain)
      // the source session copies none of the caller's query execution
      // listeners, so it never registers a bus of its own
      caller.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = ()
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      })
      assert(added(_ => DatasetBridge.confClone(caller)) == 0)
    } finally spark.streams.removeListener(listener)
  }

  // checkpoint, sink part, committer and _SUCCESS files alike
  test("a drain into a file: checkpoint forks no process for its checkpoint files") {
    import graft.io.LocalFs
    import org.apache.hadoop.fs.{FileSystem, FsConstants}
    val root = Files.createTempDirectory("relay-forks").toString
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    writeManyEvents(in, 40, 1700000000000000L)
    val chk = new java.io.File(s"$root/chk").toURI.toString
    // as in a session built elsewhere: Hadoop's file: FileSystem is
    // cached before set-up runs
    ProcessStarts.cacheHadoopFileSystem(spark)
    val starts = ProcessStarts.during {
      CdcRelay.start(spark, RelayConfig(in, s"$root/out", chk))
        .awaitTermination()
    }
    assert(spark.read.parquet(s"$root/out").count() == 40)
    val viaRaw = starts.filter(ProcessStarts.hasFrame(_, "RawLocalFileSystem"))
    assert(viaRaw.isEmpty,
      s"${viaRaw.size} process starts under a RawLocalFileSystem")
    // Spark's checkpoint checksums and Hadoop's .crc sidecars stay on
    val state = new java.io.File(s"$root/chk/state/0/0").list().toSet
    assert(state.contains("1.delta.crc"), state.mkString(","))
    assert(state.contains(".1.delta.crc"), state.mkString(","))
    val (noCrc, parts) = ProcessStarts.withoutCrc(s"$root/out")
    assert(parts > 0 && noCrc.isEmpty, noCrc.mkString(","))
    assert(new java.io.File(s"$root/out/_SUCCESS").exists)
    // set-up is idempotent and keeps an explicit choice
    val conf = spark.sparkContext.hadoopConfiguration
    def cached = FileSystem.get(FsConstants.LOCAL_FS_URI, conf)
    val installed = cached
    val fsImpl = conf.get("fs.file.impl")
    assert(conf.get(LocalFs.ImplKey) == classOf[LocalFs].getName)
    Session.setup(spark)
    assert(conf.get(LocalFs.ImplKey) == classOf[LocalFs].getName)
    assert(conf.get("fs.file.impl") == fsImpl && (cached eq installed))
    val explicit = "org.apache.hadoop.fs.local.RawLocalFs"
    val explicitFs = "org.apache.hadoop.fs.LocalFileSystem"
    conf.set(LocalFs.ImplKey, explicit)
    conf.set("fs.file.impl", explicitFs)
    try {
      Session.setup(spark)
      assert(conf.get(LocalFs.ImplKey) == explicit)
      assert(conf.get("fs.file.impl") == explicitFs && (cached eq installed))
    } finally {
      conf.set(LocalFs.ImplKey, classOf[LocalFs].getName)
      conf.set("fs.file.impl", fsImpl)
    }
  }
}

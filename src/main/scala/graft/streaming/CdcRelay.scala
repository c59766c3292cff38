package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.functions.CdcFunctions._

/** The reference's CDC relay (SURVEY.md §2 A1-A16, §3) as a Structured
  * Streaming pipeline:
  *
  *   - A1/A2/A3 ordered scan + resume offset → file streaming source with
  *     the checkpoint's file log as the progress record; a restart
  *     resumes exactly where the last committed epoch left off.
  *   - A4/A5 idle throttle + rate limit → trigger pacing +
  *     `maxFilesPerTrigger`.
  *   - A6-A12 encode/route → the same codegen'd column expressions as the
  *     batch path (one code path, two execution modes).
  *   - A13 broker dedup window → `dropDuplicatesWithinWatermark` keyed by
  *     the deterministic msg-id, bounded by the same 2-minute default
  *     (reference config.go:39).
  *   - A14-A16 publish + ack barrier + chunked checkpoint → `foreachBatch`:
  *     the batch write is the publish, its completion the ack barrier, and
  *     the epoch commit the progress write. Crash between write and
  *     commit ⇒ replay ⇒ at-least-once, deduped downstream — exactly the
  *     reference's contract (README.md:55-61).
  *
  * The sink writes parquet rather than NATS (zero-egress environment —
  * SURVEY.md §7.3); the envelope columns carry subject/headers/msg-id so
  * a broker sink is a drop-in `foreachBatch` replacement.
  */
object CdcRelay {

  /** Relay configuration (the Spark analog of reference config.go).
    *
    * A19: [[RelayConfig.validate]] mirrors the reference's parse-time
    * cross-validation (config.go:164-371): every violated range/enum is
    * reported — the FULL mismatch list, not just the first — and
    * [[RelayConfig.validated]] fails fast with actionable messages
    * before any stream state is touched. [[CdcRelay.start]] always
    * validates.
    */
  final case class RelayConfig(
      inputDir: String,
      outputDir: String,
      checkpointDir: String,
      /** A10 routing mode (reference config.go:16-21): `structured`
        * derives `<prefix>.<ledger>.<event_type>` per event; `single`
        * publishes everything to [[singleSubject]].
        */
      subjectMode: String = "structured",
      subjectPrefix: String = "tigerbeetle.cdc",
      /** Constant subject used when `subjectMode = single` (reference
        * `--subject`, config.go:39).
        */
      singleSubject: String = "tigerbeetle.cdc",
      clusterId: String = "graft",
      dedupeWindow: String = "2 minutes",
      /** A5 batch-size cap (reference `--event-count-max`): max input
        * files admitted per micro-batch. `None` (the default) means
        * "profile-appropriate": [[start]] resolves it to the tuned
        * drain setting [[RelayConfig.DrainMaxFilesPerTrigger]] from the
        * measured batch-size→throughput curve (SCALING.md §Relay: each
        * trigger pays a fixed cost outside its `addBatch` — planning
        * ~35 ms, offset, WAL and commit at ~4-7 ms each, ~0.09 s in
        * all on the perfbench `relay_drain` trace, down from ~0.32 s
        * while every checkpoint file forked `chmod` and `readlink`
        * processes (see [[graft.io.LocalFs]]) — so throughput
        * scales with events-per-trigger until executor parallelism
        * saturates; 256 files kept the sf1 drain at 163-184k events/s
        * vs 52k at 32), while [[startContinuous]] resolves it to the
        * reference's latency-oriented batching analog
        * [[RelayConfig.LiveMaxFilesPerTrigger]] via
        * [[RelayConfig.liveProfile]]. `Some(n)` — ANY n, including
        * 256 — is the operator's explicit choice and is never swapped
        * (an Int field couldn't distinguish an explicit 256 from the
        * unset default, which silently gave such a caller 8). At any
        * cap the source lists a trigger's admitted files in the driver
        * (see [[CdcRelay.start]]'s source session), never with a
        * Spark job of one task per file.
        */
      maxFilesPerTrigger: Option[Int] = None,
      /** A4 idle throttle (reference `--idle-interval-ms`): the pacing
        * interval of the poll loop. Used as the processing-time trigger
        * period by [[startContinuous]] and as the denominator of the
        * [[maxFilesPerSecond]] ceiling.
        */
      idleIntervalMs: Long = 1000L,
      /** A5 explicit request-rate ceiling (reference
        * `--requests-per-second-limit`, runner.go:750-793): upper bound
        * on source file reads per second. Enforced by shrinking the
        * per-trigger file cap to `floor(limit × idleInterval)` (min 1),
        * so a relay triggered every [[idleIntervalMs]] never issues
        * more than this many reads/sec. Unset = unlimited.
        */
      maxFilesPerSecond: Option[Double] = None,
      provision: Boolean = true,
      /** Partition the sink by routing subject — the file-sink analog of
        * per-subject NATS streams (A10's routing key as physical
        * layout): consumers of one subject read one directory subtree.
        */
      partitionBySubject: Boolean = false,
      /** Test failpoint: if set, the FIRST epoch written after this flag
        * file is absent crashes the query after the sink write but
        * before the epoch commit — the replay window of the at-least-
        * once contract (reference README.md:55-61).
        */
      crashOnceAfterWrite: Option[String] = None,
      /** A18 single-writer lease (reference runner.go:607-724): when
        * true, [[start]] acquires an advisory [[CheckpointLease]] on
        * the checkpoint dir BEFORE the stream starts — a second driver
        * pointed at the same dir fails fast at startup naming the
        * holder, instead of at its first offset-commit conflict. The
        * lease auto-releases on query termination. Off by default:
        * Spark's one-query-per-checkpoint model already guarantees the
        * invariant (SURVEY §1.1); the lease adds the reference's
        * diagnostics.
        */
      singleWriterLease: Boolean = false,
      /** A2 resume override (reference `--timestamp-last`,
        * config.go:215): relay only events with raw timestamp STRICTLY
        * greater than this nanosecond value, regardless of checkpoint
        * state — the operator's manual-rewind/skip-ahead lever. The
        * checkpoint still governs which FILES replay; this filter
        * bounds which EVENTS pass.
        */
      timestampLast: Option[Long] = None) {

    /** Every config violation (empty = valid). Messages mirror the
      * reference's (config.go:164-371): named field, expected range.
      */
    def validate: Seq[String] = {
      val b = Seq.newBuilder[String]
      if (inputDir.trim.isEmpty) b += "inputDir must not be empty"
      if (outputDir.trim.isEmpty) b += "outputDir must not be empty"
      if (checkpointDir.trim.isEmpty) b += "checkpointDir must not be empty"
      if (clusterId.trim.isEmpty) b += "clusterId must not be empty"
      if (!RelayConfig.isPositiveDuration(dedupeWindow))
        b += "dedupeWindow must be a positive duration like '2 minutes'"
      maxFilesPerTrigger.foreach { m =>
        if (m < 1) b += s"maxFilesPerTrigger must be >= 1 (got $m)"
      }
      if (idleIntervalMs <= 0)
        b += s"idleIntervalMs must be greater than zero (got $idleIntervalMs)"
      maxFilesPerSecond.foreach { r =>
        if (!(r > 0))
          b += s"maxFilesPerSecond must be greater than zero (got $r)"
      }
      timestampLast.foreach { t =>
        if (t < 0) b += s"timestampLast must be non-negative (got $t)"
      }
      subjectMode match {
        case "structured" =>
          if (subjectPrefix.isEmpty)
            b += "subjectPrefix cannot be empty in structured mode"
        case "single" =>
          if (singleSubject.isEmpty)
            b += "singleSubject cannot be empty in single mode"
        case other =>
          b += s"subjectMode must be one of: structured, single (got '$other')"
      }
      b.result()
    }

    /** Normalized copy (trimmed mode/prefix/subject, reference
      * config.go:293-307), or an IllegalArgumentException carrying the
      * FULL mismatch list.
      */
    def validated: RelayConfig = {
      val norm = copy(
        subjectMode = subjectMode.trim.toLowerCase,
        subjectPrefix = subjectPrefix.trim.replaceAll("\\.+$", ""),
        singleSubject = singleSubject.trim)
      val errs = norm.validate
      if (errs.nonEmpty) throw new IllegalArgumentException(
        "invalid relay config:\n  " + errs.mkString("\n  "))
      norm
    }

    /** Effective per-trigger file cap once the unset default resolves
      * (to the drain profile — [[RelayConfig.liveProfile]] has already
      * filled in the live cap on the [[CdcRelay.startContinuous]] path
      * by the time this is read) and the rate ceiling applies. Floors
      * at 1 file per trigger: ceilings below one file per idle
      * interval need a longer [[idleIntervalMs]], not a zero cap.
      */
    private[graft] def effectiveMaxFilesPerTrigger: Int = {
      val cap = maxFilesPerTrigger.getOrElse(RelayConfig.DrainMaxFilesPerTrigger)
      maxFilesPerSecond match {
        case Some(rps) =>
          math.min(cap,
            math.max(1, math.floor(rps * idleIntervalMs / 1000.0).toInt))
        case None => cap
      }
    }
  }

  object RelayConfig {
    /** The case-class trigger-cap default, tuned for DRAIN throughput
      * (batch-size→throughput curve, SCALING.md §Relay).
      */
    val DrainMaxFilesPerTrigger: Int = 256

    /** Latency-profile trigger cap for LIVE relays: ~4k events/file in
      * the driver corpora makes 8 files per trigger the same order as
      * the reference's latency-oriented `--event-count-max` default of
      * 4096 events/poll (config.go:40) while still amortizing the
      * per-trigger fixed cost over a few files.
      */
    val LiveMaxFilesPerTrigger: Int = 8

    /** Fill the unset trigger cap with the latency profile. Only the
      * untouched default (`None`) is filled: a caller who explicitly
      * chose ANY cap — including `Some(256)`, which an Int field could
      * not tell apart from the drain default — keeps it.
      */
    def liveProfile(cfg: RelayConfig): RelayConfig =
      if (cfg.maxFilesPerTrigger.isEmpty)
        cfg.copy(maxFilesPerTrigger = Some(LiveMaxFilesPerTrigger))
      else cfg

    /** True iff `s` is a strictly positive interval — parsed with the
      * SAME parser `withWatermark` uses (`IntervalUtils
      * .fromIntervalString`), so validation accepts exactly the grammar
      * the stream accepts ('1 week', '2 minutes 30 seconds', …) instead
      * of a narrower hand-rolled regex rejecting valid configs.
      * Components must individually be non-negative (mirroring
      * `withWatermark`'s own delay check) and at least one positive.
      */
    private[streaming] def isPositiveDuration(s: String): Boolean =
      try {
        val ci = org.apache.spark.sql.catalyst.util.IntervalUtils
          .fromIntervalString(s)
        ci.months >= 0 && ci.days >= 0 && ci.microseconds >= 0 &&
          (ci.months > 0 || ci.days > 0 || ci.microseconds > 0)
      } catch { case _: Exception => false }
  }

  /** Input schema — the `events` stream shape (FIXTURES.md §B). */
  val inputSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The per-event transform — literally the same projection as the
    * batch envelope query (CdcFunctions.envelopeProjection), so batch
    * and streaming outputs cannot drift.
    */
  def transform(df: DataFrame, cfg: RelayConfig): DataFrame =
    envelopeProjection(df, cfg.subjectPrefix, cfg.clusterId,
      cfg.subjectMode, cfg.singleSubject)

  /** Envelope (output) schema, for sink provisioning/validation. */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("msg_id", StringType),
    StructField("subject", StringType),
    StructField("h_content_type", StringType),
    StructField("h_event_type", StringType),
    StructField("h_ledger", StringType),
    StructField("h_transfer_code", StringType),
    StructField("h_debit_account_code", StringType),
    StructField("h_credit_account_code", StringType),
    StructField("body", StringType)))

  /** The session the file source is created under. `FileStreamSource`
    * rebuilds a file index over each trigger's admitted files on every
    * `getBatch`, with the conf of the session that created the source;
    * above `parallelPartitionDiscovery.threshold` paths (32 by default)
    * that index lists them with a Spark job of one task per file. A
    * private copy of `spark`'s conf whose threshold covers the
    * per-trigger cap lists them in the driver instead. Only the source
    * lives in the copy, which carries none of `spark`'s listeners: the
    * query, `spark.streams` and its listeners stay on `spark`, whose
    * conf is untouched. The copy is taken when the relay starts, so
    * later conf changes on `spark` do not reach the source.
    */
  private def sourceSession(spark: SparkSession, cfg: RelayConfig): SparkSession = {
    val clone = DatasetBridge.confClone(spark)
    val key = SQLConf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD.key
    val cap = cfg.effectiveMaxFilesPerTrigger.toLong
    if (clone.conf.get(key).toLong < cap) clone.conf.set(key, cap)
    clone
  }

  /** Start the relay. `Trigger.AvailableNow` drains everything currently
    * in the input dir and stops — the batch-mode analog of the
    * reference's poll loop, and what the resume test uses; pass a
    * processing-time trigger for a long-running relay.
    */
  def start(spark: SparkSession, rawCfg: RelayConfig,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    graft.Session.setup(spark)
    // A19 pre-flight: reject an invalid config with the full mismatch
    // list before any stream state is touched
    val cfg = rawCfg.validated
    // A17 pre-flight: create-or-validate the sink before starting; a
    // divergent sink aborts with the full mismatch list
    val partCols = if (cfg.partitionBySubject) Seq("subject") else Nil
    SinkProvisioner.ensure(spark,
      SinkProvisioner.SinkSpec(cfg.outputDir, envelopeSchema,
        partitionColumns = partCols), cfg.provision)
    // A18: fail fast (naming the holder) if another cooperating driver
    // already owns this checkpoint dir
    val lease =
      if (cfg.singleWriterLease)
        Some(CheckpointLease.acquire(spark, cfg.checkpointDir,
          version = s"graft-relay/${cfg.clusterId}"))
      else None
    val in = DatasetBridge.ofRows(spark,
      DatasetBridge.analyzedPlan(sourceSession(spark, cfg).readStream
        .schema(inputSchema)
        // A5: the rate ceiling shrinks the per-trigger admission cap
        .option("maxFilesPerTrigger", cfg.effectiveMaxFilesPerTrigger)
        .parquet(cfg.inputDir)))
    // A2 override: strict > on the event timestamp (reference resumes
    // from last+1); ts is micros here, the flag value raw nanos
    val bounded = cfg.timestampLast.fold(in) { ns =>
      in.filter(col("ts") > timestamp_micros(lit(ns / 1000L)))
    }
    val enveloped = transform(bounded, cfg)
      .withWatermark("ts", cfg.dedupeWindow)
      .dropDuplicatesWithinWatermark("msg_id")
    val query =
      try enveloped.writeStream
        .option("checkpointLocation", cfg.checkpointDir)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, epochId: Long) =>
          // publish (write) → ack barrier (write completes) → progress
          // (epoch commit, done by the engine after this returns)
          val writer = batch.write.mode("append")
          (if (cfg.partitionBySubject) writer.partitionBy("subject") else writer)
            .parquet(cfg.outputDir)
          cfg.crashOnceAfterWrite.foreach { flag =>
            val f = new java.io.File(flag)
            if (!f.exists()) {
              f.createNewFile()
              throw new RuntimeException(
                s"injected crash after sink write, before commit of epoch $epochId")
            }
          }
          ()
        }
        .start()
      catch { case e: Throwable => lease.foreach(_.release()); throw e }
    lease.foreach { l =>
      // keep the lease fresh on every trigger — progress AND idle (the
      // reference's refreshLoop): a holder that stops refreshing goes
      // stale and a restarted driver takes over after the TTL. A
      // refresh failure means the lease was lost — stop the run, like
      // runner.go:130-131.
      StreamLifecycle.onActivity(spark, query)(
        () => { l.refresh(); () },
        _ => try query.stop() catch { case _: Exception => () })
      StreamLifecycle.onTerminated(spark, query)(() => l.release())
    }
    query
  }

  /** Long-running relay paced by the configured idle interval (A4): one
    * micro-batch every `idleIntervalMs`. Combined with the A5 ceiling
    * this bounds source reads to `maxFilesPerSecond` — the poll-loop +
    * sliding-window-limiter pair of the reference (runner.go:126-169,
    * 750-793) expressed as trigger pacing + per-trigger admission.
    * The drain-tuned trigger cap does NOT carry over: a live relay
    * left at the default gets [[RelayConfig.liveProfile]]'s
    * latency-oriented batch size (reference `--event-count-max` 4096,
    * config.go:40) instead of the 256-file (~1M-event) drain batches.
    */
  def startContinuous(spark: SparkSession, cfg: RelayConfig): StreamingQuery =
    start(spark, RelayConfig.liveProfile(cfg),
      Trigger.ProcessingTime(cfg.idleIntervalMs))
}

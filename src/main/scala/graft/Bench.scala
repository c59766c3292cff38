package graft
import org.apache.spark.sql.SparkSession
object Bench {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-query bench outcome. `err` is the first failure message across
    * the reps — a failed query must be marked in the artifact, not
    * recorded as a plausible (fast) wall time (CORRECTNESS would catch
    * the breakage separately, but the bench must self-mark).
    */
  final case class QueryTiming(median: Double, min: Double, err: Option[String])

  /** Run each query `reps` times through the noop sink and record
    * median + min + first error. Factored out of `main` so a spec can
    * inject a throwing query and assert the artifact marks it.
    */
  def timeQueries(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
      reps: Int,
      betweenBlocks: () => Unit = () => ()): Seq[(String, QueryTiming)] = {
    def timeOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // isolate measurements: a staged query must not tax its
      // successors with leftover cache entries / cleaner backlog
      // (round-4 bench: untouched queries 2-8x slower downstream of
      // the dedup family). clearCache is a no-op when queries release
      // their own staging (Stage.fanout does), but guards the timing
      // against any future leak; the GC nudges the ContextCleaner to
      // reclaim unreachable checkpoint/shuffle state between runs.
      spark.catalog.clearCache()
      System.gc()
      (dt, err)
    }
    val probe = org.apache.spark.graft.CleanerProbe
      .attach(spark.sparkContext)
    queries.zipWithIndex.map { case ((name, fn), i) =>
      if (i % 25 == 24) betweenBlocks()
      val gc0 = org.apache.spark.graft.CleanerProbe.gcMillis
      val cl0 = probe.map(_.total).getOrElse(0L)
      val runs = (1 to reps).map(_ => timeOnce(name, fn))
      val times = runs.map(_._1)
      // one diagnosis line per query: when a sweep later shows a
      // contiguous slow WINDOW (r19 sweep A: 11 consecutive queries
      // 2-6x slow, every rep, control spiked once — a host stall the
      // 25-query control cadence undersamples), the log distinguishes
      // host stalls (flat gc/cleanups, inflated wall) from JVM/cleaner
      // pathology (gc or cleanup counts spiking with the wall)
      System.err.println(String.format(java.util.Locale.ROOT,
        "[bench] %s min %.2f s median %.2f s (gc %d ms, cleanups %d over %d reps)",
        name, times.min.asInstanceOf[AnyRef],
        median(times).asInstanceOf[AnyRef],
        (org.apache.spark.graft.CleanerProbe.gcMillis - gc0)
          .asInstanceOf[AnyRef],
        (probe.map(_.total).getOrElse(0L) - cl0).asInstanceOf[AnyRef],
        reps.asInstanceOf[AnyRef]))
      name -> QueryTiming(median(times), times.min, runs.flatMap(_._2).headOption)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // shuffle partitions default to the thread count (the benchmark
    // shape), but the LOWMEM tier raises them independently: per-task
    // aggregation state shrinks ∝ partitions, which is the knob a
    // memory-constrained cluster actually turns (more, smaller tasks —
    // not fewer cores). Measured at the sf10-docs decade under 2 GiB:
    // 8 threads × 8 partitions OOMs the pair stages nondeterministically,
    // 8 threads × 64 partitions completes (see SCALING.md round 17).
    val spark = Session.local("graft-bench",
      shufflePartitions = sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt))
    // Spill accounting: the low-memory runs (SCALING.md) must SHOW that
    // constrained heaps exercise the spill paths rather than silently
    // fitting in memory — total spill bytes ride the artifact.
    val memSpilled = new java.util.concurrent.atomic.AtomicLong
    val diskSpilled = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          Option(t.taskMetrics).foreach { m =>
            memSpilled.addAndGet(m.memoryBytesSpilled): Unit
            diskSpilled.addAndGet(m.diskBytesSpilled): Unit
          }
      })
    // Uncounted warmup: absorb JVM/codegen/file-index startup so the
    // first measured query isn't charged ~4s of session initialization.
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet").limit(10)
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    // Execute through the noop sink: count() would let Catalyst prune
    // the very projections being measured (e.g. the JSON envelope);
    // noop forces every output column to be computed and discarded.
    // SPARK_GRAFT_ONLY=comma,separated,names — iterate on a subset
    // without paying the full sweep (local tuning loop only; the
    // driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty) // empty/blank env var means "no filter"
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // Median-of-N timing: a single-shot artifact swung 1.23x-4x between
    // rounds on byte-identical code, so every query runs `reps` times
    // and the MEDIAN is the recorded figure (min kept alongside — the
    // best observed run is the least-noise estimate of the plan cost).
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
    // No-op control: a FIXED tiny workload timed at intervals across
    // the sweep. Its spread measures the ENVIRONMENT's noise floor
    // during this run — a per-query regression smaller than the
    // control's relative spread is not evidence of anything.
    val controlTimes = scala.collection.mutable.ArrayBuffer[Double]()
    def control(): Unit = {
      // each observation is itself a median-of-3 so the recorded spread
      // reflects sustained environment drift, not single-run jitter
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        try spark.read.parquet(s"$sfDir/lineitem.parquet")
          .limit(5000).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
        (System.nanoTime() - t0) / 1e9
      }
      controlTimes += median(runs)
    }
    control(); controlTimes.clear() // first run absorbs cold file-index cost
    control()
    val timed = timeQueries(spark, sfDir, selected, reps, () => control())
    control()
    val results = timed.map { case (n, t) => n -> t.median }.toMap
    val resultsMin = timed.map { case (n, t) => n -> t.min }.toMap
    val errors = timed.collect { case (n, QueryTiming(_, _, Some(e))) => n -> e }.toMap
    val ctl = controlTimes.toSeq
    val ctlMedian = median(ctl)
    val ctlSpread = if (ctl.nonEmpty && ctlMedian > 0)
      (ctl.max - ctl.min) / ctlMedian else 0.0

    // Locale.ROOT everywhere a number is formatted: under a
    // comma-decimal default locale the emitted JSON would be unparseable
    def num(v: Double, decimals: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${decimals}f", v)
    def jsonMap(m: Map[String, Double], decimals: Int): String =
      m.toSeq.sortBy(_._1).map { case (k, v) =>
        "\"" + k + "\":" + num(v, decimals)
      }.mkString("{", ",", "}")
    val qs = jsonMap(results, 6)
    val qsMin = jsonMap(resultsMin, 6)
    // Loud noise gate: when the fixed control workload's relative
    // spread exceeds ~1.5 the ENVIRONMENT was unstable during the sweep
    // (round 11's driver run hit 1.76 and manufactured phantom 1.5-3.5×
    // "regressions" on sub-second queries) — flag it in the artifact so
    // per-query deltas from this run are read against the noise floor,
    // not as plan regressions.
    val noiseExceeded = ctlSpread > 1.5
    if (noiseExceeded)
      System.err.println(s"[bench] WARNING noise_exceeded: control " +
        s"rel_spread ${num(ctlSpread, 2)} > 1.5 — per-query deltas from " +
        "this sweep are not evidence of plan regressions")
    val noiseJson =
      s"""{"control_runs":${ctl.size},"control_min":${num(if (ctl.isEmpty) 0 else ctl.min, 6)},"control_median":${num(ctlMedian, 6)},"control_max":${num(if (ctl.isEmpty) 0 else ctl.max, 6)},"rel_spread":${num(ctlSpread, 4)},"noise_exceeded":$noiseExceeded}"""
    // headline = a FIXED representative subset, stable across rounds, so
    // the recorded baseline stays comparable as the inventory grows;
    // per-query times for everything remain in "queries"
    val headline = Seq(
      "cdc_envelope", "cdc_full_event_json", "cdc_dedup_exact",
      "rel_agg_pricing", "rel_join3", "rel_snowflake_join",
      "rel_rank_window", "rel_time_window", "rel_asof_join",
      "dedup_minhash_sig", "dedup_neardup_pairs",
      "vec_knn_bruteforce", "vec_lsh_ann",
      "text_stats", "text_top_terms")
    val missingHeadline = headline.filterNot(results.contains)
    if (missingHeadline.nonEmpty)
      System.err.println(
        s"[bench] WARNING: headline queries missing from registry: " +
          missingHeadline.mkString(", "))
    val total = headline.flatMap(results.get).sum
    val totalAll = if (results.nonEmpty) results.values.sum else 0.0
    // The driver keeps only the LAST ~2000 chars of output and parses
    // the final JSON line. With 100+ queries the full per-query map
    // alone exceeds that window (r3-r5 all recorded "parsed": null), so:
    //  1. the full-precision detail line prints FIRST (head-truncated
    //     in the driver artifact, complete in local logs),
    //  2. the full results are also written to bench_full.json in the
    //     repo root for post-hoc per-query comparison,
    //  3. the FINAL line is a compact, complete JSON summary — totals
    //     plus the fixed 15-query headline map at 3 decimals — sized to
    //     survive the tail window with room for sbt's own trailer lines.
    // Streaming perf is otherwise invisible to the bench artifact: run
    // the full relay pipeline (scan → envelope → dedup → sink with
    // epoch commits) over the sf events table staged as ~4096-event
    // files (one file ≈ one reference source batch) and record
    // events/sec alongside the query timings. SPARK_GRAFT_RELAY=0
    // skips it in local single-query tuning loops.
    // (events relayed, events staged, per-rep eps) — relayed != staged
    // means the watermark dropped events, which must be visible in the
    // artifact, not silently folded into a low eps. Round 19: the relay
    // joins the same median-over-reps honesty contract as every other
    // number (the official r18 artifact recorded a single-shot 5,882
    // ev/s against 17.4k-24.1k in the round's four other sweeps — one
    // co-residency-hit run masquerading as a relay regression); one
    // uncounted warmup absorbs the stream-plan codegen cost, then
    // SPARK_GRAFT_RELAY_REPS (default 3) counted runs over the SAME
    // staged input with fresh out/chk dirs per rep.
    val (relayedEvents, stagedEvents, relayRates): (Long, Long, Seq[Double]) =
      if (sys.env.get("SPARK_GRAFT_RELAY").contains("0")) (0L, 0L, Nil)
      else try {
        val root = java.nio.file.Files.createTempDirectory("bench-relay").toString
        // event-time-ordered staging (file i = i-th ts range): see
        // Stage.stageOrdered
        val (nEv, _) = graft.Stage.stageOrdered(
          graft.Tables.events(spark, sfDir), "ts", 4096, s"$root/in")
        // Per-trigger file cap: the RelayConfig DEFAULT is the tuned
        // drain setting (256 files/trigger — the measured curve lives
        // in SCALING.md §Relay), so the committed artifact benches the
        // configuration a user gets out of the box. The curve itself is
        // swept with `graft.tools.Probe relay-throughput`'s cap argument.
        val relayReps = math.max(1,
          sys.env.getOrElse("SPARK_GRAFT_RELAY_REPS", "3").toInt)
        // relay_events records the MINIMUM delivered count over the
        // counted reps (ADVICE r19): a watermark drop in ANY counted
        // rep must be visible in the artifact, not silently folded
        // because a later rep delivered everything
        var minRelayed = Long.MaxValue
        val rates = (0 to relayReps).flatMap { rep =>
          val counted = rep > 0 // rep 0 = uncounted plan/codegen warmup
          val cfg = graft.streaming.CdcRelay.RelayConfig(
            s"$root/in", s"$root/out$rep", s"$root/chk$rep")
          val t0 = System.nanoTime()
          graft.streaming.CdcRelay.start(spark, cfg).awaitTermination()
          val secs = (System.nanoTime() - t0) / 1e9
          val relayed = spark.read.parquet(s"$root/out$rep").count()
          if (relayed != nEv)
            System.err.println(
              s"[bench] relay rep $rep delivered $relayed of $nEv staged")
          System.err.println(String.format(java.util.Locale.ROOT,
            "[bench] relay rep %d: %.1f events/s%s",
            rep.asInstanceOf[AnyRef],
            (relayed / secs).asInstanceOf[AnyRef],
            if (counted) "" else " (uncounted warmup)"))
          if (counted) { minRelayed = math.min(minRelayed, relayed)
            Some(relayed / secs) } else None
        }
        graft.Stage.deleteRecursively(new java.io.File(root))
        (if (minRelayed == Long.MaxValue) 0L else minRelayed, nEv, rates)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] relay throughput failed: ${e.getMessage}")
        (0L, 0L, Nil)
      }
    val relayEps = if (relayRates.isEmpty) 0.0 else median(relayRates)
    val relaySpread =
      if (relayRates.size >= 2 && relayRates.min > 0)
        relayRates.max / relayRates.min
      else Double.NaN
    // Stateful-stream metrics: drive the five stateful streams over the
    // sf tables staged as micro-batch files and record rows/sec plus
    // end-of-run state rows (state-store rows for the
    // flatMapGroupsWithState / watermark-dedup streams; external-store
    // rows for the foreachBatch ones). SPARK_GRAFT_STREAMING=0 skips.
    val streaming: Map[String, StreamBench.StreamStat] =
      if (sys.env.get("SPARK_GRAFT_STREAMING").contains("0")) Map.empty
      else {
        // Phase barrier: the round-18 characterization (SCALING.md
        // "curation's slow mode") found streams measured after the
        // batch phase SOMETIMES run 2-6× slower than the same streams
        // isolated (curation 1029 rows/s alone, 438 after six dedup
        // queries, 179 across a whole quiet sweep — uniformly per-rep
        // when the mode hits, and nondeterministically across runs:
        // an async-cleanup race, not a leak the per-query clearCache
        // already handles). Round 19: the blind 5 s window is now an
        // OBSERVED drain — force a GC and poll the CleanerProbe until
        // cleanup completions quiesce, so the barrier waits exactly as
        // long as the batch phase's debt requires (the fixed sleep
        // sometimes lost the race: r18c's incremental_dedup spread
        // 4.18 behind a clean curation).
        spark.catalog.clearCache()
        val (drained, drainMs) = StreamBench.drainCleanerDebt(
          spark, maxWaitMs = 60000L, quietMs = 2000L)
        System.err.println(s"[bench] phase barrier: $drained cleanups " +
          s"drained in $drainMs ms before the stream phase")
        StreamBench.run(spark, sfDir)
      }
    // same honesty contract as the batch block: the published rate is a
    // median over reps, and the per-stream spread + a noise flag ride
    // along so a single-shot swing can't masquerade as a regression
    // the flag judges the TRIMMED spread (one outlier rep dropped per
    // side at reps ≥ 5, raw spread below that): the noisy streams run 5
    // reps precisely so a single cold-cache rep can't flag the sweep
    val streamNoiseExceeded = streaming.values.exists(s =>
      !s.trimmedSpread.isNaN && s.trimmedSpread > 1.5)
    // a 0-rows/sec rep makes spread NaN — emit null, never bare NaN,
    // or the whole artifact stops parsing as JSON
    def numOrNull(v: Double, decimals: Int): String =
      if (v.isNaN || v.isInfinite) "null" else num(v, decimals)
    val streamingJson = streaming.toSeq.sortBy(_._1).map {
      case (n, s) =>
        "\"" + n + "\":{\"rows_per_sec\":" + num(s.rowsPerSec, 1) +
          ",\"state_rows\":" + s.stateRows +
          ",\"reps\":" + s.reps +
          ",\"rps_min\":" + num(s.rpsMin, 1) +
          ",\"rps_max\":" + num(s.rpsMax, 1) +
          ",\"spread\":" + numOrNull(s.spread, 3) +
          ",\"spread_trimmed\":" + numOrNull(s.trimmedSpread, 3) +
          ",\"cleanups_in_window\":" + s.cleanupsInWindow +
          ",\"gc_ms_in_window\":" + s.gcMsInWindow + "}"
    }.mkString("{", ",", "}")
    // A query that threw is present in "queries" (its wall time is still
    // real) but ALSO keyed in "errors" — consumers must treat such a
    // timing as invalid rather than a plausible fast run.
    def jsonStr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val errorsJson = errors.toSeq.sortBy(_._1).map { case (k, v) =>
      jsonStr(k) + ":" + jsonStr(v)
    }.mkString("{", ",", "}")
    // Calibration-normalized stream rates: each stream ÷ the null-
    // transform `calibration` stream's rows/sec from the SAME sweep.
    // The calibration stream carries no graft logic (read → identity →
    // noop sink), so its rate is a pure host+harness speed probe —
    // dividing by it cancels the uniform host-day drift that made r16's
    // attribution and r17's whole stream table read as phantom
    // regressions (SCALING.md root-cause studies). Cross-round stream
    // comparisons should read THESE ratios; raw rows/sec stay alongside
    // for absolute-throughput claims on a known-quiet box.
    val calibRps = streaming.get("calibration").map(_.rowsPerSec)
      .filter(_ > 0)
    val streamNorm: Map[String, Double] = calibRps match {
      case Some(c) => streaming.collect {
        case (n, s) if n != "calibration" => n -> s.rowsPerSec / c
      }
      case None => Map.empty
    }
    // The relay joins the calibration anchor (VERDICT r18 #2): its raw
    // events/s was the last bench number with no normalization column,
    // and the one that burned the r18 artifact (a 3-4× co-residency
    // outlier reading as a regression). Same denominator as the stream
    // norms — the null-transform calibration stream's rows/s from this
    // sweep — so cross-round relay reads divide out host drift too.
    val relayEpsNorm: Double =
      calibRps.filter(_ => relayEps > 0).map(relayEps / _)
        .getOrElse(Double.NaN)
    val spillJson = s"""{"mem_bytes":${memSpilled.get},"disk_bytes":${diskSpilled.get},"max_heap_mb":${Runtime.getRuntime.maxMemory() / (1 << 20)}}"""
    val detail = s"""{"queries":$qs,"queries_min":$qsMin,"errors":$errorsJson,"reps":$reps,"noise":$noiseJson,"streaming":$streamingJson,"stream_rows_per_sec_norm":${jsonMap(streamNorm, 6)},"stream_noise_exceeded":$streamNoiseExceeded,"spill":$spillJson,"sf":"$sfDir","n_queries":${results.size},"n_errors":${errors.size},"total_all":${num(totalAll, 6)},"events_per_sec":${num(relayEps, 1)},"events_per_sec_norm":${numOrNull(relayEpsNorm, 4)},"relay_reps":${relayRates.size},"relay_eps_min":${num(if (relayRates.isEmpty) 0 else relayRates.min, 1)},"relay_eps_max":${num(if (relayRates.isEmpty) 0 else relayRates.max, 1)},"relay_spread":${numOrNull(relaySpread, 3)},"relay_events":$relayedEvents,"relay_staged":$stagedEvents}"""
    println(detail)
    try {
      // cwd-relative default so the build isn't coupled to one machine's
      // layout; the driver runs sbt from the repo root. A NOISY sweep
      // (control rel_spread > 1.5) must not clobber the curated
      // quiet-machine bench_full.json — r12's committed artifact was a
      // 1.55-spread driver run that overwrote the 0.82 closing sweep.
      // Explicit SPARK_GRAFT_BENCH_OUT always wins; otherwise noisy runs
      // divert to bench_full.noisy.json (still recorded, never curated).
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        if (noiseExceeded) "bench_full.noisy.json" else "bench_full.json")
      if (noiseExceeded && !sys.env.contains("SPARK_GRAFT_BENCH_OUT"))
        System.err.println(s"[bench] noisy sweep diverted to $out " +
          "(set SPARK_GRAFT_BENCH_OUT to force a path)")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out),
        detail.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bench artifact write failed: ${e.getMessage}")
    }
    // metric-first: rounds 1-2 (metric-first) parsed in the driver
    // artifact; rounds 3-5 (queries-first) all recorded "parsed": null
    // even when the summary fields survived in the tail — so the
    // driver plausibly keys on a line starting with {"metric". This
    // line is short enough to sit complete inside the tail window
    // either way.
    val headlineQs = jsonMap(results.filter(kv => headline.contains(kv._1)), 3)
    val streamRps = jsonMap(
      streaming.map { case (n, s) => n -> s.rowsPerSec }, 1)
    println(s"""{"metric":"headline_total_15q","value":${num(total, 6)},"unit":"sec","sf":"$sfDir","n_headline":${headline.size - missingHeadline.size},"n_queries":${results.size},"n_errors":${errors.size},"reps":$reps,"noise":${num(ctlSpread, 4)},"noise_exceeded":$noiseExceeded,"total_all":${num(totalAll, 3)},"events_per_sec":${num(relayEps, 1)},"events_per_sec_norm":${numOrNull(relayEpsNorm, 4)},"relay_spread":${numOrNull(relaySpread, 3)},"stream_rows_per_sec":$streamRps,"stream_rows_per_sec_norm":${jsonMap(streamNorm, 4)},"stream_noise_exceeded":$streamNoiseExceeded,"queries":$headlineQs}""")
    spark.stop()
  }
}

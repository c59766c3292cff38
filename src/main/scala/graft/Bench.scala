package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Locale
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graft.CleanerProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.StreamBench.StreamStat
import graft.obs.{Json, Stats}
import graft.obs.Json.fixed

/** The bench: every `SparkEntry` query through the noop sink
  * `SPARK_GRAFT_REPS` times (default 3), a no-op control workload timed
  * across the sweep, then the stream catalogue ([[StreamBench]], the
  * relay included). Prints the full detail line, writes it to
  * `bench_full.json`, and ends with the compact `{"metric":…}` line.
  */
object Bench {

  private[graft] def log(fmt: String, args: Any*): Unit =
    System.err.println("[bench] " +
      String.format(Locale.ROOT, fmt, args.map(_.asInstanceOf[AnyRef]): _*))

  /** Per-query bench outcome. `err` is the first failure message across
    * the reps: a failed query is marked in the artifact, not recorded
    * as a plausible (fast) wall time.
    */
  final case class QueryTiming(median: Double, min: Double, err: Option[String])

  /** Run each query `reps` times through the noop sink (it computes
    * every output column, where `count()` lets Catalyst prune them):
    * median, min and first error.
    */
  def timeQueries(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      reps: Int,
      betweenBlocks: () => Unit = () => ()): Seq[(String, QueryTiming)] = {
    def timeOnce(name: String, fn: (SparkSession, String) => DataFrame)
        : (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable =>
          log("%s failed: %s", name, e.getMessage)
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // no leftover cache or cleaner backlog may tax the next query
      // (untouched queries ran 2-8× slower after the dedup family)
      spark.catalog.clearCache()
      System.gc()
      (dt, err)
    }
    val probe = CleanerProbe.attach(spark.sparkContext)
    queries.zipWithIndex.map { case ((name, fn), i) =>
      if (i % 25 == 24) betweenBlocks()
      val gc0 = CleanerProbe.gcMillis
      val cl0 = probe.map(_.total).getOrElse(0L)
      val runs = (1 to reps).map(_ => timeOnce(name, fn))
      val times = runs.map(_._1)
      // gc and cleanups beside the wall time tell a host stall (flat
      // gc/cleanups, inflated wall) from JVM or cleaner pathology
      log("%s min %.2f s median %.2f s (gc %d ms, cleanups %d over %d reps)",
        name, times.min, Stats.median(times), CleanerProbe.gcMillis - gc0,
        probe.map(_.total).getOrElse(0L) - cl0, reps)
      name -> QueryTiming(Stats.median(times), times.min, runs.flatMap(_._2).headOption)
    }
  }

  /** A fixed representative subset, stable across rounds, so the
    * headline stays comparable as the inventory grows.
    */
  val Headline: Seq[String] = Seq(
    "cdc_envelope", "cdc_full_event_json", "cdc_dedup_exact",
    "rel_agg_pricing", "rel_join3", "rel_snowflake_join",
    "rel_rank_window", "rel_time_window", "rel_asof_join",
    "dedup_minhash_sig", "dedup_neardup_pairs",
    "vec_knn_bruteforce", "vec_lsh_ann",
    "text_stats", "text_top_terms")

  /** What one run measured (the relay's stat under "relay"), rendered
    * as the two artifact lines.
    */
  final case class Result(sf: String, reps: Int,
      timed: Seq[(String, QueryTiming)], control: Seq[Double],
      streams: Map[String, StreamStat], spill: Seq[(String, Long)]) {
    private val results = timed.map { case (n, t) => n -> t.median }.toMap
    private val errors =
      timed.collect { case (n, QueryTiming(_, _, Some(e))) => n -> e }.toMap
    private val streaming = streams - "relay"
    private val relay = streams.getOrElse("relay", StreamStat(Nil, 0, 0, 0, 0, 0))
    val missingHeadline: Seq[String] = Headline.filterNot(results.contains)

    /** The control's (max − min) / median. Above 1.5 the environment was
      * unstable (one run at 1.76 made phantom 1.5-3.5× "regressions"):
      * the flag rides the artifact and the sweep is written aside.
      */
    val noise: Double = Stats.relativeRange(control)
    val noiseExceeded: Boolean = noise > 1.5
    private val streamNoiseExceeded = streaming.values.exists(_.trimmedSpread > 1.5)

    private def fixedMap(m: Map[String, Double], decimals: Int): Map[String, Json.Raw] =
      m.map { case (k, v) => k -> fixed(v, decimals) }

    /** Rates over the same sweep's null-transform `calibration` rate,
      * which has no graft logic in it: the host's day-to-day drift cancels.
      */
    private val calibration = streaming.get("calibration").map(_.rowsPerSec).filter(_ > 0)
    private val streamNorm = calibration.fold(Map.empty[String, Double])(c =>
      (streaming - "calibration").map { case (n, s) => n -> s.rowsPerSec / c })
    private val relayNorm = calibration.filter(_ => relay.rowsPerSec > 0)
      .fold(Double.NaN)(relay.rowsPerSec / _)

    /** Every figure at full precision: printed first, and written to
      * `bench_full.json` for per-query comparison across runs.
      */
    def detail: String = Json.obj(
      "queries" -> fixedMap(results, 6),
      "queries_min" -> fixedMap(timed.map { case (n, t) => n -> t.min }.toMap, 6),
      "errors" -> errors,
      "reps" -> reps,
      "noise" -> Json.obj(
        "control_runs" -> control.size,
        "control_min" -> fixed(if (control.isEmpty) 0.0 else control.min, 6),
        "control_median" -> fixed(Stats.median(control), 6),
        "control_max" -> fixed(if (control.isEmpty) 0.0 else control.max, 6),
        "rel_spread" -> fixed(noise, 4),
        "noise_exceeded" -> noiseExceeded),
      "streaming" -> streaming.map { case (n, s) => n -> Json.obj(
        "rows_per_sec" -> fixed(s.rowsPerSec, 1),
        "state_rows" -> s.stateRows,
        "reps" -> s.reps,
        "rps_min" -> fixed(s.rpsMin, 1),
        "rps_max" -> fixed(s.rpsMax, 1),
        "spread" -> fixed(s.spread, 3),
        "spread_trimmed" -> fixed(s.trimmedSpread, 3),
        "cleanups_in_window" -> s.cleanupsInWindow,
        "gc_ms_in_window" -> s.gcMsInWindow) },
      "stream_rows_per_sec_norm" -> fixedMap(streamNorm, 6),
      "stream_noise_exceeded" -> streamNoiseExceeded,
      "spill" -> Json.obj(spill: _*),
      "sf" -> sf,
      "n_queries" -> results.size,
      "n_errors" -> errors.size,
      "total_all" -> fixed(results.values.sum, 6),
      "events_per_sec" -> fixed(relay.rowsPerSec, 1),
      "events_per_sec_norm" -> fixed(relayNorm, 4),
      "relay_reps" -> relay.reps,
      "relay_eps_min" -> fixed(relay.rpsMin, 1),
      "relay_eps_max" -> fixed(relay.rpsMax, 1),
      "relay_spread" -> fixed(relay.spread, 3),
      "relay_events" -> relay.delivered,
      "relay_staged" -> relay.staged).json

    /** The final line, which the driver parses. It keeps only the last
      * ~2000 characters of output, so this line is short (totals and the
      * 15 headline queries at 3 decimals) and starts with `{"metric"`.
      */
    def metric: String = Json.obj(
      "metric" -> "headline_total_15q",
      "value" -> fixed(Headline.flatMap(results.get).sum, 6),
      "unit" -> "sec",
      "sf" -> sf,
      "n_headline" -> (Headline.size - missingHeadline.size),
      "n_queries" -> results.size,
      "n_errors" -> errors.size,
      "reps" -> reps,
      "noise" -> fixed(noise, 4),
      "noise_exceeded" -> noiseExceeded,
      "total_all" -> fixed(results.values.sum, 3),
      "events_per_sec" -> fixed(relay.rowsPerSec, 1),
      "events_per_sec_norm" -> fixed(relayNorm, 4),
      "relay_spread" -> fixed(relay.spread, 3),
      "stream_rows_per_sec" -> fixedMap(streaming.map { case (n, s) => n -> s.rowsPerSec }, 1),
      "stream_rows_per_sec_norm" -> fixedMap(streamNorm, 4),
      "stream_noise_exceeded" -> streamNoiseExceeded,
      "queries" -> fixedMap(results.filter(kv => Headline.contains(kv._1)), 3)).json
  }

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // more partitions, smaller per-task state: the low-memory runs'
    // lever (SCALING.md round 17: 8 threads × 64 partitions fit 2 GiB)
    val spark = Session.local("graft-bench",
      shufflePartitions = sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt))
    // the low-memory runs must show that they exercise the spill paths
    val memSpilled, diskSpilled = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach { m =>
          memSpilled.addAndGet(m.memoryBytesSpilled): Unit
          diskSpilled.addAndGet(m.diskBytesSpilled): Unit
        }
    })
    def lineitem(rows: Int): Unit =
      try spark.read.parquet(s"$sf/lineitem.parquet").limit(rows)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    lineitem(10) // uncounted: JVM, codegen and file-index start-up
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // single-shot timings swung 1.23×-4× between runs of the same code,
    // so the median over reps is the recorded figure (min beside it)
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
    // the no-op control, observed every 25 queries as a median of 3: its
    // spread is the environment's sustained noise floor during this run
    val control = scala.collection.mutable.ArrayBuffer[Double]()
    def observeControl(): Unit = control += Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      lineitem(5000)
      (System.nanoTime() - t0) / 1e9
    })
    observeControl(); control.clear() // the first absorbs the cold file index
    observeControl()
    val timed = timeQueries(spark, sf, selected, reps, () => observeControl())
    observeControl()
    val r = Result(sf, reps, timed, control.toSeq, StreamBench.run(spark, sf),
      Seq("mem_bytes" -> memSpilled.get, "disk_bytes" -> diskSpilled.get,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20)))
    if (r.missingHeadline.nonEmpty)
      log("WARNING: headline queries missing from registry: %s",
        r.missingHeadline.mkString(", "))
    if (r.noiseExceeded)
      log("WARNING noise_exceeded: control rel_spread %.2f > 1.5 — per-query " +
        "deltas from this sweep are not evidence of plan regressions", r.noise)
    val detail = r.detail
    println(detail)
    // a noisy sweep must not overwrite the curated quiet-machine artifact
    val out = if (r.noiseExceeded) "bench_full.noisy.json" else "bench_full.json"
    try Files.write(Paths.get(out), detail.getBytes(StandardCharsets.UTF_8)): Unit
    catch { case e: Throwable => log("bench artifact write failed: %s", e.getMessage) }
    if (r.noiseExceeded) log("noisy sweep diverted to %s", out)
    println(r.metric)
    spark.stop()
  }
}

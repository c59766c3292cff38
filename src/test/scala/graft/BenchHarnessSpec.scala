package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The bench artifact must fail LOUDLY: a query that throws still has a
  * wall time (the attempt cost something) but must be keyed in the
  * artifact's error map so a consumer never mistakes it for a plausible
  * fast run (round-9 verdict item 1).
  */
class BenchHarnessSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private val good: (SparkSession, String) => DataFrame =
    (s, dir) => s.read.parquet(s"$dir/region.parquet")
  private val bad: (SparkSession, String) => DataFrame =
    (s, _) => { throw new RuntimeException("injected bench failure"); s.range(1).toDF() }
  // fails at EXECUTION time, not construction — the noop write throws
  private val badLazy: (SparkSession, String) => DataFrame =
    (s, _) => {
      import s.implicits._
      s.range(4).toDF("n").selectExpr("assert_true(n < 2) as ok")
    }

  test("a throwing query is marked with err; healthy queries are not") {
    val timed = Bench.timeQueries(spark, sf,
      Seq("ok" -> good, "boom" -> bad, "boom_lazy" -> badLazy), reps = 2).toMap
    assert(timed("ok").err.isEmpty)
    assert(timed("ok").min > 0.0)
    assert(timed("boom").err.exists(_.contains("injected bench failure")))
    val lazyErr = timed("boom_lazy").err
    assert(lazyErr.isDefined, s"execution-time failure must be marked: $lazyErr")
    // the wall time of a failed attempt is still recorded (real cost),
    // but the err marker is what invalidates it
    assert(timed("boom").median >= 0.0)
  }

  test("error messages are truncated and non-null-safe") {
    val nullMsg: (SparkSession, String) => DataFrame =
      (_, _) => throw new RuntimeException(null: String)
    val longMsg: (SparkSession, String) => DataFrame =
      (_, _) => throw new RuntimeException("x" * 1000)
    val timed = Bench.timeQueries(spark, sf,
      Seq("nul" -> nullMsg, "lng" -> longMsg), reps = 1).toMap
    assert(timed("nul").err.exists(_.nonEmpty)) // class name fallback
    assert(timed("lng").err.exists(_.length <= 200))
  }

  private def keys(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] = {
    val it = n.fieldNames()
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
  }

  // The key sequences below were captured from a Bench run of the code
  // before the artifact assembly was factored into Bench.Result.
  test("bench_full.json and the final metric line keep their key sequence") {
    val stat = StreamBench.StreamStat(Seq(100.0, 120.0, 110.0), 7L, 500L,
      480L, 2L, 30L)
    val r = Bench.Result("/sf", 3,
      Seq("cdc_envelope" -> Bench.QueryTiming(1.0, 0.9, None),
        "zz_other" -> Bench.QueryTiming(2.0, 1.5, Some("boom \"x\"\n"))),
      Seq(0.1, 0.12, 0.11),
      Map("relay" -> stat, "calibration" -> stat.copy(rates = Seq(1000.0)),
        "sessionize" -> stat),
      Seq("mem_bytes" -> 1L, "disk_bytes" -> 2L, "max_heap_mb" -> 3L))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val detail = mapper.readTree(r.detail)
    assert(keys(detail) === Seq("queries", "queries_min", "errors", "reps",
      "noise", "streaming", "stream_rows_per_sec_norm",
      "stream_noise_exceeded", "spill", "sf", "n_queries", "n_errors",
      "total_all", "events_per_sec", "events_per_sec_norm", "relay_reps",
      "relay_eps_min", "relay_eps_max", "relay_spread", "relay_events",
      "relay_staged"))
    assert(keys(detail.get("noise")) === Seq("control_runs", "control_min",
      "control_median", "control_max", "rel_spread", "noise_exceeded"))
    assert(keys(detail.get("spill")) === Seq("mem_bytes", "disk_bytes",
      "max_heap_mb"))
    assert(keys(detail.get("streaming")) === Seq("calibration", "sessionize"))
    assert(keys(detail.get("streaming").get("sessionize")) === Seq(
      "rows_per_sec", "state_rows", "reps", "rps_min", "rps_max", "spread",
      "spread_trimmed", "cleanups_in_window", "gc_ms_in_window"))
    assert(detail.get("errors").get("zz_other").asText === "boom \"x\"\n")
    // the relay fields are the relay entry's stat
    assert(detail.get("events_per_sec").asDouble === 110.0)
    assert(detail.get("relay_reps").asInt === 3)
    assert(detail.get("relay_events").asLong === 480L)
    assert(detail.get("relay_staged").asLong === 500L)
    assert(detail.get("relay_spread").asDouble === 1.2)

    assert(r.metric.startsWith("{\"metric\":\"headline_total_15q\","))
    assert(!r.metric.contains("\n") && !r.detail.contains("\n"))
    val metric = mapper.readTree(r.metric)
    assert(keys(metric) === Seq("metric", "value", "unit", "sf", "n_headline",
      "n_queries", "n_errors", "reps", "noise", "noise_exceeded", "total_all",
      "events_per_sec", "events_per_sec_norm", "relay_spread",
      "stream_rows_per_sec", "stream_rows_per_sec_norm",
      "stream_noise_exceeded", "queries"))
    assert(keys(metric.get("stream_rows_per_sec")) === Seq("calibration", "sessionize"))
    assert(keys(metric.get("queries")) === Seq("cdc_envelope"))
  }
}

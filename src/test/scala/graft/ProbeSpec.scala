package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every `tools.Probe` workload runs end to end on sf0.01 with small
  * arguments and prints JSON lines with its keys; the relay's delivery
  * contract holds through the kill/crash/resume cycle.
  */
class ProbeSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.01"

  private def run(args: String*): Seq[Map[String, Any]] =
    tools.Probe.run(spark, args.toSeq).map { line =>
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(line, classOf[java.util.Map[String, Any]])
      scala.jdk.CollectionConverters.MapHasAsScala(m).asScala.toMap
    }

  private def num(m: Map[String, Any], k: String): Long =
    m(k).asInstanceOf[Number].longValue

  test("relay-throughput relays every staged event") {
    val Seq(line) = run("relay-throughput", sf, "2")
    assert(line.keySet === Set("metric", "value", "events", "sec", "files",
      "mfpt", "sf"))
    assert(num(line, "events") === Tables.events(spark, sf).count())
    assert(num(line, "mfpt") === 2L)
  }

  test("relay-resume loses nothing and dedups by msg_id") {
    val Seq(line) = run("relay-resume", sf, "0.3")
    assert(line.keySet === Set("metric", "staged", "after_stop",
      "after_crash", "total_rows", "distinct_msg_id", "duplicates", "lost",
      "crash_seen", "epoch_rows_bound", "phase1_s", "phase2_s", "phase3_s",
      "mfpt", "sf"))
    assert(num(line, "lost") === 0L)
    assert(num(line, "distinct_msg_id") === num(line, "staged"))
    assert(num(line, "duplicates") <= num(line, "epoch_rows_bound"))
  }

  test("relay-latency reports both profiles over the trickled files") {
    val lines = run("relay-latency", sf, "2", "50")
    assert(lines.map(_("profile")) === Seq("live", "drain"))
    lines.foreach { l =>
      assert(l.keySet === Set("profile", "sf", "files", "events", "gap_ms",
        "trigger_ms", "cap_files", "p50_ms", "p95_ms", "p99_ms", "max_ms",
        "mean_ms"))
      assert(num(l, "files") === 2L)
      assert(num(l, "p50_ms") <= num(l, "max_ms"))
    }
  }

  test("stream-scale drains both streams and restarts them") {
    val Seq(line) = run("stream-scale", sf)
    assert(line.keySet === Set("sf", "n_docs", "dedup", "sessionize"))
    val dedup = line("dedup").asInstanceOf[java.util.Map[String, Any]]
    assert(dedup.keySet === java.util.Set.of("drain_secs", "epochs",
      "epoch_ms_first5", "epoch_ms_last5", "store_files", "store_rows",
      "restart_one_batch_secs"))
    assert(dedup.get("epochs").asInstanceOf[Number].longValue > 0)
    assert(dedup.get("store_rows").asInstanceOf[Number].longValue > 0)
    val sess = line("sessionize").asInstanceOf[java.util.Map[String, Any]]
    assert(sess.keySet === java.util.Set.of("drain_secs", "batches",
      "restart_one_batch_secs"))
  }

  test("pipeline-scale drains the composed stream and restarts it") {
    val Seq(line) = run("pipeline-scale", sf)
    assert(line.keySet === Set("probe", "sf", "docs", "verdicts", "secs",
      "epochs", "first5_ms", "mid5_ms", "last5_ms", "last_over_first",
      "last_over_mid", "epoch_ms", "ph_store_files", "ph_store_rows",
      "restart_secs"))
    assert(num(line, "epochs") > 0)
    // every staged doc plus the restart batch gets a verdict
    assert(num(line, "verdicts") >= num(line, "docs"))
    if (num(line, "epochs") < 10) assert(line("last_over_mid") == null)
  }
}

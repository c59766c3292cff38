package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{CdcRelay, RelayCli}

/** The CLI keeps the reference's flag surface: exact names, defaults,
  * required-flag and unknown-flag error shapes, broker-only flags
  * accepted-and-ignored, and the --timestamp-last resume override
  * actually bounding relayed events.
  */
class RelayCliSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("full flag set maps onto the relay config") {
    val p = RelayCli.parse(Seq(
      "--cluster-id", "42",
      "--input-dir", "/in", "--output-dir", "/out",
      "--checkpoint-dir", "/chk",
      "--subject-mode=single", "--subject", "tb.custom",
      "--dedupe-window", "5 minutes",
      "--event-count-max", "7", "--idle-interval-ms", "250",
      "--requests-per-second-limit", "40",
      "--timestamp-last", "1700000001500000000",
      "--single-writer-lease", "--drain",
      "--nats-url", "nats://ignored:4222", "--stream-replicas", "3"))
    val c = p.config
    assert(c.clusterId == "42" && c.subjectMode == "single")
    assert(c.singleSubject == "tb.custom" && c.dedupeWindow == "5 minutes")
    assert(c.maxFilesPerTrigger.contains(7) && c.idleIntervalMs == 250)
    assert(c.maxFilesPerSecond.contains(40.0))
    assert(c.timestampLast.contains(1700000001500000000L))
    assert(c.singleWriterLease && p.drain)
    assert(p.ignored == Seq("nats-url", "stream-replicas"))
  }

  test("booleans accept both bare and valued forms, like Go's flag pkg") {
    def base(extra: String*) = RelayCli.parse(Seq("--cluster-id", "1",
      "--input-dir", "/in", "--output-dir", "/out",
      "--checkpoint-dir", "/chk") ++ extra)
    assert(!base("--provision=false").config.provision)
    assert(base("--provision=true").config.provision)
    assert(base().config.provision) // default stays true
    // the cap default is UNSET (profile-appropriate): batch `start`
    // resolves it to the TUNED drain setting (SCALING.md §Relay
    // measured curve), which the committed bench artifact runs
    assert(base().config.maxFilesPerTrigger.isEmpty)
    assert(base().config.effectiveMaxFilesPerTrigger ==
      graft.streaming.CdcRelay.RelayConfig.DrainMaxFilesPerTrigger)
    assert(base("--single-writer-lease=true").config.singleWriterLease)
    assert(base("--drain=true").drain && !base().drain)
    val bad = intercept[IllegalArgumentException] { base("--drain=maybe") }
    assert(bad.getMessage == "invalid --drain: 'maybe'")
  }

  test("numeric flags are range-checked and rates accept fractions") {
    def base(extra: String*) = RelayCli.parse(Seq("--cluster-id", "1",
      "--input-dir", "/in", "--output-dir", "/out",
      "--checkpoint-dir", "/chk") ++ extra)
    // above Int range must ERROR, not silently truncate to a wrong cap
    val over = intercept[IllegalArgumentException] {
      base("--event-count-max", "4294967297")
    }
    assert(over.getMessage.contains("must be in [1,"), over.getMessage)
    // sub-1.0 rates are meaningful with long idle intervals
    val frac = base("--requests-per-second-limit", "0.5",
      "--idle-interval-ms", "4000")
    assert(frac.config.maxFilesPerSecond.contains(0.5))
    assert(frac.config.effectiveMaxFilesPerTrigger == 2)
    // a bare broker-only flag is still reported as ignored
    assert(base("--stream-update").ignored == Seq("stream-update"))
  }

  test("error shapes mirror the reference parser") {
    val miss = intercept[IllegalArgumentException] {
      RelayCli.parse(Seq("--input-dir", "/in", "--output-dir", "/out",
        "--checkpoint-dir", "/chk"))
    }
    assert(miss.getMessage == "--cluster-id is required")
    val unknown = intercept[IllegalArgumentException] {
      RelayCli.parse(Seq("--cluster-id", "1", "--input-dir", "/in",
        "--output-dir", "/out", "--checkpoint-dir", "/chk",
        "--bogus-flag", "x"))
    }
    assert(unknown.getMessage.contains("--bogus-flag"), unknown.getMessage)
    val bad = intercept[IllegalArgumentException] {
      RelayCli.parse(Seq("--cluster-id", "1", "--input-dir", "/in",
        "--output-dir", "/out", "--checkpoint-dir", "/chk",
        "--event-count-max", "lots"))
    }
    assert(bad.getMessage == "invalid --event-count-max: 'lots'")
    // config-level validation still applies post-parse (A19)
    val range = intercept[IllegalArgumentException] {
      RelayCli.parse(Seq("--cluster-id", "1", "--input-dir", "/in",
        "--output-dir", "/out", "--checkpoint-dir", "/chk",
        "--timestamp-last", "-5"))
    }
    assert(range.getMessage.contains("timestampLast"), range.getMessage)
  }

  test("main() relays end-to-end with --drain") {
    val root = Files.createTempDirectory("relay-cli-main").toString
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val base = 1700000000000000L
    StreamFiles.writeOneFile(spark, in, "b1.parquet",
      Seq(1L, 2L).map { id =>
        Row(id, new java.sql.Timestamp((base + id * 1000000L) / 1000), id,
          "view", 1.0, """{"k": 1}""")
      }, CdcRelay.inputSchema)
    val confBefore = spark.conf.getAll
    RelayCli.main(Array("--cluster-id", "1",
      "--input-dir", in, "--output-dir", s"$root/out",
      "--checkpoint-dir", s"$root/chk", "--drain",
      "--nats-url", "nats://ignored:4222"))
    assert(spark.read.parquet(s"$root/out").count() == 2)
    // main ran in this session, and rewrote none of its confs
    assert(spark.conf.getAll == confBefore)
  }

  test("--timestamp-last bounds relayed events with a strict >") {
    val root = Files.createTempDirectory("relay-cli").toString
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val base = 1700000000000000L // micros
    StreamFiles.writeOneFile(spark, in, "b1.parquet",
      Seq(1L, 2L, 3L).map { id =>
        Row(id, new java.sql.Timestamp((base + id * 1000000L) / 1000), id,
          "view", 1.0, """{"k": 1}""")
      }, CdcRelay.inputSchema)
    // override sits exactly ON event 2's raw-nanos timestamp: strict >
    // must relay only event 3
    val cfg = CdcRelay.RelayConfig(in, s"$root/out", s"$root/chk",
      timestampLast = Some((base + 2000000L) * 1000L))
    CdcRelay.start(spark, cfg).awaitTermination()
    val got = spark.read.parquet(s"$root/out")
      .select("event_id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L), got.toString)
  }
}

package graft.tools

import java.nio.file.Files

/** End-to-end relay throughput measurement.
  *
  * The reference publishes no throughput numbers (BASELINE.md); its
  * design ceiling is shaped by `--event-count-max` = 4096 events per
  * source request, acked in pipelined batches and checkpointed once per
  * batch (reference config.go:40, runner.go:437-440). This tool stages
  * the sf events table as ~4096-event files — one file ≈ one reference
  * source batch — then relays them through the full pipeline (scan →
  * dispatch → envelope/headers → dedup → sink with epoch commit) and
  * reports end-to-end events/sec including checkpointing.
  *
  *   sbt "runMain graft.tools.RelayThroughput [sfDir] [maxFilesPerTrigger]"
  *
  * The optional cap sweeps the per-trigger batch-size curve; left out,
  * the relay runs with the `RelayConfig` default.
  */
object RelayThroughput {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local("relay-throughput")

    val root = Files.createTempDirectory("relay-tput").toString
    val in = s"$root/in"
    val ev = graft.Tables.events(spark, sfDir)
    val total = ev.count()
    // one staged file ≈ one reference source batch (4096 events), in
    // EVENT-TIME ORDER: the reference's input is an ordered CDC range
    // scan (SURVEY A1), so file i must hold the i-th timestamp range —
    // a randomly repartitioned staging interleaves the whole time range
    // into every file, and any multi-trigger run then drops ~90% of
    // later files as below-watermark "late" data (measured at sf1:
    // 95k of 1M events survived), understating BOTH throughput and
    // delivery. FileStreamSource breaks modification-time ties by
    // path, so part-00000.. preserves the range order.
    val files = math.max(1, math.ceil(total / 4096.0).toInt)
    ev.repartitionByRange(files, org.apache.spark.sql.functions.col("ts"))
      .sortWithinPartitions("ts").write.parquet(in)
    graft.Stage.orderStagedFiles(in)

    // per-trigger batch size (reference --event-count-max analog)
    val cfg = graft.streaming.CdcRelay.RelayConfig(
      in, s"$root/out", s"$root/chk",
      maxFilesPerTrigger = args.lift(1).map(_.toInt))
    val mfpt = cfg.effectiveMaxFilesPerTrigger
    val t0 = System.nanoTime()
    graft.streaming.CdcRelay.start(spark, cfg).awaitTermination()
    val secs = (System.nanoTime() - t0) / 1e9
    val relayed = spark.read.parquet(cfg.outputDir).count()
    println(f"""{"metric":"relay_events_per_sec","value":${relayed / secs}%.1f,"events":$relayed,"sec":$secs%.2f,"files":$files,"mfpt":$mfpt,"sf":"$sfDir"}""")
    spark.stop()
  }
}

package graft.streaming

import java.nio.file.Files

/** Runnable example: relay the sf0.001 events table through the CDC
  * streaming pipeline into a parquet "stream" sink, twice, to show
  * checkpointed resume (the second run must relay nothing new).
  *
  *   sbt "runMain graft.streaming.RelayDemo"
  */
object RelayDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local("relay-demo", cores = 4)

    val root = Files.createTempDirectory("relay-demo").toString
    val in = s"$root/in"
    // stage the events table as the stream input (nanos ts normalized)
    graft.Tables.events(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").parquet(in)

    val cfg = CdcRelay.RelayConfig(in, s"$root/out", s"$root/chk")
    CdcRelay.start(spark, cfg).awaitTermination()
    val afterFirst = spark.read.parquet(cfg.outputDir).count()
    CdcRelay.start(spark, cfg).awaitTermination()
    val afterSecond = spark.read.parquet(cfg.outputDir).count()
    println(s"[relay-demo] relayed=$afterFirst afterRestart=$afterSecond")
    spark.read.parquet(cfg.outputDir).orderBy("event_id").show(3, 60)
    assert(afterFirst == afterSecond, "restart must not re-relay")
    println("[relay-demo] OK")
    spark.stop()
  }
}

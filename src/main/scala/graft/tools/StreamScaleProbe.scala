package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming._

/** Streaming state-scale probe (SCALING.md §Streaming): with the sf1
  * state footprint,
  *
  *  1. does IncrementalDedupStream's PER-EPOCH cost stay ~flat as the
  *     external parquet seen-set accumulates batches (each epoch reads
  *     every prior partition — linear data growth is expected and
  *     fine; super-linear listing/plan growth is the failure mode)?
  *  2. how long does a RESTART from checkpoint take — recovery +
  *     state reload + one incremental batch — for the external-store
  *     stream and for a state-store stream (sessionize)?
  *
  *   sbt "runMain graft.tools.StreamScaleProbe [sfDir]"
  *
  * Prints one JSON line with per-epoch duration quartiles (first/last
  * five epochs), store file/row counts, and restart-to-drained times.
  */
object StreamScaleProbe {

  private def stageDocs(spark: SparkSession, sfDir: String,
      root: String): (String, org.apache.spark.sql.types.StructType, Long) = {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    val n = docs.count()
    // ordered staging, matching StreamBench (see Bench.scala relay note)
    docs.repartitionByRange(math.max(1, math.ceil(n / 1024.0).toInt),
        col("doc_id"))
      .sortWithinPartitions("doc_id").write.parquet(s"$root/docs")
    graft.Stage.orderStagedFiles(s"$root/docs")
    (s"$root/docs", spark.read.parquet(s"$root/docs").schema, n)
  }

  /** Drain a stream, returning (secs, per-batch durations ms in batch
    * order). recentProgress holds the last 100 entries — enough for
    * the ~49-epoch sf1 run.
    */
  private def drain(q: StreamingQuery): (Double, Seq[(Long, Long)]) = {
    val t0 = System.nanoTime()
    try q.processAllAvailable() finally q.stop()
    val secs = (System.nanoTime() - t0) / 1e9
    val batches = q.recentProgress.toSeq
      .filter(_.numInputRows > 0)
      .map(p => p.batchId -> p.batchDuration)
    (secs, batches)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("testdata_sf1")
    val spark = graft.Session.local("stream-scale-probe")
    val root = Files.createTempDirectory("stream-probe").toString
    val (docsDir, docSchema, nDocs) = stageDocs(spark, sfDir, root)

    def docsStream(maxFiles: Int): DataFrame =
      spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", maxFiles).parquet(docsDir)
        .select("doc_id", "text")

    // ---- incremental dedup: epoch-cost curve over the full drain ----
    val (dedupSecs, epochs) = drain(IncrementalDedupStream.start(spark,
      docsStream(2), s"$root/out", s"$root/store", s"$root/chk"))
    val durs = epochs.sortBy(_._1).map(_._2)
    def avg(xs: Seq[Long]): Long =
      if (xs.isEmpty) 0L else xs.sum / xs.size
    val firstFive = avg(durs.take(5))
    val lastFive = avg(durs.takeRight(5))
    val storeFiles = {
      val p = new org.apache.hadoop.fs.Path(s"$root/store")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      var n = 0L
      val it = fs.listFiles(p, true)
      while (it.hasNext) { it.next(); n += 1 }
      n
    }
    val storeRows = spark.read.parquet(s"$root/store").count()

    // ---- restart recovery: one more small input batch ----
    graft.Tables.documents(spark, sfDir)
      .select(col("doc_id") + lit(10000000L), col("source"), col("text"))
      .limit(1024).coalesce(1).write.mode("append").parquet(docsDir)
    val t1 = System.nanoTime()
    val q2 = IncrementalDedupStream.start(spark, docsStream(2),
      s"$root/out", s"$root/store", s"$root/chk")
    try q2.processAllAvailable() finally q2.stop()
    val dedupRestartSecs = (System.nanoTime() - t1) / 1e9

    // ---- sessionize (state-store stream): full drain, then restart ----
    val ev = graft.Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val nEv = ev.count()
    ev.repartitionByRange(math.max(1, math.ceil(nEv / 4096.0).toInt),
        col("ts"))
      .sortWithinPartitions("ts").write.parquet(s"$root/events")
    graft.Stage.orderStagedFiles(s"$root/events")
    val evSchema = spark.read.parquet(s"$root/events").schema
    def sessStream() = SessionizeStream.sessions(
      spark.readStream.schema(evSchema)
        .option("maxFilesPerTrigger", 8).parquet(s"$root/events")
        .select(col("user_id"), col("ts")).as(
          org.apache.spark.sql.Encoders.product[SessionizeStream.Event]))
      .writeStream.format("noop")
      .option("checkpointLocation", s"$root/sess_chk")
      .outputMode("append")
    val (sessSecs, sessBatches) = drain(sessStream().start())
    // restart with one more event file: recovery must reload the
    // state store (every open session) before the batch can run
    ev.limit(4096).withColumn("event_id", col("event_id") + lit(100000000L))
      .coalesce(1).write.mode("append").parquet(s"$root/events")
    val t2 = System.nanoTime()
    val q3 = sessStream().start()
    try q3.processAllAvailable() finally q3.stop()
    val sessRestartSecs = (System.nanoTime() - t2) / 1e9

    graft.Stage.deleteRecursively(new java.io.File(root))
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", v)
    println(s"""{"sf":"$sfDir","n_docs":$nDocs,"dedup":{"drain_secs":${num(dedupSecs)},"epochs":${durs.size},"epoch_ms_first5":$firstFive,"epoch_ms_last5":$lastFive,"store_files":$storeFiles,"store_rows":$storeRows,"restart_one_batch_secs":${num(dedupRestartSecs)}},"sessionize":{"drain_secs":${num(sessSecs)},"batches":${sessBatches.size},"restart_one_batch_secs":${num(sessRestartSecs)}}}""")
    spark.stop()
  }
}

package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.PipelineStream

/** Epoch-cost curve for the COMPOSED pipeline stream (SCALING.md round
  * 19): PipelineStream accumulates three stores (md5 hashes, passage
  * hashes, per-shard token sums) and every epoch reads all live store
  * partitions — linear data growth per epoch is expected (bounded by
  * the generation compaction at 1 generation + < compactEvery epoch
  * partitions); SUPER-linear per-epoch growth (listing/plan blowup or
  * an un-compacted read amplification) is the failure mode this probe
  * exists to catch. Also measures a restart: recovery + one
  * incremental batch against the accumulated stores.
  *
  *   sbt "runMain graft.tools.PipelineScaleProbe [sfDir]"
  *
  * Prints one JSON line: epoch count, first/last-five mean epoch
  * durations and their ratio, store file/row counts, restart seconds.
  */
object PipelineScaleProbe {

  private def drain(q: StreamingQuery): (Double, Seq[(Long, Long)]) = {
    val t0 = System.nanoTime()
    try q.processAllAvailable() finally q.stop()
    val secs = (System.nanoTime() - t0) / 1e9
    (secs, q.recentProgress.toSeq
      .filter(_.durationMs.containsKey("addBatch"))
      .map(p => p.batchId -> p.batchDuration))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("testdata_sf1")
    val spark = graft.Session.local("pipeline-scale-probe")
    val root = Files.createTempDirectory("pipe-probe").toString
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    val nDocs = docs.count()
    docs.repartitionByRange(math.max(1, math.ceil(nDocs / 1024.0).toInt),
        col("doc_id"))
      .sortWithinPartitions("doc_id").write.parquet(s"$root/docs")
    graft.Stage.orderStagedFiles(s"$root/docs")
    val schema = spark.read.parquet(s"$root/docs").schema
    def source(): DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 2).parquet(s"$root/docs")
      .select("doc_id", "text")

    val (secs, epochs) = drain(PipelineStream.start(spark, source(),
      sfDir, s"$root/out", s"$root/store", s"$root/chk"))
    val durs = epochs.sortBy(_._1).map(_._2)
    def avg(xs: Seq[Long]): Long =
      if (xs.isEmpty) 0L else xs.sum / xs.size
    val firstFive = avg(durs.take(5))
    // The first epochs carry the stream plan's codegen/JIT warmup (an
    // un-pinned-heap run measured first5 4.9 s vs last5 2.9 s on a
    // store-probe shape that only GROWS with history — last/first was
    // reading warmup decay, not store growth). mid5 = epochs 5-9, the
    // first window past warmup, is the honest growth denominator;
    // last_over_first stays for continuity with the r19 recording.
    // guard the mid window (ADVICE r20): under 10 epochs the slice is
    // partial/empty and an averaged fragment would print last_over_mid
    // 0.00, which reads as "no growth" rather than "insufficient data"
    val midFive = if (durs.size >= 10) avg(durs.slice(5, 10)) else 0L
    val lastFive = avg(durs.takeRight(5))
    def countFiles(dir: String): Long = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) return 0L
      var n = 0L
      val it = fs.listFiles(p, true)
      while (it.hasNext) { it.next(); n += 1 }
      n
    }
    val phRows = spark.read.parquet(s"$root/store/ph").count()

    // restart: append one fresh 1024-doc batch, resume from checkpoint.
    // The shifted id MUST be aliased back to "doc_id": the streaming
    // source reads appended files with the pre-append schema, so an
    // unaliased "(doc_id + 10000000)" column resolves doc_id to null
    // for every appended row — the whole restart batch is then filtered
    // out before the store probes and restart_secs measures recovery
    // plus a trivially empty batch (ADVICE r19).
    graft.Tables.documents(spark, sfDir)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        col("source"), col("text"))
      .limit(1024).coalesce(1).write.mode("append").parquet(s"$root/docs")
    val t1 = System.nanoTime()
    val q2 = PipelineStream.start(spark, source(), sfDir,
      s"$root/out", s"$root/store", s"$root/chk")
    try q2.processAllAvailable() finally q2.stop()
    val restartSecs = (System.nanoTime() - t1) / 1e9

    val verdicts = spark.read.parquet(s"$root/out/docs").count()
    // incomplete windows emit null, never a misleading 0.00 ratio
    def ratio(denom: Long): String =
      if (denom > 0)
        String.format(java.util.Locale.ROOT, "%.2f",
          (lastFive.toDouble / denom).asInstanceOf[AnyRef])
      else "null"
    println(String.format(java.util.Locale.ROOT,
      """{"probe":"pipeline_scale","sf":"%s","docs":%d,"verdicts":%d,"secs":%.1f,"epochs":%d,"first5_ms":%d,"mid5_ms":%d,"last5_ms":%d,"last_over_first":%s,"last_over_mid":%s,"epoch_ms":[%s],"ph_store_files":%d,"ph_store_rows":%d,"restart_secs":%.1f}""",
      sfDir, nDocs.asInstanceOf[AnyRef], verdicts.asInstanceOf[AnyRef],
      secs.asInstanceOf[AnyRef], durs.size.asInstanceOf[AnyRef],
      firstFive.asInstanceOf[AnyRef], midFive.asInstanceOf[AnyRef],
      lastFive.asInstanceOf[AnyRef],
      ratio(firstFive), ratio(midFive),
      durs.mkString(","),
      countFiles(s"$root/store/ph").asInstanceOf[AnyRef],
      phRows.asInstanceOf[AnyRef], restartSecs.asInstanceOf[AnyRef]))
    graft.Stage.deleteRecursively(new java.io.File(root))
    spark.stop()
  }
}

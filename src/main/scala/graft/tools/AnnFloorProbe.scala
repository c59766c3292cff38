package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.AnnStream

/** ann_serve harness-floor decomposition (VERDICT r18 #5): at the
  * 8-queries-per-epoch trickle the serving rate is bound by a
  * ~0.45 s/epoch fixed cost. This probe splits that floor into the
  * engine's own phases using the streaming progress metrics
  * (`durationMs`: latestOffset, getBatch, queryPlanning, walCommit,
  * commitOffsets, addBatch, triggerExecution) and A/Bs three stream
  * bodies over the SAME staged trickle input:
  *
  *   - `noop`: an empty `foreachBatch` — nothing but the micro-batch
  *     harness itself (offset resolution, WAL + commit log, trigger
  *     scheduling). This is the Spark-fixed floor: no change to
  *     AnnStream can go below it.
  *   - `serve`: the real AnnStream indexed path — the delta vs noop is
  *     graft's per-epoch serving cost (isEmpty probe + plan analysis +
  *     probe/top-k execution + sink write).
  *   - `serve_nowrite`: the serving plan executed via count() instead
  *     of the parquet sink — separates compute+planning from the
  *     commit-protocol/file-sink tail inside addBatch.
  *
  *   sbt "runMain graft.tools.AnnFloorProbe [sfDir] [epochs]"
  *
  * Prints one JSON line per variant with per-phase medians over the
  * non-empty epochs, plus the implied rows/s. Run on a quiet box; the
  * phases are single-epoch medians, not rep medians.
  */
object AnnFloorProbe {

  private def median(xs: Seq[Long]): Long = {
    val s = xs.sorted
    if (s.isEmpty) 0L
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def drain(q: StreamingQuery): Double = {
    val t0 = System.nanoTime()
    try q.processAllAvailable() finally q.stop()
    (System.nanoTime() - t0) / 1e9
  }

  private def report(tag: String, q: StreamingQuery, secs: Double,
      rows: Long): Unit = {
    // numInputRows is metered from the EXECUTED plan, so a no-op
    // foreachBatch body reports 0 even for data-carrying triggers —
    // select the triggers that ran addBatch instead (idle triggers
    // never do)
    val ps = q.recentProgress.toSeq
      .filter(_.durationMs.containsKey("addBatch"))
    val keys = Seq("latestOffset", "getBatch", "queryPlanning",
      "walCommit", "commitOffsets", "addBatch", "triggerExecution")
    val phases = keys.map { k =>
      val vals = ps.flatMap(p => Option(p.durationMs.get(k)).map(_.toLong))
      s""""$k":${median(vals)}"""
    }.mkString(",")
    println(String.format(java.util.Locale.ROOT,
      """{"probe":"ann_floor","variant":"%s","epochs":%d,"rows":%d,"secs":%.2f,"rows_per_sec":%.1f,"phase_median_ms":{%s}}""",
      tag, ps.size.asInstanceOf[AnyRef], rows.asInstanceOf[AnyRef],
      secs.asInstanceOf[AnyRef], (rows / secs).asInstanceOf[AnyRef],
      phases))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val files = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val spark = graft.Session.local("ann-floor-probe",
      shufflePartitions = Some(sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32").toInt))
    val root = Files.createTempDirectory("ann-floor").toString
    // the StreamBench trickle shape: 64 queries, 8 per micro-batch
    val qs = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < files * 8L)
      .select(col("vec_id").as("q_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))")
          .as("q_embedding"))
    qs.repartition(files).write.parquet(s"$root/queries")
    val staged = spark.read.parquet(s"$root/queries")
    val schema = staged.schema
    val nRows = staged.count()
    def source() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/queries")

    // one uncounted warm pass per variant (codegen/JIT), then the
    // measured pass — mirroring StreamBench's warm-up discipline
    def run(tag: String)(build: (String, String) => StreamingQuery): Unit = {
      drain(build(s"$root/${tag}_wout", s"$root/${tag}_wchk"))
      val q = build(s"$root/${tag}_out", s"$root/${tag}_chk")
      val secs = drain(q)
      report(tag, q, secs, nRows)
    }

    run("noop") { (_, chk) =>
      source().writeStream
        .option("checkpointLocation", chk)
        .foreachBatch((_: org.apache.spark.sql.DataFrame, _: Long) => ())
        .start()
    }
    run("serve") { (out, chk) =>
      AnnStream.start(spark, source(), sfDir, out, chk)
    }
    // the serving plan without the file sink: same corpus/index build,
    // same answer() plan, executed via a count action
    run("serve_nowrite") { (_, chk) =>
      val (cents, base) = {
        val (c, a) = graft.operators.VectorQueries.semanticModel(spark, sfDir)
        val lbl = graft.Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), col("label"))
        (c, a.join(lbl, Seq("vec_id")).select(col("vec_id"), col("label"),
          col("embedding"), col("nrm"), col("list_id")))
      }
      val corpus = base
        .withColumn("e", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .select(col("vec_id"), col("label"), col("e"), col("nrm"),
          col("list_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      corpus.queryExecution.toRdd.count()
      source().writeStream
        .option("checkpointLocation", chk)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            AnnStream.answer(corpus, cents, batch,
              k = 5, nprobe = AnnStream.DefaultNprobe).count(): Unit
          }
        }
        .start()
    }
    graft.Stage.deleteRecursively(new java.io.File(root))
    spark.stop()
  }
}

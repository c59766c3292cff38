package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.graft.CleanerProbe
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.obs.{Cleaner, Progress, Stats}
import graft.operators.{MultimodalQueries, TextQueries}
import graft.streaming._
import graft.streaming.CdcRelay.RelayConfig

/** The stream catalogue and its bench harness. Each [[Entry]] is one
  * stream over the staged [[Inputs]]: the CDC relay, the stateful and
  * foreachBatch streams, and ANN serving at two loads. `graft.Bench`
  * times them all; `graft.tools.Probe` starts its relay and scale
  * workloads from the same entries.
  *
  * Rates carry the batch queries' noise discipline: each stream runs
  * one uncounted warm-up (a stream plan's first run pays its codegen
  * and JIT cost, 2.8× slower than warm at small loads) and then
  * `SPARK_GRAFT_STREAM_REPS` counted reps (default 5, so the trimmed
  * spread can drop one stalled rep), each in fresh checkpoint, store
  * and output dirs. The published rate is the median. State rows come
  * from the state store's progress metrics or the external store.
  */
object StreamBench {

  /** Counted-rep rates (rows/s); state rows after the last rep; staged
    * rows; the fewest a rep delivered (fewer when a watermark dropped
    * events); ContextCleaner completions and GC ms inside the timed
    * windows, so a slow rep carries its own diagnosis.
    */
  final case class StreamStat(rates: Seq[Double], stateRows: Long,
      staged: Long, delivered: Long, cleanupsInWindow: Long,
      gcMsInWindow: Long) {
    def rowsPerSec: Double = Stats.median(rates)
    def reps: Int = rates.size
    def rpsMin: Double = if (rates.isEmpty) 0.0 else rates.min
    def rpsMax: Double = if (rates.isEmpty) 0.0 else rates.max
    def spread: Double = Stats.spread(rates)
    def trimmedSpread: Double = Stats.trimmedSpread(rates)
  }

  /** The entries' inputs, staged on first use (a subset run stages only
    * what it measures), read-only to every rep, deleted on [[close]].
    */
  final class Inputs(val spark: SparkSession, val sf: String, prefix: String) {
    val root: String = Files.createTempDirectory(prefix).toString

    final class Staged(val dir: String, val rows: Long, val schema: StructType) {
      def stream(maxFilesPerTrigger: Int): DataFrame = spark.readStream
        .schema(schema).option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(dir)
    }

    private def staged(df: DataFrame, key: String, rowsPerFile: Int,
        name: String): Staged = {
      val (n, schema) = Stage.stageOrdered(df, key, rowsPerFile, s"$root/$name")
      new Staged(s"$root/$name", n, schema)
    }

    /** The events table in event-time order, ~4096 per file: one file
      * ≈ one reference source batch (`--event-count-max`).
      */
    lazy val events: Staged = staged(Tables.events(spark, sf), "ts", 4096, "events")

    /** Documents in doc_id order, ~1024 per file, with a producer
      * stamped `ingest_ts` monotone in doc_id (curation's watermark).
      */
    lazy val docs: Staged =
      staged(docColumns(Tables.documents(spark, sf)), "doc_id", 1024, "docs")

    /** The event streams' columns, 8 files per trigger. */
    def eventStream(): DataFrame = events.stream(8)
      .select("event_id", "ts", "user_id", "event_type", "value")

    def docStream(): DataFrame = docs.stream(2)

    private def docColumns(d: DataFrame): DataFrame =
      d.select(col("doc_id"), col("source"), col("text"),
        timestamp_micros(lit(1700000000000000L) + col("doc_id") * 1000000L)
          .as("ingest_ts"))

    /** One more file of 1024 documents for a restart, ids shifted past
      * the staged range under the staged name (another name would read
      * as a null doc_id: an empty batch).
      */
    def appendDocs(): Unit =
      docColumns(Tables.documents(spark, sf)
          .withColumn("doc_id", col("doc_id") + lit(10000000L)))
        .limit(1024).coalesce(1).write.mode("append").parquet(docs.dir)

    /** One more file of 4096 events, ids shifted past the staged range. */
    def appendEvents(): Unit =
      Tables.events(spark, sf).limit(4096)
        .withColumn("event_id", col("event_id") + lit(100000000L))
        .coalesce(1).write.mode("append").parquet(events.dir)

    private def annQueries(tag: String, n: Int, files: Int): Staged = {
      val dir = s"$root/queries_$tag"
      Tables.embeddings(spark, sf).filter(col("vec_id") < n)
        .select(col("vec_id").as("q_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("q_embedding"))
        .repartition(files).write.parquet(dir)
      val q = spark.read.parquet(dir)
      new Staged(dir, q.count(), q.schema)
    }

    /** ANN serving's two loads: a 64-query trickle, 8 per micro-batch,
      * bound by the ~1 s per-micro-batch floor, so it tracks overhead
      * drift; and 512 queries in one micro-batch, the designed
      * operating point where per-query compute dominates (fewer at a
      * tiny sf: whatever exists).
      */
    lazy val annTrickle: Staged = annQueries("trickle", 64, 8)
    lazy val annBatch512: Staged = annQueries("batch512", 512, 1)

    /** decontaminate's resident state: the static eval-set passage
      * hashes, bounded by the benchmark corpus. It keeps no keyed state,
      * and its output is the product, not state.
      */
    lazy val evalHashRows: Long = TextQueries
      .passageHashes(Tables.documents(spark, sf).filter(col("doc_id") % 13 === 0),
        stride = 1)
      .select("ph").distinct().count()

    def rows(dir: String): Long = spark.read.parquet(dir).count()

    def close(): Unit = Stage.deleteRecursively(new File(root))
  }

  /** One stream. `start(in, dir)` starts it with every checkpoint, store
    * and output under `dir` (a new dir starts over, the same one
    * resumes); `input` is the staged rows it consumes; `state` reads its
    * resident state once it has drained; `delivered` counts what it
    * delivered where that can fall short of `input`. `excludeBuild`:
    * `start` builds an index once, a deploy-time cost logged apart and
    * kept out of the rate. `warmups`: uncounted runs before the reps.
    */
  final case class Entry(name: String, input: Inputs => Long,
      start: (Inputs, String) => StreamingQuery,
      state: (Inputs, StreamingQuery, String) => Long =
        (_, q, _) => storeStateRows(q),
      delivered: Option[(Inputs, String) => Long] = None,
      excludeBuild: Boolean = false, warmups: Int = 1)

  private def storeStateRows(q: StreamingQuery): Long =
    Option(q.lastProgress).map(_.stateOperators.map(_.numRowsTotal).sum)
      .getOrElse(0L)

  private def noop(df: DataFrame, dir: String): StreamingQuery =
    df.writeStream.format("noop").option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()

  /** The relay over the staged events with the `RelayConfig` defaults. */
  def relayConfig(in: Inputs, dir: String): RelayConfig =
    RelayConfig(in.events.dir, s"$dir/out", s"$dir/chk")

  /** Scan → envelope → dedup → sink with epoch commits. Its watermark
    * can drop events, so its rate counts the rows it delivered.
    */
  val relay: Entry = Entry("relay", _.events.rows,
    (in, dir) => CdcRelay.start(in.spark, relayConfig(in, dir)),
    delivered = Some((in, dir) => in.rows(s"$dir/out")))

  val sessionize: Entry = Entry("sessionize", _.events.rows, (in, dir) =>
    noop(SessionizeStream.sessions(in.eventStream().select("user_id", "ts")
      .as(Encoders.product[SessionizeStream.Event])).toDF(), dir))

  val incrementalDedup: Entry = Entry("incremental_dedup", _.docs.rows,
    (in, dir) => IncrementalDedupStream.start(in.spark,
      in.docStream().select("doc_id", "text"),
      s"$dir/out", s"$dir/store", s"$dir/chk"),
    (in, _, dir) => in.rows(s"$dir/store"))

  /** The composed curation DAG as one exactly-once stream: curation →
    * exact dedup → prior-only near-dup screen → decontamination →
    * split/shard → packing. State = committed verdicts, one per doc.
    */
  val pipeline: Entry = Entry("pipeline", _.docs.rows,
    (in, dir) => PipelineStream.start(in.spark, in.docStream(), in.sf,
      s"$dir/out", s"$dir/store", s"$dir/chk"),
    (in, _, dir) => in.rows(s"$dir/out/docs"))

  private def annServe(name: String, queries: Inputs => Inputs#Staged): Entry =
    Entry(name, queries(_).rows, (in, dir) => AnnStream.start(in.spark,
        queries(in).stream(1), in.sf, s"$dir/out", s"$dir/chk"),
      (in, _, dir) => in.rows(s"$dir/out"), excludeBuild = true)

  /** In run order. decontaminate and attribution take a second warm-up:
    * behind one, their first counted rep still ran cold.
    */
  val catalogue: Seq[Entry] = Seq(
    relay,
    // read → identity → noop: no state, no shuffle, no per-row work
    // beyond scan and serialize. Its rate is the host's fixed streaming
    // cost for the day; Bench divides every other rate by it
    Entry("calibration", _.events.rows,
      (in, dir) => noop(in.eventStream(), dir), (_, _, _) => 0L),
    Entry("compaction", _.events.rows, (in, dir) => CompactionStream.start(
      in.eventStream().as(Encoders.product[CompactionStream.Event]),
      s"$dir/out", s"$dir/chk")),
    Entry("attribution", _.events.rows, (in, dir) => AttributionStream.start(
      in.eventStream().as(Encoders.product[AttributionStream.Event]),
      s"$dir/out", s"$dir/chk"), warmups = 2),
    sessionize,
    Entry("funnel", _.events.rows, (in, dir) => noop(FunnelStream.stages(
      in.eventStream().select("user_id", "ts", "event_type")
        .as(Encoders.product[FunnelStream.Event])).toDF(), dir)),
    incrementalDedup,
    Entry("sketch", _.docs.rows, (in, dir) => SketchStream.start(in.spark,
        in.docStream().select("text"), s"$dir/out", s"$dir/chk"),
      (_, _, _) => graft.functions.CountMin.Agg.zero.length.toLong), // constant cells
    Entry("curation", _.docs.rows,
      (in, dir) => noop(CurationStream.curated(in.docStream()), dir)),
    pipeline,
    Entry("decontaminate", _.docs.rows, (in, dir) => DecontaminateStream.start(
        in.spark, in.docStream().select("doc_id", "text"), in.sf,
        s"$dir/out", s"$dir/chk"),
      (in, _, _) => in.evalHashRows, warmups = 2),
    Entry("media_features", _.docs.rows, (in, dir) => MediaFeatureStream.start(
      in.docStream().select(
          col("doc_id").as("media_id"),
          element_at(array(lit("png"), lit("jpeg"), lit("wav")),
            (col("doc_id") % 3 + 1).cast("int")).as("format"),
          col("text").cast("binary").as("content"),
          (lit(64) + (col("doc_id") % 8) * 16).cast("int").as("width"),
          (lit(48) + (col("doc_id") % 5) * 16).cast("int").as("height"),
          (lit(1) + col("doc_id") % 30).cast("int").as("n_frames"))
        .as(Encoders.product[MultimodalQueries.MediaIn]),
      s"$dir/out", s"$dir/chk")),
    annServe("ann_serve", _.annTrickle),
    annServe("ann_serve_batch512", _.annBatch512))

  /** name → stat for every entry `SPARK_GRAFT_STREAMS` (comma-separated)
    * names, all when it is unset; a failed stream is logged and left
    * out. A value naming no entry skips the phase, barrier included.
    */
  def run(spark: SparkSession, sf: String): Map[String, StreamStat] = {
    val only = sys.env.get("SPARK_GRAFT_STREAMS").map(_.split(",").map(_.trim).toSet)
    val selected = catalogue.filter(e => only.forall(_.contains(e.name)))
    if (selected.isEmpty) return Map.empty
    val reps = sys.env.get("SPARK_GRAFT_STREAM_REPS").map(_.toInt).getOrElse(5)
    // phase barrier: streams timed while the batch phase's cleanup debt
    // drains run 2-6× slower, nondeterministically (SCALING.md)
    spark.catalog.clearCache()
    val (drained, ms) = Cleaner.drain(spark, maxWaitMs = 60000L, quietMs = 2000L)
    Bench.log("phase barrier: %d cleanups drained in %d ms before the stream phase",
      drained, ms)
    val in = new Inputs(spark, sf, "bench-streams")
    val progress = new Progress(spark)
    try selected.flatMap { e =>
      try Some(e.name -> measure(in, progress, e, reps))
      catch { case t: Throwable =>
        Bench.log("stream %s failed: %s", e.name, t.getMessage); None }
    }.toMap
    finally { progress.close(); in.close() }
  }

  private def measure(in: Inputs, progress: Progress, e: Entry,
      reps: Int): StreamStat = {
    val probe = CleanerProbe.attach(in.spark.sparkContext)
    def cleanups: Long = probe.map(_.total).getOrElse(0L)
    val counted = (0 until e.warmups + reps).flatMap { rep =>
      // the previous rep's debt drains before this window opens
      if (rep >= e.warmups) {
        val (n, ms) = Cleaner.drain(in.spark, maxWaitMs = 8000L, quietMs = 750L)
        if (n > 0) Bench.log("%s rep drain: %d cleanups in %d ms", e.name, n, ms)
      }
      val (cl0, gc0) = (cleanups, CleanerProbe.gcMillis)
      val dir = s"${in.root}/${e.name}/$rep"
      val tBuild = System.nanoTime()
      val q = e.start(in, dir)
      if (e.excludeBuild) Bench.log("%s rep %d index build %.1f s (excluded from rate)",
        e.name, rep, (System.nanoTime() - tBuild) / 1e9)
      val (secs, _) = progress.drain(q, if (e.excludeBuild) System.nanoTime() else tBuild)
      val (clWin, gcWin) = (cleanups - cl0, CleanerProbe.gcMillis - gc0)
      val delivered = e.delivered.fold(e.input(in))(_(in, dir))
      if (delivered != e.input(in))
        Bench.log("%s rep %d delivered %d of %d staged", e.name, rep, delivered, e.input(in))
      if (rep < e.warmups) {
        Bench.log("%s warm-up %.1f rows/s (uncounted)", e.name, delivered / secs)
        None
      } else {
        Bench.log("%s rep %.1f rows/s, in-window cleanups %d, gc %d ms",
          e.name, delivered / secs, clWin, gcWin)
        Some((delivered / secs, e.state(in, q, dir), delivered, clWin, gcWin))
      }
    }
    StreamStat(counted.map(_._1), counted.last._2, e.input(in),
      counted.map(_._3).min, counted.map(_._4).sum, counted.map(_._5).sum)
  }
}

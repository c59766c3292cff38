package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.CountMin

/** Online heavy-hitter maintenance: the streaming form of the
  * count-min operator (`text_heavy_hitters`). Each micro-batch folds
  * its documents into a partial sketch (fixed 8 KiB of state per
  * partition), merges it onto the previous batch's snapshot, and
  * writes the running sketch as a `batch_id`-partitioned single-row
  * snapshot.
  *
  * Why this scales where a streaming groupBy on terms wouldn't: the
  * per-batch shuffle moves one sketch per partition — never the term
  * stream — and the running state is CONSTANT-size regardless of
  * vocabulary, so an unbounded stream needs no watermark/eviction
  * policy at all. Mergeability (CountMinSpec) is what makes the
  * incremental fold exact: stream-end state is bit-identical to a
  * batch sketch over the concatenated input.
  *
  * Recovery contract: batch `n` merges onto snapshot `n-1`, so a
  * replay after a crash between snapshot write and epoch commit
  * rebuilds batch `n` from the same base and overwrites its own
  * partition (dynamic overwrite) — effectively-once, like the relay
  * and AnnStream sinks.
  */
object SketchStream {

  /** Running sketch at the LATEST snapshot with `batch_id <= upTo`, or
    * the zero sketch when none exists yet (negative `upTo`, missing
    * output dir, or no committed batch) — so serving-side estimates
    * are total functions, never path errors. Partition pruning keeps
    * the read to the matching snapshot files.
    */
  def snapshot(spark: SparkSession, outDir: String, upTo: Long): Array[Long] =
    if (upTo < 0) CountMin.Agg.zero
    else try {
      val rows = spark.read.parquet(outDir)
        .filter(col("batch_id") <= upTo)
        .orderBy(col("batch_id").desc)
        .select("sk").limit(1).collect()
      if (rows.isEmpty) CountMin.Agg.zero
      else rows(0).getSeq[Long](0).toArray
    } catch {
      case _: org.apache.spark.sql.AnalysisException => CountMin.Agg.zero
    }

  /** Snapshot at EXACTLY `upTo` via its direct partition path — an
    * O(1) read, where [[snapshot]] LISTS every `batch_id=` partition
    * before pruning (O(B) per call, O(B²) across a stream's life: by
    * the sf10 decade's 245th batch the listing is most of the batch's
    * fixed cost, and a long-lived stream only gets worse). The batch
    * loop's predecessor read is the happy path — batch n runs only
    * after n-1 committed its snapshot — so the listing form survives
    * purely as the fallback (first batch, pruned history, replay
    * after a crash that lost the predecessor's partition).
    */
  private def snapshotAt(spark: SparkSession, outDir: String,
      upTo: Long): Array[Long] =
    if (upTo < 0) CountMin.Agg.zero
    else try {
      val rows = spark.read.parquet(s"$outDir/batch_id=$upTo")
        .select("sk").limit(1).collect()
      if (rows.isEmpty) snapshot(spark, outDir, upTo)
      else rows(0).getSeq[Long](0).toArray
    } catch {
      case _: org.apache.spark.sql.AnalysisException =>
        snapshot(spark, outDir, upTo)
    }

  /** Estimate a term's frequency from the latest snapshot ≤ `upTo`. */
  def estimate(spark: SparkSession, outDir: String, upTo: Long,
      term: String): Long =
    CountMin.estimate(snapshot(spark, outDir, upTo), term)

  /** Start the sketch-maintenance stream over a streaming frame of
    * documents with a `text` column.
    */
  def start(spark: SparkSession, docs: DataFrame, outDir: String,
      chkDir: String): StreamingQuery = {
    graft.Session.setup(spark)
    import spark.implicits._
    docs.writeStream
      .option("checkpointLocation", chkDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val partial = batch
          .select(explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= "")
          .as[String]
          .select(CountMin.Agg.toColumn)
          .head()
        val merged = CountMin.Agg.merge(
          snapshotAt(spark, outDir, batchId - 1), partial)
        EpochStore.overwrite(
          spark.createDataset(Seq(merged)).toDF("sk").coalesce(1),
          outDir, batchId)
      }
      .start()
  }
}

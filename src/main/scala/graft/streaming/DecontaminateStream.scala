package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Online benchmark decontamination — the streaming twin of
  * `dedup_decontaminate`: incoming crawl batches are checked against
  * the held-out eval set's passage hashes AS THEY ARRIVE, so
  * contaminated documents are flagged before they ever land in the
  * training corpus (the batch pass then only re-certifies).
  *
  * Per-doc passage hashing is the SAME definition as the batch
  * operator ([[graft.operators.TextQueries.passageHashes]]), so the
  * two paths agree by construction. The eval hash set is built once at
  * stream start (small — a benchmark corpus, not the crawl) and served
  * from the session cache; each micro-batch joins against it on the
  * hash only — payloads never shuffle. Output is `batch_id`-
  * partitioned with dynamic overwrite, so a replayed batch overwrites
  * its previous attempt (the relay/AnnStream idempotence contract).
  */
object DecontaminateStream {

  /** The eval holdout's distinct passage hashes (eph LONG): `sfDir`'s
    * documents with `doc_id % 13 == 0` (the batch operator's rule).
    */
  def evalSet(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.TextQueries
      .passageHashes(
        graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 13 === 0),
        stride = 1)
      .select(col("ph").as("eph")).distinct()

  /** Start the stream: `docs` is a streaming frame with (doc_id LONG,
    * text STRING), checked against [[evalSet]].
    */
  def start(spark: SparkSession, docs: DataFrame, sfDir: String,
      outDir: String, chkDir: String): StreamingQuery = {
    graft.Session.setup(spark)
    StreamLifecycle.pin(spark, evalSet(spark, sfDir)) { eval => docs.writeStream
      .option("checkpointLocation", chkDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val perDoc = graft.operators.TextQueries
          .passageHashes(batch, stride = 1)
          .join(eval, col("ph") === col("eph"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_passages"), count(col("eph")).as("n_hits"))
        // EVERY doc in the batch gets a verdict row: a sub-8-token doc
        // has no passages to test, so it reports (0, 0, clean) rather
        // than silently vanishing from a report consumers gate on
        EpochStore.overwrite(batch.select(col("doc_id")).distinct()
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_passages"), lit(0L)).as("n_passages"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated")),
          outDir, batchId)
      }
      .start()
    }
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming multimodal feature extraction — the batch decode pipeline
  * ([[graft.operators.MultimodalQueries.mediaFeatures]]) as a stream:
  * binary assets arrive in micro-batches, each partition is one typed
  * decode batch (`mapPartitions` over the SAME case classes and the
  * SAME stub decoder as the batch path, so batch and streaming
  * features agree by construction), and results land in a
  * batch_id-idempotent sink.
  *
  * This is the plumbing a real codec plugs into unchanged: the decode
  * stays executor-side per partition (no per-row driver round trip),
  * binary payloads never shuffle (the projection is narrow and the
  * sink partitions only by batch_id), and a replayed epoch overwrites
  * its own partition.
  */
object MediaFeatureStream {

  /** Start the stream: `media` is a streaming Dataset of
    * [[graft.operators.MultimodalQueries.MediaIn]] rows.
    */
  def start(media: Dataset[graft.operators.MultimodalQueries.MediaIn],
      outDir: String, chkDir: String): StreamingQuery = {
    graft.Session.setup(media.sparkSession)
    import media.sparkSession.implicits._
    media
      .mapPartitions(_.map(graft.operators.MultimodalQueries.decodeStub))
      .toDF()
      .writeStream
      .option("checkpointLocation", chkDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        EpochStore.overwrite(batch, outDir, batchId)
      }
      .start()
  }
}

package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.IncrementalDedupStream

/** Streaming incremental dedup must keep first-seen content only —
  * within a batch and across batches — treat NULL text as always
  * novel (the batch operators' NOT EXISTS semantics), and replay an
  * epoch idempotently.
  */
class IncrementalDedupStreamSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def writeBatch(in: String, name: String,
      rows: Seq[(java.lang.Long, String)]): Unit =
    StreamFiles.writeOneFile(spark, in, name,
      rows.map { case (id, t) => Row(id, t) }, schema)

  test("keeps first-seen content within and across epochs; NULL text " +
      "is always novel; replay is idempotent") {
    val root = Files.createTempDirectory("incdedup-stream").toString
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val out = s"$root/out"; val store = s"$root/store"

    writeBatch(in, "b1.parquet", Seq(
      (1L, "alpha"), (2L, "alpha"), // within-batch dup: min doc_id wins
      (3L, "beta")))
    writeBatch(in, "b2.parquet", Seq(
      (4L, "alpha"), // cross-batch dup -> dropped
      (5L, "gamma"), // novel -> kept
      (6L, null), (7L, null))) // NULL text: BOTH survive

    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = IncrementalDedupStream.start(
      spark, docs, out, store, s"$root/chk")
    try q.processAllAvailable() finally q.stop()

    def survivors(b: Long): Seq[Long] =
      spark.read.parquet(out).filter(col("batch_id") === b)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(survivors(0) == Seq(1L, 3L))
    assert(survivors(1) == Seq(5L, 6L, 7L))

    // the store holds hashes only — one per surviving non-NULL content —
    // partitioned by (batch_id, hash prefix): hp is a partition COLUMN
    // (directory level), so a probe's prefix filter prunes the listing
    val stored = spark.read.parquet(store)
    assert(stored.columns.sorted.toSeq == Seq("batch_id", "h", "hp"))
    assert(stored.count() == 3) // alpha, beta, gamma
    assert(stored.filter(col("h").isNull).count() == 0)
    val hpDirs = new java.io.File(store).listFiles()
      .filter(_.getName.startsWith("batch_id=")).flatMap(_.listFiles())
      .filter(_.getName.startsWith("hp="))
    assert(hpDirs.nonEmpty, "store not laid out as batch_id=*/hp=*")
    // every stored hp value is the write-side function of its hash —
    // the probe recomputes the same function on the batch side, so a
    // mismatch here would break pruning correctness (missed duplicates)
    val nHp = graft.streaming.EpochStore.HashParts
    assert(stored.filter(
      col("hp") =!= pmod(xxhash64(col("h")), lit(nHp.toLong)))
      .count() == 0)

    // replay epoch 1 directly: same survivors, store unchanged —
    // the epoch reads only batch_id < 1 and overwrites its own
    // partitions, so a crash-window replay cannot double-publish
    import scala.jdk.CollectionConverters._
    val replay = spark.createDataFrame(
      Seq(Row(4L, "alpha"), Row(5L, "gamma"), Row(6L, null), Row(7L, null))
        .asJava, schema)
    IncrementalDedupStream.processBatch(replay, 1L, out, store)
    assert(survivors(1) == Seq(5L, 6L, 7L))
    assert(spark.read.parquet(store).count() == 3)
  }

  test("store probe works through a file:-URI Hadoop path (cluster FS " +
      "contract — java.io would see nothing)") {
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("incdedup-hadoop").toString
    // explicit scheme: the probe must go through Hadoop FileSystem —
    // on HDFS/S3 a driver-local java.io listing returns null forever
    // and cross-batch dedup silently degrades to within-batch only
    val out = s"file://$root/out"; val store = s"file://$root/store"

    def batch(rows: Seq[(java.lang.Long, String)]) =
      spark.createDataFrame(
        rows.map { case (id, t) => Row(id, t) }.asJava, schema)

    IncrementalDedupStream.processBatch(
      batch(Seq((1L, "alpha"), (2L, "beta"))), 0L, out, store)
    // epoch 1 MUST see epoch 0's store through the Hadoop path and
    // drop the cross-batch duplicate
    IncrementalDedupStream.processBatch(
      batch(Seq((3L, "alpha"), (4L, "gamma"))), 1L, out, store)

    val survivors = spark.read.parquet(out)
      .filter(col("batch_id") === 1)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(survivors == Seq(4L), s"cross-batch dedup lost: $survivors")
    assert(spark.read.parquet(store).count() == 3) // alpha, beta, gamma
  }
}

package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.IncrementalDedupStream

/** Store compaction must bound the partition count without ever
  * changing a dedup decision: tiered generations fold the pending base
  * epochs `[prevB, B)` into an immutable `batch_id = -B` partition
  * (each fold O(compactEvery), never O(history)), inputs are deleted
  * only by a later batch, and a replay of the compacting batch stays
  * idempotent.
  */
class IncrementalDedupCompactionSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def batch(rows: Seq[(Long, String)]) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map { case (id, t) => Row(Long.box(id), t) }.asJava, schema)
  }

  private def partIds(store: String): Seq[Long] =
    new java.io.File(store).listFiles()
      .filter(_.getName.startsWith("batch_id="))
      .map(_.getName.stripPrefix("batch_id=").toLong).toSeq.sorted

  test("generations bound the store; dedup decisions and replay are " +
      "unchanged across compaction") {
    val root = Files.createTempDirectory("incdedup-compact").toString
    val out = s"$root/out"; val store = s"$root/store"

    // 7 epochs, compactEvery = 3; each epoch brings one novel doc and
    // one duplicate of epoch 0's content
    (0L to 6L).foreach { b =>
      IncrementalDedupStream.processBatch(
        batch(Seq((b * 10, s"novel-$b"), (b * 10 + 1, "dup-of-epoch0"))),
        b, out, store, compactEvery = 3)
    }

    // every epoch's survivors: the novel doc, plus epoch 0's dup seed
    val survivors = spark.read.parquet(out)
      .groupBy("batch_id").agg(sort_array(collect_list("doc_id")).as("ids"))
      .collect().map(r => r.getInt(0).toLong -> r.getSeq[Long](1)).toMap
    assert(survivors(0L) == Seq(0L, 1L))
    (1L to 6L).foreach { b =>
      assert(survivors(b) == Seq(b * 10), s"epoch $b survivors")
    }

    // the distinct hash set is intact: 7 novels + the dup content
    val stored = spark.read.parquet(store).select("h").distinct()
    assert(stored.count() == 8)

    // partition algebra (tiered chain): batch 3 folded base epochs
    // [0,3) into gen -3; batch 4 deleted those inputs; batch 6 folded
    // the pending tail [3,6) into -6 (NOT the history — generations
    // are immutable, each fold is O(compactEvery)), whose inputs
    // survive until a later batch proves 6 committed
    val parts = partIds(store)
    assert(parts.contains(-6L), s"generation -6 missing: $parts")
    assert(!parts.exists(p => p >= 0 && p < 3), s"gen -3 inputs leaked: $parts")
    assert(parts == Seq(-6L, -3L, 3L, 4L, 5L, 6L), s"unexpected: $parts")
    // the chain is disjoint: -6 holds only [3,6)'s first-seen hashes
    val gen6 = spark.read.parquet(store)
      .filter(col("batch_id") === -6).select("h")
    val tail35 = spark.read.parquet(store)
      .filter(col("batch_id").isin(3, 4, 5)).select("h")
    assert(gen6.count() == 3 &&
      gen6.exceptAll(tail35).count() == 0,
      "gen -6 must fold exactly the pending tail [3,6)")

    // replay the compacting batch (crash between compaction and stream
    // commit): same survivors, same distinct store, gen -6 rewritten
    // from the same not-yet-deleted inputs
    IncrementalDedupStream.processBatch(
      batch(Seq((60L, "novel-6"), (61L, "dup-of-epoch0"))),
      6L, out, store, compactEvery = 3)
    val replayed = spark.read.parquet(out).filter(col("batch_id") === 6)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(replayed == Seq(60L))
    assert(spark.read.parquet(store).select("h").distinct().count() == 8)
    assert(partIds(store) == Seq(-6L, -3L, 3L, 4L, 5L, 6L))

    // one more epoch retires gen -6's BASE inputs; generations are
    // immutable and stay — steady state = the generation chain +
    // epochs since the newest boundary
    IncrementalDedupStream.processBatch(
      batch(Seq((70L, "novel-7"))), 7L, out, store, compactEvery = 3)
    assert(partIds(store) == Seq(-6L, -3L, 6L, 7L))
    assert(spark.read.parquet(store).select("h").distinct().count() == 9)
  }

  test("epochs through a compaction fork no process for store, sink or " +
      "committer files, and keep their .crc sidecars") {
    val root = Files.createTempDirectory("incdedup-forks").toString
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val out = s"$root/out"; val store = s"$root/store"
    (0 until 5).foreach { b =>
      StreamFiles.writeOneFile(spark, in, s"b$b.parquet",
        Seq(Row(Long.box(b * 10L), s"novel-$b"),
          Row(Long.box(b * 10L + 1), "dup-of-epoch0")), schema)
    }
    // as in a session built elsewhere: Hadoop's file: FileSystem is
    // cached before set-up runs
    ProcessStarts.cacheHadoopFileSystem(spark)
    val starts = ProcessStarts.during {
      val q = IncrementalDedupStream.start(spark,
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(in), out, store, s"$root/chk", compactEvery = 3)
      try q.processAllAvailable() finally q.stop()
    }
    // epoch 3 folded [0,3) into generation -3, epoch 4 deleted its inputs
    assert(partIds(store) == Seq(-3L, 3L, 4L))
    assert(spark.read.parquet(out).count() == 6)
    val viaRaw = starts.filter(ProcessStarts.hasFrame(_, "RawLocalFileSystem"))
    assert(viaRaw.isEmpty,
      s"${viaRaw.size} process starts under a RawLocalFileSystem")
    Seq(out, store).foreach { dir =>
      val (noCrc, parts) = ProcessStarts.withoutCrc(dir)
      assert(parts > 0 && noCrc.isEmpty, noCrc.mkString(","))
    }
  }

  test("compaction disabled (compactEvery <= 0) keeps the flat layout") {
    val root = Files.createTempDirectory("incdedup-nocompact").toString
    val out = s"$root/out"; val store = s"$root/store"
    (0L to 4L).foreach { b =>
      IncrementalDedupStream.processBatch(
        batch(Seq((b, s"n-$b"))), b, out, store, compactEvery = 0)
    }
    assert(partIds(store) == Seq(0L, 1L, 2L, 3L, 4L))
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamLifecycle

/** A pinned frame lives exactly as long as its query: a start that
  * fails releases it at once, a stopped query releases it once the
  * termination event is delivered.
  */
class StreamLifecycleSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("pin releases its frame when start fails and when the query stops") {
    val cache = spark.sharedState.cacheManager
    val root = Files.createTempDirectory("pin")
    // a checkpoint location that is a plain file: the query cannot start
    val notADir = Files.write(root.resolve("chk-file"), Array[Byte](1))
    def start(chk: String)(pinned: DataFrame): StreamingQuery =
      spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .crossJoin(pinned)
        .writeStream.format("noop")
        .option("checkpointLocation", chk)
        .start()
    def frame = spark.range(10).toDF("id")

    spark.catalog.clearCache()
    intercept[Exception](
      StreamLifecycle.pin(spark, frame)(start(notADir.toString)))
    assert(cache.isEmpty)

    val q = StreamLifecycle.pin(spark, frame)(
      start(root.resolve("chk").toString))
    assert(!cache.isEmpty)
    q.stop()
    val until = System.nanoTime() + 20000000000L
    while (!cache.isEmpty && System.nanoTime() < until) Thread.sleep(20)
    assert(cache.isEmpty, "the pinned frame outlived its query")
  }
}

package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Staged stream inputs must reach FileStreamSource in timestamp-range
  * order. A parallel `repartitionByRange(...).write` leaves part files
  * with completion-order mtimes, and the source admits pending files in
  * mtime order — so under a small maxFilesPerTrigger later ranges can
  * be admitted first and the earlier files' rows then drop below the
  * watermark (measured at sf1: mfpt=8 delivered 844k of 1M staged
  * events). Stage.orderStagedFiles restores the ordered-CDC contract by
  * re-stamping part files with strictly increasing mtimes in path
  * (= range) order.
  */
class StageOrderingSpec extends AnyFunSuite {

  private def touch(dir: File, name: String, mtime: Long): File = {
    val f = new File(dir, name)
    Files.write(f.toPath, Array[Byte](1))
    assert(f.setLastModified(mtime))
    f
  }

  test("part files get strictly increasing mtimes in path order") {
    val dir = Files.createTempDirectory("stage-order").toFile
    try {
      val now = System.currentTimeMillis()
      // completion-order mtimes: last range finished first
      val p2 = touch(dir, "part-00002-x.snappy.parquet", now - 50000)
      val p0 = touch(dir, "part-00000-x.snappy.parquet", now - 10000)
      val p1 = touch(dir, "part-00001-x.snappy.parquet", now - 30000)
      val crc = touch(dir, "part-00000-x.snappy.parquet.crc", now)
      val success = touch(dir, "_SUCCESS", now)

      Stage.orderStagedFiles(dir.toString)

      assert(p0.lastModified < p1.lastModified)
      assert(p1.lastModified < p2.lastModified)
      // stamps sit in the past so any later-appended file sorts after
      assert(p2.lastModified <= System.currentTimeMillis())
      // non-parquet siblings are left alone
      assert(crc.lastModified === now)
      assert(success.lastModified === now)
    } finally Stage.deleteRecursively(dir)
  }

  test("empty and missing directories are no-ops") {
    val dir = Files.createTempDirectory("stage-order-empty").toFile
    try {
      Stage.orderStagedFiles(dir.toString)
      Stage.orderStagedFiles(new File(dir, "does-not-exist").toString)
    } finally Stage.deleteRecursively(dir)
  }

  test("stageOrdered writes increasing, non-overlapping key ranges in mtime order") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("stage-ordered").toFile
    try {
      val keys = scala.util.Random.shuffle((1 to 5000).toList)
      val (n, schema) = Stage.stageOrdered(
        keys.toDF("k").repartition(7), "k", 400, s"$dir/in")
      assert(n === 5000L)
      assert(schema.fieldNames.toSeq === Seq("k"))
      val files = new File(s"$dir/in").listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified)
      assert(files.map(_.lastModified).distinct.length === files.length)
      val ranges = files.toSeq.map { f =>
        val ks = spark.read.parquet(f.getPath).as[Int].collect().toSeq
        assert(ks === ks.sorted, s"${f.getName} is not sorted")
        (ks.head, ks.last, ks.size)
      }
      assert(ranges.size > 1)
      ranges.sliding(2).foreach { case Seq(a, b) => assert(a._2 < b._1) }
      assert(ranges.map(_._3).sum === 5000)
    } finally Stage.deleteRecursively(dir)
  }
}

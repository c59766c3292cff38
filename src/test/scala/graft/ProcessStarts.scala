package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.fs.{FileSystem, FsConstants}
import org.apache.spark.sql.SparkSession

/** The `jdk.ProcessStart` events (with stack traces) the JVM records
  * while `body` runs, read back from a flight recording.
  */
object ProcessStarts {

  def during(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    val dump = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try body finally rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  /** True iff a frame of `e`'s stack belongs to a class whose name
    * contains `cls`.
    */
  def hasFrame(e: RecordedEvent, cls: String): Boolean =
    Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
      _.getMethod.getType.getName.contains(cls)))

  /** The process starts recorded on the calling thread. */
  def onThisThread(events: Seq[RecordedEvent]): Seq[RecordedEvent] = {
    val id = Thread.currentThread.getId
    events.filter(e => Option(e.getThread).exists(_.getJavaThreadId == id))
  }

  /** Cache Hadoop's own `file:` FileSystem and unset `spark`'s
    * `fs.file.impl`: the state of a session built elsewhere whose
    * FileSystem was used before `Session.setup` ran (a benchmark's
    * checkpoint-dir mkdirs, say).
    */
  def cacheHadoopFileSystem(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    FileSystem.get(FsConstants.LOCAL_FS_URI, conf).close()
    conf.unset("fs.file.impl")
    val fs = FileSystem.get(FsConstants.LOCAL_FS_URI, conf)
    // Hadoop's, or whichever `file:` FileSystem its service loader finds
    assert(!fs.getClass.getName.startsWith("graft."), fs.getClass)
  }

  /** The parquet files under `dir` that have no `.crc` sidecar, and
    * how many parquet files there are.
    */
  def withoutCrc(dir: String): (Seq[String], Int) = {
    val walk = Files.walk(Paths.get(dir))
    val parquet = try walk.iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    finally walk.close()
    (parquet.filterNot(p => Files.exists(p.resolveSibling(s".${p.getFileName}.crc")))
      .map(_.toString), parquet.size)
  }
}

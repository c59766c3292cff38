package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}

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
}

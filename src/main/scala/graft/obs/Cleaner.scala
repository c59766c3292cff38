package graft.obs

import org.apache.spark.graft.CleanerProbe
import org.apache.spark.sql.SparkSession

object Cleaner {

  /** Drain the ContextCleaner's debt before a timed window opens: force
    * a GC so every unreachable RDD, shuffle, broadcast and checkpoint
    * reference enqueues, then poll [[CleanerProbe]] until no cleanup
    * lands for `quietMs` (or `maxWaitMs` passes). Streams timed while a
    * batch phase's cleanup debt drains run 2-6× slower (SCALING.md,
    * "curation's slow mode"); a fixed sleep races that drain, polling
    * waits as long as the debt needs.
    *
    * Returns (cleanups observed, ms waited). Without a cleaner
    * (`referenceTracking` off) there is nothing to race: one `quietMs`
    * sleep.
    */
  def drain(spark: SparkSession, maxWaitMs: Long, quietMs: Long): (Long, Long) = {
    val probe = CleanerProbe.attach(spark.sparkContext)
    System.gc()
    probe match {
      case None =>
        Thread.sleep(quietMs)
        (0L, quietMs)
      case Some(c) =>
        val start = c.total
        var last = start
        var quiet = 0L
        var waited = 0L
        var secondGc = false
        while (quiet < quietMs && waited < maxWaitMs) {
          Thread.sleep(250)
          waited += 250
          val now = c.total
          if (now != last) { last = now; quiet = 0L }
          else quiet += 250
          // once the first wave quiesces, a second collection catches
          // references the first one only made unreachable; polling
          // restarts so that wave drains before the window opens too
          if (!secondGc && quiet >= quietMs) {
            System.gc(); secondGc = true; quiet = 0L
          }
        }
        (last - start, waited)
    }
  }
}

package graft

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList,
  CountDownLatch, TimeUnit}

import scala.io.Source
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.scheduler.{JobSucceeded, SparkListener,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A staged query that fails part-way releases every frame it staged,
  * and its caller sees the failure itself. Overlapped legs carry the
  * caller's local properties, a failing leg cancels its siblings, and
  * the overlapped and serial paths give one answer.
  */
class StageFanoutSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def fails(stage: DataFrame => DataFrame): Throwable = {
    spark.catalog.clearCache()
    val e = intercept[Exception](stage(spark.range(100).toDF("id")))
    assert(spark.sharedState.cacheManager.isEmpty)
    e
  }

  private def boom: DataFrame => Nothing =
    _ => throw new IllegalStateException("boom")

  /** Run `body` with legs overlapped (or serial), whatever the heap. */
  private def withSmallHeap[T](small: Boolean)(body: => T): T = {
    spark.conf.set("spark.graft.smallHeap", small.toString)
    try body finally spark.conf.unset("spark.graft.smallHeap")
  }

  /** Run `body` with a listener that sees every job start and end. */
  private def listening[T](onStart: SparkListenerJobStart => Unit,
      onEnd: SparkListenerJobEnd => Unit = _ => ())(body: => T): T = {
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = onStart(e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = onEnd(e)
    }
    spark.sparkContext.addSparkListener(listener)
    try body finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Listener-bus events arrive asynchronously: poll for `cond`. */
  private def waitFor(what: String, timeoutMs: Long = 20000)(
      cond: => Boolean): Unit = {
    val until = System.nanoTime() + timeoutMs * 1000000L
    while (!cond && System.nanoTime() < until) Thread.sleep(20)
    assert(cond, what)
  }

  private def group(e: SparkListenerJobStart): Option[String] =
    Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("graft-stage-"))

  test("a throwing build, derive or checkpoint leaves no cached frame") {
    assert(fails(Stage.fanout(_)(boom)).getMessage == "boom")
    assert(fails(Stage.fanout2(_)(boom)((a, _) => a)).getMessage == "boom")
    assert(fails(Stage.fanout2(_)(_.filter(col("id") > 5))(
      (_, b) => boom(b))).getMessage == "boom")
    // the checkpoint job itself fails, after `build`'s frame is staged
    val e = fails(Stage.fanout(_)(_.select(raise_error(lit("late")))))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("late")), e)
    // the success path still releases everything
    spark.catalog.clearCache()
    assert(Stage.fanout(spark.range(10).toDF("id"))(_.filter(col("id") > 4))
      .count() == 5)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a failing leg cancels its sibling's running job, and the caller " +
      "sees the leg's own error with nothing left staged or running") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val legJobs = ConcurrentHashMap.newKeySet[Int]()
    val ends = new ConcurrentHashMap[Int, String]()
    val slowStarted = new CountDownLatch(1)
    val t0 = System.nanoTime()
    val e = listening(e => group(e).foreach { _ =>
      legJobs.add(e.jobId); slowStarted.countDown()
    }, e => ends.put(e.jobId, e.jobResult.toString)) {
      withSmallHeap(false) {
        intercept[IllegalStateException] {
          Stage.staging(spark) { st =>
            st.persist(spark.range(10).toDF("id")).count()
            // 4 tasks of 60 s each: one per core of the test session
            val slow = st.overlap(sc.parallelize(1 to 4, 4)
              .map { i => Thread.sleep(60000L); i }.count())
            val bad = st.overlap[Long] {
              assert(slowStarted.await(30, TimeUnit.SECONDS))
              throw new IllegalStateException("leg failed")
            }
            slow() + bad()
          }
        }
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage == "leg failed")
    assert(secs < 30, s"the failure took $secs s to surface")
    assert(spark.sharedState.cacheManager.isEmpty)
    waitFor("the sibling's job ended")(
      legJobs.asScala.nonEmpty && legJobs.asScala.forall(ends.containsKey))
    assert(legJobs.asScala.forall(j => ends.get(j) != JobSucceeded.toString),
      ends)
    assert(legJobs.asScala.exists(j => ends.get(j).contains("cancel")), ends)
    waitFor("no job is active")(sc.statusTracker.getActiveJobIds().isEmpty)
  }

  test("legs run their jobs with the caller's current local properties") {
    val sc = spark.sparkContext
    // (scope group, graft.t) of every leg job, in job-start order
    val seen = new CopyOnWriteArrayList[(String, String)]()
    listening(e => group(e).foreach { g =>
      seen.add(g -> String.valueOf(e.properties.getProperty("graft.t")))
    }) {
      withSmallHeap(false) {
        try Seq("q1", "q2").foreach { v =>
          sc.setLocalProperty("graft.t", v)
          Stage.staging(spark) { st =>
            (1 to 3).map(i => st.overlap(spark.range(10L * i).count()))
              .map(_())
          }
        } finally sc.setLocalProperty("graft.t", null)
        waitFor("every scope's leg jobs were seen")(
          seen.asScala.groupBy(_._1).values.count(_.size >= 3) == 2)
      }
    }
    val jobs = seen.asScala.toSeq
    val byScope = jobs.map(_._1).distinct
      .map(g => jobs.filter(_._1 == g).map(_._2).toSet)
    assert(byScope == Seq(Set("q1"), Set("q2")), jobs)
  }

  test("dedupAgreement and retrievalAgreement give one answer overlapped " +
      "and serial") {
    import graft.operators.TextQueries
    val d = "/root/testdata/sf0.001"
    def answers(small: Boolean) = withSmallHeap(small) {
      Seq(TextQueries.dedupAgreement(spark, d),
        TextQueries.retrievalAgreement(spark, d)).map(_.collect().toSeq)
    }
    spark.catalog.clearCache()
    val overlapped = answers(small = false)
    assert(overlapped.forall(_.nonEmpty))
    assert(overlapped == answers(small = true))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("no thread-pool future outside Stage's legs in the program") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    // DatasetBridge waits on an Observation's future with
    // `Await.ready` and the `parasitic` context: no pool, no stale
    // properties, and none of the patterns below
    val banned = Seq("ExecutionContext.Implicits.global", "Future(",
      "Future {")
    val hits = for {
      f <- files(root)
      (line, n) <- Using.resource(Source.fromFile(f, "UTF-8"))(
        _.getLines().toList).zipWithIndex
      if banned.exists(line.contains)
    } yield s"${f.getPath}:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}

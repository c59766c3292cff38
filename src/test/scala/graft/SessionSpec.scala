package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{AsOfJoinStrategy, GraftExtensions}
import graft.streaming.IncrementalDedupStream

/** Every public entry point sets up the session it is given. A
  * `newSession()` carries none of the runtime registrations of the
  * shared test session, so each case starts from a vanilla session.
  */
class SessionSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  // the repository's copy of the sf0.001 tables
  private val sf = "perfbench/data/sf0.001"

  private def names = GraftExtensions.definitions.map(_._1)

  private def registered(s: SparkSession): Boolean =
    names.forall(n => s.sessionState.functionRegistry
      .functionExists(FunctionIdentifier(n))) &&
      s.experimental.extraStrategies.contains(AsOfJoinStrategy)

  private def fresh(): SparkSession = {
    val s = spark.newSession()
    assert(names.forall(n => !s.sessionState.functionRegistry
      .functionExists(FunctionIdentifier(n))))
    assert(s.experimental.extraStrategies.isEmpty)
    s
  }

  test("queries built through SparkEntry.queries plan on a fresh session") {
    // a native function resolved by name, and the as-of join strategy
    Seq("cdc_envelope_native", "cdc_asof_native").foreach { name =>
      SparkEntry.queries(name)(fresh(), sf).queryExecution.executedPlan
    }
  }

  test("SparkEntry.entry and IncrementalDedupStream.start set up their session") {
    val viaEntry = fresh()
    SparkEntry.entry(viaEntry)
    assert(registered(viaEntry))

    val viaStream = fresh()
    val root = Files.createTempDirectory("session-setup").toString
    new java.io.File(s"$root/in").mkdirs()
    val q = IncrementalDedupStream.start(viaStream,
      viaStream.readStream.schema("doc_id LONG, text STRING").parquet(s"$root/in"),
      s"$root/out", s"$root/store", s"$root/chk")
    try assert(registered(viaStream)) finally q.stop()
  }
}

package org.apache.spark.sql.graftbridge

import java.util.concurrent.{CompletableFuture, ExecutorService}
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SQLExecution

/** Bridge into the `private[sql]` Dataset constructor — the standard
  * technique for libraries that add whole logical operators (the same
  * pattern third-party Spark extensions use): living in an
  * `org.apache.spark.sql` subpackage grants access to
  * `classic.Dataset.ofRows`, the only way to wrap a custom LogicalPlan
  * back into a public DataFrame.
  */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A new session over the same SparkContext and shared state with a
    * copy of every SQL conf entry of `spark` (set directly on the
    * SQLConf, as `SQLConf.clone` does, so entries fixed at session
    * build carry over too). Conf changes on the copy do not reach
    * `spark`, and vice versa. Unlike `cloneSession` it copies no temp
    * views, functions or query execution listeners: a clone of a
    * session with such listeners registers its own listener bus on the
    * SparkContext, which stays there until the clone is collected.
    */
  def confClone(spark: SparkSession): SparkSession = {
    val clone = spark.newSession().asInstanceOf[classic.SparkSession]
    val conf = clone.sessionState.conf
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.getAllConfs
      .foreach { case (k, v) => conf.setConfString(k, v) }
    clone
  }

  /** A DataFrame's analyzed plan, with its relations resolved in the
    * DataFrame's own session; [[ofRows]] re-roots it in another one.
    */
  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Wrap a raw Catalyst Expression into a public Column
    * (`classic.ExpressionUtils.column` is `private[sql]`) — needed for
    * parameterized native expressions that can't register as SQL
    * functions because they carry a driver-built object (e.g.
    * [[graft.plans.SemanticAssign]]'s quantizer index).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)

  /** The reverse direction: a Column's underlying Expression. */
  def expression(spark: SparkSession, c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** A DataFrame's compiled `RDD[InternalRow]` (`queryExecution.toRdd`
    * lives on `classic.Dataset`). Rows are REUSED UnsafeRows — callers
    * that retain them (e.g. to persist) must `.copy()` per row.
    */
  def internalRdd(df: DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.toRdd

  /** Wrap a materialized `RDD[InternalRow]` back into a DataFrame via
    * [[org.apache.spark.sql.execution.LogicalRDD]] — an O(1) leaf plan.
    * This is how an iterative driver roots each round's state as a
    * self-contained relation: re-deriving round r from a chained
    * `persist()` keeps the previous rounds' InMemoryRelations nested
    * inside the new cache entry (an r-deep plan whose blocks the cache
    * manager cannot reclaim), whereas a LogicalRDD over an explicitly
    * persisted RDD gives O(1) analysis per round and a deterministic
    * two-generation block lifecycle.
    */
  def ofInternalRows(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow])
      : DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(schema)
    classic.Dataset.ofRows(cs,
      org.apache.spark.sql.execution.LogicalRDD(attrs, rdd)(cs))
  }

  /** Run `body` on `pool` with the caller's local properties and
    * session as they are now (as Spark's broadcast threads do), its jobs
    * in job `group`, interrupt on cancel, keeping the job description.
    */
  def inJobGroup[T](spark: SparkSession, pool: ExecutorService,
      group: String)(body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(
        spark.asInstanceOf[classic.SparkSession], pool) {
      val sc = spark.sparkContext
      sc.setJobGroup(group, sc.getLocalProperty(
        SparkContext.SPARK_JOB_DESCRIPTION), interruptOnCancel = true)
      body
    }

  /** Block until every event posted to `spark`'s listener bus so far
    * has been delivered (`LiveListenerBus.waitUntilEmpty` is
    * `private[spark]`): query execution and streaming progress
    * listeners hear of a finished action asynchronously.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Bounded LATCH wait for an observation's metrics: the listener
    * completes the observation's internal Promise, so parking on its
    * `future` wakes at delivery instead of polling (a 50 ms sleep loop
    * could stall an iterative driver up to 30 s per round on a slow
    * listener bus). Returns empty on timeout — callers keep their
    * direct-aggregation fallback; correctness never depends on
    * listener delivery.
    */
  def observedWithin(obs: org.apache.spark.sql.Observation,
      timeoutMs: Long): Map[String, Any] = {
    try scala.concurrent.Await.ready(obs.future,
      scala.concurrent.duration.Duration(timeoutMs, "ms"))
    catch {
      case _: java.util.concurrent.TimeoutException => ()
      case _: InterruptedException => Thread.currentThread().interrupt()
    }
    obs.getOrEmpty
  }

  /** Run `f` with the metrics when (if ever) they land — fully
    * non-blocking, for best-effort observability side channels (log
    * lines); never use for correctness.
    */
  def onObserved(obs: org.apache.spark.sql.Observation)(
      f: Map[String, Any] => Unit): Unit = {
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.parasitic
    obs.future.foreach { row =>
      val names = row.schema.map(_.name)
      f(names.zip(names.indices.map(row.get)).toMap)
    }
  }
}

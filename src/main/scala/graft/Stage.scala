package graft

import java.util.concurrent.{CompletableFuture, CompletionException,
  ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Plan-staging utilities for queries whose DAG fans out over one
  * expensive subtree (shared by the dedup and ANN pipelines).
  *
  * Spark recomputes a logical subtree once per consumer unless it is
  * persisted — `ReusedExchange` only kicks in when the consumers shuffle
  * on the SAME keys, which the dedup pipelines deliberately don't (they
  * group/join the shared relation by different keys). At 100 TB,
  * re-exploding and re-hashing the corpus 3-4× is the dominant cost, so
  * the fan-out queries stage the shared subtree explicitly.
  *
  * WHEN NOT TO STAGE (measured, round 7): if every consumer's path down
  * to the shared subtree is textually identical INCLUDING the exchange —
  * same keys, no per-consumer filter below it — AQE stage reuse already
  * evaluates the exchange once, and [[fanout]] only adds its fixed
  * persist + checkpoint cost (rel_key_skew, rel_retention, the IVF
  * searches: 20-50% slower staged). Reuse does NOT fire when a
  * consumer's filter sits below the exchange (dedup_decontaminate's
  * eval/train split), when a top-K limit truncates one path
  * (vec_ann_recall), or when AQE broadcasts one consumer so the other
  * side never shuffles at all (dedup_passages) — those stay staged.
  * PlanQualitySpec pins ReusedExchange for the unstaged fan-outs.
  */
object Stage {

  /** Evaluate `build` over a persisted copy of `shared`, materialize the
    * (small) result into a reliable checkpoint, and release every staged
    * intermediate before returning.
    *
    * The returned DataFrame is backed by checkpoint FILES, not the
    * session cache: the caller's action replays materialized rows
    * without re-deriving the plan, and — critically — the call leaves
    * NO entry behind in the session's CacheManager. A long-lived
    * session running many such queries would otherwise accumulate
    * cached frames for its whole lifetime (each new query's plan is
    * also compared against every cached entry during analysis), because
    * a query function cannot unpersist a cache its own return value
    * still depends on. Checkpoint files don't have that problem: they
    * are durable on a cluster (the checkpoint dir must be shared
    * storage there — see [[ensureCheckpointDir]]), survive executor
    * loss, and are reclaimed by `spark.cleaner.referenceTracking
    * .cleanCheckpoints` once the frame is unreachable plus the local
    * shutdown hook below.
    */
  def fanout(shared: DataFrame)(build: DataFrame => DataFrame): DataFrame =
    staging(shared.sparkSession) { st =>
      val staged = st.persist(shared)
      // materialize BEFORE the fan-out plan runs: the consumer stages are
      // independent and get submitted concurrently, so a lazily-built
      // cache would be raced — each stage recomputing the same partitions
      // ("Block already exists" churn) and saving nothing
      staged.queryExecution.toRdd.count()
      st.checkpoint(build(staged))
    }

  /** Two-level [[fanout]]: stage `shared`, stage a relation `derive`d
    * from it, fan out over BOTH, checkpoint the slim result, release
    * everything eagerly. For pipelines whose consumers need the raw
    * staged relation (e.g. an exploded corpus) AND an aggregate of it
    * (per-doc signatures) — staging the aggregate alone would recompute
    * the raw subtree per consumer; staging only the raw relation would
    * re-run the aggregation per consumer. Neither level is ever
    * checkpointed, so no corpus-scale relation hits checkpoint files —
    * only `build`'s slim output does.
    */
  def fanout2(shared: DataFrame)(derive: DataFrame => DataFrame)(
      build: (DataFrame, DataFrame) => DataFrame): DataFrame =
    staging(shared.sparkSession) { st =>
      val s1 = st.persist(shared)
      s1.queryExecution.toRdd.count()
      val s2 = st.persist(derive(s1))
      s2.queryExecution.toRdd.count()
      st.checkpoint(build(s1, s2))
    }

  /** Run `body` in a scope that owns every frame it stages
    * ([[Scope.persist]], MEMORY_AND_DISK: spill-safe when a corpus shard
    * exceeds executor memory) and every leg it starts.
    *
    *  - On exit, by return or throw, every frame still staged (not
    *    [[Scope.release]]d early) is released, latest first, blocking:
    *    lazy release leaves evicted-page/GC/cleaner debt that taxes every
    *    LATER query in the session (round-4 bench: untouched queries 2-8×
    *    slower downstream of staged ones).
    *  - [[Scope.overlap]] starts a leg, independent work whose stages the
    *    scheduler interleaves on idle cores, on this object's pool: with
    *    the caller's Spark local properties as at the call (a pool thread
    *    otherwise keeps its creator's) and in the scope's job group,
    *    interrupt on cancel. The first failure of a leg or of `body`
    *    cancels the group's current and future jobs; the scope joins
    *    every leg, unbounded, and rethrows the first error.
    *  - Under [[smallHeap]] a leg runs eagerly at its call site: the
    *    co-resident staged mass of overlapped legs OOMs a small heap
    *    (sf10-docs decade under 2 GiB; serial reps complete).
    */
  def staging[T](s: SparkSession)(body: Scope => T): T = {
    ensureCheckpointDir(s)
    val scope = new Scope(s)
    var ok = false
    try { val out = body(scope); scope.joinLegs(); ok = true; out }
    finally scope.close(failed = !ok)
  }

  /** A staging scope: see [[staging]]. */
  final class Scope private[Stage] (spark: SparkSession) {
    private val group = s"graft-stage-${java.util.UUID.randomUUID()}"
    private val firstError = new AtomicReference[Throwable]()
    private var staged = List.empty[DataFrame] // guarded by `this`
    private var legs = List.empty[CompletableFuture[_]] // body's thread only

    /** True when legs run at their call site ([[smallHeap]]). */
    val serial: Boolean = smallHeap(spark)

    def persist(df: DataFrame,
        level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
      val p = df.persist(level)
      synchronized { staged = p :: staged }
      p
    }

    def release(df: DataFrame): Unit = {
      synchronized { staged = staged.filterNot(_ eq df) }
      df.unpersist(blocking = true)
    }

    /** `df` on reliable checkpoint files: staged so the count job fills
      * the cache and the write job replays it, then released.
      */
    def checkpoint(df: DataFrame,
        level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
      val p = persist(df, level)
      try p.checkpoint() finally release(p)
    }

    /** Start `body` as a leg; the function returned waits for its value. */
    def overlap[T](body: => T): () => T =
      if (serial) { val v = body; () => v }
      else {
        val leg = DatasetBridge.inJobGroup(spark, legPool, group)(body)
        leg.whenComplete((_, e) => if (e != null) fail(e.getCause))
        legs = leg :: legs
        () => await(leg)
      }

    private def await[T](leg: CompletableFuture[T]): T =
      try leg.join() catch {
        case e: CompletionException => fail(e.getCause); throw firstError.get
      }

    private def fail(e: Throwable): Unit =
      if (firstError.compareAndSet(null, e)) cancel()

    private def cancel(): Unit = spark.sparkContext
      .cancelJobGroupAndFutureJobs(group, "its staging scope failed")

    private[Stage] def joinLegs(): Unit = legs.foreach(await(_))

    private[Stage] def close(failed: Boolean): Unit = {
      if (failed && legs.nonEmpty) cancel()
      legs.foreach(leg => scala.util.Try(leg.join()))
      synchronized(staged).foreach(_.unpersist(blocking = true))
    }
  }

  private lazy val legPool: ExecutorService =
    Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, "graft-stage-leg"); t.setDaemon(true); t
    }

  /** Small-heap plan gate for the memory-tight execution shapes
    * (shuffle-hash instead of broadcast probes, serial barriers +
    * DISK_ONLY staging in the retrieval composite). The 6 GiB
    * threshold is measured: the 2 GiB lowmem tier OOMs the
    * broadcast/overlapped shapes nondeterministically while the gated
    * shapes complete (SCALING.md round-17 frontier walk); at ≥8 GiB
    * the ungated shapes are 3.6× faster and stay.
    *
    * Resolution order: `spark.graft.smallHeap` (explicit override —
    * the cluster knob, where driver heap says nothing about executor
    * pressure) → `spark.executor.memory` when configured (cluster
    * default: gate on the executor size actually deployed) → driver
    * `Runtime.maxMemory` (local mode, where driver heap == executor
    * heap and the proxy is exact).
    */
  private[graft] val SmallHeapBytes: Long = 6L * 1024 * 1024 * 1024
  private[graft] def smallHeap(s: SparkSession): Boolean =
    smallHeapDecision(
      s.conf.getOption("spark.graft.smallHeap"),
      // static conf: readable here (set at launch), never mutable at
      // runtime — HeapGateSpec pins the resolution on the pure function
      s.conf.getOption("spark.executor.memory"),
      Runtime.getRuntime.maxMemory)

  private[graft] def smallHeapDecision(confOverride: Option[String],
      executorMem: Option[String], driverHeapBytes: Long): Boolean =
    confOverride.map(_.trim.toBoolean)
      .orElse(executorMem.map(m =>
        // Spark's EXECUTOR_MEMORY reads a unitless value as MiB
        // (bytesConf(ByteUnit.MiB)); byteStringAsBytes would read
        // "4096" as 4096 BYTES and gate a 4 GiB cluster into the slow
        // small-heap shapes — parse with the same MiB default Spark uses
        org.apache.spark.network.util.JavaUtils.byteStringAsMb(m)
          * 1024L * 1024L <= SmallHeapBytes))
      .getOrElse(driverHeapBytes <= SmallHeapBytes)

  /** Reliable-checkpoint directory for iterative queries. On a real
    * cluster this must be durable shared storage (HDFS/S3): set it up
    * front via `sparkContext.setCheckpointDir`; this helper only fills
    * in a local default when nothing is configured (local/test mode),
    * so an executor loss never silently pins lineage to executor-local
    * storage the way `localCheckpoint()` would.
    *
    * Checkpoint-file lifecycle: sessions graft owns (`Session.local`)
    * set `spark.cleaner.referenceTracking.cleanCheckpoints=true`
    * so each file set is deleted as soon as its frame becomes
    * unreachable; the local default dir additionally registers a
    * JVM-shutdown recursive delete so local runs can never leak the
    * edge/label sets to disk regardless of that conf.
    */
  def ensureCheckpointDir(s: SparkSession): Unit = synchronized {
    val sc = s.sparkContext
    if (sc.getCheckpointDir.isEmpty) {
      val dir = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft-ckpt-${sc.applicationId}")
      sc.setCheckpointDir(dir.getAbsolutePath)
      sys.addShutdownHook(deleteRecursively(dir))
    }
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Stage `df` as stream input under `dir` in `key` order: range-
    * partitioned by `key` into ⌈n/`rowsPerFile`⌉ parquet files, each
    * sorted by `key`, stamped by [[orderStagedFiles]] so a file source
    * admits them in range order. Returns the row count and the schema
    * a `readStream` over `dir` needs.
    *
    * This is the ordered-CDC input contract: the reference scans change
    * events in timestamp order (SURVEY A1), so file i must hold the
    * i-th key range. A randomly repartitioned staging interleaves the
    * whole range into every file, and any multi-trigger run then drops
    * later files' rows as below-watermark late data (measured at sf1:
    * 95k of 1M events survived), understating both throughput and
    * delivery.
    */
  def stageOrdered(df: DataFrame, key: String, rowsPerFile: Int,
      dir: String): (Long, StructType) = {
    val n = df.count()
    df.repartitionByRange(math.max(1, math.ceil(n.toDouble / rowsPerFile).toInt),
        org.apache.spark.sql.functions.col(key))
      .sortWithinPartitions(key).write.parquet(dir)
    orderStagedFiles(dir)
    (n, df.sparkSession.read.parquet(dir).schema)
  }

  /** Stamp a range-staged stream-input directory's part files with
    * STRICTLY INCREASING modification times in path order.
    *
    * FileStreamSource admits pending files in modification-time order;
    * a parallel `repartitionByRange(...).write.parquet` leaves part
    * files with write-COMPLETION-order mtimes (effectively random), so
    * under a small `maxFilesPerTrigger` later timestamp ranges can be
    * admitted before earlier ones and the earlier files' rows then
    * arrive below the watermark and are dropped (measured: mfpt=8 at
    * sf1 delivered 844k of 1M staged events). Path order IS range
    * order for part-NNNNN files, so re-stamping restores the ordered
    * CDC-input contract for every trigger size.
    */
  private[graft] def orderStagedFiles(dir: String): Unit = {
    val parts = Option(new java.io.File(dir).listFiles()).getOrElse(Array())
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    var t = System.currentTimeMillis() - parts.length * 1000L
    parts.foreach { f => f.setLastModified(t): Unit; t += 1000L }
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
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
    *
    * MEMORY_AND_DISK keeps the staged relation spill-safe when a 100 TB
    * corpus shard exceeds executor memory.
    */
  def fanout(shared: DataFrame)(build: DataFrame => DataFrame): DataFrame =
    staging(shared) { persist =>
      val staged = persist(shared)
      // materialize BEFORE the fan-out plan runs: the consumer stages are
      // independent and get submitted concurrently, so a lazily-built
      // cache would be raced — each stage recomputing the same partitions
      // ("Block already exists" churn) and saving nothing
      staged.queryExecution.toRdd.count()
      // eager checkpoint: its count populates the staged result's cache
      // (one evaluation of the fan-out joins), its write job then
      // replays that cache into reliable files
      persist(build(staged)).checkpoint()
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
    staging(shared) { persist =>
      val s1 = persist(shared)
      s1.queryExecution.toRdd.count()
      val s2 = persist(derive(s1))
      s2.queryExecution.toRdd.count()
      persist(build(s1, s2)).checkpoint()
    }

  /** Run `body` with a `persist` that stages a frame (MEMORY_AND_DISK),
    * then release every frame it staged, latest first, whether `body`
    * returns or throws.
    *
    * Blocking release: lazy release leaves evicted-page/GC/cleaner debt
    * that taxes every LATER query in the session (round-4 bench showed
    * untouched queries running 2-8× slower downstream of staged ones);
    * the result is already on checkpoint files, so waiting for the
    * block drop costs only the drop itself.
    */
  private def staging(shared: DataFrame)(
      body: (DataFrame => DataFrame) => DataFrame): DataFrame = {
    ensureCheckpointDir(shared.sparkSession)
    var staged = List.empty[DataFrame]
    try body { df =>
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      staged = p :: staged
      p
    } finally staged.foreach(_.unpersist(blocking = true))
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

  /** Plan-audit hook (no effect unless GRAFT_EXPLAIN_PLANS is set):
    * prints a formatted plan once per tag KIND (the part before the
    * comma) so eagerly-orchestrated queries — whose final explain only
    * shows checkpoint-file scans — can dump their INTERNAL stage plans
    * for the committed `plans/` evidence.
    */
  private val explained =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[graft] def maybeExplain(tag: String, df: DataFrame): Unit = {
    val kind = tag.takeWhile(_ != ',')
    if (sys.env.contains("GRAFT_EXPLAIN_PLANS") && explained.add(kind)) {
      println(s"[explain-plan] $tag")
      df.explain("formatted")
    }
  }

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

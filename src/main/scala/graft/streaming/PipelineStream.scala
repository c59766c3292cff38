package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

import graft.operators.TextQueries

/** Streaming twin of the composed curation DAG (`train_pipeline_e2e`,
  * [[graft.operators.TextQueries.trainPipeline]]): curation →
  * incremental exact dedup → incremental near-dup screen →
  * decontamination → split → shard → greedy token packing, per
  * micro-batch, exactly-once — the production shape of the training-
  * data pipeline (reference behavior: the relay's at-least-once +
  * idempotent-sink contract, runner.go:84-170, applied to the
  * document-curation DAG instead of the CDC envelope).
  *
  * Stage semantics vs the batch card (pinned in PipelineStreamSpec):
  *
  *  - `00_raw`, `10_curated`: per-doc pure functions (docFlags, the
  *    eval holdout rule) — batch-identical by construction.
  *  - `20_exact`: first-seen-wins against the md5 store; with
  *    doc_id-ordered arrival (the CDC input contract) first seen ==
  *    min doc_id, the batch canonical — batch-identical.
  *  - `30_near_kept` onward: the screen is PRIOR-ONLY (a doc is
  *    near-dup when ≥ half its passages were already seen among
  *    earlier exact-kept docs), because a stream cannot consult the
  *    future. The batch screen is symmetric (a mutually-near-dup pair
  *    flags BOTH docs), so the stream keeps a superset: exactly one
  *    earliest representative per mutual near-dup cluster where batch
  *    keeps none. Asymmetric containment (a later doc copying part of
  *    a longer earlier one) decides identically in both engines. This
  *    is the semantics every incremental ingest pipeline ships
  *    (dedup_incremental_near's contract), not a parity bug.
  *  - `contaminated`, split/shard buckets: pure functions of (doc,
  *    static eval set) — identical per doc in both engines.
  *  - `70_packed`: per-shard running token sums carried in a tiny
  *    store; given doc_id-ordered arrival the fold equals the batch
  *    window's cumulative sum over the same accepted set.
  *
  * Exactly-once: every read of a store filters `batch_id < current`
  * (a replayed batch never sees its own previous attempt's writes) and
  * every write lands in the literal `batch_id=N` directory in
  * overwrite mode (the replay overwrites rather than appends — the
  * O(batch) sink shape AnnStream established). Restart mid-stream
  * resumes from the offset log and replays at most the uncommitted
  * epoch, idempotently.
  *
  * Scale (100 TB): per-batch work is batch-proportional — flags and
  * passage explode touch only the batch; the md5/passage stores are
  * probed with hash joins that AQE sizes (broadcast while small,
  * shuffled-hash beyond), and both stores ride the same
  * generation-compaction scheme as IncrementalDedupStream
  * ([[IncrementalDedupStream.compactStore]]), so steady-state store
  * reads stay a generation chain + a bounded epoch tail, with the
  * probe filtering both the hash-prefix partitions (PartitionFilters)
  * and the surviving rows (batch-keyed bloom at the scan). The
  * shard-token store appends ≤ `PipeShards` rows per epoch and is
  * sum-folded by [[compactSumStore]] — un-compacted, its every-epoch
  * read was the probe's measured linear listing cost.
  */
object PipelineStream {

  /** Same file-source schema as CurationStream: the batch documents
    * columns plus the producer-stamped ingest timestamp.
    */
  val inputSchema = CurationStream.inputSchema

  private def storeHasBatches(spark: SparkSession, dir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(path) && Option(
      fs.globStatus(new org.apache.hadoop.fs.Path(path, "batch_id=*")))
      .exists(_.nonEmpty)
  }

  /** Bloom-prefilter a store probe (VERDICT r19 #1, the
    * `dedup_bloom_prefilter` shape): fold the BATCH side's keys into a
    * bloom filter and keep only store rows the bloom might match. A
    * bloom has no false negatives, so every store row that could
    * affect a join against the batch survives — join results are
    * identical (PipelineStreamSpec pins parity) — while the store-side
    * survivors are proportional to the BATCH, not the corpus history.
    * Without it the probe's join re-shuffles (or re-broadcasts) the
    * whole accumulated store every epoch — the repo's only
    * O(corpus-history) per-epoch cost (measured last/first 1.34 over
    * 25 epochs, PipelineScaleProbe); with it the store side is scanned
    * (a codegen'd filter at the scan, no exchange) and only the
    * batch-relevant sliver joins.
    *
    * The bloom is a SCALAR SUBQUERY over a temp view of the (persisted)
    * batch relation, not an eagerly collected literal: an eager
    * `.head()` per probe added two driver round-trip jobs to every
    * epoch and measurably REGRESSED the stream at bench scale (445 →
    * 305 rows/s at sf0.1, where the store is small and the prune saves
    * nothing) — the subquery form executes inside the same job as the
    * probing join, so the fixed overhead is one tiny subquery stage.
    * An empty batch side folds to a NULL bloom; `might_contain(NULL,
    * x)` is NULL, so the filter drops every store row — exactly the
    * empty-probe semantics the join had anyway.
    */
  private def bloomPruneStore(spark: SparkSession, batchKeys: DataFrame,
      keyCol: String, nItems: Long, store: DataFrame, storeCol: String,
      viewTag: String): DataFrame = {
    // per-call-unique view names (VERDICT r20 #9): fixed session-global
    // names collide when two streams of the same shape share one
    // SparkSession — a clobbered batch view would prune the store with
    // the wrong batch's bloom (false negatives ⇒ missed duplicates)
    val suffix = IncrementalDedupStream.viewSeq.incrementAndGet()
    val batchView = s"graft_pipe_${viewTag}_batch_$suffix"
    val storeView = s"graft_pipe_${viewTag}_store_$suffix"
    batchKeys.createOrReplaceTempView(batchView)
    store.createOrReplaceTempView(storeView)
    val pruned = spark.sql(
      s"""SELECT $storeCol FROM $storeView
         |WHERE graft_might_contain(
         |  (SELECT graft_bloom_agg(xxhash64($keyCol),
         |     ${math.max(64L, nItems)}L) FROM $batchView),
         |  xxhash64($storeCol))""".stripMargin)
    // spark.sql analyzed eagerly — safe to drop before the probe runs
    spark.catalog.dropTempView(batchView)
    spark.catalog.dropTempView(storeView)
    pruned
  }

  /** Sum-fold chain compaction for the per-shard token store — the
    * [[IncrementalDedupStream.compactStore]] algebra (tiered
    * generations `-B` covering base epochs `[prevB, B)`, inputs
    * deleted one batch later, O(compactEvery) per fold) applied to a
    * SUM instead of a SET: the generation row is the per-shard token
    * total over its epoch range. Readers must be coverage-aware (see
    * the baseTokens comment in [[processBatch]]) because sums, unlike
    * the anti-join's set semantics, cannot tolerate the duplicate
    * window between a generation and its not-yet-deleted inputs.
    */
  private[streaming] def compactSumStore(spark: SparkSession, dir: String,
      batchId: Long, compactEvery: Int): Unit = {
    if (compactEvery <= 0) return
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = IncrementalDedupStream.storePartIds(spark, dir)
    val cov = parts.filter(g => g < 0 && -g < batchId).map(-_)
      .foldLeft(0L)(math.max)
    parts.filter(p => p >= 0 && p < cov).foreach { p =>
      fs.delete(new org.apache.hadoop.fs.Path(path, s"batch_id=$p"), true)
    }
    val pending = parts.count(p => p >= cov && p < batchId)
    if (pending >= compactEvery && batchId > 0) {
      spark.read.parquet(dir)
        .filter(col("batch_id") >= cov && col("batch_id") < batchId)
        .groupBy(col("shard")).agg(sum(col("tok")).as("tok"))
        .coalesce(1) // ≤ PipeShards rows
        .write.mode("overwrite").parquet(s"$dir/batch_id=-$batchId")
    }
  }

  /** One epoch of the composed pipeline. Public so the spec can drive
    * a replay directly (the IncrementalDedupStream pattern).
    *
    * @param evalSet staged (eph LONG) distinct passage hashes of the
    *                eval holdout — built once at [[start]], static.
    */
  def processBatch(batch: DataFrame, batchId: Long, evalSet: DataFrame,
      outDir: String, storeDir: String,
      compactEvery: Int = IncrementalDedupStream.DefaultCompactEvery): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return // idle trigger: no writes, no store epochs
    val isEval = col("doc_id") % 13 === 0
    val flagged = TextQueries.docFlags(batch)
      .withColumn("curated",
        col("pass_lang") && col("pass_quality") && !isEval)
      .select(col("doc_id"), col("text"), col("text_md5"), col("n_tokens"),
        col("curated"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // two consumers (Stage.fanout rule); the count doubles as the
      // bloom item estimate below
      val nBatch = flagged.queryExecution.toRdd.count()
      // ---- 20_exact: within-batch canonical, then anti-join the store
      val canon = flagged.filter(col("curated"))
        .withColumn("mn",
          min(col("doc_id")).over(Window.partitionBy("text_md5")))
        .filter(col("doc_id") === col("mn")).drop("mn")
      val md5Dir = s"$storeDir/md5"
      val nHp = IncrementalDedupStream.hashParts(spark)
      // the batch's touched hash prefixes (bounded ≤ nHp values; the
      // collect reads the persisted flagged relation) — a
      // PartitionFilter on the store scan, pruning at file listing
      val md5Prefixes =
        if (!storeHasBatches(spark, md5Dir)) Seq.empty[Long]
        else IncrementalDedupStream.touchedPrefixes(
          flagged.filter(col("curated")).select(col("text_md5")),
          "text_md5", nHp)
      val exactKept0 =
        if (md5Prefixes.isEmpty) canon // no store, or no curated hashes
        else canon.join(
          // bloom over the batch's curated md5s (canon's md5 SET —
          // canonicalization only drops duplicate instances), probed
          // at the store scan: store rows matching no batch hash
          // cannot remove a canon row from a left_anti
          bloomPruneStore(spark,
            flagged.filter(col("curated")).select(col("text_md5")),
            "text_md5", nBatch,
            spark.read.parquet(md5Dir)
              .filter(col("batch_id") < batchId &&
                col("hp").isin(md5Prefixes: _*))
              .select(col("h")), "h", "md5"),
          col("text_md5") === col("h"), "left_anti")
      if (md5Prefixes.nonEmpty)
        IncrementalDedupStream.maybeExplain(
          s"pipeline md5-store probe, batch $batchId", exactKept0)
      val exactKept = exactKept0.persist(StorageLevel.MEMORY_AND_DISK)
      exactKept.queryExecution.toRdd.count()
      // ---- passage relation of this epoch's exact survivors: feeds
      // the near-dup screen, the contamination check, AND the store
      val ph = TextQueries.passageHashes(exactKept, stride = 1)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val nPh = ph.queryExecution.toRdd.count()
        val phDir = s"$storeDir/ph"
        // prior-only screen: an instance is "shared" when its hash was
        // seen in an earlier epoch (store) or on an earlier-doc_id
        // exact survivor of THIS batch (phMin) — the same population
        // (exact-kept docs) the batch screen counts against. The store
        // read is bloom-pruned by the BATCH's passage hashes BEFORE
        // the distinct: un-pruned, that distinct re-shuffled the whole
        // accumulated passage store every epoch (the O(corpus-history)
        // cost VERDICT r19 ranked #1); pruned, the distinct runs over
        // the batch-relevant sliver only.
        val phPrefixes =
          if (!storeHasBatches(spark, phDir)) Seq.empty[Long]
          else IncrementalDedupStream.touchedPrefixes(
            ph.select(col("ph")), "ph", nHp)
        val storePh =
          if (phPrefixes.isEmpty) // no store, or an empty passage batch
            spark.emptyDataFrame.select(lit(0L).as("sph")).limit(0)
          else bloomPruneStore(spark, ph.select(col("ph")), "ph", nPh,
            spark.read.parquet(phDir)
              .filter(col("batch_id") < batchId &&
                col("hp").isin(phPrefixes: _*))
              .select(col("ph").as("sph")), "sph", "ph")
            .distinct()
        val phMin = ph.groupBy("ph")
          .agg(min(col("doc_id")).as("first_doc"))
        val screen = ph
          .join(storePh, col("ph") === col("sph"), "left")
          .join(phMin, Seq("ph"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_passages"),
            sum(when(col("sph").isNotNull ||
              col("first_doc") < col("doc_id"), 1L).otherwise(0L))
              .as("n_dup"))
        if (phPrefixes.nonEmpty)
          IncrementalDedupStream.maybeExplain(
            s"pipeline ph-store probe (screen), batch $batchId", screen)
        val hits = ph
          .join(evalSet, col("ph") === col("eph"), "left")
          .groupBy("doc_id")
          .agg(count(col("eph")).as("n_hits"))
        // ---- per-doc verdicts for EVERY doc in the batch (the batch
        // card's perDoc relation, incremental form)
        val kept = exactKept.select(col("doc_id"))
          .withColumn("exact_kept", lit(true))
        val verdict0 = flagged
          .select(col("doc_id"), col("n_tokens"), col("curated"))
          .join(kept, Seq("doc_id"), "left")
          .join(screen, Seq("doc_id"), "left")
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"), col("curated"),
            coalesce(col("exact_kept"), lit(false)).as("exact_kept"),
            coalesce(col("n_dup") * 2 >= col("n_passages"), lit(false))
              .as("near_dup"),
            coalesce(col("n_hits") > 0, lit(false)).as("contaminated"),
            TextQueries.pipeBucket("mix:", 100).as("bucket"),
            TextQueries.pipeBucket("shard:", TextQueries.PipeShards)
              .as("shard"))
          .withColumn("train",
            col("exact_kept") && !col("near_dup") && !col("contaminated") &&
              col("bucket") < 80)
        // ---- packing: per-shard token fold carried across epochs.
        // The shard store is sum-folded into chain generations
        // ([[compactSumStore]]) — un-compacted it accumulates one tiny
        // partition per epoch FOREVER, and this read (every epoch) was
        // the probe's measured linear-listing cost. Unlike the hash
        // stores, sums cannot tolerate the duplicate window between a
        // generation and its not-yet-deleted inputs, so the read is
        // coverage-aware: all generations (a disjoint epoch chain) plus
        // base epochs at or past the newest generation boundary —
        // exactly one contribution per committed epoch, on every
        // replay. The own-replay generation (-batchId, written by a
        // crashed earlier attempt of this batch) folds [prev, batchId),
        // and the base window [batchId, batchId) is then empty — the
        // same totals the first attempt read.
        val shardDir = s"$storeDir/shard"
        val baseTokens =
          if (!storeHasBatches(spark, shardDir))
            spark.emptyDataFrame
              .select(lit(0L).as("shard"), lit(0L).as("base_tokens"))
              .limit(0)
          else {
            val covS = IncrementalDedupStream.storePartIds(spark, shardDir)
              .filter(g => g < 0 && -g <= batchId).map(-_)
              .foldLeft(0L)(math.max)
            spark.read.parquet(shardDir)
              .filter(col("batch_id") < 0 ||
                (col("batch_id") >= covS && col("batch_id") < batchId))
              .groupBy(col("shard")).agg(sum(col("tok")).as("base_tokens"))
          }
        val verdict = verdict0
          .join(baseTokens, Seq("shard"), "left")
          .withColumn("bin",
            when(col("train"),
              floor((coalesce(col("base_tokens"), lit(0L)) +
                coalesce(sum(when(col("train"), col("n_tokens")))
                  .over(Window.partitionBy("shard").orderBy("doc_id")
                    .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
                / lit(TextQueries.PipePackTokens)).cast("long")))
          .drop("base_tokens")
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          verdict.queryExecution.toRdd.count()
          verdict.write.mode("overwrite")
            .parquet(s"$outDir/docs/batch_id=$batchId")
          // store epochs: md5 + passage hashes of this batch's exact
          // survivors, per-shard token sums of its train docs
          // hp partition column (the probe side's PartitionFilters
          // depend on this layout). md5: coalesce(1) — it reads the
          // tiny persisted exactKept cache, so one writer task costs
          // nothing and bounds the epoch at ≤ N files. ph: repartition
          // by hp, NOT coalesce — a coalesce(1) here would collapse the
          // upstream distinct's reduce side to one thread.
          exactKept.select(col("text_md5").as("h"))
            .withColumn("hp", IncrementalDedupStream.hpCol(col("h"), nHp))
            .coalesce(1)
            .write.mode("overwrite").partitionBy("hp")
            .parquet(s"$md5Dir/batch_id=$batchId")
          ph.select(col("ph")).distinct()
            .withColumn("hp", IncrementalDedupStream.hpCol(col("ph"), nHp))
            .repartition(col("hp"))
            .write.mode("overwrite").partitionBy("hp")
            .parquet(s"$phDir/batch_id=$batchId")
          verdict.filter(col("train"))
            .groupBy(col("shard")).agg(sum(col("n_tokens")).as("tok"))
            .write.mode("overwrite")
            .parquet(s"$shardDir/batch_id=$batchId")
        } finally verdict.unpersist(blocking = true)
        IncrementalDedupStream.compactStore(
          spark, md5Dir, batchId, compactEvery)
        IncrementalDedupStream.compactStore(
          spark, phDir, batchId, compactEvery, hashCol = "ph")
        compactSumStore(spark, shardDir, batchId, compactEvery)
      } finally {
        ph.unpersist(blocking = true)
        exactKept.unpersist(blocking = true)
      }
    } finally flagged.unpersist(blocking = true)
  }

  /** Start the composed pipeline over a streaming documents frame.
    * `sfDir` supplies the static eval holdout (doc_id % 13 == 0), the
    * batch operator's rule.
    */
  def start(spark: SparkSession, docs: DataFrame, sfDir: String,
      outDir: String, storeDir: String, chkDir: String): StreamingQuery = {
    graft.Session.setup(spark)
    val evalSet = TextQueries.passageHashes(
        graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 13 === 0),
        stride = 1)
      .select(col("ph").as("eph")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    evalSet.queryExecution.toRdd.count()
    val query = try docs.writeStream
      .option("checkpointLocation", chkDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, evalSet, outDir, storeDir)
      }
      .start()
    catch {
      case e: Throwable => evalSet.unpersist(blocking = true); throw e
    }
    StreamLifecycle.onTerminated(spark, query)(
      () => evalSet.unpersist(blocking = false))
    query
  }

  /** Cumulative stage card over everything the stream has committed —
    * the same eight stages (minus nothing) and column contract as the
    * batch `train_pipeline_e2e` card, computed from the per-doc
    * verdict partitions.
    */
  def card(spark: SparkSession, outDir: String): DataFrame = {
    val pd = spark.read.parquet(s"$outDir/docs")
    def stageRow(stage: String, f: DataFrame): DataFrame =
      f.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"))
        .select(lit(stage).as("stage"), col("n_docs"), col("n_tokens"),
          col("n_docs").as("n_units"))
    val train = pd.filter(col("train"))
    val sharded = train
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"),
        countDistinct(col("shard")).as("n_units"))
      .select(lit("60_sharded").as("stage"), col("n_docs"),
        col("n_tokens"), col("n_units"))
    val packs = train
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"),
        countDistinct(concat_ws("_", col("shard"), col("bin")))
          .as("n_units"))
      .select(lit("70_packed").as("stage"), col("n_docs"),
        col("n_tokens"), col("n_units"))
    stageRow("00_raw", pd)
      .unionByName(stageRow("10_curated", pd.filter(col("curated"))))
      .unionByName(stageRow("20_exact", pd.filter(col("exact_kept"))))
      .unionByName(stageRow("30_near_kept",
        pd.filter(col("exact_kept") && !col("near_dup"))))
      .unionByName(stageRow("40_clean",
        pd.filter(col("exact_kept") && !col("near_dup") &&
          !col("contaminated"))))
      .unionByName(stageRow("50_train", train))
      .unionByName(sharded)
      .unionByName(packs)
      .orderBy("stage")
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}
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
  * Exactly-once: every store read is fenced below the current epoch
  * (a replayed batch never sees its own previous attempt's writes) and
  * every write overwrites the epoch's own `batch_id=N` partition (the
  * replay overwrites rather than appends — the O(batch) sink shape
  * AnnStream established; [[EpochStore]]). Restart mid-stream
  * resumes from the offset log and replays at most the uncommitted
  * epoch, idempotently.
  *
  * Scale (100 TB): per-batch work is batch-proportional — flags and
  * passage explode touch only the batch. The md5 and passage stores
  * are [[EpochStore]] Sets, probed with hash joins that AQE sizes
  * (broadcast while small, shuffled-hash beyond) after the store's
  * hash-prefix and bloom prunes; the shard-token store is an
  * [[EpochStore]] Sum, ≤ `PipeShards` rows per epoch. All three
  * compact through [[EpochStore.compact]], so steady-state store reads
  * stay a generation chain + a bounded epoch tail; un-compacted, the
  * shard store's every-epoch read was the probe's measured linear
  * listing cost.
  */
object PipelineStream {

  /** Same file-source schema as CurationStream: the batch documents
    * columns plus the producer-stamped ingest timestamp.
    */
  val inputSchema = CurationStream.inputSchema

  private def longs(names: String*): StructType =
    StructType(names.map(StructField(_, LongType)))

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
      val md5Store = new EpochStore(spark, s"$storeDir/md5",
        IncrementalDedupStream.HashSchema, EpochStore.Set("h"))
      // bloom over the batch's curated md5s (canon's md5 SET —
      // canonicalization only drops duplicate instances)
      val exactKept0 = md5Store.probe(
          flagged.filter(col("curated")).select(col("text_md5")),
          "text_md5", batchId, math.max(64L, nBatch)) match {
        case None => canon // no store, or no curated hashes
        case Some(seen) =>
          canon.join(seen, col("text_md5") === col("h"), "left_anti")
      }
      val exactKept = exactKept0.persist(StorageLevel.MEMORY_AND_DISK)
      exactKept.queryExecution.toRdd.count()
      // ---- passage relation of this epoch's exact survivors: feeds
      // the near-dup screen, the contamination check, AND the store
      val ph = TextQueries.passageHashes(exactKept, stride = 1)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val nPh = ph.queryExecution.toRdd.count()
        val phStore = new EpochStore(spark, s"$storeDir/ph", longs("ph"),
          EpochStore.Set("ph"))
        // prior-only screen: an instance is "shared" when its hash was
        // seen in an earlier epoch (store) or on an earlier-doc_id
        // exact survivor of THIS batch (phMin) — the same population
        // (exact-kept docs) the batch screen counts against. The store
        // read is bloom-pruned by the BATCH's passage hashes BEFORE
        // the distinct: un-pruned, that distinct re-shuffled the whole
        // accumulated passage store every epoch (the O(corpus-history)
        // cost VERDICT r19 ranked #1); pruned, the distinct runs over
        // the batch-relevant sliver only.
        val seenPh = phStore.probe(ph.select(col("ph")), "ph", batchId,
          math.max(64L, nPh))
        val storePh = seenPh
          .map(_.select(col("ph").as("sph")).distinct())
          // no store, or an empty passage batch
          .getOrElse(spark.emptyDataFrame.select(lit(0L).as("sph")).limit(0))
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
        // ---- packing: per-shard token fold carried across epochs,
        // read coverage-aware (each committed epoch's sums exactly once)
        val shardStore = new EpochStore(spark, s"$storeDir/shard",
          longs("shard", "tok"), EpochStore.Sum("shard", "tok"))
        val baseTokens = shardStore.read(batchId)
          .groupBy(col("shard")).agg(sum(col("tok")).as("base_tokens"))
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
          // store epochs: per-shard token sums of the train docs, then
          // the passage and md5 hashes of the exact survivors (ph ends
          // in a distinct; md5 reads the tiny persisted exactKept), in
          // the order EpochStore.write asks for: shard (from verdict),
          // ph (from ph; verdict scans the ph store), md5 (from
          // exactKept; every frame here scans the md5 store)
          shardStore.write(verdict.filter(col("train"))
            .groupBy(col("shard")).agg(sum(col("n_tokens")).as("tok")),
            batchId, oneTask = false)
        } finally verdict.unpersist(blocking = true)
        phStore.write(ph.select(col("ph")).distinct(), batchId,
          oneTask = false)
        md5Store.write(exactKept.select(col("text_md5").as("h")), batchId,
          oneTask = true)
        Seq(md5Store, phStore, shardStore)
          .foreach(_.compact(batchId, compactEvery))
      } finally {
        ph.unpersist(blocking = true)
        exactKept.unpersist(blocking = true)
      }
    } finally flagged.unpersist(blocking = true)
  }

  /** Start the composed pipeline over a streaming documents frame.
    * `sfDir` supplies the static eval holdout
    * ([[DecontaminateStream.evalSet]]).
    */
  def start(spark: SparkSession, docs: DataFrame, sfDir: String,
      outDir: String, storeDir: String, chkDir: String): StreamingQuery = {
    graft.Session.setup(spark)
    StreamLifecycle.pin(spark, DecontaminateStream.evalSet(spark, sfDir)) {
      evalSet => docs.writeStream
        .option("checkpointLocation", chkDir)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          processBatch(batch, batchId, evalSet, outDir, storeDir)
        }
        .start()
    }
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

package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The `batch_id`-fenced parquet store that carries a stream's state
  * across epochs (IncrementalDedupStream's seen-set, PipelineStream's
  * md5, passage and shard-token stores) — the streaming form of the
  * reference's resume record, made replay-safe by the epoch id.
  *
  * Layout. Base epoch b's rows land in `batch_id=b`; a Set store adds
  * `hp=K` below it, `K = pmod(xxhash64(key), HashParts)`, so a probe
  * prunes the file listing to the batch's touched prefixes. A
  * generation `batch_id=-B`, written at the tail of batch B, folds the
  * base epochs `[prevB, B)`, `prevB` being the next-older generation's
  * boundary (0 for the first): a chain of disjoint epoch ranges,
  * derivable from the sorted ids alone, so no manifest is needed. Each
  * fold reads only the pending tail, O(compactEvery · batch), never
  * O(history); the chain grows by one generation per `compactEvery`
  * epochs.
  *
  * Replay stays exact with zero coordination because:
  *
  *  1. reads are fenced below the current epoch: epoch B reads every
  *     generation plus the bases in `[cov, B)`, `cov` the newest
  *     generation boundary ≤ B. A replayed B never sees its earlier
  *     attempt's base, and each committed epoch counts exactly once —
  *     a sum cannot tolerate a base and the generation covering it (an
  *     own-replay generation `-B` folds `[prevB, B)`, and the base
  *     window `[B, B)` is then empty);
  *  2. bases are deleted one batch after the generation that covers
  *     them: the stream runs batch C only after committing C-1, so `-g`
  *     with g < C is durable. Until then a replay of B rewrites `-B`
  *     from the same not-yet-deleted inputs. Generations are never
  *     deleted;
  *  3. every epoch overwrites its own partition ([[EpochStore.overwrite]]),
  *     so a replay replaces its earlier attempt instead of appending.
  *
  * @param schema the stored columns, without `batch_id` and `hp`
  */
final class EpochStore(spark: SparkSession, dir: String, schema: StructType,
    fold: EpochStore.Fold) {
  import EpochStore._

  private val path = new Path(dir)

  private val hashKey: Option[String] = fold match {
    case Set(key) => Some(key)
    case _: Sum => None
  }

  /** The on-disk schema: reads pass it, so no read runs a
    * schema-inference job over the store's footers.
    */
  private val stored = StructType(schema.fields ++
    (Seq("batch_id") ++ hashKey.map(_ => "hp")).map(StructField(_, LongType)))

  // through the Hadoop FileSystem API, not java.io.File: the store
  // lives wherever the checkpoint does (HDFS/S3 on a cluster)
  private def fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Partition ids present under the store: bases and generations. */
  private def partIds(): Seq[Long] =
    Option(fs.globStatus(new Path(path, "batch_id=*"))).toSeq.flatten
      .flatMap(s => s.getPath.getName.stripPrefix("batch_id=").toLongOption)

  /** The newest generation boundary among `parts` that `within` admits. */
  private def boundary(parts: Seq[Long], within: Long => Boolean): Long =
    parts.filter(g => g < 0 && within(-g)).map(-_).foldLeft(0L)(math.max)

  private def readParts(parts: Seq[Long], below: Long): DataFrame =
    if (parts.isEmpty) spark.createDataFrame(java.util.List.of[Row](), stored)
    else {
      val cov = boundary(parts, _ <= below)
      spark.read.schema(stored).parquet(dir)
        .filter(col("batch_id") < 0 ||
          (col("batch_id") >= cov && col("batch_id") < below))
    }

  /** Every committed epoch below `below`, each exactly once: all
    * generations plus the bases in `[cov, below)`. Empty when the
    * store has no partition.
    */
  def read(below: Long): DataFrame = readParts(partIds(), below)

  /** The Set store's keys below `below` that might match a key of
    * `batchKeys(keyCol)`, or None when the store has no partition or
    * the batch no non-null key (then every batch row is novel).
    *
    * Two prunes keep the probe O(batch), not O(history). The batch's
    * touched hash prefixes (≤ HashParts values, collected; the collect
    * also materializes a persisted `batchKeys`) filter `hp`, a
    * PartitionFilter, so the listing is pruned before any I/O. A bloom
    * over the batch keys then drops, at the scan, every stored key that
    * matches none: a bloom has no false negatives, so a join against
    * the batch sees the same matches. The bloom is a scalar subquery,
    * built inside the probing job; an eagerly collected bloom added two
    * driver round trips per epoch and regressed the pipeline stream at
    * bench scale (445 → 305 rows/s at sf0.1). `nItems` sizes the bloom:
    * an underestimate only raises the false-positive rate.
    */
  def probe(batchKeys: DataFrame, keyCol: String, below: Long,
      nItems: Long): Option[DataFrame] = {
    val key = hashKey.getOrElse(
      throw new UnsupportedOperationException("probe needs a Set store"))
    val parts = partIds()
    if (parts.isEmpty) return None
    val prefixes = batchKeys.filter(col(keyCol).isNotNull)
      .select(hpCol(col(keyCol))).distinct().collect().map(_.getLong(0))
    if (prefixes.isEmpty) return None
    val bloom = batchKeys
      .select(call_function("graft_bloom_agg", xxhash64(col(keyCol)),
        lit(nItems)))
      .scalar()
    Some(readParts(parts, below)
      .filter(col("hp").isin(prefixes.toSeq: _*))
      .select(col(key))
      .filter(call_function("graft_might_contain", bloom,
        xxhash64(col(key)))))
  }

  /** Write epoch `batchId`'s rows. `oneTask` says how the frame is
    * split into files. True: it reads a cached, micro-batch-sized
    * relation, so one writer task writes ≤ HashParts files with no
    * exchange. False: it ends in a distinct or an aggregate whose
    * reduce side a coalesce(1) would collapse to one thread, so a Set
    * store repartitions it by `hp` and a Sum store writes it as it is.
    * After the write Spark drops the cached data of every persisted
    * frame that scans the store (`recacheByPath`), and its next use
    * recomputes it: write from such a frame before writing into a
    * store it scans.
    */
  def write(df: DataFrame, batchId: Long, oneTask: Boolean): Unit =
    hashKey match {
      case Some(key) =>
        val hashed = df.withColumn("hp", hpCol(col(key)))
        overwrite(
          if (oneTask) hashed.coalesce(1) else hashed.repartition(col("hp")),
          dir, batchId, "hp")
      case None =>
        overwrite(if (oneTask) df.coalesce(1) else df, dir, batchId)
    }

  /** Run at the tail of batch `batchId`: delete the bases a generation
    * of an earlier batch covers, then, once `every` pending bases have
    * accumulated, fold them into generation `-batchId` (a distinct for
    * a Set, a per-group sum for a Sum). `every <= 0` disables it.
    */
  def compact(batchId: Long, every: Int): Unit = {
    if (every <= 0) return
    val parts = partIds()
    val cov = boundary(parts, _ < batchId)
    parts.filter(p => p >= 0 && p < cov)
      .foreach(p => fs.delete(new Path(path, s"batch_id=$p"), true))
    if (parts.count(p => p >= cov && p < batchId) >= every && batchId > 0) {
      val tail = spark.read.schema(stored).parquet(dir)
        .filter(col("batch_id") >= cov && col("batch_id") < batchId)
      fold match {
        // hp is recomputed from the key, not read through
        case Set(key) =>
          write(tail.select(col(key)).distinct(), -batchId, oneTask = false)
        case Sum(group, value) =>
          write(tail.groupBy(col(group)).agg(sum(col(value)).as(value)),
            -batchId, oneTask = true) // one row per group
      }
    }
  }
}

object EpochStore {

  /** How generations fold base epochs: a Set keeps the distinct keys
    * (and is hash-prefix partitioned); a Sum keeps one `value` total
    * per `group`.
    */
  sealed trait Fold
  final case class Set(key: String) extends Fold
  final case class Sum(group: String, value: String) extends Fold

  /** Hash-prefix fan-out of a Set store. A trickle batch touching
    * k ≪ HashParts prefixes reads k/HashParts of the store; a batch
    * much larger than HashParts touches every prefix and the prune
    * keeps the scan unchanged. Each epoch writes ≤ HashParts files.
    */
  val HashParts = 32

  private def hpCol(key: org.apache.spark.sql.Column) =
    pmod(xxhash64(key), lit(HashParts.toLong))

  /** Write `df` as epoch `batchId` of `dir`: rows land in
    * `dir/batch_id=batchId`, partitioned further by `partitionBy`, and
    * replace that whole epoch, so a replayed epoch replaces its earlier
    * attempt. The epoch is deleted first: a dynamic overwrite replaces
    * only the partitions the new rows cover.
    */
  def overwrite(df: DataFrame, dir: String, batchId: Long,
      partitionBy: String*): Unit = {
    val epoch = new Path(dir, s"batch_id=$batchId")
    epoch.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      .delete(epoch, true)
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id" +: partitionBy: _*)
      .parquet(dir)
  }
}

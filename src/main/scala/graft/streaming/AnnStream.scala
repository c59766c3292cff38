package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Online similarity retrieval — the serving form of the batch ANN
  * operators: a stream of query vectors is answered per micro-batch
  * against a STATIC corpus.
  *
  * Two serving paths, same output contract (top-`k` by rounded cosine,
  * vec_id tiebreak — the batch operators' determinism contract):
  *
  *   - `nprobe > 0` (default): CELL-CONFINED search against the SAME
  *     trained hierarchical coarse quantizer the batch dedup/mining
  *     operators use ([[graft.operators.VectorQueries.semanticModel]]:
  *     k = clamp(16..4096, ⌈N/64⌉) cells, two Lloyd rounds). Each query
  *     ranks the ≤4096-entry centroid index (a compiled plan-reference
  *     expression — no per-batch broadcast exchange or ranking window,
  *     the r17 fixed cost), keeps its `nprobe` nearest cells, and
  *     scores ONLY those
  *     cells' members — per-query dot-product cost is k + nprobe·(N/k)
  *     instead of N. The corpus pays one hash-probe per row per batch
  *     (the join on list_id), which is memory-speed next to 64-dim
  *     dots; on a cluster the persisted corpus would additionally be
  *     laid out by list_id so unprobed cells are never touched.
  *   - `nprobe = 0`: exact brute-force cosine top-k (the baseline the
  *     recall pin in AnnStreamSpec measures the index against; also
  *     the right path below ~10⁵ corpus rows where the scan is cheaper
  *     than the quantizer training).
  *
  * Shape: `foreachBatch` re-uses the batch top-k logic verbatim — the
  * corpus (with norms and, on the indexed path, cell assignments) is
  * persisted ONCE at stream start and served from executor memory
  * every micro-batch; the per-batch broadcast is the QUERY side
  * (tiny). The cache is released when the query terminates (listener
  * below), so a served-then-stopped stream leaves no session state
  * behind.
  *
  * Delivery: foreachBatch is at-least-once — a crash between the sink
  * write and the epoch commit replays the batch. Each batch therefore
  * writes straight into its own literal `batch_id=N` directory in
  * overwrite mode: the replay overwrites its previous attempt instead
  * of appending duplicates, making the sink effectively-once (same
  * contract the relay documents for its ack barrier), and the write
  * stays O(batch) — no dynamic-partition staging or table listing
  * that would grow with the stream's lifetime partition count.
  */
object AnnStream {

  /** Default probe width for the indexed path: 8 cells ≈ 8/k of the
    * corpus scored per query — mirrors the batch quantizer's own
    * SemanticProbes super-cell width. Recall@10 vs exact at this
    * setting is pinned by AnnStreamSpec on the fixture corpus.
    */
  val DefaultNprobe: Int = 8

  /** The per-batch answer plan, factored out of foreachBatch so its
    * shape is statically assertable (PlanQualitySpec-style): `corpus`
    * is (vec_id, label, e, nrm, list_id), `cents` the trained
    * (cid, centroid) table (ignored when nprobe = 0), `batch` the
    * (q_id, q_embedding) query micro-batch. The probe selection is a
    * compiled map-side expression over the driver-held centroid index
    * ([[graft.plans.SemanticProbeCells]]) — r17 measured ann_serve's
    * trickle rate (19.6 rows/s vs 587 at batch 512) as ALL per-epoch
    * fixed cost, dominated by re-broadcasting the static centroid
    * table and shuffling a q×cells relation through a ranking window
    * every micro-batch; both are gone. The remaining joins broadcast
    * the tiny side (probes / queries); the corpus side never shuffles
    * — the only exchange is the per-query top-k rank over candidate
    * rows (≤ nprobe · cell-size per query).
    */
  private[graft] def answer(corpus: DataFrame,
      cents: Seq[(Long, Array[Double])],
      batch: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val indexed = nprobe > 0
    val q = batch.select(col("q_id"),
      col("q_embedding").as("qe"),
      sqrt(call_function("array_dot", col("q_embedding"),
        col("q_embedding"))).as("q_nrm"))
    val cand =
      if (indexed) {
        // each query's nprobe nearest cells in one compiled pass
        // (same (round-6 dot DESC, cid ASC) pick as the previous
        // window chain), then confine the scan to those cells
        val sorted = cents.sortBy(_._1)
        val pidx = new graft.plans.ProbeIndex(
          sorted.map(_._1).toArray, sorted.map(_._2).toArray, nprobe)
        val bridge = org.apache.spark.sql.graftbridge.DatasetBridge
        val probes = q.withColumn("probe_list",
          explode(bridge.column(graft.plans.SemanticProbeCells(
            bridge.expression(batch.sparkSession, col("qe")), pidx))))
        corpus.join(broadcast(probes),
          col("list_id") === col("probe_list"))
      } else corpus.crossJoin(broadcast(q))
    val scored = cand
      .select(col("q_id"), col("vec_id"), col("label"),
        round(call_function("array_dot", col("e"), col("qe")) /
          (col("nrm") * col("q_nrm")), 6).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Start the retrieval stream: `queries` is a streaming frame with
    * (q_id LONG, q_embedding ARRAY<DOUBLE>); the corpus is read from
    * `sfDir` once. Top-`k` per query by rounded cosine with vec_id
    * tiebreak. `nprobe` selects the serving path (see object doc).
    */
  def start(spark: SparkSession, queries: DataFrame, sfDir: String,
            outDir: String, chkDir: String, k: Int = 5,
            nprobe: Int = DefaultNprobe): StreamingQuery = {
    graft.Session.setup(spark)
    val indexed = nprobe > 0
    // On the indexed path the corpus carries its trained cell id; the
    // one-time Lloyd training (bounded driver state, zero-exchange
    // assignment passes — see semanticAssigned) happens here at stream
    // start, not under serving latency.
    val (cents, base) =
      if (indexed) {
        val (c, a) = graft.operators.VectorQueries.semanticModel(spark, sfDir)
        // the assigned frame is (vec_id, embedding, nrm, list_id) —
        // re-join the corpus for the label the output carries
        val lbl = graft.Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), col("label"))
        (c, a.join(lbl, Seq("vec_id")).select(col("vec_id"), col("label"),
          col("embedding"), col("nrm"), col("list_id")))
      } else
        (Nil, graft.Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), col("label"), col("embedding"),
            sqrt(call_function("array_dot",
              expr("transform(embedding, x -> CAST(x AS DOUBLE))"),
              expr("transform(embedding, x -> CAST(x AS DOUBLE))"))).as("nrm"),
            lit(0L).as("list_id")))
    val corpus = base
      .withColumn("e", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .select(col("vec_id"), col("label"), col("e"), col("nrm"), col("list_id"))
    StreamLifecycle.pin(spark, corpus) { corpus => queries.writeStream
      .option("checkpointLocation", chkDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // write STRAIGHT INTO the batch's partition directory: a batch
        // only ever owns its one batch_id partition, so the dynamic
        // partition-overwrite machinery buys nothing over overwriting
        // the literal path — and its per-epoch staging-dir + table
        // listing scales with the OUTPUT's lifetime partition count
        // (O(epochs served), unbounded on a long-lived stream), where
        // the direct write stays O(batch). Neutral at bench scale
        // (8-13 epochs, within run noise); the scale shape is the
        // point. Replay idempotence is unchanged: a replayed batch
        // overwrites its own directory; readers of `outDir` see the
        // same batch_id=N partition layout. Idle triggers carry no
        // queries — skip the write entirely so the directory count
        // stays one-per-SERVED-batch (an empty batch_id=N dir would
        // inflate the epoch count readers infer from the layout)
        if (!batch.isEmpty) {
          answer(corpus, cents, batch, k, nprobe)
            .write.mode("overwrite")
            .parquet(s"$outDir/batch_id=$batchId")
        }
        ()
      }
      .start()
    }
  }
}

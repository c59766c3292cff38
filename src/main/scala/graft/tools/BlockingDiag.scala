package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.obs.Json
import graft.operators.TextQueries

/** Blocking-selectivity diagnostics for the dedup scaling studies
  * (SCALING.md): per corpus, the block-size distribution and candidate
  * pair count each blocking key yields for `dedup_ngram_jaccard` and
  * `dedup_containment`, WITHOUT running the scoring joins.
  *
  * This is the measurement the round-9 study showed matters: runtime
  * can stay sub-linear while candidate pairs grow quadratically
  * (the dense 4-gram key grew 127× for 10× data one decade before it
  * would have blown up). Candidate counts across sf0.1 → sf1 → sf10
  * are the direct witness that a blocking key stays ~linear.
  *
  * The text block keys are the operators' own (TextQueries
  * jaccardBlocks / containmentBlocks / gramHashes); only the per-block
  * pair count replaces the pair join, so the tool runs at decades the
  * full scoring pass would need a cluster for.
  *
  *   sbt "runMain graft.tools.BlockingDiag dir1 [dir2 ...]"
  *
  * Prints one JSON line per (dir, family).
  */
object BlockingDiag {

  /** (doc_id, block) under dedup_ngram_jaccard's key. */
  def jaccardBlocks(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    TextQueries.jaccardBlocks(TextQueries.gramHashes(docs, 8, "gh8"),
        docs.select(col("doc_id"), length(col("text")).as("len")))
      .select("doc_id", "block")
  }

  /** (doc_id, block) under dedup_containment's key. */
  def containmentBlocks(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    TextQueries.containmentBlocks(TextQueries.gramHashes(docs, 8, "bh"),
        docs.select("doc_id"))
      .select("doc_id", "block")
  }

  /** (doc_id, block) under dedup_rare_gram's inverted index: block =
    * the char-8-gram hash itself, one row per posting. Candidate pairs
    * = Σ C(df,2) over grams with df ≤ RareGramDfCap — the number that
    * must stay ~linear per decade for the retrieval path's scale
    * claim; dropped blocks are the over-cap grams (boilerplate,
    * exact/blocking-dedup's territory by design).
    */
  def rareGramBlocks(s: SparkSession, d: String): DataFrame =
    TextQueries.gramHashes(graft.Tables.documents(s, d), 8)
      .select(col("doc_id"), col("gh").cast("string").as("block"))

  /** (doc_id, block) under vec_cosine_neardup's key: the FIXED 8-plane
    * sign-LSH bucket (VectorQueries.bucket). Unlike the text families,
    * the bucket count here is constant (2^8), so candidate pairs grow
    * ~N²/256 BY CONSTRUCTION — this family exists to measure that
    * growth; the scale lever is planes ≈ log2(N/target_bucket_size)
    * (SCALING.md §Vector LSH), or the IVF route.
    */
  def vecLshBlocks(s: SparkSession, d: String): DataFrame =
    graft.Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"),
        graft.operators.VectorQueries.bucket.cast("string").as("block"))

  /** (doc_id, block) under vec_cosine_neardup_banded's key: one row per
    * (vector, band), block = band + masked bucket with planes-per-band
    * derived from count(*). Candidate pairs here are the banded join's
    * output size (pre pair-distinct) — the number that must stay
    * ~linear for the scale-path claim to hold.
    */
  def vecLshBandedBlocks(s: SparkSession, d: String): DataFrame =
    graft.operators.VectorQueries.bandedSlim(s, d)
      .select(col("vec_id").as("doc_id"),
        concat_ws("_", col("band"), col("bkt")).as("block"))

  /** (doc_id, block) under vec_semantic_dedup's key: the scale-adaptive
    * coarse-quantizer cluster (k = clamp(16..4096, ⌈N/64⌉) from
    * count(*)). Candidate pairs = the within-cluster self-join size;
    * with k ∝ N expected membership is ~64, so pairs must stay ~linear
    * — the claim this family measures.
    */
  def vecSemanticBlocks(s: SparkSession, d: String): DataFrame =
    graft.operators.VectorQueries.semanticAssigned(s, d)
      .select(col("vec_id").as("doc_id"), col("list_id").cast("string").as("block"))

  /** Semantic-dedup recall at a decade: of the TRUE ≥θ-cosine ordered
    * pairs incident to an anchor vector, the fraction whose two vectors
    * land in the same coarse cluster. This is the quality cost of
    * confining the ε-ball search within clusters; SemDeDup accepts it
    * by construction, we MEASURE it per decade so the trade is a
    * number, not a hope. Enabled via SPARK_GRAFT_SEMANTIC_RECALL=1.
    *
    * Up to 30,000 vectors every vector is an anchor (the exact N²
    * ground truth); above that, every ⌈n/2000⌉-th vec_id is, and each
    * anchor scores against the WHOLE corpus (anchors×N dots, not N²).
    * Pair-level recall is a mean over pairs; sampling the anchor side
    * uniformly estimates the same mean, at a resolution of ~1/√pairs.
    * The row reports the sampling frame it actually applied: the
    * stride, the corpus size, and the realized anchor count and
    * coverage (ppm; sparse/offset id spaces make ⌈n/stride⌉ over-promise).
    */
  def semanticRecall(s: SparkSession, d: String, theta: Double): Map[String, Long] = {
    import graft.operators.VectorQueries.semanticAssigned
    val a = semanticAssigned(s, d)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("list_id"))
    val n = a.count()
    val stride = if (n <= 30000) 1L else (n + 1999) / 2000
    val x = a.filter(col("vec_id") % stride === 0).repartition(32)
    val nAnchors = x.count()
    val y = a.select(col("vec_id").as("vec_y"), col("embedding").as("emb_y"),
      col("nrm").as("nrm_y"), col("list_id").as("list_y"))
    // deliberate cartesian (repartitioned for parallelism): ground truth
    val r = x.crossJoin(y)
      .filter(col("vec_y") =!= col("vec_id"))
      .withColumn("sim",
        call_function("array_dot", col("embedding"), col("emb_y"))
          / (col("nrm") * col("nrm_y")))
      .filter(col("sim") >= theta)
      .agg(count(lit(1)).as("true_pairs"),
        sum(when(col("list_id") === col("list_y"), 1L).otherwise(0L))
          .as("same_cluster_pairs")).head()
    Map("anchors" -> nAnchors,
      "stride" -> stride,
      "corpus_rows" -> n,
      "coverage_ppm" -> (if (n > 0) nAnchors * 1000000L / n else 0L),
      "true_pairs" -> r.getAs[Number](0).longValue(),
      "same_cluster_pairs" -> Option(r.get(1))
        .map(_.asInstanceOf[Number].longValue()).getOrElse(0L))
  }

  /** (user_id, block) under rel_ts_shape_match's key: the
    * count(*)-tiered SAX word over per-user-window PAA ranks
    * (RelationalQueries.tsShaped). GenScale copies repeat each user's
    * shape exactly, so block sizes grow ~copies per decade — the
    * worst case for a fixed word space; `dropped_blocks` going nonzero
    * is the measured signal that the next tier (longer words /
    * TsSegs=16) is due.
    */
  def tsShapeBlocks(s: SparkSession, d: String): DataFrame =
    graft.operators.RelationalQueries.tsShaped(s, d)
      .select(col("user_id").as("doc_id"), col("word").as("block"))

  /** One stats row over a (doc_id, block) relation: candidate pairs
    * under the cap, what the cap drops, and the block-size tail.
    */
  def stats(blocks: DataFrame,
      cap: Long = TextQueries.DegenerateBlockCap.toLong): Map[String, Long] = {
    // bn*(bn-1) is even, so the double division is exact (< 2^52)
    val pairsOf: Column = (col("bn") * (col("bn") - 1) / 2).cast("long")
    val r = blocks.groupBy("block").agg(count(lit(1)).as("bn"))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(col("bn")).as("n_docs"),
        max(col("bn")).as("max_block"),
        sum(when(col("bn") <= cap, pairsOf).otherwise(0L)).as("cand_pairs"),
        sum(when(col("bn") > cap, 1L).otherwise(0L)).as("dropped_blocks"),
        sum(when(col("bn") > cap, pairsOf).otherwise(0L)).as("dropped_pairs"))
      .head()
    (0 until r.length).map(i =>
      r.schema(i).name -> r.getAs[Number](i).longValue()).toMap
  }

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.1")
    val spark = graft.Session.local("blocking-diag")
    val fields = Seq("n_docs", "n_blocks", "max_block", "cand_pairs",
      "dropped_blocks", "dropped_pairs")
    // thunks, not DataFrames: reading a table at construction would
    // fail on partial corpora (docs-only sf10, vecs-only decades)
    for (d <- dirs;
         (family, mk) <- (
           // text families need documents; vec families need embeddings
           (if (new java.io.File(s"$d/documents.parquet").exists())
             Seq("jaccard" -> (() => jaccardBlocks(spark, d)),
               "containment" -> (() => containmentBlocks(spark, d)),
               "rare_gram" -> (() => rareGramBlocks(spark, d))) else Nil) ++
           (if (new java.io.File(s"$d/embeddings.parquet").exists())
             Seq("vec_lsh" -> (() => vecLshBlocks(spark, d)),
               "vec_lsh_banded" -> (() => vecLshBandedBlocks(spark, d)),
               "vec_semantic" -> (() => vecSemanticBlocks(spark, d))) else Nil) ++
           (if (new java.io.File(s"$d/events.parquet").exists())
             Seq("ts_shape" -> (() => tsShapeBlocks(spark, d))) else Nil))) {
      val blocks = mk()
      // the text operators cap degenerate blocks; the vector families
      // score every bucket pair — report their full candidate count
      val st = stats(blocks,
        if (family.startsWith("vec")) Long.MaxValue
        else if (family == "rare_gram") TextQueries.RareGramDfCap.toLong
        else TextQueries.DegenerateBlockCap.toLong)
      println(Json.obj(Seq("dir" -> d, "family" -> family) ++
        fields.map(f => f -> st(f)): _*).json)
    }
    if (sys.env.get("SPARK_GRAFT_SEMANTIC_RECALL").contains("1"))
      for (d <- dirs if new java.io.File(s"$d/embeddings.parquet").exists();
           // 0.4 = the operator's gate threshold (BandedSimThreshold
           // note); 0.9 = the production near-identical pruning regime;
           // 0.7 = the cliff-watch row: recall degrades smoothly from
           // ~96% (θ=0.9) toward ~41% (θ=0.4); a future retuning of the
           // dedup threshold must re-read this row before moving below
           // the near-identical regime (see semanticAssigned's envelope
           // note)
           theta <- Seq(0.4, 0.7, 0.9)) {
        val r = semanticRecall(spark, d, theta)
        println(Json.obj(Seq("dir" -> d, "family" -> "vec_semantic_recall",
          "theta" -> Json.fixed(theta, 1)) ++
          Seq("anchors", "stride", "corpus_rows", "coverage_ppm", "true_pairs",
            "same_cluster_pairs").map(f => f -> r(f)): _*).json)
      }
    spark.stop()
  }
}

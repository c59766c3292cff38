package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Decade probe for dedup_incremental_near's scale claim: with the
  * BATCH held fixed (the lowest 500 doc_ids, present identically in
  * every GenScale decade — copy 0 is the identity), total cost must
  * track the corpus-proportional index build (one embarrassingly
  * parallel hash pass + df aggregation, amortized to zero in a real
  * deployment where the posting index is a materialized table) while
  * the probe + verify share stays batch-bounded. Prints per rep:
  * index-build seconds (corpus 8-gram hash pass + df cap filter,
  * materialized via count), total pipeline seconds, and output rows.
  * Diagnostic only — not a registered query.
  */
object IncNearDecadeProbe {

  /** PROBE_BUDGET_AUDIT=1: certify IncNearVerifyBudget (VERDICT r17
    * #3). Re-derives the candidate window WITHOUT the budget (to rank
    * 64 = 4× the shipped budget) at the PATHOLOGICAL split — the
    * registered corpus/batch split, which at the sf10-docs decade
    * makes the batch 499.6k near-copies of a 400-doc corpus (p99 151
    * candidates per batch doc) — scores exact char-4-gram Jaccard for
    * every rank ≤ 64 candidate, and prints the per-rank-bucket J4
    * distribution: a certified budget shows zero J4 ≥ 0.6 pairs in the
    * DROPPED buckets (ranks 17-64) and a monotone J4 decline with rank
    * — together with the beyond-64 n_rare_shared ceiling (every rank >
    * 64 candidate shares ≤ the bucket-64 minimum, and J4 tracks shared
    * rare-gram mass), that converts the budget from argued to pinned.
    *
    * Batch docs are SAMPLED deterministically (doc_id % divisor = 0,
    * PROBE_AUDIT_SAMPLE, default 97): each batch doc's candidates and
    * ranks depend only on its OWN grams against the corpus index, so
    * per-doc rank structure is exact under any batch subset — sampling
    * bounds the exact-J4 cost (≤ 64 pairs per sampled doc) without
    * biasing the distribution. Verifying every unbudgeted candidate is
    * exactly the 34M-pair / 334 GB-spill pathology the budget fixed,
    * which is why the full-batch audit cannot exist.
    */
  private def budgetAudit(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val T = graft.operators.TextQueries
    val docs = graft.Tables.documents(spark, sfDir)
    val sampleDiv = sys.env.getOrElse("PROBE_AUDIT_SAMPLE", "97").toLong
    // the REGISTERED split (TextQueries.incrementalNear), batch sampled
    val corpus = docs.filter(col("doc_id") < 400)
    val batch = docs.filter((col("doc_id") >= 400 || col("doc_id") < 50)
      && col("doc_id") % sampleDiv === 0)
    def g8(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"),
        explode(call_function("char_ngrams", col("text"), lit(8), lit(true)))
          .as("g8"))
      .select(col("doc_id"), T.h60(col("g8")).as("gh"))
    val AuditRank = 64
    val cand = graft.Stage.fanout(g8(corpus)) { cp =>
      val rare = cp.groupBy("gh").agg(count(lit(1)).as("df"))
        .filter(col("df") <= T.RareGramDfCap).select("gh")
      val idx = cp.join(rare, "gh")
        .select(col("gh"), col("doc_id").as("corpus_doc"))
      g8(batch).join(idx, "gh")
        .groupBy(col("doc_id").as("batch_doc"), col("corpus_doc"))
        .agg(count(lit(1)).as("n_rare_shared"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("batch_doc")
            .orderBy(col("n_rare_shared").desc, col("corpus_doc"))))
    }
    // beyond-64 tail: counted + bounded by its shared-gram ceiling,
    // never exact-verified (that's the pathology)
    val beyond = cand.filter(col("rnk") > AuditRank)
      .agg(count(lit(1)).as("n"), max("n_rare_shared").as("max_shared"),
        avg("n_rare_shared").as("avg_shared")).collect()(0)
    val c64 = cand.filter(col("rnk") <= AuditRank)
    val candDocs = c64.select(col("batch_doc").as("doc_id"))
      .unionByName(c64.select(col("corpus_doc").as("doc_id")))
      .distinct()
    val g4 = docs.join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        explode(call_function("char_ngrams", col("text"), lit(4), lit(true)))
          .as("g"))
      .select(col("doc_id"), T.h60(col("g")).as("gh"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("gh"))).as("ghs"))
      .withColumn("n", size(col("ghs")).cast("bigint"))
    val scored = graft.Stage.fanout(g4) { g =>
      c64
        .join(g.select(col("doc_id").as("ida"), col("ghs").as("ghs_a"),
          col("n").as("na")), col("batch_doc") === col("ida"))
        .join(g.select(col("doc_id").as("idb"), col("ghs").as("ghs_b"),
          col("n").as("nb")), col("corpus_doc") === col("idb"))
        .select(col("rnk"), col("n_rare_shared"),
          call_function("sorted_intersect_count",
          col("ghs_a"), col("ghs_b"))
            .as("nc"), col("na"), col("nb"))
        .select(col("rnk"), col("n_rare_shared"),
          (col("nc").cast("double") / (col("na") + col("nb") - col("nc")))
            .as("j4"))
    }
    val buckets = scored
      .withColumn("bucket", when(col("rnk") <= 8, "a_rank_01_08")
        .when(col("rnk") <= T.IncNearVerifyBudget, "b_rank_09_16")
        .when(col("rnk") <= 32, "c_rank_17_32_DROPPED")
        .otherwise("d_rank_33_64_DROPPED"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(when(col("j4") >= 0.6, 1L).otherwise(0L)).as("n_j4_ge_06"),
        max("j4").as("max_j4"), avg("j4").as("avg_j4"),
        min("n_rare_shared").as("min_shared"))
      .orderBy("bucket")
      .collect()
    buckets.foreach { r =>
      println(f"[budget] ${r.getString(0)}%-22s n=${r.getLong(1)}%-8d " +
        f"n_j4>=0.6=${r.getLong(2)}%-6d max_j4=${r.getDouble(3)}%.4f " +
        f"avg_j4=${r.getDouble(4)}%.4f min_shared=${r.getLong(5)}")
    }
    println(s"[budget] beyond_rank_64: n=${beyond.getLong(0)} " +
      s"max_shared=${beyond.get(1)} avg_shared=${beyond.get(2)} " +
      s"(ceiling: every rank>64 candidate shares <= its doc's " +
      s"bucket-64 minimum; J4 tracks shared rare-gram mass)")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local("inc-near-decade-probe")
    if (sys.env.contains("PROBE_BUDGET_AUDIT")) {
      budgetAudit(spark, sfDir)
      spark.stop()
      return
    }
    val reps = sys.env.getOrElse("PROBE_REPS", "3").toInt
    val nDocs = graft.Tables.documents(spark, sfDir).count()
    for (r <- 1 to reps) {
      // index-build leg alone: corpus 8-gram hash -> df agg -> cap cut
      val t0 = System.nanoTime()
      val corpusDocs = graft.Tables.documents(spark, sfDir)
        .filter(col("doc_id") >= 500)
      val nRare = corpusDocs
        .select(col("doc_id"),
          explode(call_function("char_ngrams", col("text"), lit(8), lit(true)))
            .as("g8"))
        .select(graft.operators.TextQueries.h60(col("g8")).as("gh"))
        .groupBy("gh").agg(count(lit(1)).as("df"))
        // the registered query's cap, not a copy (see IncNearCandCount)
        .filter(col("df") <= graft.operators.TextQueries.RareGramDfCap)
        .count()
      val tIndex = (System.nanoTime() - t0) / 1e9
      // full pipeline, inverted split: fixed 500-doc batch vs the rest
      val t1 = System.nanoTime()
      val out = graft.operators.TextQueries.incrementalNearSplit(
        spark, sfDir, col("doc_id") >= 500, col("doc_id") < 500)
      val n = out.count()
      val tTotal = (System.nanoTime() - t1) / 1e9
      println(f"[probe] rep=$r docs=$nDocs rare_grams=$nRare " +
        f"t_index=$tIndex%.2f s t_total=$tTotal%.2f s pairs=$n")
    }
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.functions._

/** One-off diagnostic: candidate-pair volume of the registered
  * dedup_incremental_near split BEFORE verification, plus the
  * per-batch-doc candidate distribution — sizes the verify-budget cap.
  */
object IncNearCandCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local("inc-near-cand-count", shufflePartitions = Some(32))
    val docs = graft.Tables.documents(spark, sfDir)
    def g8(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"),
        explode(call_function("char_ngrams", col("text"), lit(8), lit(true)))
          .as("g8"))
      .select(col("doc_id"), graft.operators.TextQueries.h60(col("g8")).as("gh"))
    val corpus = g8(docs.filter(col("doc_id") < 400))
    val batch = g8(docs.filter(col("doc_id") >= 400 || col("doc_id") < 50))
    // the registered query's cap, not a copy — if the cap moves, this
    // probe must keep measuring the same screen
    val rare = corpus.groupBy("gh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= graft.operators.TextQueries.RareGramDfCap)
      .select("gh")
    val idx = corpus.join(rare, "gh")
      .select(col("gh"), col("doc_id").as("corpus_doc"))
    val cand = batch.join(idx, "gh")
      .groupBy(col("doc_id").as("batch_doc"), col("corpus_doc"))
      .agg(count(lit(1)).as("n_rare_shared"))
    val perDoc = cand.groupBy("batch_doc").agg(count(lit(1)).as("k"))
    val stats = perDoc.agg(count(lit(1)).as("batch_docs_with_cand"),
      sum("k").as("total_pairs"), max("k").as("max_per_doc"),
      expr("percentile_approx(k, 0.99)").as("p99_per_doc")).collect()(0)
    val ge2 = cand.filter(col("n_rare_shared") >= 2).count()
    println(s"[cand] $stats pairs_minshared2=$ge2")
    spark.stop()
  }
}

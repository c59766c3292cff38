package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed Lloyd k-means over the embeddings table — the full
  * iterate-to-convergence form of the single `vec_kmeans_step` query
  * (the index-training loop behind an IVF coarse quantizer).
  *
  * Shape, designed for the 1000-executor case:
  *   - vectors are cached once as exact micro-unit longs
  *     (`round(x*1e6)`), so centroid recomputation is an
  *     `array_sum_agg` of longs — mergeable, order-independent, and
  *     bit-identical at any parallelism; a raw double sum would make
  *     the run non-deterministic under shuffle-order variation.
  *   - each iteration is one broadcast cross-score of the k centroids
  *     (k ≤ a few hundred: the broadcast is KB-sized) + one argmin
  *     window on vec_id + one k-row aggregate. The only driver-side
  *     data is the k×dim centroid matrix per round — bounded,
  *     independent of corpus size (the same bounded-collect pattern as
  *     SketchStream's one-sketch-row epoch fetch).
  *   - convergence is decided on the k-row result (exact long sums
  *     equal ⇒ assignments fixed ⇒ stop), not on a corpus-sized diff.
  */
object KMeans {

  /** `objective` is the within-cluster sum of squared distances (in
    * micro² units) after each iteration's assignment pass.
    */
  final case class Result(
      iters: Int,
      converged: Boolean,
      objective: Seq[Double],
      sizes: Map[Long, Long])

  def run(
      s: SparkSession,
      dir: String,
      k: Int = 8,
      maxIters: Int = 10): Result = graft.Stage.staging(s) { st =>
    val vecs = st.persist(graft.Tables.embeddings(s, dir)
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT))")
        .as("v")))
    vecs.count(): Unit

    // deterministic seeds: the k lowest vec_ids
    var centroids: Seq[(Long, Array[Double])] = vecs
      .orderBy("vec_id").limit(k).collect().toSeq
      .map(r => (r.getLong(0),
        r.getSeq[Long](1).map(_.toDouble).toArray))

    var objective = Vector.empty[Double]
    var sizes = Map.empty[Long, Long]
    var converged = false
    var it = 0
    while (it < maxIters && !converged) {
      val centDf = s.createDataFrame(
        centroids.map { case (cid, c) => (cid, c.toSeq) })
        .toDF("cid", "c")
      val w = Window.partitionBy("vec_id").orderBy(col("dist"), col("cid"))
      val assigned = vecs.crossJoin(broadcast(centDf))
        .withColumn("dist", expr(
          "aggregate(zip_with(v, c, (a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), 0D, (acc, x) -> acc + x)"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      val stats = assigned.groupBy("cid")
        .agg(count(lit(1)).as("n"),
          call_function("array_sum_agg", col("v")).as("sums"),
          sum(col("dist")).as("sse"))
        .collect()
      objective = objective :+ stats.map(_.getDouble(3)).sum
      sizes = stats.map(r => r.getLong(0) -> r.getLong(1)).toMap
      // empty clusters keep their previous centroid
      val prev = centroids.toMap
      val next = centroids.map { case (cid, c) =>
        stats.find(_.getLong(0) == cid) match {
          case Some(r) =>
            val n = r.getLong(1).toDouble
            (cid, r.getSeq[Long](2).map(_.toDouble / n).toArray)
          case None => (cid, prev(cid))
        }
      }
      converged = next.zip(centroids).forall { case ((_, a), (_, b)) =>
        java.util.Arrays.equals(a, b)
      }
      centroids = next
      it += 1
    }
    Result(it, converged, objective, sizes)
  }
}

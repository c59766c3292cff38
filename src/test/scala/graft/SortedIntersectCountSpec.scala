package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `sorted_intersect_count` must equal `size(array_intersect(a, b))`
  * on its input domain — sorted distinct BIGINT arrays (what
  * `sort_array(collect_set(...))` produces) — including empty arrays,
  * disjoint sets, full overlap, and NULL arrays. The near-dup verify
  * paths score jaccard/containment with it, so any divergence is a
  * silent result change.
  */
class SortedIntersectCountSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("matches size(array_intersect) over sorted distinct arrays") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // deterministic pseudo-random sets, sorted + distinct by construction
    def set(seed: Long, n: Int): Seq[Long] =
      (0 until n).map(i => ((seed * 6364136223846793005L + i * 1442695040888963407L) >>> 8) % 5000)
        .distinct.sorted
    val rows: Seq[Row] = (
      (1 to 40).map { i => Row(set(i, 200 + i), set(i + 7, 300)) } ++
      Seq(
        Row(Seq.empty[Long], set(3, 50)),          // empty left
        Row(set(4, 50), Seq.empty[Long]),          // empty right
        Row(Seq.empty[Long], Seq.empty[Long]),     // both empty
        Row(set(5, 80), set(5, 80)),               // identical sets
        Row(Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),     // disjoint
        Row(null, set(6, 10)),                     // null left
        Row(set(6, 10), null))                     // null right
    )
    val schema = StructType(Seq(
      StructField("a", ArrayType(LongType), nullable = true),
      StructField("b", ArrayType(LongType), nullable = true)))
    val df = spark.createDataFrame(rows.asJava, schema)
    val diff = df.select(
        call_function("sorted_intersect_count", col("a"), col("b")).as("fast"),
        size(array_intersect(col("a"), col("b"))).cast("bigint").as("ref"))
      // size() returns -1 for a NULL array input (legacy sizeOfNull
      // semantics return null; either way fast must be null exactly
      // when an input array is null)
      .filter(!(col("fast") <=> when(col("ref") >= 0, col("ref"))))
    assert(diff.count() == 0, s"divergence: ${diff.collect().mkString}")
    // null-array inputs yield null
    val nulls = df.filter(col("a").isNull || col("b").isNull)
      .select(call_function("sorted_intersect_count", col("a"), col("b")))
      .collect()
    assert(nulls.forall(_.isNullAt(0)))
  }
}

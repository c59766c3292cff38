package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the `array_sum_agg` native aggregate (the
  * centroid accumulator): element-wise ARRAY<BIGINT> sums as one
  * mergeable buffer, replacing the posexplode → (key, dim) scalar-sum
  * shape that inflates rowcount by the embedding dimension.
  */
class ArraySumAggSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("matches the posexplode scalar-sum result on multi-partition input") {
    import spark.implicits._
    val rows = (1 to 1000).map { i =>
      (s"g${i % 7}", Array((i % 11).toLong, (i % 13).toLong, (i % 17).toLong))
    }
    // 8 partitions forces partial buffers + cross-partition merges
    val df = rows.toDF("k", "arr").repartition(8)
    val viaAgg = df.groupBy("k")
      .agg(call_function("array_sum_agg", col("arr")).as("sums"))
      .select(col("k"), posexplode(col("sums")).as(Seq("pos", "s")))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val viaExplode = df
      .select(col("k"), posexplode(col("arr")).as(Seq("pos", "v")))
      .groupBy("k", "pos").agg(sum("v").as("s"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaAgg == viaExplode)
    assert(viaAgg.nonEmpty)
  }

  test("null arrays contribute nothing; an all-null group yields NULL") {
    import spark.implicits._
    val df = Seq(
      ("a", Some(Array(1L, 2L))),
      ("a", None),
      ("a", Some(Array(10L, 20L))),
      ("b", None)
    ).toDF("k", "arr").repartition(4)
    val out = df.groupBy("k")
      .agg(call_function("array_sum_agg", col("arr")).as("sums"))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("a").map(_.asInstanceOf[scala.collection.Seq[Long]].toSeq) ==
      Some(Seq(11L, 22L)))
    assert(out("b").isEmpty)
  }

  test("null elements are skipped, like SQL sum") {
    val df = spark.sql(
      "SELECT array_sum_agg(a) AS sums FROM VALUES (array(1L, NULL, 3L)), (array(2L, 5L, NULL)) t(a)")
    assert(df.collect().head.getSeq[Long](0) == Seq(3L, 5L, 3L))
  }

  test("dimension drift between rows raises") {
    val e = intercept[Exception] {
      spark.sql(
        "SELECT array_sum_agg(a) FROM VALUES (array(1L, 2L)), (array(3L)) t(a)")
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("dimension mismatch")), e.getMessage)
  }

  test("non-ARRAY<BIGINT> input fails analysis") {
    val e = intercept[Exception] {
      spark.sql("SELECT array_sum_agg(a) FROM VALUES (array(1.5D)) t(a)").collect()
    }
    assert(e.getMessage.contains("array_sum_agg"), e.getMessage)
  }

  test("global aggregate over an empty relation yields NULL") {
    val row = spark.sql(
      "SELECT array_sum_agg(a) AS sums FROM (SELECT array(1L) AS a WHERE 1 = 0)")
      .collect().head
    assert(row.isNullAt(0))
  }

  test("int64 overflow is LOUD, not a silently wrong centroid") {
    // the first cut's plain `+=` wrapped here; addExact throws in both
    // update (many rows, one partition) and merge (cross-partition)
    val big = Long.MaxValue / 2 + 1
    val e = intercept[Exception] {
      spark.range(4).repartition(4)
        .selectExpr(s"array(${big}L) AS a")
        .selectExpr("array_sum_agg(a)").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.toLowerCase.contains("overflow")), e.getMessage)
  }

  test("a group of zero-length arrays yields an empty array across a shuffle") {
    // regression: serialize() used to emit a length-0 buffer as empty
    // bytes — deserialize()'s null sentinel — so the group's result
    // flipped to NULL, but ONLY on plans that shuffle the partial
    // buffer (map-side combine); single-partition plans returned the
    // empty array. The 1-byte tag prefix keeps the two distinct.
    import spark.implicits._
    val df = Seq.fill(64)(("k", Array.empty[Long])).toDF("k", "arr")
      .repartition(8)
    for (fn <- Seq("array_sum_agg", "array_sum_agg_dec")) {
      val out = df.groupBy("k")
        .agg(call_function(fn, col("arr")).as("sums")).collect()
      assert(out.length == 1, fn)
      assert(!out(0).isNullAt(1), s"$fn: empty-array group collapsed to NULL")
      assert(out(0).getSeq[Any](1).isEmpty, fn)
    }
  }

  test("array_sum_agg_dec agrees with array_sum_agg inside the int64 range") {
    import spark.implicits._
    val rows = (1 to 500).map { i =>
      (s"g${i % 5}", Array((i * 37 % 101 - 50).toLong, i.toLong, -i.toLong))
    }
    val df = rows.toDF("k", "arr").repartition(8)
    val viaLong = df.groupBy("k")
      .agg(call_function("array_sum_agg", col("arr")).as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    val viaDec = df.groupBy("k")
      .agg(call_function("array_sum_agg_dec", col("arr")).as("s"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[java.math.BigDecimal](1).map(_.longValueExact()).toSeq).toMap
    assert(viaDec == viaLong)
    assert(viaDec.nonEmpty)
  }

  test("array_sum_agg_dec: null/dimension/empty semantics mirror the int64 twin") {
    // null elements skipped, like SQL sum
    val df = spark.sql(
      "SELECT array_sum_agg_dec(a) AS sums FROM VALUES (array(1L, NULL, 3L)), (array(2L, 5L, NULL)) t(a)")
    assert(df.collect().head.getSeq[java.math.BigDecimal](0)
      .map(_.longValueExact()) == Seq(3L, 5L, 3L))
    // dimension drift raises
    val e = intercept[Exception] {
      spark.sql(
        "SELECT array_sum_agg_dec(a) FROM VALUES (array(1L, 2L)), (array(3L)) t(a)")
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("dimension mismatch")), e.getMessage)
    // empty relation yields NULL
    val row = spark.sql(
      "SELECT array_sum_agg_dec(a) AS sums FROM (SELECT array(1L) AS a WHERE 1 = 0)")
      .collect().head
    assert(row.isNullAt(0))
  }

  test("array_sum_agg_dec int128 carries: randomized agreement with BigInt") {
    // extreme-magnitude mixed-sign inputs exercise low-word carries in
    // BOTH update and cross-partition merge; the reference leg is plain
    // BigInt, deliberately not the buffer's carry arithmetic
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def draw(): Long = rnd.nextInt(6) match {
      case 0 => Long.MaxValue - rnd.nextInt(1000)
      case 1 => Long.MinValue + rnd.nextInt(1000)
      case 2 => rnd.nextLong() >> rnd.nextInt(40)
      case _ => rnd.nextLong()
    }
    val rows = Seq.fill(400)(Array(draw(), draw(), draw(), draw()))
    val expected = (0 until 4).map(i => rows.map(a => BigInt(a(i))).sum)
    val got = rows.map(Tuple1(_)).toDF("a").repartition(16)
      .agg(call_function("array_sum_agg_dec", col("a")).as("s"))
      .collect().head.getSeq[java.math.BigDecimal](0)
      .map(d => BigInt(d.toBigIntegerExact)).toSeq
    assert(got == expected)
  }
}

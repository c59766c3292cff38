package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.CdcFunctions

/** The native Catalyst expressions must agree with the when/concat
  * column form and the scalar encoder across the 2^53 boundary, survive
  * SQL registration, and stay inside whole-stage codegen.
  */
class PortableExpressionSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val boundary = Seq(0L, 1L, 9007199254740990L, 9007199254740991L,
    9007199254740992L, Long.MaxValue)

  test("portable_u64_json equals column form and scalar encoder") {
    import spark.implicits._
    val df = boundary.toDF("v")
    val rows = df.select(
      call_function("portable_u64_json", col("v")).as("native"),
      CdcFunctions.portableU64Json(col("v")).as("columnar"),
      col("v")).collect()
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(1))
      assert(r.getString(0) == CdcFunctions.portableU64(BigDecimal(r.getLong(2))))
    }
  }

  test("portable_u128_json handles max u128 and boundary digits") {
    import spark.implicits._
    val vals = Seq("0", "9007199254740991", "9007199254740992",
      "340282366920938463463374607431768211455")
    val rows = vals.toDF("s").select(
      call_function("portable_u128_json", col("s")).as("native"),
      CdcFunctions.portableU128Json(col("s")).as("columnar"),
      col("s")).collect()
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(1))
      assert(r.getString(0) == CdcFunctions.portableU128(r.getString(2)))
    }
  }

  test("expressions are usable from SQL text") {
    val r = spark.sql(
      "SELECT portable_u64_json(9007199254740992L) a, portable_u128_json('7') b")
      .collect().head
    assert(r.getString(0) == "\"9007199254740992\"")
    assert(r.getString(1) == "7")
  }

  test("native expression stays inside whole-stage codegen") {
    // a real (parquet) scan — a local relation would collapse to
    // LocalTableScan and bypass codegen entirely
    val df = Tables.events(spark, "/root/testdata/sf0.001")
      .select(call_function("portable_u64_json",
        unix_micros(col("ts"))).as("e"))
    // codegen'd operators carry the `*(stageId)` prefix in the plan string
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [portable_u64_json"), plan)
    assert(df.count() == 1000)
  }
}

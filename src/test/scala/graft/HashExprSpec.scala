package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native md5_top60 must be bit-identical to the declarative
  * conv(substring(md5(x),1,15),16,10) form it replaces — the contract
  * that keeps every DuckDB oracle unchanged.
  */
class HashExprSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("md5_top60 equals the conv/substring/md5 form on varied inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val samples = Seq("", " ", "a", "the table scan", "日本語", "a\u0000b") ++
      Seq.fill(200)(new String(Array.fill(rnd.nextInt(30))(
        (32 + rnd.nextInt(95)).toChar)))
    val df = samples.toDF("s").select(
      call_function("md5_top60", col("s")).as("native"),
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("decl"))
    val rows = df.collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // and hashes are 60-bit non-negative
    rows.foreach(r => assert(r.getLong(0) >= 0 && r.getLong(0) < (1L << 60)))
  }

  test("dct_phash60: codegen equals interpreted equals the Scala helper; " +
    "60-bit range; variants perturb, not replace") {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(11)
    val texts = Seq("", "x", "the quick brown fox", "日本語テキスト") ++
      Seq.fill(40)(new String(Array.fill(5 + rnd.nextInt(40))(
        (32 + rnd.nextInt(95)).toChar)))
    val df = texts.flatMap(t => Seq((t, 0L), (t, 1L), (t, 2L))).toDF("t", "v")
      .select(col("t"), col("v"),
        call_function("dct_phash60", col("t"), col("v")).as("h"))
    val rows = df.collect()
    rows.foreach { r =>
      val expect = graft.plans.DctHashUtil.hash(
        UTF8String.fromString(r.getString(0)), r.getLong(1))
      assert(r.getLong(2) == expect, r.toString)
      // 60-bit non-negative (banding shifts assume it)
      assert(r.getLong(2) >= 0 && r.getLong(2) < (1L << 60))
    }
    // variant jitter is a PERTURBATION: across the fixture the mean
    // Hamming distance between variant 1 and the canonical hash is
    // small (re-encode noise), but nonzero somewhere (it does perturb)
    val byText = rows.groupBy(_.getString(0)).view.mapValues(
      rs => rs.map(r => r.getLong(1) -> r.getLong(2)).toMap)
    val dists = byText.values.map(m =>
      java.lang.Long.bitCount(m(0L) ^ m(1L))).toSeq
    assert(dists.max <= 12, s"jitter moved too many bits: ${dists.max}")
    assert(dists.sum > 0, "variant jitter never changed a single hash")
  }
}

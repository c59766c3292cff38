package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Pins vec_covariance against an independent in-memory covariance
  * over the same micro-unit quantization, and asserts the spectral
  * invariants a whitening consumer relies on: the matrix is PSD (all
  * Jacobi eigenvalues ≥ −ε) and its trace equals the summed per-dim
  * variance.
  */
class VecCovarianceSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val Dim = 64

  private def fullMatrix(): (Long, Array[Array[Double]]) = {
    val rows = graft.operators.VectorQueries.covariance(spark, sf).collect()
    val m = Array.ofDim[Double](Dim, Dim)
    var n = 0L
    rows.foreach { r =>
      val (i, j) = (r.getInt(0) - 1, r.getInt(1) - 1)
      val c = r.getDouble(4)
      m(i)(j) = c; m(j)(i) = c
      n = r.getLong(2)
    }
    (n, m)
  }

  test("matches an independent in-memory covariance on the fixture") {
    // the independent leg accumulates in BigInt — deliberately NOT the
    // same int128 arithmetic as array_sum_agg_dec, so a carry bug in
    // the aggregate can't cancel out here
    val vs = graft.Tables.embeddings(spark, sf)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray
        .map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong))
    val n = vs.length.toLong
    val sx = Array.fill(Dim)(BigInt(0))
    val sxy = Array.fill(Dim, Dim)(BigInt(0))
    vs.foreach { v =>
      var i = 0
      while (i < Dim) {
        sx(i) += v(i)
        var j = i
        while (j < Dim) { sxy(i)(j) += BigInt(v(i)) * v(j); j += 1 }
        i += 1
      }
    }
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val got = graft.operators.VectorQueries.covariance(spark, sf).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2),
        BigInt(r.getString(3)), r.getDouble(4)))).toMap
    assert(got.size == Dim * (Dim + 1) / 2)
    for (i <- 1 to Dim; j <- i to Dim) {
      val exp = r6((sxy(i - 1)(j - 1).toDouble / 1e12 -
        (sx(i - 1).toDouble / 1e6) * (sx(j - 1).toDouble / 1e6) / n.toDouble)
        / n.toDouble)
      val (gn, gsxy, gcov) = got((i, j))
      assert(gn == n && gsxy == sxy(i - 1)(j - 1) && gcov == exp,
        s"cell ($i,$j): got ($gn,$gsxy,$gcov) expected ($n,${sxy(i - 1)(j - 1)},$exp)")
    }
  }

  test("vec_covariance_micro: exact-rational rounding parity, float-free") {
    // independent leg: exact rational cov×1e6 rounded half-away-from-
    // zero in BigInt — the reference semantics the engine's BigInteger
    // formula and the oracle's HUGEINT formula must BOTH realize
    val vs = graft.Tables.embeddings(spark, sf)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray
        .map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong))
    val n = vs.length.toLong
    val sx = Array.fill(Dim)(BigInt(0))
    val sxy = Array.fill(Dim, Dim)(BigInt(0))
    vs.foreach { v =>
      var i = 0
      while (i < Dim) {
        sx(i) += v(i)
        var j = i
        while (j < Dim) { sxy(i)(j) += BigInt(v(i)) * v(j); j += 1 }
        i += 1
      }
    }
    val den = BigInt(n) * BigInt(n) * 1000000L
    def half(num: BigInt): Long =
      (num.sign * ((num.abs * 2 + den) / (den * 2))).toLong
    val got = graft.operators.VectorQueries.covarianceMicro(spark, sf)
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(4))).toMap
    assert(got.size == Dim * (Dim + 1) / 2)
    val covDoubles = graft.operators.VectorQueries.covariance(spark, sf)
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(4))).toMap
    for (i <- 1 to Dim; j <- i to Dim) {
      val exp = half(BigInt(n) * sxy(i - 1)(j - 1) - sx(i - 1) * sx(j - 1))
      assert(got((i, j)) == exp, s"cell ($i,$j)")
      // the float twin agrees within one micro-unit (its rounding goes
      // through doubles; exact agreement is not promised, adjacency is)
      val viaDouble = math.round(covDoubles((i, j)) * 1e6)
      assert(math.abs(got((i, j)) - viaDouble) <= 1L,
        s"cell ($i,$j): micro=${got((i, j))} double-path=$viaDouble")
    }
  }

  test("pair sums past the int64 envelope: exact, no wrap, no throw") {
    // Drives the EXACT covariance aggregation shape (array_outer_tri →
    // array_sum_agg_dec) with per-row products near Long.Max, so the
    // SUM exceeds int64 within a handful of rows — the regime where the
    // first-cut int64 path refused to run (and a wrapping path would be
    // silently wrong). 3e9 micro ≈ a |x|≈3000 component; each product
    // 9e18 ≈ Long.Max, 40 rows ≈ 3.6e20 ≫ Long.Max.
    val rows = 40
    val v = 3000000000L // 3e9: v*v = 9e18 < Long.Max = 9.223e18
    val df = spark.range(rows).selectExpr(
      s"array(${v}L, ${-v}L, ${v}L) AS v")
    val out = df
      .selectExpr("v", "array_outer_tri(v) AS xx")
      .selectExpr(
        "count(1) AS n",
        "array_sum_agg_dec(v) AS sx",
        "array_sum_agg_dec(xx) AS sxx")
      .collect()(0)
    assert(out.getLong(0) == rows)
    val expectedSx = Seq(BigInt(v) * rows, BigInt(-v) * rows, BigInt(v) * rows)
    val gotSx = out.getSeq[java.math.BigDecimal](1)
      .map(d => BigInt(d.toBigIntegerExact))
    assert(gotSx == expectedSx)
    val one = Seq(BigInt(v) * v, BigInt(v) * -v, BigInt(v) * v,
      BigInt(-v) * -v, BigInt(-v) * v, BigInt(v) * v)
    val gotSxx = out.getSeq[java.math.BigDecimal](2)
      .map(d => BigInt(d.toBigIntegerExact))
    assert(gotSxx == one.map(_ * rows))
    // every element is outside int64 — the sum genuinely crossed over
    assert(gotSxx.forall(_.abs > BigInt(Long.MaxValue)))
  }

  test("array_outer_tri: codegen == interpreted == plain Scala; loud edges") {
    val in = Array(2L, -3L, 5L)
    val expected = (for (i <- in.indices; j <- i until in.length)
      yield in(i) * in(j)).toSeq
    // codegen'd path (whole-stage projection)
    val got = spark.range(1)
      .select(call_function("array_outer_tri",
        expr("array(2L, -3L, 5L)")).as("t"))
      .collect()(0).getSeq[Long](0).toSeq
    assert(got == expected)
    // interpreted path (Expression.eval)
    val e = graft.plans.ArrayOuterTri(
      org.apache.spark.sql.catalyst.expressions.Literal(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(in),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)))
    val interp = e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq
    assert(interp == expected)
    // micro-unit overflow is LOUD, not a silently wrong covariance
    intercept[Exception] {
      spark.range(1).select(call_function("array_outer_tri",
        expr("array(4000000000000L, 4000000000000L)"))).collect()
    }
    // null element propagates to a null result
    val n = spark.range(1).select(call_function("array_outer_tri",
      expr("array(1L, CAST(NULL AS BIGINT))"))).collect()(0)
    assert(n.isNullAt(0))
  }

  test("the covariance matrix is PSD and trace equals summed variance") {
    val (_, m0) = fullMatrix()
    val trace = (0 until Dim).map(i => m0(i)(i)).sum
    // cyclic Jacobi on a copy — plenty for a 64×64 symmetric matrix
    val m = m0.map(_.clone())
    for (_ <- 0 until 12; p <- 0 until Dim; q <- p + 1 until Dim
         if math.abs(m(p)(q)) > 1e-12) {
      val theta = 0.5 * math.atan2(2 * m(p)(q), m(q)(q) - m(p)(p))
      val (c, s) = (math.cos(theta), math.sin(theta))
      for (k <- 0 until Dim) {
        val (a, b) = (m(p)(k), m(q)(k))
        m(p)(k) = c * a - s * b; m(q)(k) = s * a + c * b
      }
      for (k <- 0 until Dim) {
        val (a, b) = (m(k)(p), m(k)(q))
        m(k)(p) = c * a - s * b; m(k)(q) = s * a + c * b
      }
    }
    val eigs = (0 until Dim).map(i => m(i)(i))
    // PSD up to the 1e-6 rounding of the published cells
    assert(eigs.forall(_ >= -1e-4), s"negative eigenvalue: ${eigs.min}")
    assert(math.abs(eigs.sum - trace) < 1e-6 * math.max(1.0, math.abs(trace)),
      s"trace ${trace} != eigenvalue sum ${eigs.sum}")
    // the spectrum is non-degenerate on the fixture (a whitening
    // transform exists): top eigenvalue strictly positive
    assert(eigs.max > 0)
  }
}

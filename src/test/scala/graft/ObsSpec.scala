package graft

import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.{Json, Stats}

/** The shared measuring pieces: the JSON writer's output parses, never
  * carries NaN or a locale's decimal comma, and the statistics match
  * their definitions at the edges.
  */
class ObsSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  test("strings with quotes, backslashes and control characters parse back") {
    val tricky = "a\"b\\c\nd\re\tf\u0000g\u001fh é"
    val controls = (0 until 32).map(_.toChar).mkString
    val line = Json.obj("k" -> tricky, "c" -> controls, "q\"\\k" -> "v").json
    val t = mapper.readTree(line)
    assert(t.get("k").asText === tricky)
    assert(t.get("c").asText === controls)
    assert(t.get("q\"\\k").asText === "v")
  }

  test("NaN and infinities are written as null") {
    val line = Json.obj("nan" -> Json.fixed(Double.NaN, 3),
      "pinf" -> Json.fixed(Double.PositiveInfinity, 1),
      "ninf" -> Json.fixed(Double.NegativeInfinity, 1),
      "x" -> Json.fixed(1.5, 2)).json
    assert(line === """{"nan":null,"pinf":null,"ninf":null,"x":1.50}""")
    val t = mapper.readTree(line)
    Seq("nan", "pinf", "ninf").foreach(k => assert(t.get(k).isNull, k))
  }

  test("a comma-decimal default locale still writes a decimal point") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(String.format("%.2f", Double.box(1.5)) === "1,50")
      val line = Json.obj("x" -> Json.fixed(1234.5678, 2),
        "m" -> Map("b" -> Json.fixed(0.25, 3), "a" -> 7L)).json
      assert(line === """{"x":1234.57,"m":{"a":7,"b":0.250}}""")
      assert(mapper.readTree(line).get("x").asDouble === 1234.57)
    } finally Locale.setDefault(saved)
  }

  test("median of odd, even and empty input") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
    assert(Stats.median(Nil) === 0.0)
  }

  test("nearest-rank percentile at n=1 and at p = 0.5, 0.95 and 1.0") {
    Seq(0.5, 0.95, 1.0).foreach(p => assert(Stats.percentile(Seq(7L), p) === 7L))
    val xs = (1L to 20L).reverse // unsorted on purpose
    assert(Stats.percentile(xs, 0.5) === 10L) // ⌈10⌉-th
    assert(Stats.percentile(xs, 0.95) === 19L) // ⌈19⌉-th
    assert(Stats.percentile(xs, 1.0) === 20L)
    assert(Stats.percentile(Seq(30L, 10L, 20L), 0.5) === 20L) // ⌈1.5⌉-th
    assert(Stats.percentile(Seq(30L, 10L, 20L), 0.95) === 30L) // ⌈2.85⌉-th
    assert(Stats.percentile(Nil, 0.5) === 0L)
  }

  test("trimmed spread is the raw spread at 4 reps and drops one rep per end at 5") {
    val four = Seq(1.0, 4.0, 2.0, 2.0)
    assert(Stats.spread(four) === 4.0)
    assert(Stats.trimmedSpread(four) === 4.0)
    val five = Seq(10.0, 2.0, 1.0, 4.0, 3.0)
    assert(Stats.spread(five) === 10.0)
    assert(Stats.trimmedSpread(five) === 2.0) // 4 / 2 once 1 and 10 are dropped
    assert(Stats.spread(Seq(0.0, 1.0)).isNaN)
    assert(Stats.spread(Nil).isNaN)
  }
}

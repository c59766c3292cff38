package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property tests pinning the native gram expressions to an independent
  * Scala model of the documented semantics (SQL substring truncation,
  * ≥1 char-gram even for short strings, split on single spaces keeping
  * empties, empty shingle set below k tokens, first-occurrence-order
  * distinct) — the same contracts the DuckDB oracles encode.
  */
class TextGramsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  // seeded corpus-like strings plus adversarial shapes: empty, single
  // char, repeated/multiple spaces, unicode (multi-byte code points)
  private val texts: Seq[String] = {
    val rnd = new scala.util.Random(42)
    val words = Seq("the", "a", "table", "scan", "zz", "")
    val random = Seq.fill(60) {
      Seq.fill(rnd.nextInt(8))(words(rnd.nextInt(words.size))).mkString(" ")
    }
    val ascii = Seq.fill(20) {
      new String(Array.fill(rnd.nextInt(12))((32 + rnd.nextInt(95)).toChar))
    }
    random ++ ascii ++ Seq("", " ", "ab", "日本語のテキスト", "a  b   c")
  }

  private def modelCharGrams(t: String, n: Int, distinct: Boolean): Seq[String] = {
    val cps = t.codePoints().toArray // SQL substring counts code points
    val count = math.max(cps.length - n + 1, 1)
    val all = (0 until count).map { i =>
      val s = cps.slice(i, i + n)
      new String(s, 0, s.length)
    }
    if (distinct) all.distinct else all
  }

  private def modelShingles(t: String, k: Int, distinct: Boolean): Seq[String] = {
    val toks = t.split(" ", -1).toSeq
    if (toks.length < k) Seq.empty
    else {
      val all = toks.sliding(k).map(_.mkString(" ")).toSeq
      if (distinct) all.distinct else all
    }
  }

  /** One Spark job per (fn, n, distinct): all texts in one DataFrame. */
  private def runAll(fn: String, n: Int, distinct: Boolean): Seq[Seq[String]] = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "text")
      .select(col("i"),
        call_function(fn, col("text"), lit(n), lit(distinct)).as("g"))
      .orderBy("i").collect().map(_.getSeq[String](1)).toSeq
  }

  test("char_ngrams matches the model for n in 1..5, both variants") {
    for (n <- 1 to 5; d <- Seq(true, false)) {
      val got = runAll("char_ngrams", n, d)
      texts.zip(got).foreach { case (t, g) =>
        assert(g == modelCharGrams(t, n, d), s"text='${t.take(30)}' n=$n distinct=$d")
      }
    }
  }

  test("word_shingles matches the model for k in 1..4, both variants") {
    for (k <- 1 to 4; d <- Seq(true, false)) {
      val got = runAll("word_shingles", k, d)
      texts.zip(got).foreach { case (t, g) =>
        assert(g == modelShingles(t, k, d), s"text='${t.take(30)}' k=$k distinct=$d")
      }
    }
  }
}

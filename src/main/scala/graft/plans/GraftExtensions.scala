package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** The engine's native expressions as SQL functions ([[GraftExtensions.definitions]])
  * and the as-of join planner strategy. Two entry points over the same
  * definitions:
  *
  *   - `graft.Session.setup(spark)` on a live session, which every public
  *     entry point (`SparkEntry.entry`, each `SparkEntry.queries` value,
  *     each stream `start`) calls, so the engine works under a session
  *     it did not build;
  *   - this class at launch time:
  *     `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.definitions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

object GraftExtensions {

  private type Builder = Seq[Expression] => Expression

  private def one(name: String, f: Expression => Expression): Builder = {
    case Seq(e) => f(e)
    case exprs => throw new IllegalArgumentException(
      s"$name expects exactly 1 argument, got ${exprs.length}")
  }

  private def two(name: String, f: (Expression, Expression) => Expression): Builder = {
    case Seq(a, b) => f(a, b)
    case exprs => throw new IllegalArgumentException(
      s"$name expects exactly 2 arguments, got ${exprs.length}")
  }

  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType}

  /** (text, n literal, distinct literal) builder for the gram exprs. */
  private def gram(name: String, f: (Expression, Int, Boolean) => Expression): Builder = {
    {
      case Seq(t, Literal(n: Int, IntegerType), Literal(d: Boolean, BooleanType)) =>
        f(t, n, d)
      case exprs => throw new IllegalArgumentException(
        s"$name expects (text, int literal, boolean literal), got $exprs")
    }
  }

  val definitions: Seq[(String, ExpressionInfo, Builder)] = Seq(
    ("array_dot",
      new ExpressionInfo(classOf[ArrayDot].getName, "array_dot"),
      two("array_dot", ArrayDot)),
    ("array_outer_tri",
      new ExpressionInfo(classOf[ArrayOuterTri].getName, "array_outer_tri"),
      one("array_outer_tri", ArrayOuterTri)),
    ("portable_u64_json",
      new ExpressionInfo(classOf[PortableU64Json].getName, "portable_u64_json"),
      one("portable_u64_json", PortableU64Json)),
    ("portable_u128_json",
      new ExpressionInfo(classOf[PortableU128Json].getName, "portable_u128_json"),
      one("portable_u128_json", PortableU128Json)),
    ("md5_top60",
      new ExpressionInfo(classOf[Md5Top60].getName, "md5_top60"),
      one("md5_top60", Md5Top60)),
    ("dct_phash60",
      new ExpressionInfo(classOf[DctPhash60].getName, "dct_phash60"),
      two("dct_phash60", DctPhash60)),
    ("char_ngrams",
      new ExpressionInfo(classOf[CharNGrams].getName, "char_ngrams"),
      gram("char_ngrams", CharNGrams)),
    ("word_shingles",
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      gram("word_shingles", WordShingles)),
    // Spark's own runtime-filter sketch pair, surfaced as SQL functions:
    // the aggregate folds a corpus of xxhash64 keys into a few-MB bloom
    // (partials merge executor-side, so only bloom bytes ever shuffle)
    // and the probe is a codegen'd membership test against a constant /
    // scalar-subquery bloom. Used by dedup_bloom_prefilter for the
    // corpus-never-shuffles incremental-dedup shape.
    ("graft_bloom_agg",
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "graft_bloom_agg"),
      {
        case Seq(c, Literal(n: Long, LongType)) => new BloomFilterAggregate(c, n)
        case exprs => throw new IllegalArgumentException(
          s"graft_bloom_agg expects (hash column, long literal item estimate), got $exprs")
      }: Builder),
    ("graft_might_contain",
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "graft_might_contain"),
      two("graft_might_contain", BloomFilterMightContain(_, _))),
    // element-wise ARRAY<BIGINT> sum — the centroid accumulator (see
    // ArraySumAgg: kills the 64× posexplode row inflation)
    ("array_sum_agg",
      new ExpressionInfo(classOf[ArraySumAgg].getName, "array_sum_agg"),
      one("array_sum_agg", e => ArraySumAgg(e))),
    // the int128/DECIMAL(38,0) twin for sums past the int64 envelope
    // (covariance pair sums at corpus scale)
    ("array_sum_agg_dec",
      new ExpressionInfo(classOf[ArraySumAggDec].getName, "array_sum_agg_dec"),
      one("array_sum_agg_dec", e => ArraySumAggDec(e))),
    // merge-scan intersection count over sorted distinct BIGINT arrays —
    // the near-dup verify hot path (replaces size(array_intersect))
    ("sorted_intersect_count",
      new ExpressionInfo(
        classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      two("sorted_intersect_count", SortedIntersectCount(_, _)))
  )
}

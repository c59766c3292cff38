package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A staged query that fails part-way releases every frame it staged,
  * and its caller sees the failure itself.
  */
class StageFanoutSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def fails(stage: DataFrame => DataFrame): Throwable = {
    spark.catalog.clearCache()
    val e = intercept[Exception](stage(spark.range(100).toDF("id")))
    assert(spark.sharedState.cacheManager.isEmpty)
    e
  }

  private def boom: DataFrame => Nothing =
    _ => throw new IllegalStateException("boom")

  test("a throwing build, derive or checkpoint leaves no cached frame") {
    assert(fails(Stage.fanout(_)(boom)).getMessage == "boom")
    assert(fails(Stage.fanout2(_)(boom)((a, _) => a)).getMessage == "boom")
    assert(fails(Stage.fanout2(_)(_.filter(col("id") > 5))(
      (_, b) => boom(b))).getMessage == "boom")
    // the checkpoint job itself fails, after `build`'s frame is staged
    val e = fails(Stage.fanout(_)(_.select(raise_error(lit("late")))))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("late")), e)
    // the success path still releases everything
    spark.catalog.clearCache()
    assert(Stage.fanout(spark.range(10).toDF("id"))(_.filter(col("id") > 4))
      .count() == 5)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}

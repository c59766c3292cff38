package graft.tools

import org.apache.spark.sql.SparkSession

/** Hard-fail codegen audit: runs each named query (default: all) with
  * `spark.sql.codegen.fallback=false` (whole-stage codegen compile
  * failures abort instead of silently running interpreted) AND
  * `spark.sql.codegen.factoryMode=CODEGEN_ONLY` (expression-level
  * codegen — UnsafeProjection and friends in non-whole-stage operators
  * — also aborts on janino rejection instead of falling back). Together
  * these make ANY silent de-optimization to interpreted mode fatal —
  * exactly the regression the production path must never hit at scale.
  *
  *   sbt "runMain graft.tools.CodegenCheck cdc_full_event_json vec_ivf_ann"
  */
object CodegenCheck {

  /** Run each named query at `sf` to completion with both codegen
    * fallbacks disabled (the two confs are restored afterwards); one
    * "name: message" line per query that failed.
    */
  def failures(spark: SparkSession, sf: String, names: Seq[String]): Seq[String] = {
    val confs = Map("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try names.flatMap { n =>
      try {
        // finalize THIS df's plan (AQE included) and execute it fully
        graft.SparkEntry.queries(n)(spark, sf).queryExecution.toRdd.count()
        None
      } catch {
        case e: Throwable =>
          Some(s"$n: " + Option(e.getMessage).getOrElse(e.toString)
            .linesIterator.take(2).mkString(" | "))
      }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local("codegen-check", cores = 8)
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names =
      if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val failed = failures(spark, sf, names)
    failed.foreach(f => println(s"[codegen] FAIL $f"))
    println(s"[codegen] ${names.size} checked, ${failed.size} failed")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}

package graft.tools


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
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local("codegen-check", cores = 8)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names =
      if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    var failed = List.empty[String]
    names.foreach { n =>
      val t0 = System.nanoTime()
      try {
        val df = graft.SparkEntry.queries(n)(spark, sf)
        df.queryExecution.toRdd.count()
        println(f"[codegen] OK   $n (${(System.nanoTime() - t0) / 1e9}%.1fs)")
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.toString).linesIterator
            .take(2).mkString(" | ")
          println(s"[codegen] FAIL $n: $msg")
          failed ::= n
      }
    }
    println(s"[codegen] ${names.size} checked, ${failed.size} failed: " +
      failed.sorted.mkString(", "))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}

package graft.tools


/** Dump formatted physical plans for named queries (plan audit aid):
  *   sbt "runMain graft.tools.Explain dedup_neardup_pairs vec_cosine_neardup"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local("explain", cores = 4)
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      graft.SparkEntry.queries(n)(spark, sf).explain("formatted")
    }
    spark.stop()
  }
}

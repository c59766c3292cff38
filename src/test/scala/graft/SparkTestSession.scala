package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed specs (creating a
  * session per suite costs ~5s each).
  */
object SparkTestSession {
  lazy val spark: SparkSession = Session.local("graft-test", cores = 4)
}

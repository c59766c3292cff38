package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // usage: Verify <sfDir> <outDir> [queryName...] — trailing names
    // restrict the dump (local iteration); the driver passes none
    val (sfDir, outDir, only) = args.toList match {
      case sf :: out :: rest => (sf, out, rest.toSet)
      case _ => sys.error("usage: Verify <sfDir> <outDir> [queryName...]")
    }
    val spark = Session.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      graft.obs.Json.render(SparkEntry.oracleSql))
    spark.stop()
  }
}

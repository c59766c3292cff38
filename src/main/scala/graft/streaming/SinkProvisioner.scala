package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** A17: sink provisioning + pre-flight validation (reference
  * runner.go:207-386): before a relay starts, the target must either be
  * created (`provision = true`, the `--provision` flag) or validated
  * against the desired configuration, failing fast with an actionable
  * list of every mismatch — never a partial start.
  *
  * The Spark sink is a parquet directory with a saved schema; the
  * validated properties mirror the reference's stream-config diff
  * (subjects/storage/replicas ↔ schema fields/format/partitioning).
  */
object SinkProvisioner {

  /** Desired sink shape (the analog of reference jetStreamConfig). */
  final case class SinkSpec(
      path: String,
      schema: StructType,
      format: String = "parquet",
      partitionColumns: Seq[String] = Nil)

  /** Compare actual vs desired, returning EVERY mismatch (reference
    * streamConfigMismatches, runner.go:338-386 — the test asserts the
    * full list, not just the first).
    */
  def mismatches(actual: SinkSpec, desired: SinkSpec): Seq[String] = {
    val b = Seq.newBuilder[String]
    if (actual.format != desired.format)
      b += s"format: actual=${actual.format} desired=${desired.format}"
    if (actual.partitionColumns != desired.partitionColumns)
      b += s"partitioning: actual=${actual.partitionColumns.mkString(",")} " +
        s"desired=${desired.partitionColumns.mkString(",")}"
    val actualFields = actual.schema.map(f => f.name -> f.dataType).toMap
    // partition columns' types are INFERRED from directory names on
    // read (e.g. "7" -> int), so only presence is checked for them
    val partitionCols = actual.partitionColumns.toSet
    desired.schema.foreach { f =>
      actualFields.get(f.name) match {
        case None => b += s"missing column: ${f.name} ${f.dataType.sql}"
        case Some(dt) if dt != f.dataType && !partitionCols.contains(f.name) =>
          b += s"column type: ${f.name} actual=${dt.sql} desired=${f.dataType.sql}"
        case _ => ()
      }
    }
    actual.schema.map(_.name).filterNot(desired.schema.fieldNames.contains)
      .foreach(n => b += s"unexpected column: $n")
    b.result()
  }

  /** Sink state as seen on disk. */
  sealed trait SinkState
  /** No directory at all. */
  case object Absent extends SinkState
  /** Directory exists but holds no data files (a freshly provisioned
    * partitioned sink writes only markers until the first epoch).
    */
  case object Empty extends SinkState
  /** Readable parquet with the given observed spec. */
  final case class Present(actual: SinkSpec) extends SinkState
  /** Contains data files that cannot be read as parquet — NEVER a
    * candidate for overwrite.
    */
  final case class Corrupt(cause: Throwable) extends SinkState

  private def hasDataFiles(fs: FileSystem, dir: Path): Boolean =
    fs.listStatus(dir).exists { f =>
      val n = f.getPath.getName
      if (f.isDirectory) hasDataFiles(fs, f.getPath)
      else !n.startsWith("_") && !n.startsWith(".")
    }

  /** Inspect a sink directory. Partition columns are discovered from
    * the `name=value` directory layout (walking nested levels), so a
    * provisioned partitioned sink validates clean on restart instead of
    * reporting a phantom partitioning mismatch. The probe goes through
    * the Hadoop FileSystem of the path, so a URI sink (`file:`,
    * `hdfs://`, `s3a://`) reads as what it holds, never as `Absent`.
    */
  def inspect(spark: SparkSession, path: String): SinkState = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Absent
    else if (!hasDataFiles(fs, dir)) Empty
    else {
      val readAttempt =
        try Right(spark.read.parquet(path).schema)
        catch { case e: Exception => Left(e) }
      readAttempt match {
        case Left(e) => Corrupt(e)
        case Right(schema) =>
          def partitionCols(d: Path): Seq[String] =
            fs.listStatus(d).filter(_.isDirectory).map(_.getPath)
              .find(_.getName.contains("="))
              .map(next => next.getName.split("=", 2)(0) +: partitionCols(next))
              .getOrElse(Nil)
          Present(SinkSpec(path, schema, partitionColumns = partitionCols(dir)))
      }
    }
  }

  /** Ensure the sink: create-if-absent when provisioning (reference
    * ensureKV create path, runner.go:257-291), else validate and fail
    * fast with the full mismatch list (runner.go:293-336). A directory
    * with unreadable data files is NEVER overwritten — that is a
    * corrupt-sink abort, not a provisioning opportunity.
    */
  def ensure(spark: SparkSession, desired: SinkSpec, provision: Boolean): Unit =
    inspect(spark, desired.path) match {
      case Absent if provision =>
        // an empty, schema-bearing sink: zero-row frame written once
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          desired.schema)
          .write.format(desired.format)
          .partitionBy(desired.partitionColumns: _*)
          .mode("overwrite").save(desired.path)
      case Absent =>
        throw new IllegalStateException(
          s"sink ${desired.path} does not exist (run with provision=true to create)")
      case Empty =>
        // provisioned-but-no-epochs-yet (a zero-row partitioned write
        // leaves only markers): valid vacuously, nothing to diff
        ()
      case Corrupt(cause) =>
        throw new IllegalStateException(
          s"sink ${desired.path} contains data that is not readable " +
            s"${desired.format}: refusing to touch it", cause)
      case Present(actual) =>
        val ms = mismatches(actual, desired)
        if (ms.nonEmpty) throw new IllegalStateException(
          s"sink ${desired.path} configuration mismatch:\n  " + ms.mkString("\n  "))
    }
}

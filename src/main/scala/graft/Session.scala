package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.io.{LocalFileSystem, LocalFs}
import graft.plans.{AsOfJoinStrategy, GraftExtensions}

/** The one place a session is built and made graft-ready.
  *
  * [[setup]] runs at the public entry points a foreign session enters
  * through (`SparkEntry.entry`, each `SparkEntry.queries` value, each
  * stream `start`). A streaming query runs its epochs in a clone of its
  * session, and the clone copies the function registry and the planner
  * strategies, so one set-up before `writeStream.start()` reaches every
  * epoch.
  */
object Session {

  /** Cores for a local session: `SPARK_GRAFT_CPUS`, else every
    * processor of this host.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Make `spark` graft-ready: the native SQL functions of
    * [[GraftExtensions.definitions]], the as-of join planner strategy,
    * and fork-free, checksum-verifying `file:` I/O through both of
    * Hadoop's file APIs: [[LocalFs]] for the FileContext (checkpoint
    * files; a `fs.AbstractFileSystem.file.impl` other than Hadoop's
    * default is an explicit choice and is kept) and [[LocalFileSystem]]
    * for the FileSystem (sink, store and reliable-checkpoint files; an
    * `fs.file.impl` already set is kept, and a `file:` FileSystem
    * cached before set-up is replaced). Idempotent.
    */
  def setup(spark: SparkSession): SparkSession = {
    val registry = spark.sessionState.functionRegistry
    GraftExtensions.definitions.foreach { case (name, info, builder) =>
      registry.registerFunction(FunctionIdentifier(name), info, builder)
    }
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies = strategies :+ AsOfJoinStrategy
    val hadoop = spark.sparkContext.hadoopConfiguration
    if (hadoop.get(LocalFs.ImplKey) == LocalFs.HadoopDefault)
      hadoop.set(LocalFs.ImplKey, classOf[LocalFs].getName)
    LocalFileSystem.install(hadoop)
    spark
  }

  /** A set-up local session: `local[cores]` (unless spark-submit set
    * `spark.master`), `shufflePartitions` (default `cores`), UTC, no UI,
    * reliable-checkpoint files reclaimed once unreachable (`Stage.fanout`,
    * iterative rounds), log level WARN. A session that already exists is
    * set up and returned with its confs as they are.
    */
  def local(app: String, cores: Int = cpus,
      shufflePartitions: Option[Int] = None): SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(setup).getOrElse {
        val builder = SparkSession.builder()
          .appName(app)
          .config("spark.sql.shuffle.partitions",
            shufflePartitions.getOrElse(cores).toLong)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        if (!sys.props.contains("spark.master")) builder.master(s"local[$cores]")
        val spark = builder.getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        setup(spark)
      }
}

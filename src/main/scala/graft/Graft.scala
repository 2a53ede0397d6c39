package graft

import org.apache.spark.sql.SparkSession
import graft.GraftExtensions.{NativeFunction, PlannerStrategy}

/** The one way a graft session is built: UTC session time zone (the
  * reference's monitoring timestamps are UTC), AQE on, shuffle
  * parallelism sized to the machine instead of the 200 default, and every
  * [[GraftExtensions.injections]] entry (native functions, as-of
  * strategy) in place before any operator runs.
  *
  * {{{
  * val spark = Graft.session()                  // local dev
  * val spark = Graft.session("spark://…", 256)  // cluster
  * }}}
  */
object Graft {

  def session(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // events.ts is parquet TIMESTAMP(NANOS), which Spark rejects unless
      // read as nanos-since-epoch (see Queries.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .getOrCreate()
    installMissing(spark)
    spark
  }

  /** Extensions only apply to newly built sessions. When getOrCreate
    * hands back one built without them (a notebook's `spark`), install
    * each injection it lacks, checked one by one.
    */
  private def installMissing(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    GraftExtensions.injections.foreach {
      case NativeFunction(id, info, build) =>
        if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
      case PlannerStrategy(strategy) =>
        if (!spark.sessionState.planner.strategies.contains(strategy))
          spark.experimental.extraStrategies :+= strategy
    }
  }
}

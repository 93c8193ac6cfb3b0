package graft

import org.apache.spark.sql.SparkSession

/** The one way to get a graft session: `local[cpus]` with the
  * [[graft.plans.GraftExtensions]], shuffle partitions = cpus, UTC
  * session time zone, no UI, WARN logging. The mains and the spec suite
  * all build their session here, so a plan seen in a spec, a dev run or
  * the bench is planned under the same rules. */
object GraftSession {
  /** The `SPARK_GRAFT_CPUS` core count: `default` when unset, the
    * machine's processor count when set but not a positive integer. */
  def cpus(default: Int): Int =
    parseCpus(sys.env.get("SPARK_GRAFT_CPUS"), default)

  private[graft] def parseCpus(value: Option[String], default: Int): Int =
    value.fold(default)(_.trim.toIntOption.filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors))

  /** `warehouseDir` places managed tables (`Tables.writeBucketed`); the
    * Spark default, `./spark-warehouse`, when unset. */
  def local(cpus: Int, warehouseDir: Option[String] = None): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = warehouseDir
      .fold(builder)(builder.config("spark.sql.warehouse.dir", _))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

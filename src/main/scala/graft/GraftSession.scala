package graft

import org.apache.spark.sql.SparkSession

/** The one local-session factory for the engine's mains and test suite. */
object GraftSession {
  /** Local core count: `SPARK_GRAFT_CPUS`, else every available processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with `shuffle` shuffle partitions, no UI, log
    * level ERROR, and the [[GraftConf]] settings the engine depends on.
    */
  def local(cpus: Int, shuffle: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftConf.ensure(spark)
  }
}

package graft.core

import org.apache.spark.sql.SparkSession

/** The one session builder every main uses, so they cannot drift apart on
  * cores, time zone or logging. */
object Sessions {

  /** The core count of [[local]]: `SPARK_GRAFT_CPUS`, default the JVM's
    * available processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[n]` with n = `SPARK_GRAFT_CPUS` (default: the JVM's available
    * processors) and n shuffle partitions; UTC session time zone, no UI,
    * WARN logging. AQE stays at Spark's default. A main that needs more
    * (a different partition count, quieter logs) sets it on the returned
    * session. */
  def local(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

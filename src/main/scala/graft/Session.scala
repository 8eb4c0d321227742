package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is configured. Every main and the
  * test base build their session here, so a setting changes for all of
  * them at once; a caller passes only the settings that are the point of
  * its run (Verify's ANSI sweep, PlanCheck's AQE mode, SkewCheck's
  * broadcast-off pair) as `extras`.
  */
object Session {

  /** Default core count: SPARK_GRAFT_CPUS, otherwise every available
    * processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int, extras: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // events.ts NTZ→LTZ cast is exact under UTC
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events.ts NANOS
      .config("spark.ui.enabled", "false")
    extras.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

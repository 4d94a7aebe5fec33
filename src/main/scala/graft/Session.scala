package graft

import org.apache.spark.sql.SparkSession

/** The one session factory behind the CLI mains and the test base. */
object Session {

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC session
    * time (the events reader casts NTZ data into the session zone, so
    * event-time results must not depend on the host zone), no UI, and
    * the harness's nanosecond parquet timestamps read as longs. `extra`
    * settings apply on top of these; log level is WARN. */
  def graft(cpus: Int, extra: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val spark = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

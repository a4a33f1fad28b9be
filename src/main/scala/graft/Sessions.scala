package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration shared by the mains and the tests. */
object Sessions {

  /** Local cores of `Bench`, `Verify` and `Explain`:
    * `SPARK_GRAFT_CPUS`, default 32. */
  val envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** `local[cpus]` with `cpus` shuffle partitions, the UI off, parquet
    * nanosecond timestamps read as longs (see [[Tables.load]]) and the
    * session zone pinned to UTC. It installs no extensions: the
    * [[GraftExtensions]] optimizer rule would re-plan every
    * `row_number`-filter query.
    */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
}

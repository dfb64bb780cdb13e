package graft

import org.apache.spark.sql.SparkSession

/** The local session the mains run on: graft's Catalyst extensions,
  * `local[cpus]` with one shuffle partition per core, UTC session time
  * (the NTZ→instant cast in [[Tables.normalizeTs]] relies on it),
  * nanosecond parquet timestamps bound as longs, no UI, WARN logging. */
object Session {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

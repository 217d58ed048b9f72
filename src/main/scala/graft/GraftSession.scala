package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session's conf is decided. Every main and the
  * test session build through here, so a plan timed by Bench, checked
  * by Verify and dumped by ExplainDump comes from the same rules; the
  * only knobs are the core count and the shuffle partition count.
  */
object GraftSession {
  def builder(cores: Int, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // testdata parquet may carry tz-naive timestamps (pyarrow writes
      // isAdjustedToUTC=false); Spark 4 would read those as
      // TIMESTAMP_NTZ, which watermarks and unix_micros reject. With
      // the session pinned to UTC the LTZ read preserves the instants
      // and matches DuckDB's naive-timestamp reading of the same files.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")

  def apply(cores: Int, shufflePartitions: Int): SparkSession =
    builder(cores, shufflePartitions).getOrCreate()

  /** Core count from `SPARK_GRAFT_CPUS`, else `default`. */
  def envCores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)
}

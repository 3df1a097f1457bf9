package graft

import org.apache.spark.sql.SparkSession

/** The one local session conf behind Bench, Plans, Verify and the test
  * suite, so the benched, plan-dumped, verified and tested plans all come
  * from the same settings. ScaleUp keeps its own builder: its fixed
  * shuffle width shapes the data it writes.
  */
object GraftSession {
  def apply(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    // sized to the bench SFs (tens-of-MB single-file tables): small enough
    // that scans split across cores, irrelevant at production file sizes
    .config("spark.sql.files.maxPartitionBytes", "16m")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // tz-naive parquet timestamps → TIMESTAMP (UTC session), not NTZ,
    // matching the DuckDB oracle's naive-as-UTC epoch values
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

package graft

import org.apache.spark.sql.SparkSession

/** The local session the harness mains (Verify, Bench, ExplainBatch) run
  * in: `local[cpus]` with as many shuffle partitions, UTC session time,
  * nanosecond parquet timestamps read as longs (see [[Tables.events]]) and
  * no UI. Returns the builder so a caller can add confs before
  * `getOrCreate()`. */
object Sessions {
  def local(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.NanosAsLongConf, "true")
      .config("spark.ui.enabled", "false")
}

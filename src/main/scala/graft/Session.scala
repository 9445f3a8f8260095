package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession factory: every main and the test session
  * build through it, so their confs cannot drift apart.
  *  - `local[cpus]` with `cpus` shuffle partitions;
  *  - session time zone UTC (date and timestamp results are zone-free);
  *  - `nanosAsLong`: `events.parquet` may carry TIMESTAMP(NANOS), which
  *    the scan otherwise rejects (PARQUET_TYPE_ILLEGAL);
  *    `Tables.normalizeEventTs` handles the rest;
  *  - AQE on (the Spark 4 default, stated so no site depends on it);
  *  - no UI. */
object Session {
  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

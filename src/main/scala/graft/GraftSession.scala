package graft

import org.apache.spark.sql.SparkSession

/** The one local-session recipe: every main and the spec trait build
  * their session here, so the confs the engine and its DuckDB oracles
  * rely on cannot drift apart between them.
  */
object GraftSession {

  /** A local session on `cpus` cores, shuffling to `cpus` partitions. */
  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.enabled", "true")
    // naive timestamps are UTC instants, as DuckDB's epoch_ns reads them
    .config("spark.sql.session.timeZone", "UTC")
    // events.ts is parquet TIMESTAMP(NANOS): read as epoch-nanos Long
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // map_concat overwrites duplicate label keys (label.go:221-228)
    .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession: `local[cpus]` with as many
  * shuffle partitions as cores, UTC session time, nanosecond parquet
  * timestamps read as longs (see [[Tables]]), no UI, and
  * [[GraftExtensions]] registered exactly once (SQL kernels plus the
  * GraftCatalog resolution rule). `getOrCreate`: a JVM that already
  * holds a session gets that session back. */
object GraftSession {
  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.extensions", classOf[GraftExtensions].getName)
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession: `local[cpus]` with as many
  * shuffle partitions as cores, UTC session time, nanosecond parquet
  * timestamps read as longs (see [[Tables]]), no UI, and
  * [[GraftExtensions]] registered exactly once (SQL kernels plus the
  * GraftCatalog resolution rule). Session artifact isolation is off:
  * graft adds no session artifacts, and with isolation on every
  * streaming query's session clone runs its jobs under a fresh executor
  * class loader, so each new memory-sink drain recompiled generated code
  * the codegen cache already held. `getOrCreate`: a JVM that already
  * holds a session gets that session back. */
object GraftSession {
  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.extensions", classOf[GraftExtensions].getName)
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.artifact.isolation.enabled", "false")
    .getOrCreate()
}

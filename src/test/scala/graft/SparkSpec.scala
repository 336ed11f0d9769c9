package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one session per JVM (getOrCreate), small
  * parallelism, UTC, nanos-as-long for the events table. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  /** Smallest driver-generated scale factor — fast enough for unit tests. */
  val sfDir = "/root/testdata/sf0.001"

  /** Drain `stream` AvailableNow into the memory table `name` on a fresh
    * checkpoint; returns the finished query. */
  def drainToTable(stream: Dataset[_], name: String,
                   mode: String = "append"): StreamingQuery = {
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode(mode)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }
}

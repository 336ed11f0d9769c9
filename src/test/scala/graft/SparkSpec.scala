package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one session per JVM (getOrCreate), small
  * parallelism, UTC, nanos-as-long for the events table. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  /** Smallest driver-generated scale factor — fast enough for unit tests. */
  val sfDir = "/root/testdata/sf0.001"
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.cdc._
import graft.sources.GraftSource

class GraftSourceSpec extends SparkSpec {

  private def changelog = Changelog.fromEvents(Tables.events(spark, sfDir))

  for (format <- Seq("parquet", "json", "csv", "orc")) {
    test(s"sink → source round-trip preserves the changelog via $format") {
      val in = changelog
      val path = Files.createTempDirectory(s"src-$format").toString
      GraftSink.Files(path, format).write(in)
      val back = GraftSource.changelog(spark, path, in.schema, format)
      assert(back.count() === in.count())
      assert(back.exceptAll(GraftSource.canonicalize(in)).count() === 0)
    }
  }

  test("canonicalize rejects a frame missing canonical columns") {
    val bad = changelog.drop("op")
    val e = intercept[IllegalArgumentException] {
      GraftSource.canonicalize(bad)
    }
    assert(e.getMessage.contains("op"))
  }

  test("streaming source reads flushes in order through the canonical schema") {
    val in = changelog
    val dir = Files.createTempDirectory("src-stream").toString
    GraftSink.Files(dir, "parquet").write(in.limit(200))
    val stream = GraftSource.changelogStream(spark, dir, in.schema)
    assert(stream.isStreaming)
    drainToTable(stream, "src_stream_t")
    assert(spark.table("src_stream_t").count() === 200)
  }
}

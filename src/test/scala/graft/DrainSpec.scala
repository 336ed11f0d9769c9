package graft

import java.io.File

/** Streaming queries drain on temporary checkpoints; a drain that ends
  * cleanly must leave none of them in java.io.tmpdir. One memory-sink
  * drain and one foreachBatch drain, both through the query map. */
class DrainSpec extends SparkSpec {

  private def tempCheckpoints(): Set[String] =
    Option(new File(System.getProperty("java.io.tmpdir")).list())
      .fold(Set.empty[String])(_.toSet)
      .filter(n => n.startsWith("ckpt") || n.startsWith("temporary-"))

  for (name <- Seq("cdc_stream_snapshot", "cdc_stream_table_merge"))
    test(s"$name leaves no temp checkpoint behind") {
      val before = tempCheckpoints()
      assert(SparkEntry.queries(name)(spark, sfDir).count() > 0)
      assert((tempCheckpoints() -- before).isEmpty)
    }
}

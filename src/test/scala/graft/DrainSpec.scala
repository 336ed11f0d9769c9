package graft

import java.io.File

/** Streaming queries drain on temporary checkpoints and read
  * [[graft.queries.Cdc.FlushFeed]] fixtures; a drain that ends cleanly
  * must leave none of either behind. The checkpoint cases cover one
  * memory-sink drain and one foreachBatch drain; the fixture cases
  * cover a released-at-once feed, a feed with one-off sentinel
  * flushes, and a feed released between rollout phases. All run
  * through the query map. */
class DrainSpec extends SparkSpec {

  private val tmpDir = new File(System.getProperty("java.io.tmpdir"))

  private def tmpEntries(prefixes: String*): Set[String] =
    Option(tmpDir.list()).fold(Set.empty[String])(_.toSet)
      .filter(n => prefixes.exists(n.startsWith))

  /** `.staging*` dirs left inside the query scratch dirs (the feeds). */
  private def feedStaging(): Set[String] =
    tmpEntries("graft_rt_").flatMap { d =>
      Option(new File(tmpDir, d).list()).fold(Set.empty[String])(_.toSet)
        .filter(_.startsWith(".staging")).map(s => s"$d/$s")
    }

  for (name <- Seq("cdc_stream_snapshot", "cdc_stream_table_merge"))
    test(s"$name leaves no temp checkpoint behind") {
      val before = tmpEntries("ckpt", "temporary-")
      assert(SparkEntry.queries(name)(spark, sfDir).count() > 0)
      assert((tmpEntries("ckpt", "temporary-") -- before).isEmpty)
    }

  private val fixtureDirs = Seq("slices", "sentinel-", "roll-")

  for (name <- Seq("cdc_stream_snapshot", "cdc_stream_interval_join_outer",
                   "cdc_rollout_upgrade"))
    test(s"$name leaves no flush-feed staging dir behind") {
      val before = tmpEntries(fixtureDirs: _*) ++ feedStaging()
      assert(SparkEntry.queries(name)(spark, sfDir).count() > 0)
      assert((tmpEntries(fixtureDirs: _*) ++ feedStaging() -- before).isEmpty)
    }
}

package graft

import java.io.IOException
import java.nio.file.{AccessDeniedException, Files}

import org.apache.hadoop.fs.{FileStatus, FileUtil, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.cdc.{Changelog, GraftSink}
import graft.sources.{TopicSource, TopicSourceTestHooks}

/** Consumer-side contracts of the Topic streaming source: tail ≡ batch
  * read, per-partition offset checkpointing (resume delivers exactly the
  * appended tail, no duplicates, no regression), admission control, and
  * compacted (offset-gapped) topics. */
class TopicSourceSpec extends SparkSpec {

  private def tmp(tag: String): String =
    Files.createTempDirectory(tag).toString

  private def changelog: DataFrame =
    Changelog.fromEvents(Tables.events(spark, sfDir))

  /** AvailableNow drain into a parquet sink (the one sink that supports
    * checkpoint recovery), returning batch count. */
  private def drain(topicPath: String, out: String, ckpt: String,
                    maxOffsets: Long = Long.MaxValue): Int = {
    val q = TopicSource.stream(spark, topicPath,
        TopicSource.changelogTopicSchema, maxOffsets)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.recentProgress.count(_.numInputRows > 0)
  }

  test("stream drain ≡ batch read of the whole topic") {
    val topic = tmp("topic_src")
    GraftSink.Topic(topic, numPartitions = 4).write(changelog)
    val out = tmp("topic_out"); val ckpt = tmp("topic_ckpt")
    drain(topic, out, ckpt)
    val streamed = spark.read.parquet(out)
    val batch = spark.read.parquet(topic)
      .select(TopicSource.changelogTopicSchema.fieldNames.map(col): _*)
    assert(streamed.count() === batch.count() && batch.count() > 0)
    assert(streamed.exceptAll(batch).count() === 0L)
    assert(batch.exceptAll(streamed).count() === 0L)
  }

  test("maxOffsetsPerTrigger splits the drain into bounded micro-batches") {
    val topic = tmp("topic_adm")
    GraftSink.Topic(topic, numPartitions = 4).write(changelog)
    val total = spark.read.parquet(topic).count()
    val out = tmp("topic_adm_out"); val ckpt = tmp("topic_adm_ckpt")
    val batches = drain(topic, out, ckpt, maxOffsets = total / 3 + 1)
    assert(batches >= 3, s"expected ≥3 admission-bounded batches, got $batches")
    assert(spark.read.parquet(out).count() === total)
  }

  test("consumer-group members with disjoint assignments drain the " +
    "topic exactly once, each touching only its own partitions") {
    import graft.cdc.ConsumerGroups
    val topic = tmp("topic_grp")
    GraftSink.Topic(topic, numPartitions = 8).write(changelog)
    // range-assign 8 partitions across 2 members (c0: 0-3, c1: 4-7) —
    // the same assignor arithmetic cdc_topic_groups grades
    val assignedTo = (0 until 8).groupBy { p =>
      spark.range(1).select(ConsumerGroups.ownerIndex("range", 8, 2,
        lit(p.toLong))).head.getLong(0)
    }
    assert(assignedTo.keySet === Set(0L, 1L))
    val outs = assignedTo.toSeq.sortBy(_._1).map { case (m, pids) =>
      val out = tmp(s"topic_grp_out$m"); val ckpt = tmp(s"topic_grp_ckpt$m")
      val q = TopicSource.stream(spark, topic,
          TopicSource.changelogTopicSchema, partitions = pids)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      (pids.toSet, spark.read.parquet(out))
    }
    // each member saw ONLY its assigned partitions
    for ((pids, df) <- outs)
      assert(df.select("__partition").distinct().collect()
        .map(_.getInt(0)).toSet === pids)
    // the union is the topic, exactly once
    val union = outs.map(_._2).reduce(_ unionByName _)
    val batch = spark.read.parquet(topic)
      .select(TopicSource.changelogTopicSchema.fieldNames.map(col): _*)
    assert(union.count() === batch.count())
    assert(union.exceptAll(batch).count() === 0L)
    assert(batch.exceptAll(union).count() === 0L)
  }

  test("sticky rebalance: survivors keep every partition (zero " +
    "unnecessary movement), orphans balance within one") {
    import graft.cdc.ConsumerGroups
    import spark.implicits._
    val gen1 = (0L to 7L).map(p =>
      (p, spark.range(1).select(ConsumerGroups.owner("range", 8,
        Seq("c0", "c1", "c2"), lit(p))).head.getString(0)))
      .toDF("__partition", "consumer")
    val gen2 = ConsumerGroups.stickyRebalance(gen1, Seq("c0", "c2"))
      .collect().map(r => (r.getAs[Long]("__partition"),
        r.getAs[String]("consumer"), r.getAs[Long]("moved"))).toSeq
    val prev = gen1.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // every unmoved partition kept its gen-1 owner; every moved one
    // belonged to the departed member
    for ((p, c, moved) <- gen2)
      if (moved == 0L) assert(prev(p) === c, s"p$p moved unnecessarily")
      else assert(prev(p) === "c1", s"p$p moved but c1 didn't own it")
    assert(gen2.count(_._3 == 1L) === gen2.count { case (p, _, _) =>
      prev(p) == "c1" })
    // balance within one partition of optimal
    val sizes = gen2.groupBy(_._2).view.mapValues(_.size).values.toSeq
    assert(sizes.max - sizes.min <= 1, s"unbalanced: $sizes")
    assert(gen2.map(_._1).sorted === (0L to 7L)) // total, no dup/loss
  }

  test("ownerIndexLocal ≡ the ownerIndex Column formula for every " +
    "(strategy, P, N, p)") {
    import graft.cdc.ConsumerGroups
    for (st <- Seq("range", "roundrobin"); pTot <- Seq(1, 3, 8, 13);
         n <- 1 to 5) {
      val viaColumn = spark.range(pTot)
        .select(ConsumerGroups.ownerIndex(st, pTot, n, col("id")))
        .collect().map(_.getLong(0).toInt).toSeq
      val viaLocal = (0 until pTot)
        .map(p => ConsumerGroups.ownerIndexLocal(st, pTot, n, p))
      assert(viaColumn === viaLocal, s"diverged for ($st, $pTot, $n)")
    }
  }

  test("liveness rebalance: a member past its session timeout stops " +
    "being served; survivors cover the topic exactly once") {
    import graft.cdc.ConsumerGroups
    import spark.implicits._
    val topic = tmp("topic_live_grp")
    GraftSink.Topic(topic, numPartitions = 8).write(changelog)
    val gen1 = (0L to 7L).map(p =>
      (p, spark.range(1).select(ConsumerGroups.owner("range", 8,
        Seq("c0", "c1", "c2"), lit(p))).head.getString(0)))
      .toDF("__partition", "consumer")
    // c1's last heartbeat is 50s old vs a 30s session timeout
    val hb = Seq(("c0", 100L), ("c1", 50L), ("c2", 90L))
      .toDF("consumer", "sec")
      .select(col("consumer"), (col("sec") * 1000000L).as("hb_ts_us"))
    val gen2 = ConsumerGroups.rebalanceOnLiveness(gen1, hb, 30000000L)
      .collect().map(r => r.getAs[String]("consumer") ->
        r.getAs[Long]("__partition")).toSeq
    // the timed-out member owns nothing in the new generation
    assert(!gen2.exists(_._1 == "c1"), s"evicted member still owns: $gen2")
    assert(gen2.map(_._2).sorted === (0L to 7L))
    // each survivor streams ONLY its assigned partitions; the union
    // drains the topic exactly once — c1 is never served
    val outs = gen2.groupBy(_._1).toSeq.sortBy(_._1).map { case (m, ps) =>
      val out = tmp(s"live_grp_out_$m")
      val q = TopicSource.stream(spark, topic,
          TopicSource.changelogTopicSchema,
          partitions = ps.map(_._2.toInt))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", tmp(s"live_grp_ckpt_$m"))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(out)
    }
    val union = outs.reduce(_ unionByName _)
    val batch = spark.read.parquet(topic)
      .select(TopicSource.changelogTopicSchema.fieldNames.map(col): _*)
    assert(union.count() === batch.count())
    assert(union.exceptAll(batch).count() === 0L)
  }

  test("cooperative rebalance: non-moving partitions are served " +
    "continuously across the generation bump (same checkpoint, no dups)") {
    import graft.cdc.ConsumerGroups
    import spark.implicits._
    val log = changelog.cache()
    val cutoff = log.agg(expr("percentile_approx(commit_ts_us, 0.5)"))
      .head.getLong(0)
    val topic = tmp("topic_coop")
    val sink = GraftSink.Topic(topic, numPartitions = 8)
    sink.write(log.where(col("commit_ts_us") <= cutoff))
    val gen1 = (0L to 7L).map(p =>
      (p, spark.range(1).select(ConsumerGroups.owner("range", 8,
        Seq("c0", "c1", "c2"), lit(p))).head.getString(0)))
      .toDF("__partition", "consumer")
    val gen2 = ConsumerGroups
      .cooperativeRebalance(gen1, Seq("c0", "c1", "c2", "c3"))
      .collect().map(r => (r.getAs[String]("consumer"),
        r.getAs[Long]("__partition"), r.getAs[Long]("moved"))).toSeq
    // cooperative moves strictly fewer than eager on the same join
    val eagerMoved = (0L to 7L).count { p =>
      spark.range(1).select(ConsumerGroups.owner("range", 8,
        Seq("c0", "c1", "c2", "c3"), lit(p))).head.getString(0) !=
        gen1.where(col("__partition") === p).head.getString(1)
    }
    assert(gen2.count(_._3 == 1L) < eagerMoved,
      s"cooperative moved ${gen2.count(_._3 == 1L)} vs eager $eagerMoved")
    // c0 drains its gen-1 assignment, then CONTINUES on the SAME
    // checkpoint with its post-rebalance (non-moving) partitions while
    // the producer extends the log — the retained partitions must
    // deliver exactly the appended tail, never a re-read
    val c0Gen1 = gen1.where(col("consumer") === "c0")
      .collect().map(_.getLong(0).toInt).toSeq
    val c0Gen2 = gen2.filter(r => r._1 == "c0" && r._3 == 0L)
      .map(_._2.toInt)
    assert(c0Gen2.nonEmpty && c0Gen2.toSet.subsetOf(c0Gen1.toSet))
    val out = tmp("coop_out"); val ckpt = tmp("coop_ckpt")
    def drainAs(pids: Seq[Int]): Unit = {
      val q = TopicSource.stream(spark, topic,
          TopicSource.changelogTopicSchema, partitions = pids)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainAs(c0Gen1)                          // generation 1
    sink.write(log)                          // producer extends the log
    drainAs(c0Gen2)                          // generation 2: retained only
    val got = spark.read.parquet(out)
    // retained partitions: full log, exactly once (continuity across
    // the bump); revoked partition: only the gen-1 prefix (it moved)
    val full = spark.read.parquet(topic)
      .select(TopicSource.changelogTopicSchema.fieldNames.map(col): _*)
    for (p <- c0Gen2) {
      val g = got.where(col("__partition") === p)
      val f = full.where(col("__partition") === p)
      assert(g.count() === f.count(), s"partition $p not continuous")
      assert(g.select("__offset").distinct().count() === g.count(),
        s"partition $p re-delivered across the bump")
    }
    val revoked = (c0Gen1.toSet -- c0Gen2.toSet).toSeq
    for (p <- revoked)
      assert(got.where(col("__partition") === p).count() <
        full.where(col("__partition") === p).count(),
        s"revoked partition $p kept being served")
    log.unpersist()
  }

  test("restart after a topic rewrite-extension: exactly the new tail, no dups") {
    // The producer contract: offset assignment is deterministic, so a
    // topic REWRITE from a longer changelog extends the log in place
    // (old offsets keep their rows). The consumer committed mid-log
    // must deliver exactly the appended suffix on restart.
    val log = changelog.cache()
    val cutoff = log.agg(expr("percentile_approx(commit_ts_us, 0.5)"))
      .head.getLong(0)
    val prefix = log.where(col("commit_ts_us") <= cutoff)
    val topic = tmp("topic_restart")
    val sink = GraftSink.Topic(topic, numPartitions = 4)

    val out = tmp("topic_restart_out"); val ckpt = tmp("topic_restart_ckpt")
    sink.write(prefix)
    drain(topic, out, ckpt)            // consume the prefix, checkpoint
    val afterPrefix = spark.read.parquet(out).count()
    assert(afterPrefix === prefix.count())

    sink.write(log)                    // broker "append": full rewrite
    drain(topic, out, ckpt)            // resume from committed offsets
    val delivered = spark.read.parquet(out)
    assert(delivered.count() === log.count(),
      "resumed consumer must deliver exactly the appended tail")
    // no duplicate (partition, offset) pairs across the two runs
    assert(delivered.select("__partition", "__offset").distinct().count()
      === delivered.count(), "duplicate delivery across restart")
    // re-drain with no new data: zero rows
    drain(topic, out, ckpt)
    assert(spark.read.parquet(out).count() === log.count())
    log.unpersist()
  }

  test("compacted topic (offset gaps): end-of-log from stats, replay ≡ batch") {
    val topic = tmp("topic_compacted")
    val sink = GraftSink.Topic(topic, numPartitions = 4)
    val compacted = sink.compact(sink.assign(changelog),
      retentionUs = 12L * 3600000000L)
    compacted.write.mode("overwrite").partitionBy("__partition")
      .parquet(topic)
    // offsets must actually be gapped, or this test is vacuous
    val dense = spark.read.parquet(topic)
      .groupBy("__partition")
      .agg(max("__offset").as("mx"), count(lit(1)).as("n"))
      .where(col("mx") === col("n") - 1).count()
    assert(dense < 4, "compaction left every partition dense — vacuous test")
    val out = tmp("topic_c_out"); val ckpt = tmp("topic_c_ckpt")
    drain(topic, out, ckpt)
    val streamed = spark.read.parquet(out)
    val batch = spark.read.parquet(topic)
      .select(TopicSource.changelogTopicSchema.fieldNames.map(col): _*)
    assert(streamed.count() === batch.count() && batch.count() > 0)
    assert(streamed.exceptAll(batch).count() === 0L)
    assert(batch.exceptAll(streamed).count() === 0L)
  }

  test("schema-tolerant reads: a column absent in older topic files is null") {
    // The consumer's declared schema may be AHEAD of old segments (the
    // A47 world: the producer evolved mid-topic). Older files missing a
    // declared column must read as null, not throw.
    import org.apache.spark.sql.types._
    val topic = tmp("topic_evo")
    GraftSink.Topic(topic, numPartitions = 2).write(changelog)
    val widened = StructType(TopicSource.changelogTopicSchema.fields :+
      StructField("region", StringType))
    val qn = "topic_evo_tbl"
    drainToTable(TopicSource.stream(spark, topic, widened), qn)
    val got = spark.table(qn)
    assert(got.count() === changelog.count())
    assert(got.where(col("region").isNotNull).count() === 0L)
    assert(got.where(col("key").isNull).count() === 0L)
  }

  test("live tailing with ProcessingTime trigger follows producer flushes") {
    val log = changelog.cache()
    val cutoff = log.agg(expr("percentile_approx(commit_ts_us, 0.3)"))
      .head.getLong(0)
    val topic = tmp("topic_live")
    val sink = GraftSink.Topic(topic, numPartitions = 4)
    sink.write(log.where(col("commit_ts_us") <= cutoff))
    val qn = "topic_live_tbl"
    val q = TopicSource.stream(spark, topic,
        TopicSource.changelogTopicSchema)
      .writeStream.format("memory").queryName(qn)
      .option("checkpointLocation", tmp("topic_live_ckpt"))
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      q.processAllAvailable()
      val first = spark.table(qn).count()
      assert(first > 0 && first < log.count())
      sink.write(log) // producer flushes the rest
      q.processAllAvailable()
      assert(spark.table(qn).count() === log.count())
    } finally q.stop()
    log.unpersist()
  }

  test("truncated topic fails loudly under ONE shared deadline, not " +
    "one per partition") {
    import graft.sources.TopicSourceTestHooks
    val topic = tmp("topic_trunc")
    GraftSink.Topic(topic, numPartitions = 4).write(changelog)
    val stream = TopicSourceTestHooks.handle(
      TopicSource.changelogTopicSchema, topic)
    val ends = stream.discover()
    assert(ends.size === 4)
    // happy path: planning the true range needs no wait and covers all
    assert(stream.plan(ends.map { case (p, _) => p -> 0L }, ends) === 4)
    // "truncation": admit offsets past every partition's real end — the
    // self-heal re-list can never cover them, so planning must fail
    // loudly, and in ~one 10s deadline TOTAL across all 4 partitions
    // (the serial-per-partition form took ~40s here — ADVICE r14)
    val beyond = ends.map { case (p, e) => p -> (e + 100L) }
    val t0 = System.nanoTime()
    val e = intercept[Exception] {
      stream.plan(ends.map { case (p, _) => p -> 0L }, beyond)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.contains("not covered"), e.getMessage)
    assert(secs < 20.0,
      s"shared-deadline failure took ${secs}s — deadline is per-partition?")
  }

  test("footer memo is bounded by LIVE files; cold start reads in parallel") {
    val topic = tmp("topic_memo")
    val sink = GraftSink.Topic(topic, numPartitions = 4)
    sink.write(changelog)
    val stream = TopicSourceTestHooks.handle(
      TopicSource.changelogTopicSchema, topic)
    val ends1 = stream.discover()
    val size1 = stream.memoSize
    assert(ends1.nonEmpty && size1 > 0)
    // a rewrite (same content, new files/mtimes) REPLACES every file:
    // the memo must track the new listing, not accumulate both
    // generations — a tailing consumer must not leak one entry per
    // file ever seen
    sink.write(changelog.withColumn("value", col("value")))
    val ends2 = stream.discover()
    val size2 = stream.memoSize
    assert(ends2 === ends1, "deterministic rewrite keeps the same ends")
    assert(size2 <= size1, s"memo grew across a rewrite: $size1 -> $size2")
  }

  /** `body` over a 4-partition topic read through [[VanishingDirFs]]:
    * the local dir of each partition, and a stream handle on the topic. */
  private def throughVanishingFs(tag: String)(
      body: (Int => String, TopicSourceTestHooks.StreamHandle) => Unit): Unit = {
    val topic = tmp(tag)
    GraftSink.Topic(topic, numPartitions = 4).write(changelog)
    val implKey = s"fs.${VanishingDirFs.Scheme}.impl"
    spark.conf.set(implKey, classOf[VanishingDirFs].getName)
    try body(pid => s"$topic/${TopicSource.PartitionCol}=$pid",
      TopicSourceTestHooks.handle(TopicSource.changelogTopicSchema,
        s"${VanishingDirFs.Scheme}://$topic"))
    finally {
      VanishingDirFs.faults.clear()
      spark.conf.unset(implKey)
    }
  }

  test("a partition dir replaced mid-listing reads as empty, whichever " +
    "way the local listing fails") {
    throughVanishingFs("topic_vanish") { (dir, stream) =>
      val ends = stream.discover()
      assert(ends.keySet === Set(0, 1, 2, 3))
      // the two ways the local listing fails on a dir that goes between
      // its existence check and its read: the readability check, then
      // File.list returning null
      VanishingDirFs.faults.put(dir(2), VanishingDirFs.Fault(keep = false,
        d => new AccessDeniedException(d, null, "Permission denied")))
      VanishingDirFs.faults.put(dir(3), VanishingDirFs.Fault(keep = false,
        d => new IOException(s"Invalid directory or I/O error occurred for dir: $d")))
      assert(stream.discover() === ends - 2 - 3)
      assert(!new java.io.File(dir(2)).exists && !new java.io.File(dir(3)).exists)
    }
  }

  test("a listing failure on a partition dir that still exists is rethrown") {
    throughVanishingFs("topic_denied") { (dir, stream) =>
      VanishingDirFs.faults.put(dir(1), VanishingDirFs.Fault(keep = true,
        d => new AccessDeniedException(d, null, "Permission denied")))
      intercept[AccessDeniedException](stream.discover())
      assert(new java.io.File(dir(1)).exists)
    }
  }
}

/** The local file system under the `vanishfs` scheme, whose listing of a
  * dir named in [[VanishingDirFs.faults]] fails the way the local file
  * system's listing does when the dir is replaced mid-listing: the dir
  * is deleted first (unless the fault keeps it), then the listing
  * throws. */
class VanishingDirFs extends RawLocalFileSystem {
  override def getUri: java.net.URI =
    java.net.URI.create(s"${VanishingDirFs.Scheme}:///")
  override def getScheme: String = VanishingDirFs.Scheme
  override def listStatus(f: Path): Array[FileStatus] = {
    val dir = f.toUri.getPath
    Option(VanishingDirFs.faults.get(dir)) match {
      case Some(fault) =>
        if (!fault.keep) FileUtil.fullyDelete(new java.io.File(dir))
        throw fault.error(dir)
      case None => super.listStatus(f)
    }
  }
}

object VanishingDirFs {
  val Scheme = "vanishfs"

  final case class Fault(keep: Boolean, error: String => IOException)

  /** Local dir path → how listing it fails. */
  val faults = new java.util.concurrent.ConcurrentHashMap[String, Fault]()
}

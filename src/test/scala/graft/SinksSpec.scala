package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cdc._

class SinksSpec extends SparkSpec {

  private def changelog: DataFrame =
    Changelog.fromEvents(Tables.events(spark, sfDir))

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.count() === b.count())
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  for (format <- Seq("parquet", "json", "csv")) {
    test(s"GraftSink.Files round-trips the changelog via $format") {
      val in = changelog
      val path = tmp(s"sink-$format")
      GraftSink.Files(path, format, maxRecordsPerFile = 500).write(in)
      val back = spark.read.format(format)
        .schema(in.schema) // json/csv don't carry types
        .option("header", "true")
        .load(path)
      assertSameRows(in, back)
    }
  }

  test("GraftSink.Memory materializes a queryable view") {
    GraftSink.Memory("mem_sink_test").write(changelog.limit(100))
    assert(spark.table("mem_sink_test").count() === 100)
  }

  test("GraftSink.Memory: a second write to one view uncaches the first " +
    "frame, leaving one cached plan") {
    import org.apache.spark.storage.StorageLevel
    val first = changelog.limit(100)
    val second = changelog.limit(50)
    GraftSink.Memory("mem_sink_rewrite").write(first)
    assert(first.storageLevel !== StorageLevel.NONE)
    GraftSink.Memory("mem_sink_rewrite").write(second)
    assert(first.storageLevel === StorageLevel.NONE,
      "the replaced frame is still pinned in the cache")
    assert(second.storageLevel !== StorageLevel.NONE)
    assert(spark.table("mem_sink_rewrite").count() === 50)
  }

  test("Batched sink writes one partition per commit-time window") {
    val path = tmp("sink-batched")
    val hourUs = 3600L * 1000000
    GraftSink.Batched(GraftSink.Files(path), hourUs).write(changelog)
    val back = spark.read.parquet(path)
    // partition column survives and matches the bucketing rule
    val bad = back.where(
      col("__batch") =!= floor(col("commit_ts_us") / hourUs)).count()
    assert(bad === 0)
    assert(back.select("__batch").distinct().count() > 1)
  }

  test("Batched sink replay is idempotent (overwrite-by-partition)") {
    val path = tmp("sink-idem")
    val hourUs = 3600L * 1000000
    val sink = GraftSink.Batched(GraftSink.Files(path), hourUs)
    sink.write(changelog)
    val n1 = spark.read.parquet(path).count()
    // redeliver a slice (one batch window): must replace, not append
    val firstBatch = changelog.where(
      floor(col("commit_ts_us") / hourUs) ===
        changelog.agg(min(floor(col("commit_ts_us") / hourUs))).first().getLong(0))
    sink.write(firstBatch)
    val n2 = spark.read.parquet(path).count()
    assert(n1 === n2, "replaying one batch must not change total row count")
  }

  test("Topic sink: keyed routing + dense per-partition offsets in order") {
    import org.apache.spark.sql.expressions.Window
    val path = tmp("sink-topic")
    val sink = GraftSink.Topic(path, numPartitions = 4)
    sink.write(changelog)
    val back = spark.read.parquet(path)
    assertSameRows(changelog, back.drop("__partition", "__offset"))
    // routing rule: KeyMod
    assert(back.where(col("__partition") =!= pmod(col("key"), lit(4L))).count() === 0)
    // per-partition offsets are exactly the (commit_ts_us, seq, key) order
    val w = Window.partitionBy("__partition").orderBy("commit_ts_us", "seq", "key")
    val bad = back
      .withColumn("__expected", row_number().over(w).cast("long") - 1)
      .where(col("__offset") =!= col("__expected")).count()
    assert(bad === 0)
    // dense 0..n-1 per partition (the MQ append-log contract)
    back.groupBy("__partition")
      .agg(min("__offset").as("lo"), max("__offset").as("hi"),
        count(lit(1)).as("n"))
      .collect().foreach { r =>
        assert(r.getAs[Long]("lo") === 0L)
        assert(r.getAs[Long]("hi") === r.getAs[Long]("n") - 1)
      }
    // replay is idempotent: same changelog -> same partitions, no dupes
    val n1 = back.count()
    sink.write(changelog)
    assert(spark.read.parquet(path).count() === n1)
  }

  test("Topic.append: extends dense offsets per partition ≡ full " +
    "re-assign, associates over slices, and never re-sorts history") {
    val topic = GraftSink.Topic(path = "", numPartitions = 4)
    val log = changelog
    val full = topic.assign(log)
    // three time slices (orderCols lead with commit_ts_us, so each
    // slice strictly follows the previous one inside every partition)
    val cuts = log.stat.approxQuantile("commit_ts_us",
      Array(0.33, 0.66), 0.0).map(_.toLong)
    val s0 = log.where(col("commit_ts_us") < cuts(0))
    val s1 = log.where(col("commit_ts_us") >= cuts(0) &&
      col("commit_ts_us") < cuts(1))
    val s2 = log.where(col("commit_ts_us") >= cuts(1))
    // established log is MATERIALIZED (a standing deployment's state)
    val base = topic.assign(s0).localCheckpoint()
    val appended = topic.append(topic.append(base, s1), s2)
    assertSameRows(full, appended)
    // history is never re-sorted: the append plan carries exactly one
    // Window (over the incoming slice) — the checkpointed base
    // contributes only the grouped-max ends
    val one = topic.append(base, s1)
    val nWindows = one.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.size
    assert(nWindows === 1)
    // a partition unseen in the base starts at offset 0
    val tiny = topic.assign(log.where(col("key") % 4 === 0)
      .limit(50)).localCheckpoint()
    val other = topic.append(tiny, log.where(col("key") % 4 === 1).limit(7))
    val fresh = other.where(col("__partition") === 1)
    assert(fresh.agg(min("__offset")).head().getLong(0) === 0L)
    assert(fresh.count() === 7)
    // the broker-metadata path: passing ends explicitly produces the
    // SAME assignment as deriving them from the log (deployment ≡
    // fallback), returning only the new rows
    val ends = base.groupBy(col("__partition").as("__end_p"))
      .agg((max(col("__offset")) + 1L).as("__base"))
    assertSameRows(
      topic.appendWithEnds(ends, s1),
      topic.append(base, s1).exceptAll(base))
  }

  test("Topic.compact: latest-per-key at ORIGINAL offsets, tombstone " +
    "retention, replay bootstraps the snapshot") {
    val topic = GraftSink.Topic(path = "", numPartitions = 8)
    val assigned = topic.assign(changelog).localCheckpoint()
    val retentionUs = 12L * 3600000000L
    val compacted = topic.compact(assigned, retentionUs).localCheckpoint()
    // one record per (partition, key), and each kept record is the
    // key's LATEST at its ORIGINAL offset — compaction renumbers
    // NOTHING (the consumer-visible offset-gap property)
    assert(compacted.groupBy("__partition", "key").count()
      .where(col("count") > 1).count() === 0)
    val latest = assigned.groupBy("__partition", "key")
      .agg(max(col("__offset")).as("__offset"))
    assert(compacted.select("__partition", "key", "__offset")
      .exceptAll(latest).count() === 0)
    // offset gaps really exist (compaction removed earlier versions)
    val perPart = compacted.groupBy("__partition")
      .agg(count(lit(1)).as("n"), max(col("__offset")).as("mx"))
    assert(perPart.where(col("mx") >= col("n")).count() > 0,
      "no offset gaps — compaction kept every record?")
    // retention exercised BOTH ways: some tombstones dropped, some kept
    val cutoff = assigned.agg(max(col("commit_ts_us"))).head.getLong(0) -
      retentionUs
    val latestRows = assigned.withColumn("__rn",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("__partition"), col("key"))
            .orderBy(desc("__offset"))))
      .where(col("__rn") === 1)
    val oldTombs = latestRows
      .where(col("op") === "D" && col("commit_ts_us") < cutoff).count()
    val freshTombs = latestRows
      .where(col("op") === "D" && col("commit_ts_us") >= cutoff).count()
    assert(oldTombs > 0 && freshTombs > 0,
      s"retention not exercised: $oldTombs dropped / $freshTombs kept")
    assert(compacted.where(col("op") === "D").count() === freshTombs)
    // replay-from-0 of the compacted topic bootstraps the A2 snapshot:
    // same live keys as Materialize.snapshot over the full changelog
    val snapKeys = Materialize.snapshot(changelog).select("key")
    val replayKeys = compacted.where(col("op") =!= "D").select("key")
    assertSameRows(snapKeys, replayKeys)
  }

  test("Topic.assignFenced: zombie-epoch writes after the takeover are " +
    "rejected; earlier ones and untouched partitions stand") {
    import spark.implicits._
    val rows = Seq(
      (0L, 100L, 1L, 1L), // A before the takeover — survives
      (0L, 200L, 2L, 2L), // B takes partition 0 at ts 200
      (0L, 300L, 3L, 1L), // zombie A after it — fenced out
      (0L, 400L, 4L, 2L), // B — survives
      (1L, 150L, 5L, 1L), // partition 1: no takeover, A keeps the lease
      (1L, 500L, 6L, 1L)
    ).toDF("key", "commit_ts_us", "seq", "epoch")
    val fenced = GraftSink.Topic(path = "", numPartitions = 2)
      .assignFenced(rows)
    val got = fenced.select("seq", "__partition", "__offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 0L, 0L), (2L, 0L, 1L), (4L, 0L, 2L),
      (5L, 1L, 0L), (6L, 1L, 1L)),
      s"fence kept the wrong rows / offsets: $got")
    // one hash exchange feeds fence AND offsets — the assign plan plus
    // a scan-local compare, never a second shuffle
    val plan = fenced.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges === 1, s"expected exactly 1 exchange:\n${plan.take(1500)}")
  }

  test("Topic.readCommitted: aborted skipped, open fences the LSO, " +
    "unknown txns default open, non-transactional always visible") {
    import spark.implicits._
    // one partition (key 0), offsets 0..5 by commit order
    val rows = Seq(
      (0L, 100L, 1L, Option.empty[Long]), // o0: non-txn     → visible
      (0L, 200L, 2L, Some(10L)),          // o1: committed   → visible
      (0L, 300L, 3L, Some(11L)),          // o2: aborted     → skipped
      (0L, 400L, 4L, Some(12L)),          // o3: OPEN        → LSO = 3
      (0L, 500L, 5L, Some(10L)),          // o4: committed but ≥ LSO
      (0L, 600L, 6L, Some(99L))           // o5: UNKNOWN txn → open
    ).toDF("key", "commit_ts_us", "seq", "txn_id")
    val txns = Seq((10L, "committed"), (11L, "aborted"), (12L, "open"))
      .toDF("txn_id", "status")
    val topic = GraftSink.Topic(path = "", numPartitions = 1)
    val (visible, report) =
      topic.readCommitted(topic.assign(rows), txns)
    assert(visible.select("__offset").collect().map(_.getLong(0)).toSet
      === Set(0L, 1L))
    val r = report.head
    assert(r.getAs[Long]("end_offset") === 6L)
    assert(r.getAs[Long]("lso") === 3L)
    assert(r.getAs[Long]("n_read_committed") === 2L)
    assert(r.getAs[Long]("n_aborted_skipped") === 1L)
    assert(r.getAs[Long]("n_beyond_lso") === 1L)
  }

  test("Topic.transactionalLog: in-log markers decide fates; a zombie's " +
    "late commit marker is fenced; independent producers never fence " +
    "each other; a crashed producer's txn stays open and caps the LSO") {
    import spark.implicits._
    def rows(keys: Seq[Long], ts0: Long): DataFrame =
      keys.zipWithIndex.map { case (k, i) => (k, ts0 + i * 10L, ts0 + i) }
        .toDF("key", "commit_ts_us", "seq")
    val topic = GraftSink.Topic(path = "", numPartitions = 2)
    // pa commits txn 1; pb (independent, epoch 5!) aborts txn 2 —
    // pb's higher epoch must NOT fence pa (per-producer fence)
    val pa = new GraftSink.TxnProducer("pa", 1)
      .begin(1).send(rows(Seq(0L, 1L), 100L)).commit(slot = 1)
    val pb = new GraftSink.TxnProducer("pb", 5)
      .begin(2).send(rows(Seq(0L, 1L), 200L)).abort(slot = 2)
    // pc crashes with txn 3 open (no marker) — only on partition 1
    val pc = new GraftSink.TxnProducer("pc", 1)
      .begin(3).send(rows(Seq(1L), 300L))
    // pd zombie (epoch 1) late-commits txn 4 after its epoch-2
    // successor aborted it — the late marker must be fenced
    val pdZ = new GraftSink.TxnProducer("pd", 1)
      .begin(4).send(rows(Seq(0L, 1L), 400L)).commit(slot = 5)
    val pdN = new GraftSink.TxnProducer("pd", 2)
      .begin(4).abort(slot = 3)
      .begin(5).send(rows(Seq(0L), 500L)).commit(slot = 4)
    val log = topic.transactionalLog(Seq(pa, pb, pc, pdZ, pdN))
    // the zombie's commit marker (slot 5, epoch 1) is NOT in the log
    assert(log.where(col("__control") === "commit" &&
      col("txn_id") === 4L).count() === 0L, "zombie marker survived")
    // pa's data+marker survived pb's higher epoch (independent fence)
    assert(log.where(col("producer") === "pa").count() === 2L + 2L)
    val (visible, report) = topic.readCommittedFromLog(log)
    val vis = visible.select("producer", "txn_id").collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    // txn 1 (committed) visible; txn 2 aborted; txn 4 aborted by the
    // recovery; txn 5 committed and visible on partition 0 (no open
    // txn there); txn 3 open on partition 1 — but it STARTS at ts 300,
    // so txn 1/2 rows below it are still judged, and nothing at or
    // past the partition-1 LSO is visible
    assert(vis.nonEmpty && vis.forall { case (_, t) => t == 1L || t == 5L },
      s"unexpected visible rows: ${vis.toSeq}")
    // exactly: txn1 on both partitions (3 rows total? no — txn1 wrote
    // one row per key) and txn5's single committed row on partition 0
    assert(vis.count(_._2 == 1L) === 2 && vis.count(_._2 == 5L) === 1,
      s"wrong visible census: ${vis.toSeq}")
    val rep = report.collect().map(r =>
      r.getAs[Long]("__partition") -> r).toMap
    assert(rep(1L).getAs[Long]("n_open_pending") === 1L)
    assert(rep(0L).getAs[Long]("n_open_pending") === 0L)
    // partition 0 has no open txn → lso = end
    assert(rep(0L).getAs[Long]("lso") === rep(0L).getAs[Long]("end_offset"))
    assert(rep(1L).getAs[Long]("lso") < rep(1L).getAs[Long]("end_offset"))
    // aborted census: pb's txn 2 + pd's txn 4 data rows per partition
    assert(rep(0L).getAs[Long]("n_aborted_skipped") === 2L)
    assert(rep(1L).getAs[Long]("n_aborted_skipped") === 2L)
    // replay determinism: the same sessions rebuild the identical log
    val log2 = topic.transactionalLog(Seq(pa, pb, pc, pdZ, pdN))
    assert(log.exceptAll(log2).count() === 0L)
    assert(log2.exceptAll(log).count() === 0L)
  }

  test("Topic.assignIdempotent: a retried batch never duplicates and " +
    "the FIRST arrival survives; distinct pseqs from one pid coexist") {
    import spark.implicits._
    val topic = GraftSink.Topic(path = "", numPartitions = 2)
    val rows = Seq(
      // (key, commit_ts_us, seq, pid, pseq, arrival, attempt)
      (0L, 10L, 1L, 7L, 1L, 1L, "first"),
      (0L, 10L, 1L, 7L, 1L, 2L, "retry"), // retried — must lose
      (0L, 20L, 2L, 7L, 2L, 1L, "first"), // same pid, next pseq — kept
      (2L, 30L, 3L, 9L, 1L, 1L, "first"), // other pid reuses pseq 1 — kept
      (1L, 40L, 4L, 7L, 1L, 1L, "first") // other PARTITION, same (pid,pseq)
    ).toDF("key", "commit_ts_us", "seq", "pid", "pseq", "arrival", "attempt")
    val out = topic.assignIdempotent(rows).orderBy("__partition", "__offset")
      .select("key", "__offset", "attempt")
      .as[(Long, Long, String)].collect()
    assert(out === Array((0L, 0L, "first"), (0L, 1L, "first"),
      (2L, 2L, "first"), (1L, 0L, "first")))
  }

  test("Topic.mirror + translateCheckpoints: dense mirror offsets over " +
    "visible records only; cursors translate by count-below; a cursor " +
    "at source end resumes at mirror end") {
    import spark.implicits._
    val topic = GraftSink.Topic(path = "", numPartitions = 2)
    // source partition 0: offsets 0..4, but 1 and 3 invisible (aborted)
    val visible = Seq(
      (0, 0L, "a"), (0, 2L, "b"), (0, 4L, "c"),
      (1, 0L, "x"), (1, 1L, "y")
    ).toDF("__partition", "__offset", "payload")
    val m = topic.mirror(visible)
    assert(m.orderBy("__partition", "__offset")
      .select("__partition", "__src_offset", "__offset")
      .as[(Int, Long, Long)].collect() ===
      Array((0, 0L, 0L), (0, 2L, 1L), (0, 4L, 2L),
        (1, 0L, 0L), (1, 1L, 1L)))
    val cursors = Seq(
      ("g", 0, 3L), // consumed src 0..2 → mirrored records below 3: 2
      ("g", 1, 2L), // at src end → all of the mirror: 2
      ("h", 0, 0L) // nothing consumed → resume at 0
    ).toDF("group_id", "__partition", "src_committed")
    val t = topic.translateCheckpoints(m, cursors)
      .orderBy("group_id", "__partition")
      .select("group_id", "__partition", "dst_committed", "dst_end")
      .as[(String, Int, Long, Long)].collect()
    assert(t === Array(("g", 0, 2L, 3L), ("g", 1, 2L, 2L),
      ("h", 0, 0L, 3L)))
  }

  test("VersionedTable: snapshot isolation, time travel, atomic commit " +
    "point, orphan data files invisible") {
    import spark.implicits._
    val path = tmp("vtable")
    val vt = GraftSink.VersionedTable(path)
    def slice(tag: String, n: Int): DataFrame =
      (1 to n).map(i => (tag, i.toLong)).toDF("tag", "v")
    assert(vt.commit(slice("a", 5)) === 1L)
    assert(vt.commit(slice("b", 3)) === 2L)
    assert(vt.readVersion(spark, 1).count() === 5L)
    assert(vt.read(spark).count() === 8L) // v2 = append
    // a reader HOLDING v2 sees identical content across the overwrite —
    // the JDBC delete→append visibility window, closed properly
    val readerAtV2 = vt.readVersion(spark, 2)
    assert(vt.commit(slice("c", 2), overwrite = true) === 3L)
    assert(readerAtV2.count() === 8L)
    assert(readerAtV2.where(col("tag") === "c").count() === 0L)
    // latest = the overwrite only; time travel still serves v1/v2
    assert(vt.read(spark).count() === 2L)
    assert(vt.readVersion(spark, 2).count() === 8L)
    assert(vt.readVersion(spark, 1).count() === 5L)
    // a crash BEFORE the manifest rename = orphan data files, invisible
    slice("orphan", 99).write.mode("overwrite")
      .parquet(s"$path/_data/commit-crashed")
    assert(vt.read(spark).count() === 2L)
    assert(vt.currentVersion(spark) === 3L)
    // a manifest slot taken by a concurrent writer: the next commit
    // publishes PAST it instead of clobbering (optimistic concurrency)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val m3 = new org.apache.hadoop.fs.Path(path, "_manifests/v3.manifest")
    val m4 = new org.apache.hadoop.fs.Path(path, "_manifests/v4.manifest")
    org.apache.hadoop.fs.FileUtil.copy(fs, m3, fs, m4, false,
      spark.sessionState.newHadoopConf())
    assert(vt.commit(slice("d", 1)) === 5L)
    assert(vt.read(spark).count() === 3L) // v5 = v4 (=v3 content) + d
    // a version that was never committed fails loudly
    val e = intercept[IllegalArgumentException](vt.readVersion(spark, 99))
    assert(e.getMessage.contains("never committed"))
  }

  test("VersionedTable.merge: upsert/delete/insert legs, snapshot " +
    "convergence, and batch-latest-wins within one merge") {
    import spark.implicits._
    val path = tmp("vtable-merge")
    val vt = GraftSink.VersionedTable(path)
    def batch(rows: (Long, Long, String, String)*): DataFrame =
      rows.toSeq.toDF("key", "seq", "op", "payload")
    // bootstrap merge into an empty table = insert all non-D
    vt.merge(batch((1L, 1L, "I", "a"), (2L, 2L, "I", "b"),
      (3L, 3L, "I", "c"), (3L, 4L, "D", "c")), Seq("key"), Seq("seq"))
    assert(vt.read(spark).select("key").as[Long].collect().sorted ===
      Array(1L, 2L)) // key 3's newest in-batch record is the tombstone
    // second merge: update 1, delete 2, insert 4; untouched rows carry
    vt.merge(batch((1L, 5L, "U", "a2"), (2L, 6L, "D", "b"),
      (4L, 7L, "I", "d")), Seq("key"), Seq("seq"))
    val out = vt.read(spark).orderBy("key")
      .select("key", "payload").as[(Long, String)].collect()
    assert(out === Array((1L, "a2"), (4L, "d")))
    assert(vt.currentVersion(spark) === 2L)
    // time travel: v1 still shows the pre-merge state
    assert(vt.readVersion(spark, 1).select("key")
      .as[Long].collect().sorted === Array(1L, 2L))
  }

  test("VersionedTable.changes: append-only ranges are file-level (no " +
    "shuffle, no old-version scan); a range crossing an overwrite " +
    "falls back to the keyed diff") {
    import spark.implicits._
    val path = tmp("vtable-cdf")
    val vt = GraftSink.VersionedTable(path)
    def slice(tag: String, ks: Seq[Long]): DataFrame =
      ks.map(k => (k, tag)).toDF("key", "tag")
    vt.commit(slice("a", Seq(1, 2)))
    vt.commit(slice("b", Seq(3)))
    vt.commit(slice("c", Seq(4, 5)))
    val feed = vt.changes(spark, 1L, 3L)
    assert(feed.orderBy("key").select("key", "_change_type",
      "_commit_version").as[(Long, String, Long)].collect() ===
      Array((3L, "insert", 2L), (4L, "insert", 3L), (5L, "insert", 3L)))
    // file-level: zero exchanges in the physical plan
    val exchanges = feed.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty)
    // overwrite with key 1 updated (new tag), key 2 gone, key 9 new
    vt.commit(Seq((1L, "a2"), (3L, "b"), (4L, "c"), (5L, "c"),
      (9L, "z")).toDF("key", "tag"), overwrite = true)
    val diff = vt.changes(spark, 3L, 4L, keyCols = Seq("key"))
      .orderBy("key")
      .select("key", "_change_type", "tag")
      .as[(Long, String, String)].collect()
    assert(diff === Array((1L, "update_postimage", "a2"),
      (2L, "delete", "a"), (9L, "insert", "z")))
    // the fallback requires keys — loudly
    val e = intercept[IllegalArgumentException](vt.changes(spark, 2L, 4L))
    assert(e.getMessage.contains("keyCols"))
  }

  test("VersionedTable.mergeBucketed: only touched buckets rewrite — " +
    "untouched files carry VERBATIM into the new manifest; semantics " +
    "equal the full merge; a lost manifest race fails loudly") {
    import spark.implicits._
    val path = tmp("vtable-bmerge")
    val vt = GraftSink.VersionedTable(path)
    def batch(rows: (Long, Long, String, String)*): DataFrame =
      rows.toSeq.toDF("key", "seq", "op", "payload")
    // bootstrap: 64 keys spread over 8 buckets
    vt.mergeBucketed(batch((0L until 64L).map(k =>
      (k, k, "I", s"v$k")): _*), Seq("key"), Seq("seq"), numBuckets = 8)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def manifest(v: Long): Seq[String] = {
      val in = fs.open(new org.apache.hadoop.fs.Path(
        path, s"_manifests/v$v.manifest"))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(l => l.nonEmpty && !l.startsWith("#")).toList
      finally in.close()
    }
    val m1 = manifest(1)
    assert(m1.forall(_.contains("__bucket=")))
    // one-key upsert: exactly one bucket rewrites
    vt.mergeBucketed(batch((7L, 100L, "U", "v7b")),
      Seq("key"), Seq("seq"), numBuckets = 8)
    val m2 = manifest(2)
    val carried = m2.toSet intersect m1.toSet
    val rewritten1 = m1.toSet -- m2.toSet
    val buckets = rewritten1.flatMap(
      "__bucket=(\\d+)/".r.findFirstMatchIn(_).map(_.group(1)))
    assert(buckets.size === 1) // exactly one bucket's files replaced
    assert(carried.nonEmpty) // the other buckets carried verbatim
    // content: equal to the plain full merge on the same feed
    val full = GraftSink.VersionedTable(tmp("vtable-fmerge"))
    full.merge(batch((0L until 64L).map(k =>
      (k, k, "I", s"v$k")): _*), Seq("key"), Seq("seq"))
    full.merge(batch((7L, 100L, "U", "v7b")), Seq("key"), Seq("seq"))
    assertSameRows(vt.read(spark), full.read(spark))
    // deletes prune rows; untouched buckets still intact
    vt.mergeBucketed(batch((7L, 101L, "D", "x")),
      Seq("key"), Seq("seq"), numBuckets = 8)
    assert(vt.read(spark).where(col("key") === 7L).count() === 0)
    assert(vt.read(spark).count() === 63L)
    // a manifest slot another writer already took is simply the new
    // current: the next merge reads v4's state and publishes past it,
    // carrying v4's files (the loud IllegalStateException guards only
    // the true mid-merge race, where the slot appears AFTER the
    // carried list was derived)
    val m3 = new org.apache.hadoop.fs.Path(path, "_manifests/v3.manifest")
    val m4 = new org.apache.hadoop.fs.Path(path, "_manifests/v4.manifest")
    org.apache.hadoop.fs.FileUtil.copy(fs, m3, fs, m4, false,
      spark.sessionState.newHadoopConf())
    assert(vt.mergeBucketed(batch((1L, 200L, "U", "z")),
      Seq("key"), Seq("seq"), numBuckets = 8) === 5L)
    assert(vt.read(spark).where(col("key") === 1L)
      .select("payload").as[String].head() === "z")
    assert(vt.read(spark).count() === 63L)
    // point lookup prunes to the key's bucket: the scan reads only
    // that bucket's files (verified by input_file_name census)
    val hit = vt.lookup(spark, Seq("key"), Seq(Seq(1L)), numBuckets = 8)
    assert(hit.select("payload").as[String].collect() === Array("z"))
    val filesRead = hit.select(input_file_name()).distinct().count()
    val latestManifest = manifest(vt.currentVersion(spark))
    val oneBucketFiles = latestManifest.count(_.contains(
      "__bucket=" + latestManifest.find(_.contains("__bucket="))
        .map(_ => // bucket of key 1 under 8 buckets, recomputed
          spark.range(1).select(pmod(xxhash64(lit(1L)), lit(8L)))
            .head().getLong(0)).get + "/"))
    assert(filesRead <= oneBucketFiles)
    assert(filesRead < latestManifest.size) // strictly pruned
    // a key that exists nowhere returns empty, table-schemed
    assert(vt.lookup(spark, Seq("key"), Seq(Seq(999999L)),
      numBuckets = 8).isEmpty)
    // vacuum understands the two-level bucketed layout
    val (dataGone, _) = vt.vacuum(spark, retainLast = 1)
    assert(dataGone > 0)
    assert(vt.read(spark).count() === 63L)
  }

  test("VersionedTable.optimize + vacuum: content-identical rewrite, " +
    "fewer files; vacuum retires time travel below the horizon and " +
    "reclaims unreferenced data + orphans") {
    import spark.implicits._
    val path = tmp("vtable-opt")
    val vt = GraftSink.VersionedTable(path)
    // many tiny commits = many small files
    (1 to 4).foreach(i => vt.commit(
      Seq.tabulate(50)(j => (i.toLong * 100 + j, s"t$i"))
        .toDF("key", "tag").repartition(4)))
    val contentBefore = vt.read(spark).orderBy("key").collect()
    val (optV, nBefore, nAfter) = vt.optimize(spark, 1000L)
    assert(optV === 5L)
    assert(nAfter < nBefore)
    assert(vt.read(spark).orderBy("key").collect() === contentBefore)
    // old versions still read (their files are still on disk)
    assert(vt.readVersion(spark, 2).count() === 100L)
    // plant an orphan (writer died pre-rename), then vacuum to last 1
    Seq((0L, "orphan")).toDF("key", "tag").write.mode("overwrite")
      .parquet(s"$path/_data/commit-crashed")
    val (dataGone, manifestsGone) = vt.vacuum(spark, retainLast = 1)
    assert(manifestsGone === 4)
    assert(dataGone > 0)
    // latest reads byte-identically; vacuumed versions fail loudly
    assert(vt.read(spark).orderBy("key").collect() === contentBefore)
    val e = intercept[IllegalArgumentException](vt.readVersion(spark, 2))
    assert(e.getMessage.contains("vacuumed"))
    // the orphan dir is gone too
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      path, "_data/commit-crashed")))
  }

  test("VersionedTable writes list their new file lines in path order: " +
    "a bucketed merge and an optimize that each write several files") {
    import spark.implicits._
    val path = tmp("vtable-sorted")
    val vt = GraftSink.VersionedTable(path)
    val log = TableLog(spark, path)
    vt.mergeBucketed((0L until 64L).map(k => (k, k, "I", s"v$k")).toDF(
      "key", "seq", "op", "payload"), Seq("key"), Seq("seq"), numBuckets = 8)
    val merged = log.read(1).files
    assert(merged.size > 1)
    assert(merged === merged.sorted)
    val plain = GraftSink.VersionedTable(tmp("vtable-sorted-opt"))
    (1 to 4).foreach(i => plain.commit(
      Seq.tabulate(50)(j => (i.toLong * 100 + j, s"t$i")).toDF("key", "tag")))
    val (optV, _, nAfter) = plain.optimize(spark, 60L)
    val optimized = TableLog(spark, plain.path).read(optV).files
    assert(nAfter > 1 && optimized.size === nAfter)
    assert(optimized === optimized.sorted)
  }

  test("VersionedTable.changes across a bucketed merge is FILE-PRUNED: " +
    "only the merge's removed ∪ added files are diffed — carried-" +
    "verbatim files are never planned (inputFiles census); attribution " +
    "is per-version") {
    import spark.implicits._
    val path = tmp("vtable-cdfmerge")
    val vt = GraftSink.VersionedTable(path)
    def batch(rows: (Long, Long, String, String)*): DataFrame =
      rows.toSeq.toDF("key", "seq", "op", "payload")
    vt.mergeBucketed(batch((0L until 64L).map(k =>
      (k, k, "I", s"v$k")): _*), Seq("key"), Seq("seq"), numBuckets = 8)
    vt.mergeBucketed(batch((7L, 100L, "U", "v7b")),
      Seq("key"), Seq("seq"), numBuckets = 8)
    vt.mergeBucketed(batch((9L, 101L, "D", "x")),
      Seq("key"), Seq("seq"), numBuckets = 8)
    // v2: one update; v3: one delete (pre-image) — per-version rows
    val feed = vt.changes(spark, 1L, 3L, keyCols = Seq("key"))
    assert(feed.orderBy("_commit_version")
      .select("key", "payload", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect() ===
      Array((7L, "v7b", "update_postimage", 2L),
        (9L, "v9", "delete", 3L)))
    // census: the planned scan reads ONLY files of the two touched
    // buckets (each version's removed ∪ added) — never a carried file
    val b7 = spark.range(1).select(pmod(xxhash64(lit(7L)), lit(8L)))
      .head().getLong(0)
    val b9 = spark.range(1).select(pmod(xxhash64(lit(9L)), lit(8L)))
      .head().getLong(0)
    val okBuckets = Set(b7, b9).map(b => s"__bucket=$b/")
    val planned = feed.inputFiles.toSeq
    assert(planned.nonEmpty)
    assert(planned.forall(f => okBuckets.exists(f.contains)),
      s"carried file leaked into the CDF scan: $planned")
    // a whole-history CDF still works: v1's bootstrap is a superset
    // commit (nothing removed) → pure file-level inserts
    assert(vt.changes(spark, 0L, 3L, keyCols = Seq("key"))
      .where(col("_commit_version") === 1L).count() === 64L)
    // emitPreimages: the update emits its retraction beside the
    // post-image (Delta's CDF shape — what IVM consumes)
    val pre = vt.changes(spark, 1L, 2L, keyCols = Seq("key"),
      emitPreimages = true)
      .select("key", "payload", "_change_type")
      .as[(Long, String, String)].collect().sortBy(_._3)
    assert(pre === Array(
      (7L, "v7b", "update_postimage"), (7L, "v7", "update_preimage")))
  }

  test("VersionedTable.optimize preserves the bucket layout: content " +
    "identical, no file growth (merge already packs one file per " +
    "touched bucket), lookup still prunes, a post-optimize " +
    "merge rewrites only touched buckets, and CDF crosses optimize as " +
    "zero changes") {
    import spark.implicits._
    val path = tmp("vtable-bopt")
    val vt = GraftSink.VersionedTable(path)
    def batch(rows: (Long, Long, String, String)*): DataFrame =
      rows.toSeq.toDF("key", "seq", "op", "payload")
    vt.mergeBucketed(batch((0L until 64L).map(k =>
      (k, k, "I", s"v$k")): _*), Seq("key"), Seq("seq"), numBuckets = 8)
    vt.mergeBucketed(batch((7L, 100L, "U", "v7b")),
      Seq("key"), Seq("seq"), numBuckets = 8)
    val contentBefore = vt.read(spark).orderBy("key").collect()
    val (optV, nBefore, nAfter) = vt.optimize(spark, 10000L)
    assert(optV === 3L)
    // mergeBucketed clusters its rewrite by bucket before writing
    // (r18 optimization), so the standing layout is ALREADY at most
    // one file per bucket — pin that invariant, and that optimize
    // never grows the file count on an already-packed table
    assert(nBefore <= 8) // merge packs: ≤ one file per touched bucket
    assert(nAfter <= nBefore)
    assert(nAfter <= 8) // at most one file per bucket at this size
    assert(vt.read(spark).orderBy("key").collect() === contentBefore)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def manifest(v: Long): Seq[String] = {
      val in = fs.open(new org.apache.hadoop.fs.Path(
        path, s"_manifests/v$v.manifest"))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(l => l.nonEmpty && !l.startsWith("#")).toList
      finally in.close()
    }
    // the hive layout survived the rewrite
    assert(manifest(optV).forall(_.contains("__bucket=")))
    assert(vt.manifestMeta(spark, optV).get("buckets") === Some("8"))
    // lookup still prunes to one bucket
    val hit = vt.lookup(spark, Seq("key"), Seq(Seq(7L)), numBuckets = 8)
    assert(hit.select("payload").as[String].collect() === Array("v7b"))
    val b7 = spark.range(1).select(pmod(xxhash64(lit(7L)), lit(8L)))
      .head().getLong(0)
    assert(hit.inputFiles.forall(_.contains(s"__bucket=$b7/")))
    // a post-optimize merge still rewrites ONLY touched buckets
    val mOpt = manifest(optV).toSet
    vt.mergeBucketed(batch((3L, 200L, "U", "v3b")),
      Seq("key"), Seq("seq"), numBuckets = 8)
    val mNext = manifest(vt.currentVersion(spark)).toSet
    val rewrittenBuckets = (mOpt -- mNext).flatMap(
      "__bucket=(\\d+)/".r.findFirstMatchIn(_).map(_.group(1)))
    assert(rewrittenBuckets.size === 1)
    assert((mOpt intersect mNext).nonEmpty) // carried verbatim
    // CDF across the optimize commit: zero changes by construction
    assert(vt.changes(spark, optV - 1, optV,
      keyCols = Seq("key")).count() === 0L)
    // ... and a range SPANNING it sees only the real merges
    assert(vt.changes(spark, 1L, vt.currentVersion(spark),
      keyCols = Seq("key")).select("key")
      .as[Long].collect().sorted === Array(3L, 7L))
  }

  test("VersionedTable.mergeBucketed sub-splits an oversized bucket at " +
    "maxRowsPerBucketFile; a roomy cap packs back to one file per bucket") {
    import spark.implicits._
    val path = tmp("vtable-bsplit")
    val vt = GraftSink.VersionedTable(path)
    def batch(rows: (Long, Long, String, String)*): DataFrame =
      rows.toSeq.toDF("key", "seq", "op", "payload")
    // numBuckets=1 concentrates every key in one (hot) bucket; a 3-row
    // cap must roll the bucket's rewrite into ceil(10/3)=4 files while
    // keeping the hive layout (so manifest pruning is unchanged)
    vt.mergeBucketed(batch((0L until 10L).map(k =>
      (k, k, "I", s"v$k")): _*), Seq("key"), Seq("seq"), numBuckets = 1,
      maxRowsPerBucketFile = 3L)
    val files1 = vt.read(spark).inputFiles
    assert(files1.length === 4,
      s"expected the hot bucket split into 4 files, got ${files1.length}")
    assert(files1.forall(_.contains("__bucket=0/")))
    assert(vt.read(spark).count() === 10)
    // a later merge under the default (roomy) cap rewrites the bucket
    // back to ONE file — the ≤1-file-per-touched-bucket layout holds
    // whenever the bucket fits the cap
    vt.mergeBucketed(batch((3L, 100L, "U", "v3b")),
      Seq("key"), Seq("seq"), numBuckets = 1)
    assert(vt.read(spark).where(col("key") === 3)
      .select("payload").as[String].collect() === Array("v3b"))
    assert(vt.read(spark).count() === 10)
    assert(vt.read(spark).inputFiles.length === 1)
  }

  test("VersionedTable.mergeBucketed conflict resolution: a concurrent " +
    "DISJOINT-bucket merge rebases the carryover and both land; an " +
    "overlapping-bucket race still fails loudly; bucket-spec mismatch " +
    "is refused") {
    import spark.implicits._
    val path = tmp("vtable-race-merge")
    val vt = GraftSink.VersionedTable(path)
    def batch(rows: (Long, Long, String, String)*): DataFrame =
      rows.toSeq.toDF("key", "seq", "op", "payload")
    vt.mergeBucketed(batch((0L until 64L).map(k =>
      (k, k, "I", s"v$k")): _*), Seq("key"), Seq("seq"), numBuckets = 8)
    // pick a key in a DIFFERENT bucket than key 7's
    def bucketOf(k: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(8L))).head().getLong(0)
    val other = (8L until 64L).find(k => bucketOf(k) != bucketOf(7L)).get
    // v2: a deletion-vector slice in `other`'s bucket, which the
    // injected winner below rewrites and so drops
    vt.deleteKeys(spark, Seq("key"), Seq(Seq(other)), numBuckets = 8)
    assert(vt.manifestMeta(spark, 2L).get("dv").nonEmpty)
    // inject the disjoint merge INSIDE the first merge's publish
    // window: the first merge loses the rename race and must rebase
    val v = vt.mergeBucketed(batch((7L, 100L, "U", "v7b")),
      Seq("key"), Seq("seq"), numBuckets = 8,
      beforePublish = () => {
        vt.mergeBucketed(batch((other, 101L, "U", "vOther")),
          Seq("key"), Seq("seq"), numBuckets = 8)
        ()
      })
    assert(v === 4L) // injected winner took v3; loser rebased to v4
    // the rebased manifest lists the winner's slices, not the ones the
    // winner dropped
    assert(vt.manifestMeta(spark, 4L).get("dv") ===
      vt.manifestMeta(spark, 3L).get("dv"))
    val out = vt.read(spark)
    assert(out.count() === 64L)
    assert(out.where(col("key") === 7L).select("payload")
      .as[String].head() === "v7b")
    assert(out.where(col("key") === other).select("payload")
      .as[String].head() === "vOther")
    // overlapping buckets (same key): the rebase is NOT serial-
    // equivalent — the loser fails loudly
    val e = intercept[IllegalStateException](
      vt.mergeBucketed(batch((7L, 200L, "U", "late")),
        Seq("key"), Seq("seq"), numBuckets = 8,
        beforePublish = () => {
          vt.mergeBucketed(batch((7L, 201L, "U", "winner")),
            Seq("key"), Seq("seq"), numBuckets = 8)
          ()
        }))
    assert(e.getMessage.contains("disjoint"))
    assert(vt.read(spark).where(col("key") === 7L).select("payload")
      .as[String].head() === "winner")
    // the persisted #buckets spec refuses a mismatched caller loudly
    val e2 = intercept[IllegalArgumentException](
      vt.mergeBucketed(batch((1L, 300L, "U", "x")),
        Seq("key"), Seq("seq"), numBuckets = 16))
    assert(e2.getMessage.contains("bucket"))
    val e3 = intercept[IllegalArgumentException](
      vt.lookup(spark, Seq("key"), Seq(Seq(1L)), numBuckets = 16))
    assert(e3.getMessage.contains("bucket"))
  }

  test("VersionedTable schema evolution: adds null-fill old files, " +
    "drops stop projecting, per-version schemas resolve on time " +
    "travel, and a type change is refused (BACKWARD gate)") {
    import spark.implicits._
    val path = tmp("vtable-schema")
    val vt = GraftSink.VersionedTable(path)
    vt.commit(Seq((1L, "a1"), (2L, "a2")).toDF("key", "a"))
    // v2 ADDS column b: v1's files null-fill it under v2's schema
    vt.commit(Seq((3L, "a3", 30L)).toDF("key", "a", "b"))
    val v2 = vt.readVersion(spark, 2)
    assert(v2.columns === Array("key", "a", "b"))
    assert(v2.where(col("b").isNull).count() === 2L)
    assert(v2.where(col("b") === 30L).count() === 1L)
    // v3 DROPS column a: old files stop projecting it
    vt.commit(Seq((4L, 40L)).toDF("key", "b"))
    val v3 = vt.read(spark)
    assert(v3.columns === Array("key", "b"))
    assert(v3.count() === 4L)
    assert(v3.where(col("b").isNotNull).count() === 2L)
    // time travel resolves each version under ITS schema
    assert(vt.readVersion(spark, 1).columns === Array("key", "a"))
    assert(vt.readVersion(spark, 2).columns === Array("key", "a", "b"))
    // a type change on a carried column is refused loudly
    val e = intercept[IllegalArgumentException](
      vt.commit(Seq((5L, "not-a-long")).toDF("key", "b")))
    assert(e.getMessage.contains("BACKWARD"))
    assert(vt.currentVersion(spark) === 3L)
  }

  test("VersionedTable.changesAsOfTs: event-time CDF — boundaries " +
    "resolve through watermarks, then the feed is the file-pruned " +
    "changes between those versions") {
    import spark.implicits._
    val path = tmp("vtable-cdfasof")
    val vt = GraftSink.VersionedTable(path)
    def slice(k: Long, ts: Long): DataFrame =
      Seq((k, ts)).toDF("key", "commit_ts_us")
    vt.commitWithWatermark(slice(1L, 100L), "commit_ts_us")
    vt.commitWithWatermark(slice(2L, 200L), "commit_ts_us")
    vt.commitWithWatermark(slice(3L, 300L), "commit_ts_us")
    val feed = vt.changesAsOfTs(spark, 100L, 250L)
    assert(feed.select("key", "_commit_version")
      .as[(Long, Long)].collect().sorted === Array((2L, 2L)))
    // from-below-all means "since the beginning"
    assert(vt.changesAsOfTs(spark, 0L, 300L).count() === 3L)
    // an unresolvable upper bound fails loudly
    val e = intercept[IllegalArgumentException](
      vt.changesAsOfTs(spark, 0L, 50L))
    assert(e.getMessage.contains("watermark"))
  }

  test("VersionedTable: empty micro-batches commit without a watermark " +
    "instead of crashing the stream (ADVICE r15)") {
    import spark.implicits._
    val path = tmp("vtable-emptywm")
    val vt = GraftSink.VersionedTable(path)
    val empty = Seq.empty[(Long, Long)].toDF("key", "commit_ts_us")
    assert(vt.commitBatch(empty, 0L, tsCol = Some("commit_ts_us")) ===
      Some(1L))
    assert(!vt.manifestMeta(spark, 1L).contains("max_ts"))
    vt.commitWithWatermark(empty, "commit_ts_us")
    assert(!vt.manifestMeta(spark, 2L).contains("max_ts"))
    // a later real batch watermarks normally
    assert(vt.commitBatch(Seq((1L, 500L)).toDF("key", "commit_ts_us"),
      1L, tsCol = Some("commit_ts_us")) === Some(3L))
    assert(vt.manifestMeta(spark, 3L).get("max_ts") === Some("500"))
  }

  test("VersionedTable.readRange data skipping: manifest per-file " +
    "stats prune a range read to overlapping files only; stats ride " +
    "merge carries verbatim; correctness never depends on stats") {
    import spark.implicits._
    val path = tmp("vtable-skip")
    val vt = GraftSink.VersionedTable(path)
    def slice(lo: Long, hi: Long): DataFrame =
      (lo until hi).map(k => (k, s"p$k")).toDF("key", "tag")
        .repartition(1)
    vt.commit(slice(0, 100))
    vt.commit(slice(100, 200))
    vt.commit(slice(200, 300))
    val pruned = vt.readRange(spark, "key", 120L, 180L)
    assertSameRows(pruned,
      vt.read(spark).where(col("key").between(120, 180)))
    // the scan plans ONLY the middle slice's file
    assert(pruned.inputFiles.length === 1)
    assert(vt.read(spark).inputFiles.length === 3)
    // a column with no stats (strings) keeps every file — pruning is
    // an optimization, never a correctness dependency
    assert(vt.readRange(spark, "tag", 0L, 1L).inputFiles.length === 3)
    // stats survive the bucketed-merge carry: untouched buckets'
    // lines (stats included) move verbatim, and the rewritten
    // bucket's new files get fresh footer stats
    val bpath = tmp("vtable-skip-merge")
    val bvt = GraftSink.VersionedTable(bpath)
    def batch(rows: (Long, Long, String, String)*): DataFrame =
      rows.toSeq.toDF("key", "seq", "op", "payload")
    bvt.mergeBucketed(batch((0L until 64L).map(k =>
      (k, k, "I", s"v$k")): _*), Seq("key"), Seq("seq"), numBuckets = 8)
    bvt.mergeBucketed(batch((7L, 100L, "U", "v7b")),
      Seq("key"), Seq("seq"), numBuckets = 8)
    // seq 100 lives only in key 7's rewritten bucket: the range read
    // prunes to that bucket's files
    val hit = bvt.readRange(spark, "seq", 100L, 100L)
    assert(hit.select("payload").as[String].collect() === Array("v7b"))
    val b7 = spark.range(1).select(pmod(xxhash64(lit(7L)), lit(8L)))
      .head().getLong(0)
    assert(hit.inputFiles.forall(_.contains(s"__bucket=$b7/")))
    assert(hit.inputFiles.length < bvt.read(spark).inputFiles.length)
  }

  test("VersionedTable.optimizeZorder: content-identical Morton-curve " +
    "rewrite makes range reads prune on EVERY zorder dimension; " +
    "bucketed tables are refused") {
    import spark.implicits._
    val path = tmp("vtable-zorder")
    val vt = GraftSink.VersionedTable(path)
    // full 32×32 grid, hash-scattered: every file spans both dims
    val grid = spark.range(1024).select(
      (col("id") / 32).cast("long").as("a"),
      (col("id") % 32).as("b"),
      concat(lit("p"), col("id")).as("tag"))
      .repartition(8)
    vt.commit(grid)
    val contentBefore = vt.read(spark).orderBy("a", "b").collect()
    // scattered: a narrow range on either dim plans every file
    assert(vt.readRange(spark, "a", 0L, 3L).inputFiles.length === 8)
    val (zV, _, nAfter) = vt.optimizeZorder(spark, Seq("a", "b"), 64L)
    assert(zV === 2L)
    assert(nAfter >= 8) // 1024 rows / 64-row files = ~16
    assert(vt.read(spark).orderBy("a", "b").collect() === contentBefore)
    // zordered: BOTH dimensions prune
    val aScan = vt.readRange(spark, "a", 0L, 3L)
    val bScan = vt.readRange(spark, "b", 0L, 3L)
    assertSameRows(aScan, vt.read(spark).where(col("a").between(0, 3)))
    assertSameRows(bScan, vt.read(spark).where(col("b").between(0, 3)))
    assert(aScan.inputFiles.length < nAfter)
    assert(bScan.inputFiles.length < nAfter)
    // CDF crosses the zorder commit as zero changes
    assert(vt.changes(spark, 1L, 2L, keyCols = Seq("a", "b"))
      .count() === 0L)
    // a bucketed table refuses zorder — buckets ARE its clustering
    val bpath = tmp("vtable-zorder-bucketed")
    val bvt = GraftSink.VersionedTable(bpath)
    bvt.mergeBucketed(Seq((1L, 1L, "I", "x")).toDF("key", "seq", "op",
      "tag"), Seq("key"), Seq("seq"), numBuckets = 4)
    val e = intercept[IllegalArgumentException](
      bvt.optimizeZorder(spark, Seq("seq"), 100L))
    assert(e.getMessage.contains("bucketed"))
  }

  test("VersionedTable.deleteWhere deletion vectors: row-level deletes " +
    "rewrite NO data files; every read path filters them; CDF emits " +
    "exactly the fresh deletions; optimize materializes the filter " +
    "and drops the vector; vacuum reclaims stale sidecars") {
    import spark.implicits._
    val path = tmp("vtable-dv")
    val vt = GraftSink.VersionedTable(path)
    vt.commit((0L until 100L).map(k => (k, s"p$k")).toDF("key", "tag")
      .repartition(4))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def manifestLines(v: Long): Seq[String] = {
      val in = fs.open(new org.apache.hadoop.fs.Path(
        path, s"_manifests/v$v.manifest"))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(l => l.nonEmpty && !l.startsWith("#")).toList
      finally in.close()
    }
    val (v2, nDel) = vt.deleteWhere(spark, col("key") % 10 === 0)
    assert(v2 === 2L && nDel === 10L)
    // ZERO data files rewritten: identical file lines
    assert(manifestLines(2) === manifestLines(1))
    assert(vt.read(spark).count() === 90L)
    assert(vt.read(spark).where(col("key") % 10 === 0).count() === 0L)
    // time travel: v1 still has everything
    assert(vt.readVersion(spark, 1).count() === 100L)
    // re-deleting the same rows is a no-op (the scan is DV-filtered)
    val (v3, nDel2) = vt.deleteWhere(spark, col("key") % 10 === 0)
    assert(v3 === 3L && nDel2 === 0L)
    // a second delete merges cumulatively
    val (v4, nDel3) = vt.deleteWhere(spark, col("key") < 5)
    assert(v4 === 4L && nDel3 === 4L) // 0 already dead
    assert(vt.read(spark).count() === 86L)
    // CDF: the delete version emits exactly the FRESH deletions
    val feed = vt.changes(spark, 3L, 4L)
    assert(feed.select("key").as[Long].collect().sorted ===
      Array(1L, 2L, 3L, 4L))
    assert(feed.select("_change_type").distinct()
      .as[String].collect() === Array("delete"))
    // appends keep the vector live
    vt.commit(Seq((200L, "new")).toDF("key", "tag"))
    assert(vt.read(spark).count() === 87L)
    // readRange respects the vector
    assert(vt.readRange(spark, "key", 0L, 9L).count() === 5L) // 5,6,7,8,9
    // optimize materializes the filtered content and DROPS the vector
    val (optV, _, _) = vt.optimize(spark, 1000L)
    assert(!vt.manifestMeta(spark, optV).contains("dv"))
    assert(vt.read(spark).count() === 87L)
    assert(vt.read(spark).where(col("key") < 5 && col("key") >= 0)
      .count() === 0L)
    // vacuum reclaims the now-unreferenced sidecars
    val dvRoot = new org.apache.hadoop.fs.Path(path, "_dv")
    assert(fs.listStatus(dvRoot).length === 3)
    vt.vacuum(spark, retainLast = 1)
    assert(!fs.exists(dvRoot) || fs.listStatus(dvRoot).isEmpty)
    assert(vt.read(spark).count() === 87L)
  }

  test("VersionedTable.deleteWhere composes with the bucketed merge: " +
    "deleted rows never resurrect through a carried file, and the " +
    "merge-crossing CDF stays DV-aware") {
    import spark.implicits._
    val path = tmp("vtable-dv-merge")
    val vt = GraftSink.VersionedTable(path)
    def batch(rows: (Long, Long, String, String)*): DataFrame =
      rows.toSeq.toDF("key", "seq", "op", "payload")
    vt.mergeBucketed(batch((0L until 64L).map(k =>
      (k, k, "I", s"v$k")): _*), Seq("key"), Seq("seq"), numBuckets = 8)
    vt.deleteWhere(spark, col("key") === 7L || col("key") === 9L)
    assert(vt.read(spark).count() === 62L)
    // a merge touching ANOTHER bucket carries key 7/9's files — the
    // vector must ride the carry (no resurrection)
    val other = (10L until 64L).find { k =>
      val b = spark.range(1)
        .select(pmod(xxhash64(lit(k)), lit(8L))).head().getLong(0)
      val b7 = spark.range(1)
        .select(pmod(xxhash64(lit(7L)), lit(8L))).head().getLong(0)
      b != b7
    }.get
    vt.mergeBucketed(batch((other, 100L, "U", "upd")),
      Seq("key"), Seq("seq"), numBuckets = 8)
    assert(vt.read(spark).count() === 62L)
    assert(vt.read(spark).where(col("key").isin(7L, 9L)).count() === 0L)
    // a merge touching the DELETED key's own bucket reads DV-filtered
    // current state: key 7 re-inserts as a fresh row
    vt.mergeBucketed(batch((7L, 200L, "I", "back")),
      Seq("key"), Seq("seq"), numBuckets = 8)
    assert(vt.read(spark).where(col("key") === 7L)
      .select("payload").as[String].collect() === Array("back"))
    assert(vt.read(spark).count() === 63L)
    // merge-crossing CDF across that version: key 7 is an INSERT
    // (its old row was already dead at the delete version)
    val feed = vt.changes(spark, 3L, 4L, keyCols = Seq("key"))
    assert(feed.select("key", "_change_type").as[(Long, String)]
      .collect() === Array((7L, "insert")))
    // deleteKeys: the KEYED erasure prunes the position scan to the
    // key's bucket — on a fresh table, every recorded position lives
    // in that bucket's files
    val kpath = tmp("vtable-dv-keys")
    val kvt = GraftSink.VersionedTable(kpath)
    kvt.mergeBucketed(batch((0L until 64L).map(k =>
      (k, k, "I", s"v$k")): _*), Seq("key"), Seq("seq"), numBuckets = 8)
    val (v2k, nDel) = kvt.deleteKeys(spark, Seq("key"), Seq(Seq(11L)),
      numBuckets = 8)
    assert(nDel === 1L)
    assert(kvt.read(spark).where(col("key") === 11L).count() === 0L)
    assert(kvt.read(spark).count() === 63L)
    val dvRel = kvt.manifestMeta(spark, v2k)("dv")
    val b11 = spark.range(1)
      .select(pmod(xxhash64(lit(11L)), lit(8L))).head().getLong(0)
    val posFiles = spark.read.parquet(s"$kpath/$dvRel")
      .select("file").distinct().as[String].collect()
    assert(posFiles.nonEmpty)
    assert(posFiles.forall(_.contains(s"__bucket=$b11/")))
    // re-deleting is a no-op; a bucket-spec mismatch fails loudly
    assert(kvt.deleteKeys(spark, Seq("key"), Seq(Seq(11L)),
      numBuckets = 8)._2 === 0L)
    val e = intercept[IllegalArgumentException](
      kvt.deleteKeys(spark, Seq("key"), Seq(Seq(12L)), numBuckets = 16))
    assert(e.getMessage.contains("bucket"))
  }

  test("VersionedTable deletion vectors are PER-BUCKET SLICES keyed by " +
    "RELATIVE path: a second delete rewrites only its buckets' slices " +
    "(the first's carries verbatim), a merge drops its touched buckets' " +
    "slices, and a MOVED table still reads its deletes") {
    import spark.implicits._
    val path = tmp("vtable-dv-slices")
    val vt = GraftSink.VersionedTable(path)
    def batch(rows: (Long, Long, String, String)*): DataFrame =
      rows.toSeq.toDF("key", "seq", "op", "payload")
    vt.mergeBucketed(batch((0L until 64L).map(k =>
      (k, k, "I", s"v$k")): _*), Seq("key"), Seq("seq"), numBuckets = 8)
    def bucketOf(k: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(8L))).head().getLong(0)
    val k1 = 3L
    val k2 = (4L until 64L).find(k => bucketOf(k) != bucketOf(k1)).get
    val (v2, n1) = vt.deleteKeys(spark, Seq("key"), Seq(Seq(k1)),
      numBuckets = 8)
    assert(n1 === 1L)
    val dv2 = vt.manifestMeta(spark, v2)("dv").split(',').toSeq
    assert(dv2.size === 1 &&
      dv2.head.contains(s"__dvb=${bucketOf(k1)}"))
    val (v3, n2) = vt.deleteKeys(spark, Seq("key"), Seq(Seq(k2)),
      numBuckets = 8)
    assert(n2 === 1L)
    val dv3 = vt.manifestMeta(spark, v3)("dv").split(',').toSeq
    // the first delete's slice carries VERBATIM — same path, never
    // rewritten; the second adds exactly one slice for ITS bucket
    assert(dv3.size === 2 && dv3.contains(dv2.head))
    val freshSlice = dv3.filterNot(dv2.contains)
    assert(freshSlice.size === 1 &&
      freshSlice.head.contains(s"__dvb=${bucketOf(k2)}"))
    assert(vt.read(spark).count() === 62L)
    // DV rows are RELATIVE paths (move-safety, ADVICE r16)
    val dvFiles = spark.read.parquet(s"$path/${dv3.head}")
      .select("file").as[String].collect()
    assert(dvFiles.forall(f => f.startsWith("_data/")))
    // a merge into k1's bucket DROPS that bucket's slice (the rewrite
    // materialized the filter) and carries k2's verbatim
    vt.mergeBucketed(batch((k1, 100L, "I", "back")),
      Seq("key"), Seq("seq"), numBuckets = 8)
    val dv4 = vt.manifestMeta(spark, 4L).get("dv")
      .toSeq.flatMap(_.split(','))
    assert(dv4 === freshSlice)
    assert(vt.read(spark).count() === 63L)
    // MOVE the table: relative DV paths keep deleted rows dead
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val moved = tmp("vtable-dv-moved") + "/t"
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(moved)))
    val mvt = GraftSink.VersionedTable(moved)
    assert(mvt.read(spark).count() === 63L)
    assert(mvt.read(spark).where(col("key") === k2).count() === 0L)
    assert(mvt.read(spark).where(col("key") === k1)
      .select("payload").as[String].collect() === Array("back"))
  }

  test("VersionedTable.renameColumn: column mapping — one manifest " +
    "write, old files read through the map, per-version names on time " +
    "travel, writes translate to the stable physical name, and the " +
    "gate demands the API for drop+add-same-type") {
    import spark.implicits._
    val path = tmp("vtable-rename")
    val vt = GraftSink.VersionedTable(path)
    vt.commit(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("key", "tag", "qty"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def manifestFiles(v: Long): Set[String] = {
      val in = fs.open(new org.apache.hadoop.fs.Path(
        path, s"_manifests/v$v.manifest"))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(l => { val i = l.indexOf('\t')
          if (i < 0) l else l.substring(0, i) }).toSet
      finally in.close()
    }
    assert(vt.renameColumn(spark, "qty", "amount") === 2L)
    // zero data moves: identical file lines
    assert(manifestFiles(2L) === manifestFiles(1L))
    // the current read speaks the NEW name, old files' data intact
    assert(vt.read(spark).columns.toSeq === Seq("key", "tag", "amount"))
    assert(vt.read(spark).agg(sum("amount")).head().getLong(0) === 30L)
    // per-version names: v1 still reads under its own schema
    assert(vt.readVersion(spark, 1L).columns.toSeq ===
      Seq("key", "tag", "qty"))
    // a post-rename append speaks logical, stores PHYSICAL
    vt.commit(Seq((3L, "c", 30L)).toDF("key", "tag", "amount"))
    assert(vt.read(spark).agg(sum("amount")).head().getLong(0) === 60L)
    val v3File = (manifestFiles(3L) -- manifestFiles(2L)).head
    val raw3 = spark.read.parquet(s"$path/$v3File")
    assert(raw3.columns.contains("qty") && !raw3.columns.contains("amount"))
    // manifest stats carry physical names — range reads still prune
    // and filter on the LOGICAL name
    assert(vt.readRange(spark, "amount", 25L, 35L)
      .select("key").as[Long].collect() === Array(3L))
    // chained rename composes through the map (amount -> qty2, still
    // physically qty)
    assert(vt.renameColumn(spark, "amount", "qty2") === 4L)
    assert(vt.read(spark).columns.toSeq === Seq("key", "tag", "qty2"))
    // the gate: drop+add of the identical type is a suspected rename
    val e = intercept[IllegalArgumentException](
      vt.commit(Seq((4L, "d", 40L)).toDF("key", "tag", "qty3")))
    assert(e.getMessage.contains("suspected RENAME"))
    // the gate: a new column may not claim a HELD physical name
    val e2 = intercept[IllegalArgumentException](
      vt.commit(Seq((4L, "d", 40L, 1L))
        .toDF("key", "tag", "qty2", "qty")))
    assert(e2.getMessage.contains("physical"))
    // a bucketed merge under the map: carried files read through it,
    // the rewrite stores physical, the map rides the manifest
    vt.mergeBucketed(
      Seq((1L, 1L, "U", "a2", 11L)).toDF("key", "seq", "op", "tag", "qty2"),
      Seq("key"), Seq("seq"), numBuckets = 4)
    assert(vt.read(spark).agg(sum("qty2")).head().getLong(0) === 61L)
    val mergedFile = vt.read(spark).inputFiles
      .filter(_.contains("__bucket=")).head
    val rawM = spark.read.parquet(mergedFile)
    assert(rawM.columns.contains("qty") && !rawM.columns.contains("qty2"))
    // optimize materializes the logical view and RESETS the map
    val (optV, _, _) = vt.optimize(spark, 1000L, keyCols = Seq("key"))
    assert(!vt.manifestMeta(spark, optV).contains("rename"))
    val rawOpt = spark.read.parquet(vt.read(spark).inputFiles.head)
    assert(rawOpt.columns.contains("qty2") && !rawOpt.columns.contains("qty"))
    assert(vt.read(spark).agg(sum("qty2")).head().getLong(0) === 61L)
  }

  test("VersionedTable resolves the current version from " +
    "_last_checkpoint + forward probes — steady-state reads never " +
    "LIST _manifests/; stale hints heal, torn hints fall back") {
    import spark.implicits._
    val path = tmp("vtable-ckpt")
    val vt = GraftSink.VersionedTable(path)
    for (i <- 1 to 5)
      vt.commit(Seq((i.toLong, s"t$i")).toDF("key", "tag"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val hintP = new org.apache.hadoop.fs.Path(path,
      s"_manifests/${GraftSink.VersionedTable.LastCheckpoint}")
    def hint(): String = {
      val in = fs.open(hintP)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    def putHint(s: String): Unit = {
      val out = fs.create(hintP, true)
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    assert(fs.exists(hintP) && hint() === "5")
    // steady state: version resolution + reads never LIST the dir
    val before = GraftSink.VersionedTable.fallbackLists.get()
    assert(vt.currentVersion(spark) === 5L)
    assert(vt.read(spark).count() === 5L)
    assert(vt.readVersion(spark, 3L).count() === 3L) // time travel fine
    assert(GraftSink.VersionedTable.fallbackLists.get() === before)
    // STALE hint (a crash between rename and hint write): forward
    // probes heal it without a listing
    putHint("3")
    assert(vt.currentVersion(spark) === 5L)
    assert(GraftSink.VersionedTable.fallbackLists.get() === before)
    // torn/garbled hint: the full-listing fallback still resolves
    putHint("not-a-version")
    assert(vt.currentVersion(spark) === 5L)
    assert(GraftSink.VersionedTable.fallbackLists.get() === before + 1)
    // the next commit restores the hint
    vt.commit(Seq((6L, "t6")).toDF("key", "tag"))
    assert(hint() === "6")
    assert(vt.currentVersion(spark) === 6L)
  }

  test("VersionedTable.restore: time-travel rollback as a new version " +
    "— zero data moves, history intact, dv/bucket state carried; CDF " +
    "across it is the keyed diff") {
    import spark.implicits._
    val path = tmp("vtable-restore")
    val vt = GraftSink.VersionedTable(path)
    def slice(tag: String, ks: Seq[Long]): DataFrame =
      ks.map(k => (k, tag)).toDF("key", "tag")
    vt.commit(slice("a", Seq(1, 2)))
    vt.commit(slice("b", Seq(3)))
    vt.commit(slice("z", Seq(9)), overwrite = true)
    assert(vt.restore(spark, 2L) === 4L)
    // content = v2 exactly; the overwritten v3 remains time-travelable
    assert(vt.read(spark).select("key").as[Long].collect().sorted ===
      Array(1L, 2L, 3L))
    assert(vt.readVersion(spark, 3).select("key")
      .as[Long].collect() === Array(9L))
    // CDF across the restore: keyed diff (9 deleted, 1/2/3 inserted)
    val feed = vt.changes(spark, 3L, 4L, keyCols = Seq("key"))
    assert(feed.orderBy("key").select("key", "_change_type")
      .as[(Long, String)].collect() ===
      Array((1L, "insert"), (2L, "insert"), (3L, "insert"),
        (9L, "delete")))
    // a restore to a pre-delete version revives the rows (dv carried
    // per-version), and restoring the DELETED version re-kills them
    vt.deleteWhere(spark, col("key") === 1L) // v5
    assert(vt.read(spark).count() === 2L)
    vt.restore(spark, 4L) // v6: pre-delete
    assert(vt.read(spark).count() === 3L)
    vt.restore(spark, 5L) // v7: the deleted state, dv ref carried
    assert(vt.read(spark).count() === 2L)
    assert(vt.read(spark).where(col("key") === 1L).count() === 0L)
  }

  test("TableCdfSource: streams versions as they land — one version " +
    "per trigger, optimize commits contribute nothing, and a merge " +
    "version fails the stream loudly") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val path = tmp("vtable-streamcdf")
    val vt = GraftSink.VersionedTable(path)
    vt.commit(Seq((1L, "a"), (2L, "a")).toDF("key", "tag"))
    vt.commit(Seq((3L, "b")).toDF("key", "tag"))
    vt.optimize(spark, 1000L) // v3: content-identical republish
    vt.commit(Seq((4L, "c")).toDF("key", "tag"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType)))
    drainToTable(graft.sources.TableCdfSource
      .stream(spark, path, schema, maxVersionsPerTrigger = 1), "cdf_src_test")
    val got = spark.table("cdf_src_test")
      .select("key", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().sorted
    // v3 (optimize) emits nothing; v4's append is attributed to 4
    assert(got === Array((1L, "insert", 1L), (2L, "insert", 1L),
      (3L, "insert", 2L), (4L, "insert", 4L)))
    // a merge version cannot stream WITHOUT keyCols — loud, with the
    // fix named (pass keyCols to serve the keyed diff)
    vt.mergeBucketed(Seq((1L, 10L, "U", "a2")).toDF("key", "seq", "op",
      "tag").select(col("key"), col("seq"), col("op"), col("tag")),
      Seq("key"), Seq("seq"), numBuckets = 4)
    val q2 = graft.sources.TableCdfSource
      .stream(spark, path, schema, maxVersionsPerTrigger = 10)
      .writeStream.format("memory").queryName("cdf_src_test2")
      .option("checkpointLocation", tmp("ckpt-cdf2"))
      .trigger(Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q2.awaitTermination())
    assert(e.getMessage.contains("keyCols") ||
      Option(e.getCause).exists(_.getMessage.contains("keyCols")))
  }

  test("TableCdfSource serves MERGE versions as the file-pruned keyed " +
    "diff — one partition per touched bucket, carried-verbatim files " +
    "NEVER planned (census) — and DV-delete versions as fresh-position " +
    "deletes; preimages on demand") {
    import spark.implicits._
    val path = tmp("vtable-streamcdf-merge")
    val vt = GraftSink.VersionedTable(path)
    def batch(rows: (Long, Long, String, String)*): DataFrame =
      rows.toSeq.toDF("key", "seq", "op", "tag")
    def bucketOf(k: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(8L))).head().getLong(0)
    vt.mergeBucketed(batch((0L until 64L).map(k =>
      (k, k, "I", s"a$k")): _*), Seq("key"), Seq("seq"), numBuckets = 8)
    // v2: update key 5, tombstone key 6, insert key 100
    vt.mergeBucketed(batch((5L, 100L, "U", "b5"), (6L, 101L, "D", "x"),
      (100L, 102L, "I", "new")), Seq("key"), Seq("seq"), numBuckets = 8)
    // v3: DV-erase key 7
    vt.deleteKeys(spark, Seq("key"), Seq(Seq(7L)), numBuckets = 8)
    val dataSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("seq",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType)))
    val fullSchema = org.apache.spark.sql.types.StructType(
      dataSchema.fields.toSeq :+
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType) :+
        org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.LongType))
    // ---- census: plan v2 directly and pin the file-pruning law
    val mbs = new graft.sources.CdfMicroBatchStream(fullSchema, path,
      Long.MaxValue, Seq("key"), false)
    val parts = mbs.planInputPartitions(
      graft.sources.CdfOffset(1L), graft.sources.CdfOffset(2L))
    val mps = parts.toSeq.map(_.asInstanceOf[graft.sources.CdfMergePartition])
    val touched = Set(5L, 6L, 100L).map(bucketOf)
    assert(mps.size === touched.size) // one partition per touched bucket
    def manifestFiles(v: Long): Set[String] = {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val in = fs.open(new org.apache.hadoop.fs.Path(
        path, s"_manifests/v$v.manifest"))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(l => { val i = l.indexOf('\t'); if (i < 0) l
          else l.substring(0, i) }).toSet
      finally in.close()
    }
    val (f1, f2) = (manifestFiles(1L), manifestFiles(2L))
    val planned = mps.flatMap(m => m.removed ++ m.added).toSet
    assert(planned === (f1 -- f2) ++ (f2 -- f1)) // exactly the diff
    assert(planned.intersect(f1.intersect(f2)).isEmpty) // no carried file
    // v3 plans as delete partitions reading ONLY key 7's bucket slice
    val dparts = mbs.planInputPartitions(
      graft.sources.CdfOffset(2L), graft.sources.CdfOffset(3L))
    val dps = dparts.toSeq
      .map(_.asInstanceOf[graft.sources.CdfDeletePartition])
    assert(dps.size === 1 &&
      dps.head.freshSlices.head.contains(s"__dvb=${bucketOf(7L)}"))
    // ---- the stream end-to-end, preimages on
    drainToTable(graft.sources.TableCdfSource
      .stream(spark, path, dataSchema, maxVersionsPerTrigger = 1,
        keyCols = Seq("key"), preimages = true), "cdf_merge_src_test")
    val got = spark.table("cdf_merge_src_test")
      .as[(Long, Long, String, String, Long)].collect().toSet
    val v1Rows = (0L until 64L)
      .map(k => (k, k, s"a$k", "insert", 1L)).toSet
    assert(got === v1Rows ++ Set(
      (5L, 5L, "a5", "update_preimage", 2L),
      (5L, 100L, "b5", "update_postimage", 2L),
      (6L, 6L, "a6", "delete", 2L),
      (100L, 102L, "new", "insert", 2L),
      (7L, 7L, "a7", "delete", 3L)))
  }

  test("VersionedTable.commitBatch: a redelivered batch id is skipped " +
    "(exactly-once under foreachBatch crash-replay); meta survives in " +
    "the manifest header and never leaks into the file list") {
    import spark.implicits._
    val path = tmp("vtable-batch")
    val vt = GraftSink.VersionedTable(path)
    assert(vt.commitBatch(Seq((1L, "a")).toDF("key", "tag"), 0L) ===
      Some(1L))
    assert(vt.commitBatch(Seq((2L, "b")).toDF("key", "tag"), 1L) ===
      Some(2L))
    // the crash-replay: batch 1 redelivered — no new version, no dupes
    assert(vt.commitBatch(Seq((2L, "b")).toDF("key", "tag"), 1L) === None)
    assert(vt.currentVersion(spark) === 2L)
    assert(vt.read(spark).count() === 2L)
    // kind + schema are standing stamps on every manifest now; the
    // batch id is the meta under test
    val m2 = vt.manifestMeta(spark, 2L)
    assert(m2.get("batch") === Some("1"))
    assert(m2.get("kind") === Some("append"))
    assert(m2.contains("schema"))
    // header lines are metadata, not files: time travel still exact
    assert(vt.readVersion(spark, 1).count() === 1L)
    // line-unsafe meta is refused loudly
    intercept[IllegalArgumentException](
      vt.commit(Seq((3L, "c")).toDF("key", "tag"),
        meta = Map("k" -> "bad\nline")))
  }

  test("VersionedTable.readAsOfTs: event-time time travel resolves to " +
    "the highest watermarked version <= T; unwatermarked versions are " +
    "skipped; below-all fails loudly") {
    import spark.implicits._
    val path = tmp("vtable-asof")
    val vt = GraftSink.VersionedTable(path)
    def slice(tag: String, ts: Long): DataFrame =
      Seq((tag, ts)).toDF("tag", "commit_ts_us")
    vt.commitWithWatermark(slice("a", 100L), "commit_ts_us")
    vt.commit(slice("wall", 5000L)) // no watermark — a plain commit
    vt.commitWithWatermark(slice("b", 200L), "commit_ts_us")
    assert(vt.manifestMeta(spark, 3L).get("max_ts") === Some("200"))
    // as-of 150 → v1 (v2 has no watermark, v3's is 200 > 150)
    assert(vt.readAsOfTs(spark, 150L).select("tag")
      .as[String].collect() === Array("a"))
    // as-of 200 → v3 (append semantics: a + wall + b)
    assert(vt.readAsOfTs(spark, 200L).count() === 3L)
    val e = intercept[IllegalArgumentException](vt.readAsOfTs(spark, 50L))
    assert(e.getMessage.contains("watermark"))
    // the streaming batch commit stamps watermark + batch id together
    assert(vt.commitBatch(slice("c", 300L), 9L,
      tsCol = Some("commit_ts_us")) === Some(4L))
    val m4 = vt.manifestMeta(spark, 4L)
    assert(m4.get("batch") === Some("9"))
    assert(m4.get("max_ts") === Some("300"))
  }

  test("VersionedTable: two RACING writers both land — the rename race " +
    "loser retries at the next version with its data intact") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = tmp("vtable-race")
    val vt = GraftSink.VersionedTable(path)
    vt.commit(Seq((0L, "base")).toDF("key", "tag"))
    val fs = Seq("w1", "w2", "w3").map(tag => Future {
      vt.commit(Seq((tag.hashCode.toLong, tag)).toDF("key", "tag"))
    })
    val versions = Await.result(Future.sequence(fs), 120.seconds)
    // all three landed at distinct versions 2..4
    assert(versions.sorted === Seq(2L, 3L, 4L))
    // the final table holds base + all three writers' rows
    assert(vt.read(spark).count() === 4L)
    assert(vt.read(spark).select("tag").as[String].collect().toSet ===
      Set("base", "w1", "w2", "w3"))
  }

  test("VersionedTable.updateWhere: merge-on-read UPDATE — old files " +
    "carried verbatim, positions killed + transformed rows appended in " +
    "one commit; time travel intact; CDF and the stream serve " +
    "pre/post-image legs; types preserved; no-match is a no-op") {
    import spark.implicits._
    val path = tmp("vtable-update")
    val vt = GraftSink.VersionedTable(path)
    vt.commit((0L until 100L).map(k => (k, s"p$k", k * 10L))
      .toDF("key", "tag", "qty").repartition(4))
    val before = vt.read(spark).inputFiles.toSet
    val (v2, n) = vt.updateWhere(spark, col("key") < 10L,
      Map("qty" -> (col("qty") + 1L), "tag" -> lit("upd")))
    assert(v2 === 2L && n === 10L)
    // every pre-update file still listed; new files appended
    val after = vt.read(spark).inputFiles.toSet
    assert(before.subsetOf(after) && after.size > before.size)
    // content: 10 rows transformed, 90 untouched, count stable
    assert(vt.read(spark).count() === 100L)
    assert(vt.read(spark).where(col("tag") === "upd")
      .agg(sum("qty")).head().getLong(0) === (0L until 10L)
      .map(_ * 10 + 1).sum)
    // schema/type preserved (the SET is cast to the column's type)
    assert(vt.read(spark).schema("qty").dataType ===
      org.apache.spark.sql.types.LongType)
    // time travel: v1 unchanged
    assert(vt.readVersion(spark, 1L).where(col("tag") === "upd")
      .count() === 0L)
    // batch CDF: post-images always, pre-images on demand
    val post = vt.changes(spark, 1L, 2L)
    assert(post.where(col("_change_type") === "update_postimage")
      .count() === 10L && post.count() === 10L)
    val both = vt.changes(spark, 1L, 2L, Nil, emitPreimages = true)
    assert(both.where(col("_change_type") === "update_preimage")
      .count() === 10L && both.count() === 20L)
    // updating already-updated rows composes (DV-filtered scan)
    val (v3, n2) = vt.updateWhere(spark, col("tag") === "upd",
      Map("qty" -> (col("qty") + 100L)))
    assert(v3 === 3L && n2 === 10L)
    assert(vt.read(spark).where(col("key") === 0L)
      .select("qty").as[Long].head() === 101L)
    // no-match update is a no-op version
    assert(vt.updateWhere(spark, col("key") === -1L,
      Map("qty" -> lit(0L)))._2 === 0L)
    // the STREAM serves the update legs (startingVersion skips v1)
    val dataSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("qty",
        org.apache.spark.sql.types.LongType)))
    drainToTable(graft.sources.TableCdfSource
      .stream(spark, path, dataSchema, preimages = true,
        startingVersion = 2L), "cdf_upd_src_test")
    val got = spark.table("cdf_upd_src_test")
      .groupBy("_commit_version", "_change_type").count()
      .as[(Long, String, Long)].collect().toSet
    // v1 skipped (startingVersion=2); v2/v3 = 10 pre + 10 post each;
    // v4 (no-match) emits nothing
    assert(got === Set(
      (2L, "update_preimage", 10L), (2L, "update_postimage", 10L),
      (3L, "update_preimage", 10L), (3L, "update_postimage", 10L)))
  }

  test("VersionedTable.mergeBucketed releases the batch it materialized, " +
    "after a publish and after a refused CHECK") {
    import spark.implicits._
    val vt = GraftSink.VersionedTable(tmp("vtable-release"))
    def batch(key: Long, qty: Long): DataFrame =
      Seq((key, 1L, "I", qty)).toDF("key", "seq", "op", "qty")
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    vt.mergeBucketed(batch(1L, 5L), Seq("key"), Seq("seq"), numBuckets = 4)
    assert(persisted === before)
    vt.addConstraint(spark, "qty_pos", "qty > 0")
    intercept[IllegalArgumentException](vt.mergeBucketed(batch(2L, -1L),
      Seq("key"), Seq("seq"), numBuckets = 4))
    assert(persisted === before)
  }

  test("VersionedTable CHECK constraints: ADD validates standing " +
    "content; appends, merges, and updates validate BEFORE writing " +
    "(no orphan files); constraints carry across delete/rename/restore " +
    "and reset on overwrite") {
    import spark.implicits._
    val path = tmp("vtable-checks")
    val vt = GraftSink.VersionedTable(path)
    vt.commit(Seq((1L, 10L), (2L, 20L)).toDF("key", "qty"))
    // ADD over violating content is refused
    val e0 = intercept[IllegalArgumentException](
      vt.addConstraint(spark, "qty_big", "qty >= 15"))
    assert(e0.getMessage.contains("existing rows violate"))
    assert(vt.addConstraint(spark, "qty_pos", "qty > 0") === 2L)
    // a violating append is refused whole, and leaves NO orphan data
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def dataFileCount: Int = {
      def walk(p: org.apache.hadoop.fs.Path): Int =
        fs.listStatus(p).map(s =>
          if (s.isDirectory) walk(s.getPath)
          else if (s.getPath.getName.endsWith(".parquet")) 1 else 0).sum
      walk(new org.apache.hadoop.fs.Path(path, "_data"))
    }
    val filesBefore = dataFileCount
    val e1 = intercept[IllegalArgumentException](
      vt.commit(Seq((3L, -5L)).toDF("key", "qty")))
    assert(e1.getMessage.contains("qty_pos"))
    assert(dataFileCount === filesBefore) // nothing written
    assert(vt.currentVersion(spark) === 2L)
    // a valid append passes and CARRIES the check
    vt.commit(Seq((3L, 30L)).toDF("key", "qty"))
    assert(vt.manifestMeta(spark, 3L)("checks").contains("qty_pos"))
    // merges validate their batch
    val e2 = intercept[IllegalArgumentException](
      vt.mergeBucketed(Seq((4L, 1L, "I", -1L))
        .toDF("key", "seq", "op", "qty"), Seq("key"), Seq("seq"),
        numBuckets = 4))
    assert(e2.getMessage.contains("qty_pos"))
    // updates validate the transformed rows
    val e3 = intercept[IllegalArgumentException](
      vt.updateWhere(spark, col("key") === 1L,
        Map("qty" -> lit(-1L))))
    assert(e3.getMessage.contains("qty_pos"))
    // checks survive a delete and a restore
    vt.deleteWhere(spark, col("key") === 2L) // v4
    assert(vt.manifestMeta(spark, 4L)("checks").contains("qty_pos"))
    vt.restore(spark, 3L) // v5
    assert(vt.manifestMeta(spark, 5L)("checks").contains("qty_pos"))
    // an overwrite resets table metadata, checks included
    vt.commit(Seq((9L, -9L)).toDF("key", "qty"), overwrite = true)
    assert(!vt.manifestMeta(spark, 6L).contains("checks"))
    // history reads the whole story from headers alone
    assert(vt.history(spark).select("kind").as[String].collect()
      .toSeq === Seq("append", "constraint", "append", "delete",
        "restore", "overwrite"))
  }

  test("Syncpoint: a reader INSIDE the cross-table commit window " +
    "still resolves the previous consistent pair; the pin moves only " +
    "when the syncpoint publishes; racing publishes converge on max") {
    import spark.implicits._
    val base = tmp("vtable-syncpoint")
    val ta = GraftSink.VersionedTable(s"$base/a")
    val tb = GraftSink.VersionedTable(s"$base/b")
    val coord = s"$base/_sp"
    // txn 1
    val va1 = ta.commit(Seq((1L, "a1")).toDF("key", "tag"))
    val vb1 = tb.commit(Seq((2L, "b1")).toDF("key", "tag"))
    GraftSink.Syncpoint.publish(spark, coord,
      Map("a" -> va1, "b" -> vb1))
    // txn 2 HALF-committed: A has landed, the syncpoint has not —
    // the reader in this window sees txn 1 exactly
    val va2 = ta.commit(Seq((3L, "a2")).toDF("key", "tag"))
    assert(GraftSink.Syncpoint.readAt(spark, coord, "a", ta)
      .count() === 1L)
    assert(GraftSink.Syncpoint.resolve(spark, coord)._2 ===
      Map("a" -> va1, "b" -> vb1))
    // ... even though A's newer version physically exists
    assert(ta.currentVersion(spark) === va2)
    // txn 2 completes: B lands, the syncpoint publishes, both move
    val vb2 = tb.commit(Seq((4L, "b2")).toDF("key", "tag"))
    GraftSink.Syncpoint.publish(spark, coord,
      Map("a" -> va2, "b" -> vb2))
    assert(GraftSink.Syncpoint.readAt(spark, coord, "a", ta)
      .count() === 2L)
    assert(GraftSink.Syncpoint.readAt(spark, coord, "b", tb)
      .count() === 2L)
    // a publish pinning only ONE table merges with the standing pins
    // of a racing... (serial here): resolve always names both tables
    val n = GraftSink.Syncpoint.publish(spark, coord,
      Map("a" -> va2, "b" -> vb2))
    assert(GraftSink.Syncpoint.resolve(spark, coord)._1 === n)
  }

  test("SinkConfig: uris compile to the right sinks and round-trip") {
    val parsed = SinkConfig.parse(
      "parquet:/out/x?partitionBy=__partition,op&maxRecords=5000&mode=append")
    assert(parsed === GraftSink.Files("/out/x", "parquet",
      Seq("__partition", "op"), 5000L, org.apache.spark.sql.SaveMode.Append))
    assert(SinkConfig.parse("topic:/out/t?partitions=4&strategy=keyhash") ===
      GraftSink.Topic("/out/t", 4, Route.KeyHash))
    assert(SinkConfig.parse("batched:/out/w?windowUs=60000000") ===
      GraftSink.Batched(GraftSink.Files("/out/w"), 60000000L))
    assert(SinkConfig.parse("memory:my_view") === GraftSink.Memory("my_view"))
    intercept[IllegalArgumentException] { SinkConfig.parse("kafka:/nope") }
    intercept[IllegalArgumentException] { SinkConfig.parse("no-colon") }
    // an end-to-end write through a parsed uri
    val path = tmp("sink-uri")
    SinkConfig.parse(s"json:$path").write(changelog)
    assertSameRows(changelog,
      spark.read.schema(changelog.schema).json(path))
  }

  test("Jdbc sink: batch replay converges; untouched batches survive") {
    import spark.implicits._
    val db = tmp("sink-jdbc") + "/derby"
    val sink = GraftSink.Jdbc(s"jdbc:derby:$db;create=true", "t",
      batchDurationUs = 1000L, tsCol = "commit_ts_us")
    val rows = Seq(
      (1L, 100L, "a"), (2L, 900L, "b"),   // batch 0
      (3L, 1500L, "c"),                   // batch 1
      (4L, 2500L, "d")                    // batch 2
    ).toDF("key", "commit_ts_us", "payload")
    sink.write(rows)                      // first write creates the table
    assert(sink.read(spark).count() === 4L)
    // replay ONLY batch 1, with a corrected row: its window is replaced,
    // batches 0 and 2 are untouched — exactly-once under redelivery
    val replay = Seq((3L, 1500L, "c2")).toDF("key", "commit_ts_us", "payload")
    sink.write(replay)
    val back = sink.read(spark).select("key", "commit_ts_us", "payload")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(back === Seq((1L, 100L, "a"), (2L, 900L, "b"),
      (3L, 1500L, "c2"), (4L, 2500L, "d")))
    // full replay is a no-op in content
    sink.write(rows.withColumn("payload",
      when(col("key") === 3L, "c2").otherwise(col("payload"))))
    assert(sink.read(spark).count() === 4L)
  }

  test("Jdbc sink: a crash BETWEEN the delete and the append still " +
    "converges on replay — every crash point is replay-safe") {
    import spark.implicits._
    val db = tmp("sink-jdbc-crash") + "/derby"
    val sink = GraftSink.Jdbc(s"jdbc:derby:$db;create=true", "t2",
      batchDurationUs = 1000L, tsCol = "commit_ts_us")
    val rows = Seq(
      (1L, 100L, "a"), (2L, 1500L, "b"), (3L, 2500L, "c")
    ).toDF("key", "commit_ts_us", "payload")
    sink.write(rows)
    // simulate the writer crashing AFTER its DELETE committed but
    // BEFORE any append row landed: batch window 1 is now a transient
    // hole (the documented visibility window)
    sink.deleteBatches(Array(1L))
    assert(sink.read(spark).count() === 2L)
    // the redelivered write must refill exactly that window
    sink.write(rows)
    val back = sink.read(spark).select("key", "payload")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(back === Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("Jdbc deleteBatches before the table exists is a clean no-op " +
    "(first delivery), and the delete connection honors options") {
    val db = tmp("sink-jdbc-fresh") + "/derby"
    val sink = GraftSink.Jdbc(s"jdbc:derby:$db;create=true", "nope",
      batchDurationUs = 1000L)
    sink.deleteBatches(Array(0L)) // must not throw: Append will create it
  }

  // ---- round 18: OCC re-derive, stats-pruned position scans, ----
  // ---- chunked merge-CDF, restore CDF, pin-aware vacuum        ----

  test("VersionedTable.deleteWhere OCC: a concurrent APPEND landing in " +
    "the publish window re-derives the positions — the delete runs " +
    "serially AFTER the winner and kills its matching rows too") {
    import spark.implicits._
    val path = tmp("vtable-occ-delete")
    val vt = GraftSink.VersionedTable(path)
    vt.commit((0L until 64L).map(k => (k, s"v$k")).toDF("key", "tag"))
    val (v, n) = vt.deleteWhere(spark, col("key") < 8L,
      beforePublish = () => {
        vt.commit(Seq((100L, "late"), (5L, "late5")).toDF("key", "tag"))
        ()
      })
    assert(v === 3L) // winner took v2; the delete re-derived onto it
    assert(n === 9L) // 8 original keys < 8 + the appended key-5 row
    val out = vt.read(spark)
    assert(out.where(col("key") < 8L).count() === 0L)
    assert(out.count() === 57L)
  }

  test("VersionedTable.deleteWhere OCC: a METADATA-ONLY winner " +
    "(addConstraint) rebases without re-deriving — the delete lands " +
    "on top carrying the winner's checks, and they bind") {
    import spark.implicits._
    val path = tmp("vtable-occ-delete-meta")
    val vt = GraftSink.VersionedTable(path)
    vt.commit((1L to 20L).map(k => (k, k * 10)).toDF("key", "qty"))
    val (v, n) = vt.deleteWhere(spark, col("key") <= 3L,
      beforePublish = () => {
        vt.addConstraint(spark, "qty_pos", "qty > 0"); ()
      })
    assert(v === 3L && n === 3L)
    assert(vt.manifestMeta(spark, 3L).get("checks")
      .exists(_.contains("qty_pos")))
    val e = intercept[IllegalArgumentException](
      vt.commit(Seq((99L, -1L)).toDF("key", "qty")))
    assert(e.getMessage.contains("qty_pos"))
  }

  test("VersionedTable.updateWhere OCC: a concurrently-added " +
    "constraint forces the re-derive which re-validates; a content " +
    "winner re-derives serially after it") {
    import spark.implicits._
    val path = tmp("vtable-occ-update")
    val vt = GraftSink.VersionedTable(path)
    vt.commit((1L to 10L).map(k => (k, k * 10)).toDF("key", "qty"))
    // constraint winner: SET qty = -5 is now a violation — refused
    val e = intercept[IllegalArgumentException](
      vt.updateWhere(spark, col("key") === 1L,
        Map("qty" -> lit(-5L)),
        beforePublish = () => {
          vt.addConstraint(spark, "qty_pos", "qty > 0"); ()
        }))
    assert(e.getMessage.contains("qty_pos"))
    // content winner: the update re-derives and also rewrites the
    // appended matching row (serial order winner-then-update)
    val (v2, n2) = vt.updateWhere(spark, col("qty") === 100L,
      Map("qty" -> lit(1000L)),
      beforePublish = () => {
        vt.commit(Seq((11L, 100L)).toDF("key", "qty")); ()
      })
    assert(v2 === 4L && n2 === 2L)
    assert(vt.read(spark).where(col("qty") === 1000L).count() === 2L)
  }

  test("VersionedTable.commit CHECK guard: a constraint added while " +
    "the commit is writing fails the publish loudly instead of riding " +
    "into a manifest that claims it holds") {
    import spark.implicits._
    val path = tmp("vtable-commit-check-race")
    val vt = GraftSink.VersionedTable(path)
    vt.commit((1L to 5L).map(k => (k, k * 10)).toDF("key", "qty"))
    val e = intercept[IllegalArgumentException](
      vt.commit(Seq((6L, -60L)).toDF("key", "qty"),
        beforePublish = () => {
          vt.addConstraint(spark, "qty_pos", "qty > 0"); ()
        }))
    assert(e.getMessage.contains("ADD CONSTRAINT"))
    assert(vt.currentVersion(spark) === 2L) // nothing published
  }

  test("VersionedTable.addConstraint OCC: re-validates against the " +
    "winner's content — a racing violating append refuses the " +
    "constraint; a clean one lands it at the next version") {
    import spark.implicits._
    val path = tmp("vtable-occ-constraint")
    val vt = GraftSink.VersionedTable(path)
    vt.commit((1L to 5L).map(k => (k, k * 10)).toDF("key", "qty"))
    val e = intercept[IllegalArgumentException](
      vt.addConstraint(spark, "qty_pos", "qty > 0",
        beforePublish = () => {
          vt.commit(Seq((9L, -1L)).toDF("key", "qty")); ()
        }))
    assert(e.getMessage.contains("violate"))
    val v = vt.addConstraint(spark, "qty_cap", "qty <= 1000",
      beforePublish = () => {
        vt.commit(Seq((10L, 500L)).toDF("key", "qty")); ()
      })
    assert(v === 4L)
    assert(vt.manifestMeta(spark, 4L).get("checks")
      .exists(_.contains("qty_cap")))
  }

  test("VersionedTable conflict matrix: every writer with a " +
    "beforePublish seam, against a metadata-only, a disjoint-bucket and " +
    "an append winner, lands serially after the winner or fails loudly") {
    import spark.implicits._
    def bucketOf(k: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(8L))).head().getLong(0)
    val other = (8L until 16L).find(k => bucketOf(k) != bucketOf(7L)).get
    def upserts(rows: (Long, Long, String, Long)*): DataFrame =
      rows.toSeq.toDF("key", "seq", "op", "qty")
    def appends(rows: (Long, Long, Long)*): DataFrame =
      rows.toSeq.toDF("key", "seq", "qty")
    type Rows = Map[Long, Long] // key -> qty
    type Table = GraftSink.VersionedTable
    // one bucketed v1, copied per cell (manifest lines are root-relative)
    val base = tmp("vtable-matrix-base")
    GraftSink.VersionedTable(base).mergeBucketed(
      upserts((0L until 16L).map(k => (k, k, "I", 10L * (k + 1))): _*),
      Seq("key"), Seq("seq"), numBuckets = 8)
    val start: Rows = (0L until 16L).map(k => k -> 10L * (k + 1)).toMap
    // (name, the write injected in the seam, its effect on the rows)
    val winners: Seq[(String, Table => Unit, Rows => Rows)] = Seq(
      ("constraint",
        vt => { vt.addConstraint(spark, "qty_pos", "qty > 0"); () },
        identity),
      ("disjoint merge",
        vt => {
          vt.mergeBucketed(upserts((other, 100L, "U", 999L)),
            Seq("key"), Seq("seq"), numBuckets = 8); ()
        },
        _ + (other -> 999L)),
      ("append",
        vt => { vt.commit(appends((100L, 100L, 1000L))); () },
        _ + (100L -> 1000L)))
    // (name, the write under test given its seam, its effect on the rows)
    val ops: Seq[(String, (Table, () => Unit) => Long, Rows => Rows)] = Seq(
      ("append",
        (vt, seam) => vt.commit(appends((50L, 50L, 500L)),
          beforePublish = seam),
        _ + (50L -> 500L)),
      ("overwrite",
        (vt, seam) => vt.commit(appends((50L, 50L, 500L)),
          overwrite = true, beforePublish = seam),
        _ => Map(50L -> 500L)),
      ("mergeBucketed",
        (vt, seam) => vt.mergeBucketed(upserts((7L, 70L, "U", 777L)),
          Seq("key"), Seq("seq"), numBuckets = 8, beforePublish = seam),
        _ + (7L -> 777L)),
      ("deleteWhere",
        (vt, seam) => vt.deleteWhere(spark, col("key") < 4L, seam)._1,
        _ -- (0L until 4L)),
      ("updateWhere",
        (vt, seam) => vt.updateWhere(spark, col("key") === 3L,
          Map("qty" -> lit(333L)), seam)._1,
        _ + (3L -> 333L)),
      ("addConstraint",
        (vt, seam) => vt.addConstraint(spark, "qty_cap", "qty < 100000",
          seam),
        identity))
    // the cells that refuse to land: (op, winner) -> message fragment
    val loud = Map(
      ("append", "constraint") -> "ADD CONSTRAINT",
      ("mergeBucketed", "constraint") -> "disjoint",
      ("mergeBucketed", "append") -> "disjoint")
    for ((opName, run, opEffect) <- ops;
         (winName, inject, winEffect) <- winners) withClue(
        s"$opName vs $winName: ") {
      val dir = tmp("vtable-matrix")
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(base), new java.io.File(dir))
      val vt = GraftSink.VersionedTable(dir)
      val outcome =
        try Right(run(vt, () => inject(vt)))
        catch { case e: RuntimeException => Left(e.getMessage) }
      val afterWinner = winEffect(start)
      val expected = loud.get((opName, winName)) match {
        case Some(fragment) =>
          assert(outcome.fold(_.contains(fragment), _ => false), outcome)
          afterWinner
        case None =>
          assert(outcome === Right(3L))
          if (winName == "constraint")
            assert(vt.manifestMeta(spark, 3L).get("checks")
              .exists(_.contains("qty_pos")) === (opName != "overwrite"))
          opEffect(afterWinner)
      }
      assert(vt.read(spark).select("key", "qty").as[(Long, Long)]
        .collect().toSeq.sorted === expected.toSeq.sorted)
    }
  }

  test("TableLog.commit: a writer that loses every race gives up after " +
    "the bound with the one lost-race error") {
    val path = tmp("tablelog-bound")
    val log = TableLog(spark, path)
    val manifests = new org.apache.hadoop.fs.Path(path, "_manifests")
    log.fs.mkdirs(manifests)
    var derived = 0
    var built = 0
    val e = intercept[IllegalStateException](
      log.commit("append", Manifest.empty) { _ =>
        derived += 1
        Right(TableLog.Attempt((), { on =>
          built += 1
          // another writer takes the slot this attempt is about to publish
          assert(TableLog.publishFile(log.fs, manifests,
            s"v${on.version + 1}.manifest", "#kind=append"))
          Seq("#kind=append")
        }, (_, _) => TableLog.Conflict.Rebase))
      })
    assert(e.getMessage.contains("append lost the publish race"))
    assert(e.getMessage.contains(s"of at most ${TableLog.MaxLostRaces}"))
    assert(derived === 1)
    assert(built === TableLog.MaxLostRaces)
    assert(log.currentVersion() === TableLog.MaxLostRaces.toLong)
  }

  test("VersionedTable.merge: an append landing while the merge writes " +
    "keeps its rows — the merge re-derives on the new latest version") {
    import spark.implicits._
    val path = tmp("vtable-merge-race")
    val vt = GraftSink.VersionedTable(path)
    vt.merge(Seq((1L, 1L, "I", "a"), (2L, 2L, "I", "b"))
      .toDF("key", "seq", "op", "tag"), Seq("key"), Seq("seq"))
    // merge has no seam: a once-only UDF in its batch lands the append
    // (on its own thread, outside the task) while the write job runs
    SinksSpec.onFirstRow = () =>
      vt.commit(Seq((9L, 9L, "z")).toDF("key", "seq", "tag"))
    val tagOnce = udf((t: String) => { SinksSpec.fireOnce(); t })
    val v = vt.merge(Seq((2L, 20L, "U", "b2")).toDF("key", "seq", "op", "tag")
      .withColumn("tag", tagOnce(col("tag"))), Seq("key"), Seq("seq"))
    assert(SinksSpec.fired.get)
    assert(vt.readVersion(spark, 2L).where(col("key") === 9L).count() === 1L)
    assert(v === 3L)
    assert(vt.read(spark).select("key", "tag").as[(Long, String)]
      .collect().toSeq.sorted === Seq((1L, "a"), (2L, "b2"), (9L, "z")))
  }

  test("VersionedTable commit allowDropAdd: the suspected-RENAME gate " +
    "opts out for a genuine drop+add of the same type; the flag never " +
    "persists in the manifest header") {
    import spark.implicits._
    val path = tmp("vtable-dropadd")
    val vt = GraftSink.VersionedTable(path)
    vt.commit(Seq((1L, "x")).toDF("key", "tmp"))
    val e = intercept[IllegalArgumentException](
      vt.commit(Seq((2L, "y")).toDF("key", "note")))
    assert(e.getMessage.contains("suspected RENAME"))
    val v = vt.commit(Seq((2L, "y")).toDF("key", "note"),
      meta = Map("allowDropAdd" -> "true"))
    assert(v === 2L)
    assert(!vt.manifestMeta(spark, 2L).contains("allowDropAdd"))
    val out = vt.read(spark).orderBy("key")
      .select("key", "note").as[(Long, Option[String])].collect().toSeq
    assert(out === Seq((1L, None), (2L, Some("y"))))
  }

  test("Syncpoint.publish carries forward non-participating tables' " +
    "pins: a subset transaction never unpins the others") {
    import spark.implicits._
    val base = tmp("vtable-syncpoint-carry")
    val ta = GraftSink.VersionedTable(s"$base/a")
    val tb = GraftSink.VersionedTable(s"$base/b")
    val coord = s"$base/_sp"
    val va1 = ta.commit(Seq((1L, "a1")).toDF("key", "tag"))
    val vb1 = tb.commit(Seq((2L, "b1")).toDF("key", "tag"))
    GraftSink.Syncpoint.publish(spark, coord, Map("a" -> va1, "b" -> vb1))
    val va2 = ta.commit(Seq((3L, "a2")).toDF("key", "tag"))
    GraftSink.Syncpoint.publish(spark, coord, Map("a" -> va2))
    assert(GraftSink.Syncpoint.resolve(spark, coord)._2 ===
      Map("a" -> va2, "b" -> vb1))
    assert(GraftSink.Syncpoint.readAt(spark, coord, "b", tb)
      .count() === 1L)
  }

  test("VersionedTable.vacuum honors a syncpoint pin: the pinned " +
    "version survives an aggressive vacuum and readAt stays green") {
    import spark.implicits._
    val base = tmp("vtable-vacuum-pin")
    val vt = GraftSink.VersionedTable(s"$base/t")
    (1L to 5L).foreach(i =>
      vt.commit(Seq((i, s"v$i")).toDF("key", "tag")))
    val coord = s"$base/_sp"
    GraftSink.Syncpoint.publish(spark, coord, Map("t" -> 2L))
    vt.vacuum(spark, retainLast = 1, Some((coord, "t")))
    assert(GraftSink.Syncpoint.readAt(spark, coord, "t", vt)
      .count() === 2L)
    val e = intercept[IllegalArgumentException](
      vt.readVersion(spark, 1L))
    assert(e.getMessage.contains("vacuumed"))
    // without the pin the same vacuum reclaims below the latest
    vt.vacuum(spark, retainLast = 1)
    val e2 = intercept[IllegalArgumentException](
      vt.readVersion(spark, 2L))
    assert(e2.getMessage.contains("vacuumed"))
  }

  test("VersionedTable.changes crosses a renameColumn version: every " +
    "frame serves under the END version's logical names") {
    import spark.implicits._
    val path = tmp("vtable-cdf-rename")
    val vt = GraftSink.VersionedTable(path)
    vt.commit(Seq((1L, 10L)).toDF("key", "qty")) // v1
    vt.renameColumn(spark, "qty", "amount") // v2
    vt.commit(Seq((2L, 20L)).toDF("key", "amount")) // v3
    val ch = vt.changes(spark, 0L, 3L)
    assert(ch.columns.toSeq.take(2) === Seq("key", "amount"))
    val rows = ch.orderBy("key")
      .select("key", "amount", "_change_type", "_commit_version")
      .as[(Long, Long, String, Long)].collect().toSeq
    assert(rows === Seq((1L, 10L, "insert", 1L),
      (2L, 20L, "insert", 3L)))
  }

  test("VersionedTable predicate position scans prune by manifest " +
    "stats: a range delete/update on a clustered table plans only its " +
    "candidate files; non-range predicates keep everything, correct") {
    import spark.implicits._
    val path = tmp("vtable-prune-delete")
    val vt = GraftSink.VersionedTable(path)
    // four range-clustered commits, one file each
    (0L until 4L).foreach { b =>
      vt.commit((b * 10 until (b + 1) * 10).map(k => (k, k * 2))
        .toDF("key", "qty").repartition(1))
    }
    val seam = GraftSink.VersionedTable.lastPredicateScanFiles
    val (_, n) = vt.deleteWhere(spark,
      col("key") >= 12L && col("key") < 15L)
    assert(n === 3L)
    assert(seam.get() === 1L) // only the [10,20) file was scanned
    val (_, n2) = vt.updateWhere(spark, col("key") === 35L,
      Map("qty" -> lit(0L)))
    assert(n2 === 1L)
    assert(seam.get() === 1L)
    // a predicate stats cannot express scans everything — correctly
    val (_, n3) = vt.deleteWhere(spark, pmod(col("key"), lit(17L)) === 1L)
    assert(seam.get() === 5L) // 4 originals + the update's new file
    assert(n3 === 3L) // keys 1, 18, 35
    assert(vt.read(spark).count() === 34L)
    assert(vt.read(spark)
      .where(col("key").isin(1L, 12L, 35L)).count() === 0L)
  }

  private def cdfSchemaOf(t: GraftSink.VersionedTable) = {
    val s = t.read(spark).schema
    org.apache.spark.sql.types.StructType(s.fields.toSeq :+
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = false) :+
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = false))
  }

  test("TableCdfSource chunk law: merge-CDF partitions sub-split by " +
    "key hash — partitions scale with rows/maxChunkRows (bounded " +
    "reader state) and the chunked drain equals the batch diff") {
    import spark.implicits._
    val path = tmp("vtable-cdf-chunks")
    val vt = GraftSink.VersionedTable(path)
    def batch(tag: String) = (0L until 400L)
      .map(k => (k, if (tag == "a") k else k + 1000L, "U", s"$tag$k"))
      .toDF("key", "seq", "op", "payload")
    vt.mergeBucketed(batch("a"), Seq("key"), Seq("seq"), numBuckets = 4)
    vt.mergeBucketed(batch("b"), Seq("key"), Seq("seq"), numBuckets = 4)
    val schema = cdfSchemaOf(vt)
    def planFor(chunkRows: Long) = new graft.sources.CdfMicroBatchStream(
      schema, path, Long.MaxValue, Seq("key"), false, 1L, chunkRows)
      .planInputPartitions(graft.sources.CdfOffset(1),
        graft.sources.CdfOffset(2))
    val coarse = planFor(1000000L).length
    val fine = planFor(25L).length
    assert(coarse === 4) // one partition per touched bucket
    // ~100 rows/bucket/side → ~4 chunks per bucket
    assert(fine >= 12 && fine <= 32, s"fine=$fine")
    val qn = "cdf_chunk_sink"
    drainToTable(graft.sources.TableCdfSource
      .stream(spark, path, vt.read(spark).schema,
        keyCols = Seq("key"), maxChunkRows = 25L), qn)
    val oracle = vt.changes(spark, 1L, 2L, Seq("key"))
    val streamed = spark.table(qn)
      .where(col("_commit_version") === 2L)
      .select(oracle.columns.map(col).toSeq: _*)
    assertSameRows(streamed, oracle)
  }

  test("TableCdfSource: an UNBUCKETED merge serves as a key-hash-" +
    "chunked whole-version diff — parallel and memory-bounded, never " +
    "one giant partition") {
    import spark.implicits._
    val path = tmp("vtable-cdf-unbucketed")
    val vt = GraftSink.VersionedTable(path)
    vt.commit((0L until 300L).map(k => (k, k, s"a$k"))
      .toDF("key", "seq", "payload")) // v1: plain, unbucketed
    vt.mergeBucketed((0L until 300L)
      .map(k => (k, k + 1000L, "U", s"b$k"))
      .toDF("key", "seq", "op", "payload"),
      Seq("key"), Seq("seq"), numBuckets = 4) // v2: rewrites everything
    val parts = new graft.sources.CdfMicroBatchStream(
      cdfSchemaOf(vt), path, Long.MaxValue, Seq("key"), false, 1L, 50L)
      .planInputPartitions(graft.sources.CdfOffset(1),
        graft.sources.CdfOffset(2))
    assert(parts.length >= 6, s"parts=${parts.length}") // ceil(300/50)
    val qn = "cdf_unbucketed_sink"
    drainToTable(graft.sources.TableCdfSource
      .stream(spark, path, vt.read(spark).schema,
        keyCols = Seq("key"), maxChunkRows = 50L), qn)
    val oracle = vt.changes(spark, 1L, 2L, Seq("key"))
    val streamed = spark.table(qn)
      .where(col("_commit_version") === 2L)
      .select(oracle.columns.map(col).toSeq: _*)
    assertSameRows(streamed, oracle)
  }

  test("TableCdfSource serves RESTORE versions as the keyed diff, " +
    "planning ONLY the buckets the rollback actually moved") {
    import spark.implicits._
    val path = tmp("vtable-cdf-restore")
    val vt = GraftSink.VersionedTable(path)
    vt.mergeBucketed((0L until 100L).map(k => (k, k, "I", s"v$k"))
      .toDF("key", "seq", "op", "payload"),
      Seq("key"), Seq("seq"), numBuckets = 16) // v1
    vt.deleteWhere(spark, col("key") < 10L) // v2: DV delete
    vt.restore(spark, 1L) // v3: un-deletes keys 0..9
    val parts = new graft.sources.CdfMicroBatchStream(
      cdfSchemaOf(vt), path, Long.MaxValue, Seq("key"), false, 1L)
      .planInputPartitions(graft.sources.CdfOffset(2),
        graft.sources.CdfOffset(3))
    // changeless buckets are never planned: only buckets holding
    // keys 0..9 (≤ 10 of 16) carry a vector diff
    assert(parts.length < 16, s"parts=${parts.length}")
    val qn = "cdf_restore_sink"
    drainToTable(graft.sources.TableCdfSource
      .stream(spark, path, vt.read(spark).schema,
        keyCols = Seq("key"), startingVersion = 3L), qn)
    val oracle = vt.changes(spark, 2L, 3L, Seq("key"))
    val streamed = spark.table(qn)
      .select(oracle.columns.map(col).toSeq: _*)
    assertSameRows(streamed, oracle)
    // the content really is the un-deleted rows
    assert(streamed.where(col("_change_type") === "insert")
      .count() === 10L)
  }

  test("TableCdfSource serves OVERWRITE versions as the keyed diff " +
    "(batch changes() parity) — carried-identical rows emit nothing") {
    import spark.implicits._
    val path = tmp("vtable-cdf-overwrite")
    val vt = GraftSink.VersionedTable(path)
    vt.commit((0L until 50L).map(k => (k, s"v$k"))
      .toDF("key", "tag")) // v1
    vt.commit(((0L until 50L) ++ (100L until 120L))
      .map(k => (k, if (k == 7L) "CHANGED" else s"v$k"))
      .toDF("key", "tag"), overwrite = true) // v2
    val qn = "cdf_overwrite_sink"
    drainToTable(graft.sources.TableCdfSource
      .stream(spark, path, vt.read(spark).schema,
        keyCols = Seq("key"), startingVersion = 2L), qn)
    val oracle = vt.changes(spark, 1L, 2L, Seq("key"))
    val streamed = spark.table(qn)
      .select(oracle.columns.map(col).toSeq: _*)
    assertSameRows(streamed, oracle)
    // 20 inserts + 1 update, nothing for the 49 carried rows
    assert(streamed.count() === 21L)
  }

  test("VersionedTable.changes across ADD/DROP schema evolution " +
    "serves every frame under the END version's schema") {
    import spark.implicits._
    val path = tmp("vtable-cdf-evolution")
    val vt = GraftSink.VersionedTable(path)
    vt.commit(Seq((1L, "a", 10L)).toDF("key", "etype", "qty")) // v1
    vt.commit(Seq((2L, "b", 20L, "eu"))
      .toDF("key", "etype", "qty", "region")) // v2: + region
    vt.commit(Seq((3L, 30L, "apac"))
      .toDF("key", "qty", "region")) // v3: − etype
    val ch = vt.changes(spark, 0L, 3L)
    assert(ch.columns.toSeq ===
      Seq("key", "qty", "region", "_change_type", "_commit_version"))
    val rows = ch.orderBy("key")
      .select("key", "qty", "region", "_commit_version")
      .as[(Long, Long, Option[String], Long)].collect().toSeq
    assert(rows === Seq((1L, 10L, None, 1L),
      (2L, 20L, Some("eu"), 2L), (3L, 30L, Some("apac"), 3L)))
  }

  test("GraftCatalog: SQL SELECT / INSERT / VERSION AS OF round-trip " +
    "the versioned table — reads run the native readVersion plan " +
    "(deletion vector anti-joined), writes are atomic commits") {
    import spark.implicits._
    val base = tmp("vtable-catalog")
    val vt = GraftSink.VersionedTable(s"$base/t")
    vt.commit((1L to 10L).map(k => (k, k * 10)).toDF("key", "qty")) // v1
    spark.conf.set("spark.sql.catalog.gtest", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtest.root", base)
    assert(spark.sql("SELECT count(*) FROM gtest.t")
      .head().getLong(0) === 10L)
    spark.sql("INSERT INTO gtest.t VALUES (11, 110)")
    assert(vt.currentVersion(spark) === 2L)
    assert(spark.sql("SELECT count(*) FROM gtest.t")
      .head().getLong(0) === 11L)
    // time travel through SQL
    assert(spark.sql("SELECT count(*) FROM gtest.t VERSION AS OF 1")
      .head().getLong(0) === 10L)
    // the read plan honors deletion vectors (not a raw parquet scan)
    vt.deleteWhere(spark, col("key") === 5L) // v3
    assert(spark.sql("SELECT count(*) FROM gtest.t")
      .head().getLong(0) === 10L)
    assert(spark.sql("SELECT sum(qty) FROM gtest.t WHERE key <= 3")
      .head().getLong(0) === 60L)
    // CREATE TABLE stamps the schema at v1; INSERTs append from there
    spark.sql("CREATE TABLE gtest.fresh (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO gtest.fresh VALUES (1, 'a'), (2, 'b')")
    assert(spark.sql("SELECT count(*) FROM gtest.fresh")
      .head().getLong(0) === 2L)
    // INSERT OVERWRITE = one overwrite commit
    spark.sql("INSERT OVERWRITE gtest.fresh VALUES (9, 'z')")
    assert(spark.table("gtest.fresh").as[(Long, String)]
      .collect().toSeq === Seq((9L, "z")))
    assert(spark.sql("SHOW TABLES IN gtest").count() === 2L)
    // TIMESTAMP AS OF resolves by the event-time watermark rule
    val wt = GraftSink.VersionedTable(s"$base/wt")
    wt.commitWithWatermark(Seq((1L, 100L)).toDF("key", "ts_us"), "ts_us")
    wt.commitWithWatermark(Seq((2L, 200L)).toDF("key", "ts_us"), "ts_us")
    assert(spark.sql(
      "SELECT count(*) FROM gtest.wt TIMESTAMP AS OF timestamp_micros(150)")
      .head().getLong(0) === 1L)
  }

  test("TableCdfSource maxBytesPerTrigger: admission caps a batch by " +
    "the bytes its versions read — always at least one version") {
    import spark.implicits._
    val path = tmp("vtable-cdf-bytes")
    val vt = GraftSink.VersionedTable(path)
    (1L to 3L).foreach(i =>
      vt.commit(Seq((i, s"v$i")).toDF("key", "tag")))
    val schema = cdfSchemaOf(vt)
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val tiny = new graft.sources.CdfMicroBatchStream(
      schema, path, Long.MaxValue, Nil, false, 1L,
      graft.sources.TableCdfSource.DefaultMaxChunkRows, 1L)
    // one version per batch: each version's file exceeds the 1-byte cap
    assert(tiny.latestOffset(graft.sources.CdfOffset(0),
      ReadLimit.allAvailable())
      === graft.sources.CdfOffset(1))
    assert(tiny.latestOffset(graft.sources.CdfOffset(1),
      ReadLimit.allAvailable())
      === graft.sources.CdfOffset(2))
    val wide = new graft.sources.CdfMicroBatchStream(
      schema, path, Long.MaxValue, Nil, false, 1L,
      graft.sources.TableCdfSource.DefaultMaxChunkRows, Long.MaxValue)
    assert(wide.latestOffset(graft.sources.CdfOffset(0),
      ReadLimit.allAvailable())
      === graft.sources.CdfOffset(3))
  }

  test("VersionedTable.merge validates its batch against the standing " +
    "CHECK constraints and carries them into the new version") {
    import spark.implicits._
    val path = tmp("vtable-merge-checks")
    val vt = GraftSink.VersionedTable(path)
    def batch(key: Long, qty: Long): DataFrame =
      Seq((key, key, "I", qty)).toDF("key", "seq", "op", "qty")
    vt.commit(Seq((1L, 1L, 10L)).toDF("key", "seq", "qty")) // v1
    vt.addConstraint(spark, "qty_pos", "qty > 0") // v2
    val e = intercept[IllegalArgumentException](
      vt.merge(batch(2L, -1L), Seq("key"), Seq("seq")))
    assert(e.getMessage.contains("qty_pos"))
    assert(vt.currentVersion(spark) === 2L) // nothing published
    val v3 = vt.merge(batch(2L, 5L), Seq("key"), Seq("seq"))
    assert(vt.manifestMeta(spark, v3)("checks").contains("qty_pos"))
    assert(vt.read(spark).count() === 2L)
    // the carried check keeps binding later commits
    val e2 = intercept[IllegalArgumentException](
      vt.commit(Seq((3L, 3L, -2L)).toDF("key", "seq", "qty")))
    assert(e2.getMessage.contains("qty_pos"))
  }

  test("TableCdfSource drained from version 1 equals the batch " +
    "changes() row for row across every version kind") {
    import spark.implicits._
    val path = tmp("vtable-cdf-every-kind")
    val vt = GraftSink.VersionedTable(path)
    def upserts(rows: (Long, Long, String, String)*): DataFrame =
      rows.toSeq.toDF("key", "seq", "op", "tag")
    vt.commit((0L until 40L).map(k => (k, 0L, s"a$k"))
      .toDF("key", "seq", "tag")) // v1: append
    vt.mergeBucketed(upserts((0L until 10L).map(k => (k, 1L, "U", s"b$k")) ++
      Seq((10L, 1L, "D", ""), (100L, 1L, "I", "new")): _*),
      Seq("key"), Seq("seq"), numBuckets = 4) // v2: bucketed merge
    vt.deleteWhere(spark, col("key") < 5L) // v3: DV delete
    vt.updateWhere(spark, col("key") === 20L,
      Map("tag" -> lit("upd"))) // v4: update
    vt.addConstraint(spark, "seq_nonneg", "seq >= 0") // v5: constraint
    vt.optimize(spark, 1000L, keyCols = Seq("key")) // v6: optimize
    vt.restore(spark, 3L) // v7: restore
    val v8 = vt.commit((0L until 30L).map(k => (k, 2L, s"o$k"))
      .toDF("key", "seq", "tag"), overwrite = true) // v8: overwrite
    assert(vt.history(spark).select("kind").as[String].collect().toSeq ===
      Seq("append", "merge", "delete", "update", "constraint", "optimize",
        "restore", "overwrite"))
    val qn = "cdf_every_kind_sink"
    drainToTable(graft.sources.TableCdfSource
      .stream(spark, path, vt.read(spark).schema, keyCols = Seq("key")), qn)
    val oracle = vt.changes(spark, 0L, v8, Seq("key"))
    val streamed = spark.table(qn).select(oracle.columns.map(col).toSeq: _*)
    assertSameRows(streamed, oracle)
    // every content-changing kind contributed rows
    assert(oracle.select("_commit_version").distinct().as[Long]
      .collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L, 7L, 8L))
  }

  test("runTo delivers the plugin-chain output to the sink") {
    val path = tmp("sink-chain")
    Changefeed(Seq(
      EventTypeFilter(Set("purchase")),
      MaskPlugin(Seq("props"), Mask.RedactKeepLast(2))))
      .runTo(changelog, GraftSink.Files(path))
    val back = spark.read.parquet(path)
    assert(back.where(col("event_type") =!= "purchase").count() === 0)
    assert(back.where(!col("props").startsWith("****")).count() === 0)
  }
}

object SinksSpec {
  /** Side effect a test runs once from inside a Spark job. */
  @volatile var onFirstRow: () => Unit = () => ()
  val fired = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Runs [[onFirstRow]] once, on a fresh thread joined before
    * returning, so the side effect's own jobs run outside the task. */
  def fireOnce(): Unit =
    if (fired.compareAndSet(false, true)) {
      var failure: Option[Throwable] = None
      val t = new Thread(() =>
        try onFirstRow() catch { case e: Throwable => failure = Some(e) })
      t.start()
      t.join()
      failure.foreach(throw _)
    }
}

package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.LongAccumulator

import graft.cdc._
import graft.streaming.CdcStream

/** The reference's changefeed loop: seeded flushes pass through
  * `CdcStream.fromParquetDir` → a `Changefeed` (filter, to-changelog,
  * mask, route) → `CdcStream.deliverVersionedMerge` into a bucketed
  * `VersionedTable`. One iteration is one cycle on a fresh table and
  * checkpoint, over the same flushes every time:
  *
  *  - catch-up (closed loop): the backlog flushes are present at start
  *    and one AvailableNow drain commits them, one version per flush;
  *  - steady (open loop): a releaser thread lands one flush in the
  *    source directory every `PeriodMs`, the first at once, on schedule
  *    whatever the sink does; the client re-runs the drain whenever a
  *    flush has arrived. Commit lag runs from a flush's scheduled
  *    release to the manifest of the version that holds it;
  *  - serve (closed loop): seeded point lookups and history reads
  *    (`readVersion` + `changes`) against the same table.
  *
  * The iteration's time is the cycle's: catch-up + steady + serve. */
final class CdcIngest extends Workload {
  val Buckets = 8
  val PeriodMs = 2000L
  val LookupsPerCycle = 4
  val HistoryReadsPerCycle = 1

  private case class Plan(backlog: Int, steady: Int, flushEvents: Int,
                          lookupKeys: Seq[Long], serveSeed: Long)
  private var plan: Plan = _
  private var flushes: Seq[Path] = _
  private var schema: StructType = _

  private val chain = Changefeed(Seq(
    EventTypeFilter(Set("signup", "click", "view", "purchase", "error")),
    TransformPlugin("to-changelog", Changelog.fromEvents),
    MaskPlugin(Seq("props"), Mask.Sha256),
    RoutePlugin(Route.KeyMod, Buckets)))
  /** Traced drains run the chain plus a counter of the rows it emits. */
  private var chainRowsOut: LongAccumulator = _
  private var countedChain: Changefeed = _

  /** One cycle's timings and read results. */
  private case class Sample(traced: Boolean, cycleS: Double, catchupS: Double,
                            lagsMs: Seq[Double], releaseLateMs: Seq[Double],
                            lookupMs: Seq[Double], historyS: Seq[Double],
                            filesRead: Seq[Double])
  private val samples = mutable.ArrayBuffer.empty[Sample]
  private var lastTable: GraftSink.VersionedTable = _
  // every cycle builds the same table, so every cycle's reads are checked
  // against the one DuckDB snapshot
  private val lookupRows = mutable.LinkedHashSet.empty[(Long, String)]
  private val versionCounts = mutable.LinkedHashSet.empty[(Long, Long, Long)]

  private def readPlan(p: Path): Plan = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    implicit val formats: Formats = DefaultFormats
    val j = parse(Files.readString(p))
    Plan((j \ "backlog").extract[Int], (j \ "steady").extract[Int],
      (j \ "flush_events").extract[Int], (j \ "lookup_keys").extract[Seq[Long]],
      (j \ "serve_seed").extract[Long])
  }

  def setup(ctx: Ctx): Unit = {
    plan = readPlan(ctx.inDir.resolve("plan.json"))
    flushes = Files.list(ctx.inDir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("flush-")).toSeq.sortBy(_.toString)
    require(flushes.size == plan.backlog + plan.steady, "flush count != plan")
    schema = ctx.spark.read.parquet(flushes.head.toString).schema
    val bad = chain.diagnose(ctx.spark, schema).filter(_.status != PluginCheck.Ok)
    require(bad.isEmpty, s"changefeed chain does not validate: $bad")
    val acc = ctx.spark.sparkContext.longAccumulator("chain_rows_out")
    val count = udf(() => { acc.add(1); true }).asNondeterministic()
    chainRowsOut = acc
    countedChain = Changefeed(chain.plugins :+ TransformPlugin("count", _.where(count())))
  }

  private def drain(ctx: Ctx, src: Path, table: GraftSink.VersionedTable,
                    ckpt: Path, phase: String): Unit =
    ctx.tracer.span("streaming", s"deliverVersionedMerge.$phase") {
      val q = CdcStream.deliverVersionedMerge(
        CdcStream.fromParquetDir(ctx.spark, src.toString, schema),
        if (ctx.tracer.isActive) countedChain else chain, table, ckpt.toString,
        keyCols = Seq("key"), orderCols = Seq("commit_ts_us", "seq"),
        numBuckets = Buckets)
      q.awaitTermination()
    }

  /** Atomically lands flush `f` in `dir`. The file source orders files
    * by modification time, so arrival order is pinned by `mtimeMs`. */
  private def place(f: Path, dir: Path, mtimeMs: Long): Unit = {
    val tmp = dir.resolve("." + f.getFileName)
    Files.copy(f, tmp)
    Files.setLastModifiedTime(tmp, FileTime.fromMillis(mtimeMs))
    Files.move(tmp, dir.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }

  private def nowMs: Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }

  /** One unmeasured cycle, the cold one (class loading, JIT): about
    * twice as long as the next. */
  def warmup(ctx: Ctx): Unit = cycle(ctx, 0)

  /** Three cycles: cycles still get faster for a few more rounds (JIT),
    * a catch-up lasts only about 2 s, and the median of three drops the
    * slowest, whether a warming cycle or one a stall of the machine
    * stretched. */
  override def minIterations: Int = 3

  def iteration(ctx: Ctx, i: Int): Double = {
    val s = cycle(ctx, i)
    samples += s
    s.cycleS
  }

  private def cycle(ctx: Ctx, i: Int): Sample = {
    val spark = ctx.spark
    val src = ctx.scratch("src")
    val tableDir = ctx.scratch("table")
    val ckpt = ctx.scratch("ckpt")
    val table = GraftSink.VersionedTable(tableDir.toString)
    val (backlog, steady) = flushes.splitAt(plan.backlog)
    val base = System.currentTimeMillis() - 60000L
    backlog.zipWithIndex.foreach { case (f, j) => place(f, src, base + j * 1000L) }

    // catch-up: closed loop over the backlog
    val t0 = System.nanoTime()
    drain(ctx, src, table, ckpt, "catchup")
    val catchupS = (System.nanoTime() - t0) / 1e9

    // steady: open loop, flushes released on a fixed schedule
    val released = new AtomicInteger(0)
    val due = mutable.ArrayBuffer.empty[Double]
    val late = mutable.ArrayBuffer.empty[Double]
    val startMs = nowMs
    val releaser = new Thread(() => {
      steady.zipWithIndex.foreach { case (f, j) =>
        val at = startMs + j * PeriodMs
        val wait = at - nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        place(f, src, System.currentTimeMillis())
        due.synchronized { due += at; late += nowMs - at }
        released.incrementAndGet()
      }
    }, "flush-releaser")
    releaser.setDaemon(true)
    releaser.start()
    var drained = 0
    while (drained < steady.size) {
      val n = released.get()
      if (n > drained) { drain(ctx, src, table, ckpt, "steady"); drained = n }
      else Thread.sleep(1)
    }
    releaser.join()

    // serve: seeded lookups and history reads, closed loop
    val rnd = new scala.util.Random(plan.serveSeed + i)
    val top = table.currentVersion(spark)
    val lookupMs = mutable.ArrayBuffer.empty[Double]
    val filesRead = mutable.ArrayBuffer.empty[Double]
    val historyS = mutable.ArrayBuffer.empty[Double]
    val ops = rnd.shuffle(Seq.fill(LookupsPerCycle)(true) ++ Seq.fill(HistoryReadsPerCycle)(false))
    ops.foreach { isLookup =>
      if (isLookup) {
        val k = plan.lookupKeys(rnd.nextInt(plan.lookupKeys.size))
        val t = System.nanoTime()
        val (rows, df) = ctx.tracer.span("sinks", "lookup") {
          val df = table.lookup(spark, Seq("key"), Seq(Seq(k)), Buckets)
          (df.collect(), df)
        }
        lookupMs += (System.nanoTime() - t) / 1e6
        filesRead += scannedFiles(df)
        lookupRows += ((k, rows.headOption.map(repr).getOrElse("absent")))
      } else {
        val v = 1L + rnd.nextInt(top.toInt)
        val t = System.nanoTime()
        val (n, changedKeys) = ctx.tracer.span("sinks", "history_read") {
          (table.readVersion(spark, v).count(),
            table.changes(spark, v - 1, v, Seq("key")).select("key").distinct().count())
        }
        historyS += (System.nanoTime() - t) / 1e9
        versionCounts += ((v, n, changedKeys))
      }
    }
    val cycleS = (System.nanoTime() - t0) / 1e9

    // untimed: one version per batch id (batch b holds flush b), commit
    // lags from the manifests, and in traced cycles the snapshot check
    val hist = table.history(spark).collect()
      .map(r => (r.getAs[Long]("version"), r.getAs[Long]("batch"))).sortBy(_._1)
    val expected = flushes.indices.map(b => (b + 1L, b.toLong))
    ctx.report.check(s"history.cycle$i", hist.toSeq == expected,
      s"versions/batches ${hist.toSeq.take(40)} != ${expected.take(40)}")
    val manifests = tableDir.resolve("_manifests")
    def committedMs(v: Long): Double = {
      val t = Files.getLastModifiedTime(manifests.resolve(s"v$v.manifest")).toInstant
      t.getEpochSecond * 1000.0 + t.getNano / 1e6
    }
    val lags = steady.indices.map(j => committedMs(backlog.size + j + 1L) - due(j))
    ctx.report.info(s"cycle$i") = f"catchup ${catchupS}%.3fs, lags " +
      lags.map(l => f"$l%.0f").mkString(",") + f"ms, cycle ${cycleS}%.3fs"
    if (ctx.tracer.isActive) checkSnapshot(ctx, table, s"table_equals_snapshot.cycle$i")
    lastTable = table
    Sample(ctx.tracer.isActive, cycleS, catchupS, lags, late.toSeq,
      lookupMs.toSeq, historyS.toSeq, filesRead.toSeq)
  }

  /** Files the lookup's scans read, from the executed plan's metrics. */
  private def scannedFiles(df: DataFrame): Double = {
    val helper = new AdaptiveSparkPlanHelper {}
    helper.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum.toDouble
  }

  /** The canonical row form both engines print: money in cents. */
  private def repr(r: Row): String = Seq(
    r.getAs[Long]("key"), r.getAs[Long]("commit_ts_us"), r.getAs[Long]("seq"),
    r.getAs[String]("event_type"), math.round(r.getAs[Double]("value") * 100),
    r.getAs[String]("props"), r.getAs[Long]("__partition")).mkString("|")

  private def reprCols: Seq[org.apache.spark.sql.Column] = Seq(
    col("key"), col("commit_ts_us"), col("seq"), col("event_type"),
    round(col("value") * 100).cast("long"), col("props"), col("__partition"))

  private def norm(rs: Array[Row]) =
    rs.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sorted.toSeq

  /** Output check: the table's checksum equals that of
    * `Materialize.snapshot` over every flush (a `cdc` span when traced).
    * Returns the table's per-bucket checksum. */
  private def checkSnapshot(ctx: Ctx, table: GraftSink.VersionedTable,
                            name: String): Seq[(Long, Long, Long)] = {
    val spark = ctx.spark
    val expected = norm(ctx.tracer.span("cdc", "snapshot") {
      Consistency.checksum(Materialize.snapshot(
        chain.run(spark.read.schema(schema).parquet(flushes.map(_.toString): _*))),
        col("key"), reprCols, Buckets).collect()
    })
    val got = norm(Consistency.checksum(table.read(spark), col("key"), reprCols, Buckets)
      .collect())
    ctx.report.check(name, expected == got,
      s"table ${got.take(4)} != snapshot ${expected.take(4)}")
    got
  }

  def finish(ctx: Ctx, iters: Seq[Iter]): Unit = {
    val r = ctx.report
    val got = checkSnapshot(ctx, lastTable, "table_equals_snapshot")
    Files.writeString(ctx.workDir.resolve("cdc_check.json"),
      "{\"checksum\":" + got.map { case (b, n, c) => s"[$b,$n,$c]" }
        .mkString("[", ",", "]") +
      ",\"lookups\":" + lookupRows.map { case (k, v) => s"[$k,\"$v\"]" }
        .mkString("[", ",", "]") +
      ",\"versions\":" + versionCounts.map { case (v, n, c) => s"[$v,$n,$c]" }
        .mkString("[", ",", "]") + "}")

    val plain = samples.filterNot(_.traced).toSeq
    val events = plan.backlog.toDouble * plan.flushEvents
    val lags = plain.flatMap(_.lagsMs)
    val (lagTail, lagPct, lagN) = Stats.tail(lags)
    val lookups = plain.flatMap(_.lookupMs)
    val (lkTail, lkPct, lkN) = Stats.tail(lookups)
    r.info("commit_lag_tail") = f"p$lagPct%.1f of $lagN samples"
    r.info("lookup_tail") = f"p$lkPct%.1f of $lkN samples"
    val catchup = Stats.median(plain.map(s => events / s.catchupS))
    val workload = Seq(
      ("catchup_events_per_s", catchup, "1/s"),
      ("commit_lag_p50_ms", Stats.median(lags), "ms"),
      ("commit_lag_tail_ms", lagTail, "ms"),
      ("release_late_ms", plain.flatMap(_.releaseLateMs).max, "ms"),
      ("lookup_p50_ms", Stats.median(lookups), "ms"),
      ("lookup_tail_ms", lkTail, "ms"),
      ("history_read_s", Stats.median(plain.flatMap(_.historyS)), "s"))
    if (!ctx.tracer.enabled) {
      r.metric("run_s", Stats.median(plain.map(_.cycleS)))
      r.metric("work_per_s", catchup)
      r.metric("latency_p50_ms", Stats.median(lags))
      workload.foreach { case (n, v, u) => r.info(n) = s"$v $u" }
    } else {
      workload.foreach { case (n, v, _) => r.metric(n, v) }
      Layers.report(ctx, layerValues(ctx))
    }
  }

  private def layerValues(ctx: Ctx): Map[String, Double] = {
    val tr = ctx.tracer
    val n = tr.tracedIterations.toDouble
    val spans = tr.all
    val ingest = spans.filter(s => s.layer == "streaming")
    val st = tr.streaming(ingest)
    val catchup = ingest.filter(_.name.endsWith(".catchup"))
    ctx.report.info("catchup_merge_share") =
      f"${tr.streaming(catchup).addBatchMs / catchup.map(_.ms).sum}%.3f of catch-up wall time in addBatch"
    val lookups = spans.filter(_.name == "lookup")
    val traced = samples.filter(_.traced)
    val table = lastTable
    val spark = ctx.spark
    val hist = table.history(spark).collect()
    val dataBytes = Files.walk(java.nio.file.Paths.get(table.path, "_data"))
      .iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.toString.endsWith(".parquet")).map(Files.size).sum.toDouble
    val liveFiles = table.read(spark).inputFiles.map(f =>
      Files.size(java.nio.file.Paths.get(new java.net.URI(f)))).sum.toDouble
    val flushBytes = flushes.map(Files.size).sum.toDouble
    Layers.engine(tr, ingest ++ lookups ++ spans.filter(_.name == "history_read"), n) ++
      Layers.streaming(st, n) ++ Map(
      "sinks.merge_ms" -> st.addBatchMs / n,
      "sinks.files_per_version" -> hist.map(_.getAs[Long]("n_files")).sum.toDouble / hist.length,
      "sinks.bytes_written" -> dataBytes,
      "sinks.write_amp" -> dataBytes / flushBytes,
      "sinks.space_amp" -> dataBytes / liveFiles,
      "sinks.versions" -> hist.length.toDouble,
      "sinks.lookup_files_read" -> Stats.median(traced.flatMap(_.filesRead).toSeq),
      "sinks.lookup_jobs" -> tr.engine(lookups).jobs.toDouble / lookups.size,
      "sources.rows_read" -> st.rowsIn / n,
      "cdc.chain_rows_out" -> chainRowsOut.value / n,
      "cdc.snapshot_ms" -> Stats.median(spans.filter(_.name == "snapshot").map(_.ms)))
  }
}

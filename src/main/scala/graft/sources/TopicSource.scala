package graft.sources

import java.util

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.example.data.Group
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Streaming CONSUMER for [[graft.cdc.GraftSink.Topic]] — the missing
  * half of the reference's producer → broker → consumer loop (reference
  * README.md:17-23: Kafka is the default sink; a changefeed's consumers
  * tail the topic). The sink emulates a keyed broker topic as a
  * hive-partitioned directory (`__partition=P/` dirs, a dense/monotone
  * `__offset` column per partition); this DataSourceV2 micro-batch
  * source TAILS that directory exactly the way a Kafka consumer tails a
  * topic:
  *
  *  - **The checkpoint offset is a per-partition offset map**
  *    (`{"0":12,"3":40}` — partition id → next offset to read), the
  *    Kafka consumer-group shape. Restart resumes each partition at its
  *    committed offset, never at 0 and never past unread rows.
  *  - **The log-end offset is discovered from parquet FOOTERS only**
  *    (max `__offset` column statistic per file + 1) — metadata reads,
  *    never data scans, memoized per (path, length, mtime) so a
  *    steady-state poll costs one footer read per NEW file. Statistics
  *    (not row counts) make COMPACTED topics consumable: a compacted
  *    log has offset GAPS, so end-of-log is max(offset)+1, not count.
  *  - **Admission control**: `maxOffsetsPerTrigger` bounds each
  *    micro-batch (Kafka's own knob); the stream implements
  *    [[SupportsAdmissionControl]] so the engine hands the RESTART
  *    offset into `latestOffset(start, limit)` (the GenSource r10
  *    lesson: a fresh instance polled before `deserializeOffset` must
  *    not regress the committed mark — here availability is external
  *    filesystem state, so the mark cannot regress by construction,
  *    and the start offset bounds each admission window).
  *  - **[[SupportsTriggerAvailableNow]]**: `prepareForTriggerAvailableNow`
  *    snapshots the end offsets ONCE, so an AvailableNow drain
  *    terminates at a fixed point even while a producer keeps writing.
  *  - **Offset-range reads push down**: each micro-batch reads
  *    `[from, until)` per partition through a parquet
  *    `FilterPredicate` on `__offset`, so row-group statistics skip
  *    the already-consumed prefix — a resume touches the TAIL of each
  *    partition, not its history (the same seek contract
  *    `cdc_topic_replay` pins for the batch path).
  *
  * Because the producer's offset assignment is DETERMINISTIC (same
  * changelog prefix → same routing and offsets — GraftSink.Topic), a
  * full topic REWRITE that extends the log is indistinguishable from a
  * broker append: the consumer's committed offsets remain valid and the
  * next poll delivers exactly the new tail (pinned by
  * TopicSourceSpec's restart test).
  *
  * Schema is EXPLICIT (the [[GraftSource]] discipline): pass the record
  * columns to read; `__offset` must be declared LONG, and a declared
  * `__partition` (int or long) is filled from the directory name.
  */
class TopicSource extends TableProvider {

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "graft.sources.TopicSource requires an explicit schema " +
        "(.schema(...)): inference would read data footers twice and can " +
        "silently widen types between runs (GraftSource discipline)")

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new TopicTable(schema, new CaseInsensitiveStringMap(properties))
}

object TopicSource {

  val PartitionCol = "__partition"
  val OffsetCol = "__offset"

  /** Consumer stream over a Topic-sink directory. `partitions`
    * restricts the consumer to an ASSIGNED partition subset (the
    * consumer-group member contract, A56): discovery, admission and
    * planning never touch unassigned partition directories — a member
    * of an N-consumer group does 1/N of the listing/footer I/O, not a
    * post-hoc filter over all of it. */
  def stream(spark: SparkSession, path: String, schema: StructType,
             maxOffsetsPerTrigger: Long = Long.MaxValue,
             partitions: Seq[Int] = Nil): DataFrame = {
    var r = spark.readStream.format(classOf[TopicSource].getName)
      .schema(schema)
    if (maxOffsetsPerTrigger != Long.MaxValue)
      r = r.option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
    if (partitions.nonEmpty)
      r = r.option("partitions", partitions.mkString(","))
    r.load(path)
  }

  /** Batch end-offset discovery (A49 / the `kafka-consumer-groups
    * --describe` niche): one row per topic partition with its log-end
    * offset, read from parquet FOOTER `__offset` statistics only —
    * the same metadata pass the streaming source polls, exposed as a
    * relation so lag monitoring (end − committed) is a plain join.
    * Driver-side |partitions| rows; no data scan at any topic size. */
  def endOffsets(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    new TopicMicroBatchStream(changelogTopicSchema, path, Long.MaxValue)
      .discoverEnds().toSeq.sortBy(_._1)
      .toDF(PartitionCol, "end_offset")
  }

  /** Record schema of a changelog topic as GraftSink.Topic writes it. */
  val changelogTopicSchema: StructType = StructType(Seq(
    StructField(PartitionCol, IntegerType, nullable = false),
    StructField(OffsetCol, LongType, nullable = false),
    StructField("key", LongType),
    StructField("commit_ts_us", LongType),
    StructField("seq", LongType),
    StructField("op", StringType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private[sources] def validate(schema: StructType): Unit = {
    require(schema.fieldNames.contains(OffsetCol) &&
      schema(OffsetCol).dataType == LongType,
      s"topic schema must declare $OffsetCol LONG (the seek column)")
    schema.fields.find(_.name == PartitionCol).foreach { f =>
      require(f.dataType == IntegerType || f.dataType == LongType,
        s"$PartitionCol must be INT or LONG, got ${f.dataType.simpleString}")
    }
  }
}

private[sources] class TopicTable(schema0: StructType,
                                  options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {

  TopicSource.validate(schema0)

  override def name(): String = s"graft_topic(${options.get("path")})"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new TopicScanBuilder(schema0, opt(opts, "path"),
      Option(opt(opts, "maxOffsetsPerTrigger"))
        .map(_.toLong).getOrElse(Long.MaxValue),
      Option(opt(opts, "partitions"))
        .map(_.split(',').map(_.trim.toInt).toSet))

  private def opt(opts: CaseInsensitiveStringMap, k: String): String =
    if (opts.containsKey(k)) opts.get(k)
    else if (options.containsKey(k)) options.get(k)
    else if (k == "path") throw new IllegalArgumentException(
      "TopicSource needs a path (load(path))")
    else null
}

private[sources] class TopicScanBuilder(schema: StructType, path: String,
                                        maxOffsetsPerTrigger: Long,
                                        assigned: Option[Set[Int]] = None)
    extends ScanBuilder with Scan {

  override def build(): Scan = this
  override def readSchema(): StructType = schema
  override def description(): String = s"GraftTopic($path)"

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new TopicMicroBatchStream(schema, path, maxOffsetsPerTrigger, assigned)
}

/** Per-partition next-offset map, serialized as sorted compact JSON. */
private[sources] case class TopicOffset(next: Map[Int, Long]) extends Offset {
  override def json(): String =
    next.toSeq.sortBy(_._1)
      .map { case (p, o) => s""""$p":$o""" }.mkString("{", ",", "}")
}

private[sources] object TopicOffset {
  def parse(json: String): TopicOffset = {
    val body = json.trim.stripPrefix("{").stripSuffix("}").trim
    if (body.isEmpty) TopicOffset(Map.empty)
    else TopicOffset(body.split(',').map { kv =>
      val Array(k, v) = kv.split(':')
      k.trim.stripPrefix("\"").stripSuffix("\"").toInt -> v.trim.toLong
    }.toMap)
  }
}

private[sources] case class TopicInputPartition(
    pid: Int, files: Seq[String], from: Long, until: Long)
    extends InputPartition

private[sources] class TopicMicroBatchStream(schema: StructType, path: String,
                                             maxOffsetsPerTrigger: Long,
                                             assigned: Option[Set[Int]] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val conf: Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  /** Footer max-offset memo: topic files are immutable once visible
    * (a rewrite replaces them under new names / new mtimes), so a
    * steady-state poll re-reads no footer it has already seen. BOUNDED:
    * every [[discover]] evicts keys whose files left the listing
    * (compaction / rewrite), so a long-lived tailing consumer holds at
    * most one entry per LIVE topic file, never one per file ever seen. */
  private val footerMemo =
    mutable.HashMap.empty[(String, Long, Long), Option[Long]]

  /** Cold-start footer parallelism: a fresh consumer on a 100k-file
    * topic would otherwise open 100k footers SERIALLY on the driver.
    * Misses are read through a bounded pool (steady state — one new
    * file per poll — stays on the calling thread, no pool spin-up). */
  private val footerReadParallelism = 16

  private def memoKey(f: FileStatus): (String, Long, Long) =
    (f.getPath.toString, f.getLen, f.getModificationTime)

  /** Memoize footers for `files`, reading misses in parallel when the
    * miss count warrants a pool; evict memo entries for vanished files. */
  private def memoizeFooters(files: Seq[FileStatus]): Unit = {
    val misses = footerMemo.synchronized {
      files.filterNot(f => footerMemo.contains(memoKey(f)))
    }
    if (misses.size > 3) {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(footerReadParallelism, misses.size))
      try {
        val futures = misses.map(f =>
          pool.submit(new java.util.concurrent.Callable[
              ((String, Long, Long), Option[Long])] {
            override def call() = memoKey(f) -> readFooterMaxOffset(f)
          }))
        val read = futures.map(_.get())
        footerMemo.synchronized { footerMemo ++= read }
      } finally pool.shutdown()
    } else if (misses.nonEmpty) {
      val read = misses.map(f => memoKey(f) -> readFooterMaxOffset(f))
      footerMemo.synchronized { footerMemo ++= read }
    }
    val live = files.map(memoKey).toSet
    footerMemo.synchronized {
      footerMemo.filterInPlace((k, _) => live.contains(k))
    }
  }

  /** AvailableNow fixed point: end offsets frozen at trigger start so
    * the drain terminates even under a live producer. */
  @volatile private var fixedEnd: Option[Map[Int, Long]] = None
  @volatile private var lastDiscovered: Map[Int, Long] = Map.empty

  override def prepareForTriggerAvailableNow(): Unit =
    fixedEnd = Some(discover())

  /** [[discover]] for the batch introspection API. */
  private[sources] def discoverEnds(): Map[Int, Long] = discover()

  /** Test hook: the memo must track LIVE files only (boundedness). */
  private[sources] def footerMemoSize: Int =
    footerMemo.synchronized(footerMemo.size)

  /** List `__partition=P` dirs and compute each log-end offset from
    * footer `__offset` statistics (max + 1). Metadata-only; footer
    * misses across ALL partitions are batched through one parallel
    * read (cold start on a big topic is pool-bound, not serial). */
  private def discover(): Map[Int, Long] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val out =
      if (!fs.exists(root)) Map.empty[Int, Long]
      else {
        val byPid = fs.listStatus(root).toSeq
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith(TopicSource.PartitionCol + "="))
          .map { st =>
            val pid = st.getPath.getName
              .substring(TopicSource.PartitionCol.length + 1).toInt
            pid -> st.getPath
          }
          // group-member assignment prunes BEFORE any file listing or
          // footer read — 1/N of the metadata I/O per member
          .filter { case (pid, _) => assigned.forall(_.contains(pid)) }
          .map { case (pid, p) => pid -> dataFiles(fs, p) }
        memoizeFooters(byPid.flatMap(_._2))
        byPid.flatMap { case (pid, files) =>
          val ends = files.flatMap(footerMaxOffset)
          if (ends.isEmpty) None else Some(pid -> (ends.max + 1L))
        }.toMap
      }
    lastDiscovered = out
    out
  }

  /** A partition directory can VANISH TRANSIENTLY under a live
    * producer: GraftSink.Topic rewrites are dynamic partition
    * overwrites, whose commit briefly replaces each directory. A
    * missing dir mid-poll is therefore "nothing visible right now",
    * never an error — the next poll (or the bounded re-list in
    * [[planInputPartitions]]) sees the rewritten files. The local file
    * system reports a dir gone mid-listing as "Permission denied" or
    * "Invalid directory", so any listing failure on a gone dir reads as
    * empty; on a dir that still exists it is rethrown. */
  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
                        dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq.filter { f =>
      val n = f.getPath.getName
      f.isFile && n.endsWith(".parquet") &&
        !n.startsWith(".") && !n.startsWith("_")
    } catch {
      case e: java.io.IOException => if (fs.exists(dir)) throw e else Seq.empty
    }

  private def footerMaxOffset(f: FileStatus): Option[Long] =
    footerMemo.synchronized {
      footerMemo.getOrElseUpdate(memoKey(f), readFooterMaxOffset(f))
    }

  /** The raw footer read (no memo) — one open, statistics only. A file
    * REPLACED between listing and open (live-producer rewrite) reads
    * as absent; its successor is discovered on the next poll. */
  private def readFooterMaxOffset(f: FileStatus): Option[Long] =
    try readFooterMaxOffset0(f)
    catch { case _: java.io.FileNotFoundException => None }

  private def readFooterMaxOffset0(f: FileStatus): Option[Long] = {
      val rd = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try {
        val maxes = rd.getFooter.getBlocks.asScala.toSeq.map { b =>
          val col = b.getColumns.asScala
            .find(_.getPath.toDotString == TopicSource.OffsetCol)
            .getOrElse(throw new IllegalStateException(
              s"${f.getPath}: no ${TopicSource.OffsetCol} column — not a " +
                "GraftSink.Topic file"))
          val st = col.getStatistics
          require(st != null && st.hasNonNullValue,
            s"${f.getPath}: ${TopicSource.OffsetCol} lacks column " +
              "statistics; the consumer needs footer min/max to find the " +
              "log end without a data scan")
          st.genericGetMax.asInstanceOf[Number].longValue
        }
        if (maxes.isEmpty) None else Some(maxes.max)
      } finally rd.close()
  }

  override def initialOffset(): Offset =
    TopicOffset(discover().keys.map(_ -> 0L).toMap)

  override def getDefaultReadLimit: ReadLimit =
    if (maxOffsetsPerTrigger == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxOffsetsPerTrigger)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[TopicOffset].next
    val avail = fixedEnd.getOrElse(discover())
    var budget = maxOffsetsPerTrigger
    val pids = (s.keySet ++ avail.keySet).toSeq.sorted
    val next = pids.map { pid =>
      val from = s.getOrElse(pid, 0L)
      val end = math.max(avail.getOrElse(pid, 0L), from)
      val admitted =
        if (end - from <= budget) end else from + budget
      budget -= (admitted - from)
      pid -> admitted
    }.toMap
    TopicOffset(next)
  }

  override def reportLatestOffset(): Offset = TopicOffset(lastDiscovered)

  // not called once SupportsAdmissionControl is implemented
  override def latestOffset(): Offset =
    TopicOffset(fixedEnd.getOrElse(discover()))

  override def deserializeOffset(json: String): Offset =
    TopicOffset.parse(json)

  override def commit(end: Offset): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TopicOffset].next
    val e = end.asInstanceOf[TopicOffset].next
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    // ONE deadline shared across all partitions (ADVICE r14): a
    // truncated 8-partition topic fails in ~10s total, not 10s each —
    // the happy path never waits, so sharing costs nothing.
    val deadline = System.nanoTime() + 10L * 1000000000L
    e.toSeq.sortBy(_._1).flatMap { case (pid, until) =>
      val from = s.getOrElse(pid, 0L)
      if (until <= from) None
      else {
        val dir = new Path(root, s"${TopicSource.PartitionCol}=$pid")
        // footer stats prune whole files outside [from, until) at PLAN
        // time; the row-group/record filter inside the reader finishes
        // the job (so a tail read opens only tail files).
        //
        // The listing must COVER the admitted end: between admission
        // (latestOffset's footer discovery) and planning, a live
        // producer's dynamic-overwrite commit can transiently hide the
        // directory or a file. A tail-only check ("some file reaches
        // until-1") is NOT enough — a mid-commit partial listing can
        // include the tail file yet miss an earlier one, silently
        // dropping committed rows (ADVICE r14). So planning requires
        // TWO CONSECUTIVE IDENTICAL listings that cover the admitted
        // tail: topic files are immutable once visible, so a torn
        // listing differs from its re-list, while a complete committed
        // directory lists identically forever. Fail LOUDLY if no
        // stable covering listing appears before the shared deadline
        // (a truncated topic is an operator error, not a skippable gap).
        def list() = dataFiles(fs, dir).filter { f =>
          footerMaxOffset(f).exists(_ >= from)
        }
        def ident(fs2: Seq[FileStatus]) = fs2.map(memoKey).toSet
        def covered(fs2: Seq[FileStatus]) =
          fs2.flatMap(footerMaxOffset).exists(_ >= until - 1)
        var files = list()
        var prev = ident(files)
        var stable = covered(files) && {
          val again = list()
          val same = ident(again) == prev
          if (!same) { files = again; prev = ident(again) }
          same && covered(files)
        }
        while (!stable && System.nanoTime() < deadline) {
          Thread.sleep(25)
          val again = list()
          val same = ident(again) == prev
          if (!same) { files = again; prev = ident(again) }
          stable = same && covered(files)
        }
        require(stable,
          s"$dir: admitted offsets [$from, $until) are not covered by " +
            "a stable file listing after 10s — the topic was truncated " +
            "or rewritten non-deterministically under this consumer")
        Some(TopicInputPartition(pid, files.map(_.getPath.toString),
          from, until): InputPartition)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TopicReaderFactory(schema, new SerializableConfiguration(conf))

  override def stop(): Unit = ()
}

private[sources] class TopicReaderFactory(schema: StructType,
                                          conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new TopicPartitionReader(p.asInstanceOf[TopicInputPartition], schema,
      conf.value)
}

/** Reads `[from, until)` of one topic partition: a parquet
  * FilterPredicate on `__offset` skips consumed row groups, and the
  * declared columns map Group → InternalRow ( `__partition` comes from
  * the directory, everything else from the file; a column absent in an
  * older file reads as null — the schema-evolution-tolerant consumer). */
private[sources] class TopicPartitionReader(part: TopicInputPartition,
                                            schema: StructType,
                                            conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val offsetCol = FilterApi.longColumn(TopicSource.OffsetCol)
  private val filter = FilterCompat.get(FilterApi.and(
    FilterApi.gtEq(offsetCol, java.lang.Long.valueOf(part.from)),
    FilterApi.lt(offsetCol, java.lang.Long.valueOf(part.until))))

  private val files = part.files.iterator
  private var reader: ParquetReader[Group] = _
  private var current: Group = _

  override def next(): Boolean = {
    while (true) {
      if (reader != null) {
        current = reader.read()
        if (current != null) return true
        reader.close(); reader = null
      }
      if (!files.hasNext) return false
      reader = ParquetReader
        .builder(new GroupReadSupport(), new Path(files.next()))
        .withConf(conf).withFilter(filter).build()
    }
    false
  }

  override def get(): InternalRow = {
    val g = current
    val t = g.getType
    InternalRow.fromSeq(schema.fields.toSeq.map { f =>
      if (f.name == TopicSource.PartitionCol) {
        if (f.dataType == LongType) part.pid.toLong else part.pid
      } else if (!t.containsField(f.name)) {
        null
      } else {
        val i = t.getFieldIndex(f.name)
        if (g.getFieldRepetitionCount(i) == 0) null
        else f.dataType match {
          case LongType => g.getLong(i, 0)
          case IntegerType => g.getInteger(i, 0)
          case DoubleType => g.getDouble(i, 0)
          case FloatType => g.getFloat(i, 0)
          case BooleanType => g.getBoolean(i, 0)
          case StringType => UTF8String.fromBytes(g.getBinary(i, 0).getBytes)
          case dt => throw new UnsupportedOperationException(
            s"TopicSource: unsupported column type ${dt.simpleString}")
        }
      }
    })
  }

  override def close(): Unit =
    if (reader != null) { reader.close(); reader = null }
}

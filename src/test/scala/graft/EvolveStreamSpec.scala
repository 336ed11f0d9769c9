package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cdc.{Changelog, Materialize, SchemaEvolution}
import graft.streaming.CdcStream

/** Mid-stream schema evolution (A9's streaming half): a DDL event
  * arriving INSIDE a live feed evolves the sink without a restart —
  * compat-gated, ledger-recorded, breaking DDLs quarantined. */
class EvolveStreamSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(tag).toString

  private def changelog: DataFrame =
    Changelog.fromEvents(Tables.events(spark, sfDir))

  private val ddlTs = 1705000000000000L
  private val seqBase = 8000000000000000000L

  private def ddlRow(seq: Long, props: String) =
    (-1L, ddlTs, seqBase + seq, "DDL", Option.empty[String],
      Option.empty[Double], props)

  private def feedWith(ddls: Seq[String]): DataFrame =
    changelog.unionByName(
      ddls.zipWithIndex.map { case (p, i) => ddlRow(i + 1, p) }
        .toDF("key", "commit_ts_us", "seq", "op", "event_type", "value",
          "props"))

  private val evolveDdlJson = Seq(
    SchemaEvolution.ddlToJson(
      SchemaEvolution.RenameColumn("value", "amount", ddlTs)),
    SchemaEvolution.addColumnJson("region", "unassigned", ddlTs),
    SchemaEvolution.ddlToJson(SchemaEvolution.DropColumn("props", ddlTs)))

  private def drain(inDir: String, schema: org.apache.spark.sql.types.StructType,
                    sinkDir: String, dlqDir: String, ckpt: String): Unit = {
    val q = CdcStream.deliverEvolving(
      CdcStream.fromParquetDir(spark, inDir, schema), sinkDir, dlqDir, ckpt)
    q.awaitTermination()
  }

  private def snapshotOf(df: DataFrame): DataFrame =
    Materialize.snapshot(df)
      .select(col("key").as("user_id"), col("event_type"), col("amount"),
        col("region"), col("commit_ts_us").as("last_ts_us"))

  test("DDL mid-feed: evolved stream converges to the batch A9 splice") {
    val feed = feedWith(evolveDdlJson)
    val inDir = graft.queries.Cdc.streamSliceDir(spark, feed, sfDir,
      slices = 3, orderCols = Seq(col("commit_ts_us"), col("seq")),
      tag = "spec_evolve_in")
    val sink = tmp("evolve_sink"); val dlq = tmp("evolve_dlq")
    drain(inDir, feed.schema, sink, dlq, tmp("evolve_ckpt"))
    val streamed = snapshotOf(CdcStream.readEvolved(spark, sink))
    val batch = snapshotOf(SchemaEvolution.evolve(changelog, Seq(
      SchemaEvolution.RenameColumn("value", "amount"),
      SchemaEvolution.AddColumn("region", lit("unassigned")),
      SchemaEvolution.DropColumn("props"))))
    assert(streamed.count() === batch.count() && batch.count() > 0)
    assert(streamed.exceptAll(batch).count() === 0L)
    assert(batch.exceptAll(streamed).count() === 0L)
    // the DDL batch actually recorded the history
    assert(Files.exists(Paths.get(sink, "_ddl_history")))
    // nothing was quarantined
    assert(!Files.exists(Paths.get(dlq)) ||
      !Files.list(Paths.get(dlq)).findAny().isPresent)
  }

  test("restart AFTER the DDL batch committed: ledger restores the schema") {
    // The foreachBatch closure's memory dies with the query; batches
    // arriving after a restart must still conform under the evolved
    // schema because the sink's _ddl_history ledger IS the state.
    val feed = feedWith(evolveDdlJson)
    val staged = graft.queries.Cdc.FlushFeed.stage(feed, tmp("evolve_r_in"),
      slices = 3, Seq(col("commit_ts_us"), col("seq")))
    val inDir = staged.dir
    val sink = tmp("evolve_r_sink"); val dlq = tmp("evolve_r_dlq")
    val ckpt = tmp("evolve_r_ckpt")
    // hold back the LAST flush (strictly after the DDL)
    staged.release(0); staged.release(1)
    drain(inDir, feed.schema, sink, dlq, ckpt)   // run 1: flushes 0-1
    staged.release(2)
    drain(inDir, feed.schema, sink, dlq, ckpt)   // run 2: fresh query
    val streamed = snapshotOf(CdcStream.readEvolved(spark, sink))
    val batch = snapshotOf(SchemaEvolution.evolve(changelog, Seq(
      SchemaEvolution.RenameColumn("value", "amount"),
      SchemaEvolution.AddColumn("region", lit("unassigned")),
      SchemaEvolution.DropColumn("props"))))
    assert(streamed.exceptAll(batch).count() === 0L)
    assert(batch.exceptAll(streamed).count() === 0L)
    // run 2's segment was written under the EVOLVED schema (amount, no
    // value), proving the ledger — not the dead closure — carried it
    import scala.jdk.CollectionConverters._
    val batchDirs = Files.list(Paths.get(sink)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("__batch=")).toSeq
    val tail = spark.read.parquet(
      sink + "/" + batchDirs.maxBy(_.stripPrefix("__batch=").toInt))
    assert(tail.columns.contains("amount") && !tail.columns.contains("value"))
  }

  test("breaking DDL is quarantined; the feed continues under the old schema") {
    val feed = feedWith(Seq(
      SchemaEvolution.ddlToJson(
        SchemaEvolution.DropColumn("event_type", ddlTs))))
    val inDir = graft.queries.Cdc.streamSliceDir(spark, feed, sfDir,
      slices = 3, orderCols = Seq(col("commit_ts_us"), col("seq")),
      tag = "spec_evolve_break")
    val sink = tmp("evolve_b_sink"); val dlq = tmp("evolve_b_dlq")
    drain(inDir, feed.schema, sink, dlq, tmp("evolve_b_ckpt"))
    import scala.jdk.CollectionConverters._
    val dlqDirs = Files.list(Paths.get(dlq)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("ddl-batch-")).toSeq
    assert(dlqDirs.nonEmpty, "breaking DDL was not quarantined")
    val quarantined = spark.read.parquet(dlq + "/" + dlqDirs.head)
    assert(quarantined.count() === 1L)
    assert(quarantined.select("__dlq_reason").head.getString(0)
      .contains("breaking_consumers"))
    // the feed kept flowing, un-evolved and complete
    val delivered = CdcStream.readEvolved(spark, sink)
    assert(delivered.columns.contains("event_type"))
    assert(delivered.count() === changelog.count())
    assert(!Files.exists(Paths.get(sink, "_ddl_history")) ||
      !Files.list(Paths.get(sink, "_ddl_history")).findAny().isPresent)
  }

  test("wire path: DDL envelopes mid-topic evolve the sink, and a " +
    "RESTARTED consumer resumes under the evolved schema") {
    import org.apache.spark.sql.types._
    import graft.cdc.{Envelope, GraftSink}
    val payload = StructType(Seq(
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val wireSchema = StructType(Seq(
      StructField("__partition", IntegerType, nullable = false),
      StructField("__offset", LongType, nullable = false),
      StructField(Envelope.EnvelopeCol, StringType)))
    val ddlWire = Envelope.encodeDdl(spark, Seq(
        ("rename", "value", "amount", ddlTs),
        ("add", "region", "unassigned", ddlTs + 1),
        ("drop", "props", null, ddlTs + 2)), "graft", "events")
      .withColumn("key", lit(-1L))
      .withColumn("seq", col("commit_ts_us"))
      .withColumn("op", lit("DDL"))
    def topicOf(rows: DataFrame): DataFrame =
      Envelope.encode(rows, "graft", "events",
        Seq("event_type", "value", "props")).unionByName(ddlWire)
    val log = changelog
    val path = tmp("wire_topic")
    val sink = tmp("wire_sink"); val dlq = tmp("wire_dlq")
    val ckpt = tmp("wire_ckpt")
    // run 1's topic: rows strictly before the DDLs (so the later
    // EXTENSION appends — deterministic assignment keeps committed
    // offsets valid, the A46 rewrite-is-append contract)
    GraftSink.Topic(path = path, numPartitions = 8)
      .write(topicOf(log.where(col("commit_ts_us") < ddlTs)))
    def drainWire(): Unit =
      CdcStream.deliverEvolvingWire(
        graft.sources.TopicSource.stream(spark, path, wireSchema)
          .select(Envelope.EnvelopeCol),
        payload, "graft", "events", sink, dlq, ckpt).awaitTermination()
    drainWire() // run 1: prefix + the DDL envelopes
    assert(Files.exists(Paths.get(sink, "_ddl_history")),
      "the wire DDL batch must have ledgered the history")
    GraftSink.Topic(path = path, numPartitions = 8).write(topicOf(log))
    drainWire() // run 2: FRESH query, same checkpoint — tail only
    val streamed = snapshotOf(CdcStream.readEvolved(spark, sink))
    val batch = snapshotOf(SchemaEvolution.evolve(log, Seq(
      SchemaEvolution.RenameColumn("value", "amount"),
      SchemaEvolution.AddColumn("region", lit("unassigned")),
      SchemaEvolution.DropColumn("props"))))
    assert(streamed.count() === batch.count() && batch.count() > 0)
    assert(streamed.exceptAll(batch).count() === 0L)
    assert(batch.exceptAll(streamed).count() === 0L)
    // run 2's tail segment was written EVOLVED — the ledger, not the
    // dead run-1 closure, carried the schema across the restart
    import scala.jdk.CollectionConverters._
    val batchDirs = Files.list(Paths.get(sink)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("__batch=")).toSeq
    assert(batchDirs.size >= 2, s"expected segments from both runs: $batchDirs")
    val tail = spark.read.parquet(
      sink + "/" + batchDirs.maxBy(_.stripPrefix("__batch=").toInt))
    assert(tail.columns.contains("amount") && !tail.columns.contains("value"))
    // nothing quarantined on the clean path
    assert(!Files.exists(Paths.get(dlq)) ||
      !Files.list(Paths.get(dlq)).findAny().isPresent)
  }

  test("wire path: DDL-flagged envelopes ddlEvents cannot consume drain " +
    "into the envelope DLQ, never silently vanish") {
    import org.apache.spark.sql.types._
    import graft.cdc.{Envelope, GraftSink}
    val payload = StructType(Seq(
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val wireSchema = StructType(Seq(
      StructField("__partition", IntegerType, nullable = false),
      StructField("__offset", LongType, nullable = false),
      StructField(Envelope.EnvelopeCol, StringType)))
    val rows = changelog.limit(200)
    // a native canal DDL (isDdl:true, sql only — NO _graft_ddl section)
    // and an envelope with no isDdl field at all: both classify as
    // ddl_event_in_row_topic but ddlEvents cannot replay either
    val poisoned = Seq(
      (-1L, ddlTs, seqBase + 1, "DDL",
        """{"database":"graft","table":"events","isDdl":true,""" +
          """"type":"ALTER","es":1705000000000,"ts":1705000000000,""" +
          """"sql":"ALTER TABLE events ADD COLUMN region VARCHAR"}"""),
      (-1L, ddlTs, seqBase + 2, "DDL",
        """{"database":"graft","table":"events","type":"INSERT",""" +
          """"es":1705000000000,"ts":1705000000000,"data":[{}]}"""))
    import spark.implicits._
    val wire = Envelope.encode(rows, "graft", "events",
        Seq("event_type", "value", "props"))
      .unionByName(poisoned
        .toDF("key", "commit_ts_us", "seq", "op", Envelope.EnvelopeCol)
        .select(col("key"), col("commit_ts_us"), col("seq"), col("op"),
          col(Envelope.EnvelopeCol)))
    val path = tmp("wire_reject_topic")
    GraftSink.Topic(path = path, numPartitions = 4).write(wire)
    val sink = tmp("wire_reject_sink"); val dlq = tmp("wire_reject_dlq")
    CdcStream.deliverEvolvingWire(
      graft.sources.TopicSource.stream(spark, path, wireSchema)
        .select(Envelope.EnvelopeCol),
      payload, "graft", "events", sink, dlq,
      tmp("wire_reject_ckpt")).awaitTermination()
    // both poisoned envelopes are in the envelope DLQ with their reasons
    import scala.jdk.CollectionConverters._
    val dlqDirs = Files.list(Paths.get(dlq)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("envelope-batch-"))
      .toSeq
    assert(dlqDirs.nonEmpty, "unconsumable DDL envelopes were dropped")
    val quarantined = spark.read.parquet(dlqDirs.map(dlq + "/" + _): _*)
    val reasons = quarantined.select("__dlq_reason").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(reasons === Seq("ddl_flag_missing", "ddl_missing_graft_section"),
      reasons.toString)
    // the data rows all delivered; no schema change was applied
    val delivered = CdcStream.readEvolved(spark, sink)
    assert(delivered.count() === rows.count())
    assert(delivered.columns.contains("value") &&
      !delivered.columns.contains("region"))
    assert(!Files.exists(Paths.get(sink, "_ddl_history")) ||
      !Files.list(Paths.get(sink, "_ddl_history")).findAny().isPresent)
  }

  test("ledger rejects fields that would corrupt the pipe format") {
    val dir = tmp("evolve_ledger_guard")
    // clean rows round-trip
    CdcStream.EvolveLedger.append(dir, 0L,
      Seq(Seq("add", "c1", "ok-default", "1000", "0")))
    assert(CdcStream.EvolveLedger.read(dir).size === 1)
    // a '|' or newline in any field is rejected LOUDLY at write time —
    // silently corrupting the replayed DDL history would be worse
    for (bad <- Seq("a|b", "a\nb", "a\rb")) {
      val e = intercept[IllegalArgumentException] {
        CdcStream.EvolveLedger.append(dir, 1L,
          Seq(Seq("add", "c2", bad, "2000", "0")))
      }
      assert(e.getMessage.contains("may not contain"))
    }
    // the failed appends left no partial batch behind
    assert(CdcStream.EvolveLedger.read(dir).size === 1)
  }
}

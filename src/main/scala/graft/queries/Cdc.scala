package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Tables
import graft.cdc._
import graft.operators.{RangeJoin, Sessionize}
import graft.sources.GraftSource
import graft.streaming.CdcStream

/** CDC-surface queries (SURVEY.md §2.A) with DuckDB oracles. */
object Cdc {

  private def dec182(c: String) = col(c).cast("decimal(18,2)")

  /** Exact cent-sum as LONG (hash-stable cross-engine — SURVEY.md §6;
    * DecimalType outputs render trailing zeros and break the driver's
    * string hash, r2 lesson). */
  private def sumCents(c: String) =
    sum((dec182(c) * 100).cast("decimal(38,0)")).cast("long")

  /** DuckDB form of [[sumCents]]; outer CAST collapses HUGEINT. Like
    * Analytics.sumFixed, both engines sum in wide decimal (no silent
    * int64 wrap at extreme SF) and only the final value must fit long. */
  private val sumCentsSql =
    "CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))) AS BIGINT)"

  private def changelog(s: SparkSession, dir: String): DataFrame =
    Changelog.fromEvents(Tables.events(s, dir))

  /** Declared wire-payload schema for the envelope codec queries (the
    * events changelog payload — never inferred from data). */
  private val envelopePayload = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("event_type",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("value",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("props",
      org.apache.spark.sql.types.StringType)))

  /** Time-travel point for `cdc_snapshot_asof` — mid-January 2024,
    * inside the generator's event-ts range at every SF. */
  private val asofTsUs = 1705000000000000L

  /** `cdc_gen_snapshot` feed size — 2M by default (what the driver
    * verifies); SPARK_GRAFT_GEN_ROWS scales the SAME query for local
    * throughput experiments (both the Spark plan and the generated
    * oracle read it, so parity holds at any size — BENCH_NOTES.md). */
  private val genSnapshotRows: Long =
    sys.env.get("SPARK_GRAFT_GEN_ROWS").map(_.toLong).getOrElse(2000000L)

  /** The `cdc_topic_txn_produce` scenario (A60's write half): five
    * producer sessions composed into one fenced transactional log, read
    * back under read_committed with fates derived from in-log markers.
    * Legs are seq%5 classes; txn 3 starts only after Jan 20 so the LSO
    * sits ~2/3 into each partition (both below- and beyond-LSO censuses
    * non-vacuous at every SF). Returns (visible, report). */
  private def txnProducedTopic(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val log = changelog(s, dir)
    val t2 = 1705708800000000L // 2024-01-20
    val cls = col("seq") % 5
    val raw = new GraftSink.TxnProducer("raw", 1)
      .sendNonTransactional(log.where(cls === 0 ||
        (cls === 3 && col("commit_ts_us") <= t2)))
    val pa = new GraftSink.TxnProducer("pa", 1)
      .begin(1).send(log.where(cls === 1)).commit(slot = 1)
    val pb = new GraftSink.TxnProducer("pb", 1)
      .begin(2).send(log.where(cls === 2)).abort(slot = 2)
    val pc = new GraftSink.TxnProducer("pc", 1)
      .begin(3).send(log.where(cls === 3 && col("commit_ts_us") > t2))
    // pc never ends txn 3 — the crashed producer; markerless = open
    val pdZombie = new GraftSink.TxnProducer("pd", 1)
      .begin(4).send(log.where(cls === 4))
      .commit(slot = 6) // the LATE zombie commit — fenced by epoch 2
    val pdNew = new GraftSink.TxnProducer("pd", 2)
      .begin(4).abort(slot = 4) // recovery aborts the in-flight txn
      .begin(5).send(log.where(cls === 4 && col("commit_ts_us") > asofTsUs)
        .withColumn("seq", col("seq") + 4000000000000000000L))
      .commit(slot = 5)
    val topic = GraftSink.Topic(path = "", numPartitions = 8)
    topic.readCommittedFromLog(topic.transactionalLog(
      Seq(raw, pa, pb, pc, pdZombie, pdNew)))
  }

  /** Shared CTE chain for the two `cdc_topic_txn_produce*` oracles:
    * re-derives the five producer legs, the relational markers
    * (ts = global max + slot, seq = 6e18 + slot·8 + p, key = p), the
    * per-(partition, producer) running-max epoch fence, dense offsets
    * over survivors, per-(partition, txn) fates from SURVIVING markers
    * (the zombie's late commit is fenced before this step), and the
    * LSO. (lazy: logCte initializes later in this object) */
  private lazy val txnProduceCtes: String = logCte +
    s""",
      |mx AS (SELECT max(commit_ts_us) AS m FROM log),
      |d AS (
      |  SELECT key, commit_ts_us, seq, 'raw' AS producer, 1 AS epoch,
      |         CAST(NULL AS BIGINT) AS txn_id, CAST(NULL AS VARCHAR) AS ctrl,
      |         op, event_type, value
      |  FROM log
      |  WHERE seq % 5 = 0
      |     OR (seq % 5 = 3 AND commit_ts_us <= 1705708800000000)
      |  UNION ALL
      |  SELECT key, commit_ts_us, seq, 'pa', 1, 1, NULL,
      |         op, event_type, value
      |  FROM log WHERE seq % 5 = 1
      |  UNION ALL
      |  SELECT key, commit_ts_us, seq, 'pb', 1, 2, NULL,
      |         op, event_type, value
      |  FROM log WHERE seq % 5 = 2
      |  UNION ALL
      |  SELECT key, commit_ts_us, seq, 'pc', 1, 3, NULL,
      |         op, event_type, value
      |  FROM log WHERE seq % 5 = 3 AND commit_ts_us > 1705708800000000
      |  UNION ALL
      |  SELECT key, commit_ts_us, seq, 'pd', 1, 4, NULL,
      |         op, event_type, value
      |  FROM log WHERE seq % 5 = 4
      |  UNION ALL
      |  SELECT key, commit_ts_us, seq + 4000000000000000000, 'pd', 2, 5,
      |         NULL, op, event_type, value
      |  FROM log WHERE seq % 5 = 4 AND commit_ts_us > $asofTsUs),
      |mk AS (
      |  SELECT g.p AS key, mx.m + s.slot AS commit_ts_us,
      |         6000000000000000000 + s.slot * 8 + g.p AS seq,
      |         s.producer, s.epoch, s.txn, s.ctrl,
      |         CAST(NULL AS VARCHAR) AS op,
      |         CAST(NULL AS VARCHAR) AS event_type,
      |         CAST(NULL AS DOUBLE) AS value
      |  FROM generate_series(0, 7) g(p), mx,
      |       (VALUES ('pa', 1, 1, 'commit', 1), ('pb', 1, 2, 'abort', 2),
      |               ('pd', 2, 4, 'abort', 4), ('pd', 2, 5, 'commit', 5),
      |               ('pd', 1, 4, 'commit', 6))
      |         s(producer, epoch, txn, ctrl, slot)),
      |rec AS (SELECT * FROM d UNION ALL SELECT * FROM mk),
      |routed AS (SELECT *, key % 8 AS p FROM rec),
      |f AS (
      |  SELECT *, max(epoch) OVER (PARTITION BY p, producer
      |    ORDER BY commit_ts_us, seq, key
      |    ROWS UNBOUNDED PRECEDING) AS fence
      |  FROM routed),
      |o AS (
      |  SELECT *, row_number() OVER (PARTITION BY p
      |    ORDER BY commit_ts_us, seq, key) - 1 AS ofs
      |  FROM f WHERE epoch = fence),
      |fate AS (
      |  SELECT p, txn_id,
      |         CASE arg_min(ctrl, ofs) WHEN 'commit' THEN 'committed'
      |              ELSE 'aborted' END AS outcome
      |  FROM o WHERE ctrl IS NOT NULL GROUP BY 1, 2),
      |st AS (
      |  SELECT o.*, CASE WHEN o.ctrl IS NOT NULL THEN NULL
      |                   WHEN o.txn_id IS NULL THEN 'committed'
      |                   ELSE coalesce(fate.outcome, 'open') END AS status
      |  FROM o LEFT JOIN fate
      |    ON o.p = fate.p AND o.txn_id IS NOT DISTINCT FROM fate.txn_id),
      |l AS (
      |  SELECT p,
      |         CAST(coalesce(min(CASE WHEN status = 'open' THEN ofs END),
      |                       max(ofs) + 1) AS BIGINT) AS lso,
      |         CAST(max(ofs) + 1 AS BIGINT) AS end_offset
      |  FROM st GROUP BY 1)""".stripMargin

  /** The changelog derivation (SURVEY.md §3) as a DuckDB CTE. */
  val logCte: String =
    """WITH log AS (
      |  SELECT user_id AS key, epoch_us(ts) AS commit_ts_us, event_id AS seq,
      |         CASE event_type WHEN 'signup' THEN 'I'
      |                         WHEN 'error' THEN 'D' ELSE 'U' END AS op,
      |         event_type, value, props
      |  FROM events)""".stripMargin

  /** Shared snapshot oracle — cdc_snapshot and cdc_upsert must agree
    * by construction (incremental apply converges to the full state). */
  private val snapshotOracle: String = logCte +
    """,
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY key
      |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
      |  FROM log)
      |SELECT key AS user_id, event_type AS last_event_type,
      |       value AS last_value, commit_ts_us AS last_ts_us
      |FROM ranked WHERE rn = 1 AND op <> 'D'
      |ORDER BY user_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A1 standalone: the row-change event model itself — every event as
    // an I/U/D changelog row with commit-ts + seq (the derivation every
    // other cdc_* query builds on, surfaced so coverage is self-evident)
    "cdc_changelog" -> ((s, dir) => {
      changelog(s, dir)
        .select(col("seq"), col("key").as("user_id"), col("op"),
          col("commit_ts_us"), col("event_type"), col("value"), col("props"))
        .orderBy("seq")
    }),

    // A38: right-to-be-forgotten propagation — the erasure request is a
    // RELATION of subject keys (user_id % 23 = 0 models the external
    // request list) that broadcast-anti-joins the feed out of existence
    // (erasure, not a D tombstone — a tombstone would itself retain the
    // key); the audit is self-verifying: n_remaining_traces is
    // re-derived FROM the purged frame, so a purge bug shows up as a
    // nonzero count and fails the cross-engine hash.
    "cdc_forget" -> ((s, dir) => {
      val log = changelog(s, dir)
      val req = log.select(col("key")).where(col("key") % 23 === 0).distinct()
      Forget.audit(log, req).orderBy("user_id")
    }),

    // A39: synthetic-changefeed generator source — a full DataSourceV2
    // TableProvider (batch + micro-batch streaming) whose rows are a
    // pure integer function of their index, generated in the executors
    // with zero I/O (the CDC-shaped `rate` source a harness uses to ask
    // for a billion change events without writing a byte); the oracle
    // re-states the row function via generate_series, so parity proves
    // the connector delivers exactly the declared relation.
    "cdc_gen_source" -> ((s, dir) => {
      s.read.format("graft.sources.GenSource")
        .option("rows", 20000).option("users", 257).option("slices", 32)
        .load()
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value_e2")).cast("long").as("sum_value_e2"),
          min(col("ts_us")).as("min_ts_us"),
          max(col("ts_us")).as("max_ts_us"))
        .orderBy("event_type")
    }),

    // A39 scale demo: snapshot over TWO MILLION generated change events
    // — the generator feeds the A2 max_by materialization at a volume
    // ~30× the sf0.1 parquet feed with zero I/O, so the bench row prices
    // pure engine throughput (scan-local generation → ONE map-side-
    // combined shuffle of |users| groups); the oracle re-derives the
    // same 2M rows via generate_series + a ranked window.
    "cdc_gen_snapshot" -> ((s, dir) => {
      val feed = s.read.format("graft.sources.GenSource")
        .option("rows", genSnapshotRows).option("users", 1000)
        .option("slices", 32)
        .load()
      feed.groupBy(col("user_id"))
        .agg(max_by(
            struct(col("ts_us"), col("event_id"), col("event_type"),
              col("value_e2")),
            struct(col("ts_us"), col("event_id"))).as("last"))
        .select(col("user_id"), col("last.event_type").as("last_event_type"),
          col("last.value_e2").as("last_value_e2"),
          col("last.ts_us").as("last_ts_us"))
        .orderBy("user_id")
    }),

    // A40: cross-table CONSISTENT snapshot (the TiCDC syncpoint idea):
    // a transaction spanning tables must never be half-visible, so both
    // tables materialize at the SAME ts — the global syncpoint =
    // min(per-table resolved-ts); each side filters its feed to
    // commit_ts ≤ syncpoint before the A2 max_by materialization, and
    // the per-table summary (keys, exact cent sum, max materialized ts
    // ≤ sync) is the consistency certificate. The syncpoint is a 1-row
    // broadcast into scan-local filters — no extra feed shuffle beyond
    // the two snapshots'.
    "cdc_syncpoint" -> ((s, dir) => {
      val log = changelog(s, dir)
      val even = log.where(col("key") % 2 === 0)
      val odd = log.where(col("key") % 2 === 1)
      val sync = broadcast(
        Materialize.resolvedTs(even, 32).unionAll(
          Materialize.resolvedTs(odd, 32))
        .agg(min(col("resolved_ts_us")).as("sync_ts_us")))
      def side(name: String, t: DataFrame): DataFrame =
        Materialize.snapshot(
            t.crossJoin(sync).where(col("commit_ts_us") <= col("sync_ts_us"))
              .drop("sync_ts_us"))
          .agg(count(lit(1)).as("n_keys"),
            sumCents("value").as("sum_value_e2"),
            max(col("commit_ts_us")).as("max_ts_us"))
          .crossJoin(sync)
          .select(lit(name).as("__table"), col("sync_ts_us"),
            col("n_keys"), col("sum_value_e2"), col("max_ts_us"))
      side("events_even", even).unionAll(side("events_odd", odd))
        .orderBy("__table")
    }),

    // A41 (A9 companion): sink DDL emission — the ordered ALTER plan
    // migrating a downstream table to the evolved schema (EmitDDLEvent's
    // other half: A9 evolves the FEED, this emits the statements the
    // SINK must run). Source columns come from the live parquet footer
    // in BOTH engines (Spark's schema read vs DuckDB DESCRIBE over the
    // same file), mapped into a shared dialect vocabulary — so the
    // driver row proves the two engines agree on the schema itself, not
    // just on data. Schema work is inherently driver-side metadata
    // (|columns| rows, no data scan).
    // A43: schema-compatibility gate — grades the SAME source→target
    // transition A41 plans DDL for, per column: adds are
    // compat_with_default, drops breaking_consumers, type changes
    // widening_ok only on the declared widening pairs — and a drop+add
    // sharing one type is flagged suspected_rename on BOTH rows (the
    // rename-masquerading-as-drop+add silent-data-loss case a sink
    // must refuse to auto-apply). Metadata-scale relational logic;
    // the oracle re-derives the source schema via DESCRIBE.
    "cdc_schema_compat" -> ((s, dir) => {
      val src = s.read.parquet(s"$dir/events.parquet").schema.fields.toSeq
        .map(f => f.name -> SchemaEvolution.dialectType(f.dataType))
      val target = src.filterNot(_._1 == "props").map {
        case ("value", _) => ("value", "DECIMAL(18,2)")
        case ("user_id", _) => ("user_id", "HUGEINT")
        case kv => kv
      } :+ ("masked" -> "VARCHAR")
      SchemaEvolution.compatReport(s, src, target)
        .orderBy("change", "col_name")
    }),

    "cdc_ddl_plan" -> ((s, dir) => {
      val src = s.read.parquet(s"$dir/events.parquet").schema.fields.toSeq
        .map(f => f.name -> SchemaEvolution.dialectType(f.dataType))
      val target = src.filterNot(_._1 == "props").map {
        case ("value", _) => ("value", "DECIMAL(18,2)")
        case kv => kv
      } :+ ("masked" -> "VARCHAR")
      val plan = SchemaEvolution.ddlPlan("events", src, target)
      import s.implicits._
      plan.zipWithIndex.map { case ((op, c, t, sql), i) =>
        (i.toLong + 1, op, c, t, sql)
      }.toDF("ord", "op", "col_name", "col_type", "ddl")
    }),

    // A42: producer-liveness (heartbeat-gap) audit — per pipeline
    // partition, the largest silent window in the feed and a stalled
    // flag when it exceeds the heartbeat SLO (the "is the upstream
    // still alive" check A24's lag report can't answer: lag measures
    // distance-behind-now, this measures the worst historical stall).
    // One pipeline-partitioned lag window + one partial-agg shuffle to
    // |pipelines| rows; gaps in exact integer seconds. Routing uses
    // `%` (not pmod) so the Spark expression and the DuckDB mirror's
    // `key % 32` agree for SIGNED keys too — pmod is non-negative
    // while both engines' % follows the dividend's sign (the
    // cdc_syncpoint convention; keys are non-negative today, but the
    // pairing must not be load-bearing on that).
    "cdc_heartbeat" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pipeline = (col("key") % lit(32L)).as("pipeline")
      val w = Window.partitionBy("pipeline")
        .orderBy("commit_ts_us", "seq")
      changelog(s, dir)
        .select(pipeline, col("commit_ts_us"), col("seq"))
        .withColumn("prev", lag(col("commit_ts_us"), 1).over(w))
        .where(col("prev").isNotNull)
        .select(col("pipeline"),
          expr("(commit_ts_us - prev) div 1000000").as("gap_s"))
        .groupBy("pipeline")
        .agg(count(lit(1)).as("n_gaps"),
          max(col("gap_s")).as("max_gap_s"),
          sum(when(col("gap_s") > 3600, 1L).otherwise(0L))
            .as("n_gaps_over_1h"))
        .withColumn("stalled",
          when(col("max_gap_s") > 86400, 1L).otherwise(0L))
        .orderBy("pipeline")
    }),

    // A16: multi-table changefeed — per-table resolved-ts over a
    // two-table feed (min over per-pipeline max ts, per table); the
    // changefeed-level AddTable/RemoveTable surface behind it
    "cdc_multi_resolved" -> ((s, dir) => {
      val log = changelog(s, dir)
      MultiTableChangefeed.empty
        .addTable("events_even", log.where(col("key") % 2 === 0))
        .addTable("events_odd", log.where(col("key") % 2 === 1))
        .resolvedTs(32)
        .select(col("__table"), col("resolved_ts_us"))
        .orderBy("__table")
    }),

    // A20: config-driven chain DSL — a chain parsed from its string form
    // must produce exactly what the hand-built combinators produce (the
    // oracle re-states the stages in SQL, so DSL == combinators == SQL)
    "cdc_chain_config" -> ((s, dir) => {
      ChainConfig.parse(
        "event-filter:purchase,click | where:value > 50 " +
          "| route:keymod/8 | mask:props=keep2,key=sha256")
        .run(changelog(s, dir))
        .select(col("seq"), col("key").as("user_hash"), col("event_type"),
          col("value"), col("props").as("props_masked"), col("__partition"))
        .orderBy("seq")
    }),

    // A35: incremental view maintenance with retractions (the Flink
    // retract-stream model): a per-group (event_type) user-count +
    // value-sum view maintained purely from ±delta rows — each event
    // ADDS its new state's contribution and RETRACTS its prior state's
    // (none if the prior op was a delete). The oracle computes the view
    // DIRECTLY from the materialized snapshot, so the driver's
    // hash-compare is the retraction-algebra == direct-materialization
    // theorem, checked cross-engine. One key-partitioned window (the
    // before-image sort) + one tiny grouped sum; deltas are exact
    // cents. At scale the window disappears entirely: TiCDC-style
    // events carry the before-image ON the event (README.md:62), so
    // per-flush maintenance is |delta| rows + a |groups|-row merge.
    "cdc_ivm_view" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // Coalesce the group key BEFORE building contributions: a live
      // event with NULL event_type must still retract/add (grp-is-null
      // is how retraction rows are filtered, so an un-coalesced NULL
      // group would silently drop both sides while the oracle's GROUP
      // BY emits a NULL group). Mirrored in the oracle below.
      val log = changelog(s, dir)
        .withColumn("event_type",
          coalesce(col("event_type"), lit("__null__")))
        .withColumn("cents", (dec182("value") * 100).cast("long"))
      val w = Window.partitionBy(col("key"))
        .orderBy(col("commit_ts_us"), col("seq"))
      val staged = log
        .withColumn("prev_op", lag(col("op"), 1).over(w))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .withColumn("prev_cents", lag(col("cents"), 1).over(w))
      val hasPrior = col("prev_op").isNotNull && col("prev_op") =!= "D"
      val isLive = col("op") =!= "D"
      val contrib = staged.select(explode(array(
          struct(when(isLive, col("event_type")).as("grp"),
            when(isLive, col("cents")).as("dc"),
            when(isLive, lit(1L)).as("dn")),
          struct(when(hasPrior, col("prev_type")).as("grp"),
            when(hasPrior, -col("prev_cents")).as("dc"),
            when(hasPrior, lit(-1L)).as("dn")))).as("c"))
        .where(col("c.grp").isNotNull)
      contrib
        .groupBy(col("c.grp").as("event_type"))
        .agg(sum(col("c.dn")).as("n_users"),
          sum(col("c.dc").cast("decimal(38,0)")).cast("long")
            .as("sum_value_e2"))
        .where(col("n_users") > 0)
        .orderBy("event_type")
    }),

    // A33: point-in-time (SCD2 as-of) join — each purchase event joined
    // to the user-state VERSION valid at its timestamp (feature-store
    // "training-time correctness": never join tomorrow's dimension onto
    // today's fact). Composes A26's validity intervals; the join has an
    // equality component (the key), so Spark plans a hash join with the
    // interval residual as a filter — never a theta product. LEFT join
    // keeps facts that precede their key's first version.
    "cdc_pit_join" -> ((s, dir) => {
      val log = changelog(s, dir)
      val hist = Materialize.history(log)
      val purchases = log.where(col("event_type") === "purchase")
        .select(col("key").as("user_id"),
          col("commit_ts_us").as("purchase_ts_us"),
          col("seq").as("purchase_seq"))
      purchases.join(hist,
          col("user_id") === col("key") &&
            col("valid_from_us") <= col("purchase_ts_us") &&
            (col("valid_to_us").isNull ||
              col("purchase_ts_us") < col("valid_to_us")),
          "left")
        .select(col("purchase_seq"), col("user_id"),
          col("purchase_ts_us"), col("seq").as("state_seq"),
          col("valid_from_us"))
        .orderBy("purchase_seq")
    }),

    // A32: delivery-order audit — the sink-side data-quality check that
    // per-key commit-ts never regresses along the sequence order (the
    // reference's ordered-delivery contract, README.md:60-65). Run over
    // a feed with injected reordering (every 97th event's commit-ts
    // pulled back 1h) so violations exist and localize to their keys.
    // One exchange total: the lag window hash-partitions by key and the
    // per-key aggregate reuses that partitioning.
    "cdc_order_check" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val perturbed = changelog(s, dir).withColumn("commit_ts_us",
        when(col("seq") % 97 === 0, col("commit_ts_us") - 3600L * 1000000L)
          .otherwise(col("commit_ts_us")))
      val w = Window.partitionBy(col("key")).orderBy(col("seq"))
      perturbed
        .withColumn("__prev", lag(col("commit_ts_us"), 1).over(w))
        .groupBy(col("key").as("user_id"))
        .agg(count(lit(1)).as("n_events"),
          count(when(col("commit_ts_us") < col("__prev"), 1))
            .as("n_regressions"))
        .where(col("n_regressions") > 0)
        .orderBy("user_id")
    }),

    // A31: dual-feed merge (failover / dual-region dual-write): a
    // secondary feed redelivers an overlapping slice of the primary;
    // union → exact replay dedup (grouped agg, so duplicates collapse
    // map-side before the shuffle) → snapshot. Result must equal the
    // single-feed snapshot — the merge is idempotent by construction,
    // which is what makes regional failover safe at any feed size.
    // A37: watermark-disorder audit — how out-of-order is each feed?
    // An event is LATE when its commit ts is behind the running
    // high-water mark of its key's stream in arrival (seq) order; the
    // report gives per-event-type late counts and the worst lateness,
    // i.e. the minimum watermark delay a streaming consumer would need
    // to avoid dropping events. One shuffle on key for the window, one
    // partial-agg shuffle for the report; the fraction is an exact
    // integer DIV on the e9 ladder.
    "cdc_disorder" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("key")).orderBy(col("seq"))
        .rowsBetween(Window.unboundedPreceding, -1)
      changelog(s, dir)
        .withColumn("__hwm", max(col("commit_ts_us")).over(w))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count(when(col("commit_ts_us") < col("__hwm"), 1)).as("n_late"),
          coalesce(max(when(col("commit_ts_us") < col("__hwm"),
            col("__hwm") - col("commit_ts_us"))), lit(0L)).as("max_late_us"))
        .withColumn("late_frac_e9",
          expr("n_late * 1000000000 div n_events"))
        .orderBy("event_type")
    }),

    "cdc_merge_feeds" -> ((s, dir) => {
      val log = changelog(s, dir)
      val secondary = log.where(col("seq") % 3 === 0)
      Materialize.snapshot(Materialize.dedup(log.unionAll(secondary)))
        .select(
          col("key").as("user_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"),
          col("commit_ts_us").as("last_ts_us"))
        .orderBy("user_id")
    }),

    // A1+A2: changelog → latest-state snapshot, delete tombstones dropped
    "cdc_snapshot" -> ((s, dir) => {
      Materialize.snapshot(changelog(s, dir))
        .select(
          col("key").as("user_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"),
          col("commit_ts_us").as("last_ts_us"))
        .orderBy("user_id")
    }),

    // A3: resolved-ts watermark
    "cdc_resolved_ts" -> ((s, dir) => Materialize.resolvedTs(changelog(s, dir), 32)),

    // A27: snapshot as-of T (time travel) — the state the table had at
    // an arbitrary past ts: filter the changelog to commit_ts <= T
    // (pushed into the scan), then the same max_by partial-agg
    // snapshot; at 100 TB the filter prunes whole files when the log
    // is written time-partitioned
    "cdc_snapshot_asof" -> ((s, dir) => {
      Materialize.snapshot(
          changelog(s, dir).where(col("commit_ts_us") <= asofTsUs))
        .select(
          col("key").as("user_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"),
          col("commit_ts_us").as("last_ts_us"))
        .orderBy("user_id")
    }),

    // A28: incremental snapshot upsert — the per-flush warehouse MERGE:
    // state materialized up to T, then the post-T delta applied in ONE
    // max_by pass (history never rescanned). Must equal the full
    // snapshot — the oracle IS cdc_snapshot's.
    "cdc_upsert" -> ((s, dir) => {
      val log = changelog(s, dir)
      val state = Materialize.snapshot(
        log.where(col("commit_ts_us") <= asofTsUs))
      val delta = log.where(col("commit_ts_us") > asofTsUs)
      Materialize.upsert(state, delta)
        .select(
          col("key").as("user_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"),
          col("commit_ts_us").as("last_ts_us"))
        .orderBy("user_id")
    }),

    // A26: SCD2 version history — every non-delete change as a
    // validity interval [from, to); live versions open-ended; a delete
    // closes the prior interval. One lead() window on the snapshot's
    // own key partitioning.
    "cdc_history" -> ((s, dir) => {
      Materialize.history(changelog(s, dir))
        .select(col("key").as("user_id"), col("seq"), col("op"),
          col("valid_from_us"), col("valid_to_us"))
        .orderBy("user_id", "valid_from_us", "seq")
    }),

    // A25: sink-consistency checksum — bucketed order-independent
    // digest of the materialized snapshot (sync-diff-inspector shape):
    // equal buckets on source and replica prove convergence without
    // moving either table; doubles canonicalized to cents first
    "cdc_checksum" -> ((s, dir) => {
      val snap = Materialize.snapshot(changelog(s, dir))
      Consistency.checksum(snap, col("key"),
          Seq(col("key"), col("event_type"),
            (col("value").cast("decimal(18,2)") * 100)
              .cast("decimal(38,0)").cast("long"),
            col("commit_ts_us")),
          buckets = 16)
        .orderBy("bucket")
    }),

    // A24: feed-health / checkpoint-lag report — per pipeline, how far
    // its frontier runs ahead of the feed-wide resolved-ts (the TiCDC
    // checkpoint-lag metric). One corpus pass; the resolved scalar is a
    // broadcast 1-row agg over the checkpointed per-pipeline frame.
    "cdc_lag" -> ((s, dir) => Materialize.feedLag(changelog(s, dir), 32)),

    // A4: plugin chain — event-type + predicate filters
    "cdc_event_filter" -> ((s, dir) => {
      Changefeed(Seq(
        EventTypeFilter(Set("purchase", "click")),
        PredicateFilter("high-value", col("value") > 100.0)))
        .run(changelog(s, dir))
        .select(col("seq"), col("key").as("user_id"), col("event_type"),
          col("value"), col("commit_ts_us"))
        .orderBy("seq")
    }),

    // A5: sensitive-field masking plugin
    "cdc_mask" -> ((s, dir) => {
      Changefeed(Seq(
        EventTypeFilter(Set("purchase")),
        TransformPlugin("project", df => df.select(
          col("seq"),
          Mask(col("key"), Mask.Sha256).as("user_hash"),
          Mask(col("props"), Mask.RedactKeepLast(2)).as("props_masked"),
          col("event_type"), col("value")))))
        .run(changelog(s, dir))
        .orderBy("seq")
    }),

    // A6: partition routing plugin (key mod N) + per-route stats
    "cdc_route" -> ((s, dir) => {
      Changefeed(Seq(RoutePlugin(Route.KeyMod, 16)))
        .run(changelog(s, dir))
        .groupBy(col("__partition"), col("op"))
        .agg(
          count(lit(1)).as("n_events"),
          sumCents("value").as("sum_value_e2"))
        .orderBy("__partition", "op")
    }),

    // A14: exact replay-dedup (at-least-once delivery collapsed)
    "cdc_dedup" -> ((s, dir) => {
      val log = changelog(s, dir)
      Materialize.dedup(log.unionAll(log)) // simulate redelivery
        .select("key", "commit_ts_us", "seq", "op", "event_type", "value", "props")
        .orderBy("seq")
    }),

    // A12: tumbling-window event aggregation (batch form)
    "cdc_tumbling" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(
          unix_micros(date_trunc("hour", col("ts"))).as("window_start_us"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sumCents("value").as("sum_value_e2"))
        .orderBy("window_start_us", "event_type")
    }),

    // A12 extension: hopping (sliding) window — 15-minute windows every
    // 5 minutes via the built-in window() expression. Each event lands
    // in exactly 3 windows (Expand ×3 on the projected scan, partial
    // aggs after — the expansion is on (ts, type, value), never payload)
    "cdc_hopping" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "15 minutes", "5 minutes"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sumCents("value").as("sum_value_e2"))
        .select(
          unix_micros(col("window.start")).as("window_start_us"),
          col("event_type"), col("n_events"), col("sum_value_e2"))
        .orderBy("window_start_us", "event_type")
    }),

    // A13: gap-based sessionization (30-minute inactivity)
    "cdc_sessionize" -> ((s, dir) => {
      Sessionize.stats(
        Tables.events(s, dir).select("user_id", "ts_us", "event_id", "value"),
        key = "user_id", tsUs = "ts_us", seq = "event_id",
        gapUs = 30L * 60 * 1000000, valueCol = "value")
        .orderBy("user_id", "session_id")
    }),

    // A36: session-concurrency report — for each session, how many OTHER
    // users' sessions overlap it in time (the per-session load/
    // co-activity metric an ops dashboard reads next to A24's lag). The
    // session×session overlap is an interval-OVERLAP join: the theta
    // form is a nested-loop product, so both sides explode to 1-hour
    // time buckets and pair in a plain equi-join, each overlapping pair
    // kept only in its CANONICAL bucket (bucket of max(starts) — the
    // meet-exactly-once trick; exact integer div, engine-portable), so
    // no dedup shuffle. Sessions are localCheckpointed once — both join
    // sides and the zero-fill read the same materialized frame instead
    // of re-running the sessionizer three times.
    "cdc_concurrency" -> ((s, dir) => {
      val sess = Sessionize.stats(
          Tables.events(s, dir).select("user_id", "ts_us", "event_id", "value"),
          key = "user_id", tsUs = "ts_us", seq = "event_id",
          gapUs = 30L * 60 * 1000000, valueCol = "value")
        .select(col("user_id"), col("session_id"),
          col("session_start_us"), col("session_end_us"))
        .localCheckpoint()
      val l = sess.select(col("user_id").as("l_user"),
        col("session_id").as("l_sess"),
        col("session_start_us").as("l_s"), col("session_end_us").as("l_e"))
      val r = sess.select(col("user_id").as("r_user"),
        col("session_start_us").as("r_s"), col("session_end_us").as("r_e"))
      val counts = RangeJoin.overlapPairs(l, "l_s", "l_e", r, "r_s", "r_e",
          bucketUs = 3600000000L)
        .where(col("l_user") =!= col("r_user"))
        .groupBy(col("l_user"), col("l_sess"))
        .agg(count(lit(1)).as("n_concurrent"))
      sess.join(counts,
          col("user_id") === col("l_user") && col("session_id") === col("l_sess"),
          "left")
        .select(col("user_id"), col("session_id"),
          col("session_start_us"), col("session_end_us"),
          coalesce(col("n_concurrent"), lit(0L)).as("n_concurrent"))
        .orderBy("user_id", "session_id")
    }),

    // A18: net-change delta between two resolved-ts points — the batch a
    // warehouse sink applies per flush window
    "cdc_delta" -> ((s, dir) => {
      Materialize.delta(changelog(s, dir),
        fromTsUs = 1704844800000000L, // 2024-01-10
        toTsUs = 1705708800000000L)   // 2024-01-20
        .select(col("key").as("user_id"), col("net_op"),
          col("commit_ts_us"), col("seq"), col("event_type"), col("value"))
        .orderBy("user_id")
    }),

    // A19: log compaction below the resolved-ts (latest version per key
    // kept incl. tombstones; the un-resolved tail untouched)
    "cdc_compact" -> ((s, dir) => {
      Materialize.compact(changelog(s, dir),
        resolvedTsUs = 1705708800000000L) // 2024-01-20
        .select("key", "commit_ts_us", "seq", "op", "event_type", "value", "props")
        .orderBy("key", "commit_ts_us", "seq")
    }),

    // A23: keyed-topic sink assignment — partition routing + dense
    // per-partition offsets (the MQ append-log contract, computed by the
    // same code path GraftSink.Topic.write uses)
    "cdc_topic" -> ((s, dir) => {
      GraftSink.Topic(path = "", numPartitions = 8)
        .assign(changelog(s, dir))
        .select(col("__partition"), col("__offset"), col("seq"),
          col("key").as("user_id"), col("commit_ts_us"), col("event_type"))
        .orderBy("__partition", "__offset")
    }),

    // A70 cross-cluster MIRROR + offset translation (MirrorMaker 2's
    // offset-syncs + checkpoint topics): the A62 transactional source
    // log is replicated read_committed into a mirror — the mirror
    // never receives aborted/open records or control markers, so its
    // dense offsets DIVERGE from the source's and a failing-over
    // consumer group cannot reuse its source cursor. Two groups'
    // planted source cursors (1/2 and 3/4 of each partition's end)
    // are translated: dst_committed = count of mirrored records below
    // the source cursor. The oracle re-derives the produced log,
    // fencing, fates, LSO, the visible set, both cursor ladders, and
    // the translation in SQL — parity proves a consumer resuming at
    // the translated offset skips exactly what it already consumed.
    "cdc_topic_mirror" -> ((s, dir) => {
      val (visible, report) = txnProducedTopic(s, dir)
      val topic = GraftSink.Topic(path = "", numPartitions = 8)
      val mirrored = topic.mirror(visible)
      val cursors = report.select(col("__partition"), col("end_offset"))
        .withColumn("group_id", explode(array(lit("g1"), lit("g2"))))
        .withColumn("src_committed",
          when(col("group_id") === "g1",
            (col("end_offset") / 2).cast("long"))
            .otherwise((col("end_offset") * 3 / 4).cast("long")))
        .drop("end_offset")
      topic.translateCheckpoints(mirrored, cursors)
        .orderBy("group_id", "__partition")
    }),

    // A71 exactly-once E2E: the full transactional chain — five
    // producer sessions write a fenced transactional log (A62), a
    // read_committed consumer derives the visible set from in-log
    // markers (A60), and the visible changelog lands in a versioned
    // table via ONE merge commit (A66). The final table state must
    // equal the snapshot of exactly the committed-below-LSO records —
    // the oracle re-derives the produce, fencing, fates, LSO,
    // visibility, and the snapshot in SQL. Aborted, open, fenced, and
    // beyond-LSO records leave no trace in the table.
    "cdc_txn_e2e" -> ((s, dir) => {
      val (visible, _) = txnProducedTopic(s, dir)
      val path = clearedScratch(dir, "txne2e")
      val table = GraftSink.VersionedTable(path)
      table.merge(
        visible.select(col("key"), col("commit_ts_us"), col("seq"),
          col("op"), col("event_type"), col("value")),
        Seq("key"), Seq("commit_ts_us", "seq"))
      table.read(s)
        .select(col("key").as("user_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"),
          col("commit_ts_us").as("last_ts_us"))
        .orderBy("user_id")
    }),

    // A69 idempotent produce (Kafka's enable.idempotence, the EOS
    // half below transactions): four producers stamp (pid, pseq) on
    // their records; every third record is RETRIED (same pid+pseq,
    // later arrival, attempt marker 2) — the broker keeps only the
    // first arrival per (pid, partition, pseq), so the assigned log is
    // byte-identical to the never-retried feed with every surviving
    // row carrying attempt 1. The oracle is the clean whole-feed
    // assignment with arrival pinned to 1 — parity proves retries can
    // never duplicate AND the dedup keeps the first attempt, not an
    // arbitrary one.
    "cdc_topic_idempotent" -> ((s, dir) => {
      val topic = GraftSink.Topic(path = "", numPartitions = 8)
      val log = changelog(s, dir)
        .withColumn("pid", pmod(col("seq"), lit(4L)))
        .withColumn("pseq", col("seq"))
      val firstSend = log.withColumn("arrival", lit(1L))
      val retries = log.where(col("seq") % 3 === 0)
        .withColumn("arrival", lit(2L))
      topic.assignIdempotent(firstSend.unionByName(retries))
        .select(col("__partition"), col("__offset"), col("seq"),
          col("key").as("user_id"), col("commit_ts_us"), col("arrival"))
        .orderBy("__partition", "__offset")
    }),

    // A23 appending produce path: the established log (everything
    // before the asof point) is assigned once; the newer rows arrive
    // as a produce and APPEND — history contributes one grouped max
    // per partition (broadcast) and is never re-sorted, so per-produce
    // work is O(|incoming|) at any standing log size. The oracle is
    // the SAME whole-feed assignment as `cdc_topic` — hash parity
    // proves append ≡ full re-assign (the deterministic-extension
    // contract); slice associativity is SinksSpec-pinned.
    "cdc_topic_append" -> ((s, dir) => {
      val topic = GraftSink.Topic(path = "", numPartitions = 8)
      val log = changelog(s, dir)
      topic.append(
          topic.assign(log.where(col("commit_ts_us") < asofTsUs)),
          log.where(col("commit_ts_us") >= asofTsUs))
        .select(col("__partition"), col("__offset"), col("seq"),
          col("key").as("user_id"), col("commit_ts_us"), col("event_type"))
        .orderBy("__partition", "__offset")
    }),

    // A45: Kafka-style compacted topic — per key only the LATEST record
    // survives AT ITS ORIGINAL OFFSET (consumers see offset gaps, the
    // defining compacted-topic property; A19's changelog compaction has
    // no offsets to preserve), and delete tombstones are reclaimed once
    // older than delete.retention (12 h here — drops AND keeps some at
    // every SF, so neither branch is vacuous) relative to the topic's
    // newest commit. Replaying the compacted topic from offset 0
    // bootstraps a consumer in O(|keys|) records instead of O(|log|) —
    // the sink-side twin of A2's snapshot.
    "cdc_topic_compacted" -> ((s, dir) => {
      val topic = GraftSink.Topic(path = "", numPartitions = 8)
      topic.compact(topic.assign(changelog(s, dir)),
          retentionUs = 12L * 3600000000L)
        .select(col("__partition"), col("__offset"),
          col("key").as("user_id"), col("seq"), col("op"),
          col("event_type"), col("commit_ts_us"))
        .orderBy("__partition", "__offset")
    }),

    // A50: Kafka wire-format envelope — the reference's default sink is
    // a Kafka topic carrying a wire protocol external consumers parse
    // (README.md:17, 34; TiCDC's canal-json codec). The changelog is
    // encoded into canal-json-shaped JSON envelopes, produced through
    // the Topic sink (routing/offsets on the broker metadata columns —
    // the Kafka record key/timestamp), the topic read back, and the
    // snapshot reconstructed FROM THE ENVELOPE STRING ALONE — proving
    // the wire value carries the complete feed. Encode is one to_json
    // projection and parse one from_json against the DECLARED wire
    // schema, both codegen'd in the scan stage — at 100 TB the codec
    // runs at parquet-scan throughput with no extra exchange. Must
    // hash-match the batch snapshot oracle.
    "cdc_topic_envelope" -> ((s, dir) => {
      val path = roundtripPath(dir, "topicenv")
      GraftSink.Topic(path = path, numPartitions = 8)
        .write(Envelope.encode(changelog(s, dir), "graft", "events",
          Seq("event_type", "value", "props")))
      val wire = s.read.parquet(path).select(Envelope.EnvelopeCol)
      Materialize.snapshot(
          Envelope.decode(wire, envelopePayload, "graft", "events"))
        .select(
          col("key").as("user_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"),
          col("commit_ts_us").as("last_ts_us"))
        .orderBy("user_id")
    }),

    // A50 streaming half: the WIRE loop end to end — envelopes
    // produced through the Topic sink, the topic TAILED by the A46
    // TopicSource consumer (admission-controlled micro-batches), each
    // batch's envelope strings parsed mid-stream with the declared
    // wire schema, and the snapshot rebuilt from what the CONSUMER
    // decoded. Oracle = the batch snapshot SQL: parity proves the
    // canal-json codec survives the broker AND the streaming consumer
    // path, not just a batch file read.
    "cdc_topic_envelope_stream" -> ((s, dir) => withStreamPartitions(s) {
      import org.apache.spark.sql.types._
      val path = roundtripPath(dir, "topicenvstream")
      GraftSink.Topic(path = path, numPartitions = 8)
        .write(Envelope.encode(changelog(s, dir), "graft", "events",
          Seq("event_type", "value", "props")))
      val wireSchema = StructType(Seq(
        StructField("__partition", IntegerType, nullable = false),
        StructField("__offset", LongType, nullable = false),
        StructField(Envelope.EnvelopeCol, StringType)))
      Materialize.snapshot(drainToMemory(Envelope.decode(
          graft.sources.TopicSource.stream(s, path, wireSchema,
            maxOffsetsPerTrigger =
              offsetsPerTrigger(eventsRowCount(s, dir), 32768L))
            .select(Envelope.EnvelopeCol),
          envelopePayload, "graft", "events")))
        .select(
          col("key").as("user_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"),
          col("commit_ts_us").as("last_ts_us"))
        .orderBy("user_id")
    }),

    // A47 × A50: wire-DDL evolution through the consumer — the RFC's
    // EmitDDLEvent (README.md:63) flowing through its default Kafka
    // sink (README.md:17). isDdl:true canal envelopes (rename / add /
    // drop) are PRODUCED INTO the row topic mid-log; the A46 TopicSource
    // consumer tails it, classifies each batch's envelopes once (clean
    // rows / DDL / quarantine), gates the decoded DDLs through the A43
    // compat classifier, records them in the sink's _ddl_history
    // ledger, and CONFORMS every subsequent batch — no restart. The
    // read-back splices the mixed-schema segments. Oracle = the batch
    // A9 splice SQL (shared with cdc_stream_schema_evolution): a feed
    // evolved over the wire must converge to exactly the spliced batch
    // result.
    "cdc_topic_envelope_evolution" -> ((s, dir) => withStreamPartitions(s) {
      import org.apache.spark.sql.types._
      val path = roundtripPath(dir, "topicenvevolve")
      val rowWire = Envelope.encode(changelog(s, dir), "graft", "events",
        Seq("event_type", "value", "props"))
      // DDLs are serialized upstream (one source executing ALTERs in
      // order), so distinct producer ts — the wire ledger's order key
      val ddlWire = Envelope.encodeDdl(s, Seq(
          ("rename", "value", "amount", asofTsUs),
          ("add", "region", "unassigned", asofTsUs + 1),
          ("drop", "props", null, asofTsUs + 2)),
          "graft", "events")
        .withColumn("key", lit(-1L))
        .withColumn("seq", col("commit_ts_us"))
        .withColumn("op", lit("DDL"))
      GraftSink.Topic(path = path, numPartitions = 8)
        .write(rowWire.unionByName(ddlWire))
      val wireSchema = StructType(Seq(
        StructField("__partition", IntegerType, nullable = false),
        StructField("__offset", LongType, nullable = false),
        StructField(Envelope.EnvelopeCol, StringType)))
      val sinkDir = freshScratch(dir, "topicenvevolve_sink")
      val dlqDir = freshScratch(dir, "topicenvevolve_dlq")
      drainOnce(CdcStream.deliverEvolvingWire(
        graft.sources.TopicSource.stream(s, path, wireSchema,
            maxOffsetsPerTrigger =
              offsetsPerTrigger(eventsRowCount(s, dir), 32768L))
          .select(Envelope.EnvelopeCol),
        envelopePayload, "graft", "events", sinkDir, dlqDir, _))
      Materialize.snapshot(CdcStream.readEvolved(s, sinkDir))
        .select(col("key").as("user_id"), col("event_type"),
          col("amount"), col("region"), col("commit_ts_us").as("last_ts_us"))
        .orderBy("user_id")
    }),

    // A50 × A15: before-images cross the wire in canal's `old` field —
    // the feed's prior payloads (one lag window, A15) ride each UPDATE
    // envelope, and the CONSUMER reconstructs the update-diff view
    // purely from the wire (element_at(old, 1), no window on its
    // side — the point of shipping before-images). Oracle = the A15
    // lag SQL: parity proves `old` carries the exact prior payload,
    // nulls where no prior image exists.
    "cdc_envelope_before_image" -> ((s, dir) => {
      val log = Changelog.withBeforeImages(changelog(s, dir),
        Seq("event_type", "value", "props"))
      val wirePath = roundtripPath(dir, "envbefore")
      Envelope.encode(log, "graft", "events",
          Seq("event_type", "value", "props"), beforeCol = Some("before"))
        .select(Envelope.EnvelopeCol)
        .write.mode(SaveMode.Overwrite).parquet(wirePath)
      Envelope.decode(fanOut(s.read.parquet(wirePath)), envelopePayload,
          "graft", "events", includeBefore = true)
        .select(col("seq"), col("key").as("user_id"), col("op"),
          col("before").getField("value").as("before_value"),
          col("value").as("after_value"), col("commit_ts_us"))
        .orderBy("seq")
    }),

    // A50 quarantine path graded at corpus scale: a DETERMINISTICALLY
    // POISONED wire (five disjoint corruption classes by seq mod —
    // truncation, wrong table, unknown op type, stray DDL, stripped
    // _graft meta — applied to real envelopes, then materialized as a
    // wire) drains through the classified decode; the query is the
    // per-reason census. The oracle derives each record's EXPECTED
    // reason from seq arithmetic alone — independent of the codec —
    // so parity proves the classifier assigns exactly the right
    // reason to every poison class and passes exactly the clean rows,
    // not merely that decode doesn't throw (EnvelopeSpec pins the
    // per-envelope cases; this grades the census cross-engine).
    "cdc_envelope_quarantine" -> ((s, dir) => {
      val wirePath = roundtripPath(dir, "envquarantine")
      val e = col(Envelope.EnvelopeCol)
      // fanOut: codec + five regex poison classes, all scan-local
      Envelope.encode(fanOut(changelog(s, dir)), "graft", "events",
          Seq("event_type", "value", "props"))
        .withColumn(Envelope.EnvelopeCol,
          when(col("seq") % 7 === 0, expr(
            s"substring(${Envelope.EnvelopeCol}, 1, " +
              s"length(${Envelope.EnvelopeCol}) - 5)"))
            .when(col("seq") % 7 === 1, regexp_replace(e,
              "\"table\":\"events\"", "\"table\":\"other\""))
            .when(col("seq") % 7 === 2, regexp_replace(e,
              "\"type\":\"(INSERT|UPDATE|DELETE)\"", "\"type\":\"TRUNCATE\""))
            .when(col("seq") % 7 === 3, regexp_replace(e,
              "\"isDdl\":false", "\"isDdl\":true"))
            .when(col("seq") % 7 === 4, regexp_replace(e,
              ",\"_graft\":\\{[^}]*\\}", ""))
            .otherwise(e))
        .select(Envelope.EnvelopeCol)
        .write.mode(SaveMode.Overwrite).parquet(wirePath)
      Envelope.decodeAll(fanOut(s.read.parquet(wirePath)), envelopePayload,
          "graft", "events")
        .groupBy(coalesce(col("__envelope_error"), lit("clean"))
          .as("reason"))
        .agg(count(lit(1)).as("n"))
        .orderBy("reason")
    }),

    // A62: quarantine REPLAY — the census (cdc_envelope_quarantine)
    // tells an operator WHAT went bad; this is how the rows get back.
    // Three REPAIRABLE poison classes by seq mod (typo'd table name,
    // junk-prefixed op type, flipped isDdl — each a deterministic
    // producer-side bug an operator can undo with string surgery) are
    // materialized as a wire; the main path delivers the clean rows
    // and quarantines the rest; DlqReplay drains the DLQ through the
    // repair + the SAME classifier, anti-joined against the delivered
    // ledger for idempotence. Graded: delivered ∪ recovered, each row
    // flagged with the path it took — the oracle re-derives the flag
    // from seq arithmetic and the payload from the never-poisoned
    // feed, so hash parity proves replay CONVERGES (repaired rows are
    // byte-identical to never-poisoned ones, nothing lost, nothing
    // double-delivered). Residual carry-both-reasons and second-replay
    // idempotence are DlqReplaySpec-pinned.
    "cdc_dlq_replay" -> ((s, dir) => {
      val wirePath = roundtripPath(dir, "dlqreplay")
      val e = col(Envelope.EnvelopeCol)
      // fanOut: codec + three regex poison classes, all scan-local
      Envelope.encode(fanOut(changelog(s, dir)), "graft", "events",
          Seq("event_type", "value", "props"))
        .withColumn(Envelope.EnvelopeCol,
          when(col("seq") % 7 === 1, regexp_replace(e,
            "\"table\":\"events\"", "\"table\":\"evnts\""))
            .when(col("seq") % 7 === 2, regexp_replace(e,
              "\"type\":\"", "\"type\":\"x"))
            .when(col("seq") % 7 === 3, regexp_replace(e,
              "\"isDdl\":false", "\"isDdl\":true"))
            .otherwise(e))
        .select(Envelope.EnvelopeCol)
        .write.mode(SaveMode.Overwrite).parquet(wirePath)
      // Decode the wire ONCE: `dec` fans out into delivered (used both
      // as output half and as the replay idempotence ledger), dlq, and
      // the replay's residual re-attach — without materialization each
      // branch re-reads the wire and re-runs the from_json classifier
      // (~4 full decode passes; guide §2.4). Executor-local, linear.
      val dec = Envelope.decodeAll(fanOut(s.read.parquet(wirePath)),
        envelopePayload, "graft", "events").localCheckpoint()
      val delivered = dec.where(col("__envelope_error").isNull)
        .drop(Envelope.EnvelopeCol, "__envelope_error")
      val dlq = dec.where(col("__envelope_error").isNotNull)
        .select(e, col("__envelope_error"))
      val repair: Column => Column = env =>
        regexp_replace(regexp_replace(regexp_replace(env,
          "\"table\":\"evnts\"", "\"table\":\"events\""),
          "\"type\":\"x", "\"type\":\""),
          "\"isDdl\":true", "\"isDdl\":false")
      val recovered = DlqReplay.replay(dlq, repair, envelopePayload,
        "graft", "events", delivered = Some(delivered)).recovered
      delivered.withColumn("replayed", lit(false))
        .unionAll(recovered.withColumn("replayed", lit(true)))
        .select(col("key").as("user_id"), col("commit_ts_us"),
          col("seq"), col("op"), col("event_type"), col("value"),
          col("props"), col("replayed"))
        .orderBy("seq")
    }),

    // A72 SCHEMA REGISTRY (the Confluent piece a wire deployment pairs
    // with the broker): three schema generations register under
    // BACKWARD compatibility (v2 adds region; v3 drops props; the
    // narrowing attempt is RegistrySpec-rejected), producers stamp
    // each record's SCHEMA ID as wire framing (outside the payload,
    // Confluent's magic-byte design), and the consumer resolves the
    // mixed-id wire: each record decodes under the schema it was
    // WRITTEN with (one scan per registered id — registry-bounded),
    // then conforms to the latest (absent columns surface NULL,
    // dropped columns vanish). The oracle re-derives the whole
    // spliced feed from time-slice arithmetic.
    "cdc_schema_registry" -> ((s, dir) => {
      val wirePath = roundtripPath(dir, "schemaregistry")
      val log = changelog(s, dir)
      val t1 = 1704844800000000L
      val t2 = 1705708800000000L
      val reg = new SchemaRegistry.Registry("BACKWARD")
      val v1 = Seq("event_type" -> "VARCHAR", "value" -> "DOUBLE",
        "props" -> "VARCHAR")
      val v2 = v1 :+ ("region" -> "VARCHAR")
      val v3 = Seq("event_type" -> "VARCHAR", "value" -> "DOUBLE",
        "region" -> "VARCHAR")
      Seq(v1, v2, v3).foreach(f =>
        reg.register("events", f).fold(sys.error, identity))
      val withRegion = log.withColumn("region",
        concat(lit("r"), pmod(col("key"), lit(5L))))
      Seq(
        (1, log.where(col("commit_ts_us") <= t1),
          Seq("event_type", "value", "props")),
        (2, withRegion.where(
          col("commit_ts_us") > t1 && col("commit_ts_us") <= t2),
          Seq("event_type", "value", "props", "region")),
        (3, withRegion.where(col("commit_ts_us") > t2),
          Seq("event_type", "value", "region"))
      ).map { case (id, leg, cols) =>
        Envelope.encode(leg, "graft", "events", cols)
          .select(lit(id).as("schema_id"), col(Envelope.EnvelopeCol))
      }.reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(wirePath)
      SchemaRegistry.resolve(s.read.parquet(wirePath), reg, "events",
          "graft", "events")
        .select(col("key").as("user_id"), col("commit_ts_us"),
          col("seq"), col("op"), col("event_type"), col("value"),
          col("region"))
        .orderBy("seq")
    }),

    // A50 codec identity: encode → wire → decode is the changelog
    // itself, column-exact (doubles round-trip bit-exact through the
    // JSON shortest-representation — the reason data/old keep
    // JSON-native types instead of canal's stringification). The wire
    // is MATERIALIZED between the two halves, as a wire is: fusing
    // encode+decode into one plan lets predicate pushdown inline the
    // whole codec chain into a Filter and re-parse per operator —
    // measured 10× slower than parsing a real wire once.
    "cdc_envelope_roundtrip" -> ((s, dir) => {
      val log = changelog(s, dir)
      val wirePath = roundtripPath(dir, "envwire")
      // fanOut both codec legs: to_json/from_json are scan-local and
      // the single-split scan ran them serially (guide §2.5)
      Envelope.encode(fanOut(log), "graft", "events",
          Seq("event_type", "value", "props"))
        .select(Envelope.EnvelopeCol)
        .write.mode(SaveMode.Overwrite).parquet(wirePath)
      Envelope.decode(fanOut(s.read.parquet(wirePath)),
          envelopePayload, "graft", "events")
        .select(col("key").as("user_id"), col("commit_ts_us"), col("seq"),
          col("op"), col("event_type"), col("value"), col("props"))
        .orderBy("user_id", "commit_ts_us", "seq")
    }),

    // A53: messaging-broker ack/redelivery semantics (README.md:23 —
    // the Nats/Pulsar sink class: INDIVIDUAL acks, ack-timeout
    // redelivery, max-redelivery dead-lettering — the behavior beyond
    // Kafka's offset cursor that A23/A46 model). Subscription state is
    // planted deterministically over the assigned topic (acked iff
    // (key+offset)%3=0; delivery age/count from offset ladders), and
    // the broker's redelivery scan classifies every unacked message:
    // in_flight / redeliver (count+1) / dead_letter. One anti-join +
    // one co-partitioned equi-join + a 1-row broadcast clock — the
    // scan is subscription-sized at any topic size. The oracle
    // re-derives routing, offsets, the planted state, and the policy
    // in SQL.
    "cdc_topic_redelivery" -> ((s, dir) => {
      val assigned = GraftSink.Topic(path = "", numPartitions = 8)
        .assign(changelog(s, dir))
      val acks = assigned
        .where(pmod(col("key") + col("__offset"), lit(3L)) === 0)
        .select(col("__partition"), col("__offset"))
      val deliveries = assigned.select(
        col("__partition"), col("__offset"),
        (col("commit_ts_us") +
          pmod(col("__offset"), lit(5L)) * 3600000000L)
          .as("last_delivered_us"),
        (lit(1L) + pmod(col("__offset"), lit(4L))).as("n_deliveries"))
      GraftSink.TopicAcks.redeliveryScan(assigned, acks, deliveries,
          nowLagUs = 6L * 3600000000L,
          ackTimeoutUs = 8L * 3600000000L,
          maxDeliveries = 3)
        .select(col("__partition"), col("__offset"),
          col("key").as("user_id"), col("n_deliveries"),
          col("disposition"), col("next_deliveries"))
        .orderBy("__partition", "__offset")
    }),

    // A23 consumer side: offset-resume topic replay — the sink written
    // hive-partitioned by __partition, then read back as a CONSUMER
    // resuming partition 3 from offset 10 (the "seek(partition,
    // offset)" every MQ client performs): the partition predicate
    // prunes to ONE directory at plan time and the offset predicate
    // pushes into the parquet scan, so a resume touches only the tail
    // of one partition however large the topic. The oracle re-derives
    // routing + dense offsets in SQL and applies the same seek filter.
    "cdc_topic_replay" -> ((s, dir) => {
      val path = roundtripPath(dir, "topicreplay")
      GraftSink.Topic(path = path, numPartitions = 8)
        .write(changelog(s, dir))
      s.read.parquet(path)
        .where(col("__partition") === 3 && col("__offset") >= 10)
        .select(col("__partition").cast("long").as("__partition"),
          col("__offset"), col("seq"), col("key").as("user_id"),
          col("commit_ts_us"), col("event_type"))
        .orderBy("__offset")
    }),

    // A46: streaming topic CONSUMER — the missing half of the
    // reference's producer → broker → consumer loop (README.md:17-23).
    // The Topic sink materializes the broker log; TopicSource TAILS it
    // as a DSv2 micro-batch stream with a per-partition offset map in
    // the checkpoint (the Kafka consumer-group shape), end-of-log
    // discovered from parquet footer statistics only, admission
    // control bounding each trigger, and the batch's [from, until)
    // range pushed into the scan as a parquet __offset predicate. The
    // oracle is the A23 assignment SQL: a full drain from offset 0
    // must reproduce exactly the topic the producer wrote — consumer
    // ≡ broker log, cross-engine.
    "cdc_topic_stream" -> ((s, dir) => withStreamPartitions(s) {
      val path = roundtripPath(dir, "topicstream")
      GraftSink.Topic(path = path, numPartitions = 8)
        .write(changelog(s, dir))
      drainToMemory(graft.sources.TopicSource.stream(s, path,
          graft.sources.TopicSource.changelogTopicSchema,
          maxOffsetsPerTrigger =
            offsetsPerTrigger(eventsRowCount(s, dir), 8192L)))
        .select(col("__partition").cast("long").as("__partition"),
          col("__offset"), col("seq"), col("key").as("user_id"),
          col("commit_ts_us"), col("event_type"))
        .orderBy("__partition", "__offset")
    }),

    // A45+A46: compacted-topic BOOTSTRAP — replaying a compacted topic
    // from offset 0 through the streaming consumer and applying its
    // records (drop tombstones) must converge to exactly the A2
    // SNAPSHOT: the Kafka changelog-topic bootstrap contract, in
    // O(|keys|) records instead of O(|log|). Offsets in a compacted
    // topic are GAPPED, so this also pins the consumer's
    // stats-not-rowcount end-of-log discovery on the driver gate. The
    // oracle is the shared snapshot SQL — stream-of-compacted ≡ batch
    // snapshot, cross-engine.
    "cdc_topic_stream_compacted" -> ((s, dir) => withStreamPartitions(s) {
      val path = roundtripPath(dir, "topicstreamcompact")
      val sink = GraftSink.Topic(path = path, numPartitions = 8)
      sink.compact(sink.assign(changelog(s, dir)),
          retentionUs = 12L * 3600000000L)
        .write.mode(SaveMode.Overwrite).partitionBy("__partition")
        .parquet(path)
      drainToMemory(graft.sources.TopicSource.stream(s, path,
          graft.sources.TopicSource.changelogTopicSchema))
        .where(col("op") =!= "D")
        .select(col("key").as("user_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"),
          col("commit_ts_us").as("last_ts_us"))
        .orderBy("user_id")
    }),

    // A49: consumer-lag / end-offset introspection — the
    // `kafka-consumer-groups --describe` niche: log-end offsets per
    // topic partition read from parquet FOOTER statistics only (the
    // same metadata pass the A46 consumer polls, exposed as a
    // relation), joined against a consumer's committed offsets to a
    // lag report. The oracle re-derives each end offset as the dense
    // per-partition row count — so parity proves the stats-only
    // discovery reads the true log end without scanning data.
    "cdc_topic_lag" -> ((s, dir) => {
      val path = roundtripPath(dir, "topiclag")
      GraftSink.Topic(path = path, numPartitions = 8)
        .write(changelog(s, dir))
      graft.sources.TopicSource.endOffsets(s, path)
        .withColumn("committed_offset", expr("end_offset div 2"))
        .withColumn("lag", col("end_offset") - col("committed_offset"))
        .select(col("__partition").cast("long").as("__partition"),
          col("end_offset"), col("committed_offset"), col("lag"))
        .orderBy("__partition")
    }),

    // A61: the OFFSETS TOPIC — Kafka's own __consumer_offsets design,
    // composed from A23+A45: offset COMMITS are themselves a keyed
    // COMPACTED topic (key = (group, partition); value = the committed
    // offset), so group cursors are bootstrapped in O(|group×partition|)
    // records however many commits ever happened. Two groups commit a
    // 3-step ladder per data partition (planted from the data topic's
    // ends); the commits flow through Topic.assign + Topic.compact and
    // the surviving latest-per-key records, joined back to the data
    // ends, are the `--describe` cursor/lag view. The oracle states
    // the DESIGNED final cursor directly ((end·3) div 4) — parity
    // proves the whole route+offset+compact pipeline converges to
    // exactly the last commit per key.
    "cdc_topic_offsets_topic" -> ((s, dir) => {
      import s.implicits._
      val ends = GraftSink.Topic(path = "", numPartitions = 8)
        .assign(changelog(s, dir))
        .groupBy(col("__partition").cast("long").as("p"))
        .agg((max(col("__offset")) + 1L).as("end_offset"))
      val groups = Seq(("g0", 0L), ("g1", 1L)).toDF("consumer_group", "gidx")
      val ladder = s.range(1, 4).select(col("id").as("k"))
      val commits = ends.crossJoin(groups).crossJoin(ladder)
        .select(
          (col("gidx") * 8 + col("p")).as("key"), // (group, partition)
          (lit(1700000000000000L) + col("k") * 1000000L).as("commit_ts_us"),
          ((col("gidx") * 8 + col("p")) * 10 + col("k")).as("seq"),
          lit("U").as("op"),
          col("consumer_group"), col("p").as("data_partition"),
          expr("(end_offset * k) div 4").as("committed_offset"))
      val offsetsTopic = GraftSink.Topic(path = "", numPartitions = 4)
      val cursors = offsetsTopic.compact(
          offsetsTopic.assign(commits), retentionUs = Long.MaxValue / 2)
        .select(col("consumer_group"), col("data_partition").as("__partition"),
          col("committed_offset"))
      cursors.join(ends, col("__partition") === col("p"))
        .select(col("consumer_group"), col("__partition"),
          col("committed_offset"), col("end_offset"),
          (col("end_offset") - col("committed_offset")).as("lag"))
        .orderBy("consumer_group", "__partition")
    }),

    // A60: TRANSACTIONAL reads — Kafka's read_committed isolation and
    // LAST STABLE OFFSET over the A23 topic. Records are planted under
    // 101 interleaved transactions (every 5th record non-transactional);
    // the coordinator side knows 95 of them (aborted / open / committed
    // by txn arithmetic) and the 6 UNKNOWN ids default to open — the
    // coalesce path a real coordinator outage exercises. The consumer
    // sees committed + non-transactional records BELOW the partition's
    // LSO (the first offset still covered by an open transaction);
    // aborted records are skipped, committed ones past the LSO are
    // fenced. One broadcast txn join + one grouped min; the report is
    // |partitions| rows. Oracle re-derives routing, offsets, txn
    // planting, statuses, LSO, and all three censuses in SQL.
    "cdc_topic_txn" -> ((s, dir) => {
      val assigned = GraftSink.Topic(path = "", numPartitions = 8)
        .assign(changelog(s, dir))
        .withColumn("txn_id",
          when(col("seq") % 5 === 0, lit(null).cast("long"))
            .otherwise(col("seq") % 101))
      val txns = s.range(0, 95).select(col("id").as("txn_id"),
        when(col("id") % 7 === 0, "aborted")
          .when(col("id") % 7 === 1, "open")
          .otherwise("committed").as("status"))
      val (_, report) = GraftSink.Topic(path = "", numPartitions = 8)
        .readCommitted(assigned, txns)
      report.orderBy("__partition")
    }),

    // A60 write half: transactional PRODUCE — begin/commit/abort MARKER
    // records written INTO the log by the producer API (Kafka's
    // control-batch / WriteTxnMarkers design), composing A57's epoch
    // fencing: transaction fates, LSO, and the read_committed visible
    // set are all re-derived FROM THE LOG ALONE, no planted coordinator
    // relation. The cast: 'pa' commits txn 1; 'pb' aborts txn 2
    // mid-flight; 'pc' crashes with txn 3 uncommitted (markerless →
    // open → caps each partition's LSO); 'pd' epoch 1 is the zombie —
    // its successor (epoch 2) aborts the in-flight txn 4 (Kafka's
    // InitProducerId recovery), resends the post-takeover payload as
    // committed txn 5, and the zombie's LATE COMMIT marker for txn 4 is
    // FENCED — without fencing, txn 4 would resurrect as committed.
    // The oracle re-derives legs, markers, the per-producer running-max
    // fence, offsets, fates, LSO, and all five censuses in SQL.
    "cdc_topic_txn_produce" -> ((s, dir) => {
      val (_, report) = txnProducedTopic(s, dir)
      report.orderBy("__partition")
    }),

    // The read_committed VISIBLE SET of the same produced log —
    // non-transactional + committed-below-LSO data records, markers
    // excluded (consumers never see control records). Hash parity over
    // the full visible relation proves the consumer view, not just the
    // censuses.
    "cdc_topic_txn_produce_visible" -> ((s, dir) => {
      val (visible, _) = txnProducedTopic(s, dir)
      visible.select(col("__partition"), col("__offset"),
          col("key").as("user_id"), col("seq"), col("producer"),
          col("epoch"), col("txn_id"), col("commit_ts_us"))
        .orderBy("__partition", "__offset")
    }),

    // A59: time-based LOG RETENTION — Kafka's log.retention.ms over
    // the A23 topic: the broker reclaims the prefix older than 10
    // days of a 30-day feed (relative to the newest commit — a 1-row
    // broadcast cutoff),
    // each partition's LOG-START OFFSET advances past it, and planted
    // consumer cursors show BOTH OffsetOutOfRange outcomes by
    // construction (even partitions committed below log-start → reset
    // to earliest; odd ones above → resume at their cursor). Offsets
    // are commit-ts monotone within a partition, so retention is one
    // scan-local filter; the report is |partitions| rows. Oracle
    // re-derives routing, offsets, the cutoff, log-start, and the
    // reset rule in SQL.
    "cdc_topic_retention" -> ((s, dir) => {
      val assigned = GraftSink.Topic(path = "", numPartitions = 8)
        .assign(changelog(s, dir))
      val committed = expr(
        "CASE WHEN __partition % 2 = 0 THEN log_start_offset div 2 " +
          "ELSE (log_start_offset + end_offset) div 2 END")
      val (_, report) = GraftSink.Topic(path = "", numPartitions = 8)
        .retain(assigned, retentionUs = 10L * 86400000000L, committed)
      report.orderBy("__partition")
    }),

    // A57: producer FENCING — Kafka's zombie-producer epoch contract
    // over the A23 topic. Producer A (epoch 1) keeps flushing the whole
    // feed after a failover; producer B (epoch 2) takes over from
    // asof-ts. The fenced log keeps every row whose epoch equals the
    // RUNNING MAX epoch of its partition in arrival order: A's rows
    // before B's first write stand, A's rows after it are rejected,
    // all of B's stand — then dense offsets over the survivors. One
    // hash exchange feeds fence + offsets (the assign plan plus a
    // scan-local compare). The oracle re-derives routing, the running
    // max, and the surviving log in SQL.
    "cdc_topic_fenced" -> ((s, dir) => {
      val log = changelog(s, dir)
      val a = log.withColumn("epoch", lit(1L))
      val b = log.where(col("commit_ts_us") > asofTsUs)
        .withColumn("epoch", lit(2L))
        .withColumn("seq", col("seq") + 4000000000000000000L)
      GraftSink.Topic(path = "", numPartitions = 8)
        .assignFenced(a.unionByName(b))
        .select(col("__partition"), col("__offset"), col("epoch"),
          col("key").as("user_id"), col("seq"), col("commit_ts_us"))
        .orderBy("__partition", "__offset")
    }),

    // A56: consumer-GROUP assignment + rebalance + per-consumer lag —
    // the full `kafka-consumer-groups --describe` picture over the A23
    // topic (README.md:17-23's consumer side). Assignment is Kafka's
    // eager assignors as scan-local CASE arithmetic (range contiguous
    // runs / round-robin mod), re-run per rebalance GENERATION
    // (generation 2 drops member c1 — the rebalance); committed
    // offsets are planted deterministically per partition and lag =
    // end − committed. Four generations × strategies in one relation;
    // the oracle re-derives routing, dense offsets, ends, the planted
    // commits, and BOTH assignor formulas in SQL. Everything after the
    // |partitions|-row ends frame is metadata-scale.
    "cdc_topic_groups" -> ((s, dir) => {
      val ends = GraftSink.Topic(path = "", numPartitions = 8)
        .assign(changelog(s, dir))
        .groupBy(col("__partition").cast("long").as("__partition"))
        .agg((max(col("__offset")) + 1L).as("end_offset"))
      val committed = expr("(end_offset * (__partition + 1)) div 10")
      val gen1 = Seq("c0", "c1", "c2")
      val gen2 = Seq("c0", "c2") // c1 left: eager rebalance
      Seq(("range", 1L, gen1), ("range", 2L, gen2),
          ("roundrobin", 1L, gen1), ("roundrobin", 2L, gen2))
        .map { case (st, g, members) =>
          ConsumerGroups.describe(ends, committed, st, g, 8, members) }
        .reduce(_ unionAll _)
        .orderBy("strategy", "generation", "__partition")
    }),

    // A56 sticky half: the KIP-54 STICKY rebalance over the same
    // topic — member c1 leaves a 3-member range assignment; survivors
    // KEEP every partition they own (moved=0 — the zero-unnecessary-
    // movement property the eager assignors lack) and only c1's
    // partitions redistribute, round-robin over survivors ordered by
    // (inherited load, member id), balanced within one. Oracle
    // re-derives the gen-1 range formula, the orphan set, the
    // load-ordered survivor ring, and the moved flags in SQL.
    "cdc_topic_groups_sticky" -> ((s, dir) => {
      val ends = GraftSink.Topic(path = "", numPartitions = 8)
        .assign(changelog(s, dir))
        .groupBy(col("__partition").cast("long").as("__partition"))
        .agg((max(col("__offset")) + 1L).as("end_offset"))
      val gen1 = ends.select(col("__partition"), col("end_offset"),
        ConsumerGroups.owner("range", 8, Seq("c0", "c1", "c2"),
          col("__partition")).as("consumer"))
      ConsumerGroups.stickyRebalance(gen1, survivors = Seq("c0", "c2"))
        .select(col("consumer"), col("__partition"), col("end_offset"),
          col("moved"))
        .orderBy("__partition")
    }),

    // A56 cooperative half: KIP-429 INCREMENTAL rebalance — member c3
    // JOINS a 3-member range assignment. Generation g revokes ONLY the
    // two partitions that must move (the over-target members' highest;
    // everyone keeps serving the rest), generation g+1 hands them to
    // the newcomer. The same relation carries the EAGER gen-2 range
    // assignment: cooperative moves 2 partitions where eager moves 5 —
    // the oracle re-derives BOTH and the comparison columns, so parity
    // pins the strictly-smaller moved set, not just the final owners.
    "cdc_topic_groups_coop" -> ((s, dir) => {
      val ends = GraftSink.Topic(path = "", numPartitions = 8)
        .assign(changelog(s, dir))
        .groupBy(col("__partition").cast("long").as("__partition"))
        .agg((max(col("__offset")) + 1L).as("end_offset"))
      // generation-1 state is coordinator metadata (8 rows): derive
      // the topic window ONCE — the frame feeds both the rebalance
      // and the comparison join (r16 bench mover re-pin)
      val gen1 = ends.select(col("__partition"), col("end_offset"),
        ConsumerGroups.owner("range", 8, Seq("c0", "c1", "c2"),
          col("__partition")).as("consumer"))
        .localCheckpoint()
      val coop = ConsumerGroups
        .cooperativeRebalance(gen1, Seq("c0", "c1", "c2", "c3"))
        .select(col("__partition"), col("end_offset"),
          col("consumer").as("owner_coop"), col("moved").as("moved_coop"))
      gen1.select(col("__partition"), col("consumer").as("owner_gen1"))
        .join(coop, Seq("__partition"))
        .withColumn("owner_eager",
          ConsumerGroups.owner("range", 8, Seq("c0", "c1", "c2", "c3"),
            col("__partition")))
        .withColumn("moved_eager",
          (col("owner_eager") =!= col("owner_gen1")).cast("long"))
        .select(col("__partition"), col("end_offset"), col("owner_gen1"),
          col("owner_coop"), col("moved_coop"), col("owner_eager"),
          col("moved_eager"))
        .orderBy("__partition")
    }),

    // A56 liveness half: heartbeat-derived REBALANCE — Kafka's
    // session.timeout.ms contract composed end to end: members send
    // heartbeat ladders (the A42 shape); the coordinator clock is the
    // group's newest heartbeat; c1's 50s gap exceeds the 30s session
    // timeout → evicted, generation bumps, and the STICKY rebalance
    // (A56) redistributes ONLY c1's partitions over the survivors.
    // The oracle re-derives the ladders, last-heartbeat gaps, the
    // eviction rule, and the full sticky ring replay in SQL.
    "cdc_topic_group_liveness" -> ((s, dir) => {
      import s.implicits._
      val ends = GraftSink.Topic(path = "", numPartitions = 8)
        .assign(changelog(s, dir))
        .groupBy(col("__partition").cast("long").as("__partition"))
        .agg((max(col("__offset")) + 1L).as("end_offset"))
      val gen1 = ends.select(col("__partition"), col("end_offset"),
        ConsumerGroups.owner("range", 8, Seq("c0", "c1", "c2"),
          col("__partition")).as("consumer"))
      val hb = Seq(("c0", 9L), ("c1", 4L), ("c2", 8L)).toDF("consumer", "ks")
        .select(col("consumer"),
          explode(sequence(lit(0L), col("ks"))).as("k"))
        .select(col("consumer"),
          (lit(1706000000000000L) + col("k") * 10000000L).as("hb_ts_us"))
      val timeoutUs = 30000000L
      val gen2 = ConsumerGroups.rebalanceOnLiveness(gen1, hb, timeoutUs)
      val audit = ConsumerGroups.evictions(hb, timeoutUs)
      gen2.join(broadcast(
          audit.select(col("consumer"), col("last_hb_us"), col("gap_us"))),
          Seq("consumer"))
        .select(col("consumer"), col("__partition"), col("end_offset"),
          col("moved"), col("last_hb_us"), col("gap_us"))
        .orderBy("__partition")
    }),

    // A48: the reference's FULL deployment loop in one graded path —
    // producer (A23 Topic sink) → broker (hive-partitioned offset log)
    // → consumer (A46 TopicSource tail) → plugin chain (A4 filter) →
    // stateful snapshot (A17 flatMapGroupsWithState). The oracle is
    // the batch snapshot SQL over the filtered log: parity proves the
    // whole pipeline — routing, offsets, admission-controlled tailing,
    // chain, per-key state machine — composes to exactly the batch
    // semantics (README.md:17-23's producer→broker→consumer shape).
    "cdc_topic_e2e" -> ((s, dir) => withStreamPartitions(s) {
      val path = roundtripPath(dir, "topice2e")
      GraftSink.Topic(path = path, numPartitions = 8)
        .write(changelog(s, dir))
      val consumed = graft.sources.TopicSource.stream(s, path,
          graft.sources.TopicSource.changelogTopicSchema,
          maxOffsetsPerTrigger =
            offsetsPerTrigger(eventsRowCount(s, dir), 8192L))
        .drop("__partition", "__offset")
      val chained = EventTypeFilter(
        Set("signup", "click", "purchase", "error"))(consumed)
      val updates = CdcStream.snapshotUpdates(chained)
      Materialize.snapshot(drainToMemory(updates, "update"))
        .select(
          col("key").as("user_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"),
          col("commit_ts_us").as("last_ts_us"))
        .orderBy("user_id")
    }),

    // A48 at GROUP SCALE (A48 × A56): the same producer→broker→
    // consumer→chain→snapshot loop, but the consumer is a THREE-MEMBER
    // GROUP — each member tails ONLY its range-assigned partitions
    // (discovery/admission/planning never touch the others: 1/3 of the
    // metadata I/O each, the RFC's processor scale-out), runs the A4
    // chain and its own per-key snapshot state machine (keys are
    // routing-disjoint across members, so per-member state composes
    // losslessly), and the union of the members' outputs rebuilds the
    // snapshot. Oracle = the batch snapshot SQL over the filtered log:
    // parity proves the group genuinely PARTITIONS the work.
    "cdc_topic_group_e2e" -> ((s, dir) => withStreamPartitions(s) {
      val path = roundtripPath(dir, "topicgroupe2e")
      GraftSink.Topic(path = path, numPartitions = 8)
        .write(changelog(s, dir))
      val members = Seq("c0", "c1", "c2")
      val assigned = (0 until 8).groupBy(p =>
        ConsumerGroups.ownerIndexLocal("range", 8, members.size, p))
      // The three members run CONCURRENTLY (guide §2.6 — overlap
      // independent jobs): a consumer group's processors tail their
      // partition ranges in parallel by definition; draining them
      // sequentially serialized three AvailableNow fixed costs
      // (planning + offset/commit log + state commits each) and left
      // the box idle through every drain's tail. Start all, then
      // await all — per-member state machines are key-disjoint, so
      // the result is identical.
      val perTrigger = offsetsPerTrigger(eventsRowCount(s, dir), 8192L)
      val memberUpdates = assigned.toSeq.sortBy(_._1).map { case (_, pids) =>
        val consumed = graft.sources.TopicSource.stream(s, path,
            graft.sources.TopicSource.changelogTopicSchema,
            maxOffsetsPerTrigger = perTrigger, partitions = pids)
          .drop("__partition", "__offset")
        val chained = EventTypeFilter(
          Set("signup", "click", "purchase", "error"))(consumed)
        CdcStream.snapshotUpdates(chained)
      }
      Materialize.snapshot(
          drainToMemory(memberUpdates, "update").reduce(_ unionByName _))
        .select(
          col("key").as("user_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"),
          col("commit_ts_us").as("last_ts_us"))
        .orderBy("user_id")
    }),

    // Lakehouse ACID sink: VERSIONED TABLE with manifest-per-commit —
    // two appends then one OVERWRITE, each publishing an atomic
    // manifest; reads at v1/v2/v3 resolve each manifest chain
    // (snapshot isolation + time travel: v2 still reads the
    // pre-overwrite content AFTER v3 replaced the table). The graded
    // relation is all three versions read back and profiled; the
    // oracle re-states each version's content from the commit-boundary
    // ts arithmetic alone.
    "cdc_table_versions" -> ((s, dir) => {
      val path = clearedScratch(dir, "tableversions") // deterministic rebuild per run
      val log = changelog(s, dir)
      val t1 = 1704844800000000L // 2024-01-10
      val t2 = 1705708800000000L // 2024-01-20
      val table = GraftSink.VersionedTable(path)
      table.commit(log.where(col("commit_ts_us") <= t1))
      table.commit(log.where(
        col("commit_ts_us") > t1 && col("commit_ts_us") <= t2))
      table.commit(log.where(col("commit_ts_us") > t2), overwrite = true)
      Seq(1L, 2L, 3L)
        .map(v => table.readVersion(s, v).withColumn("version", lit(v)))
        .reduce(_ unionByName _)
        .groupBy(col("version"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sumCents("value").as("sum_value_e2"),
          min(col("commit_ts_us")).as("min_ts_us"),
          max(col("commit_ts_us")).as("max_ts_us"))
        .orderBy("version", "event_type")
    }),

    // A66 MERGE commits (the Delta MERGE / warehouse-upsert shape):
    // three time-slices of the changelog applied as successive merge
    // commits — per key the batch's newest record wins, 'D' tombstones
    // delete, untouched rows carry over; each merge is ONE new version
    // (snapshot-isolated while it builds). The final read must equal
    // the batch snapshot of the whole feed — the oracle is the SAME
    // snapshot SQL as cdc_snapshot, so parity proves incremental
    // merges converge to the full-feed state (A28's upsert law, now
    // through the versioned-table commit protocol).
    "cdc_table_merge" -> ((s, dir) => {
      val path = clearedScratch(dir, "tablemerge")
      val log = changelog(s, dir)
      val t1 = 1704844800000000L // 2024-01-10
      val t2 = 1705708800000000L // 2024-01-20
      val table = GraftSink.VersionedTable(path)
      Seq(
        log.where(col("commit_ts_us") <= t1),
        log.where(col("commit_ts_us") > t1 && col("commit_ts_us") <= t2),
        log.where(col("commit_ts_us") > t2)
      ).foreach(slice => table.merge(slice, Seq("key"),
        Seq("commit_ts_us", "seq")))
      table.read(s)
        .select(col("key").as("user_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"),
          col("commit_ts_us").as("last_ts_us"))
        .orderBy("user_id")
    }),

    // A66 event-time time travel (AS OF TIMESTAMP, deterministically):
    // each commit stamps its data's max commit_ts_us as the version's
    // watermark; a read as of T resolves to the highest version whose
    // watermark ≤ T — a pure function of the DATA, reproducible on any
    // rerun (wall-clock AS OF is not). Three watermarked appends, read
    // back as of the two slice boundaries and the far future; the
    // oracle re-derives each as-of's cumulative content from ts
    // arithmetic.
    "cdc_table_asof_ts" -> ((s, dir) => {
      val path = clearedScratch(dir, "tableasof")
      val log = changelog(s, dir)
      val t1 = 1704844800000000L
      val t2 = 1705708800000000L
      val table = GraftSink.VersionedTable(path)
      Seq(
        log.where(col("commit_ts_us") <= t1),
        log.where(col("commit_ts_us") > t1 && col("commit_ts_us") <= t2),
        log.where(col("commit_ts_us") > t2)
      ).foreach(slice =>
        table.commitWithWatermark(slice, "commit_ts_us"))
      Seq((1L, t1), (2L, t2), (3L, Long.MaxValue))
        .map { case (i, ts) =>
          table.readAsOfTs(s, ts).withColumn("asof_idx", lit(i)) }
        .reduce(_ unionByName _)
        .groupBy(col("asof_idx"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sumCents("value").as("sum_value_e2"),
          max(col("commit_ts_us")).as("max_ts_us"))
        .orderBy("asof_idx", "event_type")
    }),

    // A66 FILE-PRUNED merge (Delta's real MERGE shape): the same three
    // incremental merges, but through the bucketed path — data files
    // hive-partitioned by key bucket, each merge rewriting ONLY the
    // buckets its batch hashes into and CARRYING every other file
    // verbatim (per-merge work O(|touched|), never O(|table|) — the
    // 100 TB upsert answer; SinksSpec pins the carried-files claim).
    // Same snapshot oracle: pruning must not change the answer.
    "cdc_table_merge_bucketed" -> ((s, dir) => {
      val path = clearedScratch(dir, "tablemergebucketed")
      val log = changelog(s, dir)
      val t1 = 1704844800000000L
      val t2 = 1705708800000000L
      val table = GraftSink.VersionedTable(path)
      Seq(
        log.where(col("commit_ts_us") <= t1),
        log.where(col("commit_ts_us") > t1 && col("commit_ts_us") <= t2),
        log.where(col("commit_ts_us") > t2)
      ).foreach(slice => table.mergeBucketed(slice, Seq("key"),
        Seq("commit_ts_us", "seq"), numBuckets = 16))
      table.read(s)
        .select(col("key").as("user_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"),
          col("commit_ts_us").as("last_ts_us"))
        .orderBy("user_id")
    }),

    // A66 CHANGE DATA FEED, append-only leg: three append commits,
    // then changes(0 → 3) — the manifest file-set differences ARE the
    // change set (zero shuffle, zero old-version scan; CDF costs
    // O(|changes|) not O(|table|)), each row tagged with the commit
    // version that introduced it. Oracle re-derives the version
    // attribution from the slice boundaries.
    "cdc_table_cdf" -> ((s, dir) => {
      val path = clearedScratch(dir, "tablecdf")
      val log = changelog(s, dir)
      val t1 = 1704844800000000L
      val t2 = 1705708800000000L
      val table = GraftSink.VersionedTable(path)
      table.commit(log.where(col("commit_ts_us") <= t1))
      table.commit(log.where(
        col("commit_ts_us") > t1 && col("commit_ts_us") <= t2))
      table.commit(log.where(col("commit_ts_us") > t2))
      table.changes(s, 0L, 3L)
        .select(col("seq"), col("key").as("user_id"), col("op"),
          col("event_type"), col("commit_ts_us"),
          col("_change_type"), col("_commit_version"))
        .orderBy("seq")
    }),

    // A66 CDF keyed-diff leg: the range crosses an OVERWRITE commit
    // (v1 = the snapshot as of 2024-01-10, v2 = overwritten with the
    // snapshot as of 2024-01-20), so the feed falls back to one
    // full-outer keyed diff — keys that appeared are inserts, keys
    // whose latest event moved are update_postimage (post-image
    // emitted), keys whose latest-by-t2 is a delete tombstone are
    // deletes (pre-image emitted). The oracle re-derives both
    // snapshots and the three-way classification in SQL; seq equality
    // is the change test (no two events share a seq).
    "cdc_table_cdf_diff" -> ((s, dir) => {
      val path = clearedScratch(dir, "tablecdfdiff")
      val log = changelog(s, dir)
      val t1 = 1704844800000000L
      val t2 = 1705708800000000L
      val table = GraftSink.VersionedTable(path)
      table.commit(Materialize.snapshot(log.where(col("commit_ts_us") <= t1)))
      table.commit(Materialize.snapshot(log.where(col("commit_ts_us") <= t2)),
        overwrite = true)
      table.changes(s, 1L, 2L, keyCols = Seq("key"))
        .select(col("key").as("user_id"), col("_change_type"),
          col("seq"), col("event_type"), col("value"),
          col("commit_ts_us"), col("_commit_version"))
        .orderBy("user_id")
    }),

    // A66 FILE-PRUNED CDF across MERGE commits (the r15 top ask): a
    // bootstrap bucketed merge then two incremental ones; changes(1,3)
    // diffs each merge's removed ∪ added files ONLY — the carried-
    // verbatim buckets are never planned (SinksSpec pins the file
    // census; per-version work is O(|touched buckets|), never two full
    // scans + a full-table shuffle). The oracle re-derives per-version
    // change attribution from the three snapshot cutoffs: v2 = what
    // moved between the t1- and t2-snapshots, v3 = between t2 and the
    // full feed; seq equality is the change test.
    "cdc_table_cdf_merge" -> ((s, dir) => {
      val path = clearedScratch(dir, "tablecdfmerge")
      val log = changelog(s, dir).select(col("key"), col("commit_ts_us"),
        col("seq"), col("op"), col("event_type"), col("value"))
      val t1 = 1704844800000000L
      val t2 = 1705708800000000L
      val table = GraftSink.VersionedTable(path)
      Seq(
        log.where(col("commit_ts_us") <= t1),
        log.where(col("commit_ts_us") > t1 && col("commit_ts_us") <= t2),
        log.where(col("commit_ts_us") > t2)
      ).foreach(slice => table.mergeBucketed(slice, Seq("key"),
        Seq("commit_ts_us", "seq"), numBuckets = 16))
      table.changes(s, 1L, 3L, keyCols = Seq("key"))
        .select(col("key").as("user_id"), col("_change_type"),
          col("seq"), col("event_type"), col("value"),
          col("commit_ts_us"), col("_commit_version"))
        .orderBy("_commit_version", "user_id")
    }),

    // A66 merge-on-read UPDATE (Delta's UPDATE without the file
    // rewrite): the matching rows are DV-killed at their positions
    // and re-appended transformed, in ONE #kind=update commit — no
    // standing file rewritten (files_carried witness: every v1 file
    // is still listed). Oracle: the snapshot with the SET applied as
    // a CASE.
    "cdc_table_update" -> ((s, dir) => {
      val path = clearedScratch(dir, "tableupdate")
      val log = changelog(s, dir)
      val table = GraftSink.VersionedTable(path)
      table.mergeBucketed(log, Seq("key"),
        Seq("commit_ts_us", "seq"), numBuckets = 16)
      val before = table.read(s).inputFiles
        .filter(TableLog.isDataFile).toSet
      val (_, nUpd) = table.updateWhere(s,
        pmod(col("key"), lit(5L)) === 0,
        Map("value" -> (col("value") * 2),
          "event_type" -> lit("adjusted")))
      require(nUpd > 0, "the update predicate must match rows at every SF")
      val after = table.read(s).inputFiles
        .filter(TableLog.isDataFile).toSet
      val witness = before.subsetOf(after)
      table.read(s)
        .select(col("key").as("user_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"),
          col("commit_ts_us").as("last_ts_us"))
        .withColumn("files_carried", lit(witness))
        .orderBy("user_id")
    }),

    // A66 UPDATE × CDF: the update version's change set = the added
    // files (post-images) + the fresh dead positions (pre-images) —
    // Delta's full CDF shape for an UPDATE, file-pruned on both legs.
    // Oracle: each matched snapshot row twice, before and after.
    "cdc_table_update_cdf" -> ((s, dir) => {
      val path = clearedScratch(dir, "tableupdatecdf")
      val log = changelog(s, dir)
      val table = GraftSink.VersionedTable(path)
      table.mergeBucketed(log, Seq("key"),
        Seq("commit_ts_us", "seq"), numBuckets = 16)
      table.updateWhere(s, pmod(col("key"), lit(5L)) === 0,
        Map("value" -> (col("value") * 2),
          "event_type" -> lit("adjusted")))
      table.changes(s, 1L, 2L, Nil, emitPreimages = true)
        .select(col("key").as("user_id"), col("event_type"),
          col("value"), col("commit_ts_us"),
          col("_change_type"), col("_commit_version"))
        .orderBy("user_id", "_change_type")
    }),

    // A73 STREAMING CDF over an UPDATE version — the stream serves
    // the same two legs (post-images from added files, pre-images
    // from fresh slices), one partition each. Oracle: the v1 insert
    // snapshot plus the update's before/after pairs.
    "cdc_stream_table_cdf_update" -> ((s, dir) => {
      val path = clearedScratch(dir, "streamtablecdfupd")
      val log = changelog(s, dir)
      val table = GraftSink.VersionedTable(path)
      table.mergeBucketed(log, Seq("key"),
        Seq("commit_ts_us", "seq"), numBuckets = 16)
      table.updateWhere(s, pmod(col("key"), lit(5L)) === 0,
        Map("value" -> (col("value") * 2),
          "event_type" -> lit("adjusted")))
      drainToMemory(graft.sources.TableCdfSource
        .stream(s, path, table.read(s).schema,
          maxVersionsPerTrigger = 1, preimages = true))
        .select(col("key").as("user_id"), col("event_type"),
          col("value"), col("commit_ts_us"),
          col("_change_type"), col("_commit_version"))
        .orderBy("user_id", "_change_type")
    }),

    // A66 CHECK CONSTRAINTS (Delta's ADD CONSTRAINT): the standing
    // check validates existing content on ADD and every later commit
    // validates its incoming rows BEFORE writing — a violating batch
    // is refused whole (the refused witness) and leaves no orphan
    // files. Oracle: the full-feed profile with both witnesses TRUE.
    "cdc_table_constraints" -> ((s, dir) => {
      val path = clearedScratch(dir, "tableconstraints")
      val log = changelog(s, dir)
      val t1 = 1704844800000000L
      val table = GraftSink.VersionedTable(path)
      table.commit(log.where(col("commit_ts_us") <= t1))
      table.addConstraint(s, "ts_positive", "commit_ts_us > 0")
      // a violating batch is refused whole — nothing lands
      val refused =
        try { table.commit(log.where(col("commit_ts_us") > t1)
          .withColumn("commit_ts_us", lit(-1L))); false }
        catch { case _: IllegalArgumentException => true }
      val unchanged = table.currentVersion(s) == 2L
      table.commit(log.where(col("commit_ts_us") > t1)) // passes
      table.read(s)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sumCents("value").as("sum_value_e2"),
          max(col("commit_ts_us")).as("max_ts_us"))
        .withColumn("violation_refused", lit(refused && unchanged))
        .orderBy("event_type")
    }),

    // A66 DESCRIBE HISTORY: the table's commit log as a relation —
    // one row per retained version with its kind and DV state, from
    // manifest headers alone (driver metadata, no data reads).
    // Oracle: the literal expected history of the five-step script.
    "cdc_table_history" -> ((s, dir) => {
      val path = clearedScratch(dir, "tablehistory")
      val log = changelog(s, dir)
      val t1 = 1704844800000000L
      val table = GraftSink.VersionedTable(path)
      table.commit(log.where(col("commit_ts_us") <= t1))
      table.commit(log.where(col("commit_ts_us") > t1))
      table.deleteWhere(s, pmod(col("key"), lit(7L)) === 0)
      table.optimize(s, 1000000L)
      table.restore(s, 2L)
      table.history(s)
        .select(col("version"), col("kind"),
          (col("n_dv_slices") > 0).as("has_dv"), col("restored_from"))
        .orderBy("version")
    }),

    // A40 × A66 CROSS-TABLE SYNCPOINT: a two-table transaction (even
    // keys → table A, odd → table B) commits each table individually,
    // then pins both versions in ONE coordinator syncpoint — readers
    // resolve the pin set, so a transaction is never half-visible. A
    // third transaction is left TORN (A committed, no syncpoint): the
    // reader's profile must be exactly transactions 1-2, and the
    // torn_invisible witness pins that A's newer version exists but
    // is not read. Oracle: the ≤t2 slice profile.
    "cdc_table_syncpoint" -> ((s, dir) => {
      val base = clearedScratch(dir, "tablesyncpoint")
      val log = changelog(s, dir)
      val t1 = 1704844800000000L
      val t2 = 1705708800000000L
      val ta = GraftSink.VersionedTable(s"$base/a")
      val tb = GraftSink.VersionedTable(s"$base/b")
      val coord = s"$base/_syncpoints"
      def txn(slice: DataFrame): Unit = {
        val va = ta.commit(slice.where(pmod(col("key"), lit(2L)) === 0))
        val vb = tb.commit(slice.where(pmod(col("key"), lit(2L)) === 1))
        GraftSink.Syncpoint.publish(s, coord, Map("a" -> va, "b" -> vb))
      }
      txn(log.where(col("commit_ts_us") <= t1))
      txn(log.where(col("commit_ts_us") > t1 && col("commit_ts_us") <= t2))
      // the TORN transaction: A lands, the syncpoint never does
      ta.commit(log.where(col("commit_ts_us") > t2)
        .where(pmod(col("key"), lit(2L)) === 0))
      val (_, pins) = GraftSink.Syncpoint.resolve(s, coord)
      val torn = ta.currentVersion(s) == pins("a") + 1
      GraftSink.Syncpoint.readAt(s, coord, "a", ta)
        .unionByName(GraftSink.Syncpoint.readAt(s, coord, "b", tb))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sumCents("value").as("sum_value_e2"),
          max(col("commit_ts_us")).as("max_ts_us"))
        .withColumn("torn_invisible", lit(torn))
        .orderBy("event_type")
    }),

    // A66 COLUMN-MAPPING RENAME (Delta's column mapping; VERDICT r16
    // ask 4): value→amount lands mid-history as ONE manifest write —
    // data files keep their PHYSICAL column, the #rename= map keeps
    // them readable, and a post-rename append writes under the
    // logical name while translating back to physical. Per-version
    // time travel reads EACH version under its own names (v1 says
    // value, v2/v3 say amount — the named_amount witness), and the
    // sums prove old files' data flows through the map (a drop+add
    // would have nulled it; the gate refuses that shape outright).
    "cdc_table_rename" -> ((s, dir) => {
      val path = clearedScratch(dir, "tablerename")
      val log = changelog(s, dir).select(col("key"), col("commit_ts_us"),
        col("seq"), col("event_type"), col("value"))
      val t1 = 1704844800000000L
      val table = GraftSink.VersionedTable(path)
      table.commit(log.where(col("commit_ts_us") <= t1))
      table.renameColumn(s, "value", "amount")
      table.commit(log.where(col("commit_ts_us") > t1)
        .withColumnRenamed("value", "amount"))
      Seq(1L, 2L, 3L).map { v =>
        val df = table.readVersion(s, v)
        val named = df.columns.contains("amount")
        val amt = if (named) "amount" else "value"
        df.agg(count(lit(1)).as("n_rows"),
            sum((dec182(amt) * 100).cast("decimal(38,0)")).cast("long")
              .as("sum_amount_e2"))
          .withColumn("version", lit(v))
          .withColumn("named_amount", lit(named))
      }.reduce(_ unionByName _)
        .select(col("version"), col("n_rows"), col("sum_amount_e2"),
          col("named_amount"))
        .orderBy("version")
    }),

    // A66 RESTORE (Delta's RESTORE TO VERSION): after a bad overwrite
    // clobbers the table, restore(2) republishes v2's exact state as
    // v4 — ONE manifest write, zero data moved at any table size,
    // history intact (the bad v3 stays time-travelable until vacuum).
    // Graded: the post-restore read equals the pre-overwrite content
    // (cumulative slices ≤ t2) with the version witness pinning that
    // the rollback moved FORWARD (linear history, never a reset).
    "cdc_table_restore" -> ((s, dir) => {
      val path = clearedScratch(dir, "tablerestore")
      val log = changelog(s, dir)
      val t1 = 1704844800000000L
      val t2 = 1705708800000000L
      val table = GraftSink.VersionedTable(path)
      table.commit(log.where(col("commit_ts_us") <= t1))
      table.commit(log.where(
        col("commit_ts_us") > t1 && col("commit_ts_us") <= t2))
      table.commit(log.where(col("commit_ts_us") > t2),
        overwrite = true) // the bad overwrite
      table.restore(s, 2L)
      table.read(s)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sumCents("value").as("sum_value_e2"),
          max(col("commit_ts_us")).as("max_ts_us"))
        .withColumn("table_version", lit(table.currentVersion(s)))
        .orderBy("event_type")
    }),

    // A35 × A66: INCREMENTAL VIEW MAINTENANCE from the table's own
    // change feed — changes(…, emitPreimages=true) emits Delta's full
    // CDF shape (update_preimage beside update_postimage), so a
    // downstream aggregate maintains itself from the feed alone:
    // +post −pre per group, never re-reading the table. The graded
    // relation is the MAINTAINED view; the oracle computes the DIRECT
    // aggregate over the final snapshot — parity proves the feed
    // carries exactly the deltas (retractions included) that close
    // the loop.
    "cdc_table_ivm" -> ((s, dir) => {
      val path = clearedScratch(dir, "tableivm")
      val log = changelog(s, dir).select(col("key"), col("commit_ts_us"),
        col("seq"), col("op"), col("event_type"), col("value"))
      val t1 = 1704844800000000L
      val t2 = 1705708800000000L
      val table = GraftSink.VersionedTable(path)
      Seq(
        log.where(col("commit_ts_us") <= t1),
        log.where(col("commit_ts_us") > t1 && col("commit_ts_us") <= t2),
        log.where(col("commit_ts_us") > t2)
      ).foreach(slice => table.mergeBucketed(slice, Seq("key"),
        Seq("commit_ts_us", "seq"), numBuckets = 16))
      val feed = table.changes(s, 0L, 3L, Seq("key"),
        emitPreimages = true)
      val sgn = when(col("_change_type")
        .isin("insert", "update_postimage"), 1L).otherwise(-1L)
      feed
        .groupBy(col("event_type"))
        .agg(sum(sgn).as("n_live"),
          sum((dec182("value") * 100).cast("decimal(38,0)") * sgn)
            .cast("long").as("sum_value_e2"))
        .where(col("n_live") > 0)
        .orderBy("event_type")
    }),

    // A66 merge CONCURRENCY: two bucketed merges race — the second is
    // injected inside the first's publish window (the deterministic
    // race seam), touching a DISJOINT bucket set (the feed split by
    // key-bucket parity). The loser detects the winner's manifest,
    // rebases its carryover, and retries: BOTH land, and the final
    // table must equal the full-feed snapshot — the serial answer
    // (oracle = the same snapshot SQL; Delta-style optimistic
    // concurrency instead of the r14 single-writer fail).
    "cdc_table_merge_racing" -> ((s, dir) => {
      val path = clearedScratch(dir, "tablemergerace")
      val log = changelog(s, dir)
      val t1 = 1704844800000000L
      val table = GraftSink.VersionedTable(path)
      table.mergeBucketed(log.where(col("commit_ts_us") <= t1),
        Seq("key"), Seq("commit_ts_us", "seq"), numBuckets = 16)
      val rest = log.where(col("commit_ts_us") > t1)
      val bucket = pmod(xxhash64(col("key")), lit(16L))
      table.mergeBucketed(rest.where(bucket < 8),
        Seq("key"), Seq("commit_ts_us", "seq"), numBuckets = 16,
        beforePublish = () => {
          table.mergeBucketed(rest.where(bucket >= 8),
            Seq("key"), Seq("commit_ts_us", "seq"), numBuckets = 16)
          ()
        })
      table.read(s)
        .select(col("key").as("user_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"),
          col("commit_ts_us").as("last_ts_us"))
        .orderBy("user_id")
    }),

    // A66 lakehouse SCHEMA EVOLUTION (A72's gate composed into the
    // table): v2 ADDS value_e2 (exact cents), v3 DROPS event_type —
    // each commit stamps its schema in the manifest, and every read
    // resolves under ITS version's schema: v1 files null-fill the
    // added column under v2+, and stop projecting event_type under v3
    // even though the files still carry it. The graded relation
    // profiles all three version reads; the oracle re-derives every
    // count from slice arithmetic (n_event_type collapses to 0 at v3
    // BECAUSE the column left the schema, not the files).
    "cdc_table_schema_evolution" -> ((s, dir) => {
      val path = clearedScratch(dir, "tableschemaevo")
      val log = changelog(s, dir)
      val t1 = 1704844800000000L
      val t2 = 1705708800000000L
      val cents = (dec182("value") * 100).cast("long")
      val table = GraftSink.VersionedTable(path)
      table.commit(log.where(col("commit_ts_us") <= t1)
        .select(col("key"), col("event_type"), col("value"),
          col("commit_ts_us")))
      table.commit(log.where(
        col("commit_ts_us") > t1 && col("commit_ts_us") <= t2)
        .select(col("key"), col("event_type"), col("value"),
          col("commit_ts_us"), cents.as("value_e2")))
      table.commit(log.where(col("commit_ts_us") > t2)
        .select(col("key"), col("value"), col("commit_ts_us"),
          cents.as("value_e2")))
      Seq(1L, 2L, 3L).map { v =>
        val df = table.readVersion(s, v)
        val et = if (df.columns.contains("event_type")) col("event_type")
                 else lit(null).cast("string")
        val ve = if (df.columns.contains("value_e2")) col("value_e2")
                 else lit(null).cast("long")
        df.agg(count(lit(1)).as("n_rows"),
          count(et).as("n_event_type"),
          count(ve).as("n_value_e2"),
          coalesce(sum(ve), lit(0L)).cast("long").as("sum_value_e2"))
          .withColumn("version", lit(v))
      }.reduce(_ unionByName _)
        .select(col("version"), col("n_rows"), col("n_event_type"),
          col("n_value_e2"), col("sum_value_e2"))
        .orderBy("version")
    }),

    // A66 event-time travel × CDF: the boundaries are WATERMARK
    // timestamps, not versions — changesAsOfTs resolves each through
    // the #max_ts rule (highest version ≤ T, a pure function of the
    // data) and then runs the file-pruned feed between them. Grades
    // the composition of the r15 as-of rule with the CDF.
    "cdc_table_cdf_asof" -> ((s, dir) => {
      val path = clearedScratch(dir, "tablecdfasof")
      val log = changelog(s, dir)
      val t1 = 1704844800000000L
      val t2 = 1705708800000000L
      val table = GraftSink.VersionedTable(path)
      Seq(
        log.where(col("commit_ts_us") <= t1),
        log.where(col("commit_ts_us") > t1 && col("commit_ts_us") <= t2),
        log.where(col("commit_ts_us") > t2)
      ).foreach(slice => table.commitWithWatermark(slice, "commit_ts_us"))
      table.changesAsOfTs(s, t1, Long.MaxValue)
        .select(col("seq"), col("key").as("user_id"), col("op"),
          col("event_type"), col("commit_ts_us"),
          col("_change_type"), col("_commit_version"))
        .orderBy("seq")
    }),

    // A71 × A66 bucketed: the full exactly-once chain LANDING AT
    // O(|touched|) — transactional produce (A62), read_committed from
    // in-log markers (A60), and ONE bucketed merge with the batch id
    // in the manifest header; the crash-replay REDELIVERY of the same
    // batch is skipped by id (table_version stays 1 — the graded
    // witness that the skip happened). Content = the committed-below-
    // LSO snapshot, same as cdc_txn_e2e.
    "cdc_txn_e2e_bucketed" -> ((s, dir) => {
      val (visible, _) = txnProducedTopic(s, dir)
      val path = clearedScratch(dir, "txne2ebucketed")
      val table = GraftSink.VersionedTable(path)
      val batch = visible.select(col("key"), col("commit_ts_us"),
        col("seq"), col("op"), col("event_type"), col("value"))
      val first = table.mergeBucketedBatch(batch, Seq("key"),
        Seq("commit_ts_us", "seq"), numBuckets = 16, batchId = 7L)
      require(first.contains(1L), s"first merge must publish v1: $first")
      val replay = table.mergeBucketedBatch(batch, Seq("key"),
        Seq("commit_ts_us", "seq"), numBuckets = 16, batchId = 7L)
      require(replay.isEmpty, s"redelivered batch must be skipped: $replay")
      table.read(s)
        .select(col("key").as("user_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"),
          col("commit_ts_us").as("last_ts_us"))
        .withColumn("table_version", lit(table.currentVersion(s)))
        .orderBy("user_id")
    }),

    // A66 streaming leg: the changelog arrives as three ts-ordered
    // flushes through a STREAMING query (AvailableNow, one file per
    // trigger) and lands in the versioned table via exactly-once
    // batch commits — one version per micro-batch, batch id in the
    // manifest header, a redelivered batch skipped by id (spec-pinned;
    // here the deterministic slice→version mapping is graded). The
    // oracle re-derives each version's content from the same
    // rank-thirds slicing the dlq-quarantine oracle models.
    "cdc_stream_table_versions" -> ((s, dir) => withStreamPartitions(s) {
      val ev = Tables.events(s, dir)
      val inDir = streamSliceDir(s, ev, dir, slices = 3,
        tag = "vtable_in")
      val path = clearedScratch(dir, "streamtable")
      val table = GraftSink.VersionedTable(path)
      drainOnce(CdcStream.deliverVersioned(
        CdcStream.fromParquetDir(s, inDir, ev.schema),
        Changefeed(Seq(TransformPlugin("to-changelog",
          Changelog.fromEvents))),
        table, _))
      Seq(1L, 2L, 3L)
        .map(v => table.readVersion(s, v).withColumn("version", lit(v)))
        .reduce(_ unionByName _)
        .groupBy(col("version"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sumCents("value").as("sum_value_e2"),
          min(col("seq")).as("min_seq"), max(col("seq")).as("max_seq"))
        .orderBy("version", "event_type")
    }),

    // A66 DATA SKIPPING (Delta's per-file stats pruning): every commit
    // stamps each new file's footer min/max/rows into its manifest
    // line, and a range read plans ONLY the files whose stats overlap
    // the bound — at 100 TB a time-range query over an event-time-
    // clustered table touches the matching slice's files, not the
    // table (the lakehouse read-side law beside lookup's bucket
    // pruning). Three ts-sliced appends; readRange over the middle
    // slice must hash-equal the plain SQL filter, and the graded
    // pruned_scan witness pins that the plan read STRICTLY fewer files
    // than the table holds (SinksSpec pins exact file censuses).
    "cdc_table_skipping" -> ((s, dir) => {
      val path = clearedScratch(dir, "tableskipping")
      val log = changelog(s, dir)
      val t1 = 1704844800000000L
      val t2 = 1705708800000000L
      val table = GraftSink.VersionedTable(path)
      table.commit(log.where(col("commit_ts_us") <= t1))
      table.commit(log.where(
        col("commit_ts_us") > t1 && col("commit_ts_us") <= t2))
      table.commit(log.where(col("commit_ts_us") > t2))
      val pruned = table.readRange(s, "commit_ts_us", t1 + 1, t2)
      val witness =
        pruned.inputFiles.length < table.read(s).inputFiles.length
      pruned
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sumCents("value").as("sum_value_e2"),
          min(col("commit_ts_us")).as("min_ts_us"),
          max(col("commit_ts_us")).as("max_ts_us"))
        .withColumn("pruned_scan", lit(witness))
        .orderBy("event_type")
    }),

    // A66 DELETION VECTORS (Delta's row-level deletes): the snapshot
    // lands in one merge commit, then deleteWhere records the matching
    // rows BY POSITION in a _dv sidecar and republishes the SAME file
    // lines — zero data files rewritten (the graded files_unchanged
    // witness), every read anti-joins the vector at the scan. On a
    // 100 TB table a GDPR erasure is a kilobyte sidecar where even
    // the bucketed merge would rewrite whole buckets. The oracle is
    // the snapshot minus the predicate.
    "cdc_table_delete_vectors" -> ((s, dir) => {
      val path = clearedScratch(dir, "tabledv")
      val log = changelog(s, dir)
      val table = GraftSink.VersionedTable(path)
      table.merge(log, Seq("key"), Seq("commit_ts_us", "seq"))
      // data files only: the post-delete plan also scans the _dv
      // sidecar, which is exactly the point — the DATA files are
      // untouched
      def dataFiles = table.read(s).inputFiles
        .filter(TableLog.isDataFile).toSet
      val before = dataFiles
      val (_, nDel) = table.deleteWhere(s, pmod(col("key"), lit(7L)) === 0)
      require(nDel > 0, "the delete predicate must match rows at every SF")
      val witness = dataFiles == before
      table.read(s)
        .select(col("key").as("user_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"),
          col("commit_ts_us").as("last_ts_us"))
        .withColumn("files_unchanged", lit(witness))
        .orderBy("user_id")
    }),

    // A66 DV × CDF: the delete version changes NO files, so its change
    // set is exactly the positions fresh in its vector — changes()
    // reads ONLY those rows back (semi-join on row address) and tags
    // them delete. Oracle: the snapshot rows the predicate matched.
    "cdc_table_dv_cdf" -> ((s, dir) => {
      val path = clearedScratch(dir, "tabledvcdf")
      val log = changelog(s, dir)
      val table = GraftSink.VersionedTable(path)
      table.merge(log, Seq("key"), Seq("commit_ts_us", "seq"))
      table.deleteWhere(s, pmod(col("key"), lit(7L)) === 0)
      table.changes(s, 1L, 2L)
        .select(col("key").as("user_id"), col("event_type"),
          col("value"), col("commit_ts_us"),
          col("_change_type"), col("_commit_version"))
        .orderBy("user_id")
    }),

    // A66 bucket-pruned point LOOKUP — the read-side payoff of the
    // bucketed layout, driver-graded: the requested keys hash to
    // their buckets driver-side and the scan plans ONLY those
    // buckets' files (1/numBuckets of the table at any size; the
    // pruned_scan witness pins strictly-fewer files, SinksSpec pins
    // the exact census). Oracle: the snapshot restricted to the keys.
    "cdc_table_lookup" -> ((s, dir) => {
      val path = clearedScratch(dir, "tablelookup")
      val log = changelog(s, dir)
      val table = GraftSink.VersionedTable(path)
      table.mergeBucketed(log, Seq("key"),
        Seq("commit_ts_us", "seq"), numBuckets = 16)
      val hit = table.lookup(s, Seq("key"),
        Seq(Seq(0L), Seq(1L), Seq(2L)), numBuckets = 16)
      val witness =
        hit.inputFiles.length < table.read(s).inputFiles.length
      hit
        .select(col("key").as("user_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"),
          col("commit_ts_us").as("last_ts_us"))
        .withColumn("pruned_scan", lit(witness))
        .orderBy("user_id")
    }),

    // A66 KEYED DV erasure on the bucketed table — the GDPR path at
    // scale: the requested keys hash to their buckets driver-side and
    // the position scan reads ONLY those buckets' files (lookup's
    // pruning composed with A76's vectors), so erasing three users
    // from a 100 TB table scans ~3/16 of it and rewrites NOTHING
    // (files_unchanged witness). Oracle: snapshot minus the keys.
    "cdc_table_delete_keys" -> ((s, dir) => {
      val path = clearedScratch(dir, "tabledvkeys")
      val log = changelog(s, dir)
      val table = GraftSink.VersionedTable(path)
      table.mergeBucketed(log, Seq("key"),
        Seq("commit_ts_us", "seq"), numBuckets = 16)
      def dataFiles = table.read(s).inputFiles
        .filter(TableLog.isDataFile).toSet
      val before = dataFiles
      table.deleteKeys(s, Seq("key"), Seq(Seq(0L), Seq(1L), Seq(2L)),
        numBuckets = 16)
      val witness = dataFiles == before
      table.read(s)
        .select(col("key").as("user_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"),
          col("commit_ts_us").as("last_ts_us"))
        .withColumn("files_unchanged", lit(witness))
        .orderBy("user_id")
    }),

    // A66 Z-ORDER clustering (Delta's OPTIMIZE ZORDER BY): the whole
    // changelog lands in ONE hash-scattered commit — every file spans
    // the full ts AND key range, so no range read can prune — then
    // optimizeZorder(key, commit_ts_us) rewrites along the Morton
    // curve of per-column quantile buckets: the SAME readRange calls
    // now prune on EITHER dimension (two graded strictly-fewer-files
    // witnesses against the scattered baseline), while the content is
    // bit-identical (the profile hash-equals the plain SQL filter —
    // layout must never change an answer). The multi-dimensional
    // companion to cdc_table_skipping's slice-clustered case.
    "cdc_table_zorder" -> ((s, dir) => {
      val path = clearedScratch(dir, "tablezorder")
      val log = changelog(s, dir).select(col("key"), col("commit_ts_us"),
        col("seq"), col("event_type"), col("value"))
      val t1 = 1704844800000000L
      val t2 = 1705708800000000L
      val table = GraftSink.VersionedTable(path)
      table.commit(log.repartition(32)) // scattered: nothing prunes
      // key probe = the lowest fifth of the id space (SF-relative:
      // user ids are dense 0..users-1, and users scales with SF)
      val keyHi = log.agg(max(col("key"))).head().getLong(0) / 5
      val beforeTs = table.readRange(s, "commit_ts_us", t1 + 1, t2)
        .inputFiles.length
      val beforeKey = table.readRange(s, "key", 0L, keyHi)
        .inputFiles.length
      val n = log.count()
      table.optimizeZorder(s, Seq("key", "commit_ts_us"),
        math.max(1L, n / 32))
      val tsScan = table.readRange(s, "commit_ts_us", t1 + 1, t2)
      val keyScan = table.readRange(s, "key", 0L, keyHi)
      val witnessTs = tsScan.inputFiles.length < beforeTs
      val witnessKey = keyScan.inputFiles.length < beforeKey
      tsScan
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sumCents("value").as("sum_value_e2"),
          min(col("commit_ts_us")).as("min_ts_us"),
          max(col("commit_ts_us")).as("max_ts_us"))
        .withColumn("pruned_ts_scan", lit(witnessTs))
        .withColumn("pruned_key_scan", lit(witnessKey))
        .orderBy("event_type")
    }),

    // A66 STREAMING CDF source (the table-side A46; Delta's
    // readChangeFeed stream): three append commits land in the
    // versioned table, then a readStream over the MANIFEST CHAIN
    // drains them — offsets are versions (the manifest rename is the
    // commit point, so admission is atomic by construction), each
    // micro-batch reads ONLY its versions' added files (one version
    // per trigger here — the A46 admission discipline), and every row
    // arrives tagged with the _commit_version that introduced it. The
    // oracle re-derives the slice→version attribution from ts
    // arithmetic alone.
    "cdc_stream_table_cdf" -> ((s, dir) => {
      val path = clearedScratch(dir, "streamtablecdf")
      val log = changelog(s, dir)
      val t1 = 1704844800000000L
      val t2 = 1705708800000000L
      val table = GraftSink.VersionedTable(path)
      table.commit(log.where(col("commit_ts_us") <= t1))
      table.commit(log.where(
        col("commit_ts_us") > t1 && col("commit_ts_us") <= t2))
      table.commit(log.where(col("commit_ts_us") > t2))
      drainToMemory(graft.sources.TableCdfSource
        .stream(s, path, log.schema, maxVersionsPerTrigger = 1))
        .groupBy(col("_commit_version").as("version"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count(when(col("_change_type") === "insert", 1))
            .as("n_inserts"),
          sumCents("value").as("sum_value_e2"),
          min(col("seq")).as("min_seq"), max(col("seq")).as("max_seq"))
        .orderBy("version", "event_type")
    }),

    // A73 STREAMING CDF over MERGE versions — the piece that closes
    // A77's standing-deployment loop (upsert table → streaming
    // materializer; VERDICT r16's top ask): three bucketed merges
    // land, then the stream drains them one version per trigger. v1
    // (merge from empty — a file-set superset) serves as plain
    // inserts; v2/v3 serve the SAME file-pruned keyed diff the batch
    // changes() computes, decomposed ONE PARTITION PER TOUCHED BUCKET
    // (reader state = one bucket of one version; carried-verbatim
    // files are never planned — SinksSpec census). Oracle: the batch
    // CDF SQL with the v1 insert leg unioned in.
    "cdc_stream_table_cdf_merge" -> ((s, dir) => {
      val path = clearedScratch(dir, "streamtablecdfmerge")
      val log = changelog(s, dir).select(col("key"), col("commit_ts_us"),
        col("seq"), col("op"), col("event_type"), col("value"))
      val t1 = 1704844800000000L
      val t2 = 1705708800000000L
      val table = GraftSink.VersionedTable(path)
      Seq(
        log.where(col("commit_ts_us") <= t1),
        log.where(col("commit_ts_us") > t1 && col("commit_ts_us") <= t2),
        log.where(col("commit_ts_us") > t2)
      ).foreach(slice => table.mergeBucketed(slice, Seq("key"),
        Seq("commit_ts_us", "seq"), numBuckets = 16))
      drainToMemory(graft.sources.TableCdfSource
        .stream(s, path, table.read(s).schema,
          maxVersionsPerTrigger = 1, keyCols = Seq("key")))
        .select(col("key").as("user_id"), col("_change_type"),
          col("seq"), col("event_type"), col("value"),
          col("commit_ts_us"), col("_commit_version"))
        .orderBy("_commit_version", "user_id")
    }),

    // A73 × A76 STREAMING CDF over DELETION-VECTOR versions: the
    // bucketed snapshot lands, a predicate erasure publishes a DV
    // version (zero files moved), and the stream serves its freshly
    // dead rows as delete events — one partition per fresh slice,
    // each reading back exactly the positions its bucket's vector
    // added. Oracle: the snapshot rows the predicate matched.
    "cdc_stream_table_cdf_dv" -> ((s, dir) => {
      val path = clearedScratch(dir, "streamtablecdfdv")
      val log = changelog(s, dir)
      val table = GraftSink.VersionedTable(path)
      table.mergeBucketed(log, Seq("key"),
        Seq("commit_ts_us", "seq"), numBuckets = 16)
      table.deleteWhere(s, pmod(col("key"), lit(7L)) === 0)
      drainToMemory(graft.sources.TableCdfSource
        .stream(s, path, table.read(s).schema,
          maxVersionsPerTrigger = 1, keyCols = Seq("key")))
        .where(col("_change_type") === "delete")
        .select(col("key").as("user_id"), col("event_type"),
          col("value"), col("commit_ts_us"),
          col("_change_type"), col("_commit_version"))
        .orderBy("user_id")
    }),

    // A84 STREAMING CDF over a RESTORE version (VERDICT r17 ask 4):
    // the bucketed snapshot lands (v1), a predicate erasure publishes
    // a DV version (v2), and restore(1) un-deletes it (v3) — the
    // stream serves v3 as the SAME keyed diff the batch changes()
    // computes, per touched bucket with key-hash chunking on top;
    // buckets whose file lines AND vector slices carried verbatim are
    // provably changeless and never planned (SinksSpec pins that
    // census). The un-deleted rows re-enter tagged insert at the
    // restore version — the loud r17 failure is gone.
    "cdc_stream_table_cdf_restore" -> ((s, dir) => {
      val path = clearedScratch(dir, "streamtablecdfrestore")
      val log = changelog(s, dir)
      val table = GraftSink.VersionedTable(path)
      table.mergeBucketed(log, Seq("key"),
        Seq("commit_ts_us", "seq"), numBuckets = 16)
      table.deleteWhere(s, pmod(col("key"), lit(7L)) === 0)
      table.restore(s, 1L)
      drainToMemory(graft.sources.TableCdfSource
        .stream(s, path, table.read(s).schema,
          maxVersionsPerTrigger = 1, keyCols = Seq("key"),
          startingVersion = 3L))
        .select(col("key").as("user_id"), col("event_type"),
          col("value"), col("commit_ts_us"),
          col("_change_type"), col("_commit_version"))
        .orderBy("user_id")
    }),

    // A78 STREAMING CDF over an OVERWRITE version: batch changes()
    // has always served overwrites as the keyed full diff — the
    // stream failing loudly on them was an r17 inconsistency, closed
    // by the same chunked keyed-diff machinery restore uses (memory
    // ≤ maxChunkRows per reader; rows identical on both sides are
    // provably changeless and emit nothing). v1 = slice 1; v2
    // OVERWRITES with the cumulative ≤t2 content — the stream serves
    // v2 as exactly the slice-2 inserts (keyed by the unique event
    // seq), never re-emitting the carried rows.
    "cdc_stream_table_cdf_overwrite" -> ((s, dir) => {
      val path = clearedScratch(dir, "streamtablecdfoverwrite")
      val log = changelog(s, dir)
      val t1 = 1704844800000000L
      val t2 = 1705708800000000L
      val table = GraftSink.VersionedTable(path)
      table.commit(log.where(col("commit_ts_us") <= t1)) // v1
      table.commit(log.where(col("commit_ts_us") <= t2),
        overwrite = true) // v2: rewritten cumulative content
      drainToMemory(graft.sources.TableCdfSource
        .stream(s, path, table.read(s).schema,
          keyCols = Seq("seq"), startingVersion = 2L))
        .select(col("key").as("user_id"), col("seq"), col("event_type"),
          col("value"), col("commit_ts_us"),
          col("_change_type"), col("_commit_version"))
        .orderBy("seq")
    }),

    // A66 CDF ACROSS SCHEMA EVOLUTION — the feed serves one schema
    // (Delta CDF's contract): v2 ADDS region, v3 DROPS event_type;
    // changes(0,3) serves every frame under the END version's schema
    // — early frames null-fill region, event_type stops projecting —
    // instead of a unionByName AnalysisException at each boundary.
    // The region census per version proves which rows really carried
    // the column (nulls elsewhere are fills, not data).
    "cdc_table_cdf_evolution" -> ((s, dir) => {
      val path = clearedScratch(dir, "tablecdfevolution")
      val log = changelog(s, dir).select(col("key"), col("commit_ts_us"),
        col("seq"), col("event_type"), col("value"))
      val t1 = 1704844800000000L
      val t2 = 1705708800000000L
      val table = GraftSink.VersionedTable(path)
      table.commit(log.where(col("commit_ts_us") <= t1)) // v1
      table.commit(log.where(
          col("commit_ts_us") > t1 && col("commit_ts_us") <= t2)
        .withColumn("region", lit("eu"))) // v2: + region
      table.commit(log.where(col("commit_ts_us") > t2)
        .withColumn("region", lit("apac"))
        .drop("event_type")) // v3: − event_type
      table.changes(s, 0L, 3L)
        .groupBy(col("_commit_version").as("version"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("region")).as("n_region"),
          sumCents("value").as("sum_value_e2"),
          min(col("seq")).as("min_seq"), max(col("seq")).as("max_seq"))
        .orderBy("version")
    }),

    // A76 × A74 STATS-PRUNED predicate erasure (VERDICT r17 ask 2):
    // three ts-clustered commits land, then deleteWhere(ts > t2)
    // routes its position scan through the manifest footer stats —
    // only files whose range can hold a match are planned (the
    // pruned_scan witness: strictly fewer files than the manifest
    // lists; SinksSpec pins the exact census). On a 100 TB time-
    // clustered table a retention erasure scans the expiring slice,
    // not the table. Oracle: the rows below the cutoff.
    "cdc_table_delete_pruned" -> ((s, dir) => {
      val path = clearedScratch(dir, "tabledeletepruned")
      val log = changelog(s, dir)
      val t1 = 1704844800000000L
      val t2 = 1705708800000000L
      val table = GraftSink.VersionedTable(path)
      table.commit(log.where(col("commit_ts_us") <= t1))
      table.commit(log.where(
        col("commit_ts_us") > t1 && col("commit_ts_us") <= t2))
      table.commit(log.where(col("commit_ts_us") > t2))
      val total = table.read(s).inputFiles.length
      table.deleteWhere(s, col("commit_ts_us") > t2)
      val scanned = GraftSink.VersionedTable.lastPredicateScanFiles.get()
      val witness = scanned > 0 && scanned < total
      table.read(s)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sumCents("value").as("sum_value_e2"),
          max(col("commit_ts_us")).as("max_ts_us"))
        .withColumn("pruned_scan", lit(witness))
        .orderBy("event_type")
    }),

    // A80 PIN-AWARE VACUUM (VERDICT r17 ask 5): the coordinator's
    // latest syncpoint pins v2; an aggressive vacuum(retainLast=1)
    // clamps its horizon to the pin — the consistent cross-table
    // reader stays green after the vacuum while versions BELOW the
    // pin are reclaimed (the below_pin_reclaimed witness). Without
    // the clamp the pinned manifest goes dark and readAt throws at
    // read time — the r17 edge.
    "cdc_table_vacuum_pin" -> ((s, dir) => {
      val base = clearedScratch(dir, "tablevacuumpin")
      val log = changelog(s, dir)
      val t1 = 1704844800000000L
      val t2 = 1705708800000000L
      val table = GraftSink.VersionedTable(s"$base/t")
      val coord = s"$base/_syncpoints"
      table.commit(log.where(col("commit_ts_us") <= t1)) // v1
      table.commit(log.where(
        col("commit_ts_us") > t1 && col("commit_ts_us") <= t2)) // v2
      GraftSink.Syncpoint.publish(s, coord, Map("t" -> 2L))
      table.commit(log.where(col("commit_ts_us") > t2)) // v3
      table.vacuum(s, retainLast = 1, Some((coord, "t")))
      val v1Gone =
        try { table.readVersion(s, 1L); false }
        catch { case _: IllegalArgumentException => true }
      GraftSink.Syncpoint.readAt(s, coord, "t", table)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sumCents("value").as("sum_value_e2"),
          max(col("commit_ts_us")).as("max_ts_us"))
        .withColumn("below_pin_reclaimed", lit(v1Gone))
        .orderBy("event_type")
    }),

    // A85 SQL TableCatalog (VERDICT r17 ask 6): the versioned table
    // registers as `graftcat.events` and the whole loop runs in SQL —
    // two commits land via the API, the THIRD slice arrives through
    // `INSERT INTO` (the V1 write fallback onto commit(): one atomic
    // manifest publish, all gates included), the profile SELECTs
    // through the catalog (GraftTableResolveRule substitutes the
    // native readVersion plan — vectorized scan, DV anti-join, column
    // map; zero row-by-row readers), and `VERSION AS OF 1` grades the
    // SQL time-travel surface (the v1_rows witness = slice-1 count).
    "cdc_sql_catalog" -> ((s, dir) => {
      val base = clearedScratch(dir, "sqlcatalog")
      val log = changelog(s, dir)
      val t1 = 1704844800000000L
      val t2 = 1705708800000000L
      val table = GraftSink.VersionedTable(s"$base/events")
      table.commit(log.where(col("commit_ts_us") <= t1)) // v1
      table.commit(log.where(
        col("commit_ts_us") > t1 && col("commit_ts_us") <= t2)) // v2
      s.conf.set("spark.sql.catalog.graftcat",
        "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftcat.root", base)
      log.where(col("commit_ts_us") > t2)
        .createOrReplaceTempView("catalog_slice3")
      s.sql("INSERT INTO graftcat.events SELECT * FROM catalog_slice3")
      val v1Rows = s.sql(
        "SELECT count(*) FROM graftcat.events VERSION AS OF 1")
        .head().getLong(0)
      s.sql("SELECT event_type, value, commit_ts_us FROM graftcat.events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sumCents("value").as("sum_value_e2"),
          max(col("commit_ts_us")).as("max_ts_us"))
        .withColumn("v1_rows", lit(v1Rows))
        .orderBy("event_type")
    }),

    // A66 × A17 streaming BUCKETED-MERGE delivery — the standing-
    // deployment lakehouse loop: the changelog arrives as three
    // ts-ordered streaming flushes and each micro-batch UPSERTS into
    // the versioned table as ONE mergeBucketedBatch commit (work
    // O(|touched buckets|) per flush, exactly-once by batch id; three
    // flushes → exactly three versions, the graded table_version
    // witness). The table must converge to the full-feed snapshot —
    // same oracle as cdc_snapshot, now through the streaming
    // Kafka→lakehouse landing path.
    "cdc_stream_table_merge" -> ((s, dir) => withStreamPartitions(s) {
      val ev = Tables.events(s, dir)
      val inDir = streamSliceDir(s, ev, dir, slices = 3,
        tag = "vtablemerge_in")
      val path = clearedScratch(dir, "streamtablemerge")
      val table = GraftSink.VersionedTable(path)
      drainOnce(CdcStream.deliverVersionedMerge(
        CdcStream.fromParquetDir(s, inDir, ev.schema),
        Changefeed(Seq(TransformPlugin("to-changelog",
          Changelog.fromEvents))),
        table, _,
        keyCols = Seq("key"), orderCols = Seq("commit_ts_us", "seq"),
        numBuckets = 16))
      table.read(s)
        .select(col("key").as("user_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"),
          col("commit_ts_us").as("last_ts_us"))
        .withColumn("table_version", lit(table.currentVersion(s)))
        .orderBy("user_id")
    }),

    // A13 STREAMING leg: gap-based sessionization as a STATEFUL
    // streaming aggregation — Structured Streaming's session_window
    // merges a user's events into gap-bounded sessions ACROSS
    // micro-batches (the ts-ordered slices split sessions mid-flight,
    // so the state-store merge is genuinely exercised). The gap is
    // 30min+1µs because session_window starts a new session at
    // diff ≥ gap while the batch law (A13) starts at diff > gap —
    // the +1µs makes the two laws identical, so the oracle is the
    // SAME SQL as cdc_sessionize: streaming must not change the
    // answer. Complete mode grades the full session set; the
    // watermark-fenced append discipline is exercised by the
    // interval-join queries (A30/A44).
    "cdc_stream_sessionize" -> ((s, dir) => withStreamPartitions(s) {
      val ev = Tables.events(s, dir)
      val inDir = streamSliceDir(s, ev, dir, slices = 3, tag = "sess_in")
      val sessions = drainToMemory(CdcStream.fromParquetDir(s, inDir, ev.schema)
        .groupBy(col("user_id"),
          session_window(col("ts"), "1800000001 microseconds"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("session_start_us"),
          max(col("ts_us")).as("session_end_us"),
          sumCents("value").as("sum_value_e2")), "complete")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("session_start_us"))
      sessions
        .withColumn("session_id", row_number().over(w).cast("long"))
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("session_start_us"), col("session_end_us"),
          col("sum_value_e2"))
        .orderBy("user_id", "session_id")
    }),

    // A21: semi-structured payload extraction — JSON props parsed in the
    // scan projection (codegen'd get_json_object; no UDF)
    "cdc_json_extract" -> ((s, dir) => {
      changelog(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")
    }),

    // A-before-images: update-diff view — each event with its prior
    // payload for the same key (README.md:62,88)
    "cdc_before_image" -> ((s, dir) => {
      Changelog.withBeforeImages(changelog(s, dir), Seq("event_type", "value"))
        .select(col("seq"), col("key").as("user_id"), col("op"),
          col("before.value").as("before_value"),
          col("value").as("after_value"), col("commit_ts_us"))
        .orderBy("seq")
    }),

    // A9: DDL / schema evolution — rename + add-with-default + drop
    // applied over the feed, then snapshot under the evolved schema
    "cdc_schema_evolution" -> ((s, dir) => {
      val evolved = SchemaEvolution.evolve(changelog(s, dir), Seq(
        SchemaEvolution.RenameColumn("value", "amount"),
        SchemaEvolution.AddColumn("region", lit("unassigned")),
        SchemaEvolution.DropColumn("props")))
      Materialize.snapshot(evolved)
        .select(col("key").as("user_id"), col("event_type"),
          col("amount"), col("region"), col("commit_ts_us").as("last_ts_us"))
        .orderBy("user_id")
    }),

    // A9 STREAMING half (A47): mid-stream schema evolution — the DDL
    // arrives as an op='DDL' event INSIDE a LIVE feed (TiCDC's
    // EmitDDLEvent), is compat-gated per micro-batch (A43 classifier,
    // driver-side metadata), recorded in the sink's _ddl_history
    // ledger (restart-safe: the sink owns its schema state), and every
    // subsequent batch conforms WITHOUT restarting the query. The
    // read-back splices mixed-schema segments (mergeSchema +
    // rename-merge). Oracle = the batch A9 SQL — a feed evolved
    // mid-flight must converge to exactly the spliced batch result.
    "cdc_stream_schema_evolution" -> ((s, dir) => withStreamPartitions(s) {
      import s.implicits._
      val log = changelog(s, dir)
      val ddlSeqBase = 8000000000000000000L
      val ddlDf = Seq(
        (-1L, asofTsUs, ddlSeqBase + 1, "DDL", Option.empty[String],
          Option.empty[Double],
          SchemaEvolution.ddlToJson(
            SchemaEvolution.RenameColumn("value", "amount", asofTsUs))),
        (-1L, asofTsUs, ddlSeqBase + 2, "DDL", Option.empty[String],
          Option.empty[Double],
          SchemaEvolution.addColumnJson("region", "unassigned", asofTsUs)),
        (-1L, asofTsUs, ddlSeqBase + 3, "DDL", Option.empty[String],
          Option.empty[Double],
          SchemaEvolution.ddlToJson(
            SchemaEvolution.DropColumn("props", asofTsUs))))
        .toDF("key", "commit_ts_us", "seq", "op", "event_type", "value",
          "props")
      val feed = log.unionByName(ddlDf)
      val inDir = streamSliceDir(s, feed, dir, slices = 3,
        orderCols = Seq(col("commit_ts_us"), col("seq")),
        tag = "evolve_in")
      val sinkDir = freshScratch(dir, "evolve_sink")
      val dlqDir = freshScratch(dir, "evolve_dlq")
      drainOnce(CdcStream.deliverEvolving(
        CdcStream.fromParquetDir(s, inDir, feed.schema),
        sinkDir, dlqDir, _))
      Materialize.snapshot(CdcStream.readEvolved(s, sinkDir))
        .select(col("key").as("user_id"), col("event_type"),
          col("amount"), col("region"), col("commit_ts_us").as("last_ts_us"))
        .orderBy("user_id")
    }),

    // A7+A8: batched idempotent sink round-trip — the changelog goes to
    // disk TWICE through GraftSink.Batched (day-bucketed `__batch` hive
    // partitions, dynamic partition overwrite; the second write is an
    // at-least-once redelivery), is read back, and checksummed with the
    // A25 digest including the batch assignment. The oracle computes
    // the same digest DIRECTLY from the source events, so hash parity
    // proves the sink converged to exactly one correctly-routed copy —
    // the RFC's idempotence contract (README.md:24), checked
    // cross-engine through a real write-read cycle.
    "cdc_sink_roundtrip" -> ((s, dir) => {
      val log = changelog(s, dir)
      val path = roundtripPath(dir, "sink")
      val sink = GraftSink.Batched(
        GraftSink.Files(path), batchDurationUs = 86400000000L)
      sink.write(log)
      sink.write(log) // replay: partitions overwrite, rows don't duplicate
      Consistency.checksum(s.read.parquet(path), col("key"),
          Seq(col("key"), col("seq"), col("op"), col("event_type"),
            (col("value").cast("decimal(18,2)") * 100)
              .cast("decimal(38,0)").cast("long"),
            col("commit_ts_us"), col("props"), col("__batch").cast("long")),
          buckets = 16)
        .orderBy("bucket")
    }),

    // A7/A8 warehouse leg: JDBC sink (README.md:17, 22 — the RFC's
    // MySQL-protocol / Doris batch-write case). The snapshot is
    // delivered into an embedded-Derby warehouse through Spark's
    // distributed JDBC writer in commit-time batches, then the WHOLE
    // delivery is REPLAYED (at-least-once redelivery) — the
    // delete-then-append keyed on __batch must converge instead of
    // duplicating — and the query returns the warehouse table read
    // back over JDBC. Oracle = the batch snapshot SQL: parity proves
    // the sink is exactly-once under replay and type-faithful through
    // the warehouse round trip (BIGINT/DOUBLE/VARCHAR and back).
    "cdc_sink_jdbc" -> ((s, dir) => {
      // Derby keeps a booted database LIVE in the JVM: deleting its
      // files without a shutdown (as a re-run of this query does via
      // freshScratch) corrupts the next boot. Shut it down first; a
      // successful shutdown (08006) and a never-booted db (XJ004)
      // both surface as the expected SQLException.
      val dbPath = roundtripPath(dir, "jdbcsink") + "/derby"
      try java.sql.DriverManager.getConnection(
        s"jdbc:derby:$dbPath;shutdown=true")
      catch { case _: java.sql.SQLException => () }
      val db = freshScratch(dir, "jdbcsink") + "/derby"
      val sink = GraftSink.Jdbc(
        url = s"jdbc:derby:$db;create=true",
        table = "snapshot_sink",
        batchDurationUs = 7L * 86400000000L, // weekly warehouse windows
        tsCol = "last_ts_us")
      val snap = Materialize.snapshot(changelog(s, dir))
        .select(
          col("key").as("user_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"),
          col("commit_ts_us").as("last_ts_us"))
      sink.write(snap)
      sink.write(snap) // replay: batches delete-then-append, converge
      sink.read(s)
        .select(col("user_id").cast("long").as("user_id"),
          col("last_event_type"), col("last_value"),
          col("last_ts_us").cast("long").as("last_ts_us"))
        .orderBy("user_id")
    }),

    // A55: the in-process SCRIPTED plugin form (README.md:39-43 —
    // completing the RFC's plugin-form matrix: in-process script /
    // out-of-process pipe / out-of-process HTTP). The chain stage
    // `script:` compiles ;-separated set/keep/drop statements over the
    // row struct into CATALYST EXPRESSIONS at Prepare time — the whole
    // scripted plugin fuses into one codegen'd plan (zero per-row
    // interpreter, zero exchange), and sandboxing is by construction:
    // whitelisted total functions only, no loops, compile-time
    // byte/statement/depth limits. Oracle states the script in SQL.
    "cdc_script_transform" -> ((s, dir) => {
      ChainConfig.parse(
        "script:keep event_type != 'view' and value > 10; " +
          "set tier = if(value > 500, 'high', 'low'); " +
          "set tag = concat(upper(event_type), '_', tier); " +
          "drop props")
        .run(changelog(s, dir))
        .select(col("seq"), col("key").as("user_id"), col("op"),
          col("event_type"), col("value"), col("tier"), col("tag"),
          col("commit_ts_us"))
        .orderBy("seq")
    }),

    // A54: the GUARDED out-of-process plugin runner, graded
    // cross-engine (README.md:125 — plugin resource sandboxing). The
    // same python3 plugin shape as the A52 HTTP form (drop 'view'
    // events, uppercase event_type via line surgery — never
    // re-serializing JSON, so doubles stay byte-exact) runs through
    // PipedTransform.guarded: the plugin process is OWNED by the
    // executor, fed by a daemon thread, and every [[PipedTransform.Limits]]
    // bound (idle timeout / output amplification / line bytes) is
    // enforced on the read side. Oracle = the transform stated in SQL:
    // parity proves the sandbox machinery is RESULT-INVISIBLE for a
    // well-behaved plugin — the violation paths (kill + loud task
    // failure) stay PipedGuardSpec-pinned, where they belong.
    "cdc_piped_guarded" -> ((s, dir) => {
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "key BIGINT, commit_ts_us BIGINT, seq BIGINT, op STRING, " +
          "event_type STRING, value DOUBLE, props STRING")
      val plugin =
        """import sys, re
          |pat = re.compile(r'"event_type":"([a-z_]+)"')
          |up = lambda m: '"event_type":"%s"' % m.group(1).upper()
          |for line in sys.stdin:
          |    line = line.rstrip("\n")
          |    if not line or '"event_type":"view"' in line:
          |        continue
          |    sys.stdout.write(pat.sub(up, line) + "\n")
          |""".stripMargin
      PipedTransform.guarded(
          Seq("python3", "-u", "-c", plugin), schema,
          limits = PipedTransform.Limits(
            idleTimeoutSec = 120, maxOutputRowsPerInput = 2,
            maxLineBytes = 1 << 20))(
          changelog(s, dir))
        .select(col("key").as("user_id"), col("commit_ts_us"), col("seq"),
          col("op"), col("event_type"), col("value"), col("props"))
        .orderBy("user_id", "commit_ts_us", "seq")
    }),

    // A51: HTTP out-of-process plugin runner (README.md:44-49 — the
    // RFC's RPC/HTTP hook form). The changelog is posted by EVERY
    // EXECUTOR PARTITION as ndjson batches to a plugin service (here a
    // loopback harness endpoint; the spec drives python3 http.server),
    // which filters 'view' events and uppercases event_type; the
    // response lines are re-typed FAILFAST against the declared schema.
    // The result is materialized to scratch before the server tears
    // down, then read back. Oracle states the transform in SQL —
    // parity proves rows survive the executor→plugin→executor loop
    // byte-exactly (doubles, JSON-escaped props) with zero driver
    // involvement in the data path.
    "cdc_http_transform" -> ((s, dir) => {
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "key BIGINT, commit_ts_us BIGINT, seq BIGINT, op STRING, " +
          "event_type STRING, value DOUBLE, props STRING")
      val eventTypeR = "\"event_type\":\"([a-z_]+)\"".r
      val out = withHttpPlugin { line =>
        // inside a JSON string every quote is \-escaped, so the raw
        // pattern `"event_type":"..."` can only match the real field
        if (line.contains("\"event_type\":\"view\"")) None
        else Some(eventTypeR.replaceAllIn(line,
          m => "\"event_type\":\"" + m.group(1).toUpperCase + "\""))
      } { endpoint =>
        val path = roundtripPath(dir, "httpplugin")
        // fanOut: the single-split scan fed ONE task's worth of
        // sequential HTTP round-trips; the service is concurrent
        HttpTransform.transform(endpoint, schema, batchSize = 4096)(
            fanOut(changelog(s, dir)))
          .write.mode(SaveMode.Overwrite).parquet(path)
        path
      }
      s.read.parquet(out)
        .select(col("key").as("user_id"), col("commit_ts_us"), col("seq"),
          col("op"), col("event_type"), col("value"), col("props"))
        .orderBy("user_id", "commit_ts_us", "seq")
    }),

    // A51 source side: partitioned parallel warehouse EXTRACT — the
    // reverse leg of the JDBC sink (initial snapshot load of a
    // changefeed FROM a warehouse). The changelog's purchase slice is
    // loaded into Derby, then read back as 8 RANGE-PARTITIONED JDBC
    // queries (partitionColumn=key → one remote query per executor
    // slice, the distributed-extract contract; bounds don't clip —
    // stragglers land in the edge partitions) with the value>50
    // predicate PUSHED into each remote WHERE, so the warehouse
    // filters before a row crosses the wire. Oracle = the same slice
    // in SQL over events.
    "cdc_source_jdbc" -> ((s, dir) => {
      val dbPath = roundtripPath(dir, "jdbcsrc") + "/derby"
      try java.sql.DriverManager.getConnection(
        s"jdbc:derby:$dbPath;shutdown=true")
      catch { case _: java.sql.SQLException => () }
      val db = freshScratch(dir, "jdbcsrc") + "/derby"
      val url = s"jdbc:derby:$db;create=true"
      val purchases = changelog(s, dir)
        .where(col("event_type") === "purchase")
        .select(col("key"), col("commit_ts_us"), col("seq"),
          col("op"), col("value"))
      purchases.write.mode(SaveMode.Append)
        .jdbc(url, "changelog_src", new java.util.Properties())
      s.read
        .option("partitionColumn", "key")
        .option("numPartitions", 8)
        .option("lowerBound", 0L)
        .option("upperBound", 1000000L)
        .jdbc(url, "changelog_src", new java.util.Properties())
        .where(col("value") > 50)
        .select(col("key").cast("long").as("user_id"),
          col("commit_ts_us").cast("long").as("commit_ts_us"),
          col("seq").cast("long").as("seq"), col("op"), col("value"))
        .orderBy("user_id", "commit_ts_us", "seq")
    }),

    // A17 (+A11 e2e): the STREAMING stateful snapshot, oracle-checked.
    // The events table is re-written as three ts-ordered flush files
    // (the harness stand-in for an upstream that keeps flushing), read
    // back as a file STREAM, run through the changelog chain and the
    // flatMapGroupsWithState per-key state machine to completion
    // (AvailableNow), and the emitted update log is materialized to
    // final per-key state. The oracle is the BATCH snapshot SQL, so
    // hash parity proves stream ≡ batch cross-engine — the convergence
    // contract behind continuous snapshot maintenance (README.md:60-70).
    // The global-window slice prep is harness-only: a real deployment's
    // input already IS a stream.
    "cdc_stream_snapshot" -> ((s, dir) => withStreamPartitions(s) {
      val ev = Tables.events(s, dir)
      val inDir = streamSliceDir(s, ev, dir, slices = 3)
      val stream = CdcStream.fromParquetDir(s, inDir, ev.schema)
      val updates = CdcStream.snapshotUpdates(Changelog.fromEvents(stream))
      Materialize.snapshot(drainToMemory(updates, "update"))
        .select(
          col("key").as("user_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"),
          col("commit_ts_us").as("last_ts_us"))
        .orderBy("user_id")
    }),

    // A30: stream-stream interval join, oracle-checked — purchases and
    // clicks arrive as two file STREAMS (ts-ordered flushes, so nothing
    // is late and watermark eviction never drops a matchable row); each
    // purchase joins every click by the same user in the preceding
    // hour. The oracle is the plain batch interval-join SQL: parity
    // proves the watermark-bounded streaming join emits exactly the
    // batch answer when delivery respects the declared delay — the
    // claim that lets the 100 TB deployment bound join state by time
    // instead of buffering either stream whole.
    "cdc_stream_interval_join" -> ((s, dir) => withStreamPartitions(s) {
      val ev = Tables.events(s, dir)
      val inDir = streamSliceDir(s, ev, dir, slices = 3)
      // ONE file-stream source AND one state machine serve BOTH join
      // sides (r18 shared the source; r19 unifies the join): the
      // dual-sided plan scanned each micro-batch twice, shuffled
      // twice, and committed four state stores per partition per
      // trigger. The tagged-union form scans/shuffles once and
      // commits ONE store — equivalence proof and state bound in
      // CdcStream.intervalJoinTagged's doc + CdcStreamSpec; output
      // parity is this query's batch-SQL oracle.
      val feed = CdcStream.fromParquetDir(s, inDir, ev.schema)
      val joined = CdcStream.intervalJoinTagged(
        feed, delay = "1 hour", window = "1 hour", emitUnmatched = false)
      drainToMemory(joined).orderBy("user_id", "purchase_seq", "click_seq")
    }),

    // A44: stream-stream LEFT-OUTER interval join — the incremental
    // "unattributed conversions" feed: attributed purchases emit on
    // match, unattributed ones emit as NULL-click rows via the
    // watermark-driven state TIMEOUT (the semantics a batch LEFT JOIN
    // computes offline, produced with the same O(interval) state as
    // A30). Timeout rows only emit once event time advances past their
    // horizon, so the bounded drain appends a SENTINEL flush (user -1,
    // ts beyond max + delay + window, one row per side so BOTH
    // watermarks move — production feeds advance naturally and need no
    // sentinel). Oracle = the plain LEFT JOIN; parity proves timeout
    // emission loses nothing and invents nothing (sentinels excluded
    // on both sides).
    "cdc_stream_interval_join_outer" -> ((s, dir) => withStreamPartitions(s) {
      val ev = Tables.events(s, dir)
      val maxTs = ev.agg(max(col("ts_us"))).head.getLong(0)
      // one purchase + one click per sentinel flush, so BOTH side
      // watermarks advance past every real row's match horizon
      def sentinelPair(i: Int, ts: Long) = ev.limit(1)
        .crossJoin(s.range(2).select(col("id").as("__i")))
        .withColumn("event_id", lit(-(2L * i + 1)) - col("__i"))
        .withColumn("user_id", lit(-1L))
        .withColumn("ts_us", lit(ts))
        .withColumn("ts", timestamp_micros(lit(ts)))
        .withColumn("event_type",
          when(col("__i") === 0, "purchase").otherwise("click"))
        .drop("__i")
      val inDir = streamSliceDir(s, ev, dir,
        slices = 3, tag = "stream_in_outer")
      // TWO sentinel flushes as separate micro-batches: the first moves
      // the watermark past every real purchase's horizon, the second
      // gives the engine a batch that RUNS under that watermark (state
      // timeout fires during batch execution; AvailableNow schedules no
      // trailing no-data batch — observed: the tail purchases of the
      // final data flush stay buffered without it)
      FlushFeed.append(sentinelPair(100, maxTs + 4L * 3600000000L), inDir, 100)
      FlushFeed.append(sentinelPair(101, maxTs + 8L * 3600000000L), inDir, 101)
      // ONE shared source and one tagged-union state machine for both
      // sides (see cdc_stream_interval_join): unmatched purchases emit
      // their null-click row at eviction, driven by the event-time
      // timeout — the same watermark-passes-the-horizon condition as
      // the dual-sided join's timeout emission, so the sentinel-drain
      // mechanics below are unchanged.
      // NO sentinel filter inside the streaming plan: a user_id
      // predicate doesn't reference the watermark column, so Catalyst
      // pushes it BELOW the EventTimeWatermark node — the sentinels
      // would be dropped at the scan and never advance the watermark
      // (observed: the tail purchases stay buffered forever). They are
      // excluded after the sink instead.
      val feed = CdcStream.fromParquetDir(s, inDir, ev.schema)
      val joined = CdcStream.intervalJoinTagged(
        feed, delay = "1 hour", window = "1 hour", emitUnmatched = true)
      drainToMemory(joined).where(col("user_id") >= 0)
        .orderBy("user_id", "purchase_seq", "click_seq")
    }),

    // A29: dead-letter quarantine, oracle-checked — one of the three
    // flushes is poison (it contains the globally-minimal event_id, a
    // pure function of the data); the DLQ wrapper must quarantine
    // exactly that batch and deliver the other two. The oracle
    // re-derives the slice assignment in SQL (same rank/thirds formula
    // as the slicer), finds the slice holding min(event_id), and
    // partitions the events accordingly — so parity proves the failure
    // path loses nothing and the healthy path delivers everything,
    // cross-engine, through a real crash-and-continue cycle.
    "cdc_dlq_quarantine" -> ((s, dir) => withStreamPartitions(s) {
      val ev = Tables.events(s, dir)
      val inDir = streamSliceDir(s, ev, dir, slices = 3)
      val poisonId = ev.agg(min("event_id")).head().getLong(0)
      val chain = Changefeed(Seq(
        TransformPlugin("to-changelog", Changelog.fromEvents),
        TransformPlugin("poison-detector", df => {
          if (df.where(col("seq") === poisonId).limit(1).count() > 0)
            sys.error(s"poison event $poisonId")
          df
        })))
      val outDir = freshScratch(dir, "dlq_out")
      val dlqDir = freshScratch(dir, "dlq_q")
      drainOnce(CdcStream.deliverWithDlq(
        CdcStream.fromParquetDir(s, inDir, ev.schema), chain,
        GraftSink.Files(outDir, saveMode = SaveMode.Append),
        name => GraftSink.Files(s"$dlqDir/$name"), _))
      val delivered = s.read.parquet(outDir)
        .select(lit("delivered").as("disposition"), col("seq").as("id"))
      val quarantined = s.read.option("mergeSchema", "true")
        .parquet(s"$dlqDir/*")
        .select(lit("quarantined").as("disposition"),
          col("event_id").as("id"))
      delivered.unionAll(quarantined).groupBy("disposition")
        .agg(count(lit(1)).as("n_events"), sum(col("id")).as("sum_ids"))
        .orderBy("disposition")
    }),

    // A67 streaming leg: poison-BATCH requeue. The A29 scenario runs
    // first (the flush holding the globally-minimal event_id poisons
    // its chain and quarantines RAW), then the operator's fix ships —
    // the chain without the poison — and DlqReplay.requeue drains the
    // quarantine through it into the SAME sink. Graded: the final sink
    // content is the never-poisoned changelog, each row flagged with
    // whether it traveled the requeue path (derived by joining the
    // sink back to the quarantine ledger); the oracle re-derives the
    // poisoned slice from the same rank-thirds + min-event_id rule as
    // the A29 oracle.
    "cdc_dlq_requeue" -> ((s, dir) => withStreamPartitions(s) {
      val ev = Tables.events(s, dir)
      val inDir = streamSliceDir(s, ev, dir, slices = 3, tag = "requeue_in")
      val poisonId = ev.agg(min("event_id")).head().getLong(0)
      val chain = Changefeed(Seq(
        TransformPlugin("to-changelog", Changelog.fromEvents),
        TransformPlugin("poison-detector", df => {
          if (df.where(col("seq") === poisonId).limit(1).count() > 0)
            sys.error(s"poison event $poisonId")
          df
        })))
      val outDir = freshScratch(dir, "requeue_out")
      val dlqDir = freshScratch(dir, "requeue_q")
      drainOnce(CdcStream.deliverWithDlq(
        CdcStream.fromParquetDir(s, inDir, ev.schema), chain,
        GraftSink.Files(outDir, saveMode = SaveMode.Append),
        name => GraftSink.Files(s"$dlqDir/$name"), _))
      // the fix: same chain minus the poison; requeue into the sink
      DlqReplay.requeue(s, s"$dlqDir/*",
        Changefeed(Seq(TransformPlugin("to-changelog",
          Changelog.fromEvents))),
        GraftSink.Files(outDir, saveMode = SaveMode.Append))
      val quarantinedIds = s.read.option("mergeSchema", "true")
        .parquet(s"$dlqDir/*").select(col("event_id").as("__dlq_id"))
      s.read.parquet(outDir)
        .join(quarantinedIds, col("seq") === col("__dlq_id"), "left")
        .select(col("seq"), col("key").as("user_id"), col("op"),
          col("commit_ts_us"), col("event_type"), col("value"),
          col("__dlq_id").isNotNull.as("requeued"))
        .orderBy("seq")
    }),

    // A22: 2PC rollout, oracle-checked end-to-end — four ts-ordered
    // flushes; the feed drains 0-1 under chain v1 (redact mask), then
    // Prepare→Pause→Commit swaps in v2 (sha256 mask) over the SAME
    // checkpoint, and 2-3 (including the flush that landed mid-upgrade)
    // drain under v2. The oracle re-derives the version boundary in SQL
    // (rank halves) and applies each version's mask to its half, so
    // hash parity proves exactly-once delivery across the upgrade AND
    // that every row was transformed by precisely the version active
    // when it flowed — the RFC's no-recompilation upgrade contract.
    "cdc_rollout_upgrade" -> ((s, dir) => withStreamPartitions(s) {
      import graft.streaming.{ChainRollout, VersionedChain}
      val ev = Tables.events(s, dir)
      // the four quarter flushes, staged once and released between
      // the rollout phases as an upstream keeps flushing
      val feed = FlushFeed.stage(ev, freshScratch(dir, "roll_in"), slices = 4,
        Seq(col("ts_us"), col("event_id")))
      val outDir = freshScratch(dir, "roll_out")
      val v1 = VersionedChain(1, Changefeed(Seq(
        TransformPlugin("to-changelog", Changelog.fromEvents),
        MaskPlugin(Seq("props"), Mask.RedactKeepLast(2)))))
      val v2 = VersionedChain(2, Changefeed(Seq(
        TransformPlugin("to-changelog", Changelog.fromEvents),
        MaskPlugin(Seq("props"), Mask.Sha256))))
      drainOnce { ckpt =>
        val roll = new ChainRollout(s, feed.dir, ev.schema,
          GraftSink.Files(outDir, saveMode = SaveMode.Append), ckpt, v1)
        feed.release(0); feed.release(1); roll.start(); roll.drain()
        roll.prepare(v2); feed.release(2)
        roll.pause(); roll.commit()
        feed.release(3); roll.start()
      }
      s.read.parquet(outDir)
        .select(col("key"), col("seq"), col("op"), col("event_type"),
          col("value"), col("commit_ts_us"), col("props"),
          col("__chain_version").cast("long").as("chain_version"))
        .orderBy("key", "seq")
    }),

    // C14: changelog source round-trip — the changelog is serialized to
    // JSON, CSV, and ORC (the RFC's "any serialization" arrival formats;
    // ORC is the columnar warehouse-export case — schema-carrying and
    // compressed, vs the text formats' quoting/parsing hazards), read
    // back through GraftSource.changelog with the canonical EXPLICIT
    // schema, and checksummed per format. The oracle is the same digest
    // straight from the source events cross-joined with the format list,
    // so parity proves every format round-trips every column —
    // quoted JSON payloads, doubles, epoch-µs longs — bit-exactly into
    // the canonical change-event shape.
    "cdc_source_roundtrip" -> ((s, dir) => {
      val log = changelog(s, dir)
      val digests = Seq("json", "csv", "orc").map { fmt =>
        val path = roundtripPath(dir, s"src_$fmt")
        GraftSink.Files(path, format = fmt).write(log)
        val back = GraftSource.changelog(s, path, log.schema, fmt)
        Consistency.checksum(back, col("key"),
            Seq(col("key"), col("seq"), col("op"), col("event_type"),
              (col("value").cast("decimal(18,2)") * 100)
                .cast("decimal(38,0)").cast("long"),
              col("commit_ts_us"), col("props")),
            buckets = 16)
          .withColumn("format", lit(fmt))
      }
      digests.reduce(_ unionAll _)
        .select(col("format"), col("bucket"), col("n_rows"), col("checksum"))
        .orderBy("format", "bucket")
    }))

  /** Deterministic per-SF scratch dir for the round-trip sinks (same
    * input -> same path, so reruns exercise the overwrite path). */
  private def roundtripPath(dir: String, tag: String): String =
    sys.props("java.io.tmpdir") + "/graft_rt_" + tag + "_" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Scale-adaptive admission for the AvailableNow topic drains: a
    * CONSTANT maxOffsetsPerTrigger makes the trigger count O(|log|) as
    * the feed grows (8192 was already 13 triggers at sf0.1, and every
    * trigger pays the full micro-batch fixed cost — planning, offset
    * and commit log writes, sink commits). A deployment sizes
    * admission to per-trigger THROUGHPUT, i.e. a bounded trigger count
    * for a bounded backlog (guide §2 — derive from input size, don't
    * pin a constant). The historical constant stays as the FLOOR, so
    * at the correctness SFs (≤10k rows) the drain schedule is
    * byte-identical to before and the multi-trigger admission path
    * stays exercised (~3 triggers at every larger SF). */
  private def offsetsPerTrigger(totalRows: Long, floor: Long): Long =
    math.max(floor, (totalRows + 2) / 3)

  /** Row count of the events feed from parquet FOOTER metadata — the
    * "end offsets" a deployment sizes admission from (VERDICT r18 ask
    * #6): `Tables.events(s, dir).count()` is a scan-shaped Spark job
    * (one per query start; at 100 TB a pass over the feed's row-group
    * metadata across the cluster), while the footer record count is a
    * driver-side metadata read of the same number — identical to
    * count() by construction (no filter, footer row counts are exact). */
  private[graft] def eventsRowCount(s: SparkSession, dir: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = s.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val fs = p.getFileSystem(conf)
    // recursive: a hive-partitioned feed nests its files in key=value
    // dirs; names Spark's reader skips (`_*`, `.*`) are skipped here too
    val it = fs.listFiles(p, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter { st =>
        val n = st.getPath.getName
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }.toSeq
    files.map { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Fan a scan-local, expression-heavy pipeline out over the
    * session's cores when the upstream scan planned fewer splits: the
    * harness SFs are single small parquet files, so Spark's split math
    * plans ONE task and a JSON-codec projection runs serially on an
    * N-core box (guide §2.5 — "input skew: one huge unsplittable
    * file … repartition immediately after the read"). GATED on the
    * planned split count: a source that already carries ≥cores splits
    * (any deployment-scale wire) passes through untouched — the
    * exchange exists exactly when the input is smaller than one split
    * per core, so nothing is added at 100 TB. */
  private[queries] def fanOut(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= cores) df else df.repartition(cores)
  }

  /** Run `body` with shuffle (= state-store) partitions sized to the
    * harness's tiny local streams, restoring the session setting after.
    * Stateful streaming cost here is per-batch state-store COMMITS
    * (partitions × stores × micro-batches), so 32 partitions over a
    * 100k-row feed is pure checkpoint-I/O overhead; a real deployment
    * sizes this to executor count × throughput, which is exactly what
    * this knob expresses. */
  private[queries] def withStreamPartitions[T](s: SparkSession, n: Int = 8)
                                              (body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Drain each stream AvailableNow into its own uniquely named memory
    * table and return the tables, in input order. All streams start
    * before any is awaited, so independent drains overlap. No
    * checkpointLocation: Spark gives a memory sink a temp checkpoint
    * and deletes it once the query stops cleanly. */
  private[queries] def drainToMemory(streams: Seq[Dataset[_]],
                                     outputMode: String): Seq[DataFrame] = {
    val started = streams.map(_.writeStream.format("memory")
      .queryName("drain_" + java.util.UUID.randomUUID.toString.replace("-", ""))
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start())
    started.foreach(_.awaitTermination())
    started.map(q => q.sparkSession.table(q.name))
  }

  private[queries] def drainToMemory(stream: Dataset[_],
                                     outputMode: String = "append"): DataFrame =
    drainToMemory(Seq(stream), outputMode).head

  /** Run the drain(s) `start` launches on a fresh temp checkpoint and
    * await the query it returns. The checkpoint is deleted only when the
    * query ended without an exception (the rule Spark applies to its own
    * temp checkpoints), so a failed drain keeps its state for diagnosis. */
  private[graft] def drainOnce(start: String => StreamingQuery): StreamingQuery = {
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt")
    val q = start(ckpt.toString)
    q.awaitTermination()
    deleteTree(ckpt)
    q
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))

  /** Harness stand-in for an out-of-process HTTP plugin service (the
    * production form is any network endpoint speaking ndjson — the
    * spec drives a python3 http.server for the language-free claim):
    * an in-JVM loopback server applying `handler` per line, torn down
    * after `body` materializes its result. Port 0 = OS-assigned. */
  private def withHttpPlugin[T](handler: String => Option[String])
                               (body: String => T): T = {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    server.createContext("/transform", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val in = new String(ex.getRequestBody.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        val out = in.linesIterator.filter(_.nonEmpty)
          .flatMap(handler).mkString("\n")
        val bytes = out.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, if (bytes.isEmpty) -1L else bytes.length.toLong)
        if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.setExecutor(pool)
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/transform")
    finally { server.stop(0); pool.shutdown() }
  }

  /** [[roundtripPath]] recursively deleted, NOT re-created — for sinks
    * that write with `ErrorIfExists` or build their own layout. */
  private def clearedScratch(dir: String, tag: String): String = {
    val out = roundtripPath(dir, tag)
    deleteTree(java.nio.file.Paths.get(out))
    out
  }

  /** [[clearedScratch]] re-created empty — for append-mode sinks that
    * must start empty every run. */
  private[graft] def freshScratch(dir: String, tag: String): String = {
    val out = clearedScratch(dir, tag)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    out
  }

  /** The harness's upstream: a dir of parquet flushes that
    * [[CdcStream.fromParquetDir]] replays as ordered micro-batches. This
    * is the one writer of that layout, and it is harness-only (a
    * deployment's upstream writes its own files):
    *  - names: flush `i` is the one file `flush-NNN.parquet` (`%03d`);
    *  - staging: flushes are written under a `.staging*` dir in the
    *    feed, which the file source skips, and renamed in atomically;
    *    the staging dir is deleted when its last flush is released;
    *  - order: the file source delivers in mtime order, so a flush is
    *    stamped max(now, newest flush in the dir + 1 s) before it turns
    *    visible. Release order is arrival order (equal mtimes let a
    *    flush apply out of order: perfbench/BENCHMARK.md).
    * [[FlushFeed.stage]] writes every slice of a frame in one Spark
    * action and releases slice `i` on demand; [[FlushFeed.append]]
    * lands one frame as one flush. */
  private[graft] final class FlushFeed private (val dir: String,
                                                staging: java.nio.file.Path,
                                                slices: Int) {
    private val pending = scala.collection.mutable.SortedSet(0 until slices: _*)

    /** Land slice `i` as `flush-i`; the last release deletes the
      * staging dir. */
    def release(i: Int): Unit = {
      require(pending.remove(i), s"slice $i of $dir is not staged")
      FlushFeed.land(staging.resolve(s"__slice=$i"), dir, i)
      if (pending.isEmpty) deleteTree(staging)
    }

    /** Release every slice still staged, in slice order; returns [[dir]]. */
    def releaseAll(): String = {
      pending.toList.foreach(release)
      dir
    }
  }

  private[graft] object FlushFeed {
    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    import org.apache.spark.sql.expressions.Window

    /** Stage `ev` into the feed `dir` as `slices` flushes in `orderCols`
      * order: slice i holds the ranks (i·total/n, (i+1)·total/n] — the
      * boundaries the oracle SQL re-derives — so a rank's slice is
      * (rank·n − 1) div total. One action: the rank and the frame's row
      * count come from one global window, and one write lays out every
      * slice (a slice with no rows stages an empty file). */
    def stage(ev: DataFrame, dir: String, slices: Int,
              orderCols: Seq[Column]): FlushFeed = {
      val staging = Files.createTempDirectory(Paths.get(dir), ".staging")
      val byRank = Window.orderBy(orderCols: _*)
      val whole = byRank.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      ev.select(col("*"), row_number().over(byRank).as("__rn"),
          count(lit(1)).over(whole).as("__total"))
        .withColumn("__slice",
          expr(s"(CAST(__rn AS BIGINT) * $slices - 1) div __total"))
        .drop("__rn", "__total")
        .write.partitionBy("__slice").mode(SaveMode.Overwrite)
        .parquet(staging.toString)
      (0 until slices).map(i => staging.resolve(s"__slice=$i"))
        .filterNot(Files.exists(_))
        .foreach(d => ev.limit(0).coalesce(1).write.parquet(d.toString))
      new FlushFeed(dir, staging, slices)
    }

    /** Land `df` in the feed `dir` as the one flush `flush-index`. */
    def append(df: DataFrame, dir: String, index: Int): Unit = {
      val staging = Files.createTempDirectory(Paths.get(dir), ".staging")
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(staging.toString)
      land(staging, dir, index)
      deleteTree(staging)
    }

    /** The visible parquet files directly under `d`. */
    private def parquetFiles(d: Path): Seq[Path] = {
      val listing = Files.list(d)
      try listing.toArray.toSeq.map(_.asInstanceOf[Path]).filter { p =>
        val name = p.getFileName.toString
        name.endsWith(".parquet") && !name.startsWith(".")
      } finally listing.close()
    }

    /** Stamp the part file under `staged` with the next arrival time,
      * then rename it into the feed as `flush-index`. */
    private def land(staged: Path, dir: String, index: Int): Unit = {
      val Seq(part) = parquetFiles(staged) // a flush is exactly one file
      val newest = parquetFiles(Paths.get(dir))
        .map(Files.getLastModifiedTime(_).toMillis).foldLeft(0L)(math.max)
      Files.setLastModifiedTime(part, java.nio.file.attribute.FileTime
        .fromMillis(math.max(System.currentTimeMillis(), newest + 1000L)))
      Files.move(part, Paths.get(dir, f"flush-$index%03d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Re-write `ev` as `slices` [[FlushFeed]] flushes in `orderCols`
    * order (file-stream arrival order == that order) into a
    * deterministic dir cleaned on every call. */
  private[graft] def streamSliceDir(s: SparkSession, ev: DataFrame,
                             dir: String, slices: Int,
                             orderCols: Seq[Column] = Seq(col("ts_us"),
                               col("event_id")),
                             tag: String = "stream_in"): String =
    FlushFeed.stage(ev, freshScratch(dir, tag), slices, orderCols).releaseAll()

  val oracles: Map[String, String] = Map(

    "cdc_changelog" -> (logCte +
      """
        |SELECT seq, key AS user_id, op, commit_ts_us, event_type, value, props
        |FROM log ORDER BY seq""".stripMargin),

    "cdc_gen_source" ->
      s"""WITH g AS (
         |${graft.sources.GenSource.oracleSql(20000L, 257L)})
         |SELECT event_type, count(*) AS n,
         |       count(DISTINCT user_id) AS n_users,
         |       CAST(sum(value_e2) AS BIGINT) AS sum_value_e2,
         |       min(ts_us) AS min_ts_us, max(ts_us) AS max_ts_us
         |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    "cdc_gen_snapshot" ->
      s"""WITH g AS (
         |${graft.sources.GenSource.oracleSql(genSnapshotRows, 1000L)}),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY user_id
         |            ORDER BY ts_us DESC, event_id DESC) AS rn
         |  FROM g)
         |SELECT user_id, event_type AS last_event_type,
         |       value_e2 AS last_value_e2, ts_us AS last_ts_us
         |FROM ranked WHERE rn = 1
         |ORDER BY user_id""".stripMargin,

    // same A41 target transition, DESCRIBE-derived source schema
    "cdc_schema_compat" ->
      (SchemaEvolution.compatReportSql("events",
        """SELECT column_name,
          |    CASE WHEN column_name = 'value' THEN 'DECIMAL(18,2)'
          |         WHEN column_name = 'user_id' THEN 'HUGEINT'
          |         ELSE column_type END AS column_type
          |  FROM src WHERE column_name <> 'props'
          |  UNION ALL SELECT 'masked', 'VARCHAR'""".stripMargin) +
        "\nORDER BY change, col_name"),

    "cdc_ddl_plan" ->
      """WITH src AS (
        |  SELECT column_name, column_type
        |  FROM (DESCRIBE SELECT * FROM events)),
        |tgt AS (
        |  SELECT column_name,
        |    CASE WHEN column_name = 'value' THEN 'DECIMAL(18,2)'
        |         ELSE column_type END AS column_type
        |  FROM src WHERE column_name <> 'props'
        |  UNION ALL SELECT 'masked', 'VARCHAR'),
        |adds AS (
        |  SELECT 'ADD' AS op, t.column_name AS col_name,
        |         t.column_type AS col_type,
        |         'ALTER TABLE events ADD COLUMN ' || t.column_name || ' '
        |           || t.column_type AS ddl
        |  FROM tgt t LEFT JOIN src s USING (column_name)
        |  WHERE s.column_name IS NULL),
        |rts AS (
        |  SELECT 'ALTER TYPE', t.column_name, t.column_type,
        |         'ALTER TABLE events ALTER COLUMN ' || t.column_name
        |           || ' TYPE ' || t.column_type
        |  FROM tgt t JOIN src s USING (column_name)
        |  WHERE t.column_type <> s.column_type),
        |drps AS (
        |  SELECT 'DROP', s.column_name, s.column_type,
        |         'ALTER TABLE events DROP COLUMN ' || s.column_name
        |  FROM src s LEFT JOIN tgt t USING (column_name)
        |  WHERE t.column_name IS NULL),
        |u AS (SELECT * FROM adds UNION ALL SELECT * FROM rts
        |      UNION ALL SELECT * FROM drps)
        |SELECT row_number() OVER (ORDER BY op, col_name) AS ord,
        |       op, col_name, col_type, ddl
        |FROM u ORDER BY ord""".stripMargin,

    "cdc_heartbeat" -> (logCte +
      """,
        |g AS (
        |  SELECT key % 32 AS pipeline,
        |    (commit_ts_us - lag(commit_ts_us) OVER (PARTITION BY key % 32
        |      ORDER BY commit_ts_us, seq)) // 1000000 AS gap_s
        |  FROM log),
        |p AS (
        |  SELECT pipeline, count(*) AS n_gaps,
        |         max(gap_s) AS max_gap_s,
        |         CAST(sum(CASE WHEN gap_s > 3600 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_gaps_over_1h
        |  FROM g WHERE gap_s IS NOT NULL GROUP BY 1)
        |SELECT pipeline, n_gaps, max_gap_s, n_gaps_over_1h,
        |  (CASE WHEN max_gap_s > 86400 THEN 1 ELSE 0 END)::BIGINT AS stalled
        |FROM p ORDER BY pipeline""".stripMargin),

    "cdc_syncpoint" -> (logCte +
      s""",
        |per AS (
        |  SELECT key % 2 AS side, key % 32 AS pipeline,
        |         max(commit_ts_us) AS m
        |  FROM log GROUP BY 1, 2),
        |res AS (SELECT side, min(m) AS r FROM per GROUP BY 1),
        |sync AS (SELECT min(r) AS sync_ts_us FROM res),
        |upto AS (
        |  SELECT l.* FROM log l, sync
        |  WHERE l.commit_ts_us <= sync.sync_ts_us),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM upto),
        |live AS (SELECT * FROM ranked WHERE rn = 1 AND op <> 'D')
        |SELECT CASE WHEN key % 2 = 0 THEN 'events_even'
        |            ELSE 'events_odd' END AS __table,
        |       (SELECT sync_ts_us FROM sync) AS sync_ts_us,
        |       count(*) AS n_keys,
        |       $sumCentsSql AS sum_value_e2,
        |       max(commit_ts_us) AS max_ts_us
        |FROM live GROUP BY 1 ORDER BY 1""".stripMargin),

    "cdc_forget" -> (logCte +
      """,
        |fk AS (SELECT DISTINCT key FROM log WHERE key % 23 = 0),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM log),
        |purged AS (
        |  SELECT l.* FROM log l WHERE l.key NOT IN (SELECT key FROM fk)),
        |rem AS (
        |  SELECT key, count(*) AS n_rem
        |  FROM purged JOIN fk USING (key) GROUP BY key),
        |a AS (
        |  SELECT l.key, count(*) AS n_events_purged,
        |         min(commit_ts_us) AS first_ts_us,
        |         max(commit_ts_us) AS last_ts_us
        |  FROM log l JOIN fk USING (key) GROUP BY l.key),
        |snap AS (
        |  SELECT key, (CASE WHEN op <> 'D' THEN 1 ELSE 0 END)::BIGINT
        |         AS in_snapshot
        |  FROM ranked WHERE rn = 1)
        |SELECT a.key AS user_id, a.n_events_purged, a.first_ts_us,
        |       a.last_ts_us, snap.in_snapshot,
        |       CAST(coalesce(rem.n_rem, 0) AS BIGINT) AS n_remaining_traces
        |FROM a JOIN snap USING (key) LEFT JOIN rem USING (key)
        |ORDER BY user_id""".stripMargin),

    "cdc_multi_resolved" -> (logCte +
      """,
        |per AS (
        |  SELECT 'events_even' AS __table, key % 32 AS pipeline,
        |         max(commit_ts_us) AS m
        |  FROM log WHERE key % 2 = 0 GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'events_odd', key % 32, max(commit_ts_us)
        |  FROM log WHERE key % 2 = 1 GROUP BY 1, 2)
        |SELECT __table, min(m) AS resolved_ts_us
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin),

    "cdc_chain_config" -> (logCte +
      """
        |SELECT seq, sha256(CAST(key AS VARCHAR)) AS user_hash, event_type,
        |       value,
        |       CASE WHEN length(props) <= 2 THEN '****'
        |            ELSE '****' || substr(props, -2, 2) END AS props_masked,
        |       key % 8 AS __partition
        |FROM log
        |WHERE event_type IN ('purchase','click') AND value > 50
        |ORDER BY seq""".stripMargin),

    "cdc_snapshot" -> snapshotOracle,

    // Stream ≡ batch: the streaming state machine must converge to
    // exactly the batch snapshot, so they share one oracle.
    "cdc_stream_snapshot" -> snapshotOracle,

    // Wire ≡ batch: a snapshot rebuilt purely from parsed canal-json
    // envelopes must equal the batch snapshot — same oracle. The
    // _stream form proves the same through the A46 streaming consumer.
    "cdc_topic_envelope" -> snapshotOracle,
    "cdc_topic_envelope_stream" -> snapshotOracle,

    // before-images through the wire ≡ the A15 lag window
    "cdc_envelope_before_image" -> (logCte +
      """
        |SELECT seq, key AS user_id, op,
        |       CASE WHEN op <> 'I' THEN lag(value) OVER (
        |         PARTITION BY key ORDER BY commit_ts_us, seq) END AS before_value,
        |       value AS after_value, commit_ts_us
        |FROM log ORDER BY seq""".stripMargin),

    // Warehouse ≡ batch: the snapshot delivered twice over JDBC
    // (replayed) and read back must equal the batch snapshot.
    "cdc_sink_jdbc" -> snapshotOracle,

    // the partitioned JDBC extract with its pushed predicate ≡ the
    // same slice stated directly over events
    "cdc_source_jdbc" -> (logCte +
      """
        |SELECT key AS user_id, commit_ts_us, seq, op, value
        |FROM log
        |WHERE event_type = 'purchase' AND value > 50
        |ORDER BY user_id, commit_ts_us, seq""".stripMargin),

    // The broker redelivery policy re-derived in SQL: routing, dense
    // offsets, the planted ack/delivery state, and the in_flight /
    // redeliver / dead_letter classification.
    "cdc_topic_redelivery" -> (logCte +
      """,
        |topic AS (
        |  SELECT key, commit_ts_us,
        |         key % 8 AS p,
        |         row_number() OVER (PARTITION BY key % 8
        |           ORDER BY commit_ts_us, seq, key) - 1 AS o
        |  FROM log),
        |clock AS (SELECT max(commit_ts_us) + 21600000000 AS now_us FROM topic),
        |unacked AS (SELECT * FROM topic WHERE (key + o) % 3 <> 0),
        |s AS (
        |  SELECT p, o, key,
        |         1 + (o % 4) AS nd,
        |         (SELECT now_us FROM clock)
        |           - (commit_ts_us + (o % 5) * 3600000000) AS age_us
        |  FROM unacked)
        |SELECT CAST(p AS BIGINT) AS __partition, CAST(o AS BIGINT) AS __offset,
        |       key AS user_id, CAST(nd AS BIGINT) AS n_deliveries,
        |       CASE WHEN age_us < 28800000000 THEN 'in_flight'
        |            WHEN nd >= 3 THEN 'dead_letter'
        |            ELSE 'redeliver' END AS disposition,
        |       CAST(CASE WHEN age_us >= 28800000000 AND nd < 3
        |                 THEN nd + 1 ELSE nd END AS BIGINT) AS next_deliveries
        |FROM s ORDER BY 1, 2""".stripMargin),

    // The scripted plugin stated in SQL: the compiled script must
    // behave exactly like its relational statement.
    "cdc_script_transform" -> (logCte +
      """
        |SELECT seq, key AS user_id, op, event_type, value,
        |       CASE WHEN value > 500 THEN 'high' ELSE 'low' END AS tier,
        |       upper(event_type) || '_' ||
        |         (CASE WHEN value > 500 THEN 'high' ELSE 'low' END) AS tag,
        |       commit_ts_us
        |FROM log
        |WHERE event_type <> 'view' AND value > 10
        |ORDER BY seq""".stripMargin),

    // The guarded pipe runner's transform stated in SQL — identical
    // contract to the HTTP form: the sandbox must be result-invisible.
    "cdc_piped_guarded" -> (logCte +
      """
        |SELECT key AS user_id, commit_ts_us, seq, op,
        |       upper(event_type) AS event_type, value, props
        |FROM log
        |WHERE event_type <> 'view'
        |ORDER BY user_id, commit_ts_us, seq""".stripMargin),

    // The HTTP plugin's transform stated in SQL: drop views, uppercase
    // event_type, everything else byte-identical through the wire.
    "cdc_http_transform" -> (logCte +
      """
        |SELECT key AS user_id, commit_ts_us, seq, op,
        |       upper(event_type) AS event_type, value, props
        |FROM log
        |WHERE event_type <> 'view'
        |ORDER BY user_id, commit_ts_us, seq""".stripMargin),

    // The poison census re-derived from seq arithmetic alone — the
    // classifier's reason per corruption class, never the codec.
    "cdc_envelope_quarantine" -> (logCte +
      """
        |SELECT CASE seq % 7
        |         WHEN 0 THEN 'malformed_json'
        |         WHEN 1 THEN 'wrong_table'
        |         WHEN 2 THEN 'unknown_type'
        |         WHEN 3 THEN 'ddl_event_in_row_topic'
        |         WHEN 4 THEN 'missing_graft_meta'
        |         ELSE 'clean' END AS reason,
        |       count(*) AS n
        |FROM log GROUP BY 1 ORDER BY 1""".stripMargin),

    // Replay convergence: the union of clean-path and repaired-replayed
    // rows is the never-poisoned changelog; the path flag is pure seq
    // arithmetic (the three repairable poison classes).
    "cdc_dlq_replay" -> (logCte +
      """
        |SELECT key AS user_id, commit_ts_us, seq, op,
        |       event_type, value, props,
        |       seq % 7 IN (1, 2, 3) AS replayed
        |FROM log
        |ORDER BY seq""".stripMargin),

    // Registry resolution: the spliced feed from slice arithmetic —
    // region exists from the v2 boundary on, props is gone everywhere.
    "cdc_schema_registry" -> (logCte +
      """
        |SELECT key AS user_id, commit_ts_us, seq, op, event_type, value,
        |       CASE WHEN commit_ts_us > 1704844800000000
        |            THEN 'r' || (key % 5) ELSE NULL END AS region
        |FROM log
        |ORDER BY seq""".stripMargin),

    // Codec identity: encode → decode is the changelog, column-exact.
    "cdc_envelope_roundtrip" -> (logCte +
      """
        |SELECT key AS user_id, commit_ts_us, seq, op,
        |       event_type, value, props
        |FROM log
        |ORDER BY user_id, commit_ts_us, seq""".stripMargin),

    // The version boundary re-derived in SQL: the changelog is 1:1
    // with events and (commit_ts_us, seq) == (ts, event_id) order, so
    // rank halves reproduce which flushes drained under which chain
    // version; each half gets that version's mask.
    "cdc_rollout_upgrade" -> (logCte +
      """,
        |ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY commit_ts_us, seq) AS rn,
        |         count(*) OVER () AS total
        |  FROM log)
        |SELECT key, seq, op, event_type, value, commit_ts_us,
        |  CASE WHEN rn <= (2 * total) // 4 THEN
        |         CASE WHEN length(props) <= 2 THEN '****'
        |              ELSE '****' || substr(props, -2, 2) END
        |       ELSE sha256(props) END AS props,
        |  CASE WHEN rn <= (2 * total) // 4
        |       THEN CAST(1 AS BIGINT) ELSE CAST(2 AS BIGINT)
        |       END AS chain_version
        |FROM ranked ORDER BY key, seq""".stripMargin),

    // Requeue convergence: the full changelog, the poisoned slice
    // flagged (same rank-thirds + min-event_id rule as A29's oracle).
    "cdc_dlq_requeue" ->
      """WITH ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY ts, event_id) AS rn,
        |         count(*) OVER () AS total
        |  FROM events),
        |sliced AS (
        |  SELECT *, CASE WHEN rn <= total // 3 THEN 0
        |                 WHEN rn <= (2 * total) // 3 THEN 1
        |                 ELSE 2 END AS slice
        |  FROM ranked),
        |pslice AS (SELECT slice FROM sliced ORDER BY event_id LIMIT 1)
        |SELECT event_id AS seq, user_id,
        |       CASE event_type WHEN 'signup' THEN 'I'
        |                       WHEN 'error' THEN 'D' ELSE 'U' END AS op,
        |       epoch_us(ts) AS commit_ts_us, event_type, value,
        |       s.slice = (SELECT slice FROM pslice) AS requeued
        |FROM sliced s
        |ORDER BY seq""".stripMargin,

    // The DLQ split re-derived in SQL: slice thirds by the same
    // rank/floor-division formula as the slicer, quarantine = the
    // slice holding min(event_id), delivered = the rest.
    "cdc_dlq_quarantine" ->
      """WITH ranked AS (
        |  SELECT event_id,
        |         row_number() OVER (ORDER BY ts, event_id) AS rn,
        |         count(*) OVER () AS total
        |  FROM events),
        |sliced AS (
        |  SELECT event_id,
        |         CASE WHEN rn <= total // 3 THEN 0
        |              WHEN rn <= (2 * total) // 3 THEN 1
        |              ELSE 2 END AS slice
        |  FROM ranked),
        |pslice AS (SELECT slice FROM sliced ORDER BY event_id LIMIT 1)
        |SELECT CASE WHEN s.slice = p.slice THEN 'quarantined'
        |            ELSE 'delivered' END AS disposition,
        |       count(*) AS n_events,
        |       CAST(sum(s.event_id) AS BIGINT) AS sum_ids
        |FROM sliced s CROSS JOIN pslice p
        |GROUP BY 1 ORDER BY disposition""".stripMargin,

    // Stream ≡ batch: with in-order arrival the watermarked streaming
    // interval join emits exactly the batch interval join.
    "cdc_stream_interval_join" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS purchase_ts_us,
        |         event_id AS purchase_seq
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id AS c_user, epoch_us(ts) AS click_ts_us,
        |         event_id AS click_seq
        |  FROM events WHERE event_type = 'click')
        |SELECT user_id, purchase_ts_us, purchase_seq,
        |       click_ts_us, click_seq
        |FROM p JOIN c ON user_id = c_user
        |  AND click_ts_us <= purchase_ts_us
        |  AND click_ts_us >= purchase_ts_us - 3600000000
        |ORDER BY user_id, purchase_seq, click_seq""".stripMargin,

    // the batch LEFT JOIN the streaming timeout emission must equal
    "cdc_stream_interval_join_outer" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS purchase_ts_us,
        |         event_id AS purchase_seq
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id AS c_user, epoch_us(ts) AS click_ts_us,
        |         event_id AS click_seq
        |  FROM events WHERE event_type = 'click')
        |SELECT user_id, purchase_ts_us, purchase_seq,
        |       click_ts_us, click_seq
        |FROM p LEFT JOIN c ON user_id = c_user
        |  AND click_ts_us <= purchase_ts_us
        |  AND click_ts_us >= purchase_ts_us - 3600000000
        |ORDER BY user_id, purchase_seq, click_seq""".stripMargin,

    "cdc_ivm_view" -> (logCte +
      """,
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM log)
        |SELECT coalesce(event_type, '__null__') AS event_type,
        |  count(*) AS n_users,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))) AS BIGINT)
        |    AS sum_value_e2
        |FROM ranked WHERE rn = 1 AND op <> 'D'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "cdc_pit_join" -> (logCte +
      """,
        |hist AS (
        |  SELECT key, seq, op, commit_ts_us AS valid_from_us,
        |         lead(commit_ts_us) OVER (PARTITION BY key
        |           ORDER BY commit_ts_us, seq) AS valid_to_us
        |  FROM log),
        |h AS (SELECT * FROM hist WHERE op <> 'D'),
        |p AS (
        |  SELECT key AS user_id, commit_ts_us AS purchase_ts_us,
        |         seq AS purchase_seq
        |  FROM log WHERE event_type = 'purchase')
        |SELECT purchase_seq, user_id, purchase_ts_us,
        |       h.seq AS state_seq, h.valid_from_us
        |FROM p LEFT JOIN h
        |  ON h.key = p.user_id
        |  AND h.valid_from_us <= p.purchase_ts_us
        |  AND (h.valid_to_us IS NULL OR p.purchase_ts_us < h.valid_to_us)
        |ORDER BY purchase_seq""".stripMargin),

    "cdc_order_check" -> (logCte +
      """,
        |p AS (
        |  SELECT key, seq,
        |         CASE WHEN seq % 97 = 0 THEN commit_ts_us - 3600000000
        |              ELSE commit_ts_us END AS cts
        |  FROM log),
        |l AS (
        |  SELECT key, cts,
        |         lag(cts) OVER (PARTITION BY key ORDER BY seq) AS prev
        |  FROM p)
        |SELECT key AS user_id, count(*) AS n_events,
        |       count(*) FILTER (WHERE cts < prev) AS n_regressions
        |FROM l GROUP BY 1
        |HAVING count(*) FILTER (WHERE cts < prev) > 0
        |ORDER BY 1""".stripMargin),

    "cdc_disorder" -> (logCte +
      """,
        |h AS (
        |  SELECT event_type, commit_ts_us,
        |         max(commit_ts_us) OVER (PARTITION BY key ORDER BY seq
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |  FROM log)
        |SELECT event_type, count(*) AS n_events,
        |       count(*) FILTER (WHERE commit_ts_us < hwm) AS n_late,
        |       coalesce(max(CASE WHEN commit_ts_us < hwm
        |                    THEN hwm - commit_ts_us END), 0) AS max_late_us,
        |       (count(*) FILTER (WHERE commit_ts_us < hwm) * 1000000000)
        |         // count(*) AS late_frac_e9
        |FROM h GROUP BY event_type ORDER BY event_type""".stripMargin),

    "cdc_merge_feeds" -> (logCte +
      """,
        |merged AS (
        |  SELECT * FROM log
        |  UNION ALL SELECT * FROM log WHERE seq % 3 = 0),
        |dd AS (
        |  SELECT DISTINCT key, commit_ts_us, seq, op, event_type, value, props
        |  FROM merged),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM dd)
        |SELECT key AS user_id, event_type AS last_event_type,
        |       value AS last_value, commit_ts_us AS last_ts_us
        |FROM ranked WHERE rn = 1 AND op <> 'D'
        |ORDER BY user_id""".stripMargin),

    // incremental upsert MUST converge to the same state as the full
    // snapshot — same oracle by construction
    "cdc_upsert" -> snapshotOracle,

    "cdc_resolved_ts" -> (logCte +
      """
        |SELECT min(max_ts_us) AS resolved_ts_us FROM (
        |  SELECT key % 32 AS pipeline, max(commit_ts_us) AS max_ts_us
        |  FROM log GROUP BY 1) t""".stripMargin),

    "cdc_snapshot_asof" -> (logCte +
      s""",
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM log WHERE commit_ts_us <= $asofTsUs)
        |SELECT key AS user_id, event_type AS last_event_type,
        |       value AS last_value, commit_ts_us AS last_ts_us
        |FROM ranked WHERE rn = 1 AND op <> 'D'
        |ORDER BY user_id""".stripMargin),

    "cdc_history" -> (logCte +
      """,
        |iv AS (
        |  SELECT key, seq, op, commit_ts_us AS valid_from_us,
        |    lead(commit_ts_us, 1) OVER (
        |      PARTITION BY key ORDER BY commit_ts_us, seq) AS valid_to_us
        |  FROM log)
        |SELECT key AS user_id, seq, op, valid_from_us, valid_to_us
        |FROM iv WHERE op <> 'D'
        |ORDER BY user_id, valid_from_us, seq""".stripMargin),

    "cdc_checksum" -> (logCte +
      s""",
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM log),
        |snap AS (
        |  SELECT key, event_type,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS value_cents,
        |         commit_ts_us
        |  FROM ranked WHERE rn = 1 AND op <> 'D')
        |${Consistency.checksumSql("snap", "key",
             Seq("key", "event_type", "value_cents", "commit_ts_us"), 16)}
        |ORDER BY bucket""".stripMargin),

    "cdc_lag" -> (logCte +
      """,
        |per AS (
        |  SELECT key % 32 AS pipeline, max(commit_ts_us) AS max_ts_us,
        |         count(*) AS n_events
        |  FROM log GROUP BY 1),
        |r AS (SELECT min(max_ts_us) AS resolved_ts_us FROM per)
        |SELECT pipeline, n_events, max_ts_us, resolved_ts_us,
        |       max_ts_us - resolved_ts_us AS lag_us
        |FROM per, r ORDER BY pipeline""".stripMargin),

    "cdc_event_filter" -> (logCte +
      """
        |SELECT seq, key AS user_id, event_type, value, commit_ts_us
        |FROM log
        |WHERE event_type IN ('purchase','click') AND value > 100.0
        |ORDER BY seq""".stripMargin),

    "cdc_mask" -> (logCte +
      """
        |SELECT seq, sha256(CAST(key AS VARCHAR)) AS user_hash,
        |       CASE WHEN length(props) <= 2 THEN '****'
        |            ELSE '****' || substr(props, -2, 2) END AS props_masked,
        |       event_type, value
        |FROM log WHERE event_type = 'purchase'
        |ORDER BY seq""".stripMargin),

    "cdc_route" -> (logCte +
      s"""
        |SELECT key % 16 AS __partition, op,
        |       count(*) AS n_events,
        |       $sumCentsSql AS sum_value_e2
        |FROM log GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),

    "cdc_dedup" -> (logCte +
      """
        |SELECT key, commit_ts_us, seq, op, event_type, value, props
        |FROM log ORDER BY seq""".stripMargin),

    "cdc_tumbling" ->
      s"""SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
        |       count(*) AS n_events,
        |       $sumCentsSql AS sum_value_e2
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "cdc_hopping" ->
      s"""WITH w AS (
        |  SELECT ((epoch_us(ts) // 300000000) - g.k) * 300000000 AS window_start_us,
        |         event_type, value
        |  FROM events, generate_series(0, 2) AS g(k))
        |SELECT window_start_us, event_type,
        |       count(*) AS n_events,
        |       $sumCentsSql AS sum_value_e2
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "cdc_topic" -> (logCte +
      """
        |SELECT key % 8 AS __partition,
        |       CAST(row_number() OVER (
        |         PARTITION BY key % 8
        |         ORDER BY commit_ts_us, seq, key) - 1 AS BIGINT) AS __offset,
        |       seq, key AS user_id, commit_ts_us, event_type
        |FROM log
        |ORDER BY 1, 2""".stripMargin),

    // Idempotent produce: the deduped retried feed is the clean
    // whole-feed assignment, every survivor from attempt 1.
    "cdc_topic_idempotent" -> (logCte +
      """
        |SELECT key % 8 AS __partition,
        |       CAST(row_number() OVER (
        |         PARTITION BY key % 8
        |         ORDER BY commit_ts_us, seq, key) - 1 AS BIGINT) AS __offset,
        |       seq, key AS user_id, commit_ts_us,
        |       CAST(1 AS BIGINT) AS arrival
        |FROM log
        |ORDER BY 1, 2""".stripMargin),

    // Append ≡ full re-assign: the oracle is the whole-feed
    // assignment, same as cdc_topic's.
    "cdc_topic_append" -> (logCte +
      """
        |SELECT key % 8 AS __partition,
        |       CAST(row_number() OVER (
        |         PARTITION BY key % 8
        |         ORDER BY commit_ts_us, seq, key) - 1 AS BIGINT) AS __offset,
        |       seq, key AS user_id, commit_ts_us, event_type
        |FROM log
        |ORDER BY 1, 2""".stripMargin),

    "cdc_topic_compacted" -> (logCte +
      """,
        |t AS (
        |  SELECT key % 8 AS __partition,
        |         CAST(row_number() OVER (PARTITION BY key % 8
        |           ORDER BY commit_ts_us, seq, key) - 1 AS BIGINT)
        |           AS __offset,
        |         key, seq, op, event_type, commit_ts_us
        |  FROM log),
        |latest AS (
        |  SELECT * FROM (
        |    SELECT t.*, row_number() OVER (PARTITION BY __partition, key
        |                                   ORDER BY __offset DESC) AS rn
        |    FROM t) r WHERE rn = 1),
        |cut AS (SELECT max(commit_ts_us) - 43200000000 AS c FROM t)
        |SELECT __partition, __offset, key AS user_id, seq, op,
        |       event_type, commit_ts_us
        |FROM latest, cut
        |WHERE op <> 'D' OR commit_ts_us >= c
        |ORDER BY 1, 2""".stripMargin),

    // A46: a full consumer drain from offset 0 ≡ the producer's
    // assignment (the A23 SQL verbatim)
    "cdc_topic_stream" -> (logCte +
      """
        |SELECT key % 8 AS __partition,
        |       CAST(row_number() OVER (
        |         PARTITION BY key % 8
        |         ORDER BY commit_ts_us, seq, key) - 1 AS BIGINT) AS __offset,
        |       seq, key AS user_id, commit_ts_us, event_type
        |FROM log
        |ORDER BY 1, 2""".stripMargin),

    // A45+A46: compacted-topic bootstrap ≡ the shared snapshot oracle
    "cdc_topic_stream_compacted" -> snapshotOracle,

    // A49: footer-stats end offsets ≡ dense per-partition row counts
    "cdc_topic_lag" -> (logCte +
      """,
        |e AS (
        |  SELECT key % 8 AS __partition, count(*) AS end_offset
        |  FROM log GROUP BY 1)
        |SELECT __partition, end_offset,
        |       end_offset // 2 AS committed_offset,
        |       end_offset - end_offset // 2 AS lag
        |FROM e ORDER BY __partition""".stripMargin),

    // The sticky rebalance re-derived in SQL: gen-1 range formula,
    // orphans of the departed member, the (load, id)-ordered survivor
    // ring, round-robin orphan placement, moved flags.
    "cdc_topic_groups_sticky" -> (logCte +
      """,
        |e AS (
        |  SELECT key % 8 AS p, count(*) AS end_offset
        |  FROM log GROUP BY 1),
        |g1 AS (
        |  SELECT p, end_offset,
        |         CASE WHEN p < (8 % 3) * ((8 // 3) + 1)
        |              THEN p // ((8 // 3) + 1)
        |              ELSE (p - (8 % 3) * ((8 // 3) + 1)) // (8 // 3)
        |                   + (8 % 3) END AS ci
        |  FROM e),
        |kept AS (SELECT * FROM g1 WHERE ci <> 1),
        |loads AS (SELECT ci, count(*) AS load FROM kept GROUP BY 1),
        |surv AS (
        |  SELECT ci, row_number() OVER (ORDER BY load, ci) - 1 AS idx
        |  FROM loads),
        |orph AS (
        |  SELECT p, end_offset, row_number() OVER (ORDER BY p) - 1 AS r
        |  FROM g1 WHERE ci = 1),
        |assigned AS (
        |  SELECT ci, p, end_offset, 0 AS moved FROM kept
        |  UNION ALL
        |  SELECT s.ci, o.p, o.end_offset, 1
        |  FROM orph o JOIN surv s ON o.r % 2 = s.idx)
        |SELECT 'c' || ci AS consumer, CAST(p AS BIGINT) AS __partition,
        |       end_offset, CAST(moved AS BIGINT) AS moved
        |FROM assigned ORDER BY __partition""".stripMargin),

    // The cooperative rebalance re-derived in SQL: gen-1 range owners,
    // heaviest-first targets, highest-numbered revocations, deficit
    // slots in member order, plus the eager gen-2 formula and both
    // moved flags.
    "cdc_topic_groups_coop" -> (logCte +
      """,
        |e AS (
        |  SELECT key % 8 AS p, count(*) AS end_offset
        |  FROM log GROUP BY 1),
        |g1 AS (
        |  SELECT p, end_offset,
        |         'c' || (CASE WHEN p < (8 % 3) * ((8 // 3) + 1)
        |              THEN p // ((8 // 3) + 1)
        |              ELSE (p - (8 % 3) * ((8 // 3) + 1)) // (8 // 3)
        |                   + (8 % 3) END) AS consumer
        |  FROM e),
        |members AS (
        |  SELECT * FROM (VALUES ('c0'), ('c1'), ('c2'), ('c3')) m(consumer)),
        |loads AS (
        |  SELECT m.consumer, coalesce(l.n, 0) AS load
        |  FROM members m LEFT JOIN
        |    (SELECT consumer, count(*) AS n FROM g1 GROUP BY 1) l
        |    USING (consumer)),
        |targets AS (
        |  SELECT consumer, load,
        |         (8 // 4) + CASE WHEN row_number() OVER
        |             (ORDER BY load DESC, consumer) - 1 < (8 % 4)
        |           THEN 1 ELSE 0 END AS target
        |  FROM loads),
        |ranked AS (
        |  SELECT g1.*, t.target,
        |         row_number() OVER (PARTITION BY g1.consumer
        |           ORDER BY g1.p) AS rk
        |  FROM g1 JOIN targets t USING (consumer)),
        |retained AS (
        |  SELECT consumer, p, end_offset, 0 AS moved
        |  FROM ranked WHERE rk <= target),
        |pool AS (
        |  SELECT p, end_offset, row_number() OVER (ORDER BY p) - 1 AS r
        |  FROM ranked WHERE rk > target),
        |slots AS (
        |  SELECT consumer,
        |         row_number() OVER (ORDER BY consumer, j) - 1 AS r
        |  FROM (SELECT consumer,
        |               unnest(generate_series(1,
        |                 target - least(load, target))) AS j
        |        FROM targets
        |        WHERE target - least(load, target) > 0)),
        |coop AS (
        |  SELECT * FROM retained
        |  UNION ALL
        |  SELECT s.consumer, pl.p, pl.end_offset, 1
        |  FROM pool pl JOIN slots s USING (r)),
        |eager AS (
        |  SELECT p, 'c' || (CASE WHEN p < (8 % 4) * ((8 // 4) + 1)
        |              THEN p // ((8 // 4) + 1)
        |              ELSE (p - (8 % 4) * ((8 // 4) + 1)) // (8 // 4)
        |                   + (8 % 4) END) AS owner_eager
        |  FROM e)
        |SELECT CAST(c.p AS BIGINT) AS __partition, c.end_offset,
        |       g1.consumer AS owner_gen1, c.consumer AS owner_coop,
        |       CAST(c.moved AS BIGINT) AS moved_coop,
        |       eg.owner_eager,
        |       CAST(eg.owner_eager <> g1.consumer AS BIGINT) AS moved_eager
        |FROM coop c
        |JOIN g1 ON c.p = g1.p
        |JOIN eager eg ON c.p = eg.p
        |ORDER BY __partition""".stripMargin),

    // The liveness rebalance re-derived in SQL: heartbeat ladders,
    // coordinator-clock gaps, the session-timeout eviction, and the
    // sticky replay (kept partitions unmoved, the evicted member's
    // partitions round-robin over the load-ordered survivor ring).
    "cdc_topic_group_liveness" -> (logCte +
      """,
        |e AS (
        |  SELECT key % 8 AS p, count(*) AS end_offset
        |  FROM log GROUP BY 1),
        |g1 AS (
        |  SELECT p, end_offset,
        |         CASE WHEN p < (8 % 3) * ((8 // 3) + 1)
        |              THEN p // ((8 // 3) + 1)
        |              ELSE (p - (8 % 3) * ((8 // 3) + 1)) // (8 // 3)
        |                   + (8 % 3) END AS ci
        |  FROM e),
        |hb AS (
        |  SELECT consumer,
        |         1706000000000000 + unnest(generate_series(0, ks))
        |           * 10000000 AS hb_ts_us
        |  FROM (VALUES ('c0', 9), ('c1', 4), ('c2', 8)) m(consumer, ks)),
        |lasth AS (
        |  SELECT consumer, max(hb_ts_us) AS last_hb_us FROM hb GROUP BY 1),
        |nowt AS (SELECT max(last_hb_us) AS n FROM lasth),
        |audit AS (
        |  SELECT consumer, last_hb_us, n - last_hb_us AS gap_us,
        |         CAST(n - last_hb_us > 30000000 AS BIGINT) AS evicted
        |  FROM lasth, nowt),
        |kept AS (
        |  SELECT g1.* FROM g1
        |  JOIN audit ON 'c' || g1.ci = audit.consumer
        |  WHERE audit.evicted = 0),
        |loads AS (SELECT ci, count(*) AS load FROM kept GROUP BY 1),
        |surv AS (
        |  SELECT ci, row_number() OVER (ORDER BY load, ci) - 1 AS idx
        |  FROM loads),
        |orph AS (
        |  SELECT g1.p, g1.end_offset,
        |         row_number() OVER (ORDER BY g1.p) - 1 AS r
        |  FROM g1
        |  JOIN audit ON 'c' || g1.ci = audit.consumer
        |  WHERE audit.evicted = 1),
        |assigned AS (
        |  SELECT ci, p, end_offset, 0 AS moved FROM kept
        |  UNION ALL
        |  SELECT s.ci, o.p, o.end_offset, 1
        |  FROM orph o JOIN surv s
        |    ON o.r % (SELECT count(*) FROM surv) = s.idx)
        |SELECT 'c' || ci AS consumer, CAST(p AS BIGINT) AS __partition,
        |       end_offset, CAST(moved AS BIGINT) AS moved,
        |       a.last_hb_us, a.gap_us
        |FROM assigned JOIN audit a ON 'c' || ci = a.consumer
        |ORDER BY __partition""".stripMargin),

    // The offsets-topic cursors stated directly: the DESIGNED last
    // commit per (group, partition) — parity proves route+offset+
    // compact converge to it.
    "cdc_topic_offsets_topic" -> (logCte +
      """,
        |e AS (
        |  SELECT key % 8 AS p, count(*) AS end_offset
        |  FROM log GROUP BY 1),
        |g AS (SELECT * FROM (VALUES ('g0'), ('g1')) t(consumer_group))
        |SELECT consumer_group, CAST(p AS BIGINT) AS __partition,
        |       (end_offset * 3) // 4 AS committed_offset, end_offset,
        |       end_offset - (end_offset * 3) // 4 AS lag
        |FROM e CROSS JOIN g
        |ORDER BY consumer_group, __partition""".stripMargin),

    // The read_committed/LSO report re-derived in SQL: routing, dense
    // offsets, the txn planting, coordinator statuses (unknown → open),
    // per-partition LSO, and the three censuses.
    "cdc_topic_txn" -> (logCte +
      """,
        |topic AS (
        |  SELECT key, seq, key % 8 AS p,
        |         row_number() OVER (PARTITION BY key % 8
        |           ORDER BY commit_ts_us, seq, key) - 1 AS o
        |  FROM log),
        |t AS (
        |  SELECT *, CASE WHEN seq % 5 = 0 THEN NULL
        |                 ELSE seq % 101 END AS txn_id
        |  FROM topic),
        |st AS (
        |  SELECT *, CASE WHEN txn_id IS NULL THEN 'committed'
        |                 WHEN txn_id >= 95 THEN 'open'
        |                 WHEN txn_id % 7 = 0 THEN 'aborted'
        |                 WHEN txn_id % 7 = 1 THEN 'open'
        |                 ELSE 'committed' END AS status
        |  FROM t),
        |l AS (
        |  SELECT p,
        |         CAST(coalesce(min(CASE WHEN status = 'open' THEN o END),
        |                       max(o) + 1) AS BIGINT) AS lso,
        |         CAST(max(o) + 1 AS BIGINT) AS end_offset
        |  FROM st GROUP BY 1)
        |SELECT p AS __partition, end_offset, lso,
        |       count(CASE WHEN status = 'committed' AND o < lso THEN 1 END)
        |         AS n_read_committed,
        |       count(CASE WHEN status = 'aborted' THEN 1 END)
        |         AS n_aborted_skipped,
        |       count(CASE WHEN status = 'committed' AND o >= lso THEN 1 END)
        |         AS n_beyond_lso
        |FROM st JOIN l USING (p)
        |GROUP BY 1, 2, 3 ORDER BY __partition""".stripMargin),

    // A60 write half: the whole transactional produce re-derived in
    // SQL — legs, relational markers, per-producer running-max fence,
    // dense offsets over survivors, fates from surviving markers, LSO,
    // and the censuses. The report…
    "cdc_topic_txn_produce" -> (txnProduceCtes +
      """
        |SELECT st.p AS __partition, l.end_offset, l.lso,
        |       count(CASE WHEN status = 'committed' AND ofs < lso
        |                  THEN 1 END) AS n_read_committed,
        |       count(CASE WHEN status = 'aborted' THEN 1 END)
        |         AS n_aborted_skipped,
        |       count(CASE WHEN status = 'committed' AND ofs >= lso
        |                  THEN 1 END) AS n_beyond_lso,
        |       count(CASE WHEN status = 'open' THEN 1 END)
        |         AS n_open_pending,
        |       count(CASE WHEN ctrl IS NOT NULL THEN 1 END) AS n_markers
        |FROM st JOIN l USING (p)
        |GROUP BY 1, 2, 3 ORDER BY __partition""".stripMargin),

    // …and the full visible relation (non-txn + committed below LSO,
    // markers excluded).
    "cdc_topic_txn_produce_visible" -> (txnProduceCtes +
      """
        |SELECT st.p AS __partition, CAST(ofs AS BIGINT) AS __offset,
        |       key AS user_id, seq, producer,
        |       CAST(epoch AS BIGINT) AS epoch, txn_id, commit_ts_us
        |FROM st JOIN l USING (p)
        |WHERE ctrl IS NULL AND status = 'committed' AND ofs < lso
        |ORDER BY __partition, __offset""".stripMargin),

    // Exactly-once E2E: snapshot of exactly the committed-below-LSO
    // records, re-derived through produce/fence/fate/LSO in SQL.
    "cdc_txn_e2e" -> (txnProduceCtes +
      """,
        |vis AS (
        |  SELECT key, commit_ts_us, seq, op, event_type, value
        |  FROM st JOIN l USING (p)
        |  WHERE ctrl IS NULL AND status = 'committed' AND ofs < lso),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |    ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM vis)
        |SELECT key AS user_id, event_type AS last_event_type,
        |       value AS last_value, commit_ts_us AS last_ts_us
        |FROM ranked WHERE rn = 1 AND op <> 'D'
        |ORDER BY user_id""".stripMargin),

    // Mirror checkpoint translation: visible set below each planted
    // source cursor, counted per (group, partition).
    "cdc_topic_mirror" -> (txnProduceCtes +
      """,
        |vis AS (
        |  SELECT st.p, ofs FROM st JOIN l USING (p)
        |  WHERE ctrl IS NULL AND status = 'committed' AND ofs < lso),
        |de AS (SELECT p, count(*) AS dst_end FROM vis GROUP BY 1),
        |cur AS (
        |  SELECT g.grp, l.p,
        |         CASE WHEN g.grp = 'g1' THEN l.end_offset // 2
        |              ELSE (l.end_offset * 3) // 4 END AS src_committed
        |  FROM l, (VALUES ('g1'), ('g2')) g(grp)),
        |tr AS (
        |  SELECT cur.grp, cur.p, cur.src_committed,
        |         (SELECT count(*) FROM vis
        |          WHERE vis.p = cur.p
        |            AND vis.ofs < cur.src_committed) AS dst_committed
        |  FROM cur)
        |SELECT tr.grp AS group_id, tr.p AS __partition,
        |       tr.src_committed, tr.dst_committed,
        |       COALESCE(de.dst_end, 0) AS dst_end
        |FROM tr LEFT JOIN de ON tr.p = de.p
        |ORDER BY 1, 2""".stripMargin),

    // The retention report re-derived in SQL: routing, dense offsets,
    // the newest-commit-relative cutoff, per-partition log-start, the
    // planted cursors, and the OffsetOutOfRange reset rule.
    "cdc_topic_retention" -> (logCte +
      """,
        |topic AS (
        |  SELECT key, commit_ts_us, key % 8 AS p,
        |         row_number() OVER (PARTITION BY key % 8
        |           ORDER BY commit_ts_us, seq, key) - 1 AS o
        |  FROM log),
        |cut AS (
        |  SELECT max(commit_ts_us) - 10 * 86400000000 AS c FROM topic),
        |r AS (SELECT * FROM topic WHERE commit_ts_us >= (SELECT c FROM cut)),
        |rep AS (
        |  SELECT p, CAST(min(o) AS BIGINT) AS log_start_offset,
        |         CAST(max(o) + 1 AS BIGINT) AS end_offset
        |  FROM r GROUP BY 1),
        |cur AS (
        |  SELECT *, CASE WHEN p % 2 = 0 THEN log_start_offset // 2
        |                 ELSE (log_start_offset + end_offset) // 2 END
        |            AS committed_offset
        |  FROM rep)
        |SELECT p AS __partition, log_start_offset, end_offset,
        |       committed_offset,
        |       greatest(committed_offset, log_start_offset)
        |         AS effective_resume,
        |       CAST(committed_offset < log_start_offset AS BIGINT)
        |         AS reset_to_earliest
        |FROM cur ORDER BY __partition""".stripMargin),

    // The fenced log re-derived in SQL: both producers' unions, keymod
    // routing, the running-max epoch fence in arrival order, dense
    // offsets over survivors.
    "cdc_topic_fenced" -> (logCte +
      s""",
        |producers AS (
        |  SELECT key, commit_ts_us, seq, 1 AS epoch FROM log
        |  UNION ALL
        |  SELECT key, commit_ts_us, seq + 4000000000000000000 AS seq,
        |         2 AS epoch
        |  FROM log WHERE commit_ts_us > $asofTsUs),
        |routed AS (
        |  SELECT *, key % 8 AS p FROM producers),
        |f AS (
        |  SELECT *, max(epoch) OVER (PARTITION BY p
        |    ORDER BY commit_ts_us, seq, key
        |    ROWS UNBOUNDED PRECEDING) AS fence
        |  FROM routed),
        |s AS (SELECT * FROM f WHERE epoch = fence)
        |SELECT p AS __partition,
        |       CAST(row_number() OVER (PARTITION BY p
        |         ORDER BY commit_ts_us, seq, key) - 1 AS BIGINT) AS __offset,
        |       CAST(epoch AS BIGINT) AS epoch, key AS user_id, seq,
        |       commit_ts_us
        |FROM s ORDER BY __partition, __offset""".stripMargin),

    // The full consumer-group describe re-derived in SQL: routing,
    // dense offsets, ends, planted commits, and both eager assignors
    // (range contiguous runs, round-robin mod) across two rebalance
    // generations. Members: gen 1 = c0,c1,c2; gen 2 = c0,c2.
    "cdc_topic_groups" -> (logCte +
      """,
        |e AS (
        |  SELECT key % 8 AS p, count(*) AS end_offset
        |  FROM log GROUP BY 1),
        |base AS (
        |  SELECT p, end_offset,
        |         (end_offset * (p + 1)) // 10 AS committed
        |  FROM e),
        |gens AS (SELECT * FROM (VALUES
        |  ('range', 1, 3), ('range', 2, 2),
        |  ('roundrobin', 1, 3), ('roundrobin', 2, 2))
        |  g(strategy, generation, n)),
        |asg AS (
        |  SELECT strategy, generation, n, p, end_offset, committed,
        |         CASE WHEN strategy = 'roundrobin' THEN p % n
        |              WHEN p < (8 % n) * ((8 // n) + 1)
        |                THEN p // ((8 // n) + 1)
        |              ELSE (p - (8 % n) * ((8 // n) + 1)) // (8 // n)
        |                   + (8 % n) END AS ci
        |  FROM base CROSS JOIN gens)
        |SELECT strategy, CAST(generation AS BIGINT) AS generation,
        |       CASE WHEN generation = 1 THEN 'c' || ci
        |            WHEN ci = 0 THEN 'c0' ELSE 'c2' END AS consumer,
        |       CAST(p AS BIGINT) AS __partition, end_offset,
        |       committed AS committed_offset,
        |       end_offset - committed AS lag
        |FROM asg ORDER BY strategy, generation, __partition""".stripMargin),

    // The versioned table's three snapshots re-stated from commit
    // boundaries: v1 = first append, v2 = v1 ∪ second append,
    // v3 = the overwrite only.
    "cdc_table_versions" -> (logCte +
      s""",
        |v AS (
        |  SELECT 1 AS version, * FROM log
        |  WHERE commit_ts_us <= 1704844800000000
        |  UNION ALL
        |  SELECT 2, * FROM log WHERE commit_ts_us <= 1705708800000000
        |  UNION ALL
        |  SELECT 3, * FROM log WHERE commit_ts_us > 1705708800000000)
        |SELECT CAST(version AS BIGINT) AS version, event_type,
        |       count(*) AS n_events, $sumCentsSql AS sum_value_e2,
        |       min(commit_ts_us) AS min_ts_us,
        |       max(commit_ts_us) AS max_ts_us
        |FROM v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Incremental merges converge to the full-feed snapshot.
    "cdc_table_merge" -> snapshotOracle,

    // File pruning must not change the answer.
    "cdc_table_merge_bucketed" -> snapshotOracle,

    // Event-time as-of: cumulative content at each boundary.
    "cdc_table_asof_ts" -> (logCte +
      s""",
        |vv AS (
        |  SELECT g.i AS asof_idx, l.event_type, l.value, l.commit_ts_us
        |  FROM log l JOIN (VALUES (1, 1704844800000000),
        |                          (2, 1705708800000000),
        |                          (3, 9223372036854775807)) g(i, cut)
        |    ON l.commit_ts_us <= g.cut)
        |SELECT CAST(asof_idx AS BIGINT) AS asof_idx, event_type,
        |       count(*) AS n_events, $sumCentsSql AS sum_value_e2,
        |       max(commit_ts_us) AS max_ts_us
        |FROM vv GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Streaming append commits: version v = ts-ordered rank-third
    // slices 1..v (same slicing the dlq-quarantine oracle models).
    "cdc_stream_table_versions" ->
      s"""WITH ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY ts, event_id) AS rn,
        |         count(*) OVER () AS total
        |  FROM events),
        |sliced AS (
        |  SELECT *, CASE WHEN rn <= total // 3 THEN 1
        |                 WHEN rn <= (2 * total) // 3 THEN 2
        |                 ELSE 3 END AS slice
        |  FROM ranked),
        |vv AS (
        |  SELECT g.v AS version, s.event_type, s.value, s.event_id
        |  FROM sliced s JOIN (VALUES (1), (2), (3)) g(v)
        |    ON s.slice <= g.v)
        |SELECT CAST(version AS BIGINT) AS version, event_type,
        |       count(*) AS n_events, $sumCentsSql AS sum_value_e2,
        |       min(event_id) AS min_seq, max(event_id) AS max_seq
        |FROM vv GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Streaming bucketed-merge delivery: incremental ts-ordered
    // upserts converge to the full-feed snapshot; exactly one version
    // per flush.
    "cdc_stream_table_merge" -> (logCte +
      """,
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM log)
        |SELECT key AS user_id, event_type AS last_event_type,
        |       value AS last_value, commit_ts_us AS last_ts_us,
        |       CAST(3 AS BIGINT) AS table_version
        |FROM ranked WHERE rn = 1 AND op <> 'D'
        |ORDER BY user_id""".stripMargin),

    // Deletion vectors: snapshot minus the predicate; files_unchanged
    // TRUE = the delete rewrote zero data files.
    "cdc_table_delete_vectors" -> (logCte +
      """,
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM log)
        |SELECT key AS user_id, event_type AS last_event_type,
        |       value AS last_value, commit_ts_us AS last_ts_us,
        |       TRUE AS files_unchanged
        |FROM ranked WHERE rn = 1 AND op <> 'D' AND key % 7 <> 0
        |ORDER BY user_id""".stripMargin),

    // Bucket-pruned lookup: the snapshot restricted to the keys; the
    // witness pins the pruned plan.
    "cdc_table_lookup" -> (logCte +
      """,
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM log)
        |SELECT key AS user_id, event_type AS last_event_type,
        |       value AS last_value, commit_ts_us AS last_ts_us,
        |       TRUE AS pruned_scan
        |FROM ranked WHERE rn = 1 AND op <> 'D' AND key IN (0, 1, 2)
        |ORDER BY user_id""".stripMargin),

    // Keyed DV erasure: snapshot minus the erased keys.
    "cdc_table_delete_keys" -> (logCte +
      """,
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM log)
        |SELECT key AS user_id, event_type AS last_event_type,
        |       value AS last_value, commit_ts_us AS last_ts_us,
        |       TRUE AS files_unchanged
        |FROM ranked WHERE rn = 1 AND op <> 'D' AND key NOT IN (0, 1, 2)
        |ORDER BY user_id""".stripMargin),

    // DV × CDF: exactly the snapshot rows the predicate matched,
    // tagged delete and attributed to the delete version.
    "cdc_table_dv_cdf" -> (logCte +
      """,
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM log)
        |SELECT key AS user_id, event_type, value, commit_ts_us,
        |       'delete' AS _change_type,
        |       CAST(2 AS BIGINT) AS _commit_version
        |FROM ranked WHERE rn = 1 AND op <> 'D' AND key % 7 = 0
        |ORDER BY user_id""".stripMargin),

    // Z-order: layout never changes an answer — the ts-range profile
    // is the plain filter; both witnesses must be TRUE (the zordered
    // scan read strictly fewer files than the scattered baseline on
    // EACH dimension).
    "cdc_table_zorder" -> (logCte +
      s"""
        |SELECT event_type, count(*) AS n_events,
        |       $sumCentsSql AS sum_value_e2,
        |       min(commit_ts_us) AS min_ts_us,
        |       max(commit_ts_us) AS max_ts_us,
        |       TRUE AS pruned_ts_scan, TRUE AS pruned_key_scan
        |FROM log
        |WHERE commit_ts_us > 1704844800000000
        |  AND commit_ts_us <= 1705708800000000
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Data skipping: the middle slice's content, re-derived as a plain
    // filter; pruned_scan TRUE = the plan read strictly fewer files.
    "cdc_table_skipping" -> (logCte +
      s"""
        |SELECT event_type, count(*) AS n_events,
        |       $sumCentsSql AS sum_value_e2,
        |       min(commit_ts_us) AS min_ts_us,
        |       max(commit_ts_us) AS max_ts_us,
        |       TRUE AS pruned_scan
        |FROM log
        |WHERE commit_ts_us > 1704844800000000
        |  AND commit_ts_us <= 1705708800000000
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Streaming CDF: per-version slice content, version attributed by
    // the slice boundaries (every row an insert — append-only feed).
    "cdc_stream_table_cdf" -> (logCte +
      s""",
        |vv AS (
        |  SELECT CASE WHEN commit_ts_us <= 1704844800000000 THEN 1
        |              WHEN commit_ts_us <= 1705708800000000 THEN 2
        |              ELSE 3 END AS version, *
        |  FROM log)
        |SELECT CAST(version AS BIGINT) AS version, event_type,
        |       count(*) AS n_events, count(*) AS n_inserts,
        |       $sumCentsSql AS sum_value_e2,
        |       min(seq) AS min_seq, max(seq) AS max_seq
        |FROM vv GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Append-only CDF: every row is an insert attributed to the
    // commit whose time slice introduced it.
    "cdc_table_cdf" -> (logCte +
      """
        |SELECT seq, key AS user_id, op, event_type, commit_ts_us,
        |       'insert' AS _change_type,
        |       CAST(CASE WHEN commit_ts_us <= 1704844800000000 THEN 1
        |                 WHEN commit_ts_us <= 1705708800000000 THEN 2
        |                 ELSE 3 END AS BIGINT) AS _commit_version
        |FROM log
        |ORDER BY seq""".stripMargin),

    // Keyed-diff CDF across an overwrite: both snapshots re-derived,
    // three-way classification by presence + seq movement (no two
    // events share a seq, so seq equality == row identity).
    "cdc_table_cdf_diff" -> (logCte +
      """,
        |s1 AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key
        |      ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |    FROM log WHERE commit_ts_us <= 1704844800000000)
        |  WHERE rn = 1 AND op <> 'D'),
        |s2 AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key
        |      ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |    FROM log WHERE commit_ts_us <= 1705708800000000)
        |  WHERE rn = 1 AND op <> 'D')
        |SELECT COALESCE(s2.key, s1.key) AS user_id,
        |       CASE WHEN s1.key IS NULL THEN 'insert'
        |            WHEN s2.key IS NULL THEN 'delete'
        |            ELSE 'update_postimage' END AS _change_type,
        |       CASE WHEN s2.key IS NULL THEN s1.seq ELSE s2.seq END AS seq,
        |       CASE WHEN s2.key IS NULL THEN s1.event_type
        |            ELSE s2.event_type END AS event_type,
        |       CASE WHEN s2.key IS NULL THEN s1.value
        |            ELSE s2.value END AS value,
        |       CASE WHEN s2.key IS NULL THEN s1.commit_ts_us
        |            ELSE s2.commit_ts_us END AS commit_ts_us,
        |       CAST(2 AS BIGINT) AS _commit_version
        |FROM s2 FULL OUTER JOIN s1 ON s2.key = s1.key
        |WHERE s1.key IS NULL OR s2.key IS NULL OR s1.seq <> s2.seq
        |ORDER BY user_id""".stripMargin),

    // File-pruned CDF across two merge commits: per-version change
    // attribution re-derived as two successive snapshot diffs (v2 =
    // t1→t2 snapshot movement, v3 = t2→full); seq equality is the
    // change test (no two events share a seq).
    "cdc_table_cdf_merge" -> (logCte +
      """,
        |s1 AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key
        |      ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |    FROM log WHERE commit_ts_us <= 1704844800000000)
        |  WHERE rn = 1 AND op <> 'D'),
        |s2 AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key
        |      ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |    FROM log WHERE commit_ts_us <= 1705708800000000)
        |  WHERE rn = 1 AND op <> 'D'),
        |s3 AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key
        |      ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |    FROM log)
        |  WHERE rn = 1 AND op <> 'D'),
        |d2 AS (
        |  SELECT COALESCE(s2.key, s1.key) AS user_id,
        |         CASE WHEN s1.key IS NULL THEN 'insert'
        |              WHEN s2.key IS NULL THEN 'delete'
        |              ELSE 'update_postimage' END AS _change_type,
        |         CASE WHEN s2.key IS NULL THEN s1.seq ELSE s2.seq END AS seq,
        |         CASE WHEN s2.key IS NULL THEN s1.event_type
        |              ELSE s2.event_type END AS event_type,
        |         CASE WHEN s2.key IS NULL THEN s1.value
        |              ELSE s2.value END AS value,
        |         CASE WHEN s2.key IS NULL THEN s1.commit_ts_us
        |              ELSE s2.commit_ts_us END AS commit_ts_us,
        |         CAST(2 AS BIGINT) AS _commit_version
        |  FROM s2 FULL OUTER JOIN s1 ON s2.key = s1.key
        |  WHERE s1.key IS NULL OR s2.key IS NULL OR s1.seq <> s2.seq),
        |d3 AS (
        |  SELECT COALESCE(s3.key, s2.key) AS user_id,
        |         CASE WHEN s2.key IS NULL THEN 'insert'
        |              WHEN s3.key IS NULL THEN 'delete'
        |              ELSE 'update_postimage' END AS _change_type,
        |         CASE WHEN s3.key IS NULL THEN s2.seq ELSE s3.seq END AS seq,
        |         CASE WHEN s3.key IS NULL THEN s2.event_type
        |              ELSE s3.event_type END AS event_type,
        |         CASE WHEN s3.key IS NULL THEN s2.value
        |              ELSE s3.value END AS value,
        |         CASE WHEN s3.key IS NULL THEN s2.commit_ts_us
        |              ELSE s3.commit_ts_us END AS commit_ts_us,
        |         CAST(3 AS BIGINT) AS _commit_version
        |  FROM s3 FULL OUTER JOIN s2 ON s3.key = s2.key
        |  WHERE s2.key IS NULL OR s3.key IS NULL OR s2.seq <> s3.seq)
        |SELECT * FROM (SELECT * FROM d2 UNION ALL SELECT * FROM d3)
        |ORDER BY _commit_version, user_id""".stripMargin),

    // Streaming merge-CDF: the batch CDF answer (d2 ∪ d3) with the
    // v1 leg unioned in — v1 is a merge FROM EMPTY, a file-set
    // superset, so the stream serves its content as plain inserts.
    "cdc_stream_table_cdf_merge" -> (logCte +
      """,
        |s1 AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key
        |      ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |    FROM log WHERE commit_ts_us <= 1704844800000000)
        |  WHERE rn = 1 AND op <> 'D'),
        |s2 AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key
        |      ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |    FROM log WHERE commit_ts_us <= 1705708800000000)
        |  WHERE rn = 1 AND op <> 'D'),
        |s3 AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key
        |      ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |    FROM log)
        |  WHERE rn = 1 AND op <> 'D'),
        |d1 AS (
        |  SELECT key AS user_id, 'insert' AS _change_type, seq,
        |         event_type, value, commit_ts_us,
        |         CAST(1 AS BIGINT) AS _commit_version
        |  FROM s1),
        |d2 AS (
        |  SELECT COALESCE(s2.key, s1.key) AS user_id,
        |         CASE WHEN s1.key IS NULL THEN 'insert'
        |              WHEN s2.key IS NULL THEN 'delete'
        |              ELSE 'update_postimage' END AS _change_type,
        |         CASE WHEN s2.key IS NULL THEN s1.seq ELSE s2.seq END AS seq,
        |         CASE WHEN s2.key IS NULL THEN s1.event_type
        |              ELSE s2.event_type END AS event_type,
        |         CASE WHEN s2.key IS NULL THEN s1.value
        |              ELSE s2.value END AS value,
        |         CASE WHEN s2.key IS NULL THEN s1.commit_ts_us
        |              ELSE s2.commit_ts_us END AS commit_ts_us,
        |         CAST(2 AS BIGINT) AS _commit_version
        |  FROM s2 FULL OUTER JOIN s1 ON s2.key = s1.key
        |  WHERE s1.key IS NULL OR s2.key IS NULL OR s1.seq <> s2.seq),
        |d3 AS (
        |  SELECT COALESCE(s3.key, s2.key) AS user_id,
        |         CASE WHEN s2.key IS NULL THEN 'insert'
        |              WHEN s3.key IS NULL THEN 'delete'
        |              ELSE 'update_postimage' END AS _change_type,
        |         CASE WHEN s3.key IS NULL THEN s2.seq ELSE s3.seq END AS seq,
        |         CASE WHEN s3.key IS NULL THEN s2.event_type
        |              ELSE s3.event_type END AS event_type,
        |         CASE WHEN s3.key IS NULL THEN s2.value
        |              ELSE s3.value END AS value,
        |         CASE WHEN s3.key IS NULL THEN s2.commit_ts_us
        |              ELSE s3.commit_ts_us END AS commit_ts_us,
        |         CAST(3 AS BIGINT) AS _commit_version
        |  FROM s3 FULL OUTER JOIN s2 ON s3.key = s2.key
        |  WHERE s2.key IS NULL OR s3.key IS NULL OR s2.seq <> s3.seq)
        |SELECT * FROM (SELECT * FROM d1 UNION ALL
        |               SELECT * FROM d2 UNION ALL SELECT * FROM d3)
        |ORDER BY _commit_version, user_id""".stripMargin),

    // Streaming DV-CDF: exactly the snapshot rows the erasure
    // predicate matched, tagged delete at the delete version.
    "cdc_stream_table_cdf_dv" -> (logCte +
      """,
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM log)
        |SELECT key AS user_id, event_type, value, commit_ts_us,
        |       'delete' AS _change_type,
        |       CAST(2 AS BIGINT) AS _commit_version
        |FROM ranked WHERE rn = 1 AND op <> 'D' AND key % 7 = 0
        |ORDER BY user_id""".stripMargin),

    // Streaming restore-CDF: the restore un-deletes exactly the rows
    // the erasure matched — they re-enter as inserts at v3.
    "cdc_stream_table_cdf_restore" -> (logCte +
      """,
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM log)
        |SELECT key AS user_id, event_type, value, commit_ts_us,
        |       'insert' AS _change_type,
        |       CAST(3 AS BIGINT) AS _commit_version
        |FROM ranked WHERE rn = 1 AND op <> 'D' AND key % 7 = 0
        |ORDER BY user_id""".stripMargin),

    // Streaming overwrite-CDF: the keyed diff of the cumulative
    // overwrite vs slice 1 is exactly the slice-2 rows, as inserts.
    "cdc_stream_table_cdf_overwrite" -> (logCte +
      """
        |SELECT key AS user_id, seq, event_type, value, commit_ts_us,
        |       'insert' AS _change_type,
        |       CAST(2 AS BIGINT) AS _commit_version
        |FROM log WHERE commit_ts_us > 1704844800000000
        |  AND commit_ts_us <= 1705708800000000
        |ORDER BY seq""".stripMargin),

    // CDF across schema evolution: per-version censuses re-derived
    // from slice arithmetic — region exists only for slice-2/3 rows.
    "cdc_table_cdf_evolution" -> (logCte +
      s""",
        |b AS (
        |  SELECT CASE WHEN commit_ts_us <= 1704844800000000 THEN 1
        |              WHEN commit_ts_us <= 1705708800000000 THEN 2
        |              ELSE 3 END AS sl, seq, value
        |  FROM log)
        |SELECT CAST(sl AS BIGINT) AS version, count(*) AS n_rows,
        |       CAST(CASE WHEN sl = 1 THEN 0 ELSE count(*) END
        |            AS BIGINT) AS n_region,
        |       $sumCentsSql AS sum_value_e2,
        |       min(seq) AS min_seq, max(seq) AS max_seq
        |FROM b GROUP BY sl ORDER BY version""".stripMargin),

    // Stats-pruned predicate erasure: the rows below the cutoff; the
    // witness pins the pruned position scan.
    "cdc_table_delete_pruned" -> (logCte +
      s"""
        |SELECT event_type, count(*) AS n_events,
        |       $sumCentsSql AS sum_value_e2,
        |       max(commit_ts_us) AS max_ts_us,
        |       TRUE AS pruned_scan
        |FROM log WHERE commit_ts_us <= 1705708800000000
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Pin-aware vacuum: the syncpoint-pinned content (slices ≤ t2)
    // stays readable after the aggressive vacuum; below the pin is
    // reclaimed.
    "cdc_table_vacuum_pin" -> (logCte +
      s"""
        |SELECT event_type, count(*) AS n_events,
        |       $sumCentsSql AS sum_value_e2,
        |       max(commit_ts_us) AS max_ts_us,
        |       TRUE AS below_pin_reclaimed
        |FROM log WHERE commit_ts_us <= 1705708800000000
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // SQL catalog: the full-feed profile (slice 3 arrived via INSERT
    // INTO) with the VERSION AS OF 1 row count as witness.
    "cdc_sql_catalog" -> (logCte +
      s"""
        |SELECT event_type, count(*) AS n_events,
        |       $sumCentsSql AS sum_value_e2,
        |       max(commit_ts_us) AS max_ts_us,
        |       (SELECT count(*) FROM log
        |        WHERE commit_ts_us <= 1704844800000000) AS v1_rows
        |FROM log GROUP BY 1 ORDER BY 1""".stripMargin),

    // Racing disjoint merges must converge to the serial answer —
    // the full-feed snapshot.
    "cdc_table_merge_racing" -> snapshotOracle,

    // Merge-on-read UPDATE: the snapshot with the SET applied as a
    // CASE; files_carried TRUE = every pre-update file still listed.
    "cdc_table_update" -> (logCte +
      """,
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM log)
        |SELECT key AS user_id,
        |       CASE WHEN key % 5 = 0 THEN 'adjusted'
        |            ELSE event_type END AS last_event_type,
        |       CASE WHEN key % 5 = 0 THEN value * 2
        |            ELSE value END AS last_value,
        |       commit_ts_us AS last_ts_us,
        |       TRUE AS files_carried
        |FROM ranked WHERE rn = 1 AND op <> 'D'
        |ORDER BY user_id""".stripMargin),

    // UPDATE × CDF: each matched snapshot row twice — pre-image with
    // the original values, post-image with the SET applied.
    "cdc_table_update_cdf" -> (logCte +
      """,
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM log),
        |snap AS (SELECT * FROM ranked WHERE rn = 1 AND op <> 'D'
        |                               AND key % 5 = 0)
        |SELECT * FROM (
        |  SELECT key AS user_id, event_type, value, commit_ts_us,
        |         'update_preimage' AS _change_type,
        |         CAST(2 AS BIGINT) AS _commit_version FROM snap
        |  UNION ALL
        |  SELECT key, 'adjusted', value * 2, commit_ts_us,
        |         'update_postimage', CAST(2 AS BIGINT) FROM snap)
        |ORDER BY user_id, _change_type""".stripMargin),

    // Streaming update-CDF: the v1 insert snapshot plus the update's
    // before/after pairs.
    "cdc_stream_table_cdf_update" -> (logCte +
      """,
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM log),
        |snap AS (SELECT * FROM ranked WHERE rn = 1 AND op <> 'D')
        |SELECT * FROM (
        |  SELECT key AS user_id, event_type, value, commit_ts_us,
        |         'insert' AS _change_type,
        |         CAST(1 AS BIGINT) AS _commit_version FROM snap
        |  UNION ALL
        |  SELECT key, event_type, value, commit_ts_us,
        |         'update_preimage', CAST(2 AS BIGINT)
        |  FROM snap WHERE key % 5 = 0
        |  UNION ALL
        |  SELECT key, 'adjusted', value * 2, commit_ts_us,
        |         'update_postimage', CAST(2 AS BIGINT)
        |  FROM snap WHERE key % 5 = 0)
        |ORDER BY user_id, _change_type""".stripMargin),

    // CHECK constraints: the violating batch was refused whole, so
    // the table holds exactly the full valid feed.
    "cdc_table_constraints" -> (logCte +
      s"""
        |SELECT event_type, count(*) AS n_events,
        |       $sumCentsSql AS sum_value_e2,
        |       max(commit_ts_us) AS max_ts_us,
        |       TRUE AS violation_refused
        |FROM log GROUP BY 1 ORDER BY 1""".stripMargin),

    // DESCRIBE HISTORY: the literal expected commit log of the
    // five-step script (append, append, delete, optimize, restore).
    "cdc_table_history" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'append',   FALSE, CAST(NULL AS BIGINT)),
        |  (CAST(2 AS BIGINT), 'append',   FALSE, CAST(NULL AS BIGINT)),
        |  (CAST(3 AS BIGINT), 'delete',   TRUE,  CAST(NULL AS BIGINT)),
        |  (CAST(4 AS BIGINT), 'optimize', FALSE, CAST(NULL AS BIGINT)),
        |  (CAST(5 AS BIGINT), 'restore',  FALSE, CAST(2 AS BIGINT))
        |) t(version, kind, has_dv, restored_from)
        |ORDER BY version""".stripMargin,

    // Cross-table syncpoint: the consistent pair = transactions 1-2
    // (slices ≤ t2); the torn third transaction is invisible.
    "cdc_table_syncpoint" -> (logCte +
      s"""
        |SELECT event_type, count(*) AS n_events,
        |       $sumCentsSql AS sum_value_e2,
        |       max(commit_ts_us) AS max_ts_us,
        |       TRUE AS torn_invisible
        |FROM log WHERE commit_ts_us <= 1705708800000000
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Column-mapping rename: v1 = slice-1 under the old name, v2 =
    // the rename (same content, new name), v3 = the full feed — the
    // sums prove the old files' column flows through the map.
    "cdc_table_rename" -> (logCte +
      s""",
        |b AS (
        |  SELECT CASE WHEN commit_ts_us <= 1704844800000000 THEN 1
        |              ELSE 3 END AS sl,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100
        |              AS DECIMAL(38,0)) AS ve
        |  FROM log)
        |SELECT CAST(g.v AS BIGINT) AS version,
        |       count(*) AS n_rows,
        |       CAST(sum(ve) AS BIGINT) AS sum_amount_e2,
        |       g.v >= 2 AS named_amount
        |FROM b JOIN (VALUES (1), (2), (3)) g(v) ON b.sl <= g.v
        |GROUP BY g.v ORDER BY version""".stripMargin),

    // Restore: the pre-overwrite cumulative content, at version 4.
    "cdc_table_restore" -> (logCte +
      s"""
        |SELECT event_type, count(*) AS n_events,
        |       $sumCentsSql AS sum_value_e2,
        |       max(commit_ts_us) AS max_ts_us,
        |       CAST(4 AS BIGINT) AS table_version
        |FROM log WHERE commit_ts_us <= 1705708800000000
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // IVM from the CDF: the maintained view must equal the DIRECT
    // aggregate over the final snapshot.
    "cdc_table_ivm" -> (logCte +
      s""",
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM log),
        |snap AS (SELECT * FROM ranked WHERE rn = 1 AND op <> 'D')
        |SELECT event_type, count(*) AS n_live,
        |       $sumCentsSql AS sum_value_e2
        |FROM snap GROUP BY 1 ORDER BY 1""".stripMargin),

    // Lakehouse schema evolution: per-version profile re-derived from
    // slice arithmetic — value_e2 exists only for slice-2/3 rows under
    // v>=2 schemas, event_type leaves the schema at v3.
    "cdc_table_schema_evolution" -> (logCte +
      """,
        |b AS (
        |  SELECT CASE WHEN commit_ts_us <= 1704844800000000 THEN 1
        |              WHEN commit_ts_us <= 1705708800000000 THEN 2
        |              ELSE 3 END AS sl,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS ve
        |  FROM log)
        |SELECT CAST(g.v AS BIGINT) AS version,
        |       count(*) AS n_rows,
        |       CAST(CASE WHEN g.v = 3 THEN 0
        |                 ELSE count(*) END AS BIGINT) AS n_event_type,
        |       count(CASE WHEN b.sl >= 2 AND g.v >= 2 THEN 1 END)
        |         AS n_value_e2,
        |       CAST(COALESCE(sum(CASE WHEN b.sl >= 2 AND g.v >= 2
        |                               THEN ve END), 0) AS BIGINT)
        |         AS sum_value_e2
        |FROM b JOIN (VALUES (1), (2), (3)) g(v) ON b.sl <= g.v
        |GROUP BY g.v ORDER BY version""".stripMargin),

    // Event-time CDF: everything after the t1 watermark, attributed
    // to the version whose slice introduced it.
    "cdc_table_cdf_asof" -> (logCte +
      """
        |SELECT seq, key AS user_id, op, event_type, commit_ts_us,
        |       'insert' AS _change_type,
        |       CAST(CASE WHEN commit_ts_us <= 1705708800000000 THEN 2
        |                 ELSE 3 END AS BIGINT) AS _commit_version
        |FROM log WHERE commit_ts_us > 1704844800000000
        |ORDER BY seq""".stripMargin),

    // Exactly-once bucketed landing: same visible-set snapshot as
    // cdc_txn_e2e; table_version 1 witnesses the replay skip.
    "cdc_txn_e2e_bucketed" -> (txnProduceCtes +
      """,
        |vis AS (
        |  SELECT key, commit_ts_us, seq, op, event_type, value
        |  FROM st JOIN l USING (p)
        |  WHERE ctrl IS NULL AND status = 'committed' AND ofs < lso),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |    ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM vis)
        |SELECT key AS user_id, event_type AS last_event_type,
        |       value AS last_value, commit_ts_us AS last_ts_us,
        |       CAST(1 AS BIGINT) AS table_version
        |FROM ranked WHERE rn = 1 AND op <> 'D'
        |ORDER BY user_id""".stripMargin),

    // A48 × A56: the three-member group union must equal the SAME
    // batch snapshot — the group partitions the work, it doesn't
    // change the answer
    "cdc_topic_group_e2e" -> (logCte +
      """,
        |f AS (SELECT * FROM log
        |      WHERE event_type IN ('signup','click','purchase','error')),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM f)
        |SELECT key AS user_id, event_type AS last_event_type,
        |       value AS last_value, commit_ts_us AS last_ts_us
        |FROM ranked WHERE rn = 1 AND op <> 'D'
        |ORDER BY user_id""".stripMargin),

    // A48: producer→broker→consumer→chain→snapshot ≡ the batch
    // snapshot over the chain-filtered log
    "cdc_topic_e2e" -> (logCte +
      """,
        |f AS (SELECT * FROM log
        |      WHERE event_type IN ('signup','click','purchase','error')),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM f)
        |SELECT key AS user_id, event_type AS last_event_type,
        |       value AS last_value, commit_ts_us AS last_ts_us
        |FROM ranked WHERE rn = 1 AND op <> 'D'
        |ORDER BY user_id""".stripMargin),

    "cdc_topic_replay" -> (logCte +
      """
        |SELECT * FROM (
        |  SELECT key % 8 AS __partition,
        |         CAST(row_number() OVER (
        |           PARTITION BY key % 8
        |           ORDER BY commit_ts_us, seq, key) - 1 AS BIGINT) AS __offset,
        |         seq, key AS user_id, commit_ts_us, event_type
        |  FROM log)
        |WHERE __partition = 3 AND __offset >= 10
        |ORDER BY __offset""".stripMargin),

    "cdc_json_extract" -> (logCte +
      """
        |SELECT event_type, count(*) AS n_events,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM log GROUP BY event_type ORDER BY event_type""".stripMargin),

    "cdc_delta" -> (logCte +
      """,
        |touched AS (
        |  SELECT DISTINCT key FROM log
        |  WHERE commit_ts_us > 1704844800000000 AND commit_ts_us <= 1705708800000000),
        |aft AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key
        |              ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |    FROM log WHERE commit_ts_us <= 1705708800000000) x WHERE rn = 1),
        |bef AS (
        |  SELECT key, (op <> 'D') AS existed_before FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key
        |              ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |    FROM log WHERE commit_ts_us <= 1704844800000000) x WHERE rn = 1)
        |SELECT t.key AS user_id,
        |       CASE WHEN a.op = 'D' THEN 'D'
        |            WHEN coalesce(b.existed_before, false) THEN 'U'
        |            ELSE 'I' END AS net_op,
        |       a.commit_ts_us, a.seq, a.event_type, a.value
        |FROM touched t
        |JOIN aft a USING (key)
        |LEFT JOIN bef b USING (key)
        |WHERE NOT (a.op = 'D' AND NOT coalesce(b.existed_before, false))
        |ORDER BY user_id""".stripMargin),

    "cdc_compact" -> (logCte +
      """
        |SELECT key, commit_ts_us, seq, op, event_type, value, props FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM log WHERE commit_ts_us <= 1705708800000000) x WHERE rn = 1
        |UNION ALL
        |SELECT key, commit_ts_us, seq, op, event_type, value, props
        |FROM log WHERE commit_ts_us > 1705708800000000
        |ORDER BY key, commit_ts_us, seq""".stripMargin),

    "cdc_before_image" -> (logCte +
      """
        |SELECT seq, key AS user_id, op,
        |       CASE WHEN op <> 'I' THEN lag(value) OVER (
        |         PARTITION BY key ORDER BY commit_ts_us, seq) END AS before_value,
        |       value AS after_value, commit_ts_us
        |FROM log ORDER BY seq""".stripMargin),

    "cdc_schema_evolution" -> (logCte +
      """,
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM log)
        |SELECT key AS user_id, event_type, value AS amount,
        |       'unassigned' AS region, commit_ts_us AS last_ts_us
        |FROM ranked WHERE rn = 1 AND op <> 'D'
        |ORDER BY user_id""".stripMargin),

    // A47: a feed evolved MID-STREAM must converge to the batch A9
    // splice — same oracle text
    "cdc_stream_schema_evolution" -> (logCte +
      """,
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM log)
        |SELECT key AS user_id, event_type, value AS amount,
        |       'unassigned' AS region, commit_ts_us AS last_ts_us
        |FROM ranked WHERE rn = 1 AND op <> 'D'
        |ORDER BY user_id""".stripMargin),

    // Wire-DDL ≡ batch splice: the same A9 oracle — a feed evolved by
    // isDdl canal envelopes through the topic consumer must converge
    // to exactly what the in-feed DDL stream (and the batch splice)
    // produce.
    "cdc_topic_envelope_evolution" -> (logCte +
      """,
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY commit_ts_us DESC, seq DESC) AS rn
        |  FROM log)
        |SELECT key AS user_id, event_type, value AS amount,
        |       'unassigned' AS region, commit_ts_us AS last_ts_us
        |FROM ranked WHERE rn = 1 AND op <> 'D'
        |ORDER BY user_id""".stripMargin),

    // Streaming sessionization must equal the batch law exactly.
    "cdc_stream_sessionize" ->
      s"""WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events),
        |d AS (
        |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |                   OR ts_us - lag(ts_us) OVER w > 1800000000
        |                 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (
        |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
        |            ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |            AS session_id
        |  FROM d)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
        |       $sumCentsSql AS sum_value_e2
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "cdc_sessionize" ->
      s"""WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events),
        |d AS (
        |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |                   OR ts_us - lag(ts_us) OVER w > 1800000000
        |                 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (
        |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
        |            ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |            AS session_id
        |  FROM d)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
        |       $sumCentsSql AS sum_value_e2
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "cdc_concurrency" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
        |d AS (
        |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |                   OR ts_us - lag(ts_us) OVER w > 1800000000
        |                 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (
        |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
        |            ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |            AS session_id
        |  FROM d),
        |sess AS (
        |  SELECT user_id, session_id,
        |         min(ts_us) AS session_start_us, max(ts_us) AS session_end_us
        |  FROM s GROUP BY 1, 2)
        |SELECT a.user_id, a.session_id, a.session_start_us, a.session_end_us,
        |       CAST(count(b.user_id) AS BIGINT) AS n_concurrent
        |FROM sess a LEFT JOIN sess b
        |  ON a.user_id <> b.user_id
        | AND a.session_start_us <= b.session_end_us
        | AND b.session_start_us <= a.session_end_us
        |GROUP BY 1, 2, 3, 4
        |ORDER BY 1, 2""".stripMargin,

    // The sink never touches DuckDB: the oracle digests the SOURCE rows
    // (plus the batch assignment the sink must produce), so hash parity
    // == "what landed on disk is exactly the changelog, batched right".
    "cdc_sink_roundtrip" -> (logCte +
      s""",
        |wb AS (
        |  SELECT key, seq, op, event_type,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS value_cents,
        |         commit_ts_us, props,
        |         commit_ts_us // 86400000000 AS __batch
        |  FROM log)
        |${Consistency.checksumSql("wb", "key",
             Seq("key", "seq", "op", "event_type", "value_cents",
               "commit_ts_us", "props", "__batch"), 16)}
        |ORDER BY bucket""".stripMargin),

    "cdc_source_roundtrip" -> (logCte +
      s""",
        |wv AS (
        |  SELECT key, seq, op, event_type,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS value_cents,
        |         commit_ts_us, props
        |  FROM log),
        |cs AS (
        |${Consistency.checksumSql("wv", "key",
             Seq("key", "seq", "op", "event_type", "value_cents",
               "commit_ts_us", "props"), 16)})
        |SELECT f.format, cs.bucket, cs.n_rows, cs.checksum
        |FROM cs CROSS JOIN (SELECT unnest(['csv','json','orc']) AS format) f
        |ORDER BY format, bucket""".stripMargin))
}

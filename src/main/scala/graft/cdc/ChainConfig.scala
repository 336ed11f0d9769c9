package graft.cdc

import org.apache.spark.sql.functions._

/** Config-driven plugin chains (reference README.md:37-56 — TiValue's
  * whole point is that USERS configure the sink-side processing without
  * forking the pipeline; in TiCDC that is config + WASM/Lua plugin refs).
  *
  * Spark-first, the "plugin config" is a compact pipe-separated DSL that
  * compiles to the same [[Plugin]] combinators code uses — so a chain can
  * live in a job config / table property and still fuse into one Catalyst
  * plan:
  *
  * {{{
  *   event-filter:purchase,click | where:value > 100
  *     | mask:props=keep2,user=sha256 | route:keymod/16
  * }}}
  *
  * Stages:
  *  - `op-filter:I,U,D`         — keep listed ops
  *  - `event-filter:a,b`        — keep listed event types
  *  - `where:<sql expr>`        — arbitrary predicate (host_call-style
  *                                correction, README.md:88)
  *  - `mask:col=sha256|null|keepN[,col=...]`
  *  - `route:keymod|keyhash|bytype/N[/physical]`
  *  - `select:a,b,c`            — projection
  *  - `transform:<name>`        — a transform REGISTERED at runtime via
  *                                [[registerTransform]] (see below)
  *  - `script:<stmts>`          — in-process scripted plugin
  *                                ([[ScriptTransform]]): ;-separated
  *                                set/keep/drop statements compiled to
  *                                Catalyst expressions at Prepare time
  *  - `sql:<SELECT ... FROM __input__>` — arbitrary SQL over the chain's
  *                                current frame (see below)
  *
  * ==The no-recompilation / multi-language boundary==
  *
  * The reference's core pitch (README.md:44-48) is plugins added WITHOUT
  * rebuilding the pipeline, in whatever language the user has. Two DSL
  * stages deliver that boundary Spark-first:
  *
  *  - `transform:<name>` resolves a `DataFrame => DataFrame` from a
  *    runtime registry. The host process (a job launcher, a plugin JAR's
  *    static initializer, a Py4J-driven PySpark session) calls
  *    [[registerTransform]] at startup; chain configs stored in table
  *    properties / job config then reference it by name. Deploying a new
  *    transform = dropping a JAR on the classpath + one registry call —
  *    the pipeline itself is never recompiled.
  *  - `sql:` runs any SQL statement against the chain's current frame
  *    (exposed as the view `__input__`). Functions registered in the
  *    SparkSession — including those registered FROM PYTHON via
  *    `spark.udf.register` in a PySpark-bound session, or from any other
  *    language binding — are callable here, so a non-JVM transform plugs
  *    in as: register a UDF in your language, reference it from the
  *    `sql:` stage string. The stage compiles into the same Catalyst
  *    plan as every other plugin (one fused query, README.md:37-56).
  */
object ChainConfig {

  /** Runtime transform registry backing `transform:<name>` stages.
    * Thread-safe; last registration for a name wins (re-registering is
    * how a host hot-swaps a plugin version — pair with
    * [[graft.streaming.ChainRollout]] for the 2PC rollout semantics). */
  private val transforms =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame]()

  def registerTransform(name: String,
                        fn: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit =
    transforms.put(name, fn)

  def unregisterTransform(name: String): Unit = transforms.remove(name)

  /** Unique-per-call view name so concurrent chains can't collide. */
  private val sqlViewSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Note: stages are split on `|`, so a `where:` expression must use
    * SQL `OR` / `concat(...)` rather than `||`. */
  def parse(config: String): Changefeed =
    Changefeed(config.split('|').map(_.trim).filter(_.nonEmpty).map(parseStage).toSeq)

  private val keepRe = "keep(\\d+)".r

  private def parseStage(stage: String): Plugin = {
    val (kind, arg) = stage.split(":", 2) match {
      case Array(k, a) => (k.trim, a.trim)
      case _ => throw new IllegalArgumentException(
        s"chain stage needs '<kind>:<args>', got '$stage'")
    }
    kind match {
      case "op-filter" => OpFilter(arg.split(',').map(_.trim).toSet)
      case "event-filter" => EventTypeFilter(arg.split(',').map(_.trim).toSet)
      case "where" => PredicateFilter(s"where[$arg]", expr(arg))
      case "select" => TransformPlugin(s"select[$arg]",
        df => df.select(arg.split(',').map(c => col(c.trim)).toSeq: _*))
      case "transform" => TransformPlugin(s"transform[$arg]", df => {
        val fn = transforms.get(arg)
        if (fn == null) throw new IllegalArgumentException(
          s"no transform registered under '$arg' - call " +
            s"ChainConfig.registerTransform(\"$arg\", ...) before running the chain")
        fn(df)
      })
      // in-process scripted plugin (README.md:39-43): the script
      // compiles HERE — Prepare-time validation; a limit/grammar
      // violation rejects the chain before anything is scheduled
      case "script" => TransformPlugin(s"script[$arg]",
        ScriptTransform.compile(arg))
      case "sql" => TransformPlugin(s"sql[$arg]", df => {
        val view = s"__chain_input_${sqlViewSeq.incrementAndGet()}"
        df.createOrReplaceTempView(view)
        // the query is analyzed here, so its view can go at once; left
        // in place, one view per call piles up in the caller's session
        // (drained micro-batches run there). The catalog drop leaves a
        // cached `df` cached.
        try df.sparkSession.sql(arg.replace("__input__", view))
        finally df.sparkSession.sessionState.catalog.dropTempView(view)
      })
      case "mask" =>
        val specs = arg.split(',').map(_.trim).map { s =>
          s.split("=", 2) match {
            case Array(c, m) => (c.trim, parseMaskMode(m.trim))
            case _ => throw new IllegalArgumentException(s"bad mask spec '$s'")
          }
        }
        TransformPlugin(s"mask[$arg]", df =>
          specs.foldLeft(df) { case (d, (c, m)) => d.withColumn(c, Mask(col(c), m)) })
      case "route" =>
        val parts = arg.split('/')
        require(parts.length >= 2, s"route needs '<strategy>/<n>', got '$arg'")
        val strategy = parts(0) match {
          case "keymod" => Route.KeyMod
          case "keyhash" => Route.KeyHash
          case "bytype" => Route.ByEventType
          case other => throw new IllegalArgumentException(s"unknown route '$other'")
        }
        RoutePlugin(strategy, parts(1).toInt,
          physical = parts.length > 2 && parts(2) == "physical")
      case other => throw new IllegalArgumentException(s"unknown stage kind '$other'")
    }
  }

  private def parseMaskMode(m: String): Mask.Mode = m match {
    case "sha256" => Mask.Sha256
    case "null" => Mask.NullOut
    case keepRe(k) => Mask.RedactKeepLast(k.toInt)
    case other => throw new IllegalArgumentException(s"unknown mask mode '$other'")
  }
}

package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Order statistics over a run's samples. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile that still has at least 10 samples beyond it:
    * (value, percentile, sample count). Below 11 samples it is the max. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val i = if (s.size >= 11) s.size - 11 else s.size - 1
    (s(i), 100.0 * (i + 1) / s.size, s.size)
  }
}

/** What one workload run reports back to run.py. */
final class Report {
  /** Metric values by name; their units are declared in BENCHMARK.json. */
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L
  /** Extra facts for the report's `info` block (sample counts, phase times). */
  val info = mutable.LinkedHashMap.empty[String, String]

  def metric(name: String, value: Double): Unit = metrics(name) = value

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    attempted += 1
    if (!ok) failed += 1
  }

  def json: String = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def num(d: Double) =
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    val ms = metrics.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString(",")
    val cs = checks.map { case (n, ok, d) =>
      s"{\"name\":${q(n)},\"ok\":$ok,\"detail\":${q(d)}}" }.mkString(",")
    val in = info.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(",")
    s"""{"attempted":$attempted,"failed":$failed,"metrics":{$ms},""" +
      s""""checks":[$cs],"info":{$in}}"""
  }
}

/** Everything a workload needs: its input and scratch directories, the
  * run length, the tracer and the session factory. */
final class Ctx(val inDir: Path, val workDir: Path, val seconds: Double,
                val tracer: Tracer, val report: Report) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  private var session: SparkSession = _

  def spark: SparkSession = session

  /** A fresh local[cpus] session, one per set-up. */
  def newSession(): SparkSession = {
    if (session != null) {
      session.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    session = SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    tracer.attach(session)
    session
  }

  def scratch(name: String): Path = {
    val p = workDir.resolve(name)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
    Files.createDirectories(p)
  }

  def stop(): Unit = if (session != null) session.stop()
}

/** A workload: `setup` runs once per set-up round (after a fresh
  * session), `warmup` once before the measured loop, `iteration` is one
  * measured unit of closed-loop work, and `finish` checks outputs and
  * reports metrics. */
trait Workload {
  def setup(ctx: Ctx): Unit
  /** Unmeasured work before the loop: JIT and codegen caches settle, and
    * outputs that only need checking once are written. */
  def warmup(ctx: Ctx): Unit
  /** One measured unit of work; returns its wall seconds.
    * `ctx.tracer.isActive` tells a traced one. */
  def iteration(ctx: Ctx, i: Int): Double
  /** Measured iterations an untraced run makes at least, whatever
    * `--seconds` says: enough samples for a median. */
  def minIterations: Int = 2
  def finish(ctx: Ctx, iters: Seq[Iter]): Unit
}

/** A measured iteration: its wall seconds and whether it was traced. */
final case class Iter(seconds: Double, traced: Boolean)

/** Usage: Main <workload> <input dir> <work dir> <seconds> <trace 0|1>
  *
  * Writes `report.json` (and, traced, `spans.jsonl`) into the work dir. */
object Main {
  /** The first round is cold (JVM class loading, SparkContext start);
    * the median of three is one of the warm rounds. */
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val Array(name, in, work, secs, trace) = args
    val workDir = Paths.get(work).toAbsolutePath
    Files.createDirectories(workDir)
    val tracer = new Tracer(trace == "1")
    val report = new Report
    val ctx = new Ctx(Paths.get(in).toAbsolutePath, workDir, secs.toDouble,
      tracer, report)
    val w: Workload = name match {
      case "cdc_ingest" => new CdcIngest
      case "query_mix" => new QueryMix
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      val setups = (1 to SetupRounds).map { _ =>
        val t0 = System.nanoTime()
        ctx.newSession()
        w.setup(ctx)
        (System.nanoTime() - t0) / 1e9
      }
      if (!tracer.enabled) report.metric("setup_s", Stats.median(setups))
      report.info("setup_rounds_s") = setups.map(s => f"$s%.3f").mkString(",")
      w.warmup(ctx)
      // A traced run interleaves traced and untraced iterations (traced,
      // untraced, untraced, traced, ...: a steady drift in speed cancels
      // out), so that it measures its own overhead on the same process
      // and inputs.
      val times = mutable.ArrayBuffer.empty[Iter]
      val start = System.nanoTime()
      val minIters = if (tracer.enabled) 4 else w.minIterations
      while (times.size < minIters || (System.nanoTime() - start) / 1e9 < ctx.seconds) {
        val traced = tracer.enabled && (times.size % 4 == 0 || times.size % 4 == 3)
        tracer.setActive(traced)
        val s = w.iteration(ctx, times.size + 1)
        tracer.setActive(false)
        if (traced) tracer.tracedIterations += 1
        times += Iter(s, traced)
      }
      report.info("iterations") = times.size.toString
      report.info("iteration_s") = times.map(t => f"${t.seconds}%.3f").mkString(",")
      tracer.drain()
      w.finish(ctx, times.toSeq)
      if (tracer.enabled) {
        val (on, off) = times.partition(_.traced)
        val (a, b) = (Stats.median(on.map(_.seconds).toSeq),
          Stats.median(off.map(_.seconds).toSeq))
        report.metric("trace.overhead_pct", 100.0 * (a - b) / b)
        tracer.write(workDir.resolve("spans.jsonl"))
      }
    } catch {
      case e: Throwable =>
        report.check("run", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    } finally {
      Files.writeString(workDir.resolve("report.json"), report.json)
      ctx.stop()
    }
  }
}

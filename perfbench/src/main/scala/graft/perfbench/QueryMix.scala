package graft.perfbench

import org.apache.spark.sql.SaveMode

import scala.collection.mutable

import graft.SparkEntry

/** The batch-side closed loop of one client. A pass is one curation pass
  * ([[CurationPass]]) followed by named `SparkEntry.queries` run back to
  * back, each into a noop sink: a streaming family (state store, trigger
  * overhead) and a batch family (planning, driver gap, small shuffles).
  * The warm-up pass writes every query result as parquet instead, and
  * run.py diffs those cell by cell against
  * `SparkEntry.oracleSql` in DuckDB. */
final class QueryMix extends Workload {
  val Stream = Seq("cdc_stream_snapshot")
  val Batch = Seq("q_join_estimate", "q_mad", "q_cube")
  val All: Seq[String] = Stream ++ Batch
  private val curation = new CurationPass

  /** Per measured pass: traced flag, curation seconds, per query (prep ms, exec ms). */
  private case class Pass(traced: Boolean, curationS: Double,
                          queries: Map[String, (Double, Double)]) {
    def queryMs(q: String): Double = queries(q)._1 + queries(q)._2
  }
  private val passes = mutable.ArrayBuffer.empty[Pass]

  def setup(ctx: Ctx): Unit =
    graft.Tables.all.foreach(t => graft.Tables.load(ctx.spark, ctx.inDir.toString, t).schema)

  /** The oracle pass: writes every query result as parquet for run.py's
    * check. */
  def warmup(ctx: Ctx): Unit = {
    pass(ctx, measured = false)
    graft.Verify.writeJson(ctx.workDir.resolve("results").resolve("oracle_sql.json").toString,
      All.map(n => n -> SparkEntry.oracleSql(n)))
  }

  def iteration(ctx: Ctx, i: Int): Double = pass(ctx, measured = true)

  private def pass(ctx: Ctx, measured: Boolean): Double = {
    val dir = ctx.inDir.toString
    val tr = ctx.tracer
    val results = ctx.workDir.resolve("results")
    val t0 = System.nanoTime()
    val curationS = curation.run(ctx)
    val times = All.map { name =>
      tr.span("queries", name) {
        val a = System.nanoTime()
        val df = tr.span("queries", s"$name.prep")(SparkEntry.queries(name)(ctx.spark, dir))
        val b = System.nanoTime()
        tr.span("queries", s"$name.exec") {
          if (measured) df.write.format("noop").mode(SaveMode.Overwrite).save()
          else df.coalesce(1).write.mode(SaveMode.Overwrite)
            .parquet(results.resolve(name).toString)
        }
        name -> ((b - a) / 1e6, (System.nanoTime() - b) / 1e6)
      }
    }.toMap
    if (measured) passes += Pass(tr.isActive, curationS, times)
    (System.nanoTime() - t0) / 1e9
  }

  def finish(ctx: Ctx, iters: Seq[Iter]): Unit = {
    val r = ctx.report
    curation.check(ctx)
    val plain = passes.filterNot(_.traced).toSeq
    def family(names: Seq[String]) = Stats.median(plain.map(p => names.map(p.queryMs).sum / 1000))
    val docsPerS = Stats.median(plain.map(curation.Docs / _.curationS))
    if (!ctx.tracer.enabled) {
      r.metric("run_s", Stats.median(iters.map(_.seconds)))
      r.metric("work_per_s", docsPerS)
      r.metric("latency_p50_ms", Stats.median(plain.flatMap(p => All.map(p.queryMs))))
      r.info("curation_docs_per_s") = docsPerS.toString
      r.info("mix_stream_s") = family(Stream).toString
      r.info("mix_batch_s") = family(Batch).toString
      r.info("query_ms") = All.map(q => f"$q=${Stats.median(plain.map(_.queryMs(q)))}%.0f")
        .mkString(" ")
    } else {
      val tr = ctx.tracer
      val n = tr.tracedIterations.toDouble
      val traced = passes.filter(_.traced).toSeq
      val tops = tr.all.filter(s => (s.layer == "queries" && All.contains(s.name)) ||
        Set("exact_dedup", "neardup", "pack").contains(s.name))
      val perQuery = All.flatMap { q =>
        Seq(s"queries.$q.prep_ms" -> Stats.median(traced.map(_.queries(q)._1)),
          s"queries.$q.exec_ms" -> Stats.median(traced.map(_.queries(q)._2)))
      }
      val engine = Layers.engine(tr, tops, n) // before the diagnostics' jobs
      curation.diagnose(ctx)
      Layers.report(ctx, engine ++
        Layers.streaming(tr.streaming(tops.filter(s => Stream.contains(s.name))), n) ++
        curation.layers(ctx) ++ perQuery ++ Map(
          "curation_docs_per_s" -> docsPerS,
          "mix_stream_s" -> family(Stream),
          "mix_batch_s" -> family(Batch)))
    }
  }
}

package graft.perfbench

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, MinHash, Packing}
import graft.sources.GenDocsSource

/** One curation pass over a `GenDocsSource` corpus: quality filter →
  * exact dedup → MinHash near-dup pairs → shard packing, each stage's
  * output written as parquet under `<work>/curation`. The corpus
  * generator takes no seed: every run curates the same corpus, hot LSH
  * bands included. */
final class CurationPass {
  val Docs = 1500L
  val Threshold = 0.5
  val PackBuckets = 16
  val PackBudget = 2048
  /** Every generated doc scores at least 0.045 (8 tokens, one distinct),
    * so the filter keeps all of them and the closed form below holds. */
  val MinQuality = 0.04

  /** Band census of the survivors: rows, largest bucket, Σ C(n,2). */
  private var band = (0.0, 0.0, 0.0)

  private def kept(ctx: Ctx): DataFrame =
    ctx.spark.read.format("graft.sources.GenDocsSource")
      .option("docs", Docs).option("slices", ctx.cpus).load()
      .where(Curation.qualityScore(col("text")) >= MinQuality)

  private def path(ctx: Ctx, n: String) = ctx.workDir.resolve("curation").resolve(n).toString

  /** Runs the pass; returns its wall seconds. */
  def run(ctx: Ctx): Double = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val t0 = System.nanoTime()
    val docs = kept(ctx)
    tr.span("operators", "exact_dedup") {
      Dedup.exact(docs, "doc_id", "text").select(col("keep_id").as("doc_id"))
        .write.mode(SaveMode.Overwrite).parquet(path(ctx, "survivor_ids"))
    }
    val survivors = docs.join(spark.read.parquet(path(ctx, "survivor_ids")),
      Seq("doc_id"), "left_semi")
    tr.span("operators", "neardup") {
      MinHash.neardupPairs(survivors, "doc_id", "text", Threshold)
        .write.mode(SaveMode.Overwrite).parquet(path(ctx, "pairs"))
    }
    tr.span("operators", "pack") {
      Packing.assignShards(survivors, "doc_id", "text", PackBuckets, PackBudget)
        .write.mode(SaveMode.Overwrite).parquet(path(ctx, "shards"))
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Traced diagnostics, run once after the measured loop so that traced
    * and untraced passes do the same work: the signature stage alone
    * (an `operators` span) and the band-bucket census that sizes the
    * near-dup self-join. */
  def diagnose(ctx: Ctx): Unit = {
    val tr = ctx.tracer
    val survivors = kept(ctx).join(ctx.spark.read.parquet(path(ctx, "survivor_ids")),
      Seq("doc_id"), "left_semi")
    tr.setActive(true)
    try tr.span("operators", "signature") {
      MinHash.signature(survivors, "doc_id", "text").write.format("noop")
        .mode(SaveMode.Overwrite).save()
    } finally tr.setActive(false)
    val b = MinHash.bandRows(MinHash.signature(survivors, "doc_id", "text"))
      .groupBy("band", "bkey").count()
      .agg(sum("count"), max("count"), sum(col("count") * (col("count") - 1) / 2))
      .head()
    band = (b.getLong(0).toDouble, b.getLong(1).toDouble, b.getDouble(2))
  }

  /** Checks the last pass's outputs that Spark can check, and writes the
    * DuckDB oracle SQL run.py diffs the rest against. */
  def check(ctx: Ctx): Unit = {
    val r = ctx.report
    val n = kept(ctx).count()
    r.check("quality_filter_keeps_all", n == Docs, s"kept $n of $Docs")
    val survivors = ctx.spark.read.parquet(path(ctx, "survivor_ids")).count()
    r.check("exact_dedup_closed_form", survivors == Docs - Docs / 4,
      s"$survivors survivors, closed form ${Docs - Docs / 4}")
    graft.Verify.writeJson(path(ctx, "oracle_sql.json"), Map(
      "corpus" -> GenDocsSource.oracleSql(Docs),
      "pairs" -> MinHash.minhashOracleSql("survivors", Threshold),
      "shards" -> Packing.oracleSql("survivors", "doc_id", "text", PackBuckets, PackBudget)))
  }

  /** Operator layer metrics per traced iteration. */
  def layers(ctx: Ctx): Map[String, Double] = {
    val tr = ctx.tracer
    val n = tr.tracedIterations.toDouble
    def ms(name: String) = tr.all.filter(_.name == name).map(_.ms).sum / n
    val signatureMs = tr.all.filter(_.name == "signature").map(_.ms).sum
    val pairs = ctx.spark.read.parquet(path(ctx, "pairs")).count().toDouble
    Map(
      "operators.exact_dedup_ms" -> ms("exact_dedup"),
      "operators.signature_ms" -> signatureMs,
      "operators.neardup_ms" -> ms("neardup"),
      "operators.pack_ms" -> ms("pack"),
      "operators.band_rows" -> band._1,
      "operators.band_max_bucket" -> band._2,
      "operators.candidate_pairs" -> band._3,
      "operators.verified_pairs" -> pairs,
      "operators.verify_yield" -> (if (band._3 > 0) pairs / band._3 else 0.0))
  }
}

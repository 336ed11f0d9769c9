package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.queries.Cdc.FlushFeed
import graft.streaming.{CdcStream, CrawlIngest}

class CrawlIngestSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  private def doc(id: Long, text: String) = (id, text)

  test("crawl flushes dedup in-batch AND across batches; replay converges") {
    val inDir = tmp("crawl-in")
    val flushes = Seq(
      // flush 0: two distinct docs + an in-batch dup of doc 1
      Seq(doc(1, "alpha beta"), doc(2, "gamma delta"), doc(3, "alpha beta")),
      // flush 1: one new doc + a cross-batch dup of flush 0's content
      Seq(doc(10, "epsilon zeta"), doc(11, "gamma delta")),
      // flush 2: all dups
      Seq(doc(20, "alpha beta"), doc(21, "epsilon zeta")))
    flushes.zipWithIndex.foreach { case (docs, i) =>
      FlushFeed.append(docs.toDF("doc_id", "text"), inDir, i)
    }

    val (corpusDir, ledgerDir) = (tmp("crawl-corpus"), tmp("crawl-ledger"))
    val schema = Seq(doc(0, "x")).toDF("doc_id", "text").schema
    val q = CrawlIngest.start(
      CdcStream.fromParquetDir(spark, inDir, schema),
      "doc_id", "text", corpusDir, ledgerDir, tmp("ckpt"))
    q.awaitTermination()

    val corpus = spark.read.parquet(corpusDir)
    // exactly one row per distinct content, min-id representative wins
    assert(corpus.count() === 3)
    assert(corpus.select("doc_id").as[Long].collect().toSet === Set(1L, 2L, 10L))
    // ledger mirrors the corpus contents 1:1
    assert(spark.read.parquet(ledgerDir).distinct().count() === 3)

    // replaying the SAME flushes through a fresh checkpoint must be a
    // no-op: every digest is already in the ledger
    val q2 = CrawlIngest.start(
      CdcStream.fromParquetDir(spark, inDir, schema),
      "doc_id", "text", corpusDir, ledgerDir, tmp("ckpt2"))
    q2.awaitTermination()
    assert(spark.read.parquet(corpusDir).count() === 3,
      "replay must not duplicate corpus content")
  }

  test("near-dup crawl ingestion drops paraphrased cross-batch content " +
    "the exact digest misses; replay converges") {
    val inDir = tmp("ncrawl-in")
    val base = (0 until 30).map(i => s"tok$i").mkString(" ")
    // paraphrase: one word swapped -> high Jaccard, different digest
    val paraphrase = base.replace("tok7", "newtok")
    val novel = (100 until 130).map(i => s"other$i").mkString(" ")
    val flushes = Seq(
      Seq(doc(1, base)),
      // flush 1: a paraphrase of flush 0 + a genuinely novel doc
      Seq(doc(10, paraphrase), doc(11, novel)),
      // flush 2: paraphrase of the novel doc
      Seq(doc(20, novel.replace("other105", "x"))))
    flushes.zipWithIndex.foreach { case (docs, i) =>
      FlushFeed.append(docs.toDF("doc_id", "text"), inDir, i)
    }
    val (corpusDir, bandsDir) = (tmp("ncrawl-corpus"), tmp("ncrawl-bands"))
    val schema = Seq(doc(0, "x")).toDF("doc_id", "text").schema
    val q = CrawlIngest.startNearDup(
      CdcStream.fromParquetDir(spark, inDir, schema),
      "doc_id", "text", threshold = 0.5, corpusDir, bandsDir, tmp("nck"))
    q.awaitTermination()
    val corpus = spark.read.parquet(corpusDir)
    // paraphrases (10, 20) dropped; base + novel survive
    assert(corpus.select("doc_id").as[Long].collect().toSet === Set(1L, 11L),
      corpus.collect().mkString(", "))
    // replay: every survivor now matches the band ledger at jaccard 1.0
    val q2 = CrawlIngest.startNearDup(
      CdcStream.fromParquetDir(spark, inDir, schema),
      "doc_id", "text", threshold = 0.5, corpusDir, bandsDir, tmp("nck2"))
    q2.awaitTermination()
    assert(spark.read.parquet(corpusDir).count() === 2,
      "replay must not duplicate corpus content")
  }
}

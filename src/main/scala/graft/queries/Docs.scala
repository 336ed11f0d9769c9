package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{SetOps, Text}
import graft.operators.{AnnEval, AnnLsh, Bigram, Bm25, Bpe, Chunking, Curation, Decontaminate, Dedup, Drift, Dsir, Fuzzy, Graph, KMeans, LogReg, MinHash, Packing, Pca, Pq, Provenance, Quantize, Sampling, SimHash, Similarity, Unigram}
import graft.sources.Layout
import graft.streaming.CrawlIngest
import graft.queries.{Cdc => CdcQ}

/** LLM-training-data pipeline operators (SURVEY.md §2.C) with DuckDB
  * oracles — dedup, similarity search, text analysis over the synthetic
  * `documents` / `embeddings` tables.
  *
  * Engine-parity rules (SURVEY.md §6): integer outputs cast to long,
  * doubles rounded to 4 decimals at the boundary, ranking done on
  * round(x, 9) + id tiebreak, digests as sha256 hex.
  */
object Docs {

  /** Shared cosine fragment for the DuckDB oracles (double math; DuckDB
    * folds lists sequentially just like Spark's `aggregate`). */
  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  private def langHitsSqlOn(texpr: String): String =
    Text.stopwords.map { case (lang, words) =>
      val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(string_split(lower($texpr), ' '), t -> list_contains($arr, t)))::BIGINT AS hits_$lang"
    }.mkString(",\n|       ")
  private val langHitsSql: String = langHitsSqlOn("text")

  /** Split spec / stratified-mix rates / decontamination + repetition
    * thresholds shared by the Spark plans AND the generated oracle SQL
    * (same constants, engines can't drift). */
  private val splitSpec = Seq("train" -> 80, "valid" -> 10, "test" -> 10)
  private val langMixPct = Map("en" -> 20, "zh" -> 60)
  private val defaultMixPct = 40
  private val deconN = 3
  private val deconMinOverlap = 5
  private val evalMod = 20
  private val dupFracMax = 0.2
  private val budgetTokens = 10000L
  private val budgetTokensPerSource = 3000L
  private val fuzzyThreshold = 0.5

  /** `doc_gen_dedup` corpus size — 20k by default (what the driver
    * verifies); SPARK_GRAFT_GEN_DOCS scales the SAME query for local
    * throughput curves (plan and generated oracle both read it, so
    * parity holds at any size — BENCH_NOTES.md). */
  private val genDocsRows: Long =
    sys.env.get("SPARK_GRAFT_GEN_DOCS").map(_.toLong).getOrElse(20000L)
  // BM25 probe set: corpus-frequent terms plus absent ones
  // ("watermark", "predicate") so the missing-term path (term absent
  // from postings → contributes nothing, both engines) is exercised.
  private val bm25Queries = Seq(
    "q_join"   -> "hash join merge",
    "q_stream" -> "stream window watermark agg",
    "q_scan"   -> "vector scan filter predicate")
  private val bm25K = 10
  // k=6 isolates the planted shared runs at every SF (k=3 drowns in
  // vocabulary-level coincidence on the ~30-word synthetic lexicon)
  private val dupSpanK = 6
  // Deterministic frozen projection directions (C58's fixed-direction
  // demo) — same values inlined into the oracle's VALUES list.
  // (lazy: kmDim is declared further down this object body)
  private lazy val pcaDirs: Seq[Seq[Double]] = (0 until 3).map { k =>
    (0 until kmDim).map(j => ((k * 29 + j * 11) % 11 - 5) / 5.0)
  }
  /** C87 Gopher/C4-style rule thresholds — every comparison is done on
    * exact integers in BOTH engines (`S·x <= C·n` instead of
    * `x/n <= C/S`), so no float ratio crosses the engine boundary. */
  private val gopherWcMin = 20L     // token-count lower bound
  private val gopherWcMax = 80L     // token-count upper bound
  private val gopherMwlMin = 3L     // mean word length lower bound
  private val gopherMwlMax = 6L     // mean word length upper bound
  private val gopherTopPct = 12L    // top-word fraction cap, percent
  private val gopherStopMin = 2L    // min stopword hits (any language)

  /** C88 compaction target bytes per planned output file. */
  private val compactTarget = 4096L

  /** C89 epoch-plan budget + repeat cap (Muennighoff-style ≤4 epochs). */
  private val epochPlanBudget = 100000L
  private val epochPlanMax = 4

  private val mixAlpha = 0.5
  private val mixBudget = 1000000L
  private val chunkTokens = 16
  private val chunkStride = 8

  /** Fixed k-means centroids for the assignment-step query — a pure
    * function of (k, j) so the Spark literals and the DuckDB list
    * literals are generated from the same constants. */
  private val kmK = 4
  private val kmDim = 64
  private def kmCentroid(k: Int): Seq[Double] =
    (0 until kmDim).map(j => ((k * 31 + j * 17) % 13 - 6) / 6.0)
  private def kmScoreSql(k: Int): String =
    s"round(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), ${kmCentroid(k).mkString("[", ", ", "]")}), 9)"
  /** Leftmost-argmax CASE chain (same chain in both engines): the first
    * k whose score is >= every later score is the (min-index) argmax. */
  private def kmCaseSql: String = (0 until kmK - 1).map { k =>
    val conds = ((k + 1) until kmK).map(j => s"s$k >= s$j").mkString(" AND ")
    s"WHEN $conds THEN $k"
  }.mkString("CASE ", " ", s" ELSE ${kmK - 1} END")

  /** Column form of [[kmCaseSql]] over already-projected s0..s{k-1}
    * score columns — shared by the assignment query and SemDeDup. */
  private def kmArgmaxCol: Column =
    (0 until kmK - 1).foldRight(lit((kmK - 1).toLong): Column) {
      case (k, acc) =>
        val geAllLater = ((k + 1) until kmK)
          .map(j => col(s"s$k") >= col(s"s$j")).reduce(_ && _)
        when(geAllLater, lit(k.toLong)).otherwise(acc)
    }

  /** Per-vector centroid-score columns s0..s{k-1} (round(dot, 9), the
    * same fragment [[kmScoreSql]] emits for DuckDB). */
  private def kmScoreCols: Seq[Column] = {
    val emb = graft.functions.Vectors.toDouble(col("embedding"))
    (0 until kmK).map(k =>
      round(graft.functions.Vectors.dot(
        emb, array(kmCentroid(k).map(lit): _*)), 9).as(s"s$k"))
  }

  /** SemDeDup within-cluster cosine threshold (shared with the oracle). */
  private val semThreshold = 0.35

  /** DuckDB regexp_replace chain generated from the SAME
    * [[Text.piiPatterns]] (global flag; single quotes escaped; SQL
    * string literals keep backslashes verbatim so the regexes transfer
    * unchanged). */
  private def scrubSql(expr0: String): String =
    Text.piiPatterns.foldLeft(expr0) { case (e, (re, tag)) =>
      s"regexp_replace($e, '${re.replace("'", "''")}', '$tag', 'g')"
    }

  /** Shared recursive-CTE components oracle for both connected-component
    * implementations (min-label and star rounds — same contract). */
  private def neardupClustersOracle: String =
    s"""WITH RECURSIVE pairs AS (
      |  SELECT id_a, id_b FROM (${MinHash.minhashOracleSql("documents", 0.5)}) mm),
      |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
      |          UNION ALL SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT a AS doc_id, a AS cluster_id FROM edges
      |  UNION
      |  SELECT e.a, r.cluster_id FROM edges e JOIN reach r ON e.b = r.doc_id)
      |SELECT doc_id, min(cluster_id) AS cluster_id
      |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB fragment mirroring [[Text.dupNgramFrac]] over `t` (the
    * string_split token list): same grams, same md5-prefix hash. */
  private def dupFracSql(n: Int): String = {
    val gram = (0 until n).map(o => s"t[i+$o]").mkString(" || ' ' || ")
    s"""round(CASE WHEN len(t) >= $n THEN
       |    1.0 - len(list_distinct(list_transform(
       |      [$gram for i in generate_series(1, len(t)-${n - 1})],
       |      x -> ('0x'||substr(md5(x),1,8))::BIGINT)))
       |      / (len(t) - ${n - 1}) ELSE 0.0 END, 4)""".stripMargin
  }

  /** C87 per-doc rule flags (0/1 longs) — shared by `doc_gopher_rules`
    * and `doc_gopher_report`. All comparisons integer-exact. */
  private def gopherFlags(docs: DataFrame): DataFrame = {
    val n = Text.wsTokenCount(col("text"))
    val letters = length(regexp_replace(col("text"), " ", "")).cast("long")
    val nUniq = size(array_distinct(Text.tokens(col("text")))).cast("long")
    val top = Text.topTokenCount(col("text"))
    val hits = Text.allLangHits(col("text"))
    val stopHits = Text.stopwords.indices
      .map(i => element_at(hits, i + 1)).reduce(_ + _)
    def flag(c: Column): Column = when(c, lit(1L)).otherwise(lit(0L))
    docs.select(col("doc_id"), col("source"), n.as("n_tokens"),
        flag(n.between(gopherWcMin, gopherWcMax)).as("wc_ok"),
        flag(letters >= lit(gopherMwlMin) * n
          && letters <= lit(gopherMwlMax) * n).as("mwl_ok"),
        flag(nUniq * 2 >= n).as("uniq_ok"),
        flag(top * 100 <= lit(gopherTopPct) * n).as("top_ok"),
        flag(stopHits >= gopherStopMin).as("stop_ok"))
      .withColumn("pass", col("wc_ok") * col("mwl_ok") * col("uniq_ok")
        * col("top_ok") * col("stop_ok"))
  }

  /** DuckDB mirror of [[gopherFlags]] — a WITH body ending in relation
    * `gf(doc_id, source, n_tokens, wc_ok, …, pass)`. */
  private def gopherFlagsSql: String = {
    val stopHits = Text.stopwords.map { case (_, words) =>
      val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(string_split(lower(text), ' '), t -> list_contains($arr, t)))"
    }.mkString("(", " + ", ")")
    s"""WITH tk AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS ws,
       |    len(string_split(text, ' '))::BIGINT AS n,
       |    length(replace(text, ' ', ''))::BIGINT AS letters,
       |    len(list_distinct(string_split(text, ' ')))::BIGINT AS n_uniq,
       |    $stopHits::BIGINT AS stop_hits
       |  FROM documents),
       |top AS (
       |  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_count FROM (
       |    SELECT doc_id, tok, count(*) AS c
       |    FROM tk, unnest(ws) AS u(tok) GROUP BY doc_id, tok)
       |  GROUP BY doc_id),
       |gf AS (
       |  SELECT tk.doc_id, source, n AS n_tokens,
       |    (CASE WHEN n BETWEEN $gopherWcMin AND $gopherWcMax THEN 1 ELSE 0 END)::BIGINT AS wc_ok,
       |    (CASE WHEN letters >= $gopherMwlMin * n AND letters <= $gopherMwlMax * n THEN 1 ELSE 0 END)::BIGINT AS mwl_ok,
       |    (CASE WHEN 2 * n_uniq >= n THEN 1 ELSE 0 END)::BIGINT AS uniq_ok,
       |    (CASE WHEN 100 * top_count <= $gopherTopPct * n THEN 1 ELSE 0 END)::BIGINT AS top_ok,
       |    (CASE WHEN stop_hits >= $gopherStopMin THEN 1 ELSE 0 END)::BIGINT AS stop_ok
       |  FROM tk JOIN top ON tk.doc_id = top.doc_id)""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // C20: deterministic train/valid/test split — md5-bucket on doc_id,
    // a scan-local projection (no shuffle until the audit agg; the split
    // itself is free at 100 TB and stable under re-crawls/appends)
    "doc_split" -> ((s, dir) => {
      Sampling.assignSplit(Tables.documents(s, dir), "doc_id", splitSpec)
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("split")
    }),

    // C63: LEAKAGE-SAFE split — near-dup clusters go WHOLE into one
    // split by hashing the cluster representative (component-min
    // doc_id); docs inherit the rep's bucket. The plain per-doc split
    // scatters paraphrase duplicates across train/eval — the classic
    // contamination path a dedup pass alone doesn't close when near-
    // dups are deliberately kept. Cost over doc_split: the near-dup
    // pair stage (banded, never all-pairs) + one left join; the split
    // itself stays a scan-local hash.
    "doc_split_leakage_safe" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val labels = Dedup.clusters(
        MinHash.neardupPairs(docs, idCol = "doc_id", textCol = "text",
          threshold = 0.5))
      val withRep = docs.join(labels, Seq("doc_id"), "left")
        .withColumn("rep_id", coalesce(col("cluster_id"), col("doc_id")))
      Sampling.assignSplit(withRep, "rep_id", splitSpec)
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("cluster_id").isNotNull, 1L).otherwise(0L))
            .as("n_clustered"),
          count_distinct(col("rep_id")).as("n_groups"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("split")
    }),

    // C76: deterministic epoch shuffle + shard assignment — the
    // training-order manifest (shard in [0,8), position within shard)
    // derived ONLY from (epoch, doc_id) via the portable md5 prefix:
    // re-runs/engines/appends reproduce the exact order, a different
    // epoch decorrelates it. Both hashes are scan-local; the one
    // exchange is the per-shard window a sharded writer needs anyway.
    "doc_epoch_shuffle" -> ((s, dir) => {
      Sampling.epochShuffle(Tables.documents(s, dir), "doc_id",
          epoch = 1, nShards = 8)
        .orderBy("shard", "pos")
    }),

    // C96: content-addressed shard manifest — the Merkle-leaf table a
    // versioned dataset release ships: per C76 shard, doc count, bytes,
    // and a manifest digest = sha256 over the ORDERED per-doc content
    // digests (order = the shard's training order, so the manifest
    // certifies both content AND order; two releases diff shard-by-
    // shard on one 32-byte value). Per-doc digests are scan-local; the
    // per-shard fold is a sort_array(collect_list) over ≤|corpus|/shards
    // digests — bounded by shard sizing, the same exchange the shard
    // writer performs anyway.
    "doc_shard_manifest" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val shuf = Sampling.epochShuffle(d, "doc_id", epoch = 1, nShards = 8)
      d.select(col("doc_id"), col("n_chars"),
          sha2(col("text"), 256).as("digest"))
        .join(shuf, "doc_id")
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("bytes"),
          sha2(concat_ws("", transform(
            sort_array(collect_list(struct(col("pos"), col("digest")))),
            t => t("digest"))), 256).as("manifest_sha"))
        .orderBy("shard")
    }),

    // C77: curriculum ordering — the stage-major, shard-parallel
    // training order a paced run consumes: per-SOURCE difficulty
    // quartile (ntile under a (score, id) total order, partitioned by
    // source so no global window), md5 shard, then sources round-robin-
    // interleaved within each (stage, shard) stream (rank within the
    // source's stream, then interleave by (rank, source)). Every window
    // partitions on keys whose cardinality the caller scales (stage ×
    // shard × source), so no partition approaches corpus size; the
    // score is the C30 quality proxy, scan-local.
    "doc_curriculum" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Text.tokens(col("text"))
      val nTokens = size(toks).cast("long")
      val nUniq = size(array_distinct(toks)).cast("long")
      val score = round(least(lit(1.0), nTokens.cast("double") / 100.0)
        * (lit(0.5) + lit(0.5) * (nUniq.cast("double") / nTokens)), 4)
      val id = col("doc_id").cast("string")
      val stageW = Window.partitionBy(col("source"))
        .orderBy(desc("score"), col("doc_id"))
      val staged = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), score.as("score"),
          pmod(MinHash.hash32(concat(lit("cshard:"), id)), lit(4L))
            .as("shard"),
          MinHash.hash32(concat(lit("cur:"), id)).as("__ok"))
        .withColumn("stage", ntile(4).over(stageW).cast("long"))
      val rrW = Window.partitionBy(col("stage"), col("shard"), col("source"))
        .orderBy(col("__ok"), col("doc_id"))
      val posW = Window.partitionBy(col("stage"), col("shard"))
        .orderBy(col("rr"), col("source"), col("doc_id"))
      staged.withColumn("rr", row_number().over(rrW).cast("long"))
        .withColumn("pos", row_number().over(posW).cast("long"))
        .select(col("doc_id"), col("stage"), col("shard"), col("source"),
          col("pos"))
        .orderBy("stage", "shard", "pos")
    }),

    // C82: MinHash calibration — per banded candidate pair, the
    // signature-slot Jaccard ESTIMATE next to the exact shingle
    // Jaccard + absolute error: the sketch-quality gate consulted
    // before trusting k=16 signatures (C74's recall report, but for
    // the dedup sketches). Same plan shape as C2; both ratios are
    // exact small-integer divisions, engine-exact after round(4).
    "doc_minhash_calibration" -> ((s, dir) => {
      MinHash.calibration(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("id_a", "id_b")
    }),

    // C81: SFT chat-template assembly + loss-mask offsets — the
    // formatting pass that turns raw text into instruction-tuning rows:
    // deterministic prompt/response split (first ⌈n/2⌉ tokens prompt,
    // rest response), chat-template wrap, and the [mask_start, mask_end)
    // character span a trainer masks loss OUTSIDE of (only the response
    // is supervised). Everything is scan-local string/integer math —
    // zero shuffles at any corpus size; the formatted text crosses the
    // engine boundary as its sha256 so the driver hash stays row-sized.
    "doc_chat_format" -> ((s, dir) => {
      val n = size(split(col("text"), " ")).cast("long")
      val kL = expr("CAST((size(split(text, ' ')) + 1) DIV 2 AS INT)")
      val prompt =
        array_join(slice(split(col("text"), " "), lit(1), kL), " ")
      val response = array_join(
        slice(split(col("text"), " "), kL + lit(1), lit(1000000)), " ")
      val pre = concat(lit("<|user|>\n"), prompt, lit("\n<|assistant|>\n"))
      val formatted = concat(pre, response)
      Tables.documents(s, dir).select(
          col("doc_id"),
          kL.cast("long").as("n_prompt_tokens"),
          (n - kL).cast("long").as("n_response_tokens"),
          length(pre).cast("long").as("mask_start"),
          length(formatted).cast("long").as("mask_end"),
          sha2(formatted.cast("binary"), 256).as("digest"))
        .orderBy("doc_id")
    }),

    // C84: fill-in-middle (FIM) transform — the PSM reordering used to
    // train infilling (prefix/suffix visible, middle predicted):
    // deterministic token-third split (exact integer ceil-div both
    // engines), assembly '<|fim_pre|>'+prefix+'<|fim_suf|>'+suffix+
    // '<|fim_mid|>'+middle, and the [mask_start, mask_end) char span a
    // trainer supervises (loss on the middle only). All scan-local
    // string/array math — zero shuffles at any corpus size; assembled
    // text crosses the engine boundary as sha256 (the C81 convention).
    "doc_fim" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val n = size(toks).cast("long")
      val k1 = expr("CAST((size(split(text, ' ')) + 2) DIV 3 AS INT)")
      val k2 = expr("CAST((2 * size(split(text, ' ')) + 2) DIV 3 AS INT)")
      val prefix = array_join(slice(toks, lit(1), k1), " ")
      val middle = array_join(slice(toks, k1 + lit(1), k2 - k1), " ")
      val suffix = array_join(slice(toks, k2 + lit(1), lit(1000000)), " ")
      val head = concat(lit("<|fim_pre|>"), prefix,
        lit("<|fim_suf|>"), suffix, lit("<|fim_mid|>"))
      val assembled = concat(head, middle)
      Tables.documents(s, dir).select(
          col("doc_id"),
          k1.cast("long").as("n_prefix_tokens"),
          (k2 - k1).cast("long").as("n_middle_tokens"),
          (n - k2).cast("long").as("n_suffix_tokens"),
          length(head).cast("long").as("mask_start"),
          length(assembled).cast("long").as("mask_end"),
          sha2(assembled.cast("binary"), 256).as("digest"))
        .orderBy("doc_id")
    }),

    // C78: character-entropy noise screen — per-doc Shannon entropy of
    // the char distribution (nats, e9 ladder): base64/binary blobs and
    // key-mash spike high, template/repetition rows sink low — the
    // orthogonal complement to C36's token-level quality score. The
    // histogram lives inside ONE codegen'd expression (CharEntropyE9),
    // so the whole screen is a zero-shuffle scan projection; the
    // declarative explode→groupBy form would shuffle |docs|×|alphabet|
    // rows (equivalence pinned in KernelSpec).
    "doc_char_entropy" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          size(array_distinct(split(col("text"), ""))).cast("long")
            .as("n_distinct"),
          SetOps.charEntropyE9(col("text")).as("entropy_e9"))
        .orderBy("doc_id")
    }),

    // C21: stratified deterministic sample — per-language keep rates
    // (training-mix rebalance) as a scan-local filter, engine-portable
    "doc_sample_stratified" -> ((s, dir) => {
      Sampling.stratifiedSample(Tables.documents(s, dir), "doc_id",
          "lang", langMixPct, defaultMixPct)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    }),

    // C30: token-budget corpus selection — best-quality docs until the
    // token budget is spent. The running total is a banded prefix sum
    // (partitioned window + broadcast band offsets), never one global
    // unpartitioned window; see Sampling.budgetSelect for the shape.
    "doc_budget_select" -> ((s, dir) => {
      val toks = Text.tokens(col("text"))
      val nTokens = size(toks).cast("long")
      val nUniq = size(array_distinct(toks)).cast("long")
      val score = round(least(lit(1.0), nTokens.cast("double") / 100.0)
        * (lit(0.5) + lit(0.5) * (nUniq.cast("double") / nTokens)), 4)
      val scored = Tables.documents(s, dir).select(
        col("doc_id"), nTokens.as("n_tokens"), score.as("score"))
      Sampling.budgetSelect(scored, "doc_id", "score", "n_tokens",
          budget = budgetTokens)
        .select(col("doc_id"), col("n_tokens"), col("score"),
          col("cum_weight").as("cum_tokens"))
        .orderBy(desc("score"), col("doc_id"))
    }),

    // C30 per-source variant: every source gets its OWN token cap —
    // the "domain cap" mix rule (no single domain may exceed B tokens
    // in the training set), filled best-quality-first within each
    // source. Same banded prefix sum as doc_budget_select with every
    // window keyed by (source, band): parallelism grows with the
    // number of domains, offsets stay broadcast-size.
    "doc_budget_by_source" -> ((s, dir) => {
      val toks = Text.tokens(col("text"))
      val nTokens = size(toks).cast("long")
      val nUniq = size(array_distinct(toks)).cast("long")
      val score = round(least(lit(1.0), nTokens.cast("double") / 100.0)
        * (lit(0.5) + lit(0.5) * (nUniq.cast("double") / nTokens)), 4)
      val scored = Tables.documents(s, dir).select(
        col("doc_id"), col("source"), nTokens.as("n_tokens"),
        score.as("score"))
      Sampling.budgetSelectPerStratum(scored, "doc_id", "score",
          "n_tokens", "source", budget = budgetTokensPerSource)
        .select(col("source"), col("doc_id"), col("n_tokens"),
          col("score"), col("cum_weight").as("cum_tokens"))
        .orderBy(col("source"), desc("score"), col("doc_id"))
    }),

    // C64: quality-percentile pruning — keep the top 40% of each
    // source by quality score, selected by EXACT integer rank
    // (rank ≤ ceil(n·40/100) under score-desc, doc_id order) so both
    // engines agree on every boundary row. Banded prefix-sum ranks: a
    // huge source sorts as `bands` independent partitions, never one
    // hot reducer. Report: per-source kept/total, the kept-score
    // floor, and kept bytes.
    "doc_prune_quality" -> ((s, dir) => {
      val toks = Text.tokens(col("text"))
      val nTokens = size(toks).cast("long")
      val nUniq = size(array_distinct(toks)).cast("long")
      val score = round(least(lit(1.0), nTokens.cast("double") / 100.0)
        * (lit(0.5) + lit(0.5) * (nUniq.cast("double") / nTokens)), 4)
      val scored = Tables.documents(s, dir).select(
        col("doc_id"), col("source"), col("n_chars"), score.as("score"))
      val kept = Sampling.topPctPerStratum(scored, "doc_id", "score",
          "source", keepPct = 40)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          min(col("score")).as("min_kept_score"),
          sum(col("n_chars")).as("kept_chars"))
      scored.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .join(kept, "source")
        .select(col("source"), col("n_docs"), col("n_kept"),
          col("min_kept_score"), col("kept_chars"))
        .orderBy("source")
    }),

    // C31: layout round-trip — the corpus (minus text: layout is about
    // key clustering, not payload) goes to disk through each layout
    // writer (range-sorted on doc_id, hive-partitioned on lang,
    // z-ordered on (doc_id, n_chars)), is read back through the
    // pruning predicate that layout exists to serve, and aggregated.
    // The oracle runs the same predicates on the RAW table, so hash
    // parity proves every writer is lossless under reshuffling —
    // file-skip behavior itself is pinned separately by LayoutSpec's
    // disjoint-range/pruned-listing assertions (can't be expressed in
    // SQL; it's a physical property).
    "doc_layout_roundtrip" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select("doc_id", "lang", "source", "n_chars")
      def leg(tag: String)(write: String => Unit): DataFrame = {
        val path = scratchPath(dir, s"layout_$tag")
        write(path)
        s.read.parquet(path).withColumn("leg", lit(tag))
      }
      val range = leg("range") { p =>
          Layout.writeRangeSorted(d, "doc_id", 8, p)
        }.where(col("doc_id").between(100L, 2000L))
      val hive = leg("hive") { p =>
          Layout.writeHivePartitioned(d, "lang", p)
        }.where(col("lang") === "en")
      val z = leg("zorder") { p =>
          Layout.writeZOrdered(d, "doc_id", "n_chars", 8, p)
        }.where(col("doc_id").between(100L, 2000L)
          && col("n_chars").between(200L, 800L))
      Seq(range, hive, z).map(_.groupBy("leg").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          count_distinct(col("source")).as("n_sources")))
        .reduce(_ unionAll _)
        .orderBy("leg")
    }),

    // C43: streaming crawl ingestion, oracle-checked — the corpus
    // arrives as three doc_id-ordered crawl flushes; each micro-batch
    // in-batch-dedups (min-id per distinct content), anti-joins its
    // digests against the persistent ledger, appends digests then rows.
    // With id-ordered arrival the accepted set is exactly "min doc_id
    // per distinct text", which the oracle states directly — so parity
    // proves the ledger protocol (digest-before-corpus, cross-batch
    // anti-join) admits each content exactly once, through a real
    // stream → ledger → corpus cycle. (The near-dup variant A34 is
    // oracle-backed by doc_crawl_neardup below.)
    // C120: crawl-frontier politeness scheduler — the batch planner
    // feeding C43's crawl ingestion: discovered URLs minus the crawl
    // ledger (doc_id%5=0 already fetched — one anti-join), hosts from
    // the C117 url synthesis (97 hosts), priority = longest-first
    // (n_chars desc, doc_id), per-host politeness delay 5+(host%7)s,
    // budget 4 pages per host per 3600 s cycle. One window per host +
    // scan-local CASE arithmetic — the shuffle-by-host is also the
    // fetcher fleet's partitioning (host-affine connections). The
    // oracle re-derives ledger, ranks, cycles, and fetch times in SQL.
    "doc_crawl_frontier" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val pending = d.where(col("doc_id") % 5 =!= 0)
        .withColumn("host", col("doc_id") % 97)
        .withColumn("delay_s", lit(5L) + col("host") % 7)
      graft.operators.Frontier.schedule(pending, "host", "delay_s",
          orderCols = Seq(col("n_chars").desc, col("doc_id")),
          budgetPerCycle = 4, cyclePeriodS = 3600L)
        .select(col("doc_id"), col("host"), col("fetch_rank"),
          col("fetch_cycle"), col("fetch_at_s"))
        .orderBy("doc_id")
    }),

    "doc_crawl_ingest" -> ((s, dir) => CdcQ.withStreamPartitions(s) {
      val d = Tables.documents(s, dir)
      val inDir = CdcQ.streamSliceDir(s, d, dir, slices = 3,
        orderCols = Seq(col("doc_id")), tag = "crawl_in")
      val corpusDir = CdcQ.freshScratch(dir, "crawl_corpus")
      val ledgerDir = CdcQ.freshScratch(dir, "crawl_ledger")
      CdcQ.drainOnce(CrawlIngest.start(
        graft.streaming.CdcStream.fromParquetDir(s, inDir, d.schema),
        "doc_id", "text", corpusDir, ledgerDir, _))
      val corpus = s.read.parquet(corpusDir)
      val ledgerN = s.read.parquet(ledgerDir).distinct().count()
      corpus.select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), lit(ledgerN).as("n_ledger"))
        .orderBy("doc_id")
    }),

    // C103+C43: streaming crawl ingestion over the GENERATED corpus —
    // the zero-I/O GenDocsSource micro-batch stream (AvailableNow,
    // multi-flush) drives the SAME ledger protocol as doc_crawl_ingest:
    // in-batch dedup, digest anti-join against the accumulating ledger,
    // digests-then-rows appends. Offsets walk upward so arrival is
    // id-ordered and no planted dup group straddles a flush boundary
    // (bases are ≡0 mod 4; flush edges are multiples of 4096), hence
    // the accepted set is exactly "min doc_id per distinct text" over
    // the generated relation — which the oracle states directly over
    // the generate_series re-derivation. Parity proves the streaming
    // ledger cycle admits each generated content exactly once.
    "doc_gen_crawl_ingest" -> ((s, dir) => CdcQ.withStreamPartitions(s) {
      val stream = s.readStream.format("graft.sources.GenDocsSource")
        .option("docs", 20000).option("docsPerBatch", 4096)
        .option("slices", 8).load()
      val corpusDir = CdcQ.freshScratch(dir, "gen_crawl_corpus")
      val ledgerDir = CdcQ.freshScratch(dir, "gen_crawl_ledger")
      CdcQ.drainOnce(CrawlIngest.start(stream, "doc_id", "text",
        corpusDir, ledgerDir, _))
      val corpus = s.read.parquet(corpusDir)
      val ledgerN = s.read.parquet(ledgerDir).distinct().count()
      corpus.select(col("doc_id"), col("source"),
          lit(ledgerN).as("n_ledger"))
        .orderBy("doc_id")
    }),

    // A34: streaming NEAR-dup crawl ingestion, oracle-checked — the
    // band-ledger sibling of doc_crawl_ingest. The accept set is an
    // arrival-order greedy over band collisions, but the recursion is
    // only FLUSH-deep (a batch checks against survivors of strictly
    // earlier flushes), so for the fixed 3-flush plan the oracle
    // unrolls it into three nested accept CTEs
    // (MinHash.crawlNearDupOracleSql). Parity proves the full
    // stream → band-ledger → corpus cycle: in-batch exact dedup,
    // cross-flush banded candidate generation, exact-Jaccard verify,
    // survivors-only ledger appends.
    "doc_crawl_neardup" -> ((s, dir) => CdcQ.withStreamPartitions(s) {
      val d = Tables.documents(s, dir)
      val inDir = CdcQ.streamSliceDir(s, d, dir, slices = 3,
        orderCols = Seq(col("doc_id")), tag = "crawlnd_in")
      val corpusDir = CdcQ.freshScratch(dir, "crawlnd_corpus")
      val bandsDir = CdcQ.freshScratch(dir, "crawlnd_bands")
      CdcQ.drainOnce(CrawlIngest.startNearDup(
        graft.streaming.CdcStream.fromParquetDir(s, inDir, d.schema),
        "doc_id", "text", threshold = 0.5, corpusDir, bandsDir, _))
      val corpus = s.read.parquet(corpusDir)
      val nBands = s.read.parquet(bandsDir).count()
      corpus.select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), lit(nBands).as("n_bands"))
        .orderBy("doc_id")
    }),

    // C42: fixed-size per-stratum draw — 5 docs from EVERY source
    // (balanced review/eval set); md5-rank window per stratum, bounded
    // top-n, append-stable
    "doc_sample_per_source" -> ((s, dir) => {
      Sampling.perStratumSample(Tables.documents(s, dir), "doc_id",
          "source", 5)
        .select(col("source"), col("draw"), col("doc_id"), col("lang"))
        .orderBy("source", "draw")
    }),

    // C45: weighted sampling without replacement (A-Res) — longer docs
    // favored (weight = n_chars), stable across runs/engines/appends;
    // scan-local key + TakeOrderedAndProject global top-n
    "doc_sample_weighted" -> ((s, dir) => {
      Sampling.weightedSample(Tables.documents(s, dir), "doc_id",
          col("n_chars"), 500)
        .orderBy(desc("sel_key"), col("doc_id"))
        .select(col("doc_id"), col("n_chars"),
          // + 0.0 normalizes IEEE negative zero: Spark rounds a tiny
          // negative key to 0.0, DuckDB to -0.0, and the driver hashes
          // the string form (same trap as q_stats_agg, r4).
          (round(col("sel_key"), 4) + lit(0.0)).as("sel_key_r4"))
    }),

    // C32: temperature-scaled domain-mixture weights — per-source
    // sampling weight ∝ n_tokens^alpha plus epochs toward a token
    // budget (the Pile/ROOTS mixture rule). One partial-agg corpus
    // pass down to |sources| rows; all weight math on the tiny agg.
    "doc_mixture" -> ((s, dir) => {
      Sampling.mixtureWeights(Tables.documents(s, dir), "source",
          size(Text.tokens(col("text"))).cast("long"), mixAlpha, mixBudget)
        .orderBy("stratum")
    }),

    // C89: repeat-capped epoch plan — C32's mixture as an executable
    // schedule: α-weighted target allocation per source, epochs capped
    // at 4 (the data-constrained-scaling repeat ceiling), scheduled
    // tokens, and the deficit the mixer must redistribute
    "doc_epoch_plan" -> ((s, dir) => {
      Sampling.epochPlan(Tables.documents(s, dir), "source",
          size(Text.tokens(col("text"))).cast("long"), mixAlpha,
          epochPlanBudget, epochPlanMax)
        .orderBy("stratum")
    }),

    // C33: fixed-token-window chunking with overlap — scan-local
    // posexplode, no shuffle; each doc expands independently
    "doc_chunk" -> ((s, dir) => {
      Chunking.chunk(Tables.documents(s, dir), "doc_id", "text",
          chunkTokens, chunkStride)
        .orderBy("doc_id", "chunk_idx")
    }),

    // C34: chunk-level (paragraph) dedup — cross-document boilerplate
    // detection; non-overlapping windows, digest-only shuffle, first
    // occurrence (min doc_id, chunk_idx) keeps, later ones flagged
    "doc_para_dedup" -> ((s, dir) => {
      Chunking.dedupChunks(Tables.documents(s, dir), "doc_id", "text",
          chunkTokens, stride = chunkTokens)
        .orderBy("doc_id", "chunk_idx")
    }),

    // C37: per-doc boilerplate fraction — share of a doc's chunks that
    // are cross-document duplicates (composes C34's chunk dedup; the
    // CCNet "lines seen elsewhere" signal at chunk granularity)
    "doc_boilerplate" -> ((s, dir) => {
      Chunking.dedupChunks(Tables.documents(s, dir), "doc_id", "text",
          chunkTokens, stride = chunkTokens)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_chunks"),
          round(sum(when(col("is_dup"), 1L).otherwise(0L))
            / count(lit(1)).cast("double"), 4).as("boilerplate_frac"))
        .orderBy("doc_id")
    }),

    // C22: sequence packing — docs → fixed-token-budget shards, packed
    // independently per hash bucket (window PARTITIONED by bucket; no
    // global order anywhere)
    "doc_pack" -> ((s, dir) => {
      Packing.assignShards(Tables.documents(s, dir), "doc_id", "text",
          numBuckets = 8, budgetTokens = 2048)
        .orderBy("bucket", "start_tok")
    }),

    // C101: packing-efficiency sweep — C22's shard packing priced at
    // three candidate context lengths (the "choose max_len" table:
    // small budgets waste less per shard but multiply shard count and
    // padding overhead upstream): per budget, shard count, token
    // volume, and capacity-waste%. Three bounded re-aggregations of the
    // same assignment plan, unioned to a 3-row report.
    "doc_pack_sweep" -> ((s, dir) => {
      Seq(512, 1024, 2048).map { budget =>
        Packing.assignShards(Tables.documents(s, dir), "doc_id", "text",
            numBuckets = 8, budgetTokens = budget)
          .agg(
            countDistinct(concat_ws(":", col("bucket"), col("shard")))
              .as("n_shards"),
            sum(col("n_tokens")).as("sum_tokens"))
          .select(lit(budget.toLong).as("budget"), col("n_shards"),
            col("sum_tokens"),
            round((col("n_shards") * budget - col("sum_tokens"))
              .cast("double") * 100 / (col("n_shards") * budget), 4)
              .as("waste_pct"))
      }.reduce(_ unionAll _).orderBy("budget")
    }),

    // C23: benchmark decontamination — train docs sharing ≥5 distinct
    // 3-grams with the simulated eval split (doc_id % 20 = 0); eval
    // grams broadcast, train side stays one scan
    "doc_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Decontaminate.overlaps(
        train = docs.where(col("doc_id") % evalMod =!= 0),
        eval = docs.where(col("doc_id") % evalMod === 0),
        idCol = "doc_id", textCol = "text",
        n = deconN, minOverlap = deconMinOverlap)
        .orderBy("doc_id")
    }),

    // C23 extension: FUZZY decontamination — train docs MinHash-band-
    // colliding with an eval doc and Jaccard-verified ≥ threshold;
    // catches paraphrased contamination exact n-gram counting misses.
    // Eval bands broadcast; train×eval never formed.
    "doc_decontaminate_fuzzy" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Decontaminate.fuzzyOverlaps(
        train = docs.where(col("doc_id") % evalMod =!= 0),
        eval = docs.where(col("doc_id") % evalMod === 0),
        idCol = "doc_id", textCol = "text", threshold = fuzzyThreshold)
        .orderBy("doc_id")
    }),

    // C26: end-to-end curation manifest — exact dedup → decontaminate →
    // repetition gate → stratified sample → split → per-(split, lang)
    // doc/token counts, fused into ONE Catalyst plan (scan-local gates,
    // broadcast eval grams, one manifest shuffle)
    "doc_curate_manifest" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val keepers = Dedup.exact(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val train = docs.where(col("doc_id") % evalMod =!= 0)
      val eval = docs.where(col("doc_id") % evalMod === 0)
      val contaminated = Decontaminate.overlaps(train, eval,
        "doc_id", "text", deconN, deconMinOverlap).select("doc_id")
      val curated = train
        .join(keepers, "doc_id")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .where(Text.dupNgramFrac(col("text"), deconN) < dupFracMax)
      val mixed = Sampling.assignSplit(
        Sampling.stratifiedSample(curated, "doc_id", "lang",
          langMixPct, defaultMixPct),
        "doc_id", splitSpec)
      mixed.groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(Text.wsTokenCount(col("text"))).as("sum_tokens"))
        .orderBy("split", "lang")
    }),

    // C24: repetition signals — duplicate n-gram fractions per doc
    // (Gopher-style boilerplate/looping detector), scan-local via the
    // hashed-shingle kernel
    "doc_repetition" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          Text.dupNgramFrac(col("text"), 2).as("dup_2gram_frac"),
          Text.dupNgramFrac(col("text"), 3).as("dup_3gram_frac"))
        .orderBy("doc_id")
    }),

    // C87: Gopher/C4-style rule-based quality filter — five
    // deterministic rules per doc (token-count bounds, mean-word-length
    // bounds, unique-token ratio, top-word fraction, stopword presence),
    // each an integer-exact comparison. The top-word numerator comes
    // from the TopTokenCount kernel: ZERO shuffle, where the declarative
    // form (explode tokens → groupBy(doc, token) → max) shuffles every
    // token in the corpus. Flags are 0/1 longs so the row is
    // hash-stable; `pass` is the product.
    "doc_gopher_rules" -> ((s, dir) => {
      gopherFlags(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_tokens"), col("wc_ok"), col("mwl_ok"),
          col("uniq_ok"), col("top_ok"), col("stop_ok"), col("pass"))
        .orderBy("doc_id")
    }),

    // C87 report twin: per-source rule-failure profile — which sources
    // die on which rule (the triage table a curation run starts from).
    // One map-side-combined shuffle down to |source| rows.
    "doc_gopher_report" -> ((s, dir) => {
      gopherFlags(Tables.documents(s, dir))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(lit(1L) - col("wc_ok")).as("fail_wc"),
          sum(lit(1L) - col("mwl_ok")).as("fail_mwl"),
          sum(lit(1L) - col("uniq_ok")).as("fail_uniq"),
          sum(lit(1L) - col("top_ok")).as("fail_top"),
          sum(lit(1L) - col("stop_ok")).as("fail_stop"),
          sum(col("pass")).as("n_pass"))
        .orderBy("source")
    }),

    // C88: compaction / small-file bin-packing planner — the OPTIMIZE
    // step of a lakehouse layout: per source, docs in id order are
    // assigned to output files by `floor(bytes_before / target)` (the
    // SQL-expressible packing rule — deterministic, append-stable, and
    // a pure window where true greedy close-at-target is inherently
    // sequential); the report is per planned file: docs, bytes, id
    // range, fill. One source-partitioned prefix-sum window over
    // doc-sized rows + one grouped agg to file-sized rows; a
    // pathological mega-source decomposes via the C30 banded prefix
    // sum. Fill ratio is an exact integer-derived division.
    "doc_compaction_plan" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("before", coalesce(sum(col("n_chars")).over(w), lit(0L)))
        .withColumn("file_id", (col("before") / compactTarget).cast("long"))
        .groupBy("source", "file_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("bytes"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .withColumn("fill_pct",
          round(col("bytes") * lit(100.0) / compactTarget, 4))
        .orderBy("source", "file_id")
    }),

    // C90: edit-distance-1 fuzzy self-match (SymSpell/FastSS deletion-
    // neighborhood blocking) — record linkage for near-identical
    // identifiers: every name explodes to {self} ∪ one-char deletions
    // (scan-local, len+1 keys), candidates from ONE key equi-join whose
    // buckets hold only strings a deletion apart, exact levenshtein ≤ 1
    // verify. Blocking is recall-LOSSLESS, so the oracle is deliberately
    // the quadratic theta join — parity proves blocked ≡ exact while the
    // engine never materializes n² comparisons.
    "doc_fuzzy_match" -> ((s, dir) => {
      // fanOut: both deletion-neighborhood explodes ran as ONE task on
      // the single-split customer scan (guide §2.5); gated no-op at
      // deployment scale
      Fuzzy.editDistance1Pairs(
          CdcQ.fanOut(Tables.customer(s, dir).select("c_custkey", "c_name")),
          "c_custkey", "c_name")
        .orderBy("a_id", "b_id")
    }),

    // C27: corpus length histogram — fixed-width token-count buckets,
    // one scan + one tiny agg (corpus-shape report for mix planning)
    "doc_length_hist" -> ((s, dir) => {
      val n = Text.wsTokenCount(col("text"))
      Tables.documents(s, dir)
        .groupBy(floor(n / lit(50.0)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(n).as("min_tokens"), max(n).as("max_tokens"))
        .orderBy("bucket")
    }),

    // C38: int8 embedding quantization report — per-vector max-abs
    // scale, reconstruction error, reconstructed-vs-original cosine;
    // scan-local (the stored int8 form cuts ANN shuffle bytes 4×)
    "emb_quantize" -> ((s, dir) => {
      Quantize.reconstructionReport(Tables.embeddings(s, dir),
          "vec_id", "embedding")
        .orderBy("vec_id")
    }),

    // C28: embedding health check — norm distribution + degenerate-vector
    // counts in one pass. The mean is round(4)-bounded: norms differ at
    // the ulp level between engines (DuckDB dots FLOAT[] natively), so a
    // fixed-point floor would straddle integer boundaries; a rounded
    // MEAN keeps relative float-sum error ~n·eps — far below 1e-4 at
    // any corpus size
    "emb_health" -> ((s, dir) => {
      val v = graft.functions.Vectors.toDouble(col("embedding"))
      val norm = sqrt(graft.functions.Vectors.dot(v, v))
      Tables.embeddings(s, dir)
        .select(norm.as("norm"), size(col("embedding")).cast("long").as("dim"))
        .agg(
          count(lit(1)).as("n_vectors"),
          countDistinct(col("dim")).as("n_distinct_dims"),
          sum(when(col("norm") < 1e-12, 1L).otherwise(0L)).as("n_zero_norm"),
          round(min(col("norm")), 4).as("min_norm"),
          round(max(col("norm")), 4).as("max_norm"),
          round(avg(col("norm")), 4).as("avg_norm"))
    }),

    // C85: diagonal-Mahalanobis OOD screen — the distributional
    // companion to C28's norm-only health report: per-vector
    // z²-sum against per-dimension corpus moments (exact e6-quantized
    // integer sums; per-dim terms snap to e9 BIGINTs BEFORE the
    // per-vector reduction, so every parallel sum is exact-integer).
    // One |corpus|×d explode to a d-row broadcast stats frame, then a
    // scan-local zip_with/aggregate fold — no second shuffle; top-50
    // is TakeOrdered. See Pca.diagOod.
    "emb_ood" -> ((s, dir) => {
      Pca.diagOod(Tables.embeddings(s, dir), "vec_id", "embedding",
          payload = Seq("label"))
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("ood_e9"))
        .orderBy(desc("ood_e9"), col("vec_id")).limit(50)
    }),

    // C29: near-dup clusters — MinHash pairs → connected components
    // (min-label propagation), the "keep one representative per group"
    // step; doc_id BIGINT, cluster_id = component min
    "doc_neardup_clusters" -> ((s, dir) => {
      Dedup.clusters(
        MinHash.neardupPairs(Tables.documents(s, dir),
          idCol = "doc_id", textCol = "text", threshold = 0.5))
        .orderBy("doc_id")
    }),

    // C41: config-driven curation — the recipe is ONE string (job
    // config / dataset property), compiled to the same operators code
    // composes by hand, fused into one plan; proves the docs-domain
    // no-recompilation boundary (twin of the CDC chain DSL)
    "doc_curate_dsl" -> ((s, dir) => {
      Curation.run(Tables.documents(s, dir),
          "dedup-exact | lang:en,zh | sample:en=20,zh=60,default=40" +
            " | split:train=80,valid=10,test=10")
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("split", "lang")
    }),

    // C40: incremental NEAR-dup — new batch (doc_id % 10 = 0) banded
    // against the ingested corpus; candidates = batch-band ⋈
    // corpus-band, work ~ |batch|, corpus never re-self-joined
    "doc_neardup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      MinHash.incrementalNeardupPairs(
          newBatch = docs.where(col("doc_id") % 10 === 0),
          corpus = docs.where(col("doc_id") % 10 =!= 0),
          idCol = "doc_id", textCol = "text", threshold = 0.5)
        .orderBy("new_id", "corpus_id")
    }),

    // C29b: same components via large-star/small-star rounds — O(log d)
    // convergence for long near-dup chains; identical output contract
    // (and identical oracle) to doc_neardup_clusters
    "doc_neardup_clusters_star" -> ((s, dir) => {
      Dedup.clustersStar(
        MinHash.neardupPairs(Tables.documents(s, dir),
          idCol = "doc_id", textCol = "text", threshold = 0.5))
        .orderBy("doc_id")
    }),

    // C29c: INCREMENTAL components — yesterday's labeling + today's
    // batch, never the corpus re-cluster. Prior labels are star edges
    // (diameter ≤ 2), so the fixpoint converges in ~2-3 passes however
    // deep the original chains were; the oracle is the FULL-recompute
    // SQL, so parity proves incremental ≡ batch cross-engine.
    "doc_neardup_clusters_incr" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val old = docs.where(col("doc_id") % 10 =!= 0)
      val fresh = docs.where(col("doc_id") % 10 === 0)
      val prev = Dedup.clusters(
        MinHash.neardupPairs(old, "doc_id", "text", 0.5))
      val cross = MinHash.incrementalNeardupPairs(fresh, old,
          "doc_id", "text", 0.5)
        .select(col("new_id").as("id_a"), col("corpus_id").as("id_b"))
      val inBatch = MinHash.neardupPairs(fresh, "doc_id", "text", 0.5)
        .select(col("id_a"), col("id_b"))
      Dedup.clustersIncremental(prev, cross.unionAll(inBatch))
        .orderBy("doc_id")
    }),

    // C35: canonical representative per near-dup cluster — longest
    // member wins, min-id tiebreak; one label↔token-count join + one
    // windowed pick per cluster (text never shuffles)
    "doc_cluster_reps" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.clusterReps(
        Dedup.clusters(MinHash.neardupPairs(docs,
          idCol = "doc_id", textCol = "text", threshold = 0.5)),
        docs, "doc_id", "text")
        .orderBy("cluster_id")
    }),

    // C36: corpus unigram LM + per-doc avg/min log-prob quality signal
    "doc_unigram_lp" -> ((s, dir) => {
      Unigram.logProbScores(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // C72: per-source LM-score deciles — the CCNet-style perplexity
    // bucket table a mixture recipe consumes ("train on deciles 1-7 of
    // web, all of books"). (avg_logprob, doc_id) total order makes the
    // ntile cut engine-identical.
    "doc_lm_deciles" -> ((s, dir) => {
      Unigram.logProbDeciles(Tables.documents(s, dir), "doc_id", "text",
          "source")
        .orderBy("stratum", "decile")
    }),

    // C73: per-source Zipf slope/r² — corpus-level distributional health
    // (templated or generated slices flatten/steepen the rank-frequency
    // curve in ways per-doc filters can't see).
    "doc_zipf" -> ((s, dir) => {
      Unigram.zipfSlope(Tables.documents(s, dir), "text", "source")
        .orderBy("stratum")
    }),

    // C68: bigram LM with interpolated smoothing — the order-2 quality
    // gate (word-salad with common tokens passes C36's unigram filter
    // but scores low here). Pair extraction scan-local (BPE idiom);
    // vocab joins combine-friendly; 1-row total broadcasts.
    "doc_bigram_lp" -> ((s, dir) => {
      Bigram.logProbScores(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // C86: Kneser-Ney bigram LM — the modified-backoff smoothing that
    // scores a token by the DIVERSITY of contexts it continues, not its
    // raw frequency: tokens frequent only inside one boilerplate phrase
    // stop inflating fluency scores (the failure mode of C68's
    // interpolated model on templated corpora). All model statistics
    // are grouped aggregates of the bigram-type table; same scan-local
    // pair extraction and rounding ladder as C68.
    "doc_bigram_kn" -> ((s, dir) => {
      Bigram.knLogProbScores(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // C39: per-doc top-3 characteristic terms by tf·idf — partial
    // top-k window per doc, round(9) rank ladder, term tiebreak
    "doc_tfidf" -> ((s, dir) => {
      Unigram.tfIdfTopTerms(Tables.documents(s, dir), "doc_id", "text", 3)
        .orderBy(col("doc_id"), desc("tfidf"), col("term"))
    }),

    // C57: BM25 top-k retrieval — probe texts broadcast against
    // query-term postings only (the corpus-sized frames are pruned by
    // a broadcast semi-join before df/scoring touch them); per-query
    // partial top-k window; score ladder round(9) → scaled-e9 BIGINT
    "doc_bm25_topk" -> ((s, dir) => {
      Bm25.topK(Tables.documents(s, dir), "doc_id", "text",
        bm25Queries, bm25K)
        .orderBy("qid", "rank")
    }),

    // C113: HTML boilerplate stripping — the FIRST step of every crawl
    // pipeline: each doc is wrapped in a deterministic page (head with
    // title/style/script payloads that must VANISH, an entity-encoded
    // nav whose text must survive, a footer) and stripped by the
    // production regex chain (patterns inside the Java-regex ∩ RE2
    // common subset). The oracle derives the expected prose
    // INDEPENDENTLY from the raw text + known wrapper — a hash match
    // proves the strip EXTRACTS correctly, not merely that two engines
    // ran the same rewrite. Scan-local per-row string work, no shuffle.
    "doc_html_strip" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      docs.select(col("doc_id"),
          graft.operators.Html.strip(
            graft.operators.Html.synthesize(col("doc_id"), col("text")))
            .as("stripped"))
        .select(col("doc_id"),
          sha2(col("stripped"), 256).as("stripped_sha256"),
          length(col("stripped")).cast("long").as("n_chars_stripped"))
        .orderBy("doc_id")
    }),

    // C114: domain-level curation report — crawl curation is governed
    // per REGISTRABLE DOMAIN (RefinedWeb/C4: blocklist kills spam
    // domains, stats drive mixture decisions). Each doc gets a
    // deterministic synthetic URL (scheme/userinfo/port/case all vary
    // — the C113 wrapper discipline), the PRODUCTION extraction runs
    // (authority regex → eTLD+1 suffix ladder, scan-local), a
    // broadcast blocklist anti-joins, and one aggregation reports
    // docs/tokens/chars per domain. The oracle derives the expected
    // domain INDEPENDENTLY from (doc_id) — a hash match proves
    // extraction + suffix logic, not a replayed regex.
    "doc_domain_report" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val blocked = Seq("site3.com", "site7.co.uk").toDF("domain")
      // distinct-host form (r14): PSL probing on |hosts|, not |rows|
      graft.operators.Domains.reportByHost(docs,
          graft.operators.Domains.synthesizeUrl(col("doc_id"), col("source")),
          col("text"), col("n_chars"), blocked)
        .orderBy("domain")
    }),

    // C119: PSL eTLD+1 extraction graded cross-engine — the planted
    // corpus (C114's wrapper discipline) drives every PSL rule CLASS:
    // plain TLDs, multi-part exact suffixes (co.uk/com.au/go.jp),
    // private-section platform entries (github.io), the *.ck WILDCARD
    // (every 2nd-level label is a registry → keep three labels), and
    // the !www.ck EXCEPTION (www.ck is registrable despite the
    // wildcard). The oracle derives the EXPECTED registrable domain
    // independently from (doc_id) arithmetic — a hash match proves
    // the longest-rule/wildcard/exception algorithm, not that two
    // engines ran the same lookup. Matching is per-length InSet
    // membership on the host's last-k labels: scan-local at any size.
    "doc_domain_psl" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val n = col("doc_id") % 13
      val v = col("doc_id") % 8
      val host = concat(
        when(v === 0, concat(lit("www.site"), n, lit(".com")))
          .when(v === 1, concat(lit("a.b.site"), n, lit(".co.uk")))
          .when(v === 2, concat(lit("site"), n, lit(".com.au")))
          .when(v === 3, concat(lit("x.site"), n, lit(".go.jp")))
          .when(v === 4, concat(lit("site"), n, lit(".github.io")))
          .when(v === 5, concat(lit("shop.site"), n, lit(".ck")))
          .when(v === 6, lit("a.www.ck"))
          .otherwise(concat(lit("x.y.site"), n, lit(".de"))))
      val url = concat(lit("https://"), host, lit("/p/"), col("doc_id"))
      // host-first aggregation (r14): the PSL ladder runs once per
      // DISTINCT host (|hosts| ≪ |rows| on any crawl), not per row —
      // group by host (map-side combined), extract, re-group by domain
      docs.select(graft.operators.Domains.host(url).as("__host"))
        .groupBy("__host").agg(count(lit(1)).as("n"))
        .select(graft.operators.Domains.registrable(col("__host"))
          .as("domain"), col("n"))
        .groupBy("domain").agg(sum(col("n")).as("n_docs"))
        .orderBy("domain")
    }),

    // C115: per-domain cap — the "no domain dominates" rule: keep at
    // most 5 docs per registrable domain in deterministic md5 order.
    // The rnk<=k filter over the domain-partitioned row_number is
    // Spark's InferWindowGroupLimit shape: each partition keeps a
    // bounded top-k, so the giant domain that motivates the cap never
    // materializes its full sort. Oracle = the plain window SQL over
    // the independent domain derivation.
    "doc_domain_cap" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // distinct-host form (r14): the host→domain map broadcasts back
      graft.operators.Domains.capByHost(docs,
          graft.operators.Domains.synthesizeUrl(col("doc_id"), col("source")),
          col("doc_id"), k = 5)
        .select(col("domain"), col("doc_id"), col("rnk"))
        .orderBy("domain", "rnk")
    }),

    // C117: URL canonicalization + canonical-URL dedup — the crawl
    // frontier fetches the SAME page under scheme-case / default-port
    // / fragment / tracking-parameter / trailing-slash variants, so
    // URL-level dedup must group by CANONICAL form. Six deterministic
    // raw variants per page group are planted (doc_id % 6 picks the
    // variant, doc_id % 97 the page) and the production
    // canonicalization chain (five RE2-safe scan-local rewrites) must
    // collapse each group to ONE canonical URL. The oracle derives the
    // canonical form independently from doc_id arithmetic (never the
    // rewrite chain) and counts distinct planted variants — parity
    // proves the chain normalizes exactly the variant classes and
    // nothing else.
    "doc_url_canonical" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      docs.select(col("doc_id"),
          graft.operators.Domains.synthesizeVariantUrl(col("doc_id"))
            .as("url"))
        .withColumn("canonical_url",
          graft.operators.Domains.canonicalUrl(col("url")))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url")).as("n_raw_forms"))
        .orderBy("canonical_url")
    }),

    // C118: script-mix / homoglyph screen — per-doc Latin/Cyrillic/
    // CJK/Arabic codepoint counts plus the MIXED-SCRIPT-WORD flag (a
    // word mixing Latin and Cyrillic letters — the homoglyph-spoofing
    // signature that passes whole-doc language filters). Counting is
    // length-difference per character class, scan-local; script runs
    // are PLANTED by doc_id over the ASCII base corpus and the oracle
    // derives expected counts from doc_id arithmetic alone (the C116
    // discipline) — bilingual planting (separate words) must NOT trip
    // the homoglyph flag, the planted intra-word mix MUST.
    "doc_script_mix" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val planted = docs.withColumn("__text",
        graft.operators.Scripts.plantScripts(col("text"), col("doc_id")))
      graft.operators.Scripts.profile(planted, col("__text"), col("doc_id"))
        .orderBy("doc_id")
    }),

    // C116: encoding-damage screen — U+FFFD replacement runs, C1
    // controls (Windows-125x read as Latin-1), and the
    // UTF-8-as-Latin-1 Ã-ladder digraphs, three scan-local rlike
    // detectors (no shuffle). Corruption is PLANTED deterministically
    // by doc_id (class = doc_id % 10) and the oracle derives the
    // expected flags from doc_id arithmetic alone — the C113
    // discipline: parity proves the detectors fire exactly where
    // damage exists and nowhere else (the clean 70% must stay clean).
    "doc_mojibake" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val planted = docs.withColumn("__text",
        graft.operators.Mojibake.plantDamage(col("text"), col("doc_id")))
      graft.operators.Mojibake.flags(planted, col("__text"), col("doc_id"))
        .orderBy("doc_id")
    }),

    // C116 rollup: per-source damage report (counts per class + exact
    // e4 damaged rate) — the dashboard row an ingest gate alerts on.
    "doc_mojibake_report" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val planted = docs.withColumn("__text",
        graft.operators.Mojibake.plantDamage(col("text"), col("doc_id")))
      graft.operators.Mojibake.report(planted, col("__text"), col("source"))
        .orderBy("source")
    }),

    // C111: n-gram diversity / distinct-n report — the mode-collapse
    // screen for synthetic corpora (Li et al. 2016 distinct-n): dedup
    // passes generated data where every sample is unique while the
    // n-gram space quietly shrinks; this measures it per source as
    // exact (10000·distinct) div total ladders for n = 1..3. Totals
    // are pure scan arithmetic (no explode); distincts ride the
    // compiled per-doc-distinct shingle pass.
    "doc_ngram_diversity" -> ((s, dir) => {
      Drift.ngramDiversity(Tables.documents(s, dir), "text", "source")
        .orderBy("stratum", "n")
    }),

    // C110: retrieval self-evaluation — the C74 ANN-recall discipline
    // applied to lexical retrieval: grade the BM25 top-k against an
    // exact label-free relevance oracle (≥2 distinct query terms in
    // the doc), reporting recall@k / precision@k / MRR as exact e4
    // integer ladders (no float ranking metrics, no log discounts to
    // diverge cross-engine). The regression gate consulted when
    // re-tuning k1/b or swapping the ranker.
    "doc_retrieval_eval" -> ((s, dir) => {
      Bm25.evalTopK(Tables.documents(s, dir), "doc_id", "text",
        bm25Queries, bm25K)
        .orderBy("qid")
    }),

    // C65: quality-aware retrieval — RRF-fuse the BM25 relevance rank
    // with a per-candidate quality rank (1/(60+r₁) + 1/(60+r₂), the
    // Cormack RRF rule): the training-data-selection rerank when
    // relevance and quality scales are incomparable. Candidates stay
    // |queries|·k rows end-to-end (broadcast into the quality join).
    "doc_bm25_rrf" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val hits = Bm25.topK(docs, "doc_id", "text", bm25Queries, bm25K)
      val toks = Text.tokens(col("text"))
      val nTokens = size(toks).cast("long")
      val nUniq = size(array_distinct(toks)).cast("long")
      val score = round(least(lit(1.0), nTokens.cast("double") / 100.0)
        * (lit(0.5) + lit(0.5) * (nUniq.cast("double") / nTokens)), 4)
      Bm25.rrfRerank(hits, docs.select(col("doc_id"), score.as("score")),
          "doc_id")
        .orderBy("qid", "fused_rank")
    }),

    // C61: DSIR importance weights — every doc scored by target-vs-
    // corpus hashed-bigram log-likelihood ratio (target = the en/src0
    // slice); models are ≤1024-row broadcast aggregates, the corpus
    // tokenizes and shuffles once
    "doc_dsir_weights" -> ((s, dir) => {
      Dsir.importanceWeights(Tables.documents(s, dir), "doc_id", "text",
        col("source") === "src0" && col("lang") === "en")
        .orderBy("doc_id")
    }),

    // C60: BPE merge learning — the count step of one iteration,
    // oracle-backed (the sequential merge loop is driver-argmax per
    // iteration, spec-pinned like KMeans' Lloyd loop): adjacent-pair
    // extraction is scan-local (slices + arrays_zip + explode), the
    // count one combine-friendly groupBy carrying |vocab|² rows
    "doc_bpe_pairs" -> ((s, dir) => {
      Bpe.pairCounts(
        Tables.documents(s, dir).select(split(col("text"), " ").as("toks")),
        "toks")
        .orderBy("left", "right")
    }),

    // C60 APPLICATION leg: the full tokenizer loop — LEARN six merges
    // from the corpus (argmax pair per round, count-desc/lexicographic
    // ties), then TOKENIZE every document with the learned sequence
    // (greedy left-to-right merge passes as scan-local folds, no UDF).
    // The oracle replays all six learn+apply rounds in SQL: documents
    // as parenthesized token strings, where plain left-to-right
    // replace('(l)(r)' → '(l+r)') is EXACTLY the greedy
    // non-overlapping merge fold (boundaries aren't shared, so "a a a
    // a" merges to two pairs in both engines). Hash parity proves the
    // learned sequence AND every document's tokenization agree
    // cross-engine — the inference-side pass C60's pair counts only
    // implied.
    "doc_bpe_encode" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val merges = Bpe.learnMerges(d, "text", nMerges = 6, minCount = 1L)
      Bpe.tokenize(d, "text", merges)
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_tokens"),
          array_join(col("bpe_tokens"), " ").as("bpe_text"))
        .orderBy("doc_id")
    }),

    // C62: corpus snapshot diff — crawl N vs a deterministically
    // perturbed crawl N+1 (every id mod 7: 0 removed, 1 changed,
    // 2 re-added under a new id, rest untouched); both sides reduce
    // to (id, digest) at the scan, one full-outer id join classifies
    "doc_corpus_diff" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val next = d.where(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 1, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
        .unionAll(d.where(col("doc_id") % 7 === 2)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      Dedup.snapshotDiff(d, next, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // C70: vocabulary drift — JS divergence of the two snapshots'
    // hashed-unigram distributions (the distributional companion to
    // C62's per-doc dispositions over the SAME perturbed re-crawl).
    // Each side collapses to ≤256 bucket rows at the scan; everything
    // downstream runs on spine-sized frames.
    "doc_vocab_drift" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val next = d.where(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 1, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
        .unionAll(d.where(col("doc_id") % 7 === 2)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      Drift.vocabDrift(d, next, "text")
    }),

    // C59: substring-level exact dedup (Lee et al. 2022) — every
    // 6-token span occurring ≥2× anywhere in the corpus, merged into
    // maximal per-doc extents via gaps-and-islands; catches templated
    // boilerplate whole-document dedup misses
    "doc_dup_spans" -> ((s, dir) => {
      Dedup.duplicatedSpans(Tables.documents(s, dir), "doc_id", "text",
        k = dupSpanK)
        .orderBy("doc_id", "span_start")
    }),

    // C1: exact dedup over a simulated re-crawl (documents ∪ documents):
    // one content-hash shuffle with partial agg, keep min-id representative.
    "doc_dedup_exact" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.exact(docs.unionAll(docs), idCol = "doc_id", textCol = "text")
        .orderBy("keep_id")
    }),

    // C1 scale rail (C103): exact dedup over a GENERATED corpus — the
    // GenDocsSource zero-I/O documents generator (every 4th doc an
    // exact copy of its group leader; text distinct per base below
    // 64^6) feeding the same digest-groupBy dedup, so the dedup path
    // gets the 2M→100M pricing curve cdc_gen_snapshot gave the
    // snapshot path (BENCH_NOTES.md) AND a cross-engine oracle over
    // the generated relation itself (generate_series re-derivation —
    // parity proves the connector delivers exactly the declared
    // corpus and the dedup collapses exactly the planted copies).
    // SPARK_GRAFT_GEN_DOCS scales the SAME query for curve runs.
    "doc_gen_dedup" -> ((s, dir) => {
      val corpus = s.read.format("graft.sources.GenDocsSource")
        .option("docs", genDocsRows).option("slices", 32).load()
      Dedup.exact(corpus, idCol = "doc_id", textCol = "text")
        .orderBy("keep_id")
    }),

    // C48: normalization-fingerprint dedup — exact dedup on a canonical
    // text form (lowercase, non-alnum runs → single space, trim) so
    // trivial variants (case, punctuation, whitespace) collapse that
    // byte-exact hashing misses. The crawl unions UPPER-cased and
    // punctuation-suffixed copies of every doc; normalization collapses
    // each triple. Scan-local normalization + digest; only the 32-byte
    // digest shuffles — same 100 TB shape as C1.
    "doc_dedup_normalized" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val crawl = docs
        .unionAll(docs.select((col("doc_id") + 1000000L).as("doc_id"),
          upper(col("text")).as("text")))
        .unionAll(docs.select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit("  !!")).as("text")))
      val norm = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
      crawl.select(col("doc_id"), sha2(norm, 256).as("norm_hash"))
        .groupBy(col("norm_hash"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_variants"))
        .orderBy("keep_id")
    }),

    // C48 keeper-policy form: dedup groups keep their BEST variant by
    // quality score (min-id tiebreak), not blindly the first — the
    // production policy when a crawl holds several renderings of the
    // same content. Same digest-keyed window as C1/C48; the quality
    // score is scan-local, so the policy change costs nothing extra.
    "doc_dedup_best" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val crawl = docs
        .unionAll(docs.select((col("doc_id") + 1000000L).as("doc_id"),
          upper(col("text")).as("text")))
        .unionAll(docs.select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit("  !!")).as("text")))
      val norm = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
      val toks = Text.tokens(col("text"))
      val nTokens = size(toks).cast("long")
      val uniqRatio = size(array_distinct(toks)).cast("double") / nTokens
      val qscore = round(least(lit(1.0), nTokens.cast("double") / 100.0)
        * (lit(0.5) + lit(0.5) * uniqRatio), 4)
      val w = Window.partitionBy(col("norm_hash"))
        .orderBy(desc("quality"), col("doc_id"))
      crawl
        .select(col("doc_id"), sha2(norm, 256).as("norm_hash"),
          qscore.as("quality"))
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col("norm_hash"), col("doc_id").as("keep_id"),
          col("quality"))
        .orderBy("keep_id")
    }),

    // C1 filter form: every row annotated with its digest, the keeper
    // id for its content, and an is_duplicate flag — what a pipeline
    // uses to drop dupes while keeping lineage. One digest shuffle.
    "doc_dedup_mark" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val doubled = docs.unionAll(
        docs.withColumn("doc_id", col("doc_id") + 1000000L))
      Dedup.markDuplicates(doubled, "doc_id", "text")
        .select(col("doc_id"), col("content_hash"), col("keep_id"),
          col("is_duplicate"))
        .orderBy("doc_id")
    }),

    // C25: incremental dedup — a re-crawl batch (docs ∪ docs, ids
    // shifted) against the already-ingested first half of the corpus;
    // only genuinely-new content survives
    "doc_dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // corpus = first half by id; the boundary is a broadcast 1-row agg
      // (no driver-side scalar in the query path)
      val half = docs.agg(floor(max(col("doc_id")) / lit(2)).as("__half"))
      Dedup.incremental(
        newBatch = docs.unionAll(docs.withColumn("doc_id", col("doc_id") + 1000000L)),
        corpus = docs.crossJoin(broadcast(half))
          .where(col("doc_id") <= col("__half")),
        idCol = "doc_id", textCol = "text")
        .orderBy("keep_id")
    }),

    // C44: the same incremental dedup behind a Bloom prefilter — batch
    // digests missing the corpus sketch skip the anti-join entirely
    // (no false negatives ⇒ identical result, identical oracle); only
    // sketch hits pay the shuffle. The 100 TB shape for mostly-novel
    // daily crawls where the digest ledger is too big to broadcast but
    // its ~1.2-byte/item sketch is not.
    "doc_dedup_incremental_bloom" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val half = docs.agg(floor(max(col("doc_id")) / lit(2)).as("__half"))
      val corpus = docs.crossJoin(broadcast(half))
        .where(col("doc_id") <= col("__half"))
      val bloom = Dedup.buildDigestBloom(corpus, "text",
        expectedItems = 1L << 20, fpp = 0.01)
      Dedup.incrementalBloom(
        newBatch = docs.unionAll(docs.withColumn("doc_id", col("doc_id") + 1000000L)),
        corpus = corpus, bloom = bloom,
        idCol = "doc_id", textCol = "text")
        .orderBy("keep_id")
    }),

    // C5: exact embedding-cosine near-dup pairs (correctness baseline;
    // the LSH-bucketed path is the 100 TB shape — SURVEY.md §5).
    "emb_neardup" -> ((s, dir) => {
      Similarity.neardupPairs(Tables.embeddings(s, dir),
        idCol = "vec_id", vecCol = "embedding", threshold = 0.4)
        .orderBy("id_a", "id_b")
    }),

    // C109: embedding-space benchmark decontamination — the semantic
    // sibling of C23's n-gram check (a paraphrased leak shares no
    // n-grams but sits next to the benchmark in embedding space).
    // Benchmark = the probe vectors (vec_id < 8), corpus = the rest;
    // the benchmark side broadcasts and the corpus is one scan-local
    // pass — the decontamination sweep shape at 100 TB, where
    // benchmarks are always the tiny side.
    "emb_decontaminate" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Decontaminate.embeddingContamination(
        corpus = e.where(col("vec_id") >= 8),
        bench = e.where(col("vec_id") < 8),
        idCol = "vec_id", vecCol = "embedding", threshold = 0.35)
        .orderBy("vec_id")
    }),

    // C6: brute-force ANN top-k — broadcast probe set, one corpus pass,
    // partial per-partition top-k via InferWindowGroupLimit.
    "emb_ann_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.annTopK(
        corpus = e.where(col("vec_id") >= 8),
        probes = e.where(col("vec_id") < 8),
        idCol = "vec_id", vecCol = "embedding", k = 5)
        .orderBy("probe_id", "rank")
    }),

    // C38b: ANN top-k over the int8-QUANTIZED corpus — the compressed
    // search path C38's report justifies: corpus vectors reconstructed
    // from (qvec, scale), same broadcast-probe plan as C6; recall vs
    // the exact baseline pinned in QuantizeSpec
    "emb_ann_topk_q" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val qcorpus = Quantize.int8(e.where(col("vec_id") >= 8),
          "vec_id", "embedding")
        .select(col("vec_id"),
          transform(col("qvec"),
            q => q.cast("double") / lit(127d) * col("scale"))
            .as("embedding"))
      Similarity.annTopK(qcorpus, e.where(col("vec_id") < 8),
          idCol = "vec_id", vecCol = "embedding", k = 5)
        .orderBy("probe_id", "rank")
    }),

    // C66: product-quantization ANN — the byte-budget search tier:
    // the corpus collapses to numSub codes per vector in ONE
    // full-width pass; query-time ADC is integer table lookups over
    // the codes (original floats never re-read). Fixed formula-derived
    // codebook (the k-means-oracle discipline) keeps both engines on
    // identical literals; recall vs exact L2 pinned in PqSpec.
    "emb_ann_pq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Pq.annTopK(
        corpus = e.where(col("vec_id") >= 8),
        probes = e.where(col("vec_id") < 8),
        idCol = "vec_id", vecCol = "embedding", topK = 5)
        .orderBy("probe_id", "rank")
    }),

    // C66c: learned-codebook PQ — per-subspace Lloyd k-means over a
    // bounded deterministic sample replaces the formula centroids;
    // identical encode/ADC plumbing. The codebook is data-dependent,
    // but the training loop is bounded and deterministic, so the
    // oracle REPLAYS it: Pq.learnedAnnSql unrolls the Lloyd rounds
    // into DuckDB CTEs (the C83 gradient-descent / C91 k-center
    // discipline) and feeds the same relational score ladder — full
    // cross-engine parity, no rows-only weakening. The recall-ordering
    // gate (learned >= formula vs exact L2) stays pinned in PqSpec.
    "emb_ann_pq_learned" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val corpus = e.where(col("vec_id") >= 8)
      val cb = Pq.learnCodebook(corpus, "vec_id", "embedding")
      Pq.annTopK(
        corpus = corpus,
        probes = e.where(col("vec_id") < 8),
        idCol = "vec_id", vecCol = "embedding", topK = 5, codebook = cb)
        .orderBy("probe_id", "rank")
    }),

    // C66d: the learned codebook ITSELF as a query — one row per
    // (subspace, centroid, dim) with the raw double component. The
    // oracle re-trains in DuckDB (unrolled Lloyd over the same
    // md5-ranked 256-row sample, exact floor(x·1e6) integer means), so
    // a hash match here is a BIT-EXACT weights pin — the PQ analogue
    // of C83's trained-LR-weight pin, and the debuggable half of the
    // C66c gate (a codebook diff localizes to (s, c, j) instead of an
    // opaque ADC rank flip).
    "emb_pq_codebook_learned" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val cb = Pq.learnCodebook(e.where(col("vec_id") >= 8),
        "vec_id", "embedding")
      val rows = for {
        sub <- 0 until 16; c <- 0 until 16; j <- 0 until 4
      } yield (sub, c, j, cb(sub, c)(j))
      rows.toDF("subspace", "centroid", "dim", "comp")
        .orderBy("subspace", "centroid", "dim")
    }),

    // C104: PQ index PERSISTENCE — the build-once / search-many index
    // lifecycle: encode writes the codes table (the index artifact — a
    // few bytes per vector) to parquet ONCE; the search reloads it and
    // runs ADC over the reloaded frame, never touching the fat vectors.
    // Output ≡ emb_ann_pq (same oracle), so parity proves the artifact
    // round-trip is lossless and the search path is artifact-driven —
    // the property that lets a 100 TB deployment encode once and serve
    // every query from the compact index.
    "emb_index_roundtrip" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val indexDir = CdcQ.freshScratch(dir, "pq_codes_index")
      Pq.encode(e.where(col("vec_id") >= 8), "vec_id", "embedding")
        .write.mode("overwrite").parquet(indexDir)
      Pq.searchCodes(
        codes = s.read.parquet(indexDir),
        probes = e.where(col("vec_id") < 8),
        idCol = "vec_id", vecCol = "embedding", topK = 5)
        .orderBy("probe_id", "rank")
    }),

    // C107 (persistence side): the COMPOSITE index artifact on disk —
    // IVF-PQ codes written HIVE-PARTITIONED BY the list id, reloaded,
    // and searched through the same routing join. At 100 TB this
    // layout is the point of the composite index: the list directories
    // ARE the inverted lists, so a probe's nprobe-list search prunes
    // to nprobe directories at the SCAN (PushdownSpec pins the
    // PartitionFilters on a literal one-probe search) and the reload
    // reads 16 code bytes/vector, never the fat embeddings. Output ≡
    // emb_ann_ivfpq (same oracle): the partitioned round-trip must be
    // invisible to the search result.
    "emb_index_ivf_roundtrip" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val corpus = e.where(col("vec_id") >= 8)
      val indexDir = CdcQ.freshScratch(dir, "ivfpq_codes_index")
      Pq.encode(corpus.withColumn("__list", col("label").cast("long")),
          "vec_id", "embedding", keep = Seq("__list"))
        .write.partitionBy("__list").mode("overwrite").parquet(indexDir)
      Pq.searchCodesIvf(
        codes = s.read.parquet(indexDir),
        cent = graft.operators.AnnIvf.centroids(corpus, "label", "embedding"),
        probes = e.where(col("vec_id") < 8),
        idCol = "vec_id", vecCol = "embedding", topK = 5, nprobe = 3)
        .orderBy("probe_id", "rank")
    }),

    // C104/C107 (lifecycle side): INCREMENTAL index append — new
    // vectors arrive daily and must join the artifact WITHOUT
    // re-encoding the existing corpus: encode only the new batch under
    // the same frozen codebook and list assignment and APPEND it into
    // the hive-partitioned codes layout (each append touches only its
    // lists' directories). Search over the appended artifact must
    // equal the search over a from-scratch build — the oracle is
    // exactly emb_ann_ivfpq's, so parity proves append ≡ rebuild.
    "emb_index_ivf_append" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val corpus = e.where(col("vec_id") >= 8)
      val indexDir = CdcQ.freshScratch(dir, "ivfpq_codes_append")
      def codesOf(part: DataFrame) =
        Pq.encode(part.withColumn("__list", col("label").cast("long")),
          "vec_id", "embedding", keep = Seq("__list"))
      // day 1: build from the first half; day 2: append the rest
      codesOf(corpus.where(col("vec_id") % 2 === 0))
        .write.partitionBy("__list").mode("overwrite").parquet(indexDir)
      codesOf(corpus.where(col("vec_id") % 2 =!= 0))
        .write.partitionBy("__list").mode("append").parquet(indexDir)
      Pq.searchCodesIvf(
        codes = s.read.parquet(indexDir),
        cent = graft.operators.AnnIvf.centroids(corpus, "label", "embedding"),
        probes = e.where(col("vec_id") < 8),
        idCol = "vec_id", vecCol = "embedding", topK = 5, nprobe = 3)
        .orderBy("probe_id", "rank")
    }),

    // C66b: retrieve-then-refine — PQ-ADC shortlists 20 candidates
    // over codes alone, then only those 20·|probes| rows re-join their
    // full-width vectors for an exact-L2 rerank to top-5. At 100 TB
    // the fat-vector read drops from |corpus| to |shortlist| rows; the
    // refine join broadcasts from the probe side.
    "emb_ann_pq_refined" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Pq.annTopKRefined(
        corpus = e.where(col("vec_id") >= 8),
        probes = e.where(col("vec_id") < 8),
        idCol = "vec_id", vecCol = "embedding", topK = 5, shortlist = 20)
        .orderBy("probe_id", "rank")
    }),

    // C105: provenance PageRank — centrality in the cross-source copy
    // graph (which sources ORIGINATE content vs mirror it; the
    // harmonic-centrality idea CommonCrawl uses for host ranking,
    // computed here over C69's duplication matrix instead of hyperlinks).
    // 3 power iterations in e12 integer fixed-point — every per-edge
    // route, dangling redistribution, and damped update is an exact
    // integral division, so DuckDB replays the WHOLE loop as unrolled
    // CTEs (the C18/C83 bounded-iteration discipline). Scale: one
    // O(|E|) equi-join + groupBy(dst) per round; dangling mass and |V|
    // are 1-row broadcasts (PlanAudit-allowlisted); each round
    // materialized like a web-scale PR checkpoint.
    "doc_source_pagerank" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val crawl = docs.select(col("source"), col("text"))
        .unionAll(docs.where(col("doc_id") % 3 === 0)
          .select(concat(lit("src"),
            ((col("doc_id") % 20) + 7) % 20).as("source"), col("text")))
      val ov = Provenance.sourceOverlap(crawl, "source", "text")
        .select(col("source_a"), col("source_b"), col("shared"))
        .localCheckpoint() // consumed by both edge directions
      val edges = ov.select(col("source_a").as("src"),
          col("source_b").as("dst"), col("shared").as("w"))
        .unionAll(ov.select(col("source_b").as("src"),
          col("source_a").as("dst"), col("shared").as("w")))
      val nodes = crawl.select(col("source").as("v")).distinct()
      Graph.pagerank(nodes, edges, iters = 3)
        .select(col("v").as("source"), col("rank_e12"))
        .orderBy(desc("rank_e12"), col("source"))
    }),

    // C69: cross-source duplication matrix — distinct shared contents
    // per source pair (the provenance question before mixing corpora).
    // The crawl plants cross-source copies: every doc_id % 3 == 0 doc
    // re-appears under a source computed from its id. Text collapses
    // to sha256 at the scan; the pair join runs on the (source, digest)
    // DISTINCT frame, so a digest in s sources costs s²/2 pairs however
    // many raw rows carried it; the ≤|sources|² matrix broadcasts into
    // its count joins.
    "doc_source_overlap" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val crawl = docs.select(col("source"), col("text"))
        .unionAll(docs.where(col("doc_id") % 3 === 0)
          .select(concat(lit("src"),
            ((col("doc_id") % 20) + 7) % 20).as("source"), col("text")))
      Provenance.sourceOverlap(crawl, "source", "text")
        .orderBy("source_a", "source_b")
    }),

    // C46: k-NN majority-vote classification — label the probe set from
    // its 5 nearest labelled corpus neighbours (annTopK plan: broadcast
    // probes, one corpus pass, partial top-k; the vote is a k·|probes|-row
    // grouped count). Ties go to the smallest label.
    "emb_knn_classify" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.knnClassify(
        corpus = e.where(col("vec_id") >= 8),
        probes = e.where(col("vec_id") < 8),
        idCol = "vec_id", vecCol = "embedding", labelCol = "label", k = 5)
        // knnClassify keeps the raw label type; the oracle casts BIGINT.
        .select(col("probe_id"),
          col("pred_label").cast("long").as("pred_label"), col("n_votes"))
        .orderBy("probe_id")
    }),

    // C47: SemDeDup — semantic near-dup pairs scoped to k-means clusters:
    // the fixed-centroid assignment (same constants as emb_kmeans_assign)
    // keys an equi-join, so pairwise cosine work is Σ|cluster|², never
    // |corpus|². The 100 TB story of C5's all-pairs baseline.
    "emb_semdedup" -> ((s, dir) => {
      val scored = Tables.embeddings(s, dir).select(
        col("vec_id") +: col("embedding") +: kmScoreCols: _*)
      val clustered = scored.select(col("vec_id"), col("embedding"),
        kmArgmaxCol.as("cluster"))
      Similarity.neardupPairsWithin(clustered, "vec_id", "embedding",
        "cluster", semThreshold)
        .orderBy("cluster", "id_a", "id_b")
    }),

    // C52: hard-negative mining — for each probe, the 3 most similar
    // corpus vectors with a DIFFERENT label (the contrastive-training
    // batch construction step). annTopK's broadcast-probe plan with the
    // label-mismatch filter before the partial top-k window.
    "emb_hard_negatives" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.hardNegatives(
        corpus = e.where(col("vec_id") >= 8),
        probes = e.where(col("vec_id") < 8),
        idCol = "vec_id", vecCol = "embedding", labelCol = "label", k = 3)
        // hardNegatives keeps raw label types; the oracle casts BIGINT.
        .select(col("probe_id"),
          col("probe_label").cast("long").as("probe_label"), col("rank"),
          col("neighbor_id"), col("neg_label").cast("long").as("neg_label"),
          col("cos_sim"))
        .orderBy("probe_id", "rank")
    }),

    // C53: asymmetric containment dedup — truncated copies (the first
    // half of every doc, the quote/snippet pattern) must be found INSIDE
    // their originals even though their Jaccard is only ~0.5. Candidates
    // via bottom-k sketch ⋈ capped inverted index (PPJoin-style prefix
    // filtering), never the symmetric band join that misses small-in-
    // large pairs; exact sorted-merge verify.
    "doc_containment" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val crawl = docs.select(col("doc_id"), col("text"))
        .unionAll(docs.select((col("doc_id") + 1000000L).as("doc_id"),
          expr("substring(text, 1, CAST(floor(n_chars / 2) AS INT))").as("text")))
      MinHash.containmentPairs(crawl, "doc_id", "text", threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),

    // C54: winnowing fingerprints (the MOSS scheme, Schleimer et al.
    // 2003): positional 3-gram hashes → minimum of every 4-hash window →
    // distinct minima = the fingerprint set. Guarantees any shared run
    // of ≥ w+k-1 tokens between two docs shares ≥1 fingerprint, at
    // ~1/w the density of full shingling — the robust partial-overlap
    // signature. Entirely scan-local (HOF projection, no shuffle until
    // the per-doc digest output); emitted compactly as count + an
    // md5 digest of the sorted fingerprint list.
    "doc_winnow" -> ((s, dir) => {
      val winnowW = 4
      // n_grams = |tokens| - 2 needs no hashing; the fingerprints come
      // from the compiled WinnowFingerprints kernel (the interpreted
      // HOF chain measured 7.6 s at sf0.1; the kernel is scan-cost).
      // The two WHEREs mirror the oracle's len(t) >= 3 / len(h) >= w.
      Tables.documents(s, dir)
        .withColumn("__t", Text.tokens(col("text")))
        .where(size(col("__t")) >= 3)
        .withColumn("__ng", (size(col("__t")) - 2).cast("long"))
        .where(col("__ng") >= winnowW)
        .withColumn("__fp",
          graft.functions.SetOps.winnowFingerprints(col("text"), 3, winnowW))
        .select(col("doc_id"), col("__ng").as("n_grams"),
          size(col("__fp")).cast("long").as("n_fingerprints"),
          md5(concat_ws("-",
            expr("transform(__fp, x -> CAST(x AS STRING))")))
            .as("fp_digest"))
        .orderBy("doc_id")
    }),

    // C55: shingle novelty — per doc, the fraction of its distinct
    // shingles NOT already contributed by an earlier (lower-id) doc:
    // the cumulative-novelty signal crawl pipelines use to score how
    // much genuinely new content each document adds (ids stand in for
    // ingestion order). Only 8-byte shingle hashes ever shuffle (one
    // min-agg with map-side partials + one equi-join back); text stays
    // in its scan.
    "doc_novelty" -> ((s, dir) => {
      val sig = Tables.documents(s, dir)
        .select(col("doc_id"), MinHash.hashedShingles(col("text")).as("hv"))
        .where(size(col("hv")) > 0)
      val pairs = sig.select(col("doc_id"), explode(col("hv")).as("sh"))
      val firstSeen = pairs.groupBy(col("sh"))
        .agg(min(col("doc_id")).as("first_doc"))
      pairs.join(firstSeen, "sh")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          count(when(col("first_doc") < col("doc_id"), 1))
            .as("n_seen_before"))
        .select(col("doc_id"), col("n_shingles"), col("n_seen_before"),
          round(lit(1.0) - col("n_seen_before").cast("double")
            / col("n_shingles"), 4).as("novelty"))
        .orderBy("doc_id")
    }),

    // C23 reporting form: contamination broken down BY SOURCE — which
    // corpus slices leak eval content (the go/no-go table a curation
    // review reads). Same broadcast-eval-grams plan as C23 plus a
    // left join back to the train docs and a |sources|-row aggregate.
    "doc_decon_by_source" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val contaminated = Decontaminate.overlaps(
        train = docs.where(col("doc_id") % evalMod =!= 0),
        eval = docs.where(col("doc_id") % evalMod === 0),
        idCol = "doc_id", textCol = "text",
        n = deconN, minOverlap = deconMinOverlap)
        .select(col("doc_id"), lit(1).as("__c"))
      docs.where(col("doc_id") % evalMod =!= 0)
        .select(col("doc_id"), col("source"))
        .join(contaminated, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_train_docs"),
          count(col("__c")).as("n_contaminated"))
        .select(col("source"), col("n_train_docs"), col("n_contaminated"),
          round(col("n_contaminated").cast("double") / col("n_train_docs"), 4)
            .as("contaminated_share"))
        .orderBy("source")
    }),

    // C56: dedup effectiveness report — the one-table summary a
    // curation run publishes: crawl volume, unique contents, near-dup
    // pair and cluster counts. Four tiny aggregates (each a metric row)
    // over the established dedup subplans; at scale each metric is the
    // cheap 1-row tail of a pipeline already being run.
    "doc_dedup_report" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val crawl = docs.unionAll(
        docs.withColumn("doc_id", col("doc_id") + 1000000L))
      // Pairs feed two report branches (cluster fixpoint + pair count);
      // materialize the MinHash pipeline once instead of once per
      // branch (guide §2.4). Pair set is collision-bounded, tiny.
      val pairs = MinHash.neardupPairs(docs, "doc_id", "text", 0.5)
        .localCheckpoint()
      def metric(name: String, v: DataFrame): DataFrame =
        v.select(lit(name).as("metric"), col("value"))
      metric("crawl_docs",
          crawl.agg(count(lit(1)).as("value")))
        .unionAll(metric("neardup_clusters",
          graft.operators.Dedup.clusters(pairs)
            .agg(countDistinct(col("cluster_id")).as("value"))))
        .unionAll(metric("neardup_pairs",
          pairs.agg(count(lit(1)).as("value"))))
        .unionAll(metric("unique_contents",
          crawl.agg(countDistinct(sha2(col("text"), 256)).as("value"))))
        .orderBy("metric")
    }),

    // C50: per-cluster health report — member count, mean/min/max cosine
    // of members to their assigned centroid (how tight each k-means cell
    // is; the quantizer-quality signal that decides whether C47/C15 can
    // trust their cluster scoping). One corpus scan to |k| rows; the
    // cosine is quantized to e6 fixed-point per row so the mean divides
    // EXACT integer sums (a parallel double mean would be fold-order
    // dependent and hash-unstable).
    "emb_cluster_report" -> ((s, dir) => {
      val cnorm = (k: Int) => math.sqrt(kmCentroid(k).map(x => x * x).sum)
      val scored = Tables.embeddings(s, dir).select(
        col("vec_id") +: col("embedding") +: kmScoreCols: _*)
        .withColumn("__nv", graft.functions.Vectors.norm(
          graft.functions.Vectors.toDouble(col("embedding"))))
        .withColumn("cluster", kmArgmaxCol)
      val cosAssigned = (0 until kmK).foldRight(lit(null).cast("double"): Column) {
        case (k, acc) => when(col("cluster") === k,
          col(s"s$k") / (col("__nv") * lit(cnorm(k)))).otherwise(acc)
      }
      scored
        .withColumn("__cos_e6", round(cosAssigned * 1e6, 0).cast("long"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("__cos_e6")).as("__sum_e6"),
          min(col("__cos_e6")).as("min_cos_e6"),
          max(col("__cos_e6")).as("max_cos_e6"))
        .select(col("cluster"), col("n_members"),
          round(col("__sum_e6").cast("double")
            / (lit(1e6) * col("n_members")), 4).as("mean_cos"),
          col("min_cos_e6"), col("max_cos_e6"))
        .orderBy("cluster")
    }),

    // C51: vocabulary coverage / OOV rate — per-doc fraction of tokens
    // outside the corpus top-30 vocabulary (the tokenizer-coverage check
    // run before committing to a vocab). The vocab is a tiny aggregate
    // (TakeOrdered over |vocab| rows, deterministic count-then-token
    // tiebreak) broadcast against the exploded token stream; the only
    // corpus-sized shuffle is the per-doc count, map-side combined.
    "doc_oov_rate" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .withColumn("__t", Text.tokens(col("text")))
      val vocab = base.select(explode(col("__t")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("w")).limit(30)
        .select(col("w"), lit(1).as("__iv"))
      base.select(col("doc_id"), explode(col("__t")).as("w"))
        .join(broadcast(vocab), Seq("w"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          count(when(col("__iv").isNull, 1)).as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          round(col("n_oov").cast("double") / col("n_tokens"), 4)
            .as("oov_rate"))
        .orderBy("doc_id")
    }),

    // C19 (oracle form): PII scrubbing — emails/phones/SSNs built
    // deterministically from each doc's id, scrubbed by the same
    // portable regex chain the library applies; the oracle replays the
    // identical patterns (generated from Text.piiPatterns), so both
    // engines' regex semantics are pinned against each other
    "doc_pii_scrub" -> ((s, dir) => {
      val raw = concat(lit("u"), col("doc_id"), lit("@example.org tel 555-123-4567 ssn 123-45-6789 t: "),
        substring(col("text"), 1, 40))
      Tables.documents(s, dir)
        .select(col("doc_id"), Text.scrubPii(raw).as("scrubbed"))
        .orderBy("doc_id")
    }),

    // C95: duplication-graph triangle census — the clique-ness signal
    // beside C29's connected components: a triangle-dense family is
    // "every copy matches every other" (keep one representative); a
    // triangle-free star/chain is a hub-template pattern needing
    // per-edge review. Degree-oriented wedge generation (Suri &
    // Vassilvitskii) caps a d-degree hub at O(d_low²) wedges; the
    // oracle is the direct three-way self-join — parity proves the
    // oriented plan counts every triangle exactly once.
    "doc_dup_triangles" -> ((s, dir) => {
      val pairs = MinHash.neardupPairs(Tables.documents(s, dir),
          "doc_id", "text", 0.5)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      Graph.triangles(pairs)
    }),

    // C94: T5-style span corruption — the third member of the
    // augmentation family (C84 FIM reorders, C93 drops, this MASKS
    // spans): a span of 3 tokens starts wherever md5(doc_id:sc:pos)
    // lands in 1/7 of hash space (deterministic — the repo's no-rand()
    // contract), overlapping spans merge, each masked run collapses to
    // ONE sentinel in the corrupted text while the masked-out tokens
    // become the target sequence. Start flags are computed once into an
    // array and neighbors indexed (3-token lookback), so the whole
    // transform is scan-local array math — zero shuffles; text crosses
    // the boundary as sha256 (C81 convention). Sentinels are unnumbered
    // (<X>) — per-span numbering needs a running counter the oracle
    // side cannot express scan-locally; documented simplification.
    "doc_span_corrupt" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("ws", Text.tokens(col("text")))
        .withColumn("n", size(col("ws")))
        .withColumn("starts", expr(
          "transform(sequence(1, greatest(n, 1)), j -> " +
            "CAST(conv(substring(md5(concat(doc_id, ':sc:', j)), 1, 8), " +
            "16, 10) AS BIGINT) % 7 = 0)"))
        .withColumn("masked", expr(
          "transform(sequence(1, greatest(n, 1)), i -> starts[i-1] OR " +
            "(i > 1 AND starts[i-2]) OR (i > 2 AND starts[i-3]))"))
        .withColumn("runstart", expr(
          "transform(sequence(1, greatest(n, 1)), i -> masked[i-1] AND " +
            "(i = 1 OR NOT masked[i-2]))"))
      d.select(col("doc_id"), col("n").cast("long").as("n_tokens"),
          expr("CAST(size(filter(sequence(1, n), i -> masked[i-1])) AS BIGINT)")
            .as("n_masked"),
          expr("CAST(size(filter(sequence(1, n), i -> runstart[i-1])) AS BIGINT)")
            .as("n_spans"),
          sha2(expr(
            "concat_ws(' ', transform(filter(sequence(1, n), i -> " +
              "NOT masked[i-1] OR runstart[i-1]), " +
              "i -> IF(runstart[i-1], '<X>', ws[i-1])))"), 256)
            .as("corrupted_sha256"),
          sha2(expr(
            "concat_ws(' ', transform(filter(sequence(1, n), i -> " +
              "masked[i-1]), i -> ws[i-1]))"), 256).as("targets_sha256"))
        .orderBy("doc_id")
    }),

    // C99: eval-coverage report — the REVERSE of C23's decontamination:
    // per EVAL doc, the fraction of its distinct 3-grams already present
    // in the training split (coverage ~1 → the benchmark row is
    // memorizable; ~0 → genuinely held out). Eval grams broadcast into
    // ONE train scan; only matched grams (bounded by the eval side)
    // come back; the train corpus never shuffles.
    "doc_eval_coverage" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Decontaminate.evalCoverage(
          d.where(col("doc_id") % evalMod =!= 0),
          d.where(col("doc_id") % evalMod === 0),
          "doc_id", "text", n = deconN)
        .orderBy("eval_id")
    }),

    // C97: preference-pair assembly — the DPO/RLHF data shape beside
    // C81's SFT rows: within each source, docs rank by (quality desc,
    // id) and adjacent ranks pair off (2i-1 chosen, 2i rejected), so
    // every pair has chosen_score ≥ rejected_score by construction and
    // the margin is the supervision strength a trainer can filter on.
    // One source-partitioned window + a scan-local self-pairing join on
    // (source, pair_id); margin exact on the e4 ladder.
    "doc_pref_pairs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Text.tokens(col("text"))
      val nTokens = size(toks).cast("long")
      val nUniq = size(array_distinct(toks)).cast("long")
      val score = round(least(lit(1.0), nTokens.cast("double") / 100.0)
        * (lit(0.5) + lit(0.5) * (nUniq.cast("double") / nTokens)), 4)
      val w = Window.partitionBy("source")
        .orderBy(col("score_e4").desc, col("doc_id"))
      val ranked = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          (score * 10000).cast("decimal(38,0)").cast("long").as("score_e4"))
        .withColumn("rnk", row_number().over(w))
        .withColumn("pair_id", ((col("rnk") + 1) / 2).cast("long"))
      val chosen = ranked.where(col("rnk") % 2 === 1)
        .select(col("source"), col("pair_id"),
          col("doc_id").as("chosen_id"), col("score_e4").as("chosen_e4"))
      val rejected = ranked.where(col("rnk") % 2 === 0)
        .select(col("source"), col("pair_id"),
          col("doc_id").as("rejected_id"), col("score_e4").as("rejected_e4"))
      chosen.join(rejected, Seq("source", "pair_id"))
        .select(col("source"), col("pair_id"), col("chosen_id"),
          col("rejected_id"),
          (col("chosen_e4") - col("rejected_e4")).as("margin_e4"))
        .orderBy("source", "pair_id")
    }),

    // C102: effective-dataset-size report — raw vs post-exact-dedup
    // token accounting per source (the "how much data do I actually
    // have" number a scaling-law estimate needs; a source with a low
    // discount factor is mostly copies): keepers = min-doc-id per
    // content digest (the C1 rule, so a cross-source duplicate counts
    // toward its keeper's source), both totals are one grouped sum
    // each, the digest shuffle carries 32-byte keys never text.
    "doc_effective_tokens" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          Text.wsTokenCount(col("text")).as("n_tokens"),
          sha2(col("text"), 256).as("digest"))
      val keepers = d.groupBy(col("digest"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val raw = d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("raw_tokens"))
      val eff = d.join(keepers, Seq("doc_id"), "left_semi")
        .groupBy("source")
        .agg(count(lit(1)).as("n_unique_docs"),
          sum(col("n_tokens")).as("unique_tokens"))
      raw.join(eff, "source")
        .withColumn("discount",
          round(col("unique_tokens").cast("double") / col("raw_tokens"), 4))
        .orderBy("source")
    }),

    // C100: per-source length Gini — the inequality coefficient of the
    // doc-length distribution (a high-Gini source mixes fragments with
    // walls of text — the heterogeneity screen before per-source
    // thresholds are trusted): G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx),
    // every term an exact integer from a source-partitioned rank
    // window + one grouped sum, one double division at the end.
    "doc_length_gini" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars"), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("rnk") * col("n_chars")).as("rx"))
        .select(col("source"), col("n_docs"), col("sum_chars"),
          round((col("rx") * 2 - (col("n_docs") + 1) * col("sum_chars"))
            .cast("double")
            / (col("n_docs") * col("sum_chars")), 4).as("gini"))
        .orderBy("source")
    }),

    // C98: k-anonymity audit — the re-identification screen a corpus
    // release runs AFTER C19's scrub: docs whose quasi-identifier
    // combination (lang, source, length bucket) has fewer than k
    // members are linkable; the report lists risky cells + their doc
    // counts. One map-side-combined shuffle to the cell grain, HAVING
    // on the tiny aggregate.
    "doc_kanon_audit" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy(col("lang"), col("source"),
          (col("n_chars") / 100L).cast("long").as("len_bucket"))
        .agg(count(lit(1)).as("n_docs"))
        .where(col("n_docs") < 5)
        .orderBy("lang", "source", "len_bucket")
    }),

    // C92: PII risk report — the triage table BEFORE C19's scrub runs:
    // per source, docs carrying any PII plus per-category match counts
    // (emails / phones / SSNs planted on disjoint id residues so the
    // counts differ per category and per source). Detection is the
    // SAME portable regex set the scrubber uses — report and redaction
    // can't drift; counting is scan-local regexp_extract_all, one
    // map-side-combined shuffle to |source| rows.
    // C93: deterministic token-dropout augmentation — the noising
    // transform contrastive/denoising objectives train on, with the
    // repo's determinism contract instead of rand(): a token drops iff
    // md5(doc_id:pos:token) lands in the bottom dropPct% of hash space,
    // so re-runs, engines, and appends reproduce the identical
    // augmented corpus (and a different salt would re-roll it). All
    // scan-local array math (arrays_zip + filter + concat_ws); the
    // augmented text crosses the engine boundary as sha256 (the C81
    // convention). At 100 TB: zero shuffles, a pure projection.
    "doc_token_dropout" -> ((s, dir) => {
      val dropPct = 10
      val toks = Text.tokens(col("text"))
      val zipped = arrays_zip(toks, expr(
        "sequence(1, size(split(text, ' ')))"))
      val kept = filter(zipped, t =>
        conv(substring(md5(concat_ws(":", col("doc_id"), t("1"), t("0"))),
          1, 8), 16, 10).cast("long") % 100 >= dropPct)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          size(kept).cast("long").as("n_kept"),
          sha2(concat_ws(" ",
            transform(kept, t => t("0")).cast("array<string>")), 256)
            .as("aug_sha256"))
        .orderBy("doc_id")
    }),

    "doc_pii_report" -> ((s, dir) => {
      val raw = concat(
        when(col("doc_id") % 3 === 0,
          concat(lit("contact u"), col("doc_id"),
            lit("@example.org now "))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          lit("tel 555-123-4567 ")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit("ssn 123-45-6789 ")).otherwise(lit("")),
        col("text"))
      val hits = Text.piiPatterns.map { case (re, _) =>
        size(regexp_extract_all(raw, lit(re), lit(0))).cast("long")
      }
      Tables.documents(s, dir)
        .select(col("source"), hits(0).as("h_email"),
          hits(1).as("h_phone"), hits(2).as("h_ssn"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("h_email") + col("h_phone") + col("h_ssn") > 0, 1L)
            .otherwise(0L)).as("docs_with_pii"),
          sum(col("h_email")).as("n_emails"),
          sum(col("h_phone")).as("n_phones"),
          sum(col("h_ssn")).as("n_ssn"))
        .orderBy("source")
    }),

    // C8: language-ID heuristic — stopword hit counts + deterministic
    // argmax (ties → alphabetically-first language). All four languages
    // are counted in ONE compiled tokenize pass (StopwordHits kernel).
    "doc_lang_id" -> ((s, dir) => {
      val hits = Text.langHitCols(col("__hits"))
      val withHits = Text.stopwords.foldLeft(
        Tables.documents(s, dir)
          .withColumn("__hits", Text.allLangHits(col("text")))) {
        case (df, (lang, _)) => df.withColumn(s"hits_$lang", hits(lang))
      }
      withHits
        .withColumn("pred_lang", Text.predictLang(hits))
        .select(Seq(col("doc_id")) ++
          Text.stopwords.map { case (l, _) => col(s"hits_$l") } :+
          col("pred_lang"): _*)
        .orderBy("doc_id")
    }),

    // C108: mixed-language screen — per-doc language CONSISTENCY, the
    // multilingual-contamination filter C8's whole-doc vote can't see
    // (a half-en/half-fr doc gets one confident label): re-run the C8
    // stopword argmax per 40-word CHUNK, then per doc report chunk
    // count, distinct predicted languages, the majority language
    // (count desc, lang asc tiebreak — B67's argmax contract), and the
    // mixed flag. Chunking + per-chunk hits are scan-local (one
    // posexplode, no shuffle until the per-doc agg); state is
    // O(|docs|·|langs|).
    "doc_lang_mix" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val W = 40
      val hits = Text.langHitCols(col("__hits"))
      val chunks = Tables.documents(s, dir)
        .withColumn("__t", split(col("text"), " "))
        .withColumn("__nc", expr(s"((size(__t) - 1) div $W) + 1"))
        .select(col("doc_id"),
          explode(sequence(lit(0), col("__nc") - 1)).as("__i"),
          col("__t"))
        .withColumn("__ctext",
          concat_ws(" ", expr(s"slice(__t, __i * $W + 1, $W)")))
        .withColumn("__hits", Text.allLangHits(col("__ctext")))
        .withColumn("pred", Text.predictLang(hits))
      val perLang = chunks.groupBy("doc_id", "pred")
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("n").desc, col("pred"))
      val majority = perLang.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col("doc_id"), col("pred").as("majority_lang"))
      perLang.groupBy("doc_id")
        .agg(sum(col("n")).as("n_chunks"),
          count(lit(1)).as("n_langs"))
        .join(majority, "doc_id")
        .select(col("doc_id"), col("n_chunks"), col("n_langs"),
          col("majority_lang"), (col("n_langs") > 1).as("is_mixed"))
        .orderBy("doc_id")
    }),

    // C8 extension: label-vs-prediction confusion matrix — scan-local
    // prediction, then one tiny (≤|langs|²-row) aggregation.
    "doc_lang_confusion" -> ((s, dir) => {
      val hits = Text.langHitCols(col("__hits"))
      Tables.documents(s, dir)
        .withColumn("__hits", Text.allLangHits(col("text")))
        .withColumn("pred_lang", Text.predictLang(hits))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "pred_lang")
    }),

    // C18 assignment step, oracle-backed: nearest-centroid assignment
    // against FIXED constant centroids (the k-means inner loop as a
    // verifiable query — the iterative fit itself is KMeansSpec-pinned).
    // Broadcast-free: centroids are plan literals; one corpus scan.
    // C91: diverse-subset selection — the Gonzalez k-center greedy as
    // a SELECTION operator (coreset / few-shot exemplar / eval-probe
    // picking): k vectors that 2-approximate the minimax coverage
    // radius; distances snap to round(9) before the running min /
    // argmax so selection is bit-stable cross-engine, and the oracle
    // unrolls the same 8 greedy rounds as CTEs.
    "emb_diverse_select" -> ((s, dir) => {
      KMeans.selectDiverse(Tables.embeddings(s, dir),
          "vec_id", "embedding", k = 8)
        .orderBy("sel_round")
    }),

    "emb_kmeans_assign" -> ((s, dir) => {
      val scored = Tables.embeddings(s, dir).select(
        col("vec_id") +: col("label").cast("long").as("label") +: kmScoreCols: _*)
      scored.select(col("vec_id"), col("label"),
        kmArgmaxCol.as("assigned"),
        (round(greatest((0 until kmK).map(k => col(s"s$k")): _*), 4)
          + lit(0.0)).as("best_score"))
        .orderBy("vec_id")
    }),

    // C9: quality scoring — length / token / uniqueness heuristics.
    // C83: trainable quality filter — full-batch gradient-descent
    // logistic regression (fast-sigmoid link: no transcendentals, so the
    // whole train→score path is IEEE-bit-identical to the unrolled-CTE
    // DuckDB oracle). Features snap to e9 BIGINTs at the scan; gradient
    // terms are e18 128-bit-exact integer sums (order-independent under
    // any partitioning); weight state is e12 INTEGERS with the update
    // rounded as an exact integer rational (no float on the weight
    // path — engines' double-rounding rules differ at half boundaries,
    // which snapped-decimal GD concentrates on; r10). Each of
    // the 3 iterations is ONE partial-agg scan of the cached feature
    // frame — 3 longs per partition reach the driver (KMeans-scalar
    // class); scoring is scan-local. See operators/LogReg.scala.
    "doc_quality_lr" -> ((s, dir) => {
      val feat = LogReg.featurize(Tables.documents(s, dir)).persist()
      try {
        val w = LogReg.train(feat)
        LogReg.scoreBySource(feat, w)
      } finally feat.unpersist(blocking = false)
    }),

    // C83 companion: the trained weight vector itself on the e12 ladder
    // — proves the training loop (not just the downstream report) agrees
    // bit-for-bit with the oracle's unrolled iterations.
    "doc_quality_lr_model" -> ((s, dir) => {
      val feat = LogReg.featurize(Tables.documents(s, dir)).persist()
      try LogReg.modelRow(s, LogReg.train(feat))
      finally feat.unpersist(blocking = false)
    }),

    // C112: calibration / reliability report for the trained filter —
    // per score-decile bucket, predicted mass vs OBSERVED label rate
    // (the reliability-diagram table; pick the deploy threshold from
    // it, not from 0.5). Pure integer ladders end to end; the oracle
    // replays train → score → bucket relationally.
    "doc_quality_lr_calibration" -> ((s, dir) => {
      val feat = LogReg.featurize(Tables.documents(s, dir)).persist()
      try {
        // trained LONGER than the C83 report (8 unrolled iterations vs
        // 3): calibration needs the margins spread enough to populate
        // multiple bins, and the oracle unrolls to any depth
        val w = LogReg.train(feat, iters = 8)
        LogReg.calibrationReport(feat, w)
      } finally feat.unpersist(blocking = false)
    }),

    "doc_quality" -> ((s, dir) => {
      val toks = Text.tokens(col("text"))
      val nChars = length(col("text")).cast("long")
      val nTokens = size(toks).cast("long")
      val nUniq = size(array_distinct(toks)).cast("long")
      val nSpaces = nChars - length(regexp_replace(col("text"), " ", ""))
      val uniqRatio = nUniq.cast("double") / nTokens
      Tables.documents(s, dir).select(
        col("doc_id"),
        nChars.as("n_chars"),
        nTokens.as("n_tokens"),
        nUniq.as("n_uniq_tokens"),
        round(uniqRatio, 4).as("uniq_ratio"),
        round((nChars - nSpaces).cast("double") / nTokens, 4).as("avg_token_len"),
        round(least(lit(1.0), nTokens.cast("double") / 100.0)
          * (lit(0.5) + lit(0.5) * uniqRatio), 4).as("quality_score"))
        .orderBy("doc_id")
    }),

    // C9 extension: per-source curation report — doc counts, token
    // volume, exact integer-average quality, exact median tokens. One
    // partial-agg shuffle on the (low-cardinality) source key; the
    // integer-sum average is engine-deterministic like q17's.
    "doc_source_report" -> ((s, dir) => {
      val toks = Text.tokens(col("text"))
      val nTokens = size(toks).cast("long")
      val nUniq = size(array_distinct(toks)).cast("long")
      val score = round(least(lit(1.0), nTokens.cast("double") / 100.0)
        * (lit(0.5) + lit(0.5) * (nUniq.cast("double") / nTokens)), 4)
      Tables.documents(s, dir)
        .select(col("source"), nTokens.as("n_tokens"), score.as("score"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          round(sum((col("score") * 10000).cast("decimal(38,0)"))
            .cast("double") / (lit(10000.0) * count(lit(1))), 4)
            .as("avg_quality"),
          round(expr("percentile(n_tokens, 0.5)"), 4).as("p50_tokens"))
        .orderBy("source")
    }),

    // C10: token counting — whitespace + BPE-ish regex segmentation.
    "doc_token_count" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        Text.wsTokenCount(col("text")).as("ws_tokens"),
        Text.bpeTokenCount(col("text")).as("bpe_tokens"),
        round(length(col("text")).cast("double")
          / size(Text.tokens(col("text"))), 4).as("chars_per_token"))
        .orderBy("doc_id")
    }),

    // C71: tokenizer fertility / compression stats per (lang, source) —
    // the "how many tokens does a byte of this slice cost" table that
    // prices a corpus against a token budget and flags slices where the
    // tokenizer fragments (high bytes-per-char or low chars-per-token).
    // All inputs are scan-local codegen'd expressions; ONE map-side-
    // combined shuffle down to |lang × source| rows; ratios computed on
    // the tiny aggregate from exact long sums.
    "doc_token_stats" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("n_chars"),
          sum(octet_length(col("text")).cast("long")).as("n_bytes"),
          sum(Text.wsTokenCount(col("text"))).as("ws_tokens"),
          sum(Text.bpeTokenCount(col("text"))).as("bpe_tokens"))
        .withColumn("chars_per_ws_token",
          round(col("n_chars").cast("double") / col("ws_tokens"), 4))
        .withColumn("bytes_per_bpe_token",
          round(col("n_bytes").cast("double") / col("bpe_tokens"), 4))
        .orderBy("lang", "source")
    }),

    // C2: MinHash+LSH near-dup — band-bucket equi-join candidates, exact
    // Jaccard verification. Never an all-pairs join.
    "doc_minhash_lsh" -> ((s, dir) => {
      MinHash.neardupPairs(Tables.documents(s, dir),
        idCol = "doc_id", textCol = "text", threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),

    // C3: SimHash 64-bit fingerprints + hamming pairs via the 16-bit
    // chunk pigeonhole equi-join.
    "doc_simhash" -> ((s, dir) => {
      SimHash.hammingPairs(Tables.documents(s, dir),
        idCol = "doc_id", textCol = "text", maxDist = 4)
        .orderBy("id_a", "id_b")
    }),

    // C3 guaranteed-recall variant: 5-chunk 13/13/13/13/12 pigeonhole —
    // a hamming ≤ 4 pair must share one of 5 chunks, so maxDist=4 loses
    // the 4-chunk mode's documented recall gap (4 bits spread across 4
    // chunks) at the cost of one extra candidate row per doc.
    "doc_simhash5" -> ((s, dir) => {
      SimHash.hammingPairs(Tables.documents(s, dir),
        idCol = "doc_id", textCol = "text", maxDist = 4, chunks = 5)
        .orderBy("id_a", "id_b")
    }),

    // C4: word 2-gram Jaccard on same-source blocked candidate pairs.
    "doc_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, dir),
        idCol = "doc_id", textCol = "text", blockCol = "source",
        n = 2, threshold = 0.05)
        .orderBy("id_a", "id_b")
    }),

    // C106: EXACT corpus-wide set-similarity self-join via
    // frequency-ordered prefix filtering (AllPairs/PPJoin) over 3-gram
    // shingle sets — lossless candidate pruning where C4 block-scopes
    // (misses cross-block pairs) and C2 accepts banding recall: every
    // Jaccard≥0.7 pair shares a prefix shingle, so the equi-join on
    // rare prefix shingles generates a provable superset (measured at
    // sf0.1: 202k candidates vs 12.5M raw pairs) and the exact integer
    // verify keeps precisely the true pairs. PrefixJoinSpec pins the
    // losslessness against the brute-force all-pairs join.
    "doc_prefix_jaccard" -> ((s, dir) => {
      graft.operators.PrefixJoin.jaccardPairs(Tables.documents(s, dir),
        idCol = "doc_id", textCol = "text", tNum = 7, tDen = 10)
        .orderBy("doc_a", "doc_b")
    }),

    // C11: polynomial rolling-hash document fingerprint.
    "doc_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }),

    // C17: corpus vocabulary — token frequency table with rank (the
    // tokenizer-training precursor): one explode + one partial-agg
    // shuffle. Rank = row_number over (n_occurrences DESC, token) but
    // WITHOUT a global unpartitioned window (which would funnel the
    // whole vocab through one task at 100 TB). Decomposition:
    //   rank(t) = |tokens with higher frequency| + row_number of t
    //             among its own frequency class (ordered by token).
    // The within-class row_number is a PARTITIONED window (partition =
    // n_occurrences); the higher-frequency count comes from the
    // frequency-of-frequency table — |distinct counts| rows, O(sqrt
    // |corpus|) by Zipf — via a broadcast theta-join on that tiny side.
    "doc_vocab" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val freq = Tables.documents(s, dir)
        .select(explode(Text.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n_occurrences"))
      val byN = freq.groupBy(col("n_occurrences").as("__n"))
        .agg(count(lit(1)).as("__cnt"))
      val higher = byN.as("a")
        .join(broadcast(byN.as("b")), col("b.__n") > col("a.__n"), "left")
        .groupBy(col("a.__n").as("n_occurrences"))
        .agg(coalesce(sum(col("b.__cnt")), lit(0L)).as("__n_higher"))
      val wIn = Window.partitionBy(col("n_occurrences")).orderBy(col("token"))
      freq
        .withColumn("__in_rank", row_number().over(wIn))
        .join(broadcast(higher), "n_occurrences")
        .select(col("token"), col("n_occurrences"),
          (col("__n_higher") + col("__in_rank")).cast("long").as("rank"))
        .orderBy("rank")
    }),

    // C49: token co-occurrence lift — top adjacent-token pairs by
    // lift = P(w1,w2) / (P(w1)·P(w2)); PMI is ln(lift), monotone, so the
    // ranking is PMI's without a transcendental crossing the engine
    // boundary (the lift divides EXACT integer counts — products stay
    // < 2^53 — in one correctly-rounded IEEE division, identical in both
    // engines; ln() last-ulp noise would not be). Bigram extraction is a
    // scan-local transform over the token array; both count shuffles are
    // map-side combined; the unigram side of the lift join is vocab-
    // sized (broadcast at sane vocabs, equi-join on the word if not).
    "doc_cooc_lift" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .withColumn("__t", Text.tokens(col("text")))
        .where(size(col("__t")) >= 2)
      val uni = base.select(explode(col("__t")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n_w"))
      val totals = uni.agg(sum(col("n_w")).as("n_total"))
      val bigrams = base.select(explode(expr(
        "transform(sequence(1, size(__t) - 1), " +
          "i -> struct(element_at(__t, i) AS w1, element_at(__t, i + 1) AS w2))"))
        .as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_xy"))
      val liftRaw = col("n_xy").cast("double") * col("n_total") /
        (col("n_w1").cast("double") * col("n_w2"))
      bigrams
        .join(uni.select(col("w").as("w1"), col("n_w").as("n_w1")), "w1")
        .join(uni.select(col("w").as("w2"), col("n_w").as("n_w2")), "w2")
        .crossJoin(broadcast(totals))
        .where(col("n_xy") >= 5)
        .withColumn("__lift_raw", liftRaw)
        .orderBy(round(col("__lift_raw"), 9).desc, col("w1"), col("w2"))
        .limit(20)
        .select(col("w1"), col("w2"), col("n_xy"),
          round(col("__lift_raw"), 4).as("lift"))
    }),

    // C16: end-to-end corpus cleaning — the composition a training-data
    // pipeline actually runs: exact-dedup a re-crawl, keep predicted-
    // English docs above a quality floor. One fused Catalyst plan.
    "doc_clean_corpus" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val crawl = docs.unionAll(docs) // simulated re-crawl
      val keepers = Dedup.exact(crawl, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val toks = Text.tokens(col("text"))
      val nTokens = size(toks).cast("long")
      val uniqRatio = size(array_distinct(toks)).cast("double") / nTokens
      val quality = least(lit(1.0), nTokens.cast("double") / 100.0) *
        (lit(0.5) + lit(0.5) * uniqRatio)
      val hits = Text.langHitCols(Text.allLangHits(col("text")))
      docs.join(keepers, "doc_id")
        .withColumn("pred_lang", Text.predictLang(hits))
        .withColumn("quality_score", round(quality, 4))
        .where(col("pred_lang") === "en" && col("quality_score") >= 0.55)
        .select("doc_id", "pred_lang", "quality_score", "n_chars")
        .orderBy("doc_id")
    }),

    // C15: IVF-bucketed ANN — probe the nprobe nearest centroid lists
    // only (equi-join on list id); centroids from exact fixed-point sums
    "emb_ann_ivf" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.operators.AnnIvf.topK(
        corpus = e.where(col("vec_id") >= 8),
        probes = e.where(col("vec_id") < 8),
        idCol = "vec_id", vecCol = "embedding", labelCol = "label",
        k = 5, nprobe = 3)
        .orderBy("probe_id", "rank")
    }),

    // C107: IVF-PQ composite index — the coarse quantizer routes each
    // probe to nprobe lists, PQ-ADC scores only those lists' codes:
    // per-query cost ~ (nprobe/|lists|)·|corpus| rows × ~16 B each, the
    // FAISS-style composition of the two reductions. Codes carry the
    // list id from encode time, so the persisted artifact is
    // list-partitionable (scan pruning at 100 TB). Oracle replays
    // routing + ADC relationally end to end.
    "emb_ann_ivfpq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Pq.annTopKIvf(
        corpus = e.where(col("vec_id") >= 8),
        probes = e.where(col("vec_id") < 8),
        idCol = "vec_id", vecCol = "embedding", labelCol = "label",
        topK = 5, nprobe = 3)
        .orderBy("probe_id", "rank")
    }),

    // C5-scale: LSH-accelerated embedding near-dup — band equi-join
    // candidates, exact cosine filter (the 100 TB form of emb_neardup)
    "emb_neardup_lsh" -> ((s, dir) => {
      AnnLsh.neardupPairs(Tables.embeddings(s, dir),
        idCol = "vec_id", vecCol = "embedding", threshold = 0.4)
        .orderBy("id_a", "id_b")
    }),

    // C13: per-label centroid sums — the IVF coarse-quantizer building
    // block. Component sums are scale-1e6 fixed-point longs: exact,
    // order-independent, hash-stable cross-engine (float sums are not).
    "emb_centroid_sums" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("label").cast("long").as("label"), col("dim").cast("long").as("dim"))
        .agg(
          sum(floor(col("x").cast("double") * 1000000).cast("long")).as("sum_scaled"),
          count(lit(1)).as("n"))
        .orderBy("label", "dim")
    }),

    // C58: distributed PCA — the corpus-sized half. One mapPartitions
    // pass accumulates exact e6-fixed-point first/second moments in an
    // O(d²) array per chunk (the Gramian/treeAggregate pattern; an
    // explode-to-pairs plan would shuffle N·d²/2 rows), then ~2k
    // partial rows reduce via one exact-decimal groupBy. Eigensolve +
    // whitening run driver-side on this d×d result (PcaSpec).
    "emb_pca_moments" -> ((s, dir) => {
      Pca.gramMoments(Tables.embeddings(s, dir), "embedding", kmDim)
        .orderBy("i", "j")
    }),

    // C58 (projection side): frozen-direction integer projection —
    // exact e6×e6 fixed-point dots, scan-local zip_with/aggregate,
    // no shuffle, no UDF; directions inlined in the oracle
    "emb_project_fixed" -> ((s, dir) => {
      Pca.projectFixed(Tables.embeddings(s, dir), "vec_id", "embedding",
        pcaDirs)
        .orderBy("vec_id", "k")
    }),

    // C12 (expression side): binary-column ops — digest, byte length,
    // header sniff — over the synthesized media table. The stubbed
    // decode itself is covered by MediaSpec (mapPartitions, no SQL form).
    "media_ops" -> ((s, dir) => {
      val m = graft.multimodal.Media.fromDocuments(Tables.documents(s, dir))
      m.select(
        col("media_id"), col("kind"),
        col("meta.n_bytes").as("n_bytes"),
        graft.multimodal.Media.contentDigest(col("content")).as("digest"),
        graft.multimodal.Media.headerHex(col("content")).as("header_hex"))
        .orderBy("media_id")
    }),

    // C79: media near-dup over DECODED features — the full multimodal
    // pipeline e2e: binary payloads → batched codec decode
    // (mapPartitions through the MediaCodec seam, stub codec) →
    // exact-integer grid-signature blocking → cosine threshold. The
    // "same asset, different encode" screen exact byte dedup misses;
    // the oracle replays decode → block → compare entirely in SQL, so
    // the driver row proves the codec plumbing, not just the digests.
    // C12b: REAL audio codec round-trip — Wav.synth builds VALID
    // RIFF/WAVE payloads (junk chunk planted before data, so only a
    // genuine chunk walk finds the samples) from a pure integer
    // function of the id; WavCodec REALLY parses them (magic, chunk
    // sizes, fmt sanity, little-endian 16-bit PCM) through the
    // production mapPartitions codec seam. The oracle re-derives the
    // per-window mean-|amplitude| features from the sample FORMULA, so
    // a hash match proves encoder and parser are mutually lossless —
    // any offset/endianness/chunk-walk bug changes the decoded samples
    // and the row stops matching. One modality's decode is no longer a
    // stub; video stays behind the documented ByteHistogramCodec.
    // Output contract: the float32 features cross the engine boundary
    // as a csv of floor(f·2^48) — a power-of-two scale is an exponent
    // shift (exact in double, no rounding), so the integers capture
    // every feature bit-losslessly and stringify identically in both
    // engines (the SURVEY §6 r3 array rule + the float-formatting rule:
    // never ship raw arrays or engine-formatted floats to the driver).
    "media_wav_roundtrip" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.{Wav, WavCodec}
      val media = s.range(0, 500).as[Long]
        .map(id => (id, "audio", Wav.synth(id)))
        .toDF("media_id", "kind", "content")
      graft.multimodal.Media.decodeFeatures(media, dim = 8, codec = WavCodec)
        .select(col("media_id"), col("n_bytes"),
          graft.multimodal.Media.featuresCsv(col("features"))
            .as("features_csv"))
        .orderBy("media_id")
    }),

    // C122: frame-level audio analysis over REAL decoded PCM — per
    // 64-sample tumbling frame, exact-integer energy (Σ|s|) and
    // zero-crossing count (sign flips between consecutive in-frame
    // samples), the features an audio-curation pass filters on
    // (silence/clipping/speech screens). One scan-local pass per
    // payload through the real RIFF walk; the oracle re-derives every
    // frame from the sample FORMULA, so parity proves decode, framing,
    // and both feature kernels sample-for-sample.
    "media_wav_features" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.{Audio, Wav}
      val media = s.range(0, 500).as[Long]
        .map(id => (id, Wav.synth(id)))
        .toDF("media_id", "content")
      Audio.frameFeatures(media, frameSize = 64)
        .orderBy("media_id", "frame")
    }),

    // C12c: second REAL image codec round-trip — Bmp.synth builds VALID
    // 24-bit BMP payloads (bottom-up row order, 4-byte row padding, and
    // a junk gap before the pixel array addressed only through the
    // header's bfOffBits — three independent ways a fixed-offset or
    // top-down "parser" silently decodes wrong pixels) from a pure
    // integer function of the id; BmpCodec REALLY parses them through
    // the production mapPartitions codec seam. The oracle re-derives
    // the per-window mean-intensity features from the pixel FORMULA in
    // logical raster order, so a hash match proves the encoder and the
    // parser agree on byte layout, row direction, and stride.
    "media_bmp_roundtrip" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.{Bmp, BmpCodec}
      val media = s.range(0, 500).as[Long]
        .map(id => (id, "image", Bmp.synth(id)))
        .toDF("media_id", "kind", "content")
      graft.multimodal.Media.decodeFeatures(media, dim = 8, codec = BmpCodec)
        .select(col("media_id"), col("n_bytes"),
          graft.multimodal.Media.featuresCsv(col("features"))
            .as("features_csv"))
        .orderBy("media_id")
    }),

    // C12d: third REAL codec — VIDEO. Avi.synth builds VALID AVI
    // containers (RIFF chunk walk → validated hdrl main+stream headers
    // → planted JUNK chunk → movi LIST located by list TYPE →
    // dwTotalFrames uncompressed 00db DIB frames with bottom-up padded
    // rows) from a pure integer function of (id, frame, pixel);
    // AviCodec REALLY parses them through the production mapPartitions
    // seam. With WAV (audio) and BMP (image) this makes every
    // modality's decode real — the ByteHistogramCodec stand-in is now
    // only the default fallback, not a coverage gap. The oracle
    // re-derives per-frame-window mean intensity from the FORMULA, so
    // a hash match proves container walk, header parse, frame count,
    // row direction, and stride all agree.
    "media_avi_roundtrip" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.{Avi, AviCodec}
      val media = s.range(0, 500).as[Long]
        .map(id => (id, "video", Avi.synth(id)))
        .toDF("media_id", "kind", "content")
      graft.multimodal.Media.decodeFeatures(media, dim = 8, codec = AviCodec)
        .select(col("media_id"), col("n_bytes"),
          graft.multimodal.Media.featuresCsv(col("features"))
            .as("features_csv"))
        .orderBy("media_id")
    }),

    // C12e: fourth REAL codec — the first COMPRESSED format. Png.synth
    // builds valid 24-bit non-interlaced PNGs (signature → IHDR →
    // planted ancillary chunk → zlib stream SPLIT across two IDAT
    // chunks → IEND, real CRC-32 per chunk, every scanline filtered
    // with (id+y)%5 so all five PNG filters are live); PngCodec
    // REALLY parses them — chunk walk + CRC verify + IDAT reassembly
    // + JDK Inflater + Sub/Up/Average/Paeth reversal — through the
    // production mapPartitions seam. The oracle re-derives per-window
    // mean intensity from the pixel FORMULA (it never models
    // deflate), so a hash match proves the whole decode PIPELINE
    // agrees with the encoder. n_bytes is not formula-computable
    // (deflate output size), so the grade rides entirely on features.
    "media_png_roundtrip" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.{Png, PngCodec}
      val media = s.range(0, 500).as[Long]
        .map(id => (id, "image", Png.synth(id)))
        .toDF("media_id", "kind", "content")
      graft.multimodal.Media.decodeFeatures(media, dim = 8, codec = PngCodec)
        .select(col("media_id"),
          graft.multimodal.Media.featuresCsv(col("features"))
            .as("features_csv"))
        .orderBy("media_id")
    }),

    // C121: perceptual image hashing (dHash) through the REAL PNG
    // decoder — the image-side twin of C3's SimHash. 550 PNGs (500
    // base + 50 near-duplicates planted by perturbing ONE pixel's R
    // channel, which survives the whole encode→deflate→decode loop)
    // hash to 64 exact-integer gradient bits (8×9 area-binned
    // grayscale grid, cross-product brightness compares — no floats);
    // the oracle re-derives every bit from the pixel FORMULA, so
    // parity proves decode + binning + compare agree bit-for-bit.
    "media_phash" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.{PHash, Png}
      val base = s.range(0, 500).as[Long]
        .map(id => (id, Png.synthTextured(id)))
      val planted = s.range(0, 500).as[Long].filter(_ % 10 == 0)
        .map(id => (id + 100000L, Png.synthTextured(id, delta = 120)))
      PHash.dHashFrame(base.union(planted).toDF("media_id", "content"))
        .orderBy("media_id")
    }),

    // C121 near-dup leg: 4×16-bit pigeonhole banding (lossless to
    // hamming 6) + exact bit_count verification — candidates are
    // band-bucket joins, the 550² all-pairs square never forms. The
    // planted (id, id+100000) pairs differ in at most a couple of
    // gradient bits and must all surface; the oracle replays banding
    // and verification from the formula-derived hashes.
    "media_phash_neardup" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.{PHash, Png}
      val base = s.range(0, 500).as[Long]
        .map(id => (id, Png.synthTextured(id)))
      val planted = s.range(0, 500).as[Long].filter(_ % 10 == 0)
        .map(id => (id + 100000L, Png.synthTextured(id, delta = 120)))
      PHash.neardupPairs(
          PHash.dHashFrame(base.union(planted).toDF("media_id", "content")),
          maxHamming = 6)
        .orderBy("id_a", "id_b")
    }),

    "media_neardup" -> ((s, dir) => {
      val m = graft.multimodal.Media.fromDocuments(Tables.documents(s, dir))
      val feats = graft.multimodal.Media.decodeFeatures(m, dim = 16)
      graft.multimodal.Media.neardupPairs(feats)
        .orderBy("id_a", "id_b")
    }),

    // C7: LSH-bucketed ANN — the scale path; band equi-join, exact cosine
    // on candidates only. Recall vs the exact C6 baseline is asserted in
    // DocsOpsSpec.
    "emb_ann_lsh" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      AnnLsh.topK(
        corpus = e.where(col("vec_id") >= 8),
        probes = e.where(col("vec_id") < 8),
        idCol = "vec_id", vecCol = "embedding", k = 5)
        .orderBy("probe_id", "rank")
    }),

    // C74: ANN self-evaluation — per-(method, probe) recall of every
    // approximate index tier (LSH, IVF, PQ-ADC) against the exact
    // brute-force baseline; the regression gate consulted when re-tuning
    // band counts / nprobe / codebooks. Report runs on |probes|·k-sized
    // frames; the spine join keeps probes with ZERO approx results
    // visible as recall 0.
    "emb_ann_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val corpus = e.where(col("vec_id") >= 8)
      val probes = e.where(col("vec_id") < 8)
      val exact = Similarity.annTopK(corpus, probes,
        idCol = "vec_id", vecCol = "embedding", k = 5)
      AnnEval.recallReport(exact, Seq(
          "lsh" -> AnnLsh.topK(corpus, probes,
            idCol = "vec_id", vecCol = "embedding", k = 5),
          "ivf" -> graft.operators.AnnIvf.topK(corpus, probes,
            idCol = "vec_id", vecCol = "embedding", labelCol = "label",
            k = 5, nprobe = 3),
          "pq" -> Pq.annTopK(corpus, probes,
            idCol = "vec_id", vecCol = "embedding", topK = 5),
          // the composite index's recall compounds IVF routing loss
          // with ADC quantization loss — graded beside its parents
          "ivfpq" -> Pq.annTopKIvf(corpus, probes,
            idCol = "vec_id", vecCol = "embedding", labelCol = "label",
            topK = 5, nprobe = 3),
          // the learned-codebook tier joined the report once its
          // training loop gained the relational oracle (r10) — the
          // regression gate now grades every deployed ANN tier
          "pq_learned" -> Pq.annTopK(corpus, probes,
            idCol = "vec_id", vecCol = "embedding", topK = 5,
            codebook = Pq.learnCodebook(corpus, "vec_id", "embedding"))))
        .orderBy("method", "probe_id")
    }),

    // C80: Matryoshka-truncation evaluation — per-probe recall of
    // prefix-dimension search (first 8/16/32 of 64 dims) against the
    // full-dim exact baseline: the dimension-budget tuning table for
    // MRL-style embeddings (store/search a prefix, pay cosine on d
    // dims instead of D). Truncation is a scan-local slice; each tier
    // is the same broadcast-probe top-k plan at lower width; the
    // report runs on |probes|·k rows via the C74 spine (zero-result
    // probes stay visible as recall 0). On the SYNTHETIC random
    // embeddings prefix recall is low by nature (no dimension is
    // privileged); MRL-trained embeddings concentrate information in
    // the prefix — the report is how that claim gets checked before
    // cutting storage. The d = full-width tier is the identity
    // (recall 1.0 exactly), pinned in AnnEvalSpec.
    "emb_ann_mrl" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      def part(pred: Column, d: Int) = e.where(pred)
        .select(col("vec_id"), slice(col("embedding"), 1, d).as("embedding"))
      val corpus = e.where(col("vec_id") >= 8)
      val probes = e.where(col("vec_id") < 8)
      val exact = Similarity.annTopK(corpus, probes,
        idCol = "vec_id", vecCol = "embedding", k = 5)
      AnnEval.recallReport(exact, Seq(8, 16, 32).map { d =>
          s"mrl$d" -> Similarity.annTopK(
            part(col("vec_id") >= 8, d), part(col("vec_id") < 8, d),
            idCol = "vec_id", vecCol = "embedding", k = 5)
        })
        .orderBy("method", "probe_id")
    }),

    // C75: IVF list-balance report — per-centroid occupancy of the C18
    // fixed-centroid assignment plus each list's deviation from the
    // mean (balance = n/avg): the health check before trusting an IVF
    // index (a hot list degrades every probe that hits it; an empty
    // list wastes a probe). One corpus scan to |k| rows; the stats join
    // back as a broadcast 1-row aggregate.
    "emb_ivf_balance" -> ((s, dir) => {
      val scored = Tables.embeddings(s, dir).select(
        col("vec_id") +: kmScoreCols: _*)
      val lists = scored.select(kmArgmaxCol.as("assigned"))
        .groupBy("assigned").agg(count(lit(1)).as("n_vecs"))
        .localCheckpoint() // stats re-read it; don't rescan the corpus
      val tot = lists.agg(sum(col("n_vecs")).as("total"),
        avg(col("n_vecs")).as("avg_n"))
      lists.crossJoin(broadcast(tot))
        .select(col("assigned"), col("n_vecs"),
          round(col("n_vecs").cast("double") / col("total"), 4).as("frac"),
          round(col("n_vecs").cast("double") / col("avg_n"), 4).as("balance"))
        .orderBy("assigned")
    }))

  /** Deterministic per-SF scratch dir for round-trip writers (same
    * input -> same path, so reruns exercise the overwrite path). */
  private def scratchPath(dir: String, tag: String): String =
    sys.props("java.io.tmpdir") + "/graft_rt_" + tag + "_" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Shared CTE chain for the two `media_phash*` oracles: the planted
    * media ladder (500 base + 50 delta-perturbed near-dups), pixels
    * from the [[graft.multimodal.Png.texChannel]] formula, 8×9 area
    * binning with empty cells as (0,0), cross-product gradient bits,
    * and the 32-bit hash halves. */
  private val pHashCtes: String =
    """WITH m AS (
      |  SELECT i AS media_id, i AS pid, 0 AS delta
      |  FROM generate_series(0, 499) t(i)
      |  UNION ALL
      |  SELECT 100000 + i, i, 120 FROM generate_series(0, 499) t(i)
      |  WHERE i % 10 = 0),
      |px AS (
      |  SELECT media_id, pid, delta,
      |         CAST(8 + pid % 9 AS BIGINT) AS w,
      |         CAST(4 + pid % 5 AS BIGINT) AS h
      |  FROM m),
      |ps AS (
      |  SELECT media_id, pid, delta, w, h, unnest(range(w * h)) AS p
      |  FROM px),
      |g AS (
      |  SELECT media_id,
      |         ((p % w) * 9) // w AS gx, ((p // w) * 8) // h AS gy,
      |         (pid * 7 + p * p * 31 + pid * p * 13
      |            + CASE WHEN p = 0 THEN delta ELSE 0 END) % 256
      |           + (pid * 7 + p * p * 31 + pid * p * 13 + 11) % 256
      |           + (pid * 7 + p * p * 31 + pid * p * 13 + 22) % 256 AS a
      |  FROM ps),
      |cells0 AS (
      |  SELECT media_id, gy, gx, sum(a) AS s, count(*) AS c
      |  FROM g GROUP BY 1, 2, 3),
      |grid AS (
      |  SELECT md.media_id, gy.gy, gx.gx
      |  FROM (SELECT DISTINCT media_id FROM m) md,
      |       generate_series(0, 7) gy(gy), generate_series(0, 8) gx(gx)),
      |cells AS (
      |  SELECT grid.media_id, grid.gy, grid.gx,
      |         COALESCE(c0.s, 0) AS s, COALESCE(c0.c, 0) AS c
      |  FROM grid LEFT JOIN cells0 c0
      |    ON grid.media_id = c0.media_id AND grid.gy = c0.gy
      |   AND grid.gx = c0.gx),
      |bits AS (
      |  SELECT l.media_id, l.gy, l.gx,
      |         CASE WHEN l.s * r.c > r.s * l.c THEN 1 ELSE 0 END AS bit
      |  FROM cells l JOIN cells r
      |    ON l.media_id = r.media_id AND l.gy = r.gy
      |   AND r.gx = l.gx + 1
      |  WHERE l.gx < 8),
      |hashes AS (
      |  SELECT media_id,
      |         CAST(sum(CASE WHEN gy < 4
      |           THEN bit * (1::BIGINT << (gy * 8 + gx))
      |           ELSE 0 END) AS BIGINT) AS dhash_hi,
      |         CAST(sum(CASE WHEN gy >= 4
      |           THEN bit * (1::BIGINT << ((gy - 4) * 8 + gx))
      |           ELSE 0 END) AS BIGINT) AS dhash_lo
      |  FROM bits GROUP BY 1)""".stripMargin

  val oracles: Map[String, String] = Map(

    // Every dHash bit re-derived from the pixel formula.
    "media_phash" -> (pHashCtes +
      """
        |SELECT media_id, dhash_hi, dhash_lo FROM hashes
        |ORDER BY media_id""".stripMargin),

    // Banding + exact-hamming verification replayed from the
    // formula-derived hashes.
    "media_phash_neardup" -> (pHashCtes +
      """,
        |bands AS (
        |  SELECT media_id, dhash_hi, dhash_lo, unnest([
        |    dhash_hi % 65536,
        |    (dhash_hi // 65536) + 65536,
        |    (dhash_lo % 65536) + 131072,
        |    (dhash_lo // 65536) + 196608]) AS band
        |  FROM hashes),
        |cand AS (
        |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
        |         a.dhash_hi AS ha, a.dhash_lo AS la,
        |         b.dhash_hi AS hb, b.dhash_lo AS lb
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.media_id < b.media_id)
        |SELECT id_a, id_b,
        |       CAST(bit_count(xor(ha, hb))
        |            + bit_count(xor(la, lb)) AS BIGINT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 6
        |ORDER BY id_a, id_b""".stripMargin),

    // Frontier: ledger anti-join, per-host longest-first ranks,
    // budget cycles, politeness arithmetic — all restated in SQL.
    "doc_crawl_frontier" ->
      """WITH pending AS (
        |  SELECT doc_id, n_chars, doc_id % 97 AS host,
        |         5 + (doc_id % 97) % 7 AS delay_s
        |  FROM documents WHERE doc_id % 5 <> 0),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY host
        |    ORDER BY n_chars DESC, doc_id) - 1 AS BIGINT) AS fetch_rank
        |  FROM pending)
        |SELECT doc_id, host, fetch_rank,
        |       fetch_rank // 4 AS fetch_cycle,
        |       (fetch_rank // 4) * 3600 + (fetch_rank % 4) * delay_s
        |         AS fetch_at_s
        |FROM ranked
        |ORDER BY doc_id""".stripMargin,

    // With id-ordered arrival, "accepted by the streaming ledger
    // protocol" == "min doc_id per distinct text" — stated directly.
    "doc_crawl_ingest" ->
      """WITH w AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY text)
        |SELECT d.doc_id, d.source, d.lang, d.n_chars,
        |       (SELECT count(*) FROM w) AS n_ledger
        |FROM documents d JOIN w USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // The writers never touch DuckDB: the oracle aggregates the RAW
    // table under the same predicates, so parity proves the layout
    // reshuffle lost/duplicated/corrupted nothing.
    "doc_layout_roundtrip" ->
      s"""WITH base AS (
        |  SELECT doc_id, lang, source, n_chars FROM documents)
        |SELECT leg, n_docs, sum_chars, n_sources FROM (
        |  SELECT 'range' AS leg, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |    count(DISTINCT source) AS n_sources
        |  FROM base WHERE doc_id BETWEEN 100 AND 2000
        |  UNION ALL
        |  SELECT 'hive', count(*), CAST(sum(n_chars) AS BIGINT),
        |    count(DISTINCT source)
        |  FROM base WHERE lang = 'en'
        |  UNION ALL
        |  SELECT 'zorder', count(*), CAST(sum(n_chars) AS BIGINT),
        |    count(DISTINCT source)
        |  FROM base WHERE doc_id BETWEEN 100 AND 2000
        |    AND n_chars BETWEEN 200 AND 800)
        |ORDER BY leg""".stripMargin,

    "doc_pack" ->
      Packing.oracleSql("documents", "doc_id", "text",
        numBuckets = 8, budgetTokens = 2048),

    "doc_pack_sweep" ->
      Seq(512, 1024, 2048).map { budget =>
        s"""SELECT ${budget}::BIGINT AS budget,
           |  count(DISTINCT bucket || ':' || shard) AS n_shards,
           |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           |  round(CAST(count(DISTINCT bucket || ':' || shard) * $budget
           |        - sum(n_tokens) AS DOUBLE) * 100
           |        / (count(DISTINCT bucket || ':' || shard) * $budget), 4)
           |    AS waste_pct
           |FROM (${graft.operators.Packing.oracleSql("documents", "doc_id",
                    "text", 8, budget)})""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY budget"),

    "doc_decontaminate" ->
      Decontaminate.oracleSql("documents", "doc_id", "text",
        n = deconN, minOverlap = deconMinOverlap, evalMod = evalMod),

    "doc_decontaminate_fuzzy" ->
      Decontaminate.fuzzyOracleSql("documents", "doc_id", "text",
        threshold = fuzzyThreshold, evalMod = evalMod),

    "doc_curate_manifest" -> {
      val gram = (0 until deconN).map(o => s"t[i+$o]").mkString(" || ' ' || ")
      s"""WITH keepers AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
         |tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |hv AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    [$gram for i in generate_series(1, len(t)-${deconN - 1})],
         |    x -> ('0x'||substr(md5(x),1,8))::BIGINT)) AS h
         |  FROM tk WHERE len(t) >= $deconN),
         |eval_grams AS (
         |  SELECT DISTINCT unnest(h) AS g FROM hv WHERE doc_id % $evalMod = 0),
         |contaminated AS (
         |  SELECT tr.doc_id
         |  FROM (SELECT doc_id, unnest(h) AS g FROM hv
         |        WHERE doc_id % $evalMod <> 0) tr
         |  JOIN eval_grams USING (g)
         |  GROUP BY 1 HAVING count(*) >= $deconMinOverlap),
         |rep AS (SELECT doc_id, ${dupFracSql(deconN)} AS dup3 FROM tk),
         |curated AS (
         |  SELECT d.doc_id, d.lang, d.text FROM documents d
         |  JOIN keepers USING (doc_id)
         |  JOIN rep USING (doc_id)
         |  WHERE d.doc_id % $evalMod <> 0
         |    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
         |    AND rep.dup3 < $dupFracMax),
         |mixed AS (
         |  SELECT doc_id, lang, text,
         |         ${Sampling.splitCaseSql("doc_id", splitSpec)} AS split
         |  FROM curated
         |  WHERE ${Sampling.stratifiedWhereSql("doc_id", "lang", langMixPct, defaultMixPct)})
         |SELECT split, lang, count(*) AS n_docs,
         |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
         |FROM mixed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    "doc_dedup_incremental" ->
      """WITH half AS (
        |  SELECT CAST(floor(max(doc_id) / 2.0) AS BIGINT) AS h FROM documents),
        |nb AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |agg AS (
        |  SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
        |         count(*) AS n_copies
        |  FROM nb GROUP BY 1),
        |seen AS (
        |  SELECT DISTINCT sha256(text) AS content_hash
        |  FROM documents, half WHERE doc_id <= h)
        |SELECT content_hash, keep_id, n_copies FROM agg
        |WHERE content_hash NOT IN (SELECT content_hash FROM seen)
        |ORDER BY keep_id""".stripMargin,

    // Bloom prefilter changes the PLAN, never the result — the oracle is
    // the exact anti-join, verbatim.
    "doc_dedup_incremental_bloom" ->
      """WITH half AS (
        |  SELECT CAST(floor(max(doc_id) / 2.0) AS BIGINT) AS h FROM documents),
        |nb AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |agg AS (
        |  SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
        |         count(*) AS n_copies
        |  FROM nb GROUP BY 1),
        |seen AS (
        |  SELECT DISTINCT sha256(text) AS content_hash
        |  FROM documents, half WHERE doc_id <= h)
        |SELECT content_hash, keep_id, n_copies FROM agg
        |WHERE content_hash NOT IN (SELECT content_hash FROM seen)
        |ORDER BY keep_id""".stripMargin,

    "doc_repetition" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         |SELECT doc_id,
         |  ${dupFracSql(2)} AS dup_2gram_frac,
         |  ${dupFracSql(3)} AS dup_3gram_frac
         |FROM tk ORDER BY doc_id""".stripMargin,

    "doc_fuzzy_match" ->
      (Fuzzy.editDistance1PairsSql("customer", "c_custkey", "c_name")
        + "\nORDER BY a_id, b_id"),

    "doc_compaction_plan" ->
      s"""WITH c AS (
         |  SELECT source, doc_id, n_chars,
         |    coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
         |  FROM documents),
         |f AS (
         |  SELECT source, bef // $compactTarget AS file_id, doc_id, n_chars
         |  FROM c)
         |SELECT source, CAST(file_id AS BIGINT) AS file_id,
         |  count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS bytes,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
         |  round(CAST(sum(n_chars) AS BIGINT) * 100.0 / $compactTarget, 4) AS fill_pct
         |FROM f GROUP BY source, file_id
         |ORDER BY source, file_id""".stripMargin,

    "doc_gopher_rules" ->
      s"""$gopherFlagsSql
         |SELECT doc_id, n_tokens, wc_ok, mwl_ok, uniq_ok, top_ok, stop_ok,
         |  (wc_ok * mwl_ok * uniq_ok * top_ok * stop_ok)::BIGINT AS pass
         |FROM gf ORDER BY doc_id""".stripMargin,

    "doc_gopher_report" ->
      s"""$gopherFlagsSql
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(1 - wc_ok) AS BIGINT) AS fail_wc,
         |  CAST(sum(1 - mwl_ok) AS BIGINT) AS fail_mwl,
         |  CAST(sum(1 - uniq_ok) AS BIGINT) AS fail_uniq,
         |  CAST(sum(1 - top_ok) AS BIGINT) AS fail_top,
         |  CAST(sum(1 - stop_ok) AS BIGINT) AS fail_stop,
         |  CAST(sum(wc_ok * mwl_ok * uniq_ok * top_ok * stop_ok) AS BIGINT) AS n_pass
         |FROM gf GROUP BY source ORDER BY source""".stripMargin,

    "doc_neardup_incremental" ->
      (MinHash.incrementalOracleSql("documents",
        id => s"$id % 10 = 0", 0.5) + "\nORDER BY new_id, corpus_id"),

    "doc_curate_dsl" ->
      s"""WITH keep AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
        |base AS (
        |  SELECT d.* FROM documents d JOIN keep USING (doc_id)
        |  WHERE lang IN ('en', 'zh')
        |    AND ${Sampling.stratifiedWhereSql("doc_id", "lang",
               Map("en" -> 20, "zh" -> 60), 40)})
        |SELECT ${Sampling.splitCaseSql("doc_id",
               Seq("train" -> 80, "valid" -> 10, "test" -> 10))} AS split,
        |       lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM base GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "doc_neardup_clusters" -> neardupClustersOracle,

    // identical contract, identical oracle — the star-rounds variant
    // must produce byte-identical components
    "doc_neardup_clusters_star" -> neardupClustersOracle,

    // Deliberately the FULL-recompute components SQL: the incremental
    // update must reproduce it exactly.
    "doc_neardup_clusters_incr" -> neardupClustersOracle,

    "doc_cluster_reps" ->
      s"""WITH RECURSIVE pairs AS (
        |  SELECT id_a, id_b FROM (${MinHash.minhashOracleSql("documents", 0.5)}) mm),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT a AS doc_id, a AS cluster_id FROM edges
        |  UNION
        |  SELECT e.a, r.cluster_id FROM edges e JOIN reach r ON e.b = r.doc_id),
        |labels AS (
        |  SELECT doc_id, min(cluster_id) AS cluster_id FROM reach GROUP BY 1),
        |sized AS (
        |  SELECT l.cluster_id, l.doc_id,
        |         len(string_split(d.text, ' '))::BIGINT AS n_tokens
        |  FROM labels l JOIN documents d USING (doc_id)),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |      PARTITION BY cluster_id ORDER BY n_tokens DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY cluster_id) AS n_members
        |  FROM sized)
        |SELECT cluster_id, doc_id AS rep_id, n_tokens AS rep_tokens, n_members
        |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin,

    "doc_corpus_diff" ->
      (Dedup.snapshotDiffSql(
        "documents",
        """(SELECT doc_id, text || ' rev2' AS text FROM documents
          |   WHERE doc_id % 7 = 1
          | UNION ALL
          | SELECT doc_id, text FROM documents WHERE doc_id % 7 NOT IN (0, 1)
          | UNION ALL
          | SELECT doc_id + 1000000 AS doc_id, text FROM documents
          |   WHERE doc_id % 7 = 2) nx""".stripMargin,
        "doc_id", "text") + "\nORDER BY doc_id"),

    "doc_vocab_drift" ->
      Drift.vocabDriftSql(
        "documents",
        """(SELECT doc_id, text || ' rev2' AS text FROM documents
          |   WHERE doc_id % 7 = 1
          | UNION ALL
          | SELECT doc_id, text FROM documents WHERE doc_id % 7 NOT IN (0, 1)
          | UNION ALL
          | SELECT doc_id + 1000000 AS doc_id, text FROM documents
          |   WHERE doc_id % 7 = 2) nx""".stripMargin,
        "text"),

    "doc_dsir_weights" ->
      (Dsir.importanceWeightsSql("documents", "doc_id", "text",
        "source = 'src0' AND lang = 'en'") + "\nORDER BY doc_id"),

    // the same crawl + overlap derivation as doc_source_overlap's
    // oracle, then the unrolled 3-iteration integer PR loop
    "doc_source_pagerank" ->
      ("SELECT v AS source, rank_e12 FROM (\n" +
        Graph.pagerankSql(
          """crawl AS (
            |  SELECT source, text FROM documents
            |  UNION ALL
            |  SELECT 'src' || CAST(((doc_id % 20) + 7) % 20 AS VARCHAR)
            |           AS source, text
            |  FROM documents WHERE doc_id % 3 = 0),
            |sd AS (
            |  SELECT DISTINCT source AS src, sha256(text) AS digest
            |  FROM crawl),
            |ov AS (
            |  SELECT a.src AS sa, b.src AS sb, count(*) AS shared
            |  FROM sd a JOIN sd b ON a.digest = b.digest AND a.src < b.src
            |  GROUP BY 1, 2),
            |edges AS (
            |  SELECT sa AS src, sb AS dst, shared AS w FROM ov
            |  UNION ALL
            |  SELECT sb AS src, sa AS dst, shared AS w FROM ov),
            |nodes AS (SELECT DISTINCT source AS v FROM crawl)""".stripMargin,
          iters = 3) +
        "\n) pr ORDER BY rank_e12 DESC, source"),

    "doc_source_overlap" ->
      (Provenance.sourceOverlapSql(
        """(SELECT source, text FROM documents
          | UNION ALL
          | SELECT 'src' || CAST(((doc_id % 20) + 7) % 20 AS VARCHAR)
          |          AS source, text
          | FROM documents WHERE doc_id % 3 = 0) crawl""".stripMargin,
        "source", "text") + "\nORDER BY source_a, source_b"),

    "doc_bpe_pairs" ->
      (Bpe.pairCountsSql("documents", "text") +
        "\nORDER BY \"left\", \"right\""),

    // Six learn+apply rounds replayed in SQL over the parenthesized
    // representation (see Bpe.encodeSql).
    "doc_bpe_encode" ->
      (Bpe.encodeSql("documents", "doc_id", "text", nMerges = 6) +
        "\nORDER BY doc_id"),

    "doc_dup_spans" ->
      (Dedup.duplicatedSpansSql("documents", "doc_id", "text",
        k = dupSpanK) + "\nORDER BY doc_id, span_start"),

    "doc_bm25_topk" ->
      (Bm25.topKSql("documents", "doc_id", "text", bm25Queries, bm25K) +
        "\nORDER BY qid, rank"),

    "doc_retrieval_eval" ->
      (Bm25.evalTopKSql("documents", "doc_id", "text", bm25Queries, bm25K) +
        "\nORDER BY qid"),

    "doc_ngram_diversity" ->
      (Drift.ngramDiversitySql("documents", "text", "source") +
        "\nORDER BY stratum, n"),

    // INDEPENDENT derivation: expected prose from the raw text + known
    // wrapper, never the regex chain itself
    "doc_html_strip" ->
      """WITH exp AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      'Home & About <here> ' || text || ' (c) 2026',
        |      '[ \t\r\n]+', ' ', 'g')) AS expected
        |  FROM documents)
        |SELECT doc_id,
        |  sha256(expected) AS stripped_sha256,
        |  CAST(length(expected) AS BIGINT) AS n_chars_stripped
        |FROM exp ORDER BY doc_id""".stripMargin,

    "doc_url_canonical" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 97 AS g, doc_id % 6 AS v
        |  FROM documents)
        |SELECT 'https://www.page' || g || '.example.com/a/' || g
        |         AS canonical_url,
        |       count(*) AS n_docs,
        |       CAST(count(DISTINCT v) AS BIGINT) AS n_raw_forms
        |FROM d GROUP BY g
        |ORDER BY canonical_url""".stripMargin,

    "doc_script_mix" ->
      """SELECT doc_id,
        |  CAST(CASE doc_id % 8 WHEN 0 THEN 6 WHEN 3 THEN 2
        |       ELSE 0 END AS BIGINT) AS n_cyrillic,
        |  CAST(CASE doc_id % 8 WHEN 1 THEN 4 ELSE 0 END AS BIGINT) AS n_cjk,
        |  CAST(CASE doc_id % 8 WHEN 2 THEN 6 ELSE 0 END AS BIGINT)
        |    AS n_arabic,
        |  CAST(doc_id % 8 = 3 AS BIGINT) AS has_mixed_script_word,
        |  CASE doc_id % 8 WHEN 3 THEN 'homoglyph_suspect'
        |                  WHEN 1 THEN 'cjk'
        |                  WHEN 0 THEN 'cyrillic'
        |                  WHEN 2 THEN 'arabic'
        |                  ELSE 'latin' END AS script_class
        |FROM documents ORDER BY doc_id""".stripMargin,

    "doc_mojibake" ->
      """SELECT doc_id,
        |  CAST(doc_id % 10 = 0 AS BIGINT) AS has_replacement,
        |  CAST(doc_id % 10 = 1 AS BIGINT) AS has_c1,
        |  CAST(doc_id % 10 = 2 AS BIGINT) AS has_latin1_mojibake,
        |  CASE doc_id % 10 WHEN 0 THEN 'replacement'
        |                   WHEN 1 THEN 'c1_controls'
        |                   WHEN 2 THEN 'latin1_mojibake'
        |                   ELSE 'clean' END AS damage_class
        |FROM documents ORDER BY doc_id""".stripMargin,

    "doc_mojibake_report" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_replacement,
        |  CAST(sum(CASE WHEN doc_id % 10 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_c1,
        |  CAST(sum(CASE WHEN doc_id % 10 = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_latin1_mojibake,
        |  CAST(10000 * sum(CASE WHEN doc_id % 10 < 3 THEN 1 ELSE 0 END)
        |       // count(*) AS BIGINT) AS damaged_e4
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "doc_domain_report" ->
      (s"""WITH d AS (
        |  SELECT ${graft.operators.Domains.expectedDomainSql} AS domain,
        |         len(string_split(text, ' ')) AS n_toks, n_chars
        |  FROM documents)
        |SELECT domain, count(*) AS n_docs,
        |       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM d
        |WHERE domain NOT IN ('site3.com', 'site7.co.uk')
        |GROUP BY domain ORDER BY domain""".stripMargin),

    "doc_domain_psl" ->
      """WITH d AS (
        |  SELECT doc_id % 13 AS n, doc_id % 8 AS v FROM documents),
        |e AS (
        |  SELECT CASE v
        |    WHEN 0 THEN 'site' || n || '.com'
        |    WHEN 1 THEN 'site' || n || '.co.uk'
        |    WHEN 2 THEN 'site' || n || '.com.au'
        |    WHEN 3 THEN 'site' || n || '.go.jp'
        |    WHEN 4 THEN 'site' || n || '.github.io'
        |    WHEN 5 THEN 'shop.site' || n || '.ck'
        |    WHEN 6 THEN 'www.ck'
        |    ELSE 'site' || n || '.de' END AS domain
        |  FROM d)
        |SELECT domain, count(*) AS n_docs
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    "doc_domain_cap" ->
      (s"""WITH d AS (
        |  SELECT doc_id,
        |         ${graft.operators.Domains.expectedDomainSql} AS domain
        |  FROM documents),
        |r AS (
        |  SELECT domain, doc_id,
        |         CAST(row_number() OVER (
        |           PARTITION BY domain
        |           ORDER BY md5('cap' || doc_id), doc_id) AS BIGINT) AS rnk
        |  FROM d)
        |SELECT domain, doc_id, rnk FROM r WHERE rnk <= 5
        |ORDER BY domain, rnk""".stripMargin),

    "doc_bm25_rrf" ->
      (Bm25.rrfRerankSql(
        Bm25.topKSql("documents", "doc_id", "text", bm25Queries, bm25K),
        "documents", "doc_id",
        """round(least(1.0, len(string_split(text, ' ')) / 100.0)
          |      * (0.5 + 0.5 * (len(list_distinct(string_split(text, ' ')))
          |                      / len(string_split(text, ' ')))), 4)"""
          .stripMargin) + "\nORDER BY qid, fused_rank"),

    "doc_unigram_lp" ->
      (Unigram.logProbScoresSql("documents", "doc_id", "text") +
        "\nORDER BY doc_id"),

    "doc_lm_deciles" ->
      (Unigram.logProbDecilesSql("documents", "doc_id", "text", "source") +
        "\nORDER BY stratum, decile"),

    "doc_zipf" ->
      (Unigram.zipfSlopeSql("documents", "text", "source") +
        "\nORDER BY stratum"),

    "doc_bigram_lp" ->
      (Bigram.logProbScoresSql("documents", "doc_id", "text") +
        "\nORDER BY doc_id"),

    "doc_bigram_kn" ->
      (Bigram.knLogProbScoresSql("documents", "doc_id", "text") +
        "\nORDER BY doc_id"),

    "doc_tfidf" ->
      (Unigram.tfIdfTopTermsSql("documents", "doc_id", "text", 3) +
        "\nORDER BY doc_id, tfidf DESC, term"),

    "doc_length_hist" ->
      """SELECT CAST(floor(len(string_split(text, ' ')) / 50.0) AS BIGINT) AS bucket,
        |       count(*) AS n_docs,
        |       min(len(string_split(text, ' '))::BIGINT) AS min_tokens,
        |       max(len(string_split(text, ' '))::BIGINT) AS max_tokens
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "emb_quantize" ->
      (Quantize.reconstructionReportSql("embeddings", "vec_id", "embedding") +
        "\nORDER BY vec_id"),

    "emb_health" ->
      """WITH e AS (
        |  SELECT sqrt(list_dot_product(embedding, embedding)) AS norm,
        |         len(embedding)::BIGINT AS dim
        |  FROM embeddings)
        |SELECT count(*) AS n_vectors,
        |       count(DISTINCT dim) AS n_distinct_dims,
        |       CAST(sum(CASE WHEN norm < 1e-12 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
        |       round(min(norm), 4) AS min_norm,
        |       round(max(norm), 4) AS max_norm,
        |       round(avg(norm), 4) AS avg_norm
        |FROM e""".stripMargin,

    "emb_ood" -> graft.SqlTemplate.fill(
      """SELECT e.vec_id, CAST(e.label AS BIGINT) AS label, s.ood_e9
        |FROM (__OOD__) s
        |JOIN embeddings e USING (vec_id)
        |ORDER BY ood_e9 DESC, vec_id LIMIT 50""".stripMargin,
      "__OOD__" -> Pca.diagOodSql("embeddings", "vec_id", "embedding")),

    "doc_split" ->
      s"""SELECT ${Sampling.splitCaseSql("doc_id", splitSpec)} AS split,
         |       count(*) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "doc_split_leakage_safe" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT id_a, id_b FROM (${MinHash.minhashOracleSql("documents", 0.5)}) mm),
         |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT a AS doc_id, a AS cluster_id FROM edges
         |  UNION
         |  SELECT e.a, r.cluster_id FROM edges e JOIN reach r ON e.b = r.doc_id),
         |labels AS (
         |  SELECT doc_id, min(cluster_id) AS cluster_id FROM reach GROUP BY 1),
         |d AS (
         |  SELECT dd.doc_id, dd.n_chars, l.cluster_id,
         |         coalesce(l.cluster_id, dd.doc_id) AS rep_id
         |  FROM documents dd LEFT JOIN labels l ON dd.doc_id = l.doc_id)
         |SELECT ${Sampling.splitCaseSql("rep_id", splitSpec)} AS split,
         |  count(*) AS n_docs,
         |  CAST(sum(CASE WHEN cluster_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_clustered,
         |  count(DISTINCT rep_id) AS n_groups,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    "doc_sample_stratified" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${Sampling.stratifiedWhereSql("doc_id", "lang", langMixPct, defaultMixPct)}
         |ORDER BY doc_id""".stripMargin,

    "doc_minhash_calibration" -> MinHash.calibrationSql("documents"),

    "doc_chat_format" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         CAST((len(string_split(text, ' ')) + 1) // 2 AS INT) AS k
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, k, len(toks) AS n,
        |    '<|user|>' || chr(10) || array_to_string(toks[1:k], ' ')
        |      || chr(10) || '<|assistant|>' || chr(10) AS pre,
        |    array_to_string(toks[k+1:], ' ') AS response
        |  FROM t)
        |SELECT doc_id,
        |  CAST(k AS BIGINT) AS n_prompt_tokens,
        |  CAST(n - k AS BIGINT) AS n_response_tokens,
        |  CAST(length(pre) AS BIGINT) AS mask_start,
        |  CAST(length(pre || response) AS BIGINT) AS mask_end,
        |  sha256(pre || response) AS digest
        |FROM f ORDER BY doc_id""".stripMargin,

    "doc_fim" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         CAST((len(string_split(text, ' ')) + 2) // 3 AS INT) AS k1,
        |         CAST((2 * len(string_split(text, ' ')) + 2) // 3 AS INT) AS k2
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, k1, k2, len(toks) AS n,
        |    '<|fim_pre|>' || array_to_string(toks[1:k1], ' ')
        |      || '<|fim_suf|>' || array_to_string(toks[k2+1:], ' ')
        |      || '<|fim_mid|>' AS head,
        |    array_to_string(toks[k1+1:k2], ' ') AS middle
        |  FROM t)
        |SELECT doc_id,
        |  CAST(k1 AS BIGINT) AS n_prefix_tokens,
        |  CAST(k2 - k1 AS BIGINT) AS n_middle_tokens,
        |  CAST(n - k2 AS BIGINT) AS n_suffix_tokens,
        |  CAST(length(head) AS BIGINT) AS mask_start,
        |  CAST(length(head || middle) AS BIGINT) AS mask_end,
        |  sha256(head || middle) AS digest
        |FROM f ORDER BY doc_id""".stripMargin,

    "doc_char_entropy" ->
      """WITH chars AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents),
        |cnt AS (
        |  SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2),
        |tot AS (
        |  SELECT doc_id, CAST(sum(c) AS DOUBLE) AS t,
        |         count(*) AS n_distinct
        |  FROM cnt GROUP BY 1),
        |terms AS (
        |  SELECT cnt.doc_id, tot.n_distinct,
        |    round(-(c / t) * ln(c / t), 9) AS c9
        |  FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id)
        |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
        |  CAST(x.n_distinct AS BIGINT) AS n_distinct,
        |  CAST(x.entropy_e9 AS BIGINT) AS entropy_e9
        |FROM documents d JOIN (
        |  SELECT doc_id, n_distinct,
        |    CAST(sum(CAST(round(c9, 9) * 1e9 AS DECIMAL(38,0))) AS BIGINT)
        |      AS entropy_e9
        |  FROM terms GROUP BY 1, 2) x ON d.doc_id = x.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "doc_epoch_shuffle" ->
      s"""SELECT doc_id, shard, pos
         |FROM (${Sampling.epochShuffleSql("documents", "doc_id", epoch = 1, nShards = 8)})
         |ORDER BY shard, pos""".stripMargin,

    "doc_shard_manifest" ->
      s"""WITH s AS (
         |  SELECT doc_id, shard, pos
         |  FROM (${Sampling.epochShuffleSql("documents", "doc_id",
                    epoch = 1, nShards = 8)})),
         |j AS (
         |  SELECT s.shard, s.pos, d.n_chars, sha256(d.text) AS digest
         |  FROM s JOIN documents d USING (doc_id))
         |SELECT shard, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS bytes,
         |  sha256(array_to_string(list(digest ORDER BY pos), ''))
         |    AS manifest_sha
         |FROM j GROUP BY shard ORDER BY shard""".stripMargin,

    "doc_curriculum" ->
      """WITH q AS (
        |  SELECT doc_id, source,
        |    round(least(1.0, len(string_split(text, ' ')) / 100.0)
        |      * (0.5 + 0.5 * (len(list_distinct(string_split(text, ' ')))
        |                      / len(string_split(text, ' ')))), 4) AS score,
        |    ('0x' || substr(md5('cshard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 4 AS shard,
        |    ('0x' || substr(md5('cur:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      AS ok
        |  FROM documents),
        |staged AS (
        |  SELECT doc_id, source, score, shard, ok,
        |    CAST(ntile(4) OVER (PARTITION BY source
        |      ORDER BY score DESC, doc_id) AS BIGINT) AS stage
        |  FROM q),
        |rr AS (
        |  SELECT doc_id, source, shard, stage,
        |    row_number() OVER (PARTITION BY stage, shard, source
        |      ORDER BY ok, doc_id) AS rr
        |  FROM staged)
        |SELECT doc_id, stage, shard, source,
        |  row_number() OVER (PARTITION BY stage, shard
        |    ORDER BY rr, source, doc_id) AS pos
        |FROM rr
        |ORDER BY stage, shard, pos""".stripMargin,

    "doc_dedup_exact" ->
      """WITH crawl AS (
        |  SELECT * FROM documents UNION ALL SELECT * FROM documents)
        |SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
        |       count(*) AS n_copies
        |FROM crawl GROUP BY 1 ORDER BY keep_id""".stripMargin,

    "doc_gen_dedup" ->
      s"""WITH g AS (
        |${graft.sources.GenDocsSource.oracleSql(genDocsRows)})
        |SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
        |       count(*) AS n_copies
        |FROM g GROUP BY 1 ORDER BY keep_id""".stripMargin,

    "doc_gen_crawl_ingest" ->
      s"""WITH g AS (
        |${graft.sources.GenDocsSource.oracleSql(20000L)}),
        |w AS (SELECT min(doc_id) AS doc_id FROM g GROUP BY text)
        |SELECT g.doc_id, g.source, (SELECT count(*) FROM w) AS n_ledger
        |FROM g JOIN w USING (doc_id)
        |ORDER BY g.doc_id""".stripMargin,

    "doc_dedup_normalized" ->
      """WITH crawl AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, upper(text) FROM documents
        |  UNION ALL SELECT doc_id + 2000000, text || '  !!' FROM documents),
        |n AS (
        |  SELECT doc_id,
        |    sha256(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |      AS norm_hash
        |  FROM crawl)
        |SELECT norm_hash, min(doc_id) AS keep_id, count(*) AS n_variants
        |FROM n GROUP BY 1 ORDER BY keep_id""".stripMargin,

    "doc_dedup_best" ->
      """WITH crawl AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, upper(text) FROM documents
        |  UNION ALL SELECT doc_id + 2000000, text || '  !!' FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    sha256(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |      AS norm_hash,
        |    round(least(1.0, len(string_split(text, ' ')) / 100.0)
        |      * (0.5 + 0.5 * len(list_distinct(string_split(text, ' ')))
        |          / len(string_split(text, ' '))), 4) AS quality
        |  FROM crawl),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY norm_hash
        |            ORDER BY quality DESC, doc_id) AS rn
        |  FROM q)
        |SELECT norm_hash, doc_id AS keep_id, quality
        |FROM r WHERE rn = 1 ORDER BY keep_id""".stripMargin,

    "doc_cooc_lift" ->
      """WITH toks AS (
        |  SELECT string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |uni AS (SELECT unnest(t) AS w FROM toks),
        |uc AS (SELECT w, count(*) AS n_w FROM uni GROUP BY 1),
        |tot AS (SELECT count(*) AS n_total FROM uni),
        |bg AS (
        |  SELECT u.p[1] AS w1, u.p[2] AS w2 FROM (
        |    SELECT unnest([[t[i], t[i+1]] for i in generate_series(1, len(t)-1)]) AS p
        |    FROM toks) u),
        |bc AS (SELECT w1, w2, count(*) AS n_xy FROM bg GROUP BY 1, 2),
        |j AS (
        |  SELECT bc.w1, bc.w2, n_xy,
        |    CAST(n_xy AS DOUBLE) * n_total
        |      / (CAST(u1.n_w AS DOUBLE) * u2.n_w) AS lift_raw
        |  FROM bc
        |  JOIN uc u1 ON bc.w1 = u1.w
        |  JOIN uc u2 ON bc.w2 = u2.w, tot
        |  WHERE n_xy >= 5)
        |SELECT w1, w2, n_xy, round(lift_raw, 4) AS lift
        |FROM j
        |ORDER BY round(lift_raw, 9) DESC, w1, w2 LIMIT 20""".stripMargin,

    "doc_dedup_mark" ->
      """WITH crawl AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |keepers AS (
        |  SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id
        |  FROM crawl GROUP BY 1)
        |SELECT c.doc_id, k.content_hash, k.keep_id,
        |       c.doc_id <> k.keep_id AS is_duplicate
        |FROM crawl c JOIN keepers k ON sha256(c.text) = k.content_hash
        |ORDER BY c.doc_id""".stripMargin,

    "emb_neardup" ->
      s"""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(${cosSql("a.v", "b.v")}, 4) AS cos_sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE ${cosSql("a.v", "b.v")} >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    "emb_decontaminate" ->
      (Decontaminate.embeddingContaminationSql("embeddings", "vec_id",
        "embedding", benchPred = "vec_id < 8", threshold = 0.35) +
        "\nORDER BY vec_id"),

    "emb_ann_topk" ->
      s"""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT * FROM e WHERE vec_id < 8),
        |c AS (SELECT * FROM e WHERE vec_id >= 8),
        |s AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
        |         ${cosSql("p.v", "c.v")} AS cos_raw
        |  FROM p CROSS JOIN c),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY probe_id
        |            ORDER BY round(cos_raw, 9) DESC, neighbor_id) AS rank
        |  FROM s)
        |SELECT probe_id, rank, neighbor_id, round(cos_raw, 4) AS cos_sim
        |FROM r WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    "emb_knn_classify" ->
      s"""WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT * FROM e WHERE vec_id < 8),
        |c AS (SELECT * FROM e WHERE vec_id >= 8),
        |s AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, c.label,
        |         ${cosSql("p.v", "c.v")} AS cos_raw
        |  FROM p CROSS JOIN c),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY probe_id
        |            ORDER BY round(cos_raw, 9) DESC, neighbor_id) AS rank
        |  FROM s),
        |v AS (
        |  SELECT probe_id, CAST(label AS BIGINT) AS label,
        |         count(*) AS n_votes
        |  FROM r WHERE rank <= 5 GROUP BY 1, 2),
        |m AS (
        |  SELECT *, row_number() OVER (PARTITION BY probe_id
        |            ORDER BY n_votes DESC, label) AS rr
        |  FROM v)
        |SELECT probe_id, label AS pred_label, n_votes
        |FROM m WHERE rr = 1 ORDER BY probe_id""".stripMargin,

    "emb_semdedup" ->
      s"""WITH s AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    ${(0 until kmK).map(k => s"${kmScoreSql(k)} AS s$k").mkString(",\n|    ")}
        |  FROM embeddings),
        |e AS (SELECT vec_id, v, CAST($kmCaseSql AS BIGINT) AS cl FROM s)
        |SELECT a.cl AS cluster, a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(${cosSql("a.v", "b.v")}, 4) AS cos_sim
        |FROM e a JOIN e b ON a.cl = b.cl AND a.vec_id < b.vec_id
        |WHERE ${cosSql("a.v", "b.v")} >= $semThreshold
        |ORDER BY cluster, id_a, id_b""".stripMargin,

    "emb_hard_negatives" ->
      s"""WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT * FROM e WHERE vec_id < 8),
        |c AS (SELECT * FROM e WHERE vec_id >= 8),
        |s AS (
        |  SELECT p.vec_id AS probe_id, CAST(p.label AS BIGINT) AS probe_label,
        |         c.vec_id AS neighbor_id, CAST(c.label AS BIGINT) AS neg_label,
        |         ${cosSql("p.v", "c.v")} AS cos_raw
        |  FROM p CROSS JOIN c WHERE c.label <> p.label),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY probe_id
        |            ORDER BY round(cos_raw, 9) DESC, neighbor_id) AS rank
        |  FROM s)
        |SELECT probe_id, probe_label, rank, neighbor_id, neg_label,
        |       round(cos_raw, 4) AS cos_sim
        |FROM r WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin,

    "doc_containment" ->
      s"""WITH crawl AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |         substr(text, 1, CAST(floor(n_chars / 2) AS INT))
        |  FROM documents),
        |result AS (
        |${MinHash.containmentOracleSql("crawl", 0.5)})
        |SELECT * FROM result ORDER BY id_a, id_b""".stripMargin,

    "doc_winnow" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    [('0x'||substr(md5(t[i]||' '||t[i+1]||' '||t[i+2]),1,8))::BIGINT
        |     for i in generate_series(1, len(t)-2)] AS h
        |  FROM tk WHERE len(t) >= 3),
        |m AS (
        |  SELECT doc_id, len(h) AS n_grams,
        |    list_sort(list_distinct(
        |      [list_min(h[p:p+3]) for p in generate_series(1, len(h)-3)])) AS fps
        |  FROM g WHERE len(h) >= 4)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |       CAST(len(fps) AS BIGINT) AS n_fingerprints,
        |       md5(list_aggregate(list_transform(fps, x -> CAST(x AS VARCHAR)),
        |           'string_agg', '-')) AS fp_digest
        |FROM m ORDER BY doc_id""".stripMargin,

    "doc_decon_by_source" -> {
      val gram = (0 until deconN).map(o => s"t[i+$o]").mkString(" || ' ' || ")
      s"""WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |hv AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    [$gram for i in generate_series(1, len(t)-${deconN - 1})],
        |    x -> ('0x'||substr(md5(x),1,8))::BIGINT)) AS h
        |  FROM tk WHERE len(t) >= $deconN),
        |eval_grams AS (
        |  SELECT DISTINCT unnest(h) AS g FROM hv WHERE doc_id % $evalMod = 0),
        |tr AS (
        |  SELECT doc_id, unnest(h) AS g FROM hv WHERE doc_id % $evalMod <> 0),
        |cont AS (
        |  SELECT tr.doc_id FROM tr JOIN eval_grams USING (g)
        |  GROUP BY 1 HAVING count(*) >= $deconMinOverlap),
        |base AS (
        |  SELECT doc_id, source FROM documents WHERE doc_id % $evalMod <> 0)
        |SELECT source, count(*) AS n_train_docs,
        |  count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM cont))
        |    AS n_contaminated,
        |  round(CAST(count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM cont))
        |        AS DOUBLE) / count(*), 4) AS contaminated_share
        |FROM base GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "doc_dedup_report" ->
      s"""WITH crawl AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |SELECT 'crawl_docs' AS metric, count(*) AS value FROM crawl
        |UNION ALL
        |SELECT 'neardup_clusters', count(DISTINCT cluster_id)
        |FROM ($neardupClustersOracle) cc
        |UNION ALL
        |SELECT 'neardup_pairs', count(*)
        |FROM (${MinHash.minhashOracleSql("documents", 0.5)}) np
        |UNION ALL
        |SELECT 'unique_contents', count(DISTINCT sha256(text)) FROM crawl
        |ORDER BY metric""".stripMargin,

    "doc_novelty" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    [t[i]||' '||t[i+1]||' '||t[i+2] for i in generate_series(1, len(t)-2)]) AS s
        |  FROM tk WHERE len(t) >= 3),
        |hv AS (
        |  SELECT doc_id, list_distinct(
        |    list_transform(s, x -> ('0x'||substr(md5(x),1,8))::BIGINT)) AS h
        |  FROM sh),
        |p AS (SELECT doc_id, unnest(h) AS sh FROM hv),
        |f AS (SELECT sh, min(doc_id) AS first_doc FROM p GROUP BY 1)
        |SELECT p.doc_id, count(*) AS n_shingles,
        |  count(*) FILTER (WHERE f.first_doc < p.doc_id) AS n_seen_before,
        |  round(1.0 - CAST(count(*) FILTER (WHERE f.first_doc < p.doc_id)
        |        AS DOUBLE) / count(*), 4) AS novelty
        |FROM p JOIN f USING (sh)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "emb_cluster_report" -> {
      val cnorm = (k: Int) => math.sqrt(kmCentroid(k).map(x => x * x).sum)
      val cosCase = (0 until kmK).map(k =>
        s"WHEN $k THEN s$k / (nv * ${cnorm(k)})")
        .mkString("CASE cluster ", " ", " END")
      s"""WITH s AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    ${(0 until kmK).map(k => s"${kmScoreSql(k)} AS s$k").mkString(",\n|    ")}
        |  FROM embeddings),
        |a AS (
        |  SELECT vec_id, CAST($kmCaseSql AS BIGINT) AS cluster,
        |         sqrt(list_dot_product(v, v)) AS nv,
        |         ${(0 until kmK).map(k => s"s$k").mkString(", ")}
        |  FROM s),
        |c AS (
        |  SELECT cluster,
        |         CAST(round(($cosCase) * 1000000, 0) AS BIGINT) AS cos_e6
        |  FROM a)
        |SELECT cluster, count(*) AS n_members,
        |       round(CAST(sum(cos_e6) AS DOUBLE) / (1000000.0 * count(*)), 4)
        |         AS mean_cos,
        |       min(cos_e6) AS min_cos_e6, max(cos_e6) AS max_cos_e6
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "doc_oov_rate" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |vc AS (
        |  SELECT w, count(*) AS n FROM toks GROUP BY 1
        |  ORDER BY n DESC, w LIMIT 30)
        |SELECT doc_id, count(*) AS n_tokens,
        |       count(*) FILTER (WHERE w NOT IN (SELECT w FROM vc)) AS n_oov,
        |       round(CAST(count(*) FILTER (WHERE w NOT IN (SELECT w FROM vc))
        |             AS DOUBLE) / count(*), 4) AS oov_rate
        |FROM toks GROUP BY 1 ORDER BY 1""".stripMargin,

    "doc_dup_triangles" ->
      s"""WITH edges AS (
         |  SELECT id_a AS a, id_b AS b
         |  FROM (${graft.operators.MinHash.minhashOracleSql("documents", 0.5)}))
         |${graft.operators.Graph.trianglesSql("edges")}""".stripMargin,

    "doc_eval_coverage" ->
      Decontaminate.evalCoverageSql("documents", "doc_id", "text",
        deconN, evalMod),

    "doc_pref_pairs" ->
      """WITH q AS (
         |  SELECT source, doc_id,
         |    CAST(round(least(1.0, len(string_split(text, ' ')) / 100.0)
         |      * (0.5 + 0.5 * (len(list_distinct(string_split(text, ' ')))
         |                      / len(string_split(text, ' ')))), 4) * 10000
         |      AS BIGINT) AS score_e4
         |  FROM documents),
         |r AS (
         |  SELECT source, doc_id, score_e4,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY score_e4 DESC, doc_id) AS rnk
         |  FROM q),
         |p AS (SELECT *, (rnk + 1) // 2 AS pair_id FROM r)
         |SELECT c.source, CAST(c.pair_id AS BIGINT) AS pair_id,
         |  c.doc_id AS chosen_id, j.doc_id AS rejected_id,
         |  c.score_e4 - j.score_e4 AS margin_e4
         |FROM p c JOIN p j ON c.source = j.source AND c.pair_id = j.pair_id
         |  AND c.rnk % 2 = 1 AND j.rnk % 2 = 0
         |ORDER BY c.source, pair_id""".stripMargin,

    "doc_effective_tokens" ->
      """WITH d AS (
         |  SELECT source, doc_id,
         |    len(string_split(text, ' '))::BIGINT AS n_tokens,
         |    sha256(text) AS digest
         |  FROM documents),
         |k AS (SELECT min(doc_id) AS doc_id FROM d GROUP BY digest),
         |raw AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(n_tokens) AS BIGINT) AS raw_tokens
         |  FROM d GROUP BY 1),
         |eff AS (
         |  SELECT source, count(*) AS n_unique_docs,
         |    CAST(sum(n_tokens) AS BIGINT) AS unique_tokens
         |  FROM d JOIN k USING (doc_id) GROUP BY 1)
         |SELECT raw.source, n_docs, raw_tokens, n_unique_docs, unique_tokens,
         |  round(CAST(unique_tokens AS DOUBLE) / raw_tokens, 4) AS discount
         |FROM raw JOIN eff ON raw.source = eff.source
         |ORDER BY raw.source""".stripMargin,

    "doc_length_gini" ->
      """WITH r AS (
         |  SELECT source, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY n_chars, doc_id) AS rnk
         |  FROM documents),
         |a AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |    CAST(sum(rnk * n_chars) AS BIGINT) AS rx
         |  FROM r GROUP BY source)
         |SELECT source, n_docs, sum_chars,
         |  round(CAST(rx * 2 - (n_docs + 1) * sum_chars AS DOUBLE)
         |        / (n_docs * sum_chars), 4) AS gini
         |FROM a ORDER BY source""".stripMargin,

    "doc_kanon_audit" ->
      """SELECT lang, source, n_chars // 100 AS len_bucket,
         |  count(*) AS n_docs
         |FROM documents GROUP BY 1, 2, 3
         |HAVING count(*) < 5
         |ORDER BY lang, source, len_bucket""".stripMargin,

    "doc_span_corrupt" ->
      """WITH z AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws,
         |         len(string_split(text, ' ')) AS n
         |  FROM documents),
         |a AS (
         |  SELECT doc_id, ws, n,
         |    [('0x' || substr(md5(doc_id::VARCHAR || ':sc:' || j::VARCHAR),
         |        1, 8))::BIGINT % 7 = 0
         |     for j in generate_series(1, n)] AS starts
         |  FROM z),
         |b AS (
         |  SELECT doc_id, ws, n, starts,
         |    [starts[i] OR (i > 1 AND starts[i-1]) OR (i > 2 AND starts[i-2])
         |     for i in generate_series(1, n)] AS masked
         |  FROM a),
         |c AS (
         |  SELECT doc_id, ws, n, masked,
         |    [masked[i] AND (i = 1 OR NOT masked[i-1])
         |     for i in generate_series(1, n)] AS runstart
         |  FROM b)
         |SELECT doc_id, n::BIGINT AS n_tokens,
         |  len(list_filter(generate_series(1, n), i -> masked[i]))::BIGINT
         |    AS n_masked,
         |  len(list_filter(generate_series(1, n), i -> runstart[i]))::BIGINT
         |    AS n_spans,
         |  sha256(coalesce(array_to_string(list_transform(
         |    list_filter(generate_series(1, n),
         |                i -> NOT masked[i] OR runstart[i]),
         |    i -> CASE WHEN runstart[i] THEN '<X>' ELSE ws[i] END), ' '), ''))
         |    AS corrupted_sha256,
         |  sha256(coalesce(array_to_string(list_transform(
         |    list_filter(generate_series(1, n), i -> masked[i]),
         |    i -> ws[i]), ' '), '')) AS targets_sha256
         |FROM c ORDER BY doc_id""".stripMargin,

    "doc_token_dropout" ->
      """WITH z AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |k AS (
         |  SELECT doc_id, len(ws)::BIGINT AS n_tokens,
         |    list_filter(ws, (x, i) ->
         |      ('0x' || substr(md5(doc_id::VARCHAR || ':' || i::VARCHAR
         |         || ':' || x), 1, 8))::BIGINT % 100 >= 10) AS kept
         |  FROM z)
         |SELECT doc_id, n_tokens, len(kept)::BIGINT AS n_kept,
         |  sha256(array_to_string(kept, ' ')) AS aug_sha256
         |FROM k ORDER BY doc_id""".stripMargin,

    "doc_pii_report" -> {
      val rawSql = "(CASE WHEN doc_id % 3 = 0 THEN 'contact u' || doc_id" +
        " || '@example.org now ' ELSE '' END) || " +
        "(CASE WHEN doc_id % 5 = 0 THEN 'tel 555-123-4567 ' ELSE '' END)" +
        " || (CASE WHEN doc_id % 7 = 0 THEN 'ssn 123-45-6789 ' ELSE '' END)" +
        " || text"
      val Seq(reE, reP, reS) = graft.functions.Text.piiPatterns.map {
        case (re, _) => re.replace("'", "''")
      }
      s"""WITH h AS (
         |  SELECT source,
         |    len(regexp_extract_all($rawSql, '$reE'))::BIGINT AS h_email,
         |    len(regexp_extract_all($rawSql, '$reP'))::BIGINT AS h_phone,
         |    len(regexp_extract_all($rawSql, '$reS'))::BIGINT AS h_ssn
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN h_email + h_phone + h_ssn > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS docs_with_pii,
         |  CAST(sum(h_email) AS BIGINT) AS n_emails,
         |  CAST(sum(h_phone) AS BIGINT) AS n_phones,
         |  CAST(sum(h_ssn) AS BIGINT) AS n_ssn
         |FROM h GROUP BY source ORDER BY source""".stripMargin
    },

    "doc_pii_scrub" ->
      s"""SELECT doc_id,
        |  ${scrubSql("'u' || doc_id || '@example.org tel 555-123-4567 ssn 123-45-6789 t: ' || substr(text, 1, 40)")}
        |    AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,

    "emb_ann_pq" ->
      (Pq.annTopKSql("embeddings", "vec_id", "embedding",
        corpusPred = "vec_id >= 8", probePred = "vec_id < 8", topK = 5) +
        "\nORDER BY probe_id, rank"),

    "emb_ann_pq_learned" ->
      (Pq.learnedAnnSql("embeddings", "vec_id", "embedding",
        corpusPred = "vec_id >= 8", probePred = "vec_id < 8", topK = 5) +
        "\nORDER BY probe_id, rank"),

    // identical relation to emb_ann_pq: the index round-trip must be
    // invisible to the search result
    "emb_index_roundtrip" ->
      (Pq.annTopKSql("embeddings", "vec_id", "embedding",
        corpusPred = "vec_id >= 8", probePred = "vec_id < 8", topK = 5) +
        "\nORDER BY probe_id, rank"),

    "emb_pq_codebook_learned" ->
      Pq.learnedCodebookSql("embeddings", "vec_id", "embedding",
        corpusPred = "vec_id >= 8"),

    "emb_ann_pq_refined" ->
      (Pq.annTopKRefinedSql("embeddings", "vec_id", "embedding",
        corpusPred = "vec_id >= 8", probePred = "vec_id < 8", topK = 5,
        shortlist = 20) + "\nORDER BY probe_id, rank"),

    "emb_ann_topk_q" ->
      s"""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |sc AS (
        |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale
        |  FROM e WHERE vec_id >= 8),
        |c AS (
        |  SELECT vec_id,
        |    CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
        |         ELSE list_transform(v, x -> round(x / scale * 127) / 127 * scale)
        |    END AS v
        |  FROM sc),
        |p AS (SELECT * FROM e WHERE vec_id < 8),
        |s AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
        |         ${cosSql("p.v", "c.v")} AS cos_raw
        |  FROM p CROSS JOIN c),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY probe_id
        |            ORDER BY round(cos_raw, 9) DESC, neighbor_id) AS rank
        |  FROM s)
        |SELECT probe_id, rank, neighbor_id, round(cos_raw, 4) AS cos_sim
        |FROM r WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    // same chunking, per-chunk hits and argmax, majority tiebreak
    "doc_lang_mix" ->
      s"""WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ch AS (
        |  SELECT doc_id,
        |    array_to_string(w[i * 40 + 1 : i * 40 + 40], ' ') AS ctext
        |  FROM (SELECT doc_id, w,
        |          unnest(range(((len(w) - 1) // 40) + 1)) AS i
        |        FROM t) u),
        |h AS (
        |  SELECT doc_id,
        |       ${langHitsSqlOn("ctext")}
        |  FROM ch),
        |p AS (
        |  SELECT doc_id,
        |    CASE WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
        |         WHEN hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
        |         WHEN hits_es >= hits_fr THEN 'es'
        |         ELSE 'fr' END AS pred
        |  FROM h),
        |cl AS (SELECT doc_id, pred, count(*) AS n FROM p GROUP BY 1, 2),
        |m AS (
        |  SELECT doc_id, pred AS majority_lang FROM (
        |    SELECT doc_id, pred,
        |           row_number() OVER (PARTITION BY doc_id
        |                              ORDER BY n DESC, pred) AS rn
        |    FROM cl) r WHERE rn = 1),
        |a AS (
        |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chunks,
        |         count(*) AS n_langs
        |  FROM cl GROUP BY 1)
        |SELECT a.doc_id, a.n_chunks, a.n_langs, m.majority_lang,
        |       a.n_langs > 1 AS is_mixed
        |FROM a JOIN m USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "doc_lang_id" ->
      s"""WITH h AS (
        |  SELECT doc_id,
        |       $langHitsSql
        |  FROM documents)
        |SELECT doc_id, hits_de, hits_en, hits_es, hits_fr,
        |  CASE WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
        |       WHEN hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
        |       WHEN hits_es >= hits_fr THEN 'es'
        |       ELSE 'fr' END AS pred_lang
        |FROM h ORDER BY doc_id""".stripMargin,

    "doc_lang_confusion" ->
      s"""WITH h AS (
        |  SELECT lang,
        |       $langHitsSql
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
        |       WHEN hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
        |       WHEN hits_es >= hits_fr THEN 'es'
        |       ELSE 'fr' END AS pred_lang,
        |  count(*) AS n_docs
        |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "emb_diverse_select" ->
      KMeans.selectDiverseSql("embeddings", "vec_id", "embedding", 8),

    "emb_kmeans_assign" ->
      s"""WITH s AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    ${(0 until kmK).map(k => s"${kmScoreSql(k)} AS s$k").mkString(",\n|    ")}
        |  FROM embeddings)
        |SELECT vec_id, label,
        |  CAST($kmCaseSql AS BIGINT) AS assigned,
        |  round(greatest(${(0 until kmK).map(k => s"s$k").mkString(", ")}), 4) + 0.0 AS best_score
        |FROM s ORDER BY vec_id""".stripMargin,

    "doc_quality_lr" -> LogReg.oracleSql(),

    "doc_quality_lr_model" -> LogReg.modelOracleSql(),

    "doc_quality_lr_calibration" -> LogReg.calibrationOracleSql(iters = 8),

    "doc_quality" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    length(text)::BIGINT AS n_chars,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens,
        |    len(list_distinct(string_split(text, ' ')))::BIGINT AS n_uniq_tokens,
        |    (length(text) - length(replace(text, ' ', '')))::BIGINT AS n_spaces
        |  FROM documents)
        |SELECT doc_id, n_chars, n_tokens, n_uniq_tokens,
        |  round(n_uniq_tokens / n_tokens, 4) AS uniq_ratio,
        |  round((n_chars - n_spaces) / n_tokens, 4) AS avg_token_len,
        |  round(least(1.0, n_tokens / 100.0)
        |        * (0.5 + 0.5 * (n_uniq_tokens / n_tokens)), 4) AS quality_score
        |FROM q ORDER BY doc_id""".stripMargin,

    "doc_source_report" ->
      """WITH q AS (
        |  SELECT source,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens,
        |    round(least(1.0, len(string_split(text, ' ')) / 100.0)
        |      * (0.5 + 0.5 * (len(list_distinct(string_split(text, ' ')))
        |                      / len(string_split(text, ' ')))), 4) AS score
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |  round(CAST(sum(CAST(score * 10000 AS DECIMAL(38,0))) AS DOUBLE)
        |        / (10000.0 * count(*)), 4) AS avg_quality,
        |  round(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens
        |FROM q GROUP BY source ORDER BY source""".stripMargin,

    "doc_budget_select" ->
      s"""WITH q AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens,
        |    round(least(1.0, len(string_split(text, ' ')) / 100.0)
        |      * (0.5 + 0.5 * (len(list_distinct(string_split(text, ' ')))
        |                      / len(string_split(text, ' ')))), 4) AS score
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens, score,
        |    CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id)
        |      AS BIGINT) AS cum_tokens
        |  FROM q)
        |SELECT doc_id, n_tokens, score, cum_tokens FROM c
        |WHERE cum_tokens <= $budgetTokens
        |ORDER BY score DESC, doc_id""".stripMargin,

    "doc_budget_by_source" ->
      s"""WITH q AS (
        |  SELECT doc_id, source,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens,
        |    round(least(1.0, len(string_split(text, ' ')) / 100.0)
        |      * (0.5 + 0.5 * (len(list_distinct(string_split(text, ' ')))
        |                      / len(string_split(text, ' ')))), 4) AS score
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_tokens, score,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY score DESC, doc_id) AS BIGINT) AS cum_tokens
        |  FROM q)
        |SELECT source, doc_id, n_tokens, score, cum_tokens FROM c
        |WHERE cum_tokens <= $budgetTokensPerSource
        |ORDER BY source, score DESC, doc_id""".stripMargin,

    "doc_prune_quality" ->
      s"""WITH q AS (
        |  SELECT doc_id, source, n_chars,
        |    round(least(1.0, len(string_split(text, ' ')) / 100.0)
        |      * (0.5 + 0.5 * (len(list_distinct(string_split(text, ' ')))
        |                      / len(string_split(text, ' ')))), 4) AS score
        |  FROM documents),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY score DESC, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM q)
        |SELECT source,
        |  CAST(max(n) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN rk <= (n * 40 + 99) // 100
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  min(CASE WHEN rk <= (n * 40 + 99) // 100 THEN score END)
        |    AS min_kept_score,
        |  CAST(sum(CASE WHEN rk <= (n * 40 + 99) // 100 THEN n_chars END)
        |    AS BIGINT) AS kept_chars
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    "doc_mixture" ->
      Sampling.mixtureWeightsSql("documents", "source",
        "len(string_split(text, ' '))", mixAlpha, mixBudget),

    "doc_epoch_plan" ->
      Sampling.epochPlanSql("documents", "source",
        "len(string_split(text, ' '))", mixAlpha,
        epochPlanBudget, epochPlanMax),

    "doc_sample_weighted" ->
      s"""SELECT doc_id, n_chars, round(sel_key, 4) + 0.0 AS sel_key_r4 FROM (
        |  SELECT doc_id, n_chars,
        |    ${Sampling.weightedKeySql("doc_id", "n_chars")} AS sel_key
        |  FROM documents)
        |ORDER BY sel_key DESC, doc_id LIMIT 500""".stripMargin,

    "doc_sample_per_source" ->
      s"""SELECT source, draw, doc_id, lang FROM (
        |  SELECT source, lang, doc_id,
        |    ${Sampling.perStratumRankSql("doc_id", "source")} AS draw
        |  FROM documents)
        |WHERE draw <= 5 ORDER BY source, draw""".stripMargin,

    "doc_chunk" ->
      (Chunking.chunkSql("documents", "doc_id", "text",
        chunkTokens, chunkStride) + "\nORDER BY doc_id, chunk_idx"),

    "doc_para_dedup" ->
      (Chunking.dedupChunksSql("documents", "doc_id", "text",
        chunkTokens, chunkTokens) + "\nORDER BY doc_id, chunk_idx"),

    "doc_boilerplate" ->
      s"""SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_chunks,
        |  round(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) / count(*), 4)
        |    AS boilerplate_frac
        |FROM (${Chunking.dedupChunksSql("documents", "doc_id", "text",
             chunkTokens, chunkTokens)})
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "doc_token_count" ->
      """SELECT doc_id,
        |  len(string_split(text, ' '))::BIGINT AS ws_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS bpe_tokens,
        |  round(length(text) / len(string_split(text, ' ')), 4) AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,

    "doc_token_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        |  CAST(sum(len(regexp_extract_all(lower(text),
        |    '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS bpe_tokens,
        |  round(CAST(sum(length(text)) AS DOUBLE)
        |    / sum(len(string_split(text, ' '))), 4) AS chars_per_ws_token,
        |  round(CAST(sum(strlen(text)) AS DOUBLE)
        |    / sum(len(regexp_extract_all(lower(text),
        |        '[a-z]+|[0-9]+|[^a-z0-9 ]'))), 4) AS bytes_per_bpe_token
        |FROM documents GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    "doc_minhash_lsh" -> MinHash.minhashOracleSql("documents", 0.5),

    "doc_crawl_neardup" -> MinHash.crawlNearDupOracleSql("documents", 0.5),

    "doc_simhash" -> SimHash.simhashOracleSql("documents", 4),

    "doc_simhash5" -> SimHash.simhashOracleSql("documents", 4, chunks = 5),

    "doc_prefix_jaccard" ->
      (graft.operators.PrefixJoin.jaccardPairsSql(
        "documents", "doc_id", "text", tNum = 7, tDen = 10) +
        "\nORDER BY doc_a, doc_b"),

    "doc_ngram_jaccard" ->
      s"""WITH s0 AS (
        |  SELECT doc_id, source, list_distinct(list_transform(list_distinct(
        |    [t[i]||' '||t[i+1] for i in generate_series(1, len(t)-1)]),
        |    x -> ('0x'||substr(md5(x),1,8))::BIGINT)) AS hv
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS t
        |        FROM documents) tt
        |  WHERE len(t) >= 2),
        |small AS (
        |  SELECT source FROM s0
        |  GROUP BY source HAVING count(*) <= ${Dedup.DefaultMaxBlock}),
        |s AS (
        |  SELECT s0.* FROM s0 JOIN small USING (source)),
        |j AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         len(list_intersect(a.hv, b.hv))
        |           / len(list_distinct(a.hv || b.hv)) AS jac
        |  FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(jac, 4) AS jaccard
        |FROM j WHERE jac >= 0.05 ORDER BY id_a, id_b""".stripMargin,

    "doc_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(0::BIGINT,
        |      list_transform(string_split(text, ''), c -> ascii(c)::BIGINT)),
        |    (a, b) -> (a * 131 + b) % 1000000007) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    "emb_ann_lsh" -> AnnLsh.oracleSql("embeddings", probeMaxId = 8, k = 5),

    "emb_ann_ivf" -> graft.operators.AnnIvf.oracleSql(
      "embeddings", probeMaxId = 8, k = 5, nprobe = 3),

    "emb_ann_ivfpq" ->
      (Pq.annTopKIvfSql("embeddings", "vec_id", "embedding",
        corpusPred = "vec_id >= 8", probePred = "vec_id < 8",
        topK = 5, nprobe = 3) + "\nORDER BY probe_id, rank"),

    // identical relation to emb_ann_ivfpq: the list-partitioned
    // artifact round-trip must be invisible to the search result
    "emb_index_ivf_roundtrip" ->
      (Pq.annTopKIvfSql("embeddings", "vec_id", "embedding",
        corpusPred = "vec_id >= 8", probePred = "vec_id < 8",
        topK = 5, nprobe = 3) + "\nORDER BY probe_id, rank"),

    // identical relation again: incremental append ≡ from-scratch build
    "emb_index_ivf_append" ->
      (Pq.annTopKIvfSql("embeddings", "vec_id", "embedding",
        corpusPred = "vec_id >= 8", probePred = "vec_id < 8",
        topK = 5, nprobe = 3) + "\nORDER BY probe_id, rank"),

    "emb_ann_recall" ->
      (AnnEval.recallReportSql(
        AnnEval.exactTopKSql("embeddings", probeMaxId = 8, k = 5),
        Seq(
          "lsh" -> AnnLsh.oracleSql("embeddings", probeMaxId = 8, k = 5),
          "ivf" -> graft.operators.AnnIvf.oracleSql(
            "embeddings", probeMaxId = 8, k = 5, nprobe = 3),
          "pq" -> Pq.annTopKSql("embeddings", "vec_id", "embedding",
            corpusPred = "vec_id >= 8", probePred = "vec_id < 8",
            topK = 5),
          "ivfpq" -> Pq.annTopKIvfSql("embeddings", "vec_id", "embedding",
            corpusPred = "vec_id >= 8", probePred = "vec_id < 8",
            topK = 5, nprobe = 3),
          "pq_learned" -> Pq.learnedAnnSql("embeddings", "vec_id",
            "embedding", corpusPred = "vec_id >= 8",
            probePred = "vec_id < 8", topK = 5)))
        + "\nORDER BY method, probe_id"),

    "emb_ann_mrl" ->
      (AnnEval.recallReportSql(
        AnnEval.exactTopKSql("embeddings", probeMaxId = 8, k = 5),
        Seq(8, 16, 32).map(d => s"mrl$d" ->
          AnnEval.truncTopKSql("embeddings", probeMaxId = 8, k = 5, d = d)))
        + "\nORDER BY method, probe_id"),

    "emb_ivf_balance" ->
      s"""WITH s AS (
        |  SELECT vec_id,
        |    ${(0 until kmK).map(k => s"${kmScoreSql(k)} AS s$k").mkString(",\n|    ")}
        |  FROM embeddings),
        |g AS (
        |  SELECT CAST($kmCaseSql AS BIGINT) AS assigned, count(*) AS n_vecs
        |  FROM s GROUP BY 1),
        |t AS (SELECT sum(n_vecs) AS total, avg(n_vecs) AS avg_n FROM g)
        |SELECT assigned, CAST(n_vecs AS BIGINT) AS n_vecs,
        |       round(n_vecs / total, 4) AS frac,
        |       round(n_vecs / avg_n, 4) AS balance
        |FROM g, t ORDER BY assigned""".stripMargin,

    "emb_neardup_lsh" -> AnnLsh.neardupOracleSql("embeddings", threshold = 0.4),

    "media_ops" ->
      """SELECT doc_id AS media_id,
        |  ['image','audio','video'][(doc_id % 3) + 1] AS kind,
        |  length(text)::BIGINT AS n_bytes,
        |  sha256(text) AS digest,
        |  hex(substr(text, 1, 8)) AS header_hex
        |FROM documents ORDER BY media_id""".stripMargin,

    "media_neardup" ->
      graft.multimodal.Media.neardupOracleSql("documents"),

    // Frame features re-derived from the sample formula: tumbling
    // 64-sample frames, integer energy, frame-local sign flips.
    "media_wav_features" ->
      """WITH m AS (
        |  SELECT i AS media_id, CAST(256 + i % 256 AS BIGINT) AS n
        |  FROM generate_series(0, 499) t(i)),
        |ts AS (SELECT media_id, unnest(range(n)) AS t FROM m),
        |v AS (
        |  SELECT media_id, t, t // 64 AS frame,
        |         (media_id * 31 + t * 17) % 8192 - 4096 AS s
        |  FROM ts),
        |w AS (
        |  SELECT *, lag(s) OVER (PARTITION BY media_id, frame
        |                         ORDER BY t) AS prev
        |  FROM v)
        |SELECT media_id, frame, count(*) AS n_samples,
        |       CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
        |       CAST(count(CASE WHEN prev IS NOT NULL
        |                   AND ((s < 0) <> (prev < 0)) THEN 1 END)
        |            AS BIGINT) AS n_zero_cross
        |FROM w GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // formula-side re-derivation of the decoded WAV features: windows,
    // integer |sample| sums, and the single DOUBLE→REAL division mirror
    // WavCodec.decode exactly; n_bytes mirrors Wav.fileLen. Features
    // cross the engine boundary as floor(f·2^48) integers csv-joined
    // (exponent shift — exact; see Media.featuresCsv), never as raw
    // float arrays the driver comparator cannot hash.
    "media_wav_roundtrip" ->
      """WITH m AS (
        |  SELECT i AS media_id, CAST(256 + i % 256 AS INTEGER) AS n,
        |         CAST(2 * (i % 8) AS INTEGER) AS junk
        |  FROM generate_series(0, 499) t(i)),
        |ts AS (
        |  SELECT media_id, n, unnest(range(n)) AS t FROM m),
        |s AS (
        |  SELECT media_id, CAST((t * 8) // n AS INTEGER) AS w,
        |         abs((media_id * 31 + t * 17) % 8192 - 4096) AS a
        |  FROM ts),
        |wf AS (
        |  SELECT media_id, w, CAST(sum(a) AS DOUBLE) AS sa,
        |         CAST(count(*) AS DOUBLE) AS c
        |  FROM s GROUP BY 1, 2),
        |feats AS (
        |  SELECT media_id,
        |         array_to_string(list(
        |           CAST(floor(CAST(CAST(sa / (c * 32768.0) AS REAL) AS DOUBLE)
        |                * 281474976710656) AS BIGINT) ORDER BY w), ',')
        |           AS features_csv
        |  FROM wf GROUP BY media_id)
        |SELECT m.media_id,
        |       CAST(12 + 8 + junk + 24 + 8 + 2 * n AS BIGINT) AS n_bytes,
        |       features_csv
        |FROM m JOIN feats USING (media_id)
        |ORDER BY media_id""".stripMargin,

    // formula-side re-derivation of the decoded AVI frame features in
    // logical (frame, raster) order: per-frame-window integer intensity
    // sums mirror AviCodec.decode exactly; n_bytes mirrors Avi.fileLen
    // (RIFF 12 + hdrl 200 + JUNK 8+junk + movi 12 + nf·(8 + h·stride))
    "media_avi_roundtrip" ->
      """WITH m AS (
        |  SELECT i AS media_id,
        |         CAST(8 + i % 5 AS BIGINT) AS nf,
        |         CAST(6 + i % 4 AS BIGINT) AS w,
        |         CAST(4 + i % 3 AS BIGINT) AS h,
        |         CAST(2 * (i % 8) AS BIGINT) AS junk
        |  FROM generate_series(0, 499) t(i)),
        |fs AS (
        |  SELECT media_id, nf, w, h, unnest(range(nf)) AS f FROM m),
        |ps AS (
        |  SELECT media_id, nf, f, unnest(range(w * h)) AS p FROM fs),
        |s AS (
        |  SELECT media_id, CAST((f * 8) // nf AS INTEGER) AS win,
        |         (media_id * 7 + f * 131 + p * 3) % 256
        |           + (media_id * 7 + f * 131 + p * 3 + 11) % 256
        |           + (media_id * 7 + f * 131 + p * 3 + 22) % 256 AS a
        |  FROM ps),
        |wf AS (
        |  SELECT media_id, win, CAST(sum(a) AS DOUBLE) AS sa,
        |         CAST(count(*) AS DOUBLE) AS c
        |  FROM s GROUP BY 1, 2),
        |feats AS (
        |  SELECT media_id,
        |         array_to_string(list(
        |           CAST(floor(CAST(CAST(sa / (c * 765.0) AS REAL) AS DOUBLE)
        |                * 281474976710656) AS BIGINT) ORDER BY win), ',')
        |           AS features_csv
        |  FROM wf GROUP BY media_id)
        |SELECT m.media_id,
        |       CAST(12 + 200 + 8 + junk + 12
        |            + nf * (8 + h * ((3 * w + 3) // 4 * 4)) AS BIGINT)
        |         AS n_bytes,
        |       features_csv
        |FROM m JOIN feats USING (media_id)
        |ORDER BY media_id""".stripMargin,

    // formula-side re-derivation of the decoded BMP features in LOGICAL
    // raster order (p = y·w + x): the synth stores rows bottom-up with
    // 4-byte padding behind a bfOffBits gap, so a stride/row-direction/
    // offset bug in the parser changes the decoded pixels and the hash
    // stops matching; n_bytes mirrors Bmp.fileLen
    "media_bmp_roundtrip" ->
      """WITH m AS (
        |  SELECT i AS media_id,
        |         CAST(8 + i % 9 AS BIGINT) AS w,
        |         CAST(4 + i % 5 AS BIGINT) AS h,
        |         CAST(i % 8 AS BIGINT) AS gap
        |  FROM generate_series(0, 499) t(i)),
        |ps AS (
        |  SELECT media_id, w, h, unnest(range(w * h)) AS p FROM m),
        |s AS (
        |  SELECT media_id, CAST((p * 8) // (w * h) AS INTEGER) AS win,
        |         (media_id * 7 + p * 3) % 256
        |           + (media_id * 7 + p * 3 + 11) % 256
        |           + (media_id * 7 + p * 3 + 22) % 256 AS a
        |  FROM ps),
        |wf AS (
        |  SELECT media_id, win, CAST(sum(a) AS DOUBLE) AS sa,
        |         CAST(count(*) AS DOUBLE) AS c
        |  FROM s GROUP BY 1, 2),
        |feats AS (
        |  SELECT media_id,
        |         array_to_string(list(
        |           CAST(floor(CAST(CAST(sa / (c * 765.0) AS REAL) AS DOUBLE)
        |                * 281474976710656) AS BIGINT) ORDER BY win), ',')
        |           AS features_csv
        |  FROM wf GROUP BY media_id)
        |SELECT m.media_id,
        |       CAST(14 + 40 + gap + h * ((3 * w + 3) // 4 * 4) AS BIGINT)
        |         AS n_bytes,
        |       features_csv
        |FROM m JOIN feats USING (media_id)
        |ORDER BY media_id""".stripMargin,

    "media_png_roundtrip" ->
      """WITH m AS (
        |  SELECT i AS media_id,
        |         CAST(8 + i % 9 AS BIGINT) AS w,
        |         CAST(4 + i % 5 AS BIGINT) AS h
        |  FROM generate_series(0, 499) t(i)),
        |ps AS (
        |  SELECT media_id, w, h, unnest(range(w * h)) AS p FROM m),
        |s AS (
        |  SELECT media_id, CAST((p * 8) // (w * h) AS INTEGER) AS win,
        |         (media_id * 7 + p * 3) % 256
        |           + (media_id * 7 + p * 3 + 11) % 256
        |           + (media_id * 7 + p * 3 + 22) % 256 AS a
        |  FROM ps),
        |wf AS (
        |  SELECT media_id, win, CAST(sum(a) AS DOUBLE) AS sa,
        |         CAST(count(*) AS DOUBLE) AS c
        |  FROM s GROUP BY 1, 2)
        |SELECT media_id,
        |       array_to_string(list(
        |         CAST(floor(CAST(CAST(sa / (c * 765.0) AS REAL) AS DOUBLE)
        |              * 281474976710656) AS BIGINT) ORDER BY win), ',')
        |         AS features_csv
        |FROM wf GROUP BY media_id
        |ORDER BY media_id""".stripMargin,

    "doc_vocab" ->
      """SELECT token, count(*) AS n_occurrences,
        |  row_number() OVER (ORDER BY count(*) DESC, token) AS rank
        |FROM (SELECT unnest(string_split(text, ' ')) AS token
        |      FROM documents) t
        |GROUP BY token ORDER BY rank""".stripMargin,

    "doc_clean_corpus" ->
      s"""WITH crawl AS (
        |  SELECT * FROM documents UNION ALL SELECT * FROM documents),
        |keepers AS (
        |  SELECT min(doc_id) AS doc_id FROM crawl GROUP BY sha256(text)),
        |h AS (
        |  SELECT d.doc_id, d.text, d.n_chars,
        |       $langHitsSql
        |  FROM documents d JOIN keepers USING (doc_id)),
        |q AS (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
        |         WHEN hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
        |         WHEN hits_es >= hits_fr THEN 'es'
        |         ELSE 'fr' END AS pred_lang,
        |    round(least(1.0, len(string_split(text, ' ')) / 100.0)
        |      * (0.5 + 0.5 * (len(list_distinct(string_split(text, ' ')))
        |                       / len(string_split(text, ' ')))), 4) AS quality_score
        |  FROM h)
        |SELECT doc_id, pred_lang, quality_score, n_chars FROM q
        |WHERE pred_lang = 'en' AND quality_score >= 0.55
        |ORDER BY doc_id""".stripMargin,

    "emb_pca_moments" ->
      (Pca.gramMomentsSql("embeddings", "embedding") +
        "\nORDER BY i, j"),

    "emb_project_fixed" ->
      (Pca.projectFixedSql("embeddings", "vec_id", "embedding", pcaDirs) +
        "\nORDER BY vec_id, k"),

    "emb_centroid_sums" ->
      """SELECT label::BIGINT AS label, (ord-1)::BIGINT AS dim,
        |  CAST(sum(CAST(floor(x*1000000) AS BIGINT)) AS BIGINT) AS sum_scaled,
        |  count(*) AS n
        |FROM (SELECT label, unnest(embedding::DOUBLE[]) AS x,
        |             generate_subscripts(embedding, 1) AS ord
        |      FROM embeddings) t
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}

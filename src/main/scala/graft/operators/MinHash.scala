package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection (SURVEY.md §2.C2).
  *
  * Pipeline: word n-gram shingles → 32-bit shingle hashes → k minhash
  * permutations → band keys → band-bucket EQUI-join for candidates →
  * exact Jaccard verification (on the hashed shingle sets) of the
  * candidate pairs only.
  *
  * Scale shape (SURVEY.md §5): the only join is the band-bucket
  * equi-join, whose output ~ true near-dups plus a skew-bounded number
  * of hash collisions — never n². The hashed shingle sets (8-byte longs,
  * not strings) ride through that one shuffle so verification needs no
  * further join, and duplicate candidates (pairs matching in several
  * bands) collapse in a partial-aggregation groupBy before Jaccard is
  * computed once per pair. At 100 TB, bucket skew (a viral band key) is
  * absorbed by AQE skew-join splitting.
  *
  * Engine parity: shingle hash = first 8 hex chars of md5 (exact in both
  * engines); permutations are integer-only arithmetic below 2^52; the
  * DuckDB oracle is GENERATED from the same constants (single source of
  * truth) in [[minhashOracleSql]].
  */
object MinHash {

  /** Modulus for the minhash permutations: prime just above 2^32. */
  val P = 4294967311L
  val numHashes = 16
  val numBands = 4
  val rowsPerBand = 4

  /** Deterministic permutation coefficients (a odd, both < 2^20 so that
    * a*h + b < 2^52 — exact in long AND double arithmetic in any engine). */
  val coeffs: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(numHashes)(((rnd.nextInt(1 << 20) | 1).toLong, rnd.nextInt(1 << 20).toLong))
  }

  /** First 8 hex chars of md5 → long in [0, 2^32). */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Distinct word n-gram shingles of a single-space-tokenized text. */
  def shingles(text: Column, n: Int = 3): Column = {
    val t = split(text, " ")
    when(size(t) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(t) - n),
        i => concat_ws(" ", (0 until n).map(o => element_at(t, i + o + 1)): _*))))
  }

  /** Sorted distinct hashed shingles — the compact (8 B/shingle) set form
    * used for banding, and for Jaccard verification via the codegen'd
    * sorted-merge intersect ([[graft.functions.SortedIntersectCount]]).
    * One compiled pass per row ([[graft.functions.ShingleHashes]]) — the
    * HOF form re-ran interpreted md5 lambdas in every operator branch. */
  def hashedShingles(text: Column, n: Int = 3): Column =
    graft.functions.SetOps.shingleHashes(text, n)

  /** doc_id, hashed shingle set `hv`, minhash array `mh` (one codegen
    * pass — [[graft.functions.MinHashArray]] — instead of k interpreted
    * `transform`s). */
  def signature(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), hashedShingles(col(textCol)).as("hv"))
      .where(size(col("hv")) > 0) // oracle's WHERE len(t) >= 3
      .withColumn("mh",
        graft.functions.SetOps.minhashArray(col("hv"), coeffs.map(_._1), coeffs.map(_._2), P))

  /** One row per (doc, band) with the band's concatenated key; the
    * hashed shingle set rides along for join-free verification. */
  def bandRows(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until numBands).map { b =>
      val key = concat_ws("-",
        (0 until rowsPerBand).map(r =>
          element_at(col("mh"), b * rowsPerBand + r + 1).cast("string")): _*)
      struct(lit(b).as("band"), key.as("bkey"))
    }
    sig.select(col("doc_id"), col("hv"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("hv"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** Near-dup pairs with exact Jaccard >= threshold, candidates generated
    * by the band-bucket equi-join. Output: id_a, id_b, jaccard (round 4).
    *
    * Plan notes: the self-join keeps both sides as the SAME aliased
    * subplan so the shuffle exchange is planned once and reused
    * (ReusedExchange) — the shingle/minhash projection runs one time.
    * Band-duplicate candidates collapse in a partial-agg groupBy before
    * the (codegen'd merge-scan) Jaccard runs once per pair. */
  def neardupPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double): DataFrame = {
    val bands = bandRows(signature(docs, idCol, textCol))
    val inter = graft.functions.SetOps
      .sortedIntersectCount(col("ha"), col("hb")).cast("double")
    val jac = inter / (size(col("ha")) + size(col("hb")) - inter)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.hv").as("ha"), col("y.hv").as("hb"))
      // a pair can match in several bands — collapse before verifying
      // (partial agg: map-side dedup, one Jaccard per pair)
      .groupBy(col("id_a"), col("id_b"))
      .agg(first(col("ha")).as("ha"), first(col("hb")).as("hb"))
      .withColumn("jac", jac)
      .where(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jaccard"))
  }

  /** Incremental near-dup: a NEW crawl batch against the already-
    * ingested corpus — the daily path where re-banding the whole corpus
    * per batch would be absurd. Band rows are computed for the batch
    * only; the corpus side's band rows are the reusable artifact (write
    * them once with [[graft.operators.Dedup.writeCorpusDigests]]-style
    * bucketing on (band, bkey) and the corpus side joins with no
    * exchange). Candidates = batch-band ⋈ corpus-band equi-join, so
    * work scales with |batch| + matching buckets, never |corpus|².
    * In-batch duplicates are [[neardupPairs]]'s job, not this one's.
    *
    * Output: (new_id, corpus_id, jaccard round 4), exact-verified. */
  def incrementalNeardupPairs(newBatch: DataFrame, corpus: DataFrame,
                              idCol: String, textCol: String,
                              threshold: Double): DataFrame = {
    val nb = bandRows(signature(newBatch, idCol, textCol))
    val cb = bandRows(signature(corpus, idCol, textCol))
    val inter = graft.functions.SetOps
      .sortedIntersectCount(col("ha"), col("hb")).cast("double")
    val jac = inter / (size(col("ha")) + size(col("hb")) - inter)
    nb.as("x").join(cb.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("corpus_id"),
        col("x.hv").as("ha"), col("y.hv").as("hb"))
      .groupBy(col("new_id"), col("corpus_id"))
      .agg(first(col("ha")).as("ha"), first(col("hb")).as("hb"))
      .withColumn("jac", jac)
      .where(col("jac") >= threshold)
      .select(col("new_id"), col("corpus_id"),
        round(col("jac"), 4).as("jaccard"))
  }

  /** Asymmetric set-CONTAINMENT join: pairs (a, b) with
    * C(a→b) = |shingles(a) ∩ shingles(b)| / |shingles(a)| >= threshold —
    * "a is contained in b". Jaccard-band LSH (the [[neardupPairs]]
    * scheme) structurally misses small-in-large containment (a snippet
    * quoted inside a much larger doc has high containment but LOW
    * Jaccard), so candidates come from a different scheme — prefix
    * filtering over an inverted index (the PPJoin family):
    *
    *  - probe keys: each doc's `bottomK` SMALLEST shingle hashes (a
    *    bottom-k sketch). Candidate recall is PROBABILISTIC, not exact:
    *    a pair with true containment C is proposed iff b holds one of
    *    a's bottom-k shingles, which under min-hashing happens with
    *    probability ≈ 1-(1-C)^bottomK — at the default bottomK=2 a pair
    *    sitting exactly at C=0.5 is found ~75% of the time, rising
    *    steeply above the threshold (C=0.8 → 96%). Raise `bottomK` for
    *    tighter recall near the threshold (k=4 → 94% at C=0.5); the
    *    oracle mirrors the same candidate scheme, so a parity gate
    *    CANNOT detect these misses — size k to the recall you need;
    *  - posting lists: every (shingle, doc) pair — the inverted index;
    *    8+8-byte rows, Σ|shingles| total, the standard index build;
    *  - hot shingles (doc-frequency > `maxPosting`) are dropped from
    *    BOTH sides: they are non-discriminative boilerplate whose
    *    posting lists would blow the candidate count to ~n² (exactly
    *    [[SimHash]]'s capped-bucket treatment — the cap is what keeps
    *    candidate growth linear at 100 TB; recall for docs whose entire
    *    bottom-k is boilerplate is the documented trade).
    *
    * Candidates then verify EXACTLY via the codegen'd sorted-merge
    * intersect, carried by two id-joins back to the (small) signature
    * frame — the inverted index never carries the shingle arrays.
    * Output: id_a, id_b, containment (round 4), a != b, directed. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double, bottomK: Int = 2,
                       maxPosting: Int = 256): DataFrame = {
    val sig = docs
      .select(col(idCol).as("doc_id"), hashedShingles(col(textCol)).as("hv"))
      .where(size(col("hv")) > 0)
    val postings = sig.select(col("doc_id").as("cand_id"),
      explode(col("hv")).as("sh"))
    val cold = postings.groupBy(col("sh"))
      .agg(count(lit(1)).as("__df"))
      .where(col("__df") <= maxPosting)
      .select(col("sh"))
    val keys = sig.select(col("doc_id"),
      explode(slice(col("hv"), 1, bottomK)).as("sh"))
    val cand = keys
      .join(cold, "sh") // hot-shingle cap (both sides share the key)
      .join(postings, "sh")
      .where(col("doc_id") =!= col("cand_id"))
      .select(col("doc_id").as("id_a"), col("cand_id").as("id_b"))
      .distinct()
    val inter = graft.functions.SetOps
      .sortedIntersectCount(col("ha"), col("hb")).cast("double")
    cand
      .join(sig.select(col("doc_id").as("id_a"), col("hv").as("ha")), "id_a")
      .join(sig.select(col("doc_id").as("id_b"), col("hv").as("hb")), "id_b")
      .withColumn("cont", inter / size(col("ha")))
      .where(col("cont") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cont"), 4).as("containment"))
  }

  /** DuckDB oracle for [[containmentPairs]], generated from the same
    * constants/scheme (bottom-k probe keys, posting-cap filter, exact
    * verify) so recall semantics can't drift between engines. `table`
    * may be a CTE name established by the caller. */
  def containmentOracleSql(table: String, threshold: Double,
                           bottomK: Int = 2, maxPosting: Int = 256): String =
    s"""WITH tk AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM $table),
       |sh AS (
       |  SELECT doc_id, list_distinct(
       |    [t[i]||' '||t[i+1]||' '||t[i+2] for i in generate_series(1, len(t)-2)]) AS s
       |  FROM tk WHERE len(t) >= 3),
       |hv AS (
       |  SELECT doc_id,
       |         list_sort(list_distinct(
       |           list_transform(s, x -> ('0x'||substr(md5(x),1,8))::BIGINT))) AS h
       |  FROM sh),
       |post AS (SELECT doc_id AS cand_id, unnest(h) AS sh FROM hv),
       |cold AS (SELECT sh FROM post GROUP BY sh HAVING count(*) <= $maxPosting),
       |keys AS (SELECT doc_id, unnest(h[1:$bottomK]) AS sh FROM hv),
       |cand AS (
       |  SELECT DISTINCT k.doc_id AS id_a, p.cand_id AS id_b
       |  FROM keys k JOIN cold USING (sh) JOIN post p USING (sh)
       |  WHERE k.doc_id <> p.cand_id),
       |c AS (
       |  SELECT id_a, id_b,
       |         len(list_intersect(a.h, b.h)) / len(a.h) AS cont
       |  FROM cand JOIN hv a ON id_a = a.doc_id JOIN hv b ON id_b = b.doc_id)
       |SELECT id_a, id_b, round(cont, 4) AS containment
       |FROM c WHERE cont >= $threshold ORDER BY id_a, id_b""".stripMargin

  /** DuckDB oracle for [[incrementalNeardupPairs]] where the batch is
    * `batchPred` over `table` and the corpus is its complement: the
    * full-table oracle filtered to cross (batch, corpus) pairs and
    * re-oriented batch-first — candidate generation is band-identical,
    * so the subset relation is exact. */
  def incrementalOracleSql(table: String, batchPredOf: String => String,
                           threshold: Double): String =
    s"""SELECT CASE WHEN ${batchPredOf("id_a")} THEN id_a ELSE id_b END
       |         AS new_id,
       |       CASE WHEN ${batchPredOf("id_a")} THEN id_b ELSE id_a END
       |         AS corpus_id,
       |       jaccard
       |FROM (${minhashOracleSql(table, threshold)}) p
       |WHERE (${batchPredOf("id_a")}) <> (${batchPredOf("id_b")})""".stripMargin

  /** DuckDB oracle for [[graft.streaming.CrawlIngest.startNearDup]] run
    * over `slices` doc_id-ordered flushes of `table` (A34).
    *
    * The streaming accept set is an arrival-order greedy over band
    * collisions — not one SQL relation in general, but the recursion is
    * only FLUSH-deep: a batch doc is checked against the band ledger,
    * which holds exactly the survivors of strictly earlier flushes. For
    * a fixed flush plan the greedy therefore unrolls into `slices`
    * nested accept CTEs (acc_0..acc_{slices-1}), each anti-joining the
    * verified cross-flush near-dup relation against the union of the
    * earlier accept sets. Flush membership mirrors FlushFeed.stage's
    * integer-division rank bounds; in-batch exact dedup (min-id per
    * distinct text) and the band/verify scheme reuse the
    * [[minhashOracleSql]] constants, so the engines cannot drift.
    * Output: accepted corpus rows + the band-ledger row count
    * (numBands per accepted doc with a non-empty shingle set). */
  def crawlNearDupOracleSql(table: String, threshold: Double,
                            slices: Int = 3): String = {
    val mhExprs = coeffs.zipWithIndex.map { case ((a, b), j) =>
      s"list_min(list_transform(h, v -> (v*$a+$b)%$P)) AS mh_$j"
    }.mkString(",\n       ")
    val bandSelects = (0 until numBands).map { b =>
      val key = (0 until rowsPerBand)
        .map(r => s"CAST(mh_${b * rowsPerBand + r} AS VARCHAR)")
        .mkString(" || '-' || ")
      s"SELECT doc_id, flush, $b AS band, $key AS bkey FROM mh"
    }.mkString("\n  UNION ALL\n  ")
    val flushCase = (0 until slices - 1)
      .map(i => s"WHEN rn <= (${i + 1}*n)//$slices THEN $i")
      .mkString(" ")
    val accDefs = (0 until slices).map { i =>
      if (i == 0) "acc_0 AS (SELECT doc_id FROM kept WHERE flush = 0)"
      else {
        val earlier = (0 until i).map(j => s"SELECT doc_id FROM acc_$j")
          .mkString(" UNION ALL ")
        s"acc_$i AS (\n" +
          s"  SELECT k.doc_id FROM kept k WHERE k.flush = $i AND NOT EXISTS (\n" +
          s"    SELECT 1 FROM ver v\n" +
          s"    WHERE v.late_id = k.doc_id\n" +
          s"      AND v.early_id IN ($earlier)))"
      }
    }.mkString(",\n")
    val accAll = (0 until slices).map(i => s"SELECT doc_id FROM acc_$i")
      .mkString(" UNION ALL ")
    // accDefs/bandSelects contain no margin pipes and are substituted
    // AFTER stripMargin in a single pass (the Hll rule, ADVICE r8).
    graft.SqlTemplate.fill(s"""WITH ord AS (
       |  SELECT doc_id, text, source, lang, n_chars,
       |         row_number() OVER (ORDER BY doc_id) AS rn,
       |         count(*) OVER () AS n
       |  FROM __TABLE__),
       |fl AS (
       |  SELECT *, CASE __FLUSHCASE__ ELSE ${slices - 1} END AS flush
       |  FROM ord),
       |kept AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY flush, text ORDER BY doc_id) AS rn2 FROM fl) z
       |  WHERE rn2 = 1),
       |tk AS (SELECT doc_id, flush, string_split(text, ' ') AS t FROM kept),
       |sh AS (
       |  SELECT doc_id, flush, list_distinct(
       |    [t[i]||' '||t[i+1]||' '||t[i+2] for i in generate_series(1, len(t)-2)]) AS s
       |  FROM tk WHERE len(t) >= 3),
       |hv AS (
       |  SELECT doc_id, flush,
       |         list_sort(list_distinct(
       |           list_transform(s, x -> ('0x'||substr(md5(x),1,8))::BIGINT))) AS h
       |  FROM sh),
       |mh AS (
       |  SELECT doc_id, flush,
       |       __MHEXPRS__
       |  FROM hv),
       |bands AS (
       |  __BANDSELECTS__),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS late_id, y.doc_id AS early_id
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.flush > y.flush),
       |ver AS (
       |  SELECT late_id, early_id
       |  FROM cand
       |  JOIN hv a ON cand.late_id = a.doc_id
       |  JOIN hv b ON cand.early_id = b.doc_id
       |  WHERE len(list_intersect(a.h, b.h))
       |      / len(list_distinct(a.h || b.h)) >= $threshold),
       |__ACCDEFS__,
       |acc AS (__ACCALL__),
       |nb AS (SELECT CAST($numBands * count(*) AS BIGINT) AS n_bands
       |       FROM acc JOIN hv USING (doc_id))
       |SELECT k.doc_id, k.source, k.lang, k.n_chars,
       |       (SELECT n_bands FROM nb) AS n_bands
       |FROM kept k JOIN acc USING (doc_id)
       |ORDER BY k.doc_id""".stripMargin,
      "__FLUSHCASE__" -> flushCase, "__MHEXPRS__" -> mhExprs,
      "__BANDSELECTS__" -> bandSelects, "__ACCDEFS__" -> accDefs,
      "__ACCALL__" -> accAll, "__TABLE__" -> table)
  }

  /** DuckDB oracle for [[neardupPairs]], generated from the SAME constants
    * so the two engines can never drift. */
  /** Sketch-calibration report — per banded candidate pair, the
    * MinHash-ESTIMATED Jaccard (fraction of the 16 signature slots that
    * agree — the unbiased estimator the banding itself relies on) next
    * to the EXACT shingle Jaccard, plus the absolute error. This is the
    * gate consulted before trusting a signature width k: if the observed
    * |est − exact| tail is too fat at k=16, widen the signature (σ ≈
    * √(J(1−J)/k)); the ANN-recall analog of C74 for the dedup sketches.
    *
    * Scale shape: identical to [[neardupPairs]] — one signature scan,
    * band equi-join candidates, per-pair verification on the candidate
    * set only. Both ratios are exact small-integer divisions (k/16,
    * i/u), so the report is engine-exact after the round(4) boundary.
    * No threshold filter: calibration wants the low-similarity
    * candidates too (that's where the estimator is noisiest). */
  def calibration(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sig = signature(docs, idCol, textCol)
    val bands = bandRows(sig)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    val a = sig.select(col("doc_id").as("id_a"),
      col("hv").as("ha"), col("mh").as("ma"))
    val b = sig.select(col("doc_id").as("id_b"),
      col("hv").as("hb"), col("mh").as("mb"))
    val inter = graft.functions.SetOps
      .sortedIntersectCount(col("ha"), col("hb")).cast("double")
    val exact = inter / (size(col("ha")) + size(col("hb")) - inter)
    val agree =
      expr("size(filter(zip_with(ma, mb, (x, y) -> x = y), v -> v))")
        .cast("double")
    cand.join(a, "id_a").join(b, "id_b")
      .withColumn("est", agree / lit(numHashes.toDouble))
      .withColumn("exact", exact)
      .select(col("id_a"), col("id_b"),
        round(col("est"), 4).as("est_jaccard"),
        round(col("exact"), 4).as("exact_jaccard"),
        round(abs(col("est") - col("exact")), 4).as("abs_err"))
  }

  /** DuckDB mirror of [[calibration]] — same signature/band constants,
    * the slot-agreement estimator as a 16-term CASE sum. */
  def calibrationSql(table: String): String = {
    val mhExprs = coeffs.zipWithIndex.map { case ((a, b), j) =>
      s"list_min(list_transform(h, v -> (v*$a+$b)%$P)) AS mh_$j"
    }.mkString(",\n       ")
    val bandSelects = (0 until numBands).map { b =>
      val key = (0 until rowsPerBand)
        .map(r => s"CAST(mh_${b * rowsPerBand + r} AS VARCHAR)")
        .mkString(" || '-' || ")
      s"SELECT doc_id, $b AS band, $key AS bkey FROM mh"
    }.mkString("\n  UNION ALL\n  ")
    val agreeSql = (0 until numHashes)
      .map(j => s"CASE WHEN a.mh_$j = b.mh_$j THEN 1 ELSE 0 END")
      .mkString("(", " + ", s") / ${numHashes.toDouble}")
    s"""WITH tk AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM $table),
       |sh AS (
       |  SELECT doc_id, list_distinct(
       |    [t[i]||' '||t[i+1]||' '||t[i+2] for i in generate_series(1, len(t)-2)]) AS s
       |  FROM tk WHERE len(t) >= 3),
       |hv AS (
       |  SELECT doc_id,
       |         list_sort(list_distinct(
       |           list_transform(s, x -> ('0x'||substr(md5(x),1,8))::BIGINT))) AS h
       |  FROM sh),
       |mh AS (
       |  SELECT doc_id, h,
       |       $mhExprs
       |  FROM hv),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |p AS (
       |  SELECT id_a, id_b,
       |         $agreeSql AS est,
       |         len(list_intersect(a.h, b.h))
       |           / len(list_distinct(a.h || b.h)) AS j
       |  FROM cand
       |  JOIN mh a ON cand.id_a = a.doc_id
       |  JOIN mh b ON cand.id_b = b.doc_id)
       |SELECT id_a, id_b, round(est, 4) AS est_jaccard,
       |       round(j, 4) AS exact_jaccard,
       |       round(abs(est - j), 4) AS abs_err
       |FROM p ORDER BY id_a, id_b""".stripMargin
  }

  def minhashOracleSql(table: String, threshold: Double): String = {
    val mhExprs = coeffs.zipWithIndex.map { case ((a, b), j) =>
      s"list_min(list_transform(h, v -> (v*$a+$b)%$P)) AS mh_$j"
    }.mkString(",\n       ")
    val bandSelects = (0 until numBands).map { b =>
      val key = (0 until rowsPerBand)
        .map(r => s"CAST(mh_${b * rowsPerBand + r} AS VARCHAR)")
        .mkString(" || '-' || ")
      s"SELECT doc_id, $b AS band, $key AS bkey FROM mh"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH tk AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM $table),
       |sh AS (
       |  SELECT doc_id, list_distinct(
       |    [t[i]||' '||t[i+1]||' '||t[i+2] for i in generate_series(1, len(t)-2)]) AS s
       |  FROM tk WHERE len(t) >= 3),
       |hv AS (
       |  SELECT doc_id,
       |         list_sort(list_distinct(
       |           list_transform(s, x -> ('0x'||substr(md5(x),1,8))::BIGINT))) AS h
       |  FROM sh),
       |mh AS (
       |  SELECT doc_id,
       |       $mhExprs
       |  FROM hv),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |jac AS (
       |  SELECT id_a, id_b,
       |         len(list_intersect(a.h, b.h)) / len(list_distinct(a.h || b.h)) AS j
       |  FROM cand
       |  JOIN hv a ON cand.id_a = a.doc_id
       |  JOIN hv b ON cand.id_b = b.doc_id)
       |SELECT id_a, id_b, round(j, 4) AS jaccard
       |FROM jac WHERE j >= $threshold ORDER BY id_a, id_b""".stripMargin
  }
}

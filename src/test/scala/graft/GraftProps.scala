package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Generator-driven invariants over the combinators (ScalaCheck runs
  * these directly under sbt test). Sample counts are kept small — every
  * sample spins Spark jobs. */
object GraftProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  // same builder as SparkSpec: whichever suite creates the one-per-JVM
  // session, its configs and extensions are the same
  private lazy val spark: SparkSession = GraftSession.local(4)

  private val asciiText: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaLowerChar, Gen.const(' ')))
      .map(_.mkString).map(_.take(60))

  property("RedactKeepLast never reveals more than the keep window") =
    forAll(asciiText, Gen.choose(1, 8)) { (s, k) =>
      import spark.implicits._
      val out = Seq(s).toDF("v")
        .select(cdc.Mask(col("v"), cdc.Mask.RedactKeepLast(k)))
        .first().getString(0)
      val expected =
        if (s.length <= k) "****" else "****" + s.substring(s.length - k)
      out == expected
    }

  property("Route strategies stay in [0, n)") =
    forAll(Gen.listOfN(20, Gen.choose(Long.MinValue + 1, Long.MaxValue)),
      Gen.choose(1, 64)) { (keys, n) =>
      import spark.implicits._
      val df = keys.toDF("key").withColumn("event_type", lit("x"))
      Seq(cdc.Route.KeyMod, cdc.Route.KeyHash, cdc.Route.ByEventType)
        .forall { s =>
          df.select(cdc.Route(s, n, df).as("p"))
            .where(col("p") < 0 || col("p") >= n).count() == 0L
        }
    }

  property("SortedIntersectCount == Set intersection size") =
    forAll(Gen.listOf(Gen.choose(0L, 50L)), Gen.listOf(Gen.choose(0L, 50L))) {
      (a, b) =>
        import spark.implicits._
        val sa = a.toSet
        val sb = b.toSet
        val out = Seq((sa.toSeq.sorted, sb.toSeq.sorted)).toDF("a", "b")
          .select(functions.SetOps.sortedIntersectCount(col("a"), col("b")))
          .first().getLong(0)
        out == (sa intersect sb).size.toLong
    }

  property("fingerprint matches the reference fold for any ascii text") =
    forAll(asciiText) { s =>
      import spark.implicits._
      val out = Seq(s).toDF("t")
        .select(functions.Text.fingerprint(col("t"))).first().getLong(0)
      val expected = s.foldLeft(0L)((acc, ch) => (acc * 131 + ch.toLong) % 1000000007L)
      out == expected
    }

  property("assignSplit partitions any id set for any valid spec") =
    forAll(Gen.listOfN(25, Gen.choose(0L, 1000000L)),
      Gen.choose(1, 98)) { (ids, a) =>
      import spark.implicits._
      // random 3-way spec summing to 100
      val b = (100 - a) / 2
      val spec = Seq("s1" -> a, "s2" -> b, "s3" -> (100 - a - b))
        .filter(_._2 > 0)
      val df = ids.distinct.toDF("id")
      val out = operators.Sampling.assignSplit(df, "id", spec)
      // one row per id, label ∈ spec, deterministic on re-run
      out.count() == df.count() &&
        out.where(!col("split").isin(spec.map(_._1): _*)).count() == 0L &&
        out.exceptAll(operators.Sampling.assignSplit(df, "id", spec))
          .count() == 0L
    }

  property("stratifiedSample output is always a subset keyed by the bucket rule") =
    forAll(Gen.listOfN(25, Gen.choose(0L, 1000000L)),
      Gen.choose(0, 100)) { (ids, pct) =>
      import spark.implicits._
      val df = ids.distinct.map(i => (i, if (i % 2 == 0) "a" else "b"))
        .toDF("id", "stratum")
      val out = operators.Sampling.stratifiedSample(
        df, "id", "stratum", Map("a" -> pct), 100 - pct)
      // subset, and membership decided exactly by bucket < rate
      out.exceptAll(df).count() == 0L &&
        out.where(operators.Sampling.bucket(col("id"), 100) >=
          when(col("stratum") === "a", pct).otherwise(100 - pct))
          .count() == 0L
    }

  property("sessionize: intra-session gaps <= gapUs, inter-session gaps > gapUs") =
    forAll(Gen.listOfN(30, Gen.choose(0L, 5000L)), Gen.choose(100L, 1500L)) {
      (tss, gap) =>
        import spark.implicits._
        val events = tss.distinct.zipWithIndex
          .map { case (ts, i) => (1L, ts, i.toLong) }
        events.isEmpty || {
          val out = operators.Sessionize.assign(
            events.toDF("user", "ts", "seq"), "user", "ts", "seq", gap)
            .orderBy("ts").collect()
            .map(r => (r.getAs[Long]("ts"), r.getAs[Long]("session_id")))
          out.sliding(2).forall {
            case Array((t1, s1), (t2, s2)) =>
              if (s1 == s2) t2 - t1 <= gap else t2 - t1 > gap
            case _ => true
          }
        }
    }

  private val tokenText: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf("a", "bb", "ccc", "dd", "e"))
      .map(_.take(40).mkString(" "))

  property("chunk tiling: non-overlapping windows partition every token; " +
    "stride s yields ceil(T/s) windows") =
    forAll(Gen.nonEmptyListOf(tokenText).map(_.take(5)),
      Gen.choose(1, 6), Gen.choose(1, 6)) { (texts, win0, stride0) =>
      import spark.implicits._
      val (win, stride) = (math.max(win0, stride0), math.min(win0, stride0))
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val chunks = operators.Chunking.chunk(docs, "doc_id", "text", win, stride)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      texts.zipWithIndex.forall { case (t, i) =>
        val toks = t.split(" ").length
        val mine = chunks.filter(_._1 == i.toLong)
        mine.length == (toks + stride - 1) / stride &&
          (stride != win || mine.map(_._3).sum == toks)
      }
    }

  property("overlapPairs == theta join for random intervals and bucket sizes") =
    forAll(
      Gen.listOfN(12, for {
        s <- Gen.choose(0L, 500L); len <- Gen.choose(0L, 120L)
      } yield (s, s + len)),
      Gen.listOfN(12, for {
        s <- Gen.choose(0L, 500L); len <- Gen.choose(0L, 120L)
      } yield (s, s + len)),
      Gen.choose(1L, 200L)) { (ls, rs, w) =>
      import spark.implicits._
      val l = ls.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
        .toDF("l_id", "l_s", "l_e")
      val r = rs.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
        .toDF("r_id", "r_s", "r_e")
      val theta = l.join(r,
          col("l_s") <= col("r_e") && col("r_s") <= col("l_e"))
        .select("l_id", "r_id")
      val got = operators.RangeJoin
        .overlapPairs(l, "l_s", "l_e", r, "r_s", "r_e", w)
        .select("l_id", "r_id")
      got.exceptAll(theta).count() == 0L && theta.exceptAll(got).count() == 0L
    }

  property("joinNearest == brute-force argmin with backward tiebreak") =
    forAll(
      Gen.listOfN(8, for {
        k <- Gen.choose(0L, 2L); t <- Gen.choose(0L, 100L)
      } yield (k, t)),
      Gen.listOfN(8, for {
        k <- Gen.choose(0L, 2L); t <- Gen.choose(0L, 100L)
      } yield (k, t))) { (ls, rs) =>
      import spark.implicits._
      val l = ls.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
      val r = rs.zipWithIndex.map { case ((k, t), i) =>
        (k, t, 1000L + i)
      }
      val got = operators.AsOf.joinNearest(
          l.toDF("key", "ts", "seq"), r.toDF("key", "ts", "seq"),
          "key", "ts", "seq", Map("seq" -> "r_seq"))
        .select("seq", "r_seq").collect()
        .map(row => row.getLong(0) ->
          (if (row.isNullAt(1)) None else Some(row.getLong(1)))).toMap
      // Oracle: scan all right rows of the key; min |Δts|, prev wins
      // ties. Side classification follows the window's (ts, seq) order:
      // right seqs (1000+) all exceed left seqs, so a right row at the
      // exact left ts sorts AFTER the left row — it is a distance-0
      // "next", and among equal-ts rows the window picks the
      // (ts, seq)-extreme one.
      l.forall { case (k, t, seq) =>
        val cands = r.filter(_._1 == k)
        val expected = if (cands.isEmpty) None else {
          val prevs = cands.filter(c => c._2 < t)
          val nexts = cands.filter(c => c._2 >= t)
          val prev = if (prevs.isEmpty) None
            else Some(prevs.maxBy(c => (c._2, c._3)))
          val next = if (nexts.isEmpty) None
            else Some(nexts.minBy(c => (c._2, c._3)))
          (prev, next) match {
            case (Some(p), Some(n)) =>
              if (t - p._2 <= n._2 - t) Some(p._3) else Some(n._3)
            case (Some(p), None) => Some(p._3)
            case (None, Some(n)) => Some(n._3)
            case _ => None
          }
        }
        got(seq) == expected
      }
    }

  property("checksum is invariant under any row permutation/partitioning") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0L, 500L)).map(_.take(30)),
      Gen.choose(1, 8)) { (keys, parts) =>
      import spark.implicits._
      val rows = keys.distinct.map(k => (k, s"payload-$k"))
      val a = cdc.Consistency.checksum(
        rows.toDF("k", "v"), col("k"), Seq(col("k"), col("v")), 4)
        .collect().map(_.toSeq).toSet
      val b = cdc.Consistency.checksum(
        scala.util.Random.shuffle(rows).toDF("k", "v").repartition(parts),
        col("k"), Seq(col("k"), col("v")), 4)
        .collect().map(_.toSeq).toSet
      a == b
    }

  // C90's recall-losslessness claim, generator-driven: plant a random
  // ≤1-edit pair among distractors; the blocked join must find it.
  private val word: Gen[String] =
    Gen.choose(3, 12).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar))
      .map(_.mkString)
  private val edit: Gen[String => String] = Gen.oneOf(
    Gen.zip(Gen.choose(0, 100), Gen.alphaLowerChar).map {
      case (p, c) => (s: String) =>
        { val i = p % s.length; s.substring(0, i) + c + s.substring(i + 1) }
    },
    Gen.zip(Gen.choose(0, 100), Gen.alphaLowerChar).map {
      case (p, c) => (s: String) =>
        { val i = p % (s.length + 1); s.substring(0, i) + c + s.substring(i) }
    },
    Gen.choose(0, 100).map(p => (s: String) =>
      { val i = p % s.length; s.substring(0, i) + s.substring(i + 1) }))

  property("deletion-neighborhood blocking finds every planted ≤1-edit pair") =
    forAll(word, edit, Gen.listOfN(6, word)) { (base, e, noise) =>
      import spark.implicits._
      val variant = e(base)
      val rows = ((1L, base) +: (2L, variant) +: noise.zipWithIndex
        .map { case (w, i) => (10L + i, w) }).toDF("id", "name")
      val pairs = operators.Fuzzy.editDistance1Pairs(rows, "id", "name")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      pairs.contains((1L, 2L))
    }
}

package graft.cdc

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{concat, lit, regexp_extract, substring_index, when}
import org.apache.spark.sql.types.{DataType, StructType}

/** The table log of a [[GraftSink.VersionedTable]]: the only code that
  * knows its on-disk format. The log is both the table's commit point
  * and the offset log of its change feed
  * ([[graft.sources.TableCdfSource]]).
  *
  * Layout under the table root. The log writes every file listed here
  * (data files and deletion-vector slices through its one parquet
  * writer, manifests through [[TableLog.commit]]) and reclaims them
  * ([[reclaim]] and [[retire]], for vacuum):
  *  - `_manifests/v<N>.manifest`: version N. Header lines `#k=v`
  *    (`kind`, `schema`, `dv`, `rename`, `checks`, `buckets`,
  *    `touched`, `batch`, `batch_hi`, `max_ts`, `restored_from`), then
  *    one line per data file: `rel` or `rel<TAB>{"rows":N,"cols":{"c":
  *    [min,max],…}}` (per-file footer statistics, carried verbatim —
  *    a file is immutable, so its line is too; line identity is file
  *    identity).
  *  - `_manifests/_last_checkpoint`: the last published version, a
  *    hint readers forward-probe from.
  *  - `_data/commit-<N>-<uuid>/[__bucket=<b>/]part-*.parquet`: data
  *    files, bucketed by key when a bucketed merge or optimize wrote
  *    them.
  *  - `_dv/v<N>-<uuid>/__dvb=<b>/`: deletion-vector slices, one key
  *    bucket's dead (file, row_index) positions each (−1 = positions in
  *    unbucketed files).
  *
  * A version is published by writing the manifest to a temp name and
  * renaming it without overwrite, only through [[TableLog.commit]]: a
  * lost race leaves the slot to the winner, a crash before the rename
  * leaves only invisible orphans. */
private[graft] final class TableLog(val fs: FileSystem, root: String) {

  private val dir = new Path(root, TableLog.ManifestDir)

  private def manifestPath(v: Long): Path = new Path(dir, s"v$v.manifest")

  /** Latest published version (0 = no commits yet). Resolution is
    * `_last_checkpoint` + forward probes, NOT a directory listing
    * (Delta's `_last_checkpoint` design): at one version per flush a
    * standing table accrues thousands of manifests between vacuums,
    * and on an object store a full LIST per read is the known
    * commit-log scaling problem. Manifests are self-contained (each
    * carries the full file list), so the hint is all a checkpoint needs
    * to carry; resolution costs O(1 + commits since the hint) existence
    * probes. The listing survives only as the fallback for hint-less or
    * torn states, counted in [[TableLog.fallbackLists]] so tests can pin
    * that steady-state reads never list. */
  def currentVersion(): Long = {
    val hint: Long = try {
      val hp = new Path(dir, TableLog.LastCheckpoint)
      if (!fs.exists(hp)) -1L
      else {
        val in = fs.open(hp)
        val h = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim.toLong finally in.close()
        // the hint is written AFTER the rename and vacuum retains the
        // current version, so a valid hint is never ahead; a missing
        // manifest means external surgery → full listing
        if (h >= 1 && fs.exists(manifestPath(h))) h else -1L
      }
    } catch { case _: Exception => -1L } // torn hint → full listing
    if (hint < 0) {
      TableLog.fallbackLists.incrementAndGet()
      if (!fs.exists(dir)) 0L
      else fs.listStatus(dir).toSeq
        .map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
        .map(_.stripPrefix("v").stripSuffix(".manifest").toLong)
        .foldLeft(0L)(math.max)
    } else {
      var v = hint
      while (fs.exists(manifestPath(v + 1))) v += 1
      v
    }
  }

  /** Version `v`'s manifest in one read; None when `v` was never
    * committed or its manifest was vacuumed. */
  def find(v: Long): Option[Manifest] =
    if (v < 1) None
    else try {
      val in = fs.open(manifestPath(v))
      try Some(Manifest.parse(v,
        scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList))
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Version `v`'s manifest; fails loudly when it is not retained. */
  def read(v: Long): Manifest = {
    val m = find(v)
    require(m.isDefined, s"$root: version $v was never committed " +
      "(or its manifest was vacuumed)")
    m.get
  }

  /** [[read]], with version 0 as the empty table. */
  def readOrEmpty(v: Long): Manifest =
    if (v == 0) Manifest.empty else read(v)

  /** The latest manifest (the empty version 0 before the first commit). */
  def latest(): Manifest = readOrEmpty(currentVersion())

  /** The one commit loop: every [[GraftSink.VersionedTable]] write
    * publishes through it (optimistic concurrency, the Delta protocol).
    * `derive` turns the manifest a writer starts from into its
    * [[TableLog.Attempt]] — data written, plus the manifest lines as a
    * function of the version it lands on — or into `Left(result)` when
    * there is nothing to commit. The loop calls `beforePublish` (a test
    * seam) once after the first derivation, then publishes version
    * `on + 1`. Each lost race reads the winner once and asks the
    * attempt's conflict rule what to do:
    *  - [[TableLog.Conflict.Rebase]]: publish the same work on top of
    *    the winner (its lines are recomputed from the winner);
    *  - [[TableLog.Conflict.Rederive]]: delete the attempt's written
    *    dirs and derive again from the new latest version;
    *  - [[TableLog.Conflict.Fail]]: give up with the lost-race error.
    *
    * After [[TableLog.MaxLostRaces]] lost races every rule fails. The
    * rules, per write:
    *
    * | write | rebases over | re-derives on | fails on |
    * |---|---|---|---|
    * | `commit`, `commitBatch`, `commitWithWatermark` | any winner; the schema, rename and CHECK guards re-run against it | — | a guard the winner trips |
    * | `merge` | — | any winner | — |
    * | `mergeBucketed`, `mergeBucketedBatch` | a bucketed merge with the same spec and disjoint touched buckets, when this merge read no unbucketed file | — | any other winner |
    * | `deleteWhere`, `deleteKeys` | a rename or constraint with the same files and vector | any other winner | — |
    * | `updateWhere` | a rename with the same files and vector | any other winner (a constraint re-validates) | — |
    * | `addConstraint` | — | any winner (re-validates the content) | — |
    * | `renameColumn`, `restore`, `optimize`, `optimizeZorder` | — | — | any winner |
    *
    * Uncontended, the loop adds nothing to a write but its one publish
    * (no manifest read, listing or Spark job). Returns the version landed (the starting version for `Left`) and
    * the attempt's result. */
  def commit[R](op: String, base: Manifest,
                beforePublish: () => Unit = () => ())
               (derive: Manifest => Either[R, TableLog.Attempt[R]])
      : (Long, R) = {
    import TableLog.Conflict._
    @scala.annotation.tailrec
    def land(on: Manifest, next: Either[R, TableLog.Attempt[R]],
             lost: Int): (Long, R) = next match {
      case Left(r) => (on.version, r)
      case Right(a) =>
        val v = on.version + 1
        if (publish(v, a.lines(on))) (v, a.result)
        else {
          val winner = read(v)
          val rule = if (lost + 1 >= TableLog.MaxLostRaces) Fail
                     else a.onConflict(on, winner)
          rule match {
            case Rebase => land(winner, next, lost + 1)
            case Rederive =>
              a.written.foreach(rel => fs.delete(new Path(root, rel), true))
              val now = latest()
              land(now, derive(now), lost + 1)
            case Fail => throw new IllegalStateException(s"$root: $op lost " +
              s"the publish race for v$v to a concurrent " +
              s"${winner.kind.getOrElse("append")} commit (lost race " +
              s"${lost + 1} of at most ${TableLog.MaxLostRaces}); it cannot " +
              "land serially on that winner (only a metadata-only or " +
              "disjoint-bucket winner is rebased over) — re-run against " +
              "the new current version")
          }
        }
    }
    val first = derive(base)
    if (first.isRight) beforePublish()
    land(base, first, 0)
  }

  /** One atomic publish attempt of version `v`; false when another
    * writer took `v` first. A successful publish refreshes
    * `_last_checkpoint` best-effort — it is a HINT, so a crash between
    * rename and hint write costs one extra probe, never correctness. */
  private def publish(v: Long, lines: Seq[String]): Boolean = {
    fs.mkdirs(dir)
    val won = TableLog.publishFile(fs, dir, s"v$v.manifest",
      lines.mkString("\n"))
    if (won) {
      try {
        val h = fs.create(new Path(dir, TableLog.LastCheckpoint), true)
        try h.write(v.toString.getBytes(UTF_8)) finally h.close()
      } catch { case _: Exception => () } // a stale hint heals itself
    }
    won
  }

  /** Delete version `v`'s manifest (vacuum); false when it was gone. */
  def retire(v: Long): Boolean = fs.delete(manifestPath(v), false)

  /** The one writer of table files: `df` as parquet (overwriting) into
    * `dir`, hive-partitioned by `partitionBy` and rolling files at
    * `maxRecordsPerFile` rows when given (the session's
    * `spark.sql.files.maxRecordsPerFile` otherwise). Returns the dir and
    * its files' manifest lines, sorted by path. */
  private def write(df: DataFrame, dir: String, partitionBy: Option[String],
                    maxRecordsPerFile: Option[Long]): TableLog.Written = {
    var w = df.write.mode(SaveMode.Overwrite)
    partitionBy.foreach(c => w = w.partitionBy(c))
    maxRecordsPerFile.foreach(n => w = w.option("maxRecordsPerFile", n))
    w.parquet(new Path(root, dir).toString)
    TableLog.Written(dir, fileLines(dir).sortBy(TableLog.path))
  }

  /** [[write]] of version `v`'s data files into a fresh dir —
    * uuid-suffixed so two racing writers never share one (the loser's
    * retry republishes its files under the next version). */
  def writeData(v: Long, df: DataFrame, partitionBy: Option[String] = None,
                maxRecordsPerFile: Option[Long] = None): TableLog.Written =
    write(df, s"${TableLog.DataDir}/commit-$v-${java.util.UUID.randomUUID}",
      partitionBy, maxRecordsPerFile)

  /** [[write]] of version `v`'s dead positions (`file`, `row_index`,
    * [[TableLog.SliceCol]]) into a fresh dir, one slice per bucket. */
  def writeSlices(v: Long, positions: DataFrame): TableLog.Written =
    write(positions, s"${TableLog.DvDir}/v$v-${java.util.UUID.randomUUID}",
      Some(TableLog.SliceCol), None)

  /** (root-relative path, is a dir) of each entry under `rel`, if any. */
  private def children(rel: String): Seq[(String, Boolean)] =
    (try fs.listStatus(new Path(root, rel)).toSeq
     catch { case _: java.io.FileNotFoundException => Nil })
      .map(st => s"$rel/${st.getPath.getName}" -> st.isDirectory)

  /** Root-relative paths of every file under `rel`, recursively. */
  private def listFiles(rel: String): Seq[String] =
    children(rel).flatMap { case (r, dir) => if (dir) listFiles(r) else Seq(r) }

  /** Manifest file lines for the freshly written files under `rel` —
    * footer reads through a bounded pool (a bucketed merge can write
    * task×bucket files; serial driver opens would dominate small
    * merges). */
  private def fileLines(rel: String): Seq[String] = {
    val rels = listFiles(rel).filter(_.endsWith(".parquet"))
    if (rels.size <= 4) rels.map(statsLine)
    else {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(16, rels.size))
      try rels.map(r => pool.submit(
          new java.util.concurrent.Callable[String] {
            override def call(): String = statsLine(r)
          })).map(_.get())
      finally pool.shutdown()
    }
  }

  /** One manifest file line for a freshly written file: the relative
    * path plus its footer statistics — `{"rows":N,"cols":{"c":[min,max],
    * …}}` for top-level NUMERIC columns (min/max across row groups).
    * This is Delta's per-file stats design: data skipping and row counts
    * become manifest metadata, so reads prune files and OPTIMIZE sizes
    * bins without touching data. */
  private def statsLine(rel: String): String = {
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(root, rel), fs.getConf))
    try {
      val blocks = rd.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val mins = scala.collection.mutable.Map.empty[String, BigDecimal]
      val maxs = scala.collection.mutable.Map.empty[String, BigDecimal]
      val bad = scala.collection.mutable.Set.empty[String]
      for (b <- blocks; c <- b.getColumns.asScala) {
        val name = c.getPath.toDotString
        val st = c.getStatistics
        // a row group with ABSENT statistics (st null or empty) makes
        // the column's file-level range unknowable — the column must go
        // stats-less for the whole file (kept, never pruned), not
        // silently understate the range from the other groups' stats
        // (a range read would prune a file that holds matching rows).
        // All-null groups (stats present, no non-null value) contribute
        // no range and are correctly skipped: nulls never match a range
        // predicate.
        if (!name.contains('.') && (st == null || st.isEmpty)) bad += name
        else if (!name.contains('.') && st.hasNonNullValue) {
          (st.genericGetMin, st.genericGetMax) match {
            case (mn: java.lang.Number, mx: java.lang.Number)
                if !mn.isInstanceOf[java.lang.Byte] =>
              // NaN/Infinity bounds are unusable (and must never crash
              // a commit): such a column goes stats-less for the WHOLE
              // file — readers keep it, correctness unaffected
              try {
                val (dn, dx) = (BigDecimal(mn.toString),
                  BigDecimal(mx.toString))
                mins(name) = mins.get(name).map(_.min(dn)).getOrElse(dn)
                maxs(name) = maxs.get(name).map(_.max(dx)).getOrElse(dx)
              } catch {
                case _: NumberFormatException => bad += name
              }
            case _ => () // binary/boolean columns carry no range stats
          }
        }
      }
      val cols = (mins.keySet -- bad).toSeq.sorted.map(c =>
        s""""$c":[${mins(c)},${maxs(c)}]""").mkString(",")
      s"""$rel\t{"rows":$rows,"cols":{$cols}}"""
    } finally rd.close()
  }

  /** Exact row count from parquet footers — |files| driver-side
    * metadata reads (block row counts only, no column I/O). */
  private def footerRows(rels: Seq[String]): Long =
    rels.map { rel =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(root, rel), fs.getConf))
      try rd.getRecordCount finally rd.close()
    }.sum

  /** Row count of a version from its manifest stats (free); footer
    * reads only for stats-less legacy lines. */
  def rowCount(m: Manifest): Long =
    m.lines.map(l => TableLog.statsRows(l)
      .getOrElse(footerRows(Seq(TableLog.path(l))))).sum

  /** The reclaim step of vacuum: delete every file under the data dir
    * that no manifest in `retained` lists (the commits' `_SUCCESS`
    * markers and uncommitted orphans included) and every deletion-vector
    * slice none of them lists, then drop the dirs that leaves empty.
    * Returns the count of files and slices deleted. */
  def reclaim(retained: Seq[Manifest]): Int = {
    import TableLog.{DataDir, DvDir}
    def subdirs(rel: String) = children(rel).collect { case (r, true) => r }
    def prune(rel: String): Unit = { // bottom-up: bucket, then commit dirs
      subdirs(rel).foreach(prune)
      if (children(rel).isEmpty) fs.delete(new Path(root, rel), false)
    }
    val keep = retained.flatMap(_.files).toSet
    val stale = listFiles(DataDir).filterNot(keep)
    stale.foreach(rel => fs.delete(new Path(root, rel), false))
    subdirs(DataDir).foreach(prune)
    // slices age out per bucket; a dv dir left with no slice goes whole
    val keepDv = retained.flatMap(_.dv).toSet
    stale.size + subdirs(DvDir).map { top =>
      val gone = subdirs(top).filterNot(keepDv)
      gone.foreach(sl => fs.delete(new Path(root, sl), true))
      if (subdirs(top).isEmpty) fs.delete(new Path(root, top), true)
      gone.size
    }.sum
  }
}

private[graft] object TableLog {
  val ManifestDir = "_manifests"

  /** Hint file under the manifest directory naming the last published
    * version (Delta's `_last_checkpoint`). */
  val LastCheckpoint = "_last_checkpoint"

  /** Count of hint-less full manifest-directory listings (test seam). */
  val fallbackLists = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Lost publish races after which [[TableLog.commit]] gives up. */
  val MaxLostRaces = 8

  /** What a write does when another commit took its version. */
  sealed trait Conflict
  object Conflict {
    case object Rebase extends Conflict
    case object Rederive extends Conflict
    case object Fail extends Conflict
  }

  /** One derivation of a write, ready to publish: `lines` maps the
    * manifest it lands on to the new manifest's lines, `onConflict`
    * maps (that manifest, the winner that took the next version) to the
    * write's rule, and `written` lists the root-relative dirs this
    * derivation wrote (deleted when it re-derives). */
  final case class Attempt[+R](result: R, lines: Manifest => Seq[String],
                               onConflict: (Manifest, Manifest) => Conflict,
                               written: Seq[String] = Nil)

  def apply(spark: SparkSession, root: String): TableLog =
    new TableLog(fileSystem(spark, root), root)

  def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Whether `dir` holds a table log. */
  def isTable(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, ManifestDir))

  /** Write `content` to a temp file in `dir` and rename it to `name`
    * without overwrite — the commit point shared by table versions and
    * syncpoints. False (temp file removed) when `name` already exists. */
  def publishFile(fs: FileSystem, dir: Path, name: String,
                  content: String): Boolean = {
    val stem = name.substring(0, name.lastIndexOf('.'))
    val tmp = new Path(dir, s".$stem-${java.util.UUID.randomUUID}.tmp")
    val out = fs.create(tmp, false)
    try out.write(content.getBytes(UTF_8)) finally out.close()
    val dest = new Path(dir, name)
    if (!fs.exists(dest) && fs.rename(tmp, dest)) true
    else { fs.delete(tmp, false); false }
  }

  /** Root-relative dirs of data files and deletion-vector slices. */
  private val DataDir = "_data"
  private val DvDir = "_dv"

  /** The hive partition column of deletion-vector slices. */
  val SliceCol = "__dvb"

  /** The files one [[TableLog]] write landed: its fresh dir and their
    * manifest lines, sorted by path. */
  final case class Written(dir: String, lines: Seq[String]) {
    /** The deletion-vector slice dirs the files sit in, sorted. */
    def slices: Seq[String] =
      lines.map(l => path(l).replaceFirst("/[^/]*$", "")).distinct.sorted
  }

  /** Whether `file` (an absolute path, e.g. from `inputFiles`) is a
    * data file rather than a deletion-vector slice. */
  def isDataFile(file: String): Boolean = file.contains(s"/$DataDir/")

  /** A scanned row's data file as a root-relative path (deletion
    * vectors key rows by it, so moving the table cannot un-delete a
    * row): everything after the data-dir marker in `filePath`. */
  def relFileCol(filePath: Column): Column =
    concat(lit(s"$DataDir/"), substring_index(filePath, s"/$DataDir/", -1))

  /** The version whose commit first wrote data file `rel`. */
  def originVersion(rel: String): Option[Long] =
    s"$DataDir/commit-(\\d+)-".r.findFirstMatchIn(rel).map(_.group(1).toLong)

  /** Render `#k=v` header lines (sorted, line-safety enforced). */
  def header(meta: Map[String, String]): Seq[String] =
    meta.toSeq.sortBy(_._1).map { case (k, mv) =>
      require(!k.contains("=") && !(k + mv).exists(_ == '\n'),
        s"manifest meta must be line-safe: $k=$mv")
      s"#$k=$mv"
    }

  def encodeRename(map: Map[String, String]): String =
    map.toSeq.sorted.map { case (l, p) =>
      require(!(l + p).exists(c => c == ':' || c == ',' ||
        c == '=' || c == '\n'),
        s"column names in a rename must be [:,=\\n]-free: $l -> $p")
      s"$l:$p"
    }.mkString(",")

  def encodeChecks(checks: Map[String, String]): String =
    checks.toSeq.sorted.map { case (n, sqlTxt) =>
      require(n.matches("[A-Za-z0-9_]+"),
        s"constraint name must be [A-Za-z0-9_]+: $n")
      require(!sqlTxt.contains(";;") && !sqlTxt.contains("\n"),
        s"constraint SQL must be line-safe and ';;'-free: $sqlTxt")
      s"$n::$sqlTxt"
    }.mkString(";;")

  /** The path part of a manifest file line (stats suffix dropped). */
  def path(line: String): String = {
    val i = line.indexOf('\t')
    if (i < 0) line else line.substring(0, i)
  }

  /** A line's stats row count (None = stats-less legacy line). */
  def statsRows(line: String): Option[Long] = {
    val i = line.indexOf('\t')
    if (i < 0) None
    else "\"rows\":(\\d+)".r.findFirstMatchIn(line.substring(i + 1))
      .map(_.group(1).toLong)
  }

  /** A line's stats range for `column` (None = no stats — the file may
    * hold anything and must be kept). */
  def statsRange(line: String, column: String)
      : Option[(BigDecimal, BigDecimal)] = {
    val i = line.indexOf('\t')
    if (i < 0) None
    else ("\"" + java.util.regex.Pattern.quote(column) +
      "\":\\[([^,\\]]+),([^\\]]+)\\]").r
      .findFirstMatchIn(line.substring(i + 1))
      .map(m => (BigDecimal(m.group(1)), BigDecimal(m.group(2))))
  }

  /** Key bucket of a data file, when a bucketed commit wrote it. */
  def pathBucket(rel: String): Option[Long] =
    "__bucket=(\\d+)/".r.findFirstMatchIn(rel).map(_.group(1).toLong)

  /** [[pathBucket]] as a column over a file path (null = unbucketed). */
  def pathBucketCol(file: Column): Column = {
    val b = regexp_extract(file, "__bucket=(\\d+)/", 1)
    when(b =!= "", b.cast("long"))
  }

  /** The key bucket a DV slice covers (-1 = unbucketed files). */
  def sliceBucket(slice: String): Long =
    s"$SliceCol=(-?\\d+)".r.findFirstMatchIn(slice)
      .map(_.group(1).toLong).getOrElse(-1L)

  /** What version `cur` changed relative to its parent `prev` — the one
    * classification behind both the batch change feed
    * ([[GraftSink.VersionedTable.changes]]) and the streaming one
    * ([[graft.sources.TableCdfSource]]). Set algebra runs on RAW lines:
    * files are immutable and carried verbatim, so line identity is file
    * identity. */
  def change(prev: Manifest, cur: Manifest): VersionChange = {
    import VersionChange._
    val (prevSet, curSet) = (prev.lines.toSet, cur.lines.toSet)
    val added = (curSet -- prevSet).toSeq.sorted
    // slices are carried verbatim, so fresh positions live only in the
    // slices new in `cur`, minus what their bucket's previous slices
    // already held
    def fresh: Seq[FreshSlice] = {
      val old = prev.dv.toSet
      cur.dv.filterNot(old.contains).map(s => FreshSlice(s,
        prev.dv.filter(o => sliceBucket(o) == sliceBucket(s))))
    }
    def rewrite(kind: String, removed: Seq[String],
                addedLines: Seq[String]): VersionChange =
      // nothing removed and no vectors: pure inserts, no keying needed
      // (a first-commit overwrite, a restore from empty)
      if (removed.isEmpty && prev.dv.isEmpty && cur.dv.isEmpty)
        Inserted(addedLines)
      else if ((removed ++ addedLines).forall(l =>
        pathBucket(path(l)).isDefined)) {
        // the bucket is a pure function of the key, so a key's
        // before/after rows share a bucket; a bucket whose files AND
        // slices match on both sides is provably changeless
        val rem = removed.groupBy(l => pathBucket(path(l)).get)
        val add = addedLines.groupBy(l => pathBucket(path(l)).get)
        KeyedRewrite(kind, (rem.keySet ++ add.keySet).toSeq.sorted.flatMap {
          b =>
            val g = RewriteGroup(rem.getOrElse(b, Nil), add.getOrElse(b, Nil),
              prev.dv.filter(sliceBucket(_) == b),
              cur.dv.filter(sliceBucket(_) == b))
            if (g.removed.toSet == g.added.toSet && g.beforeDv == g.afterDv)
              None
            else Some(g)
        })
      } else
        KeyedRewrite(kind,
          Seq(RewriteGroup(removed, addedLines, prev.dv, cur.dv)))
    cur.kind match {
      case Some("optimize" | "constraint" | "rename") => Unchanged
      case Some("delete") => DvDelete(fresh)
      case Some("update") => Update(added, fresh)
      case k if !k.contains("restore") && prevSet.subsetOf(curSet) =>
        Inserted(added)
      // a merge diffs ONLY its removed ∪ added files — the rewritten
      // buckets; carried files are byte-identical on both sides
      case Some("merge") =>
        rewrite("merge", (prevSet -- curSet).toSeq.sorted, added)
      // a restore can share its parent's lines while REVERTING content
      // (vector included), and an overwrite carries no row-level
      // lineage: both diff whole versions
      case k =>
        rewrite(k.getOrElse("overwrite"), prev.lines.sorted, cur.lines.sorted)
    }
  }
}

/** One version's manifest, parsed in one read: the `#k=v` header map
  * and the raw file lines. */
private[graft] final case class Manifest(version: Long,
                                         meta: Map[String, String],
                                         lines: Seq[String]) {
  def kind: Option[String] = meta.get("kind")

  /** The commit's stamped Spark schema, when it carries one. */
  lazy val schema: Option[StructType] =
    meta.get("schema").map(DataType.fromJson(_).asInstanceOf[StructType])

  /** Deletion-vector slice dirs (`#dv=`, comma-separated). */
  lazy val dv: Seq[String] =
    meta.get("dv").toSeq.flatMap(_.split(',')).filter(_.nonEmpty)

  /** COLUMN-MAPPING name map (`#rename=`): logical → PHYSICAL column
    * name, listed only where they differ. */
  lazy val rename: Map[String, String] = pairs("rename", ",", ":")

  /** CHECK constraints (`#checks=`): name → SQL condition. */
  lazy val checks: Map[String, String] = pairs("checks", ";;", "::")

  /** The bucket spec a bucketed merge or optimize stamped. */
  def buckets: Option[Int] = meta.get("buckets").map(_.toInt)

  /** The buckets a bucketed merge rewrote. */
  def touched: Option[Set[Long]] = meta.get("touched")
    .map(_.split(',').filter(_.nonEmpty).map(_.toLong).toSet)

  /** Highest streaming batch id this commit accounts for. */
  def batchHi: Option[Long] =
    meta.get("batch_hi").orElse(meta.get("batch")).map(_.toLong)

  /** Event-time watermark of the commit's data. */
  def maxTs: Option[Long] = meta.get("max_ts").map(_.toLong)

  /** Data file paths, in manifest order. */
  lazy val files: Seq[String] = lines.map(TableLog.path)

  /** The header entries named by `keys`, for republishing them. */
  def carry(keys: String*): Map[String, String] =
    meta.filter { case (k, _) => keys.contains(k) }

  private def pairs(key: String, sep: String,
                    kv: String): Map[String, String] =
    meta.get(key).map(_.split(java.util.regex.Pattern.quote(sep))
      .filter(_.nonEmpty).map { pair =>
        val i = pair.indexOf(kv)
        pair.substring(0, i) -> pair.substring(i + kv.length)
      }.toMap).getOrElse(Map.empty)
}

private[graft] object Manifest {
  val empty: Manifest = Manifest(0L, Map.empty, Nil)

  def parse(version: Long, raw: Seq[String]): Manifest = {
    val (head, body) = raw.filter(_.nonEmpty).partition(_.startsWith("#"))
    Manifest(version, head.map { l =>
      val i = l.indexOf('=')
      l.substring(1, i) -> l.substring(i + 1)
    }.toMap, body)
  }
}

/** What one version changed relative to its parent (see
  * [[TableLog.change]]). Lines are raw manifest lines. */
private[graft] sealed trait VersionChange

private[graft] object VersionChange {
  /** optimize / constraint / rename: the same rows republished. */
  case object Unchanged extends VersionChange

  /** Files the version added, all rows inserts. */
  final case class Inserted(lines: Seq[String]) extends VersionChange

  /** A DV delete: the version's fresh slices. */
  final case class DvDelete(slices: Seq[FreshSlice]) extends VersionChange

  /** An update: the post-image files it added and the fresh slices
    * that kill the pre-images. */
  final case class Update(posts: Seq[String], slices: Seq[FreshSlice])
      extends VersionChange

  /** A keyed rewrite (merge, restore, overwrite): the diff of removed
    * against added rows, one group per touched bucket when every file is
    * bucket-aligned, else one group. */
  final case class KeyedRewrite(kind: String, groups: Seq[RewriteGroup])
      extends VersionChange

  /** A slice new in the version, with its bucket's previous slices
    * (whose positions were already dead). */
  final case class FreshSlice(slice: String, previous: Seq[String])

  /** One bucket (or the whole version) of a keyed rewrite: each side's
    * file lines and deletion-vector slices. */
  final case class RewriteGroup(removed: Seq[String], added: Seq[String],
                                beforeDv: Seq[String],
                                afterDv: Seq[String])
}

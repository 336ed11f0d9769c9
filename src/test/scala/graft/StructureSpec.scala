package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard over src/main/scala: sessions are built in one place,
  * AvailableNow drains are started in a few named helpers, micro-batch
  * callbacks go through the one helper that rebinds them, the
  * VersionedTable log format and files are known to one module, and
  * flush-feed files have one writer, so the builder chain, the drain
  * tail, the manifest parsing, the table-file writes and the flush
  * protocol are not copied back into call sites. */
class StructureSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** (path under src/main/scala, lines) of every Scala source. */
  private lazy val sources: Seq[(String, IndexedSeq[String])] = {
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((p: Path) => root.relativize(p).toString ->
        Files.readAllLines(p).asScala.toIndexedSeq)
    finally walk.close()
  }

  /** (file, enclosing def) of every line matching `pattern`; the
    * enclosing def is the nearest `def` at or above the line. */
  private def sites(pattern: String): Seq[(String, String)] = {
    val hit = pattern.r
    val defName = """\bdef\s+(\w+)""".r
    sources.flatMap { case (file, lines) =>
      lines.indices.filter(i => hit.findFirstIn(lines(i)).isDefined).map { i =>
        val owner = (i to 0 by -1).iterator
          .flatMap(j => defName.findFirstMatchIn(lines(j)).map(_.group(1)))
          .nextOption().getOrElse("<none>")
        file -> owner
      }
    }
  }

  test("SparkSession.builder appears only in GraftSession") {
    val files = sites("""SparkSession\.builder""").map(_._1).distinct
    assert(files === Seq("graft/GraftSession.scala"))
  }

  test("AvailableNow drains and temp checkpoints only in the drain helpers") {
    val allowed = Set(
      "graft/queries/Cdc.scala" -> "drainToMemory",
      "graft/queries/Cdc.scala" -> "drainOnce",
      "graft/streaming/CdcStream.scala" -> "startDrain",
      "graft/Bench.scala" -> "streamSentinelOnce")
    val triggers = sites("""\.trigger\(\s*[\w.]*Trigger\.AvailableNow\(\)""")
    val checkpoints = sites("""createTempDirectory\([^)]*ckpt""")
    assert(triggers.nonEmpty && checkpoints.nonEmpty)
    assert((triggers ++ checkpoints).filterNot(allowed).isEmpty)
  }

  test("foreachBatch appears only in startDrain, which rebinds each " +
    "micro-batch to the caller's session") {
    val batches = sites("""\.foreachBatch\(""")
    assert(batches.nonEmpty)
    assert(batches.distinct ===
      Seq("graft/streaming/CdcStream.scala" -> "startDrain"))
  }

  test("flush files are written only by the flush-feed writer") {
    val feed = Set("stage", "append", "land").map("graft/queries/Cdc.scala" -> _)
    val mtimes = sites("""setLastModifiedTime\(""")
    val names = sites("""flush-\$?\{?\w*\}?%03d""")
    val tempDirs = sites("""createTempDirectory\(""")
    assert(mtimes.nonEmpty && names.nonEmpty && tempDirs.nonEmpty)
    assert((mtimes ++ names).filterNot(feed).isEmpty)
    assert(tempDirs.filterNot(feed + ("graft/queries/Cdc.scala" -> "drainOnce"))
      .isEmpty)
  }

  test("the table-log format is spelled only in TableLog") {
    val literals = Seq("_manifests", ".manifest\"", "_last_checkpoint",
      "\"#kind=\"", "\"#dv=\"", "\"#rename=\"", "__bucket=(", "__dvb=(")
    val files = literals.flatMap(l =>
      sites(java.util.regex.Pattern.quote(l))).map(_._1)
    // the data and deletion-vector dirs as string literals ("_data/…",
    // "/_data/", "_dv/…"); scaladoc prose may still name them
    val dirs = sites(""""(?:[^"]*/)?_(?:data|dv)(?:/[^"]*)?"""").map(_._1)
    assert(dirs.nonEmpty)
    assert((files ++ dirs).distinct === Seq("graft/cdc/TableLog.scala"))
  }

  test("table files are written and reclaimed only by TableLog") {
    val dfWrite = """\.write(\.|\s*$)"""
    assert(sites(dfWrite).filter(_._1 == "graft/cdc/TableLog.scala") ===
      Seq("graft/cdc/TableLog.scala" -> "write"))
    // VersionedTable writes, lists and vacuums its files only through
    // the log: no DataFrame write, no listing, no file-line building
    val sinks = sources.collectFirst {
      case ("graft/cdc/Sinks.scala", lines) => lines }.get
    val table = sinks.slice(
      sinks.indexWhere(_.contains("final case class VersionedTable(")),
      sinks.indexWhere(_.contains("object Syncpoint {")))
    assert(table.size > 1000)
    val banned = (dfWrite + """|\.parquet\(s"\$path/|listStatus|fileLines|""" +
      """parquetFiles|footerRows|fs\.delete""").r
    assert(table.filter(l => banned.findFirstIn(l).isDefined).isEmpty)
  }

  test("the lost-race rule lives only in TableLog.commit") {
    assert(sites("""publish race for v""").map(_._1) ===
      Seq("graft/cdc/TableLog.scala"))
    assert(sites("""var attempts""").isEmpty)
  }
}

package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Per-query
  * failures land in errors.json (machine-readable) so a crashed query can
  * never silently vanish from the correctness report. */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private[graft] def writeJson(path: String, kv: Iterable[(String, String)]): Unit =
    Files.writeString(Paths.get(path),
      kv.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg (dev only; the driver passes 2): comma-separated
    // query names — run just those for a fast edit/verify loop.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val errors = selected.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(800)}")
      }
    }
    writeJson(s"$outDir/errors.json", errors)
    writeJson(s"$outDir/oracle_sql.json",
      SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) })
    spark.stop()
    // Exit 0 even on per-query failures: the driver must still compare the
    // queries that did run; errors.json carries the failure detail.
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries failed — see $outDir/errors.json")
  }
}

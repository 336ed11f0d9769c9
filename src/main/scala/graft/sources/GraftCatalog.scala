package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.cdc.{GraftSink, TableLog}

/** SQL [[TableCatalog]] over [[GraftSink.VersionedTable]] roots
  * (VERDICT r17 ask 6) — the lakehouse surfaces become plain SQL:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graftcat",
  *     "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graftcat.root", "/data/tables")
  *   spark.sql("SELECT * FROM graftcat.events VERSION AS OF 3")
  *   spark.sql("INSERT INTO graftcat.events SELECT ...")
  * }}}
  *
  * Division of labor (the Spark-first shape):
  *  - the CATALOG resolves names → tables, serves `VERSION AS OF`
  *    (manifest time travel) and `TIMESTAMP AS OF` (the event-time
  *    watermark rule readAsOfTs documents), creates/drops/renames
  *    table directories, and accepts INSERT / INSERT OVERWRITE via
  *    the V1 write fallback onto [[GraftSink.VersionedTable.commit]]
  *    — one atomic manifest publish per statement, all commit gates
  *    (schema/CHECK/rename) included;
  *  - the READ PLAN is substituted by [[GraftTableResolveRule]]
  *    (registered via `graft.GraftExtensions`): the relation becomes
  *    the native `readVersion` plan — Spark's VECTORIZED parquet scan
  *    over the manifest's explicit file list with the deletion vector
  *    anti-joined and the column map applied, so SQL reads get
  *    exactly the DataFrame API's physical plan (pushdown, pruning,
  *    whole-stage codegen — nothing row-by-row). Without the
  *    extension a SELECT fails loudly with the registration hint
  *    rather than silently scanning wrong.
  *
  * Scale shape: catalog calls are driver metadata (manifest headers);
  * every data-moving plan is the library's own. */
class GraftCatalog extends TableCatalog {

  private var catName: String = _
  private var root: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(s"catalog '$name' needs " +
        s"spark.sql.catalog.$name.root=<directory of table roots>"))
  }

  override def name(): String = catName

  private def spark: SparkSession = SparkSession.active

  private def pathOf(ident: Identifier): String =
    ((root +: ident.namespace.toSeq) :+ ident.name).mkString("/")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((root +: namespace.toSeq).mkString("/"))
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).filter(_.isDirectory)
      .filter(d => TableLog.isTable(fs, d.getPath))
      .map(d => Identifier.of(namespace, d.getPath.getName))
  }

  private def load(ident: Identifier, version: Option[Long]): Table = {
    val t = GraftSink.VersionedTable(pathOf(ident))
    val cur =
      try t.currentVersion(spark) catch { case _: Exception => 0L }
    if (cur == 0L)
      throw new NoSuchTableException(
        (catName +: ident.namespace.toSeq) :+ ident.name)
    version.foreach(v => require(v >= 1 && v <= cur,
      s"${pathOf(ident)}: VERSION AS OF $v out of range [1, $cur]"))
    new GraftSqlTable(t, version.getOrElse(cur), pinned = version.isDefined)
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** `VERSION AS OF v` — manifest time travel. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(version.toLong))

  /** `TIMESTAMP AS OF t` (micros) — the EVENT-TIME watermark rule
    * ([[GraftSink.VersionedTable.readAsOfTs]]): highest version whose
    * `#max_ts` ≤ t, a pure function of the data. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = GraftSink.VersionedTable(pathOf(ident))
    load(ident, Some(t.versionAsOfTs(spark, timestamp)))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "GraftCatalog tables manage their own layout (bucketed merges / " +
        "zorder) — CREATE TABLE takes no PARTITIONED BY")
    val t = GraftSink.VersionedTable(pathOf(ident))
    // version 1 = an empty commit stamping the schema (no data files
    // — the manifest alone): INSERTs append from there
    t.commit(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    new GraftSqlTable(t, 1L, pinned = false)
  }

  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "ALTER TABLE: use VersionedTable.renameColumn / addConstraint " +
        "(each is one audited manifest publish)")

  override def dropTable(ident: Identifier): Boolean = {
    val dir = new Path(pathOf(ident))
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(dir) && fs.delete(dir, true)
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    val from = new Path(pathOf(oldIdent))
    val to = new Path(pathOf(newIdent))
    val fs = from.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(from))
      throw new NoSuchTableException(
        (catName +: oldIdent.namespace.toSeq) :+ oldIdent.name)
    require(fs.rename(from, to),
      s"rename ${pathOf(oldIdent)} -> ${pathOf(newIdent)} failed " +
        "(destination exists?)")
  }
}

/** One resolved (table, version) pair. Reads are substituted by
  * [[GraftTableResolveRule]]; writes fall back to V1
  * [[InsertableRelation]] → [[GraftSink.VersionedTable.commit]]
  * (append for INSERT INTO, overwrite for INSERT OVERWRITE — the
  * TRUNCATE capability), so every SQL write is one atomic manifest
  * publish under the library's own gates. */
private[graft] class GraftSqlTable(val table: GraftSink.VersionedTable,
                                   val tableVersion: Long,
                                   val pinned: Boolean) extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String = s"${table.path} (v$tableVersion)"

  override def schema(): StructType =
    table.readVersion(SparkSession.active, tableVersion).schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    throw new IllegalStateException(
      "GraftCatalog reads are planned by GraftTableResolveRule — " +
        "build the session with " +
        "spark.sql.extensions=graft.GraftExtensions (the rule " +
        "substitutes the native readVersion plan: vectorized scan, " +
        "deletion-vector anti-join, column mapping)")

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      // INSERT OVERWRITE arrives as truncate() + append — one
      // overwrite commit, atomic like every other manifest publish
      private var overwriteAll = false
      override def truncate(): WriteBuilder = { overwriteAll = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame,
                                overwrite: Boolean): Unit = {
              require(!pinned, s"${table.path}: cannot INSERT into a " +
                "time-travelled (VERSION/TIMESTAMP AS OF) relation")
              table.commit(data, overwrite = overwriteAll || overwrite)
              ()
            }
          }
      }
    }
}

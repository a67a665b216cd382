package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.vt.DeltaLogReader
import graft.vt.DeltaLogReader.DeltaSnapshot

/** READ-ONLY DSv2 catalog over FOREIGN Delta tables (r19) — the scale
  * front end `format("delta-lite")`'s DSv1 relation cannot provide:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.dlite", classOf[DeltaLiteCatalog].getName)
  *   spark.sql("SELECT * FROM dlite.`/path/to/delta` VERSION AS OF 3")
  *   SELECT … FROM dlite.`fact` f JOIN dim d ON f.k = d.k WHERE d.grp = 'x'
  * }}}
  *
  * The win over the DSv1 path is `SupportsRuntimeV2Filtering`
  * ([[VtDfScan]] / [[VtMorScan]], the scans that serve native commits):
  * a broadcast star-join's key values re-prune the snapshot's FILE LIST
  * at execution time against each add action's per-file stats — Delta's
  * dynamic file pruning, which DSv1 can only apply to directory-partition
  * columns. On a 100 TB foreign fact table, the dimension filter decides
  * which files are read at all. Plus the time-travel SYNTAX
  * (`VERSION/TIMESTAMP AS OF`) the relation options could only spell as
  * reader options.
  *
  * Every snapshot shape — directory-partitioned layouts, renamed or
  * id-mapped column-mapped schemas, deletion vectors — plans the same
  * runtime-filtered batch. DDL is refused: the table belongs to its
  * writer. */
final class DeltaLiteCatalog extends TableCatalog {

  private var catalogName: String = "dlite"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String = {
    require(ident.namespace().isEmpty,
      s"$catalogName catalog identifiers are single backquoted Delta roots, " +
        s"got ${ident.namespace().mkString(".")}.${ident.name()}")
    SourcePaths.local(ident.name())
  }

  private def load(ident: Identifier, version: Option[Long]): Table = {
    val path = pathOf(ident)
    // only a path with NO `_delta_log` directory at all maps to "no such
    // table"; a log that EXISTS but fails to list or replay (truncated
    // JSON, permissions, IO) must surface its own error — masking
    // corruption as table-not-found sends the user hunting a typo. A bare
    // existence check (no listing) also keeps the healthy path at ONE log
    // listing, inside snapshot().
    if (version.isEmpty && !java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(path).resolve("_delta_log")))
      throw new NoSuchTableException(ident)
    val snap = DeltaLogReader.snapshot(path, version, Some(SparkSession.active))
    new DeltaLiteTable(SparkSession.active, path, snap,
      s"$catalogName.`${ident.name()}`" + version.map(v => s" v$v").getOrElse(""))
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** SQL `VERSION AS OF n`. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(version.toLongOption.getOrElse(
      throw new IllegalArgumentException(
        s"VERSION AS OF must be a Delta version number, got '$version'"))))

  /** SQL `TIMESTAMP AS OF ts` — Spark hands MICROseconds since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val path = pathOf(ident)
    load(ident, Some(DeltaLogReader.versionAtTimestamp(path,
      Math.floorDiv(timestamp, 1000L))))
  }

  override def tableExists(ident: Identifier): Boolean =
    try { DeltaLogReader.latestVersion(pathOf(ident)) >= 0L }
    catch { case _: Exception => false }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty // path-addressed: there is no enumerable namespace

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      s"$catalogName is a read-only view of foreign Delta tables; write " +
        "through their owning engine (or export a vt table with exportDeltaLog)")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(s"$catalogName is read-only")

  override def dropTable(ident: Identifier): Boolean = false

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(s"$catalogName is read-only")
}

/** One version-pinned foreign Delta snapshot served through DSv2, by the
  * scans that serve native commits: its replay resolves to a [[Commit]]
  * ([[DeltaLogReader.asCommit]]), with no table handle. */
final class DeltaLiteTable(spark: SparkSession, tableRoot: String,
                           snap: DeltaSnapshot, ident: String)
    extends Table with SupportsRead {

  override def name(): String = ident
  private lazy val commit = DeltaLogReader.asCommit(snap)

  override def schema(): StructType =
    DataType.fromJson(commit.schemaJson).asInstanceOf[StructType]
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  /** The one scan builder native commits use, for every snapshot shape:
    * directory partitions from the log, renamed columns by physical name,
    * id-mapped columns by field id, deletion vectors subtracted per task. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new VtMetaScanBuilder(spark,
      java.nio.file.Paths.get(tableRoot).toAbsolutePath.normalize, commit, None)
}

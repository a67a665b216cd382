package graft.sources

import java.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, StagedTable, StagingTableCatalog, SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableCatalogCapability, TableChange, TableInfo}
import org.apache.spark.sql.connector.catalog.constraints.{Check, Constraint}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.vt.{Commit, CommitGraph, VersionedTable}

/** The DSv2 front end for versioned tables: a [[TableCatalog]] that makes
  * them first-class SQL citizens, unlocking the time-travel SYNTAX the
  * DSv1 relation cannot parse —
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.vt", classOf[VtCatalog].getName)
  *   spark.sql("SELECT * FROM vt.`/path/to/table` VERSION AS OF 0")
  *   spark.sql("SELECT * FROM vt.`/path/to/table` TIMESTAMP AS OF '…'")
  *   spark.sql("INSERT INTO vt.`/path/to/table` SELECT …")   // one commit
  * }}}
  *
  * The identifier is the table ROOT PATH (backquoted), optionally
  * prefixed `branch@` to address a non-main branch. `VERSION AS OF n`
  * resolves through the same [[VersionedTable.resolveRead]] the reader
  * options use; `TIMESTAMP AS OF` arrives from Spark in MICROseconds and
  * converts to the commit log's millisecond clock.
  *
  * Reads plan through the same commit-pinned [[VtFileIndex]] as the DSv1
  * path, and through the same scans the `dlite` catalog serves foreign
  * Delta snapshots with: DV-free snapshots serve Spark's own
  * `ParquetScan` (catalyst filter pushdown, commit-log stats pruning in
  * `listFiles`, vectorization, codegen) wrapped by [[VtMetaScanBuilder]]
  * for metadata-only aggregate pushdown, and DV-carrying snapshots serve
  * the NATIVE merge-on-read batch [[VtMorScan]] (file-pruned,
  * filter-pushed, deletion vectors subtracted by generated row index in
  * the readers themselves). Writes bridge through [[V1Write]]:
  * `INSERT INTO` appends one commit, `INSERT OVERWRITE` replaces
  * (`SupportsTruncate`). DDL (r19): `CREATE TABLE` / `CREATE TABLE … AS
  * SELECT` publish an empty schema-pinning v0 (+ the data as v1), and
  * `DROP TABLE` removes a verified table root — the SQL entry path to a
  * new versioned table; alter/rename stay refused (schema evolves per
  * commit; tables are path-addressed). */
/** The `[branch@]path` addressing shared by the catalog identifier and the
  * SQL-DML bridge ([[VtSqlDml]]): a leading slash-free `branch@` segment
  * selects a non-main branch; everything else is the table root path. */
private[graft] object VtAddress {
  def split(raw: String): (String, String) = {
    val at = raw.indexOf('@')
    if (at > 0 && !raw.substring(0, at).contains('/'))
      (raw.substring(0, at), raw.substring(at + 1))
    else ("main", raw)
  }
}

final class VtCatalog extends TableCatalog with StagingTableCatalog {

  private var catalogName: String = "vt"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  /** Spark 4's constraint SPIP: declaring this capability makes the native
    * `ALTER TABLE … ADD/DROP CONSTRAINT` grammar route here as
    * [[TableChange.AddConstraint]]/[[TableChange.DropConstraint]], and lets
    * `CREATE TABLE` carry CHECK constraints through [[TableInfo]]. */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  /** `[branch@]<root path>` → (branch, normalized local path) WITHOUT
    * opening the table — what DDL (create/drop/exists) needs. */
  private def parseAddress(ident: Identifier): (String, String) = {
    require(ident.namespace().isEmpty,
      s"$catalogName catalog identifiers are single backquoted paths " +
        s"(`[branch@]/path/to/table`), got ${ident.namespace().mkString(".")}.${ident.name()}")
    val (branch, path) = VtAddress.split(ident.name())
    (branch, SourcePaths.local(path))
  }

  /** `[branch@]<root path>` → (table, branch). The namespace must be
    * empty: the whole address lives in one backquoted identifier part. */
  private def parse(ident: Identifier): (VersionedTable, String) = {
    val (branch, path) = parseAddress(ident)
    (VersionedTable.open(path), branch)
  }

  private def load(ident: Identifier)(resolve: (VersionedTable, String) => Commit): Table = {
    // the namespace-shape require is a USER error with its own message —
    // surface it as-is; only the table OPEN failure maps to "no such table".
    // A bad VERSION AS OF / branch on an existing table likewise surfaces as
    // its own error from resolve, never table-not-found.
    require(ident.namespace().isEmpty,
      s"$catalogName catalog identifiers are single backquoted paths " +
        s"(`[branch@]/path/to/table`), got ${ident.namespace().mkString(".")}.${ident.name()}")
    val (branch, path) = VtAddress.split(ident.name())
    val vt =
      try VersionedTable.open(SourcePaths.local(path))
      catch { case _: IllegalArgumentException => throw new NoSuchTableException(ident) }
    new VtTable(SparkSession.active, vt, branch, resolve(vt, branch),
      s"$catalogName.`${ident.name()}`")
  }

  override def loadTable(ident: Identifier): Table =
    load(ident)((vt, b) => vt.resolveRead(b))

  /** SQL `VERSION AS OF n`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = version.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"VERSION AS OF must be a commit number, got '$version' " +
        "(tags address snapshots through readVersion/restoreTag, not VERSION AS OF)"))
    load(ident)((vt, b) => vt.resolveRead(b, versionAsOf = Some(v)))
  }

  /** SQL `TIMESTAMP AS OF ts` — Spark hands MICROseconds since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    load(ident)((vt, b) =>
      vt.resolveRead(b, timestampAsOf = Some(Math.floorDiv(timestamp, 1000L))))

  override def tableExists(ident: Identifier): Boolean =
    try { val (vt, branch) = parse(ident); vt.head(branch).isDefined }
    catch { case _: IllegalArgumentException => false }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty // path-addressed: there is no enumerable namespace

  /** SQL `CREATE TABLE vt.\`path\` (…)` / `CREATE TABLE … AS SELECT` (r19):
    * creates the versioned-table root and publishes an EMPTY v0 commit
    * pinning the schema, so the table exists for every later load; a
    * CTAS's data then lands as v1 through the ordinary append write of
    * the returned handle. Non-atomic CTAS follows Spark's standard
    * non-staging contract: a failed write makes the exec node call
    * [[dropTable]], leaving no committed table behind. Partition
    * transforms are refused — versioned tables organize data by commit,
    * not directory partitions (cluster with OPTIMIZE … ZORDER instead). */
  /** Shared CREATE/CTAS/RTAS clause validation: clauses this catalog
    * cannot honor must refuse LOUDLY, not be silently dropped — a user who
    * wrote them believes they took effect. Informational reserved
    * properties (owner/external marker) pass; the provider must be this
    * engine (or parquet — the physical storage — incl. the session default
    * Spark fills in when USING is omitted); a LOCATION is only legal when
    * it restates the identifier's own path. FREE-FORM `TBLPROPERTIES`
    * (r19c) are returned for the new table's durable [[graft.vt.Commit.props]]
    * map — except the constraint namespace, which must enter through
    * CONSTRAINT clauses / ADD CONSTRAINT so its validation runs. */
  private def validateCreate(path: String, partitions: Array[Transform],
                             properties: util.Map[String, String]): Map[String, String] = {
    require(partitions.isEmpty,
      "versioned tables are not directory-partitioned (use OPTIMIZE … ZORDER " +
        "BY for clustering); CREATE TABLE must not carry PARTITIONED BY")
    import org.apache.spark.sql.connector.catalog.TableCatalog._
    val user = Map.newBuilder[String, String]
    properties.forEach { (k, v) =>
      k match {
        case PROP_PROVIDER =>
          require(v == null || v.equalsIgnoreCase("vt") || v.equalsIgnoreCase("parquet"),
            s"USING $v is not supported: versioned tables are parquet-backed " +
              "vt tables (write `USING vt`, or omit the clause)")
        case PROP_LOCATION =>
          require(SourcePaths.local(v) == path,
            s"LOCATION '$v' conflicts with the identifier path '$path' — vt " +
              "tables are path-addressed; drop the LOCATION clause")
        case PROP_COMMENT => throw new IllegalArgumentException(
          "COMMENT is not stored by versioned tables (nothing would surface " +
            "it back) — record table notes in commit messages instead")
        case PROP_OWNER | PROP_EXTERNAL | PROP_IS_MANAGED_LOCATION => ()
        case other if other.startsWith(OPTION_PREFIX) =>
          throw new IllegalArgumentException(
            s"OPTIONS ('${other.stripPrefix(OPTION_PREFIX)}') are not read by " +
              "versioned tables — versioning dials are write options / SQL verbs")
        case other if other.startsWith("constraint.check.") =>
          throw new IllegalArgumentException(
            s"'$other' is in the CHECK-constraint namespace — declare it as a " +
              "CONSTRAINT clause (or ALTER TABLE … ADD CONSTRAINT) so its " +
              "validation runs")
        case other => user += other -> v
      }
    }
    user.result()
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val (branch, path) = parseAddress(ident)
    val userProps = validateCreate(path, partitions, properties)
    // the typed exception matters: CREATE TABLE IF NOT EXISTS losing a
    // create race catches TableAlreadyExistsException and no-ops — any
    // other type would fail the statement
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val vt = VersionedTable.create(path)
    val c = vt.createEmpty(branch, schema,
      s"CREATE TABLE $catalogName.`${ident.name()}`", props = userProps)
    new VtTable(SparkSession.active, vt, branch, c, s"$catalogName.`${ident.name()}`")
  }

  /** `CREATE TABLE … (cols, CONSTRAINT n CHECK (p))` — the [[TableInfo]]
    * face Spark uses when the catalog declares SUPPORT_TABLE_CONSTRAINT:
    * the empty schema-pinning v0 lands first, then each CHECK records as
    * its own metadata-only commit (validation over zero rows is free).
    * Only CHECK constraints are accepted — see [[alterConstraints]]. */
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    val checks = info.constraints().map {
      case c: Check =>
        require(c.enforced(), s"constraint ${c.name()}: NOT ENFORCED CHECK " +
          "constraints are not supported")
        c.name() -> Option(c.predicateSql()).filter(_.nonEmpty).getOrElse(
          throw new IllegalArgumentException(
            s"constraint ${c.name()}: no predicate SQL to record"))
      case other => throw new UnsupportedOperationException(
        s"only CHECK constraints are supported on versioned tables, got ${other.toDDL}")
    }
    // PRE-FLIGHT every constraint against the declared schema BEFORE any
    // commit publishes: duplicate (case-insensitive) names, unparseable /
    // non-boolean / non-row-local predicates must fail the statement with
    // NOTHING created — constraint i failing after v0 + constraints 0..i-1
    // landed would leave a half-created table that blocks the retried
    // CREATE with TableAlreadyExists.
    locally {
      val dup = checks.groupBy(_._1.toLowerCase).collect {
        case (n, g) if g.length > 1 => n }
      require(dup.isEmpty,
        s"duplicate constraint name(s) (names are case-insensitive): ${dup.mkString(", ")}")
      checks.foreach { case (n, sql) =>
        // the SAME name-shape rule addCheckConstraint enforces later: a
        // backquoted non-identifier name (valid in Spark 4's grammar, e.g.
        // CONSTRAINT `a-b`) must fail HERE, before v0 publishes — failing
        // inside the post-create loop would leave the half-created table
        // this pre-flight exists to prevent
        require(n.matches("""[A-Za-z_][A-Za-z0-9_]*"""),
          s"constraint name must be an identifier, got '$n'")
        VersionedTable.validateCheckPredicate(SparkSession.active, info.schema(), sql)
      }
    }
    val table = createTable(ident, info.schema(), info.partitions(), info.properties())
    if (checks.isEmpty) table
    else {
      val (vt, branch) = parse(ident)
      checks.foreach { case (n, sql) =>
        vt.addCheckConstraint(SparkSession.active, branch, n, sql,
          s"CREATE TABLE $catalogName.`${ident.name()}` … CONSTRAINT $n CHECK ($sql)")
      }
      loadTable(ident)
    }
  }

  /** Atomic `CREATE TABLE … AS SELECT` ([[StagingTableCatalog]]): the
    * query's rows are written as unreferenced files under the table root,
    * and the table springs into existence as ONE commit (v0 = the data)
    * when Spark calls [[VtStagedTable.commitStagedChanges]] after the
    * write succeeds — a reader can never observe a half-created table,
    * and a failed query aborts to NOTHING (no root, no commit; Spark's
    * non-atomic fallback would expose an empty committed table to
    * concurrent readers mid-CTAS). */
  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): StagedTable = {
    val (branch, path) = parseAddress(ident)
    val userProps = validateCreate(path, partitions, properties)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val existedBefore = java.nio.file.Files.exists(
      java.nio.file.Paths.get(path).resolve("_graft_table"))
    val vt = VersionedTable.create(path)
    new VtStagedTable(SparkSession.active, vt, branch, schema,
      s"$catalogName.`${ident.name()}`", mustCreate = true,
      createdRoot = !existedBefore, userProps = userProps)
  }

  /** Atomic `REPLACE TABLE [AS SELECT]`: the replacement snapshot (schema
    * and all — Delta's overwriteSchema semantics) lands as one overwrite
    * commit; until then every reader still sees the old head, and an
    * abort leaves the table EXACTLY as it was (the old Delta
    * drop-then-recreate fallback loses the table on failure). History is
    * kept: the replaced contents still time-travel. */
  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String]): StagedTable = {
    val (branch, path) = parseAddress(ident)
    val userProps = validateCreate(path, partitions, properties)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new VtStagedTable(SparkSession.active, VersionedTable.open(path), branch,
      schema, s"$catalogName.`${ident.name()}`", mustReplace = true,
      userProps = userProps)
  }

  /** CTAS/RTAS with inline constraints would have to validate the query's
    * rows against predicates that only exist once the table commits —
    * refuse loudly rather than committing data that was never checked;
    * `ALTER TABLE … ADD CONSTRAINT` after the CTAS validates properly. */
  private def refuseStagedConstraints(info: TableInfo): Unit =
    require(info.constraints().isEmpty,
      "CREATE/REPLACE TABLE … AS SELECT cannot carry constraints — run the " +
        "CTAS first, then ALTER TABLE … ADD CONSTRAINT (which validates the rows)")

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable = {
    refuseStagedConstraints(info)
    stageCreate(ident, info.schema(), info.partitions(), info.properties())
  }

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable = {
    refuseStagedConstraints(info)
    stageReplace(ident, info.schema(), info.partitions(), info.properties())
  }

  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable = {
    refuseStagedConstraints(info)
    stageCreateOrReplace(ident, info.schema(), info.partitions(), info.properties())
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String]): StagedTable = {
    val (branch, path) = parseAddress(ident)
    val userProps = validateCreate(path, partitions, properties)
    val existedBefore = java.nio.file.Files.exists(
      java.nio.file.Paths.get(path).resolve("_graft_table"))
    val vt = VersionedTable.create(path)
    new VtStagedTable(SparkSession.active, vt, branch, schema,
      s"$catalogName.`${ident.name()}`", createdRoot = !existedBefore,
      userProps = userProps)
  }

  /** SQL `ALTER TABLE … ADD COLUMNS` (r19): a metadata-only
    * schema-evolution commit through [[VersionedTable.addColumns]] — same
    * files, stats, DVs and bloom index; pre-evolution rows read NULL for
    * the new columns. Everything else ALTER can say (drop/rename/retype a
    * column would need Delta-style column mapping; properties/comments
    * are not stored) refuses loudly. */
  /** SQL `ALTER TABLE … ADD CONSTRAINT name CHECK (pred)` (r19, Spark 4's
    * native constraint grammar): a metadata-only commit through
    * [[VersionedTable.addCheckConstraint]] — the engine validates the
    * EXISTING rows first (one pushed-down short-circuit scan), and from
    * then on every write path enforces the predicate inside its own write
    * job. `DROP CONSTRAINT [IF EXISTS]` is the symmetric metadata commit.
    * Only CHECK constraints are accepted: PRIMARY KEY / UNIQUE / FOREIGN
    * KEY would promise global uniqueness this engine does not index for,
    * and silently-unenforced informational constraints would let the
    * optimizer assume facts nobody checks. */
  private def alterConstraints(ident: Identifier, changes: Seq[TableChange]): Table = {
    val (vt, branch) = parse(ident)
    changes.foreach {
      case a: TableChange.AddConstraint => a.constraint() match {
        case c: Check =>
          require(c.enforced(),
            s"constraint ${c.name()}: NOT ENFORCED CHECK constraints are not " +
              "supported (an unenforced CHECK is a fact nobody verifies)")
          val sql = Option(c.predicateSql()).filter(_.nonEmpty).getOrElse(
            throw new IllegalArgumentException(
              s"constraint ${c.name()}: no predicate SQL to record"))
          vt.addCheckConstraint(SparkSession.active, branch, c.name(), sql,
            s"ALTER TABLE $catalogName.`${ident.name()}` ADD CONSTRAINT " +
              s"${c.name()} CHECK ($sql)")
        case other => throw new UnsupportedOperationException(
          s"only CHECK constraints are supported on versioned tables, got " +
            other.toDDL)
      }
      case d: TableChange.DropConstraint =>
        require(d.mode() != TableChange.DropConstraint.Mode.CASCADE,
          "DROP CONSTRAINT CASCADE is not supported (CHECK constraints have " +
            "no dependents)")
        vt.dropCheckConstraint(branch, d.name(), ifExists = d.ifExists(),
          message = s"ALTER TABLE $catalogName.`${ident.name()}` DROP CONSTRAINT ${d.name()}")
      case _ => throw new IllegalStateException("alterConstraints: non-constraint change")
    }
    loadTable(ident)
  }

  /** `ALTER TABLE … SET/UNSET TBLPROPERTIES`: one metadata-only commit
    * over [[VersionedTable.setTableProperties]]. Durable free-form
    * key→values ride [[graft.vt.Commit.props]] next to the constraints
    * (whose reserved namespace refuses the raw-property door). */
  private def alterProperties(ident: Identifier, changes: Seq[TableChange]): Table = {
    val set = changes.collect {
      case s: TableChange.SetProperty => s.property() -> s.value()
    }.toMap
    // the SAME reserved-key screening CREATE TABLE applies: keys the create
    // path refuses loudly (COMMENT, provider, option.*-prefixed OPTIONS)
    // must not slip into durable props through the SET door (COMMENT ON
    // TABLE routes here too); constraint.check.* is guarded one layer down
    // in setTableProperties
    locally {
      import org.apache.spark.sql.connector.catalog.TableCatalog._
      set.keys.foreach {
        case PROP_COMMENT => throw new IllegalArgumentException(
          "COMMENT is not stored by versioned tables (nothing would surface " +
            "it back) — record table notes in commit messages instead")
        case PROP_PROVIDER | PROP_LOCATION => throw new IllegalArgumentException(
          "provider/location are fixed at CREATE for a path-addressed vt " +
            "table and cannot be changed via SET TBLPROPERTIES")
        case k if k.startsWith(OPTION_PREFIX) =>
          throw new IllegalArgumentException(
            s"OPTIONS ('${k.stripPrefix(OPTION_PREFIX)}') are not read by " +
              "versioned tables — versioning dials are write options / SQL verbs")
        case _ => ()
      }
    }
    val unset = changes.collect {
      case r: TableChange.RemoveProperty => r.property()
    }
    val (vt, branch) = parse(ident)
    vt.setTableProperties(branch, set, unset,
      s"ALTER TABLE $catalogName.`${ident.name()}` " +
        (if (set.nonEmpty) s"SET TBLPROPERTIES (${set.keys.mkString(", ")})" else "") +
        (if (unset.nonEmpty) s"UNSET TBLPROPERTIES (${unset.mkString(", ")})" else ""))
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (changes.forall(c => c.isInstanceOf[TableChange.AddConstraint] ||
        c.isInstanceOf[TableChange.DropConstraint]))
      return alterConstraints(ident, changes)
    if (changes.forall(c => c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty]))
      return alterProperties(ident, changes)
    // RENAME/DROP COLUMN (r20): metadata-only commits through name-mode
    // column mapping — zero files rewritten, old versions time-travel with
    // their pinned schema, reads re-alias physical parquet names
    if (changes.forall(c => c.isInstanceOf[TableChange.RenameColumn] ||
        c.isInstanceOf[TableChange.DeleteColumn])) {
      val (vt, branch) = parse(ident)
      // pre-validate the WHOLE change list against the head schema before
      // publishing anything: each change below is its own commit, and a
      // failure mid-list (collision, constraint probe) must not leave
      // earlier renames already published — ALTER is atomic-or-nothing
      vt.validateColumnOps(SparkSession.active, branch, changes.map {
        case r: TableChange.RenameColumn =>
          require(r.fieldNames().length == 1,
            s"RENAME COLUMN supports top-level columns only, got nested " +
              r.fieldNames().mkString("."))
          Left((r.fieldNames().head, r.newName()))
        case d: TableChange.DeleteColumn =>
          require(d.fieldNames().length == 1,
            s"DROP COLUMN supports top-level columns only, got nested " +
              d.fieldNames().mkString("."))
          Right((d.fieldNames().head, d.ifExists(): Boolean))
        case other => throw new IllegalStateException(
          s"unreachable by the forall guard: ${other.getClass.getSimpleName}")
      }.toSeq)
      changes.foreach {
        case r: TableChange.RenameColumn =>
          require(r.fieldNames().length == 1,
            s"RENAME COLUMN supports top-level columns only, got nested " +
              r.fieldNames().mkString("."))
          vt.renameColumn(SparkSession.active, branch, r.fieldNames().head, r.newName(),
            s"ALTER TABLE $catalogName.`${ident.name()}` RENAME COLUMN " +
              s"${r.fieldNames().head} TO ${r.newName()}")
        case d: TableChange.DeleteColumn =>
          require(d.fieldNames().length == 1,
            s"DROP COLUMN supports top-level columns only, got nested " +
              d.fieldNames().mkString("."))
          try vt.dropColumn(SparkSession.active, branch, d.fieldNames().head,
            s"ALTER TABLE $catalogName.`${ident.name()}` DROP COLUMN " +
              d.fieldNames().head)
          catch {
            case e: IllegalArgumentException
                if d.ifExists() && e.getMessage.contains("no such column") => ()
          }
        case _ => () // exhaustive by the forall guard
      }
      return loadTable(ident)
    }
    val adds = changes.map {
      case a: TableChange.AddColumn => a
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER on a versioned table: ${other.getClass.getSimpleName} " +
          "(ADD COLUMNS, RENAME/DROP COLUMN, ADD/DROP CONSTRAINT and " +
          "SET/UNSET TBLPROPERTIES are the metadata-only commits; retyping " +
          "a column would change the bytes' meaning and is refused)")
    }
    val fields = adds.map { a =>
      require(a.fieldNames().length == 1,
        s"ADD COLUMNS supports top-level columns only, got nested " +
          a.fieldNames().mkString("."))
      require(a.isNullable,
        s"added column ${a.fieldNames().head} must be nullable: existing rows " +
          "read NULL for it")
      require(a.position() == null,
        "FIRST/AFTER positions are not supported: new columns append at the " +
          "end (parquet fills missing trailing columns positionally-safely by name)")
      require(a.comment() == null,
        "COMMENT is not stored by versioned tables — record notes in commit messages")
      require(a.defaultValue() == null,
        "DEFAULT values are not supported: pre-existing rows read NULL, and a " +
          "default would silently diverge from that")
      StructField(a.fieldNames().head, a.dataType(), nullable = true)
    }
    val (vt, branch) = parse(ident)
    val c = vt.addColumns(branch, fields,
      s"ALTER TABLE $catalogName.`${ident.name()}` ADD COLUMNS " +
        s"(${fields.map(_.name).mkString(", ")})")
    new VtTable(SparkSession.active, vt, branch, c, s"$catalogName.`${ident.name()}`")
  }

  /** `DROP TABLE vt.\`path\`` — also the cleanup half of a failed CTAS.
    * BRANCH-SCOPED identifiers (`dev@path`) drop ONLY that branch (the
    * table root and every other branch's data stay; a failed
    * branch-scoped CTAS thus cleans up exactly what it created). A plain
    * (main) identifier deletes the table tree, and ONLY when the path
    * verifiably IS a versioned table root ([[CommitGraph.isTableRoot]]:
    * never a repo root, never an unrelated tree that merely has a
    * `commits` folder). Anything else answers false and is left
    * untouched. */
  override def dropTable(ident: Identifier): Boolean = {
    val (branch, path) = parseAddress(ident)
    if (!CommitGraph.isTableRoot(java.nio.file.Paths.get(path))) false
    else if (branch != "main") {
      // drop the BRANCH, not the table: its exclusive files become
      // vacuumable orphans; a missing branch answers false. When the
      // branch is the table's ONLY one (a branch-scoped CTAS on a fresh
      // path created exactly that), dropping it IS dropping the table —
      // deleteBranch refuses to orphan a last branch, and the failed-CTAS
      // cleanup must still leave nothing behind.
      val vt = VersionedTable.open(path)
      if (vt.head(branch).isEmpty) false
      else if (vt.branches == Seq(branch)) { VersionedTable.delete(path); true }
      else { vt.deleteBranch(branch); true }
    } else { VersionedTable.delete(path); true }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "versioned tables are path-addressed; rename the path, not the catalog entry")
}

/** One version-pinned versioned table served through DSv2 (see
  * [[VtCatalog]]). The snapshot is resolved at load time, so every scan
  * of this Table object reads the same immutable commit — DSv2's
  * load-then-scan split gives snapshot isolation for free. */
final class VtTable(spark: SparkSession, vt: VersionedTable, branch: String,
                    commit: Commit, ident: String)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  private val tableSchema =
    DataType.fromJson(commit.schemaJson).asInstanceOf[StructType]

  override def name(): String = ident
  override def schema(): StructType = tableSchema

  /** The snapshot's durable table properties ([[graft.vt.Commit.props]]) —
    * what `SHOW TBLPROPERTIES vt.\`path\`` and DESCRIBE EXTENDED list.
    * Version-pinned like everything else on this Table object. */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    commit.props.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** Spark 4 constraint surface: the snapshot's CHECK constraints, reported
    * VALID + ENFORCED (validated over the existing rows when added; every
    * engine write path enforces them inside its write job). Spark's own
    * analyzer additionally wraps V2 writes against this table with the
    * predicates — belt and braces, both nameable errors. */
  override def constraints(): Array[Constraint] =
    VersionedTable.checkConstraints(commit).toSeq.sortBy(_._1).map {
      case (n, sql) => Constraint.check(n).predicateSql(sql)
        .enforced(true)
        .validationStatus(Constraint.ValidationStatus.VALID)
        .build(): Constraint
    }.toArray

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)

  /** DV-free snapshots: [[VtMetaScanBuilder]] — Spark's own parquet
    * ScanBuilder over the commit-pinned [[VtFileIndex]] (full DSv2
    * pushdown: catalyst data filters reach `listFiles` for stats pruning
    * AND the parquet reader for footer skipping; column pruning;
    * vectorized batches) PLUS metadata-only COUNT/MIN/MAX pushdown from
    * the commit log. DV snapshots: [[VtMorScanBuilder]] — a NATIVE batch
    * whose readers subtract deletion vectors by generated row index.
    * Column-mapped DV-free snapshots stay native (r20: the builder
    * translates the delegate into physical name space); DV+mapped
    * combines two translations, so that rarer shape serves the V1 scan
    * over the replay relation. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (commit.dvs.isEmpty)
      new VtMetaScanBuilder(spark, vt.root, commit, tableSchema, Some(vt), branch, options)
    else if (VersionedTable.hasColumnMapping(tableSchema))
      new ReplayV1ScanBuilder(tableSchema, s"$ident v${commit.version}",
        ReplayRelation.native(_, vt, commit))
    else new VtMorScanBuilder(spark, vt.root, commit, tableSchema, Some(vt), branch, options)

  /** SQL `DELETE FROM vt.\`path\` WHERE …`, on any session with the
    * catalog conf set — Spark's analyzer keeps `DeleteFromTable` intact for
    * a [[SupportsDelete]] table, the V2 strategy translates the condition
    * to source filters, and this table routes them onto the engine's
    * row-level delete as ONE new commit (old versions still time-travel).
    * `canDeleteWhere` is honest: a conjunct [[FilterSql]] cannot render
    * refuses the statement outright (Spark raises, nothing is deleted)
    * rather than deleting a superset or subset. The rewrite strategy
    * follows `spark.graft.vt.delete.mode`: `cow` (default) rewrites only
    * the files holding matching rows ([[VersionedTable.delete]]); `mor`
    * records deletion vectors and rewrites nothing
    * ([[VersionedTable.deleteWithVectors]]) — the point-delete shape for
    * petabyte tables. Both prune candidates through commit-log stats. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(FilterSql.render(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val where =
      if (filters.isEmpty) "true"
      else filters.flatMap(FilterSql.render).map(s => s"($s)").mkString(" AND ")
    val message = s"SQL DELETE FROM $ident WHERE $where"
    if (spark.conf.get("spark.graft.vt.delete.mode", "cow") == "mor")
      vt.deleteWithVectors(spark, where, branch, message)
    else vt.delete(spark, where, branch, message)
    ()
  }

  /** `INSERT INTO` = append commit; `INSERT OVERWRITE` = overwrite commit
    * (SupportsTruncate). One SQL statement, one commit — the same mapping
    * as `format("vt")`'s SaveModes. `writeStream.toTable` builds the same
    * Write's STREAMING face ([[VtStreamingWrite]]): Append mode = one
    * append commit per epoch, Complete mode (truncate) = one overwrite
    * commit per epoch — the epoch's tasks write the parquet themselves. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwriteFlag: Boolean): Unit = {
              val ow = overwrite || overwriteFlag
              vt.write(data, branch,
                s"SQL INSERT ${if (ow) "OVERWRITE" else "INTO"} $ident",
                mode = if (ow) "overwrite" else "append")
              ()
            }
          }
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
          // info.queryId() is the STREAMING QUERY's stable id (constant
          // across restarts from one checkpoint) — the txn appId
          new VtStreamingWrite(spark, vt, branch, info.schema(), ident,
            overwrite, info.queryId())
      }
    }
}

/** The staged table behind atomic CTAS/RTAS ([[VtCatalog.stageCreate]] &
  * co). Spark's atomic exec nodes drive it in two phases: the WRITE runs
  * first (the V1 bridge below lands the query's rows as UNREFERENCED data
  * files under the table root — the expensive part, visible to nobody),
  * then [[commitStagedChanges]] publishes them as ONE commit through the
  * commit log's slot CAS. [[abortStagedChanges]] deletes exactly what this
  * staging wrote: the staged files, plus the table root itself when this
  * staging created it AND it is still commit-free (a concurrent writer who
  * claimed v0 meanwhile owns the root — the raced CTAS must not delete
  * their table). */
private final class VtStagedTable(spark: SparkSession, vt: VersionedTable,
                                  branch: String, declared: StructType,
                                  ident: String, mustCreate: Boolean = false,
                                  mustReplace: Boolean = false,
                                  createdRoot: Boolean = false,
                                  userProps: Map[String, String] = Map.empty)
    extends StagedTable with SupportsWrite {

  // set by the write phase; a plain REPLACE TABLE (no AS SELECT) never
  // writes and commits the declared schema over zero files
  @volatile private var staged: Option[(Vector[String], StructType)] = None

  override def name(): String = ident
  override def schema(): StructType = declared
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // RTAS arrives as a truncate+write; the staged snapshot REPLACES the
      // branch contents by construction, so the flag needs no handling
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwriteFlag: Boolean): Unit = {
              staged = Some((vt.writeStagedFiles(data, branch), data.schema))
              ()
            }
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    val (files, schema) = staged.getOrElse((Vector.empty[String], declared))
    vt.commitStagedSnapshot(spark, branch, files, schema,
      s"SQL ${if (mustReplace) "REPLACE" else if (mustCreate) "CREATE" else "CREATE OR REPLACE"} TABLE $ident AS staged snapshot",
      mustCreate = mustCreate, mustReplace = mustReplace,
      extraProps = userProps)
    ()
  }

  override def abortStagedChanges(): Unit = {
    staged.foreach { case (files, _) =>
      files.foreach(f => graft.vt.LakeFiles.delete(vt.root.resolve(f)))
    }
    if (createdRoot && vt.branches.isEmpty)
      VersionedTable.delete(vt.root.toString)
  }
}

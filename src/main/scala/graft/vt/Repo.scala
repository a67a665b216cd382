package graft.vt

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** A multi-table repository with ATOMIC cross-table commits — the faithful
  * lakeFS model (reference `README.md:62-147`): a lakeFS commit snapshots the
  * WHOLE repo (every object path), not a single table. `VersionedTable` is
  * the per-table analog; `Repo` adds the repo-wide transaction: stage writes
  * to any number of tables, then one `commit` publishes them together — a
  * reader on the branch either sees all of the batch or none of it.
  *
  * Implementation: the same [[CommitGraph]] as a table — refs, lineage,
  * checkpointed time travel, version-slot publish, tags, protection and
  * vacuum retention are shared. A repo commit's `files` are namespaced
  * `data/<table>/…` paths in path-only manifests, and `schemaJson` holds a
  * JSON object of per-table schemas. What stays here is that multi-table
  * snapshot, staging, the table-granular merge rule and the reads.
  *
  * Scale posture matches VersionedTable: metadata is O(tables + files) JSON,
  * data files are immutable parquet read through the stock DataFrameReader.
  */
final class Repo private (val root: Path, val store: MetaStore) extends CommitGraph {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** branch → staged (table → (files, schemaJson)) accumulated until commit. */
  private val staged = scala.collection.mutable.Map
    .empty[String, scala.collection.mutable.LinkedHashMap[String, (Vector[String], String)]]

  protected def stagedFiles: Seq[String] = staged.values.flatMap(_.values.flatMap(_._1)).toSeq

  /** Data files live under `data/<table>/…` relative to the repo root. */
  private def tablePrefix(table: String): String = s"data/$table/"

  private def tableFiles(c: Commit, table: String): Vector[String] =
    c.files.filter(_.startsWith(tablePrefix(table)))

  private def tableSchemas(c: Commit): Map[String, String] = {
    val m = mapper.readValue(c.schemaJson, classOf[java.util.Map[String, String]])
    import scala.jdk.CollectionConverters._
    m.asScala.toMap
  }

  /** Write `df` under a fresh uuid'd prefix for (`table`, `branch`) and
    * return the repo-relative part-file paths — the one data-plane layout
    * (suffix filter, relativization, sort) both staging paths share. */
  private def writeTableFiles(df: DataFrame, branch: String, table: String): Vector[String] = {
    val version = head(branch).map(_.version + 1).getOrElse(0L)
    val rel = s"$table/$branch-v$version-${java.util.UUID.randomUUID.toString.take(8)}"
    val out = dataDir.resolve(rel)
    LakeFiles.write(df, out, root)
  }

  /** Stage a table write on `branch`; nothing is visible until [[commit]]. */
  def stageWrite(df: DataFrame, branch: String, table: String): Unit = synchronized {
    guardWritable(branch)
    require(!table.contains("/"), "table names must not contain '/'")
    val files = writeTableFiles(df, branch, table)
    staged.getOrElseUpdate(branch, scala.collection.mutable.LinkedHashMap.empty)
      .put(table, (files, df.schema.json))
  }

  /** Stage an APPEND to `table` on `branch`: the staged snapshot is the
    * table's current files (or the already-staged ones) PLUS `df`'s new
    * files — O(metadata), no rewrite, exactly [[VersionedTable.write]]'s
    * append mode at repo scope. Appends are what make same-table concurrent
    * edits mergeable: two branches appending to one table add DISJOINT
    * uuid'd object paths, which lakeFS merges object-wise (reference
    * README.md:141-147) — see [[merge]]'s union rule. The schema must match
    * the table's (name+type, nullability-insensitive). */
  def stageAppend(df: DataFrame, branch: String, table: String): Unit = synchronized {
    guardWritable(branch)
    require(!table.contains("/"), "table names must not contain '/'")
    val current: Option[(Vector[String], String)] =
      staged.get(branch).flatMap(_.get(table))
        .orElse(head(branch).flatMap { c =>
          tableSchemas(c).get(table).map(sj => (tableFiles(c, table), sj))
        })
    current match {
      case Some((_, sj)) =>
        val have = DataType.fromJson(sj).asInstanceOf[StructType]
        require(have.fields.map(f => (f.name, VersionedTable.nullNormalized(f.dataType))).toSeq ==
            df.schema.fields.map(f => (f.name, VersionedTable.nullNormalized(f.dataType))).toSeq,
          s"append schema mismatch on $table: table has ${have.simpleString} " +
            s"but the appended DataFrame has ${df.schema.simpleString}")
      case None => () // first write of the table: append degenerates to write
    }
    val newFiles = writeTableFiles(df, branch, table)
    staged.getOrElseUpdate(branch, scala.collection.mutable.LinkedHashMap.empty)
      .put(table, (current.map(_._1).getOrElse(Vector.empty) ++ newFiles,
        current.map(_._2).getOrElse(df.schema.json)))
  }

  /** One JSON object of per-table schemas, keys sorted. */
  private def schemasJson(schemas: Map[String, String]): String = {
    val m = new java.util.LinkedHashMap[String, String]()
    schemas.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
    mapper.writeValueAsString(m)
  }

  /** Publish a repo snapshot on `branch` over `parent`: path-only manifests
    * (the repo layer tracks no per-file stats; untouched tables' segments
    * carry by reference), then the shared publish tail. */
  private def publishSnapshot(branch: String, parent: Option[Commit], files: Vector[String],
                              schemaJson: String, message: String,
                              candidateRefs: Vector[String],
                              mergeParent: Option[String] = None): Commit = {
    val version = parent.map(_.version + 1).getOrElse(0L)
    val (mrefs, ordered) = buildManifests(branch, version, candidateRefs, files,
      f => ManifestEntry(f, None, None, Map.empty, Map.empty, Map.empty))
    publishCommit(branch, Commit(newCommitId(branch, version), parent.map(_.id), version,
      ordered, schemaJson, message, System.currentTimeMillis(),
      mergeParent = mergeParent, manifests = mrefs))
  }

  /** Publish every staged table of `branch` as ONE commit: concurrent
    * readers see the old snapshot or the full new one. */
  def commit(branch: String, message: String): Commit = synchronized {
    guardWritable(branch)
    val batch = staged.getOrElse(branch,
      throw new IllegalStateException(s"nothing staged on $branch"))
    require(batch.nonEmpty, s"nothing staged on $branch")
    val parent = head(branch)
    val untouched = parent.map(_.files.filterNot(f =>
      batch.keys.exists(t => f.startsWith(tablePrefix(t))))).getOrElse(Vector.empty)
    val schemas = parent.map(tableSchemas).getOrElse(Map.empty) ++
      batch.map { case (t, (_, sj)) => t -> sj }
    val c = publishSnapshot(branch, parent, untouched ++ batch.values.flatMap(_._1),
      schemasJson(schemas), message, parent.map(_.manifests).getOrElse(Vector.empty))
    staged.remove(branch)
    c
  }

  /** Discard staged writes and their data files (lakeFS reset). */
  def reset(branch: String): Unit = synchronized {
    staged.remove(branch).foreach(_.values.foreach(_._1.foreach(f =>
      LakeFiles.delete(root.resolve(f)))))
  }

  def readTable(spark: SparkSession, branch: String, table: String): DataFrame =
    readTableAt(spark, headOrThrow(branch), table)

  /** Repo-wide time travel: every table as of one repo version, resolved
    * through the checkpoint index like a table's. */
  def readTableAsOf(spark: SparkSession, branch: String, table: String,
                    version: Long): DataFrame =
    readTableAt(spark, resolveVersion(branch, version), table)

  /** Repo-wide time travel by COMMIT TIMESTAMP (Delta `timestampAsOf` /
    * lakeFS ref@timestamp at repo scope): the newest commit at or before
    * `tsMillis` on the branch's first-parent lineage, then one table out of
    * that snapshot. */
  def readTableAsOfTimestamp(spark: SparkSession, branch: String, table: String,
                             tsMillis: Long): DataFrame =
    readTableAt(spark, commitAtTimestamp(branch, tsMillis), table)

  /** Row-level CDC for ONE table between two REPO versions — lakectl diff's
    * row-granular cousin, file-granular like [[VersionedTable.changes]]:
    * files of the table common to both repo snapshots are immutable and
    * cancel from the bag diff by metadata alone, so only the table's
    * touched files are scanned (a commit that changed OTHER tables costs
    * zero I/O here — its files never enter either side). A table absent
    * from a snapshot contributes no rows (born/dropped tables diff cleanly
    * against empty).
    *
    * Schema evolution (r12 advice): each side is read under ITS OWN
    * snapshot's schema — reading old parquet under a newer schema would
    * throw or misread on a type change — then both are aligned to the union
    * column set: columns missing on a side are null-filled, and a column
    * whose type changed between the versions is cast to the NEWER type, so
    * the diff compares values in one domain. */
  def tableChanges(spark: SparkSession, branch: String, table: String,
                   fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val to = resolveVersion(branch, toVersion)
    val from = resolveVersion(branch, fromVersion)
    val fromFiles = tableFiles(from, table)
    val toFiles = tableFiles(to, table)
    require(tableSchemas(to).contains(table) || tableSchemas(from).contains(table),
      s"no table '$table' in either version")
    def sideSchema(c: Commit): Option[StructType] = tableSchemas(c).get(table)
      .map(DataType.fromJson(_).asInstanceOf[StructType])
    val fromSchema = sideSchema(from)
    val toSchema = sideSchema(to)
    // union columns, newer snapshot's type winning a shared name
    val unionFields = toSchema.map(_.fields).getOrElse(Array.empty) ++
      fromSchema.map(_.fields).getOrElse(Array.empty)
        .filterNot(f => toSchema.exists(_.fieldNames.contains(f.name)))
    def readSide(files: Vector[String], schema: Option[StructType]): DataFrame = {
      val own = schema.getOrElse(StructType(unionFields))
      readFiles(spark, files, own).select(unionFields.toIndexedSeq.map { f =>
        if (own.fieldNames.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }
    val before = readSide(fromFiles.filterNot(toFiles.toSet), fromSchema)
    val after = readSide(toFiles.filterNot(fromFiles.toSet), toSchema)
    after.exceptAll(before).withColumn("change_type", lit("insert"))
      .unionByName(before.exceptAll(after).withColumn("change_type", lit("delete")))
  }

  private def readFiles(spark: SparkSession, files: Vector[String], schema: StructType): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    else spark.read.schema(schema).parquet(files.map(f => root.resolve(f).toString): _*)

  private def readTableAt(spark: SparkSession, c: Commit, table: String): DataFrame =
    readFiles(spark, tableFiles(c, table), DataType.fromJson(tableSchemas(c).getOrElse(table,
      throw new IllegalArgumentException(s"no table '$table' in commit ${c.id}")))
      .asInstanceOf[StructType])

  def tables(branch: String): Seq[String] =
    head(branch).map(tableSchemas(_).keys.toSeq.sorted).getOrElse(Seq.empty)

  /** Tables whose snapshot (file list or schema) differs between `base` and
    * `c` — the change set the lakeFS conflict rule compares. */
  private def changedTables(base: Commit, c: Commit): Set[String] = {
    val bs = tableSchemas(base); val cs = tableSchemas(c)
    (bs.keySet ++ cs.keySet).filter { t =>
      bs.get(t) != cs.get(t) || tableFiles(base, t) != tableFiles(c, t)
    }
  }

  /** lakeFS merge: fast-forward across ALL tables at once; when both sides
    * moved but changed DISJOINT tables since the merge base, a 3-way merge
    * commit combines the changes (lakeFS merges branches whose object
    * changes don't collide — reference README.md:141-147).
    *
    * A table changed on BOTH sides merges iff both sides only APPENDED to it
    * (each side's file set is a superset of the base's, schema unchanged):
    * the merged snapshot is the deterministic union — base + both sides'
    * additions. This is exactly lakeFS's object-level rule, since appends
    * add disjoint uuid'd object paths that cannot collide; any other
    * same-table overlap (overwrite, compaction, schema change) conflicts
    * loudly. The merge commit records the source head as
    * [[Commit.mergeParent]], so later merges of the same pair measure
    * divergence from the ADVANCED base, not the original branch point. */
  def merge(from: String, into: String): Commit = synchronized {
    mergeHeads(from, into) { (base, src, dst) =>
      val srcChanged = changedTables(base, src)
      val overlap = srcChanged intersect changedTables(base, dst)
      // append-append union rule: both sides kept every base file and share
      // the schema -> their additions are disjoint uuid'd paths, union them
      val unionable = overlap.filter { t =>
        val bf = tableFiles(base, t).toSet
        bf.subsetOf(tableFiles(src, t).toSet) && bf.subsetOf(tableFiles(dst, t).toSet) &&
          tableSchemas(src).get(t) == tableSchemas(dst).get(t) &&
          tableSchemas(base).get(t) == tableSchemas(dst).get(t)
      }
      val conflicts = overlap -- unionable
      if (conflicts.nonEmpty) throw new IllegalStateException(
        s"merge conflict: tables ${conflicts.toSeq.sorted.mkString(", ")} changed on both " +
          s"$from and $into since the merge base (and not by pure appends)")
      // dst's snapshot, with src-only-changed tables' files+schema swapped in
      // and src's appended files unioned into the append-append tables
      val srcSwap = srcChanged -- unionable
      val files = dst.files.filterNot(f => srcSwap.exists(t => f.startsWith(tablePrefix(t)))) ++
        src.files.filter(f => srcSwap.exists(t => f.startsWith(tablePrefix(t)))) ++
        unionable.toSeq.flatMap(t => tableFiles(src, t)
          .filterNot(tableFiles(base, t).toSet).filterNot(tableFiles(dst, t).toSet))
      val schemas = tableSchemas(dst) ++ tableSchemas(src).view.filterKeys(srcSwap).toMap
      publishSnapshot(into, Some(dst), files.sorted, schemasJson(schemas),
        s"merge $from into $into", dst.manifests ++ src.manifests, mergeParent = Some(src.id))
    }
  }

  /** lakeFS revert: append a NEW repo-wide commit whose snapshot (every
    * table) equals `toVersion` — history is never rewritten. */
  def revert(branch: String, toVersion: Long, message: String = ""): Commit = synchronized {
    guardWritable(branch)
    val target = resolveVersion(branch, toVersion)
    val parent = headOrThrow(branch)
    publishSnapshot(branch, Some(parent), target.files, target.schemaJson,
      if (message.isEmpty) s"revert to v$toVersion" else message,
      target.manifests ++ parent.manifests)
  }

  /** Read one table exactly as the tagged repo state captured it — a repo
    * tag pins every table at one atomic cross-table commit. */
  def readTableAtTag(spark: SparkSession, tag: String, table: String): DataFrame =
    readTableAt(spark, tagCommit(tag), table)

  /** Commit history of a branch, newest first: (version, message, ts,
    * n_tables, n_files). */
  def history(spark: SparkSession, branch: String): DataFrame = {
    import spark.implicits._
    lineage(branch).map(c => (c.version, c.message, c.ts, tableSchemas(c).size, c.files.size))
      .toDF("version", "message", "ts", "n_tables", "n_files")
  }

  /** Repo-wide GC, same contract as VersionedTable.vacuum: delete data files
    * unreferenced by the newest `retainLast` commits of every branch (staged
    * but uncommitted batches and age-gated orphan-replay targets are always
    * retained), after sweeping crashed writers' stale slots. Returns #files
    * deleted. */
  def vacuum(retainLast: Int = 1,
             staleSlotMs: Long = VersionedTable.DefaultStaleSlotMs): Int =
    synchronized { vacuumLast(retainLast, staleSlotMs, dryRun = false) }

  /** Time-based repo GC, the Delta retention dial at repo scope: retain
    * commits younger than `retainHours` plus every branch head (the repo
    * must stay readable). `nowMs` is injectable for deterministic tests. */
  def vacuumRetainHours(retainHours: Double,
                        nowMs: Long = System.currentTimeMillis(),
                        staleSlotMs: Long = VersionedTable.DefaultStaleSlotMs): Int =
    synchronized { vacuumHours(retainHours, nowMs, staleSlotMs, dryRun = false) }
}

object Repo {
  /** `store` carries the control-plane metadata (default: local filesystem);
    * data files under `data/` always live on the Spark-visible filesystem. */
  def create(root: String, store: MetaStore = LocalFsMetaStore): Repo = {
    val p = Paths.get(root)
    CommitGraph.initRepo(p, store)
    new Repo(p, store)
  }

  /** Re-attach to an existing repo root — the read side of the repo marker
    * [[create]] writes: refuses a path that is not a repo (catching the
    * open-a-table-as-a-repo mixup before any metadata is misread). */
  def open(root: String, store: MetaStore = LocalFsMetaStore): Repo = {
    val p = Paths.get(root)
    require(CommitGraph.isRepoRoot(p, store), s"not a repo root: $root")
    new Repo(p, store)
  }
}

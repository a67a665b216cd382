package graft.vt

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** A multi-table repository with ATOMIC cross-table commits — the faithful
  * lakeFS model (reference `README.md:62-147`): a lakeFS commit snapshots the
  * WHOLE repo (every object path), not a single table. `VersionedTable` is
  * the per-table analog; `Repo` adds the repo-wide transaction: stage writes
  * to any number of tables, then one `commit` publishes them together — a
  * reader on the branch either sees all of the batch or none of it.
  *
  * Implementation: one commit log (reusing [[CommitLog]]'s record + atomic
  * rename publication); `files` entries are namespaced `tableName/…` paths and
  * `schemaJson` holds a JSON object of per-table schemas. Branch / merge /
  * diff / time-travel semantics carry over from the single-table layer
  * unchanged, because they only manipulate commit ids and file lists.
  *
  * Scale posture matches VersionedTable: metadata is O(tables + files) JSON,
  * data files are immutable parquet read through the stock DataFrameReader.
  */
final class Repo private (val root: Path, val store: MetaStore) {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def commitsDir = root.resolve("commits")
  private def refsDir = root.resolve("refs")
  private def dataDir = root.resolve("data")

  /** branch → staged (table → (files, schemaJson)) accumulated until commit. */
  private val staged = scala.collection.mutable.Map
    .empty[String, scala.collection.mutable.LinkedHashMap[String, (Vector[String], String)]]

  def head(branch: String): Option[Commit] = {
    val ref = refsDir.resolve(branch)
    if (store.exists(ref)) Some(loadCommit(store.read(ref).trim)) else None
  }

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

  /** Publish every staged table of `branch` as ONE commit (atomic rename of
    * the ref: concurrent readers see the old snapshot or the full new one). */
  def commit(branch: String, message: String): Commit = synchronized {
    guardWritable(branch)
    val batch = staged.getOrElse(branch,
      throw new IllegalStateException(s"nothing staged on $branch"))
    require(batch.nonEmpty, s"nothing staged on $branch")
    val parent = head(branch)
    val parentSchemas = parent.map(tableSchemas).getOrElse(Map.empty)
    val untouched = parent.map(_.files.filterNot(f =>
      batch.keys.exists(t => f.startsWith(tablePrefix(t))))).getOrElse(Vector.empty)
    val files = untouched ++ batch.values.flatMap(_._1)
    val schemas = parentSchemas ++ batch.map { case (t, (_, sj)) => t -> sj }
    val schemaJson = {
      val m = new java.util.LinkedHashMap[String, String]()
      schemas.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
      mapper.writeValueAsString(m)
    }
    val version = parent.map(_.version + 1).getOrElse(0L)
    // same cross-process CAS as VersionedTable.publish: no silent forks
    CommitLog.claimVersionSlot(root.resolve("locks"), branch, version, store = store)
    val id = s"$branch-v$version-${java.util.UUID.randomUUID.toString.take(8)}"
    val (mrefs, ordered) = buildManifests(branch, version,
      parent.map(_.manifests).getOrElse(Vector.empty), files.toVector)
    val c = Commit(id, parent.map(_.id), version, ordered, schemaJson,
      message, System.currentTimeMillis(), manifests = mrefs)
    store.put(commitsDir.resolve(id + ".json"), CommitLog.toJson(c))
    if (parent.isEmpty) branchIndex.add(branch) // before the ref (see branches)
    store.put(refsDir.resolve(branch), id)
    staged.remove(branch)
    c
  }

  /** Discard staged writes and their data files (lakeFS reset). */
  def reset(branch: String): Unit = synchronized {
    staged.remove(branch).foreach(_.values.foreach(_._1.foreach(f =>
      LakeFiles.delete(root.resolve(f)))))
  }

  def readTable(spark: SparkSession, branch: String, table: String): DataFrame = {
    val c = head(branch).getOrElse(
      throw new IllegalArgumentException(s"no such branch: $branch"))
    readTableAt(spark, c, table)
  }

  /** `(branch, version)` → commit via a bounded head-down walk: O(head −
    * version) metadata loads, never a full-lineage materialization. (Repo
    * histories are human-paced multi-table commits, orders of magnitude
    * shorter than a streaming table's — the table layer's checkpoint index
    * covers that case; here the bounded walk is the proportionate shape.) */
  private def commitAt(branch: String, version: Long): Commit = {
    val h = head(branch).getOrElse(
      throw new IllegalArgumentException(s"no such branch: $branch"))
    if (version > h.version || version < 0)
      throw new IllegalArgumentException(s"no version $version on $branch")
    @annotation.tailrec
    def walk(c: Commit): Commit =
      if (c.version == version) c
      else c.parent match {
        case Some(p) => walk(loadCommit(p))
        case None => throw new IllegalArgumentException(s"no version $version on $branch")
      }
    walk(h)
  }

  /** Repo-wide time travel: every table as of one repo version. */
  def readTableAsOf(spark: SparkSession, branch: String, table: String,
                    version: Long): DataFrame =
    readTableAt(spark, commitAt(branch, version), table)

  /** Repo-wide time travel by COMMIT TIMESTAMP (Delta `timestampAsOf` /
    * lakeFS ref@timestamp at repo scope): resolve the newest commit at or
    * before `tsMillis` on the branch's first-parent lineage, then read one
    * table out of that snapshot. First-parent timestamps are nondecreasing
    * (every commit stamps after its parent), so the head-down walk stops at
    * the FIRST qualifying commit — O(commits since `tsMillis`), not a full
    * lineage replay. */
  def readTableAsOfTimestamp(spark: SparkSession, branch: String, table: String,
                             tsMillis: Long): DataFrame = {
    def fail() = throw new IllegalArgumentException(
      s"no commit on $branch at or before timestamp $tsMillis (first commit is later)")
    @annotation.tailrec
    def walk(c: Commit): Commit =
      if (c.ts <= tsMillis) c
      else c.parent match {
        case Some(p) => walk(loadCommit(p))
        case None => fail()
      }
    readTableAt(spark, walk(head(branch).getOrElse(fail())), table)
  }

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
    // one bounded walk reaches both endpoints (to sits on from's path down)
    val to = commitAt(branch, toVersion)
    @annotation.tailrec
    def down(c: Commit): Commit =
      if (c.version == fromVersion) c
      else c.parent match {
        case Some(p) => down(loadCommit(p))
        case None => throw new IllegalArgumentException(s"no version $fromVersion on $branch")
      }
    val from = if (fromVersion <= toVersion) down(to) else commitAt(branch, fromVersion)
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
      val raw =
        if (files.isEmpty)
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), own)
        else spark.read.schema(own).parquet(files.map(f => root.resolve(f).toString): _*)
      raw.select(unionFields.toIndexedSeq.map { f =>
        if (own.fieldNames.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }
    val before = readSide(fromFiles.filterNot(toFiles.toSet), fromSchema)
    val after = readSide(toFiles.filterNot(fromFiles.toSet), toSchema)
    after.exceptAll(before).withColumn("change_type", lit("insert"))
      .unionByName(before.exceptAll(after).withColumn("change_type", lit("delete")))
  }

  private def readTableAt(spark: SparkSession, c: Commit, table: String): DataFrame = {
    val schema = DataType.fromJson(tableSchemas(c).getOrElse(table,
      throw new IllegalArgumentException(s"no table '$table' in commit ${c.id}")))
      .asInstanceOf[StructType]
    val files = tableFiles(c, table)
    if (files.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    else spark.read.schema(schema).parquet(files.map(f => root.resolve(f).toString): _*)
  }

  def tables(branch: String): Seq[String] =
    head(branch).map(tableSchemas(_).keys.toSeq.sorted).getOrElse(Seq.empty)

  /** lakeFS branch create: zero-copy head pointer. */
  def createBranch(name: String, from: String = "main"): Unit = synchronized {
    require(!store.exists(refsDir.resolve(name)), s"branch exists: $name")
    branchIndex.add(name)
    val h = head(from).getOrElse(throw new IllegalArgumentException(s"no such branch: $from"))
    store.put(refsDir.resolve(name), h.id)
  }

  private def loadCommit(id: String): Commit =
    resolveManifests(CommitLog.fromJson(store.read(commitsDir.resolve(id + ".json"))))

  // ---- commit-metadata manifests (r20, the [[VersionedTable]] contract at
  // repo scope): a repo commit's file list spans EVERY table — inlining it
  // makes a 1-table commit into a 1000-table repo an O(repo) record. The
  // record instead reuses the parent's immutable `.manifest` sidecars by
  // reference (untouched tables' segments carry as-is) plus ONE fresh
  // manifest for the changed files; [[Manifest.cached]] resolution keeps
  // everything downstream seeing materialized commits. Repo entries carry
  // only paths (the repo layer tracks no per-file stats).
  private def resolveManifests(c: Commit): Commit =
    if (c.manifests.isEmpty) c
    else c.copy(files =
      c.manifests.flatMap(m => Manifest.cached(root.resolve(m))).map(_.file))

  private def writeManifest(branch: String, version: Long,
                            files: Seq[String]): String = {
    Files.createDirectories(dataDir)
    val p = dataDir.resolve(
      s"$branch-v$version-mf-${java.util.UUID.randomUUID.toString.take(8)}.manifest")
    Manifest.write(p, files.map(f =>
      ManifestEntry(f, None, None, Map.empty, Map.empty, Map.empty)))
    root.relativize(p).toString
  }

  /** Factor `files` into manifest refs — [[Manifest.factor]] with
    * path-only entries (the repo layer tracks no per-file stats). */
  private def buildManifests(branch: String, version: Long,
                             candidateRefs: Vector[String],
                             files: Vector[String]): (Vector[String], Vector[String]) =
    Manifest.factor(
      load = mref => Manifest.cached(root.resolve(mref)),
      write = entries => writeManifest(branch, version, entries.map(_.file)),
      candidateRefs = candidateRefs,
      files = files,
      entryOf = f => ManifestEntry(f, None, None, Map.empty, Map.empty, Map.empty),
      maxRefs = VersionedTable.MaxManifests)

  /** DAG-aware ancestry (merge commits have two parents — see [[Ancestry]]). */
  private def isAncestor(maybeAncestor: String, of: Commit): Boolean =
    Ancestry.isAncestor(loadCommit, maybeAncestor, of)

  /** Lowest common ancestor (merge base) over the commit DAG. */
  private def mergeBase(a: Commit, b: Commit): Option[Commit] =
    Ancestry.mergeBase(loadCommit, a, b)

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
    val src = head(from).getOrElse(throw new IllegalArgumentException(s"no such branch: $from"))
    val dst = head(into).getOrElse(throw new IllegalArgumentException(s"no such branch: $into"))
    if (src.id == dst.id) src
    else if (isAncestor(dst.id, of = src)) {
      // Fast-forward, slot-serialized like any publish (see
      // VersionedTable.merge): claiming the next version slot before the ref
      // write means no concurrent cross-process commit or merge based on the
      // same head can silently overwrite this ref advance — the lakeFS
      // atomic-merge contract (reference README.md:145).
      CommitLog.claimVersionSlot(root.resolve("locks"), into, dst.version + 1,
        content = "ff:" + src.id, store = store)
      store.put(refsDir.resolve(into), src.id)
      src
    } else if (isAncestor(src.id, of = dst)) dst
    else {
      val base = mergeBase(src, dst).getOrElse(throw new IllegalStateException(
        s"merge conflict: $from and $into share no common ancestor"))
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
      val schemaJson = {
        val m = new java.util.LinkedHashMap[String, String]()
        schemas.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
        mapper.writeValueAsString(m)
      }
      val version = dst.version + 1
      CommitLog.claimVersionSlot(root.resolve("locks"), into, version, store = store)
      val id = s"$into-v$version-${java.util.UUID.randomUUID.toString.take(8)}"
      val (mrefs, ordered) = buildManifests(into, version,
        dst.manifests ++ src.manifests, files.sorted)
      val c = Commit(id, Some(dst.id), version, ordered, schemaJson,
        s"merge $from into $into", System.currentTimeMillis(),
        mergeParent = Some(src.id), manifests = mrefs)
      store.put(commitsDir.resolve(id + ".json"), CommitLog.toJson(c))
      store.put(refsDir.resolve(into), id)
      c
    }
  }

  /** lakeFS diff: repo-wide (path, change_type) between two branch heads. */
  def diffFiles(branch: String, other: String): Seq[(String, String)] = {
    val a = head(branch).map(_.files.toSet).getOrElse(Set.empty)
    val b = head(other).map(_.files.toSet).getOrElse(Set.empty)
    (a -- b).toSeq.sorted.map(_ -> "added") ++ (b -- a).toSeq.sorted.map(_ -> "removed")
  }

  /** Same eventual-consistency armor as [[VersionedTable.branches]]: a
    * single-key-read [[CasStringSet]] index unioned with the listing, so
    * [[vacuum]]'s retention enumeration sees a just-created branch even
    * while the ref lags out of an EC LIST. */
  private def branchIndex = new CasStringSet(store, root.resolve("refidx"), "branches")

  def branches: Seq[String] = {
    val listed = store.list(refsDir).map(_.getFileName.toString)
    val indexed = branchIndex.all.filter(b => store.exists(refsDir.resolve(b)))
    (listed ++ indexed).distinct.sorted
  }

  /** Head-first lineage walk of a branch (head, head.parent, …, root). */
  def lineage(branch: String): List[Commit] = {
    @annotation.tailrec
    def walk(c: Option[Commit], acc: List[Commit]): List[Commit] = c match {
      case None => acc.reverse
      case Some(cc) => walk(cc.parent.map(loadCommit), cc :: acc)
    }
    walk(head(branch), Nil)
  }

  /** lakeFS revert: append a NEW repo-wide commit whose snapshot (every
    * table) equals `toVersion` — history is never rewritten. */
  def revert(branch: String, toVersion: Long, message: String = ""): Commit = synchronized {
    guardWritable(branch)
    val target = lineage(branch).find(_.version == toVersion).getOrElse(
      throw new IllegalArgumentException(s"no version $toVersion on $branch"))
    val parent = head(branch).get
    val version = parent.version + 1
    CommitLog.claimVersionSlot(root.resolve("locks"), branch, version, store = store)
    val id = s"$branch-v$version-${java.util.UUID.randomUUID.toString.take(8)}"
    val (mrefs, ordered) = buildManifests(branch, version,
      target.manifests ++ parent.manifests, target.files)
    val c = Commit(id, Some(parent.id), version, ordered, target.schemaJson,
      if (message.isEmpty) s"revert to v$toVersion" else message,
      System.currentTimeMillis(), manifests = mrefs)
    store.put(commitsDir.resolve(id + ".json"), CommitLog.toJson(c))
    store.put(refsDir.resolve(branch), id)
    c
  }

  // ---- branch protection (lakeFS protection rules, native repo scope) -----

  private def protectedDir = root.resolve("protected")

  /** lakeFS branch-protection at its native scope: glob rules rejecting
    * direct staging/commits on matching repo branches — changes land only
    * via [[merge]]. Same persisted-rule mechanics as the table layer
    * ([[ProtectionRules]]); enforced by every handle on the root. */
  def protectBranch(pattern: String): Unit =
    synchronized { ProtectionRules.add(store, protectedDir, pattern) }

  def unprotectBranch(pattern: String): Boolean =
    synchronized { ProtectionRules.remove(store, protectedDir, pattern) }

  def protectionRules: Seq[String] = ProtectionRules.all(store, protectedDir)

  def isProtected(branch: String): Boolean =
    ProtectionRules.isProtected(store, protectedDir, branch)

  private def guardWritable(branch: String): Unit =
    ProtectionRules.guard(store, protectedDir, branch)

  // ---- tags (lakeFS tags are REPO-scoped: one name pins every table) ------

  private def tagsDir = root.resolve("tags")

  /** lakeFS `tag create` at its native scope: one immutable name pins the
    * ENTIRE repo state — every table, at one atomic cross-table commit. This
    * is the reproducibility primitive the reference's lakeFS deployment
    * exists for ("tag the exact multi-table state this model trained on").
    * Same contract as the table-level twin ([[VersionedTable.createTag]]):
    * put-if-absent creation (atomic under races), vacuum-protection until
    * deleted. */
  def createTag(name: String, branch: String = "main"): Commit = {
    val h = head(branch).getOrElse(
      throw new IllegalArgumentException(s"no such branch: $branch"))
    TagStore.create(store, tagsDir, name, h.id)
    h
  }

  def tags: Seq[(String, String)] = TagStore.all(store, tagsDir)

  def tagCommit(name: String): Commit =
    loadCommit(TagStore.commitIdOf(store, tagsDir, name))

  /** Read one table exactly as the tagged repo state captured it. */
  def readTableAtTag(spark: SparkSession, tag: String, table: String): DataFrame =
    readTableAt(spark, tagCommit(tag), table)

  def deleteTag(name: String): Boolean = TagStore.delete(store, tagsDir, name)

  /** Every table's files across all tagged repo states — joins each vacuum's
    * retained set. */
  private def taggedFiles: Set[String] =
    tags.flatMap { case (_, id) => loadCommit(id).allFiles }.toSet

  /** Manifests of every reachable commit stay retained — the record must
    * resolve for ancestry walks even past the data horizon (the same r20
    * review fix as [[VersionedTable]]'s). */
  private def reachableManifests: Set[String] =
    reachableIds.flatMap(id =>
      try CommitLog.fromJson(store.read(commitsDir.resolve(id + ".json"))).manifests
      catch { case scala.util.control.NonFatal(_) => Vector.empty })

  /** Commit history of a branch, newest first: (version, message, ts,
    * n_tables, n_files). */
  def history(spark: SparkSession, branch: String): DataFrame = {
    import spark.implicits._
    lineage(branch).map(c => (c.version, c.message, c.ts, tableSchemas(c).size, c.files.size))
      .toDF("version", "message", "ts", "n_tables", "n_files")
  }

  /** Full-DAG reachable closure of every branch head (merge commits have a
    * second parent — [[Ancestry.reachableIds]]). */
  private def reachableIds: Set[String] =
    Ancestry.reachableIds(loadCommit, branches.flatMap(head))

  /** Same crash recovery as the table layer ([[SlotSweep.sweepStaleSlots]]):
    * a repo writer killed mid-publish otherwise wedges its branch forever
    * (the claimed slot blocks every retry). Run by both vacuum dials. */
  private def sweepStaleSlots(nowMs: Long, staleSlotMs: Long): SlotSweep.SweepResult =
    SlotSweep.sweepStaleSlots(store, root, head, loadCommit, reachableIds,
      nowMs, staleSlotMs)

  /** Repo-wide GC, same contract as VersionedTable.vacuum: delete data files
    * unreferenced by the newest `retainLast` commits of every branch (staged
    * but uncommitted batches and age-gated orphan-replay targets are always
    * retained), after sweeping crashed writers' stale slots. Returns #files
    * deleted. */
  def vacuum(retainLast: Int = 1,
             staleSlotMs: Long = VersionedTable.DefaultStaleSlotMs): Int = synchronized {
    require(retainLast >= 1, "retainLast must be >= 1")
    sweepStaleSlots(System.currentTimeMillis(), staleSlotMs)
    val retained: Set[String] =
      (branches.flatMap(b => lineage(b).take(retainLast).flatMap(_.allFiles)) ++
        staged.values.flatMap(_.values.flatMap(_._1))).toSet ++
        SlotSweep.slotProtectedFiles(store, root, loadCommit, reachableIds) ++
        taggedFiles ++ reachableManifests
    LakeFiles.sweep(root, dataDir, retained)
  }

  /** Time-based repo GC, the Delta retention dial at repo scope: retain
    * commits younger than `retainHours` plus every branch head (the repo
    * must stay readable). `nowMs` is injectable for deterministic tests. */
  def vacuumRetainHours(retainHours: Double,
                        nowMs: Long = System.currentTimeMillis(),
                        staleSlotMs: Long = VersionedTable.DefaultStaleSlotMs): Int = synchronized {
    require(retainHours >= 0, "retainHours must be >= 0")
    val cutoff = nowMs - (retainHours * 3600 * 1000).toLong
    sweepStaleSlots(nowMs, staleSlotMs)
    val retained: Set[String] =
      (branches.flatMap(b => lineage(b).zipWithIndex.collect {
        case (c, i) if i == 0 || c.ts >= cutoff => c.allFiles // i==0 = the head
      }.flatten) ++ staged.values.flatMap(_.values.flatMap(_._1))).toSet ++
        SlotSweep.slotProtectedFiles(store, root, loadCommit, reachableIds) ++
        taggedFiles ++ reachableManifests
    LakeFiles.sweep(root, dataDir, retained)
  }
}

object Repo {
  /** `store` carries the control-plane metadata (default: local filesystem);
    * data files under `data/` always live on the Spark-visible filesystem. */
  def create(root: String, store: MetaStore = LocalFsMetaStore): Repo = {
    val p = Paths.get(root)
    store.ensurePrefix(p.resolve("commits"))
    store.ensurePrefix(p.resolve("refs"))
    Files.createDirectories(p.resolve("data"))
    store.put(p.resolve("_graft_repo"), "repo-v1")
    new Repo(p, store)
  }

  /** Re-attach to an existing repo root — the read side of the `_graft_repo`
    * marker [[create]] writes: refuses a path that is not a repo (catching
    * the open-a-table-as-a-repo mixup before any metadata is misread). */
  def open(root: String, store: MetaStore = LocalFsMetaStore): Repo = {
    val p = Paths.get(root)
    require(store.exists(p.resolve("_graft_repo")), s"not a repo root: $root")
    new Repo(p, store)
  }
}

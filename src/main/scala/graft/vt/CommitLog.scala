package graft.vt

import java.nio.file.Path
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** One immutable commit in a versioned table's history.
  *
  * Semantics model the reference's two versioning layers at once:
  *  - Delta-style numbered table versions with time travel / vacuum
  *    (reference `jobs/vdt4.py:39-85`);
  *  - lakeFS-style named branches with commit / merge / diff / revert
  *    (reference `README.md:62-147`).
  *
  * A commit is a snapshot: `files` is the COMPLETE list of data files (paths
  * relative to the table root) that make up the table at this version, so
  * readers never replay deltas — resolving a version is O(1) metadata reads
  * plus one vectorized parquet scan over exactly those files. At 100 TB the
  * metadata stays tiny (one small JSON per commit) while the data plane is
  * ordinary immutable parquet, preserving predicate pushdown, column pruning
  * and partition-parallel reads.
  *
  * @param id         globally unique commit id (`<branch>-v<version>-<rand>`)
  * @param parent     parent commit id (None for the root commit)
  * @param version    monotonically increasing along a lineage, 0-based
  * @param files      table-root-relative parquet paths forming the snapshot
  * @param schemaJson Spark `StructType.json` of the snapshot (schema evolution:
  *                   each version carries its own schema, as the reference's
  *                   overwrite-with-new-schema at `jobs/vdt4.py:39-77` requires)
  */
final case class Commit(
    id: String,
    parent: Option[String],
    version: Long,
    files: Vector[String],
    schemaJson: String,
    message: String,
    ts: Long,
    /** Optional per-file column statistics for data skipping:
      * file → column → (min, max). Populated when the writer is given
      * `statsCols`; absent entries mean "no stats, never skip this file". */
    stats: Map[String, Map[String, (Double, Double)]] = Map.empty,
    /** Second parent of a merge commit: the SOURCE branch head that was merged
      * in (git's second parent; lakeFS records the same). Without it the merge
      * base of a later merge of the same pair would never advance, and the
      * files the first merge imported would look "changed on both sides" —
      * a spurious conflict on the standard merge-repeatedly workflow. */
    mergeParent: Option[String] = None,
    /** Per-file min/max for STRING stats columns (lexicographic order) —
      * Delta keeps string stats too; a time/tenant-keyed lake skips on them.
      * Kept apart from the numeric `stats` so the JSON stays back-compatible
      * (absent = empty, like mergeParent). */
    strStats: Map[String, Map[String, (String, String)]] = Map.empty,
    /** DELETION VECTORS (Delta DV / Iceberg v3 position deletes): file →
      * its one descriptor ([[DeletionVectors.DvDescriptor]]) marking the
      * 0-based physical row index of every MERGE-ON-READ-deleted row, for
      * live files only. Resolved from the manifest entries
      * ([[ManifestEntry.dv]]) by [[CommitGraph.loadCommit]]; the snapshot's
      * live rows are `files` minus these positions, and its live row count
      * is Σ `rowCounts` − Σ cardinality, from metadata alone. */
    dvs: Map[String, DeletionVectors.DvDescriptor] = Map.empty,
    /** LEGACY table-level vector part-files of `(fk STRING, pos BIGINT)`
      * rows, which commits listed as `dvFiles` before vectors moved onto
      * manifest entries. Read only: [[CommitGraph.loadCommit]] converts
      * them into [[dvs]] in memory, and vacuum keeps them while such a
      * commit is retained. No writer emits them. */
    legacyDvFiles: Vector[String] = Vector.empty,
    /** Per-file physical row counts (Delta's `numRecords`). Filled by publish
      * from the parent's map plus one footer read per NEW file, so
      * `SELECT COUNT(*)`-class queries resolve from the log alone — at object-
      * store scale the alternative is one footer GET per file per query.
      * Absent = empty (back-compatible JSON; readers fall back to a scan). */
    rowCounts: Map[String, Long] = Map.empty,
    /** Per-file per-column NULL counts (Delta's `nullCount`, the fourth
      * stats quadrant next to min/max/numRecords): collected for the same
      * `statsCols` as min/max. Powers `IS NULL` pruning (skip files with 0
      * nulls) and — with [[rowCounts]] — `IS NOT NULL` pruning (skip all-null
      * files). Absent = empty = never skip (back-compatible JSON). */
    nullStats: Map[String, Map[String, Long]] = Map.empty,
    /** Per-file byte sizes (Delta records `add.size` for the same reason).
      * Filled by publish from the parent's map plus one local stat per NEW
      * file, so scan PLANNING (split sizing, [[graft.sources.VtFileIndex]])
      * never issues per-file filesystem stats — at object-store scale that
      * is one metadata read instead of a million stat RPCs. Absent = empty
      * (back-compatible JSON; planners fall back to getFileStatus). */
    fileSizes: Map[String, Long] = Map.empty,
    /** LEGACY (pre-r19) inline per-file bloom bitsets: file → column →
      * base64 bitset. r18 commits carried the bloom index here; r19 moved
      * it to SIDECAR files ([[bloomFiles]]) so the commit record stays
      * O(files) regardless of indexed columns. Still read (old tables keep
      * skipping), never written by new commits; COW rewrites carry a
      * parent's inline entries for untouched files until a compaction
      * retires them. */
    bloomStats: Map[String, Map[String, String]] = Map.empty,
    /** Bloom-INDEXED column set of this snapshot — the sticky table
      * property (Delta's bloom index config): later writes, compaction and
      * COW rewrites recompute blooms for their new files over this set
      * without re-specification. Explicit (not derived from the sidecars)
      * so stickiness never has to load an index file. */
    bloomCols: Seq[String] = Nil,
    /** Bloom index SIDECAR files (r19, [[BloomIndex]]): table-root-relative
      * `.bloom` paths, each holding (file, column, bitset) entries for the
      * files ONE write batch created. Point-lookup skipping loads them
      * lazily on the first probe; vacuum retains them via [[allFiles]] and
      * sweeps orphans. Entries for files later rewritten out of the
      * snapshot are dead-but-harmless (lookups key on live file names).
      * Absent = empty = never skip (back-compatible JSON). */
    bloomFiles: Vector[String] = Vector.empty,
    /** FALSE for commits that re-arrange bytes without changing the
      * table's visible rows — compaction, z-order, `OPTIMIZE … WHERE`,
      * `ALTER TABLE ADD COLUMNS` (Delta writes `dataChange=false` on its
      * OPTIMIZE add/remove actions for the same reason): streaming readers
      * skip these commits instead of erroring on their removed files, and
      * CDC consumers may fast-path them to "no row changes". Absent = true
      * (back-compatible JSON: every pre-flag commit conservatively counts
      * as a data change). */
    dataChange: Boolean = true,
    /** Idempotent-writer transaction mark (Delta's `txn` action:
      * appId + version): a streaming sink stamps each epoch commit with
      * its QUERY id and epoch, and a crash-replayed epoch is recognized by
      * `lastTxnVersion(appId) >= epoch` — per WRITER, so two different
      * streaming queries appending to one branch can never swallow each
      * other's epochs (the bare message-watermark they replace could).
      * Absent = no mark (back-compatible JSON). */
    txnAppId: Option[String] = None,
    txnVersion: Option[Long] = None,
    /** TABLE PROPERTIES (Delta's metadata `configuration`): durable
      * key→value pairs that ride the commit log — the home of CHECK
      * constraints (`constraint.check.<name>` → predicate SQL, the same
      * keying Delta uses for `delta.constraints.<name>`). Publish carries
      * the parent's map unless a metadata op overrides it; version-graph
      * ops that restore an old STATE (revert/restore) restore its props
      * too. Absent = empty (back-compatible JSON). */
    props: Map[String, String] = Map.empty,
    /** Commit-metadata MANIFEST files (r20, [[Manifest]]): table-root-
      * relative `.manifest` paths whose entries, minus the paths another
      * manifest of the list drops ([[Manifest.resolve]]), ARE this
      * snapshot's file list + per-file stats. When non-empty, the commit
      * JSON omits `files`/`stats`/`strStats`/`rowCounts`/`nullStats`/
      * `fileSizes` entirely — [[CommitGraph.loadCommit]] resolves the
      * references back into those fields, so everything downstream keeps
      * seeing a fully materialized Commit. A commit reuses the parent's
      * manifests by reference and adds at most ONE new manifest holding its
      * new or changed entries and a drop per removed file: the commit record
      * is O(changed files), not O(table), the Iceberg manifest-sharing
      * shape. Absent = empty = legacy inline commit (back-compatible JSON). */
    manifests: Vector[String] = Vector.empty) {
  /** All parents, first-parent first — the DAG edge set for ancestry walks. */
  def parents: List[String] = parent.toList ++ mergeParent.toList

  /** Every on-disk file this snapshot needs — data files, deletion-vector
    * `.bin` files (and legacy vector part-files), bloom index sidecars,
    * commit-metadata manifests. The unit of vacuum retention: dropping a
    * retained commit's DV would silently RESURRECT its deleted rows,
    * dropping its bloom sidecar would fail its point-lookup planning, and
    * dropping its manifest would lose the snapshot's file list itself. */
  def allFiles: Vector[String] =
    files ++ dvs.valuesIterator.flatMap(DeletionVectors.relativeFile) ++
      legacyDvFiles ++ bloomFiles ++ manifests
}

/** JSON codec + crash-safe metadata helpers for the commit log.
  *
  * All metadata writes go through a [[MetaStore]]: refs and commit JSON via
  * [[MetaStore.put]] (atomic full-object replace — readers never observe a
  * torn commit or ref, the same contract Delta's `_delta_log` writes and
  * lakeFS's ref store rely on), and version-slot claims via
  * [[MetaStore.putIfAbsent]] (the one conditional primitive — an object
  * store's conditional PUT). The default store is the local filesystem;
  * [[VersionedTable]]/[[Repo]] carry their own store instance.
  */
object CommitLog {
  private val mapper = new ObjectMapper()

  def toJson(c: Commit): String = {
    // manifest-backed commits (r20) store their file list + per-file stats
    // in the referenced .manifest files, never inline — that is the whole
    // point (O(changed files) commit records); loadCommit resolves them back
    val inline = c.manifests.isEmpty
    val m = new java.util.LinkedHashMap[String, Object]()
    m.put("id", c.id)
    m.put("parent", c.parent.orNull)
    m.put("version", java.lang.Long.valueOf(c.version))
    if (inline) m.put("files", c.files.asJava)
    m.put("schemaJson", c.schemaJson)
    m.put("message", c.message)
    m.put("ts", java.lang.Long.valueOf(c.ts))
    c.mergeParent.foreach(mp => m.put("mergeParent", mp)) // absent = not a merge
    if (inline && c.stats.nonEmpty) {
      val sm = new java.util.LinkedHashMap[String, Object]()
      c.stats.toSeq.sortBy(_._1).foreach { case (file, cols) =>
        val cm = new java.util.LinkedHashMap[String, Object]()
        cols.toSeq.sortBy(_._1).foreach { case (col, (mn, mx)) =>
          cm.put(col, java.util.List.of(
            java.lang.Double.valueOf(mn), java.lang.Double.valueOf(mx)))
        }
        sm.put(file, cm)
      }
      m.put("stats", sm)
    }
    if (inline && c.strStats.nonEmpty) {
      val sm = new java.util.LinkedHashMap[String, Object]()
      c.strStats.toSeq.sortBy(_._1).foreach { case (file, cols) =>
        val cm = new java.util.LinkedHashMap[String, Object]()
        cols.toSeq.sortBy(_._1).foreach { case (col, (mn, mx)) =>
          cm.put(col, java.util.List.of(mn, mx))
        }
        sm.put(file, cm)
      }
      m.put("strStats", sm)
    }
    // a loaded legacy record round-trips; publish never sets the field
    if (c.legacyDvFiles.nonEmpty) m.put("dvFiles", c.legacyDvFiles.asJava)
    if (inline && c.rowCounts.nonEmpty) {
      val rm = new java.util.LinkedHashMap[String, Object]()
      c.rowCounts.toSeq.sortBy(_._1).foreach { case (f, n) =>
        rm.put(f, java.lang.Long.valueOf(n))
      }
      m.put("rowCounts", rm)
    }
    if (inline && c.fileSizes.nonEmpty) {
      val fm = new java.util.LinkedHashMap[String, Object]()
      c.fileSizes.toSeq.sortBy(_._1).foreach { case (f, n) =>
        fm.put(f, java.lang.Long.valueOf(n))
      }
      m.put("fileSizes", fm)
    }
    if (inline && c.nullStats.nonEmpty) {
      val nm = new java.util.LinkedHashMap[String, Object]()
      c.nullStats.toSeq.sortBy(_._1).foreach { case (file, cols) =>
        val cm = new java.util.LinkedHashMap[String, Object]()
        cols.toSeq.sortBy(_._1).foreach { case (col, n) =>
          cm.put(col, java.lang.Long.valueOf(n))
        }
        nm.put(file, cm)
      }
      m.put("nullStats", nm)
    }
    if (c.bloomStats.nonEmpty) {
      val bm = new java.util.LinkedHashMap[String, Object]()
      c.bloomStats.toSeq.sortBy(_._1).foreach { case (file, cols) =>
        val cm = new java.util.LinkedHashMap[String, Object]()
        cols.toSeq.sortBy(_._1).foreach { case (col, b64) => cm.put(col, b64) }
        bm.put(file, cm)
      }
      m.put("bloomStats", bm)
    }
    if (c.bloomCols.nonEmpty) {
      val l = new java.util.ArrayList[String]()
      c.bloomCols.foreach(l.add)
      m.put("bloomCols", l)
    }
    if (c.bloomFiles.nonEmpty) {
      val l = new java.util.ArrayList[String]()
      c.bloomFiles.foreach(l.add)
      m.put("bloomFiles", l)
    }
    if (!c.dataChange) m.put("dataChange", java.lang.Boolean.FALSE)
    c.txnAppId.foreach(a => m.put("txnAppId", a))
    c.txnVersion.foreach(v => m.put("txnVersion", java.lang.Long.valueOf(v)))
    if (c.props.nonEmpty) {
      val pm = new java.util.LinkedHashMap[String, Object]()
      c.props.toSeq.sortBy(_._1).foreach { case (k, v) => pm.put(k, v) }
      m.put("props", pm)
    }
    if (c.manifests.nonEmpty) m.put("manifests", c.manifests.asJava)
    mapper.writeValueAsString(m)
  }

  def fromJson(s: String): Commit = {
    val m = mapper.readValue(s, classOf[java.util.Map[String, Object]])
    Commit(
      id = m.get("id").asInstanceOf[String],
      parent = Option(m.get("parent").asInstanceOf[String]),
      version = m.get("version").asInstanceOf[Number].longValue(),
      files = Option(m.get("files"))
        .map(_.asInstanceOf[java.util.List[String]].asScala.toVector)
        .getOrElse(Vector.empty), // manifest-backed commit: resolved at load
      schemaJson = m.get("schemaJson").asInstanceOf[String],
      message = m.get("message").asInstanceOf[String],
      ts = m.get("ts").asInstanceOf[Number].longValue(),
      mergeParent = Option(m.get("mergeParent").asInstanceOf[String]),
      stats = Option(m.get("stats")).map { raw =>
        raw.asInstanceOf[java.util.Map[String, java.util.Map[String, java.util.List[Number]]]]
          .asScala.map { case (file, cols) =>
            file -> cols.asScala.map { case (col, mm) =>
              col -> (mm.get(0).doubleValue(), mm.get(1).doubleValue())
            }.toMap
          }.toMap
      }.getOrElse(Map.empty),
      strStats = Option(m.get("strStats")).map { raw =>
        raw.asInstanceOf[java.util.Map[String, java.util.Map[String, java.util.List[String]]]]
          .asScala.map { case (file, cols) =>
            file -> cols.asScala.map { case (col, mm) =>
              col -> (mm.get(0), mm.get(1))
            }.toMap
          }.toMap
      }.getOrElse(Map.empty),
      legacyDvFiles = Option(m.get("dvFiles"))
        .map(_.asInstanceOf[java.util.List[String]].asScala.toVector)
        .getOrElse(Vector.empty),
      rowCounts = Option(m.get("rowCounts")).map { raw =>
        raw.asInstanceOf[java.util.Map[String, Number]].asScala
          .map { case (f, n) => f -> n.longValue() }.toMap
      }.getOrElse(Map.empty),
      nullStats = Option(m.get("nullStats")).map { raw =>
        raw.asInstanceOf[java.util.Map[String, java.util.Map[String, Number]]]
          .asScala.map { case (file, cols) =>
            file -> cols.asScala.map { case (col, n) => col -> n.longValue() }.toMap
          }.toMap
      }.getOrElse(Map.empty),
      fileSizes = Option(m.get("fileSizes")).map { raw =>
        raw.asInstanceOf[java.util.Map[String, Number]].asScala
          .map { case (f, n) => f -> n.longValue() }.toMap
      }.getOrElse(Map.empty),
      bloomStats = Option(m.get("bloomStats")).map { raw =>
        raw.asInstanceOf[java.util.Map[String, java.util.Map[String, String]]]
          .asScala.map { case (file, cols) =>
            file -> cols.asScala.toMap
          }.toMap
      }.getOrElse(Map.empty),
      bloomCols = Option(m.get("bloomCols"))
        .map(_.asInstanceOf[java.util.List[String]].asScala.toSeq)
        .getOrElse(Nil),
      bloomFiles = Option(m.get("bloomFiles"))
        .map(_.asInstanceOf[java.util.List[String]].asScala.toVector)
        .getOrElse(Vector.empty),
      dataChange = Option(m.get("dataChange"))
        .forall(_.asInstanceOf[java.lang.Boolean].booleanValue()),
      txnAppId = Option(m.get("txnAppId").asInstanceOf[String]),
      txnVersion = Option(m.get("txnVersion"))
        .map(_.asInstanceOf[Number].longValue()),
      props = Option(m.get("props")).map { raw =>
        raw.asInstanceOf[java.util.Map[String, String]].asScala.toMap
      }.getOrElse(Map.empty),
      manifests = Option(m.get("manifests"))
        .map(_.asInstanceOf[java.util.List[String]].asScala.toVector)
        .getOrElse(Vector.empty))
  }

  /** Cross-process optimistic concurrency (Delta's log-store contract,
    * realized by [[MetaStore.putIfAbsent]]): atomically claim the
    * (branch, version) slot — content included in the same indivisible
    * operation — before publishing the commit. Two writers that both based
    * themselves on the same parent race to claim the same slot; the loser
    * gets a [[java.util.ConcurrentModificationException]] instead of silently
    * orphaning the winner's lineage with a last-ref-write-wins. The caller
    * re-reads the head and retries (its version then differs → a new slot).
    *
    * Crash caveat (same shape as Delta's log stores): a writer that dies
    * between claiming and publishing leaves a stale slot that blocks that one
    * version number; [[SlotSweep]] reclaims it after the staleness window.
    *
    * Slot content is empty for ordinary commits. A FAST-FORWARD merge — which
    * advances the ref to an EXISTING commit and so never publishes one —
    * claims its slot with `content = "ff:<targetCommitId>"`: the content is
    * what lets vacuum's stale-slot sweep tell a completed FF's CAS record
    * (kept forever, like a published commit's slot) from a crashed claim
    * (reclaimed). Since the claim is a single content-complete CAS, there is
    * no window where an FF slot exists without its target recorded. */
  def claimVersionSlot(locksDir: Path, branch: String, version: Long,
                       content: String = "",
                       store: MetaStore = LocalFsMetaStore): Unit = {
    if (!store.putIfAbsent(locksDir.resolve(s"$branch-v$version"), content))
      throw new java.util.ConcurrentModificationException(
        s"concurrent write to $branch: version $version was already claimed by " +
          "another writer — re-read the branch head and retry the write")
  }
}

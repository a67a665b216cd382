package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.vt.{Commit, VersionedTable}

/** Commit-version offset of the catalog streaming read. JSON form
  * `{"version":N}`; `-1` means "nothing consumed yet" — the next batch
  * delivers the full snapshot AT its end version (then the stream tails).
  * `tail` marks a `startingVersion` stream's pre-consumption offset: no
  * snapshot, version `N+1` onward stream as per-commit appends (needed
  * because `startingVersion=0` also sits at version −1 but must emit v0's
  * files as an APPEND, not a snapshot). `snapPos ≥ 0` marks a PARTIAL
  * snapshot under `maxFilesPerTrigger`: the snapshot is pinned at
  * `version` and its first `snapPos` files (commit-log order) are
  * consumed — the 100 TB bootstrap arrives as bounded batches instead of
  * one monster; a plain `{version:N}` means the snapshot completed. */
private[sources] final case class VtStreamOffset(version: Long,
                                                 tail: Boolean = false,
                                                 snapPos: Long = -1L)
    extends Offset {
  override def json: String = {
    val extra = (if (tail) ""","tail":true""" else "") +
      (if (snapPos >= 0) s""","snapPos":$snapPos""" else "")
    s"""{"version":$version$extra}"""
  }
}

private[sources] object VtStreamOffset {
  def parse(json: String): VtStreamOffset = {
    val m = "\"version\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(json).getOrElse(
      throw new IllegalArgumentException(s"not a vt stream offset: $json"))
    val sp = "\"snapPos\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(json)
      .map(_.group(1).toLong).getOrElse(-1L)
    VtStreamOffset(m.group(1).toLong, tail = json.contains("\"tail\":true"),
      snapPos = sp)
  }
}

/** `spark.readStream.table("vt.\`path\`")` — a DSv2 [[MicroBatchStream]]
  * over the commit log, the streaming twin of Delta's table streaming
  * source (the DSv1 `vt-changes` source remains the ROW-LEVEL CDF feed;
  * this stream serves the table's DATA rows).
  *
  * Semantics (Delta's, deliberately):
  *  - **Snapshot-then-tail**: the first batch is the full snapshot at the
  *    stream-start head (offset −1 → head), every later batch the files
  *    APPENDED by the commits in `(start, end]`. With the
  *    `startingVersion` option the snapshot is skipped and versions
  *    `≥ startingVersion` stream as appends from the start.
  *  - **Append-only tailing**: a commit that removes files or grows the
  *    deletion-vector set changed existing rows — refused loudly with a
  *    pointer to the options, because silently dropping a delete turns an
  *    exactly-once pipeline into a wrong one. `ignoreDeletes` skips pure
  *    deletes (nothing re-emitted); `ignoreChanges` additionally tolerates
  *    rewrites by re-emitting the rewritten files (Delta's documented
  *    at-least-once caveat).
  *  - **Layout commits stream as silence**: compaction / z-order /
  *    `OPTIMIZE … WHERE` / `ADD COLUMNS` publish `dataChange=false`
  *    (Delta marks OPTIMIZE actions the same way), so table maintenance
  *    never breaks a running stream — the pre-flag history conservatively
  *    counts as data change.
  *  - **Pinned schema**: batches read with the stream-start schema.
  *    Additive evolution mid-stream is invisible (new columns surface on
  *    restart); a commit that DROPS or RETYPES a pinned column fails the
  *    batch with a restart instruction instead of null-filling.
  *
  * Scale shape: the driver touches O(versions) commit records per batch —
  * never rows; each batch plans through [[VtMorScan]] — the same per-file
  * splits, Spark's vectorized parquet readers behind
  * [[MorReaderFactory]] (columnar passthrough when the batch carries no
  * deletion vectors, per-task DV loading when it does — cherry-picked
  * commits can add files with transplanted DVs), `maxVersionsPerTrigger`
  * bounds tail catch-up after downtime, and `maxFilesPerTrigger` (Delta's
  * dial) CHUNKS the initial snapshot — at 100 TB the bootstrap arrives as
  * bounded per-file batches pinned to one version, not one monster batch.
  * Offsets are deterministic: a restart replays `(checkpointed start,
  * checkpointed end]` byte-identically — mid-snapshot included, since the
  * chunk is a position range over the pinned commit's file list —
  * (provided vacuum retention covers the stream's lag, the same contract
  * as the DSv1 feed). */
final class VtMicroBatchStream(spark: SparkSession, vt: VersionedTable,
                               branch: String, startCommit: Commit,
                               streamSchema: StructType,
                               options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl {

  private val ignoreDeletes = options.getBoolean("ignoreDeletes", false)
  private val ignoreChanges = options.getBoolean("ignoreChanges", false)
  private val startingVersion: Option[Long] =
    Option(options.get("startingVersion")).map {
      case "earliest" => 0L
      case "latest" => startCommit.version + 1
      case v => v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"startingVersion must be a version number, 'earliest' or 'latest', got '$v'"))
    }
  private val maxVersions: Option[Long] =
    Option(options.get("maxVersionsPerTrigger")).map { v =>
      val n = v.toLongOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"maxVersionsPerTrigger must be a positive number, got '$v'"))
      n
    }
  private val maxFiles: Option[Long] =
    Option(options.get("maxFilesPerTrigger")).map { v =>
      v.toLongOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"maxFilesPerTrigger must be a positive number, got '$v'"))
    }

  /** The snapshot's commit, memoized — chunked-snapshot planning asks for
    * it once per trigger. */
  private val snapCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Commit]()
  private def commitAt(v: Long): Commit =
    snapCache.computeIfAbsent(v, _ => vt.resolveRead(branch, versionAsOf = Some(v)))

  private val pinnedSchema =
    DataType.fromJson(startCommit.schemaJson).asInstanceOf[StructType]

  // column-mapped snapshots (r20 RENAME/DROP) store physical parquet names
  // the stream's pinned logical schema cannot address through the plain
  // ParquetScanBuilder below — refuse LOUDLY at start (a rename/drop landing
  // MID-stream is refused per-commit by schemaGuard's dropped-column branch)
  require(!VersionedTable.hasColumnMapping(pinnedSchema),
    s"streaming read of $branch: the snapshot has renamed/dropped " +
      "(column-mapped) columns; the streaming source serves unmapped " +
      "snapshots only — start from a version before the mapping, or consume " +
      "row-level changes via table_changes/format(\"vt-changes\")")

  override def initialOffset(): Offset =
    startingVersion.fold(VtStreamOffset(-1L))(sv =>
      VtStreamOffset(sv - 1, tail = true))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** End offset for the next batch. TAIL phase: the branch head, clamped
    * to `maxVersionsPerTrigger` versions past the consumed offset.
    * SNAPSHOT phase: always pinned at the head version (never
    * version-clamped) and chunked by `maxFilesPerTrigger` (Delta's dial) —
    * each trigger consumes the next ≤ maxFiles files of the pinned
    * commit's file list, so the 100 TB bootstrap becomes bounded batches.
    * The engine's ReadLimit is a rows/files vocabulary — both dials come
    * from options. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val so = start.asInstanceOf[VtStreamOffset]
    val head = vt.head(branch).map(_.version).getOrElse(
      throw new IllegalArgumentException(s"no such branch: $branch"))
    if (so.snapPos >= 0) {
      // mid-snapshot: finish it before any tailing; a restart without the
      // option (maxFiles empty) completes the snapshot in one batch
      val total = commitAt(so.version).files.size.toLong
      val next = maxFiles.fold(total)(mf => math.min(total, so.snapPos + mf))
      if (next >= total) VtStreamOffset(so.version)
      else VtStreamOffset(so.version, snapPos = next)
    } else if (so.version < 0 && !so.tail) {
      // fresh snapshot: ALWAYS pinned at the head — maxVersionsPerTrigger
      // is a TAIL catch-up dial and must not shrink the snapshot version
      // (a snapshot pinned below head would replay the gap as per-commit
      // tailing and hit refusals/duplicates a head snapshot never sees);
      // maxFilesPerTrigger chunks it by files instead
      maxFiles match {
        case Some(mf) if commitAt(head).files.size.toLong > mf =>
          VtStreamOffset(head, snapPos = mf)
        case _ => VtStreamOffset(head)
      }
    } else {
      val e = maxVersions.fold(math.max(so.version, head))(m =>
        math.max(so.version, math.min(head, so.version + m)))
      // nothing new: hand BACK the start offset (a fresh object differing
      // only in the tail flag would look like new data forever)
      if (e == so.version) so else VtStreamOffset(e)
    }
  }

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(start, limit) is the admission-control entry point")

  override def deserializeOffset(json: String): Offset = VtStreamOffset.parse(json)
  override def commit(end: Offset): Unit = () // offsets live in the checkpoint log
  override def stop(): Unit = ()

  /** Built by [[planInputPartitions]] for the SAME batch (the engine plans
    * partitions before wiring the factory into the RDD). */
  @volatile private var factory: PartitionReaderFactory = _

  override def createReaderFactory(): PartitionReaderFactory = {
    val f = factory
    require(f != null, "createReaderFactory before planInputPartitions")
    f
  }

  /** A pinned column present in `c`'s schema must keep its
    * (nullability-normalized) type — a RETYPE would read wrong bytes.
    * A pinned column MISSING from `c` is fine when `c` is not newer than
    * the stream-start head: it is pre-ADD-COLUMNS history whose files
    * correctly read NULL (a restart-recovered batch may replay commits
    * from before an additive evolution — refusing them would wedge the
    * stream on the exact restart its error message advises). Only a
    * commit NEWER than the stream start may not lose a pinned column:
    * that is a genuine DROP mid-stream. Additions are invisible until
    * restart either way. */
  private def schemaGuard(c: Commit): Unit = {
    if (c.schemaJson == startCommit.schemaJson) return
    val now = DataType.fromJson(c.schemaJson).asInstanceOf[StructType]
    val byName = now.fields.map(f =>
      f.name -> VersionedTable.nullNormalized(f.dataType)).toMap
    pinnedSchema.fields.foreach { f =>
      byName.get(f.name) match {
        case Some(dt) if dt == VersionedTable.nullNormalized(f.dataType) => ()
        case Some(_) => throw new IllegalStateException(
          s"schema of $branch changed at version ${c.version}: column ${f.name} " +
            "was retyped — restart the stream to adopt the new schema")
        case None if c.version <= startCommit.version => () // pre-evolution history: reads NULL
        case None => throw new IllegalStateException(
          s"schema of $branch changed at version ${c.version}: column ${f.name} " +
            "was dropped — restart the stream to adopt the new schema")
      }
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val so = start.asInstanceOf[VtStreamOffset]
    val eo = end.asInstanceOf[VtStreamOffset]
    val s = so.version
    val e = eo.version
    val snapshotting =
      (s < 0 && !so.tail) || so.snapPos >= 0 // fresh or mid-chunk snapshot
    // (commit that introduced them, files to emit) — the commit supplies
    // fileSizes and the descriptors of its added files (cherry-pick
    // transplants DVs onto files it adds)
    val emitted: Vector[(Commit, Vector[String])] =
      if (!snapshotting && e <= s) Vector.empty
      else if (snapshotting) {
        // snapshot slice [consumed, end position) of the pinned version's
        // commit-log file list — deterministic across replays
        val snap = commitAt(e)
        schemaGuard(snap)
        val from = math.max(so.snapPos, 0L).toInt
        val to = (if (eo.snapPos >= 0) eo.snapPos else snap.files.size.toLong).toInt
        Vector((snap, snap.files.slice(from, to)))
      } else {
        // commitRange is from-inclusive: element 0 is the consumed base —
        // except when tailing from BEFORE v0 (`startingVersion=0`), where
        // v0 itself is an emission (its whole file list is "added")
        val range = vt.commitRange(branch, math.max(s, 0L), e).toVector
        val pairs: Vector[(Option[Commit], Commit)] =
          (if (s < 0) Vector((Option.empty[Commit], range.head)) else Vector.empty) ++
            range.sliding(2).collect { case Vector(p, c) => (Some(p), c) }
        pairs.collect { case (pOpt, c) if c.dataChange =>
          schemaGuard(c)
          val pf = pOpt.map(_.files.toSet).getOrElse(Set.empty[String])
          val added = c.files.filterNot(pf)
          val removed = pOpt.map(_.files.filterNot(c.files.toSet)).getOrElse(Vector.empty)
          val dvGrew = pOpt.exists(p => VersionedTable.dvChanged(p, c).nonEmpty)
          if ((removed.nonEmpty || dvGrew) && !ignoreChanges &&
              !(ignoreDeletes && added.isEmpty)) throw new IllegalStateException(
            s"streaming read of $branch hit version ${c.version}, which changes " +
              "rows already streamed (delete/update/overwrite). This stream " +
              "serves appends: set ignoreDeletes=true to skip pure deletes, " +
              "ignoreChanges=true to re-emit rewritten files (at-least-once), " +
              "or consume row-level changes via format(\"vt-changes\")")
          (c, added)
        }
      }
    // the batch is a snapshot of its own — the emitted files, their sizes
    // and the descriptors of the commits that introduced them, without
    // stats — planned by the native MOR scan's partition planner and
    // reader factory: Spark's vectorized parquet readers, per-file splits,
    // deletion vectors (when any) subtracted per task
    val synth = startCommit.copy(files = emitted.flatMap(_._2),
      fileSizes = emitted.flatMap { case (c, fs) =>
        fs.map(f => f -> c.fileSizes.getOrElse(f,
          java.nio.file.Files.size(vt.root.resolve(f))))
      }.toMap,
      dvs = emitted.flatMap { case (c, fs) => fs.flatMap(f => c.dvs.get(f).map(f -> _)) }.toMap,
      stats = Map.empty, strStats = Map.empty, nullStats = Map.empty,
      bloomStats = Map.empty, bloomFiles = Vector.empty)
    val builder = new VtMorScanBuilder(spark, vt.root, synth, pinnedSchema, None)
    builder.pruneColumns(streamSchema)
    val batch = builder.build().toBatch
    factory = batch.createReaderFactory()
    batch.planInputPartitions()
  }
}

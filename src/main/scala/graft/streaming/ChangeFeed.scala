package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.vt.VersionedTable

/** Versioned-table CHANGE-FEED CONSUMER — the SOURCE direction of the
  * streaming story. [[EventsStreaming.ingestBatch]] covers the sink side
  * (stream → versioned table, idempotent per batchId); this is the mirror:
  * downstream jobs consume a versioned table incrementally, exactly the
  * contract of Delta's `spark.readStream.table(...)` with
  * `readChangeFeed` (the reference's Delta dependency exposes it as CDF,
  * `jobs/vdt4.py` reads full snapshots instead — this is the scale path it
  * lacks: at 100 TB a downstream job must read the per-commit DELTA, never
  * re-scan the snapshot).
  *
  * Mechanics: each (branch, consumer) pair owns a persisted CURSOR — the
  * highest table version fully processed — under
  * `cursors/<base64(branch)>/<consumer>/` in the table's metadata store.
  * The cursor is a SET OF VERSION MARKERS, not one mutable object: its value
  * is the max marker, [[commit]] adds a marker with put-if-absent and prunes
  * lower ones best-effort. That makes forward-only-ness STRUCTURAL across
  * processes — two crash-replayers racing `commit(5)` and `commit(3)` land
  * two markers and the cursor is 5 regardless of arrival order; a plain
  * read-check-put would let the stale 3 overwrite the 5. Branch scoping
  * matters the same way slot scoping does: a consumer name reused across
  * branches (or a deleted-and-recreated namesake branch, whose cursors
  * [[VersionedTable.deleteBranch]] drops) must never inherit another
  * lineage's offset and silently skip commits.
  *
  * [[poll]] returns the change feed over `(cursor, head]` — per-row
  * `change_type` + `version` columns from [[VersionedTable.changesFeed]] —
  * without advancing anything; [[commit]] advances the cursor AFTER the
  * caller has durably processed the batch. A crash between the two
  * redelivers the same interval (at-least-once); pairing with an idempotent
  * sink (e.g. `ingestBatch`, which keys on batchId) yields end-to-end
  * exactly-once — the same contract Structured Streaming's checkpoint +
  * idempotent-sink pairing gives `foreachBatch`.
  *
  * Why not a custom DataSource V2 `MicroBatchStream`? The feed's batches ARE
  * commit intervals, already exposed as DataFrames; wrapping them in DSv2
  * would re-implement parquet scan planning inside `PartitionReader` for no
  * new capability. The driver-loop-with-persisted-offsets shape below is how
  * Spark itself structures `Trigger.AvailableNow` drains.
  *
  * Scale: a poll reads only the interval's commit metadata (O(versions
  * polled), bounded by `maxVersions`) and plans a scan over just the
  * interval's added/changed files — never the snapshot. `maxVersions` chunks
  * a long catch-up into bounded batches, so a consumer resuming after a
  * month of commits holds plans and memory proportional to the chunk, not
  * the backlog.
  */
object ChangeFeed {

  /** One deliverable interval: the feed rows for `(fromVersion, toVersion]`.
    * `df` carries the table columns + `change_type` + `version`. */
  final case class Batch(df: DataFrame, fromVersion: Long, toVersion: Long)

  private def cursorDir(vt: VersionedTable, branch: String, consumer: String) = {
    require(consumer.nonEmpty && !consumer.contains('/') && !consumer.contains('\\'),
      s"bad consumer name: $consumer")
    vt.root.resolve("cursors").resolve(VersionedTable.b64(branch)).resolve(consumer)
  }

  private def headVersion(vt: VersionedTable, branch: String): Long =
    vt.head(branch).map(_.version).getOrElse(
      throw new IllegalArgumentException(s"no such branch: $branch"))

  /** The consumer's last committed version on `branch` (0 = nothing consumed
    * yet: version 0's content is the initial snapshot, delivered via a plain
    * versioned read, not the feed — Delta's `startingVersion` convention). */
  def cursor(vt: VersionedTable, consumer: String, branch: String = "main"): Long = {
    val markers = vt.store.list(cursorDir(vt, branch, consumer))
      .flatMap(p => p.getFileName.toString.toLongOption)
    if (markers.isEmpty) 0L else markers.max
  }

  /** Next unprocessed interval for `consumer`, or None when caught up. Does
    * NOT advance the cursor — call [[commit]] after the batch is durable.
    * `endCap` (internal) pins a drain's end offset. */
  def poll(spark: SparkSession, vt: VersionedTable, consumer: String,
           branch: String = "main", maxVersions: Int = Int.MaxValue): Option[Batch] =
    pollUpTo(spark, vt, consumer, branch, maxVersions, headVersion(vt, branch))

  private def pollUpTo(spark: SparkSession, vt: VersionedTable, consumer: String,
                       branch: String, maxVersions: Int, endCap: Long): Option[Batch] = {
    require(maxVersions >= 1, "maxVersions must be >= 1")
    val from = cursor(vt, consumer, branch)
    if (endCap <= from) None
    else {
      val to = math.min(endCap, from + maxVersions)
      Some(Batch(vt.changesFeed(spark, branch, from, to), from, to))
    }
  }

  /** Durably advance the cursor to `toVersion` (put-if-absent marker — see
    * class doc for why this is rewind-proof across processes, not just
    * guarded). Rejects loudly: a rewind attempt (stale replayer in THIS
    * process) and a commit past the branch head (caller bug that would
    * otherwise wedge the consumer unrecoverably, since cursors only move
    * forward). Idempotent for the same version. */
  def commit(vt: VersionedTable, consumer: String, toVersion: Long,
             branch: String = "main"): Unit = {
    val cur = cursor(vt, consumer, branch)
    require(toVersion >= cur,
      s"cursor for $consumer on $branch is already at $cur; cannot rewind to $toVersion")
    val headV = headVersion(vt, branch)
    require(toVersion <= headV,
      s"cannot commit cursor to v$toVersion: $branch head is v$headV")
    val dir = cursorDir(vt, branch, consumer)
    vt.store.ensurePrefix(dir)
    vt.store.putIfAbsent(dir.resolve(toVersion.toString), toVersion.toString)
    // prune superseded markers (best-effort; max stays correct under races)
    vt.store.list(dir)
      .filter(p => p.getFileName.toString.toLongOption.exists(_ < toVersion))
      .foreach(vt.store.delete)
  }

  /** APPEND-ONLY REPLICATION: ship a source table's new commits into a
    * target versioned table — the log-shipping composition of this module's
    * two primitives, END-TO-END EXACTLY-ONCE with no coordination:
    * [[processAvailable]] redelivers an interval after a crash
    * (at-least-once), and [[EventsStreaming.ingestBatch]] keyed on the
    * interval's `toVersion` skips a batch the target's own commit log
    * already records (idempotent sink) — the same checkpoint+transactional-
    * sink pairing Structured Streaming uses, realized on two commit logs.
    *
    * Append-only is a PRECONDITION, checked from commit METADATA (each
    * step's file list must contain its parent's — O(versions) reads, no
    * data): silently dropping a source delete would diverge the replica, so
    * a non-append interval fails loudly instead. Replicating general CDC
    * needs a keyed apply (upsert/delete by key) at the sink — a different
    * contract than log shipping.
    *
    * CRASH RECOVERY starts by reconciling the two logs: the sink's newest
    * ingest batchId IS the source `toVersion` of the last interval that
    * landed, so the source cursor is fast-forwarded to it before polling.
    * Without this, a crash between the sink commit and the cursor commit
    * followed by MORE source commits would re-poll a WIDER interval
    * (from, newHead] whose batchId (= newHead) passes the sink's dedup
    * check — appending the already-ingested prefix twice. The fast-forward
    * makes the replayed interval start exactly where the sink left off,
    * restoring exactly-once under a source that keeps advancing. The target
    * branch must be owned by this replication (its ingest batchIds are
    * source versions — mixing in another producer's batchIds would
    * fast-forward the cursor to a foreign offset). */
  def replicateAppends(spark: SparkSession, source: VersionedTable,
                       target: VersionedTable, consumer: String,
                       sourceBranch: String = "main", targetBranch: String = "main",
                       maxVersions: Int = Int.MaxValue): Int = {
    val cur = cursor(source, consumer, sourceBranch)
    EventsStreaming.lastIngestedBatchId(target, targetBranch).foreach { landed =>
      if (landed > cur && landed <= headVersion(source, sourceBranch))
        // a RIVAL replicator of the same consumer may have shipped further
        // and advanced the cursor between our read and this commit — that
        // makes our fast-forward a rewind, which commit() rejects loudly.
        // The rival's advance subsumes ours: swallow the race as a no-op
        // (the marker CAS keeps the cursor monotonic either way).
        try commit(source, consumer, landed, sourceBranch)
        catch { case _: IllegalArgumentException => () }
    }
    processAvailable(spark, source, consumer, sourceBranch, maxVersions) { b =>
      // metadata precondition: every step in (from, to] only adds files.
      // commitRange reads EXACTLY the interval's commits (checkpoint-jump +
      // bounded parent walk) — a head-down walk here would re-read O(head -
      // fromVersion) commit JSONs per chunk, turning a long chunked catch-up
      // quadratic in the backlog.
      source.commitRange(sourceBranch, b.fromVersion, b.toVersion)
        .sliding(2).foreach {
          case List(p, c) =>
            if (!graft.vt.VersionedTable.appendOnly(p, c))
              throw new IllegalStateException(
                s"replicateAppends: source version ${c.version} is not append-only " +
                  "(files removed or deletion vectors changed); replicate it with a " +
                  "keyed CDC apply instead of log shipping")
          case _ => ()
        }
      EventsStreaming.ingestBatch(target, targetBranch)(
        b.df.where(org.apache.spark.sql.functions.col("change_type") === "insert")
          .drop("change_type", "version"),
        b.toVersion)
    }
  }

  /** `Trigger.AvailableNow` drain: poll → process → commit until the head
    * OBSERVED AT ENTRY is consumed. The end offset is pinned first, so a
    * sustained concurrent writer cannot keep the drain alive forever —
    * commits landing after entry wait for the next drain (exactly
    * AvailableNow's termination contract). `f` must be idempotent for
    * exactly-once (it may see a batch twice after a crash). Returns the
    * number of batches processed. */
  def processAvailable(spark: SparkSession, vt: VersionedTable, consumer: String,
                       branch: String = "main", maxVersions: Int = Int.MaxValue)
                      (f: Batch => Unit): Int = {
    val endCap = headVersion(vt, branch)
    var n = 0
    var batch = pollUpTo(spark, vt, consumer, branch, maxVersions, endCap)
    while (batch.isDefined) {
      val b = batch.get
      f(b)
      commit(vt, consumer, b.toVersion, branch)
      n += 1
      batch = pollUpTo(spark, vt, consumer, branch, maxVersions, endCap)
    }
    n
  }

  /** Replicate a FOREIGN Delta table into a versioned table — the
    * migration on-ramp for a lakehouse user switching engines: point this
    * at any `_delta_log` directory ([[graft.vt.DeltaLogReader]] needs no
    * Delta jar) and the target follows it version-for-version, each Delta
    * commit landing as one append commit (so the target's history mirrors
    * the source's and every Delta version boundary is a time-travel point).
    *
    * Exactly-once WITHOUT touching the foreign table: the position is the
    * target's own idempotent-ingest watermark
    * ([[EventsStreaming.lastIngestedBatchId]], batchId = source version),
    * so nothing is ever written into the source directory, a crashed
    * replicator resumes from what the target durably holds, and duplicate
    * deliveries dedup at the sink — the same contract
    * [[replicateAppends]] gives native sources. Each source version ships
    * from its own change feed ([[graft.vt.DeltaLogReader.changes]]): adds
    * derived for plain appends, `cdc` files honored when present.
    * Metadata-only versions are stepped over. A version whose feed contains
    * a NON-insert change refuses loudly — deletes/updates need a keyed CDC
    * apply, not log shipping (same rule as the native replicator).
    * Per-version cost is O(that version's changes); the catch-up loop is
    * O(backlog), never O(history). */
  def replicateFromDelta(spark: SparkSession, deltaRoot: String,
                         target: VersionedTable, targetBranch: String = "main",
                         maxVersions: Int = Int.MaxValue): Int =
    tailFromDelta(spark, deltaRoot, target, targetBranch, Nil, maxVersions)

  /** STANDING CDF TAIL of a foreign Delta table — [[replicateFromDelta]]'s
    * general form, the daily lakehouse mirroring flow: call it on a
    * schedule (or in a loop) and each drain ships every source version that
    * landed since the last one, version-for-version, exactly-once. The end
    * offset is PINNED AT ENTRY (`latestVersion` when the drain starts), so
    * a sustained concurrent writer cannot keep one drain alive forever —
    * commits landing mid-drain wait for the next call, exactly
    * `Trigger.AvailableNow`'s termination contract ([[processAvailable]]'s
    * rule, composed here with the foreign log instead of a native one).
    *
    * With `keyCols` given, DELETE/UPDATE versions apply too: each such
    * version's feed splits into postimages (`insert` + `update_postimage` —
    * the rows that replace their key) and preimages (`delete` +
    * `update_preimage` — the keys to remove), landed as ONE
    * [[graft.vt.VersionedTable.applyCdc]] commit
    * ([[EventsStreaming.applyCdcBatch]], batchId = source version). One
    * commit per version keeps the target's history mirroring the source's
    * and makes crash redelivery dedup on the same watermark as appends.
    * Without `keyCols`, non-insert versions refuse loudly (log shipping
    * cannot express them — the original replicate contract).
    *
    * Exactly-once WITHOUT touching the foreign table: the position is the
    * target's own idempotent-ingest watermark
    * ([[EventsStreaming.lastIngestedBatchId]], batchId = source version),
    * so nothing is ever written into the source directory, a crashed
    * replicator resumes from what the target durably holds, and duplicate
    * deliveries dedup at the sink. Metadata-only versions are stepped over.
    * Per-version cost is O(that version's changes); the catch-up loop is
    * O(backlog), never O(history). */
  def tailFromDelta(spark: SparkSession, deltaRoot: String,
                    target: VersionedTable, targetBranch: String = "main",
                    keyCols: Seq[String] = Nil,
                    maxVersions: Int = Int.MaxValue): Int = {
    import org.apache.spark.sql.functions.col
    import graft.vt.DeltaLogReader
    val newest = DeltaLogReader.latestVersion(deltaRoot) // end offset, pinned
    val from = EventsStreaming.lastIngestedBatchId(target, targetBranch).getOrElse(-1L)
    if (from > newest)
      throw new IllegalStateException(
        s"tailFromDelta: the target's ingest watermark ($from) is past " +
          s"the Delta source's latest version ($newest) — the target branch " +
          "carries ingest commits from some other source (batchId namespaces " +
          "must not mix); replicate into a branch owned by this replication")
    if (newest == from) return 0
    // ONE feed over the whole backlog (changes() walks only the requested
    // range; its prefix state bootstraps from checkpoints, so pruned-history
    // sources replicate their retained range). Per-version slices prune to
    // that version's files via constant folding on the literal
    // _commit_version, so shipping N versions costs O(backlog) JSON reads
    // + one scan of each version's change files — never O(history).
    val feed = DeltaLogReader.changes(spark, deltaRoot, from + 1, newest)
    val Post = Set("insert", "update_postimage")
    val Pre = Set("delete", "update_preimage")
    var shipped = 0
    var v = from + 1
    while (v <= newest && shipped < maxVersions) {
      val slice = feed.where(col("_commit_version") === v)
      // one job answers the shape check and emptiness together
      val byType = slice.groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val unknown = byType.keySet -- Post -- Pre
      if (unknown.nonEmpty)
        throw new IllegalStateException(
          s"tailFromDelta: source version $v carries unrecognized change " +
            s"types ${unknown.mkString(", ")}")
      val rows = slice.drop("_commit_version", "_commit_timestamp")
      if (byType.keySet.forall(Post) && !byType.contains("update_postimage")) {
        if (byType.nonEmpty) {
          EventsStreaming.ingestBatch(target, targetBranch)(
            rows.drop("_change_type"), v)
          shipped += 1
        } // else: metadata-only version, stepped over
      } else {
        if (keyCols.isEmpty)
          throw new IllegalStateException(
            s"tailFromDelta: source version $v carries non-insert changes " +
              "(delete/update); pass keyCols for a keyed CDC apply — log " +
              "shipping cannot express them")
        EventsStreaming.applyCdcBatch(target, targetBranch, keyCols)(
          rows.where(col("_change_type").isInCollection(Post)).drop("_change_type"),
          rows.where(col("_change_type").isInCollection(Pre)).drop("_change_type"),
          v)
        shipped += 1
      }
      v += 1
    }
    shipped
  }
}

package graft.vt

import java.nio.file.Files

/** Crash recovery over the version-slot CAS of a [[CommitGraph]] — the one
  * claim-slot → write-commit → advance-ref protocol tables and repos share,
  * run by the graph's vacuum:
  *
  *  - an aged slot with NO published commit is a crashed claim — reclaimed
  *    so retries can land (unless it is a completed fast-forward merge's
  *    `ff:<target>` CAS record, which is kept forever like any published
  *    slot);
  *  - an aged slot whose published commit is UNREACHABLE is an interrupted
  *    publish — its ref advance is replayed (guarded: must extend the
  *    current head, must not resurrect a deleted branch, files must still
  *    exist);
  *  - [[slotProtectedFiles]] names the replay targets' data files so vacuum
  *    retention never deletes what a later replay would publish.
  *
  * All metadata access goes through the graph's [[MetaStore]]; only the
  * existence probe of a replay target's DATA files touches the filesystem
  * directly (the data plane stays outside the store by design).
  */
private[vt] object SlotSweep {

  /** Outcome of one sweep pass: slots reclaimed/repaired, and the ref
    * advances performed (or, in plan mode, the ones that WOULD be) as
    * branch → orphan commit id. */
  final case class SweepResult(reclaimed: Int, refRepairs: Map[String, String])

  /** See the bullet list above. `reachable` is the full-DAG closure of every
    * branch head. With `act = false` the pass is a pure READ: nothing is
    * deleted or written, but the result still reports the repairs a real
    * sweep would make — [[VersionedTable.vacuum]]'s dry run uses it to price
    * retention as if the sweep had run, so dry-run counts match the
    * subsequent real vacuum even in a crashed-writer state.
    *
    * Slots are processed in (branch, version) order, so CHAINED interrupted
    * publishes (orphan v1 and orphan v2 on the same branch) heal in ONE
    * pass — v2's replay sees v1's already-advanced head — and the pass is
    * deterministic regardless of listing order.
    *
    * The completed-fast-forward test needs per-branch ancestry; the closure
    * of each branch head is computed ONCE per sweep and memoized, so sweep
    * cost is O(#branches × history) + O(#slots), not O(#FF-slots × history).
    */
  def sweepStaleSlots(g: CommitGraph, reachable: Set[String],
                      nowMs: Long, staleSlotMs: Long,
                      act: Boolean = true): SweepResult = {
    import g.{commitsDir, head, loadCommit, locksDir, refsDir, root, store}
    val publishedIds =
      store.list(commitsDir).map(_.getFileName.toString.stripSuffix(".json")).sorted
    // Snapshot the slot listing ONCE: the v0Safe count below must be evaluated
    // against the pre-sweep state, otherwise it is order-dependent — an
    // unpublished leftover slot of the same deleted branch reclaimed EARLIER
    // in this pass would drop the count to 1 and let a single-published-commit
    // deleted branch be resurrected.
    val slotSnapshot = store.list(locksDir).map(_.getFileName.toString)
    // Ref advances performed (act) or planned (!act) THIS pass: later slots of
    // the same branch must see them — that is what lets chained orphans heal
    // in one sweep, and what makes the plan an exact rehearsal of the act.
    val advanced = scala.collection.mutable.Map.empty[String, String]
    def curHead(branch: String): Option[Commit] =
      advanced.get(branch).map(loadCommit).orElse(head(branch))
    // memoized per-branch ancestor closure (ADVICE r12: the per-slot
    // isAncestor walk made vacuum cost grow with #FF-merges × depth)
    val closures = scala.collection.mutable.Map.empty[String, Set[String]]
    def branchClosure(branch: String): Set[String] =
      closures.getOrElseUpdate(branch,
        curHead(branch).map(h => Ancestry.reachableIds(loadCommit, Seq(h)))
          .getOrElse(Set.empty))
    var reclaimed = 0
    store.list(locksDir)
      .filter(p => store.lastModified(p) < nowMs - staleSlotMs)
      .sortBy(p => p.getFileName.toString match {
        case CommitGraph.SlotRe(b, v) => (b, v.toLong)
        case other => (other, -1L)
      })
      .foreach { p =>
        val slot = p.getFileName.toString // "<branch>-v<version>"
        // EXACT id match (commit ids are "<slot>-<8 hex uuid chars>"): a prefix
        // test would let a branch literally named "<branch>-v<N>" shadow another
        // branch's stale slot and leave that branch wedged forever
        val idRe = (java.util.regex.Pattern.quote(slot) + "-[0-9a-f]{8}").r
        val owned = publishedIds.filter(id => idRe.pattern.matcher(id).matches())
        if (owned.isEmpty) {
          // No published commit owns this slot. Two cases:
          //  - a writer crashed between claimVersionSlot and the commit-json
          //    write — reclaim the slot so retries can land;
          //  - the slot is a COMPLETED fast-forward merge's CAS record (an FF
          //    advances the ref to an existing commit, publishing nothing):
          //    its content names the FF target, and the branch head
          //    descending from that target proves the ref advance landed.
          //    Keep it FOREVER, exactly like a published commit's slot —
          //    reclaiming it would let a writer stale by more than
          //    staleSlotMs claim this version and fork the merged history.
          //    (A crashed FF — target named but head not descended — is
          //    reclaimed; the merge caller simply retries.)
          val content = try store.read(p).trim catch { case _: Exception => "" }
          val ffDone = content.startsWith("ff:") && {
            val tid = content.drop(3)
            g.commitExists(tid) && (slot match {
              case CommitGraph.SlotRe(branch, _) => branchClosure(branch).contains(tid)
              case _ => false
            })
          }
          if (!ffDone) { if (act) store.delete(p); reclaimed += 1 }
        } else if (!owned.exists(reachable.contains)) {
          // crash between the commit-json write and the ref advance: the
          // commit exists but no ref reaches it, so every retry targets the
          // same version and hits the claimed slot. Finish the interrupted
          // publish: advance the branch ref to the orphan — guarded three ways.
          slot match {
            case CommitGraph.SlotRe(branch, _) =>
              val orphan = loadCommit(owned.head)
              // (1) the orphan must EXTEND the branch's current head —
              //     anything else means lineage moved some other way; leave it.
              // (2) deleted-branch resurrection guard: a parentless (v0)
              //     orphan with no current ref is only replayed when NOTHING
              //     else exists under the branch name — a crashed
              //     deleteBranch can leave a v0 slot behind, and None==None
              //     alone would recreate the deleted branch's ref.
              val extendsHead = curHead(branch).map(_.id) == orphan.parent
              val branchIdP = java.util.regex.Pattern.compile(
                java.util.regex.Pattern.quote(branch) + "-v\\d+-[0-9a-f]{8}")
              val branchSlotP = java.util.regex.Pattern.compile(
                java.util.regex.Pattern.quote(branch) + "-v\\d+")
              val v0Safe = orphan.parent.isDefined || (curHead(branch).isEmpty &&
                publishedIds.count(id => branchIdP.matcher(id).matches()) == 1 &&
                slotSnapshot.count(s => branchSlotP.matcher(s).matches()) == 1)
              if (extendsHead && v0Safe) {
                // (3) post-vacuum safety: every data file the orphan references
                //     must still exist — an earlier vacuum (run while this slot
                //     was age-gated but the commit already unreachable) may have
                //     swept them, and advancing the ref would publish a head
                //     that cannot be read. Such an orphan is garbage: reclaim
                //     the slot AND its commit json so retries can land.
                if (orphan.allFiles.forall(f => Files.exists(root.resolve(f)))) {
                  // This read-head-then-write-ref pair is fully serialized:
                  // in-JVM writers by `synchronized`, and cross-process
                  // writers by the slot CAS — EVERY ref-advancing path
                  // (publish, and since r12 fast-forward merge too) first
                  // claims the branch's next version slot, which is exactly
                  // the slot this orphan still holds, so no concurrent ref
                  // write can interleave here.
                  if (act) store.put(refsDir.resolve(branch), orphan.id)
                  advanced(branch) = orphan.id
                  closures.remove(branch) // head moved: recompute lazily
                  reclaimed += 1
                } else {
                  if (act) {
                    store.delete(commitsDir.resolve(orphan.id + ".json"))
                    store.delete(p)
                  }
                  reclaimed += 1
                }
              }
            case _ => ()
          }
        }
      }
    SweepResult(reclaimed, advanced.toMap)
  }

  /** Data files of published-but-UNREACHABLE commits whose version slot still
    * exists: these are [[sweepStaleSlots]]'s potential replay targets, so
    * vacuum must retain their files — otherwise the sequence (vacuum while the
    * slot is age-gated → later vacuum replays the ref) would publish a branch
    * head whose data was already deleted. Reachable commits are excluded, so
    * this never widens retention for ordinary history (every published commit
    * keeps its slot forever as the CAS record). */
  def slotProtectedFiles(g: CommitGraph, reachable: Set[String]): Set[String] = {
    import g.{commitsDir, loadCommit, locksDir, store}
    val slots = store.list(locksDir).map(_.getFileName.toString).toSet
    if (slots.isEmpty) return Set.empty
    store.list(commitsDir).map(_.getFileName.toString.stripSuffix(".json"))
      .filter { id => // id = "<branch>-v<n>-<hex8>"
        val cut = id.lastIndexOf('-')
        cut > 0 && !reachable.contains(id) && slots.contains(id.substring(0, cut))
      }
      .flatMap(id => loadCommit(id).allFiles).toSet
  }
}

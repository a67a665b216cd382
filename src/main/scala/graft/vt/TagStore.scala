package graft.vt

import java.nio.file.Path

/** Shared tag mechanics for [[VersionedTable]] (table scope) and [[Repo]]
  * (lakeFS-native repo scope): a tag is one immutable metadata object
  * `tags/<name>` whose content is the pinned commit id. Kept in one place so
  * the invariants — name validation (a slashed name would corrupt the flat
  * `tags/` listing and wedge every subsequent `tags()`/vacuum), put-if-absent
  * creation (two racing creates resolve atomically on any conforming
  * [[MetaStore]]), immutability — cannot drift between the two scopes.
  *
  * Enumeration goes through a single-key [[CasStringSet]] INDEX (in a
  * directory the caller names beside `tags/` — it cannot live under
  * `tags/`, where its generation keys would list as tags) unioned with the listing, for the same reason
  * branches do: tags are create-once keys, exactly the class an
  * eventually-consistent LIST hides while young — and a fresh release tag
  * is often the ONLY thing keeping its commit's files out of vacuum's sweep
  * (the branch index alone left this hole open on the tag side). The index
  * entry lands BEFORE the tag object, mirroring the branch ordering; an
  * indexed name whose object doesn't exist yet (mid-creation or a crashed
  * create) is filtered by a strong single-key exists probe. */
private[vt] object TagStore {

  private def index(store: MetaStore, indexDir: Path): CasStringSet =
    new CasStringSet(store, indexDir, "tags")

  /** Reject names that cannot serve as a single flat object key. */
  def validateName(name: String): Unit =
    require(name.nonEmpty && !name.contains('/') && !name.contains('\\'),
      s"bad tag name: $name")

  /** Atomically create `name` → `commitId`; throws if the tag exists. */
  def create(store: MetaStore, tagsDir: Path, indexDir: Path, name: String,
             commitId: String): Unit = {
    validateName(name)
    store.ensurePrefix(tagsDir)
    index(store, indexDir).add(name) // before the object: see enumeration note
    if (!store.putIfAbsent(tagsDir.resolve(name), commitId))
      throw new IllegalArgumentException(s"tag exists: $name (tags are immutable)")
  }

  /** (tag name, commit id) pairs, name-sorted — index ∪ listing, existence
    * re-probed per name (single-key reads are strongly consistent even
    * where LIST is not). */
  def all(store: MetaStore, tagsDir: Path, indexDir: Path): Seq[(String, String)] = {
    val listed = store.list(tagsDir).map(_.getFileName.toString)
    (listed ++ index(store, indexDir).all).distinct.sorted
      .filter(n => store.exists(tagsDir.resolve(n)))
      .flatMap { n =>
        // a tag deleted between the exists probe and this read must be
        // SKIPPED, not crash the enumeration (vacuum's retention pricing
        // calls this concurrently with admin tag deletes)
        try Some(n -> store.read(tagsDir.resolve(n)).trim)
        catch { case _: java.io.IOException | _: java.io.UncheckedIOException => None }
      }
  }

  def commitIdOf(store: MetaStore, tagsDir: Path, name: String): String = {
    val p = tagsDir.resolve(name)
    require(store.exists(p), s"no such tag: $name")
    store.read(p).trim
  }

  /** Deleting a missing tag is a no-op returning false. The index entry is
    * NOT removed: index entries are ADD-ONLY. Removing on delete looks
    * tidy but reopens the hole — delete(x) racing a fresh create(x) can
    * interleave as [A deletes object] [B's index.add no-ops, the stale
    * entry is still present] [B's putIfAbsent lands the new tag]
    * [A's index.remove strips it] — leaving a LIVE tag unindexed, i.e. the
    * EC-vacuum data loss again. Add-only keeps the invariant "an existing
    * tag always has an index entry" under every interleaving (the entry
    * lands before the object and nothing ever takes it away); dead names
    * cost bytes and one strongly-consistent exists probe each in [[all]],
    * and deletions are admin-rare. */
  def delete(store: MetaStore, tagsDir: Path, name: String): Boolean =
    store.delete(tagsDir.resolve(name))
}


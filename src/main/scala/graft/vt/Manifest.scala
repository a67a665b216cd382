package graft.vt

import java.nio.file.{Files, Path}

/** One data file's complete commit-log metadata — the per-file quintuple the
  * commit JSON used to inline (`files` + `fileSizes` + `rowCounts` + `stats`
  * + `strStats` + `nullStats`), factored into a value that can live in an
  * immutable shared MANIFEST file instead ([[Manifest]]).
  *
  * Structural equality is the manifest REUSE test: a parent manifest is
  * carried by reference into a child commit iff every entry it holds is
  * byte-for-byte the child's metadata for a still-live file — so the check
  * is `entry == childEntry`, and the codec below round-trips doubles as raw
  * bits to keep that equality exact.
  *
  * `dv` is the file's DELETION VECTOR (Delta's `add.deletionVector`, one
  * per data file as Iceberg v3 requires): the 0-based positions of its
  * merge-on-read deleted rows, inline (`i`, up to
  * [[DeletionVectors.InlineDvMax]] positions) or in a
  * `data/deletion_vector_<uuid>.bin` file (`u`), with its cardinality.
  * A statement that deletes more rows of a file publishes a drop plus a
  * fresh entry whose descriptor is the union — Delta's remove-plus-add of
  * the same path — so the vector leaves with the entry when the file is
  * rewritten. */
final case class ManifestEntry(
    file: String,
    size: Option[Long],
    rows: Option[Long],
    stats: Map[String, (Double, Double)],
    strStats: Map[String, (String, String)],
    nulls: Map[String, Long],
    dv: Option[DeletionVectors.DvDescriptor] = None)

/** What one manifest file holds: per-file entries, plus (format 2) DROPS —
  * paths of entries in OTHER manifests of the same commit that this
  * manifest retires. A drop is how a commit removes a file without
  * re-stating the survivors of the manifest that listed it (Delta's
  * `remove` action, Iceberg's `DELETED` entry status). */
final case class ManifestFile(entries: Vector[ManifestEntry], drops: Vector[String])

/** Commit-metadata MANIFEST codec (r20). Every commit JSON used to inline
  * the COMPLETE file list plus five per-file stats maps, copied from the
  * parent on every publish — at 10⁶ files a one-row append serializes a
  * multi-GB record, every `open()` parses it, and the log stores it once
  * PER COMMIT. Delta stores deltas + parquet checkpoints; Iceberg shares
  * immutable manifest files across snapshots. This engine does the Iceberg
  * shape: per-file metadata lives in write-once `.manifest` files under
  * `data/`, a commit records only the manifest PATHS ([[Commit.manifests]]),
  * and [[CommitGraph.loadCommit]] resolves the references back into the
  * in-memory [[Commit]] through a bounded process-wide cache.
  *
  * Every publish costs O(changed files): an append writes ONE new manifest
  * for its new files and reuses the parent's by reference; a commit that
  * removes or changes files keeps referencing the manifests that list them
  * and records each removal as a DROP in its one fresh manifest (a changed
  * entry is a drop plus a fresh entry). [[resolve]] applies the drops.
  * A manifest is re-stated — its live entries pooled into the fresh one —
  * only once at least half of what it holds is dead, so resolution reads
  * at most about twice the live entries.
  *
  * The r19 bloom sidecar ([[BloomIndex]]) proved the pattern; manifests are
  * the same contract for the file list itself. Like sidecars they are
  * data-plane artifacts: vacuum retains every reachable commit's manifests
  * and sweeps orphans.
  *
  * Format (write-once, driver-read): int32 magic "GMFT", int32 version,
  * int32 entry count, then per entry: path (len+UTF-8), size int64 (-1 =
  * unknown), rows int64 (-1 = unknown), numeric stats (int32 n, per col:
  * name, min/max as raw-bit doubles), string stats (int32 n, per col: name,
  * min/max as len+UTF-8 — NOT writeUTF, whose 64 KB modified-UTF-8 ceiling
  * a long string min/max would trip), null counts (int32 n, per col: name,
  * int64). Version 2 appends int32 drop count and the dropped paths
  * (len+UTF-8). Version 3, the only version written now, is the version 2
  * body (drop count always present) inside ONE zstd frame, with each
  * entry followed by its deletion vector: a tag byte (0 none, 1 inline,
  * 2 `u`, 3 `p`), then for inline the int64 cardinality and the raw
  * portable-roaring bytes (len+bytes — Z85 is only for exported Delta
  * JSON), else the path (len+UTF-8), int32 offset (-1 = none), int32 size
  * and int64 cardinality. Versions 1 and 2 stay readable. A reader
  * refuses any other version, so an engine that predates a format fails
  * loudly instead of resurrecting a dropped file or a deleted row. */
object Manifest {

  private val Magic = 0x474d4654 // "GMFT"
  private val UTF8 = java.nio.charset.StandardCharsets.UTF_8

  private def writeStr(out: java.io.DataOutputStream, s: String): Unit = {
    val b = s.getBytes(UTF8)
    out.writeInt(b.length); out.write(b)
  }

  private def readStr(in: java.io.DataInputStream): String = {
    val b = new Array[Byte](in.readInt())
    in.readFully(b)
    new String(b, UTF8)
  }

  def write(path: Path, entries: Seq[ManifestEntry], drops: Seq[String] = Nil): Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    val head = new java.io.DataOutputStream(bos)
    head.writeInt(Magic)
    head.writeInt(3)
    head.flush()
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      new com.github.luben.zstd.ZstdOutputStream(bos)))
    out.writeInt(entries.size)
    entries.foreach { e =>
      writeStr(out, e.file)
      out.writeLong(e.size.getOrElse(-1L))
      out.writeLong(e.rows.getOrElse(-1L))
      out.writeInt(e.stats.size)
      e.stats.toSeq.sortBy(_._1).foreach { case (col, (mn, mx)) =>
        writeStr(out, col)
        out.writeLong(java.lang.Double.doubleToRawLongBits(mn))
        out.writeLong(java.lang.Double.doubleToRawLongBits(mx))
      }
      out.writeInt(e.strStats.size)
      e.strStats.toSeq.sortBy(_._1).foreach { case (col, (mn, mx)) =>
        writeStr(out, col); writeStr(out, mn); writeStr(out, mx)
      }
      out.writeInt(e.nulls.size)
      e.nulls.toSeq.sortBy(_._1).foreach { case (col, n) =>
        writeStr(out, col); out.writeLong(n)
      }
      e.dv match {
        case None => out.writeByte(0)
        case Some(d) if d.storageType == "i" =>
          out.writeByte(1)
          out.writeLong(d.cardinality)
          val raw = DeletionVectors.z85Decode(d.pathOrInlineDv, d.sizeInBytes)
          out.writeInt(raw.length); out.write(raw)
        case Some(d) =>
          out.writeByte(if (d.storageType == "u") 2 else 3)
          writeStr(out, d.pathOrInlineDv)
          out.writeInt(d.offset.getOrElse(-1))
          out.writeInt(d.sizeInBytes)
          out.writeLong(d.cardinality)
      }
    }
    out.writeInt(drops.size)
    drops.foreach(writeStr(out, _))
    out.close()
    Files.write(path, bos.toByteArray)
  }

  def read(path: Path): ManifestFile = {
    val bytes = Files.readAllBytes(path)
    val head = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    require(head.readInt() == Magic, s"$path is not a graft commit manifest")
    val ver = head.readInt()
    require(ver >= 1 && ver <= 3, s"unsupported manifest version $ver in $path")
    val in =
      if (ver < 3) head
      else new java.io.DataInputStream(new java.io.BufferedInputStream(
        new com.github.luben.zstd.ZstdInputStream(
          new java.io.ByteArrayInputStream(bytes, 8, bytes.length - 8))))
    val n = in.readInt()
    val entries = Vector.fill(n) {
      val file = readStr(in)
      val size = in.readLong() match { case -1L => None; case s => Some(s) }
      val rows = in.readLong() match { case -1L => None; case r => Some(r) }
      val stats = Vector.fill(in.readInt()) {
        (readStr(in),
          (java.lang.Double.longBitsToDouble(in.readLong()),
            java.lang.Double.longBitsToDouble(in.readLong())))
      }.toMap
      val strStats = Vector.fill(in.readInt()) {
        (readStr(in), (readStr(in), readStr(in)))
      }.toMap
      val nulls = Vector.fill(in.readInt()) { (readStr(in), in.readLong()) }.toMap
      val dv = if (ver < 3) None else in.readByte() match {
        case 0 => None
        case 1 =>
          val card = in.readLong()
          val raw = new Array[Byte](in.readInt())
          in.readFully(raw)
          Some(DeletionVectors.inlineBytes(raw, card))
        case t =>
          Some(DeletionVectors.DvDescriptor(if (t == 2) "u" else "p", readStr(in),
            in.readInt() match { case -1 => None; case o => Some(o) },
            in.readInt(), in.readLong()))
      }
      ManifestEntry(file, size, rows, stats, strStats, nulls, dv)
    }
    ManifestFile(entries, if (ver >= 2) Vector.fill(in.readInt())(readStr(in)) else Vector.empty)
  }

  // Bounded process-wide cache keyed by absolute manifest path: manifests
  // are immutable once published and the same manifest is referenced by
  // every descendant commit, so lineage walks and repeated `open()`s share
  // one parsed copy.
  private val cache = new BoundedCache[String, ManifestFile](512)

  def cached(path: Path): ManifestFile =
    cache.get(path.toAbsolutePath.toString)(read(path))

  /** A commit's live entries from its manifests, in reference order: every
    * entry except those whose path ANOTHER manifest of the list drops. A
    * manifest's own drops never hide its own entries — that is how a
    * changed entry (drop plus fresh entry in one manifest) survives. */
  def resolve(manifests: Seq[ManifestFile]): Vector[ManifestEntry] = {
    val droppedBy = manifests.zipWithIndex
      .flatMap { case (m, i) => m.drops.map(_ -> i) }.groupMap(_._1)(_._2)
    manifests.zipWithIndex.flatMap { case (m, i) =>
      m.entries.filterNot(e => droppedBy.get(e.file).exists(_.exists(_ != i)))
    }.toVector
  }

  /** The ONE manifest-factoring algorithm, shared by the table layer
    * ([[VersionedTable]], full per-file stats entries) and the repo layer
    * ([[Repo]], path-only entries). It keeps referencing every candidate
    * manifest that is still mostly live, writes at most ONE fresh manifest
    * — the entries no kept manifest provides, plus a drop for every kept
    * manifest's entry that is no longer live — and compacts everything
    * into a single drop-free manifest when the reference list would exceed
    * `maxRefs` (so `open()` stays a bounded number of cached reads forever
    * — Iceberg's rewrite-manifests cadence).
    *
    * Drops are recomputed here from the target file set, never carried, so
    * publish, merge, revert and rebase need no logic of their own. A
    * candidate stays referenced iff
    *  - its live, unchanged entries plus the drops that still hide another
    *    kept manifest's dead entry are MORE than half of what it holds (the
    *    half-dead rule: past it, its live entries are re-stated), and
    *  - none of its drops names a live file it does not itself provide (a
    *    stale drop would hide a path a revert re-added, or its fresh
    *    entry).
    * A live file listed by two kept manifests is provided by the one that
    * also drops it (a changed entry), else by the first; a stale copy no
    * kept manifest drops is re-stated as a drop plus a fresh entry.
    *
    * Returns (manifest refs, files in RESOLUTION order) — the order
    * [[resolve]] reproduces, which publishers store in the in-memory commit
    * so a log round-trip is an identity. */
  def factor(load: String => ManifestFile,
             write: (Seq[ManifestEntry], Seq[String]) => String,
             candidateRefs: Vector[String], files: Vector[String],
             entryOf: String => ManifestEntry,
             maxRefs: Int): (Vector[String], Vector[String]) = {
    if (files.isEmpty) return (Vector.empty, files)
    val fileSet = files.toSet
    val current = scala.collection.mutable.HashMap.empty[String, ManifestEntry]
    def unchanged(e: ManifestEntry) =
      fileSet(e.file) && current.getOrElseUpdate(e.file, entryOf(e.file)) == e
    final case class Cand(ref: String, m: ManifestFile) {
      val drops: Set[String] = m.drops.toSet
    }
    var kept = candidateRefs.distinct.flatMap { ref =>
      try Some(Cand(ref, load(ref)))
      catch { case scala.util.control.NonFatal(_) => None }
    }
    // live files that must be re-stated: a kept manifest lists a stale copy
    // that no kept manifest drops, so no drop could hide it alone
    var restate = Set.empty[String]
    var provider = Map.empty[String, Int] // live file → index into `kept`
    var settled = false
    while (!settled) {
      val prov = scala.collection.mutable.HashMap.empty[String, Int]
      kept.zipWithIndex.foreach { case (c, i) =>
        c.m.entries.foreach { e =>
          if (!restate(e.file) && unchanged(e) &&
              prov.get(e.file).forall(p => c.drops(e.file) && !kept(p).drops(e.file)))
            prov(e.file) = i
        }
      }
      provider = prov.toMap
      def hidden(i: Int, f: String) = !provider.get(f).contains(i)
      // holders(f): kept manifests listing f without providing it
      val holders = kept.zipWithIndex.flatMap { case (c, i) =>
        c.m.entries.collect { case e if hidden(i, e.file) => e.file -> i }
      }.groupMap(_._1)(_._2)
      val next = kept.zipWithIndex.filter { case (c, i) =>
        val live = c.m.entries.count(e => !hidden(i, e.file))
        val useful = c.m.drops.count(d => holders.get(d).exists(_.exists(_ != i)))
        c.m.drops.forall(d => !fileSet(d) || provider.get(d).contains(i)) &&
          2 * (live + useful) > c.m.entries.size + c.m.drops.size
      }.map(_._1)
      if (next.size < kept.size) kept = next
      else {
        // settle the survivors: a live file some kept manifest lists stale,
        // whose provider does not drop it, is re-stated instead
        val stale = kept.zipWithIndex.flatMap { case (c, i) =>
          c.m.entries.collect {
            case e if fileSet(e.file) && hidden(i, e.file) &&
              provider.get(e.file).exists(p => !kept(p).drops(e.file)) => e.file
          }
        }
        restate ++= stale
        settled = stale.isEmpty
      }
    }
    val keptFiles = kept.zipWithIndex.flatMap { case (c, i) =>
      c.m.entries.collect { case e if provider.get(e.file).contains(i) => e.file }
    }
    val fresh = files.filterNot(keptFiles.toSet)
    // a kept manifest's entry nobody provides must be hidden: by another
    // kept manifest's drop, or else by a drop in the fresh manifest
    val owed = kept.zipWithIndex.flatMap { case (c, i) =>
      c.m.entries.collect { case e if !provider.get(e.file).contains(i) &&
        !kept.indices.exists(j => j != i && kept(j).drops(e.file)) => e.file }
    }.distinct
    val ordered = keptFiles ++ fresh
    // decide compaction from the WOULD-BE ref count before writing anything:
    // writing the fresh manifest first and then compacting would orphan it
    // immediately — a wasted O(changed files) sidecar per compaction
    val freshRef = fresh.nonEmpty || owed.nonEmpty
    if (kept.size + (if (freshRef) 1 else 0) <= maxRefs)
      (kept.map(_.ref) ++
        (if (freshRef) Vector(write(fresh.map(entryOf), owed)) else Vector.empty), ordered)
    else // compact: one drop-free manifest holding every live entry, in order
      (Vector(write(ordered.map(entryOf), Nil)), ordered)
  }
}

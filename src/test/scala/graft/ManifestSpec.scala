package graft

import java.nio.file.Files

import graft.vt.{Commit, CommitLog, Manifest, ManifestEntry, ManifestFile, Repo, VersionedTable}

/** r20 commit-metadata manifests: per-file metadata lives in immutable
  * shared `.manifest` files, commit records are O(changed files) for
  * appends, `open()` cost stays bounded via reuse + compaction, and the
  * whole versioning surface (time travel, COW, ANALYZE, vacuum, legacy
  * conversion) keeps working through the resolution layer. */
class ManifestSpec extends SparkSpec {
  import spark.implicits._

  private def rawJson(vt: VersionedTable, id: String): String =
    Files.readString(vt.root.resolve("commits").resolve(id + ".json"))

  /** `n` rows `(k, "s<k>")` from `lo`, in exactly `files` contiguous files. */
  private def band(lo: Long, n: Long, files: Int) =
    spark.range(lo, lo + n, 1, files).select($"id".as("k"),
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("s"), $"id".cast("string")).as("v"))

  private def mf(root: java.nio.file.Path, ref: String): ManifestFile =
    Manifest.read(root.resolve(ref))

  /** The manifests `c` references and none of its parents does: what its
    * publish wrote. */
  private def written(vt: VersionedTable, c: Commit): Vector[String] = {
    val inherited = (c.parent.toVector ++ c.mergeParent).flatMap(vt.loadCommit(_).manifests)
    c.manifests.filterNot(inherited.toSet)
  }

  /** file → manifest entry, from a materialized commit's per-file maps. */
  private def entries(c: Commit): Map[String, ManifestEntry] = c.files.map(f =>
    f -> ManifestEntry(f, c.fileSizes.get(f), c.rowCounts.get(f),
      c.stats.getOrElse(f, Map.empty), c.strStats.getOrElse(f, Map.empty),
      c.nullStats.getOrElse(f, Map.empty))).toMap

  /** The log resolves `c` exactly as publish built it: same files in the
    * same order, same per-file metadata. */
  private def assertResolves(vt: VersionedTable, c: Commit): Unit = {
    val r = vt.loadCommit(c.id)
    assert(r.files === c.files)
    assert(entries(r) === entries(c))
  }

  test("append commit records are O(new files), not O(table)") {
    val vt = VersionedTable.create(Tables.scratch("mf_append"))
    // v0: a 8-file base with stats on both a numeric and a string column
    val base = (1 to 400).map(i => (i.toLong, s"name$i")).toDF("k", "v")
      .repartition(8)
    vt.write(base, "main", "v0", statsCols = Seq("k", "v"))
    val sizes = (1 to 10).map { i =>
      val c = vt.write(Seq((1000L + i, s"x$i")).toDF("k", "v").coalesce(1),
        "main", s"a$i", mode = "append", statsCols = Seq("k", "v"))
      rawJson(vt, c.id).length
    }
    val head = vt.head("main").get
    // the record stores manifest references, never the inline file list
    assert(head.manifests.nonEmpty)
    assert(!rawJson(vt, head.id).contains("\"files\""),
      "manifest-backed commit must not inline its file list")
    assert(!rawJson(vt, head.id).contains("\"rowCounts\""),
      "manifest-backed commit must not inline per-file stats maps")
    // O(changed files): the 10th append's record is no bigger than ~the
    // 1st's plus one manifest reference (~100 bytes), though the table has
    // 9 more files by then
    assert(sizes.last <= sizes.head + 9 * 120,
      s"append record grew with table size: ${sizes.mkString(", ")}")
    // an append reuses the parent's manifests by reference + ONE new one
    val parent = vt.loadCommit(head.parent.get)
    assert(head.manifests.init === parent.manifests,
      "append must reuse the parent's manifests by reference")
    assert((head.manifests.toSet -- parent.manifests.toSet).size === 1)
    // resolution round-trips everything: files, counts, stats
    val reloaded = vt.loadCommit(head.id)
    assert(reloaded.files.sorted === head.files.sorted)
    assert(reloaded.rowCounts === head.rowCounts && reloaded.rowCounts.size === 18)
    assert(reloaded.stats === head.stats)
    assert(reloaded.strStats === head.strStats)
    assert(reloaded.fileSizes === head.fileSizes)
    // and the data plane agrees
    assert(vt.read(spark, "main").count() === 410)
    assert(vt.countRows(spark) === 410, "metadata COUNT through manifests")
  }

  test("stats skipping, time travel and COW rewrites work through manifests") {
    val vt = VersionedTable.create(Tables.scratch("mf_cow"))
    def part(lo: Int) = (lo until lo + 50).map(i => (i.toLong, s"v$i"))
      .toDF("k", "v").coalesce(1)
    vt.write(part(0), "main", "v0", statsCols = Seq("k"))
    vt.write(part(100), "main", "v1", mode = "append", statsCols = Seq("k"))
    vt.write(part(200), "main", "v2", mode = "append", statsCols = Seq("k"))
    // stats pruning resolves through manifest entries
    val pruned = vt.readWhere(spark, "main", "k", 110.0, 120.0)
    assert(pruned.inputFiles.length === 1, "manifest stats must still prune")
    assert(pruned.count() === 11)
    // COW delete: a fully dead manifest falls out of the list; untouched
    // manifests stay referenced
    val before = vt.head("main").get.manifests.toSet
    vt.delete(spark, "k >= 200") // kills exactly the v2 file
    val after = vt.head("main").get
    assert(vt.read(spark, "main").count() === 100)
    // the untouched v0/v1 manifests stay referenced; the fully-dead v2
    // manifest falls out of the list
    assert(after.manifests.toSet.intersect(before).size === 2,
      s"COW must reuse untouched manifests: ${after.manifests} vs $before")
    // partial rewrite: delete a slice of one file → survivors + rewritten
    vt.delete(spark, "k >= 140")
    assert(vt.read(spark, "main").count() === 90)
    assert(vt.read(spark, "main").agg(org.apache.spark.sql.functions.max($"k"))
      .head.getLong(0) === 139L)
    // time travel: every historical version resolves its own manifests
    assert(vt.readVersion(spark, "main", 0).count() === 50)
    assert(vt.readVersion(spark, "main", 2).count() === 150)
    assert(vt.readVersion(spark, "main", 3).count() === 100)
  }

  test("ANALYZE backfill migrates changed entries out of reused manifests") {
    val vt = VersionedTable.create(Tables.scratch("mf_analyze"))
    def part(lo: Int) = (lo until lo + 40).map(i => (i.toLong, s"n$i"))
      .toDF("k", "v").coalesce(1)
    vt.write(part(0), "main", "v0") // no stats at ingest
    vt.write(part(100), "main", "v1", mode = "append")
    assert(vt.head("main").get.stats.isEmpty)
    vt.computeStats(spark, Seq("k"))
    val head = vt.head("main").get
    assert(head.stats.size === 2, "backfilled stats for both files")
    // entries changed → they migrated into a fresh manifest; resolution is
    // still exact and pruning works
    assert(vt.loadCommit(head.id).stats === head.stats)
    assert(vt.readWhere(spark, "main", "k", 0.0, 10.0).inputFiles.length === 1)
  }

  test("manifest list compacts past MaxManifests; open() stays bounded") {
    val vt = VersionedTable.create(Tables.scratch("mf_compact"))
    val n = VersionedTable.MaxManifests + 3 // 35 commits
    (0 until n).foreach { i =>
      vt.write(Seq((i.toLong, s"r$i")).toDF("k", "v").coalesce(1), "main",
        s"c$i", mode = if (i == 0) "overwrite" else "append")
    }
    val head = vt.head("main").get
    assert(head.manifests.size <= VersionedTable.MaxManifests,
      s"manifest list must stay bounded, got ${head.manifests.size}")
    // compaction happened exactly once by now: v(Max) collapsed to 1 ref,
    // the trailing appends added one each
    assert(head.manifests.size === 1 + (n - 1 - VersionedTable.MaxManifests))
    assert(head.files.size === n)
    assert(vt.read(spark, "main").count() === n.toLong)
    assert(vt.countRows(spark) === n.toLong)
  }

  test("vacuum keeps REACHABLE commits' manifests (ancestry stays walkable), sweeps unreachable ones") {
    val vt = VersionedTable.create(Tables.scratch("mf_vacuum"))
    def part(lo: Int) = (lo until lo + 20).map(i => (i.toLong, i)).toDF("k", "v")
      .coalesce(1)
    vt.write(part(0), "main", "v0")
    vt.write(part(100), "main", "v1") // overwrite: v0's DATA falls off retention
    val v0 = vt.lineage("main").last
    assert(v0.manifests.nonEmpty && vt.head("main").get.manifests.nonEmpty)
    val v0Manifest = vt.root.resolve(v0.manifests.head)
    // a branch whose deletion makes its commit UNREACHABLE
    vt.createBranch("dead", "main")
    vt.write(part(500), "dead", "dead-v")
    val deadManifest = vt.root.resolve(vt.head("dead").get.manifests.head)
    vt.deleteBranch("dead")
    vt.vacuum(retainLast = 1)
    // v0 stays REACHABLE (head's parent): its data files sweep but its
    // manifest survives, so ancestry walks keep resolving in a fresh
    // process (the review-found hazard) — the dead branch's manifest goes
    assert(Files.exists(v0Manifest),
      "a reachable commit's manifest must survive vacuum — the record " +
        "must stay resolvable for ancestry walks")
    assert(!Files.exists(deadManifest), "unreachable manifests must sweep")
    assert(vt.loadCommit(v0.id).files === v0.files,
      "the vacuumed-data ancestor still RESOLVES (its data is gone, its " +
        "record is not)")
    vt.head("main").get.manifests
      .foreach(m => assert(Files.exists(vt.root.resolve(m)),
        "retained manifest must survive vacuum"))
    assert(vt.read(spark, "main").count() === 20)
    // and a post-vacuum vacuum (fresh ancestry walk) still works
    assert(vt.vacuum(retainLast = 1) === 0)
  }

  test("legacy inline commits convert on the next publish and stay readable") {
    val vt = VersionedTable.create(Tables.scratch("mf_legacy"))
    vt.write((1 to 30).map(i => (i.toLong, s"s$i")).toDF("k", "v")
      .repartition(2), "main", "v0", statsCols = Seq("k"))
    // simulate a pre-r20 table: rewrite the head record with everything inline
    val h = vt.head("main").get
    vt.store.put(vt.root.resolve("commits").resolve(h.id + ".json"),
      CommitLog.toJson(h.copy(manifests = Vector.empty)))
    val legacy = vt.head("main").get
    assert(legacy.manifests.isEmpty && legacy.files === h.files &&
      legacy.stats === h.stats, "inline commit reads back as before")
    // next append converts: ONE manifest now carries the whole snapshot
    val c = vt.write(Seq((99L, "x")).toDF("k", "v").coalesce(1), "main", "a",
      mode = "append", statsCols = Seq("k"))
    assert(c.manifests.size === 1)
    val resolved = vt.loadCommit(c.id)
    assert(resolved.files.toSet === (h.files.toSet + c.files.last) ||
      resolved.files.size === 3)
    assert(resolved.stats.keySet === c.stats.keySet)
    assert(vt.read(spark, "main").count() === 31)
  }

  test("REPO commits share manifests too: a 1-table commit into a multi-table repo is O(changed files)") {
    val repo = graft.vt.Repo.create(Tables.scratch("mf_repo"))
    def df(n: Int) = (1 to n).map(i => (i.toLong, s"r$i")).toDF("k", "v")
    // v0: three tables in one atomic commit
    Seq("a", "b", "c").foreach(t =>
      repo.stageWrite(df(50).repartition(2), "main", t))
    val c0 = repo.commit("main", "v0")
    def raw(id: String) = java.nio.file.Files.readString(
      repo.root.resolve("commits").resolve(id + ".json"))
    assert(!raw(c0.id).contains("\"files\""),
      "repo commits must not inline the cross-table file list")
    // a commit touching ONE table reuses the others' segments by reference
    repo.stageAppend(df(5).coalesce(1), "main", "b")
    val c1 = repo.commit("main", "touch b")
    assert(raw(c1.id).length <= raw(c0.id).length + 300,
      s"repo record must stay O(changed): ${raw(c1.id).length} vs ${raw(c0.id).length}")
    assert(c1.manifests.exists(c0.manifests.contains),
      "untouched tables' manifests must carry by reference")
    // resolution: reads see all three tables, the appended rows included
    assert(repo.readTable(spark, "main", "b").count() === 55)
    assert(repo.readTable(spark, "main", "a").count() === 50)
    // vacuum keeps the retained manifests, sweeps unreferenced ones
    repo.stageWrite(df(50), "main", "a") // overwrite a
    repo.commit("main", "ow a")
    val swept = repo.vacuum(retainLast = 1)
    assert(swept > 0)
    assert(repo.readTable(spark, "main", "a").count() === 50)
    assert(repo.readTable(spark, "main", "b").count() === 55)
  }

  test("manifest codec round-trips long strings and raw-bit doubles exactly") {
    val dir = java.nio.file.Paths.get(Tables.scratch("mf_codec"))
    Files.createDirectories(dir)
    val p = dir.resolve("t.manifest")
    val long = "β" * 50000 // > 64 KB modified-UTF-8: writeUTF would throw
    val entries = Vector(
      graft.vt.ManifestEntry("data/a.parquet", Some(123L), Some(7L),
        Map("k" -> (-0.0d, Double.MaxValue), "t" -> (1e-300, 2.5)),
        Map("v" -> ("", long)), Map("k" -> 0L, "v" -> 3L)),
      graft.vt.ManifestEntry("data/b.parquet", None, None, Map.empty,
        Map.empty, Map.empty))
    Manifest.write(p, entries)
    assert(Manifest.read(p) === ManifestFile(entries, Vector.empty))
    assert(Manifest.cached(p) === ManifestFile(entries, Vector.empty))
    // every manifest is written as format 3 (one zstd frame), with drops or
    // without; formats 1 and 2 stay readable (DvDescriptorSpec)
    val v2 = dir.resolve("d.manifest")
    Manifest.write(v2, entries.take(1), Seq("data/gone.parquet", long))
    assert(Manifest.read(v2) === ManifestFile(entries.take(1), Vector("data/gone.parquet", long)))
    def version(f: java.nio.file.Path) =
      java.nio.ByteBuffer.wrap(Files.readAllBytes(f), 4, 4).getInt
    assert(version(p) === 3 && version(v2) === 3)
  }

  test("a one-file delete on a 200-file single-manifest table writes O(1) manifest bytes") {
    val vt = VersionedTable.create(Tables.scratch("mf_drop_scale"))
    val c0 = vt.write(band(0, 1000, 200), "main", "v0", statsCols = Seq("k", "v"))
    assert(c0.files.size === 200 && c0.manifests.size === 1)
    val base = c0.manifests.head
    val c1 = vt.delete(spark, "k = 7") // rewrites the one file holding k = 7
    val gone = c0.files.filterNot(c1.files.toSet)
    val added = c1.files.filterNot(c0.files.toSet)
    assert(gone.size === 1 && added.size === 1)
    assert(c1.manifests === Vector(base, c1.manifests.last),
      "the 200-entry manifest must stay referenced")
    val fresh = mf(vt.root, c1.manifests.last)
    assert(fresh.entries.map(_.file) === added && fresh.drops === gone,
      s"the delete must write one entry and one drop: $fresh")
    val (freshBytes, baseBytes) = (Files.size(vt.root.resolve(c1.manifests.last)),
      Files.size(vt.root.resolve(base)))
    // O(1): the same delete on a 20-file table writes a fresh manifest of
    // the same size, while the base manifest grows with the table
    val small = VersionedTable.create(Tables.scratch("mf_drop_scale_20"))
    val s0 = small.write(band(0, 100, 20), "main", "v0", statsCols = Seq("k", "v"))
    val s1 = small.delete(spark, "k = 7")
    val (smallFresh, smallBase) = (Files.size(small.root.resolve(s1.manifests.last)),
      Files.size(small.root.resolve(s0.manifests.head)))
    assert(math.abs(freshBytes - smallFresh) <= 16 && baseBytes > 5 * smallBase,
      s"$freshBytes B against a $baseBytes B base; $smallFresh B against $smallBase B at 20 files")
    assertResolves(vt, c1)
    assert(entries(vt.loadCommit(c1.id)) ===
      entries(c0) -- gone ++ entries(c1).view.filterKeys(added.toSet))
    assert(vt.read(spark, "main").count() === 999 && vt.countRows(spark, "main") === 999)
    assert(vt.readWhere(spark, "main", "k", 5.0, 9.0).count() === 4)
    assert(vt.readVersion(spark, "main", 0).count() === 1000)
  }

  test("the half-dead rule: a manifest is re-stated once half its entries are dead") {
    val vt = VersionedTable.create(Tables.scratch("mf_half_dead"))
    val c0 = vt.write(band(0, 40, 4), "main", "v0", statsCols = Seq("k"))
    val base = c0.manifests.head
    val c1 = vt.delete(spark, "k < 5") // rewrites the first file: 1 of 4 dead
    assert(c1.manifests === Vector(base, c1.manifests.last))
    val d1 = mf(vt.root, c1.manifests.last)
    assert(d1.entries.size === 1 && d1.drops === c0.files.filterNot(c1.files.toSet))
    assertResolves(vt, c1)
    val c2 = vt.delete(spark, "k >= 10 AND k < 15") // the second file: 2 of 4 dead
    assert(c2.manifests.size === 1 && !c2.manifests.contains(base),
      s"a half-dead manifest must be re-stated: ${c2.manifests}")
    // the first delete's manifest went with it: once the base is gone its
    // drop hides nothing, so one entry of two is left
    val restated = mf(vt.root, c2.manifests.head)
    assert(restated.entries.map(_.file) === c2.files && restated.drops.isEmpty)
    assert(restated.entries.size === 4)
    assertResolves(vt, c2)
    assert(vt.read(spark, "main").count() === 30)
    assert(vt.readVersion(spark, "main", 1).count() === 35)
  }

  test("a three-way merge of branches that drop different entries of one manifest writes none") {
    val vt = VersionedTable.create(Tables.scratch("mf_drop_merge"))
    vt.write(band(0, 90, 9), "main", "v0", statsCols = Seq("k"))
    vt.write(band(100, 20, 2), "main", "v1", mode = "append") // no stats
    // one manifest holding statted and unstatted files: rewrite the head as a
    // legacy inline record, so the next publish factors the snapshot afresh
    val h = vt.head("main").get
    vt.store.put(vt.root.resolve("commits").resolve(h.id + ".json"),
      CommitLog.toJson(h.copy(manifests = Vector.empty)))
    val c2 = vt.write(band(200, 10, 1), "main", "v2", mode = "append", statsCols = Seq("k"))
    assert(c2.manifests.size === 1 && c2.files.size === 12)
    val shared = c2.manifests.head
    vt.createBranch("stats", "main")
    val s = vt.computeStats(spark, Seq("k"), "stats") // changes the two unstatted entries
    val d = vt.delete(spark, "k < 5") // main: rewrites one file
    Seq(s, d).foreach { c =>
      assert(c.manifests.head === shared, s"${c.message} must keep the shared manifest")
      val mine = written(vt, c).map(mf(vt.root, _))
      assert(mine.size === 1 && mine.head.entries.size <= 2,
        s"${c.message} must write drops, not re-state: $mine")
      assertResolves(vt, c)
    }
    assert(mf(vt.root, s.manifests.last).drops.toSet === mf(vt.root, s.manifests.last)
      .entries.map(_.file).toSet, "a changed entry is a drop plus a fresh entry")
    val m = vt.merge("stats", "main")
    assert(m.mergeParent.contains(s.id))
    assert(written(vt, m).isEmpty, s"the merge must write no manifest: ${m.manifests}")
    assert(m.manifests.toSet === Set(shared, d.manifests.last, s.manifests.last))
    assertResolves(vt, m)
    assert(m.files.toSet === d.files.toSet)
    val analyzed = mf(vt.root, s.manifests.last).entries.map(_.file)
    assert(analyzed.size === 2 && analyzed.forall(vt.loadCommit(m.id).stats.contains))
    assert(vt.read(spark, "main").count() === 115)
    assert(vt.readWhere(spark, "main", "k", 105.0, 106.0).inputFiles.length === 1,
      "the merged-in stats must prune")
  }

  test("an append that loses its slot to a dropping delete rebases over the drop") {
    val root = Tables.scratch("mf_drop_occ")
    val a = VersionedTable.create(root)
    val c0 = a.write(band(0, 60, 6), "main", "v0", statsCols = Seq("k"))
    val b = VersionedTable.open(root)
    @volatile var fired = false
    a.addPreCommitHook("race") { (_, _) =>
      if (!fired) { fired = true; b.delete(spark, "k >= 10 AND k < 15") }
    }
    val c = a.write(Seq((100L, "x")).toDF("k", "v").coalesce(1), "main", "A",
      mode = "append", statsCols = Seq("k"))
    val winner = a.loadCommit(c.parent.get)
    assert(winner.version === 1L && c.version === 2L, "the append must rebase")
    assert(winner.manifests.head === c0.manifests.head)
    val drop = mf(a.root, winner.manifests.last)
    assert(drop.entries.size === 1 && drop.drops.size === 1,
      s"the winner must drop, not re-state: $drop")
    assert(c.manifests.init === winner.manifests, "the rebase keeps the winner's manifests")
    assertResolves(a, c)
    assert(!c.files.contains(drop.drops.head) && c.files.contains(drop.entries.head.file))
    assert(a.read(spark, "main").count() === 56 && a.countRows(spark, "main") === 56)
  }

  test("revert to a version holding a dropped path resolves it again") {
    val vt = VersionedTable.create(Tables.scratch("mf_drop_revert"))
    val c0 = vt.write(band(0, 40, 4), "main", "v0", statsCols = Seq("k"))
    val c1 = vt.delete(spark, "k < 10")
    val dropped = c0.files.filterNot(c1.files.toSet)
    assert(dropped.size === 1 && mf(vt.root, c1.manifests.last).drops === dropped)
    vt.write(Seq((100L, "x")).toDF("k", "v").coalesce(1), "main", "a", mode = "append",
      statsCols = Seq("k"))
    val c3 = vt.revert("main", 0)
    assert(c3.manifests === c0.manifests,
      s"the base manifest alone resolves v0 again, no stale drop: ${c3.manifests}")
    assertResolves(vt, c3)
    assert(c3.files === c0.files && entries(vt.loadCommit(c3.id)) === entries(c0))
    assert(vt.read(spark, "main").count() === 40)
    val c4 = vt.write(Seq((101L, "y")).toDF("k", "v").coalesce(1), "main", "b",
      mode = "append", statsCols = Seq("k"))
    assert(vt.loadCommit(c4.id).files.contains(dropped.head))
    assert(vt.read(spark, "main").count() === 41)
  }

  test("vacuum keeps every reachable commit's drop-carrying manifests") {
    val vt = VersionedTable.create(Tables.scratch("mf_drop_vacuum"))
    vt.write(band(0, 40, 4), "main", "v0", statsCols = Seq("k"))
    vt.delete(spark, "k < 10")
    vt.update(spark, "k = 25", Map("v" -> "'upd'"))
    vt.delete(spark, "k = 35")
    vt.write(Seq((100L, "x")).toDF("k", "v").coalesce(1), "main", "a", mode = "append")
    val lineage = vt.lineage("main")
    val dropping = lineage.flatMap(_.manifests).distinct
      .filter(m => mf(vt.root, m).drops.nonEmpty)
    assert(dropping.size >= 2, s"the history must carry drops: $dropping")
    vt.vacuum(retainLast = 1)
    lineage.flatMap(_.manifests).foreach(m =>
      assert(Files.exists(vt.root.resolve(m)), s"vacuum swept reachable manifest $m"))
    lineage.foreach(c => assert(vt.loadCommit(c.id).files === c.files))
    assert(vt.read(spark, "main").count() === 30)
    assert(vt.read(spark, "main").where($"k" === 25L).select($"v").as[String].head() === "upd")
    assert(vt.vacuum(retainLast = 1) === 0)
  }

  test("REPO commits drop instead of re-stating: per-table overwrites, their merge, a revert") {
    val repo = Repo.create(Tables.scratch("mf_drop_repo"))
    repo.stageWrite(band(0, 4, 2), "main", "a")
    repo.stageWrite(band(0, 4, 2), "main", "b")
    repo.stageWrite(band(0, 40, 20), "main", "c")
    val c0 = repo.commit("main", "v0")
    assert(c0.manifests.size === 1 && c0.files.size === 24)
    val shared = c0.manifests.head
    repo.createBranch("x", "main")
    repo.stageWrite(band(10, 3, 1), "x", "a")
    val cx = repo.commit("x", "overwrite a")
    repo.stageWrite(band(20, 5, 1), "main", "b")
    val cm = repo.commit("main", "overwrite b")
    Seq(cx, cm).foreach { c =>
      assert(c.manifests === Vector(shared, c.manifests.last))
      val fresh = mf(repo.root, c.manifests.last)
      assert(fresh.entries.size === 1 && fresh.drops.size === 2,
        s"${c.message} must drop, not re-state: $fresh")
      assert(repo.loadCommit(c.id).files === c.files)
    }
    val m = repo.merge("x", "main")
    assert(m.mergeParent.contains(cx.id))
    assert(m.manifests.toSet === Set(shared, cx.manifests.last, cm.manifests.last),
      s"the merge must write no manifest: ${m.manifests}")
    assert(repo.loadCommit(m.id).files === m.files)
    assert(repo.readTable(spark, "main", "a").count() === 3)
    assert(repo.readTable(spark, "main", "b").count() === 5)
    assert(repo.readTable(spark, "main", "c").count() === 40)
    val r = repo.revert("main", 0)
    assert(r.manifests === Vector(shared), s"no stale drop may hide v0's files: ${r.manifests}")
    assert(repo.loadCommit(r.id).files.toSet === c0.files.toSet)
    assert(repo.readTable(spark, "main", "a").count() === 4)
    assert(repo.readTable(spark, "main", "b").count() === 4)
    repo.vacuum(retainLast = 1)
    assert(repo.readTable(spark, "main", "c").count() === 40)
    Seq(cx, cm, m).foreach(c => assert(repo.loadCommit(c.id).files === c.files))
  }

  test("factor: a re-added path beats a stale drop; a changed entry is a drop plus an entry") {
    val store = scala.collection.mutable.Map.empty[String, ManifestFile]
    def e(f: String, rows: Long = 1L) =
      ManifestEntry(f, Some(10L), Some(rows), Map.empty, Map.empty, Map.empty)
    var n = 0
    def write(es: Seq[ManifestEntry], ds: Seq[String]): String = {
      n += 1; store(s"N$n") = ManifestFile(es.toVector, ds.toVector); s"N$n"
    }
    /** Factor `target` over `refs`; check resolution is exact and ordered. */
    def factor(refs: Vector[String], target: Vector[ManifestEntry]): Vector[String] = {
      val byFile = target.map(x => x.file -> x).toMap
      val (out, order) = Manifest.factor(store, write, refs, target.map(_.file), byFile, 32)
      val resolved = Manifest.resolve(out.map(store))
      assert(resolved.map(_.file) === order, s"order: $out")
      assert(resolved.sortBy(_.file) === target.sortBy(_.file), s"resolution of $out")
      out
    }
    val fs = (1 to 6).map(i => e(s"f$i")).toVector
    val gs = Vector(e("g1"), e("g2"), e("g3"))
    store("A") = ManifestFile(fs, Vector.empty)
    store("B") = ManifestFile(gs, Vector("f1")) // a delete of f1 that added g1..g3
    // f1 re-added (a revert or cherry-pick): B's drop would hide it
    val readd = factor(Vector("A", "B"), fs ++ gs)
    assert(readd.head === "A" && !readd.contains("B"))
    // f2's entry changes: a drop plus a fresh entry; A and B stay
    val changed = fs.filterNot(_.file == "f1").map(x => if (x.file == "f2") e("f2", 9) else x) ++ gs
    val c1 = factor(Vector("A", "B"), changed)
    assert(c1.init === Vector("A", "B") && store(c1.last) === ManifestFile(Vector(e("f2", 9)), Vector("f2")))
    // the next commit keeps that manifest: its own drop never hides its own entry
    val c2 = factor(c1, changed :+ e("h1"))
    assert(c2.init === c1 && store(c2.last) === ManifestFile(Vector(e("h1")), Vector.empty))
    // two kept manifests list one live path (re-stated on two branches):
    // exactly one copy resolves
    store("C") = ManifestFile(Vector(e("f3"), e("c1"), e("c2")), Vector.empty)
    factor(Vector("A", "C"), fs ++ Vector(e("c1"), e("c2")))
    // a stale copy nobody drops, beside a provider that does not drop it
    store("D") = ManifestFile(Vector(e("f4", 5), e("d1"), e("d2"), e("d3")), Vector.empty)
    factor(Vector("A", "D"), fs ++ Vector(e("d1"), e("d2"), e("d3")))
  }
}

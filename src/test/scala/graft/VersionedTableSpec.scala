package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.vt.{InMemoryMetaStore, LocalFsMetaStore, MetaStore, S3SimMetaStore, VersionedTable}

/** Invariants of the commit-log versioned table (SURVEY.md §5.3–5.4):
  * v0 immutability under overwrite, time travel, branch isolation, merge
  * fast-forward/conflict, revert-as-new-commit, vacuum retention safety,
  * staging commit/reset, append mode.
  *
  * The WHOLE suite is parameterized over the [[MetaStore]] backend
  * ([[storeFor]]): it runs once on the POSIX store and again
  * ([[VersionedTableS3SimSpec]]) on the rename-free S3-semantics object
  * store — the reference's lakeFS-over-MinIO deployment plane — so every
  * invariant here is proven against conditional-PUT-only storage too.
  * Control-plane manipulation in crash simulations goes through the store
  * API (never raw FS paths); only data-plane checks touch the filesystem.
  */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  protected def storeFor(root: String): MetaStore = LocalFsMetaStore
  /** Distinguishes scratch roots when this suite runs under two backends. */
  protected def suiteTag: String = ""

  private def freshVt(name: String): VersionedTable = {
    val root = Tables.scratch(s"test${suiteTag}_$name")
    VersionedTable.create(root, storeFor(root))
  }

  /** Age a control-plane object via whichever backdoor the backend offers. */
  protected def backdate(store: MetaStore, key: java.nio.file.Path, toMs: Long): Unit =
    StoreOps.backdate(store, key, toMs)

  private def staleMs: Long =
    System.currentTimeMillis() - 2 * VersionedTable.DefaultStaleSlotMs

  private def df(xs: Int*) = xs.toDF("x")

  test("v0 stays readable and identical after v1 overwrite") {
    val vt = freshVt("immutability")
    vt.write(df(1, 2, 3), "main", "v0")
    vt.write(df(9, 10), "main", "v1")
    assert(vt.read(spark, "main").as[Int].collect().sorted === Array(9, 10))
    assert(vt.readVersion(spark, "main", 0).as[Int].collect().sorted === Array(1, 2, 3))
    assert(vt.head("main").get.version === 1)
  }

  test("append mode unions parent files without rewriting them") {
    val vt = freshVt("append")
    val c0 = vt.write(df(1), "main", "v0")
    val c1 = vt.write(df(2), "main", "v1 append", mode = "append")
    assert(c0.files.toSet.subsetOf(c1.files.toSet))
    assert(vt.read(spark, "main").as[Int].collect().sorted === Array(1, 2))
    assert(vt.readVersion(spark, "main", 0).as[Int].collect() === Array(1))
  }

  test("branches are zero-copy and isolated") {
    val vt = freshVt("branch")
    val c0 = vt.write(df(1, 2), "main", "v0")
    vt.createBranch("dev", "main")
    assert(vt.head("dev").get.id === c0.id) // zero-copy: same commit
    vt.write(df(7), "dev", "dev change")
    assert(vt.read(spark, "main").as[Int].collect().sorted === Array(1, 2))
    assert(vt.read(spark, "dev").as[Int].collect() === Array(7))
  }

  test("merge fast-forwards when target has not moved, conflicts when it has") {
    val vt = freshVt("merge")
    vt.write(df(1), "main", "v0")
    vt.createBranch("dev", "main")
    vt.write(df(1, 2), "dev", "dev adds")
    val merged = vt.merge("dev", "main")
    assert(vt.head("main").get.id === merged.id)
    assert(vt.read(spark, "main").as[Int].collect().sorted === Array(1, 2))
    // now diverge both and expect a conflict
    vt.createBranch("dev2", "main")
    vt.write(df(3), "dev2", "dev2")
    vt.write(df(4), "main", "main moved")
    assertThrows[IllegalStateException](vt.merge("dev2", "main"))
  }

  test("3-way merge: disjoint appends on both branches union; overlap conflicts") {
    val vt = freshVt("merge3way")
    vt.write(df(1), "main", "v0")
    vt.createBranch("dev", "main")
    vt.write(df(2), "dev", "dev append", mode = "append")
    vt.write(df(3), "main", "main append", mode = "append")
    // both branches moved, but their changed file sets are disjoint (each
    // append only ADDS files) → lakeFS-style merge commit unions them
    val c = vt.merge("dev", "main")
    assert(c.version === vt.lineage("main").drop(1).head.version + 1)
    assert(vt.read(spark, "main").as[Int].collect().sorted === Array(1, 2, 3))
    assert(vt.read(spark, "dev").as[Int].collect().sorted === Array(1, 2)) // src untouched
    // merge is a commit, not a rewrite: pre-merge main still time-travels
    assert(vt.readVersion(spark, "main", 1).as[Int].collect().sorted === Array(1, 3))
    // both sides overwrote → both removed the same base files → conflict
    vt.createBranch("dev2", "main")
    vt.write(df(8), "dev2", "ow")
    vt.write(df(9), "main", "ow")
    assertThrows[IllegalStateException](vt.merge("dev2", "main"))
  }

  test("merge base advances: successive merges of the same pair keep working") {
    val vt = freshVt("merge_successive")
    vt.write(df(1), "main", "v0")
    vt.createBranch("dev", "main")
    vt.write(df(2), "dev", "dev append 1", mode = "append")
    vt.write(df(3), "main", "main append 1", mode = "append")
    val m1 = vt.merge("dev", "main")
    assert(m1.mergeParent === Some(vt.head("dev").get.id)) // src head recorded
    // both branches keep appending; the second merge must see only the NEW
    // commits as divergence — the files m1 imported are shared history now
    vt.write(df(4), "dev", "dev append 2", mode = "append")
    vt.write(df(5), "main", "main append 2", mode = "append")
    val m2 = vt.merge("dev", "main")
    assert(vt.read(spark, "main").as[Int].collect().sorted === Array(1, 2, 3, 4, 5))
    // merging an unchanged source once more is the already-merged no-op
    assert(vt.merge("dev", "main").id === m2.id)
    // and the merge commit round-trips its second parent through the log
    assert(vt.loadCommit(m2.id).mergeParent === m2.mergeParent)
  }

  test("merge conflicts when one side replaced base files and the other changed") {
    // src overwrote (removed base files), dst appended → refuse loudly:
    // object-level the changes are disjoint, but the row-level outcome would
    // silently combine src's overwrite snapshot with dst's appended rows
    val vt = freshVt("merge_ow_src")
    vt.write(df(1), "main", "v0")
    vt.createBranch("dev", "main")
    vt.write(df(9), "dev", "dev overwrites")
    vt.write(df(2), "main", "main appends", mode = "append")
    val e = intercept[IllegalStateException](vt.merge("dev", "main"))
    assert(e.getMessage.contains("replaced base files"))
    // symmetric: dst overwrote, src appended
    val vt2 = freshVt("merge_ow_dst")
    vt2.write(df(1), "main", "v0")
    vt2.createBranch("dev", "main")
    vt2.write(df(2), "dev", "dev appends", mode = "append")
    vt2.write(df(9), "main", "main overwrites")
    val e2 = intercept[IllegalStateException](vt2.merge("dev", "main"))
    assert(e2.getMessage.contains("replaced base files"))
  }

  test("vacuumRetainHours keeps commits inside the horizon, reclaims older, always keeps heads") {
    val vt = freshVt("vacuum_hours")
    val c0 = vt.write(df(1), "main", "v0")
    Thread.sleep(15) // ensure strictly increasing commit timestamps
    val c1 = vt.write(df(2), "main", "v1")
    assert(c1.ts > c0.ts)
    // horizon covers both commits → nothing reclaimed
    assert(vt.vacuumRetainHours(1.0, nowMs = c1.ts) === 0)
    assert(vt.readVersion(spark, "main", 0).as[Int].collect() === Array(1))
    // horizon ends after c0 → c0 reclaimed, head (c1) always survives
    val deleted = vt.vacuumRetainHours(0.0, nowMs = c1.ts)
    // r20: c0's DATA reclaims; its manifest survives (c0 stays reachable as
    // the head's parent — ancestry must keep resolving)
    assert(deleted === c0.files.size && deleted > 0)
    assert(vt.read(spark, "main").as[Int].collect() === Array(2))
    assertThrows[Exception](vt.readVersion(spark, "main", 0).collect())
  }

  test("mergeSchema append evolves additively; type collisions always rejected") {
    val vt = freshVt("merge_schema")
    vt.write(Seq((1, "a")).toDF("x", "s"), "main", "v0")
    // additive append: new column d appears, old rows read as null
    vt.write(Seq((2, "b", 2.5)).toDF("x", "s", "d"), "main", "widen",
      mode = "append", mergeSchema = true)
    val rows = vt.read(spark, "main").select("x", "s", "d")
      .as[(Int, String, Option[Double])].collect().sortBy(_._1)
    assert(rows === Array((1, "a", None), (2, "b", Some(2.5))))
    // v0 still replays with its own narrower schema
    assert(vt.readVersion(spark, "main", 0).columns === Array("x", "s"))
    // same name, different type: rejected even with mergeSchema
    assertThrows[IllegalArgumentException](
      vt.write(Seq(("no", "b", 1.0)).toDF("x", "s", "d"), "main", "clash",
        mode = "append", mergeSchema = true))
    // CDC across the schema-evolving interval: the general path must align
    // the two column sets (null-fill) instead of throwing AnalysisException
    val cdc = vt.changes(spark, "main", 0, 1)
      .select("change_type", "x", "s", "d")
      .as[(String, Int, String, Option[Double])].collect().sortBy(_._2)
    assert(cdc === Array(("insert", 2, "b", Some(2.5))))
  }

  test("upsert updates matched keys, inserts unmatched, preserves old versions") {
    val vt = freshVt("upsert")
    vt.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), "main", "v0")
    val c = vt.upsert(spark, Seq((2, "B"), (9, "new")).toDF("k", "v"), keyCols = Seq("k"))
    assert(c.version === 1)
    assert(vt.read(spark, "main").as[(Int, String)].collect().sortBy(_._1)
      === Array((1, "a"), (2, "B"), (3, "c"), (9, "new")))
    assert(vt.readVersion(spark, "main", 0).as[(Int, String)].collect().sortBy(_._1)
      === Array((1, "a"), (2, "b"), (3, "c")))
    // mismatched schema is rejected, not silently merged
    assertThrows[IllegalArgumentException](
      vt.upsert(spark, Seq((1, 1.0)).toDF("k", "d"), keyCols = Seq("k")))
  }

  test("delete removes matching rows as a new version; NULL predicate keeps the row") {
    val vt = freshVt("delete")
    vt.write(Seq((1, Some("a")), (2, None), (3, Some("c"))).toDF("k", "v"), "main", "v0")
    val c = vt.delete(spark, "v = 'a'")
    assert(c.version === 1)
    // row 2's predicate is NULL → kept (SQL DELETE semantics)
    assert(vt.read(spark, "main").select("k").as[Int].collect().sorted === Array(2, 3))
    assert(vt.readVersion(spark, "main", 0).count() === 3) // time travel intact
    // a delete matching nothing is a no-op: same head, no version churn
    val same = vt.delete(spark, "v = 'zzz'")
    assert(same.id === c.id && vt.head("main").get.version === 1)
  }

  test("null-count stats prune IS NULL / IS NOT NULL predicates by file") {
    import org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression
    val vt = freshVt("null_stats")
    // file A: no nulls in v; file B: all-null v; file C: mixed
    val dfA = Seq((1, Some("a")), (2, Some("b"))).toDF("k", "v")
    val dfB = Seq((11, None: Option[String]), (12, None)).toDF("k", "v")
    val dfC = Seq((21, Some("c")), (22, None)).toDF("k", "v")
    vt.write(dfA, "main", "A", statsCols = Seq("k", "v"))
    vt.write(dfB, "main", "B", mode = "append", statsCols = Seq("k", "v"))
    vt.write(dfC, "main", "C", mode = "append", statsCols = Seq("k", "v"))
    val h = vt.head("main").get
    assert(h.nullStats.nonEmpty && h.files.forall(h.nullStats.contains))
    // demand extraction: conjuncts only, OR contributes nothing
    assert(vt.nullDemands(parseExpression("v IS NULL AND k > 0")) === (Set("v"), Set.empty))
    assert(vt.nullDemands(parseExpression("v IS NOT NULL")) === (Set.empty, Set("v")))
    assert(vt.nullDemands(parseExpression("v IS NULL OR k = 1")) === (Set.empty, Set.empty))
    // IS NULL delete: file A (zero nulls) is excluded from the rewrite —
    // its file entry carries to the new version untouched
    val c1 = vt.delete(spark, "v IS NULL")
    val aFiles = h.files.filter(f => h.nullStats(f).get("v").contains(0L))
    assert(aFiles.nonEmpty && aFiles.forall(c1.files.contains),
      "null-free files must carry through an IS NULL delete untouched")
    assert(vt.read(spark, "main").select("k").as[Int].collect().sorted
      === Array(1, 2, 21))
    // IS NOT NULL delete on a fresh copy: the all-null file B is excluded
    val vt2 = freshVt("null_stats2")
    vt2.write(dfA, "main", "A", statsCols = Seq("k", "v"))
    vt2.write(dfB, "main", "B", mode = "append", statsCols = Seq("k", "v"))
    val h2 = vt2.head("main").get
    val bFiles = h2.files.filter(f =>
      h2.nullStats(f).get("v").exists(nc => h2.rowCounts.get(f).contains(nc)))
    val c2 = vt2.delete(spark, "v IS NOT NULL")
    assert(bFiles.nonEmpty && bFiles.forall(c2.files.contains),
      "all-null files must carry through an IS NOT NULL delete untouched")
    assert(vt2.read(spark, "main").select("k").as[Int].collect().sorted === Array(11, 12))
  }

  test("compact auto-rebases on concurrent-writer conflict (layout-only commutes)") {
    val vt = freshVt("compact_race")
    vt.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
      .repartitionByRange(2, col("k")), "main", "v0")
    // deterministic racer: a pre-commit hook that appends a row the first
    // time a compact tries to publish — the append claims the version slot
    // first, so the compact's own publish loses and must rebase
    var raced = false
    vt.addPreCommitHook("racer") { (_, c) =>
      if (c.message.startsWith("compact") && !raced) {
        raced = true
        vt.write(Seq((9, "z")).toDF("k", "v"), "main", "mid-compact append", mode = "append")
      }
    }
    val c = vt.compact(spark, "main", numFiles = 1)
    assert(raced, "the racer hook must have fired")
    // the retry re-read the NEW head: the racer's row is inside the compacted
    // file, nothing was lost, and the lineage is append(v1) -> compact(v2)
    assert(c.version === 2 && c.files.size === 1)
    assert(vt.read(spark, "main").as[(Int, String)].collect().sortBy(_._1)
      === Array((1, "a"), (2, "b"), (3, "c"), (9, "z")))
    assert(vt.countRows(spark) === 4)
    // bounded: a conflict on EVERY attempt eventually surfaces as the error
    vt.removePreCommitHook("racer")
    vt.addPreCommitHook("always-racer") { (_, c) =>
      if (c.message.startsWith("compact"))
        vt.write(Seq((0, "w")).toDF("k", "v"), "main", "relentless writer", mode = "append")
    }
    assertThrows[java.util.ConcurrentModificationException](
      vt.compact(spark, "main", numFiles = 1, maxRetries = 1))
    vt.removePreCommitHook("always-racer")
    // and the nullability wart the racer exposed stays fixed: appending a
    // non-nullable frame into a compacted (all-nullable parquet) schema works
    vt.write(Seq((7, "q")).toDF("k", "v"), "main", "append post-compact", mode = "append")
  }

  test("countRows is metadata-only: survives hidden data files, DV-aware, scan fallback") {
    val vt = freshVt("count_meta")
    vt.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
      .repartitionByRange(2, col("k")), "main", "v0")
    vt.write(Seq((4, "d"), (5, "e"), (6, "f")).toDF("k", "v"), "main", "v1", mode = "append")
    assert(vt.countRows(spark) === 6)
    // THE pin: the count needs no data files at all — hide the data dir
    val dataDir = vt.root.resolve("data")
    val hidden = vt.root.resolve("data_hidden")
    java.nio.file.Files.move(dataDir, hidden)
    try assert(vt.countRows(spark) === 6, "metadata-only count read a data file")
    finally java.nio.file.Files.move(hidden, dataDir)
    // merge-on-read delete: base stays from the log, only the DV is read
    vt.deleteWithVectors(spark, "k = 1")
    assert(vt.countRows(spark) === 5)
    // COW delete rewrites the touched file; its dead DV entries (pointing at
    // the replaced file) must NOT be subtracted again
    vt.delete(spark, "k = 2")
    assert(vt.countRows(spark) === 4)
    // update rewrites but never changes cardinality
    vt.update(spark, "k = 3", Map("v" -> "'z'"))
    assert(vt.countRows(spark) === 4)
    // a commit without logged counts (pre-rowCounts history) falls back to a scan
    val h = vt.head("main").get
    vt.store.put(vt.root.resolve("commits").resolve(h.id + ".json"),
      graft.vt.CommitLog.toJson( // legacy inline commit: no manifests either
        h.copy(rowCounts = Map.empty, manifests = Vector.empty)))
    assert(vt.head("main").get.rowCounts.isEmpty)
    assert(vt.countRows(spark) === 4, "scan fallback must agree")
  }

  test("countRows dedups DV entries duplicated across merged branches") {
    // Two branches MOR-delete the SAME row of a shared base file — the merge
    // conflict check allows it (both sides agree the row is gone) and the
    // merged entry carries the UNION of both sides' descriptors, so the
    // shared position counts once in its cardinality.
    val vt = freshVt("count_dv_dup")
    vt.write(Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v")
      .coalesce(1), "main", "v0")
    vt.createBranch("dev", from = "main")
    vt.deleteWithVectors(spark, "k = 1", "main")       // deletes (f0, pos0)
    vt.deleteWithVectors(spark, "k <= 2", "dev")       // deletes (f0, pos0) AND pos1
    vt.merge("dev", "main")
    val merged = vt.head("main").get
    assert(merged.dvs.size === 1 &&
      graft.vt.DeletionVectors.readPositions(vt.root, merged.dvs.values.head) === Vector(0L, 1L),
      "the merged descriptor must be the union of both sides'")
    val scanCount = vt.read(spark, "main").count()
    assert(scanCount === 2, "rows 1 and 2 deleted exactly once")
    assert(vt.countRows(spark, "main") === scanCount,
      "metadata count must dedup duplicated DV positions")
  }

  test("protected branches reject direct mutation but accept merges") {
    val vt = freshVt("protected")
    vt.write(Seq((1, "a")).toDF("k", "v"), "main", "v0")
    vt.protectBranch("main")
    vt.protectBranch("rel*") // glob rule
    assert(vt.isProtected("main") && vt.isProtected("rel-2024") && !vt.isProtected("dev"))
    // every direct-mutation door is closed
    assertThrows[IllegalStateException](vt.write(Seq((2, "b")).toDF("k", "v"), "main", "x"))
    assertThrows[IllegalStateException](vt.upsert(spark, Seq((2, "b")).toDF("k", "v"), Seq("k")))
    assertThrows[IllegalStateException](vt.delete(spark, "k = 1"))
    assertThrows[IllegalStateException](vt.deleteWithVectors(spark, "k = 1"))
    assertThrows[IllegalStateException](vt.update(spark, "k = 1", Map("v" -> "'z'")))
    assertThrows[IllegalStateException](vt.stage(Seq((2, "b")).toDF("k", "v"), "main"))
    assertThrows[IllegalStateException](vt.revert("main", 0))
    assertThrows[IllegalStateException](vt.compact(spark, "main"))
    assertThrows[IllegalStateException](vt.deleteBranch("main"))
    assert(vt.head("main").get.version === 0, "no rejected op may have committed")
    // the one open door: merge from a side branch
    vt.createBranch("dev", from = "main")
    vt.write(Seq((1, "a"), (2, "b")).toDF("k", "v"), "dev", "reviewed change")
    vt.merge("dev", "main")
    assert(vt.read(spark, "main").as[(Int, String)].collect().sortBy(_._1)
      === Array((1, "a"), (2, "b")))
    // rules are persisted: a second handle on the same root enforces them
    val again = VersionedTable.open(vt.root.toString, storeFor(vt.root.toString))
    assertThrows[IllegalStateException](again.delete(spark, "k = 1"))
    // unprotect reopens direct writes; removing a missing rule is false
    assert(vt.unprotectBranch("main") && !vt.unprotectBranch("main"))
    assert(vt.protectionRules === Seq("rel*"))
    vt.write(Seq((9, "z")).toDF("k", "v"), "main", "direct again")
    assert(vt.head("main").get.version === 2)
  }

  test("pre-commit and pre-merge hooks veto operations atomically") {
    val vt = freshVt("hooks")
    vt.write(Seq((1, 10)).toDF("k", "v"), "main", "v0")
    // pre-commit veto on a data/metadata condition: no empty messages
    vt.addPreCommitHook("msg")((_, c) =>
      require(c.message.nonEmpty, "commit message required"))
    val e = intercept[IllegalStateException](vt.write(Seq((2, 20)).toDF("k", "v"), "main", ""))
    assert(e.getMessage.contains("msg") && vt.head("main").get.version === 0)
    vt.write(Seq((2, 20)).toDF("k", "v"), "main", "ok") // passing commit lands
    assert(vt.head("main").get.version === 1)
    // hooks see the candidate's files/schema: veto single-file explosions
    vt.addPreCommitHook("files")((_, c) => require(c.files.size <= 4, "too many files"))
    assertThrows[IllegalStateException](
      vt.write(Seq.tabulate(8)(i => (i, i)).toDF("k", "v").repartition(8), "main", "wide"))
    assert(vt.removePreCommitHook("files") && !vt.removePreCommitHook("files"))
    // pre-merge veto, then removal lets the merge through
    vt.createBranch("dev", from = "main")
    vt.write(Seq((3, 30)).toDF("k", "v"), "dev", "dev change")
    vt.addPreMergeHook("freeze")((_, into) => require(into != "main", "main is frozen"))
    assertThrows[IllegalStateException](vt.merge("dev", "main"))
    assert(vt.removePreMergeHook("freeze"))
    vt.merge("dev", "main")
    assert(vt.read(spark, "main").as[(Int, Int)].collect().sortBy(_._1) === Array((3, 30)))
  }

  test("tags: immutable, pin commits through vacuum, reclaimable on delete") {
    val vt = freshVt("tags")
    vt.write(Seq((1, "a"), (2, "b")).toDF("k", "v"), "main", "v0")
    val c0 = vt.head("main").get
    vt.createTag("rel-1.0")
    assertThrows[IllegalArgumentException](vt.createTag("rel-1.0")) // immutable
    assertThrows[IllegalArgumentException](vt.createTagAt("bad", "no-such-commit"))
    vt.write(Seq((9, "z")).toDF("k", "v"), "main", "v1")
    vt.createTagAt("also-v0", c0.id) // tagging a non-head commit
    assert(vt.tags.map(_._1) === Seq("also-v0", "rel-1.0"))
    // vacuum(1) reclaims v0 UNLESS a tag pins it
    vt.vacuum(retainLast = 1)
    assert(vt.readTag(spark, "rel-1.0").as[(Int, String)].collect().sorted
      === Array((1, "a"), (2, "b")))
    // RESTORE TO tag: the tagged state becomes a NEW head commit (history
    // intact — the restore is itself revertable), addressed by name
    val restored = vt.restoreTag("rel-1.0")
    assert(restored.version === 2)
    // a typo'd branch fails; it must NOT be silently created from the tag
    assertThrows[IllegalArgumentException](vt.restoreTag("rel-1.0", "mian"))
    assert(!vt.branches.contains("mian"))
    assert(vt.read(spark, "main").as[(Int, String)].collect().sorted
      === Array((1, "a"), (2, "b")))
    vt.revert("main", 1) // back to v1 content so the vacuum math below holds
    assert(vt.read(spark, "main").as[(Int, String)].collect() === Array((9, "z")))
    // drop both tags -> v0's files become vacuumable, head unaffected
    assert(vt.deleteTag("rel-1.0") && vt.deleteTag("also-v0"))
    assert(!vt.deleteTag("rel-1.0")) // double delete is a false no-op
    val reclaimed = vt.vacuum(retainLast = 1)
    // r20: v0's data files go; every commit here stays REACHABLE from the
    // head chain, so all manifests survive for ancestry resolution
    assert(reclaimed === c0.files.size && reclaimed > 0)
    assert(vt.read(spark, "main").as[(Int, String)].collect() === Array((9, "z")))
  }

  test("protection racing live writers: in-flight commit completes, staged work freezes") {
    // r13 verdict #6: protection-rule flips racing writers. lakeFS semantics:
    // adding a rule does not abort an IN-FLIGHT commit (the guard runs at
    // operation entry); it closes the door for the next one. Atomicity is
    // the pin — the racing commit lands whole, the next is refused whole.
    val vt = freshVt("protect_race")
    vt.write(Seq((1, "a")).toDF("k", "v"), "main", "v0")
    var flipped = false
    vt.addPreCommitHook("protector") { (_, c) =>
      if (c.message == "racing commit" && !flipped) {
        flipped = true
        vt.protectBranch("main") // the admin flips the rule mid-commit
      }
    }
    val c1 = vt.write(Seq((2, "b")).toDF("k", "v"), "main", "racing commit", mode = "append")
    assert(flipped && c1.version === 1, "the in-flight commit must land whole")
    assert(vt.read(spark, "main").count() === 2)
    assertThrows[IllegalStateException](
      vt.write(Seq((3, "c")).toDF("k", "v"), "main", "after the flip", mode = "append"))
    assert(vt.head("main").get.version === 1, "refused write must not publish")
    vt.removePreCommitHook("protector")

    // protect-while-staged: staged-but-uncommitted work freezes with the
    // branch — commitStaged and reset both refuse; after unprotect the
    // ORIGINAL staged snapshot publishes intact.
    val vt2 = freshVt("protect_staged")
    vt2.write(Seq((1, "a")).toDF("k", "v"), "main", "v0")
    vt2.stage(Seq((9, "z")).toDF("k", "v"), "main")
    vt2.protectBranch("main")
    assertThrows[IllegalStateException](vt2.commitStaged("main", "blocked"))
    assert(vt2.head("main").get.version === 0, "staged work must not leak into history")
    assert(vt2.hasStaged("main"), "the refusal must not destroy the staged snapshot")
    assert(vt2.unprotectBranch("main"))
    vt2.commitStaged("main", "staged survives the freeze")
    assert(vt2.read(spark, "main").as[(Int, String)].collect() === Array((9, "z")))
  }

  test("tag CAS race: one winner; a tag landing just before the sweep pins its commit") {
    val vt = freshVt("tag_race")
    vt.write(Seq((1, "a")).toDF("k", "v"), "main", "v0")
    val c0 = vt.head("main").get
    vt.write(Seq((2, "b")).toDF("k", "v"), "main", "v1")
    val c1 = vt.head("main").get
    // two release managers race the same tag name at different commits: the
    // metadata CAS (putIfAbsent) picks exactly one winner, the loser gets
    // the documented error, and the tag resolves to the winner's commit
    val results = new java.util.concurrent.ConcurrentHashMap[String, Throwable]()
    val ts = Seq(c0, c1).map(c => new Thread(() =>
      try { vt.createTagAt("rel", c.id); () }
      catch { case e: Throwable => results.put(c.id, e); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(results.size === 1, s"exactly one racer must lose, got ${results.size} losers")
    val winner = if (results.containsKey(c0.id)) c1 else c0
    assert(vt.tags === Seq("rel" -> winner.id))
    // tag-during-vacuum (r13 verdict #6): v0 is outside retention when the
    // tag lands moments before the sweep — the sweep must honor it
    vt.createTagAt("pin-v0", c0.id)
    vt.vacuum(retainLast = 1)
    assert(vt.readTag(spark, "pin-v0").as[(Int, String)].collect() === Array((1, "a")),
      "a tag landing before the sweep must pin its commit's files")
  }

  test("pre-merge hook veto racing a target writer: merge aborts whole, retry merges the new base") {
    val vt = freshVt("merge_veto_race")
    vt.write(Seq((1, "a")).toDF("k", "v"), "main", "v0")
    vt.createBranch("dev", from = "main")
    vt.write(Seq((2, "b")).toDF("k", "v"), "dev", "dev append", mode = "append")
    // the hook plays a racing writer: it advances the TARGET branch and then
    // vetoes this merge — the veto must abort atomically (no half-merge),
    // with the racer's append already durable
    var raced = false
    vt.addPreMergeHook("racer-veto") { (_, into) =>
      if (into == "main" && !raced) {
        raced = true
        vt.write(Seq((3, "c")).toDF("k", "v"), "main", "racer append", mode = "append")
        throw new IllegalStateException("veto: target moved under the merge")
      }
    }
    val e = intercept[IllegalStateException](vt.merge("dev", "main"))
    assert(e.getMessage.contains("veto") || e.getMessage.contains("racer-veto"))
    assert(raced && vt.head("main").get.message === "racer append",
      "the racer's append must be durable; the merge must have published nothing")
    vt.removePreMergeHook("racer-veto")
    // retry: the base has MOVED (disjoint appends on both sides) — the 3-way
    // merge unions both, nothing from the aborted attempt leaks in
    vt.merge("dev", "main")
    assert(vt.read(spark, "main").as[(Int, String)].collect().sortBy(_._1)
      === Array((1, "a"), (2, "b"), (3, "c")))
  }

  test("update rewrites matched rows copy-on-write; RHS sees OLD values; stats prune") {
    val vt = freshVt("update")
    vt.write(Seq((1, 10, 100), (2, 20, 200), (3, 30, 300)).toDF("k", "a", "b"), "main", "v0")
    // simultaneous assignment: SET a = b, b = a swaps (both RHS see old row)
    val c = vt.update(spark, "k = 2", Map("a" -> "b", "b" -> "a"))
    assert(c.version === 1)
    assert(vt.read(spark, "main").as[(Int, Int, Int)].collect().sortBy(_._1)
      === Array((1, 10, 100), (2, 200, 20), (3, 30, 300)))
    assert(vt.readVersion(spark, "main", 0).count() === 3) // time travel intact
    // schema never drifts: RHS is cast to the column's existing type
    val c2 = vt.update(spark, "k = 1", Map("a" -> "a * 2.7"))
    assert(c2.schemaJson === c.schemaJson)
    assert(vt.read(spark, "main").where("k = 1").select("a").as[Int].head() === 27)
    // NULL predicate leaves the row unchanged; no-match update is a no-op
    val vtN = freshVt("update_null")
    vtN.write(Seq((1, Some("a")), (2, None)).toDF("k", "v"), "main", "v0")
    vtN.update(spark, "v = 'a'", Map("k" -> "k + 100"))
    assert(vtN.read(spark, "main").select("k").as[Int].collect().sorted === Array(2, 101))
    val h = vtN.head("main").get
    assert(vtN.update(spark, "v = 'zzz'", Map("k" -> "0")).id === h.id)
    // unknown SET column is rejected, not silently added
    assertThrows[IllegalArgumentException](vtN.update(spark, "true", Map("nope" -> "1")))
    // stats pruning: out-of-range predicate is a metadata-only no-op, and an
    // in-range point update carries the untouched files unchanged
    val vtP = freshVt("update_prune")
    val nation = Tables.nation(spark, sf).select("n_nationkey", "n_name", "n_regionkey")
    val p0 = vtP.write(nation.repartitionByRange(4, col("n_nationkey")), "main", "v0",
      statsCols = Seq("n_nationkey"))
    assert(vtP.update(spark, "n_nationkey = 9999", Map("n_name" -> "'X'")).id === p0.id)
    val p1 = vtP.update(spark, "n_nationkey = 3", Map("n_name" -> "'REDACTED'"))
    assert(vtP.read(spark, "main").where("n_nationkey = 3")
      .select("n_name").as[String].head() === "REDACTED")
    assert((p0.files.toSet intersect p1.files.toSet).nonEmpty, "untouched files carry")
    // CDC: exactly one delete (before-image) + one insert (after-image)
    val cdc = vtP.changes(spark, "main", 0, 1)
      .select("change_type", "n_nationkey", "n_name")
      .as[(String, Int, String)].collect().sortBy(r => (r._1, r._2))
    assert(cdc.count(_._1 === "delete") === 1 && cdc.count(_._1 === "insert") === 1)
    assert(cdc.find(_._1 === "insert").get._3 === "REDACTED")
  }

  test("delete prunes files via commit-log stats before scanning") {
    import org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression
    val vt = freshVt("delete_prune")
    val nation = Tables.nation(spark, sf).select("n_nationkey", "n_name", "n_regionkey")
    val c0 = vt.write(nation.repartitionByRange(4, col("n_nationkey")), "main",
      "v0", statsCols = Seq("n_nationkey"))
    // bounds extraction: conjuncts intersect, both orientations, junk ignored
    val b = vt.predicateBounds(parseExpression("n_nationkey >= 3 AND 7 > n_nationkey AND f(n_name) = 'x'"))
    assert(b === Map("n_nationkey" -> (3.0, 7.0)))
    assert(vt.predicateBounds(parseExpression("n_nationkey = 5 OR n_regionkey = 1")).isEmpty)
    // string bounds: equality and ranges, both orientations, under byte order
    assert(vt.predicateStrBounds(parseExpression("n_name = 'CHINA' AND n_nationkey = 1"))
      === Map("n_name" -> (Some("CHINA"), Some("CHINA"))))
    assert(vt.predicateStrBounds(parseExpression("n_name >= 'B' AND 'M' > n_name"))
      === Map("n_name" -> (Some("B"), Some("M"))))
    // a predicate provably outside every file's range: no scan, no version
    val same = vt.delete(spark, "n_nationkey = 9999")
    assert(same.id === c0.id, "stats-excluded delete must be a metadata-only no-op")
    // a point delete in range still deletes correctly (residual exactness)
    val c1 = vt.delete(spark, "n_nationkey = 3")
    assert(c1.version === 1)
    assert(vt.read(spark, "main").where("n_nationkey = 3").count() === 0)
    assert((c0.files.toSet intersect c1.files.toSet).nonEmpty, "untouched files carry")
    // string stats prune the same way: a key beyond every file's byte-order
    // max is a metadata no-op; an in-range string delete stays exact
    val vtS = freshVt("delete_prune_str")
    val cS0 = vtS.write(nation.repartitionByRange(4, col("n_name")), "main", "v0",
      statsCols = Seq("n_name"))
    assert(vtS.delete(spark, "n_name = 'zzzz'").id === cS0.id)
    val cS1 = vtS.delete(spark, "n_name = 'CHINA'")
    assert(vtS.read(spark, "main").where("n_name = 'CHINA'").count() === 0)
    assert((cS0.files.toSet intersect cS1.files.toSet).nonEmpty)
  }

  test("merge-on-read delete: no data rewrite, correct reads, CDC, compact materialization, vacuum safety") {
    val vt = freshVt("dv")
    val nation = Tables.nation(spark, sf).select("n_nationkey", "n_name", "n_regionkey")
    val c0 = vt.write(nation.repartitionByRange(4, col("n_nationkey")), "main", "v0",
      statsCols = Seq("n_nationkey"))
    // DV delete: SAME file list, no data rewritten, one small DV added
    val c1 = vt.deleteWithVectors(spark, "n_nationkey < 3")
    assert(c1.files.sorted === c0.files.sorted, "merge-on-read must not rewrite data files")
    assert(c1.dvs.nonEmpty && c0.dvs.isEmpty)
    assert(vt.read(spark, "main").where("n_nationkey < 3").count() === 0)
    assert(vt.read(spark, "main").count() === nation.count() - 3)
    // time travel to v0 still sees everything
    assert(vt.readVersion(spark, "main", 0).count() === nation.count())
    // stacked DV deletes compose; already-deleted rows are not re-recorded
    val c2 = vt.deleteWithVectors(spark, "n_nationkey < 5")
    assert(c2.files.sorted === c0.files.sorted && c2.dvs.valuesIterator.map(_.cardinality).sum >
      c1.dvs.valuesIterator.map(_.cardinality).sum)
    assert(vt.read(spark, "main").count() === nation.count() - 5)
    // a no-match DV delete is a no-op (stats-pruned, no version churn)
    assert(vt.deleteWithVectors(spark, "n_nationkey = 9999").id === c2.id)
    // CDC: the DV interval reports exactly the deleted rows, file-granularly
    val chg = vt.changes(spark, "main", 0, 1)
    assert(chg.where("change_type = 'delete'").count() === 3)
    assert(chg.where("change_type = 'insert'").count() === 0)
    // the CDC scan touches only DV-affected data files, not the whole snapshot
    assert(chg.inputFiles.length < c0.files.size + c1.allFiles.count(_.endsWith(".bin")) + 1)
    // appends on top keep the DVs live
    vt.write(nation.where(col("n_nationkey") === 0).limit(1), "main", "re-add", mode = "append")
    assert(vt.read(spark, "main").count() === nation.count() - 5 + 1)
    // compact materializes deletions and drops the vectors
    val cc = vt.compact(spark, "main", numFiles = 2)
    assert(cc.dvs.isEmpty)
    assert(vt.read(spark, "main").count() === nation.count() - 5 + 1)
    // vacuum with full retention keeps every DV file; deep retention drops
    // old versions but the head keeps reading correctly
    assert(vt.vacuum(retainLast = 10) === 0)
    vt.vacuum(retainLast = 1)
    assert(vt.read(spark, "main").count() === nation.count() - 5 + 1)
  }

  test("merge-on-read deletes compose across branches; revert restores deleted rows") {
    val vt = freshVt("dv_merge")
    vt.write(df(1, 2, 3, 4), "main", "v0")
    vt.createBranch("dev", "main")
    vt.deleteWithVectors(spark, "x = 1", "main")
    // dev appends while main MOR-deletes: clean union merge, both effects land
    vt.write(df(9), "dev", "append", mode = "append")
    vt.merge("dev", "main")
    assert(vt.read(spark, "main").as[Int].collect().sorted === Array(2, 3, 4, 9))
    // an overwrite side vs a MOR-delete side is a loud conflict
    vt.createBranch("ow", "main")
    vt.write(df(7), "ow", "overwrite")
    vt.deleteWithVectors(spark, "x = 2", "main")
    intercept[IllegalStateException](vt.merge("ow", "main"))
    // revert across a DV delete resurrects the rows, and CDC reports them
    val preDelete = vt.head("main").get.version - 1
    vt.revert("main", preDelete)
    assert(vt.read(spark, "main").as[Int].collect().sorted === Array(2, 3, 4, 9))
    val feed = vt.changes(spark, "main", preDelete + 1, preDelete + 2)
    assert(feed.where("change_type = 'insert'").count() >= 1,
      "resurrected rows must surface as inserts")
  }

  test("cherry-pick transplants a merge-on-read delete's vectors") {
    val vt = freshVt("dv_cherry")
    vt.write(df(1, 2, 3), "main", "v0")
    vt.createBranch("dev", "main")
    vt.deleteWithVectors(spark, "x = 2", "dev")
    vt.cherryPick("dev", 1, into = "main")
    assert(vt.read(spark, "main").as[Int].collect().sorted === Array(1, 3))
  }

  test("cherry-pick transplants one commit's delta; conflicts are loud; empty delta no-ops") {
    val vt = freshVt("cherry")
    vt.write(df(1), "main", "v0")
    vt.createBranch("dev", "main")
    vt.write(df(2), "dev", "dev append 2", mode = "append")
    vt.write(df(3), "dev", "dev append 3", mode = "append")
    // pick ONLY dev@v2 (the 3-append): main gets 1,3 — not 2
    val c = vt.cherryPick("dev", 2, into = "main")
    assert(c.version === 1)
    assert(vt.read(spark, "main").as[Int].collect().sorted === Array(1, 3))
    // no merge parent: the pick does not link the histories
    assert(c.mergeParent.isEmpty)
    // picking the same commit again: its files are already on main → conflict
    intercept[IllegalStateException](vt.cherryPick("dev", 2, into = "main"))
    // an overwrite commit's delta removes its parent's files; a target that
    // never had them conflicts (changed-on-both-sides rule)
    vt.createBranch("other", "dev")
    vt.write(df(9), "other", "overwrite all")
    vt.write(df(7), "main", "main moved on") // main no longer holds dev's files
    intercept[IllegalStateException](vt.cherryPick("other", 3, into = "main"))
    // a revert that lands on its own parent state is an EMPTY delta → no-op
    val devHead = vt.head("dev").get
    vt.revert("dev", devHead.version) // revert to the head itself
    assert(vt.cherryPick("dev", devHead.version + 1, into = "main").id
      === vt.head("main").get.id)
  }

  test("delete works under a table root containing a URI-escaped character") {
    // input_file_name() percent-encodes (space → %20); a raw stripPrefix
    // mapping matched no commit-log entry, classified every file untouched,
    // and DELETE silently committed an identical snapshot
    val uriRoot = Tables.scratch("uri dir" + suiteTag) + "/t 1"
    val vt = VersionedTable.create(uriRoot, storeFor(uriRoot))
    vt.write(df(1, 2, 3), "main", "v0")
    val c = vt.delete(spark, "x = 2")
    assert(c.version === 1, "delete must commit a new version, not no-op")
    assert(vt.read(spark, "main").as[Int].collect().sorted === Array(1, 3))
  }

  test("copy-on-write delete carries untouched files; CDC reports the removed rows") {
    val vt = freshVt("cow_delete")
    val nation = Tables.nation(spark, sf).select("n_nationkey", "n_name", "n_regionkey")
    val c0 = vt.write(nation.repartitionByRange(4, col("n_nationkey")), "main",
      "v0 range layout", statsCols = Seq("n_nationkey"))
    assert(c0.files.size > 1, "need multiple files to prove the carry")
    val c1 = vt.delete(spark, "n_nationkey < 5")
    // only the file(s) containing keys 0-4 are rewritten; the rest carry
    val common = c0.files.toSet intersect c1.files.toSet
    assert(common.nonEmpty, "COW delete must carry untouched files forward")
    c1.files.filterNot(common).foreach(f =>
      assert(c1.stats.get(f).exists(_.contains("n_nationkey")),
        s"rewritten file $f lost its data-skipping stats"))
    // CDC over the interval: exactly the removed rows, as deletes, scanning
    // only the symmetric file difference
    val cdc = vt.changes(spark, "main", 0, 1)
    common.foreach(f => assert(!cdc.inputFiles.exists(_.endsWith(f)),
      s"CDC scanned an untouched common file: $f"))
    val rows = cdc.select("change_type", "n_nationkey")
      .as[(String, Int)].collect().sortBy(_._2)
    assert(rows === (0 until 5).map(("delete", _)).toArray)
    assert(vt.read(spark, "main").count() === nation.count() - 5)
  }

  test("upsert rejects a key-duplicated source before writing anything") {
    val vt = freshVt("upsert_dup")
    vt.write(Seq((1, "a")).toDF("k", "v"), "main", "v0")
    val e = intercept[IllegalArgumentException](
      vt.upsert(spark, Seq((2, "x"), (2, "y")).toDF("k", "v"), keyCols = Seq("k")))
    assert(e.getMessage.contains("not unique"))
    assert(vt.head("main").get.version === 0) // fail-fast: no partial version
  }

  test("deleteBranch drops the ref; vacuum then reclaims unreachable commits") {
    val vt = freshVt("branch_delete")
    vt.write(df(1), "main", "v0")
    vt.createBranch("dev", "main")
    val cDev = vt.write(df(2, 3), "dev", "dev only")
    vt.deleteBranch("dev")
    assert(vt.branches === Seq("main"))
    assertThrows[IllegalArgumentException](vt.read(spark, "dev").collect())
    // main is untouched; dev's now-unreachable files go at the next vacuum
    assert(vt.read(spark, "main").as[Int].collect() === Array(1))
    val deleted = vt.vacuum(retainLast = 1)
    // r20: dev's exclusive manifest is unreachable too (main's manifest
    // predates the branch, so only the dev overwrite's manifest dies)
    assert(deleted === cDev.files.size + 1 && deleted > 0)
    // the last branch is protected
    assertThrows[IllegalArgumentException](vt.deleteBranch("main"))
  }

  test("timestampAsOf resolves the newest commit at or before the timestamp") {
    val vt = freshVt("ts_travel")
    val c0 = vt.write(df(1), "main", "v0")
    Thread.sleep(15)
    val c1 = vt.write(df(2), "main", "v1")
    assert(c1.ts > c0.ts)
    assert(vt.readAsOfTimestamp(spark, "main", c0.ts).as[Int].collect() === Array(1))
    assert(vt.readAsOfTimestamp(spark, "main", c1.ts - 1).as[Int].collect() === Array(1))
    assert(vt.readAsOfTimestamp(spark, "main", c1.ts + 1000).as[Int].collect() === Array(2))
    assertThrows[IllegalArgumentException](
      vt.readAsOfTimestamp(spark, "main", c0.ts - 1))
  }

  test("CHECK constraint rejects the whole batch on the first violating row") {
    val vt = freshVt("check_constraint")
    vt.write(df(1, 2, 3), "main", "v0", check = Some("x > 0"))
    assert(vt.head("main").get.version === 0)
    val e = intercept[IllegalArgumentException](
      vt.write(df(4, -5), "main", "bad", check = Some("x > 0")))
    assert(e.getMessage.contains("CHECK constraint violated"))
    assert(vt.head("main").get.version === 0) // nothing was written
    // NULL passes, per the SQL standard
    vt.write(Seq(Some(7), None).toDF("x"), "main", "nulls ok", check = Some("x > 0"))
    assert(vt.head("main").get.version === 1)
  }

  test("append-only CDC reads only the delta files, never the snapshots") {
    val vt = freshVt("cdc_append")
    vt.write(df(1, 2, 3), "main", "v0")
    val c1 = vt.write(df(4, 5), "main", "v1 append", mode = "append")
    val cdc = vt.changes(spark, "main", 0, 1)
    assert(cdc.select("x").as[Int].collect().sorted === Array(4, 5))
    assert(cdc.select("change_type").distinct().as[String].collect() === Array("insert"))
    // the scan touches exactly the files v1 added — the O(delta) fast path
    val added = c1.files.toSet -- vt.lineage("main").last.files.toSet
    assert(cdc.inputFiles.length === added.size,
      s"CDC read ${cdc.inputFiles.length} files, delta is ${added.size}")
    // an overwrite interval still takes the general exceptAll path
    vt.write(df(9), "main", "v2 overwrite")
    val cdc2 = vt.changes(spark, "main", 1, 2)
    assert(cdc2.where(col("change_type") === "delete").count() === 5)
    assert(cdc2.where(col("change_type") === "insert").as[(Int, String)]
      .collect().map(_._1) === Array(9))
  }

  test("incremental maintenance drops emptied groups and creates new ones") {
    val vt = freshVt("incr_groups")
    val v0 = Seq(("a", 10L), ("a", 20L), ("b", 5L)).toDF("k", "v")
    val v1 = Seq(("a", 10L), ("c", 7L)).toDF("k", "v") // b vanishes, c appears
    vt.write(v0, "main", "v0"); vt.write(v1, "main", "v1")
    val prev = vt.readVersion(spark, "main", 0).groupBy("k")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum_c"))
    val out = ops.Versioned.maintainSumCount(prev,
        vt.changes(spark, "main", 0, 1), Seq("k"), "v")
      .as[(String, Long, Long)].collect().sortBy(_._1)
    assert(out === Array(("a", 1L, 10L), ("c", 1L, 7L)))
    // identity: maintained view == full recompute at v1
    val full = vt.read(spark, "main").groupBy("k")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum_c"))
      .as[(String, Long, Long)].collect().sortBy(_._1)
    assert(out === full)
  }

  test("revert creates a new commit equal to the target version") {
    val vt = freshVt("revert")
    vt.write(df(1, 2), "main", "v0")
    vt.write(df(9), "main", "v1")
    val c = vt.revert("main", 0)
    assert(c.version === 2)
    assert(vt.read(spark, "main").as[Int].collect().sorted === Array(1, 2))
    // history preserved: v1 still time-travelable
    assert(vt.readVersion(spark, "main", 1).as[Int].collect() === Array(9))
  }

  test("vacuum never deletes a file referenced by a retained version") {
    val vt = freshVt("vacuum_safety")
    val commits = (0 until 4).map(i => vt.write(df(i, i + 1), "main", s"v$i"))
    val deleted = vt.vacuum(retainLast = 2)
    assert(deleted > 0)
    // retained: v2 and v3 — all their files must still exist
    commits.drop(2).flatMap(_.files).foreach { f =>
      assert(Files.exists(vt.root.resolve(f)), s"retained file vanished: $f")
    }
    assert(vt.read(spark, "main").as[Int].collect().sorted === Array(3, 4))
    assert(vt.readVersion(spark, "main", 2).as[Int].collect().sorted === Array(2, 3))
    // vacuumed versions now fail to read
    assertThrows[Exception](vt.readVersion(spark, "main", 0).collect())
  }

  test("vacuum respects branch heads, not just the written-to branch") {
    val vt = freshVt("vacuum_branches")
    val c0 = vt.write(df(1), "main", "v0")
    vt.createBranch("old", "main") // pins v0
    vt.write(df(2), "main", "v1")
    vt.vacuum(retainLast = 1)
    c0.files.foreach(f => assert(Files.exists(vt.root.resolve(f)),
      "file referenced by branch 'old' was vacuumed"))
    assert(vt.read(spark, "old").as[Int].collect() === Array(1))
  }

  test("staging: commitStaged publishes, reset discards") {
    val vt = freshVt("staging")
    vt.stage(df(1), "main")
    assert(vt.hasStaged("main"))
    val c = vt.commitStaged("main", "first")
    assert(c.version === 0 && !vt.hasStaged("main"))
    vt.stage(df(99), "main")
    vt.reset("main")
    assert(!vt.hasStaged("main"))
    assert(vt.read(spark, "main").as[Int].collect() === Array(1))
  }

  test("schema evolution: each version replays with its own schema") {
    val vt = freshVt("schema_evo")
    vt.write(Seq((1, "a")).toDF("x", "s"), "main", "v0")
    // a schema-changing overwrite WITHOUT the flag is rejected (Delta semantics)
    val e = intercept[IllegalArgumentException] {
      vt.write(Seq((1, "a", 2.0)).toDF("x", "s", "d"), "main", "v1 wider")
    }
    assert(e.getMessage.contains("overwriteSchema"), s"error should name the flag: $e")
    // with the flag the widening overwrite succeeds
    vt.write(Seq((1, "a", 2.0)).toDF("x", "s", "d"), "main", "v1 wider",
      overwriteSchema = true)
    // v0 still time-travels with its ORIGINAL schema across the change
    assert(vt.readVersion(spark, "main", 0).columns === Array("x", "s"))
    assert(vt.read(spark, "main").columns === Array("x", "s", "d"))
  }

  test("data skipping: stats recorded, files pruned, answers unchanged") {
    import org.apache.spark.sql.functions.col
    val vt = freshVt("skipping")
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
    vt.write(orders.repartitionByRange(8, col("o_orderkey")), "main", "layout",
      statsCols = Seq("o_orderkey"))
    val head = vt.head("main").get
    assert(head.stats.nonEmpty && head.stats.size === head.files.size)
    // round-trip through JSON preserved the stats
    assert(vt.loadCommit(head.id).stats === head.stats)
    val skipped = vt.readWhere(spark, "main", "o_orderkey", 10d, 60d)
    assert(skipped.inputFiles.length < head.files.size,
      s"expected pruning, read ${skipped.inputFiles.length}/${head.files.size} files")
    val expected = orders.where(col("o_orderkey").between(10, 60))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(skipped.select("o_orderkey", "o_custkey")
      .as[(Long, Long)].collect().sorted.toSeq === expected)
    // files without stats are conservatively kept: append without statsCols
    vt.write(orders.limit(5), "main", "no-stats append", mode = "append")
    val all = vt.readWhere(spark, "main", "o_orderkey", 10d, 60d)
    assert(all.count() >= skipped.count())
  }

  test("compaction shrinks the file count, preserves content and history") {
    import org.apache.spark.sql.functions.col
    val vt = freshVt("compact")
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
    val c0 = vt.write(orders.repartition(8), "main", "many small files")
    assert(c0.files.size === 8)
    val c1 = vt.compact(spark, "main", numFiles = 2)
    assert(c1.files.size === 2 && c1.version === 1)
    val before = orders.as[(Long, Long)].collect().sorted.toSeq
    assert(vt.read(spark, "main").as[(Long, Long)].collect().sorted.toSeq === before)
    // the pre-compaction version still time-travels
    assert(vt.readVersion(spark, "main", 0).count() === before.size.toLong)
  }

  test("z-order layout lets stats skip files on EITHER dimension") {
    import org.apache.spark.sql.functions.col
    val vt = freshVt("zorder")
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice")
    val Array(okMin, okMax) = orders.selectExpr("CAST(min(o_orderkey) AS DOUBLE)",
      "CAST(max(o_orderkey) AS DOUBLE)").collect().head.toSeq.map(_.asInstanceOf[Double]).toArray
    val Array(tpMin, tpMax) = orders.selectExpr("min(o_totalprice)", "max(o_totalprice)")
      .collect().head.toSeq.map(_.asInstanceOf[Double]).toArray
    val z = ops.Scale.zValue(col("o_orderkey"), col("o_totalprice"), okMin, okMax, tpMin, tpMax)
    vt.write(orders.withColumn("__z", z).repartitionByRange(8, col("__z"))
      .sortWithinPartitions("__z").drop("__z"),
      "main", "zorder layout", statsCols = Seq("o_orderkey", "o_totalprice"))
    val nFiles = vt.head("main").get.files.size
    val byKey = vt.readWhere(spark, "main", "o_orderkey", okMin, okMin + (okMax - okMin) / 16)
    val byPrice = vt.readWhere(spark, "main", "o_totalprice", tpMin, tpMin + (tpMax - tpMin) / 16)
    assert(byKey.inputFiles.length < nFiles, s"no skipping on o_orderkey: ${byKey.inputFiles.length}/$nFiles")
    assert(byPrice.inputFiles.length < nFiles, s"no skipping on o_totalprice: ${byPrice.inputFiles.length}/$nFiles")
    // answers still exact
    val expected = orders.where(col("o_totalprice").between(tpMin, tpMin + (tpMax - tpMin) / 16)).count()
    assert(byPrice.count() === expected)
  }

  test("commit messages with quotes, newlines and unicode survive the JSON codec") {
    val vt = freshVt("unicode")
    val msg = "tricky \"message\"\nwith newline, tab\t, unicode \u00e9\u4e2d\u6587 and backslash \\"
    val c = vt.write(df(1), "main", msg)
    assert(vt.loadCommit(c.id).message === msg)
    assert(vt.read(spark, "main").as[Int].collect() === Array(1))
  }

  test("concurrent writers on distinct branches all publish consistently") {
    val vt = freshVt("concurrent")
    vt.write(df(0), "main", "root")
    (1 to 6).foreach(i => vt.createBranch(s"b$i", "main"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = (1 to 6).map { i =>
      Future { vt.write(df(i, i * 10), s"b$i", s"branch $i payload") }
    }
    Await.result(Future.sequence(writes), 120.seconds)
    (1 to 6).foreach { i =>
      assert(vt.read(spark, s"b$i").as[Int].collect().sorted === Array(i, i * 10))
      assert(vt.head(s"b$i").get.version === 1)
    }
    assert(vt.read(spark, "main").as[Int].collect() === Array(0)) // untouched
  }

  test("string data skipping: lexicographic stats prune files, answers unchanged") {
    val vt = freshVt("strskip")
    // three appends with disjoint lexicographic ranges → separate files
    vt.write(Seq(("apple", 1), ("banana", 2)).toDF("s", "v").coalesce(1),
      "main", "v0", statsCols = Seq("s", "v"))
    vt.write(Seq(("melon", 3), ("orange", 4)).toDF("s", "v").coalesce(1),
      "main", "v1", mode = "append", statsCols = Seq("s", "v"))
    vt.write(Seq(("watermelon", 5), ("zebra", 6)).toDF("s", "v").coalesce(1),
      "main", "v2", mode = "append", statsCols = Seq("s", "v"))
    val pruned = vt.readWhereString(spark, "main", "s", "m", "p")
    assert(pruned.select("s", "v").as[(String, Int)].collect().sortBy(_._2)
      === Array(("melon", 3), ("orange", 4)))
    // the scan lists ONLY the middle commit's file — that is the skip
    val total = vt.read(spark, "main").inputFiles.length
    assert(total === 3)
    assert(pruned.inputFiles.length === 1,
      s"expected 1 pruned file of $total, got ${pruned.inputFiles.length}")
    // numeric stats still recorded alongside on the same commit
    val prunedNum = vt.readWhere(spark, "main", "v", 5.0, 9.0)
    assert(prunedNum.inputFiles.length === 1)
    // string stats survive the commit-log round-trip (r20: through the
    // manifest codec — loadCommit resolves the references back)
    val head = vt.head("main").get
    val reloaded = vt.loadCommit(head.id)
    assert(reloaded.strStats === head.strStats && head.strStats.nonEmpty)
  }

  test("optimistic concurrency: racing same-branch writers stay linear or fail cleanly") {
    val rootDir = Tables.scratch("test_occ" + suiteTag)
    val vt1 = VersionedTable.create(rootDir, storeFor(rootDir))
    vt1.write(df(0), "main", "v0")
    val vt2 = VersionedTable.open(rootDir, storeFor(rootDir)) // a second "process": separate monitor
    // deterministic CAS check: a rival that already claimed the next slot
    // forces a clean ConcurrentModificationException, not a forked lineage
    graft.vt.CommitLog.claimVersionSlot(Paths.get(rootDir).resolve("locks"), "main", 1L,
      store = vt1.store)
    assertThrows[java.util.ConcurrentModificationException](
      vt1.write(df(9), "main", "stale parent", mode = "append"))
    assert(vt1.head("main").get.version === 0) // nothing published
    vt1.store.delete(Paths.get(rootDir).resolve("locks").resolve("main-v1"))
    // two handles race 5 appends each with retry-on-CME: the outcome must be
    // a LINEAR v0..v10 history containing every writer's commit exactly once
    val threads = Seq(vt1, vt2).zipWithIndex.map { case (h, ti) =>
      new Thread(() => {
        for (i <- 0 until 5) {
          var done = false
          while (!done) {
            try { h.write(df(i), "main", s"w$ti-$i", mode = "append"); done = true }
            catch { case _: java.util.ConcurrentModificationException => Thread.sleep(2) }
          }
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val lin = vt1.lineage("main")
    assert(lin.map(_.version) === (10L to 0L by -1L).toList, "history must be linear, no forks")
    assert(lin.map(_.message).toSet.size === 11, "every commit published exactly once")
    assert(vt1.read(spark, "main").count() === 11L) // v0 row + 10 appended rows
  }

  test("append with a divergent schema is rejected, not silently nulled") {
    val vt = freshVt("append_schema")
    vt.write(df(1, 2), "main", "v0")
    val widened = Seq((3, "extra")).toDF("x", "note")
    val e = intercept[IllegalArgumentException] {
      vt.write(widened, "main", "bad append", mode = "append")
    }
    assert(e.getMessage.contains("append schema mismatch"))
    // overwrite with a changed schema is guarded too (Delta overwriteSchema):
    // rejected by default, accepted with the explicit opt-in
    val e2 = intercept[IllegalArgumentException] {
      vt.write(widened, "main", "accidental clobber")
    }
    assert(e2.getMessage.contains("overwrite schema mismatch"))
    assert(vt.head("main").get.version === 0, "failed overwrite must not publish")
    vt.write(widened, "main", "evolve via overwrite", overwriteSchema = true)
    assert(vt.read(spark, "main").columns.toSeq === Seq("x", "note"))
    assert(vt.readVersion(spark, "main", 0).columns.toSeq === Seq("x"))
    // same-schema overwrite still needs no flag
    vt.write(Seq((4, "more")).toDF("x", "note"), "main", "same schema")
    assert(vt.head("main").get.version === 2)
  }

  test("vacuum reclaims a crashed writer's stale version slot, never a fresh or published one") {
    val vt = freshVt("stale_slot")
    vt.write(df(1), "main", "v0")
    // simulate a writer that claimed v1 and died before publishing
    val locks = vt.root.resolve("locks")
    graft.vt.CommitLog.claimVersionSlot(locks, "main", 1L, store = vt.store)
    val stale = locks.resolve("main-v1")
    // a FRESH unpublished slot is not stolen (in-flight writer)
    vt.vacuum(retainLast = 10)
    assert(vt.store.exists(stale), "fresh slot must survive vacuum")
    val e = intercept[java.util.ConcurrentModificationException] {
      vt.write(df(2), "main", "blocked")
    }
    assert(e.getMessage.contains("already claimed"))
    // age the slot past the staleness horizon → vacuum reclaims it
    backdate(vt.store, stale, staleMs)
    vt.vacuum(retainLast = 10)
    assert(!vt.store.exists(stale), "stale unpublished slot must be reclaimed")
    val c1 = vt.write(df(2), "main", "v1 after recovery")
    assert(c1.version === 1)
    // the PUBLISHED slot is the CAS record: vacuum keeps it however old
    val publishedSlot = locks.resolve("main-v1")
    backdate(vt.store, publishedSlot, staleMs)
    vt.vacuum(retainLast = 10)
    assert(vt.store.exists(publishedSlot), "published slot must never be swept")
  }

  test("orphan replay: an age-gated orphan's files survive vacuum, then the ref advance is replayed") {
    val vt = freshVt("orphan_replay")
    vt.write(df(1), "main", "v0")
    val refPath = vt.root.resolve("refs").resolve("main")
    val v0id = vt.store.read(refPath).trim
    // simulate a writer that crashed AFTER publishing the commit json but
    // BEFORE advancing the ref: do a real write, then wind the ref back
    val c1 = vt.write(df(2, 3), "main", "v1 (ref advance lost)")
    vt.store.put(refPath, v0id)
    // vacuum while the v1 slot is age-gated: the orphan is the pending replay
    // target, so its files must be RETAINED even though no ref reaches it
    vt.vacuum(retainLast = 1)
    assert(c1.files.forall(f => Files.exists(vt.root.resolve(f))),
      "age-gated orphan's data files must survive vacuum")
    // age the slot past the horizon → the next vacuum finishes the publish
    val slot = vt.root.resolve("locks").resolve("main-v1")
    backdate(vt.store, slot, staleMs)
    vt.vacuum(retainLast = 1)
    assert(vt.head("main").map(_.id) === Some(c1.id), "lost ref advance must be replayed")
    assert(vt.read(spark, "main").as[Int].collect().sorted === Array(2, 3),
      "replayed head must be fully readable")
  }

  test("orphan replay: an orphan whose files are already gone is reclaimed, never published") {
    val vt = freshVt("orphan_gone")
    vt.write(df(1), "main", "v0")
    val refPath = vt.root.resolve("refs").resolve("main")
    val v0id = vt.store.read(refPath).trim
    val c1 = vt.write(df(2), "main", "v1 (ref advance lost)")
    vt.store.put(refPath, v0id)
    // simulate the pre-fix hazard: the orphan's data files were swept while
    // its slot was still age-gated — replaying the ref would publish a head
    // that cannot be read
    c1.files.foreach(f => Files.deleteIfExists(vt.root.resolve(f)))
    val slot = vt.root.resolve("locks").resolve("main-v1")
    backdate(vt.store, slot, staleMs)
    vt.vacuum(retainLast = 1)
    assert(vt.head("main").map(_.id) === Some(v0id), "a file-less orphan must not become head")
    assert(!vt.store.exists(slot), "the garbage orphan's slot must be reclaimed")
    assert(!vt.store.exists(vt.root.resolve("commits").resolve(c1.id + ".json")),
      "the garbage orphan's commit json must be reclaimed")
    // the branch is un-wedged: a retry lands on the same version
    val retry = vt.write(df(9), "main", "v1 retry")
    assert(retry.version === 1L)
    assert(vt.read(spark, "main").as[Int].collect() === Array(9))
  }

  test("a genuine crashed FIRST commit on a new branch is replayed (v0 orphan, nothing else)") {
    val vt = freshVt("v0_replay")
    vt.write(df(1), "main", "m0")
    vt.write(df(7), "dev", "d0") // real v0 on a new branch...
    vt.store.delete(vt.root.resolve("refs").resolve("dev")) // ...whose ref write was lost
    val slot = vt.root.resolve("locks").resolve("dev-v0")
    backdate(vt.store, slot, staleMs)
    vt.vacuum(retainLast = 10)
    assert(vt.branches.contains("dev"), "crashed first commit must be replayed")
    assert(vt.read(spark, "dev").as[Int].collect() === Array(7))
  }

  test("a crashed deleteBranch's leftover slots never resurrect the deleted branch") {
    val vt = freshVt("no_resurrect")
    vt.write(df(1), "main", "m0")
    vt.write(df(2), "dev", "d0")
    vt.write(df(3), "dev", "d1", mode = "append")
    // the OLD deleteBranch order crashing mid-way: ref removed, slots left
    vt.store.delete(vt.root.resolve("refs").resolve("dev"))
    Seq("dev-v0", "dev-v1").foreach(s =>
      backdate(vt.store, vt.root.resolve("locks").resolve(s), staleMs))
    vt.vacuum(retainLast = 10)
    assert(vt.branches === Seq("main"),
      "vacuum must not recreate a deleted branch from its leftover slots")
  }

  test("long string stats truncate to sound bounded commit-log values; pruning exact, metadata MIN/MAX refuses") {
    val vt = freshVt("stats_trunc")
    val limit = VersionedTable.StatsStringMaxLen
    // document-length values: two files whose stats column would otherwise
    // stream ~100-char strings into the commit log per file
    val aLo = "A" * 100 + "m"; val aHi = "A" * 100 + "z"
    val qLo = "Q" * 100 + "a"; val qHi = "Q" * 100 + "q"
    vt.write(Seq((aLo, "s1"), (aHi, "s2")).toDF("s", "t").coalesce(1),
      "main", "A", statsCols = Seq("s", "t"))
    vt.write(Seq((qLo, "s3"), (qHi, "s4")).toDF("s", "t").coalesce(1),
      "main", "Q", mode = "append", statsCols = Seq("s", "t"))
    val head = vt.head("main").get
    val bounds = head.files.map(f => head.strStats(f)("s"))
    assert(bounds.size === 2)
    bounds.foreach { case (mn, mx) =>
      assert(mn.codePointCount(0, mn.length) <= limit, "stored min bounded")
      assert(mx.codePointCount(0, mx.length) <= limit, "stored max bounded")
    }
    // the truncated bounds are SOUND: stored min ≤ true min, stored max ≥ true max
    val (aMn, aMx) = bounds.minBy(_._1)
    assert(VersionedTable.utf8Cmp(aMn, aLo) <= 0 && VersionedTable.utf8Cmp(aMx, aHi) >= 0)
    // pruning through the truncated stats: an A-prefix band reads ONE file
    // and returns exactly the A rows
    val band = vt.readWhereString(spark, "main", "s", "A" * 50, "B")
    assert(band.inputFiles.length === 1, "the Q file must prune on truncated stats")
    assert(band.select("s").as[String].collect().sorted === Array(aLo, aHi))
    // a band beyond every bound prunes everything (and loses no rows)
    assert(vt.readWhereString(spark, "main", "s", "ZZ", "Zz").count() === 0L)
    // metadata MIN/MAX refuses the truncated column (the stored max is a
    // BOUND, not a value) but still answers the short column exactly
    assert(vt.minMaxStringFromStats(head, "s").isEmpty,
      "truncated stats must not answer exact MIN/MAX")
    assert(vt.minMaxStringFromStats(head, "t") === Some(("s1", "s4")))
    // the scan fallback the refusal implies is exact
    assert(vt.read(spark, "main").agg(min($"s"), max($"s"))
      .as[(String, String)].head() === ((aLo, qHi)))
  }

  test("string skip-read prunes under UTF-8 byte order, not UTF-16 code units") {
    val vt = freshVt("utf8_skip")
    // one file whose max is a supplementary-plane char: in UTF-8 bytes
    // U+1F600 (F0 9F 98 80) sorts ABOVE U+FFFD (EF BF BD), but its UTF-16
    // surrogates (D83D DE00) sort BELOW — a Java-String prune would skip
    // the file and silently lose the matching U+FFFD row
    val data = Seq("a", "�", "😀").toDF("s").coalesce(1)
    vt.write(data, "main", "v0", statsCols = Seq("s"))
    val rows = vt.readWhereString(spark, "main", "s", "�", "�")
      .as[String].collect()
    assert(rows === Array("�"))
  }

  test("all-null stats column yields no stats (kept conservatively), commit succeeds") {
    val vt = freshVt("null_stats")
    val data = Seq((1, None: Option[Double]), (2, None)).toDF("x", "v")
    val c = vt.write(data, "main", "nulls", statsCols = Seq("v", "x"))
    // x has stats; v (all null) is omitted from every file's stats map
    assert(c.stats.values.forall(m => m.contains("x") && !m.contains("v")))
    // skip-read on the stats-less column keeps all files and still answers
    val rows = vt.readWhere(spark, "main", "v", 0.0, 1.0).count()
    assert(rows === 0) // residual filter applies; nothing matches but no NPE/loss
  }

  test("commit publication is atomic: no partial refs/commits on disk") {
    val vt = freshVt("atomic")
    vt.write(df(1), "main", "v0")
    val refs = vt.store.list(vt.root.resolve("refs")).map(_.getFileName.toString)
    assert(refs === Vector("main"))
    val commits = vt.store.list(vt.root.resolve("commits"))
    assert(commits.forall(_.getFileName.toString.endsWith(".json")))
    assert(!commits.exists(_.getFileName.toString.contains(".tmp")))
  }

  test("compactZorder is layout-only (rows identical) and makes both dimensions skip") {
    import org.apache.spark.sql.functions.col
    val vt = freshVt("compact_zorder")
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice")
    vt.write(orders, "main", "v0 unclustered") // no stats, no useful layout
    val before = vt.read(spark, "main").as[(Long, Long, Double)].collect().sorted
    val c1 = vt.compactZorder(spark, "main", "o_orderkey", "o_totalprice")
    assert(c1.version === 1)
    // layout-only: the snapshot's rows are untouched
    assert(vt.read(spark, "main").as[(Long, Long, Double)].collect().sorted === before)
    // and EITHER dimension now prunes files via the fresh per-file stats
    val nFiles = c1.files.size
    assert(nFiles > 1)
    val Array(okMin, okMax) = orders.selectExpr("CAST(min(o_orderkey) AS DOUBLE)",
      "CAST(max(o_orderkey) AS DOUBLE)").collect().head.toSeq.map(_.asInstanceOf[Double]).toArray
    val Array(tpMin, tpMax) = orders.selectExpr("min(o_totalprice)", "max(o_totalprice)")
      .collect().head.toSeq.map(_.asInstanceOf[Double]).toArray
    val byKey = vt.readWhere(spark, "main", "o_orderkey", okMin, okMin + (okMax - okMin) / 16)
    val byPrice = vt.readWhere(spark, "main", "o_totalprice", tpMin, tpMin + (tpMax - tpMin) / 16)
    assert(byKey.inputFiles.length < nFiles, s"no skip on key: ${byKey.inputFiles.length}/$nFiles")
    assert(byPrice.inputFiles.length < nFiles, s"no skip on price: ${byPrice.inputFiles.length}/$nFiles")
  }

  test("copy-on-write upsert carries stats-pruned files forward; CDC diffs only the delta files") {
    val vt = freshVt("cow_upsert")
    val nation = Tables.nation(spark, sf).select("n_nationkey", "n_name", "n_regionkey")
    val c0 = vt.write(nation.repartitionByRange(4, col("n_nationkey")), "main",
      "v0 range layout", statsCols = Seq("n_nationkey"))
    assert(c0.files.size > 1, "need multiple files to prove pruning")
    val updates = nation.where(col("n_nationkey") < 5)
      .withColumn("n_name", lower(col("n_name")))
    val c1 = vt.upsert(spark, updates, keyCols = Seq("n_nationkey"))
    // COW: files whose key range is disjoint from [0,4] survive verbatim...
    val common = c0.files.toSet intersect c1.files.toSet
    assert(common.nonEmpty, "COW upsert must carry untouched files forward")
    // ...and keep their data-skipping stats; rewritten files get fresh ones
    c1.files.foreach(f => assert(c1.stats.get(f).exists(_.contains("n_nationkey")),
      s"missing key stats on $f after upsert"))
    // the CDC plan scans ONLY the symmetric difference (common files cancel
    // from commit metadata alone, before any I/O)
    val cdc = vt.changes(spark, "main", 0, 1)
    val scanned = cdc.inputFiles.toSet
    common.foreach(f => assert(!scanned.exists(_.endsWith(f)),
      s"CDC scanned an untouched common file: $f"))
    // row-level delta is exactly the 5 updates (new form in, old form out)
    val byType = cdc.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map("insert" -> 5L, "delete" -> 5L))
    // and the head snapshot reads back merged
    val head = vt.read(spark, "main")
    assert(head.count() === nation.count())
    assert(head.where(col("n_nationkey") < 5)
      .select("n_name").as[String].collect().forall(n => n == n.toLowerCase))
  }

  test("vacuum dryRun counts what a real vacuum would delete and mutates nothing") {
    val vt = freshVt("vacuum_dryrun")
    vt.write(df(1, 2), "main", "v0")
    vt.write(df(3), "main", "v1") // overwrite: v0's files fall out of retainLast=1
    def dataFiles: Set[String] = {
      val w = Files.walk(vt.root.resolve("data"))
      try w.iterator().asScala.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(_.toString).toSet
      finally w.close()
    }
    val before = dataFiles
    val wouldDelete = vt.vacuum(retainLast = 1, dryRun = true)
    assert(wouldDelete > 0)
    assert(dataFiles === before, "dry run deleted files")
    assert(vt.readVersion(spark, "main", 0).as[Int].collect().sorted === Array(1, 2),
      "dry run broke time travel")
    val deleted = vt.vacuum(retainLast = 1)
    assert(deleted === wouldDelete, s"dry-run count $wouldDelete != real $deleted")
    assert(vt.read(spark, "main").as[Int].collect() === Array(3))
  }

  test("upsert edge cases: empty source is a no-op; non-numeric keys fall back to full rewrite") {
    val vt = freshVt("upsert_edges")
    val c0 = vt.write(Seq((1, "a"), (2, "b")).toDF("k", "v"), "main", "v0")
    // empty source: no rewrite, no version churn — the head IS the result
    val same = vt.upsert(spark, Seq.empty[(Int, String)].toDF("k", "v"), Seq("k"))
    assert(same.id === c0.id)
    assert(vt.head("main").get.version === 0)
    // DATE key (not double-castable under ANSI): must not throw, rewrites
    // conservatively, and the merge semantics still hold
    val vtd = freshVt("upsert_date_key")
    val d1 = java.sql.Date.valueOf("2026-01-01")
    val d2 = java.sql.Date.valueOf("2026-02-02")
    vtd.write(Seq((d1, 10), (d2, 20)).toDF("day", "v"), "main", "v0")
    vtd.upsert(spark, Seq((d2, 99), (java.sql.Date.valueOf("2026-03-03"), 30)).toDF("day", "v"), Seq("day"))
    assert(vtd.read(spark, "main").as[(java.sql.Date, Int)].collect().toSet ===
      Set((d1, 10), (d2, 99), (java.sql.Date.valueOf("2026-03-03"), 30)))
  }

  test("signature table advances per corpus commit; screening never scans corpus text") {
    import graft.ext.IncrementalDedup
    val docs = Tables.documents(spark, sf)
    val vt = freshVt("sig_corpus")
    val sigVt = freshVt("sig_table")
    // v0: corpus snapshot → one-time signature build at the same version
    vt.write(docs.where(col("doc_id") % 5 =!= 0), "main", "v0")
    IncrementalDedup.maintainSignatureTable(vt, sigVt)
    assert(sigVt.head("main").map(_.version) === Some(0L))
    val corpusCount = vt.readVersion(spark, "main", 0).count()
    assert(sigVt.readVersion(spark, "main", 0).count() === corpusCount)
    // v1: append increment → signature table advances O(delta), in lockstep
    vt.write(docs.where(col("doc_id") % 5 === 0), "main", "v1", mode = "append")
    IncrementalDedup.maintainSignatureTable(vt, sigVt)
    assert(sigVt.head("main").map(_.version) === Some(1L))
    assert(sigVt.read(spark, "main").count() === docs.count())
    // maintenance is idempotent: already caught up → no new version
    IncrementalDedup.maintainSignatureTable(vt, sigVt)
    assert(sigVt.head("main").map(_.version) === Some(1L))
    // sig rows carry signatures, never text
    assert(!sigVt.read(spark, "main").columns.contains("text"))

    // THE scale claim: the screening plan reads the signature table and the
    // increment's v0→v1 delta files — not one byte of corpus v0 text
    val profile = IncrementalDedup.profileAgainstSignatures(
      vt, sigVt, corpusVersion = 0, incTo = 1)
    val corpusFiles = vt.readVersion(spark, "main", 0).inputFiles.toSet
    val scanned = profile.inputFiles.toSet
    assert(scanned.intersect(corpusFiles).isEmpty,
      s"profile scans corpus snapshot files: ${scanned.intersect(corpusFiles)}")
    assert(scanned.exists(_.contains("sig_table")), "profile must read the signature table")
    assert(profile.count() > 0)

    // non-append interval (overwrite) falls back to a full signature rebuild
    vt.write(docs.where(col("doc_id") % 7 === 0), "main", "v2 overwrite")
    IncrementalDedup.maintainSignatureTable(vt, sigVt)
    assert(sigVt.head("main").map(_.version) === Some(2L))
    assert(sigVt.read(spark, "main").count() ===
      docs.where(col("doc_id") % 7 === 0).count())

    // THE O(increment) pin (r13 advice): catch-up must read only the
    // interval's commit metadata, never the full lineage. Make the old
    // commits UNREADABLE — if maintenance walked O(history) it would crash
    // here; the commitRange walk (head down to from-1) never touches them.
    vt.write(docs.where(col("doc_id") % 11 === 0), "main", "v3", mode = "append")
    vt.write(docs.where(col("doc_id") % 13 === 0), "main", "v4", mode = "append")
    val staleIds = vt.lineage("main").filter(_.version < 2).map(_.id)
    assert(staleIds.size === 2, "v0 and v1 should be below the catch-up interval")
    staleIds.foreach(id =>
      vt.store.delete(vt.root.resolve("commits").resolve(id + ".json")))
    IncrementalDedup.maintainSignatureTable(vt, sigVt) // from=3: walks v4→v3→v2 only
    assert(sigVt.head("main").map(_.version) === Some(4L))
    assert(sigVt.read(spark, "main").count() === vt.read(spark, "main").count())
  }

  test("passage table advances per corpus commit; census never scans corpus text") {
    import graft.ext.IncrementalPassages
    val docs = Tables.documents(spark, sf)
    val vt = freshVt("pass_corpus")
    val sigVt = freshVt("pass_table")
    vt.write(docs.where(col("doc_id") % 5 =!= 0), "main", "v0")
    IncrementalPassages.maintainPassageTable(vt, sigVt)
    assert(sigVt.head("main").map(_.version) === Some(0L))
    vt.write(docs.where(col("doc_id") % 5 === 0), "main", "v1", mode = "append")
    IncrementalPassages.maintainPassageTable(vt, sigVt)
    assert(sigVt.head("main").map(_.version) === Some(1L))
    // idempotent once caught up
    IncrementalPassages.maintainPassageTable(vt, sigVt)
    assert(sigVt.head("main").map(_.version) === Some(1L))
    // the relation carries digests + ordinals, never window or document text
    assert(sigVt.read(spark, "main").columns.sorted === Array("cnt", "doc_id", "h", "idxs"))

    // THE scale claim: census and cut-list plans read ONLY the persisted
    // relation — not one byte of corpus text
    val sigs = sigVt.read(spark, "main")
    val census = IncrementalPassages.censusFrom(sigs)
    val corpusFiles = vt.read(spark, "main").inputFiles.toSet
    assert(census.inputFiles.toSet.intersect(corpusFiles).isEmpty,
      "census must not scan corpus files")
    assert(IncrementalPassages.cutListFrom(sigs).inputFiles.toSet
      .intersect(corpusFiles).isEmpty, "cut-list must not scan corpus files")

    // persisted path ≡ recompute path over the same corpus — the
    // maintenance-correctness identity (same oracle the driver replays)
    val recompute = graft.ext.TextAnalysis.qRepeatedPassages.impl(spark, sf)
      .collect().toSeq
    assert(census.collect().toSeq === recompute)

    // O(increment) catch-up: delete pre-interval commit metadata; a full
    // lineage walk would crash, commitRange never touches it
    vt.write(docs.where(col("doc_id") % 11 === 0), "main", "v2", mode = "append")
    vt.write(docs.where(col("doc_id") % 13 === 0), "main", "v3", mode = "append")
    val staleIds = vt.lineage("main").filter(_.version < 1).map(_.id)
    staleIds.foreach(id =>
      vt.store.delete(vt.root.resolve("commits").resolve(id + ".json")))
    IncrementalPassages.maintainPassageTable(vt, sigVt) // walks v3→v2→v1 only
    assert(sigVt.head("main").map(_.version) === Some(3L))
  }

  test("mergeInto: full MERGE semantics — conditional update/delete/insert, by-source, clause order, null fill") {
    import graft.vt.MergeClause
    val vt = freshVt("merge_into")
    // target: k 1..8, v = k*10, tag = "old"
    vt.write((1L to 8L).map(k => (k, k * 10, "old")).toDF("k", "v", "tag"), "main", "v0")
    // source: keys 2,3,4,5 (matched), 20,21 (unmatched)
    val src = Seq((2L, 1000L), (3L, -5L), (4L, 777L), (5L, 888L), (20L, 1L), (21L, -1L))
      .toDF("k", "nv")
    val c = vt.mergeInto(spark, src, "t.k = s.k",
      matched = Seq(
        MergeClause.delete(Some("s.nv < 0")),                   // k=3 deleted
        MergeClause.update(Map("v" -> "s.nv"), Some("s.nv > 800")), // k=2,5 (first-wins)
        MergeClause.update(Map("v" -> "s.nv", "tag" -> "'merged'"))), // k=4 only
      notMatched = Seq(
        MergeClause.insert(Map("k" -> "s.k", "v" -> "s.nv"), Some("s.nv > 0")), // k=20; tag → NULL
        MergeClause.insert(Map("k" -> "s.k", "v" -> "0", "tag" -> "'neg'"))),   // k=21
      notMatchedBySource = Seq(
        MergeClause.delete(Some("t.k = 8")),                    // k=8 deleted
        MergeClause.update(Map("tag" -> "'untouched'"), Some("t.k = 1")))) // k=1 retagged
    assert(c.version === 1L)
    val got = vt.read(spark, "main").select("k", "v", "tag")
      .as[(Long, Long, Option[String])].collect().sortBy(_._1)
    assert(got === Array(
      (1L, 10L, Some("untouched")),  // by-source update (second clause)
      (2L, 1000L, Some("old")),      // conditional update fired FIRST (1000 > 800)
      (4L, 777L, Some("merged")),    // fell through to the unconditional update
      (5L, 888L, Some("old")),       // conditional update fired FIRST, tag untouched
      (6L, 60L, Some("old")), (7L, 70L, Some("old")), // no clause applied: kept
      (20L, 1L, None),               // insert with unassigned tag → typed NULL
      (21L, 0L, Some("neg"))),
      "k=3 (matched delete) and k=8 (by-source delete) must be gone")
    // one commit; v0 still travels complete
    assert(vt.readVersion(spark, "main", 0).count() === 8L)
  }

  test("mergeInto: cardinality — ambiguous multi-match fails, benign multi-match kept once") {
    import graft.vt.MergeClause
    val vt = freshVt("merge_card")
    vt.write(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), "main", "v0")
    // two source rows hit k=1 and BOTH apply → Delta's cardinality error
    val dupApply = Seq((1L, 100L), (1L, 200L)).toDF("k", "nv")
    val e = intercept[IllegalArgumentException](vt.mergeInto(spark, dupApply,
      "t.k = s.k", matched = Seq(MergeClause.update(Map("v" -> "s.nv")))))
    assert(e.getMessage.contains("multiple source rows match"), e.getMessage)
    assert(vt.head("main").get.version === 0L, "a refused merge commits nothing")
    // two source rows hit k=1 but only ONE satisfies the clause → that one wins
    val c1 = vt.mergeInto(spark, dupApply, "t.k = s.k",
      matched = Seq(MergeClause.update(Map("v" -> "s.nv"), Some("s.nv = 200"))))
    assert(c1.version === 1L)
    assert(vt.read(spark, "main").as[(Long, Long)].collect().sorted
      === Array((1L, 200L), (2L, 20L)))
    // two source rows hit k=2 and NEITHER applies → row kept exactly once
    val c2 = vt.mergeInto(spark, Seq((2L, 5L), (2L, 6L)).toDF("k", "nv"), "t.k = s.k",
      matched = Seq(MergeClause.update(Map("v" -> "s.nv"), Some("s.nv > 100"))),
      notMatched = Seq(MergeClause.insert(Map("k" -> "s.k", "v" -> "s.nv"))))
    assert(vt.read(spark, "main").where($"k" === 2L).count() === 1L,
      "benign multi-match must not duplicate the kept row")
    assert(c2.version === c1.version,
      "nothing applied anywhere: applicability-exact detection means no rewrite, no churn")
  }

  test("mergeInto: COW file granularity, equi-key pruning, DV interplay, no-op no-churn") {
    import graft.vt.MergeClause
    val vt = freshVt("merge_cow")
    def part(lo: Long, hi: Long) = (lo to hi).map(k => (k, k)).toDF("k", "v").coalesce(1)
    vt.write(part(1, 10), "main", "A", statsCols = Seq("k"))
    vt.write(part(11, 20), "main", "B", mode = "append", statsCols = Seq("k"))
    vt.write(part(21, 30), "main", "C", mode = "append", statsCols = Seq("k"))
    // MOR delete first: merge must match LIVE rows only
    vt.deleteWithVectors(spark, "k = 12", "main")
    val before = vt.head("main").get
    // source touches only the middle file's range; k=12 is dead so it INSERTS
    val src = Seq((12L, 1200L), (13L, 1300L)).toDF("k", "nv")
    val c = vt.mergeInto(spark, src, "t.k = s.k",
      matched = Seq(MergeClause.update(Map("v" -> "s.nv"))),
      notMatched = Seq(MergeClause.insert(Map("k" -> "s.k", "v" -> "s.nv"))))
    val after = vt.head("main").get
    val carried = before.files.toSet.intersect(after.files.toSet)
    assert(carried.size === 2,
      s"equi-key stats pruning + exact detection must carry files A and C: $carried")
    carried.foreach(f => assert(after.stats(f) === before.stats(f),
      "carried files keep their stats entries"))
    val got = vt.read(spark, "main").where($"k".between(11, 14))
      .as[(Long, Long)].collect().sorted
    assert(got === Array((11L, 11L), (12L, 1200L), (13L, 1300L), (14L, 14L)),
      "dead k=12 must REINSERT (not resurrect), live k=13 must update")
    assert(vt.read(spark, "main").count() === 30L, "29 live + 1 insert")
    // no-op merge: nothing matches, nothing inserts → same head, no churn
    val noop = vt.mergeInto(spark, Seq((999L, 1L)).toDF("k", "nv"), "t.k = s.k",
      matched = Seq(MergeClause.update(Map("v" -> "s.nv"))))
    assert(noop.version === c.version, "a no-op merge must not commit")
    val noopIns = vt.mergeInto(spark, Seq((13L, 1L)).toDF("k", "nv"), "t.k = s.k",
      notMatched = Seq(MergeClause.insert(Map("k" -> "s.k", "v" -> "s.nv"))))
    assert(noopIns.version === c.version, "insert-only merge with zero inserts: no churn")
    // validation: unknown assignment column, bad kinds, reserved source columns
    intercept[IllegalArgumentException](vt.mergeInto(spark, src, "t.k = s.k",
      matched = Seq(MergeClause.update(Map("nope" -> "1")))))
    intercept[IllegalArgumentException](vt.mergeInto(spark, src, "t.k = s.k",
      notMatched = Seq(MergeClause.update(Map("v" -> "1")))))
    intercept[IllegalArgumentException](vt.mergeInto(spark, src, "t.k = s.k"))
    intercept[IllegalArgumentException](vt.mergeInto(spark,
      src.withColumnRenamed("nv", "__graft_fk"), "t.k = s.k",
      matched = Seq(MergeClause.delete())))
  }

  test("mergeInto: STRING equi-key pruning skips files by strStats — ghost file proves the skip") {
    import graft.vt.MergeClause
    val vt = freshVt("merge_str_prune")
    def part(lo: Int, hi: Int) =
      (lo to hi).map(i => (f"id-$i%04d", i.toLong)).toDF("k", "v").coalesce(1)
    vt.write(part(1, 10), "main", "A", statsCols = Seq("k"))
    vt.write(part(11, 20), "main", "B", mode = "append", statsCols = Seq("k"))
    vt.write(part(21, 30), "main", "C", mode = "append", statsCols = Seq("k"))
    val before = vt.head("main").get
    // the candidate decision itself (pure metadata): a banded string source
    // range keeps only the middle file
    assert(vt.mergeCandidates(before, Map.empty,
      Map("k" -> ("id-0012", "id-0013"))).size === 1)
    // ghost proof the detection scan NEVER opens a pruned file: physically
    // move file A (range id-0001..id-0010, disjoint from the source band)
    // away — the merge must succeed without reading it
    val aFile = before.files.find(f =>
      VersionedTable.utf8Cmp(before.strStats(f)("k")._2, "id-0011") < 0).get
    val ghostTmp = vt.root.resolve("ghost_tmp.parquet")
    java.nio.file.Files.move(vt.root.resolve(aFile), ghostTmp)
    val src = Seq(("id-0012", 1200L), ("id-9999", 9999L)).toDF("k", "nv")
    val c = vt.mergeInto(spark, src, "t.k = s.k",
      matched = Seq(MergeClause.update(Map("v" -> "s.nv"))),
      notMatched = Seq(MergeClause.insert(Map("k" -> "s.k", "v" -> "s.nv"))))
    assert(c.files.contains(aFile), "the pruned file is carried untouched")
    assert(before.files.toSet.intersect(c.files.toSet).size === 2,
      "only file B is rewritten; A (pruned) and C (exact detection) carry")
    java.nio.file.Files.move(ghostTmp, vt.root.resolve(aFile))
    val got = vt.read(spark, "main").where($"k".isin("id-0001", "id-0012", "id-9999"))
      .as[(String, Long)].collect().sorted
    assert(got === Array(("id-0001", 1L), ("id-0012", 1200L), ("id-9999", 9999L)))
  }

  test("mergeInto WITH SCHEMA EVOLUTION: nullable widening, untouched-file null fill, old-schema time travel, refusal without the flag") {
    import graft.vt.MergeClause
    val vt = freshVt("merge_evolve")
    def part(lo: Long, hi: Long) = (lo to hi).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1)
    vt.write(part(1, 5), "main", "A", statsCols = Seq("k"))
    vt.write(part(6, 10), "main", "B", mode = "append", statsCols = Seq("k"))
    val before = vt.head("main").get
    val src = Seq((7L, "B7", 70L), (99L, "C99", 990L)).toDF("k", "v", "extra")
    // without the flag, a source-only assignment fails loudly and names the dial
    val e = intercept[IllegalArgumentException](vt.mergeInto(spark, src, "t.k = s.k",
      matched = Seq(MergeClause.update(Map("extra" -> "s.extra")))))
    assert(e.getMessage.contains("schemaEvolution"))
    val c = vt.mergeInto(spark, src, "t.k = s.k",
      matched = Seq(MergeClause.update(Map("v" -> "s.v", "extra" -> "s.extra"))),
      notMatched = Seq(MergeClause.insert(
        Map("k" -> "s.k", "v" -> "s.v", "extra" -> "s.extra"))),
      schemaEvolution = true)
    // file A's key range is disjoint from the source: carried UNTOUCHED with
    // its 2-column parquet — the widened read null-fills it
    assert(before.files.toSet.intersect(c.files.toSet).size === 1,
      "equi-key pruning must carry the untouched pre-evolution file")
    val head = vt.read(spark, "main")
    assert(head.schema.fieldNames.toSeq === Seq("k", "v", "extra"))
    assert(head.schema("extra").nullable, "an evolved column is always nullable")
    val got = head.as[(Long, String, Option[Long])].collect().toSet
    assert(got.contains((1L, "v1", None)), "untouched-file rows read null")
    assert(got.contains((6L, "v6", None)), "kept rows in the rewritten file read null")
    assert(got.contains((7L, "B7", Some(70L))) && got.contains((99L, "C99", Some(990L))))
    assert(got.size === 11)
    // time travel across the widening: v1 keeps its OWN pinned 2-col schema
    val v1 = vt.readVersion(spark, "main", 1)
    assert(v1.schema.fieldNames.toSeq === Seq("k", "v"))
    assert(v1.count() === 10L)
    // a source column differing only in CASE matches the existing column
    // (Spark's default resolver) — it must never mint a duplicate field,
    // which would make every later read fail parquet's duplicate check
    val caseSrc = Seq((1L, "V1-up", 111L)).toDF("k", "V", "EXTRA")
    vt.mergeInto(spark, caseSrc, "t.k = s.k",
      matched = Seq(MergeClause.update(Map("v" -> "s.V", "extra" -> "s.EXTRA"))),
      schemaEvolution = true)
    val after = vt.read(spark, "main")
    assert(after.schema.fieldNames.toSeq === Seq("k", "v", "extra"),
      "case-variant source columns must not widen the schema again")
    assert(after.where($"k" === 1L).as[(Long, String, Option[Long])].head()
      === ((1L, "V1-up", Some(111L))))
  }

  test("mergeInto loses a version-slot race cleanly; the retry merges against the new head") {
    import graft.vt.MergeClause
    val vt1 = freshVt("merge_race")
    val vt2 = VersionedTable.open(vt1.root.toString, storeFor(vt1.root.toString))
    vt1.write((1L to 4L).map(k => (k, k * 10)).toDF("k", "v"), "main", "v0")
    // a concurrent writer lands BETWEEN vt1's merge computation and its
    // slot claim (the pre-commit hook runs exactly there)
    var fired = false
    vt1.addPreCommitHook("race") { (_, c) =>
      if (!fired && c.message.startsWith("merge into")) {
        fired = true
        vt2.write(Seq((9L, 90L)).toDF("k", "v"), "main", "racer", mode = "append")
        ()
      }
    }
    val src = Seq((2L, 222L), (7L, 777L)).toDF("k", "nv")
    def merge() = vt1.mergeInto(spark, src, "t.k = s.k",
      matched = Seq(MergeClause.update(Map("v" -> "s.nv"))),
      notMatched = Seq(MergeClause.insert(Map("k" -> "s.k", "v" -> "s.nv"))))
    intercept[java.util.ConcurrentModificationException](merge())
    vt1.removePreCommitHook("race")
    // no fork, no partial state: the head is exactly the racer's commit
    assert(vt1.head("main").get.message === "racer")
    assert(vt1.read(spark, "main").count() === 5L)
    // the retry recomputes against the NEW head — racer's row survives
    merge()
    assert(vt1.read(spark, "main").as[(Long, Long)].collect().sorted === Array(
      (1L, 10L), (2L, 222L), (3L, 30L), (4L, 40L), (7L, 777L), (9L, 90L)))
  }

  test("metadata-only MIN/MAX: zero file I/O, all-null files skipped, DV/missing-stats refuse") {
    import spark.implicits._
    val vt = freshVt("minmax_meta")
    val withNulls = Seq((1L, "a"), (2L, null: String)).toDF("k", "v").coalesce(1)
    val plain = Seq((10L, "z"), (7L, "m")).toDF("k", "v").coalesce(1)
    val allNull = Seq((5L, null: String), (6L, null: String)).toDF("k", "v").coalesce(1)
    vt.write(withNulls, "main", "A", statsCols = Seq("k", "v"))
    vt.write(plain, "main", "B", mode = "append", statsCols = Seq("k", "v"))
    vt.write(allNull, "main", "C", mode = "append", statsCols = Seq("k", "v"))
    val head = vt.head("main").get
    assert(vt.minMaxFromStats(head, "k") === Some((1.0, 10.0)))
    // the all-null file contributes nothing to v (SQL semantics) and is
    // provably all-null via nullStats+rowCounts — skipped, not a refusal
    assert(vt.minMaxStringFromStats(head, "v") === Some(("a", "z")))
    // ZERO file I/O: a commit whose (statted) files do not exist on disk
    // still answers — any read would throw FileNotFound
    val ghost = head.copy(files = Vector("data/ghost.parquet"),
      stats = Map("data/ghost.parquet" -> Map("k" -> (3.0, 9.0))),
      strStats = Map("data/ghost.parquet" -> Map("v" -> ("b", "q"))))
    assert(vt.minMaxFromStats(ghost, "k") === Some((3.0, 9.0)))
    assert(vt.minMaxStringFromStats(ghost, "v") === Some(("b", "q")))
    // a file with unknown stats (not provably all-null) refuses
    val unknown = head.copy(files = head.files :+ "data/unstatted.parquet")
    assert(vt.minMaxFromStats(unknown, "k").isEmpty)
    // a DV-carrying snapshot refuses: the deletion may have removed the
    // extreme row
    vt.deleteWithVectors(spark, "k = 10", "main")
    assert(vt.minMaxFromStats("main", "k").isEmpty)
  }

  test("vacuum reclaims orphaned streaming-epoch files; the committed epoch's file survives") {
    val vt = freshVt("stream_orphans")
    vt.write((1L to 10L).toDF("k"), "main", "v0")
    // a committed epoch references its file; a crash-replayed epoch's
    // re-written file (same dir shape, never committed) is an orphan
    val epochDir = vt.root.resolve("data/main-stream-e0")
    (11L to 12L).toDF("k").coalesce(1).write.mode("overwrite").parquet(epochDir.toString)
    val files = {
      val s = java.nio.file.Files.list(epochDir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
          .map(p => vt.root.relativize(p).toString).toVector
      } finally s.close()
    }
    vt.commitStreamEpoch(spark, "main", files, vt.read(spark, "main").schema,
      "stream epoch 0 (query q1)", txn = Some(("q1", 0L)))
    val orphan = epochDir.resolve("part-replayed-orphan.snappy.parquet")
    java.nio.file.Files.copy(vt.root.resolve(files.head), orphan)
    vt.vacuum(retainLast = 10)
    assert(!java.nio.file.Files.exists(orphan),
      "an uncommitted epoch leftover must be reclaimed")
    files.foreach(f => assert(java.nio.file.Files.exists(vt.root.resolve(f)),
      "the committed epoch's files must survive"))
    assert(vt.read(spark, "main").count() === 12L)
  }

  test("dataChange flag: layout/evolution commits publish false, data commits true, JSON round-trips") {
    val vt = freshVt("datachange")
    vt.write((1L to 20L).toDF("k").repartition(4), "main", "v0", statsCols = Seq("k"))
    assert(vt.head("main").get.dataChange, "a write IS a data change")
    vt.compact(spark, "main", numFiles = 1)
    assert(!vt.head("main").get.dataChange, "compaction re-arranges bytes only")
    vt.compactZorder(spark, "main", Seq("k"), numFiles = 2, maxRetries = 3)
    assert(!vt.head("main").get.dataChange)
    vt.compactWhere(spark, "main", "k <= 5", numFiles = 1)
    assert(!vt.head("main").get.dataChange)
    vt.addColumns("main", Seq(org.apache.spark.sql.types.StructField(
      "note", org.apache.spark.sql.types.StringType)))
    assert(!vt.head("main").get.dataChange)
    vt.delete(spark, "k = 1", "main")
    assert(vt.head("main").get.dataChange, "a row delete is a data change")
    // the flag survives the JSON codec in both directions, and a pre-flag
    // record (no key) conservatively reads TRUE
    val h = vt.head("main").get
    assert(graft.vt.CommitLog.fromJson(graft.vt.CommitLog.toJson(h)).dataChange)
    val json = graft.vt.CommitLog.toJson(vt.lineage("main")(1)) // the ADD COLUMNS commit
    assert(!graft.vt.CommitLog.fromJson(json).dataChange)
    assert(graft.vt.CommitLog.fromJson(
      json.replaceAll(",\\s*\"dataChange\"\\s*:\\s*false", "")).dataChange,
      "absent key = pre-flag history = conservatively a data change")
    // the txn mark (Delta's appId+version) round-trips and resolves per
    // writer: each appId sees only ITS newest epoch
    val t1 = h.copy(txnAppId = Some("qA"), txnVersion = Some(7L))
    val rt = graft.vt.CommitLog.fromJson(graft.vt.CommitLog.toJson(t1))
    assert(rt.txnAppId === Some("qA") && rt.txnVersion === Some(7L))
    assert(graft.vt.CommitLog.fromJson(graft.vt.CommitLog.toJson(h)).txnAppId.isEmpty)
    vt.commitStreamEpoch(spark, "main",
      Vector.empty, vt.read(spark, "main").schema, "stream batch 3",
      overwrite = true, txn = Some(("qA", 3L)))
    vt.commitStreamEpoch(spark, "main",
      Vector.empty, vt.read(spark, "main").schema, "stream batch 1",
      overwrite = true, txn = Some(("qB", 1L)))
    assert(vt.lastTxnVersion("main", "qA") === Some(3L))
    assert(vt.lastTxnVersion("main", "qB") === Some(1L))
    assert(vt.lastTxnVersion("main", "qC") === None)
  }

  test("addColumns: metadata-only evolution — CDC-silent, prune-sound, append rules intact") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val vt = freshVt("addcols")
    def part(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, s"id$i")).toDF("k", "id").coalesce(1)
    vt.write(part(1, 10), "main", "A", statsCols = Seq("k"))
    vt.write(part(11, 20), "main", "B", mode = "append", statsCols = Seq("k"))
    val before = vt.head("main").get
    vt.addColumns("main", Seq(StructField("note", StringType)))
    // file-granular CDC over the evolution interval cancels exactly: the
    // commit changed the SCHEMA, not one row
    assert(vt.changes(spark, "main", before.version, before.version + 1).count() === 0L)
    // stats carried verbatim → pruning on the old column still skips files,
    // ghost-proof: the [11,20] file physically gone, a [1,5] probe succeeds
    val hi = vt.head("main").get.files.find(f =>
      vt.head("main").get.stats(f)("k")._1 >= 11.0).get
    val tmp = vt.root.resolve("ghost_tmp.parquet")
    java.nio.file.Files.move(vt.root.resolve(hi), tmp)
    try
      assert(vt.readWhere(spark, "main", "k", 1.0, 5.0)
        .select("k").as[Long].collect().sorted === (1L to 5L).toArray)
    finally java.nio.file.Files.move(tmp, vt.root.resolve(hi))
    // old rows read NULL; the pre-evolution version keeps its schema
    assert(vt.read(spark, "main").where($"note".isNull).count() === 20L)
    assert(vt.readVersion(spark, "main", before.version)
      .schema.fieldNames.toSeq === Seq("k", "id"))
    // append rules: the evolved shape appends; the OLD shape still trips the
    // schema gate unless mergeSchema re-evolves it
    vt.write(Seq((21L, "id21", "n")).toDF("k", "id", "note"), "main", "C",
      mode = "append")
    intercept[IllegalArgumentException](
      vt.write(part(22, 22), "main", "D", mode = "append"))
    vt.write(part(22, 22), "main", "D", mode = "append", mergeSchema = true)
    assert(vt.read(spark, "main").count() === 22L)
    // refusals: collision (case-insensitive), non-nullable, empty, no branch
    intercept[IllegalArgumentException](vt.addColumns("main",
      Seq(StructField("K", LongType))))
    intercept[IllegalArgumentException](vt.addColumns("main",
      Seq(StructField("x", LongType, nullable = false))))
    intercept[IllegalArgumentException](vt.addColumns("main", Nil))
    intercept[IllegalArgumentException](vt.addColumns("nope",
      Seq(StructField("x", LongType))))
    // two new columns colliding with EACH OTHER refuse too
    intercept[IllegalArgumentException](vt.addColumns("main",
      Seq(StructField("y", LongType), StructField("Y", StringType))))
  }
}

/** The ENTIRE invariant matrix above, re-run on the rename-free S3-semantics
  * object store ([[S3SimMetaStore]]) — the reference's lakeFS-over-MinIO
  * control plane (`docker-compose.yml:92-102`): conditional PUT is the only
  * atomic primitive, the keyspace is flat, no directory or rename exists.
  * Every commit/merge/tag/vacuum/crash-recovery guarantee must hold
  * unchanged. */
class VersionedTableS3SimSpec extends VersionedTableSpec {
  override protected def storeFor(root: String): MetaStore = S3SimMetaStore.forTable(root)
  override protected def suiteTag: String = "s3"
}

package graft

import scala.jdk.CollectionConverters._

import graft.vt.{LocalFsMetaStore, MetaStore, Repo, S3SimMetaStore}

/** Multi-table repo semantics: atomic cross-table commits, reset drops the
  * whole staged batch, untouched tables carry forward, repo-wide time travel,
  * zero-copy branches. Parameterized over the [[MetaStore]] backend like
  * VersionedTableSpec: [[RepoS3SimSpec]] re-runs everything on the
  * rename-free S3-semantics object store. */
class RepoSpec extends SparkSpec {
  import spark.implicits._

  protected def storeFor(root: String): MetaStore = LocalFsMetaStore
  protected def suiteTag: String = ""

  private def freshRepo(name: String): Repo = {
    val root = Tables.scratch(name + suiteTag)
    Repo.create(root, storeFor(root))
  }

  test("one commit atomically covers writes to multiple tables") {
    val repo = freshRepo("repo_atomic")
    repo.stageWrite(Seq(1, 2).toDF("x"), "main", "a")
    repo.stageWrite(Seq("p", "q").toDF("s"), "main", "b")
    // before commit: branch does not even exist for readers
    assert(repo.head("main").isEmpty)
    val c = repo.commit("main", "both at once")
    assert(c.version === 0)
    assert(repo.tables("main") === Seq("a", "b"))
    assert(repo.readTable(spark, "main", "a").as[Int].collect().sorted === Array(1, 2))
    assert(repo.readTable(spark, "main", "b").as[String].collect().sorted === Array("p", "q"))
  }

  test("reset discards the entire staged batch") {
    val repo = freshRepo("repo_reset")
    repo.stageWrite(Seq(1).toDF("x"), "main", "a")
    repo.commit("main", "v0")
    repo.stageWrite(Seq(9).toDF("x"), "main", "a")
    repo.stageWrite(Seq(9).toDF("x"), "main", "c")
    repo.reset("main")
    assertThrows[IllegalStateException](repo.commit("main", "empty"))
    assert(repo.readTable(spark, "main", "a").as[Int].collect() === Array(1))
    assert(repo.tables("main") === Seq("a"))
  }

  test("untouched tables carry forward; repo-wide time travel sees old state") {
    val repo = freshRepo("repo_carry")
    repo.stageWrite(Seq(1).toDF("x"), "main", "a")
    repo.stageWrite(Seq(10).toDF("x"), "main", "b")
    repo.commit("main", "v0")
    repo.stageWrite(Seq(2).toDF("x"), "main", "a") // only table a changes
    repo.commit("main", "v1")
    assert(repo.readTable(spark, "main", "a").as[Int].collect() === Array(2))
    assert(repo.readTable(spark, "main", "b").as[Int].collect() === Array(10)) // carried
    assert(repo.readTableAsOf(spark, "main", "a", 0).as[Int].collect() === Array(1))
    assert(repo.readTableAsOf(spark, "main", "b", 0).as[Int].collect() === Array(10))
  }

  test("repo merge fast-forwards all tables; diverged targets conflict") {
    val repo = freshRepo("repo_merge")
    repo.stageWrite(Seq(1).toDF("x"), "main", "a")
    repo.commit("main", "v0")
    repo.createBranch("dev", "main")
    repo.stageWrite(Seq(2).toDF("x"), "dev", "a")
    repo.stageWrite(Seq(7).toDF("x"), "dev", "b")
    repo.commit("dev", "dev adds b, changes a")
    repo.merge("dev", "main")
    assert(repo.readTable(spark, "main", "a").as[Int].collect() === Array(2))
    assert(repo.readTable(spark, "main", "b").as[Int].collect() === Array(7))
    assert(repo.diffFiles("dev", "main").isEmpty)
    // diverge and expect conflict
    repo.createBranch("dev2", "main")
    repo.stageWrite(Seq(3).toDF("x"), "dev2", "a"); repo.commit("dev2", "d2")
    repo.stageWrite(Seq(4).toDF("x"), "main", "a"); repo.commit("main", "m2")
    assertThrows[IllegalStateException](repo.merge("dev2", "main"))
  }

  test("3-way merge: branches changing disjoint tables merge; same table conflicts") {
    val repo = freshRepo("repo_merge3")
    repo.stageWrite(Seq(1).toDF("x"), "main", "a")
    repo.stageWrite(Seq(10).toDF("x"), "main", "b")
    repo.commit("main", "v0")
    repo.createBranch("dev", "main")
    repo.stageWrite(Seq(2).toDF("x"), "dev", "a"); repo.commit("dev", "dev changes a")
    repo.stageWrite(Seq(20).toDF("x"), "main", "b"); repo.commit("main", "main changes b")
    // disjoint table change sets {a} vs {b} → merge commit combines both
    val c = repo.merge("dev", "main")
    assert(c.message === "merge dev into main")
    assert(repo.readTable(spark, "main", "a").as[Int].collect() === Array(2))
    assert(repo.readTable(spark, "main", "b").as[Int].collect() === Array(20))
    assert(repo.readTable(spark, "dev", "b").as[Int].collect() === Array(10)) // src untouched
    // a table added on the source side merges in too
    repo.createBranch("dev2", "main")
    repo.stageWrite(Seq(7).toDF("x"), "dev2", "c"); repo.commit("dev2", "adds c")
    repo.stageWrite(Seq(3).toDF("x"), "main", "a"); repo.commit("main", "moves a")
    repo.merge("dev2", "main")
    assert(repo.tables("main") === Seq("a", "b", "c"))
    assert(repo.readTable(spark, "main", "c").as[Int].collect() === Array(7))
    assert(repo.readTable(spark, "main", "a").as[Int].collect() === Array(3))
  }

  test("repo merge base advances: successive disjoint-table merges keep working") {
    val repo = freshRepo("repo_merge_succ")
    repo.stageWrite(Seq(1).toDF("x"), "main", "a")
    repo.stageWrite(Seq(10).toDF("x"), "main", "b")
    repo.commit("main", "v0")
    repo.createBranch("dev", "main")
    repo.stageWrite(Seq(2).toDF("x"), "dev", "a"); repo.commit("dev", "dev a v1")
    repo.stageWrite(Seq(20).toDF("x"), "main", "b"); repo.commit("main", "main b v1")
    val m1 = repo.merge("dev", "main")
    assert(m1.mergeParent.contains(repo.head("dev").get.id)) // src head recorded
    // each side keeps changing ITS table; the second merge must not see the
    // 'a' files m1 imported as changed-on-both-sides (stale-base symptom)
    repo.stageWrite(Seq(3).toDF("x"), "dev", "a"); repo.commit("dev", "dev a v2")
    repo.stageWrite(Seq(30).toDF("x"), "main", "b"); repo.commit("main", "main b v2")
    repo.merge("dev", "main")
    assert(repo.readTable(spark, "main", "a").as[Int].collect() === Array(3))
    assert(repo.readTable(spark, "main", "b").as[Int].collect() === Array(30))
  }

  test("repo vacuumRetainHours keeps the horizon and the head, reclaims older") {
    val repo = freshRepo("repo_vacuum_hours")
    repo.stageWrite(Seq(1).toDF("x"), "main", "a"); val c0 = repo.commit("main", "v0")
    Thread.sleep(15)
    repo.stageWrite(Seq(2).toDF("x"), "main", "a"); val c1 = repo.commit("main", "v1")
    assert(c1.ts > c0.ts)
    assert(repo.vacuumRetainHours(1.0, nowMs = c1.ts) === 0) // both inside horizon
    val deleted = repo.vacuumRetainHours(0.0, nowMs = c1.ts)
    assert(deleted > 0) // v0's orphaned table files reclaimed, head survives
    assert(repo.readTable(spark, "main", "a").as[Int].collect() === Array(2))
  }

  test("repo revert restores every table as a new commit; history lists lineage") {
    val repo = freshRepo("repo_revert")
    repo.stageWrite(Seq(1).toDF("x"), "main", "a")
    repo.stageWrite(Seq(10).toDF("x"), "main", "b")
    repo.commit("main", "v0")
    repo.stageWrite(Seq(2).toDF("x"), "main", "a")
    repo.stageWrite(Seq(20).toDF("x"), "main", "b")
    repo.commit("main", "v1")
    val c = repo.revert("main", 0)
    assert(c.version === 2)
    assert(repo.readTable(spark, "main", "a").as[Int].collect() === Array(1))
    assert(repo.readTable(spark, "main", "b").as[Int].collect() === Array(10))
    // history preserved: v1 still time-travels
    assert(repo.readTableAsOf(spark, "main", "a", 1).as[Int].collect() === Array(2))
    val h = repo.history(spark, "main").collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(2L, 1L, 0L))
    assert(h.forall(_.getInt(3) === 2)) // both tables in every commit
  }

  test("repo vacuum reclaims files outside retention but never retained ones") {
    val repo = freshRepo("repo_vacuum")
    (0 until 3).foreach { i =>
      repo.stageWrite(Seq(i).toDF("x"), "main", "a")
      repo.commit("main", s"v$i")
    }
    val keep = repo.head("main").get.files
    val deleted = repo.vacuum(retainLast = 1)
    assert(deleted > 0)
    keep.foreach(f => assert(java.nio.file.Files.exists(repo.root.resolve(f)),
      s"retained file vanished: $f"))
    assert(repo.readTable(spark, "main", "a").as[Int].collect() === Array(2))
    assertThrows[Exception](repo.readTableAsOf(spark, "main", "a", 0).collect())
  }

  test("repo vacuum prunes the commit directories it empties") {
    val repo = freshRepo("repo_vacuum_dirs")
    def emptyDirs: List[java.nio.file.Path] = {
      val w = java.nio.file.Files.walk(repo.root.resolve("data"))
      try w.iterator().asScala.filter(p => java.nio.file.Files.isDirectory(p) && {
        val st = java.nio.file.Files.list(p)
        try !st.iterator().hasNext finally st.close()
      }).toList
      finally w.close()
    }
    (0 until 2).foreach { i =>
      repo.stageWrite(Seq(i).toDF("x"), "main", "t")
      repo.commit("main", s"v$i")
    }
    assert(repo.vacuum(retainLast = 1) > 0)
    assert(emptyDirs.isEmpty, s"vacuum left empty directories: ${emptyDirs.mkString(", ")}")
    repo.stageWrite(Seq(2).toDF("x"), "main", "t")
    repo.commit("main", "v2")
    assert(repo.vacuumRetainHours(0) > 0)
    assert(emptyDirs.isEmpty, s"vacuumRetainHours left: ${emptyDirs.mkString(", ")}")
    assert(repo.readTable(spark, "main", "t").as[Int].collect() === Array(2))
  }

  test("repo tags pin every table of a multi-table state through vacuum") {
    val repo = freshRepo("repo_tags")
    repo.stageWrite(Seq(1).toDF("x"), "main", "a")
    repo.stageWrite(Seq("p").toDF("s"), "main", "b")
    repo.commit("main", "v0: a+b together")
    repo.createTag("train-2024-01")
    assertThrows[IllegalArgumentException](repo.createTag("train-2024-01")) // immutable
    // move BOTH tables past the tag, then vacuum to the head only
    repo.stageWrite(Seq(2).toDF("x"), "main", "a")
    repo.stageWrite(Seq("q").toDF("s"), "main", "b")
    repo.commit("main", "v1: both rewritten")
    repo.vacuum(retainLast = 1)
    // the tag still reads the full multi-table v0 state
    assert(repo.tags.map(_._1) === Seq("train-2024-01"))
    assert(repo.readTableAtTag(spark, "train-2024-01", "a").as[Int].collect() === Array(1))
    assert(repo.readTableAtTag(spark, "train-2024-01", "b").as[String].collect() === Array("p"))
    // delete the tag: the old state becomes reclaimable, the head survives
    assert(repo.deleteTag("train-2024-01") && !repo.deleteTag("train-2024-01"))
    assert(repo.vacuum(retainLast = 1) > 0)
    assert(repo.readTable(spark, "main", "a").as[Int].collect() === Array(2))
    assert(repo.readTable(spark, "main", "b").as[String].collect() === Array("q"))
  }

  test("repo branch protection: staging and commits rejected, merge lands") {
    val repo = freshRepo("repo_protected")
    repo.stageWrite(Seq(1).toDF("x"), "main", "a")
    repo.commit("main", "v0")
    // stage BEFORE protecting, then protect: the COMMIT door itself must be
    // guarded — content staged pre-protection must not publish
    repo.stageWrite(Seq(99).toDF("x"), "main", "a")
    repo.protectBranch("main")
    assertThrows[IllegalStateException](repo.commit("main", "staged before protection"))
    repo.reset("main") // discard the stranded staging (reset stays open)
    assertThrows[IllegalStateException](repo.stageWrite(Seq(2).toDF("x"), "main", "a"))
    assertThrows[IllegalStateException](repo.stageAppend(Seq(2).toDF("x"), "main", "a"))
    assertThrows[IllegalStateException](repo.revert("main", 0))
    assert(repo.head("main").get.version === 0)
    // merge-only flow still works at repo scope
    repo.createBranch("etl", from = "main")
    repo.stageWrite(Seq(2).toDF("x"), "etl", "a")
    repo.commit("etl", "reviewed")
    repo.merge("etl", "main")
    assert(repo.readTable(spark, "main", "a").as[Int].collect() === Array(2))
    assert(repo.unprotectBranch("main") && repo.protectionRules.isEmpty)
    repo.stageWrite(Seq(3).toDF("x"), "main", "a")
    repo.commit("main", "direct again")
    assert(repo.readTable(spark, "main", "a").as[Int].collect() === Array(3))
  }

  test("repo-wide timestamp time travel resolves the snapshot as of a commit's clock") {
    val repo = freshRepo("repo_ts_travel")
    repo.stageWrite(Seq(1).toDF("x"), "main", "a")
    val c0 = repo.commit("main", "v0")
    while (System.currentTimeMillis() <= c0.ts) Thread.sleep(1)
    repo.stageWrite(Seq(2).toDF("x"), "main", "a")
    repo.stageWrite(Seq(9).toDF("y"), "main", "b")
    val c1 = repo.commit("main", "v1")
    // as of v0's clock: table a at v0; table b does not exist yet
    assert(repo.readTableAsOfTimestamp(spark, "main", "a", c0.ts).as[Int].collect() === Array(1))
    intercept[IllegalArgumentException] {
      repo.readTableAsOfTimestamp(spark, "main", "b", c0.ts).collect()
    }
    // as of v1's clock (and later): the new snapshot, both tables
    assert(repo.readTableAsOfTimestamp(spark, "main", "a", c1.ts).as[Int].collect() === Array(2))
    assert(repo.readTableAsOfTimestamp(spark, "main", "b", c1.ts + 1000).as[Int].collect() === Array(9))
    // before the first commit: loud error, not an empty read
    intercept[IllegalArgumentException] {
      repo.readTableAsOfTimestamp(spark, "main", "a", c0.ts - 1)
    }
  }

  test("repo vacuum un-wedges crashed writers: stale claims reclaimed, orphan refs replayed, FF slots kept") {
    val repo = freshRepo("repo_slot_sweep")
    val root = repo.root
    val store = repo.store
    val pastMs = System.currentTimeMillis() - 2 * graft.vt.VersionedTable.DefaultStaleSlotMs
    repo.stageWrite(Seq(1).toDF("x"), "main", "a")
    repo.commit("main", "v0")
    // crash case 1: slot claimed, nothing published — branch is wedged
    graft.vt.CommitLog.claimVersionSlot(root.resolve("locks"), "main", 1, store = store)
    repo.stageWrite(Seq(2).toDF("x"), "main", "a")
    intercept[java.util.ConcurrentModificationException] { repo.commit("main", "wedged") }
    StoreOps.backdate(store, root.resolve("locks").resolve("main-v1"), pastMs)
    repo.vacuum(retainLast = 1000) // sweeps the stale claim
    val c1 = repo.commit("main", "retry lands")
    assert(c1.version === 1)
    // crash case 2: commit published, ref advance lost — vacuum replays it
    val refPath = root.resolve("refs").resolve("main")
    val before = store.read(refPath).trim
    repo.stageWrite(Seq(3).toDF("x"), "main", "a")
    val orphan = repo.commit("main", "lost ref")
    store.put(refPath, before) // simulate the crash
    StoreOps.backdate(store, root.resolve("locks").resolve(s"main-v${orphan.version}"), pastMs)
    repo.vacuum(retainLast = 1000)
    assert(repo.head("main").map(_.id) === Some(orphan.id), "orphan ref advance not replayed")
    assert(repo.readTable(spark, "main", "a").as[Int].collect() === Array(3))
    // FF-merge slot: completed FF's CAS record survives an aged sweep
    repo.createBranch("dev", "main")
    repo.stageWrite(Seq(4).toDF("x"), "dev", "a")
    val devHead = repo.commit("dev", "dev work")
    val merged = repo.merge("dev", "main") // fast-forward, claims main-v<devHead.version>
    assert(merged.id === devHead.id)
    StoreOps.backdate(store, root.resolve("locks").resolve(s"main-v${devHead.version}"), pastMs)
    repo.vacuum(retainLast = 1000)
    assert(store.exists(root.resolve("locks").resolve(s"main-v${devHead.version}")),
      "completed-FF slot reclaimed")
    assert(repo.head("main").map(_.id) === Some(devHead.id))
  }

  test("tableChanges diffs one table between repo versions, scanning only its touched files") {
    val repo = freshRepo("repo_table_cdc")
    repo.stageWrite(Seq(1, 2).toDF("x"), "main", "a")
    repo.stageWrite(Seq(10).toDF("y"), "main", "b")
    repo.commit("main", "v0")
    // v1 touches ONLY table a (b rides along untouched)
    repo.stageWrite(Seq(2, 3).toDF("x"), "main", "a")
    repo.commit("main", "v1")
    val cdc = repo.tableChanges(spark, "main", "a", 0, 1)
    val got = cdc.select("change_type", "x").as[(String, Int)].collect().toSet
    assert(got === Set(("insert", 3), ("delete", 1))) // 2 is in both → cancels
    // the untouched table diffs empty — and costs zero I/O (no input files)
    val cdcB = repo.tableChanges(spark, "main", "b", 0, 1)
    assert(cdcB.count() === 0)
    assert(cdcB.inputFiles.isEmpty, "untouched table's CDC must scan nothing")
    // a table born in v1 diffs cleanly against empty
    repo.stageWrite(Seq(7).toDF("z"), "main", "c")
    repo.commit("main", "v2")
    val born = repo.tableChanges(spark, "main", "c", 1, 2)
      .select("change_type", "z").as[(String, Int)].collect().toSet
    assert(born === Set(("insert", 7)))
  }

  test("tableChanges reads each side under its own schema across a type change") {
    val repo = freshRepo("repo_typechange")
    repo.stageWrite(Seq(1, 2).toDF("x"), "main", "t") // x: INT
    repo.commit("main", "v0")
    repo.stageWrite(Seq("2", "3").toDF("x"), "main", "t") // x: STRING
    repo.commit("main", "v1")
    // the before side must be read as INT (its own parquet type) and cast to
    // the newer STRING domain — "2" then cancels across the type change
    val cdc = repo.tableChanges(spark, "main", "t", 0, 1)
      .select("change_type", "x").as[(String, String)].collect().sorted
    assert(cdc === Array(("delete", "1"), ("insert", "3")))
  }

  test("append-append on the SAME table union-merges; the base advances for later merges") {
    val repo = freshRepo("repo_union_merge")
    repo.stageWrite(Seq(1).toDF("x"), "main", "t")
    repo.commit("main", "v0 base")
    repo.createBranch("dev", "main")
    repo.stageAppend(Seq(2).toDF("x"), "main", "t")
    repo.commit("main", "main appends 2")
    repo.stageAppend(Seq(3).toDF("x"), "dev", "t")
    repo.commit("dev", "dev appends 3")
    val m1 = repo.merge("dev", "main")
    assert(m1.mergeParent.isDefined, "union merge must record the source head")
    assert(repo.readTable(spark, "main", "t").as[Int].collect().sorted === Array(1, 2, 3))
    // keep appending on dev and merge again: the first merge's import is
    // shared history (advanced base), not divergence
    repo.stageAppend(Seq(4).toDF("x"), "dev", "t")
    repo.commit("dev", "dev appends 4")
    repo.stageAppend(Seq(5).toDF("x"), "main", "t")
    repo.commit("main", "main appends 5")
    repo.merge("dev", "main")
    assert(repo.readTable(spark, "main", "t").as[Int].collect().sorted === Array(1, 2, 3, 4, 5))
  }

  test("append vs overwrite on the same table still conflicts") {
    val repo = freshRepo("repo_union_conflict")
    repo.stageWrite(Seq(1).toDF("x"), "main", "t")
    repo.commit("main", "v0")
    repo.createBranch("dev", "main")
    repo.stageAppend(Seq(2).toDF("x"), "main", "t")
    repo.commit("main", "main appends")
    repo.stageWrite(Seq(9).toDF("x"), "dev", "t") // overwrite drops the base file
    repo.commit("dev", "dev overwrites")
    val e = intercept[IllegalStateException](repo.merge("dev", "main"))
    assert(e.getMessage.contains("not by pure appends"))
  }

  test("stageAppend rejects a schema drift and degenerates to write on a new table") {
    val repo = freshRepo("repo_append_schema")
    repo.stageAppend(Seq(1).toDF("x"), "main", "fresh") // no table yet: plain write
    repo.commit("main", "v0")
    assert(repo.readTable(spark, "main", "fresh").as[Int].collect() === Array(1))
    intercept[IllegalArgumentException](
      repo.stageAppend(Seq("s").toDF("x"), "main", "fresh"))
    // staged-then-appended composes within one commit
    repo.stageAppend(Seq(2).toDF("x"), "main", "fresh")
    repo.stageAppend(Seq(3).toDF("x"), "main", "fresh")
    repo.commit("main", "two staged appends, one commit")
    assert(repo.readTable(spark, "main", "fresh").as[Int].collect().sorted === Array(1, 2, 3))
  }

  test("Repo.open re-attaches via the _graft_repo marker and rejects non-repo roots") {
    val root = Tables.scratch("repo_open" + suiteTag)
    val repo = Repo.create(root, storeFor(root))
    repo.stageWrite(Seq(1).toDF("x"), "main", "t")
    repo.commit("main", "v0")
    assert(Repo.open(root, storeFor(root))
      .readTable(spark, "main", "t").as[Int].collect() === Array(1))
    // a versioned-TABLE root is not a repo: the marker catches the mixup
    val tableRoot = Tables.scratch("repo_open_not_a_repo" + suiteTag)
    graft.vt.VersionedTable.create(tableRoot, storeFor(tableRoot))
    intercept[IllegalArgumentException](Repo.open(tableRoot, storeFor(tableRoot)))
  }

  /** Counts the metadata reads (read, exists, list) that reach `inner`. */
  private final class CountingStore(inner: MetaStore) extends MetaStore {
    var reads = 0
    def putIfAbsent(key: java.nio.file.Path, content: String): Boolean =
      inner.putIfAbsent(key, content)
    def put(key: java.nio.file.Path, content: String): Unit = inner.put(key, content)
    def read(key: java.nio.file.Path): String = { reads += 1; inner.read(key) }
    def exists(key: java.nio.file.Path): Boolean = { reads += 1; inner.exists(key) }
    def delete(key: java.nio.file.Path): Boolean = inner.delete(key)
    def list(dir: java.nio.file.Path): Vector[java.nio.file.Path] = { reads += 1; inner.list(dir) }
    def lastModified(key: java.nio.file.Path): Long = inner.lastModified(key)
    def ensurePrefix(dir: java.nio.file.Path): Unit = inner.ensurePrefix(dir)
  }

  test("deep repo history: time travel, timestamp travel and revert use the checkpoint index") {
    val root = Tables.scratch("repo_ckpt" + suiteTag)
    val store = new CountingStore(storeFor(root))
    val repo = Repo.create(root, store)
    repo.stageWrite(Seq(0).toDF("x"), "main", "a")
    repo.commit("main", "v0")
    repo.stageWrite(Seq(1).toDF("x"), "main", "a")
    val c1 = repo.commit("main", "v1")
    while (System.currentTimeMillis() <= c1.ts) Thread.sleep(1)
    // metadata-only commits: even versions hold v0's snapshot, odd ones v1's
    val interval = graft.vt.VersionedTable.CheckpointInterval
    (2L to 4 * interval).foreach(v => repo.revert("main", v % 2))
    assert(repo.head("main").get.version === 4 * interval)
    // the head walk alone would load every commit down to v1
    val bound = 2 * interval
    def reads[T](f: => T): (T, Int) = { store.reads = 0; val r = f; (r, store.reads) }
    val (atV1, n1) = reads(repo.readTableAsOf(spark, "main", "a", 1))
    assert(atV1.as[Int].collect() === Array(1))
    assert(n1 <= bound, s"readTableAsOf v1 did $n1 metadata reads")
    val (atTs, n2) = reads(repo.readTableAsOfTimestamp(spark, "main", "a", c1.ts))
    assert(atTs.as[Int].collect() === Array(1))
    assert(n2 <= bound, s"readTableAsOfTimestamp did $n2 metadata reads")
    val (_, n3) = reads(repo.revert("main", 1))
    assert(n3 <= bound + 5, s"revert to v1 did $n3 metadata reads")
    assert(repo.readTable(spark, "main", "a").as[Int].collect() === Array(1))
    assert(repo.tableChanges(spark, "main", "a", 0, 1).count() === 2)
  }

  test("createBranch from a missing source leaves no branch-index entry behind") {
    val repo = freshRepo("repo_branch_missing")
    repo.stageWrite(Seq(1).toDF("x"), "main", "a")
    repo.commit("main", "v0")
    intercept[IllegalArgumentException](repo.createBranch("ghost", "no_such_branch"))
    val index = repo.store.list(repo.root.resolve("refidx"))
      .filter(_.getFileName.toString.startsWith("branches.gen"))
    assert(index.nonEmpty)
    assert(!index.exists(p => repo.store.read(p).split('\n').contains("ghost")),
      "a failed createBranch indexed its branch")
    assert(repo.branches === Seq("main"))
  }

  test("a repo root is not a versioned table: VersionedTable.open refuses it") {
    val root = Tables.scratch("repo_not_a_table" + suiteTag)
    val repo = Repo.create(root, storeFor(root))
    repo.stageWrite(Seq(1).toDF("x"), "main", "a")
    repo.commit("main", "v0")
    intercept[IllegalArgumentException](
      graft.vt.VersionedTable.open(root, storeFor(root)))
    assert(repo.readTable(spark, "main", "a").as[Int].collect() === Array(1))
  }

  test("branches are zero-copy and isolated across all tables") {
    val repo = freshRepo("repo_branch")
    repo.stageWrite(Seq(1).toDF("x"), "main", "a")
    repo.commit("main", "v0")
    repo.createBranch("dev", "main")
    repo.stageWrite(Seq(2).toDF("x"), "dev", "a")
    repo.stageWrite(Seq(3).toDF("x"), "dev", "new_table")
    repo.commit("dev", "dev work")
    assert(repo.readTable(spark, "main", "a").as[Int].collect() === Array(1))
    assert(repo.tables("main") === Seq("a"))
    assert(repo.readTable(spark, "dev", "a").as[Int].collect() === Array(2))
    assert(repo.tables("dev") === Seq("a", "new_table"))
  }
}

/** Every repo invariant above, re-run on the rename-free S3-semantics object
  * store — atomic multi-table commits decided by conditional PUTs alone. */
class RepoS3SimSpec extends RepoSpec {
  override protected def storeFor(root: String): MetaStore = S3SimMetaStore.forTable(root)
  override protected def suiteTag: String = "_s3"
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.vt.VersionedTable

/** `spark.read.format("vt")`: the batch relation over the commit log —
  * head/branch/versionAsOf/timestampAsOf addressing, commit-log stats
  * pruning folded into scan planning, parquet pushdown intact, and the
  * merge-on-read fallback for DV snapshots. */
class VtDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private def readVt(path: String, opts: (String, String)*): DataFrame =
    opts.foldLeft(spark.read.format("vt").option("path", path))(
      (r, kv) => r.option(kv._1, kv._2)).load()

  test("format(\"vt\") batch read: head, branch, versionAsOf, timestampAsOf") {
    val vt = VersionedTable.create(Tables.scratch("vtds_basic"))
    val df = (1 to 10).map(i => (i.toLong, s"row$i")).toDF("k", "v")
    val c0 = vt.write(df.where($"k" <= 5), "main", "v0")
    while (System.currentTimeMillis() <= c0.ts) Thread.sleep(1)
    vt.write(df, "main", "v1")
    vt.createBranch("side", "main")
    vt.write(df.where($"k" > 8), "side", "side-v")
    val root = vt.root.toString
    assert(readVt(root).select("k").as[Long].collect().sorted === (1L to 10L).toArray)
    assert(readVt(root, "versionAsOf" -> "0").select("k").as[Long].collect().sorted
      === (1L to 5L).toArray)
    assert(readVt(root, "timestampAsOf" -> c0.ts.toString)
      .select("k").as[Long].collect().sorted === (1L to 5L).toArray)
    // timestampAsOf also accepts datetime STRINGS (Delta's option shape):
    // ISO instant, and session-zone date-time (session tz is UTC here)
    val iso = java.time.Instant.ofEpochMilli(c0.ts).toString
    assert(readVt(root, "timestampAsOf" -> iso)
      .select("k").as[Long].collect().sorted === (1L to 5L).toArray)
    val local = java.time.Instant.ofEpochMilli(c0.ts)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString.replace('T', ' ')
    assert(readVt(root, "timestampAsOf" -> local)
      .select("k").as[Long].collect().sorted === (1L to 5L).toArray)
    assert(readVt(root, "branch" -> "side").select("k").as[Long].collect().sorted
      === Array(9L, 10L))
    // versionAsOf and timestampAsOf together are refused
    val e = intercept[IllegalArgumentException](
      readVt(root, "versionAsOf" -> "0", "timestampAsOf" -> "1"))
    assert(e.getMessage.contains("mutually exclusive"))
  }

  test("format(\"vt\") prunes files from commit-log stats during planning; pushdown intact") {
    val vt = VersionedTable.create(Tables.scratch("vtds_skip"))
    def part(lo: Long, hi: Long, tag: String) =
      (lo to hi).map(i => (i, s"$tag$i")).toDF("k", "v").coalesce(1)
    vt.write(part(1, 10, "a"), "main", "A", statsCols = Seq("k", "v"))
    vt.write(part(11, 20, "b"), "main", "B", mode = "append", statsCols = Seq("k", "v"))
    vt.write(part(21, 30, "c"), "main", "C", mode = "append", statsCols = Seq("k", "v"))
    val root = vt.root.toString
    def scannedFiles(q: DataFrame): Long = {
      q.collect()
      val scan = q.queryExecution.executedPlan.collectFirst {
        case s: FileSourceScanExec => s
      }.getOrElse(fail("no FileSourceScanExec — not the native file-scan relation"))
      scan.metrics("numFiles").value
    }
    // numeric window hits one commit's range only
    val q1 = readVt(root).where($"k" >= 12 && $"k" <= 18)
    assert(q1.select("k").as[Long].collect().sorted === (12L to 18L).toArray)
    assert(scannedFiles(q1) === 1,
      "commit-log stats must prune non-overlapping files at planning time")
    // string window prunes via the UTF-8-ordered string stats
    val q2 = readVt(root).where($"v" >= "c" && $"v" <= "d")
    assert(q2.select("k").as[Long].collect().sorted === (21L to 30L).toArray)
    assert(scannedFiles(q2) === 1, "string stats must prune too")
    // the residual predicate still reaches the parquet scan (pushdown)
    assert(q1.queryExecution.executedPlan.toString.contains("PushedFilters: ["),
      "parquet pushdown must survive the custom FileIndex")
    // IN prunes as a UNION of point windows: 5 and 25 touch the first and
    // third files only — the middle file ([11,20], which the old single
    // min..max envelope would have kept) is skipped
    val qIn = readVt(root).where($"k".isin(5, 25))
    assert(qIn.select("k").as[Long].collect().sorted === Array(5L, 25L))
    assert(scannedFiles(qIn) === 2, "IN must prune per point window, not per envelope")
    // unrecognized predicate shapes prune nothing but stay correct
    val q3 = readVt(root).where(length($"v") === 2)
    assert(q3.count() === 9L) // a1..a9 (single-digit suffixes of tag 'a')
    // startsWith prunes via the prefix-successor window [p, succ(p)]
    val qPre = readVt(root).where($"v".startsWith("b1"))
    assert(qPre.select("k").as[Long].collect().sorted === (11L to 19L).toArray,
      "b11..b19 carry the 'b1' prefix; b20 does not")
    assert(scannedFiles(qPre) === 1, "prefix window must prune to the b-file")
  }

  test("format(\"vt\") falls back to merge-on-read for DV snapshots — no resurrection") {
    val vt = VersionedTable.create(Tables.scratch("vtds_mor"))
    vt.write((1L to 10L).toDF("k").withColumn("v", concat(lit("r"), $"k")),
      "main", "v0")
    vt.deleteWithVectors(spark, "k >= 8", "main")
    val root = vt.root.toString
    val got = readVt(root).select("k").as[Long].collect().sorted
    assert(got === (1L to 7L).toArray,
      "DV-deleted rows must not resurrect through the batch relation")
    // column pruning path (PrunedScan) returns the right columns
    assert(readVt(root).select("v").as[String].collect().sorted.head === "r1")
    // count(*) over the MOR relation is exact
    assert(readVt(root).count() === 7L)
  }

  test("MOR fallback is a PrunedFilteredScan: stats prune files, filters push below the DV filter") {
    import org.apache.spark.sql.{sources => fs}
    val vt = VersionedTable.create(Tables.scratch("vtds_mor_push"))
    def part(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, s"r$i")).toDF("k", "v").coalesce(1)
    vt.write(part(1, 10), "main", "A", statsCols = Seq("k"))
    vt.write(part(11, 20), "main", "B", mode = "append", statsCols = Seq("k"))
    vt.write(part(21, 30), "main", "C", mode = "append", statsCols = Seq("k"))
    vt.deleteWithVectors(spark, "k % 10 = 5", "main")
    val commit = vt.head("main").get
    assert(commit.dvs.nonEmpty && commit.files.size === 3)
    // E2E: filtered MOR reads stay exact — deletions respected, no loss
    val q = readVt(vt.root.toString).where($"k".between(12, 18))
    assert(q.select("k").as[Long].collect().sorted === Array(12L, 13, 14, 16, 17, 18))
    val qIn = readVt(vt.root.toString).where($"k".isin(2, 15, 21))
    assert(qIn.select("k").as[Long].collect().sorted === Array(2L, 21),
      "IN must respect the MOR deletion of k=15")
    // evidence: pushed filters prune the commit's file list BEFORE any scan
    val rel = new graft.sources.ReplayRelation(spark.sqlContext, vt.root, commit, Some(vt))
    // inputFiles returns URIs; compare by the trailing dir/file key
    def key(p: String) = p.split('/').filter(_.nonEmpty).takeRight(2).mkString("/")
    val dataFiles = commit.files.map(key).toSet
    val plan = rel.scanPlan(Array("k", "v"),
      Array(fs.GreaterThanOrEqual("k", 12L), fs.LessThanOrEqual("k", 18L)))
    assert(plan.inputFiles.map(key).count(dataFiles) === 1,
      "two of three data files must be pruned by commit-log stats")
    assert(plan.select("k").as[Long].collect().sorted === Array(12L, 13, 14, 16, 17, 18))
    // IN prunes as a union of point windows: file [11,20] holds neither 2 nor 21
    val planIn = rel.scanPlan(Array("k"), Array(fs.In("k", Array(2L, 21L))))
    assert(planIn.inputFiles.map(key).count(dataFiles) === 2)
    // the translated predicate reaches the parquet scan under the DV filter
    assert(plan.queryExecution.executedPlan.toString.contains("PushedFilters: ["),
      "pushed filters must reach the inner parquet scan")
    // honesty: translatable conjuncts are handled, exotic ones reported back
    assert(rel.unhandledFilters(Array(fs.EqualTo("k", 1L),
      fs.In("k", Array(2L)))).isEmpty)
    assert(rel.unhandledFilters(Array(
      fs.CollatedEqualTo("v", "a", org.apache.spark.sql.types.StringType))).length === 1)
  }

  test("format(\"vt\") batch write: SaveMode semantics, one commit per save") {
    val vt = VersionedTable.create(Tables.scratch("vtds_write"))
    val root = vt.root.toString
    val df = (1L to 5L).toDF("k")
    def save(d: DataFrame, mode: String) =
      d.write.format("vt").mode(mode).option("path", root).save()
    // ErrorIfExists: first version lands, second save refuses
    save(df, "errorifexists")
    assert(readVt(root).count() === 5L)
    val e = intercept[Exception](save(df, "errorifexists"))
    assert(e.getMessage.contains("already has commits"), e.getMessage)
    // Append adds a commit; Ignore no-ops; Overwrite replaces
    save((6L to 8L).toDF("k"), "append")
    assert(readVt(root).select("k").as[Long].collect().sorted === (1L to 8L).toArray)
    save((100L to 200L).toDF("k"), "ignore")
    assert(readVt(root).count() === 8L, "Ignore must no-op on a non-empty branch")
    save((10L to 12L).toDF("k"), "overwrite")
    assert(readVt(root).select("k").as[Long].collect().sorted === (10L to 12L).toArray)
    // every save was a commit: full history time-travels
    assert(readVt(root, "versionAsOf" -> "0").count() === 5L)
    assert(readVt(root, "versionAsOf" -> "1").count() === 8L)
    assert(readVt(root, "versionAsOf" -> "2").count() === 3L)
  }

  test("format(\"vt\") write options: statsCols powers skipping; mergeSchema/overwriteSchema gate evolution") {
    val vt = VersionedTable.create(Tables.scratch("vtds_wopts"))
    val root = vt.root.toString
    def save(df: DataFrame, mode: String, opts: (String, String)*) =
      opts.foldLeft(df.write.format("vt").mode(mode).option("path", root))(
        (w, kv) => w.option(kv._1, kv._2)).save()
    def part(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, s"r$i")).toDF("k", "v").coalesce(1)
    save(part(1, 10), "overwrite", "statsCols" -> "k")
    save(part(11, 20), "append", "statsCols" -> "k")
    save(part(21, 30), "append", "statsCols" -> "k")
    // the option reached the commit: planning-time skipping works
    val q = readVt(root).where($"k".between(12, 18))
    assert(q.select("k").as[Long].collect().sorted === (12L to 18L).toArray)
    q.collect()
    assert(q.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.get.metrics("numFiles").value === 1,
      "statsCols-written commits must prune through the batch relation")
    // and the metadata-only MIN/MAX is provable on format-written tables
    assert(vt.minMaxFromStats("main", "k") === Some((1.0, 30.0)))
    // additive evolution refuses without mergeSchema, lands with it
    val widened = Seq((31L, "r31", 62L)).toDF("k", "v", "w")
    val e = intercept[Exception](save(widened, "append"))
    assert(e.getMessage.contains("mergeSchema"), e.getMessage)
    save(widened, "append", "mergeSchema" -> "true")
    assert(readVt(root).columns.toSeq === Seq("k", "v", "w"))
    assert(readVt(root).where($"w".isNotNull).count() === 1L)
    // schema replacement refuses without overwriteSchema, lands with it
    val replaced = Seq((1L, 9.5)).toDF("id", "score")
    val e2 = intercept[Exception](save(replaced, "overwrite"))
    assert(e2.getMessage.contains("overwriteSchema"), e2.getMessage)
    save(replaced, "overwrite", "overwriteSchema" -> "true")
    assert(readVt(root).columns.toSeq === Seq("id", "score"))
  }

  test("write-option hardening: typo'd statsCols fails fast, omitted parent cols go nullable, raced SaveModes recover") {
    val vt = VersionedTable.create(Tables.scratch("vtds_wharden"))
    val root = vt.root.toString
    // 1) statsCols naming a missing column fails BEFORE any file lands
    val filesBefore = java.nio.file.Files.walk(vt.root).count()
    val e = intercept[Exception] {
      (1L to 3L).toDF("k").write.format("vt").option("path", root)
        .option("statsCols", "usr_id").save()
    }
    assert(e.getMessage.contains("statsCols") && e.getMessage.contains("usr_id"),
      e.getMessage)
    assert(java.nio.file.Files.walk(vt.root).count() === filesBefore,
      "a refused save must leave zero orphan files")
    // 2) mergeSchema append that OMITS a (non-nullable) parent column:
    // the merged schema must relax that column to nullable — else
    // Catalyst folds `k IS NOT NULL` to true over rows that read null
    Seq((1L, "a")).toDF("k", "v").write.format("vt")
      .mode("overwrite").option("path", root).save()
    Seq(("b", 9L)).toDF("v", "w").write.format("vt")
      .mode("append").option("path", root).option("mergeSchema", "true").save()
    val head = spark.read.format("vt").option("path", root).load()
    assert(head.schema("k").nullable, "omitted parent column must go nullable")
    assert(head.where($"k".isNotNull).count() === 1L,
      "rows from the k-less file must not satisfy k IS NOT NULL")
    assert(head.where($"w".isNotNull).count() === 1L)
    // 3) raced-SaveMode recovery contracts (the hasHead pre-check races;
    // the CAS-serialized commit version reveals the loss)
    val c1 = vt.head("main").get
    assert(c1.version === 1L)
    val raceErr = intercept[IllegalStateException](
      graft.sources.VtDataSource.ensureFirstVersion(vt, root, "main", c1))
    assert(raceErr.getMessage.contains("raced SaveMode.ErrorIfExists"))
    // r18: the lost ErrorIfExists race AUTO-REVERTS head to the winner's
    // version before throwing (same repair as Ignore) — no operator action
    assert(vt.head("main").get.version === 2L,
      "ErrorIfExists race repair is a NEW commit")
    assert(vt.read(spark, "main").select("k", "v").collect().toSet ===
      spark.read.format("vt").option("path", root)
        .option("versionAsOf", "0").load().select("k", "v").collect().toSet,
      "head must be restored to the concurrent winner's content")
    // a THIRD writer already advanced past the raced write: the repair must
    // NOT blindly revert (that would drop the successor's rows) — head stays
    val headBefore = vt.head("main").get.version
    val raceErr2 = intercept[IllegalStateException](
      graft.sources.VtDataSource.ensureFirstVersion(vt, root, "main", c1))
    assert(raceErr2.getMessage.contains("left untouched"))
    assert(vt.head("main").get.version === headBefore,
      "no repair commit when the raced write is no longer head")
    // Ignore: the raced-in write is undone by a revert — the concurrent
    // first writer's content wins, with the race left in the audit trail
    val before = spark.read.format("vt").option("path", root)
      .option("versionAsOf", "0").load().collect().toSet
    val raced = vt.write(Seq((99L, "z")).toDF("k", "v"), "main", "raced ignore",
      overwriteSchema = true)
    graft.sources.VtDataSource.undoRacedFirstWrite(vt, "main", raced)
    assert(vt.head("main").get.version === raced.version + 1,
      "the undo is a NEW commit, not a history rewrite")
    assert(vt.read(spark, "main").select("k", "v").collect().toSet
      === spark.read.format("vt").option("path", root)
        .option("versionAsOf", raced.version - 1).load().select("k", "v")
        .collect().toSet,
      "Ignore's undo must restore the pre-race table")
    assert(before.nonEmpty) // the v0 content existed and was comparable
    // a genuinely-first write passes the ErrorIfExists post-check untouched
    val vt2 = VersionedTable.create(Tables.scratch("vtds_wharden2"))
    val c0 = vt2.write((1L to 2L).toDF("k"), "main", "v0")
    assert(graft.sources.VtDataSource.ensureFirstVersion(
      vt2, vt2.root.toString, "main", c0) eq c0)
  }

  test("timestamp statsCols: literals normalize micros→seconds, skipping exact; date statsCols refuse") {
    // r18 ADVICE fix: stats record timestamps in epoch SECONDS (the
    // cast-to-double domain) while catalyst TimestampType literals carry
    // MICROseconds — unnormalized, every comparison window would prune the
    // very files holding matching rows. Pins both the correctness (full
    // band read) and the skip (out-of-range file pruned).
    import java.sql.Timestamp
    val vt = VersionedTable.create(Tables.scratch("vtds_ts"))
    def rows(lo: Int, hi: Int) = (lo to hi).map(i =>
      (i.toLong, Timestamp.valueOf(f"2026-01-$i%02d 00:00:00"))).toDF("k", "ts").coalesce(1)
    vt.write(rows(1, 10), "main", "A", statsCols = Seq("ts"))
    vt.write(rows(11, 20), "main", "B", mode = "append", statsCols = Seq("ts"))
    val root = vt.root.toString
    def scanned(q: DataFrame): Long = {
      q.collect()
      q.queryExecution.executedPlan.collectFirst {
        case s: FileSourceScanExec => s
      }.get.metrics("numFiles").value
    }
    val q1 = readVt(root).where($"ts" >= Timestamp.valueOf("2026-01-11 00:00:00"))
    assert(q1.count() === 10L, "no matching row may be pruned away")
    assert(scanned(q1) === 1, "the below-range file must be skipped in the seconds domain")
    val q2 = readVt(root).where($"ts" <= Timestamp.valueOf("2026-01-05 00:00:00"))
    assert(q2.count() === 5L)
    assert(scanned(q2) === 1)
    val inList = readVt(root).where($"ts".isin(
      Timestamp.valueOf("2026-01-03 00:00:00"), Timestamp.valueOf("2026-01-04 00:00:00")))
    assert(inList.count() === 2L)
    assert(scanned(inList) === 1, "IN-list point windows normalize too")
    // the engine-op prune path (delete/update) shares the normalization
    vt.delete(spark, "ts >= TIMESTAMP'2026-01-19 00:00:00'", "main")
    assert(vt.read(spark, "main").count() === 18L)
    // no stats domain exists for dates: refuse loudly at write
    val e = intercept[IllegalArgumentException](vt.write(
      Seq((1L, java.sql.Date.valueOf("2026-01-01"))).toDF("k", "d"),
      "main", "bad", statsCols = Seq("d")))
    assert(e.getMessage.contains("stats domain"))
  }

  test("bloom filter index: point lookups skip files — ghost-proof, sticky across writes, COW-safe, reopen-safe") {
    val vt = VersionedTable.create(Tables.scratch("vtds_bloom"))
    // three files with INTERLEAVED key alphabets: every file spans the whole
    // range, so min/max windows (none recorded here anyway) could never
    // separate them — only the bloom can
    def part(r: Int) = (0 until 40).map(i => (f"id-${i * 3 + r}%04d", i.toLong))
      .toDF("k", "v").coalesce(1)
    vt.write(part(0), "main", "A", bloomCols = Seq("k"))
    vt.write(part(1), "main", "B", mode = "append") // sticky: no re-specification
    vt.write(part(2), "main", "C", mode = "append")
    val head0 = vt.head("main").get
    // r19: bitsets live in SIDECAR files, not the commit JSON — the commit
    // carries only the sticky column set and the sidecar paths
    assert(head0.bloomStats.isEmpty, "no inline bitsets in new commits")
    assert(head0.bloomCols === Seq("k") && head0.bloomFiles.size === 3)
    val look0 = vt.bloomLookup(head0)
    assert(head0.files.forall(f => look0(f, "k").isDefined),
      "sticky bloom columns must cover every file of every later write")
    val root = vt.root.toString
    def scanned(q: DataFrame): Long = {
      q.collect()
      q.queryExecution.executedPlan.collectFirst {
        case s: FileSourceScanExec => s
      }.get.metrics("numFiles").value
    }
    val q1 = readVt(root).where($"k" === "id-0006") // lives only in file A
    assert(q1.count() === 1L)
    assert(scanned(q1) === 1, "the bloom must confine the point probe to one file")
    // ghost-proof: with file C physically absent, an A-key lookup succeeds —
    // C was pruned by its bloom alone (no other pruning source exists)
    val cFile = head0.files.last
    val tmp = vt.root.resolve("bloom_ghost.parquet")
    java.nio.file.Files.move(vt.root.resolve(cFile), tmp)
    try assert(readVt(root).where($"k" === "id-0006").as[(String, Long)].head()
      === (("id-0006", 2L)))
    finally java.nio.file.Files.move(tmp, vt.root.resolve(cFile))
    // validation: unhashable-type / unknown bloom columns refuse loudly
    // (strings and integrals are the supported probe domains — r19)
    intercept[IllegalArgumentException](
      vt.write(part(0).withColumn("d", $"v" * 0.5), "main", "bad",
        bloomCols = Seq("d")))
    intercept[IllegalArgumentException](
      vt.write(part(0), "main", "bad", bloomCols = Seq("nosuch")))
    // a snapshot with deletion vectors reads merge-on-read: the data files
    // a point lookup opens are those of the MOR relation's pruned scan
    def morOpened(key: String): Int = {
      val h = vt.head("main").get
      def fk(p: String) = p.split('/').filter(_.nonEmpty).takeRight(2).mkString("/")
      new graft.sources.ReplayRelation(spark.sqlContext, vt.root, h, Some(vt))
        .scanPlan(Array("k", "v"), Array(org.apache.spark.sql.sources.EqualTo("k", key)))
        .inputFiles.map(fk).count(h.files.map(fk).toSet)
    }
    // one of file A's 40 rows changes (1/40, within 1/20): A keeps its
    // entry and bloom bits, the old row is retired by a deletion vector and
    // its new image lands in a new file — the lookup sees the new value but
    // opens two files, A (whose bits still hold the key) and the new one
    vt.update(spark, "k = 'id-0006'", Map("v" -> "999"))
    val q2 = readVt(root).where($"k" === "id-0006")
    assert(q2.as[(String, Long)].collect().toSeq === Seq(("id-0006", 999L)))
    assert(vt.head("main").get.dvs.nonEmpty && morOpened("id-0006") === 2,
      "A's carried bloom keeps the retired key")
    // COW update: two more of A's rows push it past 1/20, so A is rewritten
    // with a fresh bloom (its vector materialized); untouched files keep
    // theirs — the lookup is single-file again and sees the new value
    vt.update(spark, "k IN ('id-0009', 'id-0012')", Map("v" -> "999"))
    val q3 = readVt(root).where($"k".isin("id-0006", "id-0009"))
    assert(q3.as[(String, Long)].collect().toSeq.sorted ===
      Seq(("id-0006", 999L), ("id-0009", 999L)))
    assert(morOpened("id-0006") === 1, "the post-COW bloom must keep pruning")
    // reopen: the sidecar paths round-trip through the commit-log JSON and
    // a FRESH handle loads them (probe parity with the writing handle)
    val vt2 = VersionedTable.open(root)
    val h2 = vt2.head("main").get
    assert(h2.bloomFiles === vt.head("main").get.bloomFiles && h2.bloomFiles.nonEmpty)
    val lookA = vt.bloomLookup(h2); val lookB = vt2.bloomLookup(h2)
    h2.files.foreach { f =>
      assert(lookB(f, "k").isDefined &&
        lookA(f, "k").get.sameElements(lookB(f, "k").get), s"reopen parity for $f")
    }
    // the commit JSON itself stays metadata-sized: O(files), independent of
    // the indexed columns (the r18 inline design grew it by ~2.7 KB per
    // file per column)
    val jsonLen = graft.vt.CommitLog.toJson(h2).length
    assert(jsonLen < 1000 + 400 * h2.files.size,
      s"commit JSON must stay O(files): $jsonLen bytes for ${h2.files.size} files")
  }

  test("bloom index r19: LONG keys skip files, vacuum sweeps orphaned sidecars, a lost sidecar degrades to no-skip") {
    val vt = VersionedTable.create(Tables.scratch("vtds_bloom_long"))
    // interleaved long ids: every file spans the whole range, min/max (none
    // recorded anyway) could never separate them — only the bloom can
    def part(r: Int) = (0 until 40).map(i => ((i * 3 + r) * 1000001L, i.toLong))
      .toDF("id", "v").coalesce(1)
    vt.write(part(0), "main", "A", bloomCols = Seq("id"))
    vt.write(part(1), "main", "B", mode = "append")
    vt.write(part(2), "main", "C", mode = "append")
    val root = vt.root.toString
    def scanned(q: DataFrame): Long = {
      q.collect()
      q.queryExecution.executedPlan.collectFirst {
        case s: FileSourceScanExec => s
      }.get.metrics("numFiles").value
    }
    val key = 6L * 1000001L // lives only in file A (i=2, r=0)
    val q1 = readVt(root).where($"id" === key)
    assert(q1.count() === 1L)
    assert(scanned(q1) === 1, "the long bloom must confine the point probe to one file")
    // an INT literal on the long column (Catalyst wraps the attr in an
    // upcast) probes the same cast-to-long image
    val q2 = readVt(root).where($"id" === lit(3000003).cast("int"))
    assert(q2.count() === 1L && scanned(q2) === 1)
    // IN list mixing present + provably-absent keys stays exact
    val q3 = readVt(root).where($"id".isin(key, 7L * 1000001L, 999999999999L))
    assert(q3.select("id").as[Long].collect().sorted
      === Array(key, 7L * 1000001L))
    assert(scanned(q3) === 2)
    // ghost-proof: with file C physically absent, an A-key lookup succeeds
    val cFile = vt.head("main").get.files.last
    val tmp = vt.root.resolve("bloom_ghost.parquet")
    java.nio.file.Files.move(vt.root.resolve(cFile), tmp)
    try assert(readVt(root).where($"id" === key).count() === 1L)
    finally java.nio.file.Files.move(tmp, vt.root.resolve(cFile))
    // vacuum: an overwrite orphans the three old sidecars; the sweep
    // reclaims them like any unreferenced data-plane file
    val oldSidecars = vt.head("main").get.bloomFiles.map(vt.root.resolve)
    assert(oldSidecars.size === 3 && oldSidecars.forall(java.nio.file.Files.exists(_)))
    vt.write(part(0), "main", "reset") // sticky cols → one fresh sidecar
    vt.vacuum(retainLast = 1)
    assert(oldSidecars.forall(p => !java.nio.file.Files.exists(p)),
      "orphaned bloom sidecars must be swept")
    val liveSidecars = vt.head("main").get.bloomFiles.map(vt.root.resolve)
    assert(liveSidecars.nonEmpty && liveSidecars.forall(java.nio.file.Files.exists(_)),
      "the head's sidecar must be retained")
    // a LOST sidecar (never yet cached) degrades to "no bloom, never skip"
    // — the read stays correct, it just stops pruning
    val vt3 = VersionedTable.create(Tables.scratch("vtds_bloom_lost"))
    vt3.write(part(0), "main", "A", bloomCols = Seq("id"))
    vt3.head("main").get.bloomFiles.foreach(f =>
      java.nio.file.Files.delete(vt3.root.resolve(f)))
    assert(spark.read.format("vt").option("path", vt3.root.toString).load()
      .where($"id" === key).count() === 1L)
  }

  test("r19 DML bloom pruning: point-keyed DELETE/UPDATE/MERGE never touch files whose bloom misses the key (ghost-proof)") {
    val vt = VersionedTable.create(Tables.scratch("vtds_bloom_dml"))
    // interleaved string keys: file r holds id-(3i+r) — min/max windows
    // cannot separate the files, only the bloom can
    def part(r: Int) = (0 until 40).map(i => (f"id-${i * 3 + r}%04d", i.toLong))
      .toDF("k", "v").coalesce(1)
    vt.write(part(0), "main", "A", bloomCols = Seq("k"))
    vt.write(part(1), "main", "B", mode = "append")
    vt.write(part(2), "main", "C", mode = "append")
    def ghostC[T](body: => T): T = {
      // C's keys are ≡2 mod 3; none of the probed keys below lives there,
      // so a correct bloom prune never opens it — physically removing it
      // is the proof
      val cFile = vt.head("main").get.files.find { f =>
        vt.bloomLookup(vt.head("main").get)(f, "k")
          .exists(b => graft.vt.VersionedTable.bloomMightContain(b, "id-0002"))
      }.get
      val tmp = vt.root.resolve("dml_ghost.parquet")
      java.nio.file.Files.move(vt.root.resolve(cFile), tmp)
      try body finally java.nio.file.Files.move(tmp, vt.root.resolve(cFile))
    }
    // COW DELETE of an A-key: candidates exclude the ghosted C
    ghostC { vt.delete(spark, "k = 'id-0006'", "main") }
    assert(vt.read(spark, "main").count() === 119L)
    assert(vt.read(spark, "main").where($"k" === "id-0006").count() === 0L)
    // MOR DELETE (deletion vectors) prunes through the same path
    ghostC { vt.deleteWithVectors(spark, "k IN ('id-0009', 'absent')", "main") }
    assert(vt.read(spark, "main").count() === 118L)
    // UPDATE
    ghostC { vt.update(spark, "k = 'id-0012'", Map("v" -> "777"), "main") }
    assert(vt.read(spark, "main").where($"k" === "id-0012")
      .select("v").as[Long].head() === 777L)
    // full MERGE (update + insert): detection AND the insert anti-join run
    // over the bloom-pruned candidates only
    val src = Seq(("id-0003", 555L), ("id-9999", 1L)).toDF("k", "v")
    ghostC {
      vt.mergeInto(spark, src, "t.k = s.k",
        matched = Seq(graft.vt.MergeClause.update(Map("v" -> "s.v"))),
        notMatched = Seq(graft.vt.MergeClause.insert(
          Map("k" -> "s.k", "v" -> "s.v"))))
    }
    assert(vt.read(spark, "main").where($"k" === "id-0003")
      .select("v").as[Long].head() === 555L)
    assert(vt.read(spark, "main").where($"k" === "id-9999").count() === 1L)
    assert(vt.read(spark, "main").count() === 119L)
    // DOMAIN GUARD (r19 review fix): a literal whose type disagrees with
    // the bloom column probes NOTHING — Spark's implicit casts can still
    // match rows, so a cross-domain probe must never skip them. Here the
    // predicate `v = '25'` (quoted number on the LONG column, after
    // bloom-indexing v too) must still delete its rows.
    val vtL = VersionedTable.create(Tables.scratch("vtds_bloom_domain"))
    vtL.write((0L until 40L).map(i => (f"id-$i%04d", i)).toDF("k", "v")
      .repartition(2), "main", "v0", bloomCols = Seq("k", "v"))
    vtL.delete(spark, "v = '25'", "main")
    assert(vtL.read(spark, "main").where($"v" === 25L).count() === 0L,
      "a quoted-number predicate on a long bloom column must still match")
    assert(vtL.read(spark, "main").count() === 39L)
    // and the converse: an unquoted number against the STRING bloom column
    // probes nothing (no rows match here, but nothing may throw or skip)
    vtL.update(spark, "k = 'id-0007'", Map("v" -> "700"), "main")
    assert(vtL.read(spark, "main").where($"k" === "id-0007")
      .select("v").as[Long].head() === 700L)
  }

  test("format(\"vt\") prunes files from null-count stats (IS NULL / IS NOT NULL)") {
    val vt = VersionedTable.create(Tables.scratch("vtds_nulls"))
    val allNull = (1L to 10L).map(i => (i, null: String)).toDF("k", "v").coalesce(1)
    val noNull = (11L to 20L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1)
    vt.write(allNull, "main", "A", statsCols = Seq("k", "v"))
    vt.write(noNull, "main", "B", mode = "append", statsCols = Seq("k", "v"))
    val root = vt.root.toString
    def scanned(q: DataFrame): Long = {
      q.collect()
      q.queryExecution.executedPlan.collectFirst {
        case s: FileSourceScanExec => s
      }.get.metrics("numFiles").value
    }
    val qNotNull = readVt(root).where($"v".isNotNull)
    assert(qNotNull.select("k").as[Long].collect().sorted === (11L to 20L).toArray)
    assert(scanned(qNotNull) === 1, "the all-null file must be skipped")
    val qNull = readVt(root).where($"v".isNull)
    assert(qNull.select("k").as[Long].collect().sorted === (1L to 10L).toArray)
    assert(scanned(qNull) === 1, "the zero-null file must be skipped")
  }

  test("publish records per-file sizes; VtFileIndex plans without filesystem stats") {
    val vt = VersionedTable.create(Tables.scratch("vtds_sizes"))
    val c = vt.write((1L to 100L).toDF("k").repartition(2), "main", "v0")
    assert(c.fileSizes.keySet === c.files.toSet,
      "every published file must get a recorded size")
    c.files.foreach { f =>
      assert(c.fileSizes(f) === java.nio.file.Files.size(vt.root.resolve(f)))
    }
    // append inherits the parent's sizes without re-stating
    val c1 = vt.write((101L to 110L).toDF("k"), "main", "v1", mode = "append")
    assert(c1.fileSizes.keySet === c1.files.toSet)
    assert(c.files.forall(f => c1.fileSizes(f) == c.fileSizes(f)))
    // planning trusts the log: an index over a commit whose (sized) file is
    // absent on disk still lists — getFileStatus would throw here
    val ghost = c.copy(files = Vector("data/ghost.parquet"),
      fileSizes = Map("data/ghost.parquet" -> 777L))
    val idx = new graft.sources.VtFileIndex(spark, vt, ghost)
    assert(idx.listFiles(Nil, Nil).map(_.files.map(_.getLen).sum).sum === 777L)
    assert(idx.sizeInBytes === 777L)
  }

  test("format(\"vt\") tables register in the SQL catalog and read via pure SQL") {
    val vt = VersionedTable.create(Tables.scratch("vtds_sql"))
    vt.write((1L to 9L).toDF("k"), "main", "v0")
    spark.sql("DROP TABLE IF EXISTS vt_sql_t")
    spark.sql(
      s"CREATE TABLE vt_sql_t USING vt OPTIONS (path '${vt.root}')")
    try {
      val got = spark.sql("SELECT sum(k) AS s FROM vt_sql_t").as[Long].head()
      assert(got === 45L)
    } finally spark.sql("DROP TABLE vt_sql_t")
  }

  test("raced-write repair is parent-pinned: a third writer inside the repair window is never reverted out") {
    // r19 ADVICE fix: the repair publishes with parent = the raced commit,
    // targeting exactly slot raced.version + 1 — a third writer landing
    // between the caller's head check and the repair claims that slot
    // first, so the repair's CAS fails and head keeps the third writer's
    // rows (the old head-re-reading revert would have adopted the third
    // writer as its parent and silently reverted THEIR commit out).
    val vt = VersionedTable.create(Tables.scratch("vtds_pinned_repair"))
    vt.write(Seq((1L, "winner")).toDF("k", "v"), "main", "concurrent winner v0")
    val raced = vt.write(Seq((2L, "raced")).toDF("k", "v"), "main",
      "raced exclusive-create", mode = "append")
    // positive leg: while `raced` IS still head, the pinned repair restores
    // its parent's snapshot as a NEW commit
    val repaired = vt.revertRaced("main", raced, "undo raced write")
    assert(repaired.version === raced.version + 1)
    assert(vt.read(spark, "main").select("v").as[String].collect().toSeq
      === Seq("winner"))
    // negative leg: a third writer claims slot raced.version + 1 — here the
    // repair itself played that role — so a SECOND repair attempt for the
    // same raced commit must lose the CAS and leave head untouched
    val third = vt.write(Seq((3L, "third")).toDF("k", "v"), "main",
      "third writer", mode = "append")
    assert(third.version === raced.version + 2)
    intercept[java.util.ConcurrentModificationException](
      vt.revertRaced("main", raced, "late repair"))
    assert(vt.head("main").get.id === third.id,
      "a lost repair race must leave the third writer's commit at head")
    // and the guarded wrapper reports "no repair" for both stale shapes
    assert(!graft.sources.VtDataSource.undoIfStillHead(vt, "main", raced, "x"))
    assert(vt.head("main").get.id === third.id)
  }
}

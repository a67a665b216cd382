package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.RowDataSourceScanExec
import org.apache.spark.sql.functions._

import graft.vt.VersionedTable

/** The DSv2 catalog front end (`spark.sql.catalog.vt = VtCatalog`): SQL
  * time-travel syntax over versioned tables, native parquet scans with
  * commit-log stats pruning, the V1 bridge for DV snapshots, and
  * INSERT INTO/OVERWRITE as commits. */
class VtCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def registerCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.vt",
      classOf[graft.sources.VtCatalog].getName)

  test("SQL VERSION AS OF / TIMESTAMP AS OF resolve through the vt catalog") {
    registerCatalog()
    val vt = VersionedTable.create(Tables.scratch("vtcat_travel"))
    val df = (1 to 10).map(i => (i.toLong, s"row$i")).toDF("k", "v")
    val c0 = vt.write(df.where($"k" <= 5), "main", "v0")
    while (System.currentTimeMillis() <= c0.ts) Thread.sleep(1)
    vt.write(df, "main", "v1")
    val t = s"vt.`${vt.root}`"
    assert(spark.sql(s"SELECT k FROM $t").as[Long].collect().sorted
      === (1L to 10L).toArray)
    assert(spark.sql(s"SELECT k FROM $t VERSION AS OF 0").as[Long].collect().sorted
      === (1L to 5L).toArray)
    // TIMESTAMP AS OF: format c0's commit millis in the session (UTC) zone
    val ts = java.time.Instant.ofEpochMilli(c0.ts)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(spark.sql(s"SELECT k FROM $t TIMESTAMP AS OF '$ts'")
      .as[Long].collect().sorted === (1L to 5L).toArray)
    // branch@path addressing
    vt.createBranch("side", "main")
    vt.write(df.where($"k" > 8), "side", "side-v")
    assert(spark.sql(s"SELECT k FROM vt.`side@${vt.root}`").as[Long].collect().sorted
      === Array(9L, 10L))
  }

  test("catalog reads are native ParquetScans with commit-log stats pruning") {
    registerCatalog()
    val vt = VersionedTable.create(Tables.scratch("vtcat_prune"))
    def part(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, s"r$i")).toDF("k", "v").coalesce(1)
    vt.write(part(1, 10), "main", "A", statsCols = Seq("k"))
    vt.write(part(11, 20), "main", "B", mode = "append", statsCols = Seq("k"))
    vt.write(part(21, 30), "main", "C", mode = "append", statsCols = Seq("k"))
    val q = spark.sql(s"SELECT k FROM vt.`${vt.root}` WHERE k BETWEEN 12 AND 18")
    assert(q.as[Long].collect().sorted === (12L to 18L).toArray)
    val scan = q.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan
    }.getOrElse(fail("no BatchScanExec — the catalog read did not plan as DSv2"))
    // the pushed data filters reached VtFileIndex.listFiles: one file planned
    val plannedFiles = scan.toBatch.planInputPartitions()
      .flatMap(_.asInstanceOf[FilePartition].files).length
    assert(plannedFiles === 1,
      "commit-log stats must prune two of three files in the DSv2 scan")
    // parquet-level pushdown negotiated too
    assert(q.queryExecution.executedPlan.toString.contains("PushedFilters"),
      "catalyst filters must reach the parquet scan")
  }

  test("Spark's parquet aggregate pushdown composes with the catalog scan") {
    registerCatalog()
    val vt = VersionedTable.create(Tables.scratch("vtcat_aggpush"))
    vt.write((1L to 100L).toDF("k"), "main", "v0")
    val before = spark.conf.getOption("spark.sql.parquet.aggregatePushdown")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      // MIN/MAX/COUNT answered from parquet FOOTERS of the commit-pinned
      // file set — zero row reads; the DSv2 route gets this for free
      // because VtTable serves Spark's own ParquetScanBuilder
      val q = spark.sql(
        s"SELECT min(k) AS mn, max(k) AS mx, count(*) AS c FROM vt.`${vt.root}`")
      assert(q.as[(Long, Long, Long)].head() === ((1L, 100L, 100L)))
      assert(q.queryExecution.executedPlan.toString.contains(
        "PushedAggregation: [MIN(k), MAX(k), COUNT(*)]"),
        "the aggregate must reach the parquet scan")
    } finally before match {
      case Some(v) => spark.conf.set("spark.sql.parquet.aggregatePushdown", v)
      case None => spark.conf.unset("spark.sql.parquet.aggregatePushdown")
    }
    // spark.table resolves through the catalog too (DataFrame route)
    assert(spark.table(s"vt.`${vt.root}`").count() === 100L)
  }

  test("DV snapshots serve a NATIVE DSv2 batch: exact MOR, file-pruned, row-index subtraction") {
    registerCatalog()
    val vt = VersionedTable.create(Tables.scratch("vtcat_mor"))
    def part(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, s"r$i")).toDF("k", "v").coalesce(1)
    vt.write(part(1, 10), "main", "A", statsCols = Seq("k"))
    vt.write(part(11, 20), "main", "B", mode = "append", statsCols = Seq("k"))
    vt.deleteWithVectors(spark, "k % 10 = 5", "main")
    val q = spark.sql(s"SELECT k FROM vt.`${vt.root}` WHERE k >= 11")
    assert(q.as[Long].collect().sorted === Array(11L, 12, 13, 14, 16, 17, 18, 19, 20),
      "k=15 must stay deleted through the SQL read")
    // r18: the scan is the native batch (no V1Scan/RDD[Row] bridge), and
    // the stats windows pruned the out-of-range file BEFORE planning
    val scan = q.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }
    assert(scan.exists(_.isInstanceOf[graft.sources.VtMorScan]),
      s"DV snapshots must take the native VtMorScan, got $scan")
    assert(scan.get.description().contains("files=1/2"),
      s"the k>=11 window must prune file A pre-planning: ${scan.get.description()}")
    // and the full unfiltered read is exact too
    assert(spark.sql(s"SELECT count(*) AS c FROM vt.`${vt.root}`")
      .as[Long].head() === 18L)
    // AQE sees commit-log statistics (row count net of deletions)
    val stats = scan.get.asInstanceOf[graft.sources.VtMorScan].estimateStatistics()
    assert(stats.numRows.getAsLong === 9L, "stats = pruned-file rows minus deletions")
  }

  test("INSERT INTO appends a commit; INSERT OVERWRITE replaces; history travels") {
    registerCatalog()
    val vt = VersionedTable.create(Tables.scratch("vtcat_insert"))
    vt.write((1L to 3L).toDF("k"), "main", "v0")
    val t = s"vt.`${vt.root}`"
    spark.sql(s"INSERT INTO $t SELECT id + 4 AS k FROM range(3)")
    assert(spark.sql(s"SELECT k FROM $t").as[Long].collect().sorted
      === (1L to 6L).toArray, "INSERT INTO must append one commit")
    spark.sql(s"INSERT OVERWRITE $t SELECT id + 100 AS k FROM range(2)")
    assert(spark.sql(s"SELECT k FROM $t").as[Long].collect().sorted
      === Array(100L, 101L), "INSERT OVERWRITE must replace")
    // each statement was one commit: the pre-insert content still travels
    assert(spark.sql(s"SELECT k FROM $t VERSION AS OF 0").as[Long].collect().sorted
      === (1L to 3L).toArray)
    assert(spark.sql(s"SELECT k FROM $t VERSION AS OF 1").as[Long].collect().sorted
      === (1L to 6L).toArray)
  }

  test("SQL DELETE FROM: COW commit via SupportsDelete; mor mode attaches DVs; untranslatable refused") {
    registerCatalog()
    val vt = VersionedTable.create(Tables.scratch("vtcat_delete"))
    def part(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, s"r$i")).toDF("k", "v").coalesce(1)
    vt.write(part(1, 10), "main", "A", statsCols = Seq("k"))
    vt.write(part(11, 20), "main", "B", mode = "append", statsCols = Seq("k"))
    vt.write(part(21, 30), "main", "C", mode = "append", statsCols = Seq("k"))
    val t = s"vt.`${vt.root}`"
    // COW delete: one new commit, only the touched file rewritten
    val filesBefore = vt.head("main").get.files.toSet
    spark.sql(s"DELETE FROM $t WHERE k >= 14 AND k <= 16")
    val head = vt.head("main").get
    assert(head.version === 3L, "SQL DELETE must land as ONE commit")
    assert(head.dvs.isEmpty, "default mode is copy-on-write, not DVs")
    assert((filesBefore -- head.files.toSet).size === 1,
      "stats pruning must confine the rewrite to the one file holding 14..16")
    assert(spark.sql(s"SELECT k FROM $t").as[Long].collect().sorted
      === ((1L to 13L) ++ (17L to 30L)).toArray)
    // history still travels: the deleted band exists at version 2
    assert(spark.sql(s"SELECT count(*) AS c FROM $t VERSION AS OF 2")
      .as[Long].head() === 30L)
    // IN-list + string conjunct (both FilterSql shapes), string escaping
    spark.sql(s"DELETE FROM $t WHERE k IN (1, 2) AND v != 'it''s'")
    assert(spark.sql(s"SELECT count(*) AS c FROM $t").as[Long].head() === 25L)
    // mor mode: deletion vectors, zero files rewritten
    spark.conf.set("spark.graft.vt.delete.mode", "mor")
    try {
      val before = vt.head("main").get
      spark.sql(s"DELETE FROM $t WHERE k = 20")
      val after = vt.head("main").get
      // a file whose vector grows is re-stated (drop plus fresh entry), so
      // only the resolution ORDER of the same files may change
      assert(after.files.sorted === before.files.sorted, "mor delete must rewrite nothing")
      assert(after.dvs.nonEmpty, "mor delete must attach deletion vectors")
      assert(spark.sql(s"SELECT count(*) AS c FROM $t").as[Long].head() === 24L)
      // and a second SQL delete THROUGH the DV-carrying snapshot still works
      spark.sql(s"DELETE FROM $t WHERE k = 21")
      assert(spark.sql(s"SELECT k FROM $t WHERE k BETWEEN 19 AND 22")
        .as[Long].collect().sorted === Array(19L, 22L))
    } finally spark.conf.unset("spark.graft.vt.delete.mode")
    // an untranslatable predicate is REFUSED (nothing deleted), not approximated
    val n = spark.sql(s"SELECT count(*) AS c FROM $t").as[Long].head()
    val e = intercept[Exception](
      spark.sql(s"DELETE FROM $t WHERE length(v) > 2"))
    assert(e.getMessage.toLowerCase.matches("(?s).*(cannot|unsupported|can't|failed).*"),
      e.getMessage)
    assert(spark.sql(s"SELECT count(*) AS c FROM $t").as[Long].head() === n,
      "a refused DELETE must delete nothing")
  }

  test("VtSqlDml.exec: UPDATE and MERGE INTO statements run on a vanilla session") {
    registerCatalog()
    import graft.sources.VtSqlDml
    val vt = VersionedTable.create(Tables.scratch("vtcat_dml"))
    vt.write((1L to 6L).map(k => (k, k * 10, "old")).toDF("k", "v", "tag"), "main", "v0")
    val t = s"vt.`${vt.root}`"
    // UPDATE with alias: qualifiers strip onto the bare engine scan
    VtSqlDml.exec(spark, s"UPDATE $t AS x SET v = x.v + 1, tag = 'upd' WHERE x.k <= 2")
    assert(spark.sql(s"SELECT v FROM $t WHERE k <= 2").as[Long].collect().sorted
      === Array(11L, 21L))
    // UPDATE without alias or WHERE: all rows
    VtSqlDml.exec(spark, s"UPDATE $t SET v = v + 100")
    assert(spark.sql(s"SELECT sum(v) AS s FROM $t").as[Long].head()
      === (11 + 21 + 30 + 40 + 50 + 60) + 600L)
    // full MERGE: conditional update, delete, conditional insert, by-source
    spark.range(4).select(($"id" + 5).as("k"), lit(7L).as("nv"))
      .createOrReplaceTempView("dml_src") // keys 5,6 matched; 7,8 not
    val c = VtSqlDml.exec(spark,
      s"""MERGE INTO $t AS tgt USING dml_src AS src ON tgt.k = src.k
         |WHEN MATCHED AND tgt.k = 5 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = src.nv
         |WHEN NOT MATCHED AND src.k < 8 THEN INSERT (k, v) VALUES (src.k, src.nv)
         |WHEN NOT MATCHED BY SOURCE AND tgt.k = 1 THEN UPDATE SET tag = 'lone'
         |""".stripMargin)
    val got = spark.sql(s"SELECT k, v, tag FROM $t ORDER BY k")
      .as[(Long, Long, Option[String])].collect()
    assert(got === Array(
      (1L, 111L, Some("lone")), (2L, 121L, Some("upd")), (3L, 130L, Some("old")),
      (4L, 140L, Some("old")), (6L, 7L, Some("old")), (7L, 7L, None)),
      "k=5 deleted, k=6 updated, k=7 inserted (null tag), k=8 filtered, k=1 retagged")
    assert(vt.head("main").get.version === c.version, "MERGE landed as one commit")
    // subqueries in DML conditions are refused loudly
    val e = intercept[IllegalArgumentException](VtSqlDml.exec(spark,
      s"DELETE FROM $t WHERE k IN (SELECT k FROM dml_src)"))
    assert(e.getMessage.contains("subqueries"), e.getMessage)
    // non-DML or non-vt statements are not claimed
    intercept[IllegalArgumentException](VtSqlDml.exec(spark, s"SELECT * FROM $t"))
    spark.catalog.dropTempView("dml_src")
  }

  test("spark.sql UPDATE/MERGE/DELETE work literally in a GraftExtensions session") {
    // new session (same context) WITH extensions — FunctionsSpec's pattern
    val shared = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      import s2.implicits._
      s2.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
      val vt = VersionedTable.create(Tables.scratch("vtcat_extdml"))
      vt.write((1L to 5L).map(k => (k, k * 10)).toDF("k", "v"), "main", "v0")
      val t = s"vt.`${vt.root}`"
      // UPDATE via literal SQL (would need SupportsRowLevelOperations upstream)
      s2.sql(s"UPDATE $t SET v = v + 1 WHERE k = 1")
      assert(s2.sql(s"SELECT v FROM $t WHERE k = 1").as[Long].head() === 11L)
      // DELETE with a predicate SupportsDelete cannot translate — the
      // parser route handles arbitrary row-local predicates
      s2.sql(s"DELETE FROM $t WHERE k % 2 = 0 AND length(CAST(v AS STRING)) >= 2")
      assert(s2.sql(s"SELECT k FROM $t").as[Long].collect().sorted === Array(1L, 3L, 5L))
      // MERGE with star actions expanding against the commit schema
      Seq((3L, 333L), (9L, 999L)).toDF("k", "v").createOrReplaceTempView("ext_src")
      s2.sql(
        s"""MERGE INTO $t AS tgt USING ext_src AS src ON tgt.k = src.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(s2.sql(s"SELECT k, v FROM $t ORDER BY k").as[(Long, Long)].collect()
        === Array((1L, 11L), (3L, 333L), (5L, 50L), (9L, 999L)))
      // each statement was one commit; everything still time-travels
      assert(s2.sql(s"SELECT count(*) AS c FROM $t VERSION AS OF 0").as[Long].head() === 5L)
      // the wrapped parser passes everything else through untouched
      assert(s2.sql("SELECT 1 + 1 AS x").as[Long].head() === 2L)
      assert(s2.range(3).count() === 3L)
      s2.catalog.dropTempView("ext_src")
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(shared)
      org.apache.spark.sql.SparkSession.setActiveSession(shared)
    }
  }

  test("utility SQL: VACUUM / DESCRIBE HISTORY / OPTIMIZE ZORDER / RESTORE as statements") {
    registerCatalog()
    import graft.sources.VtUtilitySql
    val vt = VersionedTable.create(Tables.scratch("vtcat_util"))
    def part(lo: Long, hi: Long) = (lo to hi).map(k => (k, k * 2)).toDF("k", "v").coalesce(1)
    vt.write(part(1, 10), "main", "v0", statsCols = Seq("k"))
    vt.write(part(1, 20), "main", "v1", statsCols = Seq("k"))
    val t = s"vt.`${vt.root}`"
    // vanilla-session door first: DESCRIBE HISTORY returns the lineage
    val hist = VtUtilitySql.exec(spark, s"DESCRIBE HISTORY $t")
      .select("version", "n_files").as[(Long, Int)].collect()
    assert(hist.map(_._1).toSeq === Seq(1L, 0L), "newest first")
    // literal statements through the extensions parser
    val shared = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]").config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      import s2.implicits._
      s2.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
      // DESCRIBE HISTORY as a literal statement (Spark parses it natively
      // as a describe-column — the parser shadows exactly that shape)
      assert(s2.sql(s"DESCRIBE HISTORY $t").select("version")
        .as[Long].collect().toSeq === Seq(1L, 0L))
      // OPTIMIZE ZORDER: layout-only commit, rows identical, fresh 2-D stats
      val zr = s2.sql(s"OPTIMIZE $t FILES 4 ZORDER BY (k, v)")
        .as[(Long, Int)].head()
      assert(zr === ((2L, 4)), "optimize = one layout commit with 4 files")
      assert(s2.sql(s"SELECT sum(k) AS s FROM $t").as[Long].head() === (1L to 20L).sum)
      val head = vt.head("main").get
      assert(head.files.forall(f => vt.head("main").get.stats(f).contains("k")),
        "z-order refreshes per-file stats")
      // RESTORE TO VERSION AS OF: v0's content as a NEW commit
      assert(s2.sql(s"RESTORE TABLE $t TO VERSION AS OF 0").as[Long].head() === 3L)
      assert(s2.sql(s"SELECT count(*) AS c FROM $t").as[Long].head() === 10L)
      assert(s2.sql(s"SELECT count(*) AS c FROM $t VERSION AS OF 1").as[Long].head() === 20L,
        "restore must not rewrite history")
      // VACUUM: dry run counts without deleting; the real run reclaims
      val dry = s2.sql(s"VACUUM $t RETAIN 1 VERSIONS DRY RUN").as[Long].head()
      assert(dry > 0L, "older versions hold reclaimable files")
      assert(s2.sql(s"SELECT count(*) AS c FROM $t VERSION AS OF 1").as[Long].head() === 20L,
        "dry run must delete nothing")
      val real = s2.sql(s"VACUUM $t RETAIN 1 VERSIONS").as[Long].head()
      assert(real === dry, "the real vacuum reclaims exactly what the dry run counted")
      assert(s2.sql(s"SELECT count(*) AS c FROM $t").as[Long].head() === 10L,
        "the retained head survives the vacuum")
      // a parse error on NON-vt text keeps its original exception
      intercept[org.apache.spark.sql.catalyst.parser.ParseException](
        s2.sql("VACUUM other.`/nope`"))
      intercept[org.apache.spark.sql.catalyst.parser.ParseException](
        s2.sql("VACUUM")) // matches neither grammar: the original error survives
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(shared)
      org.apache.spark.sql.SparkSession.setActiveSession(shared)
    }
  }

  test("branch/tag SQL: CREATE/DROP BRANCH, CREATE/DROP TAG, MERGE BRANCH, SHOW BRANCHES") {
    registerCatalog()
    import graft.sources.VtUtilitySql
    val vt = VersionedTable.create(Tables.scratch("vtcat_branch"))
    vt.write((1L to 5L).toDF("k"), "main", "v0")
    val t = s"vt.`${vt.root}`"
    // lifecycle through the extensions-free door (same translator the
    // injected parser uses)
    VtUtilitySql.exec(spark, s"CREATE BRANCH dev IN $t").collect()
    // writes on the branch are invisible to main until merged
    vt.write((6L to 8L).toDF("k"), "dev", "dev-rows", mode = "append")
    assert(spark.sql(s"SELECT count(*) AS c FROM $t").as[Long].head() === 5L)
    assert(spark.sql(s"SELECT count(*) AS c FROM vt.`dev@${vt.root}`")
      .as[Long].head() === 8L)
    // tag the branch head via branch@path addressing
    VtUtilitySql.exec(spark, s"CREATE TAG v1.0 IN vt.`dev@${vt.root}`").collect()
    assert(vt.readTag(spark, "v1.0").count() === 8L)
    val merged = VtUtilitySql.exec(spark, s"MERGE BRANCH dev INTO main IN $t")
      .as[Long].head()
    assert(spark.sql(s"SELECT count(*) AS c FROM $t").as[Long].head() === 8L)
    assert(vt.head("main").get.version === merged)
    val branches = VtUtilitySql.exec(spark, s"SHOW BRANCHES IN $t")
      .as[(String, Long)].collect().toMap
    assert(branches.keySet === Set("main", "dev"))
    VtUtilitySql.exec(spark, s"DROP BRANCH dev IN $t").collect()
    assert(VtUtilitySql.exec(spark, s"SHOW BRANCHES IN $t")
      .as[(String, Long)].collect().map(_._1).toSeq === Seq("main"))
    VtUtilitySql.exec(spark, s"DROP TAG v1.0 IN $t").collect()
    intercept[IllegalArgumentException](
      VtUtilitySql.exec(spark, s"DROP TAG v1.0 IN $t"))
    // and literally through spark.sql in an extensions session
    val shared = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]").config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      s2.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
      s2.sql(s"CREATE BRANCH hotfix IN $t FROM main")
      assert(s2.sql(s"SHOW BRANCHES IN $t").collect().map(_.getString(0)).sorted
        === Array("hotfix", "main"))
      s2.sql(s"DROP BRANCH hotfix IN $t")
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(shared)
      org.apache.spark.sql.SparkSession.setActiveSession(shared)
    }
  }

  test("MOR columnar passthrough: deletion-free partitions keep vectorized batches") {
    registerCatalog()
    val vt = VersionedTable.create(Tables.scratch("vtcat_morcol"))
    def part(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, s"r$i")).toDF("k", "v").coalesce(1)
    vt.write(part(1, 10), "main", "A", statsCols = Seq("k"))
    vt.write(part(11, 20), "main", "B", mode = "append", statsCols = Seq("k"))
    vt.deleteWithVectors(spark, "k = 3", "main") // only file A carries a DV
    val t = s"vt.`${vt.root}`"
    def scanOf(q: org.apache.spark.sql.DataFrame) =
      q.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get
    // the k>=11 window prunes to file B (no deletions): the whole scan
    // stays COLUMNAR — vectorized batches forwarded minus the row-index
    val clean = spark.sql(s"SELECT k FROM $t WHERE k >= 11")
    assert(clean.as[Long].collect().sorted === (11L to 20L).toArray)
    assert(scanOf(clean).supportsColumnar,
      "a DV-free pruned read must keep vectorized batches")
    // a read touching the DV-carrying file drops to exact row subtraction
    val mixed = spark.sql(s"SELECT k FROM $t")
    assert(mixed.as[Long].collect().sorted ===
      ((1L to 2L) ++ (4L to 20L)).toArray, "k=3 stays deleted")
    assert(!scanOf(mixed).supportsColumnar,
      "a partition with deletions forces the row-based subtraction path")
  }

  test("runtime file skipping: a broadcast join's key values prune MOR files at execution (ghost-proof)") {
    registerCatalog()
    val vt = VersionedTable.create(Tables.scratch("vtcat_dfp"))
    def part(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, i * 10L)).toDF("k", "v").coalesce(1)
    vt.write(part(1, 100), "main", "A", statsCols = Seq("k"))
    vt.write(part(101, 200), "main", "B", mode = "append", statsCols = Seq("k"))
    vt.write(part(201, 300), "main", "C", mode = "append", statsCols = Seq("k"))
    vt.deleteWithVectors(spark, "k = 150", "main") // MOR: the catalog plans VtMorScan
    val head = vt.head("main").get
    // dim keys live entirely in file B's range; the dim must be FILE-backed —
    // a LocalRelation dim gets its filter constant-folded away before the
    // dynamic-pruning rule looks for a selective build-side predicate
    val dimPath = Tables.scratch("vtcat_dfp_dim")
    Seq((120L, "x"), (130L, "x"), (140L, "y")).toDF("dk", "grp")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("dfp_dim")
    // GHOST file C: no static predicate mentions k, so only the RUNTIME
    // join-key filter can prune it — the query succeeds iff the skip happened
    val cFile = head.files.find(f => head.stats(f)("k")._1 >= 201.0).get
    val tmp = vt.root.resolve("dfp_ghost.parquet")
    java.nio.file.Files.move(vt.root.resolve(cFile), tmp)
    try {
      val q = spark.sql(
        s"""SELECT sum(f.v) AS s FROM vt.`${vt.root}` f JOIN dfp_dim d ON f.k = d.dk
           |WHERE d.grp = 'x'""".stripMargin)
      assert(q.as[Long].head() === 2500L) // 1200 + 1300
      val finalPlan = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val scanExec = finalPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get
      assert(scanExec.runtimeFilters.nonEmpty,
        "the dynamic-pruning rule must attach the join-key runtime filter")
      assert(scanExec.scan.isInstanceOf[graft.sources.VtMorScan])
      // the file-count proof is the GHOST itself: file C physically absent,
      // no static predicate mentions k — the query above could only succeed
      // because filter() dropped C before partition planning (AQE may show
      // a re-planned scan instance here, so the live count is not poked)
    } finally java.nio.file.Files.move(tmp, vt.root.resolve(cFile))
  }

  test("runtime file skipping works on DV-free snapshots too (VtDfScan, ghost-proof)") {
    registerCatalog()
    val vt = VersionedTable.create(Tables.scratch("vtcat_dfp2"))
    def part(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, i * 10L)).toDF("k", "v").coalesce(1)
    vt.write(part(1, 100), "main", "A", statsCols = Seq("k"))
    vt.write(part(101, 200), "main", "B", mode = "append", statsCols = Seq("k"))
    vt.write(part(201, 300), "main", "C", mode = "append", statsCols = Seq("k"))
    val head = vt.head("main").get
    val dimPath = Tables.scratch("vtcat_dfp2_dim")
    Seq((120L, "x"), (130L, "x"), (140L, "y")).toDF("dk", "grp")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("dfp2_dim")
    val cFile = head.files.find(f => head.stats(f)("k")._1 >= 201.0).get
    val tmp = vt.root.resolve("dfp2_ghost.parquet")
    java.nio.file.Files.move(vt.root.resolve(cFile), tmp)
    try {
      val q = spark.sql(
        s"""SELECT sum(f.v) AS s FROM vt.`${vt.root}` f JOIN dfp2_dim d ON f.k = d.dk
           |WHERE d.grp = 'x'""".stripMargin)
      assert(q.as[Long].head() === 2500L)
      val finalPlan = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val scanExec = finalPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get
      assert(scanExec.runtimeFilters.nonEmpty)
      assert(scanExec.scan.isInstanceOf[graft.sources.VtDfScan],
        s"DV-free catalog reads take VtDfScan, got ${scanExec.scan}")
    } finally java.nio.file.Files.move(tmp, vt.root.resolve(cFile))
  }

  test("metadata-only SQL aggregates: count/min/max answered with ZERO file reads (ghosted data files)") {
    registerCatalog()
    val vt = VersionedTable.create(Tables.scratch("vtcat_metaagg"))
    vt.write(Seq((1L, "a"), (7L, null: String), (5L, "m")).toDF("k", "v").coalesce(1),
      "main", "v0", statsCols = Seq("k", "v"))
    vt.write(Seq((10L, "z"), (2L, "b")).toDF("k", "v").coalesce(1),
      "main", "v1", mode = "append", statsCols = Seq("k", "v"))
    val t = s"vt.`${vt.root}`"
    // GHOST the data plane: every answer below must come from the commit
    // log alone — any file read (even a footer) would throw
    val head = vt.head("main").get
    val tmp = vt.root.resolve("ghost_all")
    java.nio.file.Files.createDirectories(tmp)
    head.files.foreach { f =>
      java.nio.file.Files.move(vt.root.resolve(f), tmp.resolve(f.replace('/', '_')))
    }
    try {
      val q = spark.sql(
        s"SELECT count(*) AS c, count(v) AS cv, min(k) AS mn, max(k) AS mx, " +
          s"min(v) AS vmn, max(v) AS vmx FROM $t")
      assert(q.collect().toSeq.map(_.toSeq) ===
        Seq(Seq(5L, 4L, 1L, 10L, "a", "z")))
      assert(q.queryExecution.executedPlan.toString.contains("LocalTableScan"),
        s"the metadata answer must plan as a local relation:\n${q.queryExecution.executedPlan}")
      // not provable → must NOT answer from metadata: filtered, grouped,
      // distinct-counted, or non-min/max aggregates fall through to a real
      // scan — which fails loudly on the ghosted files instead of guessing
      intercept[Exception](
        spark.sql(s"SELECT count(*) AS c FROM $t WHERE k > 3").collect())
      intercept[Exception](
        spark.sql(s"SELECT v, count(*) AS c FROM $t GROUP BY v").collect())
      intercept[Exception](
        spark.sql(s"SELECT sum(k) AS s FROM $t").collect())
    } finally head.files.foreach { f =>
      java.nio.file.Files.move(tmp.resolve(f.replace('/', '_')), vt.root.resolve(f))
    }
    // with files back, the fallback paths answer exactly
    assert(spark.sql(s"SELECT count(*) AS c FROM $t WHERE k > 3").as[Long].head() === 3L)
  }

  test("r20: MOR MIN/MAX answers from metadata when the extremal files are DV-free (ghost-proof)") {
    registerCatalog()
    val vt = VersionedTable.create(Tables.scratch("vtcat_mor_minmax"))
    // range-clustered: file i covers ~[i*100, i*100+99]
    // s must be NULLABLE: Catalyst rewrites count(non-nullable col) to
    // count(*), which IS metadata-answerable and would defeat the
    // count(col)-refusal assertion below
    val df = spark.range(0, 400).toDF("k")
      .withColumn("s", when(col("k") % 7 === 3, lit(null))
        .otherwise(concat(lit("v"), col("k").cast("string"))))
    vt.write(df.repartitionByRange(4, col("k")), "main", "v0",
      statsCols = Seq("k", "s"))
    // MOR-delete the MIDDLE band only: the files carrying min(k)/max(k)
    // (and the string extremes "v0"/"v99", both in the first file) stay
    // DV-free, so every end has a surviving witness
    vt.deleteWithVectors(spark, "k >= 100 AND k < 300", "main")
    val t = s"vt.`${vt.root}`"
    val head = vt.head("main").get
    val tmp = vt.root.resolve("ghost_mor")
    java.nio.file.Files.createDirectories(tmp)
    head.files.foreach { f =>
      java.nio.file.Files.move(vt.root.resolve(f), tmp.resolve(f.replace('/', '_')))
    }
    try {
      val q = spark.sql(
        s"SELECT count(*) AS c, min(k) AS mn, max(k) AS mx, " +
          s"min(s) AS smn, max(s) AS smx FROM $t")
      assert(q.collect().toSeq.map(_.toSeq) ===
        Seq(Seq(200L, 0L, 399L, "v0", "v99")))
      assert(q.queryExecution.executedPlan.toString.contains("LocalTableScan"),
        s"the DV metadata answer must plan locally:\n${q.queryExecution.executedPlan}")
      // count(col) stays refused under DVs (deleted rows' null-ness is
      // unknown) — the scan fallback fails loudly on the ghosts
      intercept[Exception](spark.sql(s"SELECT count(s) AS c FROM $t").collect())
    } finally head.files.foreach { f =>
      java.nio.file.Files.move(tmp.resolve(f.replace('/', '_')), vt.root.resolve(f))
    }
    // delete rows in the MIN file: min(k) loses its witness (the true
    // minimum may be gone) → scan fallback answers the moved-up value
    vt.deleteWithVectors(spark, "k < 50", "main")
    val q2 = spark.sql(s"SELECT min(k) AS mn, max(k) AS mx FROM $t")
    assert(q2.collect().toSeq.map(_.toSeq) === Seq(Seq(50L, 399L)))
    assert(!q2.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "a witness-less end must fall back to the scan")
  }

  test("r19 OPTIMIZE WHERE: only the predicate's files rewrite; untouched files keep identity, stats, and CDC silence") {
    import graft.sources.VtUtilitySql
    registerCatalog()
    val vt = VersionedTable.create(Tables.scratch("vtcat_opt_where"))
    vt.write(spark.range(1, 101).toDF("k").repartition(1), "main", "cold",
      statsCols = Seq("k"))
    vt.write(spark.range(101, 201).toDF("k").repartition(4), "main",
      "hot small files", mode = "append", statsCols = Seq("k"))
    val before = vt.head("main").get
    val cold = before.files.filter(f => before.stats(f)("k")._2 <= 100.0)
    assert(cold.size === 1 && before.files.size === 5)
    val t = s"vt.`${vt.root}`"
    VtUtilitySql.exec(spark, s"OPTIMIZE $t WHERE k >= 101").collect()
    val after = vt.head("main").get
    assert(after.version === before.version + 1)
    // untouched region: same file identity, same stats entry — the rewrite
    // never touched (or even read) the cold file
    cold.foreach { f =>
      assert(after.files.contains(f), s"cold file $f must keep its identity")
      assert(after.stats(f) === before.stats(f))
    }
    // the four hot files coalesced into one
    assert(after.files.size === cold.size + 1)
    assert(spark.sql(s"SELECT sum(k) AS s FROM $t").as[Long].head()
      === (1L to 200L).sum)
    // layout-only: the file-granular CDC diff over the interval cancels
    assert(vt.changes(spark, "main", before.version, after.version).count() === 0L)
    // a predicate matching no file is a no-op (no empty commit churn)
    assert(vt.compactWhere(spark, "main", "k >= 100000").version === after.version)
    // WHERE + ZORDER composes: the selected region is z-ordered in place
    VtUtilitySql.exec(spark, s"OPTIMIZE $t FILES 2 WHERE k >= 101 ZORDER BY (k)").collect()
    val zafter = vt.head("main").get
    assert(zafter.version === after.version + 1)
    cold.foreach(f => assert(zafter.files.contains(f)))
    assert(spark.sql(s"SELECT sum(k) AS s FROM $t").as[Long].head()
      === (1L to 200L).sum)
  }

  test("DROP TABLE on a repo root answers false and leaves the repo readable") {
    registerCatalog()
    val root = Tables.scratch("vtcat_repo_root")
    val repo = graft.vt.Repo.create(root)
    repo.stageWrite(Seq(1, 2).toDF("x"), "main", "t")
    repo.commit("main", "v0")
    val cat = new graft.sources.VtCatalog()
    cat.initialize("vt", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Collections.emptyMap()))
    assert(!cat.dropTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, root)))
    // the SQL surface may refuse by error or by answering false, never by
    // deleting; nor may CREATE TABLE lay a table over the repo's refs
    scala.util.Try(spark.sql(s"DROP TABLE vt.`$root`").collect())
    intercept[Exception](spark.sql(s"CREATE TABLE vt.`$root` (k BIGINT)").collect())
    intercept[Exception](
      spark.sql(s"CREATE TABLE vt.`$root` USING vt AS SELECT 1L AS k").collect())
    assert(graft.vt.Repo.open(root).head("main").get.version === 0)
    assert(graft.vt.Repo.open(root).readTable(spark, "main", "t")
      .as[Int].collect().sorted === Array(1, 2))
  }

  test("r19 DDL: CREATE TABLE / CTAS / DROP TABLE; a failed CTAS leaves no committed table") {
    registerCatalog()
    val path = Tables.scratch("vtcat_ctas")
    val t = s"vt.`$path`"
    spark.sql(s"CREATE TABLE $t AS SELECT id AS k, id * 2 AS v FROM range(100)").collect()
    assert(spark.sql(s"SELECT count(*) AS c, sum(v) AS s FROM $t")
      .as[(Long, Long)].head() === ((100L, 9900L)))
    val vt = VersionedTable.open(path)
    // r19b: CTAS is ATOMIC (StagingTableCatalog) — the table springs into
    // existence as ONE commit carrying the data, not an empty v0 + data v1
    assert(vt.head("main").get.version === 0L, "atomic CTAS = one commit with the data")
    assert(vt.readVersion(spark, "main", 0).count() === 100L)
    assert(vt.readVersion(spark, "main", 0).schema.fieldNames.toSeq === Seq("k", "v"))
    // CTAS / CREATE on an existing table refuses
    intercept[Exception](spark.sql(s"CREATE TABLE $t AS SELECT 1 AS x").collect())
    // plain CREATE TABLE + INSERT round-trips; empty COUNT is metadata-only
    val path2 = Tables.scratch("vtcat_create_plain")
    val t2 = s"vt.`$path2`"
    spark.sql(s"CREATE TABLE $t2 (k BIGINT, v STRING)").collect()
    assert(spark.sql(s"SELECT count(*) AS c FROM $t2").as[Long].head() === 0L)
    spark.sql(s"INSERT INTO $t2 VALUES (1, 'a'), (2, 'b')").collect()
    assert(spark.sql(s"SELECT sum(k) AS s FROM $t2").as[Long].head() === 3L)
    // PARTITIONED BY refuses (versioned tables cluster via ZORDER instead)
    val path3 = Tables.scratch("vtcat_ctas_part")
    intercept[Exception](
      spark.sql(s"CREATE TABLE vt.`$path3` (k BIGINT) PARTITIONED BY (k)").collect())
    // failed CTAS: the exec node drops the half-created table — nothing
    // committed, nothing left to load
    val path4 = Tables.scratch("vtcat_ctas_fail")
    intercept[Exception](spark.sql(
      s"CREATE TABLE vt.`$path4` AS " +
        "SELECT assert_true(id < 5) AS a, id FROM range(10)").collect())
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path4).resolve("_graft_table")),
      "a failed CTAS must leave no committed table behind")
    intercept[Exception](spark.sql(s"SELECT * FROM vt.`$path4`").collect())
    // clauses the catalog cannot honor refuse LOUDLY (never silently drop)
    val path5 = Tables.scratch("vtcat_ctas_props")
    intercept[Exception](
      spark.sql(s"CREATE TABLE vt.`$path5` (k BIGINT) USING csv").collect())
    // free-form TBLPROPERTIES persist since r19c (durable commit-log props)
    spark.sql(
      s"CREATE TABLE vt.`$path5` (k BIGINT) TBLPROPERTIES ('x'='y')").collect()
    assert(VersionedTable.open(path5).head("main").get.props === Map("x" -> "y"))
    spark.sql(s"DROP TABLE vt.`$path5`").collect()
    spark.sql(s"CREATE TABLE vt.`$path5` (k BIGINT) USING vt").collect() // ok
    // DROP TABLE removes a verified table root; refuses non-table paths
    spark.sql(s"DROP TABLE $t2").collect()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path2)))
    val cat = new graft.sources.VtCatalog()
    cat.initialize("vt", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Collections.emptyMap()))
    def dropOf(p: String) = cat.dropTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, p))
    val notATable = Tables.scratch("vtcat_not_a_table")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(notATable))
    assert(!dropOf(notATable), "dropTable must refuse a non-table path")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(notATable)))
    // a lone `commits` subfolder in an unrelated tree must NOT authorize a
    // recursive delete (r19 review fix)
    val lookalike = Tables.scratch("vtcat_lookalike")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(lookalike).resolve("commits"))
    assert(!dropOf(lookalike), "a mere 'commits' subfolder is not a table root")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(lookalike).resolve("commits")))
    // a BRANCH-scoped DROP removes only that branch — never the table
    // (r19 review fix: the old shape deleted the whole root)
    val vtB = VersionedTable.create(Tables.scratch("vtcat_drop_branch"))
    vtB.write(Seq((1L, "keep")).toDF("k", "v"), "main", "main data")
    vtB.createBranch("dev", "main")
    vtB.write(Seq((2L, "dev")).toDF("k", "v"), "dev", "dev data", mode = "append")
    spark.sql(s"DROP TABLE vt.`dev@${vtB.root}`").collect()
    assert(vtB.head("dev").isEmpty, "the dev branch is gone")
    assert(vtB.read(spark, "main").select("v").as[String].collect().toSeq
      === Seq("keep"), "main's data survives a branch-scoped DROP")
    assert(!dropOf(s"dev@${vtB.root}"), "re-dropping a missing branch is false")
    // a failed BRANCH-scoped CTAS on a fresh path (the table's ONLY branch
    // is the one being created) must also leave nothing behind — the
    // cleanup drops the whole just-created table, not just the branch
    val path6 = Tables.scratch("vtcat_ctas_branch_fail")
    intercept[Exception](spark.sql(
      s"CREATE TABLE vt.`dev@$path6` AS " +
        "SELECT assert_true(id < 5) AS a, id FROM range(10)").collect())
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path6).resolve("_graft_table")),
      "a failed branch-scoped CTAS must leave no committed table behind")
    // and a SUCCESSFUL branch-scoped CTAS round-trips + drops cleanly
    val path7 = Tables.scratch("vtcat_ctas_branch_ok")
    spark.sql(s"CREATE TABLE vt.`dev@$path7` AS SELECT id FROM range(5)").collect()
    assert(spark.sql(s"SELECT count(*) AS c FROM vt.`dev@$path7`")
      .as[Long].head() === 5L)
    spark.sql(s"DROP TABLE vt.`dev@$path7`").collect()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path7)),
      "dropping a table's only branch drops the table")
    // COMMENT refuses loudly (nothing would surface it back)
    val path8 = Tables.scratch("vtcat_ctas_comment")
    intercept[Exception](spark.sql(
      s"CREATE TABLE vt.`$path8` (k BIGINT) COMMENT 'lost'").collect())
  }

  test("r19 MOR: COUNT(*) answers from metadata + DV parquet alone; partitions ship keys, tasks load their own DV") {
    registerCatalog()
    val vt = VersionedTable.create(Tables.scratch("vtcat_mor_count"))
    vt.write((1L to 100L).toDF("k").repartition(2), "main", "v0", statsCols = Seq("k"))
    vt.deleteWithVectors(spark, "k % 10 = 0", "main") // 10 rows gone, 2 files kept
    val t = s"vt.`${vt.root}`"
    // the driver never materializes positions: every planned partition
    // carries only (split, file key, dv paths) — no Array[Long] anywhere
    val q0 = spark.sql(s"SELECT k FROM $t")
    q0.collect()
    val scan = q0.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get
    assert(scan.scan.isInstanceOf[graft.sources.VtMorScan])
    scan.scan.toBatch.planInputPartitions().foreach {
      case p: Product =>
        assert(!p.productIterator.exists(_.isInstanceOf[Array[Long]]),
          s"a MOR input partition must not ship deleted positions: $p")
      case other => fail(s"unexpected partition shape $other")
    }
    // GHOST the data plane (DV parquet stays): COUNT(*) = Σ rowCounts −
    // Σ distinct DV positions — provable without touching a data file
    val head = vt.head("main").get
    val tmp = vt.root.resolve("ghost_mor")
    java.nio.file.Files.createDirectories(tmp)
    head.files.foreach { f =>
      java.nio.file.Files.move(vt.root.resolve(f), tmp.resolve(f.replace('/', '_')))
    }
    try {
      val q = spark.sql(s"SELECT count(*) AS c FROM $t")
      assert(q.as[Long].head() === 90L)
      assert(q.queryExecution.executedPlan.toString.contains("LocalTableScan"),
        s"the MOR count must plan as a local relation:\n${q.queryExecution.executedPlan}")
      // value-dependent aggregates stay refused under DVs (the deleted
      // rows' values are unknown) → real scan → loud failure on ghosts
      intercept[Exception](spark.sql(s"SELECT max(k) AS m FROM $t").collect())
      intercept[Exception](
        spark.sql(s"SELECT count(*) AS c FROM $t WHERE k > 3").collect())
    } finally head.files.foreach { f =>
      java.nio.file.Files.move(tmp.resolve(f.replace('/', '_')), vt.root.resolve(f))
    }
    // files restored: the per-task DV load yields the exact live rows
    assert(spark.sql(s"SELECT sum(k) AS s FROM $t").as[Long].head()
      === (1L to 100L).filter(_ % 10 != 0).sum)
    assert(spark.sql(s"SELECT count(*) AS c FROM $t WHERE k > 3").as[Long].head()
      === (4L to 100L).count(_ % 10 != 0).toLong)
  }

  test("utility SQL r18: 3-ary ZORDER prunes every dimension, VACUUM HOURS DRY RUN, SHOW TAGS, DESCRIBE DETAIL") {
    registerCatalog()
    import graft.sources.VtUtilitySql
    val vt = VersionedTable.create(Tables.scratch("vtcat_util18"))
    val rows = (0 until 4000).map(i =>
      (i.toLong, (i.toLong * 7) % 4000, (i.toLong * 13) % 4000))
    vt.write(rows.toDF("k", "v", "w").repartition(8), "main", "v0")
    val t = s"vt.`${vt.root}`"
    // 8 files = 3 top z-bits = one split bit PER dimension: every probe prunes
    val zr = VtUtilitySql.exec(spark, s"OPTIMIZE $t FILES 8 ZORDER BY (k, v, w)")
      .as[(Long, Int)].head()
    assert(zr === ((1L, 8)))
    def scanned(cond: org.apache.spark.sql.Column): Long = {
      val q = spark.read.format("vt").option("path", vt.root.toString).load().where(cond)
      q.collect()
      q.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.get.metrics("numFiles").value
    }
    for (c <- Seq($"k", $"v", $"w"))
      assert(scanned(c.between(0, 499)) < 8, s"a band probe on $c must skip files")
    assert(spark.sql(s"SELECT sum(w) AS s FROM $t").as[Long].head() ===
      rows.map(_._3).sum, "layout-only: rows identical")
    // SHOW TAGS lists (tag, version); DESCRIBE DETAIL is Delta's metadata row
    VtUtilitySql.exec(spark, s"CREATE TAG r18 IN $t").collect()
    assert(VtUtilitySql.exec(spark, s"SHOW TAGS IN $t")
      .as[(String, Long)].collect().toSeq === Seq(("r18", 1L)))
    val detail = VtUtilitySql.exec(spark, s"DESCRIBE DETAIL $t").collect().head
    assert(detail.getString(0) === "vt")
    assert(detail.getString(1) === vt.root.toString)
    assert(detail.getLong(2) === 1L)
    assert(detail.getInt(3) === 8)
    assert(detail.getLong(4) > 0L, "size_bytes from commit metadata")
    assert(detail.getLong(5) <= detail.getLong(6), "created_at <= last_modified")
    // VACUUM … HOURS DRY RUN: counts v0's now-unreferenced files, deletes none
    val dry = VtUtilitySql.exec(spark, s"VACUUM $t RETAIN 0 HOURS DRY RUN")
      .as[Long].head()
    assert(dry > 0L, "v0's files are past the 0-hour horizon")
    assert(vt.readVersion(spark, "main", 0).count() === 4000L,
      "DRY RUN must delete nothing")
    val real = VtUtilitySql.exec(spark, s"VACUUM $t RETAIN 0 HOURS").as[Long].head()
    assert(real === dry, "the real hours-vacuum reclaims exactly the dry-run count")
    assert(spark.sql(s"SELECT count(*) AS c FROM $t").as[Long].head() === 4000L,
      "the head (and its tag) survive")
    // ZORDER robustness: all-null clustered columns degrade to a constant
    // normalization (layout-only commit still lands) instead of throwing
    val vtN = VersionedTable.create(Tables.scratch("vtcat_zorder_null"))
    vtN.write(Seq((1L, null: java.lang.Long), (2L, null: java.lang.Long))
      .toDF("a", "b"), "main", "v0")
    vtN.compactZorder(spark, "main", Seq("a", "b"), numFiles = 2, maxRetries = 1)
    assert(vtN.read(spark, "main").count() === 2L)
  }

  test("catalog refuses non-evolvable DDL loudly; missing tables surface as NoSuchTable") {
    registerCatalog()
    // CREATE TABLE is supported since r19, ADD COLUMNS since r19b (see the
    // DDL tests); rename/retype/properties stay refused — schema evolves
    // per commit, tables are path-addressed, nothing stores TBLPROPERTIES
    val created = Tables.scratch("vtcat_ddl_created")
    spark.sql(s"CREATE TABLE vt.`$created` (k BIGINT)").collect()
    val eAlter = intercept[Exception](
      spark.sql(s"ALTER TABLE vt.`$created` ALTER COLUMN k TYPE STRING").collect())
    assert(eAlter.getMessage.toLowerCase.contains("alter") ||
      eAlter.getMessage.toLowerCase.contains("unsupported"), eAlter.getMessage)
    // catalog-API contract: a path that is not a versioned table is
    // NoSuchTable, and tableExists is false (SQL then falls through to the
    // direct-query-on-files path, whose own message surfaces to the user)
    val cat = new graft.sources.VtCatalog
    cat.initialize("vt", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Collections.emptyMap()))
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array.empty, "/tmp/definitely_missing_vt")
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchTableException](
      cat.loadTable(ident))
    assert(!cat.tableExists(ident))
    // a bad VERSION on an EXISTING table is its own error, never no-such-table
    val vt = VersionedTable.create(Tables.scratch("vtcat_badver"))
    vt.write(spark.range(3).toDF("k"), "main", "v0")
    val okIdent = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array.empty, vt.root.toString)
    val badVer = intercept[Exception](cat.loadTable(okIdent, "99"))
    assert(!badVer.isInstanceOf[org.apache.spark.sql.catalyst.analysis.NoSuchTableException],
      s"out-of-range version must not masquerade as table-not-found: $badVer")
  }

  test("metadata MIN/MAX refuses the 2^53 boundary: a long whose stats double rounded down still answers exactly") {
    // r19 ADVICE fix: stats double exactly ±2^53 can be the ties-to-even
    // image of long 2^53+1 — the metadata answer must REFUSE (strict <)
    // and fall through to the scan, which returns the true value. The old
    // inclusive bound would have answered 9007199254740992 here: wrong.
    val vt = VersionedTable.create(Tables.scratch("vtcat_2p53"))
    val big = 9007199254740993L // 2^53 + 1; cast-to-double stats record 2^53
    vt.write(Seq(1L, 42L, big).toDF("k"), "main", "v0", statsCols = Seq("k"))
    spark.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val got = spark.sql(s"SELECT max(k) AS mx FROM vt.`${vt.root}`").as[Long].head()
    assert(got === big, s"boundary max must come from the scan, got $got")
  }

  test("DESCRIBE DETAIL on a legacy commit: real stat fallback for unlogged sizes, NULL when a size is unknowable") {
    import graft.sources.VtUtilitySql
    // r19 ADVICE fix: a pre-fileSizes history commit must not silently
    // under-report size_bytes as if missing files were 0 bytes
    val vt = VersionedTable.create(Tables.scratch("vtcat_detail_legacy"))
    vt.write(spark.range(100).toDF("k"), "main", "v0")
    val head = vt.head("main").get
    val trueSize = head.files.map(f => java.nio.file.Files.size(vt.root.resolve(f))).sum
    // simulate a legacy log: rewrite the head commit JSON without fileSizes
    val cPath = vt.root.resolve("commits").resolve(head.id + ".json")
    // legacy = pre-manifest inline commit (manifests cleared so toJson
    // inlines the file list) without fileSizes
    val legacy = graft.vt.CommitLog.toJson(
      head.copy(fileSizes = Map.empty, manifests = Vector.empty))
    java.nio.file.Files.writeString(cPath, legacy)
    spark.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val t = s"vt.`${vt.root}`"
    val d1 = VtUtilitySql.exec(spark, s"DESCRIBE DETAIL $t").collect().head
    assert(d1.getLong(4) === trueSize,
      "unlogged legacy sizes fall back to a real Files.size, not 0")
    // a legacy file that cannot be stat'd → size_bytes NULL (unknown),
    // never an under-reported partial sum
    val ghost = vt.root.resolve(head.files.head)
    val away = ghost.resolveSibling(ghost.getFileName.toString + ".away")
    java.nio.file.Files.move(ghost, away)
    try {
      val d2 = VtUtilitySql.exec(spark, s"DESCRIBE DETAIL $t").collect().head
      assert(d2.isNullAt(4), "an unknowable size must surface as NULL")
    } finally java.nio.file.Files.move(away, ghost)
  }

  test("r19b DDL: ALTER TABLE ADD COLUMNS is a metadata-only schema-evolution commit") {
    registerCatalog()
    val vt = VersionedTable.create(Tables.scratch("vtcat_alter"))
    vt.write((1L to 20L).map(i => (i, s"id$i")).toDF("k", "id").repartition(2),
      "main", "v0", statsCols = Seq("k"), bloomCols = Seq("id"))
    val before = vt.head("main").get
    val t = s"vt.`${vt.root}`"
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (note STRING, score DOUBLE)").collect()
    val after = vt.head("main").get
    assert(after.version === before.version + 1, "evolution is one commit")
    assert(after.files === before.files, "metadata-only: zero data I/O")
    assert(after.stats === before.stats, "stats carry byte-for-byte")
    assert(after.bloomFiles === before.bloomFiles, "the bloom index carries")
    // pre-evolution rows read NULL for the new columns
    val row3 = spark.sql(s"SELECT k, note, score FROM $t WHERE k = 3").collect()
    assert(row3.length === 1 && row3.head.isNullAt(1) && row3.head.isNullAt(2))
    // appends carry the new columns; old rows stay NULL
    spark.sql(s"INSERT INTO $t VALUES (21, 'id21', 'new', 1.5)").collect()
    assert(spark.sql(s"SELECT count(*) AS c FROM $t WHERE note IS NULL")
      .as[Long].head() === 20L)
    assert(spark.sql(s"SELECT k FROM $t WHERE note = 'new'").as[Long].head() === 21L)
    // time travel: the pre-evolution version keeps its own schema
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF 0").schema.fieldNames.toSeq
      === Seq("k", "id"))
    // a DV-carrying snapshot evolves too — the NATIVE MOR batch fills NULLs
    // for columns absent from the pre-evolution footers
    vt.deleteWithVectors(spark, "k = 5", "main")
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (tag STRING)").collect()
    val got = spark.sql(s"SELECT k, tag FROM $t WHERE k <= 6").collect()
    assert(got.map(_.getLong(0)).sorted === Array(1L, 2L, 3L, 4L, 6L),
      "the MOR-deleted row stays gone through the evolved schema")
    assert(got.forall(_.isNullAt(1)))
    // refusals: duplicates (case-insensitive), NOT NULL, COMMENT, positions,
    // and every non-ADD alter — loudly, with nothing committed
    val vBefore = vt.head("main").get.version
    intercept[Exception](spark.sql(s"ALTER TABLE $t ADD COLUMNS (K BIGINT)").collect())
    intercept[Exception](
      spark.sql(s"ALTER TABLE $t ADD COLUMNS (x BIGINT NOT NULL)").collect())
    intercept[Exception](
      spark.sql(s"ALTER TABLE $t ADD COLUMNS (y BIGINT COMMENT 'lost')").collect())
    intercept[Exception](
      spark.sql(s"ALTER TABLE $t ADD COLUMNS (z BIGINT FIRST)").collect())
    intercept[Exception](spark.sql(s"ALTER TABLE $t DROP COLUMN nope").collect())
    intercept[Exception](
      spark.sql(s"ALTER TABLE $t ALTER COLUMN k TYPE INT").collect()) // retype refused
    assert(vt.head("main").get.version === vBefore, "refused ALTERs commit nothing")
    // SET TBLPROPERTIES is supported since r19c: one metadata-only commit
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('a'='b')").collect()
    val propHead = vt.head("main").get
    assert(propHead.version === vBefore + 1 && !propHead.dataChange &&
      propHead.props === Map("a" -> "b"))
    // RENAME COLUMN is supported since r20 (metadata-only, ColumnMappingSpec
    // pins the semantics) — it must compose with the evolved MOR snapshot
    spark.sql(s"ALTER TABLE $t RENAME COLUMN k TO kk").collect()
    assert(vt.head("main").get.version === vBefore + 2)
    assert(spark.sql(s"SELECT kk FROM $t WHERE kk <= 6").collect()
      .map(_.getLong(0)).sorted === Array(1L, 2L, 3L, 4L, 6L),
      "the MOR delete stays applied through the rename")
  }

  test("r19b DDL: REPLACE TABLE [AS SELECT] is atomic — commit-or-nothing, history kept") {
    registerCatalog()
    val path = Tables.scratch("vtcat_rtas")
    val t = s"vt.`$path`"
    spark.sql(s"CREATE TABLE $t AS SELECT id AS k FROM range(10)").collect()
    // RTAS replaces contents AND schema as ONE commit; the old snapshot
    // still time-travels (Delta's drop-then-recreate fallback loses history)
    spark.sql(s"REPLACE TABLE $t AS SELECT id AS a, id * 3 AS b FROM range(5)").collect()
    assert(spark.sql(s"SELECT sum(b) AS s FROM $t").as[Long].head() === 30L)
    assert(spark.sql(s"SELECT count(*) AS c FROM $t VERSION AS OF 0")
      .as[Long].head() === 10L)
    val vt = VersionedTable.open(path)
    assert(vt.head("main").get.version === 1L, "RTAS = exactly one commit")
    // a FAILED RTAS leaves the table exactly as it was
    intercept[Exception](spark.sql(
      s"REPLACE TABLE $t AS SELECT assert_true(id < 2) AS x, id FROM range(5)").collect())
    assert(vt.head("main").get.version === 1L, "failed RTAS must not commit")
    assert(spark.sql(s"SELECT sum(b) AS s FROM $t").as[Long].head() === 30L)
    // REPLACE of a missing table refuses (and creates nothing);
    // CREATE OR REPLACE creates it, then replaces it in place
    val fresh = Tables.scratch("vtcat_rtas_fresh")
    intercept[Exception](
      spark.sql(s"REPLACE TABLE vt.`$fresh` AS SELECT 1 AS x").collect())
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(fresh).resolve("_graft_table")))
    spark.sql(s"CREATE OR REPLACE TABLE vt.`$fresh` AS SELECT 7L AS x").collect()
    assert(spark.sql(s"SELECT x FROM vt.`$fresh`").as[Long].head() === 7L)
    spark.sql(s"CREATE OR REPLACE TABLE vt.`$fresh` AS SELECT 9L AS y").collect()
    assert(spark.sql(s"SELECT y FROM vt.`$fresh`").as[Long].head() === 9L)
    // plain REPLACE TABLE (no AS SELECT): empty snapshot, new schema, one commit
    spark.sql(s"REPLACE TABLE $t (z BIGINT)").collect()
    assert(spark.sql(s"SELECT count(*) AS c FROM $t").as[Long].head() === 0L)
    assert(spark.sql(s"SELECT * FROM $t").schema.fieldNames.toSeq === Seq("z"))
    // a failed ATOMIC CTAS aborts to nothing: no root, no commit
    val f2 = Tables.scratch("vtcat_actas_fail")
    intercept[Exception](spark.sql(
      s"CREATE TABLE vt.`$f2` AS SELECT assert_true(id < 3) AS a, id FROM range(9)").collect())
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(f2).resolve("_graft_table")),
      "a failed atomic CTAS must leave no table root behind")
    // sticky bloom columns survive an RTAS that keeps the column (the same
    // rule as write(mode=overwrite)): the index is rebuilt for the new files
    val bvt = VersionedTable.create(Tables.scratch("vtcat_rtas_bloom"))
    bvt.write((1L to 50L).map(i => (i, s"u$i")).toDF("n", "uid"), "main", "v0",
      bloomCols = Seq("uid"))
    spark.sql(
      s"REPLACE TABLE vt.`${bvt.root}` AS SELECT 'u7' AS uid, 7L AS n").collect()
    val bHead = bvt.head("main").get
    assert(bHead.bloomCols === Seq("uid"), "sticky bloom column set carries")
    assert(bHead.bloomFiles.nonEmpty, "the replacement snapshot gets a fresh sidecar")
  }

  test("RESTORE TABLE TO TIMESTAMP AS OF restores by wall clock (r19c)") {
    registerCatalog()
    import graft.sources.VtUtilitySql
    val vt = VersionedTable.create(Tables.scratch("vtcat_restore_ts"))
    val c0 = vt.write((1L to 5L).map(i => (i, s"r$i")).toDF("k", "v"), "main", "v0")
    // a wall-clock instant strictly between v0 and v1
    while (System.currentTimeMillis() <= c0.ts) Thread.sleep(1)
    val between = System.currentTimeMillis()
    while (System.currentTimeMillis() <= between) Thread.sleep(1)
    vt.write((1L to 10L).map(i => (i, s"r$i")).toDF("k", "v"), "main", "v1")
    val t = s"vt.`${vt.root}`"
    // epoch-millis form: restores v0's state as a NEW commit, history intact
    assert(VtUtilitySql.exec(spark,
      s"RESTORE TABLE $t TO TIMESTAMP AS OF '$between'").as[Long].head() === 2L)
    assert(spark.sql(s"SELECT count(*) FROM $t").as[Long].head() === 5L)
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 1").as[Long].head() === 10L,
      "restore must not rewrite history")
    // ISO-instant form resolves through the same session-zone-aware parser
    val iso = java.time.Instant.ofEpochMilli(System.currentTimeMillis()).toString
    assert(VtUtilitySql.exec(spark,
      s"RESTORE TABLE $t TO TIMESTAMP AS OF '$iso'").as[Long].head() === 3L)
    assert(spark.sql(s"SELECT count(*) FROM $t").as[Long].head() === 5L,
      "a now-instant restore reproduces the current head")
    // a timestamp before the first commit refuses loudly
    intercept[IllegalArgumentException] {
      VtUtilitySql.exec(spark,
        s"RESTORE TABLE $t TO TIMESTAMP AS OF '${c0.ts - 100000}'").collect()
    }
  }

  test("r20 ADVICE: non-identifier constraint name fails CREATE pre-flight, nothing created") {
    val root = Tables.scratch("vtcat_badname")
    spark.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val t = s"vt.`$root`"
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $t (k BIGINT, CONSTRAINT `a-b` CHECK (k > 0)) USING vt")
    }
    assert(e.getMessage.contains("identifier"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "commits")) ||
      java.nio.file.Files.list(java.nio.file.Paths.get(root, "commits")).count() === 0L,
      "a failed pre-flight must leave NO half-created table")
    // the retried CREATE with a valid name works (no TableAlreadyExists)
    spark.sql(s"CREATE TABLE $t (k BIGINT, CONSTRAINT a_b CHECK (k > 0)) USING vt")
    assert(spark.table(t).columns.toSeq === Seq("k"))
  }

  test("r20 ADVICE: SET TBLPROPERTIES refuses the keys CREATE refuses") {
    val vt = VersionedTable.create(Tables.scratch("vtcat_setprops"))
    vt.write(spark.range(3).toDF("k"), "main", "v0")
    spark.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val t = s"vt.`${vt.root}`"
    intercept[Exception](
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('comment' = 'nope')"))
    intercept[Exception](
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('option.compression' = 'zstd')"))
    intercept[Exception](spark.sql(s"COMMENT ON TABLE $t IS 'nope'"))
    // free-form keys still work
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('team' = 'core')")
    assert(vt.head("main").get.props("team") === "core")
  }

  test("r20 ADVICE: REPLACE TABLE resets free-form props, keeps constraints") {
    val root = Tables.scratch("vtcat_rtas_props")
    spark.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val t = s"vt.`$root`"
    spark.sql(s"CREATE TABLE $t (k BIGINT, CONSTRAINT pos_k CHECK (k > 0)) USING vt " +
      "TBLPROPERTIES ('stale' = 'yes')")
    spark.sql(s"INSERT INTO $t VALUES (1), (2)")
    spark.sql(s"REPLACE TABLE $t TBLPROPERTIES ('fresh' = 'yes') AS " +
      "SELECT id + 1 AS k FROM range(4)")
    val props = VersionedTable.open(root).head("main").get.props
    assert(!props.contains("stale"), "undeclared free-form props must drop on REPLACE")
    assert(props("fresh") === "yes")
    assert(props.keys.exists(_.startsWith("constraint.check.")),
      "CHECK constraints survive a REPLACE unless dropped explicitly")
    // and the surviving constraint still enforces
    intercept[Exception](spark.sql(s"INSERT INTO $t VALUES (-7)").collect())
  }
}

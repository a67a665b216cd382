package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.QueryDef.{sql => q, rowsOnly}
import graft.streaming.ChangeFeed
import graft.vt.{Repo, VersionedTable}

/** Versioning operators (SURVEY.md §2.11) surfaced as driver-checkable
  * queries. Each builds a fresh VersionedTable under scratch, drives the
  * branch/commit lifecycle, and returns a DataFrame whose content is
  * PREDICTABLE FROM THE SOURCE TABLES — so even the versioning layer gets
  * real DuckDB-oracle coverage, not just rows-only smoke checks.
  *
  * Convention used throughout: v0 = nation rows with n_regionkey < 2,
  * v1 = all nation rows. Reading a version therefore has a closed-form SQL
  * equivalent over the original `nation` table.
  */
object Versioned {

  private def writeV0V1(s: SparkSession, d: String, name: String): VersionedTable = {
    val vt = VersionedTable.create(Tables.scratch(name))
    val nation = Tables.nation(s, d)
    vt.write(nation.where(col("n_regionkey") < 2), "main", "v0")
    vt.write(nation, "main", "v1")
    vt
  }

  /** S10/V3 — two successive overwrites create v0 then v1, BOTH readable
    * afterwards (`jobs/vdt4.py:39-40,76-77`): the core immutability claim. */
  val qVtWriteVersions: QueryDef = q("q_vt_write_versions")(
    """SELECT 0 AS version, n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey < 2
      |UNION ALL
      |SELECT 1 AS version, n_nationkey, n_name, n_regionkey FROM nation
      |ORDER BY version, n_nationkey""".stripMargin) { (s, d) =>
    val vt = writeV0V1(s, d, "vt_write_versions")
    vt.readVersion(s, "main", 0).withColumn("version", lit(0))
      .unionByName(vt.readVersion(s, "main", 1).withColumn("version", lit(1)))
      .select("version", "n_nationkey", "n_name", "n_regionkey")
      .orderBy("version", "n_nationkey")
  }

  /** S5 — read latest resolves the branch head (Delta read, `jobs/vdt4.py:44-45`). */
  val qVtReadLatest: QueryDef = q("q_vt_read_latest")(
    """SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey""") { (s, d) =>
    writeV0V1(s, d, "vt_read_latest").read(s, "main")
      .select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")
  }

  /** S6/V8 — time travel to v0 AFTER the v1 overwrite (`jobs/vdt4.py:80-81`). */
  val qVtTimeTravel: QueryDef = q("q_vt_time_travel")(
    """SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey < 2
      |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
    writeV0V1(s, d, "vt_time_travel").readVersion(s, "main", 0)
      .select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")
  }

  /** V2 — branch create is zero-copy; writes on the branch do not disturb
    * main (lakeFS `README.md:112`). Output: main still at v0 content, dev at
    * its own write. */
  val qVtBranch: QueryDef = q("q_vt_branch")(
    """SELECT 'main' AS branch, n_nationkey, n_name FROM nation WHERE n_regionkey < 2
      |UNION ALL
      |SELECT 'dev' AS branch, n_nationkey, n_name FROM nation
      |ORDER BY branch DESC, n_nationkey""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_branch"))
    val nation = Tables.nation(s, d)
    vt.write(nation.where(col("n_regionkey") < 2), "main", "v0")
    vt.createBranch("dev", from = "main")
    vt.write(nation, "dev", "dev adds the rest")
    vt.read(s, "main").withColumn("branch", lit("main"))
      .unionByName(vt.read(s, "dev").withColumn("branch", lit("dev")))
      .select("branch", "n_nationkey", "n_name")
      .orderBy(col("branch").desc, col("n_nationkey").asc)
  }

  /** V3/V7 — lakeFS staging: stage → commit publishes; stage → reset drops
    * (`README.md:105,127`). Output is the committed snapshot only. */
  val qVtCommit: QueryDef = q("q_vt_commit")(
    """SELECT n_nationkey, n_name FROM nation WHERE n_regionkey < 2 ORDER BY n_nationkey""") { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_commit"))
    val nation = Tables.nation(s, d)
    vt.stage(nation.where(col("n_regionkey") < 2), "main")
    vt.commitStaged("main", "first commit")
    vt.stage(nation, "main")   // staged but…
    vt.reset("main")           // …discarded — must NOT appear in the read
    vt.read(s, "main").select("n_nationkey", "n_name").orderBy("n_nationkey")
  }

  /** V4 — row-level diff between branches via exceptAll both ways
    * (lakeFS `lakectl diff`, `README.md:144`). dev added regionkey>=2 rows. */
  val qVtDiff: QueryDef = q("q_vt_diff")(
    """SELECT 'added' AS change, n_nationkey, n_name FROM
      |  (SELECT n_nationkey, n_name FROM nation
      |   EXCEPT ALL
      |   SELECT n_nationkey, n_name FROM nation WHERE n_regionkey < 2)
      |ORDER BY change, n_nationkey""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_diff"))
    val nation = Tables.nation(s, d)
    vt.write(nation.where(col("n_regionkey") < 2), "main", "v0")
    vt.createBranch("dev", from = "main")
    vt.write(nation, "dev", "dev adds")
    val main = vt.read(s, "main").select("n_nationkey", "n_name")
    val dev = vt.read(s, "dev").select("n_nationkey", "n_name")
    dev.exceptAll(main).withColumn("change", lit("added"))
      .unionByName(main.exceptAll(dev).withColumn("change", lit("removed")))
      .select("change", "n_nationkey", "n_name")
      .orderBy("change", "n_nationkey")
  }

  /** V5 — fast-forward merge of dev into main (`README.md:145`): afterwards
    * main reads the full dev snapshot. */
  val qVtMerge: QueryDef = q("q_vt_merge")(
    """SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey""") { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_merge"))
    val nation = Tables.nation(s, d)
    vt.write(nation.where(col("n_regionkey") < 2), "main", "v0")
    vt.createBranch("dev", from = "main")
    vt.write(nation, "dev", "dev adds")
    vt.merge(from = "dev", into = "main")
    vt.read(s, "main").select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")
  }

  /** V5-ext — lakeFS `cherry-pick`: transplant ONE commit's delta (dev's
    * second append, region 3) onto main WITHOUT the sibling commit it sits
    * on (region 2) — the result that distinguishes a pick from a merge,
    * which would bring both. O(metadata): the picked append's files graft
    * onto main's list; no data is read or rewritten. */
  val qVtCherryPick: QueryDef = q("q_vt_cherry_pick")(
    """SELECT n_nationkey, n_name, n_regionkey, CAST(1 AS BIGINT) AS head_version
      |FROM nation WHERE n_regionkey < 2 OR n_regionkey = 3
      |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_cherry"))
    val nation = Tables.nation(s, d)
    vt.write(nation.where(col("n_regionkey") < 2), "main", "v0")
    vt.createBranch("dev", from = "main")
    vt.write(nation.where(col("n_regionkey") === 2), "dev", "dev r2", mode = "append")
    vt.write(nation.where(col("n_regionkey") === 3), "dev", "dev r3", mode = "append")
    val c = vt.cherryPick("dev", version = 2, into = "main")
    vt.read(s, "main").select("n_nationkey", "n_name", "n_regionkey")
      .withColumn("head_version", lit(c.version))
      .orderBy("n_nationkey")
  }

  /** V6 — revert appends a NEW commit equal to v0; history is preserved
    * (`README.md:132`): head content = v0, head version = 2. */
  val qVtRevert: QueryDef = q("q_vt_revert")(
    """SELECT n_nationkey, n_name, 2 AS head_version FROM nation WHERE n_regionkey < 2
      |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
    val vt = writeV0V1(s, d, "vt_revert")
    val c = vt.revert("main", toVersion = 0)
    vt.read(s, "main").select("n_nationkey", "n_name")
      .withColumn("head_version", lit(c.version.toInt))
      .orderBy("n_nationkey")
  }

  /** V9 — vacuum with retainLast=1 deletes v0's files; the head stays fully
    * readable (`jobs/vdt4.py:84-85`). File-count deltas + time-travel failure
    * after vacuum are unit-tested in VersionedTableSpec. */
  val qVtVacuum: QueryDef = q("q_vt_vacuum")(
    """SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey""") { (s, d) =>
    val vt = writeV0V1(s, d, "vt_vacuum")
    vt.vacuum(retainLast = 1)
    vt.read(s, "main").select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")
  }

  /** V1/V10 — repo create/delete + raw object put/rm, surfaced as commit
    * metadata. Deterministic by construction (coalesce(1) pins the file
    * count, a fresh table pins version 0 and the branch list), so a literal
    * VALUES oracle pins every field. */
  val qVtObjects: QueryDef = q("q_vt_objects")(
    """SELECT CAST(0 AS BIGINT) AS head_version, CAST(1 AS INTEGER) AS n_files,
      |       CAST(true AS BOOLEAN) AS object_roundtrip, 'main' AS branches""".stripMargin) { (s, d) =>
    import s.implicits._
    val root = Tables.scratch("vt_objects")
    val vt = VersionedTable.create(root)
    vt.putObject("staging/notes.txt", "hello")
    val existed = vt.rmObject("staging/notes.txt")
    vt.write(Tables.region(s, d).coalesce(1), "main", "regions")
    val head = vt.head("main").get
    Seq((head.version, head.files.size, existed, vt.branches.mkString(","))).toDF(
      "head_version", "n_files", "object_roundtrip", "branches")
  }

  /** Data-skipping read: range-layout the table, record per-file min/max in
    * the commit, then answer a range predicate by pruning files BEFORE the
    * scan (VersionedTableSpec asserts the file-count drop; the oracle pins
    * the answer). The lakehouse analog of Delta data skipping. */
  val qVtSkipRead: QueryDef = q("q_vt_skip_read")(
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_orderkey BETWEEN 100 AND 500 ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_skip_read"))
    vt.write(Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      .repartitionByRange(8, col("o_orderkey")), "main", "range layout",
      statsCols = Seq("o_orderkey"))
    vt.readWhere(s, "main", "o_orderkey", 100d, 500d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** Append-mode ingestion: v1 = v0's files + the new files (O(metadata)
    * append, no rewrite — the incremental-load path). Head reads the union. */
  val qVtAppend: QueryDef = q("q_vt_append")(
    """SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey""") { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_append"))
    val nation = Tables.nation(s, d)
    vt.write(nation.where(col("n_regionkey") < 2), "main", "v0 initial load")
    vt.write(nation.where(col("n_regionkey") >= 2), "main", "v1 increment", mode = "append")
    vt.read(s, "main").select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")
  }

  /** lakeFS-faithful repo semantics: ONE commit atomically covers writes to
    * MULTIPLE tables (nation + region staged, then committed together; a
    * second commit updates only nation — region rides along untouched, and
    * repo-wide time travel still sees v0 of both). */
  val qRepoCommit: QueryDef = q("q_repo_commit")(
    """SELECT 'nation_v1' AS part, CAST(n_nationkey AS BIGINT) AS k, n_name AS name FROM nation
      |UNION ALL
      |SELECT 'region_v1' AS part, CAST(r_regionkey AS BIGINT) AS k, r_name AS name FROM region
      |UNION ALL
      |SELECT 'nation_v0' AS part, CAST(n_nationkey AS BIGINT) AS k, n_name AS name FROM nation WHERE n_regionkey < 2
      |ORDER BY part, k""".stripMargin) { (s, d) =>
    val repo = Repo.create(Tables.scratch("repo_commit"))
    repo.stageWrite(Tables.nation(s, d).where(col("n_regionkey") < 2), "main", "nation")
    repo.stageWrite(Tables.region(s, d), "main", "region")
    repo.commit("main", "v0: both tables in one commit")
    repo.stageWrite(Tables.nation(s, d), "main", "nation")
    repo.commit("main", "v1: nation only; region carried forward")
    repo.readTable(s, "main", "nation")
      .select(lit("nation_v1").as("part"), col("n_nationkey").cast("long").as("k"),
        col("n_name").as("name"))
      .unionByName(repo.readTable(s, "main", "region")
        .select(lit("region_v1").as("part"), col("r_regionkey").cast("long").as("k"),
          col("r_name").as("name")))
      .unionByName(repo.readTableAsOf(s, "main", "nation", 0)
        .select(lit("nation_v0").as("part"), col("n_nationkey").cast("long").as("k"),
          col("n_name").as("name")))
      .orderBy("part", "k")
  }

  /** Repo-layer union merge (r12 verdict #6): main and dev both APPEND to the
    * same table from a common base — lakeFS merges this object-wise (appended
    * objects are disjoint uuid'd paths, reference README.md:141-147), and so
    * does [[graft.vt.Repo.merge]]: the merged snapshot is base + both sides'
    * additions, deterministically. Head version pins the merge-commit shape
    * (v0 base, v1 main append, v2 merge commit). */
  val qRepoMergeUnion: QueryDef = q("q_repo_merge_union")(
    """SELECT n_nationkey, n_name, CAST(2 AS BIGINT) AS head_version FROM nation
      |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
    val repo = Repo.create(Tables.scratch("repo_merge_union"))
    val nation = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
    repo.stageWrite(nation.where(col("n_regionkey") < 2), "main", "t")
    repo.commit("main", "v0 base")
    repo.createBranch("dev", "main")
    repo.stageAppend(nation.where(col("n_regionkey") === 2), "main", "t")
    repo.commit("main", "main appends region 2")
    repo.stageAppend(nation.where(col("n_regionkey") >= 3), "dev", "t")
    repo.commit("dev", "dev appends regions 3+")
    val merged = repo.merge("dev", "main")
    repo.readTable(s, "main", "t")
      .select(col("n_nationkey"), col("n_name"), lit(merged.version).as("head_version"))
      .orderBy("n_nationkey")
  }

  /** Delta MERGE/upsert: update the name of nations 0–4, insert nothing new
    * (the updated rows' keys all match), and read the head — a closed-form
    * CASE expression over the source `nation` table. v0 still time-travels
    * (asserted in VersionedTableSpec; the oracle pins the head content). */
  val qVtUpsert: QueryDef = q("q_vt_upsert")(
    """SELECT n_nationkey,
      |       CASE WHEN n_nationkey < 5 THEN upper(n_name) ELSE n_name END AS n_name,
      |       n_regionkey
      |FROM nation ORDER BY n_nationkey""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_upsert"))
    val nation = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
    vt.write(nation, "main", "v0")
    val updates = nation.where(col("n_nationkey") < 5)
      .withColumn("n_name", upper(col("n_name")))
      .select("n_nationkey", "n_name", "n_regionkey")
    vt.upsert(s, updates, keyCols = Seq("n_nationkey"), branch = "main")
    vt.read(s, "main").select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey")
  }

  /** Delta `DELETE FROM … WHERE` as a first-class table op (r12 verdict #3):
    * copy-on-write, file-granular — only files containing a matching row are
    * rewritten (VersionedTableSpec pins the untouched-file carry); the rows
    * removed surface through the file-granular CDC diff as `delete` changes.
    * Output = the post-delete head PLUS the CDC deletes of the interval, both
    * closed-form over `orders`. */
  val qVtDelete: QueryDef = q("q_vt_delete")(
    """SELECT * FROM (
      |  SELECT 'head' AS part, o_orderkey, o_totalprice FROM orders
      |  WHERE NOT (o_totalprice > 200000)
      |  UNION ALL
      |  SELECT 'deleted' AS part, o_orderkey, o_totalprice FROM orders
      |  WHERE o_totalprice > 200000)
      |ORDER BY part, o_orderkey""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_delete"))
    vt.write(Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      .repartitionByRange(4, col("o_orderkey")), "main", "v0 range layout",
      statsCols = Seq("o_orderkey"))
    vt.delete(s, "o_totalprice > 200000")
    vt.read(s, "main").select(lit("head").as("part"), col("o_orderkey"), col("o_totalprice"))
      .unionByName(vt.changes(s, "main", fromVersion = 0, toVersion = 1)
        .where(col("change_type") === "delete")
        .select(lit("deleted").as("part"), col("o_orderkey"), col("o_totalprice")))
      .orderBy("part", "o_orderkey")
  }

  /** Metadata-only COUNT(*) (Delta numRecords): the count comes from per-file
    * row counts in the commit log — the COW delete subtracts by rewriting
    * files (their logged counts shrink), the merge-on-read delete subtracts
    * via its deletion vectors (base stays; their cardinalities are logged).
    * Zero data-file reads on the final count; VersionedTableSpec pins that by
    * hiding the data directory. */
  val qVtCount: QueryDef = q("q_vt_count")(
    """SELECT count(*) AS cnt FROM orders
      |WHERE NOT (o_totalprice > 200000) AND NOT (o_totalprice < 50000)""".stripMargin) {
    (s, d) =>
      import s.implicits._
      val vt = VersionedTable.create(Tables.scratch("vt_count"))
      val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      vt.write(o.where(col("o_orderkey") % 2 === 0)
        .repartitionByRange(4, col("o_orderkey")), "main", "v0 evens",
        statsCols = Seq("o_totalprice"))
      vt.write(o.where(col("o_orderkey") % 2 =!= 0), "main", "v1 odds", mode = "append")
      vt.delete(s, "o_totalprice > 200000")           // copy-on-write subtraction
      vt.deleteWithVectors(s, "o_totalprice < 50000") // merge-on-read subtraction
      Seq(vt.countRows(s)).toDF("cnt")
  }

  /** Change-feed CONSUMER ([[graft.streaming.ChangeFeed]]): a named cursor
    * drains the table's CDC feed incrementally — two appends arrive as two
    * polls in different drains, each reading ONLY its interval's files. The
    * batch number comes from the consumer loop, the version column from the
    * feed itself; together they pin that the cursor advanced durably between
    * the drains (batch 2 re-delivers nothing from batch 1). */
  val qVtFeedConsume: QueryDef = q("q_vt_feed_consume")(
    """SELECT * FROM (
      |  SELECT 1 AS batch, CAST(1 AS BIGINT) AS version, n_nationkey FROM nation
      |  WHERE n_nationkey >= 10 AND n_nationkey < 20
      |  UNION ALL
      |  SELECT 2 AS batch, CAST(2 AS BIGINT) AS version, n_nationkey FROM nation
      |  WHERE n_nationkey >= 20)
      |ORDER BY batch, n_nationkey""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_feed_consume"))
    val nation = Tables.nation(s, d)
    vt.write(nation.where(col("n_nationkey") < 10), "main", "v0")
    vt.write(nation.where(col("n_nationkey") >= 10 && col("n_nationkey") < 20),
      "main", "v1", mode = "append")
    val acc = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var batchNo = 0
    def drain(): Unit = ChangeFeed.processAvailable(s, vt, "job-a") { b =>
      batchNo += 1
      acc += b.df.select(lit(batchNo).as("batch"), col("version"), col("n_nationkey"))
    }
    drain() // consumes (0, 1]
    vt.write(nation.where(col("n_nationkey") >= 20), "main", "v2", mode = "append")
    drain() // consumes (1, 2] only — the cursor already passed v1
    acc.reduce(_ unionByName _).orderBy("batch", "n_nationkey")
  }

  /** The GENUINE Structured Streaming source over the change feed
    * ([[graft.sources.VtChangeFeed]], `format("vt-changes")`): the same
    * commit intervals [[qVtFeedConsume]] drains by hand arrive here as
    * engine-driven micro-batches with checkpointed offsets. Output =
    * every streamed change row, batching-independent (sorted); v0 is the
    * initial snapshot and never feed content. */
  val qVtStreamSource: QueryDef = q("q_vt_stream_source")(
    """SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS version, 'insert' AS change_type, n_nationkey
      |  FROM nation WHERE n_nationkey >= 10 AND n_nationkey < 20
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT) AS version, 'insert' AS change_type, n_nationkey
      |  FROM nation WHERE n_nationkey >= 20)
      |ORDER BY version, n_nationkey""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_stream_source"))
    val nation = Tables.nation(s, d)
    vt.write(nation.where(col("n_nationkey") < 10), "main", "v0")
    vt.write(nation.where(col("n_nationkey") >= 10 && col("n_nationkey") < 20),
      "main", "v1", mode = "append")
    vt.write(nation.where(col("n_nationkey") >= 20), "main", "v2", mode = "append")
    val acc = scala.collection.mutable.ListBuffer.empty[(Long, String, Int)]
    val stream = s.readStream.format("vt-changes")
      .option("path", vt.root.toString).load()
      .writeStream
      .option("checkpointLocation", Tables.scratch("vt_stream_source_ckpt"))
      .foreachBatch { (df: DataFrame, _: Long) =>
        acc.synchronized {
          acc ++= df.select("version", "change_type", "n_nationkey")
            .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
        }
        ()
      }.start()
    try stream.processAllAvailable() finally stream.stop()
    import s.implicits._
    acc.toSeq.toDF("version", "change_type", "n_nationkey")
      .orderBy("version", "n_nationkey")
  }

  /** `spark.readStream.table("vt.\`…\`")` (r19b,
    * [[graft.sources.VtMicroBatchStream]]): the DSv2 catalog's streaming
    * read — snapshot-then-tail over the commit log, Delta's table
    * streaming semantics. Phase 0 collects the initial snapshot, phase 1
    * a tailed append, and phase 2 proves BOTH that a mid-stream
    * compaction streams as silence (`dataChange=false`) and that the
    * append behind it still arrives. The oracle reproduces the three
    * phases from `nation` directly. */
  val qVtStreamTable: QueryDef = q("q_vt_stream_table")(
    """SELECT * FROM (
      |  SELECT 0 AS phase, n_nationkey FROM nation WHERE n_nationkey < 10
      |  UNION ALL
      |  SELECT 1 AS phase, n_nationkey FROM nation
      |  WHERE n_nationkey >= 10 AND n_nationkey < 20
      |  UNION ALL
      |  SELECT 2 AS phase, n_nationkey FROM nation WHERE n_nationkey >= 20)
      |ORDER BY phase, n_nationkey""".stripMargin) { (s, d) =>
    s.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val vt = VersionedTable.create(Tables.scratch("vt_stream_table"))
    val nation = Tables.nation(s, d)
    vt.write(nation.where(col("n_nationkey") < 10), "main", "v0")
    val acc = scala.collection.mutable.ListBuffer.empty[(Int, Int)]
    @volatile var phase = 0
    val stream = s.readStream.table(s"vt.`${vt.root}`")
      .writeStream
      .option("checkpointLocation", Tables.scratch("vt_stream_table_ckpt"))
      .foreachBatch { (df: DataFrame, _: Long) =>
        acc.synchronized {
          acc ++= df.select("n_nationkey").collect().map(r => (phase, r.getInt(0)))
        }
        ()
      }.start()
    try {
      stream.processAllAvailable() // phase 0: the initial snapshot batch
      phase = 1
      vt.write(nation.where(col("n_nationkey") >= 10 && col("n_nationkey") < 20),
        "main", "v1", mode = "append")
      stream.processAllAvailable()
      phase = 2
      vt.compact(s, "main", numFiles = 1) // dataChange=false → streamed silence
      vt.write(nation.where(col("n_nationkey") >= 20), "main", "v2", mode = "append")
      stream.processAllAvailable()
    } finally stream.stop()
    import s.implicits._
    acc.toSeq.toDF("phase", "n_nationkey").orderBy("phase", "n_nationkey")
  }

  /** The catalog-native streaming MIRROR (r19b): `readStream.table` on the
    * source versioned table piped straight into `writeStream.toTable` on a
    * second one — no foreachBatch, no DSv1 format strings, just the two
    * DSv2 faces ([[graft.sources.VtMicroBatchStream]] →
    * [[graft.sources.VtStreamingWrite]]). Each epoch's rows are written by
    * the epoch's own tasks and published as ONE watermarked commit, so the
    * mirror is exactly-once by construction. The oracle checks the mirror
    * equals the source after a snapshot batch plus a tailed append. */
  val qVtStreamMirror: QueryDef = q("q_vt_stream_mirror")(
    """SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey""") { (s, d) =>
    s.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val src = VersionedTable.create(Tables.scratch("vt_mirror_src"))
    val nation = Tables.nation(s, d).select("n_nationkey", "n_name")
    src.write(nation.where(col("n_nationkey") < 12), "main", "v0")
    val dst = Tables.scratch("vt_mirror_dst")
    val stream = s.readStream.table(s"vt.`${src.root}`")
      .writeStream.option("checkpointLocation", Tables.scratch("vt_mirror_ckpt"))
      .toTable(s"vt.`$dst`")
    try {
      stream.processAllAvailable() // snapshot epoch
      src.write(nation.where(col("n_nationkey") >= 12), "main", "v1", mode = "append")
      stream.processAllAvailable() // tailed append epoch
    } finally stream.stop()
    s.sql(s"SELECT n_nationkey, n_name FROM vt.`$dst` ORDER BY n_nationkey")
  }

  /** The BATCH data-source relation ([[graft.sources.VtDataSource]],
    * `spark.read.format("vt")`): version-addressed reads through Spark's
    * native file-scan machinery with commit-log stats pruning folded into
    * planning ([[graft.sources.VtFileIndex]]). Output = v0 slice by
    * `versionAsOf` + the filtered head read (whose BETWEEN prunes files
    * from the log's stats before the scan is planned). */
  val qVtFormatRead: QueryDef = q("q_vt_format_read")(
    """SELECT * FROM (
      |  SELECT 0 AS version, n_nationkey FROM nation WHERE n_regionkey < 2
      |  UNION ALL
      |  SELECT 1 AS version, n_nationkey FROM nation
      |  WHERE n_nationkey >= 10 AND n_nationkey <= 20
      |  UNION ALL
      |  SELECT 2 AS version, n_nationkey FROM nation
      |  WHERE n_nationkey IN (3, 17))
      |ORDER BY version, n_nationkey""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_format_read"))
    val nation = Tables.nation(s, d)
    vt.write(nation.where(col("n_regionkey") < 2), "main", "v0",
      statsCols = Seq("n_nationkey"))
    vt.write(nation, "main", "v1", statsCols = Seq("n_nationkey"))
    def rd = s.read.format("vt").option("path", vt.root.toString)
    rd.option("versionAsOf", "0").load()
      .select(lit(0).as("version"), col("n_nationkey"))
      .unionByName(rd.load()
        .where(col("n_nationkey").between(10, 20))
        .select(lit(1).as("version"), col("n_nationkey")))
      // IN prunes as a union of point windows (r17) — the spec pins the
      // scanned-file count; this leg pins that pruning loses no rows
      .unionByName(rd.load()
        .where(col("n_nationkey").isin(3, 17))
        .select(lit(2).as("version"), col("n_nationkey")))
      .orderBy("version", "n_nationkey")
  }

  /** The engine-driven streaming SINK ([[graft.sources.VtSinkProvider]],
    * `writeStream.format("vt")`): a file-source stream of the nation
    * table lands in a versioned table one commit per micro-batch with
    * batchId-deduped exactly-once; output = the final table, which must
    * be exactly `nation`. */
  val qVtStreamSink: QueryDef = q("q_vt_stream_sink")(
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_stream_sink"))
    val nation = Tables.nation(s, d)
    vt.write(nation.limit(0), "main", "init")
    val dir = java.nio.file.Paths.get(Tables.scratch("vt_stream_sink_src"))
    java.nio.file.Files.createDirectories(dir)
    nation.write.mode("overwrite").parquet(dir.toString)
    val stream = s.readStream.schema(nation.schema).parquet(dir.toString)
      .writeStream.format("vt").option("path", vt.root.toString)
      .option("checkpointLocation", Tables.scratch("vt_stream_sink_ckpt"))
      .start()
    try stream.processAllAvailable() finally stream.stop()
    vt.read(s, "main")
      .select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey")
  }

  /** Streaming a FOREIGN Delta table's CDF ([[graft.sources.DeltaChanges]],
    * `readStream.format("delta-cdf")`): a hand-authored `_delta_log` with
    * three append commits streams as engine-driven micro-batches;
    * startingVersion=earliest serves v0's initial load as inserts. */
  val qVtDeltaStream: QueryDef = q("q_vt_delta_stream")(
    """SELECT * FROM (
      |  SELECT CAST(0 AS BIGINT) AS version, 'insert' AS change_type, n_nationkey
      |  FROM nation WHERE n_nationkey < 10
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT) AS version, 'insert' AS change_type, n_nationkey
      |  FROM nation WHERE n_nationkey >= 10 AND n_nationkey < 20
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT) AS version, 'insert' AS change_type, n_nationkey
      |  FROM nation WHERE n_nationkey >= 20)
      |ORDER BY version, n_nationkey""".stripMargin) { (s, d) =>
    import graft.vt.{DeltaLogFixture => F}
    val root = java.nio.file.Paths.get(Tables.scratch("vt_delta_stream"))
    java.nio.file.Files.createDirectories(root)
    val nation = Tables.nation(s, d)
    def slice(ver: Long, cond: org.apache.spark.sql.Column, name: String,
              withMeta: Boolean): Unit = {
      val (f, sz) = F.writeDataFile(root, nation.where(cond), name)
      val meta = if (withMeta)
        Seq(F.protocolLine(), F.metaDataLine(nation.schema.json, Nil)) else Nil
      F.writeCommit(root, ver, meta :+ F.addLine(f, sz))
    }
    slice(0, col("n_nationkey") < 10, "p0", withMeta = true)
    slice(1, col("n_nationkey") >= 10 && col("n_nationkey") < 20, "p1", withMeta = false)
    slice(2, col("n_nationkey") >= 20, "p2", withMeta = false)
    val acc = scala.collection.mutable.ListBuffer.empty[(Long, String, Int)]
    val stream = s.readStream.format("delta-cdf")
      .option("path", root.toString).load()
      .writeStream
      .option("checkpointLocation", Tables.scratch("vt_delta_stream_ckpt"))
      .foreachBatch { (df: DataFrame, _: Long) =>
        acc.synchronized {
          acc ++= df.select("_commit_version", "_change_type", "n_nationkey")
            .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
        }
        ()
      }.start()
    try stream.processAllAvailable() finally stream.stop()
    import s.implicits._
    acc.toSeq.toDF("version", "change_type", "n_nationkey")
      .orderBy("version", "n_nationkey")
  }

  /** Branch protection (lakeFS branch-protection rules): after `main` is
    * protected, a direct overwrite is rejected (caught and counted below)
    * while the same change lands fine when routed through a side branch and
    * a merge — the exact merge-only flow a production lake enforces on its
    * serving branch. Output = final main content (the FULL nation table,
    * proving the merge landed) + one `rejected` marker row per refused
    * direct write (exactly 1). */
  val qVtProtected: QueryDef = q("q_vt_protected")(
    """SELECT * FROM (
      |  SELECT 'head' AS part, n_nationkey AS k FROM nation
      |  UNION ALL
      |  SELECT 'rejected' AS part, 1 AS k)
      |ORDER BY part, k""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_protected"))
    val nation = Tables.nation(s, d)
    vt.write(nation.where(col("n_regionkey") < 2), "main", "v0")
    vt.protectBranch("main")
    val rejected =
      try { vt.write(nation, "main", "direct"); 0 }
      catch { case _: IllegalStateException => 1 }
    vt.createBranch("ingest", from = "main")
    vt.write(nation, "ingest", "full load")
    vt.merge("ingest", "main")
    vt.read(s, "main").select(lit("head").as("part"), col("n_nationkey").as("k"))
      .unionByName(s.range(rejected.toLong)
        .select(lit("rejected").as("part"), lit(1).as("k")))
      .orderBy("part", "k")
  }

  /** Tags (lakeFS `lakectl tag`): an immutable named ref that pins a commit
    * through vacuum. v0 is tagged, v1 fully overwrites it, and
    * `vacuum(retainLast = 1)` then reclaims everything except the head —
    * the tagged v0 stays readable ONLY because the tag holds its files in
    * the retained set. Output = tag content + head content. */
  val qVtTag: QueryDef = q("q_vt_tag")(
    """SELECT * FROM (
      |  SELECT 'tagged' AS part, n_nationkey, n_name FROM nation WHERE n_regionkey < 2
      |  UNION ALL
      |  SELECT 'head' AS part, n_nationkey, n_name FROM nation)
      |ORDER BY part, n_nationkey""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_tag"))
    val nation = Tables.nation(s, d)
    vt.write(nation.where(col("n_regionkey") < 2), "main", "v0")
    vt.createTag("rel-1.0")
    vt.write(nation, "main", "v1")
    vt.vacuum(retainLast = 1) // only the tag keeps v0's files alive
    vt.readTag(s, "rel-1.0")
      .select(lit("tagged").as("part"), col("n_nationkey"), col("n_name"))
      .unionByName(vt.read(s, "main")
        .select(lit("head").as("part"), col("n_nationkey"), col("n_name")))
      .orderBy("part", "n_nationkey")
  }

  /** RESTORE-to-tag (Delta `RESTORE TABLE ... VERSION AS OF` by release
    * name): v0 is tagged, v1 overwrites with a disjoint slice, then the
    * restore publishes the tagged state back as v2 — so the head equals v0's
    * content again while v1 stays one time-travel hop away. Output pins all
    * three: restored head, the still-readable v1, and the CDC of the restore
    * interval (v1→v2 = delete v1's rows, re-insert v0's). */
  val qVtRestoreTag: QueryDef = q("q_vt_restore_tag")(
    """SELECT * FROM (
      |  SELECT 'head' AS part, n_nationkey FROM nation WHERE n_regionkey < 2
      |  UNION ALL
      |  SELECT 'v1' AS part, n_nationkey FROM nation WHERE n_regionkey >= 2
      |  UNION ALL
      |  SELECT 'cdc_del' AS part, n_nationkey FROM nation WHERE n_regionkey >= 2
      |  UNION ALL
      |  SELECT 'cdc_ins' AS part, n_nationkey FROM nation WHERE n_regionkey < 2)
      |ORDER BY part, n_nationkey""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_restore_tag"))
    val nation = Tables.nation(s, d)
    vt.write(nation.where(col("n_regionkey") < 2), "main", "v0")
    vt.createTag("golden")
    vt.write(nation.where(col("n_regionkey") >= 2), "main", "v1 disjoint slice")
    vt.restoreTag("golden")
    val cdc = vt.changes(s, "main", fromVersion = 1, toVersion = 2)
    vt.read(s, "main").select(lit("head").as("part"), col("n_nationkey"))
      .unionByName(vt.readVersion(s, "main", 1)
        .select(lit("v1").as("part"), col("n_nationkey")))
      .unionByName(cdc.where(col("change_type") === "delete")
        .select(lit("cdc_del").as("part"), col("n_nationkey")))
      .unionByName(cdc.where(col("change_type") === "insert")
        .select(lit("cdc_ins").as("part"), col("n_nationkey")))
      .orderBy("part", "n_nationkey")
  }

  /** Row-level UPDATE (Delta `UPDATE ... SET ... WHERE`): copy-on-write over
    * the stats-pruned touched files only. The output pins all three faces at
    * once: the head shows the after-state (CASE twin in the oracle), and the
    * CDC interval shows each matched row as a delete of its before-image plus
    * an insert of its after-image — carried non-matching rows in rewritten
    * files cancel in the bag diff and never reach the feed. */
  val qVtUpdate: QueryDef = q("q_vt_update")(
    """SELECT * FROM (
      |  SELECT 'head' AS part, o_orderkey,
      |         CASE WHEN o_totalprice > 200000 THEN o_totalprice * 0.9
      |              ELSE o_totalprice END AS o_totalprice
      |  FROM orders
      |  UNION ALL
      |  SELECT 'upd_del' AS part, o_orderkey, o_totalprice FROM orders
      |  WHERE o_totalprice > 200000
      |  UNION ALL
      |  SELECT 'upd_ins' AS part, o_orderkey, o_totalprice * 0.9 FROM orders
      |  WHERE o_totalprice > 200000)
      |ORDER BY part, o_orderkey""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_update"))
    vt.write(Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      .repartitionByRange(4, col("o_orderkey")), "main", "v0 range layout",
      statsCols = Seq("o_orderkey"))
    vt.update(s, "o_totalprice > 200000", Map("o_totalprice" -> "o_totalprice * 0.9"))
    val cdc = vt.changes(s, "main", fromVersion = 0, toVersion = 1)
    vt.read(s, "main").select(lit("head").as("part"), col("o_orderkey"), col("o_totalprice"))
      .unionByName(cdc.where(col("change_type") === "delete")
        .select(lit("upd_del").as("part"), col("o_orderkey"), col("o_totalprice")))
      .unionByName(cdc.where(col("change_type") === "insert")
        .select(lit("upd_ins").as("part"), col("o_orderkey"), col("o_totalprice")))
      .orderBy("part", "o_orderkey")
  }

  /** Merge-on-read DELETE (Delta deletion vectors / Iceberg v2 position
    * deletes): same user-visible semantics as `q_vt_delete`, but ZERO data
    * files rewritten — the commit records the matched row positions in a
    * small deletion-vector parquet and readers subtract them with one
    * broadcast anti-join (the point-delete shape a petabyte table needs).
    * The oracle is deliberately IDENTICAL in structure to q_vt_delete's:
    * head content and CDC deletes must match the copy-on-write path
    * row-for-row; VersionedTableSpec pins the no-rewrite property
    * (c1.files == c0.files) and compact's DV materialization. */
  val qVtDeleteMor: QueryDef = q("q_vt_delete_mor")(
    """SELECT * FROM (
      |  SELECT 'head' AS part, o_orderkey, o_totalprice FROM orders
      |  WHERE NOT (o_totalprice > 200000)
      |  UNION ALL
      |  SELECT 'deleted' AS part, o_orderkey, o_totalprice FROM orders
      |  WHERE o_totalprice > 200000)
      |ORDER BY part, o_orderkey""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_delete_mor"))
    vt.write(Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      .repartitionByRange(4, col("o_orderkey")), "main", "v0 range layout",
      statsCols = Seq("o_orderkey"))
    vt.deleteWithVectors(s, "o_totalprice > 200000")
    vt.read(s, "main").select(lit("head").as("part"), col("o_orderkey"), col("o_totalprice"))
      .unionByName(vt.changes(s, "main", fromVersion = 0, toVersion = 1)
        .where(col("change_type") === "delete")
        .select(lit("deleted").as("part"), col("o_orderkey"), col("o_totalprice")))
      .orderBy("part", "o_orderkey")
  }

  /** CDC between v0 and v1: inserts = the regionkey>=2 rows, no deletes. */
  val qVtChanges: QueryDef = q("q_vt_changes")(
    """SELECT 'insert' AS change_type, n_nationkey, n_name FROM nation WHERE n_regionkey >= 2
      |ORDER BY change_type, n_nationkey""".stripMargin) { (s, d) =>
    val vt = writeV0V1(s, d, "vt_changes")
    vt.changes(s, "main", fromVersion = 0, toVersion = 1)
      .select("change_type", "n_nationkey", "n_name")
      .orderBy("change_type", "n_nationkey")
  }

  /** File-granular CDC over a COPY-ON-WRITE upsert interval: v0 is a
    * key-range layout with per-file key stats; the upsert touches only keys
    * 0–4, so COW rewrites just the file(s) whose stats admit those keys and
    * carries every other file forward untouched. `changes(0,1)` then diffs
    * ONLY touched+new files — common files cancel by metadata alone
    * (VersionedTableSpec pins the inputFiles claim). Output: the 5 updated
    * rows as inserts plus their old forms as deletes. */
  val qVtChangesUpsert: QueryDef = q("q_vt_changes_upsert")(
    """SELECT * FROM (
      |  SELECT 'insert' AS change_type, n_nationkey, lower(n_name) AS n_name, n_regionkey
      |  FROM nation WHERE n_nationkey < 5
      |  UNION ALL
      |  SELECT 'delete' AS change_type, n_nationkey, n_name, n_regionkey
      |  FROM nation WHERE n_nationkey < 5)
      |ORDER BY change_type, n_nationkey""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_changes_upsert"))
    val nation = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
    vt.write(nation.repartitionByRange(4, col("n_nationkey")), "main",
      "v0 range layout", statsCols = Seq("n_nationkey"))
    val updates = nation.where(col("n_nationkey") < 5)
      .withColumn("n_name", lower(col("n_name")))
    vt.upsert(s, updates, keyCols = Seq("n_nationkey"))
    vt.changes(s, "main", fromVersion = 0, toVersion = 1)
      .select("change_type", "n_nationkey", "n_name", "n_regionkey")
      .orderBy("change_type", "n_nationkey")
  }

  /** Delta-CDF-style per-commit change feed over a THREE-version history:
    * v0 (partial load) → v1 (append) → v2 (copy-on-write upsert). The feed
    * tags every delta row with its commit version, so the append's inserts
    * and the upsert's insert/delete pairs arrive as separately replayable
    * commits rather than one squashed diff. */
  val qVtChangesFeed: QueryDef = q("q_vt_changes_feed")(
    """SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS version, 'insert' AS change_type,
      |         n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey >= 2
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT) AS version, 'insert' AS change_type,
      |         n_nationkey, lower(n_name) AS n_name, n_regionkey FROM nation WHERE n_nationkey < 5
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT) AS version, 'delete' AS change_type,
      |         n_nationkey, n_name, n_regionkey FROM nation WHERE n_nationkey < 5)
      |ORDER BY version, change_type, n_nationkey""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_changes_feed"))
    val nation = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
    vt.write(nation.where(col("n_regionkey") < 2)
      .repartitionByRange(2, col("n_nationkey")), "main", "v0 partial load",
      statsCols = Seq("n_nationkey"))
    vt.write(nation.where(col("n_regionkey") >= 2), "main", "v1 append", mode = "append")
    vt.upsert(s, nation.where(col("n_nationkey") < 5)
      .withColumn("n_name", lower(col("n_name"))), keyCols = Seq("n_nationkey"))
    vt.changesFeed(s, "main", fromVersion = 0, toVersion = 2)
      .select("version", "change_type", "n_nationkey", "n_name", "n_regionkey")
      .orderBy("version", "change_type", "n_nationkey")
  }

  /** Commit history metadata (ts and file counts are run-dependent — project
    * them away so the remaining columns are oracle-exact). */
  val qVtHistory: QueryDef = q("q_vt_history")(
    """SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'v1'), (CAST(0 AS BIGINT), 'v0'))
      |  AS t(version, message) ORDER BY version DESC""".stripMargin) { (s, d) =>
    val vt = writeV0V1(s, d, "vt_history")
    vt.history(s, "main").select("version", "message")
      .orderBy(col("version").desc)
  }

  /** Delta `timestampAsOf` twin of the versionAsOf query: resolve v0 by its
    * COMMIT TIMESTAMP instead of its number. The second write is gated until
    * the clock has advanced past v0's millisecond so the two commits can
    * never share a timestamp (a busy-wait of at most a few ms, test-only
    * determinism — production commits are never same-millisecond races on
    * one branch because writers are serialized). */
  val qVtTsTravel: QueryDef = q("q_vt_ts_travel")(
    """SELECT n_nationkey, n_name FROM nation WHERE n_regionkey < 2
      |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_ts_travel"))
    val nation = Tables.nation(s, d)
    val c0 = vt.write(nation.where(col("n_regionkey") < 2), "main", "v0")
    while (System.currentTimeMillis() <= c0.ts) Thread.sleep(1)
    vt.write(nation, "main", "v1")
    vt.readAsOfTimestamp(s, "main", c0.ts)
      .select("n_nationkey", "n_name").orderBy("n_nationkey")
  }

  /** Delta-protocol interop (r13 verdict #5): author a genuine `_delta_log`
    * table (the format the reference's jobs write, `jobs/vdt4.py:39-45`) and
    * open it at THREE versions through [[graft.vt.DeltaLogReader]] — v0 the
    * initial snapshot, v1 after an `add` (append), v2 after a `remove`
    * (delete) — proving the replayer tracks the live file set through the
    * protocol's action stream, not just a final listing. */
  val qVtDeltaLog: QueryDef = q("q_vt_delta_log")(
    """SELECT 0 AS ver, n_nationkey, n_name FROM nation WHERE n_regionkey < 2
      |UNION ALL
      |SELECT 1 AS ver, n_nationkey, n_name FROM nation
      |UNION ALL
      |SELECT 2 AS ver, n_nationkey, n_name FROM nation WHERE n_regionkey >= 2
      |ORDER BY ver, n_nationkey""".stripMargin) { (s, d) =>
    import graft.vt.{DeltaLogFixture => F, DeltaLogReader}
    val root = java.nio.file.Paths.get(Tables.scratch("vt_delta_log"))
    java.nio.file.Files.createDirectories(root)
    val nation = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
    val (fa, sa) = F.writeDataFile(root, nation.where(col("n_regionkey") < 2), "part-a")
    val (fb, sb) = F.writeDataFile(root, nation.where(col("n_regionkey") >= 2), "part-b")
    F.writeCommit(root, 0, Seq(F.protocolLine(), F.metaDataLine(nation.schema.json, Nil),
      F.addLine(fa, sa)))
    F.writeCommit(root, 1, Seq(F.addLine(fb, sb)))
    F.writeCommit(root, 2, Seq(F.removeLine(fa)))
    (0 to 2).map(v => DeltaLogReader.read(s, root.toString, Some(v.toLong))
        .withColumn("ver", lit(v)))
      .reduce(_ unionByName _)
      .select("ver", "n_nationkey", "n_name")
      .orderBy("ver", "n_nationkey")
  }

  /** Delta-protocol ROUND-TRIP (r14 verdict #1): our engine WRITES the
    * `_delta_log` this time — [[graft.vt.VersionedTable.exportDeltaLog]]
    * materializes the branch lineage as protocol-conformant commit JSON
    * inside the table root (zero-copy; the adds reference the table's own
    * parquet), and our [[graft.vt.DeltaLogReader]] replays every version
    * back. The lineage exercises all three commit shapes the reference
    * produces (`jobs/vdt4.py:39-45,76-77`): v0 initial write, v1 append
    * (adds only), v2 overwrite with an EVOLVED schema (removes + adds + a
    * re-emitted metaData — Delta's `overwriteSchema`). The oracle pins the
    * replayed contents of all three versions, including the v2-only column
    * being NULL at earlier versions. */
  val qVtDeltaRoundtrip: QueryDef = q("q_vt_delta_roundtrip")(
    """SELECT 0 AS ver, n_nationkey, n_name, CAST(NULL AS VARCHAR) AS name_lower
      |FROM nation WHERE n_regionkey < 2
      |UNION ALL
      |SELECT 1 AS ver, n_nationkey, n_name, CAST(NULL AS VARCHAR) FROM nation
      |UNION ALL
      |SELECT 2 AS ver, n_nationkey, n_name, lower(n_name) FROM nation
      |ORDER BY ver, n_nationkey""".stripMargin) { (s, d) =>
    import graft.vt.DeltaLogReader
    val vt = VersionedTable.create(Tables.scratch("vt_delta_rt"))
    val nation = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
    vt.write(nation.where(col("n_regionkey") < 2), "main", "v0")
    vt.write(nation.where(col("n_regionkey") >= 2), "main", "v1 append", mode = "append")
    vt.write(nation.withColumn("name_lower", lower(col("n_name"))), "main",
      "v2 overwrite, evolved schema", overwriteSchema = true)
    vt.exportDeltaLog("main")
    (0 to 2).map { v =>
      val df = DeltaLogReader.read(s, vt.root.toString, Some(v.toLong))
      val aligned =
        if (df.columns.contains("name_lower")) df
        else df.withColumn("name_lower", lit(null).cast("string"))
      aligned.select(lit(v).as("ver"), col("n_nationkey"), col("n_name"),
        col("name_lower"))
    }.reduce(_ unionByName _).orderBy("ver", "n_nationkey")
  }

  /** DV round-trip (r14 verdict #8): a MERGE-ON-READ delete exports as
    * Delta's own deletion-vector vocabulary — protocol upgraded to v3
    * `deletionVectors` at the deleting version, the touched files re-added
    * with Roaring/Z85 descriptors ([[graft.vt.DeletionVectors]]) — and our
    * reader replays both versions, filtering the deleted positions via the
    * parquet `_metadata.row_index`. The oracle pins the pre- and post-delete
    * contents. */
  val qVtDeltaDvRoundtrip: QueryDef = q("q_vt_delta_dv_roundtrip")(
    """SELECT 0 AS ver, n_nationkey, n_name FROM nation
      |UNION ALL
      |SELECT 1 AS ver, n_nationkey, n_name FROM nation WHERE n_regionkey < 2
      |ORDER BY ver, n_nationkey""".stripMargin) { (s, d) =>
    import graft.vt.DeltaLogReader
    val vt = VersionedTable.create(Tables.scratch("vt_delta_dv_rt"))
    val nation = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
    vt.write(nation.repartitionByRange(2, col("n_nationkey")), "main", "v0",
      statsCols = Seq("n_regionkey"))
    vt.deleteWithVectors(s, "n_regionkey >= 2", "main")
    vt.exportDeltaLog("main")
    (0 to 1).map(v => DeltaLogReader.read(s, vt.root.toString, Some(v.toLong))
        .select(lit(v).as("ver"), col("n_nationkey"), col("n_name")))
      .reduce(_ unionByName _).orderBy("ver", "n_nationkey")
  }

  // ---- incremental view maintenance over CDC -----------------------------

  /** Delta COLUMN MAPPING interop (name mode): modern Delta tables rename
    * and drop columns without rewriting data by storing PHYSICAL column
    * names (`delta.columnMapping.physicalName`, e.g. `col-7f3a…`) in the
    * schema metadata — the parquet files never carry the logical names users
    * query. This row authors exactly that table shape (protocol reader v2,
    * `delta.columnMapping.mode=name`, physically-named files, physical
    * partitionValues keys) and opens it through [[graft.vt.DeltaLogReader]]:
    * the scan reads the physical schema and surfaces the logical one. The
    * oracle is the plain nation projection — equality proves the rename
    * round-trip is lossless. */
  val qVtDeltaCmap: QueryDef = q("q_vt_delta_cmap")(
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
    import graft.vt.{DeltaLogFixture => F, DeltaLogReader}
    val root = java.nio.file.Paths.get(Tables.scratch("vt_delta_cmap"))
    java.nio.file.Files.createDirectories(root)
    val nation = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
    val phys = Map("n_nationkey" -> "col-1b2c", "n_name" -> "col-3d4e",
      "n_regionkey" -> "col-5f60")
    def physical(df: DataFrame) =
      df.select(df.columns.map(c => col(c).as(phys(c))): _*)
    val (fa, sa) = F.writeDataFile(root,
      physical(nation.where(col("n_regionkey") < 2)), "part-a")
    val (fb, sb) = F.writeDataFile(root,
      physical(nation.where(col("n_regionkey") >= 2)), "part-b")
    F.writeCommit(root, 0, Seq(F.protocolLine(minReader = 2, minWriter = 5),
      F.metaDataLine(F.columnMappedSchema(nation.schema, phys).json, Nil,
        Map("delta.columnMapping.mode" -> "name",
          "delta.columnMapping.maxColumnId" -> "3")),
      F.addLine(fa, sa)))
    F.writeCommit(root, 1, Seq(F.addLine(fb, sb)))
    DeltaLogReader.read(s, root.toString, None)
      .select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey")
  }

  /** Delta COLUMN MAPPING interop (id mode, r16): what modern delta-spark
    * (`delta.columnMapping.mode=id`) and every Iceberg-compat table writes —
    * columns bind by PARQUET FIELD ID (`delta.columnMapping.id` stamped as
    * `parquet.field.id` on the read schema, resolved inside Spark's own
    * vectorized reader — no per-file footer inspection on the driver). The
    * fixture's files carry physical names AND field ids; the oracle is the
    * plain nation projection — equality proves the id-driven bind is
    * lossless. DeltaLogSpec additionally pins a fixture where NAME matching
    * would bind the wrong column. */
  val qVtDeltaCmapId: QueryDef = q("q_vt_delta_cmap_id")(
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
    import graft.vt.{DeltaLogFixture => F, DeltaLogReader}
    val root = java.nio.file.Paths.get(Tables.scratch("vt_delta_cmap_id"))
    java.nio.file.Files.createDirectories(root)
    val nation = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
    val phys = Map("n_nationkey" -> "col-a1", "n_name" -> "col-b2",
      "n_regionkey" -> "col-c3")
    val ids = Map("n_nationkey" -> 1L, "n_name" -> 2L, "n_regionkey" -> 3L)
    val (fa, sa) = F.writeDataFile(root,
      F.physicalWithIds(nation.where(col("n_regionkey") < 2), phys, ids), "part-a")
    val (fb, sb) = F.writeDataFile(root,
      F.physicalWithIds(nation.where(col("n_regionkey") >= 2), phys, ids), "part-b")
    F.writeCommit(root, 0, Seq(F.protocolLine(minReader = 2, minWriter = 5),
      F.metaDataLine(F.columnMappedSchema(nation.schema, phys, ids).json, Nil,
        Map("delta.columnMapping.mode" -> "id",
          "delta.columnMapping.maxColumnId" -> "3")),
      F.addLine(fa, sa)))
    F.writeCommit(root, 1, Seq(F.addLine(fb, sb)))
    DeltaLogReader.read(s, root.toString, None)
      .select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey")
  }

  /** Foreign-Delta REPLICATION (r15): the migration on-ramp. A Delta table
    * authored by "another engine" (protocol-conformant fixture) is followed
    * version-for-version by [[graft.streaming.ChangeFeed.replicateFromDelta]]
    * into a native versioned table — position derived from the target's own
    * idempotent-ingest watermark, nothing written into the source. The
    * oracle pins that the target's history MIRRORS the source's: version v
    * of the target equals version v of the Delta table. */
  val qVtDeltaReplicate: QueryDef = q("q_vt_delta_replicate")(
    """SELECT 0 AS ver, n_nationkey, n_name FROM nation WHERE n_regionkey < 2
      |UNION ALL
      |SELECT 1 AS ver, n_nationkey, n_name FROM nation
      |ORDER BY ver, n_nationkey""".stripMargin) { (s, d) =>
    import graft.vt.{DeltaLogFixture => F}
    val root = java.nio.file.Paths.get(Tables.scratch("vt_delta_repl_src"))
    java.nio.file.Files.createDirectories(root)
    val nation = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
    val (fa, sa) = F.writeDataFile(root, nation.where(col("n_regionkey") < 2), "part-a")
    val (fb, sb) = F.writeDataFile(root, nation.where(col("n_regionkey") >= 2), "part-b")
    F.writeCommit(root, 0, Seq(F.protocolLine(), F.metaDataLine(nation.schema.json, Nil),
      F.addLine(fa, sa)))
    F.writeCommit(root, 1, Seq(F.addLine(fb, sb)))
    val target = VersionedTable.create(Tables.scratch("vt_delta_repl_tgt"))
    val shipped = ChangeFeed.replicateFromDelta(s, root.toString, target)
    require(shipped == 2, s"expected 2 shipped versions, got $shipped")
    (0 to 1).map(v => target.readVersion(s, "main", v)
        .select(lit(v).as("ver"), col("n_nationkey"), col("n_name")))
      .reduce(_ unionByName _).orderBy("ver", "n_nationkey")
  }

  /** STANDING foreign-Delta TAIL (r16): the daily mirroring flow. The
    * source `_delta_log` advances BETWEEN drains — v0 ships in the first
    * [[graft.streaming.ChangeFeed.tailFromDelta]] call, then the source
    * gains an append (v1) and an UPDATE version (v2: remove+add plus a
    * `cdc` file with update_preimage/update_postimage rows, delta-spark's
    * CDF vocabulary) and the second drain ships both — the update landing
    * as ONE keyed applyCdc commit, so the target's history keeps mirroring
    * the source version-for-version. A third drain ships nothing (caught
    * up). The oracle pins all three target versions, update applied. */
  val qVtDeltaTail: QueryDef = q("q_vt_delta_tail")(
    """SELECT 0 AS ver, n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey < 2
      |UNION ALL
      |SELECT 1 AS ver, n_nationkey, n_name, n_regionkey FROM nation
      |UNION ALL
      |SELECT 2 AS ver, n_nationkey,
      |       CASE WHEN n_regionkey = 0 THEN lower(n_name) ELSE n_name END AS n_name,
      |       n_regionkey FROM nation
      |ORDER BY ver, n_nationkey""".stripMargin) { (s, d) =>
    import graft.vt.{DeltaLogFixture => F}
    val root = java.nio.file.Paths.get(Tables.scratch("vt_delta_tail_src"))
    java.nio.file.Files.createDirectories(root)
    val nation = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
    val partA = nation.where(col("n_regionkey") < 2)
    val (fa, sa) = F.writeDataFile(root, partA, "part-a")
    F.writeCommit(root, 0, Seq(F.protocolLine(), F.metaDataLine(nation.schema.json, Nil),
      F.addLine(fa, sa)))
    val target = VersionedTable.create(Tables.scratch("vt_delta_tail_tgt"))
    val keys = Seq("n_nationkey")
    val n0 = ChangeFeed.tailFromDelta(s, root.toString, target, keyCols = keys)
    require(n0 == 1, s"first drain should ship v0, shipped $n0")
    // the source advances between drains: an append, then an update
    val (fb, sb) = F.writeDataFile(root,
      nation.where(col("n_regionkey") >= 2), "part-b")
    F.writeCommit(root, 1, Seq(F.addLine(fb, sb)))
    val touched = partA.where(col("n_regionkey") === 0)
    val (fa2, sa2) = F.writeDataFile(root, partA.withColumn("n_name",
      when(col("n_regionkey") === 0, lower(col("n_name")))
        .otherwise(col("n_name"))), "part-a2")
    val cdcDf = touched.withColumn("_change_type", lit("update_preimage"))
      .unionByName(touched.withColumn("n_name", lower(col("n_name")))
        .withColumn("_change_type", lit("update_postimage")))
    val (fc, sc) = F.writeDataFile(root, cdcDf, "cdc-2")
    F.writeCommit(root, 2, Seq(F.removeLine(fa), F.addLine(fa2, sa2),
      F.cdcLine(fc, sc)))
    val n1 = ChangeFeed.tailFromDelta(s, root.toString, target, keyCols = keys)
    require(n1 == 2, s"second drain should ship v1+v2, shipped $n1")
    require(ChangeFeed.tailFromDelta(s, root.toString, target, keyCols = keys) == 0,
      "a caught-up drain must ship nothing")
    (0 to 2).map(v => target.readVersion(s, "main", v)
        .select(lit(v).as("ver"), col("n_nationkey"), col("n_name"),
          col("n_regionkey")))
      .reduce(_ unionByName _).orderBy("ver", "n_nationkey")
  }

  /** Delta CHANGE DATA FEED round-trip (r15): the same load → append →
    * COW-upsert lineage as `q_vt_changes_feed`, exported with
    * `changeDataFeed = true` — the upsert version writes its row-level
    * changes as a `_change_data` parquet + `cdc` action — and read back
    * through [[graft.vt.DeltaLogReader.changes]], Delta's
    * `table_changes(0, 2)`: v0/v1 inserts DERIVED from the add actions,
    * v2 taken from the cdc file. Same relational oracle as the native
    * feed, plus v0 — equality proves the exported CDF vocabulary carries
    * the native CDC losslessly. */
  val qVtDeltaCdf: QueryDef = q("q_vt_delta_cdf")(
    """SELECT * FROM (
      |  SELECT CAST(0 AS BIGINT) AS version, 'insert' AS change_type,
      |         n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey < 2
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT) AS version, 'insert' AS change_type,
      |         n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey >= 2
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT) AS version, 'insert' AS change_type,
      |         n_nationkey, lower(n_name) AS n_name, n_regionkey FROM nation WHERE n_nationkey < 5
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT) AS version, 'delete' AS change_type,
      |         n_nationkey, n_name, n_regionkey FROM nation WHERE n_nationkey < 5)
      |ORDER BY version, change_type, n_nationkey""".stripMargin) { (s, d) =>
    import graft.vt.DeltaLogReader
    val vt = VersionedTable.create(Tables.scratch("vt_delta_cdf"))
    val nation = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
    vt.write(nation.where(col("n_regionkey") < 2)
      .repartitionByRange(2, col("n_nationkey")), "main", "v0 partial load",
      statsCols = Seq("n_nationkey"))
    vt.write(nation.where(col("n_regionkey") >= 2), "main", "v1 append", mode = "append")
    vt.upsert(s, nation.where(col("n_nationkey") < 5)
      .withColumn("n_name", lower(col("n_name"))), keyCols = Seq("n_nationkey"))
    vt.exportDeltaLog("main", changeDataFeed = true)
    DeltaLogReader.changes(s, vt.root.toString, 0, 2)
      .select(col("_commit_version").as("version"),
        col("_change_type").as("change_type"),
        col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy("version", "change_type", "n_nationkey")
  }

  /** Delta STATS-SKIPPING read (r15): the exported per-file stats doing
    * their job through a Delta consumer. The table is range-partitioned on
    * n_nationkey into 4 files, exported with stats, and opened through
    * [[graft.vt.DeltaLogReader.readWhere]] — which prunes files by the add
    * actions' [min,max] BEFORE Spark lists them (DeltaLogSpec pins the
    * inputFiles count; here the oracle pins that pruning loses no rows). */
  val qVtDeltaSkip: QueryDef = q("q_vt_delta_skip")(
    """SELECT n_nationkey, n_name FROM nation
      |WHERE n_nationkey BETWEEN 5 AND 11 ORDER BY n_nationkey""".stripMargin) { (s, d) =>
    import graft.vt.DeltaLogReader
    val vt = VersionedTable.create(Tables.scratch("vt_delta_skip"))
    val nation = Tables.nation(s, d).select("n_nationkey", "n_name")
    vt.write(nation.repartitionByRange(4, col("n_nationkey")), "main", "v0",
      statsCols = Seq("n_nationkey"))
    vt.exportDeltaLog("main")
    DeltaLogReader.readWhere(s, vt.root.toString, "n_nationkey", 5, 11)
      .select("n_nationkey", "n_name").orderBy("n_nationkey")
  }

  /** [[qVtDeltaSkip]] through the BATCH RELATION
    * ([[graft.sources.DeltaLite]], `spark.read.format("delta-lite")`):
    * the exported `_delta_log`'s per-file stats prune during scan
    * planning from an ordinary `.where`, no skip-read helper needed —
    * the TahoeFileIndex role on our own reader. */
  val qVtDeltaLiteRead: QueryDef = q("q_vt_delta_lite_read")(
    """SELECT n_nationkey, n_name FROM nation
      |WHERE n_nationkey BETWEEN 5 AND 11 ORDER BY n_nationkey""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_delta_lite_read"))
    val nation = Tables.nation(s, d).select("n_nationkey", "n_name")
    vt.write(nation.repartitionByRange(4, col("n_nationkey")), "main", "v0",
      statsCols = Seq("n_nationkey"))
    vt.exportDeltaLog("main")
    s.read.format("delta-lite").option("path", vt.root.toString).load()
      .where(col("n_nationkey").between(5, 11))
      .select("n_nationkey", "n_name").orderBy("n_nationkey")
  }

  /** PARTITIONED foreign-Delta read through the batch relation: partition
    * columns reconstitute from `partitionValues` and partition filters are
    * evaluated EXACTLY during planning (Spark strips partition-only
    * filters from the post-scan set — the `!=` shape here is precisely the
    * one a conservative window-pruner would get WRONG, kept as a standing
    * regression row). */
  val qVtDeltaLitePart: QueryDef = q("q_vt_delta_lite_part")(
    """SELECT n_nationkey, n_regionkey FROM nation
      |WHERE n_regionkey <> 0 ORDER BY n_nationkey""".stripMargin) { (s, d) =>
    import graft.vt.{DeltaLogFixture => F}
    val root = java.nio.file.Paths.get(Tables.scratch("vt_delta_lite_part"))
    java.nio.file.Files.createDirectories(root)
    val nation = Tables.nation(s, d).select("n_nationkey", "n_regionkey")
    val regions = nation.select("n_regionkey").distinct()
      .collect().map(_.getInt(0)).sorted // bounded: 5 regions
    val adds = regions.toSeq.map { r =>
      val (f, sz) = F.writeDataFile(root,
        nation.where(col("n_regionkey") === r).drop("n_regionkey"), s"r$r")
      F.addLine(f, sz, Map("n_regionkey" -> r.toString))
    }
    F.writeCommit(root, 0, Seq(F.protocolLine(),
      F.metaDataLine(nation.schema.json, Seq("n_regionkey"))) ++ adds)
    s.read.format("delta-lite").option("path", root.toString).load()
      .where(col("n_regionkey") =!= 0)
      .select("n_nationkey", "n_regionkey").orderBy("n_nationkey")
  }

  /** SCALE-BEARING Delta export (r16, benched): the full interop pipeline on
    * the sf-scaled orders table — versioned load + append (8 files), a 30%
    * MERGE-ON-READ delete (deletion vectors well above the inline
    * threshold in every file), then a CDF-enabled `_delta_log` export
    * (distributed DV descriptor build + multi-file cdc write) and a
    * replayed read of the exported table. In Registry.benchNames so the
    * export data paths are visible to the 2× and 10× gates — the nation-
    * sized interop rows pin correctness, this one pins COST. Oracle: the
    * surviving orders aggregated. */
  val qVtDeltaExportScale: QueryDef = q("q_vt_delta_export_scale")(
    """SELECT o_orderpriority, count(*) AS cnt,
      |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM orders WHERE o_orderkey % 10 >= 3
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    import graft.vt.DeltaLogReader
    val vt = VersionedTable.create(Tables.scratch("vt_delta_export_scale"))
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    val m2 = pmod(col("o_orderkey"), lit(2))
    vt.write(orders.where(m2 === 0).repartitionByRange(4, col("o_orderkey")),
      "main", "v0", statsCols = Seq("o_orderkey"))
    vt.write(orders.where(m2 === 1).repartitionByRange(4, col("o_orderkey")),
      "main", "v1 append", mode = "append")
    vt.deleteWithVectors(s, "o_orderkey % 10 < 3", "main")
    vt.exportDeltaLog("main", changeDataFeed = true)
    DeltaLogReader.read(s, vt.root.toString, None)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"), sum("cents").as("sum_cents"))
      .orderBy("o_orderpriority")
  }

  /** String-stats skipping through the Delta export (r16): the textual
    * min/max quadrants [[graft.vt.DeltaLogWriter]] emits doing their job —
    * [[graft.vt.DeltaLogReader.readWhereString]] prunes files by exported
    * UTF-8 [min,max] before Spark lists them (DeltaLogSpec pins the
    * inputFiles count; the oracle pins that pruning loses no rows). */
  val qVtDeltaSkipStr: QueryDef = q("q_vt_delta_skip_str")(
    """SELECT n_nationkey, n_name FROM nation
      |WHERE n_name BETWEEN 'NATION_12' AND 'NATION_19' ORDER BY n_nationkey""".stripMargin) { (s, d) =>
    import graft.vt.DeltaLogReader
    val vt = VersionedTable.create(Tables.scratch("vt_delta_skip_str"))
    val nation = Tables.nation(s, d).select("n_nationkey", "n_name")
    vt.write(nation.repartitionByRange(4, col("n_name")), "main", "v0",
      statsCols = Seq("n_name"))
    vt.exportDeltaLog("main")
    DeltaLogReader.readWhereString(s, vt.root.toString, "n_name", "NATION_12", "NATION_19")
      .select("n_nationkey", "n_name").orderBy("n_nationkey")
  }

  /** SQL TIME-TRAVEL SYNTAX through the DSv2 catalog
    * ([[graft.sources.VtCatalog]], r17): `SELECT … FROM vt.`path` VERSION
    * AS OF n` parses and resolves through `TableCatalog.loadTable(ident,
    * version)` — the surface SQL users expect from Delta/Iceberg, over
    * the native commit log. Three legs: version 0, the head, and a side
    * branch via the `branch@path` identifier form. DV-free snapshots plan
    * as genuine DSv2 ParquetScans over the commit-pinned file index
    * (VtCatalogSpec pins the planned-file count under filters). */
  val qVtSqlTravel: QueryDef = q("q_vt_sql_travel")(
    """SELECT * FROM (
      |  SELECT 0 AS version, n_nationkey FROM nation WHERE n_regionkey < 2
      |  UNION ALL
      |  SELECT 1 AS version, n_nationkey FROM nation
      |  UNION ALL
      |  SELECT 2 AS version, n_nationkey FROM nation WHERE n_regionkey >= 3)
      |ORDER BY version, n_nationkey""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_sql_travel"))
    val nation = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
    vt.write(nation.where(col("n_regionkey") < 2), "main", "v0")
    vt.write(nation, "main", "v1")
    vt.createBranch("side", "main")
    vt.write(nation.where(col("n_regionkey") >= 3), "side", "side-v")
    s.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val t = s"vt.`${vt.root}`"
    s.sql(
      s"""SELECT * FROM (
         |  SELECT 0 AS version, n_nationkey FROM $t VERSION AS OF 0
         |  UNION ALL
         |  SELECT 1 AS version, n_nationkey FROM $t
         |  UNION ALL
         |  SELECT 2 AS version, n_nationkey FROM vt.`side@${vt.root}`)
         |ORDER BY version, n_nationkey""".stripMargin)
  }

  /** SQL `DELETE FROM` through the DSv2 catalog (r17): [[graft.sources
    * .VtTable]] is a `SupportsDelete`, so the statement parses, the pushed
    * conjuncts render back to engine predicates ([[graft.sources
    * .FilterSql]]), and each DELETE lands as ONE commit — the first via
    * copy-on-write (only files holding matches rewritten, commit-log
    * stats confine the candidates), the second via deletion vectors
    * (`spark.graft.vt.delete.mode=mor`, zero files rewritten). The read
    * back goes through the same SQL surface over the DV-carrying head.
    * Works on ANY session: the catalog binds via runtime conf, no
    * session-build extensions involved. */
  val qVtSqlDelete: QueryDef = q("q_vt_sql_delete")(
    """SELECT o_orderpriority, count(*) AS cnt FROM orders
      |WHERE NOT (o_orderkey BETWEEN 1000 AND 2999)
      |  AND NOT (o_orderstatus = 'F' AND o_orderkey < 500)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_sql_delete"))
    val orders = Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_orderpriority")
    vt.write(orders.repartitionByRange(4, col("o_orderkey")), "main", "v0",
      statsCols = Seq("o_orderkey"))
    s.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val t = s"vt.`${vt.root}`"
    s.sql(s"DELETE FROM $t WHERE o_orderkey BETWEEN 1000 AND 2999")
    s.conf.set("spark.graft.vt.delete.mode", "mor")
    try s.sql(s"DELETE FROM $t WHERE o_orderstatus = 'F' AND o_orderkey < 500")
    finally s.conf.unset("spark.graft.vt.delete.mode")
    s.sql(s"""SELECT o_orderpriority, count(*) AS cnt FROM $t
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  /** SQL `UPDATE` statement text over a versioned table (r17,
    * [[graft.sources.VtSqlDml]]): parsed by Spark's parser, the alias-
    * qualified assignments and WHERE render back onto the engine's
    * copy-on-write [[graft.vt.VersionedTable.update]] — one commit, only
    * files holding matching rows rewritten. Runs on a VANILLA session:
    * the translator needs no build-time extensions (the injected-parser
    * route for literal `spark.sql` text is spec-pinned instead). */
  val qVtSqlUpdate: QueryDef = q("q_vt_sql_update")(
    """SELECT o_orderkey AS k,
      |  CASE WHEN o_orderkey BETWEEN 500 AND 1500
      |       THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 2
      |       ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) END AS cents,
      |  CASE WHEN o_orderkey BETWEEN 500 AND 1500
      |       THEN 'bumped' ELSE o_orderpriority END AS prio
      |FROM orders WHERE o_orderkey <= 3000 ORDER BY k""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_sql_update"))
    val o = Tables.orders(s, d).where(col("o_orderkey") <= 3000)
      .select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
        col("o_orderpriority").as("prio"))
    vt.write(o.repartitionByRange(4, col("k")), "main", "v0", statsCols = Seq("k"))
    s.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    graft.sources.VtSqlDml.exec(s,
      s"UPDATE vt.`${vt.root}` AS o SET cents = o.cents * 2, prio = 'bumped' " +
        "WHERE o.k BETWEEN 500 AND 1500")
    vt.read(s, "main").select("k", "cents", "prio").orderBy("k")
  }

  /** SQL `MERGE INTO` statement text (r17, [[graft.sources.VtSqlDml]]):
    * a conditional MATCHED DELETE plus the star actions (`UPDATE SET *` /
    * `INSERT *`, expanded against the commit schema), with the source
    * given as an inline subquery over the raw parquet — the translator
    * hands it to [[graft.vt.VersionedTable.mergeInto]] as a DataFrame.
    * Vanilla session, one commit. */
  val qVtSqlMerge: QueryDef = q("q_vt_sql_merge")(
    """WITH t AS (SELECT o_orderkey AS k,
      |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |           FROM orders WHERE o_orderkey <= 3000),
      |     s AS (SELECT o_orderkey AS k,
      |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 3 AS cents
      |           FROM orders WHERE o_orderkey BETWEEN 2000 AND 4000)
      |SELECT k, cents FROM (
      |  SELECT s.k, s.cents FROM s JOIN t ON t.k = s.k WHERE s.k % 5 <> 0
      |  UNION ALL
      |  SELECT t.k, t.cents FROM t WHERE t.k NOT IN (SELECT k FROM s)
      |  UNION ALL
      |  SELECT s.k, s.cents FROM s WHERE s.k NOT IN (SELECT k FROM t)
      |) ORDER BY k""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_sql_merge"))
    val o = Tables.orders(s, d).where(col("o_orderkey") <= 3000)
      .select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    vt.write(o.repartitionByRange(4, col("k")), "main", "v0", statsCols = Seq("k"))
    s.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    graft.sources.VtSqlDml.exec(s,
      s"""MERGE INTO vt.`${vt.root}` AS t USING (
         |  SELECT o_orderkey AS k,
         |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 3 AS cents
         |  FROM parquet.`$d/orders.parquet`
         |  WHERE o_orderkey BETWEEN 2000 AND 4000) AS s
         |ON t.k = s.k
         |WHEN MATCHED AND s.k % 5 = 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    vt.read(s, "main").select("k", "cents").orderBy("k")
  }

  /** Delta-parity UTILITY SQL (r17, [[graft.sources.VtUtilitySql]]):
    * `RESTORE TABLE … TO VERSION AS OF 0` publishes v0's state as a NEW
    * commit (history intact — the oracle leg reading v1 through SQL time
    * travel proves it), then `VACUUM … RETAIN 3 VERSIONS` leaves every
    * version this query reads intact. Vanilla session via the
    * programmatic door; the injected-parser route is spec-pinned. */
  val qVtSqlRestore: QueryDef = q("q_vt_sql_restore")(
    """SELECT 0 AS leg, n_nationkey FROM nation WHERE n_regionkey < 2
      |UNION ALL
      |SELECT 1 AS leg, n_nationkey FROM nation
      |ORDER BY leg, n_nationkey""".stripMargin) { (s, d) =>
    val vt = writeV0V1(s, d, "vt_sql_restore")
    s.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val t = s"vt.`${vt.root}`"
    graft.sources.VtUtilitySql.exec(s, s"RESTORE TABLE $t TO VERSION AS OF 0").collect()
    graft.sources.VtUtilitySql.exec(s, s"VACUUM $t RETAIN 3 VERSIONS").collect()
    s.sql(s"SELECT 0 AS leg, n_nationkey FROM $t").unionByName(
      s.sql(s"SELECT 1 AS leg, n_nationkey FROM $t VERSION AS OF 1"))
      .orderBy("leg", "n_nationkey")
  }

  /** The lakeFS branch workflow entirely through SQL statements (r17):
    * `CREATE BRANCH`, `INSERT INTO` the branch via `branch@path`
    * addressing, `MERGE BRANCH … INTO main` — then both the pre-merge
    * main (via `VERSION AS OF`) and the merged head read back through the
    * same SQL surface. The oracle is the closed-form v0/v1 split over raw
    * nation. */
  val qVtSqlBranch: QueryDef = q("q_vt_sql_branch")(
    """SELECT 0 AS leg, n_nationkey FROM nation WHERE n_regionkey < 2
      |UNION ALL
      |SELECT 1 AS leg, n_nationkey FROM nation
      |ORDER BY leg, n_nationkey""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_sql_branch"))
    val nation = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
    vt.write(nation.where(col("n_regionkey") < 2), "main", "v0")
    s.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val t = s"vt.`${vt.root}`"
    graft.sources.VtUtilitySql.exec(s, s"CREATE BRANCH side IN $t").collect()
    s.sql(s"""INSERT INTO vt.`side@${vt.root}`
             |SELECT n_nationkey, n_name, n_regionkey
             |FROM parquet.`$d/nation.parquet` WHERE n_regionkey >= 2""".stripMargin)
    graft.sources.VtUtilitySql.exec(s, s"MERGE BRANCH side INTO main IN $t").collect()
    s.sql(s"SELECT 0 AS leg, n_nationkey FROM $t VERSION AS OF 0").unionByName(
      s.sql(s"SELECT 1 AS leg, n_nationkey FROM $t"))
      .orderBy("leg", "n_nationkey")
  }

  /** `OPTIMIZE … FILES 4 ZORDER BY (a, b, c)` as a statement (r17, 3-ary
    * since r18): a layout-only commit — the band read after it returns
    * exactly the raw table's band (the oracle), and the rewrite leaves
    * fresh 3-D stats so a probe on ANY clustered column — including the
    * third — prunes files (VtCatalogSpec pins the skip-read; here the
    * oracle pins rows). */
  val qVtSqlOptimize: QueryDef = q("q_vt_sql_optimize")(
    """SELECT o_orderkey AS k, cents, cust FROM (
      |  SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |         o_custkey AS cust
      |  FROM orders)
      |WHERE o_orderkey BETWEEN 1000 AND 1999 AND cents BETWEEN 500000 AND 20000000
      |  AND cust >= 100
      |ORDER BY k""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_sql_optimize"))
    val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
      col("o_custkey").as("cust"))
    vt.write(o.repartition(8), "main", "v0")
    s.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    graft.sources.VtUtilitySql.exec(s,
      s"OPTIMIZE vt.`${vt.root}` FILES 4 ZORDER BY (k, cents, cust)").collect()
    s.read.format("vt").option("path", vt.root.toString).load()
      .where(col("k").between(1000, 1999) && col("cents").between(500000L, 20000000L)
        && col("cust") >= 100)
      .orderBy("k")
  }

  /** Generalized MERGE INTO (r17, [[graft.vt.VersionedTable.mergeInto]]):
    * the full Delta statement shape in one commit — a conditional WHEN
    * MATCHED DELETE, a conditional WHEN MATCHED UPDATE, a WHEN NOT MATCHED
    * INSERT (unassigned column → typed NULL), and a WHEN NOT MATCHED BY
    * SOURCE DELETE — against a key-range laid-out target so the equi-key
    * stats pruning confines the copy-on-write to files the source range
    * can reach. The oracle replays the same clause algebra relationally
    * (join / anti-join / union) over the raw orders table. */
  val qVtMergeInto: QueryDef = q("q_vt_merge_into")(
    """WITH t AS (SELECT o_orderkey AS k,
      |              CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |              o_orderpriority AS prio
      |           FROM orders WHERE o_orderkey <= 4000),
      |     s AS (SELECT o_orderkey AS k,
      |              CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 2 AS newc
      |           FROM orders WHERE o_orderkey BETWEEN 2000 AND 6000)
      |SELECT k, cents, prio FROM (
      |  SELECT t.k AS k,
      |         CASE WHEN t.prio = '1-URGENT' THEN s.newc ELSE t.cents END AS cents,
      |         t.prio AS prio
      |  FROM t JOIN s ON t.k = s.k
      |  WHERE t.k % 7 <> 0
      |  UNION ALL
      |  SELECT t.k, t.cents, t.prio FROM t
      |  WHERE t.k NOT IN (SELECT k FROM s) AND t.k >= 100
      |  UNION ALL
      |  SELECT s.k, s.newc, CAST(NULL AS VARCHAR) FROM s
      |  WHERE s.k NOT IN (SELECT k FROM t)
      |) ORDER BY k""".stripMargin) { (s, d) =>
    import graft.vt.MergeClause
    val vt = VersionedTable.create(Tables.scratch("vt_merge_into"))
    val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
      col("o_orderpriority").as("prio"))
    vt.write(o.where(col("k") <= 4000).repartitionByRange(4, col("k")), "main", "v0",
      statsCols = Seq("k"))
    val src = o.where(col("k").between(2000, 6000))
      .select(col("k"), (col("cents") * 2).as("newc"))
    vt.mergeInto(s, src, "t.k = s.k",
      matched = Seq(
        MergeClause.delete(Some("t.k % 7 = 0")),
        MergeClause.update(Map("cents" -> "s.newc"), Some("t.prio = '1-URGENT'"))),
      notMatched = Seq(MergeClause.insert(Map("k" -> "s.k", "cents" -> "s.newc"))),
      notMatchedBySource = Seq(MergeClause.delete(Some("t.k < 100"))))
    vt.read(s, "main").select("k", "cents", "prio").orderBy("k")
  }

  /** SF-SCALED MERGE (r17, benched): a CDC-style merge over the WHOLE
    * orders table — 10% of keys update, 10% delete-or-update by a value
    * condition, 10% insert as brand-new keys — so the full cost of the
    * generalized [[graft.vt.VersionedTable.mergeInto]] (detection join,
    * cardinality check, COW rewrite, insert union) is pinned by the
    * 2×/10× gates the way `q_vt_delta_export_scale` pins the export path.
    * Uniformly-spread matched keys touch every file by design: this is
    * the WORST-case merge shape (a key-banded merge rewrites fewer files —
    * VersionedTableSpec pins that), so the gate watches the ceiling. */
  val qVtMergeScale: QueryDef = q("q_vt_merge_scale")(
    """WITH t AS (SELECT o_orderkey AS k,
      |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |             o_orderpriority AS prio
      |           FROM orders),
      |     s AS (SELECT o_orderkey AS k,
      |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 2 AS newc
      |           FROM orders WHERE o_orderkey % 10 = 3
      |           UNION ALL
      |           SELECT -o_orderkey,
      |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
      |           FROM orders WHERE o_orderkey % 10 = 4)
      |SELECT COALESCE(prio, 'zz_inserted') AS prio, count(*) AS cnt,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM (
      |  SELECT t.prio, CASE WHEN s.k IS NULL THEN t.cents ELSE s.newc END AS cents
      |  FROM t LEFT JOIN s ON t.k = s.k
      |  WHERE s.k IS NULL OR s.newc % 97 >= 20
      |  UNION ALL
      |  SELECT CAST(NULL AS VARCHAR), s.newc FROM s WHERE s.k < 0
      |) GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    import graft.vt.MergeClause
    val vt = VersionedTable.create(Tables.scratch("vt_merge_scale"))
    val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
      col("o_orderpriority").as("prio"))
    vt.write(o.repartitionByRange(8, col("k")), "main", "v0", statsCols = Seq("k"))
    val src = o.where(pmod(col("k"), lit(10)) === 3)
      .select(col("k"), (col("cents") * 2).as("newc"))
      .unionByName(o.where(pmod(col("k"), lit(10)) === 4)
        .select(negate(col("k")).as("k"), col("cents").as("newc")))
    vt.mergeInto(s, src, "t.k = s.k",
      matched = Seq(
        MergeClause.delete(Some("s.newc % 97 < 20")),
        MergeClause.update(Map("cents" -> "s.newc"))),
      notMatched = Seq(MergeClause.insert(Map("k" -> "s.k", "cents" -> "s.newc"))))
    vt.read(s, "main")
      .groupBy(coalesce(col("prio"), lit("zz_inserted")).as("prio"))
      .agg(count(lit(1)).as("cnt"), sum("cents").as("sum_cents"))
      .orderBy("prio")
  }

  /** STRING-KEYED MERGE at orders scale (r18, benched): the same
    * generalized merge as [[qVtMergeScale]] but keyed on a STRING id —
    * the doc_id/uuid shape every LLM-corpus merge has. r17 pruned only
    * numeric equi-keys, so this shape scanned every candidate file; r18's
    * strStats pruning confines detection+rewrite to the files whose
    * UTF-8-ordered key range intersects the source's. The update band is
    * a CONTIGUOUS 20% of the keyspace (sf-proportional via max(), so the
    * 10× gate sees 10× work) against a key-range layout — the pruned
    * shape — while the 'zzz-' insert keys sort above every target key and
    * cost the anti-join nothing extra. VersionedTableSpec pins the actual
    * file-skip with a ghost-file merge. */
  val qVtMergeScaleStr: QueryDef = q("q_vt_merge_scale_str")(
    """WITH m AS (SELECT CAST(floor(CAST(max(o_orderkey) AS DOUBLE) * 0.3) AS BIGINT) AS lo,
      |             CAST(floor(CAST(max(o_orderkey) AS DOUBLE) * 0.5) AS BIGINT) AS hi,
      |             CAST(floor(CAST(max(o_orderkey) AS DOUBLE) * 0.05) AS BIGINT) AS ilo,
      |             CAST(floor(CAST(max(o_orderkey) AS DOUBLE) * 0.15) AS BIGINT) AS ihi
      |           FROM orders),
      |     t AS (SELECT 'ord-' || lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS k,
      |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |             o_orderpriority AS prio
      |           FROM orders),
      |     s AS (SELECT 'ord-' || lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS k,
      |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 2 AS newc
      |           FROM orders, m WHERE o_orderkey BETWEEN m.lo AND m.hi
      |           UNION ALL
      |           SELECT 'zzz-' || lpad(CAST(o_orderkey AS VARCHAR), 10, '0'),
      |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
      |           FROM orders, m WHERE o_orderkey BETWEEN m.ilo AND m.ihi)
      |SELECT COALESCE(prio, 'zz_inserted') AS prio, count(*) AS cnt,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM (
      |  SELECT t.prio, CASE WHEN s.k IS NULL THEN t.cents ELSE s.newc END AS cents
      |  FROM t LEFT JOIN s ON t.k = s.k
      |  WHERE s.k IS NULL OR s.newc % 97 >= 20
      |  UNION ALL
      |  SELECT CAST(NULL AS VARCHAR), s.newc FROM s WHERE s.k >= 'zzz-'
      |) GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    import graft.vt.MergeClause
    val vt = VersionedTable.create(Tables.scratch("vt_merge_scale_str"))
    val o0 = Tables.orders(s, d)
    def key(prefix: String) =
      concat(lit(prefix), lpad(col("o_orderkey").cast("string"), 10, "0"))
    val cents = floor(col("o_totalprice") * 100 + 0.5).cast("long")
    vt.write(o0.select(key("ord-").as("k"), cents.as("cents"),
        col("o_orderpriority").as("prio"))
      .repartitionByRange(8, col("k")), "main", "v0", statsCols = Seq("k"))
    // band literals from the UNFILTERED table's parquet footers (r22, guide
    // §1.2/§6): exact max, zero Spark jobs; unprovable footers fall back to
    // the scan this site always ran
    val mx = MLlite.footerMaxLong(o0, "o_orderkey").getOrElse(
      o0.agg(max(col("o_orderkey")).cast("long").as("m")).head().getLong(0))
    def b(f: Double) = math.floor(mx * f).toLong
    val src = o0.where(col("o_orderkey").between(b(0.3), b(0.5)))
      .select(key("ord-").as("k"), (cents * 2).as("newc"))
      .unionByName(o0.where(col("o_orderkey").between(b(0.05), b(0.15)))
        .select(key("zzz-").as("k"), cents.as("newc")))
    vt.mergeInto(s, src, "t.k = s.k",
      matched = Seq(
        MergeClause.delete(Some("s.newc % 97 < 20")),
        MergeClause.update(Map("cents" -> "s.newc"))),
      notMatched = Seq(MergeClause.insert(Map("k" -> "s.k", "cents" -> "s.newc"))))
    vt.read(s, "main")
      .groupBy(coalesce(col("prio"), lit("zz_inserted")).as("prio"))
      .agg(count(lit(1)).as("cnt"), sum("cents").as("sum_cents"))
      .orderBy("prio")
  }

  /** `MERGE WITH SCHEMA EVOLUTION` (r18, Delta parity): the source carries
    * a column the target lacks (`n_regionkey`) — the merge WIDENS the
    * schema (nullable append), `UPDATE SET *` fills it on matched rows,
    * `INSERT *` on new rows, and KEPT rows (plus every untouched file)
    * read it back as null. Runs through the real SQL statement
    * ([[graft.sources.VtSqlDml]] routes `withSchemaEvolution` into the
    * engine op); VersionedTableSpec pins time travel across the widening. */
  val qVtMergeEvolve: QueryDef = q("q_vt_merge_evolve")(
    """SELECT n_nationkey, n_name,
      |       CASE WHEN n_regionkey = 0 THEN NULL ELSE n_regionkey END AS n_regionkey
      |FROM nation ORDER BY n_nationkey""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_merge_evolve"))
    val nation = Tables.nation(s, d)
    vt.write(nation.where(col("n_regionkey") < 2).select("n_nationkey", "n_name"),
      "main", "v0")
    s.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    nation.where(col("n_regionkey") >= 1)
      .select("n_nationkey", "n_name", "n_regionkey")
      .createOrReplaceTempView("evolve_src")
    graft.sources.VtSqlDml.exec(s,
      s"""MERGE WITH SCHEMA EVOLUTION INTO vt.`${vt.root}` t
         |USING evolve_src s
         |ON t.n_nationkey = s.n_nationkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    vt.read(s, "main").orderBy("n_nationkey")
  }

  /** FILTERED MERGE-ON-READ at orders scale (r17, benched): the fallback
    * relation's cost pinned by the gates. v0 is a key-range layout with
    * per-file o_orderkey stats; a 30% MOR delete attaches deletion
    * vectors (no rewrite), making every `format("vt")` read take
    * [[graft.sources.ReplayRelation]] — which, as a PrunedFilteredScan,
    * prunes the commit's files from the pushed BETWEEN before any scan
    * and runs the predicate below the DV anti-join. At 10× rows the
    * band-read leg should cost ~the same (it touches the same files);
    * without the r17 pushdown it would scan the whole snapshot. Output =
    * the band aggregated by priority; the oracle applies the same delete
    * predicate and band directly. */
  val qVtMorFilter: QueryDef = q("q_vt_mor_filter")(
    """SELECT o_orderpriority, count(*) AS cnt,
      |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM orders WHERE o_orderkey % 10 >= 3 AND o_orderkey BETWEEN 100 AND 4999
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_mor_filter"))
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    vt.write(orders.repartitionByRange(8, col("o_orderkey")), "main", "v0",
      statsCols = Seq("o_orderkey"))
    vt.deleteWithVectors(s, "o_orderkey % 10 < 3", "main")
    s.read.format("vt").option("path", vt.root.toString).load()
      .where(col("o_orderkey").between(100, 4999))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"), sum("cents").as("sum_cents"))
      .orderBy("o_orderpriority")
  }

  /** FILTERED MERGE-ON-READ through the SQL CATALOG (r18, benched): the
    * same DV-carrying table shape as [[qVtMorFilter]], read through
    * `spark.sql` — i.e. the NATIVE DSv2 batch ([[graft.sources.VtMorScan]]):
    * stats windows prune the commit's files before planning, Spark's own
    * vectorized parquet readers generate the file-absolute row index, and
    * the deletion vector is subtracted per row in the reader factory (no
    * anti-join, no `RDD[Row]`). Keeps verdict-r17 item 5's "stays within
    * its bench envelope" claim measurable next to the DSv1 twin. */
  val qVtMorSql: QueryDef = q("q_vt_mor_sql")(
    """WITH m AS (SELECT CAST(floor(CAST(max(o_orderkey) AS DOUBLE) * 0.2) AS BIGINT) AS lo,
      |             CAST(floor(CAST(max(o_orderkey) AS DOUBLE) * 0.6) AS BIGINT) AS hi
      |           FROM orders)
      |SELECT o_orderpriority, count(*) AS cnt,
      |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM orders, m WHERE o_orderkey % 10 >= 3 AND o_orderkey BETWEEN m.lo AND m.hi
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_mor_sql"))
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    vt.write(orders.repartitionByRange(8, col("o_orderkey")), "main", "v0",
      statsCols = Seq("o_orderkey"))
    vt.deleteWithVectors(s, "o_orderkey % 10 < 3", "main")
    // sf-proportional band (like q_vt_merge_scale_str): 40% of the keyspace,
    // embedded as literals so the stats windows prune files pre-planning
    // exact max from the unfiltered projection's footers (r22): zero jobs,
    // scan fallback on any unprovable footer
    val mx = MLlite.footerMaxLong(orders, "o_orderkey").getOrElse(
      orders.agg(max(col("o_orderkey")).cast("long").as("m")).head().getLong(0))
    def b(f: Double) = math.floor(mx * f).toLong
    s.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    s.sql(
      s"""SELECT o_orderpriority, count(*) AS cnt, CAST(sum(cents) AS BIGINT) AS sum_cents
         |FROM vt.`${vt.root}` WHERE o_orderkey BETWEEN ${b(0.2)} AND ${b(0.6)}
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  /** RENAMED name-mode Delta table through the NATIVE scan path (r17):
    * delta-spark's name-mode files carry parquet field ids, so
    * [[graft.sources.DeltaLite]] binds physical columns to logical names
    * by id inside Spark's own vectorized reader instead of falling back
    * to the delegating relation — with the exported stats still pruning
    * under the BETWEEN (DeltaLiteSpec pins the FileSourceScanExec class
    * and the scanned-file count; this row pins losslessness). */
  val qVtDeltaCmapNative: QueryDef = q("q_vt_delta_cmap_native")(
    """SELECT n_nationkey, n_name FROM nation
      |WHERE n_nationkey BETWEEN 10 AND 20 ORDER BY n_nationkey""".stripMargin) { (s, d) =>
    import graft.vt.{DeltaLogFixture => F}
    val root = java.nio.file.Paths.get(Tables.scratch("vt_delta_cmap_native"))
    java.nio.file.Files.createDirectories(root)
    val nation = Tables.nation(s, d).select("n_nationkey", "n_name")
    val phys = Map("n_nationkey" -> "col-n1", "n_name" -> "col-n2")
    val ids = Map("n_nationkey" -> 1L, "n_name" -> 2L)
    def slice(cond: org.apache.spark.sql.Column, lo: Long, hi: Long, name: String) = {
      val (f, sz) = F.writeDataFile(root,
        F.physicalWithIds(nation.where(cond), phys, ids), name)
      F.addLine(f, sz, stats = Some(
        s"""{"minValues":{"col-n1":$lo},"maxValues":{"col-n1":$hi}}"""))
    }
    F.writeCommit(root, 0, Seq(F.protocolLine(minReader = 2, minWriter = 5),
      F.metaDataLine(F.columnMappedSchema(nation.schema, phys, ids).json, Nil,
        Map("delta.columnMapping.mode" -> "name",
          "delta.columnMapping.maxColumnId" -> "2")),
      slice(col("n_nationkey") < 10, 0L, 9L, "part-a"),
      slice(col("n_nationkey") >= 10, 10L, 24L, "part-b")))
    s.read.format("delta-lite").option("path", root.toString).load()
      .where(col("n_nationkey").between(10, 20))
      .select("n_nationkey", "n_name").orderBy("n_nationkey")
  }

  /** Metadata-only MIN/MAX (r17): the commit log's per-file stats answer
    * `SELECT min(col), max(col)` with ZERO file reads — not even footers
    * (Spark's parquet aggregate pushdown still pays one footer GET per
    * file; at 10⁶ files the driver-side fold is the only sane shape for
    * "how fresh is this table?"). The `meta` leg is the pure-metadata
    * answer ([[graft.vt.VersionedTable.minMaxFromStats]], string twin
    * included); the `mor` leg pins the REFUSAL contract — after a
    * merge-on-read delete the metadata answer is no longer provable
    * (the extreme row may be gone), so the API answers None and the
    * caller falls back to the (pruned, filter-pushed) scan.
    * VersionedTableSpec pins zero-I/O via a ghost-file commit. */
  val qVtMinmaxMeta: QueryDef = q("q_vt_minmax_meta")(
    """SELECT 'meta' AS part,
      |       CAST(min(o_orderkey) AS DOUBLE) AS mn, CAST(max(o_orderkey) AS DOUBLE) AS mx,
      |       min(o_orderpriority) AS smn, max(o_orderpriority) AS smx
      |FROM orders
      |UNION ALL
      |SELECT 'mor' AS part,
      |       CAST(min(o_orderkey) AS DOUBLE), CAST(max(o_orderkey) AS DOUBLE),
      |       min(o_orderpriority), max(o_orderpriority)
      |FROM orders WHERE o_orderkey % 10 >= 3
      |ORDER BY part""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_minmax_meta"))
    val orders = Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
    vt.write(orders.repartitionByRange(4, col("o_orderkey")), "main", "v0",
      statsCols = Seq("o_orderkey", "o_orderpriority"))
    val (mn, mx) = vt.minMaxFromStats("main", "o_orderkey")
      .getOrElse(sys.error("metadata min/max must be provable on a clean snapshot"))
    val (smn, smx) = vt.minMaxStringFromStats(vt.head("main").get, "o_orderpriority")
      .getOrElse(sys.error("string metadata min/max must be provable too"))
    val meta = s.range(1).select(lit("meta").as("part"),
      lit(mn).as("mn"), lit(mx).as("mx"), lit(smn).as("smn"), lit(smx).as("smx"))
    vt.deleteWithVectors(s, "o_orderkey % 10 < 3", "main")
    require(vt.minMaxFromStats("main", "o_orderkey").isEmpty,
      "a DV-carrying snapshot must refuse the metadata answer")
    val fallback = vt.read(s, "main").agg(
      min(col("o_orderkey")).cast("double").as("mn"),
      max(col("o_orderkey")).cast("double").as("mx"),
      min(col("o_orderpriority")).as("smn"), max(col("o_orderpriority")).as("smx"))
      .select(lit("mor").as("part"), col("mn"), col("mx"), col("smn"), col("smx"))
    meta.unionByName(fallback).orderBy("part")
  }

  /** Per-file BLOOM FILTER INDEX (r18, Delta's bloom filter index): the
    * table is keyed by a scattered high-cardinality STRING id — every file
    * holds keys from the whole alphabet, so min/max string windows prune
    * NOTHING — and written with `bloomCols`. Point lookups (the IN list)
    * then skip files whose bloom provably misses every probed key. The
    * bench times build + lookup (the O(n) index build dominates and must
    * stay sub-linear under the 10× gate); the lookup-side skip itself is
    * pinned by VtDataSourceSpec's ghost-file/numFiles evidence. The
    * oracle filters the raw table directly; PropertySpec pins zero false
    * negatives. */
  val qVtBloomSkip: QueryDef = q("q_vt_bloom_skip")(
    """SELECT k, cents FROM (
      |  SELECT 'k-' || lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS k,
      |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders)
      |WHERE k IN ('k-0000000007', 'k-0000000042', 'k-0000000099',
      |            'k-0000000123', 'k-0000000777', 'k-nosuchkey00')
      |ORDER BY k""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_bloom_skip"))
    val o = Tables.orders(s, d).select(
      concat(lit("k-"), lpad(col("o_orderkey").cast("string"), 10, "0")).as("k"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    vt.write(o.repartition(8), "main", "v0", bloomCols = Seq("k"))
    val keys = Seq(7L, 42L, 99L, 123L, 777L).map(i => f"k-$i%010d") :+ "k-nosuchkey00"
    s.read.format("vt").option("path", vt.root.toString).load()
      .where(col("k").isin(keys: _*)).orderBy("k")
  }

  /** Metadata-only aggregates through SQL (r18,
    * [[graft.sources.VtMetaScanBuilder]]): `SELECT count(*), count(col),
    * min(col), max(col)` on a vt-catalog table short-circuits to the
    * commit log's row counts / null counts / min-max stats via DSv2
    * aggregate pushdown — the plan is a LOCAL one-row relation, zero file
    * reads, not even footers (VtCatalogSpec proves it by ghosting every
    * data file). The oracle computes the same aggregates over raw orders. */
  val qVtSqlCountMeta: QueryDef = q("q_vt_sql_count_meta")(
    """SELECT 'clean' AS part, count(*) AS c, count(o_orderpriority) AS cp,
      |       min(o_orderkey) AS mn, max(o_orderkey) AS mx,
      |       min(o_orderpriority) AS pmn, max(o_orderpriority) AS pmx
      |FROM orders
      |UNION ALL
      |SELECT 'mor' AS part, count(*), count(o_orderpriority),
      |       min(o_orderkey), max(o_orderkey),
      |       min(o_orderpriority), max(o_orderpriority)
      |FROM orders WHERE o_orderkey % 10 >= 3
      |ORDER BY part""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_sql_count_meta"))
    vt.write(Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
      .repartition(4), "main", "v0", statsCols = Seq("o_orderkey", "o_orderpriority"))
    s.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val clean = s.sql(
      s"""SELECT 'clean' AS part, count(*) AS c, count(o_orderpriority) AS cp,
         |       min(o_orderkey) AS mn, max(o_orderkey) AS mx,
         |       min(o_orderpriority) AS pmn, max(o_orderpriority) AS pmx
         |FROM vt.`${vt.root}`""".stripMargin)
    // r19 MOR leg: after a merge-on-read delete, `SELECT count(*)` still
    // answers from metadata alone (Σ rowCounts − Σ descriptor
    // cardinalities, [[graft.sources.VtMorScanBuilder]]);
    // value-dependent aggregates fall back to the (pruned, DV-subtracted)
    // scan — VtCatalogSpec ghost-proves the zero-data-file-read claim
    vt.deleteWithVectors(s, "o_orderkey % 10 < 3", "main")
    val morCount = s.sql(s"SELECT count(*) AS c FROM vt.`${vt.root}`")
    val morRest = s.sql(
      s"""SELECT count(o_orderpriority) AS cp,
         |       min(o_orderkey) AS mn, max(o_orderkey) AS mx,
         |       min(o_orderpriority) AS pmn, max(o_orderpriority) AS pmx
         |FROM vt.`${vt.root}`""".stripMargin)
    val mor = morCount.crossJoin(morRest).select(lit("mor").as("part"),
      col("c"), col("cp"), col("mn"), col("mx"), col("pmn"), col("pmx"))
    clean.unionByName(mor).orderBy("part")
  }

  /** LONG-keyed bloom lookup (r19): the same scattered point-lookup shape
    * as [[qVtBloomSkip]] but on an INTEGRAL id — hash-partitioned files
    * each span the whole key range, so min/max windows prune nothing and
    * only the cast-to-long bloom image can skip. Bands scale with
    * `max(o_orderkey)`; the ghost/numFiles skip evidence lives in
    * VtDataSourceSpec, the zero-false-negative property in PropertySpec. */
  val qVtBloomLong: QueryDef = q("q_vt_bloom_long")(
    """SELECT o_orderkey AS id, o_orderpriority AS pri FROM orders
      |WHERE o_orderkey IN (
      |  SELECT o_orderkey FROM orders
      |  WHERE o_orderkey % 1009 = 7
      |    AND o_orderkey <= (SELECT floor(max(o_orderkey) * 0.2) FROM orders))
      |ORDER BY id""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_bloom_long"))
    val orders = Tables.orders(s, d).select(
      col("o_orderkey").as("id"), col("o_orderpriority").as("pri"))
    vt.write(orders.repartition(8), "main", "v0", bloomCols = Seq("id"))
    // the projection renames o_orderkey → id, so footers are probed on the
    // BASE frame's physical column (r22): exact max, zero jobs
    val maxK = MLlite.footerMaxLong(Tables.orders(s, d), "o_orderkey").getOrElse(
      orders.agg(max(col("id"))).head().getLong(0))
    val keys = (0L to maxK).filter(k => k % 1009 == 7 && k <= maxK / 5)
    s.read.format("vt").option("path", vt.root.toString).load()
      .where(col("id").isin(keys: _*))
      .select(col("id"), col("pri")).orderBy("id")
  }

  /** `OPTIMIZE … WHERE` end-to-end (r19): selective compaction of only
    * the files whose stats windows intersect the predicate — rows are
    * INVARIANT (layout-only), which is exactly what the oracle checks;
    * identity/CDC-silence of untouched files is pinned by VtCatalogSpec
    * and the PropertySpec random-predicate property. The sf-proportional
    * band comes from `max(o_orderkey)`. */
  val qVtOptimizeWhere: QueryDef = q("q_vt_optimize_where")(
    """SELECT o_orderpriority AS pri, count(*) AS n,
      |       CAST(sum(o_orderkey) AS BIGINT) AS keysum
      |FROM orders GROUP BY o_orderpriority ORDER BY pri""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_optimize_where"))
    val orders = Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
    vt.write(orders.repartitionByRange(8, col("o_orderkey")), "main", "v0",
      statsCols = Seq("o_orderkey"))
    // exact max from footers (r22): zero jobs, scan fallback if unprovable
    val maxK = MLlite.footerMaxLong(orders, "o_orderkey").getOrElse(
      orders.agg(max(col("o_orderkey"))).head().getLong(0))
    val band = maxK - maxK / 4 // compact the hottest (newest-keys) quarter
    s.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    graft.sources.VtUtilitySql.exec(s,
      s"OPTIMIZE vt.`${vt.root}` WHERE o_orderkey >= $band").collect()
    s.sql(
      s"""SELECT o_orderpriority AS pri, count(*) AS n,
         |       CAST(sum(o_orderkey) AS BIGINT) AS keysum
         |FROM vt.`${vt.root}` GROUP BY o_orderpriority ORDER BY pri""".stripMargin)
  }

  /** Runtime (join-driven) file skipping on a FOREIGN Delta table through
    * the r19 DSv2 catalog ([[graft.sources.DeltaLiteCatalog]]): the fact
    * side is an EXPORTED table (a stock `_delta_log` with per-file stats),
    * range-laid-out on the join key; the broadcast dim's key values
    * re-prune its file list at execution time against the add-action
    * stats ([[graft.sources.VtDfScan]]'s `SupportsRuntimeV2Filtering`, the
    * scan native commits take too)
    * — Delta's dynamic file pruning, DSv1 could only do this for
    * directory partitions. DeltaLiteSpec ghost-proves the skip; the bench
    * carries the end-to-end cost (export + star join). Bands derive from
    * `max(o_orderkey)`, so the shape is sf-proportional. */
  val qDliteRuntimeSkip: QueryDef = q("q_dlite_runtime_skip")(
    """SELECT count(*) AS n, CAST(sum(o.o_orderkey) AS BIGINT) AS keysum
      |FROM orders o
      |JOIN (SELECT o_orderkey AS dk FROM orders
      |      WHERE o_orderkey % 97 = 1
      |        AND o_orderkey <= (SELECT floor(max(o_orderkey) * 0.1) FROM orders)) d
      |  ON o.o_orderkey = d.dk""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("dlite_rt_fact"))
    val orders = Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
    vt.write(orders.repartitionByRange(8, col("o_orderkey")), "main", "fact",
      statsCols = Seq("o_orderkey"))
    vt.exportDeltaLog("main")
    // exact max from footers (r22): zero jobs, scan fallback if unprovable
    val maxK = MLlite.footerMaxLong(orders, "o_orderkey").getOrElse(
      orders.agg(max(col("o_orderkey"))).head().getLong(0))
    val band = math.floor(maxK * 0.1).toLong
    // dim must be parquet-backed: Spark's dynamic-pruning rule skips a
    // build side constant-folded into a LocalRelation
    val dimPath = Tables.scratch("dlite_rt_dim")
    orders.where(col("o_orderkey") % 97 === 1 && col("o_orderkey") <= band)
      .select(col("o_orderkey").as("dk"))
      .write.mode("overwrite").parquet(dimPath)
    // schema is statically known (the frame written two lines up): passing
    // it skips the read-back's schema-inference job (r22, guide §1)
    s.read.schema("dk BIGINT").parquet(dimPath)
      .createOrReplaceTempView("dlite_rt_dim")
    s.conf.set("spark.sql.catalog.dlite",
      classOf[graft.sources.DeltaLiteCatalog].getName)
    s.sql(
      s"""SELECT count(*) AS n, CAST(sum(o.o_orderkey) AS BIGINT) AS keysum
         |FROM dlite.`${vt.root}` o JOIN dlite_rt_dim d ON o.o_orderkey = d.dk""".stripMargin)
  }

  /** SQL `CREATE TABLE … AS SELECT` through the DSv2 catalog (r19,
    * [[graft.sources.VtCatalog.createTable]]): the most common SQL entry
    * path to a new table. CREATE publishes an empty schema-pinning v0,
    * the SELECT's rows land as v1 through the ordinary append write, and
    * the result is a fully versioned table (time travel to the empty v0
    * included). Failed CTAS cleanup (no committed table left behind) is
    * pinned by VtCatalogSpec. The oracle runs the same SELECT + aggregate
    * directly over orders. */
  val qVtCtas: QueryDef = q("q_vt_ctas")(
    """SELECT o_orderpriority AS pri, count(*) AS n,
      |       CAST(sum(o_orderkey) AS BIGINT) AS keysum
      |FROM orders WHERE o_orderkey % 4 = 1
      |GROUP BY o_orderpriority ORDER BY pri""".stripMargin) { (s, d) =>
    val root = Tables.scratch("vt_ctas")
    s.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    Tables.orders(s, d).createOrReplaceTempView("ctas_orders_src")
    s.sql(
      s"""CREATE TABLE vt.`$root` AS
         |SELECT o_orderkey, o_orderpriority FROM ctas_orders_src
         |WHERE o_orderkey % 4 = 1""".stripMargin).collect()
    s.sql(
      s"""SELECT o_orderpriority AS pri, count(*) AS n,
         |       CAST(sum(o_orderkey) AS BIGINT) AS keysum
         |FROM vt.`$root` GROUP BY o_orderpriority ORDER BY pri""".stripMargin)
  }

  /** SQL `ALTER TABLE … ADD COLUMNS` (r19b,
    * [[graft.vt.VersionedTable.addColumns]]): a METADATA-ONLY
    * schema-evolution commit — the snapshot's files, stats, DVs and bloom
    * index carry byte-for-byte, pre-evolution rows read NULL for the new
    * column, and a later INSERT fills it. The oracle reproduces exactly
    * that null split over orders. */
  val qVtAddColumn: QueryDef = q("q_vt_add_column")(
    """SELECT o_orderkey, CAST(NULL AS VARCHAR) AS note FROM orders
      |WHERE o_orderkey % 8 = 1
      |UNION ALL
      |SELECT o_orderkey, 'late-' || CAST(o_orderkey AS VARCHAR) AS note
      |FROM orders WHERE o_orderkey % 8 = 2
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val root = Tables.scratch("vt_add_column")
    s.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val vt = VersionedTable.create(root)
    val orders = Tables.orders(s, d)
    vt.write(orders.where(pmod(col("o_orderkey"), lit(8)) === 1)
      .select("o_orderkey"), "main", "v0")
    s.sql(s"ALTER TABLE vt.`$root` ADD COLUMNS (note STRING)").collect()
    orders.where(pmod(col("o_orderkey"), lit(8)) === 2)
      .select(col("o_orderkey"),
        concat(lit("late-"), col("o_orderkey").cast("string")).as("note"))
      .createOrReplaceTempView("add_col_late")
    s.sql(s"INSERT INTO vt.`$root` SELECT o_orderkey, note FROM add_col_late")
    s.sql(s"SELECT o_orderkey, note FROM vt.`$root` ORDER BY o_orderkey")
  }

  /** SQL `ALTER TABLE … RENAME COLUMN` (r20,
    * [[graft.vt.VersionedTable.renameColumn]]): a METADATA-ONLY commit via
    * name-mode column mapping — ZERO files rewritten; the field keeps its
    * physical parquet name in StructField metadata, reads re-alias
    * positionally, the logical-keyed stats re-key in the same commit, and
    * the catalog serves the mapped snapshot through the V1 fallback scan.
    * The INSERT after the rename proves writes keep landing under the
    * stable physical name. The oracle unions both bands over orders. */
  val qVtRenameColumn: QueryDef = q("q_vt_rename_column")(
    """SELECT o_orderpriority AS pri, count(*) AS n,
      |       CAST(sum(o_orderkey) AS BIGINT) AS keysum
      |FROM orders WHERE o_orderkey % 8 = 3 OR o_orderkey % 8 = 4
      |GROUP BY o_orderpriority ORDER BY pri""".stripMargin) { (s, d) =>
    val root = Tables.scratch("vt_rename_column")
    s.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val vt = VersionedTable.create(root)
    val orders = Tables.orders(s, d)
    vt.write(orders.where(pmod(col("o_orderkey"), lit(8)) === 3)
      .select("o_orderkey", "o_orderpriority"), "main", "v0",
      statsCols = Seq("o_orderkey"))
    s.sql(s"ALTER TABLE vt.`$root` RENAME COLUMN o_orderkey TO doc_key").collect()
    orders.where(pmod(col("o_orderkey"), lit(8)) === 4)
      .select(col("o_orderkey").as("doc_key"), col("o_orderpriority"))
      .createOrReplaceTempView("rename_late")
    s.sql(s"INSERT INTO vt.`$root` SELECT doc_key, o_orderpriority FROM rename_late")
    s.sql(
      s"""SELECT o_orderpriority AS pri, count(*) AS n,
         |       CAST(sum(doc_key) AS BIGINT) AS keysum
         |FROM vt.`$root` GROUP BY o_orderpriority ORDER BY pri""".stripMargin)
  }

  /** SQL `ALTER TABLE … DROP COLUMN` (r20,
    * [[graft.vt.VersionedTable.dropColumn]]): metadata-only — old files
    * keep the bytes but explicit-schema reads never request them, and a
    * RE-ADDED column of the same name gets a FRESH physical name, so the
    * dropped values are unreachable by construction: the oracle pins
    * exactly that all-NULL read-back. */
  val qVtDropColumn: QueryDef = q("q_vt_drop_column")(
    """SELECT o_orderkey, CAST(NULL AS DOUBLE) AS o_totalprice FROM orders
      |WHERE o_orderkey % 8 = 5 ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val root = Tables.scratch("vt_drop_column")
    s.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val vt = VersionedTable.create(root)
    vt.write(Tables.orders(s, d).where(pmod(col("o_orderkey"), lit(8)) === 5)
      .select("o_orderkey", "o_totalprice"), "main", "v0")
    s.sql(s"ALTER TABLE vt.`$root` DROP COLUMN o_totalprice").collect()
    s.sql(s"ALTER TABLE vt.`$root` ADD COLUMNS (o_totalprice DOUBLE)").collect()
    s.sql(s"SELECT o_orderkey, o_totalprice FROM vt.`$root` ORDER BY o_orderkey")
  }

  /** Foreign-Delta APPEND (r20, [[graft.vt.DeltaForeignWriter]]): the last
    * interop direction — writing onto a PRE-EXISTING stock `_delta_log`
    * table the way the reference jobs write through delta-spark
    * (`jobs/vdt4.py:39-45`). The append claims the next log version with an
    * atomic create (the LogStore rule), carries real sizes + `numRecords`
    * stats on its adds, and is read back through the engine's own
    * stock-Delta reader. The oracle unions both bands over orders. */
  val qVtDeltaAppend: QueryDef = q("q_vt_delta_append")(
    """SELECT o_orderpriority AS pri, count(*) AS n,
      |       CAST(sum(o_orderkey) AS BIGINT) AS keysum
      |FROM orders WHERE o_orderkey % 8 = 6 OR o_orderkey % 8 = 7
      |GROUP BY o_orderpriority ORDER BY pri""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_delta_append"))
    val orders = Tables.orders(s, d)
    vt.write(orders.where(pmod(col("o_orderkey"), lit(8)) === 6)
      .select("o_orderkey", "o_orderpriority"), "main", "v0")
    vt.exportDeltaLog("main")
    graft.vt.DeltaForeignWriter.append(s, vt.root.toString,
      orders.where(pmod(col("o_orderkey"), lit(8)) === 7)
        .select("o_orderkey", "o_orderpriority"))
    s.read.format("delta-lite").option("path", vt.root.toString).load()
      .groupBy(col("o_orderpriority").as("pri"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).cast("long").as("keysum"))
      .orderBy("pri")
  }

  /** SQL CHECK constraints end-to-end (r19c, Spark 4's native constraint
    * grammar + [[graft.vt.VersionedTable.addCheckConstraint]]): `ALTER
    * TABLE … ADD CONSTRAINT` validates the EXISTING rows then lands as a
    * metadata-only commit in [[graft.vt.Commit.props]]; the following
    * `INSERT INTO` is enforced INSIDE its write job (fused
    * `coalesce(p,true) OR raise_error` filter — no second scan of the
    * batch); `DROP CONSTRAINT` lifts it for the final insert. The oracle
    * replays the three bands' union — the constraint machinery must be
    * invisible to compliant data. Violation refusal is pinned by
    * ConstraintSpec (a refused batch is not SQL-expressible). */
  val qVtConstraint: QueryDef = q("q_vt_constraint")(
    """SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price,
      |       o_orderpriority AS pri
      |FROM orders WHERE o_orderkey % 16 IN (3, 5, 9)
      |ORDER BY k""".stripMargin) { (s, d) =>
    val root = Tables.scratch("vt_constraint")
    s.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val vt = VersionedTable.create(root)
    val orders = Tables.orders(s, d).select(col("o_orderkey"),
      col("o_totalprice").cast("double").as("price"), col("o_orderpriority").as("pri"))
    def band(m: Int) = orders.where(pmod(col("o_orderkey"), lit(16)) === m)
    vt.write(band(3), "main", "v0")
    s.sql(s"ALTER TABLE vt.`$root` ADD CONSTRAINT price_pos CHECK (price > 0)").collect()
    band(5).createOrReplaceTempView("ck_band5")
    s.sql(s"INSERT INTO vt.`$root` SELECT * FROM ck_band5") // enforced in-job
    s.sql(s"ALTER TABLE vt.`$root` DROP CONSTRAINT price_pos").collect()
    band(9).createOrReplaceTempView("ck_band9")
    s.sql(s"INSERT INTO vt.`$root` SELECT * FROM ck_band9")
    s.sql(s"SELECT o_orderkey AS k, price, pri FROM vt.`$root` ORDER BY k")
  }

  /** Delta's `table_changes` CDF surface (r19c,
    * [[graft.vt.VersionedTable.tableChanges]] + the SQL-text analyzer rule
    * [[graft.plans.TableChangesRule]]): per-commit row deltas over an
    * INCLUSIVE version interval with Delta's metadata columns. The oracle
    * replays inserts as the appended bands and the COW delete as the
    * predicate's rows — the file-granular diff must emit exactly the
    * row-level delta, never the rewritten files' surviving rows.
    * `_commit_timestamp` is wall-clock and so excluded from the compared
    * projection (its presence/type is pinned by PlanRulesSpec). */
  val qVtTableChanges: QueryDef = q("q_vt_table_changes")(
    """SELECT k, _change_type, _commit_version FROM (
      |  SELECT o_orderkey AS k, 'insert' AS _change_type,
      |         CAST(1 AS BIGINT) AS _commit_version
      |  FROM orders WHERE o_orderkey % 3 = 1
      |  UNION ALL
      |  SELECT o_orderkey, 'insert', CAST(2 AS BIGINT) FROM orders
      |  WHERE o_orderkey % 3 = 2
      |  UNION ALL
      |  SELECT o_orderkey, 'delete', CAST(3 AS BIGINT) FROM orders
      |  WHERE o_orderkey % 3 = 1 AND o_orderkey % 2 = 0
      |) ORDER BY _commit_version, k""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_table_changes"))
    val orders = Tables.orders(s, d).select(col("o_orderkey"))
    val m3 = pmod(col("o_orderkey"), lit(3))
    vt.write(orders.where(m3 === 0), "main", "v0")
    vt.write(orders.where(m3 === 1), "main", "v1", mode = "append")
    vt.write(orders.where(m3 === 2), "main", "v2", mode = "append")
    vt.delete(s, "o_orderkey % 3 = 1 AND o_orderkey % 2 = 0", "main", "v3 delete")
    vt.tableChanges(s, "main", 1, 3)
      .select(col("o_orderkey").as("k"), col("_change_type"), col("_commit_version"))
      .orderBy("_commit_version", "k")
  }

  /** `CREATE TABLE … SHALLOW CLONE …` (r19c,
    * [[graft.vt.VersionedTable.shallowCloneFrom]]): a ZERO-COPY table —
    * the clone's v0 references the source snapshot's files by absolute
    * path (one commit record; rowCounts/fileSizes/stats seeded from the
    * source log, no footers read) and diverges copy-on-write. The oracle
    * replays both sides after divergence: the source must not see the
    * clone's append, and the clone must hold exactly snapshot + append.
    * Zero-copy itself (no data files under the clone; external absolute
    * refs; clone-vacuum safety) is pinned by CloneSpec. */
  val qVtClone: QueryDef = q("q_vt_clone")(
    """SELECT side, o_orderkey AS k FROM (
      |  SELECT 'src' AS side, o_orderkey FROM orders WHERE o_orderkey % 4 = 1
      |  UNION ALL
      |  SELECT 'clone', o_orderkey FROM orders WHERE o_orderkey % 4 IN (1, 2)
      |) ORDER BY side, k""".stripMargin) { (s, d) =>
    val srcRoot = Tables.scratch("vt_clone_src")
    val dstRoot = Tables.scratch("vt_clone_dst")
    s.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val src = VersionedTable.create(srcRoot)
    val orders = Tables.orders(s, d).select(col("o_orderkey"))
    val m4 = pmod(col("o_orderkey"), lit(4))
    src.write(orders.where(m4 === 1), "main", "v0")
    graft.sources.VtUtilitySql.exec(s,
      s"CREATE TABLE vt.`$dstRoot` SHALLOW CLONE vt.`$srcRoot`").collect()
    val dst = VersionedTable.open(dstRoot)
    dst.write(orders.where(m4 === 2), "main", "clone diverges", mode = "append")
    src.read(s, "main").select(lit("src").as("side"), col("o_orderkey").as("k"))
      .unionByName(dst.read(s, "main")
        .select(lit("clone").as("side"), col("o_orderkey").as("k")))
      .orderBy("side", "k")
  }

  /** SHALLOW CLONE of a FOREIGN DELTA table (r19c,
    * [[graft.vt.VersionedTable.shallowCloneFromDelta]]): a stock Delta
    * table imports as a zero-copy versioned table — the clone's v0
    * references the Delta snapshot's parquet by absolute path, with
    * numeric stats / row counts converted straight from the add actions
    * (pure log replay, no file I/O). The oracle checks the imported rows
    * plus a diverging native append; zero-copy itself and the
    * partitioned/DV/column-mapped refusals are pinned by CloneSpec. */
  val qVtCloneDelta: QueryDef = q("q_vt_clone_delta")(
    """SELECT o_orderkey AS k FROM orders
      |WHERE o_orderkey % 4 IN (0, 3) ORDER BY k""".stripMargin) { (s, d) =>
    val srcRoot = Tables.scratch("vt_clone_delta_src")
    val dstRoot = Tables.scratch("vt_clone_delta_dst")
    s.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    s.conf.set("spark.sql.catalog.dlite",
      classOf[graft.sources.DeltaLiteCatalog].getName)
    val src = VersionedTable.create(srcRoot)
    val orders = Tables.orders(s, d).select(col("o_orderkey"))
    val m4 = pmod(col("o_orderkey"), lit(4))
    src.write(orders.where(m4 === 3), "main", "v0", statsCols = Seq("o_orderkey"))
    src.exportDeltaLog("main") // srcRoot is now a stock Delta table
    graft.sources.VtUtilitySql.exec(s,
      s"CREATE TABLE vt.`$dstRoot` SHALLOW CLONE dlite.`$srcRoot`").collect()
    val dst = VersionedTable.open(dstRoot)
    dst.write(orders.where(m4 === 0), "main", "diverge", mode = "append")
    s.sql(s"SELECT o_orderkey AS k FROM vt.`$dstRoot` ORDER BY k")
  }

  /** ANALYZE backfill (r19c, [[graft.vt.VersionedTable.computeStats]]): a
    * table INGESTED WITHOUT statsCols gains skipping stats from one
    * metadata-only commit — no rewrite — and the subsequent band read
    * prunes through them (file-count drop pinned by AnalyzeSpec; the
    * oracle checks the band's rows are exactly right through the pruned
    * plan). The adoption path for a pre-existing 100 TB corpus: one scan
    * instead of a full rewrite. */
  val qVtAnalyze: QueryDef = q("q_vt_analyze")(
    """SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price
      |FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey <= 1000
      |ORDER BY k""".stripMargin) { (s, d) =>
    val root = Tables.scratch("vt_analyze")
    s.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val vt = VersionedTable.create(root)
    val orders = Tables.orders(s, d).where(pmod(col("o_orderkey"), lit(2)) === 1)
      .select(col("o_orderkey"), col("o_totalprice").cast("double").as("price"))
    // ingest key-ranged files WITHOUT stats (the pre-adoption state)
    vt.write(orders.repartitionByRange(8, col("o_orderkey")), "main", "unstatted")
    graft.sources.VtUtilitySql.exec(s,
      s"ANALYZE vt.`$root` COMPUTE STATISTICS FOR COLUMNS (o_orderkey)").collect()
    vt.readWhere(s, "main", "o_orderkey", 1, 1000)
      .select(col("o_orderkey").as("k"), col("price"))
      .orderBy("k")
  }

  /** Atomic `CREATE OR REPLACE TABLE … AS SELECT` (r19b,
    * [[graft.sources.VtCatalog]]'s StagingTableCatalog face): the
    * replacement snapshot — schema and all — lands as ONE commit after the
    * query's rows are already on disk unreferenced; readers can never see
    * a half-replaced table, and the replaced snapshot still time-travels.
    * The result unions the replaced head with the ORIGINAL contents read
    * back VERSION AS OF 0 — so the oracle checks both the replacement and
    * the preserved history in one row set. */
  val qVtRtas: QueryDef = q("q_vt_rtas")(
    """SELECT 'new' AS era, o_orderkey AS k,
      |       CAST(o_orderkey * 2 AS BIGINT) AS doubled
      |FROM orders WHERE o_orderkey % 8 = 3
      |UNION ALL
      |SELECT 'old' AS era, o_orderkey AS k, CAST(NULL AS BIGINT) AS doubled
      |FROM orders WHERE o_orderkey % 8 = 5
      |ORDER BY era, k""".stripMargin) { (s, d) =>
    val root = Tables.scratch("vt_rtas")
    s.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    Tables.orders(s, d).createOrReplaceTempView("rtas_orders_src")
    s.sql(
      s"""CREATE TABLE vt.`$root` AS
         |SELECT o_orderkey AS k FROM rtas_orders_src WHERE o_orderkey % 8 = 5""".stripMargin)
      .collect()
    s.sql(
      s"""CREATE OR REPLACE TABLE vt.`$root` AS
         |SELECT o_orderkey AS k, CAST(o_orderkey * 2 AS BIGINT) AS doubled
         |FROM rtas_orders_src WHERE o_orderkey % 8 = 3""".stripMargin).collect()
    s.sql(
      s"""SELECT 'new' AS era, k, doubled FROM vt.`$root`
         |UNION ALL
         |SELECT 'old' AS era, k, CAST(NULL AS BIGINT) AS doubled
         |FROM vt.`$root` VERSION AS OF 0
         |ORDER BY era, k""".stripMargin)
  }

  /** Maintain a (count, sum) aggregate "view" incrementally: fold a CDC
    * stream (from [[graft.vt.VersionedTable.changes]]) into the previously
    * materialized aggregate instead of recomputing from the full table.
    * Inserts contribute (+1, +v), deletes (−1, −v); groups whose live count
    * reaches 0 disappear, new groups appear from their inserts alone.
    *
    * This is the 100 TB refresh pattern: work is proportional to |delta|
    * (one keyed shuffle over the CDC rows plus the tiny materialized view),
    * never to |table| — a nightly refresh over a petabyte table whose daily
    * churn is gigabytes touches only the gigabytes. Correctness is the
    * algebraic identity agg(v_to) = agg(v_from) ⊕ agg(Δ), which holds for
    * any abelian-group aggregate (sum/count here; min/max would NOT be
    * incrementally maintainable under deletes and are deliberately absent).
    * `prevAgg` must carry `cnt` and `sum_c` columns keyed by `keyCols`. */
  def maintainSumCount(prevAgg: DataFrame, cdc: DataFrame,
                       keyCols: Seq[String], valueCol: String): DataFrame = {
    val sign = when(col("change_type") === "insert", 1L).otherwise(-1L)
    val delta = cdc.groupBy(keyCols.map(col): _*)
      .agg(sum(sign).as("cnt"), sum(col(valueCol) * sign).as("sum_c"))
    prevAgg.select((keyCols.map(col) :+ col("cnt") :+ col("sum_c")): _*)
      .unionByName(delta)
      .groupBy(keyCols.map(col): _*)
      .agg(sum("cnt").as("cnt"), sum("sum_c").as("sum_c"))
      .where(col("cnt") > 0)
  }

  /** Incremental maintenance end-to-end, oracle-checked: v0 holds the
    * orderkey%3∈{0,1} orders, v1 overwrites to orderkey%3∈{1,2} (so the CDC
    * has BOTH inserts and deletes), and the v0 aggregate is maintained to
    * the v1 aggregate through the CDC alone. The oracle computes the v1
    * aggregate directly — equality IS the maintenance identity. */
  val qVtIncremental: QueryDef = q("q_vt_incremental")(
    """SELECT o_orderpriority, count(*) AS cnt,
      |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_c
      |FROM orders WHERE o_orderkey % 3 IN (1, 2)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val vt = VersionedTable.create(Tables.scratch("vt_incr"))
    val orders = Tables.orders(s, d).select(col("o_orderpriority"), col("o_orderkey"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    val m3 = pmod(col("o_orderkey"), lit(3))
    vt.write(orders.where(m3.isin(0, 1)), "main", "v0")
    vt.write(orders.where(m3.isin(1, 2)), "main", "v1")
    val prev = vt.readVersion(s, "main", 0)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"), sum("cents").as("sum_c"))
    val cdc = vt.changes(s, "main", fromVersion = 0, toVersion = 1)
    maintainSumCount(prev, cdc, Seq("o_orderpriority"), "cents")
      .orderBy("o_orderpriority")
  }

  val defs: Seq[QueryDef] = Seq(qVtWriteVersions, qVtReadLatest, qVtTimeTravel,
    qVtBranch, qVtCommit, qVtDiff, qVtMerge, qVtCherryPick, qVtRevert, qVtVacuum, qVtObjects,
    qVtSkipRead, qVtAppend, qRepoCommit, qRepoMergeUnion, qVtChanges,
    qVtChangesUpsert, qVtChangesFeed, qVtHistory, qVtUpsert, qVtDelete, qVtDeleteMor,
    qVtUpdate, qVtTag, qVtRestoreTag, qVtProtected, qVtFeedConsume, qVtCount,
    qVtIncremental, qVtTsTravel, qVtDeltaLog, qVtDeltaRoundtrip,
    qVtDeltaDvRoundtrip, qVtDeltaCmap, qVtDeltaCmapId, qVtDeltaSkip, qVtDeltaCdf,
    qVtDeltaReplicate, qVtDeltaTail, qVtDeltaExportScale, qVtDeltaSkipStr,
    qVtStreamSource, qVtStreamSink, qVtDeltaStream, qVtFormatRead,
    qVtDeltaLiteRead, qVtDeltaLitePart,
    qVtSqlTravel, qVtSqlDelete, qVtSqlUpdate, qVtSqlMerge, qVtMergeInto,
    qVtSqlRestore, qVtSqlOptimize, qVtSqlBranch, qVtMergeScale, qVtMergeScaleStr,
    qVtMergeEvolve, qVtMorFilter, qVtMorSql, qVtDeltaCmapNative, qVtMinmaxMeta,
    qVtSqlCountMeta, qVtBloomSkip, qVtCtas, qDliteRuntimeSkip,
    qVtBloomLong, qVtOptimizeWhere, qVtAddColumn, qVtRtas, qVtStreamTable,
    qVtStreamMirror, qVtConstraint, qVtTableChanges, qVtClone, qVtCloneDelta,
    qVtAnalyze, qVtRenameColumn, qVtDropColumn, qVtDeltaAppend)
}

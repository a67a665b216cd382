package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import graft.vt.{DeltaForeignWriter, DeltaLogFixture, MergeClause, Repo, VersionedTable}

/** Every parquet file the engine lands in a lake goes through one writer
  * ([[graft.vt.LakeFiles]]): zstd column chunks, no `_SUCCESS` marker, no
  * `.crc` checksum sidecar, and vacuum removes the sidecars older writers
  * left with their files. Older snappy files
  * (here: a shallow clone of a fixture-authored Delta table) stay readable
  * next to zstd rewrites. */
class LakeFilesSpec extends SparkSpec {
  import spark.implicits._

  private def rows(lo: Int, hi: Int) =
    (lo to hi).map(i => (i.toLong, s"row$i")).toDF("k", "v")

  private def walk(root: Path): Vector[Path] = {
    val st = Files.walk(root)
    try st.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally st.close()
  }

  private def parquetFiles(root: Path): Set[Path] =
    walk(root).filter(_.getFileName.toString.endsWith(".parquet")).toSet

  /** The codec of every column chunk in `p`'s footer (empty for a file
    * with no row groups). */
  private def codecs(p: Path): Set[String] = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(p.toUri), new Configuration()))
    try r.getFooter.getBlocks.asScala
      .flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet
    finally r.close()
  }

  /** Run `op` and check the parquet files it added under `root`: at least
    * one, every column chunk zstd, and no `_SUCCESS` marker anywhere. */
  private def landsZstd[T](root: Path, what: String)(op: => T): T = {
    val before = parquetFiles(root)
    val out = op
    val added = parquetFiles(root) -- before
    assert(added.nonEmpty, s"$what wrote no parquet file")
    added.foreach(p => assert(codecs(p).subsetOf(Set("ZSTD")), s"$what: $p"))
    assert(added.exists(p => codecs(p) == Set("ZSTD")), s"$what: no row groups")
    assert(!walk(root).exists(_.getFileName.toString == "_SUCCESS"),
      s"$what left a _SUCCESS marker")
    out
  }

  private def crcOf(p: Path): Path = p.resolveSibling(s".${p.getFileName}.crc")

  private def crcs(root: Path): Set[Path] =
    walk(root).filter(_.getFileName.toString.endsWith(".crc")).toSet

  /** Run `op` and check it added parquet under `root` but no `.crc`
    * checksum sidecar anywhere. */
  private def landsNoCrc[T](root: Path, what: String)(op: => T): T = {
    val before = parquetFiles(root)
    val out = op
    assert((parquetFiles(root) -- before).nonEmpty, s"$what wrote no parquet file")
    assert(crcs(root).isEmpty, s"$what left checksum sidecars: ${crcs(root).mkString(", ")}")
    out
  }

  /** Run a vector delete and check it landed no parquet, no `_SUCCESS`
    * marker and no `.crc` sidecar: its positions ride inline on the touched
    * files' manifest entries, one descriptor per file. */
  private def vectorsOnly(root: Path, what: String)(op: => graft.vt.Commit): Unit = {
    val (parquet, sums) = (parquetFiles(root), crcs(root))
    val c = op
    assert(parquetFiles(root) === parquet, s"$what wrote a parquet file")
    assert(c.dvs.nonEmpty && c.dvs.values.forall(_.storageType == "i"), s"$what: ${c.dvs}")
    assert(crcs(root) === sums && !walk(root).exists(_.getFileName.toString == "_SUCCESS"),
      s"$what left a checksum sidecar or a _SUCCESS marker")
  }

  /** Checksum sidecars `.<name>.crc` whose file is gone. */
  private def orphanCrcs(root: Path): Vector[Path] = walk(root).filter { p =>
    val n = p.getFileName.toString
    n.startsWith(".") && n.endsWith(".crc") &&
      !Files.exists(p.resolveSibling(n.stripPrefix(".").stripSuffix(".crc")))
  }

  test("every row-level writer of a versioned table lands zstd parquet, no _SUCCESS") {
    val vt = VersionedTable.create(Tables.scratch("lake_codec_vt"))
    val r = vt.root
    landsZstd(r, "write") {
      vt.write(rows(1, 40).repartitionByRange(4, $"k"), "main", "v0", statsCols = Seq("k"))
    }
    landsZstd(r, "append")(vt.write(rows(41, 50), "main", "v1", mode = "append"))
    landsZstd(r, "upsert")(vt.upsert(spark, Seq((2L, "two"), (60L, "new")).toDF("k", "v"), Seq("k")))
    landsZstd(r, "applyCdc") {
      vt.applyCdc(spark, Seq((3L, "three")).toDF("k", "v"), Some(Seq(4L).toDF("k")), Seq("k"))
    }
    landsZstd(r, "mergeInto") {
      vt.mergeInto(spark, Seq((5L, "five"), (70L, "ins")).toDF("k", "nv"), "t.k = s.k",
        matched = Seq(MergeClause.update(Map("v" -> "s.nv"))),
        notMatched = Seq(MergeClause.insert(Map("k" -> "s.k", "v" -> "s.nv"))))
    }
    landsZstd(r, "delete")(vt.delete(spark, "k between 10 and 12"))
    landsZstd(r, "update")(vt.update(spark, "k = 20", Map("v" -> "'twenty'")))
    vectorsOnly(r, "deleteWithVectors")(vt.deleteWithVectors(spark, "k between 30 and 33"))
    val expected = ((1 to 50).toSet ++ Set(60, 70) -- Set(4) -- (10 to 12) -- (30 to 33))
      .map(_.toLong)
    assert(vt.read(spark, "main").select($"k").as[Long].collect().toSet === expected)
    assert(vt.read(spark, "main").where($"k".isin(2, 3, 5, 20)).select($"v").as[String]
      .collect().toSet === Set("two", "three", "five", "twenty"))
    assert(vt.countRows(spark, "main") === expected.size.toLong)
  }

  test("Repo.stageWrite + commit and a streaming epoch land zstd parquet, no _SUCCESS") {
    val repoRoot = Paths.get(Tables.scratch("lake_codec_repo"))
    val repo = Repo.create(repoRoot.toString)
    landsZstd(repoRoot, "stageWrite") {
      repo.stageWrite(rows(1, 20).repartition(2), "main", "t")
      repo.stageAppend(rows(21, 25), "main", "t")
      repo.commit("main", "load t")
    }
    assert(repo.readTable(spark, "main", "t").count() === 25L)

    spark.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)
    val root = Tables.scratch("lake_codec_stream")
    val vt = VersionedTable.create(root)
    vt.write(rows(1, 3), "main", "v0")
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, String)](spark)
    mem.addData((7L, "s7"), (8L, "s8"))
    landsZstd(vt.root, "streaming epoch") {
      val q = mem.toDF().toDF("k", "v").writeStream.format("vt")
        .option("path", root)
        .option("checkpointLocation", Tables.scratch("lake_codec_stream_cp"))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(vt.read(spark, "main").count() === 5L)
  }

  test("the Delta export's CDC files and checkpoint, and foreign appends, land zstd") {
    val vt = VersionedTable.create(Tables.scratch("lake_codec_export"))
    vt.write(rows(1, 10), "main", "v0")
    vt.upsert(spark, Seq((2L, "B"), (11L, "new")).toDF("k", "v"), Seq("k"))
    vt.delete(spark, "k = 5")
    val cdc = vt.root.resolve("_change_data")
    val before = parquetFiles(vt.root)
    landsZstd(vt.root, "delta export") {
      vt.exportDeltaLog("main", changeDataFeed = true, checkpointInterval = Some(2))
    }
    val added = parquetFiles(vt.root) -- before
    assert(added.exists(_.startsWith(cdc)), "the export wrote no CDC file")
    assert(added.exists(_.getFileName.toString.contains(".checkpoint.")),
      "the export wrote no checkpoint")
    assert(graft.vt.DeltaLogReader.changes(spark, vt.root.toString, 1, 2).count() > 0)
    landsZstd(vt.root, "foreign append") {
      DeltaForeignWriter.append(spark, vt.root.toString, rows(20, 22))
    }
    assert(spark.read.format("delta-lite").option("path", vt.root.toString).load()
      .count() === 13L)
  }

  test("no lake writer lands a .crc sidecar, and every file reads back") {
    val vt = VersionedTable.create(Tables.scratch("lake_nocrc_vt"))
    val r = vt.root
    landsNoCrc(r, "write") {
      vt.write(rows(1, 40).repartitionByRange(4, $"k"), "main", "v0", statsCols = Seq("k"))
    }
    landsNoCrc(r, "upsert")(vt.upsert(spark, Seq((2L, "two"), (60L, "new")).toDF("k", "v"), Seq("k")))
    landsNoCrc(r, "mergeInto") {
      vt.mergeInto(spark, Seq((5L, "five"), (70L, "ins")).toDF("k", "nv"), "t.k = s.k",
        matched = Seq(MergeClause.update(Map("v" -> "s.nv"))),
        notMatched = Seq(MergeClause.insert(Map("k" -> "s.k", "v" -> "s.nv"))))
    }
    landsNoCrc(r, "delete")(vt.delete(spark, "k between 10 and 12"))
    landsNoCrc(r, "update")(vt.update(spark, "k between 20 and 29", Map("v" -> "'twenties'")))
    vectorsOnly(r, "deleteWithVectors")(vt.deleteWithVectors(spark, "k = 33"))
    val expected = ((1 to 40).toSet ++ Set(60, 70) -- (10 to 12) - 33).map(_.toLong)
    assert(vt.read(spark, "main").select($"k").as[Long].collect().toSet === expected)
    assert(vt.read(spark, "main").where($"k".isin(2, 5, 25)).select($"v").as[String]
      .collect().toSet === Set("two", "five", "twenties"))
    assert(vt.countRows(spark, "main") === expected.size.toLong)
    assert(vt.readVersion(spark, "main", 0).count() === 40L)
    landsNoCrc(r, "delta export") {
      vt.exportDeltaLog("main", changeDataFeed = true, checkpointInterval = Some(2))
    }
    assert(spark.read.format("delta-lite").option("path", r.toString).load()
      .select($"k").as[Long].collect().toSet === expected)
    assert(graft.vt.DeltaLogReader.changes(spark, r.toString, 1, 2).count() > 0)

    val repoRoot = Paths.get(Tables.scratch("lake_nocrc_repo"))
    val repo = Repo.create(repoRoot.toString)
    landsNoCrc(repoRoot, "repo stage") {
      repo.stageWrite(rows(1, 20).repartition(2), "main", "t")
      repo.stageAppend(rows(21, 25), "main", "t")
      repo.commit("main", "load t")
    }
    assert(repo.readTable(spark, "main", "t").count() === 25L)
  }

  test("mixed-codec history: snappy files of a cloned version read next to zstd rewrites") {
    // a fixture-authored Delta table: two snappy files, no stats
    val delta = Paths.get(Tables.scratch("lake_mixed_delta"))
    val (fa, sa) = DeltaLogFixture.writeDataFile(delta, rows(1, 10), "a")
    val (fb, sb) = DeltaLogFixture.writeDataFile(delta, rows(11, 20), "b")
    DeltaLogFixture.writeCommit(delta, 0, Seq(DeltaLogFixture.protocolLine(),
      DeltaLogFixture.metaDataLine(rows(1, 1).schema.json, Nil),
      DeltaLogFixture.addLine(fa, sa), DeltaLogFixture.addLine(fb, sb)))
    assert(codecs(delta.resolve(fa)) === Set("SNAPPY"))
    val vt = VersionedTable.create(Tables.scratch("lake_mixed_vt"))
    val v0 = vt.shallowCloneFromDelta(spark, delta.toString)
    landsZstd(vt.root, "update")(vt.update(spark, "k = 3", Map("v" -> "'three'")))
    vectorsOnly(vt.root, "deleteWithVectors")(vt.deleteWithVectors(spark, "k in (12, 13)"))
    landsZstd(vt.root, "append")(vt.write(rows(21, 22), "main", "v3", mode = "append"))
    val head = vt.head("main").get
    assert(head.files.exists(f => codecs(vt.root.resolve(f)) == Set("SNAPPY")) &&
      head.files.exists(f => codecs(vt.root.resolve(f)) == Set("ZSTD")),
      "the head must mix snappy and zstd files")
    // time travel to the all-snappy clone, merge-on-read, metadata count
    assert(vt.readVersion(spark, "main", v0.version).as[(Long, String)].collect().sorted ===
      (1 to 20).map(i => (i.toLong, s"row$i")).toArray)
    val expected = ((1 to 22).toSet -- Set(12, 13)).map(_.toLong)
    assert(vt.read(spark, "main").select($"k").as[Long].collect().toSet === expected)
    assert(vt.read(spark, "main").where($"k" === 3L).select($"v").as[String].head() === "three")
    assert(vt.countRows(spark, "main") === expected.size.toLong)
  }

  test("vacuum removes each file's checksum sidecar with it; counts are unchanged") {
    val vt = VersionedTable.create(Tables.scratch("lake_crc_vt"))
    val v0 = vt.write(rows(1, 40).repartitionByRange(4, $"k"), "main", "v0",
      statsCols = Seq("k"))
    val v1 = vt.delete(spark, "k <= 3")
    val dead = v0.files.toSet -- v1.files
    // one rewritten file: its directory still holds three live files
    assert(dead.size === 1 && v0.files.size === 4)
    // lake writes land no sidecar any more; plant the one an older writer
    // left beside the dead file, which vacuum must still remove with it
    dead.foreach(f => Files.write(crcOf(vt.root.resolve(f)), Array[Byte](1, 2)))
    val dry = vt.vacuum(retainLast = 1, dryRun = true)
    assert(vt.vacuum(retainLast = 1) === dry)
    assert(dry >= dead.size)
    assert(!Files.exists(vt.root.resolve(dead.head)))
    assert(orphanCrcs(vt.root).isEmpty, orphanCrcs(vt.root).mkString(", "))
    assert(vt.read(spark, "main").count() === 37L)

    val root = Paths.get(Tables.scratch("lake_crc_repo"))
    val repo = Repo.create(root.toString)
    repo.stageWrite(rows(1, 10).repartition(2), "main", "t")
    val r0 = repo.commit("main", "v0")
    repo.stageWrite(rows(1, 5), "main", "t")
    repo.commit("main", "v1")
    r0.files.foreach(f => Files.write(crcOf(root.resolve(f)), Array[Byte](1, 2)))
    assert(repo.vacuum(retainLast = 1) >= r0.files.size)
    assert(r0.files.forall(f => !Files.exists(root.resolve(f))))
    assert(orphanCrcs(root).isEmpty, orphanCrcs(root).mkString(", "))
    assert(repo.readTable(spark, "main", "t").count() === 5L)
  }

  test("scratch roots are per JVM: same name, same path; under graft_scratch/<pid>-…") {
    val a = Paths.get(Tables.scratch("lake_scratch_probe"))
    assert(Tables.scratch("lake_scratch_probe") === a.toString)
    assert(a.getParent.getParent ===
      Paths.get(sys.props("java.io.tmpdir"), "graft_scratch"))
    assert(a.getParent.getFileName.toString.startsWith(s"${ProcessHandle.current.pid}-"))
  }
}

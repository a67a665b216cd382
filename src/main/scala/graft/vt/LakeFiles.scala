package graft.vt

import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.DataFrame

/** The one writer of lake parquet: every data, deletion-vector, staged repo
  * table, foreign-Delta and Delta-export file the engine lands goes through
  * [[write]], with no `.crc` checksum sidecar ([[NioLocalFileSystem]]), and
  * vacuum removes files through [[delete]], so no sidecar an older writer
  * left outlives its file. */
private[graft] object LakeFiles {

  /** Lake parquet is always zstd at parquet-mr's default level (3), with no
    * knob: each byte is PUT once and read back on every scan, diff and time
    * travel. Older snappy files stay readable — the footer names the codec. */
  val Codec: CompressionCodecName = CompressionCodecName.ZSTD

  /** Hadoop settings of a lake write: local files go through
    * [[NioLocalFileSystem]], a fresh instance per job, so neither the
    * session's conf nor its cached `file:` filesystem changes. */
  val LocalFsOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Write `df` into the fresh directory `out` (zstd, no `_SUCCESS`
    * marker, no `.crc` sidecars); return its part files relative to `root`,
    * sorted. */
  def write(df: DataFrame, out: Path, root: Path): Vector[String] = {
    df.write.mode("overwrite")
      .options(LocalFsOptions)
      .option("compression", Codec.name.toLowerCase)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(out.toString)
    val st = Files.list(out)
    try st.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString).toVector.sorted
    finally st.close()
  }

  /** Delete a lake file and the Hadoop checksum sidecar `.<name>.crc` that
    * writers before [[NioLocalFileSystem]] left beside it. */
  def delete(p: Path): Unit = {
    Files.deleteIfExists(p)
    Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
  }

  /** Vacuum-managed files: parquet (data, legacy vector part-files),
    * `deletion_vector_<uuid>.bin` vectors, `.bloom` sidecars and
    * commit-metadata manifests. */
  def dataPlane(name: String): Boolean =
    name.endsWith(".parquet") || name.endsWith(".bloom") || name.endsWith(".manifest") ||
      (name.startsWith("deletion_vector_") && name.endsWith(".bin"))

  /** Delete every data-plane file under `dataDir` whose `root`-relative path
    * is not in `retained` (only count them when `dryRun`), then prune every
    * directory below `dataDir` left without a data-plane file, bottom-up —
    * a table's `<branch>-v<N>-<id>/` commit dirs and a repo's
    * `<table>/<branch>-v<N>-<id>/` alike. Returns the count of dead files. */
  def sweep(root: Path, dataDir: Path, retained: Set[String],
            dryRun: Boolean = false): Int = {
    if (!Files.exists(dataDir)) return 0
    val walk = Files.walk(dataDir)
    val dead =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && dataPlane(p.getFileName.toString))
        .map(p => root.relativize(p).toString).filterNot(retained.contains).toVector
      finally walk.close()
    if (!dryRun) {
      dead.foreach(f => delete(root.resolve(f)))
      children(dataDir).filter(Files.isDirectory(_)).foreach(pruneDirs)
    }
    dead.size
  }

  /** Delete `dir` (with any leftover sidecars or markers) unless some
    * data-plane file survives beneath it; true when one does. */
  private def pruneDirs(dir: Path): Boolean = {
    val live = children(dir).map { p =>
      if (Files.isDirectory(p)) pruneDirs(p) else dataPlane(p.getFileName.toString)
    }.contains(true)
    if (!live) graft.Tables.deleteRecursively(dir)
    live
  }

  private def children(dir: Path): Vector[Path] = {
    val st = Files.list(dir)
    try st.iterator().asScala.toVector finally st.close()
  }
}

/** Hadoop's raw local filesystem — no `ChecksumFileSystem`, so no `.crc`
  * sidecar per file (parquet already checksums pages and the footer) — that
  * sets permissions through `java.nio` instead of forking `chmod`, which
  * Hadoop does for every created file and directory when its native library
  * is missing. Lake writes select it per job ([[LakeFiles.LocalFsOptions]]). */
private[graft] class NioLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: HPath, permission: FsPermission): Unit =
    Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
        .map(_.SYMBOL).mkString))
}

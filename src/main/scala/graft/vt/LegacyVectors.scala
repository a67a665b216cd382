package graft.vt

import java.nio.file.Path

/** The one reader of the LEGACY deletion-vector layout: table-level parquet
  * part-files of `(fk STRING, pos BIGINT)` rows — the file key (last two
  * path segments) and 0-based row index of every merge-on-read deleted row
  * — that commits listed as `dvFiles` before each file's vector moved onto
  * its manifest entry ([[ManifestEntry.dv]]).
  *
  * [[CommitGraph.loadCommit]] calls [[descriptors]] once per load of such
  * a commit and nowhere else: the positions become per-file inline
  * descriptors in memory, so every reader, writer and version-graph op
  * sees only the descriptor shape. Nothing is written by a read; the next
  * publish on top of a legacy commit records the descriptors in its
  * manifest ([[VersionedTable]] spills those past
  * [[DeletionVectors.InlineDvMax]] positions to `.bin` files) and lists no
  * `dvFiles`. */
private[vt] object LegacyVectors {

  // part-files are immutable (uuid'd directories): one parse per set
  private val cache = new BoundedCache[String, Map[String, Array[Long]]](64)

  /** Per live file of `c`, the descriptor of the positions its legacy
    * part-files delete. Several part-files may record one position (a
    * merge unioned two branches' vectors); the descriptor counts it once. */
  def descriptors(root: Path, c: Commit): Map[String, DeletionVectors.DvDescriptor] =
    c.legacyDvFiles.map(root.resolve(_)).find(p => !java.nio.file.Files.exists(p)) match {
      // vacuumed past retention: ancestry walks still load the record, and
      // a read of its rows fails loudly on the missing part-file instead of
      // resurrecting the rows it deleted
      case Some(gone) =>
        c.files.map(f => f -> DeletionVectors.DvDescriptor("p", gone.toString, None, 0, 0L)).toMap
      case None =>
        val byKey = positions(root, c.legacyDvFiles)
        c.files.flatMap { f =>
          byKey.get(VersionedTable.fileKey(f)).map(ps => f -> DeletionVectors.inlineDescriptor(ps.toSeq))
        }.toMap
    }

  private def positions(root: Path, parts: Vector[String]): Map[String, Array[Long]] =
    cache.get(parts.map(p => root.resolve(p).toAbsolutePath.toString).sorted.mkString("\n")) {
      val out = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
      parts.foreach { p =>
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
            new org.apache.hadoop.fs.Path(root.resolve(p).toUri))
          .build()
        try {
          var g = reader.read()
          while (g != null) {
            out.getOrElseUpdate(g.getString("fk", 0), new scala.collection.mutable.ArrayBuilder.ofLong) +=
              g.getLong("pos", 0)
            g = reader.read()
          }
        } finally reader.close()
      }
      out.map { case (k, b) => k -> b.result().distinct.sorted }.toMap
    }
}

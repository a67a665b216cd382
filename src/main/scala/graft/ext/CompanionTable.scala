package graft.ext

import org.apache.spark.sql.DataFrame

import graft.vt.VersionedTable

/** O(increment) maintenance of a DERIVED companion versioned table: version N
  * of `companion` holds `rows(...)` of every document in version N of the
  * corpus table. The pattern behind both the dedup signature table
  * ([[IncrementalDedup.maintainSignatureTable]]) and the repeated-passage
  * relation ([[IncrementalPassages.maintainPassageTable]]) — the
  * materialize-once boundary that lets every downstream consumer read the
  * derived relation instead of re-paying the per-byte corpus work.
  *
  * Each append interval is maintained from its CDC delta alone — O(increment)
  * shingling/tokenizing + one append commit, the `q_vt_incremental` IVM
  * pattern — so the per-byte derivation happens once per document at ingest.
  * The catch-up walks ONLY the interval's commits via
  * [[VersionedTable.commitRange]] (O(increment) metadata, not O(history):
  * a streaming-ingest corpus accumulates thousands of commits, and a full
  * lineage walk per micro-batch would grow without bound). A non-append
  * interval (overwrite/upsert/revert) cannot be folded incrementally —
  * derived rows of removed docs must disappear — so those versions rebuild
  * from the full snapshot, exactly like any IVM falling back to recompute on
  * a non-monotone change.
  *
  * `rows` must be PER-DOCUMENT (row-local over the delta): it is applied to
  * either a delta or a full snapshot and the results must union to the same
  * relation either way.
  */
object CompanionTable {

  def maintain(vt: VersionedTable, companion: VersionedTable,
               branch: String = "main")(rows: DataFrame => DataFrame): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val corpusHead = vt.head(branch).map(_.version).getOrElse(return)
    val from = companion.head(branch).map(_.version + 1).getOrElse(0L)
    if (from > corpusHead) return // already caught up: zero metadata reads
    val byVersion = vt.commitRange(branch, math.max(from - 1, 0L), corpusHead)
      .map(c => c.version -> c).toMap
    (from to corpusHead).foreach { v =>
      val appendOnly = v > 0 && VersionedTable.appendOnly(byVersion(v - 1), byVersion(v))
      val (delta, mode) =
        if (v == 0) (vt.readVersion(spark, branch, 0), "overwrite") // initial build
        else if (appendOnly)
          (vt.changes(spark, branch, v - 1, v).drop("change_type"), "append")
        else (vt.readVersion(spark, branch, v), "overwrite") // IVM recompute fallback
      companion.write(rows(delta), branch, s"derived rows for corpus v$v", mode = mode)
    }
  }
}

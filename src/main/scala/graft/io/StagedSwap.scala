package graft.io

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.Path

/** The staged-rewrite swap of a FLAT (not generation-rooted) table,
  * reached only through [[GenTable.replace]] — the one whole-table
  * replace every file-level maintenance op calls
  * ([[MergeTable.merge]], [[Layout.compactDir]], the signature and
  * label compactions, the vector-index rebuild); [[MergeTable]] also
  * runs [[recover]] before its existence check. Materialize the
  * replacement at `path__stage` while the live table stays readable
  * (parquet can't overwrite a path it is lazily reading), then swap by
  * RENAMES — move the live table aside to `path__old`, move staging
  * into place, drop the old copy.
  *
  * Failure contract (the reason this is rename-aside, not
  * delete-then-rename): a crash at ANY step leaves the previous table
  * intact — still at `path` before the first rename, recoverable at
  * `path__old` after it (the next swap attempt clears the leftovers).
  * Nothing is deleted until the new table is live. The table-missing
  * window a concurrent reader can observe is two filesystem METADATA
  * renames — not atomic (only a real table format gives that), but
  * microseconds rather than a data rewrite. Single-writer assumption
  * throughout; reach for Iceberg/Delta when concurrent writers or a
  * zero-gap reader contract are required.
  */
private[io] object StagedSwap {

  /** Replace the table at `path` with whatever `write` materializes at
    * the staging path it is handed. `write` must fully produce the new
    * table (e.g. `df.write.mode("overwrite").parquet(_)`).
    *
    * Backend split ([[AtomicIo]] seam): on atomic-rename filesystems
    * the swap is the two-rename dance above. On object stores a
    * directory rename is a non-atomic copy+delete, so rename-aside
    * would turn "microsecond metadata window" into "partial-table
    * window with no rollback"; there the commit point is instead an
    * all-or-nothing `path__swap` marker (one atomic PUT) published
    * AFTER staging completes, and the apply phase is delete-live +
    * copy-staged-contents — replayable from any crash because the
    * staged source is never consumed until the marker is removed.
    * The previous table stops being recoverable once the apply starts
    * (object stores cannot keep both without a second full copy), but
    * the NEW table always is: marker present ⇒ stage is complete.
    */
  def swap(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val target = new Path(path)
    val stage = new Path(path + "__stage")
    val old = new Path(path + "__old")
    val fs = target.getFileSystem(conf)
    // a writer that died mid-commit left either the table at __old
    // (atomic mode, between renames) or a __swap marker (copy mode) —
    // finish/restore before anything is deleted
    recover(spark, path)
    // remaining leftovers from a writer that died mid-swap; with the
    // restore above done, the live table is whatever sits at `path`,
    // so both side paths are garbage
    fs.delete(stage, true)
    fs.delete(old, true)
    write(stage.toString)
    if (AtomicIo.renameIsAtomic(fs)) {
      if (!fs.rename(target, old))
        throw new java.io.IOException(s"staged swap: cannot move $path aside")
      if (!fs.rename(stage, target)) {
        fs.rename(old, target) // restore the previous table
        throw new java.io.IOException(
          s"staged swap: cannot move staging into place for $path (restored)")
      }
      fs.delete(old, true)
    } else {
      // commit point: past this PUT the swap WILL complete (here or
      // in recover); before it the live table is untouched
      AtomicIo.publishFile(fs, swapMark(path), Array.emptyByteArray)
      applyCopySwap(fs, path)
    }
  }

  private def swapMark(path: String) = new Path(path + "__swap")

  /** The copy-mode apply: replayable verbatim from any crash point —
    * delete-live is idempotent, the copy re-copies complete files
    * over themselves, and the marker is removed only after the new
    * table is fully in place (the stage dir outlives the marker, so a
    * replay always finds its source).
    */
  private def applyCopySwap(fs: org.apache.hadoop.fs.FileSystem,
                            path: String): Unit = {
    val target = new Path(path)
    val stage = new Path(path + "__stage")
    fs.delete(target, true)
    AtomicIo.copyDirContents(fs, stage, target)
    fs.delete(swapMark(path), false)
    fs.delete(stage, true)
  }

  /** Complete a crashed swap. Atomic mode: if the table is MISSING at
    * `path` but a `path__old` copy exists (death between the two
    * renames), move it back. Copy mode: if the `path__swap` marker
    * exists, replay the apply phase to completion. Returns true if
    * anything was repaired. Callers that branch on table existence
    * (e.g. [[MergeTable.merge]]'s bootstrap path) MUST run this first,
    * or a crashed swap masquerades as an empty table.
    */
  def recover(spark: SparkSession, path: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val target = new Path(path)
    val old = new Path(path + "__old")
    val fs = target.getFileSystem(conf)
    if (fs.exists(swapMark(path))) {
      applyCopySwap(fs, path); true
    } else if (!fs.exists(target) && fs.exists(old)) {
      if (!fs.rename(old, target))
        throw new java.io.IOException(
          s"staged swap: cannot restore $path from __old")
      true
    } else false
  }
}
